package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Parser extension: `spark.sql("pattern: …")` compiles the engine's CEP
  * plan dialect (the same text the control plane and `env.plan` accept),
  * so ONE textual surface reaches all three entry points. Everything
  * else delegates to Spark's parser untouched.
  *
  * Registered via `SparkSessionExtensions.injectParser`
  * ([[GraftExtensions]]); batch pattern text lands on the
  * MATCH_RECOGNIZE custom operator through [[graft.control.PlanCompiler]].
  */
class GraftSqlParser(delegate: ParserInterface, session: SparkSession)
    extends ParserInterface {

  private def isPattern(t: String): Boolean =
    t.trim.toLowerCase.startsWith("pattern:")

  private def isMatchRecognize(t: String): Boolean =
    MatchRecognizeSql.statementRe.pattern.matcher(t).matches()

  override def parsePlan(sqlText: String): LogicalPlan =
    if (isPattern(sqlText))
      // compile against the OWNING session, not SparkSession.active —
      // with multiple sessions the thread-local active one may be a
      // different tenant whose same-named views would silently win
      graft.control.PlanCompiler.compile(session, sqlText)
        .queryExecution.logical
    else if (isMatchRecognize(sqlText))
      MatchRecognizeSql.compile(session, delegate, sqlText)
        .queryExecution.logical
    else
      // MATCH_RECOGNIZE as a table factor inside a larger statement:
      // compile + substitute each factor, delegate the rest
      MatchRecognizeSql.rewriteFactors(session, delegate, sqlText) match {
        case Some(rewritten) => delegate.parsePlan(rewritten)
        case None => delegate.parsePlan(sqlText)
      }

  override def parseQuery(sqlText: String): LogicalPlan =
    if (isPattern(sqlText) || isMatchRecognize(sqlText)) parsePlan(sqlText)
    else
      MatchRecognizeSql.rewriteFactors(session, delegate, sqlText) match {
        case Some(rewritten) => delegate.parseQuery(rewritten)
        case None => delegate.parseQuery(sqlText)
      }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** SQL-standard `MATCH_RECOGNIZE` (supported subset), rewritten onto the
  * [[MatchRecognize]] custom operator:
  *
  * {{{
  * SELECT * FROM events MATCH_RECOGNIZE (
  *   PARTITION BY user_id
  *   ORDER BY ts_us, event_id          -- (event-time, tie-break)
  *   MEASURES a.event_id AS a_id, LAST(b.event_id) AS b_id,
  *            MATCH_START AS s, MATCH_END AS e
  *   AFTER MATCH SKIP PAST LAST ROW    -- or SKIP TO NEXT ROW
  *                                     -- (= the overlap default)
  *   PATTERN (a b+ (c|d))              -- quantifiers: + * ? {m,n};
  *                                     -- alternation (x|y);
  *                                     -- PERMUTE(x, y, …);
  *                                     -- quantified groups (x y)+
  *   WITHIN 600000000                  -- optional: ORDER BY units, or
  *                                     -- INTERVAL '10' MINUTE (needs
  *                                     -- TSSCALE to convert)
  *   EVENTTIME ts                      -- streaming tables only: the
  *                                     -- watermarked timestamp column
  *   TSSCALE 1000                      -- ORDER BY units per ms (µs→1000)
  *   DEFINE a AS event_type = 'click', b AS event_type = 'view',
  *          c AS event_type = 'purchase', d AS event_type = 'error'
  * )
  * }}}
  *
  * `SUBSET w = (a, b)` (after PATTERN) declares union variables for
  * MEASURES: `w`'s binding is the union of its members' events in
  * `(ts, tie)` order, usable with the same `w.col` / FIRST / LAST /
  * MIN / MAX / COUNT / SUM / AVG / RUNNING forms as a plain variable.
  *
  * DEFINE predicates may navigate the INPUT rows with `PREV(col[, n])`
  * / `NEXT(col[, n])` (SQL:2016 semantics: n rows before/after the
  * current row in the partition, independent of the match — the
  * stock-ticker `down AS price < PREV(price)` shape). On batch tables
  * they compile to lag/lead columns over the operator's own
  * (keys, ts, tie) order, so the planner runs one shuffle+sort for
  * both; on streaming tables they feed from the watermark buffer's
  * per-key release order ([[graft.cep.Cep.Neighborhood]]) — PREV from
  * the retained predecessors, NEXT by withholding each event until
  * its successors are released (a trailing event waits for them).
  *
  * DEFINE predicates may also reference OTHER pattern variables'
  * bound events (SQL:2016 running semantics) — `up AS up.price >
  * FIRST(down.price)`: `FIRST(v.col)` / `LAST(v.col)` / bare `v.col`
  * (= LAST) read the first/most-recent event already bound to `v` in
  * the partial match (NULL while `v` is unbound); references to the
  * variable being defined resolve against the current row (`n.col` /
  * `LAST(n.col)` = the current row, `FIRST(n.col)` = the variable's
  * first binding, or the current row when it is the first). These
  * compile to the operator's [[MatchRecognize.cvFirst]]/[[cvLast]]
  * context markers, evaluated inside the NFA against the partial's
  * bindings — on batch tables through the codegen'd executor
  * predicate, on streaming tables through an interpreted per-partial
  * evaluator (PREV/NEXT in the same statement compose via
  * decorator-embedded lag values in the event payload).
  *
  * Clauses must appear in the canonical order above (the SQL-standard
  * clause order) — identifiers that merely LOOK like clause keywords
  * (`... AS pattern`) never mis-split, because each clause is only
  * sought after the previous one and `PATTERN`/`WITHIN`/`EVENTTIME`/
  * `TSSCALE` require their following token shape.
  *
  * Output (ONE ROW PER MATCH, the default) = partition columns ++
  * measures. `var.col` / `LAST(var.col)` read the LAST event bound to
  * `var` (SQL-standard one-row-per-match resolution — Oracle/Flink/
  * Trino agree), `FIRST(var.col)` the first; a variable that bound zero
  * events (`?`/`*`/unchosen alternation side) yields NULL, never an
  * ANSI INVALID_ARRAY_INDEX.
  *
  * ALL ROWS PER MATCH emits one row per MATCHED EVENT instead: the
  * input columns of the bound event ++ `classifier` (the variable that
  * bound it) ++ `match_start`/`match_end` ++ measures — FINAL
  * semantics by default (the whole-match value repeated on each row);
  * an explicit `RUNNING f(v.col)` prefix aggregates only the events
  * bound at-or-before the row in `(ts, tie)` order (running measures
  * land after the final ones in the output). MEASURES itself is
  * optional. A PATTERN exclusion `{- b+ -}` suppresses the wrapped
  * variables' rows from ALL ROWS output (they still match and still
  * feed measures — SQL:2016 exclusion semantics; no effect in one-row
  * mode, and suppressed rows are NOT re-added as unmatched). Unmatched
  * rows are omitted by default; `ALL ROWS PER MATCH WITH UNMATCHED
  * ROWS` appends the never-bound input rows with NULL classifier /
  * match bounds / measures — on batch tables via one left-anti join
  * on the `(keys, ts, tie)` row identity, on streaming tables (WITHIN
  * required) emitted by the stateful operator itself once the
  * watermark passes each row's ts + within decision horizon.
  *
  * Groups of plain variables compile to one NFA element,
  * [[graft.cep.NestedGroup]]: `PERMUTE(x, y, …)` (SQL:2016's
  * `(x y | y x)` for two) binds one event per variable in any arrival
  * order, an alternation `(x|y)` one event to whichever side matches,
  * and a concatenation group `(x y)` one event per variable in order;
  * a concatenation group may also hold such alternations and
  * PERMUTEs, `(a (b|c) PERMUTE(d,e))`. Each takes the quantifiers
  * `{m,n}`/`+`/`*`/`?`: iterations share the per-variable slots, and
  * completion is greedy-min (the group is satisfied — and emits, when
  * last — at `m` full iterations). An event that satisfies two of the
  * group's variables binds by priority (the left side, the first
  * unbound PERMUTE member in declaration order) and does not fork.
  *
  * A STREAMING table dispatches to [[MatchRecognize.streamingFull]]
  * (same output schema, watermark-buffered NFA) and requires the
  * EVENTTIME clause. Cross-variable DEFINE references compose with
  * PREV/NEXT in one STREAMING statement (the release decorator embeds
  * the lag values into the event payload so the per-partial ctxPred
  * evaluator can read both). Not supported (fail fast): PERMUTE of
  * more than 16 composite (non-variable) items (the members-seen
  * bitmask automaton explores up to C(k, k/2) interleaving classes
  * per seed).
  *
  * PATTERN is parsed by a recursive-descent grammar: arbitrary
  * nesting depth, quantified items inside groups, alternation of
  * sequences (`(a b | c d)`), top-level alternation, a variable
  * occurring at several places (`(a b a)` — occurrences share the
  * binding slot), and reluctant (lazy) quantifiers `+?` `*?` `??`
  * `{m,n}?`. A quantified variable compiles to a step and the
  * depth-1 group shapes above to a NestedGroup; anything deeper
  * (groups inside groups, quantified items inside groups,
  * alternation of sequences, PERMUTE of composite items) compiles to
  * the recursive counter-automaton element ([[graft.cep.RxElem]]).
  * Inside that element a fireable event commits (the NestedGroup
  * convention), and an event that fires several transitions forks
  * one branch per transition: alternatives come from genuinely
  * distinct automaton transitions, not from the per-step
  * skip-after-min branching of top-level quantifiers.
  * Reluctant quantifiers bind exactly `min` events (optional growth
  * is never forced under relaxed row matching, where the tail can
  * always bind a later row) and prefer the shortest same-start
  * candidate in the skip modes' election.
  *
  * `MATCH_NUMBER()` (the last SQL:2016 measure function, after
  * CLASSIFIER): the 1-based sequential number of the match within its
  * partition, leftmost-first — computed as a post-operator
  * `row_number()` window over the match relation (no extra shuffle:
  * the operator's output is already hash-partitioned on the keys).
  * Batch only; constant across a match, so `RUNNING MATCH_NUMBER()`
  * is rejected. A RUNNING prefix in ONE ROW PER MATCH mode is
  * accepted as an alias for FINAL (the standard: the single output
  * row is the final row, where RUNNING and FINAL coincide).
  */
private[graft] object MatchRecognizeSql {
  import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
  import org.apache.spark.sql.functions.col

  val statementRe =
    ("""(?is)\s*select\s+\*\s+from\s+([\w.]+)\s+match_recognize\s*""" +
      """\((.*)\)\s*;?\s*""").r

  /** `<table> MATCH_RECOGNIZE (...)` as a TABLE FACTOR inside a larger
    * statement (SQL:2016 7.6: the match relation is a table primary, so
    * projections, WHERE, GROUP BY, JOINs, and subqueries all compose
    * over it). Each factor compiles through [[compile]] and registers
    * as a deterministic temp view (name = hash of table + body, so
    * re-parsing the same statement reuses the registration); the factor
    * text is replaced by the view name and the remaining statement
    * delegates to Spark's parser untouched — aliases (`AS m`) and all
    * outer SQL stay native. The view registry is session-scoped and
    * bounded by the number of DISTINCT factor texts the session ever
    * parses (hash-named registrations overwrite, never accumulate per
    * re-parse); it dies with the session.
    */
  private[plans] val factorRe =
    """(?is)(?<![\w.])([\w.]+)\s+match_recognize\s*\(""".r

  /** Length-preserving mask of everything the factor scan must not
    * look inside: single- AND double-quoted literals (Spark treats
    * `"…"` as a string by default), backquoted identifiers, `--`
    * line comments, and bracketed comments. [[maskLiterals]] handles
    * only `'…'` — enough for the MATCH_RECOGNIZE body, but the factor
    * rewrite runs over ARBITRARY statements on the session parse path,
    * where a commented-out or quoted `match_recognize(` must not fire.
    *
    * Backslash handling mirrors Spark's LEXER, which ALWAYS consumes
    * `\<char>` inside a '…' or "…" literal as one escape pair when
    * pairing quotes — `'don\'t'` is ONE literal under BOTH settings of
    * `spark.sql.parser.escapedStringLiterals` (the legacy conf changes
    * only value UNESCAPING — the backslash stays in the string value —
    * never where a literal ends; verified against Spark 4.1). So the
    * mask unconditionally skips the escaped character, or it
    * desynchronizes and the factor scan can fire inside a string.
    * Backquoted identifiers never use backslash escapes (doubling is
    * the escape there, which the plain loop already handles
    * position-safely).
    */
  private[plans] def maskSql(s: String): String = {
    val b = s.toCharArray
    var i = 0
    while (i < b.length) {
      b(i) match {
        case q @ ('\'' | '"' | '`') =>
          i += 1
          while (i < b.length && b(i) != q) {
            if (q != '`' && b(i) == '\\' &&
                i + 1 < b.length) { b(i) = ' '; i += 1 }
            b(i) = ' '; i += 1
          }
          i += 1
        case '-' if i + 1 < b.length && b(i + 1) == '-' =>
          while (i < b.length && b(i) != '\n') { b(i) = ' '; i += 1 }
        case '/' if i + 1 < b.length && b(i + 1) == '*' =>
          b(i) = ' '; b(i + 1) = ' '; i += 2
          while (i < b.length &&
              !(b(i) == '*' && i + 1 < b.length && b(i + 1) == '/')) {
            b(i) = ' '; i += 1
          }
          if (i + 1 < b.length) { b(i) = ' '; b(i + 1) = ' ' }
          i += 2
        case _ => i += 1
      }
    }
    new String(b)
  }

  private[graft] def rewriteFactors(session: SparkSession,
      delegate: ParserInterface, sqlText: String): Option[String] = {
    // cheap pre-check: ~every statement on the session parse path
    // lacks the keyword — skip the masking copy and regex scan
    if (!sqlText.toLowerCase.contains("match_recognize")) return None
    // NOTE: no conf dependence — Spark's lexer pairs quotes identically
    // under the legacy escapedStringLiterals conf (it changes value
    // unescaping only), so the escape-aware mask is always correct
    val masked = maskSql(sqlText)
    val ms = factorRe.findAllMatchIn(masked).toList
    if (ms.isEmpty) None
    else {
      val sb = new StringBuilder(sqlText)
      // right-to-left so earlier spans' indices stay valid (factor
      // bodies cannot themselves contain table factors, so spans
      // never nest)
      ms.reverse.foreach { mm =>
        val open = mm.end - 1
        var depth = 0
        var i = open
        while (i < masked.length && {
          if (masked(i) == '(') depth += 1
          else if (masked(i) == ')') depth -= 1
          depth != 0
        }) i += 1
        require(i < masked.length,
          "MATCH_RECOGNIZE: unbalanced parentheses")
        val table = mm.group(1)
        val body = sqlText.substring(open + 1, i)
        val df = compile(session, delegate,
          s"SELECT * FROM $table MATCH_RECOGNIZE ($body)")
        // two independent 32-bit murmur seeds + the body length:
        // a silent collision between distinct factors in one session
        // would bind both substitutions to one view, so the name is
        // made collision-proof (~96 bits of discrimination)
        val keyed = table + "\u0000" + body
        val view = "_mr_factor_" + java.lang.Integer.toHexString(
            scala.util.hashing.MurmurHash3.stringHash(keyed)) +
          "_" + java.lang.Integer.toHexString(
            scala.util.hashing.MurmurHash3.stringHash(keyed, 0x9e3779b9)) +
          "_" + java.lang.Integer.toHexString(body.length)
        df.createOrReplaceTempView(view)
        sb.replace(mm.start, i + 1, view)
      }
      Some(sb.toString)
    }
  }

  /** Textual distribution of navigation over MIXED-variable expression
    * arguments (see the round-19 comment at the use site in
    * [[compile]]): `LAST(a.x - b.y[, k])` → `(LAST(a.x[, k]) -
    * LAST(b.y[, k]))`, `PREV(a.x + b.y[, k])` → `(PREV(a.x[, k]) +
    * PREV(b.y[, k]))`, `PREV(FIRST(a.x - b.y[, j])[, k])` →
    * `(PREV(FIRST(a.x[, j])[, k]) - PREV(FIRST(b.y[, j])[, k]))`.
    * Emits only the already-supported single-qualifier forms, so the
    * downstream machinery (cross-variable markers, lag columns, SUBSET
    * union folds, MEASURES array accesses) is untouched. Arguments are
    * comma/paren-free arithmetic, like every expression-argument form
    * here. Flat PREV/NEXT over ONE variable (or none) is left for the
    * derived-column machinery, which also supports unqualified
    * same-row references; FIRST/LAST over any true expression with at
    * least one qualifier distributes (there was no single-variable
    * expression path for selectors before).
    */
  private final class NavMixedRewriter(varNames: Seq[String],
      subsetNames: Seq[String]) {
    /** Literal store of the segment currently being rewritten — set by
      * [[rewrite]] so fail-fast messages can unshield the user's text.
      */
    private var errLits: scala.collection.Seq[String] = Nil
    private val bound =
      (varNames ++ subsetNames).map(_.toLowerCase).toSet
    private val qualRefRe =
      """(?i)(?<![\w.])([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)""".r
    // word-shaped tokens that are legal in a comma/paren-free scalar
    // expression without naming a column — the shared set, so this
    // residue check and the universal-selector rewrite can never
    // disagree on what a keyword is (r19 ADVICE)
    private val wordOps = exprWordOps
    private val nestedRe =
      ("""(?i)(?<!\w)(prev|next)\s*\(\s*(first|last)\s*\(\s*""" +
        """([^(),]+?)\s*(?:,\s*(\d+)\s*)?\)\s*(?:,\s*(\d+)\s*)?\)""").r
    private val flatPrevRe =
      ("""(?i)(?<!\w)(prev|next)\s*\(\s*([^(),]*[^\w\s(),][^(),]*?)""" +
        """\s*(?:,\s*(\d+)\s*)?\)""").r
    private val flatSelRe =
      ("""(?i)(?<!(?:prev|next)\s{0,9}\(\s{0,9})(?<!\w)(first|last)""" +
        """\s*\(\s*([^(),]*[^\w\s(),][^(),]*?)\s*(?:,\s*(\d+)\s*)?\)""").r
    private def quals(inner: String): Seq[String] =
      qualRefRe.findAllMatchIn(inner).map(_.group(1).toLowerCase)
        .filter(bound).toSeq.distinct
    private def pureRef(inner: String): Boolean =
      inner.matches("""(?is)\w+\s*\.\s*\w+""")
    private def canonOf(v: String): String =
      varNames.find(_.equalsIgnoreCase(v))
        .orElse(subsetNames.find(_.equalsIgnoreCase(v))).get
    private def keep(mm: scala.util.matching.Regex.Match): String =
      java.util.regex.Matcher.quoteReplacement(mm.matched)
    private def distribute(owner: String, what0: String, inner: String,
        wrap: String => String): String = {
      // error messages show the user's text, not shield placeholders
      val what = unshieldLiterals(what0, errLits)
      val badQ = qualRefRe.findAllMatchIn(inner).map(_.group(1))
        .filterNot(q => bound(q.toLowerCase)).toSeq.distinct
      require(badQ.isEmpty,
        s"$owner: $what — '${badQ.head}' is not a PATTERN variable " +
          s"or SUBSET union (have: ${varNames.mkString(", ")}${
            if (subsetNames.nonEmpty)
              s"; subsets: ${subsetNames.mkString(", ")}"
            else ""})")
      // strip the qualified refs, then any identifier left that is not
      // a function call or an operator word is a bare column — with
      // two anchors in play it has no row to read from
      val residue = qualRefRe.replaceAllIn(inner, " ")
      val un = """(?i)(?<![\w.])([A-Za-z_]\w*)(?!\s*[.(])(?!\w)""".r
        .findAllMatchIn(residue).map(_.group(1))
        .filterNot(t => wordOps(t.toLowerCase)).toSeq.distinct
      require(un.isEmpty,
        s"$owner: $what — a navigation argument mixing pattern " +
          "variables distributes per qualifier, so EVERY column " +
          "reference must be qualified (bare: " + un.mkString(", ") +
          ")")
      "(" + qualRefRe.replaceAllIn(inner, mm =>
        java.util.regex.Matcher.quoteReplacement(
          wrap(s"${canonOf(mm.group(1))}.${mm.group(2)}"))) + ")"
    }
    def rewrite(owner: String, seg0: String,
        lits: scala.collection.Seq[String] = Nil): String = {
      errLits = lits
      var seg = nestedRe.replaceAllIn(seg0, mm => {
        val inner = wsTrim(mm.group(3))
        if (pureRef(inner) || quals(inner).length < 2) keep(mm)
        else {
          val j = Option(mm.group(4)).map(o => s", $o").getOrElse("")
          val k = Option(mm.group(5)).map(o => s", $o").getOrElse("")
          val kind = mm.group(1); val sel = mm.group(2)
          java.util.regex.Matcher.quoteReplacement(
            distribute(owner, s"$kind($sel($inner))", inner,
              r => s"$kind($sel($r$j)$k)"))
        }
      })
      seg = flatPrevRe.replaceAllIn(seg, mm => {
        val inner = wsTrim(mm.group(2))
        if (pureRef(inner) || quals(inner).length < 2) keep(mm)
        else {
          val k = Option(mm.group(3)).map(o => s", $o").getOrElse("")
          val kind = mm.group(1)
          java.util.regex.Matcher.quoteReplacement(
            distribute(owner, s"$kind($inner)", inner,
              r => s"$kind($r$k)"))
        }
      })
      flatSelRe.replaceAllIn(seg, mm => {
        val inner = wsTrim(mm.group(2))
        if (pureRef(inner) || quals(inner).isEmpty) keep(mm)
        else {
          val k = Option(mm.group(3)).map(o => s", $o").getOrElse("")
          val sel = mm.group(1)
          java.util.regex.Matcher.quoteReplacement(
            distribute(owner, s"$sel($inner)", inner,
              r => s"$sel($r$k)"))
        }
      })
    }
  }

  /** Every SQL keyword Spark's lexer knows, as one regex alternation —
    * read off the generated ANTLR vocabulary (the literal token names
    * `'SELECT'`, `'QUALIFY'`, …), so the set tracks the installed Spark
    * version instead of a hand-maintained list. Operators and
    * punctuation literals are excluded by the word-shape filter.
    * Longest-first so the alternation never stops at a proper prefix
    * of a longer keyword (`IN` before `INTERVAL` would, under a
    * right-context-free use; cheap insurance either way).
    */
  private lazy val sqlKeywordAlt: String = {
    val v = org.apache.spark.sql.catalyst.parser.SqlBaseLexer.VOCABULARY
    (1 to v.getMaxTokenType).iterator
      .flatMap(i => Option(v.getLiteralName(i)))
      .map(_.stripPrefix("'").stripSuffix("'"))
      .filter(_.matches("(?i)[a-z_][a-z_0-9]*"))
      .toSeq.sortBy(-_.length)
      .mkString("|")
  }

  /** Test hook for the keyword-continuation fuzz: does `EVENTTIME
    * <tail>` satisfy the clause lookahead? The whitelist's property —
    * NO keyword continuation may fire, EVERY plain identifier must —
    * is asserted over random draws from the same lexer vocabulary.
    */
  private[graft] def eventtimeLookaheadFires(tail: String): Boolean =
    sections.find(_._1 == "eventtime").get._3.get
      .pattern.matcher(tail).lookingAt()

  /** Canonical clause order: key, keyword regex (two-word keywords
    * tolerate any whitespace; `(?<!\w)`/`(?!\w)` boundaries treat `_` as
    * a word char, so `pattern_id` never matches `pattern`), and an
    * optional lookahead the text after the keyword must start with —
    * `PATTERN` must open a paren, `WITHIN`/`TSSCALE` a digit — so an
    * alias spelled like a keyword is never taken for the clause.
    */
  private val sections: Seq[(String, scala.util.matching.Regex,
      Option[scala.util.matching.Regex])] = Seq(
    ("partition by", """(?i)(?<!\w)partition\s+by(?!\w)""".r, None),
    ("order by", """(?i)(?<!\w)order\s+by(?!\w)""".r, None),
    // the measures lookahead requires a measures-list head — a paren
    // group, a literal, or `[RUNNING|FINAL] ident` followed by `.` or
    // `(` (var-qualified ref, navigation/aggregate call) — so a source
    // COLUMN named `measures` in expression position (`DEFINE a AS
    // x > measures`) is never taken for the clause, and a statement
    // genuinely missing MEASURES fails with the missing-clause error
    // instead of a bogus canonical-order diagnosis
    ("measures", """(?i)(?<!\w)measures(?!\w)""".r,
      Some(("""(?i)\s*(?:['(\d]|(?:(?:running|final)\s+)?""" +
        """\w+\s*[.(])""").r)),
    ("one row per match", """(?i)(?<!\w)one\s+row\s+per\s+match(?!\w)""".r,
      None),
    ("all rows per match", """(?i)(?<!\w)all\s+rows\s+per\s+match(?!\w)""".r,
      None),
    ("after match", """(?i)(?<!\w)after\s+match(?!\w)""".r, None),
    ("pattern", """(?i)(?<!\w)pattern(?!\w)""".r, Some("""\s*\(""".r)),
    ("subset", """(?i)(?<!\w)subset(?!\w)""".r,
      Some("""\s*\w+\s*=""".r)),
    // the within lookahead admits INTERVAL too, so interval syntax
    // reaches the within parser's contextual "ORDER BY units" error
    // instead of corrupting the PATTERN slice
    ("within", """(?i)(?<!\w)within(?!\w)""".r,
      Some("""(?i)\s*(\d|interval(?!\w))""".r)),
    // the eventtime lookahead requires the next token to be a plain
    // identifier that is NOT any SQL keyword (whitelist inverted from
    // rounds ≤18's expression-continuation blacklist, which chased
    // stragglers — QUALIFY, SEMI, ANTI, … — one round at a time): a
    // source COLUMN named `eventtime` used bare in an expression
    // (`DEFINE a AS eventtime IS NOT NULL`, `eventtime QUALIFY …`) is
    // never taken for the clause — only `EVENTTIME <identifier>` fires.
    // Consequence (documented in DIALECT.md): an event-time column
    // NAMED like a SQL keyword (`timestamp`, `current_date`) must be
    // aliased to a non-keyword name before MATCH_RECOGNIZE.
    ("eventtime", """(?i)(?<!\w)eventtime(?!\w)""".r,
      Some(("""(?i)\s*(?!(?:""" + sqlKeywordAlt +
        """)(?!\w))[a-z_]\w*""").r)),
    ("tsscale", """(?i)(?<!\w)tsscale(?!\w)""".r, Some("""\s*\d""".r)),
    // dialect extension: MODE STRICT = ISO SQL:2016 contiguous
    // matching (relaxed skip-till-next-match is the default)
    ("mode", """(?i)(?<!\w)mode(?!\w)""".r,
      Some("""(?i)\s*(strict|relaxed)(?!\w)""".r)),
    ("define", """(?i)(?<!\w)define(?!\w)""".r, None))

  /** The body with single-quoted literal CONTENTS blanked out (same
    * length, positions preserved) — keyword scans, depth counts and
    * guards run on this; extraction uses the original text.
    */
  private[plans] def maskLiterals(s: String): String = {
    val b = s.toCharArray
    var in = false
    var i = 0
    while (i < b.length) {
      if (in && b(i) == '\\' && i + 1 < b.length) {
        // Spark's lexer: backslash escapes the next char inside a
        // literal when pairing quotes ('don\'t' is ONE literal) under
        // BOTH settings of the legacy escapedStringLiterals conf (it
        // changes value unescaping only) — mask both or the scan
        // desynchronizes at the escaped quote.
        b(i) = ' '; i += 1; b(i) = ' '
      }
      else if (b(i) == '\'') in = !in
      else if (in) b(i) = ' '
      i += 1
    }
    new String(b)
  }

  /** Replace every single-quoted literal with a neutral placeholder
    * (`\u0007<index>\u0007` — no letters, dots, parens or commas, so
    * NO textual rewrite regex can read a qualifier, a bare column, an
    * offset or a call boundary out of literal content), returning the
    * shielded text plus the extracted literals for
    * [[unshieldLiterals]]. Unlike the chunk-splitting
    * rewriteOutsideLiterals, the shielded text stays CONTIGUOUS, so a
    * navigation/selector/aggregate call whose argument CONTAINS a
    * literal (`LAST(CASE WHEN tag = 'x.y' THEN a.v ELSE b.v END)`) is
    * visible to the rewrite passes as one call instead of being
    * silently split across chunks (round-19 VERDICT hygiene item 2).
    * Same escape handling as [[maskLiterals]]: a backslash escapes the
    * next char inside a literal under both settings of the legacy
    * escapedStringLiterals conf. `--` line comments and bracketed
    * comments outside literals are dropped (they are semantically
    * void and their content would otherwise feed the scans).
    */
  private[plans] def shieldLiterals(s: String)
      : (String, scala.collection.mutable.ArrayBuffer[String]) = {
    val out = new StringBuilder
    val lits = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') {
        val start = i
        i += 1
        var done = false
        while (i < s.length && !done) {
          if (s.charAt(i) == '\\' && i + 1 < s.length) i += 2
          else if (s.charAt(i) == '\'') { done = true; i += 1 }
          else i += 1
        }
        lits += s.substring(start, i)
        out.append('\u0007').append(lits.length - 1).append('\u0007')
      } else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        while (i < s.length && s.charAt(i) != '\n') i += 1
        out.append(' ')
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        // Spark's lexer supports NESTED bracketed comments — track
        // depth so `/* a /* b */ c */` drops entirely instead of
        // leaking `c */` into the qualifier/bare-column scans
        // (r20 ADVICE, low)
        i += 2
        var depth = 1
        while (i + 1 < s.length && depth > 0) {
          if (s.charAt(i) == '/' && s.charAt(i + 1) == '*') {
            depth += 1; i += 2
          } else if (s.charAt(i) == '*' && s.charAt(i + 1) == '/') {
            depth -= 1; i += 2
          } else i += 1
        }
        if (depth > 0) i = s.length
        out.append(' ')
      } else { out.append(c); i += 1 }
    }
    (out.toString, lits)
  }

  private val shieldPlaceholderRe = "\u0007(\\d+)\u0007".r


  /** Shield-safe trim: strips ONLY real whitespace at the ends.
    * `String.trim` strips every char <= U+0020 — including the U+0007
    * shield markers — so trimming a rewriter's regex group corrupts a
    * literal sitting at the BOUNDARY of the argument: `LAST('P' || x)`
    * loses the leading marker and the placeholder parses as garbage,
    * and a pure-literal argument `LAST('x')` loses BOTH markers and
    * silently compiles to the numeric placeholder index (r20 ADVICE,
    * high). Every group-trim in the shielded rewrite passes must use
    * this instead of `.trim`.
    */
  private[plans] def wsTrim(s: String): String =
    // the class matches String.trim's whitespace EXCEPT the sub-space
    // control range that holds the U+0007 markers: space, tab, CR, LF,
    // vertical tab (U+000B) and form feed (U+000C) — Spark's lexer
    // treats the last two as whitespace too, and String.trim stripped
    // them at the nine call sites this replaced (r21 ADVICE, low)
    s.replaceAll("\\A[ \\t\\r\\n\\x0B\\f]+|[ \\t\\r\\n\\x0B\\f]+\\z", "")

  /** Restore the literals [[shieldLiterals]] extracted. Total: a
    * placeholder index past the buffer (impossible unless text from a
    * different shield call leaks in) restores to itself.
    */
  private[plans] def unshieldLiterals(s: String,
      lits: scala.collection.Seq[String]): String =
    shieldPlaceholderRe.replaceAllIn(s, mm => {
      val i = mm.group(1).toInt
      java.util.regex.Matcher.quoteReplacement(
        if (i < lits.length) lits(i) else mm.matched)
    })

  /** Word-shaped tokens legal in a comma/paren-free scalar expression
    * without naming a column — shared by the mixed-variable residue
    * check and the universal-selector bare-column rewrite so the two
    * passes can never disagree on what a keyword is (r19 ADVICE).
    * Covers the boolean/CASE core plus the infix predicate keywords
    * (BETWEEN, LIKE/ILIKE/RLIKE/REGEXP, IN, ESCAPE, IS [NOT] DISTINCT
    * FROM). INTERVAL and its unit words are NOT here: `INTERVAL '1'
    * HOUR` is atomized into one shielded placeholder by
    * rewriteShielded instead, so a genuine column named `day`/`hour`/
    * `month` keeps resolving as a column.
    */
  private[plans] val exprWordOps: Set[String] = Set(
    "and", "or", "not", "is", "null", "true", "false",
    "case", "when", "then", "else", "end", "div", "mod",
    "between", "like", "ilike", "rlike", "regexp", "in", "escape",
    "distinct", "from")

  /** Split the MATCH_RECOGNIZE body into its clause sections: a
    * POSITIONAL keyword scan at paren depth 0 on the literal-masked
    * text. Clauses are sought strictly in canonical order, each only
    * after the end of the previously-found keyword, and candidates must
    * satisfy the clause's lookahead — so `MEASURES a.ts AS order` or an
    * alias named `pattern` can never hijack a later clause boundary.
    */
  private def splitSections(body: String): Map[String, String] = {
    val masked = maskLiterals(body)
    // a clause keyword is never the tail of a qualified reference: the
    // `(?<!\w)` boundary admits a preceding '.', so `a.eventtime` would
    // otherwise satisfy the EVENTTIME scan/diagnosis — reject any
    // candidate whose preceding non-space character is '.'
    def unqualified(start: Int): Boolean = {
      var i = start - 1
      while (i >= 0 && Character.isWhitespace(masked(i))) i -= 1
      i < 0 || masked(i) != '.'
    }
    val found = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var pos = 0
    for ((key, re, lookahead) <- sections) {
      re.findAllMatchIn(masked)
        .find { mm =>
          mm.start >= pos && unqualified(mm.start) && {
            val prefix = masked.substring(0, mm.start)
            prefix.count(_ == '(') == prefix.count(_ == ')')
          } && lookahead.forall(
            _.pattern.matcher(masked.substring(mm.end)).lookingAt())
        }
        .foreach { mm =>
          found += ((mm.start, mm.end, key))
          pos = mm.end
        }
    }
    // out-of-order diagnosis: a clause the ordered scan missed whose
    // keyword + lookahead DOES match at depth 0 later in the body sits
    // after a canonically-later clause — without this check its text
    // gloms into the preceding section and the failure surfaces as an
    // unrelated error (e.g. SUBSET after EVENTTIME used to die with
    // "PATTERN needs parentheses"). EVERY clause kind is diagnosed:
    // lookahead-signed ones carry the ordered scan's own confidence;
    // the two-word keywords (PARTITION BY / ORDER BY / AFTER MATCH /
    // rows modes) cannot collide with depth-0 content; the mandatory
    // DEFINE fails the statement regardless, so naming the displacing
    // clause only improves an already-certain error. The one
    // content-collision hazard — the bare word MEASURES used as a
    // SUBSET name, DEFINE variable or expression operand — is handled
    // by the MEASURES lookahead itself (a genuine clause head opens a
    // measures list; definition positions are followed by AS/=), so
    // both scan passes share one guard.
    val foundKeys = found.map(_._3).toSet
    val canonIdx = sections.map(_._1).zipWithIndex.toMap
    for ((key, re, la) <- sections if !foundKeys(key)) {
      re.findAllMatchIn(masked)
        .find { mm =>
          unqualified(mm.start) && {
            val prefix = masked.substring(0, mm.start)
            prefix.count(_ == '(') == prefix.count(_ == ')')
          } && la.forall(
            _.pattern.matcher(masked.substring(mm.end)).lookingAt())
        }
        .foreach { mm =>
          // disorder evidence in either direction: a found clause
          // that should come AFTER this one starts before its match,
          // or one that should come BEFORE starts after it
          val canonOrder = "PARTITION BY, ORDER BY, MEASURES, " +
            "<rows mode>, AFTER MATCH, PATTERN, SUBSET, WITHIN, " +
            "EVENTTIME, TSSCALE, MODE, DEFINE"
          val earlyLater = found.filter(f =>
            f._1 < mm.start && canonIdx(f._3) > canonIdx(key))
          val lateEarlier = found.filter(f =>
            f._1 > mm.start && canonIdx(f._3) < canonIdx(key))
          if (earlyLater.nonEmpty)
            throw new IllegalArgumentException(
              "MATCH_RECOGNIZE clauses must appear in canonical " +
                s"order ($canonOrder) — found ${key.toUpperCase} " +
                s"after ${earlyLater.maxBy(f => canonIdx(f._3))._3
                  .toUpperCase}")
          if (lateEarlier.nonEmpty)
            throw new IllegalArgumentException(
              "MATCH_RECOGNIZE clauses must appear in canonical " +
                s"order ($canonOrder) — found ${key.toUpperCase} " +
                s"before ${lateEarlier.minBy(f => canonIdx(f._3))._3
                  .toUpperCase}")
        }
    }
    // Targeted EVENTTIME-keyword diagnosis (r19 ADVICE): the clause
    // lookahead is a keyword whitelist, so `EVENTTIME timestamp` is
    // (correctly) never taken for the clause — but without this check
    // the text gloms into the neighboring section and the failure
    // surfaces as an unrelated parse error that never mentions the
    // keyword rule. Fire ONLY where clause intent is unambiguous:
    // eventtime went unfound, the candidate sits after the (found)
    // PATTERN clause and before DEFINE — the clause's canonical slot,
    // where no expression text lives — and the keyword is followed by
    // the next canonical clause head (an EVENTTIME clause is exactly
    // one identifier). A bare source COLUMN named `eventtime` inside
    // MEASURES/DEFINE expression text can never satisfy all three.
    if (!foundKeys("eventtime")) {
      val evtKwRe = ("""(?i)(?<!\w)eventtime\s+(""" + sqlKeywordAlt +
        """)(?!\w)\s+(?:tsscale|mode|define)(?!\w)""").r
      val patEnd = found.find(_._3 == "pattern").map(_._2)
      val defStart = found.find(_._3 == "define").map(_._1)
      evtKwRe.findAllMatchIn(masked)
        .find { mm =>
          unqualified(mm.start) && {
            val prefix = masked.substring(0, mm.start)
            prefix.count(_ == '(') == prefix.count(_ == ')')
            // the canonical-slot argument REQUIRES the PATTERN
            // clause to actually exist: patEnd.forall is vacuously
            // true when PATTERN went unfound, and a malformed
            // statement missing PATTERN would surface this targeted
            // alias error instead of the real missing-clause error
            // (r20 ADVICE, low)
          } && patEnd.exists(mm.start > _) &&
            defStart.forall(mm.start < _)
        }
        .foreach { mm =>
          throw new IllegalArgumentException(
            s"EVENTTIME ${mm.group(1)}: '${mm.group(1)}' is a SQL " +
              "keyword and cannot follow EVENTTIME — alias the " +
              "event-time column to a non-keyword name (e.g. SELECT " +
              s"${mm.group(1)} AS event_ts) before MATCH_RECOGNIZE " +
              "(DIALECT.md: the EVENTTIME lookahead admits only " +
              "non-keyword identifiers)")
        }
    }
    val sorted = found.sortBy(_._1).toSeq
    sorted.zipWithIndex.map { case ((_, end, key), j) =>
      val next = if (j + 1 < sorted.length) sorted(j + 1)._1 else body.length
      key -> body.substring(end, next).trim
    }.toMap
  }

  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote && c == '\\' && i + 1 < s.length) {
        // Spark's default lexer: backslash escapes the next char
        // inside a literal — 'don\'t' must not toggle the quote state
        cur.append(c).append(s.charAt(i + 1)); i += 1
      }
      else if (c == '\'') { inQuote = !inQuote; cur.append(c) }
      else if (!inQuote && c == '(') { depth += 1; cur.append(c) }
      else if (!inQuote && c == ')') { depth -= 1; cur.append(c) }
      else if (!inQuote && depth == 0 && c == sep) {
        out += cur.toString; cur.clear()
      } else cur.append(c)
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Shared MEASURES-navigation rewrite for one variable `v` over one
    * binding-array SQL expression `arrSql` (FINAL path: the slot
    * array / SUBSET union; RUNNING path: its at-or-before filter) —
    * in order, so an inner `v.col` is never consumed by a later rule:
    *   PREV/NEXT(FIRST|LAST(v.col)[, n]) → lag/lead column off the
    *     first/last bound row;
    *   PREV/NEXT(v.col[, n]) → off the last bound row (n = 0 is the
    *     row itself);
    *   FIRST/LAST(v.col, n) → the (1+n)-th binding from either end
    *     (out of range → NULL via try_element_at).
    */
  private def rewriteNav(seg0: String, v: String, arrSql: String,
      lagSpecs: scala.collection.mutable.LinkedHashMap[
        (String, String, Int), String]): String = {
    def intLit(s: String): Int =
      try s.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"MEASURES navigation offset out of range: $s")
      }
    def navFld(kind: String, c: String, k: Int): String =
      if (k == 0) s"`$c`" else s"`${lagSpecs((kind, c, k))}`"
    def quoted(s: String): String =
      java.util.regex.Matcher.quoteReplacement(s)
    var seg = seg0
    seg = (s"(?i)(?<!\\w)(prev|next)\\s*\\(\\s*(first|last)" +
      s"\\s*\\(\\s*$v\\s*\\.\\s*" +
      """(\w+)\s*\)\s*(?:,\s*(\d+)\s*)?\)""").r.replaceAllIn(seg, mm => {
      val k = Option(mm.group(4)).map(intLit).getOrElse(1)
      val at = if (mm.group(2).equalsIgnoreCase("first")) 1 else -1
      quoted(s"try_element_at($arrSql, $at)." +
        navFld(mm.group(1).toLowerCase, mm.group(3), k))
    })
    seg = (s"(?i)(?<!\\w)(prev|next)\\s*\\(\\s*$v\\s*\\.\\s*" +
      """(\w+)\s*(?:,\s*(\d+)\s*)?\)""").r.replaceAllIn(seg, mm => {
      val k = Option(mm.group(3)).map(intLit).getOrElse(1)
      quoted(s"try_element_at($arrSql, -1)." +
        navFld(mm.group(1).toLowerCase, mm.group(2), k))
    })
    seg = (s"(?i)(?<!\\w)(first|last)\\s*\\(\\s*$v\\s*\\.\\s*" +
      """(\w+)\s*,\s*(\d+)\s*\)""").r.replaceAllIn(seg, mm => {
      val idx = 1 + intLit(mm.group(3))
      val signed =
        if (mm.group(1).equalsIgnoreCase("first")) idx else -idx
      quoted(s"try_element_at($arrSql, $signed).`${mm.group(2)}`")
    })
    seg
  }

  /** MEASURES universal anchor (round 19): `FIRST/LAST(<fully
    * unqualified comma/paren-free expression>[, k])` selects the
    * (1+k)-th row of the WHOLE match from either end — the members'
    * merged (ts, tie) order, `arrSql` — and evaluates the expression
    * on it (every bare column reads the selected element; out of
    * range yields NULL via try_element_at). ISO's universal row
    * pattern variable, mirroring the DEFINE-side lift. Bare single
    * columns and any argument carrying a qualifier are left for the
    * established per-variable machinery; a selector already inside
    * PREV/NEXT belongs to the navigation passes (bounded lookbehind).
    */
  private val univSelRe =
    ("""(?i)(?<!(?:prev|next)\s{0,9}\(\s{0,9})(?<!\w)(first|last)""" +
      """\s*\(\s*([^(),]*[^\w\s(),][^(),]*?)\s*(?:,\s*(\d+)\s*)?\)""").r
  private val univQualDetectRe =
    """(?i)(?<![\w.])[A-Za-z_]\w*\s*\.\s*[A-Za-z_]""".r
  private val univWordOps = exprWordOps
  private def rewriteUnivSelectors(seg: String, arrSql: String): String =
    univSelRe.replaceAllIn(seg, mm => {
      val inner = wsTrim(mm.group(2))
      if (univQualDetectRe.findFirstIn(inner).isDefined)
        java.util.regex.Matcher.quoteReplacement(mm.matched)
      else {
        val k = Option(mm.group(3)).map(_.toInt).getOrElse(0)
        val idx =
          if (mm.group(1).equalsIgnoreCase("first")) 1 + k
          else -(1 + k)
        val elem = s"try_element_at($arrSql, $idx)"
        val out = """(?i)(?<![\w.])([A-Za-z_]\w*)(?!\s*[.(])(?!\w)""".r
          .replaceAllIn(inner, im =>
            if (univWordOps(im.group(1).toLowerCase)) im.group(1)
            else java.util.regex.Matcher.quoteReplacement(
              s"$elem.`${im.group(1)}`"))
        java.util.regex.Matcher.quoteReplacement(s"($out)")
      }
    })

  /** Aggregates over an EXPRESSION of ONE variable's row in MEASURES
    * — `SUM(v.price * 2)`, `MAX(v.x - v.y)`, `COUNT(v.col)`:
    * comma/paren-free arithmetic with every `v.col` bound to the HOF
    * lambda row. SQL null-skip via a filter; empty-or-all-null yields
    * NULL (COUNT yields 0). Runs AFTER the plain single-column rules
    * (those keep their typed forms) and BEFORE bare-var resolution,
    * which would otherwise silently collapse the references to the
    * LAST binding. References to a second variable inside one
    * aggregate are rejected (zip semantics across two bindings are
    * undefined).
    */
  private def rewriteExprAgg(seg0: String, v: String, arrSql: String,
      allBindingNames: Seq[String],
      errLits: scala.collection.Seq[String] = Nil): String =
    (s"(?i)(?<!\\w)(sum|avg|min|max|count)\\s*\\(\\s*" +
      s"([^(),]*?$v\\s*\\.\\s*\\w+[^(),]*?)\\s*\\)").r
      .replaceAllIn(seg0, mm => {
        val fn = mm.group(1).toLowerCase
        val raw = wsTrim(mm.group(2))
        // the arg regex can anchor on $v as a SUFFIX of a longer
        // binding name (v=b inside `ab.v`); only a boundary-guarded
        // reference makes this v's pass responsible — otherwise leave
        // the text for the owning variable's pass
        if (s"(?i)(?<![\\w.])$v\\s*\\.".r.findFirstIn(raw).isEmpty)
          java.util.regex.Matcher.quoteReplacement(mm.matched)
        else {
          val inner = raw.replaceAll(s"(?i)(?<!\\w)$v\\s*\\.\\s*(\\w+)",
            "_mr_ex.`$1`")
          allBindingNames.filterNot(_.equalsIgnoreCase(v)).foreach { o =>
            require(s"(?i)(?<!\\w)$o\\s*\\.\\s*\\w+".r
                .findFirstIn(inner).isEmpty,
              s"$fn(${unshieldLiterals(raw, errLits)}): " +
                "an aggregate argument may reference ONE " +
                "pattern variable (zip semantics across two bindings " +
                "are undefined) — aggregate each variable separately")
          }
          val nn = s"filter(transform($arrSql, _mr_ex -> $inner), " +
            "_mr_nn -> _mr_nn is not null)"
          val out = fn match {
            case "count" => s"cast(size($nn) as bigint)"
            case "sum" => s"if(size($nn) = 0, cast(null as double), " +
              s"aggregate($nn, cast(0.0 as double), " +
              "(_mr_acc, _mr_x) -> _mr_acc + _mr_x))"
            case "avg" => s"(aggregate($nn, cast(0.0 as double), " +
              "(_mr_acc, _mr_x) -> _mr_acc + _mr_x) " +
              s"/ nullif(size($nn), 0))"
            case "min" => s"array_min($nn)"
            case _ => s"array_max($nn)"
          }
          java.util.regex.Matcher.quoteReplacement(s"($out)")
        }
      })

  def compile(session: SparkSession, delegate: ParserInterface,
      sqlText: String): DataFrame = {
    val m = statementRe.findFirstMatchIn(sqlText).getOrElse(
      throw new IllegalArgumentException(
        "MATCH_RECOGNIZE statements must have the form " +
          "SELECT * FROM <table> MATCH_RECOGNIZE (...)"))
    val table = m.group(1)
    val sec = splitSections(m.group(2))
    def need(kw: String): String = sec.getOrElse(kw,
      throw new IllegalArgumentException(s"MATCH_RECOGNIZE needs a " +
        s"${kw.toUpperCase} clause"))
    // row mode: ONE ROW PER MATCH (default) or ALL ROWS PER MATCH; the
    // clauses carry no operands, so their slices must be empty
    sec.get("one row per match").foreach(s => require(s.isEmpty,
      s"unexpected text after ONE ROW PER MATCH: '$s'"))
    val allRowsSlice = sec.get("all rows per match")
      .map(_.toLowerCase.replaceAll("\\s+", " ").trim)
    // SQL:2016 empty-match modifiers: this engine's matches always
    // bind at least one row (a zero-width match start is rejected at
    // pattern build), so OMIT EMPTY MATCHES — the mode that DROPS
    // empty matches — is accepted as the engine's standing behavior,
    // and SHOW EMPTY MATCHES is rejected with the reason rather than
    // silently showing nothing.
    allRowsSlice.foreach(s => require(
      s.isEmpty || s == "with unmatched rows" ||
        s == "omit empty matches",
      if (s == "show empty matches")
        "ALL ROWS PER MATCH SHOW EMPTY MATCHES: this engine rejects " +
          "zero-width match starts (the first pattern element is " +
          "non-optional), so empty matches cannot occur — OMIT EMPTY " +
          "MATCHES (the standing behavior) parses"
      else s"unexpected text after ALL ROWS PER MATCH: '$s' (OMIT " +
        "EMPTY MATCHES and WITH UNMATCHED ROWS are recognized)"))
    val unmatchedRows = allRowsSlice.contains("with unmatched rows")
    // streaming WITH UNMATCHED ROWS: the stateful operator emits the
    // never-bound rows itself (NULL-bounds pseudo-rows); measures must
    // then be NULLed on those rows (they would otherwise read 0-valued
    // aggregates over the pseudo-row's empty slot arrays)
    def streamUnmatchedOf(streaming: Boolean): Boolean =
      unmatchedRows && streaming
    require(!(sec.contains("one row per match") &&
        sec.contains("all rows per match")),
      "MATCH_RECOGNIZE: ONE ROW PER MATCH and ALL ROWS PER MATCH " +
        "are mutually exclusive")
    val allRows = sec.contains("all rows per match")

    // AFTER MATCH: SKIP PAST LAST ROW (greedy non-overlap), SKIP TO
    // NEXT ROW (the explicit spelling of the default overlap mode —
    // every qualifying event may start a match), or SKIP TO
    // [FIRST|LAST] <var> (resume scanning AT the first/last row bound
    // to <var>; plain SKIP TO <var> = SKIP TO LAST <var> per the
    // standard). The TO-variable modes error at runtime when the
    // variable bound no rows or the target is the match's first row
    // (the standard's infinite-loop guard).
    val skipToRe = """skip to (?:(first|last) )?(\w+)""".r
    val (skipPastLast, skipToVar0) = sec.get("after match").map { am =>
      val norm = am.toLowerCase.replaceAll("\\s+", " ").trim
      norm match {
        case "skip past last row" => (true, None)
        case "skip to next row"   => (false, None)
        case skipToRe(fn, v) =>
          (false, Some((v, fn == "first")))
        case _ => throw new IllegalArgumentException(
          "AFTER MATCH supports SKIP PAST LAST ROW, SKIP TO NEXT " +
            s"ROW, and SKIP TO [FIRST|LAST] <variable> (got '$am')")
      }
    }.getOrElse((false, None: Option[(String, Boolean)]))

    val keys = splitTopLevel(need("partition by"), ',')
    val order = splitTopLevel(need("order by"), ',')
    require(order.nonEmpty && order.length <= 2,
      "ORDER BY takes (event-time[, tie-break])")
    val (tsCol, tieCol) = (order.head, order.lift(1).getOrElse(order.head))

    // PATTERN (a b+ c{2,3} (d|e) PERMUTE(f,g) (h i)+) — a
    // concatenation of top-level items: quantified variables map onto
    // StepSpec, groups of plain variables (alternation, PERMUTE,
    // concatenation, quantified or not) onto NestedGroupSpec, anything
    // deeper onto the recursive RxSpec element (see `classify` below).
    val patBody = need("pattern").trim
    require(patBody.startsWith("(") && patBody.endsWith(")"),
      "PATTERN needs parentheses")
    // normalize "PERMUTE (" so the top-level space split keeps each
    // PERMUTE group a single token
    val inner0 = patBody.substring(1, patBody.length - 1).trim
      .replaceAll("""(?i)(?<!\w)permute\s*\(""", "permute(")
    // SQL:2016 exclusion `{- … -}`: the wrapped sub-pattern still
    // MATCHES (it gates the pattern) but its rows are suppressed from
    // ALL ROWS output. The braces strip here; the wrapped segments are
    // re-parsed below (once the recursive pattern parser exists) to
    // collect the variables whose rows the explode stage filters out —
    // any sub-pattern works: groups, alternations, PERMUTE, nesting.
    // the inner alternative admits brace quantifiers ({m,n}, {n},
    // {n,}, {,n}), so `{- b{1,2} -}` parses instead of leaving stray
    // '{-' tokens
    val exclRe =
      """\{-\s*((?:[^{}]|\{(?:\d+(?:,\d*)?|,\d+)\})*?)\s*-\}""".r
    val exclSegments = scala.collection.mutable.ArrayBuffer.empty[String]
    val inner = exclRe.replaceAllIn(inner0, mm => {
      val segment = mm.group(1)
      require(segment.trim.nonEmpty, "empty exclusion {- -}")
      exclSegments += segment
      java.util.regex.Matcher.quoteReplacement(" " + segment + " ")
    })
    // --- recursive-descent PATTERN parser ---
    // grammar: alt := seq ('|' seq)* ; seq := item+ ;
    //          item := primary quant? ; primary := var | '(' alt ')' |
    //          PERMUTE '(' alt (',' alt)* ')' ;
    //          quant := (+ | * | ? | {m,n}) '?'?   (trailing ? = lazy)
    sealed trait PNode
    case class PVar(name: String) extends PNode
    case class PPermute(items: Seq[PNode]) extends PNode
    case class PSeqN(items: Seq[PNode]) extends PNode
    case class PAltN(alts: Seq[PNode]) extends PNode
    case class PQuant(body: PNode, min: Int, max: Int,
      reluctant: Boolean) extends PNode
    def parsePatternAst(src: String): PNode = {
      var i = 0
      val len = src.length
      def ws(): Unit = while (i < len && src(i).isWhitespace) i += 1
      def peek: Char = { ws(); if (i < len) src(i) else '\u0000' }
      def fail(msg: String): Nothing = throw new IllegalArgumentException(
        s"bad PATTERN: $msg (at '…${src.substring(math.min(i, len))}')")
      def ident(): String = {
        ws(); val s = i
        while (i < len && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
        if (i == s) fail("expected a variable name")
        src.substring(s, i)
      }
      def number(): Int = {
        ws(); val s = i
        while (i < len && src(i).isDigit) i += 1
        if (i == s) fail("expected a number")
        try src.substring(s, i).toInt
        catch { case _: NumberFormatException =>
          fail(s"quantifier bound out of range: ${src.substring(s, i)}")
        }
      }
      def quant(body: PNode): PNode = {
        val bounds: Option[(Int, Int)] = peek match {
          case '+' => i += 1; Some((1, Int.MaxValue))
          case '*' => i += 1; Some((0, Int.MaxValue))
          case '?' => i += 1; Some((0, 1))
          case '{' =>
            i += 1
            // SQL:2016 brace forms: {m,n} range, {n} exact, {n,}
            // unbounded above, {,n} = {0,n}
            val mn = if (peek == ',') 0 else number()
            val (lo, mx) =
              if (peek == ',') {
                i += 1
                (mn, if (peek == '}') Int.MaxValue else number())
              } else (mn, mn)
            if (peek != '}') fail("expected '}' closing the quantifier")
            i += 1
            require(mx >= math.max(lo, 1), s"bad quantifier {$lo,$mx}")
            Some((lo, mx))
          case _ => None
        }
        bounds match {
          case None => body
          case Some((mn, mx)) =>
            // trailing '?' = reluctant (lazy) form
            val rel = peek == '?' && { i += 1; true }
            PQuant(body, mn, mx, rel)
        }
      }
      def primary(): PNode = peek match {
        case '(' =>
          i += 1
          val a = alt()
          if (peek != ')') fail("expected ')'")
          i += 1
          a
        case c if c.isLetter || c == '_' =>
          val id = ident()
          if (id.equalsIgnoreCase("permute") && peek == '(') {
            i += 1
            val items = scala.collection.mutable.ArrayBuffer(alt())
            while (peek == ',') { i += 1; items += alt() }
            if (peek != ')') fail("expected ')' closing PERMUTE")
            i += 1
            require(items.length >= 2,
              s"PERMUTE needs at least 2 items (got ${items.length})")
            PPermute(items.toSeq)
          } else PVar(id)
        case _ => fail("expected a variable, '(' or PERMUTE(")
      }
      def atEnd: Boolean = { ws(); i >= len }
      def seqStop: Boolean =
        atEnd || peek == '|' || peek == ')' || peek == ','
      def seq(): PNode = {
        val items = scala.collection.mutable.ArrayBuffer.empty[PNode]
        while (!seqStop) items += quant(primary())
        if (items.isEmpty) fail("empty pattern sequence")
        if (items.length == 1) items.head else PSeqN(items.toSeq)
      }
      def alt(): PNode = {
        val alts = scala.collection.mutable.ArrayBuffer(seq())
        while (peek == '|') { i += 1; alts += seq() }
        if (alts.length == 1) alts.head else PAltN(alts.toSeq)
      }
      val root = alt()
      if (!atEnd) fail("trailing input")
      root
    }
    def pnVars(n: PNode): Seq[String] = n match {
      case PVar(v) => Seq(v)
      case PPermute(is) => is.flatMap(pnVars)
      case PSeqN(is) => is.flatMap(pnVars)
      case PAltN(as) => as.flatMap(pnVars)
      case PQuant(b, _, _, _) => pnVars(b)
    }
    def pnReluctant(n: PNode): Seq[String] = n match {
      case PQuant(b, _, _, rel) =>
        (if (rel) pnVars(b) else Nil) ++ pnReluctant(b)
      case PPermute(is) => is.flatMap(pnReluctant)
      case PSeqN(is) => is.flatMap(pnReluctant)
      case PAltN(as) => as.flatMap(pnReluctant)
      case _: PVar => Nil
    }

    // classification: a step for a quantified variable, one group
    // element for every group of plain variables (alternation,
    // PERMUTE, concatenation — binding by priority), the recursive Rx
    // element for everything else (deeper nesting, quantified items
    // inside groups, alternation of sequences, PERMUTE of composite
    // items)
    def asNItem(n: PNode): Option[NgItemSpec] = n match {
      case PVar(v) => Some(NgVarSpec(v))
      case PAltN(Seq(PVar(l), PVar(r))) => Some(NgAltSpec(l, r))
      case PPermute(is) =>
        val vs = is.collect { case PVar(v) => v }
        if (vs.length == is.length) Some(NgPermSpec(vs)) else None
      case _ => None
    }
    // MODE STRICT: ISO SQL:2016 contiguous matching — a live partial
    // that does not consume an event dies (and the quantifier branch
    // that declined it dies with it), so matched rows are gap-free.
    // One pattern-level NFA flag (PatternDef.strictAll), so EVERY
    // pattern shape composes: groups, alternations, PERMUTE,
    // exclusions, recursive nesting — batch and both streaming
    // executors through the shared step kernel.
    val strictMode = sec.get("mode").map(_.trim.toLowerCase) match {
      case None => false
      case Some("strict") => true
      case Some("relaxed") => false
      case Some(other) => throw new IllegalArgumentException(
        s"MODE takes STRICT or RELAXED, got: $other")
    }
    // reluctant (lazy) quantifier semantics under the engine's relaxed
    // (skip-till-next-match) matching: optional growth is NEVER forced
    // (the tail can always bind a later event), so the lazy form binds
    // exactly `min` events (min 0 → at most one, with the skip-mode
    // election preferring the zero-width variant). This also bounds
    // state: the greedy form's branch-per-extension exploration never
    // starts. Under MODE STRICT that rationale fails — contiguity can
    // FORCE growth (PATTERN (a b*? c) over rows a,b,c needs b to bind
    // once) — so strict keeps the TRUE max and ISO reluctance comes
    // from the election's fewer-rows preferment for reluctant slots
    // ([[graft.cep.Nfa]] candOrder), a preference rather than a cap.
    def lazyMax(mn: Int, mx: Int, rel: Boolean): Int =
      if (rel && !strictMode) math.max(mn, 1) else mx
    def rxSpec(n: PNode): RxSpecNode = n match {
      case PVar(v) => RxVarSpec(v)
      case PQuant(PVar(v), mn, mx, rel) =>
        RxVarSpec(v, mn, lazyMax(mn, mx, rel))
      case PQuant(b, mn, mx, rel) =>
        RxRepSpec(rxSpec(b), mn, lazyMax(mn, mx, rel))
      case PSeqN(is) => RxSeqSpec(is.map(rxSpec))
      case PAltN(as) => RxAltSpec(as.map(rxSpec))
      case PPermute(is) =>
        // PERMUTE of non-plain items: the members-seen BITMASK
        // automaton ([[graft.cep.RxPermute]]) — one shared
        // sub-automaton per member plus a hub whose mask register
        // (2^k values in one rxCnt counter) tracks which members have
        // completed. Replaces rounds ≤16's recursive k!-ordering
        // expansion (which capped arity at 5: 6! = 720 branch states);
        // automaton size is now Σ|member| + O(k), and a live partial
        // still forks only at its next-member choice (≤ k branches),
        // so matching semantics and per-seed exploration are
        // UNCHANGED (pinned by the bitmask-vs-expansion parity
        // property in MatchRecognizeSpec). The arity bound left is
        // the cep layer's own ≤ 16 (C(k, k/2) interleaving classes
        // per seed outgrow any maxPartials budget beyond that).
        require(is.length <= 16,
          s"PERMUTE of composite items supports at most 16 members " +
            s"(the members-seen bitmask explores up to C(k, k/2) " +
            s"interleaving classes per seed), got ${is.length}")
        RxPermuteSpec(is.map(rxSpec))
    }
    def classify(item: PNode): MatchElemSpec = item match {
      case PVar(n) => StepSpec(n)
      case PQuant(PVar(n), mn, mx, rel) =>
        StepSpec(n, mn, lazyMax(mn, mx, rel))
      case PPermute(_) | PAltN(_) =>
        asNItem(item).fold[MatchElemSpec](RxSpec(rxSpec(item)))(
          it => NestedGroupSpec(Seq(it), 1, 1))
      case PQuant(b @ (PPermute(_) | PAltN(_)), mn, mx, rel) =>
        asNItem(b).fold[MatchElemSpec](RxSpec(rxSpec(item)))(
          it => NestedGroupSpec(Seq(it), mn, lazyMax(mn, mx, rel)))
      case PSeqN(is) => classify(PQuant(PSeqN(is), 1, 1, false))
      case PQuant(PSeqN(is), mn, mx, rel) =>
        val nitems = is.map(asNItem)
        if (nitems.forall(_.isDefined))
          NestedGroupSpec(nitems.flatten, mn, lazyMax(mn, mx, rel))
        else RxSpec(rxSpec(item))
      case _ => RxSpec(rxSpec(item))
    }
    // SQL:2016 pattern anchors: '^' (match starts at the partition's
    // first row) / '$' (match ends at its last row). They compile to
    // partition-boundary predicates ANDed onto the edge variables —
    // PREV(ts,1) IS NULL / NEXT(ts,1) IS NULL — riding the existing
    // lag precompute (batch window sharing the operator's shuffle+sort;
    // streaming release decorator), so they compose with every other
    // feature. Only supported at the pattern's very ends.
    val innerT = inner.trim
    val anchorStart = innerT.startsWith("^")
    val afterStart = if (anchorStart) innerT.drop(1).trim else innerT
    val anchorEnd = afterStart.endsWith("$")
    val innerPat = if (anchorEnd) afterStart.dropRight(1).trim
      else afterStart
    require(!innerPat.exists(c => c == '^' || c == '$'),
      "pattern anchors '^'/'$' are only supported at the very " +
        "start/end of PATTERN")
    val patAst = parsePatternAst(innerPat)
    // exclusion variables: each {- … -} segment parses with the same
    // grammar, and every variable inside it is suppressed from ALL
    // ROWS output. Suppression is name-based (a classifier filter on
    // the exploded rows), so a variable bound both inside AND outside
    // an exclusion would have its non-excluded rows wrongly
    // suppressed — fail fast with the fix instead of silently
    // returning nonstandard output.
    val excludedVars: Seq[String] = {
      def occ(ns: Seq[String]): Map[String, Int] =
        ns.groupBy(identity).map { case (k, v) => k -> v.length }
      val inExcl =
        exclSegments.toSeq.flatMap(s => pnVars(parsePatternAst(s)))
      val exclCounts = occ(inExcl)
      val allCounts = occ(pnVars(patAst))
      val alsoOutside = exclCounts.keys.filter(v =>
        allCounts.getOrElse(v, 0) > exclCounts(v)).toSeq.sorted
      require(alsoOutside.isEmpty,
        s"exclusion {- … -}: variable(s) ${alsoOutside.mkString(", ")} " +
          "appear both inside and outside an exclusion; row " +
          "suppression is per-variable, so give the occurrence " +
          "outside the exclusion its own variable name (same DEFINE " +
          "predicate) to keep its rows in the output")
      inExcl.distinct
    }
    val reluctantVars: Set[String] = pnReluctant(patAst).toSet
    val topItems: Seq[PNode] = patAst match {
      case PSeqN(is) => is
      case single => Seq(single)
    }
    val patElems0: Seq[MatchElemSpec] = topItems.map(classify)
    // a variable occurring in several top-level elements (SQL:2016
    // allows e.g. `(a b a)`) cannot ride the structured elements'
    // one-slot-per-element layout — compile the WHOLE pattern as one
    // recursive element instead
    val patElems: Seq[MatchElemSpec] = {
      val ns = patElems0.flatMap(_.names)
      if (ns.distinct.length == ns.length) patElems0
      else Seq(RxSpec(rxSpec(patAst)))
    }
    val varNames = patElems.flatMap(_.names).distinct
    // SUBSET w = (a, b): SQL:2016 union variables — parsed HERE so
    // DEFINE aggregates can compose over them; the measures stage
    // reuses the same parse for its binding arrays
    val subsets: Seq[(String, Seq[String])] =
      sec.get("subset").toSeq.flatMap(splitTopLevel(_, ',')).map { e =>
        val re = """(?s)\s*(\w+)\s*=\s*\(([\w\s,]*)\)\s*""".r
        e match {
          case re(n, ms) =>
            val mem = ms.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            require(mem.nonEmpty, s"SUBSET $n needs at least one member")
            val bad = mem.filterNot(varNames.contains)
            require(bad.isEmpty, s"SUBSET $n references unknown pattern " +
              s"variables: ${bad.mkString(", ")}")
            require(!varNames.contains(n),
              s"SUBSET name '$n' collides with a pattern variable")
            n -> mem
          case other => throw new IllegalArgumentException(
            s"bad SUBSET entry: $other (want w = (a, b))")
        }
      }
    require(subsets.map(_._1).distinct.length == subsets.length,
      "duplicate SUBSET names")
    // ISO's UNIVERSAL row pattern variable, as an implicit SUBSET of
    // every pattern variable (round 19): an unqualified expression
    // argument inside DEFINE navigation — `FIRST(value * 2)`,
    // `PREV(FIRST(value * 2), k)` — anchors over ALL rows of the
    // match, i.e. the members' merged (ts, tie) binding order, which
    // is exactly what the SUBSET-union machinery already folds. The
    // reserved name never appears in user text; the rewrites below
    // emit it. User-declared SUBSETs and skip targets resolve against
    // the DECLARED list only.
    val UnivVar = "_mr_univ_"
    require(!subsets.exists(_._1.equalsIgnoreCase(UnivVar)) &&
        !varNames.exists(_.equalsIgnoreCase(UnivVar)),
      s"the name '$UnivVar' is reserved")
    val subsetsU = subsets :+ (UnivVar -> varNames)
    // the AFTER MATCH slice is case-normalized before matching, so
    // resolve the skip target against the case-preserved PATTERN
    // variables case-insensitively and carry the canonical name (the
    // NFA's slot lookup is exact)
    // the target may also be a SUBSET union variable (SQL:2016): the
    // resume row is then the first/last row in the members' merged
    // (ts, tie) order — the engine receives the member slot list
    val (skipToVar, skipToMembers): (Option[(String, Boolean)],
        Option[Seq[String]]) = skipToVar0 match {
      case None => (None, None)
      case Some((v, f)) => varNames.find(_.equalsIgnoreCase(v)) match {
        case Some(canon) => (Some((canon, f)), None)
        case None => subsets.find(_._1.equalsIgnoreCase(v)) match {
          case Some((sn, mem)) => (Some((sn, f)), Some(mem))
          case None => throw new IllegalArgumentException(
            s"AFTER MATCH SKIP TO: '$v' is not a PATTERN variable or " +
              s"SUBSET union (have: ${varNames.mkString(", ")}${
                if (subsets.nonEmpty)
                  s"; subsets: ${subsets.map(_._1).mkString(", ")}"
                else ""})")
        }
      }
    }
    require(excludedVars.forall(varNames.contains),
      s"excluded variable(s) ${excludedVars.filterNot(varNames.contains)
        .mkString(", ")} not in the pattern")

    // anchor edges must be plain unquantified variables: the boundary
    // predicate ANDs onto the variable's DEFINE, so a quantified edge
    // would constrain EVERY binding of it, not just the edge one
    def anchorVar(sym: String, e: MatchElemSpec, where: String): String =
      e match {
        case StepSpec(n, 1, 1, _) => n
        case _ => throw new IllegalArgumentException(
          s"'$sym' anchor: the pattern must $where with a plain " +
            "unquantified variable (split a quantified edge into a " +
            "distinct edge variable, e.g. '^ a a_more*')")
      }
    val anchorHeadVar =
      if (anchorStart) Some(anchorVar("^", patElems.head, "start"))
      else None
    val anchorTailVar =
      if (anchorEnd) Some(anchorVar("$", patElems.last, "end")) else None

    // DEFINE a AS <pred>, ... — predicates over plain input columns
    val defs = splitTopLevel(need("define"), ',').map { d =>
      val asRe = """(?is)(\w+)\s+as\s+(.+)""".r
      d.trim match {
        case asRe(n, e) => n -> e.trim
        case other => throw new IllegalArgumentException(
          s"bad DEFINE entry: $other")
      }
    }.toMap
    val missing = varNames.filterNot(defs.contains)
    require(missing.isEmpty,
      s"PATTERN variables without DEFINE: ${missing.mkString(", ")}")


    val tsScaleOpt = sec.get("tsscale").map(_.trim.toLong)
    val ivRe = """(?i)interval\s+'(\d+)'\s+(second|minute|hour|day)s?""".r
    val within = sec.get("within").map(_.trim).map {
      case w if w.matches("\\d+") => w.toLong
      case ivRe(n, unit) =>
        // INTERVAL converts through TSSCALE (ORDER BY units per ms) —
        // the ts column is a raw long of caller-chosen unit, so the
        // engine cannot guess the conversion
        val ms = unit.toLowerCase match {
          case "second" => 1000L
          case "minute" => 60000L
          case "hour"   => 3600000L
          case "day"    => 86400000L
        }
        val scale = tsScaleOpt.getOrElse(
          throw new IllegalArgumentException(
            "WITHIN INTERVAL needs a TSSCALE clause (ORDER BY units " +
              "per millisecond) to convert the interval"))
        n.toLong * ms * scale
      case w => throw new IllegalArgumentException(
        s"WITHIN takes a raw long in ORDER BY units or " +
          s"INTERVAL '<n>' SECOND|MINUTE|HOUR|DAY (got '$w')")
    }
    val srcTbl = session.table(table)
    // PREV/NEXT in DEFINE — SQL:2016 row-pattern navigation:
    // `PREV(col[, n])` reads n rows BEFORE the current INPUT row in
    // the partition (match-independent), so it precomputes as a
    // lag/lead column over (keys, ts, tie) ahead of the operator. The
    // window needs exactly the distribution/ordering the operator
    // itself declares, so EnsureRequirements plans ONE shuffle+sort
    // for both. Batch only (lag over an unbounded stream).
    // textual rewrites skip string literals: the text splits on
    // quotes, rewrites run on the OUTSIDE segments only
    // escape-aware: a backslash-escaped quote inside a literal
    // ('don\'t') must not flip the inside/outside alternation
    def rewriteOutsideLiterals(s: String)(f: String => String): String = {
      val sb = new StringBuilder
      val chunk = new StringBuilder
      var in = false
      def flush(): Unit = {
        sb.append(if (in) chunk.toString else f(chunk.toString))
        chunk.clear()
      }
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (in && c == '\\' && i + 1 < s.length) {
          chunk.append(c).append(s.charAt(i + 1)); i += 1
        } else if (c == '\'') {
          if (!in) { flush(); in = true; chunk.append(c) }
          else { chunk.append(c); flush(); in = false }
        } else chunk.append(c)
        i += 1
      }
      flush()
      sb.toString
    }
    // Shielded variant (round 20): literals become neutral
    // placeholders so the text stays CONTIGUOUS — a call whose
    // argument contains a literal is one regex match, not two chunks —
    // and literal content can never contribute a qualifier, bare
    // column or offset. Whitespace outside literals is normalized to
    // single spaces first, so the bounded `\s{0,9}` lookbehinds that
    // keep a selector inside PREV/NEXT for the nested pass always see
    // it (a 10+-char newline-plus-indent gap defeated them — r19
    // ADVICE). INTERVAL literals (`INTERVAL '1' HOUR [TO MINUTE]`)
    // are atomized into one placeholder so their unit words are never
    // mistaken for bare columns, without reserving `day`/`hour`/… as
    // keywords for genuine columns of those names. f receives the
    // shielded text plus the literal store for the capture points
    // that persist expression text past the unshield (alias maps).
    val intervalUnitAlt = "(?:year|quarter|month|week|day|hour|" +
      "minute|second|millisecond|microsecond)s?"
    val intervalAtomRe =
      (s"(?i)(?<!\\w)interval\\s+(?:\\u0007\\d+\\u0007" +
        s"(?:\\s+$intervalUnitAlt(?:\\s+to\\s+$intervalUnitAlt)?)?" +
        s"|\\d+(?:\\.\\d+)?\\s+$intervalUnitAlt)").r
    def rewriteShielded(s: String)(
        f: (String, scala.collection.Seq[String]) => String): String = {
      val (sh0, lits) = shieldLiterals(s)
      // NOT .trim: it strips every char <= U+0020 including the
      // U+0007 placeholder markers when a literal ends the text
      val sh1 = sh0.replaceAll("\\s+", " ")
        .replaceAll("\\A | \\z", "")
      val sh = intervalAtomRe.replaceAllIn(sh1, mm => {
        lits += unshieldLiterals(mm.matched, lits)
        java.util.regex.Matcher.quoteReplacement(
          "\u0007" + (lits.length - 1) + "\u0007")
      })
      unshieldLiterals(f(sh, lits), lits)
    }
    val prevRe =
      """(?i)(?<!\w)(prev|next)\s*\(\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r
    // var-qualified PREV/NEXT in DEFINE (round-15 lift): per SQL:2016
    // `PREV(v.col, k)` reads the partition row k before the row v is
    // mapped to (its LAST binding under running semantics). It
    // compiles to the existing pieces: the lag value materializes as
    // a `_mr_prev_col_k` input column (batch window / streaming
    // release decorator) and the var resolution rides the
    // cross-variable LAST marker — `v.<lag alias>`. On the variable
    // BEING DEFINED the current row is its last binding, so the form
    // degenerates to plain `PREV(col, k)`, exactly the standard's
    // ticker-query spelling `down.price < PREV(down.price)`. The
    // nested MEASURES-only form (PREV(FIRST(v.col))) and SUBSET
    // qualifiers stay excluded with targeted errors.
    val patVarSet = varNames.map(_.toLowerCase).toSet
    val subsetSet = subsets.map(_._1.toLowerCase).toSet
    // Round-19 lift of DIALECT exclusion 1's mixed-variable half:
    // navigation over an expression MIXING pattern variables (or SUBSET
    // unions) — `LAST(a.price - b.price)`, `PREV(a.x + b.y, k)`,
    // `PREV(FIRST(a.x - b.y), k)` — DISTRIBUTES over the variable
    // references: each var-qualified column anchors at ITS OWN
    // variable's selected binding, with the selector and offsets
    // applied per anchor (`LAST(a.x - b.x, k)` ≡ `LAST(a.x, k) -
    // LAST(b.x, k)`). Navigation selects a ROW per qualifier, so the
    // distribution is exact — the same semantics as the reference's
    // cross-attribute pattern selects (README.md:87-89, `s1.x, s2.y`
    // each resolving to its own bound event), extended with SQL:2016
    // selectors. The rewrite runs FIRST (on DEFINE bodies and on the
    // MEASURES text), emitting only already-supported single-qualifier
    // forms, so one textual pass serves batch AND streaming, MEASURES
    // AND DEFINE. Every column reference inside a distributed argument
    // must be qualified: with two anchors in play an unqualified
    // column has no row to read from (single-variable expression
    // arguments keep their same-row unqualified semantics via the
    // untouched derived-column machinery). FIRST/LAST over a
    // SINGLE-variable expression distributes too (all refs anchor at
    // the one selected row) — new in round 19 for DEFINE and MEASURES,
    // where only PREV/NEXT and the SUM-family took expression
    // arguments before.
    val navMixed = new NavMixedRewriter(varNames, subsets.map(_._1))
    def distributeNavMixed(owner: String, text: String): String =
      rewriteShielded(text)(
        (seg, lits) => navMixed.rewrite(owner, seg, lits))
    val prevVarRe =
      ("""(?i)(?<!\w)(prev|next)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*""" +
        """(?:,\s*(\d+)\s*)?\)""").r
    // nested var-qualified navigation in DEFINE (round-16 lift):
    // PREV(FIRST|LAST(v.col [, j]), k) navigates k input rows before
    // the FIRST/LAST(-offset-j) bound row instead of the default last
    // one — the same lag column the simple form materializes, read off
    // the selected binding via the FIRST/LAST cross-var markers
    val prevNestedVarRe =
      ("""(?i)(?<!\w)(prev|next)\s*\(\s*(first|last)\s*\(\s*(\w+)""" +
        """\s*\.\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)\s*(?:,\s*(\d+)\s*)?\)""").r
    val prevNestedDetectRe =
      """(?i)(?<!\w)(prev|next)\s*\(\s*(?:first|last)\s*\(""".r
    // SQL:2016 PREV/NEXT over an EXPRESSION (comma/paren-free
    // arithmetic over input columns, e.g. PREV(price * 2, 3)): the
    // expression materializes as a derived input column ahead of the
    // operator and the navigation rides the plain-column lag/lead
    // machinery (batch window; streaming release decorator) — batch
    // AND streaming. The derived columns never reach the output: the
    // ALL ROWS explode carries srcTbl's original column list.
    val navExprAliases =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    val navExprRe =
      ("""(?i)(?<!\w)(prev|next)\s*\(\s*([^(),]*[^\w\s(),][^(),]*?)""" +
        """\s*(?:,\s*(\d+)\s*)?\)""").r
    // the nested form with an EXPRESSION argument —
    // PREV(FIRST(a.price * 2)[, k]) — derives the same input column
    // and rides the nested var-qualified pre-pass
    val navNestedExprRe =
      ("""(?i)(?<!\w)(prev|next)\s*\(\s*(first|last)\s*\(\s*""" +
        """([^(),]+?)\s*(?:,\s*(\d+)\s*)?\)\s*(?:,\s*(\d+)\s*)?\)""").r
    // Classify a navigation expression argument: None = the pure
    // var.col form (NOT an expression — leave it for the defs2
    // var-qualified pre-pass); Some(target) = the derived-column
    // target, qualifier-prefixed when the expression references ONE
    // pattern variable or ONE SUBSET union (qualified and unqualified
    // columns read the SAME row). A qualifier that is neither, or a
    // mix of two, is rejected with the actual reason. Identifier
    // qualifiers only — a decimal literal's dot (2.5) is a fraction
    // point.
    def navExprTarget(owner: String, fn: String, inner: String,
        lits: scala.collection.Seq[String]): Option[String] = {
      if (inner.matches("""(?s)\w+\s*\.\s*\w+""")) None
      else {
        val quals =
          """(?i)(?<![\w.])([A-Za-z_]\w*)\s*\.\s*(?=[A-Za-z_])""".r
            .findAllMatchIn(inner).map(_.group(1)).toSeq
        val bad = quals.filterNot(q =>
          patVarSet(q.toLowerCase) || subsetSet(q.toLowerCase))
        require(bad.isEmpty,
          s"DEFINE $owner: $fn(${unshieldLiterals(inner, lits)}) — " +
            s"'${bad.head}' is not a " +
            s"PATTERN variable (have: ${varNames.mkString(", ")})")
        val vars = quals.map(_.toLowerCase).distinct
        require(vars.length <= 1,
          s"DEFINE $owner: $fn(${unshieldLiterals(inner, lits)}) — " +
            "a PREV/NEXT expression may " +
            "reference ONE pattern variable or ONE SUBSET union " +
            "(navigation anchors at that qualifier's bound row); " +
            "mixing variables is undefined")
        val stripped = vars.headOption match {
          case Some(v) =>
            (s"(?i)(?<![\\w.])$v\\s*\\.\\s*(\\w+)").r
              .replaceAllIn(inner, "`$1`")
          case None => inner
        }
        // the alias map keys/values persist past the unshield and are
        // compiled as input-column SQL — restore their literals NOW
        val alias = navExprAliases.getOrElseUpdate(
          unshieldLiterals(stripped, lits),
          s"_mr_navx_${navExprAliases.size}")
        Some(vars.headOption match {
          case Some(v) =>
            val canon = varNames.find(_.toLowerCase == v)
              .orElse(subsets.map(_._1).find(_.toLowerCase == v)).get
            s"$canon.$alias"
          case None => alias
        })
      }
    }
    def hasQualRef(inner: String): Boolean =
      """(?i)(?<![\w.])[A-Za-z_]\w*\s*\.\s*[A-Za-z_]""".r
        .findFirstIn(inner).isDefined
    def univAlias(inner: String,
        lits: scala.collection.Seq[String]): String =
      navExprAliases.getOrElseUpdate(unshieldLiterals(inner, lits),
        s"_mr_navx_${navExprAliases.size}")
    // flat FIRST/LAST over an unqualified EXPRESSION — the ISO
    // universal anchor (round 19): the expression derives an input
    // column and the selection folds over the implicit all-variables
    // SUBSET's merged binding order. The bounded lookbehind skips a
    // selector already inside PREV/NEXT (the nested pass owns those).
    val univFlatRe =
      ("""(?i)(?<!(?:prev|next)\s{0,9}\(\s{0,9})(?<!\w)(first|last)""" +
        """\s*\(\s*([^(),]*[^\w\s(),][^(),]*?)\s*(?:,\s*(\d+)\s*)?\)""").r
    def normNavExpr(owner: String, text: String): String =
      rewriteShielded(text) { (seg0, lits) =>
        val seg = navNestedExprRe.replaceAllIn(seg0, mm => {
          val inner = wsTrim(mm.group(3))
          // an unqualified expression anchors at the UNIVERSAL
          // variable (round 19 — formerly the targeted nested-form
          // rejection): all rows of the match, via the implicit
          // all-variables SUBSET
          val hasQual = hasQualRef(inner)
          if (!hasQual) {
            val jOff = Option(mm.group(4)).map(o => s", $o")
              .getOrElse("")
            val kOff = Option(mm.group(5)).map(o => s", $o")
              .getOrElse("")
            java.util.regex.Matcher.quoteReplacement(
              s"${mm.group(1)}(${mm.group(2)}($UnivVar." +
                s"${univAlias(inner, lits)}$jOff)$kOff)")
          }
          else navExprTarget(owner,
              s"${mm.group(1)}(${mm.group(2)}(...))", inner,
              lits) match {
            case None =>
              java.util.regex.Matcher.quoteReplacement(mm.matched)
            case Some(target) =>
              val jOff = Option(mm.group(4)).map(o => s", $o")
                .getOrElse("")
              val kOff = Option(mm.group(5)).map(o => s", $o")
                .getOrElse("")
              java.util.regex.Matcher.quoteReplacement(
                s"${mm.group(1)}(${mm.group(2)}($target$jOff)$kOff)")
          }
        })
        val seg2 = navExprRe.replaceAllIn(seg, mm => {
          val inner = wsTrim(mm.group(2))
          navExprTarget(owner, mm.group(1), inner, lits) match {
            case None =>
              // the pure var.col form is the SQL:2016 var-qualified
              // navigation, handled by the defs2 pre-pass
              java.util.regex.Matcher.quoteReplacement(mm.matched)
            case Some(target) =>
              val off = Option(mm.group(3)).map(o => s", $o")
                .getOrElse("")
              java.util.regex.Matcher.quoteReplacement(
                s"${mm.group(1)}($target$off)")
          }
        })
        univFlatRe.replaceAllIn(seg2, mm => {
          val inner = wsTrim(mm.group(2))
          if (hasQualRef(inner))
            java.util.regex.Matcher.quoteReplacement(mm.matched)
          else {
            val off = Option(mm.group(3)).map(o => s", $o")
              .getOrElse("")
            java.util.regex.Matcher.quoteReplacement(
              s"${mm.group(1)}($UnivVar.${univAlias(inner, lits)}$off)")
          }
        })
      }
    // Aggregate-over-EXPRESSION arguments in DEFINE (round-15 lift):
    // `SUM(b.x * b.y) < k` — comma/paren-free arithmetic of ONE
    // pattern variable's row. Same trick as PREV/NEXT expressions: the
    // expression materializes as a derived input column (a codegen'd
    // per-row projection, batch AND streaming) and the aggregate rides
    // the existing single-column running-marker machinery untouched —
    // `SUM(b._mr_xagg_0)`. Unqualified columns inside the argument
    // read the SAME row as the qualified ones (b.x * qty ≡ b.x * b.qty).
    // SUBSET-qualified or multi-variable arguments fall through to the
    // targeted rejection below.
    val aggExprAliases =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    val defAggExprRe =
      ("""(?i)(?<!\w)(sum|avg|min|max|count)\s*\(\s*""" +
        """([^()]*?\w+\s*\.\s*\w+[^()]*?)\s*\)""").r
    def normAggExpr(owner: String, text: String): String =
      rewriteShielded(text) { (seg, lits) =>
        defAggExprRe.replaceAllIn(seg, mm => {
          val fn = mm.group(1)
          val arg = wsTrim(mm.group(2))
          val quals = """(?i)(?<![\w.])(\w+)\s*\.\s*\w+""".r
            .findAllMatchIn(arg).map(_.group(1).toLowerCase).toSeq
          val boundQuals = quals.filter(q =>
            patVarSet(q) || subsetSet(q)).distinct
          val plain = arg.matches("""(?is)\w+\s*\.\s*\w+""")
          if (plain || boundQuals.isEmpty || boundQuals.length > 1)
            // plain single column (the marker fast path) or
            // multi-variable (targeted rejection below): leave for
            // the dedicated machinery
            java.util.regex.Matcher.quoteReplacement(mm.matched)
          else {
            // ONE pattern variable — or ONE SUBSET union (round-16
            // lift): the expression materializes as a derived input
            // column either way; a subset-qualified result then rides
            // the per-member expansion untouched (SUM(s.x*s.y) =
            // sum of per-member SUMs over the SAME derived column,
            // since the members' slots are disjoint)
            val v = boundQuals.head
            val canon = varNames.find(_.toLowerCase == v)
              .orElse(subsets.map(_._1).find(_.toLowerCase == v)).get
            val inner = (s"(?i)(?<![\\w.])$v\\s*\\.\\s*(\\w+)").r
              .replaceAllIn(arg, "`$1`")
            // the alias map persists past the unshield and compiles
            // as input-column SQL — restore its literals now
            val alias = aggExprAliases.getOrElseUpdate(
              unshieldLiterals(inner, lits),
              s"_mr_xagg_${aggExprAliases.size}")
            java.util.regex.Matcher.quoteReplacement(
              s"$fn($canon.$alias)")
          }
        })
      }
    val defsE = defs.map { case (n, d) =>
      n -> normAggExpr(n, normNavExpr(n,
        distributeNavMixed(s"DEFINE $n", d))) }
    val src =
      (navExprAliases ++ aggExprAliases).foldLeft(srcTbl) {
        case (d, (ex, al)) =>
          d.withColumn(al, org.apache.spark.sql.functions.expr(ex))
      }
    val lagSpecs =
      scala.collection.mutable.LinkedHashMap.empty[(String, String, Int), String]
    // Cross-variable DEFINE references — SQL:2016 running semantics
    // while the current row is tentatively mapped to the variable
    // being defined (n):
    //   FIRST(v.c) / LAST(v.c) / bare v.c with v != n → the
    //     first/last event ALREADY bound to v in this partial match
    //     (bare = LAST); NULL while v is unbound. Compiles to the
    //     operator's cvFirst/cvLast context markers.
    //   n.c / LAST(n.c) → the CURRENT row's c (the current row IS the
    //     last row mapped to n while its predicate evaluates);
    //   FIRST(n.c) → the first event already bound to n, or the
    //     current row when none is (first binding of a quantifier).
    def cvMark(fn: String, v: String, c: String): String = {
      // registered lag aliases are legal too: var-qualified PREV/NEXT
      // compiles to a cross-var marker over the materialized lag
      // column (added to the source ahead of the operator)
      require(src.columns.exists(
          session.sessionState.analyzer.resolver(_, c)) ||
          lagSpecs.valuesIterator.contains(c),
        s"cross-variable reference $fn($v.$c): column '$c' not in " +
          s"[${src.columns.mkString(", ")}]")
      s"`${MatchRecognize.CvMarker}`.`$fn`.`$v`.`$c`"
    }
    // running aggregates over a variable's binding (SQL:2016 DEFINE
    // aggregate semantics) ride the same marker machinery: one
    // single-letter token per function, expanded below
    val cvFns = Seq("first" -> "F", "last" -> "L", "sum" -> "S",
      "avg" -> "A", "count" -> "C", "min" -> "M", "max" -> "X")
    def rewriteCrossVar(n: String, d: String): String =
      rewriteOutsideLiterals(d) { seg0 =>
        var seg = seg0
        for (v <- varNames) {
          // SQL:2016 logical offsets FIRST/LAST(v.c, k): the token
          // carries the offset digits; rewritten BEFORE the plain and
          // bare-var rules so the inner v.c is never consumed by them
          for ((fn, tok) <- Seq("first" -> "F", "last" -> "L"))
            seg = seg.replaceAll(
              s"(?i)(?<!\\w)$fn\\s*\\(\\s*$v\\.(\\w+)\\s*,\\s*" +
                """(\d+)\s*\)""",
              java.util.regex.Matcher.quoteReplacement("" + tok) +
                "$2:" + v + ":$1")
          for ((fn, tok) <- cvFns)
            seg = seg.replaceAll(
              s"(?i)(?<!\\w)$fn\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
              java.util.regex.Matcher.quoteReplacement("" + tok +
                ":" + v + ":") + "$1")
          seg = seg.replaceAll(s"(?i)(?<!\\w)$v\\.(\\w+)",
            java.util.regex.Matcher.quoteReplacement("L:" + v + ":") +
              "$1")
        }
        // expand the placeholder tokens (two-phase so a replacement
        // can never be re-matched as a variable reference). For the
        // variable being defined (v == n) the current row is
        // tentatively its LAST binding, so running aggregates fold
        // the current row's value into the prior-binding marker.
        """([FLSACMX])(\d*):(\w+):(\w+)""".r.replaceAllIn(seg, mm => {
          val (fn, off, v, c) =
            (mm.group(1), mm.group(2), mm.group(3), mm.group(4))
          val own = v == n
          def sumOwn =
            s"(case when ${cvMark("sum", v, c)} is null then `$c` " +
              s"when `$c` is null then ${cvMark("sum", v, c)} " +
              s"else ${cvMark("sum", v, c)} + `$c` end)"
          def countOwn =
            s"(${cvMark("count", v, c)} + " +
              s"(case when `$c` is null then 0 else 1 end))"
          // navigation offsets. On OTHER variables the bindings are
          // settled rows and the marker indexes them directly. On the
          // variable BEING DEFINED the current row is tentatively its
          // last binding (SQL:2016 RUNNING semantics), so LAST(n.c, k)
          // shifts to the prior bindings' last(k-1) and LAST(n.c, 0)
          // is the current row itself; FIRST(n.c, k) is the prior
          // k-th binding when it exists, the current row when the
          // offset lands exactly on it (binding count == k, via the
          // `size` context fn), NULL past it.
          val out = if (off.nonEmpty && own) {
            val k = try off.toInt catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"DEFINE $n: navigation offset out of range: $off")
            }
            if (fn == "L") {
              if (k == 0) s"`$c`"
              else cvMark("last" + (k - 1), v, c)
            } else
              s"coalesce(${cvMark("first" + off, v, c)}, " +
                s"(case when ${cvMark("size", v, c)} = $k " +
                s"then `$c` end))"
          } else if (off.nonEmpty)
            cvMark((if (fn == "F") "first" else "last") + off, v, c)
          else fn match {
            case "L" => if (own) s"`$c`" else cvMark("last", v, c)
            case "F" =>
              if (own) s"coalesce(${cvMark("first", v, c)}, `$c`)"
              else cvMark("first", v, c)
            case "S" => if (own) sumOwn else cvMark("sum", v, c)
            case "C" => if (own) countOwn else cvMark("count", v, c)
            case "M" =>
              if (own) s"least(${cvMark("min", v, c)}, `$c`)"
              else cvMark("min", v, c)
            case "X" =>
              if (own) s"greatest(${cvMark("max", v, c)}, `$c`)"
              else cvMark("max", v, c)
            case _ =>
              if (own)
                s"(cast($sumOwn as double) / nullif($countOwn, 0))"
              else cvMark("avg", v, c)
          }
          java.util.regex.Matcher.quoteReplacement(out)
        })
      }
    // SQL:2016 SUBSET union variables in DEFINE: an aggregate over a
    // union variable expands textually into per-member aggregates
    // (disjoint slots, so SUM = sum of sums, COUNT = count of counts,
    // MIN/MAX = least/greatest with SQL null-skip, AVG = composite
    // sum over composite count) — each member reference then goes
    // through the normal cross-var rewrite, including the own-variable
    // current-row folding when the defined variable is a member.
    // FIRST/LAST/bare fold the merged (ts, tie) binding order as a
    // least/greatest over per-member (ts, tie, value) structs —
    // unbound members coalesce to the losing infinity, so the
    // earliest/latest SETTLED binding's value wins (NULL when the
    // whole union is unbound). Offset forms still fail fast (a global
    // merged index needs the interleaving, not just the extremes).
    def expandSubsetDefine(n: String, d: String): String =
      // subsetsU: the universal implicit subset participates here (it
      // is how unqualified navigation anchors fold), so the early-out
      // keys on it being the only entry with no univ references
      if (subsetsU.length == 1 && !d.contains(UnivVar)) d
      else rewriteOutsideLiterals(d) { seg0 =>
        def orderColIntegral(cn: String): Boolean =
          src.schema.fields.find(f =>
            session.sessionState.analyzer.resolver(f.name, cn))
            .map(_.dataType).exists {
              case org.apache.spark.sql.types.ByteType |
                   org.apache.spark.sql.types.ShortType |
                   org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.LongType => true
              case _ => false
            }
        var seg = seg0
        for ((sn, mem) <- subsetsU) {
          // the implicit universal subset never appears in user text —
          // name it by what the user actually wrote in diagnostics
          def snShow(c: String): String =
            if (sn == UnivVar) s"the unqualified (universal) argument " +
              s"deriving column $c" else s"$sn.$c"
          def per(fn: String, c: String): Seq[String] =
            mem.map(m => s"$fn($m.$c)")
          def cnt(c: String): String =
            per("COUNT", c).mkString("(", " + ", ")")
          def navUnion(isF: Boolean, c: String): String = {
            val fn0 = if (isF) "FIRST" else "LAST"
            // a single-member union's merged order IS the member's own
            // order — and least/greatest reject a lone argument (the
            // round-20 univNav fuzz draw found this on one-variable
            // patterns, where the implicit universal SUBSET has one
            // member; a declared SUBSET s = (a) hit it too)
            if (mem.length == 1) return s"$fn0(${mem.head}.$c)"
            require(orderColIntegral(tsCol) && orderColIntegral(tieCol),
              s"DEFINE $n: FIRST/LAST over ${snShow(c)} folds a " +
                s"merged binding order and needs integral ORDER BY " +
                s"columns (a (ts, tie) least/greatest; " +
                s"$tsCol/$tieCol are not)")
            val cmp = if (isF) "least" else "greatest"
            val inf = if (isF) "9223372036854775807"
              else "-9223372036854775808"
            val fn = if (isF) "FIRST" else "LAST"
            val parts = mem.map(m =>
              s"named_struct('t', coalesce(cast($fn($m.$tsCol) as " +
                s"bigint), $inf), 'e', coalesce(cast($fn($m.$tieCol) " +
                s"as bigint), $inf), 'v', $fn($m.$c))")
            s"$cmp(${parts.mkString(", ")}).`v`"
          }
          // FIRST/LAST(sn.c, k) — the k-th element of the members'
          // MERGED (ts, tie) order (round-15 lift of the extremes-only
          // restriction). Classic bounded two-list selection: the
          // merged k-th smallest lies among each member's first k+1
          // bindings, so the candidates are (k+1)×members per-member
          // offset structs; out-of-range member offsets coalesce to a
          // sentinel that sorts past (FIRST) / before (LAST) every
          // real entry, and a sentinel landing at the selected
          // position yields the standard's out-of-range NULL.
          def navUnionOff(isF: Boolean, c: String, k: Int): String = {
            require(orderColIntegral(tsCol) && orderColIntegral(tieCol),
              s"DEFINE $n: FIRST/LAST offset $k over ${snShow(c)} " +
                "sorts a merged binding order and needs integral " +
                s"ORDER BY columns ((ts, tie) structs; " +
                s"$tsCol/$tieCol are not)")
            require(k <= 19,
              s"DEFINE $n: FIRST/LAST offset $k over ${snShow(c)} — " +
                "merged-order offsets are supported up to 19 (the " +
                "selection expands (offset+1) x members running " +
                "markers)")
            val inf = if (isF) "9223372036854775807"
              else "-9223372036854775808"
            val fn = if (isF) "FIRST" else "LAST"
            val parts = for (m <- mem; i <- 0 to k) yield
              s"named_struct('t', coalesce(cast($fn($m.$tsCol, $i) " +
                s"as bigint), $inf), 'e', coalesce(cast(" +
                s"$fn($m.$tieCol, $i) as bigint), $inf), " +
                s"'v', $fn($m.$c, $i))"
            val arr = s"array_sort(array(${parts.mkString(", ")}))"
            val pos = if (isF) (k + 1).toString
              else (mem.length * (k + 1) - k).toString
            s"element_at($arr, $pos).`v`"
          }
          seg = (s"(?i)(?<!\\w)(first|last)\\s*\\(\\s*$sn\\s*\\.\\s*" +
            """(\w+)\s*,\s*(\d+)\s*\)""").r.replaceAllIn(seg, mm => {
            java.util.regex.Matcher.quoteReplacement(navUnionOff(
              mm.group(1).equalsIgnoreCase("first"), mm.group(2),
              mm.group(3).toInt))
          })
          seg = (s"(?i)(?<!\\w)(\\w+)\\s*\\(\\s*$sn\\s*\\.\\s*" +
            """(\w+)\s*\)""").r.replaceAllIn(seg, mm => {
            val c = mm.group(2)
            val out = mm.group(1).toLowerCase match {
              case "count" => cnt(c)
              case "sum" =>
                s"(CASE WHEN ${cnt(c)} = 0 THEN NULL ELSE " +
                  per("SUM", c).map(x => s"coalesce($x, 0)")
                    .mkString("", " + ", " END)")
              case "min" =>
                if (mem.length == 1) s"MIN(${mem.head}.$c)"
                else per("MIN", c).mkString("least(", ", ", ")")
              case "max" =>
                if (mem.length == 1) s"MAX(${mem.head}.$c)"
                else per("MAX", c).mkString("greatest(", ", ", ")")
              case "avg" =>
                s"(CASE WHEN ${cnt(c)} = 0 THEN NULL ELSE cast(" +
                  per("SUM", c).map(x => s"coalesce($x, 0)")
                    .mkString("", " + ", "") +
                  s" AS DOUBLE) / ${cnt(c)} END)"
              case "first" => navUnion(isF = true, c)
              case "last" => navUnion(isF = false, c)
              case other => throw new IllegalArgumentException(
                s"DEFINE $n: $other($sn.$c) — only the aggregates " +
                  "SUM/AVG/COUNT/MIN/MAX and FIRST/LAST compose over " +
                  "a SUBSET union variable in DEFINE")
            }
            java.util.regex.Matcher.quoteReplacement(out)
          })
          // bare subset reference = RUNNING LAST over the union
          seg = (s"(?i)(?<!\\w)$sn\\.(\\w+)").r.replaceAllIn(seg, mm =>
            java.util.regex.Matcher.quoteReplacement(
              navUnion(isF = false, mm.group(1))))
        }
        seg
      }
    // expression aggregates of ONE pattern variable were already
    // rewritten to derived single columns (normAggExpr); what remains
    // here is the unsupported residue — a SUBSET-qualified expression
    // argument (the union aggregates take a single column) or an
    // argument mixing several variables (zip semantics across two
    // bindings are undefined) — reject with the actual reason
    locally {
      val aggExprRe =
        ("""(?i)(?<!\w)(sum|avg|min|max|count)\s*\(\s*""" +
          """([^()]*?\w+\s*\.\s*\w+[^()]*?)\s*\)""").r
      val bindNames = (varNames ++ subsets.map(_._1)).map(_.toLowerCase)
        .toSet
      defsE.foreach { case (n, d) =>
        aggExprRe.findAllMatchIn(maskLiterals(d)).foreach { mm =>
          val arg = mm.group(2).trim
          val qualRe = """(?i)(\w+)\s*\.\s*\w+""".r
          val refsBound = qualRe.findAllMatchIn(arg)
            .exists(q => bindNames(q.group(1).toLowerCase))
          val plain = arg.matches("""(?is)\w+\s*\.\s*\w+""")
          // masked positions == original positions, so the message can
          // quote the user's argument with its literals intact
          val argShow = d.substring(mm.start(2), mm.end(2)).trim
          require(!refsBound || plain,
            s"DEFINE $n: ${mm.group(1)}($argShow) — an aggregate " +
              "argument in DEFINE may be an expression of ONE " +
              "pattern variable's or ONE SUBSET union's row " +
              "(SUM(b.x * b.y), SUM(s.x * s.y)); mixing variables " +
              "in one argument is undefined (aggregate each " +
              "variable separately)")
        }
      }
    }
    def lagAliasOf(kind: String, c: String, k: Int): String = {
      require(src.columns.exists(
          session.sessionState.analyzer.resolver(_, c)),
        s"PREV/NEXT column '$c' not in " +
          s"[${src.columns.mkString(", ")}]")
      lagSpecs.getOrElseUpdate((kind, c, k), s"_mr_${kind}_${c}_$k")
    }
    val defs2 = defsE.map { case (n, d0) =>
      // var-qualified navigation FIRST (before the cross-variable
      // rewrite would consume the qualifier): PREV(v.col, k) becomes
      // the bare cross-var reference v.<lag alias> (= LAST; on the
      // variable being defined, the current row)
      val dNav = rewriteOutsideLiterals(d0) { seg0 =>
        // the qualifier may also be a SUBSET union (round-16 lift):
        // PREV(s.col, k) navigates from the union's merged-LAST bound
        // row, PREV(FIRST(s.col), k) from the merged-first — the same
        // lag column, folded through the union FIRST/LAST expansion
        // (expandSubsetDefine's (ts, tie, value)-struct election)
        def canonOf(v: String, what: => String): Either[String, String] =
          varNames.find(_.equalsIgnoreCase(v)).map(Left(_)).getOrElse(
            subsetsU.map(_._1).find(_.equalsIgnoreCase(v))
              .map(Right(_)).getOrElse(
                throw new IllegalArgumentException(
                  s"DEFINE $n: $what — '$v' is not a PATTERN " +
                    s"variable or SUBSET union (have: ${
                      varNames.mkString(", ")}${
                      if (subsets.nonEmpty)
                        s"; subsets: ${subsets.map(_._1).mkString(", ")}"
                      else ""})")))
        val seg = prevNestedVarRe.replaceAllIn(seg0, mm => {
          val kind = mm.group(1).toLowerCase
          val sel = mm.group(2).toLowerCase
          val v = mm.group(3)
          val c = mm.group(4)
          val j = Option(mm.group(5))
          val k = Option(mm.group(6)).map(_.toInt).getOrElse(1)
          val canon = canonOf(v, s"$kind($sel($v.$c))").merge
          // k = 0 is the selected bound row itself — no lag column
          val navCol = if (k == 0) c else lagAliasOf(kind, c, k)
          val jOff = j.map(o => s", $o").getOrElse("")
          java.util.regex.Matcher.quoteReplacement(
            s"$sel($canon.$navCol$jOff)")
        })
        if (prevNestedDetectRe.findFirstIn(seg).isDefined)
          throw new IllegalArgumentException(
            s"DEFINE $n: nested navigation takes " +
              "PREV(FIRST|LAST(arg[, j])[, k]) with literal offsets " +
              "and a comma/paren-free arg — a var-/SUBSET-qualified " +
              "column, a qualified expression, a mixed-variable " +
              "expression (distributed per qualifier), or an " +
              "unqualified expression (the universal anchor)")
        prevVarRe.replaceAllIn(seg, mm => {
          val kind = mm.group(1).toLowerCase
          val v = mm.group(2)
          val c = mm.group(3)
          val k = Option(mm.group(4)).map(_.toInt).getOrElse(1)
          val alias = lagAliasOf(kind, c, k)
          canonOf(v, s"$kind($v.$c)") match {
            case Left(varCanon) =>
              java.util.regex.Matcher.quoteReplacement(
                s"$varCanon.$alias")
            case Right(subCanon) =>
              // bare subset reference = RUNNING LAST over the union
              java.util.regex.Matcher.quoteReplacement(
                s"$subCanon.$alias")
          }
        })
      }
      val d = rewriteCrossVar(n, expandSubsetDefine(n, dNav))
      n -> rewriteOutsideLiterals(d) { seg =>
        prevRe.replaceAllIn(seg, mm => {
          val kind = mm.group(1).toLowerCase
          val c = mm.group(2)
          val k = Option(mm.group(3)).map(_.toInt).getOrElse(1)
          val alias = lagAliasOf(kind, c, k)
          java.util.regex.Matcher.quoteReplacement(s"`$alias`")
        })
      }
    }
    // a FIRST/LAST offset whose qualifier survived the cross-var
    // rewrite is not a pattern variable (e.g. a SUBSET union name) —
    // without this check it would reach Spark's parser as the
    // two-argument first(expr, ignoreNulls) aggregate and die with an
    // unrelated analysis error
    val leftoverOffRe =
      """(?i)(?<!\w)(first|last)\s*\(\s*\w+\s*\.\s*\w+\s*,""".r
    defs2.foreach { case (n, d) =>
      if (leftoverOffRe.findFirstIn(maskLiterals(d)).isDefined)
        throw new IllegalArgumentException(
          s"DEFINE $n: FIRST/LAST offsets in DEFINE take a PATTERN " +
            "variable or SUBSET union qualifier")
    }
    // anchors: AND the partition-boundary predicate onto the edge
    // variable's DEFINE via the lag machinery — PREV(ts,1) IS NULL is
    // the first row per key, NEXT(ts,1) IS NULL the last
    val defs3 = {
      var m = defs2
      anchorHeadVar.foreach { v =>
        val alias = lagSpecs.getOrElseUpdate(("prev", tsCol, 1),
          s"_mr_prev_${tsCol}_1")
        m = m.updated(v, s"(${m(v)}) AND `$alias` IS NULL")
      }
      anchorTailVar.foreach { v =>
        // round-19 lift: on a stream the '$' anchor is decidable at
        // the key's QUIESCENCE horizon — once the watermark passes a
        // row's ts + WITHIN, no successor inside any match window that
        // could end at the row has appeared, so for matching purposes
        // the partition has ended there (the step kernel force-feeds
        // the NEXT hold-back at that fence and missing successors read
        // NULL — the same lead-IS-NULL predicate as batch). Without
        // WITHIN there is no fence, so the anchor stays rejected.
        // Documented divergence (DIALECT.md): a successor arriving
        // MORE than WITHIN past the row starts a new epoch — batch
        // over the same finite data would reject the earlier row.
        if (src.isStreaming) require(within.isDefined,
          "'$' end anchor over a streaming table needs a WITHIN " +
            "bound: the anchor resolves at the key's quiescence " +
            "horizon (no successor row by ts + WITHIN, decided when " +
            "the watermark passes it); a plain stream's partition " +
            "has no last row")
        val alias = lagSpecs.getOrElseUpdate(("next", tsCol, 1),
          s"_mr_next_${tsCol}_1")
        m = m.updated(v, s"(${m(v)}) AND `$alias` IS NULL")
      }
      m
    }

    // SQL:2016 PREV/NEXT navigation in MEASURES: `PREV(v.col[, n])` is
    // the value n input rows BEFORE the row v resolves to (its last
    // binding; RUNNING: last-so-far) in the FULL partition — not just
    // bound rows. The lag/lead columns register HERE, before the
    // operator assembles, so the binding structs (full child rows)
    // carry them and MEASURES read them off the bound row. Streaming:
    // the release decorator embeds the same lag values in the event
    // payload and the operator keeps them in the emitted slot structs
    // (streamingFull's exposeLags), so one rewrite serves both.
    val subsetNamesLight: Set[String] = subsets.map(_._1).toSet
    // mixed-variable navigation in MEASURES distributes FIRST (round
    // 19), so the nav scan below and every per-variable rewrite see
    // only single-qualifier forms
    val measuresTxt: Option[String] =
      sec.get("measures").map(distributeNavMixed("MEASURES", _))
    var hasMeasNav = false
    // nested form PREV(FIRST(v.col)[, n]) navigates from the FIRST
    // (or explicitly LAST) bound row instead of the default last one
    val measNavNestedRe =
      ("""(?i)(?<!\w)(prev|next)\s*\(\s*(first|last)\s*\(\s*(\w+)""" +
        """\s*\.\s*(\w+)\s*\)\s*(?:,\s*(\d+)\s*)?\)""").r
    val measNavRe =
      ("""(?i)(?<!\w)(prev|next)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*""" +
        """(?:,\s*(\d+)\s*)?\)""").r
    measuresTxt.foreach { mtxt =>
      val masked = maskLiterals(mtxt)
      val navs = measNavNestedRe.findAllMatchIn(masked)
        .map(mm => (mm.group(1), mm.group(3), mm.group(4),
          Option(mm.group(5)))).toList ++
        measNavRe.findAllMatchIn(masked)
          .map(mm => (mm.group(1), mm.group(2), mm.group(3),
            Option(mm.group(4)))).toList
      if ("""(?i)(?<!\w)(prev|next)\s*\(""".r
          .findAllMatchIn(masked).size > navs.length)
        throw new IllegalArgumentException(
          "PREV/NEXT in MEASURES take 'PREV(var.col[, n])' or " +
            "'PREV(FIRST|LAST(var.col)[, n])' with a literal offset " +
            "— navigation starts at the pattern variable's bound " +
            "row, so the column must be var-qualified")
      hasMeasNav = navs.nonEmpty
      navs.foreach { case (kind0, v, c, kOpt) =>
        require(varNames.contains(v) || subsetNamesLight.contains(v),
          s"PREV/NEXT in MEASURES: '$v' is not a pattern variable " +
            "or SUBSET name")
        require(src.columns.exists(
            session.sessionState.analyzer.resolver(_, c)),
          s"PREV/NEXT column '$c' not in " +
            s"[${src.columns.mkString(", ")}]")
        val kind = kind0.toLowerCase
        val k = kOpt.map(_.toInt).getOrElse(1)
        if (k > 0)
          lagSpecs.getOrElseUpdate((kind, c, k), s"_mr_${kind}_${c}_$k")
      }
    }

    def pred(n: String): Column =
      GraftSqlBridge.column(delegate.parseExpression(defs3(n)))
    val elems = patElems.map(e =>
      MatchRecognize.Elem(e, e.occurrences.map(pred)))
    // batch: PREV/NEXT precompute as lag/lead columns sharing the
    // operator's shuffle+sort; streaming: they feed from the watermark
    // buffer's release order (streamingFull's lagSpecs / Neighborhood)
    val srcM =
      if (lagSpecs.isEmpty || src.isStreaming) src
      else {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{lag, lead}
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(tsCol), col(tieCol))
        lagSpecs.foldLeft(src) { case (d, ((kind, c, k), alias)) =>
          d.withColumn(alias,
            if (kind == "prev") lag(col(c), k).over(w)
            else lead(col(c), k).over(w))
        }
      }
    // MATCH_NUMBER() detection runs before the operator dispatch: the
    // streaming operator must be asked to number matches (a stamped
    // `match_seq` output column), while batch numbers post-operator
    // with a window function.
    val mnRe = """(?i)(?<!\w)match_number\s*\(\s*\)""".r
    val usesMn = measuresTxt.exists(t =>
      mnRe.findFirstIn(maskLiterals(t)).isDefined)
    val matched =
      if (src.isStreaming) {
        val evc = sec.getOrElse("eventtime",
          throw new IllegalArgumentException(
            "MATCH_RECOGNIZE over a STREAMING table needs an " +
              "EVENTTIME <watermarked timestamp column> clause")).trim
        val tsScale = sec.get("tsscale").map(_.trim.toLong).getOrElse(1L)
        if (unmatchedRows) require(within.isDefined,
          "WITH UNMATCHED ROWS over a streaming table needs a WITHIN " +
            "bound (the horizon after which a row can no longer join " +
            "any match)")
        if (usesMn) require(within.isDefined,
          "MATCH_NUMBER() over a streaming table needs a WITHIN " +
            "bound: numbering follows (match_start, match_end) order, " +
            "so each completed match waits for every earlier-starting " +
            "partial to complete or expire, and only WITHIN bounds " +
            "that wait")
        // opt-in STRICT checkpoint guard (round 19, r18 VERDICT item
        // 3): fold the normalized DEFINE predicate sources, skip mode,
        // WITHIN and matching mode into the stored state fingerprint,
        // so a DIFFERENT query with the same compiled automaton shape
        // pointed at the same checkpointLocation fails the restore
        // instead of silently adopting the old partials. Off by
        // default: behavior-only knobs changing under one
        // checkpointLocation keeps Structured Streaming's standard
        // query-evolution semantics (documented in DIALECT.md).
        val strictRestore = session.conf
          .get("spark.graft.matchRecognize.strictRestore", "false")
          .toBoolean
        val restoreSalt =
          if (!strictRestore) 0L
          else {
            val norm = new StringBuilder
            defs3.toSeq.sortBy(_._1).foreach { case (dn, dt) =>
              norm.append(dn.toLowerCase).append('=')
                .append(dt.toLowerCase.replaceAll("\\s+", " ").trim)
                .append(';')
            }
            norm.append("skipPast=").append(skipPastLast)
              .append(";skipTo=").append(skipToVar)
              .append(";within=").append(within)
              .append(";mode=").append(strictMode)
            var h = 0xcbf29ce484222325L
            var i = 0
            while (i < norm.length) {
              h ^= norm.charAt(i); h *= 0x100000001b3L; i += 1
            }
            if (h == 0L) 1L else h
          }
        MatchRecognize.streamingFull(src, keys, tsCol, tieCol, elems, evc,
          within, tsScale = tsScale, skipPastLastRow = skipPastLast,
          lagSpecs = lagSpecs.keys.toSeq, skipToVar = skipToVar,
          skipToMembers = skipToMembers,
          withUnmatched = unmatchedRows, reluctantVars = reluctantVars,
          withMatchSeq = usesMn, exposeLags = hasMeasNav,
          strictAll = strictMode,
          nextFlushWithin =
            if (anchorTailVar.isDefined) within else None,
          restoreSalt = restoreSalt)
      } else {
        require(!sec.contains("eventtime"),
          "EVENTTIME is only valid over streaming tables")
        // TSSCALE is allowed on batch solely as the WITHIN INTERVAL
        // conversion factor
        MatchRecognize(srcM, keys, tsCol, tieCol, elems, within,
          skipPastLastRow = skipPastLast, skipToVar = skipToVar,
          skipToMembers = skipToMembers,
          reluctantVars = reluctantVars, strictAll = strictMode)
      }

    // MEASURES: textual rewrite of var.col / FIRST/LAST/MIN/MAX
    // (var.col) / COUNT/SUM/AVG aggregates to array accesses over the
    // match columns, then parse as
    // expressions (literals excluded via rewriteOutsideLiterals above).
    // MEASURES is optional in ALL ROWS mode (the exploded events already
    // carry the payload); required in one-row mode (it IS the output)
    // SUBSET w = (a, b): SQL:2016 union variables — measure-only names
    // whose binding is the union of their members' events in (ts, tie)
    // order (an array_sort over the concatenated slot arrays; a
    // single-member subset aliases the member directly)
    def unionSql(members: Seq[String]): String =
      if (members.length == 1) s"`${members.head}`"
      else s"array_sort(concat(${members.map(m => s"`$m`").mkString(", ")})," +
        s" (_mr_l, _mr_r) -> case" +
        s" when _mr_l.`$tsCol` < _mr_r.`$tsCol` then -1" +
        s" when _mr_l.`$tsCol` > _mr_r.`$tsCol` then 1" +
        s" when _mr_l.`$tieCol` < _mr_r.`$tieCol` then -1" +
        s" when _mr_l.`$tieCol` > _mr_r.`$tieCol` then 1 else 0 end)"
    // measure-name bindings: subsets first (their names are disjoint
    // from variables by construction), each mapping to the SQL text of
    // its event array
    val measureBindings: Seq[(String, String)] =
      subsets.map { case (n, mem) => n -> unionSql(mem) } ++
        varNames.map(v => v -> s"`$v`")

    val measureSrc =
      if (allRows) measuresTxt
      else Some(measuresTxt.getOrElse(throw new IllegalArgumentException(
        "MATCH_RECOGNIZE needs a MEASURES clause")))
    val runRe = """(?is)^running\s+(.+)$""".r
    val parsedMeasures = measureSrc.toSeq.flatMap(splitTopLevel(_, ','))
      .map { mm =>
        val asRe = """(?is)(.+)\s+as\s+(\w+)""".r
        val (exprTxt, alias) = mm.trim match {
          case asRe(e, a) => (e.trim, a)
          case other => throw new IllegalArgumentException(
            s"MEASURES entries need 'expr AS name': $other")
        }
        // the explicit FINAL prefix is the default semantics — accept
        // and strip it (SQL:2016 spells FINAL LAST(...) etc.); a
        // RUNNING prefix in ONE ROW PER MATCH mode is likewise an
        // alias for FINAL (the standard: the one output row IS the
        // final row, where RUNNING and FINAL coincide)
        val finRe = """(?is)^final\s+(.+)$""".r
        exprTxt match {
          case runRe(inner) => (alias, inner.trim, allRows)
          case finRe(inner) => (alias, inner.trim, false)
          case _ => (alias, exprTxt, false)
        }
      }.map { case (alias, t, running) =>
        // CLASSIFIER(): the variable that bound the row. ALL ROWS: the
        // per-row value — rides the post-explode (running) stage where
        // the exploded `classifier` column exists. ONE ROW: the
        // variable binding the match's LAST row — a greatest() fold
        // over per-variable (last ts, last tie, name) structs, the
        // same trick the SUBSET union extremes use.
        val clRe = """(?i)(?<!\w)classifier\s*\(\s*\)""".r
        if (clRe.findFirstIn(maskLiterals(t)).isEmpty) (alias, t, running)
        else if (allRows)
          (alias, clRe.replaceAllIn(t, "`classifier`"), true)
        else {
          def integralCol(cn: String): Boolean =
            src.schema.fields.find(f =>
              session.sessionState.analyzer.resolver(f.name, cn))
              .map(_.dataType).exists {
                case org.apache.spark.sql.types.ByteType |
                     org.apache.spark.sql.types.ShortType |
                     org.apache.spark.sql.types.IntegerType |
                     org.apache.spark.sql.types.LongType => true
                case _ => false
              }
          require(varNames.length == 1 ||
              (integralCol(tsCol) && integralCol(tieCol)),
            s"measure '$alias': CLASSIFIER() in ONE ROW PER MATCH " +
              "folds the last-row election over integral ORDER BY " +
              s"columns; $tsCol/$tieCol are not")
          val parts = varNames.map(v =>
            s"named_struct('t', coalesce(cast(try_element_at(`$v`, -1)" +
              s".`$tsCol` as bigint), -9223372036854775808), " +
              s"'e', coalesce(cast(try_element_at(`$v`, -1)" +
              s".`$tieCol` as bigint), -9223372036854775808), " +
              s"'c', '$v')")
          val cls =
            if (varNames.length == 1) s"'${varNames.head}'"
            else s"greatest(${parts.mkString(", ")}).`c`"
          (alias, clRe.replaceAllIn(t,
            java.util.regex.Matcher.quoteReplacement(cls)), running)
        }
      }
    // MATCH_NUMBER(): sequential number of the match within its
    // partition (1-based, leftmost-first). Same-span alternatives of
    // one attempt (every-mode emission) tie on (start, end), so the
    // order adds each slot's binding count (declaration order,
    // fewer-first) as tiebreakers — span + count profile pins every
    // shape the batch fuzz emits; the residual tie (equal span AND
    // equal per-slot counts, e.g. two PERMUTE orders over the same
    // rows) keeps an unspecified stable-partition order, documented
    // in DIALECT.md. Batch: a
    // post-operator window over the match relation (the operator's
    // output is already hash-partitioned on the keys, so the planner
    // adds only a local sort, no extra shuffle). Streaming: the
    // operator stamps a `match_seq` column — [[Cep.step]] holds each
    // completed match until no earlier-starting live work remains, so
    // the numbers equal the batch order at the cost of bounded added
    // latency (the WITHIN horizon) and a permanent per-key counter.
    // FINAL by nature (constant across the match), so a RUNNING
    // MATCH_NUMBER is rejected with the reason.
    if (usesMn) {
      parsedMeasures.filter(_._3).foreach(pm => require(
        mnRe.findFirstIn(maskLiterals(pm._2)).isEmpty,
        s"measure '${pm._1}': MATCH_NUMBER() is FINAL by nature (one " +
          "number per match) — drop the RUNNING prefix"))
    }
    val mnSql =
      if (src.isStreaming) "`match_seq`"
      else s"row_number() over (partition by " +
        s"${keys.map(k => s"`$k`").mkString(", ")} " +
        "order by `match_start`, `match_end`" +
        varNames.map(v => s", size(`$v`)").mkString + ")"
    def rewriteMn(seg: String): String =
      mnRe.replaceAllIn(seg,
        java.util.regex.Matcher.quoteReplacement(mnSql))
    // SQL:2016 COUNT(*) in MEASURES: rows mapped to the match (incl.
    // exclusion-suppressed ones — exclusion is output-only). FINAL =
    // the summed slot sizes; RUNNING = only bindings at-or-before the
    // current row. Rewritten before the per-variable rules (it
    // references no variable, so they'd leave it to die as a real
    // aggregate in a non-grouped projection).
    val allSlotsArr =
      if (varNames.length == 1) s"`${varNames.head}`"
      else s"concat(${varNames.map(v => s"`$v`").mkString(", ")})"
    val countStarRe = """(?i)(?<!\w)count\s*\(\s*\*\s*\)""".r
    def rewriteCountStar(seg: String, arrSql: String): String =
      countStarRe.replaceAllIn(seg,
        java.util.regex.Matcher.quoteReplacement(
          s"cast(size($arrSql) as bigint)"))
    val univArr = unionSql(varNames)
    val measures = parsedMeasures.filter(!_._3).map { case (alias, et, _) =>
      val t = rewriteShielded(et) { (seg0, segLits) =>
        var seg = rewriteCountStar(rewriteMn(seg0), allSlotsArr)
        // universal selectors run BEFORE the per-variable rules (an
        // unqualified argument belongs to no variable's pass)
        seg = rewriteUnivSelectors(seg, univArr)
        for ((v, arr) <- measureBindings) {
          // aggregates over ALL events bound to the variable (or
          // SUBSET union; numeric aggregation runs in double, in bind
          // order). SUM/AVG of an empty binding is NULL (SQL
          // aggregate-of-no-rows semantics); the nullif guard keeps
          // AVG from tripping ANSI DIVIDE_BY_ZERO
          val q = java.util.regex.Matcher.quoteReplacement(arr)
          // SQL:2016 navigation runs BEFORE the plain FIRST/LAST and
          // bare var.col rules so the inner var.col is never consumed
          seg = rewriteNav(seg, v, arr, lagSpecs)
          seg = seg.replaceAll(s"(?i)(?<!\\w)count\\s*\\(\\s*$v\\.\\*\\s*\\)",
            s"size($q)")
          seg = seg.replaceAll(s"(?i)(?<!\\w)sum\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
            s"if(size($q) = 0, cast(null as double), " +
              s"aggregate($q, cast(0.0 as double), " +
              s"(_mr_acc, _mr_x) -> _mr_acc + _mr_x.`$$1`))")
          seg = seg.replaceAll(s"(?i)(?<!\\w)avg\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
            s"(aggregate($q, cast(0.0 as double), " +
              s"(_mr_acc, _mr_x) -> _mr_acc + _mr_x.`$$1`) " +
              s"/ nullif(size($q), 0))")
          // MIN/MAX over the variable's bound rows: selection over
          // the slot array (array_min/_max skip SQL NULLs; empty
          // binding yields NULL — aggregate-of-no-rows semantics)
          seg = seg.replaceAll(s"(?i)(?<!\\w)min\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
            s"array_min(transform($q, _mr_mx -> _mr_mx.`$$1`))")
          seg = seg.replaceAll(s"(?i)(?<!\\w)max\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
            s"array_max(transform($q, _mr_mx -> _mr_mx.`$$1`))")
          // aggregates over an expression of v's row (plus the plain
          // COUNT(v.col) the dedicated rules above leave behind)
          seg = rewriteExprAgg(seg, v, arr,
            measureBindings.map(_._1), segLits)
          // try_element_at: a variable that bound zero events (`?`/`*`
          // quantifier, unchosen alternation side) yields SQL-standard
          // NULL instead of an ANSI INVALID_ARRAY_INDEX crash
          seg = seg.replaceAll(s"(?i)(?<!\\w)first\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
            s"try_element_at($q, 1).`$$1`")
          seg = seg.replaceAll(s"(?i)(?<!\\w)last\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
            s"try_element_at($q, -1).`$$1`")
          // bare var.col = LAST bound event (SQL-standard one-row-per-
          // match resolution)
          seg = seg.replaceAll(s"(?i)(?<!\\w)$v\\.(\\w+)",
            s"try_element_at($q, -1).`$$1`")
        }
        seg
      }
      val raw = GraftSqlBridge.column(delegate.parseExpression(t))
      val guarded =
        if (streamUnmatchedOf(src.isStreaming))
          org.apache.spark.sql.functions.when(
            col("match_start").isNotNull, raw)
        else raw
      guarded.as(alias) -> alias
    }
    // RUNNING measures: per exploded row, aggregate only the bound
    // events at-or-before it in (ts, tie) order — the slot arrays are
    // filtered against the row's own event-time identity, so the
    // rewrite runs AFTER the explode, against kept slot columns
    val runningMeasures = parsedMeasures.filter(_._3).map {
      case (alias, et, _) =>
        require(!src.columns.contains(alias) &&
            !varNames.contains(alias) &&
            !Seq("classifier", "match_start", "match_end")
              .contains(alias.toLowerCase),
          s"RUNNING measure alias '$alias' collides with an input " +
            "column, pattern variable, or reserved output column")
        def filt(arr: String): String =
          s"filter($arr, _mr_e -> _mr_e.`$tsCol` < `$tsCol` OR " +
            s"(_mr_e.`$tsCol` = `$tsCol` AND " +
            s"_mr_e.`$tieCol` <= `$tieCol`))"
        val t = rewriteShielded(et) { (seg0, segLits) =>
          var seg = rewriteCountStar(seg0, filt(allSlotsArr))
          // universal selectors under RUNNING semantics: the merged
          // order filtered to the rows at-or-before the current one
          seg = rewriteUnivSelectors(seg, filt(univArr))
          for ((v, arr) <- measureBindings) {
            val f = java.util.regex.Matcher.quoteReplacement(filt(arr))
            // navigation under RUNNING semantics: v resolves to its
            // last binding at-or-before the current row (the filtered
            // array's tail); offsets count within that running prefix
            seg = rewriteNav(seg, v, filt(arr), lagSpecs)
            seg = seg.replaceAll(
              s"(?i)(?<!\\w)count\\s*\\(\\s*$v\\.\\*\\s*\\)", s"size($f)")
            seg = seg.replaceAll(
              s"(?i)(?<!\\w)sum\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
              s"if(size($f) = 0, cast(null as double), " +
                s"aggregate($f, cast(0.0 as double), " +
                s"(_mr_acc, _mr_x) -> _mr_acc + _mr_x.`$$1`))")
            seg = seg.replaceAll(
              s"(?i)(?<!\\w)avg\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
              s"(aggregate($f, cast(0.0 as double), " +
                s"(_mr_acc, _mr_x) -> _mr_acc + _mr_x.`$$1`) " +
                s"/ nullif(size($f), 0))")
            seg = seg.replaceAll(
              s"(?i)(?<!\\w)min\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
              s"array_min(transform($f, _mr_mx -> _mr_mx.`$$1`))")
            seg = seg.replaceAll(
              s"(?i)(?<!\\w)max\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
              s"array_max(transform($f, _mr_mx -> _mr_mx.`$$1`))")
            seg = rewriteExprAgg(seg, v, filt(arr),
              measureBindings.map(_._1), segLits)
            seg = seg.replaceAll(
              s"(?i)(?<!\\w)first\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
              s"try_element_at($f, 1).`$$1`")
            seg = seg.replaceAll(
              s"(?i)(?<!\\w)last\\s*\\(\\s*$v\\.(\\w+)\\s*\\)",
              s"try_element_at($f, -1).`$$1`")
            // bare var.col = RUNNING LAST (SQL-standard running
            // resolution: the latest binding so far)
            seg = seg.replaceAll(s"(?i)(?<!\\w)$v\\.(\\w+)",
              s"try_element_at($f, -1).`$$1`")
          }
          seg
        }
        alias -> t
    }
    if (allRows) {
      // ALL ROWS PER MATCH: input columns of each bound event ++
      // classifier ++ match_start/match_end ++ measures — FINAL
      // semantics by default (the whole-match value on every row);
      // explicit `RUNNING f(v.col)` measures aggregate only the
      // bindings at-or-before the row
      val exploded = MatchRecognize.explodeAllRows(
        matched.select(org.apache.spark.sql.functions.col("*") +:
          measures.map(_._1): _*),
        srcTbl.columns.toIndexedSeq, varNames, measures.map(_._2),
        keepSlots = runningMeasures.nonEmpty,
        unmatchedCol = if (streamUnmatchedOf(src.isStreaming))
          Some("_mr_unmatched_ev") else None)
      val withRunning =
        if (runningMeasures.isEmpty) exploded
        else runningMeasures.foldLeft(exploded) { case (d, (alias, t)) =>
          // classifier is NULL only on streaming unmatched pseudo-rows
          // (batch appends its unmatched rows AFTER this point) — a
          // running aggregate there must be NULL, not a 0 over the
          // pseudo-row's empty slots
          d.withColumn(alias, org.apache.spark.sql.functions.when(
            col("classifier").isNotNull,
            GraftSqlBridge.column(delegate.parseExpression(t))))
        }.drop(varNames: _*)
      // exclusion: the wrapped variables matched (and remain visible
      // to measures) but their rows leave the ALL ROWS output
      def exclFilter(d: org.apache.spark.sql.DataFrame) =
        if (excludedVars.isEmpty) d
        else d.filter(
          org.apache.spark.sql.functions.col("classifier").isNull ||
          !org.apache.spark.sql.functions
            .col("classifier").isin(excludedVars.toSeq: _*))
      if (unmatchedRows && src.isStreaming) {
        // single stateful pass: the operator's NULL-bounds pseudo-rows
        // exploded to NULL-classifier rows (unmatchedCol above) and
        // survive the null-safe exclusion filter — no second plan
        // branch re-executing the stateful subtree
        exclFilter(withRunning)
      } else if (unmatchedRows) {
        // materialized ONCE: the visible rows AND the bound-identity
        // complement both read this relation — without it the whole
        // match operator executes twice (once per plan branch)
        val bound = withRunning.localCheckpoint()
        MatchRecognize.withUnmatched(exclFilter(bound), src, keys,
          tsCol, tieCol, boundIdentity = Some(bound))
      } else exclFilter(withRunning)
    } else matched.select(keys.map(col) ++ measures.map(_._1): _*)
  }
}
