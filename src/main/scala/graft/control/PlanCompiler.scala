package graft.control

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.cep.{Cep, PatternDef, PatternMatch, Step}
import graft.plans.{GraftSqlParser, MatchElemSpec, MatchRecognize}
import graft.plans.MatchRecognize.{EAnd, ENotFor, EOr, EStep}

/** Multi-dialect compiler for dynamic control-plane plan text — the
  * piece that makes runtime-added plans more than relational SQL.
  *
  * The reference's control plans carry full SiddhiQL including patterns
  * (router/AddRouteOperator.java:114-126 re-parses each added plan);
  * Spark's `spark.sql` cannot express CEP, so plans are dispatched on a
  * dialect prefix:
  *
  *  - `sql: SELECT …` (or no prefix) — ANSI SQL over the registered
  *    stream views (Catalyst analyzes eagerly → add-time validation);
  *  - `pattern: …` — a line-oriented CEP pattern over one registered
  *    view, compiled onto the [[graft.cep.Nfa]] kernel.
  *
  * Pattern dialect (lines or `;`-separated clauses):
  * {{{
  * pattern:
  *   from <view>
  *   key <expr> ; ts <expr> ; tie <expr>     -- exprs over the view
  *   eventtime <column>   -- streaming only: the view's watermarked
  *                        -- timestamp column (carried through so the
  *                        -- stateful op sees the watermark)
  *   within <eventTimeUnits>                 -- optional
  *   every true|false                        -- optional (default true)
  *   skippastlast true|false                 -- optional (default false):
  *                        -- AFTER MATCH SKIP PAST LAST ROW semantics —
  *                        -- greedy leftmost non-overlapping matches
  *   tsscale <unitsPerMs>                    -- optional (default 1)
  *   output first|last every <n> [events]    -- optional rate limit:
  *                        -- per key, pass match 1, n+1, 2n+1… (first)
  *                        -- or n, 2n… (last) of each count-batch
  *                        -- (SiddhiQL `output first every n events`,
  *                        -- SURVEY §2.B26); streams count in emission
  *                        -- order, batch views in (start_ts, end_ts)
  *   step <name> [strict] [min m] [max n] where <boolean expr>
  *   either <n1> where <c1> ; or <n2> where <c2>    -- logical OR element
  *   both <n1> where <c1> ; and <n2> where <c2>     -- logical AND element
  *   notfor <name> <durationTs> where <cond>        -- absence (alerting)
  *   step <name> …                           -- 1+ elements, in order
  * }}}
  *
  * Step predicates are arbitrary Catalyst boolean expressions evaluated
  * ONCE per event as a pre-computed flag array (codegen'd projection),
  * so the NFA never interprets SQL per partial match. Output schema:
  * `key string, start_ts long, end_ts long, binds map<string,long>`
  * (step name → tie id of its first bound event).
  *
  * Batch views run on the MATCH_RECOGNIZE custom operator; streaming
  * views on the watermark-buffered streaming executor (the view must
  * carry a watermark).
  */
object PlanCompiler {

  final case class DynEvt(key: String, ts: Long, tie: Long,
      flags: Seq[Boolean], wmc: java.sql.Timestamp)
  final case class DynMatch(key: String, start_ts: Long, end_ts: Long,
      binds: Map[String, Long])

  def apply(spark: SparkSession): String => DataFrame = compile(spark, _)

  /** [[Cep.storedFp]] salt of a streaming plan with an `output` clause:
    * its state holds the per-key match count the clause filters on. */
  private val RateLimitSalt: Long = 0x6f75747075744e4cL

  /** `pattern:` text compiles here; everything else (with or without
    * the `sql:` prefix) goes through [[graft.plans.GraftSqlParser]], the
    * one place that decides what MATCH_RECOGNIZE text is — so a
    * control-plane tenant gets the full SQL:2016 pattern surface whether
    * or not the session was built with the parser extension installed.
    */
  def compile(spark: SparkSession, text: String): DataFrame = {
    val t = text.trim
    val lower = t.toLowerCase
    if (lower.startsWith("pattern:")) compilePattern(spark, t.drop(8))
    else {
      val body = if (lower.startsWith("sql:")) t.drop(4) else t
      GraftSqlBridge.ofRows(spark,
        new GraftSqlParser(spark.sessionState.sqlParser, spark)
          .parsePlan(body))
    }
  }

  /** Split plan text into clauses on newline/`;` — but never inside a
    * single-quoted SQL string, so predicates like `t = 'A;B'` survive.
    */
  private def splitClauses(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    body.foreach { c =>
      if (c == '\'') { inQuote = !inQuote; cur.append(c) }
      else if ((c == '\n' || c == ';') && !inQuote) {
        if (cur.nonEmpty) out += cur.toString; cur.clear()
      }
      else cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def compilePattern(spark: SparkSession, body: String): DataFrame = {
    var view: String = null
    var keyE: String = null
    var tsE: String = null
    var tieE: String = null
    var within: Option[Long] = None
    var every = true
    var skipPastLast = false
    var tsScale = 1L
    var wmCol: String = null
    var rateLimit: Option[(Boolean, Int)] = None // (isFirst, n)
    val conds = ArrayBuffer.empty[String]
    val elems = ArrayBuffer.empty[MatchRecognize.Elem]
    // an `either`/`both` clause opens a logical element completed by the
    // next `or`/`and` clause
    var pendingLogical: Option[(String, String, Boolean)] = None

    // one slot of the per-event flag array per condition, added in the
    // predicate order of `elems` (a logical element adds both halves
    // when it closes), so the n-th variable occurrence reads slot n
    def addCond(c: String): Column = {
      conds += c
      col("flags")(conds.length - 1)
    }

    def nameAndCond(ln: String, keyword: String): (String, String) = {
      val wi = ln.toLowerCase.indexOf(" where ")
      require(wi > 0, s"$keyword clause needs 'where': $ln")
      (ln.substring(keyword.length + 1, wi).trim, ln.substring(wi + 7).trim)
    }

    splitClauses(body).foreach { ln =>
      val lower = ln.toLowerCase
      if (lower.startsWith("from ")) view = ln.drop(5).trim
      else if (lower.startsWith("key ")) keyE = ln.drop(4).trim
      else if (lower.startsWith("ts ")) tsE = ln.drop(3).trim
      else if (lower.startsWith("tie ")) tieE = ln.drop(4).trim
      else if (lower.startsWith("eventtime ")) wmCol = ln.drop(10).trim
      else if (lower.startsWith("within ")) within = Some(ln.drop(7).trim.toLong)
      else if (lower.startsWith("every ")) every = ln.drop(6).trim.toBoolean
      else if (lower.startsWith("skippastlast "))
        skipPastLast = ln.drop(13).trim.toBoolean
      else if (lower.startsWith("tsscale ")) tsScale = ln.drop(8).trim.toLong
      else if (lower.startsWith("output ")) {
        val re = """(?i)output\s+(first|last)\s+every\s+(\d+)(?:\s+events)?""".r
        ln.trim match {
          case re(fl, n) =>
            require(n.toInt >= 1, s"output rate must be >= 1: $ln")
            rateLimit = Some((fl.equalsIgnoreCase("first"), n.toInt))
          case other => throw new IllegalArgumentException(
            s"output clause supports 'output first|last every <n> [events]': $other")
        }
      }
      else if (lower.startsWith("step ")) {
        val wi = lower.indexOf(" where ")
        require(wi > 0, s"step clause needs 'where': $ln")
        val head = ln.substring(5, wi).trim.split("\\s+")
        val cond = ln.substring(wi + 7).trim
        var strict = false
        var min = 1
        var max = 1
        var i = 1
        while (i < head.length) {
          head(i).toLowerCase match {
            case "strict" => strict = true; i += 1
            case "min" => min = head(i + 1).toInt; i += 2
            case "max" => max = head(i + 1).toInt; i += 2
            case other =>
              throw new IllegalArgumentException(s"unknown step modifier: $other")
          }
        }
        elems += EStep(head(0), addCond(cond), min, max, strict)
      }
      else if (lower.startsWith("either ") || lower.startsWith("both ")) {
        require(pendingLogical.isEmpty, s"dangling logical half before: $ln")
        val kw = if (lower.startsWith("either ")) "either" else "both"
        val (name, cond) = nameAndCond(ln, kw)
        pendingLogical = Some((name, cond, kw == "both"))
      }
      else if (lower.startsWith("or ") || lower.startsWith("and ")) {
        val kw = if (lower.startsWith("or ")) "or" else "and"
        val (ln2, lc, isAnd) = pendingLogical.getOrElse(
          throw new IllegalArgumentException(
            s"'$kw' clause without a preceding either/both: $ln"))
        require((kw == "and") == isAnd,
          s"'$kw' does not close ${if (isAnd) "'both'" else "'either'"}: $ln")
        val (name, cond) = nameAndCond(ln, kw)
        val lp = addCond(lc)
        val rp = addCond(cond)
        elems += (if (isAnd) EAnd(ln2, lp, name, rp)
          else EOr(ln2, lp, name, rp))
        pendingLogical = None
      }
      else if (lower.startsWith("notfor ")) {
        // notfor <name> <durationTs> where <cond>
        val (head, cond) = nameAndCond(ln, "notfor")
        val parts = head.split("\\s+")
        require(parts.length == 2, s"notfor needs '<name> <duration>': $ln")
        elems += ENotFor(parts(0), addCond(cond), parts(1).toLong)
      }
      else throw new IllegalArgumentException(s"unrecognized pattern clause: $ln")
    }
    require(pendingLogical.isEmpty,
      "unclosed either/both clause (missing or/and)")
    require(view != null, "pattern plan needs 'from <view>'")
    require(keyE != null && tsE != null && tieE != null,
      "pattern plan needs 'key', 'ts' and 'tie' expressions")
    require(elems.nonEmpty, "pattern plan needs at least one step")

    val src = spark.table(view)
    if (src.isStreaming) require(wmCol != null,
      "streaming pattern plan needs 'eventtime <watermarked column>'")
    val flags = array(conds.toSeq.map(c =>
      coalesce(expr(c).cast("boolean"), lit(false))): _*)
    // plain alias (not cast) keeps the watermark metadata on the column,
    // so the downstream stateful op sees the event-time watermark
    val wmc = if (wmCol != null) col(wmCol).as("wmc")
      else lit(null).cast("timestamp").as("wmc")
    import spark.implicits._
    val ds = src.select(
      expr(keyE).cast("string").as("key"),
      expr(tsE).cast("long").as("ts"),
      expr(tieE).cast("long").as("tie"),
      flags.as("flags"),
      wmc).as[DynEvt]

    // built for both paths: the batch path runs the same elements on
    // the MATCH_RECOGNIZE operator, so a bad quantifier still fails here
    var ci = -1
    val pElems = MatchElemSpec.compile[DynEvt](elems.toSeq.map(_.spec)) {
      (name, mn, mx, strict) =>
        ci += 1
        val i = ci
        Step[DynEvt](name, _.flags(i), mn, mx, strict)
    }
    val pat = PatternDef[DynEvt](pElems, within, every,
      skipPastLastRow = skipPastLast)

    if (ds.isStreaming) {
      // Typed on purpose. Lowering streaming pattern plans onto the
      // MatchRecognize Elem surface instead (a Row-envelope builder on
      // the same Cep.streaming kernel) passed the control-plane suites
      // but keeps every buffered event as a kryo'd GenericRowWithSchema
      // instead of this DynEvt case class. On the perfbench `stream`
      // workload (six alternating pairs) cpu_s went from 25.1 to 29.5 s
      // (median); a traced pair showed state.update_ms 346 -> 470,
      // state.memory_mb 0.40 -> 0.77 and exec.gc_ms 172 -> 348 for the
      // same 29 matches.
      // `output` runs inside the CEP operator: it numbers each key's
      // matches in emission order and build keeps every n-th. The salt
      // stops a checkpoint without that count restoring as count 0.
      val keepSeq: Long => Boolean = rateLimit match {
        case None => _ => true
        case Some((isFirst, n)) => s => (if (isFirst) s - 1 else s) % n == 0
      }
      val build = (k: String, m: PatternMatch[DynEvt]) =>
        if (keepSeq(m.seq))
          Iterator.single(DynMatch(k, m.startTs, m.endTs,
            m.groups.map { case (n, es) => n -> es.head.tie }))
        else Iterator.empty
      val (numbering, salt) =
        if (rateLimit.isEmpty) (Cep.Numbering.Off, 0L)
        else (Cep.Numbering.Arrival, RateLimitSalt)
      Cep.streaming[DynEvt, String, DynMatch](ds, _.key, pat, _.ts, _.tie,
        tsScale, numberMatches = numbering, restoreSalt = salt)(build).toDF()
    } else {
      // batch pattern plans run on the MATCH_RECOGNIZE custom operator:
      // Catalyst plans one hash shuffle + sort (elided when the view is
      // already co-partitioned) instead of the groupByKey kryo
      // round-trip — then the array<struct> match columns fold into the
      // dialect's stable (key, start_ts, end_ts, binds) schema
      val matched = MatchRecognize(ds.toDF(), Seq("key"), "ts", "tie",
        elems.toSeq, within, every, skipPastLastRow = skipPastLast)
      val slotNames = pElems.flatMap(_.names)
      val entries = slotNames.map(n =>
        struct(lit(n).as("k"), col(n).as("arr")))
      val base = matched.select(col("key"),
        col("match_start").as("start_ts"),
        col("match_end").as("end_ts"),
        map_from_entries(transform(
          filter(array(entries: _*), s => size(s.getField("arr")) > 0),
          s => struct(s.getField("k"),
            element_at(s.getField("arr"), 1).getField("tie"))))
          .as("binds"))
      // batch `output first|last every n`: the match sequence per key is
      // (start_ts, end_ts)-ordered — one window row_number, no state
      rateLimit.fold(base) { case (isFirst, n) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col("start_ts"), col("end_ts"))
        base.withColumn("_rn", row_number().over(w))
          .filter(if (isFirst) (col("_rn") - 1) % n === 0
            else col("_rn") % n === 0)
          .drop("_rn")
      }
    }
  }
}
