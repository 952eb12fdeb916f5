package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** The one pattern-shape tree: every front end builds it — the SQL
  * parser, `pattern:` control-plane plans and the programmatic
  * [[MatchRecognize.Elem]] constructors — and [[MatchElemSpec.compile]]
  * is the one lowering onto the executable [[graft.cep.PatternElem]],
  * for both MATCH_RECOGNIZE executors and the typed streaming
  * `pattern:` path. Column-free: the predicates travel beside it (the
  * plan node's flat `predicates` list, which the analyzer/optimizer see
  * and resolve, or [[MatchRecognize.Elem.preds]]), one per variable
  * occurrence, in [[occurrences]] order.
  */
sealed trait MatchElemSpec extends Serializable {
  /** Variable occurrences in predicate order. */
  def occurrences: Seq[String]
  /** Output slot names this element owns. */
  def names: Seq[String]
  /** Predicates consumed = variable occurrences. */
  def arity: Int = occurrences.length
}
final case class StepSpec(name: String, min: Int = 1, max: Int = 1,
    strict: Boolean = false) extends MatchElemSpec {
  def occurrences: Seq[String] = Seq(name); def names = occurrences
}
final case class AbsenceSpec(name: String, forTs: Long) extends MatchElemSpec {
  def occurrences: Seq[String] = Seq(name); def names = occurrences
}
/** Pure-data item shapes for [[NestedGroupSpec]]. Each consumes one
  * predicate per NAME, in order. */
sealed trait NgItemSpec extends Serializable { def names: Seq[String] }
final case class NgVarSpec(name: String) extends NgItemSpec {
  def names: Seq[String] = Seq(name)
}
final case class NgAltSpec(leftName: String, rightName: String)
    extends NgItemSpec {
  def names: Seq[String] = Seq(leftName, rightName)
}
final case class NgPermSpec(permNames: Seq[String]) extends NgItemSpec {
  def names: Seq[String] = permNames
}
/** Quantified group of items `(a (b|c) PERMUTE(d,e)){m,n}` —
  * [[graft.cep.NestedGroup]] semantics; also every plain-variable
  * group, alternation and PERMUTE, quantified or not. */
final case class NestedGroupSpec(items: Seq[NgItemSpec], minRepeat: Int,
    maxRepeat: Int) extends MatchElemSpec {
  def occurrences: Seq[String] = items.flatMap(_.names)
  def names: Seq[String] = occurrences
}

/** Pure-data regex AST for [[RxSpec]] — the plan-layer mirror of
  * [[graft.cep.RxNode]]; leaves are variable occurrences, each
  * consuming one predicate in AST order (the same name may occur at
  * several leaves — shared slot). */
sealed trait RxSpecNode extends Serializable
final case class RxVarSpec(name: String, min: Int = 1, max: Int = 1)
    extends RxSpecNode
final case class RxSeqSpec(items: Seq[RxSpecNode]) extends RxSpecNode
final case class RxAltSpec(alts: Seq[RxSpecNode]) extends RxSpecNode
final case class RxRepSpec(body: RxSpecNode, min: Int, max: Int)
    extends RxSpecNode
/** `PERMUTE(m1, …, mk)` of arbitrary sub-patterns — compiles to the
  * cep layer's members-seen bitmask automaton ([[graft.cep.RxPermute]]:
  * Σ|member| states, not the k! ordering expansion). */
final case class RxPermuteSpec(members: Seq[RxSpecNode])
    extends RxSpecNode
/** Fully recursive pattern element ([[graft.cep.RxElem]] semantics):
  * arbitrary nesting depth, quantified inner items, alternation of
  * sequences. */
final case class RxSpec(root: RxSpecNode) extends MatchElemSpec {
  private def occs(n: RxSpecNode): Seq[String] = n match {
    case RxVarSpec(nm, _, _) => Seq(nm)
    case RxSeqSpec(is) => is.flatMap(occs)
    case RxAltSpec(as) => as.flatMap(occs)
    case RxRepSpec(b, _, _) => occs(b)
    case RxPermuteSpec(ms) => ms.flatMap(occs)
  }
  def occurrences: Seq[String] = occs(root)
  /** Distinct names in first-occurrence order (slot layout). */
  def names: Seq[String] = occurrences.distinct
}

object MatchElemSpec {
  import graft.cep.{Absence, GAlt, GPerm, GVar, NestedGroup, PatternElem,
    RxAlt, RxElem, RxNode, RxPermute, RxRep, RxSeq, RxVar, Step}

  /** Lower `specs` onto the executable [[graft.cep]] elements — the
    * only place the plan and control layers build them. `mkStep(name,
    * min, max, strict)` builds one variable's step and is called once
    * per variable occurrence, in [[MatchElemSpec.occurrences]] order
    * across `specs`, so a caller drawing one predicate (or flag slot)
    * per call stays aligned with the predicate list. */
  def compile[T](specs: Seq[MatchElemSpec])(
      mkStep: (String, Int, Int, Boolean) => Step[T])
      : IndexedSeq[PatternElem[T]] = {
    def one(n: String): Step[T] = mkStep(n, 1, 1, false)
    def rx(n: RxSpecNode): RxNode[T] = n match {
      case RxVarSpec(nm, mn, mx) => RxVar(one(nm), mn, mx)
      case RxSeqSpec(is) => RxSeq(is.map(rx).toIndexedSeq)
      case RxAltSpec(as) => RxAlt(as.map(rx).toIndexedSeq)
      case RxRepSpec(b, mn, mx) => RxRep(rx(b), mn, mx)
      case RxPermuteSpec(ms) => RxPermute(ms.map(rx).toIndexedSeq)
    }
    specs.map {
      case StepSpec(n, mn, mx, st) => mkStep(n, mn, mx, st)
      case AbsenceSpec(n, f) => Absence(one(n), f)
      case NestedGroupSpec(items, mn, mx) =>
        NestedGroup(items.map {
          case NgVarSpec(n) => GVar(one(n))
          case NgAltSpec(l, r) => GAlt(one(l), one(r))
          case NgPermSpec(ns) => GPerm(ns.map(one).toIndexedSeq)
        }.toIndexedSeq, mn, mx)
      case RxSpec(root) => RxElem(rx(root))
    }.toIndexedSeq
  }
}

/** One cross-variable reference inside a DEFINE predicate
  * (`FIRST(a.price)`, `LAST(a.price)`, or a running aggregate
  * `SUM/AVG/COUNT/MIN/MAX(a.price)`): at evaluation time the value is
  * computed from the partial match's bound events of `varName` (column
  * `ordinal`; NULL while unbound, except COUNT which is 0) and fed to
  * the predicate through the synthetic attribute `attr`, which the
  * predicate expression references and the executor appends to the
  * child schema via a joined row. `dataType` is the RESULT type
  * (LongType for COUNT and integral SUM, DoubleType for AVG and
  * fractional SUM, the column type otherwise); `baseType` the source
  * column's type.
  */
final case class CtxRefSpec(fn: String, varName: String, ordinal: Int,
    dataType: org.apache.spark.sql.types.DataType,
    attr: AttributeReference,
    baseType: org.apache.spark.sql.types.DataType = null) extends Serializable {
  import org.apache.spark.sql.types._
  /** `first`/`last` may carry a SQL:2016 logical offset suffix
    * (`first2` = the 3rd binding, `last1` = the second-from-last);
    * out-of-range navigation yields NULL. */
  private val (navBase: String, navOff: Int) = fn match {
    case CtxRefSpec.NavOffRe(b, k) => (b, k.toInt)
    case other => (other, 0)
  }
  require(CtxRefSpec.fns(navBase), s"bad ctx ref fn: $fn")
  private def bt: DataType = if (baseType == null) dataType else baseType
  private val integralSum = bt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Evaluate over the `n` rows currently bound to the variable;
    * `rowAt` yields each row in Catalyst representation (callers
    * convert lazily, so FIRST/LAST touch a single row).
    */
  def eval(n: Int, rowAt: Int => org.apache.spark.sql.catalyst.InternalRow): Any = {
    if (n == 0) return if (fn == "count" || fn == "size") 0L else null
    navBase match {
      case "size" => n.toLong
      case "first" | "last" =>
        if (navOff >= n) return null
        val r = rowAt(if (navBase == "first") navOff else n - 1 - navOff)
        if (r.isNullAt(ordinal)) null else r.get(ordinal, bt)
      case "count" =>
        var c = 0L
        var i = 0
        while (i < n) {
          if (!rowAt(i).isNullAt(ordinal)) c += 1
          i += 1
        }
        c
      case "sum" | "avg" =>
        var cnt = 0L
        var l = 0L
        var d = 0.0
        var i = 0
        while (i < n) {
          val r = rowAt(i)
          if (!r.isNullAt(ordinal)) {
            cnt += 1
            bt match {
              case ByteType => l += r.getByte(ordinal)
              case ShortType => l += r.getShort(ordinal)
              case IntegerType => l += r.getInt(ordinal)
              case LongType => l += r.getLong(ordinal)
              case FloatType => d += r.getFloat(ordinal)
              case DoubleType => d += r.getDouble(ordinal)
              case dt => throw new IllegalStateException(
                s"$fn over $dt") // resolveWithCv rejects these up front
            }
          }
          i += 1
        }
        if (cnt == 0L) null
        else if (fn == "sum") { if (integralSum) l else d }
        else (if (integralSum) l.toDouble else d) / cnt
      case "min" | "max" =>
        var best: Any = null
        var i = 0
        while (i < n) {
          val r = rowAt(i)
          if (!r.isNullAt(ordinal)) {
            val v = r.get(ordinal, bt)
            if (best == null) best = v
            else {
              val c = v.asInstanceOf[Comparable[Any]].compareTo(best)
              if (if (fn == "min") c < 0 else c > 0) best = v
            }
          }
          i += 1
        }
        best
    }
  }
}

object CtxRefSpec {
  val fns: Set[String] =
    Set("first", "last", "count", "sum", "avg", "min", "max",
      // binding-row count (COUNT counts non-null column values;
      // own-variable FIRST offsets need the raw position)
      "size")
  /** `first<k>` / `last<k>` — navigation with a logical offset. */
  val NavOffRe = "(first|last)(\\d+)".r
}

/** MATCH_RECOGNIZE-style logical operator: per `keys` group, events
  * ordered by (`ts`, `tie`) run through the CEP NFA; each completed match
  * emits one row `keys ++ (match_start, match_end) ++ one array<struct>
  * column per step name` (all events bound to that step, in bind order —
  * SQL-standard MATCH_RECOGNIZE measures are projections over these).
  *
  * This is the whole-operator Catalyst integration path (SURVEY §2 A5 as
  * a first-class plan node): the physical strategy declares hash
  * distribution + sort requirements, so Catalyst plans the shuffle/sort —
  * and elides them when the child is already co-partitioned/sorted —
  * instead of the Dataset-API `groupByKey` encoding round-trip.
  *
  * Reference anchor: the pattern queries flink-siddhi forwards to its
  * embedded engine (SiddhiCEPITCase.java:343-348, :370-374); the row
  * shape mirrors Siddhi's `e1[0].name`-style indexed access.
  */
case class MatchRecognizeNode(
    keys: Seq[Attribute],
    ts: Expression,
    tie: Expression,
    predicates: Seq[Expression],
    elems: Seq[MatchElemSpec],
    withinTs: Option[Long],
    every: Boolean,
    maxPartials: Int,
    skipPastLastRow: Boolean,
    outAttrs: Seq[Attribute],
    child: LogicalPlan,
    /** Per-predicate cross-variable references, aligned with
      * `predicates` (empty inner seq = plain per-event predicate). */
    ctxRefs: Seq[Seq[CtxRefSpec]] = Nil,
    /** AFTER MATCH SKIP TO [FIRST|LAST] <var>: (varName, isFirst). */
    skipToVar: Option[(String, Boolean)] = None,
    /** Variables under reluctant (lazy) quantifiers — flips the
      * skip-mode same-start election preference for their slots. */
    reluctantVars: Seq[String] = Nil,
    /** ISO contiguous matching (MODE STRICT): a partial that does not
      * consume an event dies — see [[graft.cep.PatternDef.strictAll]]. */
    strictAll: Boolean = false,
    /** When `skipToVar` names a SUBSET union: its member slot names
      * (the resume row is the members' merged (ts, tie) first/last). */
    skipToMembers: Option[Seq[String]] = None) extends UnaryNode {

  override def output: Seq[Attribute] = keys ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  // match arrays carry FULL child rows, so every child column is
  // semantically referenced — this blocks column pruning underneath
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): MatchRecognizeNode =
    copy(child = newChild)
}

/** User-facing builder: Column predicates, resolved eagerly against the
  * input frame; registers the planner strategy on the session on first
  * use (idempotent), so no session-construction ceremony is needed.
  */
object MatchRecognize {

  /** One pattern element: its shape and the DEFINE predicate of each
    * variable occurrence, in [[MatchElemSpec.occurrences]] order. The
    * constructor objects below build every element kind. */
  final case class Elem(spec: MatchElemSpec, preds: Seq[Column]) {
    require(preds.length == spec.arity,
      s"${spec.arity} variable occurrence(s) need as many predicates, " +
        s"got ${preds.length}")
  }
  /** One pattern step; `min`/`max` are the `<m:n>` quantifier bounds
    * (`+` = (1, MaxValue), `?` = (0, 1)), `strict` = sequence semantics
    * (the immediately-next event must qualify).
    */
  object EStep {
    def apply(name: String, pred: Column, min: Int = 1, max: Int = 1,
        strict: Boolean = false): Elem =
      Elem(StepSpec(name, min, max, strict), Seq(pred))
  }
  /** `not pred for forTs`: absence window in `ts` units. */
  object ENotFor {
    def apply(name: String, pred: Column, forTs: Long): Elem =
      Elem(AbsenceSpec(name, forTs), Seq(pred))
  }
  /** One item of an [[EGroupN]] iteration and its predicates. */
  final case class EGItem(spec: NgItemSpec, preds: Seq[Column])
  object EGStep {
    def apply(name: String, pred: Column): EGItem =
      EGItem(NgVarSpec(name), Seq(pred))
  }
  object EGAlt {
    def apply(leftName: String, leftPred: Column, rightName: String,
        rightPred: Column): EGItem =
      EGItem(NgAltSpec(leftName, rightName), Seq(leftPred, rightPred))
  }
  object EGPerm {
    def apply(steps: Seq[(String, Column)]): EGItem =
      EGItem(NgPermSpec(steps.map(_._1)), steps.map(_._2))
  }
  /** Quantified group of items — SQL:2016 `(a b){m,n}`, `(a|b){m,n}`,
    * `PERMUTE(a, b, …){m,n}` and groups nested in groups,
    * `(a (b|c) PERMUTE(d,e)){m,n}`: each iteration walks the items in
    * order, iterations share the per-variable slots
    * ([[graft.cep.NestedGroup]] — greedy-min completion).
    */
  object EGroupN {
    def apply(items: Seq[EGItem], minRepeat: Int, maxRepeat: Int): Elem =
      Elem(NestedGroupSpec(items.map(_.spec), minRepeat, maxRepeat),
        items.flatMap(_.preds))
  }
  /** `left and right`: both sides bind, either arrival order (a
    * one-iteration two-member PERMUTE group). */
  object EAnd {
    def apply(leftName: String, leftPred: Column, rightName: String,
        rightPred: Column): Elem =
      EGroupN(Seq(EGPerm(Seq(leftName -> leftPred, rightName -> rightPred))),
        1, 1)
  }
  /** `left or right`: the first event matching either side completes
    * it (a one-iteration alternation group). */
  object EOr {
    def apply(leftName: String, leftPred: Column, rightName: String,
        rightPred: Column): Elem =
      EGroupN(Seq(EGAlt(leftName, leftPred, rightName, rightPred)), 1, 1)
  }
  /** Recursive regex element leaves/combinators — arbitrary nesting
    * depth, quantified inner items, alternation of sequences
    * ([[graft.cep.RxElem]] semantics). A variable may occur at several
    * leaves (e.g. a PERMUTE expansion); occurrences share the slot,
    * each with its own predicate evaluation site. */
  final case class ERxNode(spec: RxSpecNode, preds: Seq[Column])
  object ERxVar {
    def apply(name: String, pred: Column, min: Int = 1,
        max: Int = 1): ERxNode =
      ERxNode(RxVarSpec(name, min, max), Seq(pred))
  }
  object ERxSeq {
    def apply(items: Seq[ERxNode]): ERxNode =
      ERxNode(RxSeqSpec(items.map(_.spec)), items.flatMap(_.preds))
  }
  object ERxAlt {
    def apply(alts: Seq[ERxNode]): ERxNode =
      ERxNode(RxAltSpec(alts.map(_.spec)), alts.flatMap(_.preds))
  }
  object ERxRep {
    def apply(body: ERxNode, min: Int, max: Int): ERxNode =
      ERxNode(RxRepSpec(body.spec, min, max), body.preds)
  }
  object ERxPermute {
    def apply(members: Seq[ERxNode]): ERxNode =
      ERxNode(RxPermuteSpec(members.map(_.spec)), members.flatMap(_.preds))
  }
  object ERx {
    def apply(root: ERxNode): Elem = Elem(RxSpec(root.spec), root.preds)
  }

  /** @param tsCol    event-time column (LongType, any unit — `withinTs` /
    *                 `ENotFor.forTs` are in the same unit)
    * @param tieCol   total-order tie-break within equal timestamps
    */
  def apply(df: DataFrame, partitionKeys: Seq[String], tsCol: String,
      tieCol: String, pattern: Seq[Elem], withinTs: Option[Long] = None,
      every: Boolean = true, maxPartials: Int = 1024,
      skipPastLastRow: Boolean = false,
      skipToVar: Option[(String, Boolean)] = None,
      reluctantVars: Set[String] = Set.empty,
      strictAll: Boolean = false,
      /** When `skipToVar` names a SUBSET union: its member variables
        * (the resume row is the members' merged (ts, tie) first/last). */
      skipToMembers: Option[Seq[String]] = None): DataFrame = {
    // a streaming frame would re-plan the exec per micro-batch with a
    // FRESH NFA — patterns straddling batches would silently never match
    require(!df.isStreaming,
      "MatchRecognize(...) is the batch operator; use " +
        "MatchRecognize.streamingFull(...) for streaming DataFrames")
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(MatchRecognizeStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ MatchRecognizeStrategy

    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      child.output.find(a => spark.sessionState.analyzer.resolver(a.name, n))
        .getOrElse(throw new IllegalArgumentException(
          s"column '$n' not in [${child.output.map(_.name).mkString(", ")}]"))
    // cross-variable references ([[cvFirst]]/[[cvLast]] markers) lift
    // into per-predicate CtxRefSpec lists; the marker becomes a
    // synthetic attribute the executor feeds from the partial match
    def resolve(c: Column): (Expression, Seq[CtxRefSpec]) =
      resolveWithCv(spark, child.output, c)

    val tsA = attr(tsCol)
    require(tsA.dataType == LongType,
      s"ts column '$tsCol' must be LongType, got ${tsA.dataType}")
    val specs = pattern.map(_.spec)
    val (preds, ctxRefs) = pattern.flatMap(_.preds).map(resolve).unzip
    // every referenced variable must exist in the pattern (a typo'd
    // name would otherwise evaluate to a silent permanent NULL)
    val patVars = specs.flatMap(_.names).toSet
    val badRefs = ctxRefs.flatten.map(_.varName).filterNot(patVars)
    require(badRefs.isEmpty,
      s"cross-variable reference(s) to unknown pattern variable(s): " +
        badRefs.distinct.mkString(", "))

    // step names share the output row with the partition keys and the
    // match_start/match_end bounds — a collision would produce ambiguous
    // duplicate columns downstream, so fail fast here
    val reserved = Seq("match_start", "match_end")
    val clash = specs.flatMap(_.names).filter(n =>
      reserved.contains(n.toLowerCase) ||
        partitionKeys.exists(k => spark.sessionState.analyzer.resolver(k, n)))
    require(clash.isEmpty,
      s"step name(s) ${clash.mkString(", ")} collide with partition keys " +
        "or the reserved match_start/match_end output columns")

    val rowType = StructType(
      child.output.map(a => StructField(a.name, a.dataType, a.nullable)))
    val outAttrs =
      AttributeReference("match_start", LongType, nullable = false)() +:
      AttributeReference("match_end", LongType, nullable = false)() +:
      specs.flatMap(_.names).map(n =>
        AttributeReference(n, ArrayType(rowType, containsNull = false),
          nullable = false)())

    skipToVar.foreach { case (v, _) =>
      require(skipToMembers.isDefined ||
          specs.flatMap(_.names).contains(v),
        s"AFTER MATCH SKIP TO: unknown pattern variable '$v'")
      require(!skipPastLastRow,
        "skipPastLastRow and skipToVar are mutually exclusive")
    }
    skipToMembers.foreach { mem =>
      val have = specs.flatMap(_.names).toSet
      require(mem.nonEmpty && mem.forall(have),
        s"AFTER MATCH SKIP TO subset: member variable(s) ${
          mem.filterNot(have).mkString(", ")} not in the pattern")
    }
    // the executor reads the tie as a raw long slot only when
    // skip-mode election, deferred emission, reluctant preferment, or
    // SKIP TO row identity consume the (ts, tie) key — widen anything
    // long-castable order-preservingly (a negative int tie read as a
    // raw long slot would be zero-extended and invert the leftmost
    // election); otherwise the raw column still drives the per-group
    // sort and the long identity slot is simply not provided (the
    // executor passes a null tieOf, which Nfa tolerates in every-match
    // mode)
    val tieA = attr(tieCol)
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ByteType, DateType, IntegerType,
      ShortType, TimestampNTZType, TimestampType}
    val tieNeeded = skipPastLastRow || skipToVar.nonEmpty ||
      reluctantVars.nonEmpty || ctxRefs.exists(_.nonEmpty)
    val tieE: Expression = tieA.dataType match {
      case LongType => tieA
      case ByteType | ShortType | IntegerType | DateType |
          TimestampType | TimestampNTZType => Cast(tieA, LongType)
      case _ if !tieNeeded => tieA
      case dt => throw new IllegalArgumentException(
        s"tie-break column '$tieCol' must be an integral, date, or " +
          "timestamp type when a skip mode, reluctant quantifier, or " +
          "cross-variable predicate reads the (ts, tie) row identity " +
          s"(got $dt)")
    }
    GraftSqlBridge.ofRows(spark, MatchRecognizeNode(
      partitionKeys.map(attr), tsA, tieE, preds, specs,
      withinTs, every, maxPartials, skipPastLastRow, outAttrs, child,
      ctxRefs, skipToVar, reluctantVars.toSeq.sorted, strictAll,
      skipToMembers))
  }

  private[plans] val CvMarker = "_mr_cv"

  /** Finish resolving an expression whose ATTRIBUTES are already bound
    * but whose operators may still be unresolved function nodes (the
    * Column-DSL conversion leaves `'=`/`'>` etc. for the analyzer,
    * which only runs over plan trees): analyze a dummy Filter over a
    * LocalRelation of the attributes, then cast to boolean. Needed by
    * the streaming evaluators, which feed `Predicate.create` directly
    * instead of embedding the expression in an analyzed plan.
    */
  private def finishResolve(spark: org.apache.spark.sql.SparkSession,
      ex: Expression, attrs: Seq[Attribute]): Expression = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.BooleanType
    val base =
      if (ex.resolved) ex
      else spark.sessionState.analyzer.execute(
        Filter(ex, LocalRelation(attrs))) match {
        case f: Filter => f.condition
        case other => throw new IllegalStateException(
          s"predicate resolution produced ${other.getClass}")
      }
    if (base.dataType == BooleanType) base else Cast(base, BooleanType)
  }

  /** Resolve a predicate Column against `output`, lifting
    * [[cvFirst]]/[[cvLast]] markers into [[CtxRefSpec]]s (the marker
    * becomes a synthetic attribute fed from the partial match at
    * evaluation time). Shared by the batch builder and the streaming
    * cross-variable path.
    */
  private def resolveWithCv(spark: org.apache.spark.sql.SparkSession,
      output: Seq[Attribute], c: Column): (Expression, Seq[CtxRefSpec]) = {
    def attr(n: String): Attribute =
      output.find(a => spark.sessionState.analyzer.resolver(a.name, n))
        .getOrElse(throw new IllegalArgumentException(
          s"column '$n' not in [${output.map(_.name).mkString(", ")}]"))
    val refs = scala.collection.mutable.LinkedHashMap
      .empty[(String, String, String), CtxRefSpec]
    val ex = GraftSqlBridge.sessionExpression(spark, c).transformUp {
      case u: UnresolvedAttribute if u.nameParts.length == 4 &&
          u.nameParts.head == CvMarker =>
        val Seq(_, fn, v, cn) = u.nameParts
        val base = attr(cn)
        refs.getOrElseUpdate((fn, v, cn), {
          val ord = output.indexWhere(_.exprId == base.exprId)
          val resultType = cvResultType(fn, cn, base.dataType)
          CtxRefSpec(fn, v, ord, resultType,
            AttributeReference(s"_mr_cv_${fn}_${v}_$cn", resultType,
              nullable = true)(), baseType = base.dataType)
        }).attr
      case u: UnresolvedAttribute => attr(u.name)
    }
    (ex, refs.values.toSeq)
  }

  /** Result type of a cross-variable reference function over a column
    * of type `dt`; rejects combinations the running evaluator cannot
    * aggregate (SUM/AVG over non-numeric or Decimal, MIN/MAX over
    * complex types). */
  private def cvResultType(fn: String, cn: String,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def numeric = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType => true
      case _ => false
    }
    fn match {
      case "first" | "last" | CtxRefSpec.NavOffRe(_, _) => dt
      case "count" | "size" => LongType
      case "sum" =>
        require(numeric, s"SUM($cn) in DEFINE: column type $dt is not " +
          "a supported numeric (tinyint..bigint, float, double)")
        dt match {
          case FloatType | DoubleType => DoubleType
          case _ => LongType
        }
      case "avg" =>
        require(numeric, s"AVG($cn) in DEFINE: column type $dt is not " +
          "a supported numeric (tinyint..bigint, float, double)")
        DoubleType
      case "min" | "max" =>
        require(dt match {
          case _: ArrayType | _: MapType | _: StructType | BinaryType =>
            false
          case _ => true
        }, s"${fn.toUpperCase}($cn) in DEFINE: column type $dt is not " +
          "orderable here")
        dt
      case other => throw new IllegalArgumentException(
        s"unknown cross-variable reference function '$other'")
    }
  }

  /** Cross-variable DEFINE reference: the value of `column` on the
    * FIRST event bound to pattern variable `variable` in the current
    * partial match (NULL while unbound) — the SQL:2016
    * `B AS B.price > FIRST(A.price)` shape, usable in any [[Elem]]
    * predicate. Both executors evaluate it per (event, partial match):
    * the batch operator through the step's cross-variable predicate,
    * [[streamingFull]] through its `CvStreamEvaluator` (the predicate's
    * per-event flag slot is then a dead placeholder).
    */
  def cvFirst(variable: String, column: String): Column =
    org.apache.spark.sql.functions.col(
      s"$CvMarker.first.$variable.$column")

  /** [[cvFirst]] with a SQL:2016 logical offset: the (1+offset)-th
    * event bound to `variable` so far; NULL when out of range. */
  def cvFirst(variable: String, column: String, offset: Int): Column = {
    require(offset >= 0, s"cvFirst offset must be >= 0, got $offset")
    org.apache.spark.sql.functions.col(
      s"$CvMarker.first$offset.$variable.$column")
  }

  /** Cross-variable DEFINE reference to the LAST (most recent) event
    * bound to `variable` so far — running semantics; see [[cvFirst]].
    */
  def cvLast(variable: String, column: String): Column =
    org.apache.spark.sql.functions.col(
      s"$CvMarker.last.$variable.$column")

  /** [[cvLast]] with a SQL:2016 logical offset: the (1+offset)-th
    * event from the end of `variable`'s binding so far; NULL when out
    * of range. */
  def cvLast(variable: String, column: String, offset: Int): Column = {
    require(offset >= 0, s"cvLast offset must be >= 0, got $offset")
    org.apache.spark.sql.functions.col(
      s"$CvMarker.last$offset.$variable.$column")
  }

  /** Running aggregate over the events bound to `variable` so far —
    * the SQL:2016 `B AS B.price > AVG(A.price)` DEFINE shape. `fn` is
    * one of sum, avg, count, min, max; NULL while the variable is
    * unbound (COUNT is 0). Same evaluation contexts as [[cvFirst]].
    */
  def cvAgg(fn: String, variable: String, column: String): Column = {
    val f = fn.toLowerCase
    require(Set("sum", "avg", "count", "min", "max")(f),
      s"cvAgg fn must be sum|avg|count|min|max, got '$fn'")
    org.apache.spark.sql.functions.col(
      s"$CvMarker.$f.$variable.$column")
  }

  /** PREV/NEXT navigation reference for direct-API DEFINE predicates:
    * the synthetic lag alias a `lagSpecs` entry `(kind, column, k)`
    * resolves to (the SQL dialect's `PREV(col, k)` / `NEXT(col, k)`
    * compile to the same attribute). Composable with [[cvFirst]]/
    * [[cvLast]] in one predicate — on a stream the release decorator
    * embeds the lag values into the event payload.
    */
  def lagCol(kind: String, column: String, k: Int = 1): Column = {
    require(kind == "prev" || kind == "next", s"bad lag kind: $kind")
    org.apache.spark.sql.functions.col(s"_mr_${kind}_${column}_$k")
  }

  /** ALL ROWS PER MATCH shaping: explode a one-row-per-match frame (the
    * batch operator's / [[streamingFull]]'s output, whose slot columns
    * hold FULL input rows) back to one row per MATCHED EVENT — the SQL
    * standard's other row mode. Output = the input columns of the bound
    * event ++ `classifier` (the pattern variable that bound it) ++
    * `match_start`/`match_end` (the match's span — distinct matches
    * share a span only when overlap mode emits same-span ALTERNATIVES
    * of one attempt, e.g. a trailing optional whose event also fits
    * the prior quantifier) ++ `carryCols` (measure
    * columns already computed on `one`, FINAL semantics: the whole-match
    * value repeated on every row of the match).
    *
    * Declarative on purpose: one projection + one `explode` over the
    * (small) match relation — Catalyst sees a Generate node, so column
    * pruning and predicate pushdown still work downstream; no second
    * pass over the raw input at any scale.
    */
  private[graft] def explodeAllRows(one: DataFrame, inputCols: Seq[String],
      slots: Seq[String], carryCols: Seq[String] = Nil,
      keepSlots: Boolean = false,
      /** Streaming WITH UNMATCHED ROWS: the nullable struct column
        * carrying a never-bound input row — such rows (NULL
        * match_start) explode to ONE output row with NULL classifier
        * instead of their (empty) slot arrays. */
      unmatchedCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val reserved = Seq("classifier", "match_start", "match_end")
    val clash = inputCols.filter(c =>
      reserved.contains(c.toLowerCase) || carryCols.contains(c))
    require(clash.isEmpty,
      s"ALL ROWS PER MATCH: input column(s) ${clash.mkString(", ")} " +
        "collide with classifier/match_start/match_end or a measure alias")
    // a measure ALIAS named like a reserved column or a pattern variable
    // would survive the check above and die later with an ambiguous-
    // column AnalysisException — reject it here with a clear message
    val badCarry = carryCols.filter(c =>
      reserved.contains(c.toLowerCase) || slots.contains(c))
    require(badCarry.isEmpty,
      s"ALL ROWS PER MATCH: measure alias(es) ${badCarry.mkString(", ")} " +
        "collide with classifier/match_start/match_end or a pattern " +
        "variable name — rename the measure")
    // keepSlots re-selects the slot arrays alongside the input columns —
    // an input column named like a pattern variable would then duplicate
    // and the RUNNING-measure rewrite dies with an ambiguous-column
    // AnalysisException; reject it with a clear message instead
    if (keepSlots) {
      val slotClash = inputCols.filter(slots.contains)
      require(slotClash.isEmpty,
        s"ALL ROWS PER MATCH: input column(s) ${slotClash.mkString(", ")} " +
          "collide with a pattern variable name — rename the pattern " +
          "variable")
    }
    val taggedM = concat(slots.map(n =>
      transform(col(n), e => struct(e.as("ev"), lit(n).as("cls")))): _*)
    val tagged = unmatchedCol match {
      case None => taggedM
      case Some(uc) => when(col("match_start").isNull,
          array(struct(col(uc).as("ev"),
            lit(null).cast("string").as("cls"))))
        .otherwise(taggedM)
    }
    // keepSlots: RUNNING measures evaluate per exploded row against the
    // whole-match slot arrays — the caller computes them in a follow-up
    // projection and then drops the arrays
    val keep = Seq("match_start", "match_end") ++ carryCols ++
      (if (keepSlots) slots else Nil)
    one.select(keep.map(col) :+ explode(tagged).as("_t"): _*)
      .select(inputCols.map(c => col("_t.ev").getField(c).as(c)) ++
        (col("_t.cls").as("classifier") +: keep.map(col)): _*)
  }

  /** SQL:2016 `ALL ROWS PER MATCH WITH UNMATCHED ROWS`: append the
    * input rows bound into NO match, with NULL classifier / match
    * bounds / measures. Row identity is `(keys, ts, tie)` — the total
    * order the operator already requires — so the complement is one
    * left-anti join against the (match-sized, distinct) bound-event
    * identities; Catalyst broadcasts it when matches are small.
    */
  private[graft] def withUnmatched(matched: DataFrame, input: DataFrame,
      keys: Seq[String], tsCol: String, tieCol: String,
      boundIdentity: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val idCols = keys :+ tsCol :+ tieCol
    // boundIdentity: with pattern exclusions, suppressed rows are
    // matched-but-hidden, NOT unmatched — the complement computes
    // against the pre-exclusion bound set
    // null-safe <=> identity: the NFA groups NULL partition keys and
    // matches them normally, so a plain equi-anti-join (null = null is
    // not true) would re-emit a null-keyed MATCHED row as unmatched too;
    // aliases keep the self-join lineage unambiguous
    val bound = boundIdentity.getOrElse(matched)
      .select(idCols.map(col): _*).distinct().alias("_mrb")
    val inA = input.alias("_mri")
    val cond = idCols.map(c =>
      col(s"_mri.$c") <=> col(s"_mrb.$c")).reduce(_ && _)
    val unmatched = inA.join(bound, cond, "left_anti")
      .select(input.columns.map(col).toIndexedSeq: _*)
    val extras = matched.schema.fields
      .filterNot(f => input.columns.contains(f.name))
    val filled = extras.foldLeft(unmatched)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    matched.unionByName(
      filled.select(matched.columns.map(col).toIndexedSeq: _*))
  }

  /** Batch ALL ROWS PER MATCH: the [[apply]] operator followed by
    * [[explodeAllRows]] — one output row per event bound into a match.
    */
  def allRows(df: DataFrame, partitionKeys: Seq[String], tsCol: String,
      tieCol: String, pattern: Seq[Elem], withinTs: Option[Long] = None,
      every: Boolean = true, maxPartials: Int = 1024,
      skipPastLastRow: Boolean = false): DataFrame =
    explodeAllRows(
      apply(df, partitionKeys, tsCol, tieCol, pattern, withinTs, every,
        maxPartials, skipPastLastRow),
      df.columns.toIndexedSeq, pattern.flatMap(_.spec.names))

  /** Streaming MATCH_RECOGNIZE with the BATCH operator's output schema:
    * `keys ++ (match_start, match_end) ++ one array<struct> column per
    * step name`, each array holding the FULL input rows bound to that
    * step — so SQL MEASURES (`var.col`, FIRST/LAST/SUM/AVG/COUNT)
    * compile identically over batch and streaming input. This is the
    * dispatch target for streaming `MATCH_RECOGNIZE` SQL statements,
    * executed on [[graft.cep.Cep.streaming]].
    *
    * Whole rows ride in the keyed buffer and in live partials — the
    * price of arbitrary-column measures, same trade Flink's CEP makes. State stays O(watermark-delay buffer + live partials ×
    * pattern length) per key; project the input to the columns the
    * measures read before matching to shrink it.
    *
    * Reference anchor: dynamic plans carry patterns over live streams
    * (router/AddRouteOperator.java:114-126).
    *
    * @param lagSpecs SQL:2016 PREV/NEXT navigation used by the DEFINE
    *                  predicates: `(kind, column, n)` with kind
    *                  "prev"/"next" — each becomes the synthetic
    *                  predicate input `_mr_<kind>_<column>_<n>`, fed
    *                  from the per-key release order inside the
    *                  watermark buffer (a [[graft.cep.Cep.Neighborhood]]):
    *                  PREV reads the retained `maxPrev` predecessors
    *                  (NULL at the key's start, matching batch lag);
    *                  NEXT withholds each event until its `n`
    *                  successors are released (the decorator rides
    *                  the [[graft.cep.Cep.step]] kernel).
    */
  def streamingFull(df: DataFrame, partitionKeys: Seq[String], tsCol: String,
      tieCol: String, pattern: Seq[Elem], eventTimeCol: String,
      withinTs: Option[Long] = None, every: Boolean = true,
      maxPartials: Int = 1024, tsScale: Long = 1L,
      skipPastLastRow: Boolean = false,
      lagSpecs: Seq[(String, String, Int)] = Nil,
      /** AFTER MATCH SKIP TO [FIRST|LAST] <var> — the streaming NFA
        * receives the (ts, tie) row identity, so the same greedy
        * resume-at-target semantics as batch (including the
        * standard's unbound-variable and infinite-loop runtime
        * errors) apply per key. */
      skipToVar: Option[(String, Boolean)] = None,
      /** When `skipToVar` names a SUBSET union: its member variables
        * (resume row = the members' merged (ts, tie) first/last). */
      skipToMembers: Option[Seq[String]] = None,
      /** SQL:2016 WITH UNMATCHED ROWS on a stream (needs `withinTs` —
        * the decision horizon). Adds a nullable
        * `_mr_unmatched_ev` output column and makes the match bounds
        * nullable: an unmatched input row emits as `(keys, NULL,
        * NULL, empty slots…, ev)` once the watermark passes its
        * ts + within. */
      withUnmatched: Boolean = false,
      /** Variables under reluctant (lazy) quantifiers — flips the
        * skip-mode same-start election preference for their slots. */
      reluctantVars: Set[String] = Set.empty,
      /** SQL:2016 MATCH_NUMBER() (needs `withinTs`): adds a
        * `match_seq` LONG output column — the match's 1-based per-key
        * number in the batch operator's (match_start, match_end)
        * order. [[graft.cep.Cep.step]] holds each completed match
        * until no earlier-starting live work remains, so numbering is
        * exactly the batch order at the cost of bounded added latency
        * (the WITHIN horizon) and a permanent per-key counter. NULL on
        * unmatched rows. */
      withMatchSeq: Boolean = false,
      /** ISO contiguous matching (MODE STRICT) — see
        * [[graft.cep.PatternDef.strictAll]]. */
      strictAll: Boolean = false,
      /** MEASURES-side PREV/NEXT navigation: keep the decorator-filled
        * `_mr_<kind>_<col>_<k>` lag values in the emitted slot structs
        * (instead of stripping them back to the input row shape), so
        * post-operator measure expressions can read a bound row's
        * partition-order neighbors — the streaming equivalent of the
        * batch path's pre-operator lag/lead columns. */
      exposeLags: Boolean = false,
      /** '$' end anchor on a stream: the quiescence horizon in ORDER
        * BY units (the statement's WITHIN — set by the SQL parser for
        * '$'-anchored streaming statements only). The step kernel
        * force-feeds the NEXT hold-back once the watermark passes a
        * row's ts + horizon; missing successors read NULL, so the
        * batch lead-IS-NULL anchor predicate decides there. */
      nextFlushWithin: Option[Long] = None,
      /** Non-zero folds into the checkpoint fingerprint (strict
        * restore — see [[graft.cep.Cep.storedFp]]). */
      restoreSalt: Long = 0L): DataFrame = {
    val everyMatch = every
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, BooleanType, LongType, StructField, StructType}
    import graft.cep.{Cep, PatternDef, Step}
    require(df.isStreaming, "streamingFull() needs a streaming DataFrame; " +
      "use MatchRecognize(...) for batch")
    require(!withUnmatched || withinTs.isDefined,
      "WITH UNMATCHED ROWS on a stream needs a WITHIN bound (the " +
        "horizon after which an event can no longer join any match)")
    require(!withMatchSeq || withinTs.isDefined,
      "MATCH_NUMBER() on a stream needs a WITHIN bound: numbering " +
        "follows (match_start, match_end) order, so each completed " +
        "match waits for every earlier-starting partial to complete " +
        "or expire, and only WITHIN bounds that wait")
    require(!withMatchSeq ||
        !partitionKeys.exists(_.equalsIgnoreCase("match_seq")),
      "MATCH_NUMBER(): partition key 'match_seq' collides with the " +
        "reserved match_seq output column — rename the key")
    lagSpecs.foreach { case (kind, c, k) =>
      require(kind == "prev" || kind == "next", s"bad lag kind: $kind")
      require(k >= 1, s"PREV/NEXT offset must be >= 1, got $k")
      require(df.columns.exists(
          df.sparkSession.sessionState.analyzer.resolver(_, c)),
        s"PREV/NEXT column '$c' not in [${df.columns.mkString(", ")}]")
    }

    val predCols = pattern.flatMap(_.preds)
    val rowType = df.schema
    // cross-variable references (cvFirst/cvLast markers): resolved per
    // predicate; ref-bearing predicates evaluate INSIDE the NFA (the
    // Step.ctxPred path, interpreted against the partial's bindings),
    // so their flag slots are dead lit(false) placeholders
    val baseOut = df.queryExecution.analyzed.output
    val hasCv = predCols.exists(p =>
      GraftSqlBridge.sessionExpression(df.sparkSession, p).exists {
        case u: UnresolvedAttribute =>
          u.nameParts.headOption.contains(CvMarker)
        case _ => false
      })
    // lag attribute surface (shared by the decorator, the cv resolver
    // and the env payload): one synthetic `_mr_<kind>_<col>_<k>`
    // attribute per navigation, typed as its base column
    def baseAttrOf(n: String): Attribute = baseOut.find(a =>
      df.sparkSession.sessionState.analyzer.resolver(a.name, n)).get
    val lagAttrs = lagSpecs.map { case (kind, c, k) =>
      AttributeReference(s"_mr_${kind}_${c}_$k",
        baseAttrOf(c).dataType, nullable = true)()
    }
    // cross-variable references composed WITH PREV/NEXT: the lag
    // values are release-position state, the bindings partial-match
    // state — they meet by embedding the lag VALUES into the event
    // payload at release time (the decorator fills the extended `ev`
    // struct), so the per-partial ctxPred evaluator later reads both
    // the event's columns and its navigation neighbors from one row
    val extendCv = hasCv && lagSpecs.nonEmpty
    // the payload is extended with lag fields when EITHER consumer
    // needs them past release time: per-partial ctxPred evaluators
    // (extendCv) or post-operator MEASURES navigation (exposeLags)
    val extendPayload = extendCv || (exposeLags && lagSpecs.nonEmpty)
    val extAttrs = baseOut ++ lagAttrs
    val evSchemaExt = StructType(rowType.fields ++ lagAttrs.map(a =>
      StructField(a.name, a.dataType, nullable = true)))
    val evSchemaUsed = if (extendPayload) evSchemaExt else rowType
    // lag-only-mode predicates reference lag aliases resolved later by
    // the LagFlagDecorator; with cv refs present they resolve here
    // against the extended surface
    val resolvedPreds: Seq[(Expression, Seq[CtxRefSpec])] =
      if (lagSpecs.isEmpty)
        predCols.map(c => resolveWithCv(df.sparkSession, baseOut, c))
      else if (extendCv)
        predCols.map(c => resolveWithCv(df.sparkSession, extAttrs, c))
      else predCols.map(_ => (null: Expression, Nil))
    // lag mode: flags cannot precompute statelessly (they read
    // neighbors in the per-key release order) — a placeholder column
    // keeps the env schema fixed and the Neighborhood decorator
    // overwrites it at release time
    val flags =
      if (lagSpecs.isEmpty)
        array(predCols.zip(resolvedPreds).map { case (p, (_, refs)) =>
          if (refs.isEmpty) coalesce(p.cast("boolean"), lit(false))
          else lit(false)
        }: _*)
      else lit(null).cast(ArrayType(BooleanType))
    // plain alias keeps the watermark metadata on the event-time column
    val evPayloadCols: Seq[Column] =
      df.columns.map(col).toIndexedSeq ++
        (if (extendPayload) lagAttrs.map(a =>
          lit(null).cast(a.dataType).as(a.name)) else Nil)
    val env = df.select(
      struct(partitionKeys.map(col): _*).as("k"),
      col(tsCol).cast("long").as("ts"),
      col(tieCol).cast("long").as("tie"),
      flags.as("flags"),
      col(eventTimeCol).as("wmc"),
      struct(evPayloadCols: _*).as("ev"))
    val neighborhood: Option[graft.cep.Cep.Neighborhood[Row]] =
      if (lagSpecs.isEmpty) None
      else {
        val spark = df.sparkSession
        def resolveExt(c: Column): Expression =
          GraftSqlBridge.sessionExpression(spark, c).transformUp {
            case u: UnresolvedAttribute => extAttrs.find(a =>
              spark.sessionState.analyzer.resolver(a.name, u.name))
              .getOrElse(throw new IllegalArgumentException(
                s"column '${u.name}' not in " +
                  s"[${extAttrs.map(_.name).mkString(", ")}]"))
          }
        // cv-bearing predicates evaluate per partial inside the NFA
        // (ctxPred) — their decorator flag slots are dead placeholders
        val predExprs =
          if (extendCv) resolvedPreds.map { case (ex, refs) =>
            if (refs.nonEmpty)
              org.apache.spark.sql.catalyst.expressions.Literal(false)
            else finishResolve(spark, ex, extAttrs)
          }
          else predCols.map(c =>
            finishResolve(spark, resolveExt(c), extAttrs))
        val specs = lagSpecs.map { case (kind, c, k) =>
          (kind, rowType.fieldIndex(baseAttrOf(c).name), k,
            baseAttrOf(c).dataType)
        }
        val maxPrev = lagSpecs.collect { case ("prev", _, k) => k }
          .foldLeft(0)(math.max)
        val maxNext = lagSpecs.collect { case ("next", _, k) => k }
          .foldLeft(0)(math.max)
        Some(graft.cep.Cep.Neighborhood[Row](maxPrev, maxNext,
          new LagFlagDecorator(predExprs, extAttrs, rowType, specs,
            if (extendPayload) evSchemaExt else null)))
      }

    var ci = -1
    def idx(): Int = { ci += 1; ci }
    def flagStep(name: String, min: Int, max: Int,
        strict: Boolean): Step[Row] = {
      val i = idx()
      val (expr, refs) = resolvedPreds(i)
      if (refs.isEmpty)
        Step[Row](name, _.getSeq[Boolean](3)(i), min, max, strict)
      else {
        // cross-variable predicate: interpreted per (event, partial)
        // against the bindings so far — same semantics as the batch
        // executor's ctxPred. With PREV/NEXT in the statement the
        // event payload is extended with the decorator-filled lag
        // values, so the predicate may read both.
        val allAttrs = (if (extendCv) extAttrs else baseOut) ++
          refs.map(_.attr)
        val ev = new CvStreamEvaluator(
          finishResolve(df.sparkSession, expr, allAttrs),
          allAttrs, evSchemaUsed, refs)
        Step[Row](name, r => ev(r, _ => IndexedSeq.empty), min, max,
          strict, ctxPred = Some(ev))
      }
    }
    val pElems = MatchElemSpec.compile[Row](pattern.map(_.spec))(flagStep)
    // referenced variables must exist in the pattern (typo guard —
    // the batch builder enforces the same)
    val cvVars = resolvedPreds.flatMap(_._2.map(_.varName))
    val patVarsS = pElems.flatMap(_.names).toSet
    require(cvVars.forall(patVarsS),
      s"cross-variable reference(s) to unknown pattern variable(s): " +
        cvVars.filterNot(patVarsS).distinct.mkString(", "))
    val pat = PatternDef[Row](pElems, withinTs, everyMatch, maxPartials,
      skipPastLastRow, skipToVar, skipToMembers.map(_.toIndexedSeq),
      reluctantVars, strictAll = strictAll)
    // driver-side mirror of Cep.step's deferred-skip require: fail at
    // plan build time, not inside the first micro-batch on an executor
    require(!new graft.cep.Nfa[Row](pat, _ => 0L, _ => 0L).deferredSkip ||
        withinTs.isDefined,
      "cross-variable DEFINE with AFTER MATCH SKIP PAST LAST ROW / " +
        "SKIP TO <var> on a stream needs a WITHIN bound: leftmost " +
        "election defers each completed match until every " +
        "earlier-starting partial has completed or expired, and only " +
        "WITHIN bounds that wait")
    val slotNames = pElems.flatMap(_.names)

    val keySchema = env.schema("k").dataType.asInstanceOf[StructType]
    // exposeLags widens the emitted slot structs to the extended
    // payload shape (base columns ++ lag aliases); the explode stage
    // selects input columns by NAME, so the extras never leak past the
    // ALL ROWS shaping, and measure rewrites read them off the arrays
    val slotRowType = if (exposeLags && lagSpecs.nonEmpty) evSchemaExt
      else rowType
    val outSchema = StructType(keySchema.fields ++ Array(
      StructField("match_start", LongType, nullable = withUnmatched),
      StructField("match_end", LongType, nullable = withUnmatched)) ++
      (if (withMatchSeq)
        Seq(StructField("match_seq", LongType, nullable = withUnmatched))
      else Nil) ++
      slotNames.map(n =>
        StructField(n, ArrayType(slotRowType, containsNull = false),
          nullable = false)) ++
      (if (withUnmatched)
        Seq(StructField("_mr_unmatched_ev", slotRowType, nullable = true))
      else Nil))
    val kEnc = Encoders.row(keySchema)
    val oEnc = Encoders.row(outSchema)
    val unTail = if (withUnmatched) 1 else 0
    val nBaseCols = rowType.length
    // extended payloads carry decorator-filled lag values; unless
    // exposeLags keeps them for MEASURES navigation, the output
    // contract stays the INPUT row shape, so strip them on emission.
    // Unmatched events enter tracking BEFORE decoration, so under
    // exposeLags their raw payloads are padded to the extended shape
    // (all-NULL lag fields — navigation measures are NULL on
    // unmatched rows anyway).
    val payloadOf: Row => Row =
      if (!extendPayload) _.getStruct(5)
      else if (exposeLags) { r =>
        val s = r.getStruct(5)
        if (s.length == slotRowType.length) s
        else new GenericRowWithSchema(
          Array.tabulate[Any](slotRowType.length)(i =>
            if (i < s.length) s.get(i) else null), slotRowType)
      }
      else { r =>
        val s = r.getStruct(5)
        new GenericRowWithSchema(
          Array.tabulate[Any](nBaseCols)(s.get), rowType)
      }
    val build = (k: Row, m: graft.cep.PatternMatch[Row]) => {
      val row: Row =
        if (withUnmatched && m.groups.contains(Cep.UnmatchedSlot)) {
          val ev = payloadOf(m.groups(Cep.UnmatchedSlot).head)
          new GenericRowWithSchema(
            (k.toSeq ++ Seq(null, null) ++
              (if (withMatchSeq) Seq(null) else Nil) ++
              slotNames.map(_ => IndexedSeq.empty[Row]) ++
              Seq(ev)).toArray, outSchema)
        } else {
          val arrs = slotNames.map(n =>
            m.groups.getOrElse(n, IndexedSeq.empty).map(payloadOf))
          new GenericRowWithSchema(
            (k.toSeq ++ Seq(m.startTs, m.endTs) ++
              (if (withMatchSeq) Seq(m.seq) else Nil) ++ arrs ++
              Seq.fill(unTail)(null)).toArray, outSchema)
        }
      Iterator.single(row)
    }
    val unWithin = if (withUnmatched) withinTs else None
    Cep.streaming[Row, Row, Row](
      env, _.getStruct(0), pat, _.getLong(1), _.getLong(2),
      tsScale, neighborhood, unWithin,
      if (withMatchSeq) Cep.Numbering.BatchOrder else Cep.Numbering.Off,
      nextFlushWithin, restoreSalt)(build)(kEnc, oEnc).toDF()
  }

  /** The streaming cross-variable predicate evaluator: per
    * (event, partial) the referenced FIRST/LAST bindings are read
    * from the partial's env rows (their `ev` payload struct), joined
    * to the event row, and the resolved predicate evaluates
    * interpreted. NULL while the variable is unbound — identical
    * semantics to the batch executor's ctxPred path. Catalyst
    * machinery builds lazily per deserialized task instance.
    */
  private final class CvStreamEvaluator(
      pred: Expression,
      attrs: Seq[Attribute],
      evSchema: org.apache.spark.sql.types.StructType,
      refs: Seq[CtxRefSpec])
    extends ((org.apache.spark.sql.Row,
        String => IndexedSeq[org.apache.spark.sql.Row]) => Boolean)
    with Serializable {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, Predicate}

    @transient private lazy val bp = {
      val p = Predicate.create(pred, attrs)
      p.initialize(0)
      p
    }
    @transient private lazy val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(evSchema)
    @transient private lazy val joined = new JoinedRow
    // one event is evaluated against EVERY live partial consecutively
    // — a one-entry identity cache makes the Catalyst conversion
    // per-event instead of per-(event, partial)
    @transient private var lastEv: Row = _
    @transient private var lastEvI: InternalRow = _

    def apply(e: Row, ctx: String => IndexedSeq[Row]): Boolean = {
      if (e ne lastEv) {
        lastEvI = toCatalyst(e.getStruct(5)).asInstanceOf[InternalRow]
        lastEv = e
      }
      val evI = lastEvI
      val vals = new Array[Any](refs.length)
      var i = 0
      while (i < refs.length) {
        val r = refs(i)
        val g = ctx(r.varName)
        // rows convert lazily per access: FIRST/LAST touch one row,
        // running aggregates walk the binding
        vals(i) = r.eval(g.length, j =>
          toCatalyst(g(j).getStruct(5)).asInstanceOf[InternalRow])
        i += 1
      }
      bp.eval(joined(evI, new GenericInternalRow(vals)))
    }
  }

  /** The [[graft.cep.Cep.Neighborhood]] decorator behind streaming
    * PREV/NEXT: per released event, read each navigation value from
    * the neighboring env rows (NULL when the key has no row that far
    * back — batch lag parity), join them to the event row, evaluate
    * every DEFINE predicate, and overwrite the env row's placeholder
    * flag array. Catalyst machinery (predicates, converters) builds
    * lazily per deserialized task instance; `specs` =
    * `(kind, ev-field ordinal, n, dataType)` per lag reference, in
    * the same order as the trailing `attrs`.
    */
  private final class LagFlagDecorator(
      preds: Seq[Expression],
      attrs: Seq[Attribute],
      evSchema: org.apache.spark.sql.types.StructType,
      specs: Seq[(String, Int, Int, org.apache.spark.sql.types.DataType)],
      /** Non-null when cross-variable refs share the statement: the
        * EXTENDED payload schema (base columns + lag aliases). The
        * decorator then also WRITES the lag values into the payload
        * so the per-partial ctxPred evaluators can read them later
        * (the navigation context no longer exists at NFA time). */
      extSchema: org.apache.spark.sql.types.StructType = null)
    extends ((org.apache.spark.sql.Row,
        IndexedSeq[org.apache.spark.sql.Row],
        IndexedSeq[org.apache.spark.sql.Row]) =>
        org.apache.spark.sql.Row) with Serializable {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, GenericRowWithSchema, JoinedRow, Predicate}

    @transient private lazy val basePreds = preds.map { e =>
      val bp = Predicate.create(e, attrs)
      bp.initialize(0)
      bp
    }
    @transient private lazy val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(evSchema)
    @transient private lazy val toCatalystExt =
      CatalystTypeConverters.createToCatalystConverter(extSchema)
    @transient private lazy val joined = new JoinedRow
    private val nBase = evSchema.length

    def apply(env: Row, prevs: IndexedSeq[Row],
        nexts: IndexedSeq[Row]): Row = {
      // neighbor payloads may themselves be extended (their own lag
      // fields are still null at this point — neighbors enter the
      // ring/hold-back RAW) — base-column ordinals are unaffected,
      // lag aliases append after them
      def neighbor(i: Int): Row = {
        val (kind, _, k, _) = specs(i)
        if (kind == "prev")
          (if (prevs.length >= k) prevs(prevs.length - k) else null)
        else
          (if (nexts.length >= k) nexts(k - 1) else null)
      }
      val vals = new Array[Any](env.length)
      var j = 0
      while (j < env.length) { vals(j) = env.get(j); j += 1 }
      if (extSchema == null) {
        val lagVals = new Array[Any](specs.length)
        var i = 0
        while (i < specs.length) {
          val nb = neighbor(i)
          lagVals(i) =
            if (nb == null) null
            else {
              val ord = specs(i)._2
              val nbI = toCatalyst(nb.getStruct(5))
                .asInstanceOf[InternalRow]
              if (nbI.isNullAt(ord)) null
              else nbI.get(ord, specs(i)._4)
            }
          i += 1
        }
        val evI = toCatalyst(env.getStruct(5)).asInstanceOf[InternalRow]
        val lagRow = new GenericInternalRow(lagVals)
        val flags = basePreds.map(p => p.eval(joined(evI, lagRow)))
        vals(3) = flags.toIndexedSeq
      } else {
        val lagValsExternal = new Array[Any](specs.length)
        var i = 0
        while (i < specs.length) {
          val nb = neighbor(i)
          lagValsExternal(i) =
            if (nb == null) null else nb.getStruct(5).get(specs(i)._2)
          i += 1
        }
        // extended payload: fill the lag fields, evaluate the flag
        // predicates against the single extended row, and carry the
        // filled payload forward for the ctxPred evaluators
        val s = env.getStruct(5)
        val extVals = new Array[Any](nBase + specs.length)
        var b = 0
        while (b < nBase) { extVals(b) = s.get(b); b += 1 }
        System.arraycopy(lagValsExternal, 0, extVals, nBase,
          specs.length)
        val extRow =
          new GenericRowWithSchema(extVals, extSchema)
        val extI = toCatalystExt(extRow).asInstanceOf[InternalRow]
        val flags = basePreds.map(p => p.eval(extI))
        vals(3) = flags.toIndexedSeq
        vals(5) = extRow
      }
      new GenericRowWithSchema(vals,
        env.schema): Row
    }
  }
}
