package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BasePredicate, Expression, GenericInternalRow, Predicate, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import graft.cep.{Nfa, PatternDef, PatternMatch, Step}

/** Planner strategy for [[MatchRecognizeNode]] — registered either via
  * `SparkSessionExtensions.injectPlannerStrategy` ([[GraftExtensions]])
  * or lazily through `spark.experimental.extraStrategies` (the
  * [[MatchRecognize]] builder self-registers).
  */
object MatchRecognizeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case m: MatchRecognizeNode =>
      MatchRecognizeExec(m.keys, m.ts, m.tie, m.predicates, m.elems,
        m.withinTs, m.every, m.maxPartials, m.skipPastLastRow, m.outAttrs,
        planLater(m.child), m.ctxRefs, m.skipToVar, m.reluctantVars,
        m.strictAll, m.skipToMembers) :: Nil
    case _ => Nil
  }
}

/** Physical MATCH_RECOGNIZE: declares `ClusteredDistribution(keys)` +
  * per-partition (keys, ts, tie) sort, so EnsureRequirements plans ONE
  * hash shuffle + sort — or nothing at all when the child is already
  * co-partitioned/sorted (the win over the Dataset `groupByKey` path,
  * which always re-shuffles through an Encoder round-trip).
  *
  * Execution streams each sorted partition once: consecutive rows with
  * equal keys feed one NFA instance event-by-event; a key change flushes
  * the NFA (resolving armed absence windows) and starts the next group.
  * No group is ever materialized — memory is O(live partials), so a
  * hot key (bot user at 100 TB) cannot OOM an executor. Predicates are
  * codegen'd ([[Predicate.create]]) once per partition.
  */
case class MatchRecognizeExec(
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
    child: SparkPlan,
    ctxRefs: Seq[Seq[CtxRefSpec]] = Nil,
    skipToVar: Option[(String, Boolean)] = None,
    reluctantVars: Seq[String] = Nil,
    strictAll: Boolean = false,
    skipToMembers: Option[Seq[String]] = None) extends UnaryExecNode {

  override def output: Seq[Attribute] = keys ++ outAttrs

  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(k => SortOrder(k, Ascending)) ++
      Seq(SortOrder(ts, Ascending), SortOrder(tie, Ascending)))

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numMatches" -> SQLMetrics.createMetric(sparkContext, "number of matches"),
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "number of key groups"))

  override protected def withNewChildInternal(newChild: SparkPlan): MatchRecognizeExec =
    copy(child = newChild)

  protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val slotNames = elems.flatMap(_.names).toIndexedSeq
    val nSlots = slotNames.length
    val nKeys = keyExprs.length
    val arity = nKeys + 2 + nSlots
    val keyTypes = keyExprs.map(_.dataType)
    val tsExpr = ts
    val preds = predicates
    val specs = elems
    val within = withinTs
    val ev = every
    val maxP = maxPartials
    val skipPLR = skipPastLastRow
    val outTypes = output.map(_.dataType).toArray
    val ctxRefSpecs = ctxRefs
    val skipTo = skipToVar
    val skipMembers = skipToMembers
    val reluctant = reluctantVars.toSet
    val strict = strictAll
    val tieExpr = tie
    val matchMetric = longMetric("numMatches")
    val groupMetric = longMetric("numGroups")

    child.execute().mapPartitionsWithIndex({ (idx, rows) =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val tsProj = UnsafeProjection.create(Seq(tsExpr), childOutput)
      val predIt = preds.iterator
      val ctxIt = (if (ctxRefSpecs.isEmpty)
        Iterator.continually(Seq.empty[CtxRefSpec])
      else ctxRefSpecs.iterator)
      def mkStep(name: String, min: Int, max: Int,
          strict: Boolean): Step[InternalRow] = {
        val refs = ctxIt.next()
        if (refs.isEmpty) {
          val p: BasePredicate = Predicate.create(predIt.next(), childOutput)
          p.initialize(idx)
          Step[InternalRow](name, r => p.eval(r), min, max, strict)
        } else {
          // cross-variable predicate: the expression references the
          // synthetic ctx attributes appended after the child schema;
          // each evaluation reads FIRST/LAST bound-event values from
          // the partial's context and joins them to the event row
          val p: BasePredicate = Predicate.create(predIt.next(),
            childOutput ++ refs.map(_.attr))
          p.initialize(idx)
          val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
          val cv = (e: InternalRow,
              ctx: String => IndexedSeq[InternalRow]) => {
            val vals = new Array[Any](refs.length)
            var i = 0
            while (i < refs.length) {
              val ref = refs(i)
              val g = ctx(ref.varName)
              vals(i) = ref.eval(g.length, g(_))
              i += 1
            }
            p.eval(joined(e, new GenericInternalRow(vals)))
          }
          Step[InternalRow](name, r => cv(r, _ => IndexedSeq.empty),
            min, max, strict, ctxPred = Some(cv))
        }
      }
      // occurrence order == predicates order (mkStep consumes one
      // predicate per call)
      val pelems = MatchElemSpec.compile[InternalRow](specs)(mkStep)
      val pat = PatternDef[InternalRow](pelems, within, ev, maxP, skipPLR,
        skipTo, skipMembers.map(_.toIndexedSeq), reluctant,
        strictAll = strict)
      val tsOf = (r: InternalRow) => tsProj(r).getLong(0)
      val tieProj = UnsafeProjection.create(Seq(tieExpr), childOutput)
      // provided whenever the tie is a long slot (the builder widens
      // every long-castable type): skip-mode election and the
      // deferred-emission key comparisons are then deterministic on
      // the full (ts, tie) row identity instead of iteration order
      // among same-ts candidates. A non-long tie (allowed only in
      // plain every-match mode) still drives the per-group sort; the
      // identity slot is absent.
      val tieOf: InternalRow => Long =
        if (tieExpr.dataType == org.apache.spark.sql.types.LongType)
          (r: InternalRow) => tieProj(r).getLong(0)
        else null
      val toUnsafe = UnsafeProjection.create(outTypes)

      def emit(keyRow: UnsafeRow, m: PatternMatch[InternalRow]): InternalRow = {
        val vals = new Array[Any](arity)
        var i = 0
        while (i < nKeys) { vals(i) = keyRow.get(i, keyTypes(i)); i += 1 }
        vals(nKeys) = m.startTs
        vals(nKeys + 1) = m.endTs
        var s = 0
        while (s < nSlots) {
          val g = m.groups.getOrElse(slotNames(s), IndexedSeq.empty)
          vals(nKeys + 2 + s) = new GenericArrayData(g.toArray[Any])
          s += 1
        }
        matchMetric += 1
        toUnsafe(new GenericInternalRow(vals)).copy()
      }

      new Iterator[InternalRow] {
        private var pending: Iterator[InternalRow] = Iterator.empty
        private var curKey: UnsafeRow = _
        private var nfa: Nfa[InternalRow] = _
        private var exhausted = false

        private def fill(): Unit = {
          while (!pending.hasNext && !exhausted) {
            if (rows.hasNext) {
              val r = rows.next()
              val k = keyProj(r)
              if (nfa == null || k != curKey) {
                groupMetric += 1
                val flushed =
                  if (nfa == null) IndexedSeq.empty[PatternMatch[InternalRow]]
                  else nfa.flush()
                val prevKey = curKey
                curKey = k.copy()
                // bind-time materializer: rows live in the scan
                // iterator's reused buffer, so the NFA copies a row
                // out lazily the first time a partial actually binds
                // it — rows that are walked but never retained (all of
                // them, on a matchless stretch with a live partial)
                // are never copied
                nfa = new Nfa(pat, tsOf, tieOf,
                  materialize = (r: InternalRow) => r.copy())
                val kk = curKey
                // quickReject: a row no live partial can bind and that
                // cannot seed also skips the full NFA walk — the
                // dominant row population on sparse-match workloads
                val ms =
                  if (nfa.quickReject(r))
                    IndexedSeq.empty[PatternMatch[InternalRow]]
                  else nfa.onEvent(r)
                if (flushed.nonEmpty || ms.nonEmpty)
                  pending = flushed.iterator.map(m => emit(prevKey, m)) ++
                    ms.iterator.map(m => emit(kk, m))
              } else {
                val kk = curKey
                val ms =
                  if (nfa.quickReject(r))
                    IndexedSeq.empty[PatternMatch[InternalRow]]
                  else nfa.onEvent(r)
                if (ms.nonEmpty) pending = ms.iterator.map(m => emit(kk, m))
              }
            } else {
              if (nfa != null) {
                val flushed = nfa.flush()
                nfa = null
                val kk = curKey
                if (flushed.nonEmpty)
                  pending = flushed.iterator.map(m => emit(kk, m))
              }
              exhausted = true
            }
          }
        }

        override def hasNext: Boolean = { fill(); pending.hasNext }
        override def next(): InternalRow = { fill(); pending.next() }
      }
    }, preservesPartitioning = true)
  }
}
