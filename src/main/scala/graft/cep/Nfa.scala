package graft.cep

import scala.collection.mutable.ArrayBuffer

/** Incremental NFA for [[PatternDef]] evaluation.
  *
  * Feed events in event-time order via [[onEvent]]; completed matches are
  * returned as they happen. Absence (`not … for t`) elements resolve by
  * time alone, so callers must also drive [[advanceTime]] (streaming: at
  * each watermark; batch: once after the last event via [[flush]]).
  * The engine is pure in-JVM state (no Spark types), so the exact same
  * kernel runs inside a batch `flatMapGroups`/`flatMapSortedGroups` and a
  * streaming `flatMapGroupsWithState` — one semantics, two execution
  * modes.
  *
  * Equivalent role in the reference: the embedded engine's pattern state
  * machines driven from the host operator's ordered event feed
  * (core/src/main/java/org/apache/flink/streaming/siddhi/operator/AbstractSiddhiOperator.java:209-247
  * orders by timestamp before delivery; the NFA itself lived in the
  * external siddhi-core dependency — rebuilt here, not copied).
  *
  * Group layout: each element owns a contiguous range of "slots" in
  * `Partial.groups` — a Step one slot, a NestedGroup one per variable
  * of its items (an alternation two, a PERMUTE one per member), an
  * RxElem one per distinct variable name, an Absence one (never
  * filled).
  * Slot→name mapping is static, so match output construction is a flat
  * scan. A NestedGroup partial counts its bound events in `curCount`
  * (`iterationsDone * arity + positionInIteration`); an RxElem partial
  * holds its automaton state id there and its counters in `rxCnt`.
  *
  * Scale: partial matches are bounded by `maxPartialMatches`; expired
  * partials are pruned on every event using `withinMs`, so per-key state
  * is O(live partials × pattern length), never O(stream).
  */
final class Nfa[E](val pattern: PatternDef[E], val tsOf: E => Long,
    val tieOf: E => Long = null,
    /** Bind-time materializer: when the caller feeds events from a
      * REUSED buffer (the batch operator's scan iterator), this copies
      * an event out of it — lazily, the first time THIS event is
      * actually retained by a partial, so rows no live partial binds
      * (the dominant population on sparse-match scans) are never
      * copied. null = events are already owned (streaming, tests). */
    val materialize: E => E = null) extends Serializable {
  private val elems = pattern.steps
  require(elems.nonEmpty, "pattern needs at least one step")
  pattern.skipToVar.foreach { case (v, _) =>
    require(tieOf != null,
      "AFTER MATCH SKIP TO FIRST/LAST <var> needs a tie-break " +
        "function (row identity is (ts, tie)) — use an executor that " +
        "provides one")
    // composes with absence (not-for) elements: deadline-resolved
    // matches elect in (deadline, start-key) order inside promote()
    // with the same resume-at-target consumption as the event path —
    // the target variable's bound rows carry the (ts, tie) identity;
    // naming the absence variable itself hits the standard's
    // unbound-variable runtime error
    require(pattern.every,
      "AFTER MATCH SKIP TO FIRST/LAST <var> needs every = true (the " +
        "skip mode itself governs which matches emit)")
  }
  require(!pattern.strictAll ||
      elems.forall(!_.isInstanceOf[Absence[E]]),
    "strictAll (ISO contiguous matching) excludes absence (not-for) " +
      "elements — absence has no ISO counterpart and binds no rows")
  elems.head match {
    case s: Step[E] =>
      require(s.minCount >= 1, "first step must be non-optional")
    case ng: NestedGroup[E] =>
      require(ng.minRepeat >= 1, "first group must be non-optional")
    case rx: RxElem[E] =>
      require(!rx.matchesEmpty, "first element must be non-optional")
    case _: Absence[E] =>
      throw new IllegalArgumentException(
        "pattern cannot start with an absence element")
  }

  private val last = elems.length - 1

  /** First group slot of each element. */
  private val slotBase: Array[Int] = {
    val b = new Array[Int](elems.length)
    var acc = 0
    var i = 0
    while (i < elems.length) { b(i) = acc; acc += elems(i).names.length; i += 1 }
    b
  }
  private val slotNames: IndexedSeq[String] = elems.flatMap(_.names)
  require(slotNames.distinct.length == slotNames.length,
    s"duplicate step names: ${slotNames.diff(slotNames.distinct).distinct.mkString(", ")}")

  private val skip = pattern.skipPastLastRow
  private val skipTo = pattern.skipToVar
  /** Slots whose rows form the SKIP TO target: one slot for a plain
    * variable, the member slots for a SUBSET union variable. */
  private val skipSlots: IndexedSeq[String] =
    pattern.skipToMembers.getOrElse(
      skipTo.map(v => IndexedSeq(v._1)).getOrElse(IndexedSeq.empty))
  pattern.skipToVar.foreach { case (v, _) =>
    require(skipSlots.nonEmpty && skipSlots.forall(slotNames.contains),
      s"AFTER MATCH SKIP TO: unknown pattern variable(s) '${
        skipSlots.filterNot(slotNames.contains).mkString(", ")}' " +
        s"(target '$v'; have: ${slotNames.mkString(", ")})")
    require(!skip, "skipPastLastRow and skipToVar are mutually exclusive")
  }

  /** The SKIP TO target rows of an emitted match: the named slot's
    * rows, or — for a SUBSET union — the members' merged `(ts, tie)`
    * order (SQL:2016: a union variable's bound rows are the union of
    * its members' rows, so FIRST/LAST read the merged extremes). */
  private def skipRows(m: PatternMatch[E]): IndexedSeq[E] =
    if (skipSlots.length == 1)
      m.groups.getOrElse(skipSlots.head, IndexedSeq.empty)
    else {
      val merged = skipSlots.flatMap(s =>
        m.groups.getOrElse(s, IndexedSeq.empty))
      if (merged.length <= 1) merged else merged.sortBy(keyOf)
    }

  /** Do any steps carry seed-dependent (cross-variable) predicates? With
    * them, partials are no longer in lockstep: a later-starting partial
    * can complete on an EARLIER event than a still-in-flight
    * earlier-starting one, so skip-mode emission must wait until no live
    * partial with a smaller (ts, tie) start key can still complete —
    * otherwise the emitted match consumes rows the standard's leftmost
    * rescan gives to the earlier start.
    */
  private val hasCtx: Boolean = {
    def sc(s: Step[E]): Boolean = s.ctxPred.isDefined
    elems.exists {
      case s: Step[E] => sc(s)
      case ng: NestedGroup[E] => ng.items.exists {
        case GVar(s) => sc(s)
        case GAlt(l, r) => sc(l) || sc(r)
        case GPerm(ss) => ss.exists(sc)
      }
      case a: Absence[E] => sc(a.step)
      case rx: RxElem[E] => rx.allSteps.exists(sc)
    }
  }
  /** Defer skip-mode emission through [[pendingCands]] (see [[hasCtx]]).
    * Lockstep patterns (event-only predicates) keep the immediate-emit
    * path: whenever a later-start partial completes, some branch of
    * every earlier-start partial completes on the same event, so the
    * leftmost election at the completing event IS the standard's
    * leftmost match and deferral would change nothing but latency.
    */
  private val deferSkip: Boolean = hasCtx && (skip || skipTo.isDefined)

  private var partials: List[Partial[E]] = Nil
  private var terminated: Boolean = false
  /** Completed skip-mode candidates awaiting leftmost confirmation
    * (only ever non-empty when [[deferSkip]]). */
  private var pendingCands: List[PatternMatch[E]] = Nil

  /** Serializable snapshot for checkpointed streaming state. */
  def snapshot: (List[Partial[E]], Boolean, List[PatternMatch[E]]) =
    (partials, terminated, pendingCands)
  def restore(s: (List[Partial[E]], Boolean, List[PatternMatch[E]])): Unit = {
    partials = s._1; terminated = s._2; pendingCands = s._3
  }

  private def grown(g: Vector[Vector[E]], upTo: Int): Vector[Vector[E]] = {
    var v = g
    while (v.length <= upTo) v = v :+ Vector.empty[E]
    v
  }

  // per-onEvent cache: every retention of one event materializes once
  private var matValid = false
  private var matVal: E = _
  @inline private def mat(e: E): E =
    if (materialize == null) e
    else {
      if (!matValid) { matVal = materialize(e); matValid = true }
      matVal
    }

  private def bound(p: Partial[E], slot: Int, e: E): Vector[Vector[E]] = {
    val g = grown(p.groups, slot)
    g.updated(slot, g(slot) :+ mat(e))
  }

  // --- cross-variable predicate support (Step.ctxPred) ---
  private val nameToSlot: Map[String, Int] = slotNames.zipWithIndex.toMap
  private val emptyCtx: String => IndexedSeq[E] = _ => IndexedSeq.empty
  private def ctxOf(p: Partial[E]): String => IndexedSeq[E] = n =>
    nameToSlot.get(n) match {
      case Some(i) if i < p.groups.length => p.groups(i)
      case _ => IndexedSeq.empty
    }
  /** Evaluate a step predicate against event `e` with the bindings of
    * partial `p` as context (only consulted by [[Step.ctxPred]] steps).
    */
  private def evalPred(s: Step[E], e: E, p: Partial[E]): Boolean =
    s.ctxPred match {
      case Some(f) => f(e, ctxOf(p))
      case None    => s.predicate(e)
    }
  /** Slot offset (within a [[NestedGroup]]'s slot range) that event
    * `e` binds at in-iteration position `pos`, or -1. `iterDone` =
    * completed iterations (identifies unbound PERMUTE members);
    * `base` = the element's first global slot (for reading counts).
    */
  private def ngBindSlot(ng: NestedGroup[E], pos: Int, iterDone: Int,
      base: Int, p: Partial[E], e: E, seed: Boolean): Int = {
    val (ii, _) = ng.posMap(pos)
    val ib = ng.itemSlotBase(ii)
    def ev(st: Step[E]): Boolean =
      if (seed) evalSeed(st, e) else evalPred(st, e, p)
    ng.items(ii) match {
      case gv: GVar[E]  => if (ev(gv.step)) ib else -1
      case ga: GAlt[E]  =>
        if (ev(ga.left)) ib else if (ev(ga.right)) ib + 1 else -1
      case gp: GPerm[E] =>
        gp.steps.indices.find { i =>
          val g = base + ib + i
          val cnt =
            if (p != null && g < p.groups.length) p.groups(g).length
            else 0
          cnt == iterDone && ev(gp.steps(i))
        }.map(ib + _).getOrElse(-1)
    }
  }

  // --- SKIP TO FIRST/LAST <var> row identity helpers ---
  private def keyOf(e: E): (Long, Long) = (tsOf(e), tieOf(e))
  /** Row key that degrades to (ts, 0) when no tie-break is configured —
    * matches [[Partial.startTie]]'s convention. */
  private def safeKey(e: E): (Long, Long) =
    (tsOf(e), if (tieOf == null) 0L else tieOf(e))
  private def startKeyOf(m: PatternMatch[E]): (Long, Long) =
    m.groups.valuesIterator.flatten.map(safeKey).min
  /** Key of the match's LAST row; when the match ended on elapsed time
    * (absence deadline past the last bound row) every same-ts row is
    * consumed, hence the MaxValue tie. */
  private def endKeyOf(m: PatternMatch[E]): (Long, Long) = {
    val mx = m.groups.valuesIterator.flatten.map(safeKey)
      .foldLeft((Long.MinValue, Long.MinValue))((a, b) =>
        if (geKey(b, a)) b else a)
    if (m.endTs > mx._1) (m.endTs, Long.MaxValue) else mx
  }
  private def geKey(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2)
  private def ltKey(a: (Long, Long), b: (Long, Long)): Boolean = !geKey(a, b)
  private def gtKey(a: (Long, Long), b: (Long, Long)): Boolean = ltKey(b, a)

  // --- skip-mode candidate election order ---
  private val slotReluctant: Array[Boolean] =
    slotNames.map(pattern.reluctantSlots.contains).toArray
  /** Candidate preferment: leftmost start first; among equal starts,
    * walk the slots in declaration order — a greedy slot prefers MORE
    * bound events, a reluctant (lazy-quantified) slot FEWER; the
    * first count difference decides (the SQL:2016 preferment
    * approximated at slot granularity). Final tie on endTs. */
  private val candOrder: Ordering[PatternMatch[E]] =
    new Ordering[PatternMatch[E]] {
      def compare(a: PatternMatch[E], b: PatternMatch[E]): Int = {
        val ka = startKeyOf(a); val kb = startKeyOf(b)
        var c = java.lang.Long.compare(ka._1, kb._1)
        if (c != 0) return c
        c = java.lang.Long.compare(ka._2, kb._2)
        if (c != 0) return c
        var i = 0
        while (i < slotNames.length) {
          val ca = a.groups.get(slotNames(i)).map(_.size).getOrElse(0)
          val cb = b.groups.get(slotNames(i)).map(_.size).getOrElse(0)
          if (ca != cb)
            return if (slotReluctant(i)) ca - cb else cb - ca
          i += 1
        }
        java.lang.Long.compare(a.endTs, b.endTs)
      }
    }

  /** Seed-time predicate (element 0, no partial yet): empty context. */
  private def evalSeed(s: Step[E], e: E): Boolean =
    s.ctxPred match {
      case Some(f) => f(e, emptyCtx)
      case None    => s.predicate(e)
    }

  /** Is the partial's current element satisfied (eligible to advance)? */
  private def complete(p: Partial[E]): Boolean = elems(p.stepIdx) match {
    case s: Step[E] => p.curCount >= s.minCount
    case ng: NestedGroup[E] =>
      // an iteration binds exactly `arity` events (the per-item bind
      // rules enforce it), so curCount % arity == 0 IS the boundary
      p.curCount % ng.arity == 0 && p.curCount / ng.arity >= ng.minRepeat
    case rx: RxElem[E] =>
      // configuration (state, counters) can ε-reach the accept state
      rx.complete(p.curCount, p.rxCnt)
    case _: Absence[E] => false // only time completes an absence
  }

  private def strictNext(p: Partial[E]): Boolean =
    elems(p.stepIdx + 1) match {
      case s: Step[E] => s.strict
      case _ => false
    }

  private def buildMatch(p: Partial[E], endTs: Long): PatternMatch[E] = {
    val groups = slotNames.indices.flatMap { i =>
      val g = if (i < p.groups.length) p.groups(i) else Vector.empty[E]
      if (g.nonEmpty) Some(slotNames(i) -> (g: IndexedSeq[E])) else None
    }.toMap
    PatternMatch(p.startTs, endTs, groups)
  }

  private def emitMatch(p: Partial[E], endTs: Long,
      out: ArrayBuffer[PatternMatch[E]]): Unit = {
    out += buildMatch(p, endTs)
    // deferred skip mode: `out` here is a CANDIDATE buffer — non-every
    // termination is decided at actual emission (drainPending)
    if (!pattern.every && !deferSkip) terminated = true
  }

  /** Deferred skip-mode emission: a pending candidate emits only once no
    * live partial with a (ts, tie) start key AT OR BEFORE its own
    * remains — an earlier-starting live partial could still complete a
    * leftmost-preferred match, and a SAME-start live partial (e.g. the
    * open-quantifier sibling branch of the candidate itself) could
    * complete a preferment-preferred one ([[candOrder]]'s greedy slot
    * walk); only once both are impossible does the standard's leftmost
    * rescan provably elect the head candidate. Each emission applies
    * the skip mode's consumption to the remaining candidates AND the
    * live partials. `ignoreLive` (end-of-input flush) treats every
    * live partial as unable to complete.
    */
  private def drainPending(out: ArrayBuffer[PatternMatch[E]],
      ignoreLive: Boolean = false): Unit = {
    if (pendingCands.isEmpty) return
    var live = partials
    var pend = pendingCands.sorted(candOrder)
    var go = true
    while (go && pend.nonEmpty && !terminated) {
      val c = pend.head
      val ck = startKeyOf(c)
      if (!ignoreLive &&
          live.exists(p => geKey(ck, (p.startTs, p.startTie)))) go = false
      else {
        out += c
        if (!pattern.every) { terminated = true; pend = Nil; live = Nil }
        else if (skip) {
          val e = endKeyOf(c)
          pend = pend.tail.filter(m => gtKey(startKeyOf(m), e))
          live = live.filter(p => gtKey((p.startTs, p.startTie), e))
        } else {
          val (v, isFirst) = skipTo.get
          val g = skipRows(c)
          if (g.isEmpty) throw new IllegalStateException(
            s"AFTER MATCH SKIP TO ${if (isFirst) "FIRST" else "LAST"} " +
              s"$v: the variable bound no rows in the match")
          val tgt = keyOf(if (isFirst) g.head else g.last)
          if (tgt == ck) throw new IllegalStateException(
            s"AFTER MATCH SKIP TO ${if (isFirst) "FIRST" else "LAST"} " +
              s"$v: the target row is the match's own first row " +
              "(infinite loop)")
          pend = pend.tail.filter(m => geKey(startKeyOf(m), tgt))
          live = live.filter(p => geKey((p.startTs, p.startTie), tgt))
        }
      }
    }
    pendingCands = pend
    partials = live
  }

  private def emitIfComplete(p: Partial[E], out: ArrayBuffer[PatternMatch[E]],
      endTs: Long): Boolean =
    if (p.stepIdx == last && complete(p)) { emitMatch(p, out = out, endTs = endTs); true }
    else false

  /** Add `np` to the next-partials set; if its current element is now
    * satisfied and the next element is an absence, also arm an absence
    * branch (window starts at `t`). The un-armed `np` survives alongside
    * only if more events can still bind to it (open quantifier).
    */
  private def addPartial(np: Partial[E], t: Long,
      next: ArrayBuffer[Partial[E]]): Unit = {
    val armAbsence = np.stepIdx < last && complete(np) &&
      elems(np.stepIdx + 1).isInstanceOf[Absence[E]]
    if (armAbsence) {
      next += np.copy(stepIdx = np.stepIdx + 1, curCount = 0, elemTs = t)
      val canGrow = elems(np.stepIdx) match {
        case s: Step[E] => np.curCount < s.maxCount
        case ng: NestedGroup[E] =>
          // Long arithmetic: maxRepeat may be Int.MaxValue (`+`/`*`)
          np.curCount.toLong < ng.maxRepeat.toLong * ng.arity
        case rx: RxElem[E] => rx.canConsume(np.curCount, np.rxCnt)
        case _ => false
      }
      if (canGrow) next += np
    } else next += np
  }

  /** Resolve absence windows that have fully elapsed by `now`: advance
    * (or emit, if last) each partial parked at an elapsed absence.
    * Chained absences resolve in sequence, each window starting at the
    * previous deadline.
    *
    * Emission order is DEADLINE order (stable on the partials order for
    * ties): one promote over a large time jump must emit exactly what a
    * sequence of smaller watermark advances would — the batch and
    * streaming executors then agree on output order, and `every = false`
    * terminates on the earliest-deadline match, not the list-order one.
    */
  private def promote(now: Long, out: ArrayBuffer[PatternMatch[E]]): Unit = {
    val res = List.newBuilder[Partial[E]]
    val resolved = ArrayBuffer.empty[(Long, Partial[E])] // (deadline, p)
    partials.foreach { p0 =>
      var p = p0
      var alive = true
      var again = true
      while (alive && again) {
        elems(p.stepIdx) match {
          case a: Absence[E] if now - p.elemTs >= a.forMs =>
            val deadline = p.elemTs + a.forMs
            if (pattern.withinMs.exists(w => deadline - p.startTs > w)) {
              alive = false // cannot complete inside `within`
            } else if (p.stepIdx == last) {
              resolved += ((deadline, p))
              alive = false
            } else {
              p = p.copy(stepIdx = p.stepIdx + 1, curCount = 0, elemTs = deadline)
            }
          case _ => again = false
        }
      }
      if (alive) res += p
    }
    if (deferSkip) {
      // seed-dependent predicates: deadline-resolved matches join the
      // pending candidates and emit in leftmost order once no earlier-
      // starting live partial remains (see drainPending)
      partials = res.result()
      pendingCands = pendingCands ++
        resolved.map { case (deadline, p) => buildMatch(p, deadline) }
      drainPending(out)
      return
    }
    if (skipTo.isDefined) {
      // SKIP TO FIRST/LAST <var> for deadline-resolved matches: the
      // resume target's (ts, tie) identity comes from the emitted
      // match's bound rows (the absence slot binds none, but the
      // standard's unbound-variable error covers naming it), so the
      // event path's one-pass resume-at-target consumption applies
      // here too, with (deadline, start-key) election order
      resolved.sortInPlaceBy { case (d, p) => (d, p.startTs, p.startTie) }
      val (v, isFirst) = skipTo.get
      var live = res.result()
      var resume: Option[(Long, Long)] = None
      resolved.foreach { case (deadline, p) =>
        val sk = (p.startTs, p.startTie)
        if (resume.forall(r => geKey(sk, r))) {
          val m = buildMatch(p, deadline)
          val g = skipRows(m)
          if (g.isEmpty) throw new IllegalStateException(
            s"AFTER MATCH SKIP TO ${if (isFirst) "FIRST" else "LAST"} " +
              s"$v: the variable bound no rows in the match")
          val tgt = keyOf(if (isFirst) g.head else g.last)
          if (tgt == sk) throw new IllegalStateException(
            s"AFTER MATCH SKIP TO ${if (isFirst) "FIRST" else "LAST"} " +
              s"$v: the target row is the match's own first row " +
              "(infinite loop)")
          out += m
          resume = Some(tgt)
        }
      }
      resume.foreach { r =>
        live = live.filter(p => geKey((p.startTs, p.startTie), r))
      }
      partials = live
      return
    }
    if (skip) resolved.sortInPlaceBy(t => (t._1, t._2.startTs))
    else resolved.sortInPlaceBy(_._1)
    // skip-past-last-row: resolved matches consume their rows — a later
    // resolved partial that started at/before an emitted match's end
    // overlaps it and is dropped, as are surviving partials
    var lastEnd = Long.MinValue
    var emitted = false
    resolved.foreach { case (deadline, p) =>
      if (!terminated && (!skip || !emitted || p.startTs > lastEnd)) {
        emitMatch(p, deadline, out)
        if (skip) { emitted = true; lastEnd = math.max(lastEnd, deadline) }
      }
    }
    partials =
      if (skip && emitted) res.result().filter(_.startTs > lastEnd)
      else res.result()
  }

  /** Fast-path probe for executors: true iff this event provably
    * cannot change NFA state or emit — no live partials, no pending
    * skip-mode candidates, and either the key is terminated or the
    * head element cannot seed on the event. Lets the batch executor
    * skip the defensive row copy (and the full onEvent walk) on
    * sparse-match workloads; [[onEvent]] on a quick-rejected event
    * would be a no-op by construction (the seed conditions below are
    * exactly [[onEvent]]'s element-0 seeding tests).
    *
    * Cost bound: a row that DOES seed from empty state pays the head
    * seed predicates twice (here and in [[onEvent]]'s seeding block) —
    * but any live partial short-circuits on the first check with no
    * predicate eval at all, and a seeding row leaves a live partial
    * behind, so the double eval is confined to the first seeding row
    * after each state drain, not to match-dense runs.
    */
  def quickReject(e: E): Boolean =
    partials.isEmpty && pendingCands.isEmpty &&
      (terminated || !headCanSeed(e))

  /** True when skip-mode emission is deferred through [[pendingCands]]
    * (cross-variable DEFINE + a skip mode). On an unbounded stream this
    * mode needs a `within` bound: a live partial that can neither
    * complete nor die (e.g. a non-strict step whose predicate never
    * fires, or an open quantifier that keeps extending) blocks every
    * later-starting pending candidate forever, and only expiry
    * ([[pruneExpired]]) clears such a blocker. Streaming entry points
    * must reject deferredSkip patterns without `withinMs`. */
  def deferredSkip: Boolean = deferSkip

  private def headCanSeed(e: E): Boolean = elems.head match {
    case s: Step[E] => evalSeed(s, e)
    case ng: NestedGroup[E] =>
      ngBindSlot(ng, 0, 0, 0, null, e, seed = true) >= 0
    case rx: RxElem[E] =>
      rx.eventBranches(rx.initState, rx.initCnt, e,
        s => evalSeed(s, e)).nonEmpty
    case _: Absence[E] => false // unreachable (head require)
  }

  /** Process one event (must be fed in non-decreasing ts order). */
  def onEvent(e: E): IndexedSeq[PatternMatch[E]] = {
    matValid = false // new event: invalidate the bind-time copy cache
    val t = tsOf(e)
    val out = ArrayBuffer.empty[PatternMatch[E]]
    // time passes: absence windows ending at or before t resolve first,
    // so an event at exactly the deadline cannot violate the absence
    promote(t, out)
    // skip-past-last-row defers event-path emissions to a side buffer:
    // all matches completing on THIS event are candidates, exactly one
    // (the earliest-starting — greedy leftmost) is emitted
    val evOut = if (skip || skipTo.isDefined)
      ArrayBuffer.empty[PatternMatch[E]] else out
    val next = ArrayBuffer.empty[Partial[E]]

    partials.foreach { p =>
      // `within`: with ordered input, no later event can complete this
      // partial either — prune.
      if (!pattern.withinMs.exists(w => t - p.startTs > w)) {
        var moved = false
        var keepOriginal = false
        var violated = false

        // (a) bind e into the current element
        elems(p.stepIdx) match {
          case s: Step[E] =>
            // extend the current step's count group. Below minCount the
            // extension is committed; at/after minCount it is a branch —
            // the un-extended partial stays live so it can still advance
            // on a later event (A<2:3> must match both the 2-long and
            // 3-long collections).
            if (p.curCount < s.maxCount && evalPred(s, e, p)) {
              val np = p.copy(curCount = p.curCount + 1,
                groups = bound(p, slotBase(p.stepIdx), e))
              if (!emitIfComplete(np, evOut, t)) addPartial(np, t, next)
              moved = true
              if (p.curCount >= s.minCount) keepOriginal = true
            }
          case ng: NestedGroup[E] =>
            // walk the iteration's item sequence; extension from a
            // complete boundary is a branch — the un-extended partial
            // stays live to advance with fewer iterations (the Step
            // at/after-minCount convention)
            val L = ng.arity
            // Long arithmetic: maxRepeat may be Int.MaxValue (`+`/`*`)
            if (p.curCount.toLong < ng.maxRepeat.toLong * L) {
              val slot = ngBindSlot(ng, p.curCount % L, p.curCount / L,
                slotBase(p.stepIdx), p, e, seed = false)
              if (slot >= 0) {
                val np = p.copy(curCount = p.curCount + 1,
                  groups = bound(p, slotBase(p.stepIdx) + slot, e))
                if (!emitIfComplete(np, evOut, t)) addPartial(np, t, next)
                moved = true
                if (complete(p)) keepOriginal = true
              }
            }
          case rx: RxElem[E] =>
            // one branch per distinct automaton transition the event
            // fires from the configuration's ε-closure; the original
            // stays live only when the element is already complete
            // (the NestedGroup boundary convention)
            val branches = rx.eventBranches(p.curCount, p.rxCnt, e,
              s => evalPred(s, e, p))
            if (branches.nonEmpty) {
              branches.foreach { case (st2, c2, off) =>
                val np = p.copy(curCount = st2, rxCnt = c2,
                  groups = bound(p, slotBase(p.stepIdx) + off, e))
                if (!emitIfComplete(np, evOut, t)) addPartial(np, t, next)
              }
              moved = true
              if (complete(p)) keepOriginal = true
            }
          case a: Absence[E] =>
            // promote() already ran, so t is inside the window here: a
            // qualifying event violates the absence — the partial dies
            if (evalPred(a.step, e, p)) violated = true
        }

        // (b) advance into a later element (skipping optional steps;
        // an un-elapsed absence window blocks the scan)
        if (!violated && complete(p) && p.stepIdx < last) {
          var j = p.stepIdx + 1
          var scan = true
          while (scan && j <= last) {
            elems(j) match {
              case sj: Step[E] =>
                if (sj.maxCount >= 1 && evalPred(sj, e, p)) {
                  val np = Partial(j, 1, p.startTs,
                    bound(p, slotBase(j), e), elemTs = t, startTie = p.startTie)
                  if (!emitIfComplete(np, evOut, t)) addPartial(np, t, next)
                  moved = true
                }
                if (sj.minCount == 0) j += 1 else scan = false
              case ngj: NestedGroup[E] =>
                if (ngj.maxRepeat >= 1) {
                  val bj = slotBase(j)
                  val slot = ngBindSlot(ngj, 0, 0, bj, p, e, seed = false)
                  if (slot >= 0) {
                    val np = Partial(j, 1, p.startTs,
                      bound(p, bj + slot, e), elemTs = t,
                      startTie = p.startTie)
                    if (!emitIfComplete(np, evOut, t))
                      addPartial(np, t, next)
                    moved = true
                  }
                }
                if (ngj.minRepeat == 0) j += 1 else scan = false
              case rxj: RxElem[E] =>
                val bj = slotBase(j)
                val branches = rxj.eventBranches(rxj.initState,
                  rxj.initCnt, e, s => evalPred(s, e, p))
                branches.foreach { case (st2, c2, off) =>
                  val np = Partial(j, st2, p.startTs,
                    bound(p, bj + off, e), elemTs = t,
                    startTie = p.startTie, rxCnt = c2)
                  if (!emitIfComplete(np, evOut, t))
                    addPartial(np, t, next)
                }
                if (branches.nonEmpty) moved = true
                if (rxj.matchesEmpty) j += 1 else scan = false
              case _: Absence[E] =>
                scan = false
            }
          }
        }

        if (violated) () // dropped
        else if (!moved) {
          // strictAll (ISO contiguous matching): a live partial that
          // did not consume this event dies — no element type may
          // wait out an intervening row
          val mustDie = pattern.strictAll || (elems(p.stepIdx) match {
            case _: Absence[E] => false
            // strict contiguity: the immediately-next event had to qualify
            case s: Step[E] if p.curCount < s.minCount && s.strict => true
            case _ => complete(p) && (p.stepIdx == last || strictNext(p))
          })
          if (!mustDie) next += p
        } else if (keepOriginal && !pattern.strictAll) {
          // under strictAll the un-advanced original did not consume
          // the event either — the fork that did carries the match on
          next += p
        }
      }
    }

    // start a new partial match at element 0. Non-every seeding looks at
    // `next` (the live set AFTER this event), not the stale pre-event
    // `partials`: a partial that just died here — `within` expiry, strict
    // violation — must not block a restart on this same event, or batch
    // replay diverges from streaming (where a watermark advance between
    // events prunes the same partial via pruneExpired before the event
    // arrives and the restart happens).
    if (!terminated && (pattern.every || next.isEmpty)) {
      elems.head match {
        case s: Step[E] =>
          if (evalSeed(s, e)) {
            val np = Partial(0, 1, t, Vector(Vector(mat(e))), elemTs = t,
              startTie = if (tieOf == null) 0L else tieOf(e))
            if (!emitIfComplete(np, evOut, t)) addPartial(np, t, next)
          }
        case ng: NestedGroup[E] =>
          val slot = ngBindSlot(ng, 0, 0, 0, null, e, seed = true)
          if (slot >= 0) {
            val g = Vector.fill(slot)(Vector.empty[E]) :+ Vector(mat(e))
            val np = Partial(0, 1, t, g, elemTs = t,
              startTie = if (tieOf == null) 0L else tieOf(e))
            if (!emitIfComplete(np, evOut, t)) addPartial(np, t, next)
          }
        case rx: RxElem[E] =>
          rx.eventBranches(rx.initState, rx.initCnt, e,
            s => evalSeed(s, e)).foreach { case (st2, c2, off) =>
            val g = Vector.fill(off)(Vector.empty[E]) :+ Vector(mat(e))
            val np = Partial(0, st2, t, g, elemTs = t,
              startTie = if (tieOf == null) 0L else tieOf(e), rxCnt = c2)
            if (!emitIfComplete(np, evOut, t)) addPartial(np, t, next)
          }
        case _: Absence[E] => () // unreachable (head require)
      }
    }

    if (deferSkip) {
      // candidates wait for leftmost confirmation (drainPending below,
      // after the live set is installed)
      pendingCands = pendingCands ++ evOut
    } else if (skip && evOut.nonEmpty) {
      // the match consumes this event and every live partial overlaps
      // rows at/before it — emit the preferred leftmost candidate,
      // drop the rest (candOrder: deterministic (ts, tie) start, then
      // greedy/reluctant slot preferment)
      out += evOut.min(candOrder)
      next.clear()
    } else if (skipTo.isDefined && evOut.nonEmpty) {
      // SKIP TO FIRST/LAST <var>: iterate candidates leftmost-first;
      // each emission moves the resume point to its target row, and
      // only candidates/partials starting at-or-after it survive —
      // the one-pass equivalent of the standard's rescan-from-target
      val (v, isFirst) = skipTo.get
      val sorted = evOut.sorted(candOrder)
      var resume: Option[(Long, Long)] = None
      sorted.foreach { m =>
        val sk = startKeyOf(m)
        if (resume.forall(r => geKey(sk, r))) {
          val g = skipRows(m)
          if (g.isEmpty) throw new IllegalStateException(
            s"AFTER MATCH SKIP TO ${if (isFirst) "FIRST" else "LAST"} " +
              s"$v: the variable bound no rows in the match")
          val tgt = keyOf(if (isFirst) g.head else g.last)
          if (tgt == sk) throw new IllegalStateException(
            s"AFTER MATCH SKIP TO ${if (isFirst) "FIRST" else "LAST"} " +
              s"$v: the target row is the match's own first row " +
              "(infinite loop)")
          out += m
          resume = Some(tgt)
        }
      }
      resume.foreach { r =>
        val kept = next.filter(p => geKey((p.startTs, p.startTie), r))
        next.clear(); next ++= kept
      }
    }

    partials =
      if (next.length > pattern.maxPartialMatches)
        next.take(pattern.maxPartialMatches).toList
      else next.toList
    if (deferSkip) drainPending(out)
    out.toIndexedSeq
  }

  /** Advance event time to `wm` with no event: resolves elapsed absence
    * windows (may emit matches) and prunes expired partials. Streaming
    * calls this at every watermark advance; batch via [[flush]].
    */
  def advanceTime(wm: Long): IndexedSeq[PatternMatch[E]] = {
    val out = ArrayBuffer.empty[PatternMatch[E]]
    promote(wm, out)
    pruneExpired(wm)
    // pruning may have freed a pending candidate's earlier-start blocker
    if (deferSkip) drainPending(out)
    out.toIndexedSeq
  }

  /** End-of-input flush (batch): every armed absence window elapses and
    * no live partial can complete, so deferred skip-mode candidates
    * drain unconditionally. */
  def flush(): IndexedSeq[PatternMatch[E]] = {
    val out = ArrayBuffer.empty[PatternMatch[E]]
    promote(Long.MaxValue, out)
    pruneExpired(Long.MaxValue)
    if (deferSkip) drainPending(out, ignoreLive = true)
    out.toIndexedSeq
  }

  /** Drop partials that can no longer complete at watermark `wm`. */
  def pruneExpired(wm: Long): Unit =
    pattern.withinMs.foreach { w =>
      partials = partials.filter(p => wm - p.startTs <= w)
    }

  /** Future instants at which time alone changes state: armed absence
    * deadlines. Streaming uses these to set wake-up timers.
    */
  def pendingDeadlines: List[Long] =
    partials.flatMap { p =>
      elems(p.stepIdx) match {
        case a: Absence[E] => Some(p.elemTs + a.forMs)
        case _ => None
      }
    }

  def liveCount: Int = partials.size
}
