package graft.cep

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.serializer.{KryoSerializer, SerializerInstance}
import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Batch and streaming executors for [[PatternDef]] over keyed event
  * datasets. One NFA kernel ([[Nfa]]), two execution modes:
  *
  *  - [[batch]]: `groupByKey.flatMapSortedGroups` — Spark sorts each
  *    key's events by the given columns INSIDE the shuffle (sort-based
  *    aggregation), so the group streams through the NFA one event at a
  *    time. A hot key with 10⁸ events never materializes in memory:
  *    state is O(live partials), not O(group). It is the only typed
  *    batch executor; the oracle-checked `.cql` queries run on it.
  *  - [[streaming]]: `groupByKey.flatMapGroupsWithState` with event-time
  *    timeout — the Spark-native replacement for the reference's
  *    watermark-ordered PriorityQueue buffer
  *    (AbstractSiddhiOperator.java:238-247): events buffer in keyed state
  *    and are released through the NFA only once the watermark passes
  *    them, so out-of-order arrival within the watermark delay is
  *    handled identically to the reference. Watermark advance also
  *    drives absence (`not … for`) resolution via [[Nfa.advanceTime]].
  *    It is the only streaming executor: every streaming plan (the
  *    `pattern:` dialect, programmatic and SQL MATCH_RECOGNIZE) runs
  *    on it, on any state store provider.
  *
  * Scale: state per key = unreleased event buffer (bounded by watermark
  * delay × rate) + live partials (bounded by `maxPartialMatches`).
  * Keys are hash-distributed by the groupByKey shuffle — 1000 executors
  * just means 1000× keys processed concurrently.
  */
object Cep {

  /** @param sortCols columns ordering each group (event time + tie-break)
    *                  — sorted by the shuffle, streamed, never collected.
    * @param tieOf    optional total-order tie-break (must agree with
    *                 `sortCols`' secondary order) — required by the
    *                 SKIP TO FIRST/LAST <var> skip mode's row identity.
    */
  def batch[E, K: Encoder, O: Encoder](
      ds: Dataset[E],
      key: E => K,
      pattern: PatternDef[E],
      tsOf: E => Long,
      sortCols: Seq[Column],
      tieOf: E => Long = null)(
      build: (K, PatternMatch[E]) => IterableOnce[O]): Dataset[O] = {
    ds.groupByKey(key).flatMapSortedGroups(sortCols: _*) { (k: K, it: Iterator[E]) =>
      val nfa = new Nfa(pattern, tsOf, tieOf)
      it.flatMap(e => nfa.onEvent(e).iterator.flatMap(build(k, _))) ++
        nfa.flush().iterator.flatMap(build(k, _))
    }
  }

  /** Streaming state: event-time buffer + NFA partials. Kryo-encoded
    * ([[encodeState]]) — internal state only, never crosses the query
    * boundary.
    */
  final case class CepState[E](
      buffer: Vector[E],
      partials: List[Partial[E]],
      terminated: Boolean,
      lastReleasedTs: Long,
      /** tie-break of the last released event: an event with the SAME
        * timestamp arriving in a later micro-batch is only late if it is
        * at/behind this (ts, tieBreak) point — same order the NFA feeds.
        */
      lastReleasedTie: Long,
      /** [[Neighborhood]] bookkeeping: the last `maxPrev` events already
        * fed to the NFA (PREV context for the next release)… */
      recent: Vector[E] = Vector.empty,
      /** …and watermark-released events withheld until their `maxNext`
        * lookahead successors exist. Both empty when no neighborhood is
        * configured. */
      held: Vector[E] = Vector.empty,
      /** WITH UNMATCHED ROWS bookkeeping: released events whose fate
        * is undecided (some match containing an event at ts can still
        * emit until the watermark passes ts + within)… */
      undecided: Vector[E] = Vector.empty,
      /** …and the (ts, tie) identities bound by emitted matches, kept
        * until their event's decision horizon passes. Both empty when
        * unmatched tracking is off. */
      boundIds: Set[(Long, Long)] = Set.empty,
      /** Completed skip-mode candidates awaiting leftmost confirmation
        * (cross-variable DEFINE + AFTER MATCH SKIP modes — see
        * [[Nfa.snapshot]]); empty otherwise. */
      pendingCands: List[PatternMatch[E]] = Nil,
      /** MATCH_NUMBER() bookkeeping (only under `BatchOrder` numbering):
        * completed matches held until no at-or-before-starting live
        * work remains and the watermark passes their start ts, so
        * numbers follow the batch `(start, end, slot sizes)` order… */
      heldMatches: Vector[PatternMatch[E]] = Vector.empty,
      /** …and the count of numbers already assigned for this key (any
        * numbering mode). The counter outlives quiescence by design:
        * numbering is defined over the key's whole lifetime, so a
        * numbered key retains a minimal state entry. */
      matchSeq: Long = 0L,
      /** Compiled-automaton layout fingerprint
        * ([[PatternDef.layoutFp]]) of the pattern this state was
        * written under. `Partial.curCount`/`rxCnt` hold state ids and
        * counters of THAT compiled layout; a checkpoint restored under
        * a build whose compilation differs (e.g. round 17's
        * k!-expansion → bitmask rewrite) would silently reinterpret
        * them — `closure` even normalizes a wrong-length counter
        * vector to initCnt — so [[Cep.restored]] rejects a mismatch. */
      layoutFp: Long = 0L,
      /** Serialized-state schema version ([[CepState.VERSION]]).
        * Kryo state is not self-describing: restoring a checkpoint
        * written by an older field layout would throw deep inside
        * kryo or misdecode silently. [[Cep.restored]] checks this tag
        * and rejects foreign state with a clear error instead. */
      version: Int = CepState.VERSION)

  object CepState {
    /** Bump whenever [[CepState]]'s field set/order or any state-held
      * type changes shape. History: 1 = through round 11; 2 = round 12
      * (pendingCands + 3-tuple Nfa.snapshot); 3 = round 13
      * (heldMatches/matchSeq for MATCH_NUMBER); 4 = round 14 (the
      * `version` tag field itself — adding it changed the kryo field
      * layout, so pre-tag checkpoints are incompatible too); 5 = round
      * 18 (`layoutFp` — the automaton-layout-guarded restore).
      * Restores across a bump require a fresh checkpointLocation
      * (documented in DIALECT.md). */
    val VERSION = 5
    def empty[E]: CepState[E] =
      CepState[E](Vector.empty, Nil, false, Long.MinValue, Long.MinValue)
  }

  /** Restore-time guard for kryo-serialized streaming state: a
    * checkpoint written by an older [[CepState]] shape either throws
    * inside kryo or decodes into a wrong-version object — both
    * surface here as one actionable error (fresh checkpointLocation)
    * instead of silent state corruption mid-stream. `read` runs inside
    * the guard, so [[restoredBytes]]' kryo decode is covered. */
  private[graft] def restored[E](expectFp: Long, strict: Boolean = false)(
      read: => Option[CepState[E]]): CepState[E] = {
    def incompat(cause: Throwable): Nothing =
      throw new IllegalStateException(
        "CEP streaming-state restore: the checkpoint was written by an " +
          "incompatible (older) graft CepState schema; kryo state has " +
          "no migration path. Restart the query with a fresh " +
          "checkpointLocation to rebuild state from the source.", cause)
    val got = try read catch { case e: Exception => incompat(e) }
    got match {
      case None => CepState.empty[E]
      case Some(st) =>
        if (st.version != CepState.VERSION) incompat(null)
        // r18 ADVICE: same schema, different compiled-automaton layout
        // (a build that changed pattern compilation, or a DIFFERENT
        // query pointed at this checkpointLocation) — partials' state
        // ids/counters would be silently reinterpreted, so fail the
        // restore with its own actionable error
        if (st.layoutFp != expectFp)
          throw new IllegalStateException(
            "CEP streaming-state restore: the checkpoint's compiled " +
              "automaton layout (fingerprint " +
              s"${java.lang.Long.toHexString(st.layoutFp)}) differs " +
              "from this query's (" +
              s"${java.lang.Long.toHexString(expectFp)}) — the pattern " +
              "or this build's pattern compilation changed" +
              (if (strict)
                ", or (strict restore is on) the statement's DEFINE " +
                  "predicates, skip mode, or WITHIN bound changed, or " +
                  "(pattern: plan) its output clause was added or removed"
              else "") +
              ". In-flight partial matches cannot be migrated; " +
              "restart the query with a fresh checkpointLocation.")
        st
    }
  }

  /** The executor's restore: decode the stored bytes with
    * [[decodeState]] inside [[restored]]'s guard. */
  private[graft] def restoredBytes[E](expectFp: Long, strict: Boolean = false)(
      bytes: Option[Array[Byte]]): CepState[E] =
    restored[E](expectFp, strict)(bytes.map(decodeState[E]))

  // kryo instances are not thread-safe and costly to build: one per
  // thread, created the way Encoders.kryo's generated code does
  private val kryo = ThreadLocal.withInitial[SerializerInstance](() =>
    new KryoSerializer(Option(SparkEnv.get).map(_.conf)
      .getOrElse(new SparkConf)).newInstance())

  /** Kryo bytes of a [[CepState]] — the same encoding `Encoders.kryo`
    * writes. The executor keeps state as `Encoders.BINARY` and runs
    * this codec itself, so decoding happens inside [[restored]]. */
  private[graft] def encodeState[E](st: CepState[E]): Array[Byte] =
    JavaUtils.bufferToArray(kryo.get.serialize[AnyRef](st))

  private[graft] def decodeState[E](bytes: Array[Byte]): CepState[E] =
    kryo.get.deserialize[AnyRef](java.nio.ByteBuffer.wrap(bytes)) match {
      case st: CepState[E @unchecked] => st
      case other => throw new IllegalStateException(
        "streaming state decoded to " +
          Option(other).map(_.getClass.getName).orNull +
          ", not a CepState")
    }

  /** Fingerprint stored with (and checked against) streaming state: the
    * compiled-automaton layout alone by default; under strict restore
    * ([[graft.plans.MatchRecognize]]'s
    * `spark.graft.matchRecognize.strictRestore`, or any non-zero
    * `restoreSalt` on the programmatic surface) the caller's salt — a
    * hash of the normalized DEFINE predicate sources, skip mode and
    * WITHIN — folds in, so a DIFFERENT query with the same compiled
    * shape pointed at the same checkpointLocation is rejected too
    * instead of silently adopting the old partials (the default keeps
    * Structured Streaming's usual query-evolution semantics; both
    * documented in DIALECT.md). A `pattern:` plan's `output` clause
    * salts too (`PlanCompiler.RateLimitSalt`).
    */
  private[graft] def storedFp(layoutFp: Long, restoreSalt: Long): Long =
    if (restoreSalt == 0L) layoutFp
    else {
      var h = layoutFp ^ 0x9e3779b97f4a7c15L
      h ^= restoreSalt; h *= 0x100000001b3L
      h ^ (h >>> 29)
    }

  /** SQL:2016 PREV/NEXT row navigation on a stream: a per-key release
    * DECORATOR. Each watermark-released event is fed to the NFA only
    * once its `maxNext` successors in the per-key `(ts, tie)` order are
    * also released (the unavoidable lookahead buffer — a trailing event
    * waits for its successors; `maxNext = 0` feeds immediately), and is
    * rewritten by `decorate(event, prevs, nexts)` first — `prevs` the
    * up-to-`maxPrev` events immediately before it (oldest first,
    * SHORTER at the key's start, matching batch lag's NULL), `nexts`
    * exactly `maxNext` successors. State cost: `maxPrev + maxNext`
    * extra events per key — the minimum any lag/lead computation needs.
    */
  final case class Neighborhood[E](maxPrev: Int, maxNext: Int,
      decorate: (E, IndexedSeq[E], IndexedSeq[E]) => E) {
    require(maxPrev >= 0 && maxNext >= 0 && (maxPrev > 0 || maxNext > 0),
      "neighborhood needs maxPrev or maxNext > 0")
  }

  /** How [[step]] numbers each key's matches into [[PatternMatch.seq]]
    * from [[CepState.matchSeq]]: not at all, in emission order (what a
    * `pattern:` plan's `output` clause counts), or in MATCH_NUMBER()'s
    * batch order. */
  sealed trait Numbering
  object Numbering {
    case object Off extends Numbering
    case object Arrival extends Numbering
    case object BatchOrder extends Numbering
  }

  /** Reserved pseudo-slot name carrying an UNMATCHED input event out
    * of [[step]] when `unmatchedWithin` is set: the event is returned
    * as a degenerate one-event [[PatternMatch]] whose only group is
    * this name — build functions discriminate on it. Pattern slot
    * names may not collide with it (enforced in [[step]]).
    */
  val UnmatchedSlot = "__unmatched__"

  /** One micro-batch step of the streaming executor, as a pure function
    * — the watermark-ordered release buffer + NFA advance, factored out
    * of the Spark plumbing so chunking semantics are property-testable:
    * feeding any chunking of an event stream through [[step]] must
    * produce exactly the ordered-replay matches once the watermark
    * passes.
    *
    * @return (new state or None if the key's state is empty, matches,
    *          wake-up instants in event-time units)
    */
  def step[E](
      prev: CepState[E],
      incoming: Seq[E],
      wm: Long,
      hasWatermark: Boolean,
      pattern: PatternDef[E],
      tsOf: E => Long,
      tieBreak: E => Long,
      neighborhood: Option[Neighborhood[E]] = None,
      /** SQL:2016 WITH UNMATCHED ROWS: the pattern's `within` bound in
        * event-time units. Every released event is tracked until the
        * watermark passes its ts + within — by then every match that
        * could bind it has emitted (matches span at most `within` and
        * complete on a released event) — and, if no emitted match
        * bound its (ts, tie), it is returned as a one-event
        * pseudo-match under [[UnmatchedSlot]]. Tracking cost per key:
        * the events inside one `within` horizon. Composes with
        * `neighborhood`: a NEXT-withheld event is released but not yet
        * fed, so a row's fate is decided only once every event inside
        * its horizon has actually been FED to the NFA — the decision
        * additionally waits for the held-buffer frontier to pass
        * ts + within (at most `maxNext` events deep; a trailing row the
        * stream never extends stays undecided, exactly as NEXT itself
        * stays NULL-starved there).
        */
      unmatchedWithin: Option[Long] = None,
      /** [[Numbering]]. `Arrival` stamps matches as this step emits
        * them. `BatchOrder` (SQL:2016 MATCH_NUMBER()) stamps the batch
        * operator's `(match_start, match_end, size(v1), …)` order: a
        * completed match is held in state until no live partial or
        * pending candidate starting at-or-before its start ts remains
        * AND the watermark has strictly passed that ts (either could
        * still produce a match that sorts first under the batch key),
        * so a WITHIN bound is required — it is what guarantees every
        * blocker eventually completes or expires.
        */
      numberMatches: Numbering = Numbering.Off,
      /** '$' end anchor on a stream (round 19): the quiescence horizon
        * in event-time units (the statement's WITHIN bound). A
        * NEXT-withheld event whose ts + horizon the watermark has
        * passed is force-fed with however many successors exist —
        * missing ones read NULL, so the batch lead-IS-NULL anchor
        * predicate holds exactly when the key has been quiet past the
        * horizon (for matching purposes, the partition has ended
        * there). Applies to every NEXT navigation in the statement:
        * past the quiescence horizon a lookahead that never arrived IS
        * NULL — only '$'-anchored statements opt in (the parser sets
        * this), so plain NEXT statements keep their wait-for-arrival
        * semantics. */
      nextFlushHorizon: Option[Long] = None): (Option[CepState[E]], Vector[PatternMatch[E]], List[Long]) = {
    require(unmatchedWithin.isEmpty ||
        pattern.steps.forall(!_.names.contains(UnmatchedSlot)),
      s"pattern variable '$UnmatchedSlot' collides with the reserved " +
        "unmatched pseudo-slot")
    // the decision horizon must cover every match that could still bind
    // a tracked row: a horizon shorter than the pattern window lets a
    // row be decided unmatched and later also bound by an emitted match
    require(unmatchedWithin.forall(w => pattern.withinMs.exists(_ <= w)),
      "unmatchedWithin must be at least the pattern's withinMs (and the " +
        "pattern needs a within bound) — a shorter decision horizon " +
        "could declare a row unmatched that a later match still binds")
    // ingest new events; drop anything at/behind what the NFA already
    // consumed (true late data — same policy as watermark semantics).
    // Comparison is on (ts, tieBreak) so a distinct same-timestamp
    // event straddling micro-batches is NOT dropped.
    val fresh = incoming.filter { e =>
      tsOf(e) > prev.lastReleasedTs ||
        (tsOf(e) == prev.lastReleasedTs && tieBreak(e) > prev.lastReleasedTie)
    }
    // prev.buffer is invariantly sorted; sort only the new events and
    // merge — O(B + F log F) per batch instead of re-sorting the whole
    // holdback buffer (B can be large under long watermark delays)
    val freshSorted = fresh.sortBy(e => (tsOf(e), tieBreak(e))).toVector
    val all = {
      val a = prev.buffer
      val b = freshSorted
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        val out = Vector.newBuilder[E]
        var i = 0
        var j = 0
        while (i < a.length && j < b.length) {
          val ae = a(i); val be = b(j)
          val aFirst = tsOf(ae) < tsOf(be) ||
            (tsOf(ae) == tsOf(be) && tieBreak(ae) <= tieBreak(be))
          if (aFirst) { out += ae; i += 1 } else { out += be; j += 1 }
        }
        while (i < a.length) { out += a(i); i += 1 }
        while (j < b.length) { out += b(j); j += 1 }
        out.result()
      }
    }
    val (release, keep) =
      if (!hasWatermark) (Vector.empty[E], all) else all.partition(tsOf(_) <= wm)

    val nfa = new Nfa(pattern, tsOf, tieBreak)
    // deferred skip-mode emission (cross-variable DEFINE + a skip mode)
    // holds completed candidates until no earlier-starting live partial
    // remains; without a within bound a partial that can neither
    // complete nor die blocks them forever (unbounded pendingCands)
    require(!nfa.deferredSkip || pattern.withinMs.isDefined,
      "cross-variable predicates with AFTER MATCH SKIP PAST LAST ROW / " +
        "SKIP TO <var> on a stream need a WITHIN bound: deferred " +
        "leftmost election can only release a pending match once every " +
        "earlier-starting partial has completed or expired")
    nfa.restore((prev.partials, prev.terminated, prev.pendingCands))
    // neighborhood: prepend earlier withheld events, feed only those
    // whose maxNext lookahead successors exist, decorated with their
    // prev/next context; the tail stays held for future arrivals
    val (fed, nRecent, nHeld) = neighborhood match {
      case None => (release, prev.recent, prev.held)
      case Some(nb) =>
        val avail = prev.held ++ release
        val feedN0 = math.max(0, avail.length - nb.maxNext)
        // quiescence fence ('$' under WITHIN): feed events the
        // watermark has carried past their horizon even without the
        // full lookahead — avail is (ts, tie)-sorted, so the fed set
        // stays an order-preserving prefix
        val feedN = nextFlushHorizon match {
          case Some(h) if hasWatermark =>
            var n = feedN0
            while (n < avail.length && tsOf(avail(n)) + h < wm) n += 1
            n
          case _ => feedN0
        }
        val out = Vector.newBuilder[E]
        var i = 0
        while (i < feedN) {
          val prevs =
            if (i >= nb.maxPrev) avail.slice(i - nb.maxPrev, i)
            else (prev.recent ++ avail.take(i)).takeRight(nb.maxPrev)
          out += nb.decorate(avail(i), prevs,
            avail.slice(i + 1, i + 1 + nb.maxNext))
          i += 1
        }
        (out.result(),
          (prev.recent ++ avail.take(feedN)).takeRight(nb.maxPrev),
          avail.drop(feedN))
    }
    val matches = fed.flatMap(e => nfa.onEvent(e))
    // watermark advance resolves absence windows with no event needed.
    // A NEXT hold-back caps the advance at the held frontier: a held
    // event keeps its original (smaller) ts when it finally feeds, so
    // advancing past it would prune partials it can still legally
    // extend AND resolve absence windows a held event could still
    // violate (prune is strict `t - startTs > within` and an event AT
    // a window's deadline cannot violate it, so advancing TO the
    // frontier itself is safe). The cap is what lets absence elements
    // compose with PREV/NEXT: a window whose deadline lies past the
    // frontier stays armed until the held event either feeds (and can
    // violate it) or the hold-back drains — the same data-arrival
    // latency NEXT itself has on a trailing row.
    val advTo =
      if (nHeld.isEmpty) wm else math.min(wm, tsOf(nHeld.head))
    val timeMatches =
      if (!hasWatermark) Vector.empty else nfa.advanceTime(advTo).toVector

    val (np, nt, npend) = nfa.snapshot
    // unmatched tracking: decide events once the watermark passes
    // their ts + within; undecided events and live bound identities
    // ride the state until then
    val (nUndecided, nBound, unmatchedOut) = unmatchedWithin match {
      case None => (prev.undecided, prev.boundIds, Vector.empty[E])
      case Some(w) =>
        val bound = prev.boundIds ++
          (matches ++ timeMatches).iterator
            .flatMap(_.groups.valuesIterator.flatten)
            .map(e => (tsOf(e), tieBreak(e)))
        val undecided = prev.undecided ++ release
        // a NEXT hold-back means released-but-not-yet-fed events exist
        // (nHeld); a match binding e completes on an event at ts <=
        // tsOf(e) + w, so e's fate is only decidable once every such
        // event has been fed — i.e. the held frontier (min held ts,
        // held is sorted) has strictly passed the horizon too
        val heldFrontier =
          nHeld.headOption.map(tsOf).getOrElse(Long.MaxValue)
        val (decide, stay) =
          if (hasWatermark) undecided.partition(e =>
            tsOf(e) + w < wm && tsOf(e) + w < heldFrontier)
          else (Vector.empty[E], undecided)
        val un = decide.filterNot(e => bound((tsOf(e), tieBreak(e))))
        val decIds = decide.iterator
          .map(e => (tsOf(e), tieBreak(e))).toSet
        (stay, bound -- decIds, un)
    }
    val unmatchedMatches = unmatchedOut.map(e =>
      PatternMatch(tsOf(e), tsOf(e), Map(UnmatchedSlot -> Vector(e))))
    // stamps a run of emitted matches from the key's counter
    def stamp(ms: Vector[PatternMatch[E]]) =
      (ms.zipWithIndex.map { case (m, i) =>
        m.copy(seq = prev.matchSeq + 1 + i)
      }, prev.matchSeq + ms.length)
    // MATCH_NUMBER(): completed matches join the held set, sorted by the
    // BATCH numbering key — `(match_start, match_end, size(v1), …)` in
    // declaration order, exactly the batch operator's row_number window
    // (ties beyond that key keep the deterministic (ts, tie) bound-event
    // identities; batch leaves them unspecified, documented in
    // DIALECT.md). A match is released and stamped only once nothing can
    // still produce a match that sorts BEFORE it under that key:
    //   - no live partial or pending candidate starts at-or-before its
    //     start ts (a same-START-TS blocker could complete with a
    //     smaller end or smaller slot counts — the batch key drops the
    //     tie, so same-ts-different-tie work must block too), and
    //   - the watermark has STRICTLY passed its start ts (a same-ts
    //     higher-tie event arriving in a later micro-batch could
    //     otherwise seed a new earlier-sorting match).
    // Both fences resolve: blockers complete or expire under the
    // required WITHIN, and the watermark advances past any fixed ts.
    val (realOut, heldOut, nSeq) = numberMatches match {
      case Numbering.Off =>
        (matches ++ timeMatches, prev.heldMatches, prev.matchSeq)
      case Numbering.Arrival =>
        val (out, n) = stamp(matches ++ timeMatches)
        (out, prev.heldMatches, n)
      case Numbering.BatchOrder =>
        require(pattern.withinMs.isDefined,
          "MATCH_NUMBER() on a stream needs a WITHIN bound: numbering " +
            "follows (match_start, match_end) order, so each completed " +
            "match waits for every earlier-starting partial to " +
            "complete or expire, and only WITHIN bounds that wait")
        val slotOrder = pattern.steps.flatMap(_.names)
        def tieKeys(m: PatternMatch[E]): ((Long, Long), (Long, Long)) = {
          val ks = m.groups.valuesIterator.flatten
            .map(e => (tsOf(e), tieBreak(e))).toVector
          if (ks.isEmpty) ((m.startTs, Long.MinValue),
            (m.endTs, Long.MinValue))
          else (ks.min, ks.max)
        }
        def batchKey(m: PatternMatch[E]) =
          (m.startTs, m.endTs, slotOrder.map(n =>
            m.groups.getOrElse(n, Vector.empty).length).toVector, tieKeys(m))
        import scala.math.Ordering.Implicits.seqOrdering
        val held = (prev.heldMatches ++ matches ++ timeMatches)
          .sortBy(batchKey)
        val blockerTs =
          if (nt) None
          else (np.map(_.startTs) ++ npend.map(_.startTs) ++
            // a NEXT-withheld event (ts <= wm, awaiting its lookahead
            // successor) is neither a partial nor pending, yet once fed
            // it can complete a match with the SAME start ts that sorts
            // before a held one (equal span, fewer slot bindings) — the
            // hold-back frontier blocks release exactly like live work,
            // mirroring heldFrontier in the unmatched-rows decision
            nHeld.headOption.map(tsOf)).minOption
        // the predicate depends only on startTs, and the sort's first
        // component is startTs — the emitted set is a sorted PREFIX, so
        // numbers assigned across release rounds stay monotone in the
        // batch key
        val (emit, stay) = held.partition(m =>
          (nt || (hasWatermark && wm > m.startTs)) &&
            blockerTs.forall(_ > m.startTs))
        val (out, n) = stamp(emit)
        (out, stay, n)
    }
    if (keep.isEmpty && np.isEmpty && !nt && nHeld.isEmpty &&
        neighborhood.isEmpty && nUndecided.isEmpty && nBound.isEmpty &&
        npend.isEmpty && heldOut.isEmpty && nSeq == 0L)
      (None, realOut ++ unmatchedMatches, Nil)
    else {
      val (lastTs, lastTie) =
        if (release.nonEmpty) (tsOf(release.last), tieBreak(release.last))
        else (prev.lastReleasedTs, prev.lastReleasedTie)
      val wake =
        keep.headOption.map(tsOf).toList ++
          pattern.withinMs.toList.flatMap(w => np.map(_.startTs + w + 1)) ++
          nfa.pendingDeadlines ++
          unmatchedWithin.toList.flatMap(w =>
            nUndecided.headOption.map(e => tsOf(e) + w + 1)) ++
          // a NEXT-withheld event the quiescence fence will force-feed
          // needs a timer — the key may never see another row
          nextFlushHorizon.toList.flatMap(h =>
            nHeld.headOption.map(e => tsOf(e) + h + 1)) ++
          // a held numbered match waiting only on the watermark fence
          // (wm > startTs) needs a timer — no event may ever arrive for
          // this key again
          (if (heldOut.isEmpty) Nil
           else List(heldOut.iterator.map(_.startTs).min + 1))
      (Some(CepState(keep, np, nt, lastTs, lastTie, nRecent, nHeld,
        nUndecided, nBound, npend, heldOut, nSeq)),
        realOut ++ unmatchedMatches, wake)
    }
  }

  /** @param tsScale event-time units per watermark millisecond: the NFA's
    *                 `tsOf` may run in µs (tsScale=1000) or ms (tsScale=1);
    *                 the Spark watermark is always ms.
    */
  def streaming[E, K: Encoder, O: Encoder](
      ds: Dataset[E],
      key: E => K,
      pattern: PatternDef[E],
      tsOf: E => Long,
      tieBreak: E => Long,
      tsScale: Long = 1L,
      neighborhood: Option[Neighborhood[E]] = None,
      unmatchedWithin: Option[Long] = None,
      numberMatches: Numbering = Numbering.Off,
      nextFlushHorizon: Option[Long] = None,
      restoreSalt: Long = 0L)(
      build: (K, PatternMatch[E]) => IterableOnce[O]): Dataset[O] = {
    implicit val stateEnc: Encoder[Array[Byte]] = Encoders.BINARY
    // PREV/NEXT composes with absence elements: step() caps the
    // watermark advance at the NEXT hold-back frontier, so no absence
    // window resolves while a withheld event could still violate it

    // computed once on the driver; the closure captures the Long, so
    // executors and every restart of the query agree on the stored tag
    val layoutFp = storedFp(pattern.layoutFp, restoreSalt)
    val strictG = restoreSalt != 0L

    val fn = (k: K, it: Iterator[E], state: GroupState[Array[Byte]]) => {
      val prev = restoredBytes[E](layoutFp, strictG)(state.getOption)
      val wmMs = state.getCurrentWatermarkMs()
      val wm = wmMs * tsScale // watermark in event-time units

      val (next, matches, wake) = step(
        prev, it.toVector, wm, hasWatermark = wmMs > 0,
        pattern, tsOf, tieBreak, neighborhood, unmatchedWithin,
        numberMatches, nextFlushHorizon)

      next match {
        case None => state.remove()
        case Some(ns) =>
          state.update(encodeState(ns.copy(layoutFp = layoutFp)))
          // wake this key when its earliest pending work becomes
          // releasable: the oldest buffered event, the earliest partial
          // expiry, or the earliest armed absence deadline
          if (wake.nonEmpty) {
            val wakeMs = wake.min / tsScale
            state.setTimeoutTimestamp(math.max(wmMs + 1, wakeMs))
          }
      }
      matches.iterator.flatMap(build(k, _))
    }

    ds.groupByKey(key).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
