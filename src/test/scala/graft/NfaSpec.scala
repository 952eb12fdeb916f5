package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cep.{Absence, GPerm, GVar, Logical, NestedGroup, Nfa, PatternDef, PatternMatch, Step}

/** Pure-JVM NFA semantics tests with hand-computed expected matches —
  * the SiddhiSyntaxTest-style ground-truth harness (SURVEY §3.3).
  */
class NfaSpec extends AnyFunSuite {

  case class E(id: Long, ts: Long, typ: String)

  private def run(pat: PatternDef[E], evs: Seq[E]): Seq[PatternMatch[E]] = {
    val nfa = new Nfa[E](pat, _.ts)
    evs.sortBy(e => (e.ts, e.id)).flatMap(nfa.onEvent)
  }

  private def ids(m: PatternMatch[E], step: String): Seq[Long] =
    m.get(step).map(_.id)

  val AB = PatternDef[E](IndexedSeq(
    Step[E]("a", _.typ == "A"),
    Step[E]("b", _.typ == "B")))

  test("followed-by: first B after each A matches (skip till next match)") {
    val evs = Seq(E(1, 10, "A"), E(2, 20, "C"), E(3, 30, "B"), E(4, 40, "B"))
    val ms = run(AB, evs)
    assert(ms.map(m => (ids(m, "a").head, ids(m, "b").head)) == Seq((1L, 3L)))
  }

  test("every: each A starts its own partial match") {
    val evs = Seq(E(1, 10, "A"), E(2, 20, "A"), E(3, 30, "B"))
    val ms = run(AB, evs)
    assert(ms.map(m => (ids(m, "a").head, ids(m, "b").head))
      .toSet == Set((1L, 3L), (2L, 3L)))
  }

  test("non-every: only the first match emits") {
    val pat = AB.copy(every = false)
    val evs = Seq(E(1, 10, "A"), E(2, 20, "B"), E(3, 30, "A"), E(4, 40, "B"))
    val ms = run(pat, evs)
    assert(ms.size == 1)
    assert(ids(ms.head, "a") == Seq(1L) && ids(ms.head, "b") == Seq(2L))
  }

  test("within: expired partials never complete") {
    val pat = AB.copy(withinMs = Some(15L))
    val evs = Seq(E(1, 10, "A"), E(2, 30, "B"), E(3, 35, "A"), E(4, 40, "B"))
    val ms = run(pat, evs)
    assert(ms.map(m => (ids(m, "a").head, ids(m, "b").head)) == Seq((3L, 4L)))
  }

  test("within boundary is inclusive") {
    val pat = AB.copy(withinMs = Some(20L))
    val ms = run(pat, Seq(E(1, 10, "A"), E(2, 30, "B")))
    assert(ms.size == 1)
  }

  test("strict sequence: non-matching event kills the partial") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Step[E]("b", _.typ == "B", strict = true)))
    val evs = Seq(
      E(1, 10, "A"), E(2, 20, "C"), E(3, 30, "B"), // A,C,B: no match
      E(4, 40, "A"), E(5, 50, "B"))                // A,B: match
    val ms = run(pat, evs)
    assert(ms.map(m => (ids(m, "a").head, ids(m, "b").head)) == Seq((4L, 5L)))
  }

  test("quantifier <2:3>: collects 2..3 consecutive As then B") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A", minCount = 2, maxCount = 3),
      Step[E]("b", _.typ == "B")))
    val evs = Seq(E(1, 10, "A"), E(2, 20, "A"), E(3, 30, "A"), E(4, 40, "B"))
    val ms = run(pat, evs)
    // starts at ev1 (collects 2 or 3), ev2 (collects 2) — all complete at B
    val groups = ms.map(m => (ids(m, "a"), ids(m, "b").head)).toSet
    assert(groups.contains((Seq(1L, 2L, 3L), 4L)))
    assert(groups.contains((Seq(1L, 2L), 4L)))
    assert(groups.contains((Seq(2L, 3L), 4L)))
  }

  test("optional step (?): pattern completes with or without it") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Step[E]("opt", _.typ == "O", minCount = 0, maxCount = 1),
      Step[E]("b", _.typ == "B")))
    val withOpt = run(pat, Seq(E(1, 10, "A"), E(2, 20, "O"), E(3, 30, "B")))
    assert(withOpt.exists(m => ids(m, "opt") == Seq(2L)))
    val withoutOpt = run(pat, Seq(E(1, 10, "A"), E(3, 30, "B")))
    assert(withoutOpt.size == 1 && withoutOpt.head.get("opt").isEmpty)
  }

  test("plus quantifier on last step emits at first qualifying event") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Step[E]("b", _.typ == "B", minCount = 1, maxCount = Int.MaxValue)))
    val ms = run(pat, Seq(E(1, 10, "A"), E(2, 20, "B"), E(3, 30, "B")))
    // reluctant emit at min: first B completes; the extended branch
    // continues and emits again at the second B
    assert(ms.exists(m => ids(m, "b") == Seq(2L)))
  }

  test("or: first event matching either side completes (B20)") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("s", _.typ == "C"),
      Logical.or(Step[E]("a", _.typ == "A"), Step[E]("b", _.typ == "B"))))
    val evs = Seq(E(1, 10, "C"), E(2, 20, "X"), E(3, 30, "B"), E(4, 40, "A"))
    val ms = run(pat, evs)
    // the C at 10 matches with the FIRST of {A,B} after it — the B at 30
    assert(ms.size == 1)
    assert(ids(ms.head, "b") == Seq(3L) && ms.head.get("a").isEmpty)
  }

  test("or at pattern head: either side starts and completes a match") {
    val pat = PatternDef[E](IndexedSeq(
      Logical.or(Step[E]("a", _.typ == "A"), Step[E]("b", _.typ == "B")),
      Step[E]("c", _.typ == "C")))
    val ms = run(pat, Seq(E(1, 10, "B"), E(2, 20, "C")))
    assert(ms.size == 1 && ids(ms.head, "b") == Seq(1L) &&
      ids(ms.head, "c") == Seq(2L))
  }

  test("and: binds both sides in either order (B20)") {
    val pat = PatternDef[E](IndexedSeq(
      Logical.and(Step[E]("a", _.typ == "A"), Step[E]("b", _.typ == "B"))))
    // order A then B: match emits when B arrives
    val ms1 = run(pat, Seq(E(1, 10, "A"), E(2, 20, "X"), E(3, 30, "B")))
    assert(ms1.exists(m => ids(m, "a") == Seq(1L) && ids(m, "b") == Seq(3L)))
    // order B then A: match emits when A arrives
    val ms2 = run(pat, Seq(E(1, 10, "B"), E(2, 20, "A")))
    assert(ms2.exists(m => ids(m, "a") == Seq(2L) && ids(m, "b") == Seq(1L)))
  }

  // X satisfies both sides of the overlap tests below
  private val aOrX = (e: E) => e.typ == "A" || e.typ == "X"
  private val bOrX = (e: E) => e.typ == "B" || e.typ == "X"

  test("or priority: an event satisfying both sides binds the left " +
      "side only, and the right side stays unbound") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("s", _.typ == "S"),
      Logical.or(Step[E]("a", aOrX), Step[E]("b", bOrX)),
      Step[E]("c", _.typ == "C")))
    val ms = run(pat, Seq(E(1, 10, "S"), E(2, 20, "X"), E(3, 30, "B"),
      E(4, 40, "C")))
    assert(ms.map(m => (ids(m, "s"), ids(m, "a"), ids(m, "b"),
      ids(m, "c"))) == Seq((Seq(1L), Seq(2L), Seq(), Seq(4L))))
  }

  test("and priority: an event satisfying both open sides binds the " +
      "left one; the next binds the right") {
    val pat = PatternDef[E](IndexedSeq(
      Logical.and(Step[E]("a", aOrX), Step[E]("b", bOrX))))
    val ms = run(pat, Seq(E(1, 10, "X"), E(2, 20, "X"), E(3, 30, "B")))
    assert(ms.map(m => (ids(m, "a"), ids(m, "b"))) ==
      Seq((Seq(1L), Seq(2L)), (Seq(2L), Seq(3L))))
  }

  test("absence: emits at deadline when no qualifying event (B20)") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Absence(Step[E]("nb", _.typ == "B"), forMs = 20L)))
    val nfa = new Nfa[E](pat, _.ts)
    val live = Seq(E(1, 10, "A"), E(2, 50, "X")).flatMap(nfa.onEvent)
    // the X at 50 promotes the absence armed at 10 (deadline 30)
    assert(live.size == 1 && live.head.endTs == 30L)
    assert(ids(live.head, "a") == Seq(1L))
  }

  test("absence: qualifying event inside the window kills the partial") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Absence(Step[E]("nb", _.typ == "B"), forMs = 20L)))
    val nfa = new Nfa[E](pat, _.ts)
    val live = Seq(E(1, 10, "A"), E(2, 15, "B"), E(3, 99, "X")).flatMap(nfa.onEvent)
    assert(live.isEmpty && nfa.flush().isEmpty)
  }

  test("absence: event at exactly the deadline does not violate") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Absence(Step[E]("nb", _.typ == "B"), forMs = 20L)))
    val nfa = new Nfa[E](pat, _.ts)
    val live = Seq(E(1, 10, "A"), E(2, 30, "B")).flatMap(nfa.onEvent)
    assert(live.size == 1 && live.head.endTs == 30L)
  }

  test("absence: flush resolves windows still open at end of input") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Absence(Step[E]("nb", _.typ == "B"), forMs = 20L)))
    val nfa = new Nfa[E](pat, _.ts)
    assert(Seq(E(1, 10, "A")).flatMap(nfa.onEvent).isEmpty)
    val flushed = nfa.flush()
    assert(flushed.size == 1 && flushed.head.endTs == 30L)
  }

  test("absence followed by a step: events cannot cross an open window") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Absence(Step[E]("nb", _.typ == "B"), forMs = 20L),
      Step[E]("c", _.typ == "C")))
    val nfa = new Nfa[E](pat, _.ts)
    // C at 15 is inside the open absence window — must NOT complete;
    // C at 40 is after the deadline (30) — completes
    val ms = Seq(E(1, 10, "A"), E(2, 15, "C"), E(3, 40, "C")).flatMap(nfa.onEvent)
    assert(ms.size == 1 && ids(ms.head, "c") == Seq(3L))
  }

  test("duplicate step names are rejected at construction") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"), Step[E]("a", _.typ == "B")))
    intercept[IllegalArgumentException] { new Nfa[E](pat, _.ts) }
  }

  test("SKIP TO <var> + absence: resuming at the match's own first row " +
      "raises the standard's infinite-loop error at resolution") {
    // (a NOT-b) with SKIP TO LAST a: the only bound row IS the match's
    // first row, so the deadline-resolved emission must raise the same
    // runtime error the event path raises
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Absence[E](Step[E]("b", _.typ == "B"), 20L)),
      skipToVar = Some(("a", false)))
    val nfa = new Nfa[E](pat, _.ts, _.id)
    nfa.onEvent(E(1, 10, "A"))
    val err = intercept[IllegalStateException] { nfa.flush() }
    assert(err.getMessage.contains("infinite loop"))
  }

  test("partial-match cap bounds state") {
    val pat = AB.copy(maxPartialMatches = 5)
    val nfa = new Nfa[E](pat, _.ts)
    (1 to 100).foreach(i => nfa.onEvent(E(i, i * 10L, "A")))
    assert(nfa.liveCount <= 5)
  }

  test("non-every: the event that expires a partial can seed the restart " +
      "(fuzz regression: batch replay == chunked streaming)") {
    // C{3,5} within 113, every=false, skip-past-last-row. The partial
    // seeded at ts=31 expires when E11 arrives at ts=153 (122 > 113);
    // E11 itself must start the replacement attempt — streaming prunes
    // the dead partial at the preceding watermark and restarts, so batch
    // replay refusing to seed on the same event diverged (round-6 fix:
    // non-every seeding checks the post-event live set).
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("s0", _.typ == "C", minCount = 3, maxCount = 5)),
      withinMs = Some(113L), every = false, skipPastLastRow = true)
    val evs = Seq(E(1, 6, "B"), E(2, 20, "B"), E(3, 31, "C"),
      E(11, 153, "C"), E(12, 167, "C"), E(17, 224, "C"))
    val nfa = new Nfa[E](pat, _.ts)
    val ms = evs.flatMap(nfa.onEvent) ++ nfa.flush()
    assert(ms.map(m => (m.startTs, m.endTs, ids(m, "s0"))) ==
      Seq((153L, 224L, Seq(11L, 12L, 17L))))
  }

  test("absence resolution emits in DEADLINE order across partials " +
      "(fuzz regression: one big promote == many small watermark steps)") {
    // B{3,5} then `not C for 7`; B's at 19/33/34 arm absence windows with
    // deadline 41 on the 3rd B, while later B's at 181/185 re-arm windows
    // with deadlines 188/192. The C at 193 resolves 188 AND 192 in ONE
    // promote — emissions must come out 188-first (deadline order), not
    // in partials-list order, or the streaming executor (which resolves
    // them at successive watermarks) diverges.
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("s0", _.typ == "B", minCount = 3, maxCount = 5),
      Absence[E](Step[E]("s1", _.typ == "C"), 7L)))
    val evs = Seq(E(1, 19, "B"), E(2, 33, "B"), E(3, 34, "B"),
      E(16, 181, "B"), E(17, 185, "B"), E(18, 193, "C"))
    val ms = run(pat, evs)
    val endTs = ms.map(_.endTs)
    assert(endTs == endTs.sorted, s"emissions out of deadline order: $endTs")
    assert(endTs.take(3) == Seq(41L, 188L, 188L))
  }

  test("group (a b){2,3}: iterations append to shared slots, greedy-min " +
      "emission at the iteration boundary") {
    val pat = PatternDef[E](IndexedSeq(NestedGroup[E](IndexedSeq(
      GVar(Step[E]("a", _.typ == "A")), GVar(Step[E]("b", _.typ == "B"))), 2, 3)))
    val evs = Seq(E(1, 10, "A"), E(2, 20, "B"), E(3, 30, "A"),
      E(4, 40, "B"), E(5, 50, "A"), E(6, 60, "B"))
    val ms = run(pat, evs)
    // every A seeds a start; each start emits at exactly 2 full
    // iterations (greedy-min, the a{2,3} Step convention); the start at
    // 50 never reaches 2 iterations
    assert(ms.map(m => (m.startTs, m.endTs, ids(m, "a"), ids(m, "b")))
      .toSet == Set(
        (10L, 40L, Seq(1L, 3L), Seq(2L, 4L)),
        (30L, 60L, Seq(3L, 5L), Seq(4L, 6L))))
  }

  test("group (a b)+ as last element emits one-iteration matches " +
      "(greedy-min), mid-iteration partials never emit") {
    val pat = PatternDef[E](IndexedSeq(NestedGroup[E](IndexedSeq(
      GVar(Step[E]("a", _.typ == "A")), GVar(Step[E]("b", _.typ == "B"))),
      1, Int.MaxValue)))
    val evs = Seq(E(1, 10, "A"), E(2, 20, "B"), E(3, 30, "A"),
      E(4, 40, "C"), E(5, 50, "B"))
    val ms = run(pat, evs)
    // starts at 10 and 30 each complete one iteration (the C at 40 is
    // skipped — relaxed semantics); a lone A never emits
    assert(ms.map(m => (ids(m, "a"), ids(m, "b"))).toSet ==
      Set((Seq(1L), Seq(2L)), (Seq(3L), Seq(5L))))
  }

  test("group mid-pattern branches: both the min and the grown " +
      "iteration counts advance into the tail") {
    val pat = PatternDef[E](IndexedSeq(
      NestedGroup[E](IndexedSeq(
        GVar(Step[E]("a", _.typ == "A")), GVar(Step[E]("b", _.typ == "B"))),
        1, 2),
      Step[E]("c", _.typ == "C")))
    val evs = Seq(E(1, 10, "A"), E(2, 20, "B"), E(3, 30, "A"),
      E(4, 40, "B"), E(5, 50, "C"))
    val ms = run(pat, evs)
    assert(ms.map(m => (ids(m, "a"), ids(m, "b"), ids(m, "c"))).toSet ==
      Set((Seq(1L, 3L), Seq(2L, 4L), Seq(5L)),  // 2-iteration branch
        (Seq(1L), Seq(2L), Seq(5L)),            // 1-iteration branch
        (Seq(3L), Seq(4L), Seq(5L))))           // every-seeded start
  }

  test("optional group (a b)* is skippable from the preceding element") {
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("x", _.typ == "X"),
      NestedGroup[E](IndexedSeq(
        GVar(Step[E]("a", _.typ == "A")), GVar(Step[E]("b", _.typ == "B"))),
        0, Int.MaxValue),
      Step[E]("c", _.typ == "C")))
    // group skipped entirely
    val ms1 = run(pat, Seq(E(1, 10, "X"), E(2, 20, "C")))
    assert(ms1.map(m => (ids(m, "x"), m.get("a").map(_.id),
      ids(m, "c"))) == Seq((Seq(1L), Seq(), Seq(2L))))
    // an A arriving first COMMITS the partial into the group
    // (skip-till-next-match: the first qualifying event advances —
    // the same convention as an optional Step)
    val ms2 = run(pat, Seq(E(1, 10, "X"), E(2, 20, "A"), E(3, 30, "B"),
      E(4, 40, "C")))
    assert(ms2.map(m => (ids(m, "x"), ids(m, "a"), ids(m, "b"),
      ids(m, "c"))).toSet ==
        Set((Seq(1L), Seq(2L), Seq(3L), Seq(4L))))
  }

  test("n-ary permute: one event per step, any order, declaration " +
      "priority, every-seeded overlaps") {
    val pat = PatternDef[E](IndexedSeq(NestedGroup[E](IndexedSeq(GPerm(
      IndexedSeq(Step[E]("a", _.typ == "A"), Step[E]("b", _.typ == "B"),
        Step[E]("c", _.typ == "C")))), 1, 1)))
    // reversed arrival order completes; a second C is ignored (slot
    // taken) but seeds its OWN partial (every), which never completes
    val ms = run(pat, Seq(E(1, 10, "C"), E(2, 20, "C"), E(3, 30, "B"),
      E(4, 40, "A")))
    // seeds at C(1) and C(2): both bind B(3) then A(4) — overlapping
    // matches differing in the c slot
    assert(ms.map(m => (ids(m, "a"), ids(m, "b"), ids(m, "c"))).toSet ==
      Set((Seq(4L), Seq(3L), Seq(1L)), (Seq(4L), Seq(3L), Seq(2L))))
    // declaration priority: an event satisfying two unbound steps binds
    // the FIRST declared one
    val both = PatternDef[E](IndexedSeq(NestedGroup[E](IndexedSeq(GPerm(
      IndexedSeq(Step[E]("x", _.id < 10), Step[E]("y", _.typ == "B")))),
      1, 1)))
    val ms2 = run(both, Seq(E(1, 10, "B"), E(2, 20, "B")))
    // B(1) satisfies both -> binds x; B(2) then binds y
    assert(ms2.map(m => (ids(m, "x"), ids(m, "y"))).contains(
      (Seq(1L), Seq(2L))))
  }

  test("skip + cross-variable DEFINE: leftmost-starting match wins even " +
      "when a later-starting partial completes first (deferred emission)") {
    // probe from SQL:2016 leftmost-rescan semantics: with seed-dependent
    // predicates the start-2 partial completes at ts=40, while the
    // start-1 partial only completes at ts=50; the standard's leftmost
    // rescan emits the start-1 match and the start-2 one is consumed
    case class V(id: Long, ts: Long, typ: String, v: Long)
    def ctx(f: (V, String => IndexedSeq[V]) => Boolean) = Some(f)
    val pat = PatternDef[V](IndexedSeq(
      Step[V]("a", _.typ == "A"),
      Step[V]("b", _ => true, ctxPred = ctx((e, c) =>
        c("a").headOption.exists(a => e.v < a.v))),
      Step[V]("c", _ => true, ctxPred = ctx((e, c) =>
        c("a").headOption.exists(a => e.v > a.v)))),
      skipPastLastRow = true)
    val evs = Seq(V(1, 10, "A", 10), V(2, 20, "A", 3), V(3, 30, "X", 2),
      V(4, 40, "X", 5), V(5, 50, "X", 20))
    val nfa = new Nfa[V](pat, _.ts, _.id)
    val ms = evs.flatMap(nfa.onEvent) ++ nfa.flush()
    assert(ms.map(_.startTs) == Seq(10L))
    assert(ms.head.groups("a").map(_.id) == Seq(1L))
    assert(ms.head.groups("c").map(_.id) == Seq(5L))
  }

  test("skip-to + cross-variable DEFINE: matches emit in leftmost order " +
      "and the resume target keeps the overlapping later match") {
    case class V(id: Long, ts: Long, typ: String, v: Long)
    def ctx(f: (V, String => IndexedSeq[V]) => Boolean) = Some(f)
    val pat = PatternDef[V](IndexedSeq(
      Step[V]("a", _.typ == "A"),
      Step[V]("b", _ => true, ctxPred = ctx((e, c) =>
        c("a").headOption.exists(a => e.v < a.v))),
      Step[V]("c", _ => true, ctxPred = ctx((e, c) =>
        c("a").headOption.exists(a => e.v > a.v)))),
      skipToVar = Some(("b", false)))
    val evs = Seq(V(1, 10, "A", 10), V(2, 20, "A", 3), V(3, 30, "X", 2),
      V(4, 40, "X", 5), V(5, 50, "X", 20))
    val nfa = new Nfa[V](pat, _.ts, _.id)
    val ms = evs.flatMap(nfa.onEvent) ++ nfa.flush()
    // start-1 match (b bound row 2, resume AT row 2) emits first; the
    // start-2 match starts exactly at the resume target and survives
    assert(ms.map(_.startTs) == Seq(10L, 20L))
  }

  test("deferred skip emission waits for SAME-start live partials: the " +
      "preferment-preferred longer branch beats an earlier-completing " +
      "short one") {
    case class V(id: Long, ts: Long, typ: String, v: Long)
    def ctx(f: (V, String => IndexedSeq[V]) => Boolean) = Some(f)
    // a b{1,3} c where c's predicate reads SUM(b.v) (deferred skip
    // mode): the quantifier branches into a b=1 and a b=2 partial with
    // the SAME start; the b=1 branch completes at ts=30 (5 > 3) while
    // the b=2 branch fails there (5 > 8 is false) and only completes
    // at ts=50 — candOrder's greedy slot preferment elects the longer
    // one, so mid-stream emission must not leak the short candidate
    // while a same-start partial is still in flight (its consumption
    // would kill the preferred branch)
    val pat = PatternDef[V](IndexedSeq(
      Step[V]("a", _.typ == "A"),
      Step[V]("b", _.typ == "B", minCount = 1, maxCount = 3,
        ctxPred = ctx((e, c) => e.typ == "B" &&
          c("a").headOption.exists(a => e.v < a.v))),
      Step[V]("c", _.typ == "C", ctxPred = ctx((e, c) =>
        e.typ == "C" && e.v > c("b").map(_.v).sum))),
      skipPastLastRow = true)
    val evs = Seq(V(1, 10, "A", 10), V(2, 20, "B", 3), V(3, 25, "B", 5),
      V(4, 30, "C", 5), V(5, 50, "C", 100))
    val nfa = new Nfa[V](pat, _.ts, _.id)
    val ms = evs.flatMap(nfa.onEvent) ++ nfa.flush()
    assert(ms.size == 1)
    assert(ms.head.groups("b").map(_.id) == Seq(2L, 3L))
    assert(ms.head.groups("c").map(_.id) == Seq(5L))
  }

  test("skip past last row elects deterministically by (ts, tie) among " +
      "same-timestamp candidates") {
    val pat = AB.copy(skipPastLastRow = true)
    val nfa = new Nfa[E](pat, _.ts, _.id)
    val ms = Seq(E(2, 10, "A"), E(1, 10, "A"), E(3, 20, "B"))
      .flatMap(nfa.onEvent)
    assert(ms.size == 1)
    assert(ids(ms.head, "a") == Seq(1L)) // lower tie wins the election
  }

  test("SKIP TO <var> composes with absence: deadline-resolved matches " +
      "elect leftmost and consume by resume target") {
    // a(A) b(C) then NOT B FOR 100, SKIP TO LAST b. Both partials arm
    // the absence on the same C row: the leftmost start emits and its
    // resume target (the shared b row) consumes the later start.
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Step[E]("b", _.typ == "C"),
      Absence[E](Step[E]("nb", _.typ == "B"), 100L)),
      skipToVar = Some(("b", false)))
    val nfa = new Nfa[E](pat, _.ts, _.id)
    val ms = Seq(E(1, 10, "A"), E(2, 20, "A"), E(3, 30, "C"))
      .flatMap(nfa.onEvent) ++ nfa.flush()
    assert(ms.map(m => ids(m, "a")) == Seq(Seq(1L)))

    // distinct b rows: the second match starts after the first's
    // target, so both survive the consumption
    val nfa2 = new Nfa[E](pat, _.ts, _.id)
    val ms2 = Seq(E(1, 10, "A"), E(2, 20, "C"), E(3, 25, "A"),
      E(4, 40, "C")).flatMap(nfa2.onEvent) ++ nfa2.flush()
    assert(ms2.map(m => (ids(m, "a"), ids(m, "b"))) ==
      Seq((Seq(1L), Seq(2L)), (Seq(3L), Seq(4L))))

    // a B inside the window still violates it — nothing emits
    val nfa3 = new Nfa[E](pat, _.ts, _.id)
    val ms3 = Seq(E(1, 10, "A"), E(2, 20, "C"), E(3, 60, "B"))
      .flatMap(nfa3.onEvent) ++ nfa3.flush()
    assert(ms3.isEmpty)

    // naming the absence variable as the target: the standard's
    // unbound-variable runtime error (it binds no rows)
    val nfa4 = new Nfa[E](pat.copy(skipToVar = Some(("nb", true))),
      _.ts, _.id)
    val ex = intercept[IllegalStateException] {
      Seq(E(1, 10, "A"), E(2, 20, "C")).flatMap(nfa4.onEvent) ++
        nfa4.flush()
    }
    assert(ex.getMessage.contains("bound no rows"))
  }

  test("SKIP TO <var> + absence on the streaming kernel: chunked " +
      "Cep.step == batch replay") {
    import graft.cep.Cep
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Step[E]("b", _.typ == "C"),
      Absence[E](Step[E]("nb", _.typ == "B"), 100L)),
      skipToVar = Some(("b", false)))
    val evs = Seq(E(1, 10, "A"), E(2, 20, "C"), E(3, 25, "A"),
      E(4, 40, "C"))
    val expect = {
      val nfa = new Nfa[E](pat, _.ts, _.id)
      (evs.flatMap(nfa.onEvent) ++ nfa.flush())
        .map(m => (ids(m, "a"), ids(m, "b")))
    }
    var st = Cep.CepState.empty[E]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Long], Seq[Long])]
    def doStep(chunk: Seq[E], wm: Long): Unit = {
      val (ns, ms, _) = Cep.step[E](st, chunk, wm, hasWatermark = true,
        pat, _.ts, _.id)
      got ++= ms.map(m => (ids(m, "a"), ids(m, "b")))
      st = ns.getOrElse(Cep.CepState.empty[E])
    }
    doStep(evs.take(2), 15L)   // releases e1 only
    doStep(evs.drop(2), 45L)   // releases the rest; windows still open
    doStep(Nil, 500L)          // deadlines pass — both resolve
    assert(got.toList == expect)
  }

  test("Cep.step rejects deferred skip mode (cross-variable DEFINE + " +
      "skip) without a within bound") {
    import graft.cep.Cep
    def ctx(f: (E, String => IndexedSeq[E]) => Boolean) = Some(f)
    val cvSkip = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"),
      Step[E]("b", _ => true, ctxPred = ctx((e, c) =>
        c("a").headOption.exists(a => e.id > a.id)))),
      skipPastLastRow = true)
    // without withinMs a blocked pendingCands can never drain: a live
    // earlier-start partial that neither completes nor dies is only
    // ever cleared by pruneExpired
    val ex = intercept[IllegalArgumentException] {
      Cep.step[E](Cep.CepState.empty[E], Nil, 0L, hasWatermark = false,
        cvSkip, _.ts, _.id)
    }
    assert(ex.getMessage.contains("WITHIN"))
    // the same pattern WITH a bound is accepted
    Cep.step[E](Cep.CepState.empty[E], Nil, 0L, hasWatermark = false,
      cvSkip.copy(withinMs = Some(100L)), _.ts, _.id)
    // and so is the cv pattern without any skip mode
    Cep.step[E](Cep.CepState.empty[E], Nil, 0L, hasWatermark = false,
      cvSkip.copy(skipPastLastRow = false), _.ts, _.id)
  }

  test("Cep.step rejects an unmatched horizon shorter than the pattern " +
      "window") {
    import graft.cep.Cep
    assertThrows[IllegalArgumentException] {
      Cep.step[E](Cep.CepState.empty[E], Nil, 0L, hasWatermark = false,
        AB.copy(withinMs = Some(100L)), _.ts, _.id,
        unmatchedWithin = Some(50L))
    }
    assertThrows[IllegalArgumentException] {
      Cep.step[E](Cep.CepState.empty[E], Nil, 0L, hasWatermark = false,
        AB, _.ts, _.id, unmatchedWithin = Some(50L))
    }
  }

  test("rx: quantified item inside a group — (a+ b){2} iterations " +
      "share slots") {
    import graft.cep.{RxElem, RxRep, RxSeq, RxVar}
    val pat = PatternDef[E](IndexedSeq(RxElem[E](RxRep(RxSeq(IndexedSeq(
      RxVar(Step[E]("a", _.typ == "A"), 1, Int.MaxValue),
      RxVar(Step[E]("b", _.typ == "B")))), 2, 2))))
    val ms = run(pat, Seq(E(1, 10, "A"), E(2, 20, "A"), E(3, 30, "B"),
      E(4, 40, "A"), E(5, 50, "B")))
    assert(ms.map(m => (ids(m, "a"), ids(m, "b"))).toSet == Set(
      (Seq(1L, 2L, 4L), Seq(3L, 5L)),
      (Seq(2L, 4L), Seq(3L, 5L))))
  }

  test("rx: depth-2 nesting — ((a b) c){1,2} then d") {
    import graft.cep.{RxElem, RxRep, RxSeq, RxVar}
    val grp = RxRep(RxSeq(IndexedSeq(
      RxRep(RxSeq(IndexedSeq[graft.cep.RxNode[E]](
        RxVar(Step[E]("a", _.typ == "A")),
        RxVar(Step[E]("b", _.typ == "B")))), 1, 1),
      RxVar(Step[E]("c", _.typ == "C")))), 1, 2)
    val pat = PatternDef[E](IndexedSeq(
      RxElem[E](grp), Step[E]("d", _.typ == "D")))
    // two full iterations then d: slots accumulate across iterations
    val ms = run(pat, Seq(E(1, 10, "A"), E(2, 20, "B"), E(3, 30, "C"),
      E(4, 40, "A"), E(5, 50, "B"), E(6, 60, "C"), E(7, 70, "D")))
    val got = ms.map(m =>
      (ids(m, "a"), ids(m, "b"), ids(m, "c"), ids(m, "d"))).toSet
    // 2-iteration group from seed 1, 1-iteration group from seeds 1
    // and 4 (greedy-min growth: both the 1- and 2-iteration boundary
    // advance into d)
    assert(got.contains((Seq(1L, 4L), Seq(2L, 5L), Seq(3L, 6L), Seq(7L))))
    assert(got.contains((Seq(1L), Seq(2L), Seq(3L), Seq(7L))))
    assert(got.contains((Seq(4L), Seq(5L), Seq(6L), Seq(7L))))
  }

  test("rx: alternation of sequences — (a b | c d)") {
    import graft.cep.{RxAlt, RxElem, RxSeq, RxVar}
    val alt = RxAlt[E](IndexedSeq(
      RxSeq(IndexedSeq[graft.cep.RxNode[E]](
        RxVar(Step[E]("a", _.typ == "A")),
        RxVar(Step[E]("b", _.typ == "B")))),
      RxSeq(IndexedSeq[graft.cep.RxNode[E]](
        RxVar(Step[E]("c", _.typ == "C")),
        RxVar(Step[E]("d", _.typ == "D"))))))
    val pat = PatternDef[E](IndexedSeq(RxElem[E](alt)))
    val ms = run(pat, Seq(E(1, 10, "A"), E(2, 20, "C"), E(3, 30, "D"),
      E(4, 40, "B")))
    // seed A(1) completes via the a-b branch at B(4); seed C(2)
    // completes via c-d at D(3) — the unchosen side binds nothing
    assert(ms.map(m => (ids(m, "a"), ids(m, "b"), ids(m, "c"),
      ids(m, "d"))).toSet == Set(
      (Seq(1L), Seq(4L), Seq(), Seq()),
      (Seq(), Seq(), Seq(2L), Seq(3L))))
  }

  test("rx: shared slot across alternation branches (same variable " +
      "twice in the pattern)") {
    import graft.cep.{RxAlt, RxElem, RxSeq, RxVar}
    // (x y | y x) — the PERMUTE(x, y) expansion shape: both branches
    // bind the SAME x/y slots
    val alt = RxAlt[E](IndexedSeq(
      RxSeq(IndexedSeq[graft.cep.RxNode[E]](
        RxVar(Step[E]("x", _.typ == "A")),
        RxVar(Step[E]("y", _.typ == "B")))),
      RxSeq(IndexedSeq[graft.cep.RxNode[E]](
        RxVar(Step[E]("y", _.typ == "B")),
        RxVar(Step[E]("x", _.typ == "A"))))))
    val pat = PatternDef[E](IndexedSeq(RxElem[E](alt)))
    val ms = run(pat, Seq(E(1, 10, "B"), E(2, 20, "A")))
    assert(ms.map(m => (ids(m, "x"), ids(m, "y"))).toSet ==
      Set((Seq(2L), Seq(1L))))
  }

  test("rx: optional group mid-pattern is skippable; optional head is " +
      "rejected") {
    import graft.cep.{RxElem, RxRep, RxSeq, RxVar}
    val opt = RxElem[E](RxRep(RxSeq(IndexedSeq[graft.cep.RxNode[E]](
      RxVar(Step[E]("b", _.typ == "B")),
      RxVar(Step[E]("c", _.typ == "C")))), 0, 1))
    val pat = PatternDef[E](IndexedSeq(
      Step[E]("a", _.typ == "A"), opt, Step[E]("d", _.typ == "D")))
    val ms = run(pat, Seq(E(1, 10, "A"), E(2, 20, "D"),
      E(3, 30, "A"), E(4, 40, "B"), E(5, 50, "C"), E(6, 60, "D")))
    val got = ms.map(m => (ids(m, "a"), ids(m, "b"), ids(m, "c"),
      ids(m, "d"))).toSet
    assert(got.contains((Seq(1L), Seq(), Seq(), Seq(2L)))) // skipped
    assert(got.contains((Seq(3L), Seq(4L), Seq(5L), Seq(6L))))
    assertThrows[IllegalArgumentException](
      new Nfa[E](PatternDef[E](IndexedSeq(opt)), _.ts))
  }

  test("group head must be non-optional; inner steps must be plain") {
    val bad = PatternDef[E](IndexedSeq(NestedGroup[E](IndexedSeq(
      GVar(Step[E]("a", _.typ == "A")), GVar(Step[E]("b", _.typ == "B"))),
      0, Int.MaxValue)))
    assertThrows[IllegalArgumentException](new Nfa[E](bad, _.ts))
    assertThrows[IllegalArgumentException](GVar(
      Step[E]("a", _.typ == "A", minCount = 1, maxCount = 2)))
  }
}
