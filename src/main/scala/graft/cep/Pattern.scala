package graft.cep

/** Pattern AST for CEP queries — the Spark-native equivalent of the
  * SiddhiQL pattern/sequence surface the reference forwards to its
  * embedded engine (reference evidence: pattern query at
  * core/src/test/java/org/apache/flink/streaming/siddhi/SiddhiCEPITCase.java:343-348,
  * sequence + within + quantifiers at :370-374; StateInputStream handling —
  * which covers logical state elements too — at
  * core/src/main/java/org/apache/flink/streaming/siddhi/utils/SiddhiExecutionPlanner.java:127).
  *
  * Semantics implemented (matching Siddhi defaults):
  *  - followed-by (`->`): skip-till-next-match — a partial match advances
  *    on the FIRST later event satisfying the next step;
  *  - sequence (`,`): strict succession — the immediately-next event must
  *    satisfy the step or the partial match dies;
  *  - `every`: every event satisfying step 0 starts a new partial match;
  *  - `within t`: a match must complete within t ms of its first event;
  *  - count quantifiers `<m:n>` / `+` (min=1,max=∞) / `?` (min=0,max=1)
  *    collect consecutive qualifying events into a step group, exposed as
  *    an indexed list (Siddhi's `s1[0]` access);
  *  - logical elements (B20): `e1=A and e2=B` binds one event per side in
  *    either order and completes when both are bound; `e1=A or e2=B`
  *    completes on the first event matching either side;
  *  - absence (B20): `not A for t` completes when t elapses with no
  *    qualifying event after the element was armed; a qualifying event
  *    inside the window kills the partial match.
  */
sealed trait PatternElem[E] extends Serializable {
  /** Output binding names this element owns — one group slot per name. */
  def names: IndexedSeq[String]
}

final case class Step[E](
    name: String,
    predicate: E => Boolean,
    minCount: Int = 1,
    maxCount: Int = 1,
    strict: Boolean = false,
    /** Cross-variable predicate (SQL:2016 `B AS B.price > FIRST(A.price)`
      * shape): when set, it REPLACES `predicate` and is evaluated with
      * the partial match's bindings so far — the second argument maps a
      * pattern-variable name to its already-bound events (in bind
      * order, EXCLUDING the event under test; empty for variables not
      * yet bound). Running semantics: for variables earlier in the
      * pattern the bindings are complete, for the step's own variable
      * they are the previous iterations of its quantifier.
      */
    ctxPred: Option[(E, String => IndexedSeq[E]) => Boolean] = None)
    extends PatternElem[E] {
  require(minCount >= 0 && maxCount >= math.max(minCount, 1))
  def names: IndexedSeq[String] = IndexedSeq(name)
}

/** `left and right` / `left or right` logical state elements, built
  * as one-iteration [[NestedGroup]]s: `and` is a two-member
  * [[GPerm]] (each side binds one event, either arrival order, left
  * priority when one event satisfies both), `or` a [[GAlt]] (the first
  * event matching either side completes it, left priority).
  */
object Logical {
  def and[E](left: Step[E], right: Step[E]): NestedGroup[E] =
    NestedGroup(IndexedSeq(GPerm(IndexedSeq(left, right))), 1, 1)
  def or[E](left: Step[E], right: Step[E]): NestedGroup[E] =
    NestedGroup(IndexedSeq(GAlt(left, right)), 1, 1)
}

/** One item of a [[NestedGroup]] iteration. */
sealed trait GroupItem[E] extends Serializable {
  def names: IndexedSeq[String]
  /** Events this item binds per iteration. */
  def arity: Int
}
/** A plain variable: one event matching its predicate. */
final case class GVar[E](step: Step[E]) extends GroupItem[E] {
  require(step.minCount == 1 && step.maxCount == 1 && !step.strict,
    "nested-group items must be plain variables")
  def names: IndexedSeq[String] = IndexedSeq(step.name); def arity = 1
}
/** A binary alternation `(x|y)`: one event to whichever side matches
  * (left priority). */
final case class GAlt[E](left: Step[E], right: Step[E])
    extends GroupItem[E] {
  require(Seq(left, right).forall(s =>
      s.minCount == 1 && s.maxCount == 1 && !s.strict),
    "nested-group alternation sides must be plain variables")
  def names: IndexedSeq[String] = IndexedSeq(left.name, right.name)
  def arity = 1
}
/** A k-ary `PERMUTE(x, …)`: one event per member, any order within
  * the iteration (declaration-order priority among unbound members). */
final case class GPerm[E](steps: IndexedSeq[Step[E]])
    extends GroupItem[E] {
  require(steps.length >= 2, "nested PERMUTE needs >= 2 members")
  require(steps.forall(s =>
      s.minCount == 1 && s.maxCount == 1 && !s.strict),
    "nested-group PERMUTE members must be plain variables")
  def names: IndexedSeq[String] = steps.map(_.name)
  def arity: Int = steps.length
}

/** Quantified group whose iteration is a SEQUENCE of nested items —
  * SQL:2016 `(a (b|c) PERMUTE(d,e)){m,n}`: each iteration walks the
  * items in order (an alternation consumes one routed event, a
  * PERMUTE its members in any arrival order), all iterations append
  * to the same per-variable slots, so `a` in `(a b)+` exposes every
  * iteration's `a` events in bind order. Completion is greedy-min at
  * an iteration boundary with at least `minRepeat` full iterations
  * (emitting there when the group is the last element); growth
  * toward `maxRepeat` from a complete boundary is a branch.
  *
  * Every structured group shape is one of these: `(a b){m,n}` is
  * all-[[GVar]] items, `(a|b){m,n}` one [[GAlt]], `PERMUTE(a, …){m,n}`
  * one [[GPerm]], and [[Logical]]`.and`/`.or` the {1,1} [[GPerm]] /
  * [[GAlt]] groups. An event binds by priority — left side, first
  * unbound member in declaration order — and never forks; [[RxElem]]
  * is the forking form.
  *
  * State encoding: `curCount` = total events bound; an iteration
  * binds exactly `arity = Σ item.arity` events, so `curCount % arity`
  * locates the active item (and, inside a PERMUTE segment, the
  * member slots' counts vs completed iterations identify the
  * unbound members) and `curCount % arity == 0` is the boundary.
  */
final case class NestedGroup[E](items: IndexedSeq[GroupItem[E]],
    minRepeat: Int, maxRepeat: Int) extends PatternElem[E] {
  require(items.nonEmpty, "nested group needs at least one item")
  require(minRepeat >= 0 && maxRepeat >= math.max(minRepeat, 1),
    s"bad group quantifier {$minRepeat,$maxRepeat}")
  def names: IndexedSeq[String] = items.flatMap(_.names)
  /** Events bound per full iteration. */
  val arity: Int = items.map(_.arity).sum
  /** (item index, offset inside the item) for each in-iteration
    * position. */
  val posMap: IndexedSeq[(Int, Int)] = items.zipWithIndex.flatMap {
    case (it, i) => (0 until it.arity).map(o => (i, o))
  }
  /** First slot of each item (within this element's slot range). */
  val itemSlotBase: IndexedSeq[Int] =
    items.scanLeft(0)(_ + _.names.length).init
}

/** Regex AST for [[RxElem]] — the fully recursive pattern element that
  * lifts the structured elements' shape limits: arbitrary nesting
  * depth, quantified items inside groups, and alternation of
  * sequences. Leaves are plain one-event [[Step]]s (a quantified leaf
  * is [[RxVar]] with its own bounds); the same variable name may occur
  * at several leaves (all occurrences bind into one shared slot).
  */
sealed trait RxNode[E] extends Serializable
/** A variable occurrence consuming `min..max` consecutive qualifying
  * events (the [[Step]] count-quantifier convention). */
final case class RxVar[E](step: Step[E], min: Int = 1, max: Int = 1)
    extends RxNode[E] {
  require(step.minCount == 1 && step.maxCount == 1 && !step.strict,
    "Rx leaves must be plain one-event steps (quantify via RxVar)")
  require(min >= 0 && max >= math.max(min, 1), s"bad rx quantifier {$min,$max}")
}
/** Concatenation — items match in order. */
final case class RxSeq[E](items: IndexedSeq[RxNode[E]]) extends RxNode[E] {
  require(items.nonEmpty, "rx sequence needs at least one item")
}
/** Alternation — exactly one branch matches. */
final case class RxAlt[E](alts: IndexedSeq[RxNode[E]]) extends RxNode[E] {
  require(alts.length >= 2, "rx alternation needs at least two branches")
}
/** Quantified group — `min..max` sequential iterations of `body`; all
  * iterations append to the same per-variable slots. */
final case class RxRep[E](body: RxNode[E], min: Int, max: Int)
    extends RxNode[E] {
  require(min >= 0 && max >= math.max(min, 1), s"bad rx quantifier {$min,$max}")
}
/** SQL:2016 `PERMUTE(m1, …, mk)` over arbitrary sub-patterns — each
  * member matches exactly once, in any order. Compiled as a
  * members-seen BITMASK register (one counter holding a 2^k-value
  * mask) around ONE shared sub-automaton per member: a central hub
  * admits member i only while bit i is clear (ε-guard), sets bit i
  * when the member's sub-automaton exits, and accepts when the mask is
  * full. Automaton size is Σ|member| + O(k) states — NOT the k!
  * ordering expansion — so high-arity PERMUTE of composite items stays
  * tractable; a live partial still forks only at its next-member
  * choice (≤ k branches), the same exploration the recursive
  * prefix-sharing expansion produced, and the mask rides the existing
  * `rxCnt` counter vector so checkpointed streaming state needs no new
  * layout.
  */
final case class RxPermute[E](members: IndexedSeq[RxNode[E]])
    extends RxNode[E] {
  require(members.length >= 2, "rx permute needs at least two members")
  // The 16 bound is validated empirically through k=10 (BASELINE.md
  // round 18, the mr_cep_permute8/10 + *_adv adversarial rows of the
  // per-operator scale probe, since deleted; DecadeSweep now times
  // every MR query at 10×): real-events k=8/k=10 run sub-linearly per data decade, and
  // the constructed worst case — all classes interleaved with every
  // 3rd event a wildcard satisfying EVERY member, forcing the full
  // C(k, k/2) mask-branching — stays bounded by maxPartialMatches'
  // best-effort drop and ALSO scales sub-linearly in keys (6.6→19.8 s
  // k=8, 22.2→59.0 s k=10 at 10× keys). Beyond 16 the interleaving
  // classes (C(16,8) = 12870 per seed) dwarf any realistic partial
  // budget, so admission stops there by intent.
  require(members.length <= 16,
    s"rx permute supports at most 16 members (got ${members.length}): " +
      "the members-seen bitmask explores up to C(k, k/2) interleaving " +
      "classes per seed, which dwarfs any maxPartials budget beyond 16")
}

/** Fully recursive pattern element: a counter-augmented Thompson NFA
  * over [[RxNode]]. One engine [[Partial]] holds ONE automaton
  * configuration (`curCount` = state id, `rxCnt` = repeat counters);
  * an event may fire several transitions from the configuration's
  * ε-closure — each becomes its own branch partial, the engine-wide
  * convention for exploring match alternatives. Counters saturate at
  * their relevant bound, so the configuration space (and with it
  * ε-closure computation) is finite even for unbounded `+`/`*`.
  *
  * It can express every [[NestedGroup]] shape, but it does not bind
  * the same way: an event that satisfies two alternatives here forks
  * one branch per transition, while a [[NestedGroup]] binds it to the
  * priority side only (left alternative, first unbound PERMUTE member
  * in declaration order). The SQL compiler therefore routes a pattern
  * item here only when its shape needs recursion (nesting depth > 1,
  * quantified inner items, alternation of sequences, PERMUTE of
  * composite items).
  */
final case class RxElem[E](root: RxNode[E]) extends PatternElem[E] {

  /** Variable occurrences in AST order — one predicate evaluation site
    * each; several occurrences may share a name (and then a slot). */
  val occurrences: IndexedSeq[Step[E]] = {
    val b = Vector.newBuilder[Step[E]]
    def walk(n: RxNode[E]): Unit = n match {
      case v: RxVar[E] => b += v.step
      case s: RxSeq[E] => s.items.foreach(walk)
      case a: RxAlt[E] => a.alts.foreach(walk)
      case r: RxRep[E] => walk(r.body)
      case p: RxPermute[E] => p.members.foreach(walk)
    }
    walk(root)
    b.result()
  }
  def allSteps: Seq[Step[E]] = occurrences

  /** Distinct variable names in first-occurrence order — the element's
    * slot layout. */
  val names: IndexedSeq[String] = occurrences.map(_.name).distinct

  /** Slot offset (within this element) of each occurrence. */
  private val occSlot: Array[Int] =
    occurrences.map(s => names.indexOf(s.name)).toArray

  // --- compiled automaton ---
  // ε-edge kinds: FREE plain; RESET c:=0 (entering a repeat); ENTER
  // guarded c < max (starting an iteration); INC c:=sat(c+1) (an
  // iteration completed); EXIT guarded c >= min, c:=0 (leaving the
  // repeat — the reset normalizes configurations for dedup).
  // PERMUTE bitmask kinds carry (counter, bit-or-arity) packed as
  // `ci << 8 | b` in the payload slot: BGUARD admits member b while
  // bit b of counter ci is clear; BSET sets bit b on member exit;
  // BFULL accepts when the mask equals (1 << b) - 1 (b = arity) and
  // resets it to 0, normalizing configurations for dedup and repeats.
  private final val FREE = 0; private final val RESET = 1
  private final val ENTER = 2; private final val INC = 3
  private final val EXIT = 4
  private final val BGUARD = 5; private final val BSET = 6
  private final val BFULL = 7
  private val (epsEdges, evEdges, cMin, cMax, initState0, accept) = {
    val eps = scala.collection.mutable.ArrayBuffer.empty[
      scala.collection.mutable.ListBuffer[(Int, Int, Int)]]
    val evs = scala.collection.mutable.ArrayBuffer.empty[
      scala.collection.mutable.ListBuffer[(Int, Int)]]
    def newState(): Int = {
      eps += scala.collection.mutable.ListBuffer.empty
      evs += scala.collection.mutable.ListBuffer.empty
      eps.length - 1
    }
    val mins = scala.collection.mutable.ArrayBuffer.empty[Int]
    val maxs = scala.collection.mutable.ArrayBuffer.empty[Int]
    var occIdx = -1
    def build(n: RxNode[E], entry: Int, exit: Int): Unit = n match {
      case v: RxVar[E] =>
        occIdx += 1
        val myOcc = occIdx
        if (v.min == 1 && v.max == 1) evs(entry) += ((myOcc, exit))
        else {
          // counted self-loop: entry -RESET-> L; L -ENTER-> mid
          // -consume-> back -INC-> L; L -EXIT-> exit
          val c = mins.length; mins += v.min; maxs += v.max
          val l = newState(); val mid = newState(); val back = newState()
          eps(entry) += ((RESET, c, l))
          eps(l) += ((ENTER, c, mid))
          evs(mid) += ((myOcc, back))
          eps(back) += ((INC, c, l))
          eps(l) += ((EXIT, c, exit))
        }
      case s: RxSeq[E] =>
        var cur = entry
        s.items.zipWithIndex.foreach { case (it, i) =>
          val nxt = if (i == s.items.length - 1) exit else newState()
          build(it, cur, nxt)
          cur = nxt
        }
      case a: RxAlt[E] =>
        a.alts.foreach { alt =>
          val ae = newState(); val ax = newState()
          eps(entry) += ((FREE, -1, ae))
          build(alt, ae, ax)
          eps(ax) += ((FREE, -1, exit))
        }
      case r: RxRep[E] =>
        val c = mins.length; mins += r.min; maxs += r.max
        val l = newState()
        eps(entry) += ((RESET, c, l))
        val be = newState(); val bx = newState()
        eps(l) += ((ENTER, c, be))
        build(r.body, be, bx)
        eps(bx) += ((INC, c, l))
        eps(l) += ((EXIT, c, exit))
      case p: RxPermute[E] =>
        // members-seen bitmask around one shared sub-automaton per
        // member; the mask counter's bounds are only bookkeeping (the
        // bit kinds guard on individual bits, never on min/max)
        val k = p.members.length
        val c = mins.length; mins += 0; maxs += ((1 << k) - 1)
        val hub = newState()
        eps(entry) += ((RESET, c, hub))
        p.members.zipWithIndex.foreach { case (m, i) =>
          val me = newState(); val mx = newState()
          eps(hub) += ((BGUARD, c << 8 | i, me))
          build(m, me, mx)
          eps(mx) += ((BSET, c << 8 | i, hub))
        }
        eps(hub) += ((BFULL, c << 8 | k, exit))
    }
    val st = newState(); val acc = newState()
    build(root, st, acc)
    (eps.map(_.toList).toArray, evs.map(_.toList).toArray,
      mins.toArray, maxs.toArray, st, acc)
  }
  val initState: Int = initState0
  private val cCap: Array[Int] = cMin.indices.map(i =>
    if (cMax(i) == Int.MaxValue) cMin(i) else cMax(i)).toArray

  val initCnt: IndexedSeq[Int] = Vector.fill(cMin.length)(0)

  /** Canonical description of the COMPILED automaton — slot layout,
    * init/accept ids, counter bounds, and the full ε/event edge
    * tables. [[PatternDef.layoutFp]] folds this per element into the
    * fingerprint stored with checkpointed streaming state: a partial's
    * `curCount` holds a state ID of THIS table and `rxCnt` indexes
    * THESE counters, so any compilation change (e.g. round 17's
    * k!-expansion → bitmask-hub rewrite) makes old ids meaningless —
    * restore must fail loudly instead of reinterpreting them. */
  private[cep] def layoutSig: String = {
    val sb = new StringBuilder("rx[")
    sb.append(names.mkString(",")).append(';')
    sb.append(occSlot.mkString(",")).append(';')
    sb.append(initState0).append('>').append(accept).append(';')
    sb.append(cMin.mkString(",")).append('/')
    sb.append(cMax.mkString(",")).append(';')
    epsEdges.indices.foreach { i =>
      sb.append(i).append('{')
      epsEdges(i).foreach { case (k, c, t) =>
        sb.append(k).append(':').append(c).append(':').append(t)
          .append(' ') }
      sb.append('}')
      evEdges(i).foreach { case (o, t) =>
        sb.append(o).append('@').append(t).append(' ') }
    }
    sb.append(']').toString
  }

  /** All configurations ε-reachable from (st, cnt), itself included.
    * A short/empty counter vector normalizes to [[initCnt]]: partials
    * enter this element from a generic engine path (absence
    * promotion) with `curCount = 0` — which IS [[initState]] by
    * construction — and the default empty `rxCnt`. */
  private def closure(st: Int, cnt0: IndexedSeq[Int]): List[(Int, IndexedSeq[Int])] = {
    val cnt = if (cnt0.length == cMin.length) cnt0 else initCnt
    val seen = scala.collection.mutable.HashSet.empty[(Int, IndexedSeq[Int])]
    var stack: List[(Int, IndexedSeq[Int])] = (st, cnt) :: Nil
    var out: List[(Int, IndexedSeq[Int])] = Nil
    while (stack.nonEmpty) {
      val cfg = stack.head; stack = stack.tail
      if (seen.add(cfg)) {
        out = cfg :: out
        val (s, c) = cfg
        epsEdges(s).foreach { case (kind, ci, to) =>
          kind match {
            case FREE  => stack = (to, c) :: stack
            case RESET => stack = (to, c.updated(ci, 0)) :: stack
            case ENTER => if (c(ci) < cMax(ci)) stack = (to, c) :: stack
            case INC   =>
              stack = (to, c.updated(ci,
                math.min(c(ci) + 1, cCap(ci)))) :: stack
            case EXIT  =>
              if (c(ci) >= cMin(ci)) stack = (to, c.updated(ci, 0)) :: stack
            case BGUARD =>
              if ((c(ci >> 8) & (1 << (ci & 0xff))) == 0)
                stack = (to, c) :: stack
            case BSET =>
              stack = (to, c.updated(ci >> 8,
                c(ci >> 8) | (1 << (ci & 0xff)))) :: stack
            case BFULL =>
              if (c(ci >> 8) == (1 << (ci & 0xff)) - 1)
                stack = (to, c.updated(ci >> 8, 0)) :: stack
          }
        }
      }
    }
    out
  }

  def complete(st: Int, cnt: IndexedSeq[Int]): Boolean =
    closure(st, cnt).exists(_._1 == accept)

  /** Can the whole element match zero events? */
  val matchesEmpty: Boolean = complete(initState, initCnt)

  /** Any consuming transition reachable (the element can still grow)? */
  def canConsume(st: Int, cnt: IndexedSeq[Int]): Boolean =
    closure(st, cnt).exists(cfg => evEdges(cfg._1).nonEmpty)

  /** Fire event `e` from configuration (st, cnt): one branch per
    * distinct (state', counters', slot) whose occurrence predicate
    * accepts the event — `eval` supplies the evaluation (seed or
    * partial-context). */
  def eventBranches(st: Int, cnt: IndexedSeq[Int], e: E,
      eval: Step[E] => Boolean): List[(Int, IndexedSeq[Int], Int)] = {
    val seen = scala.collection.mutable.HashSet.empty[(Int, IndexedSeq[Int], Int)]
    var out: List[(Int, IndexedSeq[Int], Int)] = Nil
    closure(st, cnt).foreach { case (s, c) =>
      evEdges(s).foreach { case (occ, to) =>
        val key = (to, c, occSlot(occ))
        if (!seen(key) && eval(occurrences(occ))) {
          seen += key
          out = key :: out
        }
      }
    }
    out.reverse
  }
}

/** `not step for forMs` absence element: armed when the previous element
  * completes (at event time τ); a qualifying event with ts in
  * [τ, τ + forMs) kills the partial; once time reaches τ + forMs the
  * partial advances (or emits, if the absence is the last element) with
  * endTs = τ + forMs. Never binds an event.
  */
final case class Absence[E](step: Step[E], forMs: Long) extends PatternElem[E] {
  require(forMs > 0, "absence window must be positive")
  def names: IndexedSeq[String] = IndexedSeq(step.name)
}

final case class PatternDef[E](
    steps: IndexedSeq[PatternElem[E]],
    withinMs: Option[Long] = None,
    every: Boolean = true,
    /** hard cap on live partial matches per key — bounded state at scale */
    maxPartialMatches: Int = 1024,
    /** AFTER MATCH SKIP PAST LAST ROW: when a match emits, every live
      * partial is discarded and scanning resumes strictly after the
      * match's last row, so matches never share events (greedy leftmost
      * non-overlap — the SQL-standard default skip mode; Siddhi's
      * `every` toggle covers the other two). When several partials
      * complete on the same event, the earliest-starting one wins.
      */
    skipPastLastRow: Boolean = false,
    /** AFTER MATCH SKIP TO [FIRST|LAST] <var> (SQL:2016's remaining
      * skip modes): `(varName, isFirst)`. When a match emits, scanning
      * resumes AT the first/last row bound to `varName` — partial
      * matches starting at-or-after that row survive, earlier ones are
      * consumed (greedy leftmost, like SKIP PAST LAST ROW, but the
      * resume point is inside the match). Runtime errors per the
      * standard: the target variable bound no rows, or the target row
      * IS the match's first row (a rescan engine would loop forever).
      * Requires a `tieOf` on the [[Nfa]] (row identity is (ts, tie))
      * and a pattern without absence elements.
      */
    skipToVar: Option[(String, Boolean)] = None,
    /** When `skipToVar` names a SUBSET union variable: the union's
      * member slot names. The resume row is then the first/last row in
      * the members' merged `(ts, tie)` order — SQL:2016's skip-to-union
      * semantics (the union's bound rows are the union of its members'
      * rows). None = `skipToVar` is a plain member variable.
      */
    skipToMembers: Option[IndexedSeq[String]] = None,
    /** Variables under a reluctant (lazy) quantifier (`+?` `*?` `??`
      * `{m,n}?`). In the engine's every-overlap mode all match
      * alternatives emit, so laziness has no effect there; under the
      * one-candidate skip modes it flips the same-start election
      * preference — a reluctant variable's slot prefers FEWER bound
      * events, a greedy one MORE (declaration-order lexicographic,
      * the SQL:2016 preferment approximation).
      */
    reluctantSlots: Set[String] = Set.empty,
    /** ISO SQL:2016 CONTIGUOUS matching: a live partial that neither
      * extends its current element nor binds a later one on an event
      * DIES (and quantifier branches that decline the event die with
      * it), so matched rows are gap-free. The default (false) is the
      * dialect's relaxed skip-till-next-match model. Excludes
      * [[Absence]] elements (no ISO counterpart; enforced by [[Nfa]]).
      */
    strictAll: Boolean = false) {

  /** 64-bit structural fingerprint of the pattern's STATE LAYOUT — the
    * element list (kinds, slot names/order, quantifier bounds) plus,
    * for [[RxElem]], the full compiled automaton tables
    * ([[RxElem.layoutSig]]). Checkpointed streaming state interprets
    * `Partial.stepIdx`/`curCount`/`groups`/`rxCnt` against this layout,
    * so [[Cep.restored]] stores the fingerprint with the state and
    * fails a restore whose compiled layout differs (a new build that
    * changed compilation, or a different query pointed at the same
    * checkpointLocation) instead of silently reinterpreting state ids
    * — the k!-expansion → bitmask rewrite of round 17 is exactly the
    * upgrade class this guards. Behavior-only knobs (predicates, skip
    * modes, `every`, `withinMs`, partial caps) are deliberately
    * EXCLUDED: they change which partials exist, not how state decodes.
    */
  lazy val layoutFp: Long = {
    val sb = new StringBuilder
    def stp(s: Step[E]): Unit =
      sb.append(s.name).append('{').append(s.minCount).append(',')
        .append(s.maxCount).append('}')
    def rx(n: RxNode[E]): Unit = n match {
      case v: RxVar[E] =>
        sb.append("v("); stp(v.step)
        sb.append(v.min).append(',').append(v.max).append(')')
      case s: RxSeq[E] => sb.append("q("); s.items.foreach(rx); sb.append(')')
      case a: RxAlt[E] => sb.append("a("); a.alts.foreach(rx); sb.append(')')
      case r: RxRep[E] =>
        sb.append("r("); rx(r.body)
        sb.append(r.min).append(',').append(r.max).append(')')
      case p: RxPermute[E] =>
        sb.append("p("); p.members.foreach(rx); sb.append(')')
    }
    steps.foreach {
      case s: Step[E] => sb.append("S:"); stp(s)
      case n: NestedGroup[E] =>
        sb.append("N:")
        n.items.foreach {
          case GVar(s) => stp(s)
          case GAlt(l, r) => sb.append("alt("); stp(l); stp(r); sb.append(')')
          case GPerm(ss) => sb.append("perm("); ss.foreach(stp); sb.append(')')
        }
        sb.append('{').append(n.minRepeat).append(',')
          .append(n.maxRepeat).append('}')
      case r: RxElem[E] => sb.append(r.layoutSig)
      case a: Absence[E] => sb.append("!:"); stp(a.step)
    }
    // FNV-1a 64 over the canonical description: stable across JVM runs
    // (no collection hashCode involved), so executors, the driver and a
    // restarted query all agree on the stored value
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < sb.length) { h ^= sb.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }
}

/** A live partial match inside the NFA (also the unit of checkpointed
  * streaming state): index of the element being collected, events
  * collected so far for that element, start timestamp, per-slot event
  * groups, and the event time at which the current element was entered
  * (drives absence windows).
  */
final case class Partial[E](
    stepIdx: Int,
    curCount: Int,
    startTs: Long,
    groups: Vector[Vector[E]],
    elemTs: Long = 0L,
    /** Tie-break of the partial's FIRST bound event — with `startTs`
      * the total-order row identity of the match start (drives the
      * SKIP TO FIRST/LAST <var> survivor test). 0 when the NFA has no
      * `tieOf`. */
    startTie: Long = 0L,
    /** Repeat counters when the current element is an [[RxElem]]
      * (`curCount` then holds the automaton state id); empty
      * otherwise. */
    rxCnt: IndexedSeq[Int] = Vector.empty)

/** A completed match: step name → the events bound to it, in order. */
final case class PatternMatch[E](
    startTs: Long,
    endTs: Long,
    groups: Map[String, IndexedSeq[E]],
    /** The match's 1-based sequential number within its key, stamped
      * by [[Cep.step]] only when numbering is requested
      * (`numberMatches`); 0 otherwise. Under [[Cep.Numbering.BatchOrder]]
      * (SQL:2016 MATCH_NUMBER()) it follows the batch operator's
      * `(match_start, match_end)` order; under [[Cep.Numbering.Arrival]]
      * the order the stream emits matches in. */
    seq: Long = 0L) {
  def head(step: String): E = groups(step).head
  def apply(step: String, i: Int): E = groups(step)(i)
  def get(step: String): IndexedSeq[E] =
    groups.getOrElse(step, IndexedSeq.empty)
}
