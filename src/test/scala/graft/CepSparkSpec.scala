package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.cep.{Absence, Cep, PatternDef, Step}

case class TEvt(id: Long, ts_ms: Long, user: Long, typ: String)
case class TOut(user: Long, a_id: Long, b_id: Long)
case class SeqOut(user: Long, seq: Long, slot: String, id: Long)

/** Batch and streaming CEP executors must agree (one-kernel parity). */
class CepSparkSpec extends SparkSpec {
  import spark.implicits._

  private val pat = PatternDef[TEvt](IndexedSeq(
    Step[TEvt]("a", _.typ == "A"),
    Step[TEvt]("b", _.typ == "B")),
    withinMs = Some(60000L))

  private val events = Seq(
    TEvt(1, 1000, 1, "A"), TEvt(2, 2000, 1, "C"), TEvt(3, 3000, 1, "B"),
    TEvt(4, 1500, 2, "A"), TEvt(5, 70000, 2, "B"), // outside within
    TEvt(6, 80000, 2, "A"), TEvt(7, 81000, 2, "B"),
    TEvt(8, 5000, 3, "B")) // B with no A

  private val expected = Set(TOut(1, 1, 3), TOut(2, 6, 7))

  test("batch executor matches hand-computed result") {
    val got = Cep.batch[TEvt, Long, TOut](events.toDS(), _.user, pat,
      _.ts_ms, Seq(col("ts_ms"), col("id")), _.id) {
      (k, m) => Iterator.single(TOut(k, m.head("a").id, m.head("b").id))
    }.collect().toSet
    assert(got == expected)
  }

  test("sorted-group batch streams a 10^6-event hot key (bounded memory)") {
    import spark.implicits._
    val n = 1000000L
    // one single key: the skew worst case. flatMapSortedGroups must
    // stream the group from the shuffle — state stays O(live partials).
    val ds = spark.range(n).map { i =>
      TEvt(i, i * 10, 1L, if (i % 2 == 0) "A" else "B")
    }
    val hotPat = PatternDef[TEvt](IndexedSeq(
      Step[TEvt]("a", _.typ == "A"),
      Step[TEvt]("b", _.typ == "B")),
      withinMs = Some(100L))
    val got = Cep.batch[TEvt, Long, TOut](
      ds, _.user, hotPat, _.ts_ms, Seq(col("ts_ms"), col("id"))) {
      (k, m) => Iterator.single(TOut(k, m.head("a").id, m.head("b").id))
    }
    // alternating A,B: every A pairs with the immediately-next B
    assert(got.count() == n / 2)
  }

  test("streaming absence emits at the deadline via event-time timers") {
    implicit val sqlCtx = spark.sqlContext
    val absPat = PatternDef[TEvt](IndexedSeq(
      Step[TEvt]("a", _.typ == "A"),
      Absence(Step[TEvt]("nb", _.typ == "B"), forMs = 10000L)))
    val input = MemoryStream[TEvt]
    val withTs = input.toDS()
      .withColumn("ts", timestamp_millis($"ts_ms"))
      .withWatermark("ts", "2 seconds")
      .as[TEvt]
    val out = Cep.streaming[TEvt, Long, TOut](
      withTs, _.user, absPat, _.ts_ms, _.id) {
      (k, m) => Iterator.single(TOut(k, m.head("a").id, m.endTs))
    }
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("cep_abs")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cep_abs_ck").toString)
      .start()
    try {
      // user 1: A then no B — alert at 1000+10000; user 2: A then B
      // inside the window — suppressed. Intra-batch disorder: user 2's
      // B arrives ahead of both A's
      input.addData(TEvt(3, 4000, 2, "B"), TEvt(1, 1000, 1, "A"),
        TEvt(2, 2000, 2, "A"))
      q.processAllAvailable()
      // watermark far past both deadlines; no further events on key 1 —
      // emission must come from the timer path
      input.addData(TEvt(99, 100000L, 99, "X"))
      q.processAllAvailable()
      input.addData(TEvt(98, 200000L, 98, "X")) // extra trigger for timers
      q.processAllAvailable()
      val got = spark.table("cep_abs").as[TOut].collect().toSet
      assert(got == Set(TOut(1, 1, 11000L)))
    } finally q.stop()
  }

  test("streaming executor in a microsecond event-time domain (tsScale)") {
    implicit val sqlCtx = spark.sqlContext
    // the ts_ms field carries MICROSECONDS here; watermark stays in ms
    val usPat = PatternDef[TEvt](IndexedSeq(
      Step[TEvt]("a", _.typ == "A"),
      Step[TEvt]("b", _.typ == "B")),
      withinMs = Some(60000000L)) // 60 s in µs
    val input = MemoryStream[TEvt]
    val withTs = input.toDS()
      .withColumn("ts", timestamp_micros($"ts_ms"))
      .withWatermark("ts", "1 second")
      .as[TEvt]
    val out = Cep.streaming[TEvt, Long, TOut](
      withTs, _.user, usPat, _.ts_ms, _.id, tsScale = 1000L) {
      (k, m) => Iterator.single(TOut(k, m.head("a").id, m.head("b").id))
    }
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("cep_us")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cep_us_ck").toString)
      .start()
    try {
      input.addData(TEvt(1, 1000000L, 1, "A"), TEvt(2, 2000000L, 1, "B"))
      q.processAllAvailable()
      input.addData(TEvt(99, 10000000000L, 99, "X")) // watermark flush
      q.processAllAvailable()
      val got = spark.table("cep_us").as[TOut].collect().toSet
      assert(got == Set(TOut(1, 1, 2)))
    } finally q.stop()
  }

  test("streaming logical-or pattern agrees with batch") {
    implicit val sqlCtx = spark.sqlContext
    val orPat = PatternDef[TEvt](IndexedSeq(
      Step[TEvt]("s", _.typ == "A"),
      graft.cep.Logical.or(Step[TEvt]("b", _.typ == "B"),
        Step[TEvt]("c", _.typ == "C"))))
    val orEvents = Seq(
      TEvt(1, 1000, 1, "A"), TEvt(2, 2000, 1, "X"), TEvt(3, 3000, 1, "C"),
      TEvt(4, 1000, 2, "A"), TEvt(5, 2500, 2, "B"))
    def outOf(m: graft.cep.PatternMatch[TEvt], k: Long) = TOut(k,
      m.head("s").id, m.get("b").headOption.orElse(m.get("c").headOption).get.id)
    val expectedOr = Cep.batch[TEvt, Long, TOut](orEvents.toDS(), _.user,
      orPat, _.ts_ms, Seq(col("ts_ms"), col("id")), _.id) {
      (k, m) => Iterator.single(outOf(m, k))
    }.collect().toSet
    assert(expectedOr == Set(TOut(1, 1, 3), TOut(2, 4, 5)))

    val input = MemoryStream[TEvt]
    val withTs = input.toDS()
      .withColumn("ts", timestamp_millis($"ts_ms"))
      .withWatermark("ts", "5 seconds")
      .as[TEvt]
    val out = Cep.streaming[TEvt, Long, TOut](
      withTs, _.user, orPat, _.ts_ms, _.id) {
      (k, m) => Iterator.single(outOf(m, k))
    }
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("cep_or")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cep_or_ck").toString)
      .start()
    try {
      input.addData(scala.util.Random.shuffle(orEvents))
      q.processAllAvailable()
      input.addData(TEvt(99, 10000000L, 99, "X"))
      q.processAllAvailable()
      assert(spark.table("cep_or").as[TOut].collect().toSet == expectedOr)
    } finally q.stop()
  }

  test("streaming executor agrees with batch (out-of-order input)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TEvt]
    val withTs = input.toDS()
      .withColumn("ts", timestamp_millis($"ts_ms"))
      .withWatermark("ts", "5 seconds")
      .as[TEvt]
    val out = Cep.streaming[TEvt, Long, TOut](
      withTs, _.user, pat, _.ts_ms, _.id) {
      (k, m) => Iterator.single(TOut(k, m.head("a").id, m.head("b").id))
    }
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("cep_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cep_ck").toString)
      .start()
    try {
      // deliver out-of-order WITHIN the watermark delay (later-than-delay
      // data is late by definition and correctly dropped): chunk by time,
      // shuffle inside each chunk; then a far-future flush event
      val (early, lateChunk) = events.partition(_.ts_ms < 10000)
      input.addData(scala.util.Random.shuffle(early))
      q.processAllAvailable()
      input.addData(scala.util.Random.shuffle(lateChunk))
      q.processAllAvailable()
      input.addData(TEvt(99, 10000000L, 99, "X"))
      q.processAllAvailable()
      val got = spark.table("cep_out").as[TOut].collect().toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("checkpoint restart MID-HOLD (NEXT hold-back + " +
      "MATCH_NUMBER fence populated) replays the identical numbered " +
      "sequence") {
    // r17 VERDICT task 3 — the most state-shape-sensitive path after
    // the round-16 fence fix: `held` (a NEXT-withheld event awaiting
    // its lookahead successor) and `heldMatches` (a completed match
    // the MATCH_NUMBER fence is blocking on that very frontier) are
    // both CepState fields; kill the query while BOTH are populated,
    // restart from the checkpoint, and the restored run must
    // emit exactly what an uninterrupted run emits — numbers included.
    // Fixture = the NfaProps r16 regression shape: p completes first
    // but q's match (sorting FIRST in batch-key order) is still locked
    // inside the hold-back, so releasing anything pre-restart would
    // already be the bug. It runs under both checkpoint managers, each
    // on its own session (CheckpointManagers).
    for (manager <- CheckpointManagers.all)
      withClue(s"${manager.getSimpleName}: ") {
        midHoldRestart(CheckpointManagers.session(spark, manager))
      }
  }

  private def midHoldRestart(
      session: org.apache.spark.sql.SparkSession): Unit = {
    implicit val sqlCtx = session.sqlContext
    import graft.cep.{GAlt, NestedGroup}
    val pat = PatternDef[TEvt](IndexedSeq(
      NestedGroup[TEvt](IndexedSeq(GAlt(Step[TEvt]("p", _.typ == "A"),
        Step[TEvt]("q", _.typ == "B"))), 1, 1)),
      withinMs = Some(50000L), every = true)
    val nb = Cep.Neighborhood[TEvt](0, 1, (e, _, _) => e)
    def build(k: Long, m: graft.cep.PatternMatch[TEvt]) =
      m.groups.iterator.filter(_._2.nonEmpty).map { case (s, evs) =>
        SeqOut(k, m.seq, s, evs.head.id) }
    val feed1 = Seq(TEvt(1, 100000L, 1, "A"), TEvt(2, 100000L, 1, "B"))
    val feed2 = Seq(TEvt(90, 150000L, 9, "X")) // watermark past startTs
    val feed3 = Seq(TEvt(3, 150000L, 1, "C"))  // e2's successor
    val feed4 = Seq(TEvt(91, 10000000L, 9, "X")) // full flush
    def runStages(stages: Seq[(Seq[TEvt], Boolean)]): Seq[SeqOut] = {
      import scala.jdk.CollectionConverters._
      val ck = java.nio.file.Files
        .createTempDirectory("cep_hold_ck").toString
      val input = MemoryStream[TEvt]
      // the memory sink refuses checkpoint recovery; foreachBatch is
      // the recoverable collection path (batch-id keyed so an
      // at-least-once replay of the last batch overwrites, not dupes)
      val sink = new java.util.concurrent.ConcurrentHashMap[
        java.lang.Long, Seq[SeqOut]]()
      def startQuery() = {
        val withTs = input.toDS()
          .withColumn("ts", timestamp_millis($"ts_ms"))
          .withWatermark("ts", "2 seconds")
          .as[TEvt]
        Cep.streaming[TEvt, Long, SeqOut](
          withTs, _.user, pat, _.ts_ms, _.id,
          neighborhood = Some(nb),
          numberMatches = Cep.Numbering.BatchOrder)(build)
          .writeStream
          .option("checkpointLocation", ck)
          .foreachBatch((b: org.apache.spark.sql.Dataset[SeqOut],
              id: Long) => {
            sink.put(id, b.collect().toSeq); ()
          })
          .start()
      }
      var q = startQuery()
      var emittedAtRestart = -1
      try {
        for ((evs, restartAfter) <- stages) {
          input.addData(evs: _*)
          q.processAllAvailable()
          if (restartAfter) {
            emittedAtRestart = sink.values().iterator().asScala
              .map(_.size).sum
            q.stop()
            q = startQuery() // resume from the checkpoint
          }
        }
      } finally q.stop()
      if (emittedAtRestart >= 0)
        assert(emittedAtRestart == 0,
          s"fixture not mid-hold: $emittedAtRestart rows emitted " +
            "before the restart point")
      sink.asScala.toSeq.sortBy(_._1).flatMap(_._2)
    }
    // uninterrupted control run
    val control = runStages(Seq(feed1 -> false, feed2 -> false,
      feed3 -> false, feed4 -> false))
    // the control itself pins the fence semantics: q (held back
    // longest) numbers FIRST, p second
    assert(control.sortBy(_.seq) == Seq(SeqOut(1, 1, "q", 2),
      SeqOut(1, 2, "p", 1)), s"control=$control")
    // kill mid-hold: after feed2 the p-match sits in heldMatches and
    // e2 sits in the NEXT hold-back — nothing may have been emitted
    val restarted = runStages(Seq(feed1 -> false, feed2 -> true,
      feed3 -> false, feed4 -> false))
    assert(restarted.sortBy(_.seq) == control.sortBy(_.seq),
      s"restart diverged: restarted=$restarted control=$control")
    // and a second cut point: restart immediately after the
    // successor feed (heldMatches carries BOTH matches)
    val restarted2 = runStages(Seq(feed1 -> false, feed2 -> false,
      feed3 -> true, feed4 -> false))
    assert(restarted2.sortBy(_.seq) == control.sortBy(_.seq),
      s"restart-2 diverged: restarted=$restarted2 control=$control")
  }

  test("a checkpoint restored under a different compiled-automaton " +
      "layout fails with the layout error instead of reinterpreting " +
      "state ids") {
    // r18 ADVICE: CepState is kryo-encoded, so a checkpoint written
    // under one compiled layout DECODES cleanly under another (same
    // schema version) — the partial's state ids/counters would be
    // silently reinterpreted (closure even normalizes a wrong-length
    // rxCnt to initCnt). The stored PatternDef.layoutFp must fail the
    // restore loudly.
    implicit val sqlCtx = spark.sqlContext
    def pat(bMax: Int) = PatternDef[TEvt](IndexedSeq(
      Step[TEvt]("a", _.typ == "A"),
      Step[TEvt]("b", _.typ == "B", maxCount = bMax)),
      withinMs = Some(50000L))
    def build(k: Long, m: graft.cep.PatternMatch[TEvt]) =
      m.groups.iterator.filter(_._2.nonEmpty).map { case (s, evs) =>
        SeqOut(k, 0L, s, evs.head.id) }
    val ck = java.nio.file.Files
      .createTempDirectory("cep_layout_ck").toString
    val input = MemoryStream[TEvt]
    def startQuery(p: PatternDef[TEvt]) = {
      val withTs = input.toDS()
        .withColumn("ts", timestamp_millis($"ts_ms"))
        .withWatermark("ts", "2 seconds")
        .as[TEvt]
      Cep.streaming[TEvt, Long, SeqOut](
        withTs, _.user, p, _.ts_ms, _.id)(build)
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch((b: org.apache.spark.sql.Dataset[SeqOut],
            _: Long) => { b.collect(); () })
        .start()
    }
    // write state: the 'a' event leaves a live partial for key 1
    val q1 = startQuery(pat(1))
    input.addData(TEvt(1, 100000L, 1, "A"))
    q1.processAllAvailable()
    q1.stop()
    // restart the SAME checkpoint with a structurally different
    // pattern ({1,1} -> {1,2} changes the quantifier layout): the
    // first touch of key 1's state must surface the layout error
    val q2 = startQuery(pat(2))
    input.addData(TEvt(2, 110000L, 1, "B"))
    val ex = intercept[Exception] { q2.processAllAvailable() }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(t => t.getMessage != null &&
        t.getMessage.contains("automaton layout")),
      s"expected the layout-restore error, got:\n$ex")
    q2.stop()
  }

  test("state bytes that do not decode as a CepState fail the restore " +
      "with the fresh-checkpoint error") {
    // the executor's own restore path: stored bytes go through
    // Cep.restoredBytes, whose kryo decode runs inside the guard
    def incompat(bytes: Array[Byte]): Unit = {
      val ex = intercept[IllegalStateException] {
        Cep.restoredBytes[TEvt](0L)(Some(bytes))
      }
      assert(ex.getMessage.contains(
          "incompatible (older) graft CepState schema") &&
        ex.getMessage.contains("fresh checkpointLocation"), ex.getMessage)
    }
    incompat(Array[Byte](1, 2, 3))   // truncated kryo stream
    incompat(Array.fill[Byte](64)(-1))
    // well-formed kryo of a foreign object
    incompat(new org.apache.spark.serializer.KryoSerializer(
      spark.sparkContext.getConf).newInstance()
      .serialize[AnyRef]("not a CepState").array())
    // and the codec round-trips real state through the same path
    val st = Cep.CepState.empty[TEvt].copy(
      buffer = Vector(TEvt(1, 1000, 1, "A")), layoutFp = 7L)
    assert(Cep.restoredBytes[TEvt](7L)(Some(Cep.encodeState(st))) == st)
    assert(Cep.restoredBytes[TEvt](7L)(None) == Cep.CepState.empty[TEvt])
  }
}
