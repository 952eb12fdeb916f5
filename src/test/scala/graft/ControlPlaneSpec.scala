package graft

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.control._

class ControlPlaneSpec extends SparkSpec {

  test("JSON codec round-trips every control event type (A15)") {
    val evs: Seq[ControlEvent] = Seq(
      AddPlan("p1", "SELECT 1 AS x"),
      UpdatePlan("p1", "SELECT 2 AS x"),
      RemovePlan("p1"), EnablePlan("p1"), DisablePlan("p1"))
    evs.foreach { e =>
      assert(ControlEvent.fromJson(ControlEvent.toJson(e)) == Right(e))
    }
    assert(ControlEvent.fromJson("""{"type":"nope"}""").isLeft)
    assert(ControlEvent.fromJson("not even json").isLeft)
    // plan text with quotes/newlines survives
    val tricky = AddPlan("p2", "SELECT \"a\" AS x,\n 1 AS y")
    assert(ControlEvent.fromJson(ControlEvent.toJson(tricky)) == Right(tricky))
  }

  test("dynamic SQL plans can call the engine's registered functions") {
    // extension functions (sketches, hashes) are first-class in the
    // control plane: a runtime-added plan aggregates with graft_hll
    graft.plans.GraftExtensions.registerAll(
      spark.sessionState.functionRegistry)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    input.toDF().toDF("grp", "uid").createOrReplaceTempView("cpx_view")
    val cp = new ControlPlane(spark,
      (id: String, df: DataFrame) => Some[StreamingQuery](
        df.writeStream.format("memory")
          .queryName(s"cpx_$id").outputMode("complete").start()))
    try {
      cp.handle(AddPlan("px",
        "sql: SELECT grp, graft_hll_estimate(graft_hll(uid)) AS est " +
          "FROM cpx_view GROUP BY grp"))
      input.addData((1L to 500L).map(i => ("a", i)))
      cp.runningQuery("px").get.processAllAvailable()
      val est = spark.table("cpx_px").as[(String, Long)].head()._2
      assert(math.abs(est - 500L) < 150L, s"estimate $est")
    } finally cp.shutdown()
  }

  test("plan lifecycle: add/disable/enable/update/remove (§2.C)") {
    spark.readStream.format("rate").option("rowsPerSecond", "5").load()
      .createOrReplaceTempView("rate_view")

    val cp = new ControlPlane(spark,
      (id: String, df: DataFrame) => Some[StreamingQuery](
        df.writeStream.format("memory")
          .queryName(s"cp_$id").outputMode("append").start()))
    try {
      cp.handle(AddPlan("p1", "SELECT value * 2 AS v FROM rate_view"))
      assert(cp.planIds == Seq("p1") && cp.isEnabled("p1"))
      assert(cp.runningQuery("p1").exists(_.isActive))
      intercept[IllegalArgumentException] {
        cp.handle(AddPlan("p1", "SELECT 1"))
      }

      cp.handle(DisablePlan("p1"))
      assert(!cp.isEnabled("p1") && cp.runningQuery("p1").isEmpty)
      cp.handle(DisablePlan("p1")) // idempotent

      cp.handle(EnablePlan("p1"))
      assert(cp.isEnabled("p1") && cp.runningQuery("p1").exists(_.isActive))

      val before = cp.runningQuery("p1").get.id
      cp.handle(UpdatePlan("p1", "SELECT value * 3 AS v FROM rate_view"))
      assert(cp.runningQuery("p1").exists(q => q.isActive && q.id != before))

      // an invalid update must NOT take down the running plan
      intercept[Exception] {
        cp.handle(UpdatePlan("p1", "SELECT FROM no_such_table_xyz"))
      }
      assert(cp.runningQuery("p1").exists(_.isActive),
        "bad update killed the healthy plan")

      cp.handle(RemovePlan("p1"))
      assert(cp.planIds.isEmpty)
      intercept[NoSuchElementException] {
        cp.handle(UpdatePlan("p1", "SELECT 1"))
      }
    } finally cp.shutdown()
  }

  test("dynamic pattern plan: CEP added at runtime over a batch view") {
    import spark.implicits._
    Seq((1L, 10L, 1L, "A"), (2L, 20L, 1L, "C"), (3L, 30L, 1L, "B"),
        (4L, 40L, 2L, "A"), (5L, 50L, 2L, "A"))
      .toDF("id", "ts", "user", "typ").createOrReplaceTempView("cp_events")
    var got: Array[(String, Long, Long)] = Array.empty
    val cp = new ControlPlane(spark, (_: String, df: DataFrame) => {
      got = df.selectExpr("key", "binds['a'] AS a_id", "binds['b'] AS b_id")
        .as[(String, Long, Long)].collect()
      None
    })
    try {
      cp.handle(AddPlan("pat1",
        """pattern:
          |from cp_events
          |key user ; ts ts ; tie id
          |within 100
          |step a where typ = 'A'
          |step b where typ = 'B'""".stripMargin))
      // user 1: A(1) -> B(3); user 2 has no B — no match
      assert(got.toSet == Set(("1", 1L, 3L)))
    } finally cp.shutdown()
  }

  test("dynamic SQL MATCH_RECOGNIZE plan: the full SQL:2016 surface " +
      "through the control plane, no parser extension needed") {
    import spark.implicits._
    Seq((1L, 10L, 1L, "A"), (2L, 20L, 1L, "B"), (3L, 30L, 1L, "A"),
        (4L, 40L, 1L, "C"), (5L, 50L, 1L, "D"))
      .toDF("event_id", "ts_us", "user_id", "event_type")
      .createOrReplaceTempView("cp_mr_events")
    var got: Array[(Long, Int, Long)] = Array.empty
    val cp = new ControlPlane(spark, (_: String, df: DataFrame) => {
      got = df.selectExpr("user_id", "n_a", "d_id")
        .as[(Long, Int, Long)].collect()
      None
    })
    try {
      cp.handle(AddPlan("mrplan",
        """sql: SELECT * FROM cp_mr_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES COUNT(a.*) AS n_a, d.event_id AS d_id
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN ((a (b|c)){2,2} d)
          |  DEFINE a AS event_type = 'A', b AS event_type = 'B',
          |         c AS event_type = 'C', d AS event_type = 'D'
          |)""".stripMargin))
      assert(got.toSet == Set((1L, 2, 5L)))
      // round-15 dialect lifts reach the control plane through the
      // same parser: SKIP TO a SUBSET union + a DEFINE expression
      // aggregate in one dynamic plan
      var got2: Array[(Long, Long)] = Array.empty
      val cp2 = new ControlPlane(spark, (_: String, df: DataFrame) => {
        got2 = df.selectExpr("b_id", "d_id")
          .as[(Long, Long)].collect()
        None
      })
      try {
        cp2.handle(AddPlan("mrplan15",
          """sql: SELECT * FROM cp_mr_events MATCH_RECOGNIZE (
            |  PARTITION BY user_id
            |  ORDER BY ts_us, event_id
            |  MEASURES b.event_id AS b_id, d.event_id AS d_id
            |  AFTER MATCH SKIP TO LAST w
            |  PATTERN (b d)
            |  SUBSET w = (b, d)
            |  DEFINE b AS event_type = 'B',
            |         d AS event_type = 'D'
            |           AND SUM(d.event_id * 1) > 0
            |)""".stripMargin))
        assert(got2.toSet == Set((2L, 5L)))
      } finally cp2.shutdown()
      // round-16 dialect lifts through the same path: navigation from
      // a SUBSET union (merged-last = the current row for member b,
      // so PREV(s.event_id) is the previous input row's id) and an
      // expression argument inside the nested form (NULL lag on the
      // partition's first row coalesces)
      var got3: Array[(Long, Long)] = Array.empty
      val cp3 = new ControlPlane(spark, (_: String, df: DataFrame) => {
        got3 = df.selectExpr("a_id", "b_id")
          .as[(Long, Long)].collect()
        None
      })
      try {
        cp3.handle(AddPlan("mrplan16",
          """sql: SELECT * FROM cp_mr_events MATCH_RECOGNIZE (
            |  PARTITION BY user_id
            |  ORDER BY ts_us, event_id
            |  MEASURES a.event_id AS a_id, b.event_id AS b_id
            |  PATTERN (a b)
            |  SUBSET s = (a, b)
            |  DEFINE a AS event_type = 'A',
            |         b AS event_type = 'B'
            |           AND event_id > PREV(s.event_id)
            |           AND coalesce(PREV(FIRST(a.event_id * 2)), -1)
            |               < 100
            |)""".stripMargin))
        assert(got3.toSet == Set((1L, 2L)))
      } finally cp3.shutdown()
    } finally cp.shutdown()
  }

  test("dynamic SQL plan with MATCH_RECOGNIZE as a table factor: " +
      "GROUP BY over the match relation, no parser extension needed") {
    import spark.implicits._
    Seq((1L, 10L, 1L, "A"), (2L, 20L, 1L, "B"), (3L, 30L, 1L, "A"),
        (4L, 40L, 1L, "B"), (5L, 10L, 2L, "A"), (6L, 20L, 2L, "B"))
      .toDF("event_id", "ts_us", "user_id", "event_type")
      .createOrReplaceTempView("cp_mrf_events")
    var got: Array[(Long, Long)] = Array.empty
    val cp = new ControlPlane(spark, (_: String, df: DataFrame) => {
      got = df.selectExpr("user_id", "n").as[(Long, Long)].collect()
      None
    })
    try {
      cp.handle(AddPlan("mrfactor",
        """sql: SELECT user_id, count(*) AS n
          |FROM cp_mrf_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (a b)
          |  DEFINE a AS event_type = 'A', b AS event_type = 'B'
          |)
          |GROUP BY user_id""".stripMargin))
      assert(got.toSet == Set((1L, 2L), (2L, 1L)))
    } finally cp.shutdown()
  }

  test("dialect: notfor absence and either/or logical plans (B20)") {
    import spark.implicits._
    Seq((1L, 10L, 1L, "C"), (2L, 5000L, 1L, "P"),   // user 1: C then P → no alert
        (3L, 10L, 2L, "C"),                          // user 2: C, no P → alert
        (4L, 10L, 3L, "V"), (5L, 20L, 3L, "E"))      // user 3: V then E
      .toDF("id", "ts", "user", "typ").createOrReplaceTempView("cpl_events")
    var rows: Array[(String, Long)] = Array.empty
    val cp = new ControlPlane(spark, (_: String, df: DataFrame) => {
      rows = df.selectExpr("key", "end_ts").as[(String, Long)].collect()
      None
    })
    try {
      cp.handle(AddPlan("abs1",
        "pattern:\nfrom cpl_events\nkey user ; ts ts ; tie id\n" +
          "step a where typ = 'C'\nnotfor nb 10000 where typ = 'P'"))
      // only user 2's C survives the absence window (deadline 10+10000)
      assert(rows.toSeq == Seq(("2", 10010L)))

      var orRows: Array[(String, Long, Any, Any)] = Array.empty
      val cp2 = new ControlPlane(spark, (_: String, df: DataFrame) => {
        orRows = df.selectExpr("key", "binds['v']", "binds['b']", "binds['c']")
          .collect().map(r => (r.getString(0), r.getLong(1),
            if (r.isNullAt(2)) null else r.getLong(2),
            if (r.isNullAt(3)) null else r.getLong(3)))
        None
      })
      try {
        cp2.handle(AddPlan("or1",
          "pattern:\nfrom cpl_events\nkey user ; ts ts ; tie id\n" +
            "step v where typ = 'V'\n" +
            "either b where typ = 'P'\nor c where typ = 'E'"))
        assert(orRows.toSeq == Seq(("3", 4L, null, 5L)))
      } finally cp2.shutdown()
    } finally cp.shutdown()
  }

  test("pattern clauses survive quoted ';' and newlines in predicates") {
    import spark.implicits._
    Seq((1L, 10L, 1L, "x;y"), (2L, 20L, 1L, "z"))
      .toDF("id", "ts", "user", "typ").createOrReplaceTempView("cpq_events")
    var got: Array[(Long, Long)] = Array.empty
    val cp = new ControlPlane(spark, (_: String, df: DataFrame) => {
      got = df.selectExpr("binds['a'] AS a", "binds['b'] AS b")
        .as[(Long, Long)].collect()
      None
    })
    try {
      cp.handle(AddPlan("q1",
        "pattern:\nfrom cpq_events\nkey user ; ts ts ; tie id\n" +
          "step a where typ = 'x;y'\nstep b where typ = 'z'"))
      assert(got.toSeq == Seq((1L, 2L)))
    } finally cp.shutdown()
  }

  test("dynamic pattern plan over a streaming view (CEP in control plane)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TEvt]
    input.toDS()
      .withColumn("tsc", timestamp_millis($"ts_ms"))
      .withWatermark("tsc", "5 seconds")
      .createOrReplaceTempView("cp_stream")
    val cp = new ControlPlane(spark,
      (id: String, df: DataFrame) => Some(
        df.writeStream.format("memory").queryName(s"cps_$id")
          .outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("cps_ck").toString)
          .start()))
    try {
      cp.handle(AddPlan("sp1",
        "pattern:\nfrom cp_stream\nkey user ; ts ts_ms ; tie id\n" +
          "eventtime tsc\nstep a where typ = 'A'\nstep b where typ = 'B'"))
      input.addData(TEvt(1, 1000, 1, "A"), TEvt(2, 2000, 1, "B"))
      cp.runningQuery("sp1").get.processAllAvailable()
      input.addData(TEvt(9, 100000L, 9, "X")) // advance the watermark
      cp.runningQuery("sp1").get.processAllAvailable()
      val got = spark.table("cps_sp1")
        .selectExpr("key", "binds['a'] AS a_id", "binds['b'] AS b_id")
        .as[(String, Long, Long)].collect().toSet
      assert(got == Set(("1", 1L, 2L)))
    } finally cp.shutdown()
  }

  test("pattern: plans give the same matches over a batch view and a " +
      "watermarked stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val early = Seq( // ts <= 4000, fed in arrival (not ts) order
      TEvt(3, 3000, 1, "B"), TEvt(1, 1000, 1, "A"), TEvt(2, 2000, 1, "A"),
      TEvt(4, 4000, 1, "A"), TEvt(22, 3000, 2, "V"), TEvt(20, 1000, 2, "V"),
      TEvt(21, 2000, 2, "E"), TEvt(23, 3500, 2, "Q"), TEvt(24, 4000, 2, "P"),
      TEvt(30, 1000, 3, "C"), TEvt(41, 2000, 4, "Y"), TEvt(40, 1000, 4, "S"),
      TEvt(42, 3000, 4, "Z"), TEvt(43, 4000, 4, "Y"))
    val late = Seq(
      TEvt(6, 5000, 1, "B"), TEvt(5, 4500, 1, "X"), TEvt(7, 6000, 1, "A"),
      TEvt(8, 6500, 1, "A"), TEvt(9, 7000, 1, "A"), TEvt(10, 7500, 1, "A"),
      TEvt(11, 8000, 1, "B"), TEvt(31, 5000, 3, "P"), TEvt(32, 20000, 3, "C"),
      TEvt(44, 5000, 4, "S"), TEvt(45, 6000, 4, "Z"))
    // far-future ticks on a key no pattern matches: the first moves the
    // watermark past every deadline, the second fires the timers
    val ticks = Seq(TEvt(98, 100000L, 9, "T"), TEvt(99, 200000L, 9, "T"))
    (early ++ late ++ ticks).toDS().createOrReplaceTempView("cpm_batch")
    val input = MemoryStream[TEvt]
    input.toDS()
      .withColumn("tsc", timestamp_millis($"ts_ms"))
      .withWatermark("tsc", "5 seconds")
      .createOrReplaceTempView("cpm_stream")
    val bodies = Seq(
      "either" -> ("step v where typ = 'V'\n" +
        "either b where typ = 'P'\nor c where typ = 'E'"),
      "both" -> ("step s where typ = 'S'\n" +
        "both y where typ = 'Y'\nand z where typ = 'Z'"),
      "notfor" -> "step a where typ = 'C'\nnotfor nb 10000 where typ = 'P'",
      "strict" -> "step a where typ = 'A'\nstep b strict where typ = 'B'",
      "minmax" -> "step a min 2 max 3 where typ = 'A'\nstep b where typ = 'B'",
      "skip" -> ("skippastlast true\n" +
        "step a where typ = 'A'\nstep b where typ = 'B'"))
    def text(view: String, body: String) =
      s"pattern:\nfrom $view\nkey user ; ts ts_ms ; tie id\n" +
        (if (view == "cpm_stream") "eventtime tsc\n" else "") + body
    def rows(df: DataFrame) = df.select("key", "start_ts", "end_ts", "binds")
      .as[(String, Long, Long, Map[String, Long])].collect().toSet
    val queries = bodies.map { case (name, body) =>
      name -> PlanCompiler.compile(spark, text("cpm_stream", body))
        .writeStream.format("memory").queryName(s"cpm_$name")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cpm_ck").toString)
        .start()
    }
    try {
      Seq(early, late, ticks.take(1), ticks.drop(1)).foreach { feed =>
        input.addData(feed)
        queries.foreach(_._2.processAllAvailable())
      }
      bodies.foreach { case (name, body) =>
        val batch = rows(PlanCompiler.compile(spark, text("cpm_batch", body)))
        assert(batch.nonEmpty, s"$name: no batch matches")
        assert(rows(spark.table(s"cpm_$name")) == batch, name)
      }
    } finally queries.foreach(_._2.stop())
  }

  test("re-enabling a streaming pattern plan compiles no new class") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TEvt]
    input.toDS()
      .withColumn("tsc", timestamp_millis($"ts_ms"))
      .withWatermark("tsc", "5 seconds")
      .createOrReplaceTempView("cpc_stream")
    val ck = java.nio.file.Files.createTempDirectory("cpc_ck").toString
    // a memory sink cannot resume from a checkpoint: keep each batch's
    // match count by batch id instead
    val matched = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val cp = new ControlPlane(spark,
      (_: String, df: DataFrame) => Some(
        df.writeStream.outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            matched.put(batchId, b.count()); ()
          }.start()))
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      cp.handle(AddPlan("rc1",
        "pattern:\nfrom cpc_stream\nkey user ; ts ts_ms ; tie id\n" +
          "eventtime tsc\nstep a where typ = 'A'\nstep b where typ = 'B'"))
      input.addData(TEvt(1, 1000, 1, "A"), TEvt(2, 2000, 1, "B"))
      cp.runningQuery("rc1").get.processAllAvailable()
      input.addData(TEvt(9, 100000L, 9, "X")) // advance the watermark
      cp.runningQuery("rc1").get.processAllAvailable()
      // on-time events that leave the watermark where it is: a batch
      // before the disable and one after the enable run the same code
      // (Spark inlines the watermark into its late-row predicate)
      input.addData(TEvt(10, 99000L, 2, "A"))
      cp.runningQuery("rc1").get.processAllAvailable()
      cp.handle(DisablePlan("rc1"))
      val before = compiles
      cp.handle(EnablePlan("rc1"))
      input.addData(TEvt(11, 99500L, 3, "A"))
      cp.runningQuery("rc1").get.processAllAvailable()
      // the restart shares the first start's class loader, so every
      // generated class comes from the codegen cache
      assert(compiles - before == 0,
        s"re-enable compiled ${compiles - before} classes")
      assert(matched.values.stream.mapToLong(_.longValue).sum == 1L)
    } finally cp.shutdown()
  }

  test("a plan whose start throws is left disabled; a retried enable " +
      "starts it") {
    spark.readStream.format("rate").option("rowsPerSecond", "5").load()
      .createOrReplaceTempView("rate_fail")
    var failNext = false
    val cp = new ControlPlane(spark, (id: String, df: DataFrame) => {
      if (failNext) {
        failNext = false
        throw new IllegalStateException("sink refused the start")
      }
      Some[StreamingQuery](df.writeStream.format("memory")
        .queryName(s"cpf_$id").outputMode("append").start())
    })
    try {
      cp.handle(AddPlan("f1", "SELECT value FROM rate_fail"))
      cp.handle(DisablePlan("f1"))
      failNext = true
      assert(!cp.handleAcked(EnablePlan("f1")).ok)
      assert(!cp.isEnabled("f1") && cp.runningQuery("f1").isEmpty)
      assert(cp.handleAcked(EnablePlan("f1")).ok)
      assert(cp.isEnabled("f1") && cp.runningQuery("f1").exists(_.isActive))

      // a failed update has already stopped the old query: the plan must
      // not report it as running, and enable must start the plan again
      val old = cp.runningQuery("f1").get
      failNext = true
      assert(!cp.handleAcked(
        UpdatePlan("f1", "SELECT value * 2 AS value FROM rate_fail")).ok)
      assert(!old.isActive)
      assert(!cp.isEnabled("f1") && cp.runningQuery("f1").isEmpty)
      assert(cp.handleAcked(EnablePlan("f1")).ok)
      assert(cp.runningQuery("f1").exists(q =>
        q.isActive && q.runId != old.runId))
    } finally cp.shutdown()
  }

  test("dynamic SQL MATCH_RECOGNIZE plan over a STREAMING view: the " +
      "control plane hosts the streamingFull dispatch end to end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TEvt]
    input.toDS()
      .withColumn("tsc", timestamp_millis($"ts_ms"))
      .withWatermark("tsc", "5 seconds")
      .createOrReplaceTempView("cp_mr_stream")
    val cp = new ControlPlane(spark,
      (id: String, df: DataFrame) => Some(
        df.writeStream.format("memory").queryName(s"cpmr_$id")
          .outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("cpmr_ck").toString)
          .start()))
    try {
      cp.handle(AddPlan("smr1",
        """sql: SELECT * FROM cp_mr_stream MATCH_RECOGNIZE (
          |  PARTITION BY user
          |  ORDER BY ts_ms, id
          |  MEASURES a.id AS a_id, LAST(b.id) AS b_id, COUNT(b.*) AS n_b
          |  PATTERN (a b+)
          |  WITHIN 60000
          |  EVENTTIME tsc
          |  DEFINE a AS typ = 'A', b AS typ = 'B'
          |)""".stripMargin))
      input.addData(TEvt(1, 1000, 1, "A"), TEvt(2, 2000, 1, "B"),
        TEvt(3, 3000, 1, "B"))
      cp.runningQuery("smr1").get.processAllAvailable()
      input.addData(TEvt(9, 200000L, 9, "X")) // advance the watermark
      cp.runningQuery("smr1").get.processAllAvailable()
      val got = spark.table("cpmr_smr1")
        .selectExpr("user", "a_id", "b_id", "n_b")
        .as[(Long, Long, Long, Int)].collect().toSet
      // a trailing open quantifier emits at its greedy-min completion
      // (the engine-wide convention): one match per seed, b = [2]
      assert(got == Set((1L, 1L, 2L, 1)))
    } finally cp.shutdown()
  }

  test("dialect: output first|last every n rate-limits matches per key") {
    import spark.implicits._
    // user 1 fires the single-step pattern 5 times (ids 1..5); user 2
    // twice (ids 6..7)
    Seq((1L, 10L, 1L, "A"), (2L, 20L, 1L, "A"), (3L, 30L, 1L, "A"),
        (4L, 40L, 1L, "A"), (5L, 50L, 1L, "A"),
        (6L, 10L, 2L, "A"), (7L, 20L, 2L, "A"))
      .toDF("id", "ts", "user", "typ").createOrReplaceTempView("cpo_events")
    var got: Array[(String, Long)] = Array.empty
    val cp = new ControlPlane(spark, (_: String, df: DataFrame) => {
      got = df.selectExpr("key", "binds['a'] AS a_id")
        .as[(String, Long)].collect()
      None
    })
    try {
      cp.handle(AddPlan("rl1",
        "pattern:\nfrom cpo_events\nkey user ; ts ts ; tie id\n" +
          "step a where typ = 'A'\noutput first every 2"))
      // first of each count-pair per key: matches 1, 3, 5 / 6
      assert(got.toSet == Set(("1", 1L), ("1", 3L), ("1", 5L), ("2", 6L)))
      cp.handle(UpdatePlan("rl1",
        "pattern:\nfrom cpo_events\nkey user ; ts ts ; tie id\n" +
          "step a where typ = 'A'\noutput last every 2 events"))
      assert(got.toSet == Set(("1", 2L), ("1", 4L), ("2", 7L)))
      intercept[IllegalArgumentException] {
        cp.handle(UpdatePlan("rl1",
          "pattern:\nfrom cpo_events\nkey user ; ts ts ; tie id\n" +
            "step a where typ = 'A'\noutput all every 2"))
      }
    } finally cp.shutdown()
  }

  test("dialect: skippastlast gives non-overlapping matches") {
    import spark.implicits._
    // user 1: A A B B — default pairs each A with the first B (2
    // matches); skip-past-last consumes both A's on the first B, then
    // the second B has no A left (1 match)
    Seq((1L, 10L, 1L, "A"), (2L, 20L, 1L, "A"),
        (3L, 30L, 1L, "B"), (4L, 40L, 1L, "B"))
      .toDF("id", "ts", "user", "typ").createOrReplaceTempView("cps_events")
    var got: Array[(Long, Long)] = Array.empty
    val cp = new ControlPlane(spark, (_: String, df: DataFrame) => {
      got = df.selectExpr("binds['a'] AS a_id", "binds['b'] AS b_id")
        .as[(Long, Long)].collect()
      None
    })
    try {
      cp.handle(AddPlan("sk0",
        "pattern:\nfrom cps_events\nkey user ; ts ts ; tie id\n" +
          "step a where typ = 'A'\nstep b where typ = 'B'"))
      assert(got.toSet == Set((1L, 3L), (2L, 3L)))
      cp.handle(UpdatePlan("sk0",
        "pattern:\nfrom cps_events\nkey user ; ts ts ; tie id\n" +
          "skippastlast true\n" +
          "step a where typ = 'A'\nstep b where typ = 'B'"))
      assert(got.toSet == Set((1L, 3L)))
    } finally cp.shutdown()
  }

  test("streaming plan: output first every n persists the counter " +
      "across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TEvt]
    input.toDS()
      .withColumn("tsc", timestamp_millis($"ts_ms"))
      .withWatermark("tsc", "5 seconds")
      .createOrReplaceTempView("cpo_stream")
    val cp = new ControlPlane(spark,
      (id: String, df: DataFrame) => Some(
        df.writeStream.format("memory").queryName(s"cpo_$id")
          .outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("cpo_ck").toString)
          .start()))
    try {
      cp.handle(AddPlan("srl1",
        "pattern:\nfrom cpo_stream\nkey user ; ts ts_ms ; tie id\n" +
          "eventtime tsc\nstep a where typ = 'A'\noutput first every 2"))
      input.addData(TEvt(1, 1000, 1, "A"), TEvt(2, 2000, 1, "A"))
      cp.runningQuery("srl1").get.processAllAvailable()
      input.addData(TEvt(3, 3000, 1, "A"), TEvt(9, 100000L, 9, "X"))
      cp.runningQuery("srl1").get.processAllAvailable()
      input.addData(TEvt(10, 200000L, 9, "X")) // flush the tail
      cp.runningQuery("srl1").get.processAllAvailable()
      val got = spark.table("cpo_srl1")
        .selectExpr("key", "binds['a'] AS a_id")
        .as[(String, Long)].collect().toSet
      // counter spans micro-batches: matches 1 and 3 pass, 2 is dropped
      assert(got == Set(("1", 1L), ("1", 3L)))
    } finally cp.shutdown()
  }

  test("streaming plan: output last every 3 keeps its count across " +
      "micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TEvt]
    input.toDS()
      .withColumn("tsc", timestamp_millis($"ts_ms"))
      .withWatermark("tsc", "5 seconds")
      .createOrReplaceTempView("cpo3_stream")
    val q = PlanCompiler.compile(spark,
      "pattern:\nfrom cpo3_stream\nkey user ; ts ts_ms ; tie id\n" +
        "eventtime tsc\nstep a where typ = 'A'\noutput last every 3")
      .writeStream.format("memory").queryName("cpo3_out")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cpo3_ck").toString)
      .start()
    try {
      // matches 1 and 2 release in the first batches: count at 2,
      // nothing out
      input.addData(TEvt(1, 1000, 1, "A"), TEvt(2, 2000, 1, "A"),
        TEvt(8, 10000, 9, "X"))
      q.processAllAvailable()
      // the 3rd match crosses the count-batch line, the 4th does not
      input.addData(TEvt(3, 11000, 1, "A"), TEvt(4, 12000, 1, "A"),
        TEvt(9, 100000L, 9, "X"))
      q.processAllAvailable()
      input.addData(TEvt(10, 200000L, 9, "X")) // flush the tail
      q.processAllAvailable()
      val got = spark.table("cpo3_out")
        .selectExpr("key", "binds['a'] AS a_id")
        .as[(String, Long)].collect().toSet
      assert(got == Set(("1", 3L)))
    } finally q.stop()
  }

  test("a rate-limited streaming plan compiles to one stateful operator " +
      "and leaves the session's settings alone") {
    import spark.implicits._
    val s = spark.newSession()
    implicit val sqlCtx = s.sqlContext
    MemoryStream[TEvt].toDS()
      .withColumn("tsc", timestamp_millis($"ts_ms"))
      .withWatermark("tsc", "5 seconds")
      .createOrReplaceTempView("cpo_one")
    val df = PlanCompiler.compile(s,
      "pattern:\nfrom cpo_one\nkey user ; ts ts_ms ; tie id\n" +
        "eventtime tsc\nstep a where typ = 'A'\noutput first every 2")
    assert(!s.conf.getAll.contains(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"))
    val stateful = df.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical
          .FlatMapGroupsWithState => f
    }
    assert(stateful.size == 1, df.queryExecution.analyzed.treeString)
  }

  test("a checkpoint written without the output clause fails to restore " +
      "under the rate-limited plan with the fresh-checkpoint error") {
    import spark.implicits._
    val s = spark.newSession()
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[TEvt]
    input.toDS()
      .withColumn("tsc", timestamp_millis($"ts_ms"))
      .withWatermark("tsc", "5 seconds")
      .createOrReplaceTempView("cpo_rs")
    val ck = java.nio.file.Files.createTempDirectory("cpo_rs_ck").toString
    val plan = "pattern:\nfrom cpo_rs\nkey user ; ts ts_ms ; tie id\n" +
      "eventtime tsc\nstep a where typ = 'A'"
    def start(text: String) = PlanCompiler.compile(s, text)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch((b: DataFrame, _: Long) => { b.collect(); () })
      .start()
    // key 1's event stays buffered behind the watermark: the state row
    // is written under the unsalted fingerprint
    val q1 = start(plan)
    input.addData(TEvt(1, 1000, 1, "A"))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start(plan + "\noutput first every 2")
    try {
      input.addData(TEvt(2, 2000, 1, "A"))
      val ex = intercept[Exception](q2.processAllAvailable())
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(ex).exists(t => t.getMessage != null &&
          t.getMessage.contains("fresh checkpointLocation")),
        s"expected the fresh-checkpoint restore error, got:\n$ex")
    } finally q2.stop()
  }

  test("JSON control stream drives the plane; poison pills are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.range(3).toDF("x").createOrReplaceTempView("ctrl_src")
    var lastRows = 0L
    val cp = new ControlPlane(spark, (_: String, df: DataFrame) => {
      lastRows = df.count(); None
    })
    val input = MemoryStream[String]
    val channel = cp.attachControlStream(input.toDF())
    try {
      input.addData(
        """{"type":"add","planId":"c1","plan":"SELECT x FROM ctrl_src"}""")
      channel.processAllAvailable()
      assert(cp.planIds == Seq("c1") && lastRows == 3)

      // poison pills: bad JSON, duplicate add, unknown update — channel
      // must survive all three and keep applying later messages
      input.addData("not json at all",
        """{"type":"add","planId":"c1","plan":"SELECT 1"}""",
        """{"type":"update","planId":"nope","plan":"SELECT 1"}""")
      channel.processAllAvailable()
      assert(channel.isActive, "poison pill killed the control channel")

      input.addData("""{"type":"remove","planId":"c1"}""")
      channel.processAllAvailable()
      assert(cp.planIds.isEmpty)
    } finally { channel.stop(); cp.shutdown() }
  }

  test("stream-driven control acks every event, accept and reject") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.range(2).toDF("x").createOrReplaceTempView("ack_src")
    val cp = new ControlPlane(spark, (_: String, df: DataFrame) => {
      df.count(); None
    })
    val heard = scala.collection.mutable.ArrayBuffer[ControlAck]()
    cp.addAckListener(heard += _)
    val input = MemoryStream[String]
    val channel = cp.attachControlStream(input.toDF())
    try {
      input.addData(
        """{"type":"add","planId":"a1","plan":"SELECT x FROM ack_src"}""",
        "not json at all",
        """{"type":"add","planId":"a1","plan":"SELECT 1"}""",
        """{"type":"update","planId":"nope","plan":"SELECT 1"}""",
        """{"type":"remove","planId":"a1"}""")
      channel.processAllAvailable()
      val got = cp.acks
      assert(got.map(_.seq) == (1L to 5L), s"one ack per event: $got")
      assert(got.map(_.ok) == Seq(true, false, false, false, true))
      // accepted ops carry op+planId and an empty error
      assert(got.head == ControlAck(1L, "a1", "add", true, ""))
      assert(got(4) == ControlAck(5L, "a1", "remove", true, ""))
      // rejections say WHY: unparseable JSON has no op/planId; a
      // duplicate add and an unknown update name the offending plan
      assert(got(1).planId == "" && got(1).error.nonEmpty)
      assert(got(2) == ControlAck(3L, "a1", "add", false,
        "requirement failed: plan 'a1' already exists"))
      assert(got(3).planId == "nope" && got(3).op == "update" &&
        got(3).error.contains("not found"))
      // the relation surface mirrors the buffer; listener heard all 5
      val rej = cp.ackLog.filter(!col("ok"))
        .select("seq").as[Long].collect().sorted
      assert(rej.toSeq == Seq(2L, 3L, 4L))
      assert(heard.toSeq == got)
    } finally { channel.stop(); cp.shutdown() }
  }

  test("disable→enable resumes from checkpoint, no loss/duplication (A14)") {
    spark.readStream.format("rate").option("rowsPerSecond", "100").load()
      .selectExpr("value").createOrReplaceTempView("rate_ck")
    val outDir = java.nio.file.Files.createTempDirectory("cp_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("cp_ck").toString
    val cp = new ControlPlane(spark,
      (_: String, df: DataFrame) => Some(
        df.writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckDir)
          .outputMode("append").start()))
    try {
      cp.handle(AddPlan("ck1", "SELECT value FROM rate_ck"))
      waitUntil(() => parquetCount(outDir) > 0)
      cp.handle(DisablePlan("ck1"))
      val afterPause = parquetCount(outDir)
      // resume from the SAME checkpoint: continues at committed offsets
      cp.handle(EnablePlan("ck1"))
      waitUntil(() => parquetCount(outDir) > afterPause)
      cp.handle(DisablePlan("ck1"))
      assertGaplessPrefix(outDir)
    } finally cp.shutdown()
  }

  private def parquetCount(dir: String): Long =
    try spark.read.parquet(dir).count() catch { case _: Throwable => 0L }

  private def waitUntil(cond: () => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (!cond() && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(cond(), "timed out waiting for streaming progress")
  }

  /** The rate source emits 0,1,2,…: an exactly-once resume leaves a
    * gapless, duplicate-free prefix of it in the `value` column.
    */
  private def assertGaplessPrefix(dir: String): Unit = {
    val vals = spark.read.parquet(dir).select("value").collect()
      .map(_.getLong(0)).sorted
    assert(vals.length == vals.distinct.length, "duplicated rows")
    assert(vals.zipWithIndex.forall { case (v, i) => v == i },
      "gap in resumed output")
  }

  test("a control plane's session checkpoints through the FileSystem " +
      "manager, which keeps HDFSMetadataLog's no-overwrite contract") {
    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("cp_fm")
    def manager = CheckpointFileManager.create(
      new Path(dir.toUri), s.sessionState.newHadoopConf())
    assert(manager.isInstanceOf[FileContextBasedCheckpointFileManager])
    val cp = new ControlPlane(s, (_: String, _: DataFrame) => None)
    try {
      val fm = manager
      assert(fm.isInstanceOf[FileSystemBasedCheckpointFileManager],
        fm.getClass.getName)
      def write(name: String, text: String) = {
        val out = fm.createAtomic(new Path(dir.toUri.toString, name),
          overwriteIfPossible = false)
        out.write(text.getBytes("UTF-8"))
        out
      }
      def names = java.nio.file.Files.list(dir).toArray
        .map(_.toString.split('/').last).toSeq.sorted
      write("0", "old").close()
      assert(names == Seq(".0.crc", "0"))
      // a second writer of batch 0 loses: its commit fails and the
      // first writer's bytes stay (Spark's stream, shared by both
      // managers, leaves the loser's temp file behind)
      val dup = write("0", "new")
      intercept[FileAlreadyExistsException](dup.close())
      assert(new String(java.nio.file.Files.readAllBytes(dir.resolve("0")),
        "UTF-8") == "old")
      val beforeCancel = names
      write("1", "cancelled").cancel()
      assert(names == beforeCancel)
    } finally cp.shutdown()
  }

  test("a pattern: plan checkpointed under Spark's default manager " +
      "resumes through the control plane, no loss/duplication") {
    val s = spark.newSession()
    s.readStream.format("rate").option("rowsPerSecond", "100").load()
      .withWatermark("timestamp", "1 second")
      .createOrReplaceTempView("rate_rc")
    // one match per event, so the matched values follow the rate source
    val plan = "pattern:\nfrom rate_rc\n" +
      "key value % 3 ; ts unix_millis(timestamp) ; tie value\n" +
      "eventtime timestamp\nstep a where true"
    val outDir = java.nio.file.Files.createTempDirectory("rc_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("rc_ck").toString
    val sink = (_: String, df: DataFrame) => Some(
      df.select(col("binds")("a").as("value"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .outputMode("append").start())
    assert(CheckpointFileManager.create(new Path(ckDir),
      s.sessionState.newHadoopConf())
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    // the first batches commit under the default manager; the watermark
    // delay keeps the last second of events buffered in the pattern
    // state when this run stops, so a state that does not restore
    // leaves a gap
    val first = sink("rc", PlanCompiler.compile(s, plan)).get
    try waitUntil(() => parquetCount(outDir) > 0) finally first.stop()
    val beforeResume = parquetCount(outDir)
    val cp = new ControlPlane(s, sink)
    try {
      cp.handle(AddPlan("rc", plan))
      waitUntil(() => parquetCount(outDir) > beforeResume)
      cp.handle(DisablePlan("rc"))
      assertGaplessPrefix(outDir)
    } finally cp.shutdown()
  }
}
