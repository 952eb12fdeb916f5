package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Emission

case class Ev(id: Long, user: Long)

/** B26 output rate limiting / snapshot and B28 triggers. */
class EmissionSpec extends SparkSpec {
  import spark.implicits._

  test("rateLimited writer runs on a processing-time trigger (B26)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = Emission.rateLimited(input.toDF(), "1 second")
      .format("memory").queryName("rate_out").outputMode("append").start()
    try {
      input.addData(Ev(1, 1), Ev(2, 2))
      q.processAllAvailable()
      assert(spark.table("rate_out").count() == 2)
    } finally q.stop()
  }

  test("snapshot writer emits the full aggregation state each tick (B26)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = input.toDF().groupBy($"user").count()
    val q = Emission.snapshot(agg, "1 second")
      .format("memory").queryName("snap_out").start()
    try {
      input.addData(Ev(1, 1), Ev(2, 1), Ev(3, 2))
      q.processAllAvailable()
      val got = spark.table("snap_out").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L), (2L, 1L)))
    } finally q.stop()
  }

  test("triggerStream is a streaming tick source with one column (B28)") {
    val t = Emission.triggerStream(spark, 5, ticksPerSecond = 10)
    assert(t.isStreaming)
    assert(t.columns.toSeq == Seq("triggered_time"))
  }

  test("cronPredicate matches exactly the specified wall-clock fields") {
    import org.apache.spark.sql.functions._
    // every 15th minute at second 0, 9am-10am only
    val spec = Emission.CronSpec(seconds = Seq(0),
      minutes = Seq(0, 15, 30, 45), hours = Seq(9, 10))
    val ts = Seq(
      "2026-08-12 09:00:00", "2026-08-12 09:15:00", "2026-08-12 10:45:00",
      "2026-08-12 09:15:30", // wrong second
      "2026-08-12 09:20:00", // wrong minute
      "2026-08-12 11:00:00") // wrong hour
      .toDF("s").select(to_timestamp($"s").as("ts"))
    val matched = ts.filter(Emission.cronPredicate($"ts", spec))
      .as[java.sql.Timestamp].collect().map(_.toString).sorted.toSeq
    assert(matched == Seq("2026-08-12 09:00:00.0",
      "2026-08-12 09:15:00.0", "2026-08-12 10:45:00.0"))
  }

  test("cronPredicate daysOfWeek follows the documented ISO 1=Monday") {
    import org.apache.spark.sql.functions._
    // 2026-08-12 = Wednesday (ISO 3); 13th = Thursday, 16th = Sunday.
    // Spark's dayofweek() (1=SUNDAY) here would match the 16th instead.
    val spec = Emission.CronSpec(seconds = Nil, daysOfWeek = Seq(3))
    val ts = Seq("2026-08-12 10:00:00", "2026-08-13 10:00:00",
      "2026-08-16 10:00:00")
      .toDF("s").select(to_timestamp($"s").as("ts"))
    val got = ts.filter(Emission.cronPredicate($"ts", spec))
      .as[java.sql.Timestamp].collect().map(_.toString).toSeq
    assert(got == Seq("2026-08-12 10:00:00.0"))
  }

  test("cronStream is a streaming source built on the cron predicate") {
    val c = Emission.cronStream(spark,
      Emission.CronSpec(seconds = Seq(0), minutes = Seq(0)))
    assert(c.isStreaming && c.columns.toSeq == Seq("triggered_time"))
  }
}
