package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.GraftSession
import graft.control._

/** The reference's production shape end-to-end: a live event stream, a
  * JSON control channel, and CEP pattern plans added/updated at runtime
  * (experimental/src/main/scala/com/github/haoch/experimental/CEPPipeline.scala:50-68
  * wires Kafka→control stream→SiddhiQL alert plans; here the transport
  * is the rate source + an in-memory control feed, the plan dialect is
  * `pattern:`, and queries are driver-managed StreamingQuerys).
  *
  * Run: `sbt "runMain graft.examples.AlertingPipeline"`
  */
object AlertingPipeline {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("ERROR")

    // live stream: rate ticks shaped into typed events with event time.
    // value%5 buckets users; slow ticks (value%3==0) act as "errors".
    spark.readStream.format("rate").option("rowsPerSecond", "100").load()
      .select(col("value").as("id"),
        (col("value") * 20).as("ts_ms"),
        (col("value") % 5).as("user"),
        when(col("value") % 3 === 0, "error").otherwise("ok").as("typ"),
        col("timestamp").as("tsc"))
      .withWatermark("tsc", "1 second")
      .createOrReplaceTempView("live_events")

    val cp = new ControlPlane(spark, (id: String, df: DataFrame) =>
      Some[StreamingQuery](df.writeStream.format("memory")
        .queryName("alerts_" + id).outputMode("append").start()))

    // a CEP plan lands via the JSON control channel, mid-job:
    // two consecutive errors per user within 1s of each other
    cp.handleJson(ControlEvent.toJson(AddPlan("double_error",
      """pattern:
        |from live_events
        |key user ; ts ts_ms ; tie id
        |eventtime tsc
        |within 1000
        |step a where typ = 'error'
        |step b where typ = 'error'""".stripMargin)))

    Thread.sleep(8000)
    val n = spark.table("alerts_double_error").count()
    println(s"ALERTS double_error=$n active=" +
      cp.runningQuery("double_error").exists(_.isActive))

    // hot-swap the plan: widen the window
    cp.handleJson(ControlEvent.toJson(UpdatePlan("double_error",
      """pattern:
        |from live_events
        |key user ; ts ts_ms ; tie id
        |eventtime tsc
        |within 5000
        |step a where typ = 'error'
        |step b where typ = 'error'""".stripMargin)))
    Thread.sleep(4000)
    println("SWAPPED active=" +
      cp.runningQuery("double_error").exists(_.isActive))
    cp.shutdown()

    // batch post-mortem over the same pattern, through the Catalyst
    // MATCH_RECOGNIZE operator (one planned shuffle), enriched with a
    // user dimension maintained as an upsertable event table
    import graft.operators.EventTable
    import graft.plans.MatchRecognize
    import graft.plans.MatchRecognize.EStep
    val history = spark.range(0, 600)
      .select(col("id"), (col("id") * 20).as("ts_ms"),
        (col("id") % 5).as("user"),
        when(col("id") % 3 === 0, "error").otherwise("ok").as("typ"))
    val users = EventTable("user")
    users.upsert(spark.range(0, 5).select(col("id").as("user"),
      concat(lit("tier-"), col("id") % 2).as("tier")), Seq(col("tier")))
    val matches = MatchRecognize(history, Seq("user"), "ts_ms", "id",
        Seq(EStep("a", col("typ") === "error"),
          EStep("b", col("typ") === "error")), withinTs = Some(1000L))
      .select(col("user"), col("match_start"), col("match_end"))
      .join(broadcast(users.toDF), "user")
    println(s"POSTMORTEM matches=${matches.count()} " +
      s"tiers=${matches.select("tier").distinct().count()}")

    println("PIPELINE-DONE")
    spark.stop()
  }
}
