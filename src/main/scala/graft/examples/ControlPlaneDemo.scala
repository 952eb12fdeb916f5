package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft._
import graft.control._

/** Runnable end-to-end demo of the environment DSL + dynamic control
  * plane (SURVEY §2.C): registers a batch stream, runs a fluent query,
  * then add/disable/enable a SQL plan over a live rate source through
  * JSON control messages — the reference's `experimental/` CEPPipeline
  * shape (CEPPipeline.scala:50-68), driver-managed the Spark way.
  */
object ControlPlaneDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("ERROR")

    val env = GraftCEP(spark)
    env.registerStream("events",
      Tables.load(spark, "/root/testdata/sf0.001", "events"))
    val hi = env.from("events").where(col("value") > 0.9)
      .select(col("event_id"), col("user_id")).insertInto("hi_events")
    println("DSL-OUT rows=" + hi.count())

    spark.readStream.format("rate").option("rowsPerSecond", "50").load()
      .createOrReplaceTempView("live")
    val cp = new ControlPlane(spark, (id: String, df: DataFrame) =>
      Some[StreamingQuery](df.writeStream.format("memory")
        .queryName("out_" + id).outputMode("append").start()))
    cp.handleJsonAcked("""{"type":"add","planId":"alerts","plan":"SELECT value*10 AS v FROM live"}""")
    Thread.sleep(4000)
    println("CONTROL-ADD rows=" + spark.table("out_alerts").count() +
      " active=" + cp.runningQuery("alerts").exists(_.isActive))
    cp.handleJsonAcked("""{"type":"disable","planId":"alerts"}""")
    println("CONTROL-DISABLE running=" + cp.runningQuery("alerts").isDefined)
    cp.handleJsonAcked("""{"type":"enable","planId":"alerts"}""")
    // a rejected event (duplicate add) lands in the same audit log
    cp.handleJsonAcked("""{"type":"add","planId":"alerts","plan":"SELECT 1"}""")
    println("CONTROL-ENABLE active=" + cp.runningQuery("alerts").exists(_.isActive))
    val acks = cp.acks.map(a => s"${a.op}:${a.ok}").mkString(",")
    println("CONTROL-ACKS " + acks)
    require(acks == "add:true,disable:true,enable:true,add:false",
      s"unexpected ack log: $acks")
    cp.shutdown()
    println("DRIVE-DONE")
    spark.stop()
  }
}
