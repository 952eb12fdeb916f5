package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver-generated test tables (TESTDATA.md).
  *
  * Streams in the reference are user-registered named inputs
  * (reference: core/src/main/java/org/apache/flink/streaming/siddhi/SiddhiCEP.java:174-185);
  * here the equivalent registry entry is a named DataFrame per table.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  /** The events table with a µs-epoch `ts_us` BIGINT plus `ts`
    * normalized to a µs TimestampType — whatever physical type the
    * generator wrote: TIMESTAMP(NANOS) (read as long, ÷1000),
    * TIMESTAMP(MICROS) (read as timestamp or ntz). The dispatch is on
    * the READ schema, so a testdata regeneration that flips the parquet
    * type cannot silently break every event query again (round 9:
    * nanos → micros).
    *
    * Writes nothing on the session; `ts_us` reads an NTZ wall clock as
    * UTC whatever the session time zone. NANOS reads as a long only
    * under `parquet.nanosAsLong` ([[GraftSession]] sets it).
    */
  def eventsTsUs(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case LongType =>
        // a BIGINT-read ts is only nanos when the parquet carried a
        // TIMESTAMP(NANOS) logical type under the legacy flag — but a
        // future regeneration could write plain-BIGINT MICROS, which
        // this branch would silently divide by 1000 again. Sanity-check
        // the magnitude against plausible epoch ranges (one tiny
        // column agg on the rare legacy path) and fail LOUDLY on any
        // unrecognized shape instead of shipping shifted timestamps.
        val row = raw.agg(max(abs(col("ts")))).head()
        val m = if (row.isNullAt(0)) 0L else row.getLong(0)
        if (m == 0L || m >= 100000000000000000L) expr("ts div 1000")
        else if (m >= 10000000000000L) col("ts")
        else throw new IllegalStateException(
          s"events.ts read as BIGINT with max |ts| = $m — neither a " +
            "nanosecond (>= 1e17) nor a microsecond (>= 1e13) epoch; " +
            "refusing to guess the unit")
      // the Cast carries its own zone, so the session's never applies
      // (timestampdiff from the epoch gives the same value at ~1.4x
      // the per-row cost)
      case _: TimestampNTZType => unix_micros(GraftSqlBridge.column(Cast(
        GraftSqlBridge.expression(col("ts")), TimestampType, Some("UTC"))))
      case _ => unix_micros(col("ts"))
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Map[String, DataFrame] =
    names.map { n =>
      val df = load(spark, dir, n)
      df.createOrReplaceTempView(n)
      n -> df
    }.toMap
}
