package graft

import org.apache.spark.sql.functions._

/** The events-table loader's unit dispatch — the driver regenerated
  * testdata once with a different parquet timestamp physical type
  * (round 9: nanos → micros) and every event query silently depended
  * on the loader getting the unit right.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def writeLongTs(rows: Seq[Long]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-evt").toString
    rows.toDF("ts")
      .withColumn("event_id", monotonically_increasing_id())
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("BIGINT nanos pass the magnitude gate and divide to micros") {
    val ns = 1723600000000000000L // ~2024 in nanoseconds
    val dir = writeLongTs(Seq(ns, ns + 2000L))
    val got = Tables.eventsTsUs(spark, dir)
      .select(col("ts_us")).as[Long].collect().sorted
    assert(got.toSeq == Seq(ns / 1000, ns / 1000 + 2))
  }

  test("BIGINT micros are passed through, NOT divided again") {
    val us = 1723600000000000L // ~2024 in microseconds, plain BIGINT
    val dir = writeLongTs(Seq(us, us + 5L))
    val got = Tables.eventsTsUs(spark, dir)
      .select(col("ts_us")).as[Long].collect().sorted
    assert(got.toSeq == Seq(us, us + 5))
  }

  test("an unrecognized epoch magnitude fails loudly, never guesses") {
    val dir = writeLongTs(Seq(1723600000L)) // seconds epoch
    val e = intercept[IllegalStateException] {
      Tables.eventsTsUs(spark, dir).collect()
    }
    assert(e.getMessage.contains("refusing to guess"))
  }

  test("ts_us does not depend on the session time zone, and the loader " +
      "writes nothing on the session") {
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    la.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    def tsUs(s: org.apache.spark.sql.SparkSession) =
      Tables.eventsTsUs(s, sfDir).select(col("ts_us")).as[Long]
        .collect().sorted.toSeq
    val utc = tsUs(spark)
    assert(utc.nonEmpty)
    assert(tsUs(la) == utc)
    assert(la.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
    assert(la.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
  }

  test("the real testdata still loads with a sane µs epoch") {
    val got = Tables.eventsTsUs(spark, sfDir)
      .agg(min(col("ts_us")), max(col("ts_us")))
      .as[(Long, Long)].head()
    // plausible microsecond epoch range (2000..2100)
    assert(got._1 > 946684800000000L && got._2 < 4102444800000000L)
  }
}
