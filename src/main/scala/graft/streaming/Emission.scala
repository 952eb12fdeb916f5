package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** Output rate limiting, snapshot output and time triggers — SURVEY B26
  * (`output [first|last|all] every N sec/events`, `output snapshot`) and
  * B28 (`define trigger T at every N sec`). Both are SiddhiQL grammar
  * pass-throughs in the reference (untested there); the Spark-native
  * mappings:
  *
  *  - time-driven emission (`every N sec`) → `Trigger.ProcessingTime`:
  *    the sink fires on a wall-clock cadence, emitting everything that
  *    accumulated since the last tick (`all`), which is Spark's
  *    micro-batch contract;
  *  - `output snapshot every N sec` → Complete output mode on the same
  *    trigger: the full current aggregation state each tick;
  *  - count-driven `first/last every N events` runs inside a `pattern:`
  *    plan's CEP operator ([[graft.control.PlanCompiler]]);
  *  - `define trigger at every N sec` → a tick stream derived from the
  *    rate source. Cron-expression triggers have no Spark source; drive
  *    them externally into the control plane.
  */
object Emission {

  /** B26 `output all every <interval>`: time-rate-limited writer. */
  def rateLimited(df: DataFrame, interval: String): DataStreamWriter[Row] =
    df.writeStream.trigger(Trigger.ProcessingTime(interval))

  /** B26 `output snapshot every <interval>`: the aggregation's full
    * current state at each tick (Complete mode).
    */
  def snapshot(agg: DataFrame, interval: String): DataStreamWriter[Row] =
    agg.writeStream.outputMode(OutputMode.Complete())
      .trigger(Trigger.ProcessingTime(interval))

  /** B28 `define trigger T at every <everySeconds> sec`: a named tick
    * stream — one `(triggered_time)` row per period. `ticksPerSecond`
    * subdivides the rate source for tests; production default 1.
    */
  def triggerStream(spark: SparkSession, everySeconds: Int,
      ticksPerSecond: Int = 1): DataFrame = {
    require(everySeconds >= 1 && ticksPerSecond >= 1)
    spark.readStream.format("rate")
      .option("rowsPerSecond", ticksPerSecond.toString).load()
      .filter(col("value") % (everySeconds.toLong * ticksPerSecond) === 0)
      .select(col("timestamp").as("triggered_time"))
  }

  /** Cron field spec: empty sequence = wildcard (`*`), values = the
    * allowed field set (`0,15,30,45`). Field ranges follow java.time:
    * dayOfWeek 1-7 (Mon-Sun), months 1-12.
    */
  final case class CronSpec(
      seconds: Seq[Int] = Seq(0),
      minutes: Seq[Int] = Nil,
      hours: Seq[Int] = Nil,
      daysOfMonth: Seq[Int] = Nil,
      months: Seq[Int] = Nil,
      daysOfWeek: Seq[Int] = Nil)

  /** The cron match as a Catalyst predicate over a timestamp column —
    * batch-testable, and the building block of [[cronStream]].
    */
  def cronPredicate(ts: Column, spec: CronSpec): Column = {
    def m(field: Column, vals: Seq[Int]): Option[Column] =
      if (vals.isEmpty) None else Some(field.isin(vals.map(Integer.valueOf): _*))
    (m(second(ts), spec.seconds) ++
      m(minute(ts), spec.minutes) ++
      m(hour(ts), spec.hours) ++
      m(dayofmonth(ts), spec.daysOfMonth) ++
      m(month(ts), spec.months) ++
      // weekday() is 0=Monday; +1 = the documented java.time/ISO 1-7
      // Mon-Sun convention (Spark's dayofweek() is 1=SUNDAY — using it
      // here would shift every daysOfWeek spec by one day)
      m(weekday(ts) + 1, spec.daysOfWeek))
      .reduceOption(_ && _).getOrElse(lit(true))
  }

  /** B9/B28 cron trigger (`#window.cron` / `define trigger at <cron>`):
    * one tick per wall-clock instant matching the spec, built from the
    * rate source at 1 row/sec — a second-granularity declarative cron
    * with no driver-side scheduler thread.
    */
  def cronStream(spark: SparkSession, spec: CronSpec): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .filter(cronPredicate(col("timestamp"), spec))
      .select(col("timestamp").as("triggered_time"))
}
