package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.control._

/** One stream event. `ts_us` is event time in microseconds. */
final case class BEvt(event_id: Long, ts_us: Long, user_id: Long,
    event_type: String, value: Double)

/** The stream's events: the sf0.1 `events` table replayed in event-time
  * order, with its recorded make-up (1 500 users, five types, a mean gap
  * of 26 s, no event out of order). The seed picks the row the replay
  * starts at. Past the table's end the replay wraps round to its start,
  * each pass shifted in time past the one before, so event time never
  * goes back. Events are renumbered in arrival order, which is also the
  * tie order within one timestamp.
  */
final class EventReplay(table: Array[BEvt], seed: Long) {
  require(table.nonEmpty, "the events table is empty")
  private val passUs = table.last.ts_us - table.head.ts_us + 86400000000L
  private var at = new java.util.SplittableRandom(seed).nextInt(table.length)
  private var pass = 0L
  private var next = 0L
  var maxTsUs: Long = table(at).ts_us

  def event(): BEvt = {
    val r = table(at)
    val e = BEvt(next, r.ts_us + pass * passUs, r.user_id, r.event_type, r.value)
    next += 1
    at += 1
    if (at == table.length) { at = 0; pass += 1 }
    maxTsUs = e.ts_us
    e
  }

  def feed(n: Int): Array[BEvt] = Array.fill(n)(event())

  /** An event of no pattern's type, `aheadUs` past everything so far: its
    * batch moves the watermark past every earlier event.
    */
  def flush(aheadUs: Long): BEvt = {
    val e = BEvt(next, maxTsUs + aheadUs, 0L, "flush", 0.0)
    next += 1
    maxTsUs = e.ts_us
    e
  }

  /** A click placed a minute behind every event so far, so behind the
    * watermark once those are committed, followed by a purchase of the same
    * user, one the table does not have: the oracle matches the click, the
    * engine drops it.
    */
  def lateClickAndPurchase(): Array[BEvt] = {
    val late = BEvt(next, maxTsUs - 60000000L, -1L, "click", 0.5)
    val buy = BEvt(next + 1, maxTsUs + 1, -1L, "purchase", 0.5)
    next += 2
    maxTsUs = buy.ts_us
    Array(late, buy)
  }
}

object EventReplay {
  /** The `events` table in event-time order. */
  def load(ctx: Ctx): Array[BEvt] = {
    import ctx.spark.implicits._
    ctx.spark.read.parquet(s"${ctx.dataDir}/events.parquet")
      .selectExpr("event_id", "unix_micros(cast(ts AS timestamp)) AS ts_us", "user_id",
        "event_type", "value")
      .orderBy("ts_us", "event_id").as[BEvt].collect()
  }
}

/** The streaming workloads. Events go through a `MemoryStream` in fixed
  * feeds, closed loop: the next feed goes in only after the previous
  * one's results are committed. Plans are added through `ControlPlane`
  * and compiled by `PlanCompiler`.
  */
object Streams {
  val watermarkDelay = "10 seconds"
  val flushAheadUs = 3600L * 1000000L

  /** click -> purchase per user within 10 min: q14/q45's semantics. */
  def clickPurchase(view: String): String =
    s"""pattern:
       |from $view
       |key user_id ; ts ts_us ; tie event_id
       |eventtime etc
       |within 600000000
       |tsscale 1000
       |step a where event_type = 'click'
       |step b where event_type = 'purchase'""".stripMargin

  def viewClick(view: String): String =
    s"""pattern:
       |from $view
       |key user_id ; ts ts_us ; tie event_id
       |eventtime etc
       |within 300000000
       |tsscale 1000
       |step a where event_type = 'view'
       |step b strict where event_type = 'click'""".stripMargin

  def signupPurchase(view: String): String =
    s"""pattern:
       |from $view
       |key user_id ; ts ts_us ; tie event_id
       |eventtime etc
       |within 600000000
       |tsscale 1000
       |step a where event_type = 'signup'
       |step b where event_type = 'purchase'""".stripMargin

  /** A stream, its plan-visible view and the events fed into it. */
  private final class Source(ctx: Ctx, val view: String) {
    implicit val sqlCtx: SQLContext = ctx.spark.sqlContext
    implicit val enc: Encoder[BEvt] = Encoders.product[BEvt]
    val stream: MemoryStream[BEvt] = MemoryStream[BEvt]
    stream.toDS().withColumn("etc", timestamp_micros(col("ts_us")))
      .withWatermark("etc", watermarkDelay)
      .createOrReplaceTempView(view)
  }

  /** The plans' shared harness: a control plane whose sink collects each
    * plan's match rows per batch id (so a re-run batch replaces, never
    * duplicates), and whose compile step is timed.
    */
  private final class Harness(ctx: Ctx) {
    val matches = new ConcurrentHashMap[(String, Long), Array[(Long, Long, Long)]]()
    val compileMs = ArrayBuffer.empty[Double]
    private val starts = new ConcurrentHashMap[String, Integer]()

    /** The main plan resumes from its checkpoint on enable; any other plan
      * starts afresh each time.
      */
    private def sink(id: String, df: DataFrame): Option[StreamingQuery] = {
      val n = starts.merge(id, 1, (a: Integer, b: Integer) => a + b)
      val ckpt = if (id == "main") s"ckpt/$id" else s"ckpt/$id-$n"
      Some(df.selectExpr("cast(key AS long) AS u", "binds['a'] AS a",
          "binds['b'] AS b")
        .writeStream.outputMode("append").queryName(s"${id}_$n")
        .option("checkpointLocation", ctx.work.resolve(ckpt).toString)
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          matches.put((id, batchId), b.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
          ()
        }.start())
    }

    val cp = new ControlPlane(ctx.spark, (text: String) => {
      val t0 = System.nanoTime()
      val df = graft.control.PlanCompiler.compile(ctx.spark, text)
      compileMs.synchronized(compileMs += (System.nanoTime() - t0) / 1e6)
      df
    }, sink _)

    def running(id: String): Option[StreamingQuery] = cp.runningQuery(id)

    /** Wait until every running plan has committed what was fed. */
    def settle(): Unit = cp.planIds.flatMap(running).foreach(_.processAllAvailable())

    def rows(id: String): Seq[(Long, Long, Long)] =
      matches.asScala.toSeq.filter(_._1._1 == id).flatMap(_._2)
  }

  private final case class Feed(n: Int, feedMs: Double, latencyMs: Double)

  /** A feed's span and interval; `steady` for a feed of the steady phase. */
  private final case class Owner(span: Int, startNs: Long, endNs: Long,
      steady: Boolean)

  /** The feed a micro-batch ran within. */
  private def ownerOf(probe: Probe, owners: Seq[Owner],
      p: StreamingQueryProgress): Option[Owner] = {
    val start = probe.msToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val end = start + Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L) * 1000000L
    owners.find(o => start < o.endNs && end > o.startNs - 2000000L)
  }

  private def writeCsv(ctx: Ctx, name: String, header: String,
      lines: Iterator[String]): String = {
    val p = ctx.work.resolve(name).toString
    val w = new BufferedWriter(new FileWriter(p))
    try (Iterator(header) ++ lines).foreach(l => w.write(l + "\n"))
    finally w.close()
    p
  }

  /** Per-layer figures of the streaming layers, from the main plan's
    * micro-batches within the steady feeds: medians per micro-batch, state
    * sizes from the main plan's last batch.
    */
  private def streamLayers(progress: Seq[StreamingQueryProgress],
      last: Option[StreamingQueryProgress], feeds: Int): Map[String, Double] = {
    def dur(k: String) = Main.median(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val ops = progress.map(_.stateOperators.toSeq)
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      Main.median(ops.map(_.map(f).sum.toDouble))
    def atEnd(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      last.map(_.stateOperators.map(f).sum.toDouble).getOrElse(0.0)
    Map(
      "streaming.batches" -> progress.size.toDouble / math.max(1, feeds),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "state.rows_total" -> atEnd(_.numRowsTotal),
      "state.rows_updated" -> st(_.numRowsUpdated),
      "state.rows_removed" -> st(_.numRowsRemoved),
      "state.rows_dropped" -> ops.map(_.map(_.numRowsDroppedByWatermark).sum).sum.toDouble,
      "state.memory_mb" -> atEnd(_.memoryUsedBytes) / 1048576.0,
      "state.update_ms" -> st(_.allUpdatesTimeMs),
      "state.commit_ms" -> st(_.commitTimeMs))
  }

  /** A micro-batch's `durationMs` parts in the order they run. */
  private val phases = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  /** Spans for micro-batches: each batch with its `durationMs` parts as
    * children, parented to the feed (or control op) it ran within.
    */
  private def batchSpans(probe: Probe, progress: Seq[StreamingQueryProgress],
      owners: Seq[Owner]): Unit = if (probe.enabled) {
    progress.foreach { p =>
      val start = probe.msToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val end = start + total * 1000000L
      val parent = ownerOf(probe, owners, p).map(_.span).getOrElse(0)
      val id = probe.span(parent, s"${p.name} batch ${p.batchId}", "batch",
        start, end, Map("rows" -> p.numInputRows.toDouble))
      var at = start
      phases.foreach { k =>
        Option(p.durationMs.get(k)).foreach { v =>
          val d = v.longValue * 1000000L
          probe.span(id, k, "batch-part", at, at + d)
          at += d
        }
      }
    }
  }

  /** The `stream` workload. A click -> purchase plan is added through the
    * control plane during set-up. One round is a steady phase (large
    * feeds into the running plan) and then a control cycle: five control
    * ops, each followed by a small feed. The cycle disables and re-enables
    * the main plan, and adds, updates and removes an auxiliary plan. The
    * main plan's whole output is checked afterwards, which shows that its
    * disable/enable cycles lose and repeat nothing.
    */
  def stream(ctx: Ctx): Outcome = {
    val steadyFeeds = 4
    val steadyFeedSize = 10000
    val cycleFeedSize = 2000
    val warmFeeds = 2
    val gen = new EventReplay(EventReplay.load(ctx), ctx.seed)
    val main = new Source(ctx, "bench_main")
    val aux = new Source(ctx, "bench_aux")
    val h = new Harness(ctx)
    val probe = ctx.probe
    val fedMain = ArrayBuffer.empty[Array[BEvt]]
    val errors = ArrayBuffer.empty[String]
    var attempted = 0L
    final case class Op(kind: String, handleMs: Double, applyMs: Double,
        firstBatchMs: Double)
    val ops = ArrayBuffer.empty[Op]
    val steady = ArrayBuffer.empty[Feed]
    val small = ArrayBuffer.empty[Feed]
    val owners = ArrayBuffer.empty[Owner]
    // the feed handed to the streams but not yet settled:
    // (events, start, addData ms)
    var pending: Option[(Array[BEvt], Long, Double)] = None

    /** Hand the next feed to every stream a plan reads, unless a feed is
      * already pending.
      */
    def handOver(next: => Array[BEvt]): Unit = if (pending.isEmpty) {
      val events = next
      fedMain += events
      val t0 = System.nanoTime()
      main.stream.addData(events.toSeq)
      if (h.cp.planIds.contains("aux")) aux.stream.addData(events.toSeq)
      pending = Some((events, t0, (System.nanoTime() - t0) / 1e6))
    }
    /** Settle the pending feed: every running plan commits it. */
    def settle(label: String, steadyFeed: Boolean = false): Feed = {
      h.settle()
      val (events, s, feedMs) = pending.get
      pending = None
      val t = System.nanoTime()
      attempted += 1
      owners += Owner(probe.span(0, label, "feed", s, t,
        Map("events" -> events.length.toDouble, "add_data_ms" -> feedMs)),
        s, t, steadyFeed)
      Feed(events.length, feedMs, (t - s) / 1e6)
    }
    def feed(events: Array[BEvt], label: String,
        steadyFeed: Boolean = false): Feed = {
      handOver(events); settle(label, steadyFeed)
    }
    def op(e: ControlEvent): Unit = {
      attempted += 1
      val kind = e.getClass.getSimpleName.stripSuffix("Plan").toLowerCase
      val t0 = System.nanoTime()
      val ack = h.cp.handleAcked(e)
      val t1 = System.nanoTime()
      if (!ack.ok) errors += s"$kind ${e.planId}: ${ack.error}"
      // a plan that (re)starts is applied once it completes its first
      // batch, which the next feed brings; a stop is applied on return
      val starts = kind != "disable" && kind != "remove" &&
        h.running(e.planId).isDefined
      val (apply, first) = if (starts) {
        handOver(gen.feed(cycleFeedSize))
        h.running(e.planId).foreach(_.processAllAvailable())
        val t2 = System.nanoTime()
        ((t2 - t0) / 1e6, (t2 - t1) / 1e6)
      } else ((t1 - t0) / 1e6, 0.0)
      probe.span(0, s"$kind ${e.planId}", "control", t0,
        t0 + (apply * 1e6).toLong,
        Map("handle_ms" -> (t1 - t0) / 1e6, "first_batch_ms" -> first))
      ops += Op(kind, (t1 - t0) / 1e6, apply, first)
    }
    val cycle: Seq[() => ControlEvent] = Seq(
      () => DisablePlan("main"),
      () => EnablePlan("main"),
      () => AddPlan("aux", viewClick(aux.view)),
      () => UpdatePlan("aux", signupPurchase(aux.view)),
      () => RemovePlan("aux"))

    attempted += 1
    val add = h.cp.handleAcked(AddPlan("main", clickPurchase(main.view)))
    if (!add.ok) errors += s"add main: ${add.error}"
    (0 until warmFeeds).foreach(i => feed(gen.feed(steadyFeedSize), s"warm $i"))
    owners.clear()
    probe.takeProgress()
    probe.begin(0, "stream")
    val setupS = ctx.uptimeS
    val cpu0 = ctx.cpuS
    val jvm0 = probe.jvmSample()
    val t0 = System.nanoTime()
    val roundS = ArrayBuffer.empty[Double]
    while (roundS.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val r0 = System.nanoTime()
      (0 until steadyFeeds).foreach { i =>
        // the late pair goes first: its click is behind the watermark that
        // everything fed before this feed set
        val events =
          (if (ctx.injectLate && steady.size == 1) gen.lateClickAndPurchase()
           else Array.empty[BEvt]) ++ gen.feed(steadyFeedSize)
        steady += feed(events, s"steady ${steady.size}", steadyFeed = true)
      }
      cycle.foreach { mk =>
        op(mk())
        handOver(gen.feed(cycleFeedSize))
        small += settle(s"cycle ${small.size}")
      }
      roundS += (System.nanoTime() - r0) / 1e9
    }
    val cpuS = ctx.cpuS - cpu0
    val last = h.running("main").flatMap(q => Option(q.lastProgress))
    val jvm1 = probe.jvmSample()
    val exec = Main.execLayers(Seq(probe.end()), roundS.size)
    val progress = probe.takeProgress()
    batchSpans(probe, progress, owners.toSeq)
    // the main plan's batches within the steady feeds: no aux plan, no
    // first batch after a plan start
    val mainSteady = progress.filter(p => p.name.startsWith("main_") &&
      ownerOf(probe, owners.toSeq, p).exists(_.steady))
    // release every pending match: the first flush moves the watermark
    // past all events, the second runs a batch under that watermark
    Seq(flushAheadUs, 2 * flushAheadUs).foreach { ahead =>
      feed(Array(gen.flush(ahead)), "flush")
    }
    val rows = h.rows("main")
    h.cp.shutdown()
    def medianOf(kind: String) =
      Main.median(ops.filter(_.kind == kind).map(_.handleMs).toSeq)
    val layers =
      if (!probe.enabled) Map.empty[String, Double]
      else exec ++ streamLayers(mainSteady, last, steady.size) ++
        Main.jvmLayers(jvm0, jvm1, exec("exec.task_cpu_ms"), roundS.size) ++ Map(
        "streaming.feed_ms" -> Main.median(steady.map(_.feedMs).toSeq),
        "streaming.events_per_s" -> steady.map(_.n).sum /
          steady.map(_.latencyMs / 1e3).sum,
        "streaming.cycle_feed_ms" -> Main.median(small.map(_.latencyMs).toSeq),
        "cep.matches" -> rows.size.toDouble,
        "control.compile_ms" -> Main.median(h.compileMs.toSeq),
        "control.add_ms" -> medianOf("add"),
        "control.update_ms" -> medianOf("update"),
        "control.remove_ms" -> medianOf("remove"),
        "control.disable_ms" -> medianOf("disable"),
        "control.enable_ms" -> medianOf("enable"),
        "control.apply_ms" -> Main.median(ops.map(_.applyMs).toSeq),
        "control.first_batch_ms" ->
          Main.median(ops.filter(_.firstBatchMs > 0).map(_.firstBatchMs).toSeq))
    Outcome(setupS, attempted, errors.size.toLong, errors.toSeq,
      Map("wall_s" -> Main.median(roundS.toSeq),
        "op_gmean_ms" -> Main.gmean(steady.map(_.latencyMs).toSeq),
        "cpu_s" -> cpuS / roundS.size),
      Main.layers(layers),
      Map("kind" -> "stream", "rounds" -> roundS.size,
        "events" -> writeCsv(ctx, "events.csv", "event_id,ts_us,user_id,event_type",
          fedMain.iterator.flatten.map(e =>
            s"${e.event_id},${e.ts_us},${e.user_id},${e.event_type}")),
        "matches" -> writeCsv(ctx, "matches.csv", "user_id,a_id,b_id",
          rows.iterator.map { case (u, a, b) => s"$u,$a,$b" }),
        "oracle_sql" -> graft.SparkEntry.oracleSql("q45_match_recognize")))
  }
}
