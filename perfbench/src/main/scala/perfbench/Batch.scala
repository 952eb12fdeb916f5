package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry

/** The batch workloads: a fixed slice of `SparkEntry.queries`, run in
  * whole rounds, at least three, until the run's time is up. Each query is built (the
  * `SparkEntry.queries` call) and its result written as parquet under the
  * work directory; `run.py` checks every written result against the
  * stored DuckDB oracle digests.
  */
object Batch {
  /** MATCH_RECOGNIZE and pattern queries: the typed NFA (q14), the custom
    * operator (q45), skip modes, PERMUTE, quantified groups, unmatched
    * rows, SUBSET and navigation.
    */
  val mrSlice: Seq[String] = Seq(
    "q14_pattern_followedby", "q45_match_recognize", "q170_mr_unmatched_rows",
    "q56_mr_skip_past", "q166_mr_permute", "q167_mr_group",
    "q173_mr_subset", "q193_mr_nav_prev_next")

  /** Multi-job LLM-curation queries: ANN (IVF-PQ with re-ranking) and a
    * trigram language model. No MATCH_RECOGNIZE.
    */
  val curationSlice: Seq[String] = Seq("q100_ivf_pq_rerank", "q119_trigram_backoff")

  def oracles: Map[String, String] =
    (mrSlice ++ curationSlice).map(n => n -> SparkEntry.oracleSql(n)).toMap

  /** Rounds every run measures at least: three, so `wall_s` is the median
    * of three and one disturbed round (typically the first, still warming
    * up) does not set it.
    */
  val minRounds = 3

  private final case class Timed(name: String, round: Int, buildS: Double,
      wallS: Double, stats: OpStats)

  def run(ctx: Ctx, slice: Seq[String]): Outcome = {
    val spark = ctx.spark
    val probe = ctx.probe
    // warm the machinery this slice uses: each query once over the head
    // of its tables, so JIT and codegen warm-up go to set-up, not to the
    // timed round
    slice.foreach { name =>
      try SparkEntry.queries(name)(spark, ctx.warmDir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warmup of $name failed: $e") }
    }
    val order = new scala.util.Random(ctx.seed).shuffle(slice)
    val setupS = ctx.uptimeS
    val cpu0 = ctx.cpuS
    val jvm0 = probe.jvmSample()
    val t0 = System.nanoTime()
    val done = ArrayBuffer.empty[Timed]
    val roundS = ArrayBuffer.empty[Double]
    val errors = ArrayBuffer.empty[String]
    var attempted = 0L
    var round = 0
    while (round < minRounds || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val r0 = System.nanoTime()
      order.foreach { name =>
        attempted += 1
        val qSpan = probe.reserve()
        val bSpan = probe.reserve()
        val aSpan = probe.reserve()
        probe.begin(bSpan, "build")
        val q0 = System.nanoTime()
        try {
          val df = SparkEntry.queries(name)(spark, ctx.dataDir)
          val q1 = System.nanoTime()
          probe.setPhase(aSpan, "action")
          df.write.mode("overwrite")
            .parquet(ctx.work.resolve(s"out/r$round/$name").toString)
          val q2 = System.nanoTime()
          val st = probe.end()
          probe.record(qSpan, 0, name, "query", q0, q2,
            Map("round" -> round.toDouble))
          probe.record(bSpan, qSpan, "build", "build", q0, q1)
          probe.record(aSpan, qSpan, "action", "action", q1, q2)
          done += Timed(name, round, (q1 - q0) / 1e9, (q2 - q0) / 1e9, st)
        } catch { case e: Throwable =>
          probe.end()
          errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
      roundS += (System.nanoTime() - r0) / 1e9
      round += 1
    }
    val cpuS = ctx.cpuS - cpu0
    val jvm1 = probe.jvmSample()
    val rounds = round.toDouble
    val stats = done.map(_.stats).toSeq
    def perRound(f: Timed => Double) = done.map(f).sum / rounds
    val exec = Main.execLayers(stats, rounds)
    val layers =
      if (!probe.enabled) Map.empty[String, Double]
      else exec ++ Main.jvmLayers(jvm0, jvm1, exec("exec.task_cpu_ms"), rounds) ++ Map(
        "plans.build_ms" -> perRound(_.buildS * 1e3),
        "plans.mr_matches" -> perRound(_.stats.mrMatches.toDouble),
        "plans.mr_groups" -> perRound(_.stats.mrGroups.toDouble),
        "sched.build_jobs" -> perRound(_.stats.buildJobs.toDouble),
        "sched.job_ms" -> perRound(_.stats.jobUnionMs.toDouble),
        "sched.gap_ms" -> perRound(t =>
          math.max(0.0, (t.wallS - t.buildS) * 1e3 - t.stats.jobUnionMs)))
    Outcome(setupS, attempted, errors.size.toLong, errors.toSeq,
      Map("wall_s" -> Main.median(roundS.toSeq),
        "op_gmean_ms" -> Main.gmean(done.map(_.wallS * 1e3).toSeq),
        "cpu_s" -> cpuS / rounds),
      Main.layers(layers),
      Map("kind" -> "batch", "rounds" -> round,
        "oracle_sql" -> slice.map(n => n -> SparkEntry.oracleSql(n)).toMap,
        "outputs" -> done.map(t => Map("query" -> t.name, "round" -> t.round,
          "path" -> ctx.work.resolve(s"out/r${t.round}/${t.name}").toString)),
        "queries" -> done.map(t => Map("query" -> t.name, "round" -> t.round,
          "build_s" -> t.buildS, "wall_s" -> t.wallS))))
  }
}
