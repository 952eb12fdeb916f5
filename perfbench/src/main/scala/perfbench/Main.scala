package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the run's options and the
  * directories it may write to.
  */
final case class Ctx(spark: SparkSession, probe: Probe, seed: Long,
    seconds: Double, dataDir: String, warmDir: String, work: Path,
    injectLate: Boolean) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM process, in seconds. */
  def cpuS: Double = os.getProcessCpuTime / 1e9
  /** Seconds since the JVM started. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}

/** Where the JVM process's CPU went: the CPU of each of its threads (by
  * thread id, with the native name from `/proc/self/task`), plus the GC
  * pause time the collectors report. Without `/proc` the thread map is
  * empty.
  */
final case class JvmSample(processNs: Long,
    threads: Map[String, (String, Long)], gcPauseMs: Long) {
  /** CPU the threads a name test picks used since `a`. */
  def cpuNsSince(a: JvmSample, pick: String => Boolean): Long =
    threads.iterator.collect { case (tid, (name, ns)) if pick(name) =>
      ns - a.threads.get(tid).map(_._2).getOrElse(0L) }.sum
}

object JvmSample {
  val zero: JvmSample = JvmSample(0L, Map.empty, 0L)
  /** Nanoseconds per clock tick of `/proc/<pid>/stat` (USER_HZ = 100). */
  private val tickNs = 10000000L

  def isJit(name: String): Boolean = name.startsWith("C1 Compiler") ||
    name.startsWith("C2 Compiler") || name.startsWith("Sweeper")
  def isGc(name: String): Boolean =
    name.startsWith("GC Thread") || name.startsWith("G1 ")

  def take(): JvmSample = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles())
      .getOrElse(Array.empty[java.io.File])
    val threads = tasks.flatMap { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")),
          StandardCharsets.UTF_8)
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        // after the name: state, ..., utime (14th field), stime (15th)
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        Some(t.getName -> (name, (f(11).toLong + f(12).toLong) * tickNs))
      } catch { case _: java.io.IOException => None } // the thread ended
    }.toMap
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    JvmSample(os.getProcessCpuTime, threads,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ > 0).sum)
  }
}

/** What a workload hands back; `Main` writes it as `result.json`. */
final case class Outcome(setupS: Double, attempted: Long, failed: Long,
    errors: Seq[String], endToEnd: Map[String, Double],
    layers: Map[String, Double], check: Map[String, Any])

/** The benchmark's JVM side. One invocation runs one workload and writes
  * `result.json` (timings, per-layer figures, what to check) and, in a
  * traced run, `trace.json` into `--work`. `run.py` starts it and does
  * the output checks.
  *
  * With `--mode oracles` it only writes the oracle SQL of every batch
  * query of the benchmark, for the digest command.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    if (opt.getOrElse("mode", "run") == "oracles") {
      write(work.resolve("oracle_sql.json"), Json.render(Batch.oracles))
      return
    }
    val workload = opt("workload")
    val cpus = opt.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = session(cpus, work)
    val probe = new Probe(spark, opt.getOrElse("trace", "0") == "1")
    val ctx = Ctx(spark, probe, opt("seed").toLong,
      opt("seconds").toDouble, opt("data"), opt("warm"), work,
      opt.get("inject-late").contains("1"))
    val out = try workload match {
      case "batch-mr" => Batch.run(ctx, Batch.mrSlice)
      case "batch-curation" => Batch.run(ctx, Batch.curationSlice)
      case "stream" => Streams.stream(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally probe.detach()
    write(work.resolve("result.json"), Json.render(Map(
      "workload" -> workload, "cpus" -> cpus, "setup_s" -> out.setupS,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "errors" -> out.errors, "end_to_end" -> out.endToEnd,
      "layers" -> out.layers, "check" -> out.check)))
    if (probe.enabled) write(work.resolve("trace.json"), probe.traceJson)
    spark.stop()
  }

  /** The planner settings `graft.Bench` and `graft.Verify` share, so the
    * timed path is the oracle-verified path; scratch space stays under
    * the run's work directory.
    */
  def session(cpus: Int, work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def write(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Geometric mean: a typical operation latency that no single slow or
    * fast operation dominates.
    */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Every per-layer figure the benchmark defines; a workload fills the
    * ones its layers produce and the rest read 0.
    */
  val layerNames: Seq[String] = Seq(
    "plans.build_ms", "plans.analysis_ms", "plans.optimization_ms",
    "plans.planning_ms", "plans.rules_ms", "plans.codegen_compiles",
    "plans.codegen_compile_ms",
    "plans.mr_matches", "plans.mr_groups",
    "sched.jobs", "sched.build_jobs", "sched.stages", "sched.tasks",
    "sched.job_ms", "sched.gap_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.input_mb",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.peak_exec_mem_mb",
    "streaming.batches", "streaming.events_per_s", "streaming.feed_ms",
    "streaming.cycle_feed_ms", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.trigger_ms",
    "state.rows_total", "state.rows_updated", "state.rows_removed",
    "state.rows_dropped", "state.memory_mb", "state.update_ms",
    "state.commit_ms", "cep.matches",
    "control.compile_ms", "control.add_ms", "control.update_ms",
    "control.remove_ms", "control.disable_ms", "control.enable_ms",
    "control.apply_ms", "control.first_batch_ms",
    "jvm.jit_cpu_ms", "jvm.gc_cpu_ms", "jvm.gc_pause_ms", "jvm.driver_cpu_ms")

  def layers(filled: Map[String, Double]): Map[String, Double] = {
    val unknown = filled.keySet -- layerNames
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    layerNames.map(n => n -> filled.getOrElse(n, 0.0)).toMap
  }

  /** The split of process CPU over the timed phase, per round: JIT
    * compiler threads, GC threads, and the rest beside the tasks' own CPU
    * (`exec.task_cpu_ms`): the driver side (query building and planning,
    * stream execution threads, listeners) and the VM's other threads.
    */
  def jvmLayers(a: JvmSample, b: JvmSample, taskCpuMs: Double,
      per: Double): Map[String, Double] = {
    val jit = b.cpuNsSince(a, JvmSample.isJit) / 1e6 / per
    val gc = b.cpuNsSince(a, JvmSample.isGc) / 1e6 / per
    val all = (b.processNs - a.processNs) / 1e6 / per
    Map("jvm.jit_cpu_ms" -> jit, "jvm.gc_cpu_ms" -> gc,
      "jvm.gc_pause_ms" -> (b.gcPauseMs - a.gcPauseMs) / per,
      "jvm.driver_cpu_ms" -> (all - jit - gc - taskCpuMs))
  }

  /** Per-layer figures of the execution layer, from summed stats. */
  def execLayers(s: Seq[OpStats], per: Double): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    def sum(f: OpStats => Long) = s.map(f).sum.toDouble / per
    Map(
      "sched.jobs" -> sum(_.jobs), "sched.stages" -> sum(_.stages),
      "sched.tasks" -> sum(_.tasks),
      "exec.task_run_ms" -> sum(_.taskRunMs),
      "exec.task_cpu_ms" -> sum(_.taskCpuNs) / 1e6,
      "exec.gc_ms" -> sum(_.gcMs),
      "exec.input_mb" -> sum(_.inputB) / mb,
      "exec.shuffle_read_mb" -> sum(_.shuffleReadB) / mb,
      "exec.shuffle_write_mb" -> sum(_.shuffleWriteB) / mb,
      "exec.spill_mb" -> sum(_.spillB) / mb,
      "exec.peak_exec_mem_mb" ->
        (if (s.isEmpty) 0.0 else s.map(_.peakExecMemB).max / mb),
      "plans.analysis_ms" -> sum(_.analysisMs),
      "plans.optimization_ms" -> sum(_.optimizationMs),
      "plans.planning_ms" -> sum(_.planningMs),
      "plans.rules_ms" -> sum(_.rulesNs) / 1e6,
      "plans.codegen_compiles" -> sum(_.codegenCompiles),
      "plans.codegen_compile_ms" -> sum(_.codegenNs) / 1e6)
  }
}
