package graft.tools

import org.apache.spark.scheduler._
import graft.{GraftSession, SparkEntry}

/** Per-query job/stage wall-time profile — the measurement half of the
  * optimization loop (guide §1): for each named query it runs the same
  * noop-sink action as Bench under a SparkListener and prints job count,
  * per-job duration, task counts and the gap (driver-side planning /
  * codegen / analysis) between jobs. Ad hoc tool, never run by the driver.
  */
object JobProfile {
  final case class JobRow(id: Int, desc: String, start: Long, end: Long,
      stages: Int, tasks: Int, stageIds: Seq[Int])

  final case class StageRow(runMs: Long, cpuMs: Long, gcMs: Long,
      name: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))
    // ad-hoc conf overrides: SPARK_GRAFT_CONF="k=v;k=v" (malformed
    // entries — e.g. a trailing ';' — are skipped with a warning, not
    // a MatchError)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k, v)
        case _ if kv.trim.isEmpty => ()
        case _ => System.err.println(s"[jobprofile] skipping malformed " +
          s"SPARK_GRAFT_CONF entry: '$kv'")
      }
    })
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => }
    try spark.read.parquet(s"$sfDir/events.parquet").count()
    catch { case _: Throwable => }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRow]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, JobRow(js.jobId, desc, js.time, -1L,
          js.stageInfos.size, js.stageInfos.map(_.numTasks).sum,
          js.stageInfos.map(_.stageId)))
        // deterministic in-process sampling of executor task threads for
        // big single-stage jobs (the per-task fixed-cost investigation)
        if (sys.env.contains("SPARK_GRAFT_STACKS") &&
            js.stageInfos.map(_.numTasks).sum >= 16) {
          val t = new Thread(() => {
            (1 to 3).foreach { i =>
              Thread.sleep(150L * i)
              import scala.jdk.CollectionConverters._
              Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
                if (th.getName.startsWith("Executor task launch") &&
                    st.nonEmpty) {
                  println(s"STACK job=${js.jobId} ${th.getName} " +
                    st.take(14).mkString(" <- "))
                }
              }
            }
          })
          t.setDaemon(true)
          t.start()
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) jobs.put(je.jobId, r.copy(end = je.time))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stages.put(sc.stageInfo.stageId, StageRow(m.executorRunTime,
          m.executorCpuTime / 1000000L, m.jvmGCTime,
          f"deser=${m.executorDeserializeTime / 1e3}%.2f/" +
            f"cpu${m.executorDeserializeCpuTime / 1e9}%.2f " +
            sc.stageInfo.name.take(120)))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val names = if (args.nonEmpty) args.toSeq else Seq("q100_ivf_pq_rerank")
    names.foreach { n =>
      jobs.clear()
      stages.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // let the listener bus drain
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val rows = jobs.values.asScala.toSeq.sortBy(_.start)
      println(f"\n===== $n  wall=$wall%.3f s  jobs=${rows.size} =====")
      var prevEnd = -1L
      rows.foreach { r =>
        val gap = if (prevEnd < 0) 0L else math.max(0L, r.start - prevEnd)
        prevEnd = math.max(prevEnd, r.end)
        val st = r.stageIds.flatMap(id => Option(stages.get(id)))
        val run = st.map(_.runMs).sum
        val cpu = st.map(_.cpuMs).sum
        val gc = st.map(_.gcMs).sum
        val nm = st.map(_.name).headOption.getOrElse("")
        println(f"  job ${r.id}%3d  ${(r.end - r.start) / 1e3}%7.3f s  " +
          f"gap=${gap / 1e3}%6.3f s  stages=${r.stages}%2d tasks=${r.tasks}%4d  " +
          f"run=${run / 1e3}%7.2f cpu=${cpu / 1e3}%7.2f gc=${gc / 1e3}%5.2f  " +
          nm + "  " + r.desc.take(40))
      }
      val jobSum = rows.map(r => (r.end - r.start) / 1e3).sum
      val gapSum = wall - jobSum
      println(f"  job time total=$jobSum%.3f s, non-job (driver) time=$gapSum%.3f s")
    }
    spark.stop()
  }
}
