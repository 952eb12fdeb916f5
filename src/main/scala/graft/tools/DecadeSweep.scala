package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-suite 10× decade sweep: runs EVERY `SparkEntry.queries` entry
  * at 1× (the given sf dir) and at 10× (the same tables replicated
  * with FK-consistently shifted keys), printing one JSON line per
  * query with both times and the growth ratio. The per-family decade
  * rows in BASELINE.md probe known-heavy chains; this sweep is the
  * net that catches a super-linear grower that never earned its own
  * row.
  *
  * Replication is key-shifted (copy i adds i·10⁹ to every PK/FK),
  * so joins keep resolving and per-key densities stay constant while
  * key cardinalities grow 10× — the decade model behind BASELINE.md's
  * per-family growth rows.
  * Dimension tables (region, nation) are NOT replicated: group-bys
  * over them keep their cardinality, as they would at 100 TB.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_DECADE_DIR=/root/repo/.decade/x10 \
  *   sbt "runMain graft.tools.DecadeSweep"            # all queries
  * Env:
  *   SPARK_GRAFT_CPUS            local cores ([[graft.GraftSession]],
  *     default 4) — match the core count the baseline was swept at
  *   SPARK_GRAFT_COPIES          replication factor (default 10)
  *   SPARK_GRAFT_SWEEP_ONLY      comma-separated query-name filter
  *   SPARK_GRAFT_SWEEP_OUT       also append JSON lines to this file
  *   SPARK_GRAFT_SWEEP_BASELINE  committed prior sweep (JSONL, e.g.
  *     DECADE_r18.jsonl) — regression-gate mode: any query whose
  *     growth ratio worsens by >1.5× vs its baseline row is flagged
  *     ("regressed":true), listed in the final summary line, and
  *     fails the run (exit 1), so a newly super-linear grower is
  *     caught in one run instead of re-adjudicated from scratch.
  *
  * JVM heap: set it on the SBT/JAVA side (e.g. `SBT_OPTS=-Xmx16g`) —
  * a `spark.driver.memory` conf would be a no-op here, since in local
  * mode the driver JVM is already running when the session builds.
  */
object DecadeSweep {
  // (table, columns to shift per copy) — the PK/FK closure of the
  // TESTDATA schema; dims region/nation are copied once, unshifted
  private val shiftCols: Seq[(String, Seq[String])] = Seq(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val Shift = 1000000000L

  def buildReplica(spark: SparkSession, sfDir: String, outDir: String,
      copies: Int): Unit = {
    // the sentinel records WHICH (sfDir, copies) produced the replica:
    // rerunning with different inputs must rebuild, or the sweep would
    // silently reuse a stale replica and report wrong growth ratios
    val done = new java.io.File(s"$outDir/_DECADE_DONE")
    val tag = s"$sfDir|$copies"
    if (done.exists() && scala.util.Try(new String(
        java.nio.file.Files.readAllBytes(done.toPath)).trim)
        .getOrElse("") == tag) return
    shiftCols.foreach { case (t, cols) =>
      val base = spark.read.parquet(s"$sfDir/$t.parquet")
      // the shift assumes every base key is below the per-copy stride;
      // a larger configured dataset would otherwise silently produce
      // colliding keys across copies, corrupting the decade model
      if (cols.nonEmpty) {
        val maxes = base.select(cols.map(c => max(col(c)).as(c)): _*)
          .collect()(0)
        cols.zipWithIndex.foreach { case (c, i) =>
          val m = if (maxes.isNullAt(i)) 0L
            else maxes.get(i) match {
              case l: Long => l
              case n: Number => n.longValue()
            }
          require(m < Shift,
            s"$t.$c max $m >= shift stride $Shift — copies would " +
              "collide; raise the stride for this dataset")
        }
      }
      val out =
        if (cols.isEmpty) base
        else (0 until copies).map { i =>
          cols.foldLeft(base)((d, c) =>
            d.withColumn(c, col(c) + lit(i.toLong * Shift)))
        }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"""{"replicated":"$t","copies":${
        if (cols.isEmpty) 1 else copies}}""")
    }
    done.getParentFile.mkdirs()
    java.nio.file.Files.write(done.toPath,
      (tag + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Parse a prior sweep's JSONL into query -> growth (err rows and
    * non-query lines skipped). Line-oriented regex keeps the tool free
    * of JSON dependencies.
    */
  private def loadBaseline(path: String): Map[String, Double] = {
    val qRe = """"q":"([^"]+)"""".r
    val gRe = """"growth":([0-9.eE+-]+)""".r
    scala.io.Source.fromFile(path).getLines().flatMap { ln =>
      for {
        q <- qRe.findFirstMatchIn(ln).map(_.group(1))
        g <- gRe.findFirstMatchIn(ln).map(_.group(1).toDouble)
      } yield q -> g
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_DECADE_DIR",
      "/root/repo/.decade/x10")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
    // Bench's session: the decade gate times the planner setup it gates
    val spark = graft.GraftSession("ERROR")

    buildReplica(spark, sfDir, outDir, copies)

    val only = sys.env.get("SPARK_GRAFT_SWEEP_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val sink = sys.env.get("SPARK_GRAFT_SWEEP_OUT").map(p =>
      new java.io.FileWriter(p, true))
    val baseline = sys.env.get("SPARK_GRAFT_SWEEP_BASELINE")
      .map(loadBaseline).getOrElse(Map.empty)
    def loadavg: Double =
      scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").getLines()
        .next().split(" ")(0).toDouble).getOrElse(-1.0)

    def time(mk: => DataFrame): Double = {
      val t0 = System.nanoTime()
      mk.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    println(s"""{"sweep_start":true,"n":${names.length},""" +
      s""""copies":$copies,"loadavg":$loadavg,""" +
      s""""baseline_rows":${baseline.size}}""")
    val regressed = Seq.newBuilder[String]
    names.foreach { n =>
      val q = graft.SparkEntry.queries(n)
      try {
        // 1× twice: the first pays per-query codegen/JIT warmup the
        // 10× side would otherwise inherit for free; min() is the
        // honest per-query base
        val w = time(q(spark, sfDir))
        val t1 = math.min(w, time(q(spark, sfDir)))
        val t10 = time(q(spark, outDir))
        val growth = t10 / math.max(t1, 1e-9)
        // regression gate vs the committed baseline: growth RATIO
        // worsening >1.5× is a plan-shape signal (absolute times move
        // with the machine; the ratio is the scale property). Two
        // absolute floors keep the gate meaningful: sub-second queries
        // jitter across the whole sub-2× band run-to-run, and a
        // baseline growth below ~1.7 makes the multiplicative
        // threshold fire inside that noise (the first gated run
        // flagged 15 queries, all directly refuted by their own
        // absolutes) — so a flag additionally requires the new growth
        // itself past 2.5× AND a 10× leg past 1 s.
        val base = baseline.get(n)
        val reg = base.exists(b =>
          growth > b * 1.5 && growth > 2.5 && t10 > 1.0)
        if (reg) regressed += n
        val baseTail = base.map(b =>
          f""","baseline_growth":$b%.2f,"regressed":$reg""")
          .getOrElse("")
        val line = f"""{"q":"$n","sec_1x":$t1%.3f,"sec_10x":$t10%.3f,""" +
          f""""growth":$growth%.2f,"loadavg":$loadavg%.2f""" +
          baseTail + "}"
        println(line)
        sink.foreach { s => s.write(line + "\n"); s.flush() }
      } catch {
        case e: Exception =>
          val line = s"""{"q":"$n","err":"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").take(120)
              .replace('"', '\'').replace('\n', ' ')}"}"""
          println(line)
          sink.foreach { s => s.write(line + "\n"); s.flush() }
      }
    }
    val regs = regressed.result()
    println(s"""{"sweep_end":true,"loadavg":$loadavg,""" +
      s""""regressions":[${regs.map("\"" + _ + "\"").mkString(",")}]}""")
    sink.foreach(_.close())
    spark.stop()
    if (regs.nonEmpty) sys.exit(1)
  }
}
