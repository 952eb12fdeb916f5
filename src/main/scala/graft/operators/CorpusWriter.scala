package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The last mile of the pipeline: actually WRITE the corpus layouts
  * that [[TextOps.splitAssign]] and [[TextOps.packSequences]] plan —
  * partitioned parquet with deterministic file routing and in-file
  * ordering, the artifact a training job streams.
  *
  * Scale shape (both writers): ONE shuffle, keyed by the layout's
  * partition unit — `repartition(partition cols)` co-locates each
  * output file's rows in exactly one task, `sortWithinPartitions`
  * orders them with the task-local sorter (spill-capable), and
  * `partitionBy` fans the task's groups into one parquet file per
  * directory. No global sort, no single-task rank bottleneck, no
  * driver materialization — the 100 TB write is the same plan with
  * more executors.
  */
object CorpusWriter {

  /** Materialize [[TextOps.splitAssign]]: `outDir/split=<s>/file_idx=<f>/`
    * holds exactly one parquet file per task-group whose rows are
    * ordered by the decorrelated `shuffle_key` — a deterministic
    * global shuffle of each split, reproducible row-for-row on any
    * cluster. All original columns are kept; `shuffle_key` is written
    * too (provenance + resumable ordering).
    */
  def writeSplits(df: DataFrame, idCol: String, outDir: String,
      splits: Seq[(String, Int)], nFiles: Int = 1): Unit = {
    val plan = TextOps.splitAssign(df, idCol, splits, nFiles)
      .withColumnRenamed("id", "_plan_id")
    df.join(plan, col(idCol).cast("long") === col("_plan_id"))
      .drop("_plan_id")
      .repartition(col("split"), col("file_idx"))
      .sortWithinPartitions(col("split"), col("file_idx"),
        col("shuffle_key"), col(idCol))
      .write.partitionBy("split", "file_idx")
      .mode("overwrite").parquet(outDir)
  }

  /** Materialize [[TextOps.packSequences]]: `outDir/<stratum>=…/shard=<k>/`
    * holds one parquet file whose rows stream in `(pack_id,
    * pack_offset)` order — a sequence-packing consumer reads packs
    * contiguously with zero seeks. Documents keep their columns plus
    * the pack coordinates (`n_tokens`, `pack_id`, `pack_offset`).
    */
  def writePacked(df: DataFrame, textCol: String, idCol: String,
      stratumCol: String, budget: Long, outDir: String,
      shards: Int = 1): Unit = {
    val plan = TextOps.packSequences(df, textCol, idCol, stratumCol,
        budget, shards)
      .select(col("id").as("_plan_id"), col("n_tokens"), col("pack_id"),
        col("pack_offset"))
    df.join(plan, col(idCol).cast("long") === col("_plan_id"))
      .drop("_plan_id")
      // integer shift, not a double divide: FP division is exact only
      // while pack_id < 2^53 (~8192 shards at the full 2^40 pack
      // index); beyond that rows would silently land in the wrong
      // shard directory
      .withColumn("shard", shiftright(col("pack_id"), 40))
      .repartition(col(stratumCol), col("shard"))
      .sortWithinPartitions(col(stratumCol), col("shard"), col("pack_id"),
        col("pack_offset"), col(idCol))
      .write.partitionBy(stratumCol, "shard")
      .mode("overwrite").parquet(outDir)
  }

  /** JSONL export — the interchange format most training stacks
    * ingest: one JSON object per line, one file per (split, file_idx)
    * directory, rows ordered by the decorrelated `shuffle_key` exactly
    * like [[writeSplits]]' parquet form (same plan: one shuffle keyed
    * by the file unit, task-local sort, `partitionBy` fan-out — text
    * sink instead of parquet). Column values serialize via Spark's
    * `to_json` over the full row struct, so nested/array columns
    * survive.
    */
  def writeJsonlSplits(df: DataFrame, idCol: String, outDir: String,
      splits: Seq[(String, Int)], nFiles: Int = 1): Unit = {
    val plan = TextOps.splitAssign(df, idCol, splits, nFiles)
      .withColumnRenamed("id", "_plan_id")
    val joined = df.join(plan, col(idCol).cast("long") === col("_plan_id"))
      .drop("_plan_id")
    val payloadCols = df.columns.map(col)
    joined
      .repartition(col("split"), col("file_idx"))
      .sortWithinPartitions(col("split"), col("file_idx"),
        col("shuffle_key"), col(idCol))
      .select(col("split"), col("file_idx"),
        to_json(struct(payloadCols.toIndexedSeq: _*)).as("value"))
      .write.partitionBy("split", "file_idx")
      .mode("overwrite").text(outDir)
  }

  // ---- atomic publication (round 11): staging + manifest commit ----

  /** Name of the commit marker a published corpus carries: a manifest
    * listing every data file and its byte length, written LAST.
    */
  val ManifestFile = "_GRAFT_MANIFEST"
  private val ManifestHeader = "GRAFT-MANIFEST v1"

  private def fsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
    val rootPath = root.toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def walk(p: org.apache.hadoop.fs.Path): Unit = {
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) walk(st.getPath)
        else if (!n.startsWith("_") && !n.startsWith("."))
          out += ((st.getPath.toUri.getPath.stripPrefix(rootPath)
            .stripPrefix("/"), st.getLen))
      }
    }
    walk(root)
    out.sortBy(_._1).toSeq
  }

  /** Write the commit manifest for `dir`: one `len\trelpath` line per
    * data file (ignoring `_`/`.` bookkeeping files), headed by a
    * version line. Written last, via a single driver-side stream —
    * manifest presence marks the directory COMMITTED.
    */
  def writeManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val files = dataFiles(fs, root)
    val body = (s"$ManifestHeader ${files.length}" +:
      files.map { case (p, len) => s"$len\t$p" }).mkString("\n")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(root, ManifestFile), true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Atomic publication: run `write` against a hidden staging sibling,
    * manifest it, then swap staging into place — a mid-job failure
    * (or a failure during the swap, before the final manifest exists)
    * leaves `outDir` either untouched (previous committed corpus
    * intact) or visibly UNCOMMITTED to [[readCommitted]]; a torn tree
    * is never silently readable. On rename-atomic filesystems
    * (HDFS/POSIX) the swap is two metadata ops; on copy-based object
    * stores the manifest check still gates readers file-by-file, so a
    * half-copied tree is refused rather than half-read.
    */
  def publish(spark: org.apache.spark.sql.SparkSession, outDir: String)(
      write: String => Unit): Unit = {
    val (fs, out) = fsOf(spark, outDir)
    val parent = Option(out.getParent).getOrElse(
      new org.apache.hadoop.fs.Path("/"))
    val staging = new org.apache.hadoop.fs.Path(parent,
      "." + out.getName + ".staging-" + java.util.UUID.randomUUID())
    try {
      write(staging.toString)
      writeManifest(spark, staging.toString)
      // rename the previous corpus ASIDE (not delete) before the swap:
      // if the swap rename fails the old tree is restored, so a failed
      // publish never destroys the previously committed corpus
      val old = new org.apache.hadoop.fs.Path(parent,
        "." + out.getName + ".old-" + java.util.UUID.randomUUID())
      val hadOld = fs.exists(out)
      if (hadOld) require(fs.rename(out, old),
        s"publish: could not move previous corpus aside ($out -> $old)")
      if (!fs.rename(staging, out)) {
        if (hadOld) fs.rename(old, out)
        throw new IllegalStateException(
          s"publish: rename $staging -> $out failed" +
            (if (hadOld) "; previous corpus restored" else ""))
      }
      if (hadOld) fs.delete(old, true)
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
  }

  /** Read a PUBLISHED corpus directory, refusing anything torn: the
    * manifest must exist (else the write never committed) and every
    * listed file must be present with its exact manifested length
    * (else the tree was partially copied or later mutilated).
    * `format` ∈ parquet/text matches the writer used.
    */
  def readCommitted(spark: org.apache.spark.sql.SparkSession,
      dir: String, format: String = "parquet"): DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    val mPath = new org.apache.hadoop.fs.Path(root, ManifestFile)
    if (!fs.exists(mPath))
      throw new IllegalStateException(
        s"readCommitted: $dir has no $ManifestFile — the corpus was " +
          "never committed (torn or in-progress write); refusing to read")
    val in = fs.open(mPath)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n", -1).toSeq
    require(lines.headOption.exists(_.startsWith(ManifestHeader)),
      s"readCommitted: unrecognized manifest header in $dir")
    lines.drop(1).filter(_.nonEmpty).foreach { line =>
      val Array(len, rel) = line.split("\t", 2)
      val p = new org.apache.hadoop.fs.Path(root, rel)
      val ok = fs.exists(p) && fs.getFileStatus(p).getLen == len.toLong
      if (!ok) throw new IllegalStateException(
        s"readCommitted: $dir is torn — manifested file '$rel' " +
          s"(expected $len bytes) is missing or resized; refusing to read")
    }
    format match {
      case "parquet" => spark.read.parquet(dir)
      case "text"    => spark.read.text(dir)
      case other => throw new IllegalArgumentException(
        s"readCommitted: unsupported format '$other'")
    }
  }

  /** [[writeSplits]] under [[publish]] — the form a production corpus
    * release should use.
    */
  def publishSplits(df: DataFrame, idCol: String, outDir: String,
      splits: Seq[(String, Int)], nFiles: Int = 1): Unit =
    publish(df.sparkSession, outDir)(
      writeSplits(df, idCol, _, splits, nFiles))

  /** [[writePacked]] under [[publish]]. */
  def publishPacked(df: DataFrame, textCol: String, idCol: String,
      stratumCol: String, budget: Long, outDir: String,
      shards: Int = 1): Unit =
    publish(df.sparkSession, outDir)(
      writePacked(df, textCol, idCol, stratumCol, budget, _, shards))

  /** [[writeDataCard]] under [[publish]] — a torn data card is as
    * misleading as a torn corpus.
    */
  def publishDataCard(sections: Seq[(String, DataFrame)],
      outDir: String): Unit = {
    require(sections.nonEmpty, "data card needs at least one section")
    publish(sections.head._2.sparkSession, outDir)(
      writeDataCard(sections, _))
  }

  /** The machine-readable DATA CARD that ships with a curated corpus:
    * every audit relation the pipeline produced (domain stats, cluster
    * histograms, per-language fertility, sketch profiles, …)
    * normalized into ONE long-format relation `(section, entity,
    * metric, value)` and written as parquet partitioned by section —
    * the audit-to-artifact last mile. Each section DataFrame
    * contributes: `entity` = its first column as a string key, one row
    * per remaining column with `metric` = the column name and `value`
    * = the value rendered as a string (exact integer text for
    * integrals — downstream diffs two cards textually).
    *
    * Scale shape: the melt is a scan-side explode of column literals;
    * one shuffle keyed by section, task-local sort, one file per
    * section dir (audit relations are aggregate-sized — a section is
    * at most the cardinality of its group-by key).
    */
  /** On-disk layout audit of a written corpus tree: one row per leaf
    * partition directory with its file count and byte size —
    * `(dir, n_files, n_bytes)` — the shard-balance report that catches
    * a skewed writer before a training job reads 1 fat shard at the
    * pace of its slowest task. Uses the Hadoop FileSystem API, so it
    * audits whatever scheme the corpus was written to; listing cost is
    * O(files), driver-side — file counts are writer-scale, not
    * corpus-scale.
    */
  def layoutStats(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame = {
    import scala.collection.mutable
    val path = new org.apache.hadoop.fs.Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = mutable.ArrayBuffer.empty[(String, Long, Long)]
    def walk(p: org.apache.hadoop.fs.Path): Unit = {
      val entries = fs.listStatus(p)
      val (dirs, files) = entries.partition(_.isDirectory)
      val data = files.filterNot(_.getPath.getName.startsWith("_"))
        .filterNot(_.getPath.getName.startsWith("."))
      if (data.nonEmpty)
        rows += ((p.toUri.getPath.stripPrefix(
            path.toUri.getPath).stripPrefix("/"),
          data.length.toLong, data.map(_.getLen).sum))
      dirs.foreach(d => walk(d.getPath))
    }
    walk(path)
    import spark.implicits._
    rows.toSeq.toDF("dir", "n_files", "n_bytes")
  }

  /** Diff two [[writeDataCard]] relations — the corpus-version review
    * artifact: `(section, entity, metric, value_a, value_b, status)`
    * with `status` ∈ changed/added/removed/same (added/removed mean
    * present only in B/only in A). A full-outer join on the card key;
    * cards are aggregate-sized, so this is trivially cheap at any
    * corpus scale.
    */
  def diffDataCards(a: DataFrame, b: DataFrame): DataFrame = {
    val key = Seq("section", "entity", "metric")
    a.select(key.map(col) :+ col("value").as("value_a"): _*)
      .join(b.select(key.map(col) :+ col("value").as("value_b"): _*),
        key, "full_outer")
      .select(col("section"), col("entity"), col("metric"),
        col("value_a"), col("value_b"),
        when(col("value_a").isNull, "added")
          .when(col("value_b").isNull, "removed")
          .when(col("value_a") === col("value_b"), "same")
          .otherwise("changed").as("status"))
  }

  def writeDataCard(sections: Seq[(String, DataFrame)],
      outDir: String): Unit = {
    require(sections.nonEmpty, "data card needs at least one section")
    val long = sections.map { case (name, df) =>
      val cols = df.columns
      require(cols.length >= 2,
        s"section '$name' needs a key column + at least one metric, " +
          s"got ${cols.mkString(",")}")
      df.select(lit(name).as("section"),
          coalesce(col(cols.head).cast("string"), lit("")).as("entity"),
          explode(array(cols.tail.map(c =>
            struct(lit(c).as("m"),
              col(c).cast("string").as("v"))).toIndexedSeq: _*))
            .as("_mv"))
        .select(col("section"), col("entity"),
          col("_mv.m").as("metric"), col("_mv.v").as("value"))
    }.reduce(_ unionByName _)
    long.repartition(col("section"))
      .sortWithinPartitions(col("section"), col("entity"), col("metric"))
      .write.partitionBy("section")
      .mode("overwrite").parquet(outDir)
  }
}
