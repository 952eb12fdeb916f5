package graft.examples

import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.operators.{Dedup, TextOps}

/** Continuous ingestion composed end-to-end: batch 1 lands and
  * persists its dedup HISTORY ARTIFACTS (content fingerprints, minhash
  * signatures, substring gram fingerprints — bytes, never text); batch
  * 2 arrives later and dedups against history at all three tiers
  * without rescanning batch 1; the kept slice's artifacts append, and
  * the invariant check proves re-running batch 2 against the appended
  * history flags everything as seen. This is the 100 TB daily-crawl
  * shape: history grows by O(new unique content), each increment costs
  * O(batch), and no step ever re-touches old text.
  *
  * Run: `sbt "runMain graft.examples.IncrementalIngestPipeline [sfDir]"`
  */
object IncrementalIngestPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession("ERROR")
    import spark.implicits._

    val docs = Tables.load(spark, sfDir, "documents")
    val batch1 = docs.filter(col("doc_id") % 3 === 0)
    val batch2 = docs.filter(col("doc_id") % 3 =!= 0)
    println(s"STAGE batches         b1=${batch1.count()} " +
      s"b2=${batch2.count()}")

    // day 1: ingest batch 1, persist the three history artifacts
    val histDir = java.nio.file.Files
      .createTempDirectory("graft-hist").toString
    batch1.select(graft.functions.Text.fingerprint(col("text")).as("fp"))
      .distinct().write.mode("overwrite").parquet(s"$histDir/fp")
    Dedup.minhashSignatures(batch1, "text", "doc_id",
        shingleK = 5, numHashes = 8)
      .write.mode("overwrite").parquet(s"$histDir/sig")
    TextOps.substringFingerprints(batch1, "text", k = 8)
      .write.mode("overwrite").parquet(s"$histDir/gram")
    TextOps.lineFingerprints(batch1, "text")
      .write.mode("overwrite").parquet(s"$histDir/line")
    val histBytes = graft.operators.CorpusWriter
      .layoutStats(spark, histDir)
      .agg(sum(col("n_bytes"))).collect()(0).getLong(0)
    println(s"STAGE day1_artifacts  bytes=$histBytes (no text persisted)")

    // day 2: batch 2 dedups against HISTORY at all three tiers
    val exact = Dedup.incrementalExact(batch2,
      spark.read.parquet(s"$histDir/fp"), "text", "doc_id")
    val exactDupes = exact.filter(col("kept") === 0).count()
    val near = Dedup.incrementalMinhash(batch2,
      spark.read.parquet(s"$histDir/sig"), "text", "doc_id",
      shingleK = 5, numHashes = 8, bands = 2, threshold = 0.5,
      maxBucket = 1000)
    val nearDupes = near.filter(col("kept") === 0).count()
    val sub = TextOps.incrementalSubstring(batch2,
      spark.read.parquet(s"$histDir/gram"), "text", "doc_id", k = 8)
    val subDupGrams = sub.agg(sum(col("n_dup_grams")))
      .collect()(0).getLong(0)
    val lines = TextOps.incrementalLineDedup(batch2,
      spark.read.parquet(s"$histDir/line"), "text", "doc_id")
    val droppedLines = lines.agg(sum(col("n_dropped")))
      .collect()(0).getLong(0)
    println(s"STAGE day2_dedup      exact_dupes=$exactDupes " +
      s"near_dupes=$nearDupes substring_dup_grams=$subDupGrams " +
      s"dropped_lines=$droppedLines")

    // the kept slice appends its artifacts (append mode — history only
    // ever grows by new unique content)
    val keptIds = exact.filter(col("kept") === 1)
      .select(col("id").as("doc_id"))
    val kept2 = batch2.join(keptIds, Seq("doc_id"), "left_semi")
    kept2.select(graft.functions.Text.fingerprint(col("text")).as("fp"))
      .distinct().write.mode("append").parquet(s"$histDir/fp")
    TextOps.substringFingerprints(kept2, "text", k = 8)
      .write.mode("append").parquet(s"$histDir/gram")
    // line tier appends the DEDUPED batch text's fingerprints (the
    // surviving lines are what the corpus now contains)
    TextOps.lineFingerprints(
        lines.select(col("id").as("doc_id"),
          col("text_dedup").as("text")), "text")
      .write.mode("append").parquet(s"$histDir/line")
    println(s"STAGE day2_append     kept=${kept2.count()}")

    // invariant: re-running batch 2 against the APPENDED history flags
    // every row as already seen (is_new = 0 for all kept content)
    val rerun = Dedup.incrementalExact(batch2,
      spark.read.parquet(s"$histDir/fp"), "text", "doc_id")
    val stillNew = rerun.filter(col("is_new") === 1).count()
    val subRerun = TextOps.incrementalSubstring(kept2,
      spark.read.parquet(s"$histDir/gram"), "text", "doc_id", k = 8)
    val unflagged = subRerun.filter(col("n_dup_grams") =!= col("n_grams"))
      .count()
    println(s"STAGE invariant       still_new=$stillNew " +
      s"substring_unflagged=$unflagged")
    require(stillNew == 0, s"append invariant broken: $stillNew new")
    require(unflagged == 0, s"substring invariant broken: $unflagged")
    // line-tier invariant: re-running the batch against the appended
    // line history drops every competing line (only sub-minChars
    // structural lines survive)
    val lineRerun = TextOps.incrementalLineDedup(batch2,
      spark.read.parquet(s"$histDir/line"), "text", "doc_id")
    val competing = lineRerun.agg(sum(col("n_dropped")))
      .collect()(0).getLong(0)
    val survivors = TextOps.lineFingerprints(
        lineRerun.select(col("id").as("doc_id"),
          col("text_dedup").as("text")), "text")
      .count()
    println(s"STAGE line_invariant  redropped=$competing " +
      s"surviving_competing_lines=$survivors")
    require(survivors == 0,
      s"line invariant broken: $survivors competing lines survived")

    println("PIPELINE-DONE")
    spark.stop()
  }
}
