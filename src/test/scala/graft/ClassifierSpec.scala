package graft

import org.apache.spark.sql.functions._
import graft.operators.Classifier

class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "good clean prose with varied words here", true),
    (2L, "good useful clean text and varied prose", true),
    (3L, "clean good words useful text varied here", true),
    (4L, "spam spam buy now spam buy spam now", false),
    (5L, "buy now spam buy buy now now spam", false),
    (6L, "now buy spam now spam buy now buy", false),
    (7L, "", false),
    (8L, null.asInstanceOf[String], true)
  ).toDF("id", "text", "good")

  test("perceptronTrain reliable checkpointDir matches the default path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-clf-ckpt")
      .toString
    def run(ckpt: Option[String]) =
      Classifier.perceptronTrain(corpus, "text", "id", col("good"),
        buckets = 256, epochs = 3, checkpointDir = ckpt).w.toSeq
    assert(run(Some(dir)) == run(None))
    // the reliable checkpoint actually wrote to the given directory
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, s"no checkpoint data in $dir")
  }

  test("perceptron separates an obviously separable corpus") {
    val m = Classifier.perceptronTrain(corpus, "text", "id", col("good"),
      buckets = 256, epochs = 3)
    val scored = Classifier.perceptronScore(corpus, "text", "id", m)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(1L, 2L, 3L))
      assert(scored(id).getLong(2) > 0, s"doc $id should score positive")
    for (id <- Seq(4L, 5L, 6L))
      assert(scored(id).getLong(2) < 0, s"doc $id should score negative")
    // empty/null text: zero features, zero margin, predicted 0
    for (id <- Seq(7L, 8L)) {
      assert(scored(id).getLong(1) === 0L)
      assert(scored(id).getLong(2) === 0L)
      assert(scored(id).getInt(3) === 0)
    }
  }

  test("trained weights are bit-identical under different partitionings") {
    def weights(parts: Int): Seq[Long] =
      Classifier.perceptronTrain(corpus.repartition(parts), "text", "id",
        col("good"), buckets = 128, epochs = 2).w.toSeq
    assert(weights(1) === weights(7))
  }

  test("frozen scorer margin equals the training-side margin formula") {
    val m = Classifier.perceptronTrain(corpus, "text", "id", col("good"),
      buckets = 64, epochs = 2)
    // recompute margins the slow way: explode buckets, sum w[bucket]
    val wLit = lit(m.w)
    val slow = corpus
      .filter(coalesce(length(trim(col("text"))), lit(0)) > 0)
      .select(col("id"),
        explode(graft.functions.TextKernelExprs.dsirBuckets(
          graft.operators.TextOps.words(col("text")), m.buckets)).as("b"))
      .groupBy("id")
      .agg(sum(element_at(wLit, (col("b") + 1).cast("int"))).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = Classifier.perceptronScore(corpus, "text", "id", m)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    for ((id, mm) <- slow) assert(fast(id) === mm, s"doc $id margin")
    // docs absent from slow (empty text) must be 0 in fast
    assert(fast(7L) === 0L && fast(8L) === 0L)
  }

  test("calibrationReport: confusion identities, monotonicity, t=0 row") {
    val m = Classifier.perceptronTrain(corpus, "text", "id", col("good"),
      buckets = 32, epochs = 2)
    val scored = Classifier.perceptronScore(corpus, "text", "id", m)
    val margins = scored.collect().map(_.getLong(2))
    val thresholds = Seq(margins.min - 1, -1L, 0L, margins.max)
    val rep = Classifier.calibrationReport(corpus, "text", "id",
        col("good"), m, thresholds)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val nPos = corpus.filter(col("good")).count()
    val nAll = corpus.count()
    // row identities: tp+fn = positives, fp+tn = negatives, every row
    rep.foreach { case (_, tp, fp, fn, tn, _, _, _) =>
      assert(tp + fn == nPos && fp + tn == nAll - nPos)
    }
    // below-min threshold: everything predicted positive
    assert(rep.head._2 == nPos && rep.head._3 == nAll - nPos)
    // at-max threshold: nothing predicted positive (margin > max fails)
    assert(rep.last._2 == 0L && rep.last._3 == 0L)
    // predicted-positive count is monotonically non-increasing
    val pp = rep.map(r => r._2 + r._3)
    assert(pp == pp.sorted.reverse)
    // the t=0 row equals perceptronScore's own predicted column
    val predPos = scored.filter(col("predicted") === 1)
      .join(corpus.select(col("id"), col("good")), Seq("id"))
    val t0 = rep.find(_._1 == 0L).get
    assert(t0._2 == predPos.filter(col("good")).count())
    assert(t0._3 == predPos.filter(!col("good")).count())
    // per-mille math: cross-check one row's derived columns
    val r0 = rep.head
    assert(r0._6 == r0._2 * 1000 / math.max(r0._2 + r0._3, 1))
    assert(r0._7 == 1000L) // full recall below the min margin
  }

  test("n_feats is 2n-1 for n tokens") {
    val m = Classifier.perceptronTrain(corpus, "text", "id", col("good"),
      buckets = 32, epochs = 1)
    val nf = Classifier.perceptronScore(corpus, "text", "id", m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nf(1L) === 13L) // 7 tokens -> 7 + 6
    assert(nf(7L) === 0L)
  }

  // the fused one-tokenize-pass entry points must be ROW-IDENTICAL to
  // train-then-score / train-then-report (the r22 optimization's
  // contract: the scorer's margin/n_feats are exact integer re-folds
  // of the materialized training relation)
  test("perceptronTrainScore equals perceptronTrain + perceptronScore") {
    val m = Classifier.perceptronTrain(corpus, "text", "id", col("good"),
      buckets = 64, epochs = 2)
    val ref = Classifier.perceptronScore(corpus, "text", "id", m)
      .collect().map(_.toSeq).toSet
    val fused = Classifier.perceptronTrainScore(corpus, "text", "id",
        col("good"), buckets = 64, epochs = 2)
      .collect().map(_.toSeq).toSet
    assert(fused == ref)
  }

  test("trainCalibrationReport equals perceptronTrain + calibrationReport") {
    val th = Seq(-10L, 0L, 10L)
    val m = Classifier.perceptronTrain(corpus, "text", "id", col("good"),
      buckets = 64, epochs = 2)
    val ref = Classifier.calibrationReport(corpus, "text", "id",
      col("good"), m, th).collect().map(_.toSeq).toSet
    val fused = Classifier.trainCalibrationReport(corpus, "text", "id",
      col("good"), buckets = 64, epochs = 2, thresholds = th)
      .collect().map(_.toSeq).toSet
    assert(fused == ref)
  }

  test("fused entry points reject a duplicated id") {
    val dup = corpus.union(Seq((2L, "another clean text", true),
      (5L, "buy buy", false)).toDF("id", "text", "good"))
    val e = intercept[IllegalArgumentException](
      Classifier.perceptronTrainScore(dup, "text", "id", col("good"),
        buckets = 64))
    assert(e.getMessage.contains("2 duplicated id(s), 0 row(s) with a null id"),
      e.getMessage)
    intercept[IllegalArgumentException](
      Classifier.trainCalibrationReport(dup, "text", "id", col("good"),
        buckets = 64, thresholds = Seq(0L)))
  }

  test("fused entry points reject a null id") {
    val nul = corpus.union(Seq((null.asInstanceOf[java.lang.Long],
      "clean text", true)).toDF("id", "text", "good"))
    val e = intercept[IllegalArgumentException](
      Classifier.trainCalibrationReport(nul, "text", "id", col("good"),
        buckets = 64, thresholds = Seq(0L)))
    assert(e.getMessage.contains("0 duplicated id(s), 1 row(s) with a null id"),
      e.getMessage)
  }
}
