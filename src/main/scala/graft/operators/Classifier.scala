package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A frozen linear quality classifier over hashed text features — the
  * fastText/CCNet-style "model-based quality filter" a production
  * curation pipeline runs in front of training: label a small seed set
  * (here: any deterministic label column), train a linear model on
  * hashed bag-of-n-gram features, then score the whole corpus with a
  * stateless scan-side projection and keep what the model likes.
  *
  * Training uses the BATCH PERCEPTRON instead of logistic regression on
  * purpose: every quantity in the training loop — feature counts, the
  * per-document margin `Σ_b w_b·c_b`, the epoch gradient
  * `Σ_{misclassified} y_i·x_i` — is a sum of 64-bit integers, so the
  * trained weights are bit-identical under any partitioning, task
  * order, or engine (no float-summation order to pin down, no `exp`
  * whose last ulp differs between libm implementations). The q115
  * oracle replays the full two-epoch training loop in SQL and matches
  * exactly.
  *
  * Feature space: the DSIR space — unigrams + adjacent bigrams, hashed
  * `mix64(polyHash(gram)) >>> 12 mod buckets`
  * ([[graft.functions.TextKernelExprs.dsirBuckets]]), so the classifier
  * shares kernels (and the frozen scorer shares
  * [[graft.functions.TextKernelExprs.dsirScore]] — a weight vector and
  * a log-likelihood-ratio table are both "sum table[bucket] over the
  * document's grams").
  *
  * Shape for 100 TB: training is `epochs` passes over a per-document
  * bucket-count relation that is materialized ONCE (8-byte bucket ids,
  * never feature strings); each epoch is one hash aggregation per side
  * plus a bounded ≤`buckets`-row driver collect — the exact
  * [[TextOps.dsirTrain]] contract. Scoring is one codegen'd expression
  * per document over the scan: no shuffle, no state, stream-safe.
  */
object Classifier {

  /** A trained frozen linear model: dense per-bucket integer weights.
    * Small by construction (≤ `buckets` longs), so it rides into
    * generated code as a reference object like the DSIR model.
    */
  final case class PerceptronModel(buckets: Int, epochs: Int,
      w: Array[Long])

  private def nonEmpty(textCol: String): Column =
    coalesce(length(trim(col(textCol))), lit(0)) > 0

  /** Per-document hashed-feature counts `(id, _y ∈ {+1,−1}, _b, _c)` —
    * the one relation every epoch re-reads.
    */
  private def docCounts(df: DataFrame, textCol: String, idCol: String,
      label: Column, buckets: Int): DataFrame =
    df.filter(nonEmpty(textCol))
      .select(col(idCol).cast("long").as("id"),
        when(label, 1L).otherwise(-1L).as("_y"),
        explode(graft.functions.TextKernelExprs.dsirBuckets(
          TextOps.words(col(textCol)), buckets)).as("_b"))
      .groupBy(col("id"), col("_y"), col("_b"))
      .agg(count(lit(1)).as("_c"))

  /** Train a [[PerceptronModel]] with `epochs` batch-perceptron epochs
    * (w ← w + Σ_{i: y_i·margin_i ≤ 0} y_i·x_i, starting from w = 0 —
    * so epoch 1 always applies the full class-centroid difference).
    *
    * Each epoch: margins via a per-document aggregation (the current
    * weights ride the plan as an array literal, indexed O(1) per
    * feature row), then the gradient via a per-bucket aggregation over
    * the misclassified documents, collected bounded (≤ `buckets` rows).
    * Margins are banked as `decimal(38,0)` (the standardize
    * sum-of-squares pattern): at corpus scale `w_b` is a sum of
    * corpus-wide counts (~1e13+) and `c_b·w_b` summed over a document
    * can pass Long.MaxValue — a silent non-ANSI wrap would flip the
    * misclassification test, so the sum runs exact at 38 digits.
    *
    * Pass `checkpointDir` to materialize the per-document feature
    * relation as a RELIABLE checkpoint (executor-death-safe across the
    * 2·`epochs` reads) instead of `localCheckpoint`; the dir is
    * SparkContext-GLOBAL (bound via the [[Checkpoints]] guard) —
    * concurrent operator calls must pass the same path.
    */
  def perceptronTrain(df: DataFrame, textCol: String, idCol: String,
      label: Column, buckets: Int = 1024,
      epochs: Int = 2, checkpointDir: Option[String] = None): PerceptronModel = {
    require(buckets >= 2 && buckets <= (1 << 24),
      s"buckets must be in [2, 2^24], got $buckets")
    require(epochs >= 1 && epochs <= 64,
      s"epochs must be in [1, 64], got $epochs")
    checkpointDir.foreach(
      Checkpoints.bindDir(df.sparkSession.sparkContext, _))
    val dc0 = docCounts(df, textCol, idCol, label, buckets)
    // read 2× per epoch — materialize once
    val dc = if (checkpointDir.isDefined) dc0.checkpoint()
      else dc0.localCheckpoint()
    PerceptronModel(buckets, epochs, trainOn(dc, buckets, epochs))
  }

  /** The epoch loop over a materialized per-doc feature relation. */
  private def trainOn(dc: DataFrame, buckets: Int,
      epochs: Int): Array[Long] = {
    val w = Array.fill[Long](buckets)(0L)
    for (_ <- 0 until epochs) {
      val wLit = lit(w)
      val margins = dc.groupBy(col("id"), col("_y"))
        .agg(sum(col("_c").cast("decimal(38,0)") *
          element_at(wLit, (col("_b") + 1).cast("int"))).as("_m"))
      val miscl = margins.filter(col("_y") * col("_m") <= 0).select("id")
      val grad = dc.join(miscl, Seq("id"))
        .groupBy(col("_b"))
        .agg(sum(col("_y") * col("_c")).as("_g"))
        .collect()
      grad.foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
    }
    w
  }

  /** Train AND score in ONE tokenize pass (guide §1.2): the
    * materialized per-document feature relation the epochs iterate
    * over already carries everything the frozen scorer emits —
    * `margin = Σ_b c_b·w[b]` (integer adds commute exactly, so the
    * per-bucket total equals [[perceptronScore]]'s per-occurrence
    * scan-side fold bit-for-bit; a LONG fold like the dsirScore
    * kernel, identical wherever either path is defined — decimal(38,0)
    * stays only on the training margins) and
    * `n_feats = Σ_b c_b = 2·|toks|−1` — so the corpus is tokenized
    * once, not twice. Output rows are identical to
    * `perceptronScore(df, …, perceptronTrain(df, …))`. `idCol` must be
    * unique and non-null — rows sharing an id would merge their
    * features into one margin, and a null id would miss the left join
    * and score `(0, 0, 0)` — so a duplicate or null id fails with an
    * IllegalArgumentException before training. Docs with empty/null
    * text score `(0, 0, 0)` via the left join.
    */
  def perceptronTrainScore(df: DataFrame, textCol: String, idCol: String,
      label: Column, buckets: Int = 1024, epochs: Int = 2,
      checkpointDir: Option[String] = None): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 24),
      s"buckets must be in [2, 2^24], got $buckets")
    require(epochs >= 1 && epochs <= 64,
      s"epochs must be in [1, 64], got $epochs")
    requireUniqueIds(df, idCol)
    checkpointDir.foreach(
      Checkpoints.bindDir(df.sparkSession.sparkContext, _))
    val dc0 = docCounts(df, textCol, idCol, label, buckets)
    val dc = if (checkpointDir.isDefined) dc0.checkpoint()
      else dc0.localCheckpoint()
    val w = trainOn(dc, buckets, epochs)
    val wLit = lit(w)
    // LONG arithmetic like the scan-side dsirScore fold it replaces:
    // the per-bucket product is the same repeated 64-bit addition the
    // kernel performs per occurrence, so totals are identical wherever
    // either path is defined (decimal here measured 2× slower at 10×
    // corpus scale — it is the TRAINING margins' overflow guard, not
    // the frozen scorer's contract)
    val perDoc = dc.groupBy(col("id"))
      .agg(sum(col("_c")).as("n_feats"),
        sum(col("_c") *
          element_at(wLit, (col("_b") + 1).cast("int"))).as("margin"))
    df.select(col(idCol).cast("long").as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("margin"), lit(0L)).as("margin"),
        (coalesce(col("margin"), lit(0L)) > 0).cast("int").as("predicted"))
  }

  /** Fails unless `idCol` (as the scorer's long join key) is unique
    * and non-null, naming how many ids repeat and how many are null.
    * One aggregation over the id column. */
  private def requireUniqueIds(df: DataFrame, idCol: String): Unit = {
    val r = df.groupBy(col(idCol).cast("long").as("id"))
      .agg(count(lit(1)).as("_n"))
      .agg(count(when(col("id").isNotNull && col("_n") > 1, lit(1))),
        coalesce(sum(when(col("id").isNull, col("_n"))), lit(0L)))
      .head()
    val (dups, nulls) = (r.getLong(0), r.getLong(1))
    require(dups == 0 && nulls == 0,
      s"idCol '$idCol' must be unique and non-null: $dups duplicated " +
        s"id(s), $nulls row(s) with a null id")
  }

  /** Score documents against a frozen [[PerceptronModel]] — a
    * STATELESS scan-side projection (batch or stream, no state):
    * `(id, n_feats, margin, predicted)` where `margin = Σ w[bucket]`
    * over the document's grams (one codegen'd
    * [[graft.functions.DsirScore]] call — the dense weight table rides
    * generated code as a reference object) and `predicted = 1` iff
    * `margin > 0`. Empty/null text scores `(0, 0, 0)`.
    */
  def perceptronScore(df: DataFrame, textCol: String, idCol: String,
      model: PerceptronModel): DataFrame = {
    val tk = when(nonEmpty(textCol), TextOps.words(col(textCol)))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).cast("long").as("id"), tk.as("_tk"))
      .select(col("id"),
        when(size(col("_tk")) === 0, lit(0L))
          .otherwise(size(col("_tk")).cast("long") * 2 - 1).as("n_feats"),
        graft.functions.TextKernelExprs.dsirScore(col("_tk"),
          model.buckets, model.w).as("margin"))
      .select(col("id"), col("n_feats"), col("margin"),
        (col("margin") > 0).cast("int").as("predicted"))
  }

  /** Calibration report for a frozen classifier: the integer-exact
    * confusion table and derived per-mille precision/recall/F1 at each
    * margin threshold — the table that picks the operating point
    * before a quality gate ships (predicted positive = `margin >
    * threshold`, matching [[perceptronScore]]'s `predicted` at
    * threshold 0). Output: `(threshold, tp, fp, fn, tn,
    * precision_permille, recall_permille, f1_permille)`, one row per
    * threshold; empty-denominator cells report 0 (integer
    * cross-multiply everywhere, no division by zero, no doubles).
    *
    * Shape for scale: one stateless scoring scan, a per-threshold
    * explode of a literal array (≤ dozens of rows per doc), one hash
    * aggregation to |thresholds| rows. No broadcast of anything
    * corpus-sized.
    */
  def calibrationReport(df: DataFrame, textCol: String, idCol: String,
      label: Column, model: PerceptronModel,
      thresholds: Seq[Long]): DataFrame =
    calibrationFrom(perceptronScore(df, textCol, idCol, model),
      df, idCol, label, thresholds)

  /** [[calibrationReport]] with the training fused in
    * ([[perceptronTrainScore]] — one tokenize pass instead of three:
    * train features, score features, and the report all read the one
    * materialized per-doc relation). Output identical to
    * `calibrationReport(df, …, perceptronTrain(df, …), thresholds)`;
    * like [[perceptronTrainScore]], fails on a duplicate or null id.
    */
  def trainCalibrationReport(df: DataFrame, textCol: String,
      idCol: String, label: Column, buckets: Int = 1024,
      epochs: Int = 2, thresholds: Seq[Long],
      checkpointDir: Option[String] = None): DataFrame =
    calibrationFrom(
      perceptronTrainScore(df, textCol, idCol, label, buckets, epochs,
        checkpointDir),
      df, idCol, label, thresholds)

  private def calibrationFrom(scoredDf: DataFrame, df: DataFrame,
      idCol: String, label: Column,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val scored = scoredDf
      .join(df.select(col(idCol).cast("long").as("id"),
        label.cast("boolean").as("_y")), Seq("id"))
    scored.select(col("margin"), col("_y"),
        explode(lit(thresholds.toArray)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        count(when(col("margin") > col("threshold") && col("_y"),
          lit(1))).as("tp"),
        count(when(col("margin") > col("threshold") && !col("_y"),
          lit(1))).as("fp"),
        count(when(col("margin") <= col("threshold") && col("_y"),
          lit(1))).as("fn"),
        count(when(col("margin") <= col("threshold") && !col("_y"),
          lit(1))).as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        expr("(tp * 1000) div greatest(tp + fp, 1)")
          .as("precision_permille"),
        expr("(tp * 1000) div greatest(tp + fn, 1)")
          .as("recall_permille"),
        expr("(2 * tp * 1000) div greatest(2 * tp + fp + fn, 1)")
          .as("f1_permille"))
  }
}
