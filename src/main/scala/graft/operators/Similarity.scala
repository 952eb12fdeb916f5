package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k, broadcast the (small) query
  *    side against the full corpus. Correct baseline; O(|Q|·N) work but
  *    embarrassingly parallel and shuffle-free except the final top-k.
  *  - [[lshTopK]]: sign-random-projection buckets; each query only scans
  *    its own bucket (plus optional multi-probe neighbors). The 100 TB
  *    path: candidate generation is an equi-join on the bucket id.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, neighbor_id, cosine, rank), rank 1..k,
    * ties broken by neighbor id (deterministic).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      .withColumn("_cn", Vectors.dot(col("_cv"), col("_cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .withColumn("_qn", Vectors.dot(col("_qv"), col("_qv")))
    val joined = c.crossJoin(broadcast(q))
    val scored0 = joined.select(col("query_id"), col("neighbor_id"),
      Vectors.cosineFromParts(Vectors.dot(col("_qv"), col("_cv")),
        col("_qn"), col("_cn")).as("cosine"))
    val scored =
      if (excludeSelf) scored0.filter(col("query_id") =!= col("neighbor_id"))
      else scored0
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style approximate top-k: an inverted-file index with a coarse
    * quantizer. Centroids are the `nCells` lowest-id corpus vectors
    * (deterministic seeds standing in for a trained k-means codebook —
    * the plumbing, not the training, is the engine's job); every vector
    * is assigned map-side to its nearest centroid via INLINED centroid
    * literals (no shuffle, no broadcast join — the codebook rides the
    * plan), queries probe their `nProbe` nearest cells, and candidate
    * scoring is one equi-join on the cell id.
    *
    * 100 TB shape: assignment is a pure projection over the scan;
    * the only shuffle is the cell-id join, sized by cell occupancy
    * (≈ N/nCells per cell); recall grows with `nProbe` on the small
    * query side only.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int, nProbe: Int = 1,
      excludeSelf: Boolean = true): DataFrame = {
    val cents: Array[(Long, Seq[Double])] = corpus
      .selectExpr(s"CAST($idCol AS LONG) AS id",
        s"CAST($vecCol AS ARRAY<DOUBLE>) AS v")
      .orderBy(col("id")).limit(nCells)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    ivfWithCodebook(corpus, queries, cents, vecCol, idCol, k, nProbe,
      excludeSelf)
  }

  /** IVF top-k over a TRAINED codebook — the production ANN shape:
    * [[kmeansCentroids]] (or any `(cid, cv)` frame) trains the coarse
    * quantizer, this builds and probes the index. The codebook is
    * collected once (bounded by construction: it is the k-row output of
    * a groupBy on the cluster id — collecting it is the same bounded
    * driver hop as [[ivfTopK]]'s seed collect) and INLINED into the
    * assignment projection, so cell assignment stays a pure map-side
    * expression over the scan at any corpus size.
    */
  def ivfTopKTrained(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      vecCol: String, idCol: String, k: Int, nProbe: Int = 1,
      excludeSelf: Boolean = true): DataFrame = {
    val cents: Array[(Long, Seq[Double])] = centroids
      .selectExpr("CAST(cid AS LONG) AS cid", "CAST(cv AS ARRAY<DOUBLE>) AS cv")
      .orderBy(col("cid"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(cents.nonEmpty, "ivfTopKTrained: empty codebook")
    ivfWithCodebook(corpus, queries, cents, vecCol, idCol, k, nProbe,
      excludeSelf)
  }

  private def ivfWithCodebook(
      corpus: DataFrame, queries: DataFrame,
      cents: Array[(Long, Seq[Double])],
      vecCol: String, idCol: String, k: Int, nProbe: Int,
      excludeSelf: Boolean): DataFrame = {
    val nCells = cents.length
    // per-centroid (negated score, cell id) structs: ascending array_sort
    // then yields best-score-first with smaller-cell-id tie-break
    def cellRanks(v: Column): Column = array_sort(array(cents.toIndexedSeq.map {
      case (cid, cv) =>
        val arr = cv.toArray
        struct((-Vectors.cosineFromParts(Vectors.dot(v, lit(arr)),
          Vectors.dot(v, v), lit(arr.map(x => x * x).sum))).as("ns"),
          lit(cid).as("cid"))
    }: _*))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      .withColumn("cell", element_at(cellRanks(col("_cv")), 1).getField("cid"))
      .withColumn("_cn", Vectors.dot(col("_cv"), col("_cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .withColumn("cell", explode(transform(
        slice(cellRanks(col("_qv")), 1, math.min(nProbe, nCells)),
        s => s.getField("cid"))))
      .withColumn("_qn", Vectors.dot(col("_qv"), col("_qv")))
    val joined = c.join(q, Seq("cell"))
    val scored0 = joined.select(col("query_id"), col("neighbor_id"),
      Vectors.cosineFromParts(Vectors.dot(col("_qv"), col("_cv")),
        col("_qn"), col("_cn")).as("cosine"))
    val scored =
      if (excludeSelf) scored0.filter(col("query_id") =!= col("neighbor_id"))
      else scored0
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF/LSH-bucketed approximate top-k: queries only compare against
    * corpus vectors in the same sign-projection bucket. Recall < 1.0 by
    * construction; increase `nPlanes` ↓bucket size, decrease ↑recall.
    *
    * `multiProbe` > 0 additionally probes that many Hamming-1 neighbor
    * buckets per query, flipping the LEAST-confident sign bits first
    * (smallest |projection| — the planes the query sits closest to).
    * Classic multi-probe LSH: recall climbs steeply with a handful of
    * probes while the scanned volume grows only (1+multiProbe)×, all on
    * the small query side (the corpus is bucketed once, never exploded).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nPlanes: Int = 6, multiProbe: Int = 0,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      .withColumn("bucket", Vectors.signBuckets(col("_cv"), dim, nPlanes))
      .withColumn("_cn", Vectors.dot(col("_cv"), col("_cv")))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .withColumn("bucket", Vectors.signBuckets(col("_qv"), dim, nPlanes))
      .withColumn("_qn", Vectors.dot(col("_qv"), col("_qv")))
    val q =
      if (multiProbe <= 0) q0
      else {
        val probes = math.min(multiProbe, nPlanes)
        // per-plane |projection| paired with its bit mask; sorting the
        // struct array ascending yields the flip order
        val planeStructs = Vectors.planes(dim, nPlanes).zipWithIndex.map {
          case (pl, p) => struct(
            abs(Vectors.dot(col("_qv"), lit(pl))).as("a"),
            lit(1L << p).as("m"))
        }
        val flipMasks = slice(
          transform(array_sort(array(planeStructs: _*)), s => s.getField("m")),
          1, probes)
        q0.withColumn("bucket", explode(concat(
            array(col("bucket")),
            transform(flipMasks, m => col("bucket").bitwiseXOR(m)))))
      }
    val joined = c.join(q, Seq("bucket"))
    val scored0 = joined.select(col("query_id"), col("neighbor_id"),
      Vectors.cosineFromParts(Vectors.dot(col("_qv"), col("_cv")),
        col("_qn"), col("_cn")).as("cosine"))
    val scored =
      if (excludeSelf) scored0.filter(col("query_id") =!= col("neighbor_id"))
      else scored0
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic Lloyd k-means assignment over an embedding column —
    * the clustering step of corpus organization / IVF index training.
    * Init = the `k` lowest-id vectors; `iters` assignment rounds with a
    * centroid update between consecutive rounds. Returns
    * `(vec_id, cluster)` where `cluster` is the init centroid's id.
    *
    * Null vectors are EXCLUDED from both assignment and updates: a null
    * distance would sort first under Spark's null ordering but last
    * under an external engine's ORDER BY, so dropping the row is the
    * only engine-independent semantics (the oracle filters identically).
    *
    * Exactness design: centroid updates accumulate `floor(x * 2^20)`
    * LONGS (float32 inputs are exact in double, floor is unambiguous —
    * no round-half mode drift between engines), so the per-cluster sums
    * are integer-exact and partitioning-independent; each new centroid
    * coordinate is ONE double division of exact integers, and each
    * distance is a fixed-order expression over IEEE add/mul
    * (`x·x - 2 x·c + c·c`, index-order dot products). Every float in
    * the pipeline is therefore bit-deterministic and externally
    * replicable — the q74 oracle replays all rounds in SQL.
    *
    * Shape for scale: the k centroids collapse into ONE sorted
    * array-of-structs column (a single-row frame, broadcast), and the
    * argmin is a map-side `array_sort` over the per-centroid
    * `(dist, cid)` structs — the corpus NEVER shuffles for assignment
    * (no k× row amplification, no rank window; the vectors ride the
    * scan). The update is a posexplode + (cluster, dim) hash
    * aggregation with map-side partial sums. No driver-side collect at
    * any k; plan depth grows linearly in `iters` — pass `checkpointDir`
    * to truncate lineage with a reliable per-round checkpoint of the
    * k-row centroid frame (executor-death-safe, unlike
    * `localCheckpoint`; use beyond ~10 rounds or on a real cluster).
    * The dir is SparkContext-GLOBAL (bound via the [[Checkpoints]]
    * guard): concurrent operator calls must pass the SAME path — this
    * applies to [[kmeansCentroids]] and [[pqCodes]] too.
    *
    * The argmin's `(dist, cid)` struct sort uses the same fixed-order
    * IEEE distance expression and the same (dist asc, cid asc)
    * tie-break as the previous rank-window formulation — assignments
    * are bit-identical, just computed without an exchange.
    */
  def kmeansAssign(df: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 2, scaleBits: Int = 20,
      checkpointDir: Option[String] = None,
      materialize: Boolean = true): DataFrame =
    lloyd(df, vecCol, idCol, k, iters, scaleBits, checkpointDir,
        materialize)
      .select(col("vec_id"), col("cid").as("cluster"))

  /** The trained centroids themselves — the [[kmeansAssign]] rounds plus
    * ONE more integer-exact update applied to the final assignment, as a
    * k-row `(cid, cv)` frame. This is the codebook-training path for
    * [[ivfTopKTrained]]: train here, index there. Bit-deterministic and
    * externally replayable for the same reasons as [[kmeansAssign]].
    */
  def kmeansCentroids(df: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 2, scaleBits: Int = 20,
      checkpointDir: Option[String] = None,
      materialize: Boolean = true): DataFrame =
    centroidUpdate(
      lloyd(df, vecCol, idCol, k, iters, scaleBits, checkpointDir,
        materialize),
      (1L << scaleBits).toDouble)

  /** Map-side nearest-centroid argmin: the k-row `(cid, cv)` codebook
    * collapses into ONE sorted array-of-structs row (broadcast
    * nested-loop join attaches it to every partition; sorted by cid so
    * the transform order — and therefore tie-breaking — is
    * deterministic), and the winner is `array_sort` over per-centroid
    * `(dist, cid)` structs. Adds `outCol` = nearest cid for `xCol`;
    * zero shuffle, zero row amplification.
    */
  /** The k-row codebook collapsed to ONE sorted array-of-structs row
    * (broadcastable; sorted by cid for deterministic order).
    */
  private def codebookColumn(cents: DataFrame): DataFrame =
    cents.agg(array_sort(
      collect_list(struct(col("cid"), col("cv")))).as("_cl"))

  /** Per-centroid `(dist, cid)` ranking expression over the collapsed
    * codebook. `dxx` is the PRE-HOISTED `dot(x,x)` column: computed once
    * per row in the projection, not once per centroid inside the
    * interpreted lambda — same value, same bits, k× less work (the same
    * hoist [[graft.functions.NearestCentroid]] does natively on the
    * assignment path).
    */
  private def codebookRanks(cents: DataFrame, xCol: String,
      dxx: Column): (DataFrame, Column) = {
    val ranked = array_sort(transform(col("_cl"), c => {
      val cv = c.getField("cv")
      struct(
        (dxx - lit(2.0) * Vectors.dot(col(xCol), cv) +
          Vectors.dot(cv, cv)).as("d"),
        c.getField("cid").as("cid"))
    }))
    (codebookColumn(cents), ranked)
  }

  private def argminCodebook(df: DataFrame, xCol: String,
      cents: DataFrame, outCol: String): DataFrame =
    // the hot per-row kernel: NearestCentroid is the codegen'd form of
    // the (transform → array_sort → element_at 1) HOF argmin — same
    // fixed-order floats, same (dist, cid) tie-break (differentially
    // spec'd), but the k·dim loop inlines into whole-stage codegen
    // instead of re-entering the interpreted HOF evaluator per row
    df.crossJoin(broadcast(codebookColumn(cents)))
      .withColumn(outCol,
        graft.functions.NearestCentroid.column(col(xCol), col("_cl")))
      .drop("_cl")

  /** Top-`nProbe` nearest centroids per row (the query-side multi-cell
    * probe), exploded — same map-side broadcast-codebook shape as
    * [[argminCodebook]].
    */
  private def probeCodebook(df: DataFrame, xCol: String,
      cents: DataFrame, outCol: String, nProbe: Int): DataFrame = {
    val (codebook, ranked) = codebookRanks(cents, xCol, col("_dxx"))
    df.withColumn("_dxx", Vectors.dot(col(xCol), col(xCol)))
      .crossJoin(broadcast(codebook))
      .withColumn(outCol,
        explode(transform(slice(ranked, 1, nProbe), s => s.getField("cid"))))
      .drop("_cl", "_dxx")
  }

  /** The shared Lloyd core: `iters` assignment rounds, returning the
    * final `(vec_id, cid, x)` frame (assignment WITH the vector, so
    * callers never rejoin the corpus) AND the codebook that final
    * assignment indexes (the round-(iters-1) centroids) — ADC scoring
    * must use exactly that codebook.
    */
  private def lloydFull(df: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int, scaleBits: Int,
      checkpointDir: Option[String],
      materialize: Boolean = true): (DataFrame, DataFrame) = {
    require(k >= 1 && iters >= 1)
    val scale = (1L << scaleBits).toDouble
    // null vectors are EXCLUDED, explicitly: a null distance would sort
    // first under Spark's null ordering but LAST under an external
    // engine's ORDER BY (DuckDB) — dropping the row on both sides is
    // the only engine-independent semantics
    val e0 = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("x"))
      .filter(col("x").isNotNull)
    // materialize the training relation ONCE (guide §5: it is re-read
    // by every assignment round, the update, and the seed TakeOrdered —
    // without this each of those jobs re-derives the scan lineage).
    // Callers that already hold a materialized projection (the PQ
    // subspace slices) pass materialize = false.
    val e = if (materialize) e0.localCheckpoint() else e0
    // the checkpoint dir is SparkContext-GLOBAL: bound through the
    // shared [[Checkpoints]] guard, ONCE per distinct path — repeated
    // calls with the same dir (the pipeline norm) no longer mint fresh
    // UUID subdirectories or clobber another operator's binding;
    // CONCURRENT calls must pass the same dir (global slot)
    checkpointDir.foreach(
      Checkpoints.bindDir(df.sparkSession.sparkContext, _))
    def assign(cents: DataFrame): DataFrame =
      argminCodebook(e, "x", cents, "cid")
        .select(col("vec_id"), col("cid"), col("x"))
    var cents = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("x").as("cv"))
    var assigned = assign(cents)
    var i = 1
    while (i < iters) {
      cents = checkpointed(centroidUpdate(assigned, scale),
        checkpointDir.isDefined)
      assigned = assign(cents)
      i += 1
    }
    (assigned, cents)
  }

  private def lloyd(df: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int, scaleBits: Int,
      checkpointDir: Option[String],
      materialize: Boolean = true): DataFrame =
    lloydFull(df, vecCol, idCol, k, iters, scaleBits, checkpointDir,
      materialize)._1

  /** The corpus/query projection every PQ/IVF kernel shares —
    * `(idOut, _xf)` with nulls excluded — materialized ONCE so the
    * dozens of downstream jobs (codebook training rounds, broadcast
    * builds, encode, rerank fetch) read a few-KB-per-partition local
    * checkpoint instead of each re-deriving the scan lineage (guide
    * §1.2/§5: the ANN queries were job-count-bound, not data-bound).
    */
  private def matVecs(df: DataFrame, vecCol: String, idCol: String,
      idOut: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as(idOut),
        col(vecCol).cast("array<double>").as("_xf"))
      .localCheckpoint()

  /** Corpus AND query projections in ONE materialization job (every
    * PQ/IVF kernel materializes both at entry — a side-tagged union
    * halves those fixed-cost jobs; each side reads back as a filter
    * over the shared checkpoint).
    */
  private def matVecs2(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String): (DataFrame, DataFrame) = {
    def side(df: DataFrame, tag: Int): DataFrame =
      df.filter(col(vecCol).isNotNull)
        .select(lit(tag).as("_side"), col(idCol).cast("long").as("_id"),
          col(vecCol).cast("array<double>").as("_xf"))
    val both = side(corpus, 0).unionByName(side(queries, 1))
      .localCheckpoint()
    (both.filter(col("_side") === 0)
        .select(col("_id").as("vec_id"), col("_xf")),
      both.filter(col("_side") === 1)
        .select(col("_id").as("query_id"), col("_xf")))
  }

  // ----- keyed (subspace-tagged) Lloyd: ONE pipeline trains every ----
  // ----- subspace's codebook concurrently (round-21 verdict: the  ----
  // ----- m sequential per-subspace loops were the ANN family's    ----
  // ----- job-count bottleneck — m broadcast builds and m codegen  ----
  // ----- units per round collapse into one of each)               ----

  /** The subspace-sliced relation `(vec_id, _s, _sub)` — one row per
    * (vector, subspace), the slice a scan-side projection exactly as
    * in the per-subspace form.
    */
  private def pqSubRel(corpusM: DataFrame, m: Int,
      subLen: Int): DataFrame =
    corpusM.select(col("vec_id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("_s"),
          subVecCol(col("_xf"), s, subLen).as("_sub"))): _*)).as("_e"))
      .select(col("vec_id"), col("_e._s").as("_s"),
        col("_e._sub").as("_sub"))

  /** Init codebooks for every subspace — the k lowest-id vectors'
    * slices (identical seed ids per subspace because every subspace
    * sees the same id set), as keyed `(_s, cid, cv)` rows from ONE
    * TakeOrdered.
    */
  private def pqSeeds(corpusM: DataFrame, m: Int, k: Int,
      subLen: Int): DataFrame =
    pqSubRel(corpusM.orderBy(col("vec_id")).limit(k), m, subLen)
      .select(col("_s"), col("vec_id").as("cid"), col("_sub").as("cv"))

  /** Per-subspace codebooks collapsed to one m-row broadcastable frame
    * `(_s, _cl)` — each `_cl` the same sorted (cid, cv) struct array
    * [[codebookColumn]] builds for a single codebook.
    */
  private def keyedCodebook(cents: DataFrame): DataFrame =
    cents.groupBy(col("_s"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cv"))))
        .as("_cl"))

  /** Keyed map-side argmin: the m-row codebook frame broadcasts, each
    * subspace row picks its nearest centroid with the SAME codegen'd
    * [[graft.functions.NearestCentroid]] kernel — one broadcast build
    * and one generated projection for all m subspaces.
    */
  private def keyedAssign(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.join(broadcast(keyedCodebook(cents)), Seq("_s"))
      .withColumn("cid",
        graft.functions.NearestCentroid.column(col("_sub"), col("_cl")))
      .drop("_cl")

  /** [[centroidUpdate]] keyed by subspace: identical integer-exact
    * banks per (subspace, cluster, dim) — the per-subspace sums are
    * disjoint groups of one aggregation instead of m aggregations.
    */
  private def keyedCentroidUpdate(assigned: DataFrame,
      scale: Double): DataFrame =
    assigned
      .select(col("_s"), col("cid"),
        posexplode(col("_sub")).as(Seq("pos", "xv")))
      .select(col("_s"), col("cid"), col("pos"),
        floor(col("xv") * lit(scale)).cast("long").as("sxv"))
      .groupBy(col("_s"), col("cid"), col("pos"))
      .agg(sum(col("sxv")).as("_sm"), count(lit(1)).as("cnt"))
      .groupBy(col("_s"), col("cid"))
      .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("_sm")))),
          p => p.getField("_sm")).as("_ss"),
        max(col("cnt")).as("_cnt"))
      .select(col("_s"), col("cid"), transform(col("_ss"),
        s => s.cast("double") /
          (col("_cnt").cast("double") * lit(scale))).as("cv"))

  /** The keyed Lloyd codebook rounds: `iters − 1` update/assign cycles
    * over the subspace-tagged relation, returning the round-(iters−1)
    * codebooks `(_s, cid, cv)` — the codebooks the final assignment
    * indexes, bit-identical per subspace to [[lloydFull]]'s `._2`
    * (same seeds, same argmin kernel, same integer-exact update — the
    * subspaces never mix: every aggregation and join is keyed by
    * `_s`).
    */
  private def lloydKeyedCodebooks(sub: DataFrame, seeds: DataFrame,
      iters: Int, scaleBits: Int,
      reliable: Boolean = false): DataFrame = {
    require(iters >= 1)
    val scale = (1L << scaleBits).toDouble
    var cents = seeds
    var i = 1
    while (i < iters) {
      cents = checkpointed(
        keyedCentroidUpdate(keyedAssign(sub, cents), scale), reliable)
      i += 1
    }
    cents
  }

  /** ALL subspace codebooks collapsed into ONE single-row broadcastable
    * frame: `_cls[s+1]` is subspace s's sorted (cid, cv) codebook
    * array.
    */
  private def codebooksRow(cents: DataFrame): DataFrame =
    keyedCodebook(cents)
      .agg(transform(
        array_sort(collect_list(struct(col("_s"), col("_cl")))),
        x => x.getField("_cl")).as("_cls"))

  /** Map-side PQ encode, all m subspaces in ONE projection: the
    * single-row all-codebooks frame broadcasts once (instead of m
    * separate 1-row broadcasts) and the m argmins are m
    * [[graft.functions.NearestCentroid]] calls in one generated
    * projection (instead of m chained crossJoin+project operators —
    * one codegen unit, one broadcast build). `dfWithSubs` carries
    * `_x0.._x{m-1}`; output carries `keep` plus `_c0.._c{m-1}`.
    */
  private def encodePq(dfWithSubs: DataFrame, cents: DataFrame, m: Int,
      keep: Seq[Column]): DataFrame =
    dfWithSubs.crossJoin(broadcast(codebooksRow(cents)))
      .select(keep ++ (0 until m).map(s =>
        graft.functions.NearestCentroid.column(col(s"_x$s"),
          element_at(col("_cls"), s + 1)).as(s"_c$s")): _*)

  /** One integer-exact Lloyd centroid update over `(cid, x)` rows:
    * floor(x·2^scaleBits) long sums per (cluster, dim), rebuilt in pos
    * order, one double division per coordinate.
    */
  private def centroidUpdate(assigned: DataFrame, scale: Double): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("x")).as(Seq("pos", "xv")))
      .select(col("cid"), col("pos"),
        floor(col("xv") * lit(scale)).cast("long").as("sxv"))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("sxv")).as("s"), count(lit(1)).as("cnt"))
      .groupBy(col("cid"))
      .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("s")))),
          p => p.getField("s")).as("_ss"),
        max(col("cnt")).as("_cnt"))
      .select(col("cid"), transform(col("_ss"),
        s => s.cast("double") /
          (col("_cnt").cast("double") * lit(scale))).as("cv"))

  /** Reliable checkpoint (into the dir bound once at operator entry)
    * when requested — truncates lineage AND survives executor loss, the
    * cluster-run option — identity otherwise. The checkpointed frame
    * here is always the k-row centroid table, so the write is a few KiB
    * per round.
    */
  private def checkpointed(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint() else df
  /** Product-quantization codes — the billion-scale ANN compression
    * step (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): the vector splits into `m` contiguous
    * subspaces, each subspace trains its own k-codeword codebook with
    * the same integer-exact Lloyd rounds as [[kmeansAssign]], and every
    * vector is encoded as its nearest sub-centroid id per subspace —
    * `dim` floats collapse to `m` codes (e.g. 64 dims → 2 bytes at
    * m=2, k≤256).
    *
    * Output: `(vec_id, subspace, code)` — one row per (vector,
    * subspace); `code` is the winning init-centroid's vec_id within
    * that subspace's codebook (the [[kmeansAssign]] cluster-id
    * convention). Every float op is the proven q74 arithmetic, so the
    * codes replay exactly in external SQL.
    *
    * Scale shape: ONE keyed Lloyd pipeline over the subspace-tagged
    * SLICED relation — the slice/tag is a scan-side projection, the
    * assignment is a map-side broadcast of the m-row keyed codebook
    * frame (the corpus never shuffles), and only (m · k · dim/m)-sized
    * keyed centroid updates cross an exchange. One broadcast build and
    * one generated projection per round instead of m of each (the
    * round-21 job-count fix).
    */
  def pqCodes(df: DataFrame, vecCol: String, idCol: String,
      dim: Int, m: Int, k: Int, iters: Int = 2,
      checkpointDir: Option[String] = None): DataFrame = {
    require(m >= 1 && dim >= m && dim % m == 0,
      s"dim ($dim) must be a positive multiple of m ($m)")
    val subLen = dim / m
    checkpointDir.foreach(
      Checkpoints.bindDir(df.sparkSession.sparkContext, _))
    // one materialized corpus projection shared by all m subspace
    // trainings — each round reads the checkpoint, not the scan
    val corpusM = matVecs(df, vecCol, idCol, "vec_id")
    val sub = pqSubRel(corpusM, m, subLen)
    val cents = lloydKeyedCodebooks(sub, pqSeeds(corpusM, m, k, subLen),
      iters, scaleBits = 20, reliable = checkpointDir.isDefined)
    keyedAssign(sub, cents)
      .select(col("vec_id"), col("_s").cast("int").as("subspace"),
        col("cid").as("code"))
  }

  /** PQ asymmetric-distance top-k (ADC; Jégou et al. 2011 §IV): train
    * per-subspace codebooks, encode the corpus ONCE as `m` codes per
    * vector, and score each query against the codes via a per-query
    * distance TABLE (query-subvector → each sub-centroid, |Q|·k·m rows)
    * instead of per-vector float math — the compressed-domain search
    * that makes billion-scale scans affordable.
    *
    * Output: `(query_id, neighbor_id, adc_dist, rank)`, rank 1..topK by
    * ascending ADC distance (sum over subspaces of the squared
    * query-to-sub-centroid distance, added in subspace order — a fixed
    * IEEE fold, externally replayable).
    *
    * Scale shape: encoding is a pure map-side projection (one
    * [[argminCodebook]] per subspace over the scan — NO join, NO
    * shuffle); the distance tables are tiny broadcasts; the only
    * O(N·|Q|) stage is the final scored relation, which feeds a
    * rank-window whose `rank <= topK` filter triggers WindowGroupLimit
    * (map-side partial top-k). Exact within the quantized domain;
    * compose with IVF cells for the sub-linear production path.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, dim: Int, m: Int, k: Int, topK: Int,
      iters: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    require(m >= 1 && dim >= m && dim % m == 0,
      s"dim ($dim) must be a positive multiple of m ($m)")
    require(topK >= 1)
    val subLen = dim / m
    val (corpusM, queriesM) = matVecs2(corpus, queries, vecCol, idCol)
    pqTopKM(corpusM, queriesM, m, k, topK, iters, excludeSelf, subLen)
  }

  /** [[pqTopK]] over pre-materialized `(vec_id|query_id, _xf)` frames —
    * the form the rerank compositions share so the corpus and query
    * projections materialize exactly once per query.
    */
  private def pqTopKM(corpusM: DataFrame, queriesM: DataFrame, m: Int,
      k: Int, topK: Int, iters: Int, excludeSelf: Boolean,
      subLen: Int): DataFrame = {
    val cents = trainPqCodebooks(corpusM, m, k, iters, subLen)
    // encode: ONE projection over the materialized corpus, all m
    // argmins map-side off ONE all-codebooks broadcast
    val base = corpusM.select(
      col("vec_id") +:
        (0 until m).map(s => subVecCol(col("_xf"), s, subLen)
          .as(s"_x$s")): _*)
    val coded = encodePq(base, cents, m, Seq(col("vec_id")))
    val qtab = queryDistTab(queriesM, cents, m, subLen,
      Seq(col("query_id")))
    adcScoreQtab(coded, qtab, Nil, m, topK, excludeSelf)
  }

  /** Vector slice for subspace `s` (1-based inclusive, matching DuckDB
    * list slices in the oracles).
    */
  private def subVecCol(c: Column, s: Int, subLen: Int): Column =
    slice(c.cast("array<double>"), s * subLen + 1, subLen)

  /** The fixed-order squared distance every kernel and oracle shares. */
  private def sqDist(x: Column, cv: Column): Column =
    Vectors.dot(x, x) - lit(2.0) * Vectors.dot(x, cv) +
      Vectors.dot(cv, cv)

  /** The trained per-subspace codebooks — the codebooks the FINAL
    * assignment indexes ([[lloydFull]] `._2` per subspace), as ONE
    * keyed `(_s, cid, cv)` frame trained by ONE keyed Lloyd pipeline
    * and materialized once (every caller references it twice:
    * argmin/encoding + distance table; the semDedup lesson).
    */
  private def trainPqCodebooks(corpusM: DataFrame, m: Int, k: Int,
      iters: Int, subLen: Int): DataFrame =
    lloydKeyedCodebooks(pqSubRel(corpusM, m, subLen),
      pqSeeds(corpusM, m, k, subLen), iters, scaleBits = 20)
      .localCheckpoint()

  /** The per-query ADC distance structure — the m separate |Q|·k
    * broadcast tables fused into ONE broadcast build: one row per
    * query (plus whatever extra keys ride in `keep` — the residual
    * path keys by probed cell), carrying `_dt[s+1]` = the cid→distance
    * map for subspace s. Distances are the same fixed-order [[sqDist]]
    * expression as the separate tables; `element_at` on a k-entry map
    * is a k-step scan bounded by the codebook size, never
    * corpus-scaled.
    */
  private def queryDistTab(queries: DataFrame, cents: DataFrame,
      m: Int, subLen: Int, keep: Seq[Column],
      vecCol: String = "_xf"): DataFrame =
    queries.crossJoin(broadcast(codebooksRow(cents)))
      .select(keep :+ array((0 until m).map { s =>
        map_from_entries(transform(element_at(col("_cls"), s + 1), c =>
          struct(c.getField("cid"),
            sqDist(subVecCol(col(vecCol), s, subLen),
              c.getField("cv")))))
      }: _*).as("_dt"): _*)

  /** The ADC scoring/ranking tail over the fused [[queryDistTab]]
    * broadcast: one broadcast hash join (or crossJoin for the
    * full-scan form — the same N·|Q| expansion the first per-subspace
    * table join used to introduce), the per-subspace distances summed
    * in subspace order (fixed IEEE fold, identical add order to the
    * per-table `_d0 + _d1 + …`), self-excluded, ranked ascending with
    * the neighbor-id tie-break, WindowGroupLimit-capped at `topK`.
    * Every `_c\$s` key is a cid of subspace s's codebook by
    * construction, so the map lookups are total.
    */
  private def adcScoreQtab(pairs: DataFrame, qtab: DataFrame,
      joinKeys: Seq[String], m: Int, topK: Int,
      excludeSelf: Boolean): DataFrame = {
    val joined =
      if (joinKeys.isEmpty) pairs.crossJoin(broadcast(qtab))
      else pairs.join(broadcast(qtab), joinKeys)
    val adc = (0 until m).map(s =>
      element_at(element_at(col("_dt"), s + 1), col(s"_c$s")))
      .reduce(_ + _)
    val scored1 = joined.select(col("query_id"),
      col("vec_id").as("neighbor_id"), adc.as("adc_dist"))
    val scored =
      if (excludeSelf) scored1.filter(col("query_id") =!= col("neighbor_id"))
      else scored1
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** IVF-PQ search — the billion-scale production composition (Jégou
    * et al. 2011 §V): a TRAINED coarse quantizer ([[kmeansCentroids]])
    * restricts each query to its `nProbe` nearest cells, and candidates
    * inside those cells are scored in the compressed domain via ADC
    * tables.
    *
    * `residual = false` (default) PQ-encodes the raw vectors —
    * simplest, one shared codebook meaning per code. `residual = true`
    * is the paper's full form: PQ quantizes `x − c_cell` (the residual
    * after coarse quantization — much lower variance, so the same k
    * codewords buy more precision), the distance tables become
    * per-(query, probed-cell) because the QUERY's residual differs per
    * cell, and every float stays an exact fixed-order IEEE expression
    * (per-element subtract), so both forms replay externally.
    *
    * Output: `(query_id, neighbor_id, adc_dist, rank)` like [[pqTopK]],
    * but the scored relation is cell-bounded (≈ N·nProbe/nCells per
    * query) instead of the full N — the sub-linear path.
    *
    * Scale shape: cell assignment AND all m PQ encodings happen in ONE
    * map-side projection over the scan (coarse + sub codebooks all ride
    * in as 1-row broadcasts; the residual subtract is a zip_with in the
    * same projection); the probe table (|Q|·nProbe) and the ADC tables
    * (|Q|·k, or |Q|·nProbe·k for residuals — still tiny) broadcast; the
    * only shuffle is the final rank exchange on query_id, already
    * WindowGroupLimit-reduced.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, dim: Int, m: Int, k: Int, nCells: Int,
      nProbe: Int = 1, topK: Int = 10, iters: Int = 2,
      excludeSelf: Boolean = true, residual: Boolean = false): DataFrame = {
    require(m >= 1 && dim >= m && dim % m == 0,
      s"dim ($dim) must be a positive multiple of m ($m)")
    require(nCells >= 1 && nProbe >= 1 && topK >= 1)
    val subLen = dim / m
    val (corpusM, queriesM) = matVecs2(corpus, queries, vecCol, idCol)
    ivfPqTopKM(corpusM, queriesM,
      m, k, nCells, nProbe, topK, iters, excludeSelf, residual, subLen)
  }

  /** The coarse-quantizer training plan (lazy — [[kmeansCentroids]]
    * body over a pre-materialized corpus): the full Lloyd rounds plus
    * one more integer-exact update applied to the final assignment.
    */
  private def coarsePlan(corpusM: DataFrame, nCells: Int,
      iters: Int): DataFrame =
    centroidUpdate(
      lloydFull(corpusM, "_xf", "vec_id", nCells, iters, scaleBits = 20,
        checkpointDir = None, materialize = false)._1,
      (1L << 20).toDouble)

  /** [[ivfPqTopK]] over pre-materialized `(vec_id|query_id, _xf)`
    * frames (see [[matVecs2]]) — shared with [[ivfPqRerank]].
    */
  private def ivfPqTopKM(corpusM: DataFrame, queriesM: DataFrame,
      m: Int, k: Int, nCells: Int, nProbe: Int, topK: Int, iters: Int,
      excludeSelf: Boolean, residual: Boolean,
      subLen: Int): DataFrame = {
    if (!residual) {
      // the coarse codebook and the m PQ codebooks are INDEPENDENT
      // trainings (raw-vector PQ) — union them into ONE eager
      // materialization (coarse rides tagged _s = −1): one job runs
      // every training concurrently, and the frame is referenced many
      // times downstream (cell assignment + probe + encode + distance
      // tables)
      val all = coarsePlan(corpusM, nCells, iters)
        .select(lit(-1).as("_s"), col("cid"), col("cv"))
        .unionByName(
          lloydKeyedCodebooks(pqSubRel(corpusM, m, subLen),
            pqSeeds(corpusM, m, k, subLen), iters, scaleBits = 20)
            .select(col("_s"), col("cid"), col("cv")))
        .localCheckpoint()
      val coarse = all.filter(col("_s") === -1)
        .select(col("cid"), col("cv"))
      val pqCents = all.filter(col("_s") >= 0)
      val withCell = argminCodebook(corpusM, "_xf", coarse, "_cell")
      val probes = probeCodebook(
        queriesM.select(col("query_id"), col("_xf").as("_qf")),
        "_qf", coarse, "_cell", math.min(nProbe, nCells))
      val sub = withCell.select(col("vec_id") +: col("_cell") +:
        (0 until m).map(s => subVecCol(col("_xf"), s, subLen)
          .as(s"_x$s")): _*)
      val coded = encodePq(sub, pqCents, m,
        Seq(col("vec_id"), col("_cell")))
      val pairs = coded.join(
        broadcast(probes.select(col("query_id"), col("_cell"))),
        Seq("_cell"))
      val qtab = queryDistTab(queriesM, pqCents, m, subLen,
        Seq(col("query_id")))
      adcScoreQtab(pairs, qtab, Seq("query_id"), m, topK, excludeSelf)
    } else {
      // the residual PQ trainings DEPEND on the coarse assignment, so
      // the coarse codebook materializes first (referenced by cell
      // assignment, probe, and both residual subtracts)
      val coarse = coarsePlan(corpusM, nCells, iters).localCheckpoint()
      val withCell = argminCodebook(corpusM, "_xf", coarse, "_cell")
      val probes = probeCodebook(
        queriesM.select(col("query_id"), col("_xf").as("_qf")),
        "_qf", coarse, "_cell", math.min(nProbe, nCells))
      // residual = x − c_cell, a per-element zip_with subtract in the
      // same map-side projection as the cell assignment (the coarse
      // codeword arrives via a broadcast k-row join)
      val coarseKV = coarse.select(col("cid").as("_cell"),
        col("cv").as("_ccv"))
      // materialized ONCE: rsub feeds the keyed PQ training AND the
      // encoding — without this the coarse argmin + residual subtract
      // re-derives per aggregation round (the semDedup lesson,
      // iterative-consumer form)
      val rsub = withCell.join(broadcast(coarseKV), Seq("_cell"))
        .withColumn("_r", zip_with(col("_xf"), col("_ccv"), (a, b) => a - b))
        .select(col("vec_id") +: col("_cell") +:
          (0 until m).map(s => subVecCol(col("_r"), s, subLen)
            .as(s"_x$s")): _*)
        .localCheckpoint()
      // ONE keyed Lloyd pipeline trains all m residual codebooks
      // (reading the rsub checkpoint, not the scan), materialized once
      def subRelOf(d: DataFrame): DataFrame =
        d.select(col("vec_id"), explode(array((0 until m).map(s =>
            struct(lit(s).as("_s"), col(s"_x$s").as("_sub"))): _*))
          .as("_e"))
          .select(col("vec_id"), col("_e._s").as("_s"),
            col("_e._sub").as("_sub"))
      val rseeds = subRelOf(rsub.orderBy(col("vec_id")).limit(k))
        .select(col("_s"), col("vec_id").as("cid"), col("_sub").as("cv"))
      val pqCents = lloydKeyedCodebooks(subRelOf(rsub), rseeds, iters,
          scaleBits = 20)
        .localCheckpoint()
      val coded = encodePq(rsub, pqCents, m,
        Seq(col("vec_id"), col("_cell")))
      // the query residual is PER PROBED CELL, so the fused distance
      // structure carries the cell key: |Q|·nProbe rows — broadcast
      val qresid = probes.join(broadcast(coarseKV), Seq("_cell"))
        .withColumn("_qr", zip_with(col("_qf"), col("_ccv"), (a, b) => a - b))
      val qtab = queryDistTab(qresid, pqCents, m, subLen,
        Seq(col("query_id"), col("_cell")), vecCol = "_qr")
      val pairs = coded.join(
        broadcast(probes.select(col("query_id"), col("_cell"))),
        Seq("_cell"))
      adcScoreQtab(pairs, qtab, Seq("query_id", "_cell"), m, topK,
        excludeSelf)
    }
  }

  /** PQ search with exact re-ranking (Jégou et al. 2011 §V-D refine
    * step): [[pqTopK]] produces a `rerankDepth`-deep ADC shortlist per
    * query, then ONLY those candidates' raw vectors are fetched and
    * re-scored with the exact squared L2 ([[sqDist]] — the same
    * fixed-order IEEE expression every kernel shares), re-ranked to
    * `topK`. Compressed-domain recall, exact-domain precision — the
    * standard production composition when the raw vectors are still
    * reachable (e.g. parquet-resident).
    *
    * Output: `(query_id, neighbor_id, l2_dist, rank)`, rank 1..topK by
    * ascending EXACT distance, neighbor-id tie-break.
    *
    * Scale shape: the shortlist is |Q|·rerankDepth rows — broadcast
    * onto the corpus scan, so the exact-fetch join is map-side (the
    * corpus never shuffles for it); the query vectors broadcast
    * likewise; the surviving |Q|·rerankDepth scored rows hit one rank
    * exchange, WindowGroupLimit-capped at `topK`.
    */
  def pqRerank(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, dim: Int, m: Int, k: Int, topK: Int,
      rerankDepth: Int, iters: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    require(rerankDepth >= topK,
      s"rerankDepth ($rerankDepth) must be >= topK ($topK)")
    require(m >= 1 && dim >= m && dim % m == 0,
      s"dim ($dim) must be a positive multiple of m ($m)")
    val (corpusM, queriesM) = matVecs2(corpus, queries, vecCol, idCol)
    val cands = pqTopKM(corpusM, queriesM, m, k,
        rerankDepth, iters, excludeSelf, dim / m)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpusM, queriesM, cands, topK)
  }

  /** The shared refine tail: exact fixed-order squared L2 over a
    * (query_id, neighbor_id) shortlist, re-ranked to `topK`. The
    * shortlist and query vectors broadcast; the corpus never shuffles
    * for the fetch; one WindowGroupLimit-capped rank exchange. Takes
    * the [[matVecs]]-materialized frames.
    */
  private def exactRerank(corpusM: DataFrame, queriesM: DataFrame,
      cands: DataFrame, topK: Int): DataFrame = {
    val nbr = corpusM.select(col("vec_id").as("neighbor_id"),
      col("_xf").as("_nv"))
    val qv = queriesM.select(col("query_id"), col("_xf").as("_qv"))
    val exact = nbr.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqDist(col("_qv"), col("_nv")).as("l2_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_dist").asc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** The full production ANN composition (Faiss-style IVFPQ + refine):
    * trained coarse cells bound the candidate set, PQ ADC ranks it in
    * the compressed domain to a `rerankDepth` shortlist, and ONLY the
    * shortlist's raw vectors pay the exact re-rank — sub-linear scan,
    * compressed scoring, exact final order. All three stages are the
    * proven kernels ([[ivfPqTopK]] → [[pqRerank]]'s refine tail), so
    * every float replays externally.
    */
  def ivfPqRerank(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, dim: Int, m: Int, k: Int, nCells: Int,
      nProbe: Int, topK: Int, rerankDepth: Int, iters: Int = 2,
      excludeSelf: Boolean = true,
      residual: Boolean = false): DataFrame = {
    require(rerankDepth >= topK,
      s"rerankDepth ($rerankDepth) must be >= topK ($topK)")
    require(m >= 1 && dim >= m && dim % m == 0,
      s"dim ($dim) must be a positive multiple of m ($m)")
    require(nCells >= 1 && nProbe >= 1 && topK >= 1)
    val (corpusM, queriesM) = matVecs2(corpus, queries, vecCol, idCol)
    val cands = ivfPqTopKM(corpusM, queriesM, m, k,
        nCells, nProbe, rerankDepth, iters, excludeSelf, residual,
        dim / m)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpusM, queriesM, cands, topK)
  }

  /** SemDeDup — semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means partitions the corpus into cells so the
    * O(n²) cosine comparison never crosses a cell boundary; a vector is
    * then dropped when a LOWER-ID vector in the same cell is similar
    * above `threshold`. The "exists a lower-id similar neighbor" rule
    * (rather than the paper's sequential greedy sweep) keeps the drop
    * decision a pure semi-join: deterministic, partitioning-independent
    * and exactly replayable in external SQL.
    *
    * Output: `(vec_id, cluster, kept)` — kept ∈ {0,1}, one row per
    * non-null-vector input (null embeddings are excluded by the Lloyd
    * core — see [[kmeansAssign]]).
    *
    * 100 TB shape: the only pairwise work is an equi-join on the cell id
    * (cell occupancy ≈ N/k — scale `k` with the corpus so cells stay
    * bounded); the drop set is an aggregation of the much smaller pair
    * stream and rejoins by id. Cell assignment reuses [[kmeansAssign]]'s
    * integer-exact centroid math, so it is bit-deterministic too.
    */
  def semDedup(df: DataFrame, vecCol: String, idCol: String,
      k: Int, threshold: Double, iters: Int = 2): DataFrame = {
    // the lloyd core already carries the vector with the assignment (no
    // corpus rejoin), and the frame is referenced THREE times below
    // (both pair-join sides + the final keep join) — materialize it once
    // so the iterative k-means lineage is never re-derived per branch
    val m = lloyd(df, vecCol, idCol, k, iters, scaleBits = 20,
        checkpointDir = None)
      .select(col("vec_id"), col("cid").as("cluster"), col("x").as("_x"))
      .withColumn("_n", Vectors.dot(col("_x"), col("_x")))
      .localCheckpoint()
    val a = m.select(col("cluster"), col("vec_id").as("_ida"),
      col("_x").as("_xa"), col("_n").as("_na"))
    val b = m.select(col("cluster"), col("vec_id").as("_idb"),
      col("_x").as("_xb"), col("_n").as("_nb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("_ida") < col("_idb"))
      .filter(Vectors.cosineFromParts(Vectors.dot(col("_xa"), col("_xb")),
        col("_na"), col("_nb")) >= threshold)
      .select(col("_idb").as("vec_id")).distinct()
    m.join(dropped.withColumn("_drop", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("_drop").isNull, 1).otherwise(0).cast("int").as("kept"))
  }

  /** Symmetric int8 quantization of an embedding column — the 4×
    * storage/bandwidth reduction step before ANN indexing at corpus
    * scale. Per-vector scale = max |x_i| (order-independent, exact);
    * `q_i = floor(x_i · 127 / scale + 0.5)` — floor of a fixed-order
    * IEEE expression, so the codes are bit-deterministic on any engine
    * (no round-half mode in sight). A zero vector quantizes to zeros.
    * Output: one row per dimension `(vec_id, pos, qval)` — integer
    * codes; reconstruct with `qval · scale / 127`.
    *
    * Scale shape: pure explode projection over the scan — no shuffle,
    * no state.
    */
  def quantizeInt8(df: DataFrame, vecCol: String,
      idCol: String): DataFrame = {
    val e = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("_x"))
      .withColumn("_sc", aggregate(transform(col("_x"), x => abs(x)),
        lit(0.0), (a, b) => greatest(a, b)))
    e.select(col("vec_id"), col("_sc"),
        posexplode(col("_x")).as(Seq("pos", "_xv")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        when(col("_sc") === 0.0, lit(0L))
          .otherwise(floor(col("_xv") * lit(127.0) / col("_sc") + lit(0.5))
            .cast("long")).as("qval"))
  }

  /** Embedding outlier scoring against each row's OWN stratum centroid:
    * the per-group mean embedding (the same integer-exact
    * [[centroidUpdate]] bank the Lloyd core uses, so the centroid is
    * bit-deterministic) and each vector's fixed-order squared L2 to it.
    * Rows far from their stratum prototype are mislabeled/off-domain/
    * garbage candidates — the standard embedding-space curation gate
    * after language or domain tagging.
    *
    * Output: `(vec_id, <groupCol>, l2_centroid)` — one row per
    * non-null-vector input; compose with [[graft.functions.Quantiles]]
    * for a per-group percentile cut (the q99 band-gate pattern).
    *
    * Shape for scale: one (group, dim) integer-bank aggregation
    * (map-side combined, 24-byte partials), the tiny per-group centroid
    * table broadcast back onto the scan, distance map-side. Group
    * cardinality is assumed coarse (languages/domains), like the other
    * stratum operators.
    */
  def groupCentroidDistance(df: DataFrame, vecCol: String, idCol: String,
      groupCol: String): DataFrame = {
    val e = df.filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("cid"), col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("x"))
    val cents = centroidUpdate(e, (1L << 20).toDouble)
    e.join(broadcast(cents), Seq("cid"))
      .select(col("vec_id"), col("cid").as(groupCol),
        sqDist(col("x"), col("cv")).as("l2_centroid"))
  }

  /** Per-dimension standardization (z-scoring) of an embedding column —
    * the whitening-lite preprocessing step before clustering/ANN when
    * dimensions carry wildly different scales. Statistics are banked as
    * INTEGERS (the kmeans scaled-int trick, 2^10 per element so the
    * sum of SQUARES stays exactly double-representable at corpus
    * scale): per dimension `s = Σ floor(x·2^10)` and
    * `ss = Σ floor(x·2^10)²`, both exact under any aggregation order;
    * then `mean = s/(n·2^10)`, `E[x²] = ss/(n·2^20)`,
    * `var = E[x²] − mean²` and `z = (x − mean)/√var` are a handful of
    * fixed-order IEEE ops on exactly-representable integers —
    * bit-replayable on any engine. (The statistics describe the
    * 2^-10-quantized values — a documented, deterministic definition,
    * not an approximation of some engine-dependent float sum.)
    *
    * Output: `(vec_id, pos, zval)` — one row per (vector, dimension);
    * a zero-variance dimension yields NULL `zval` (guarded before the
    * sqrt so float cancellation can never produce NaN).
    *
    * Shape for scale: one narrow aggregation shuffle (dim rows of
    * 24-byte partials — map-side combined), the dim-row stats table
    * broadcast back onto the scan, and the z projection is map-side.
    * Sums use decimal(38,0) so a 10^12-row corpus cannot overflow the
    * integer banks.
    */
  def standardize(df: DataFrame, vecCol: String,
      idCol: String): DataFrame = {
    val e = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        posexplode(col(vecCol).cast("array<double>"))
          .as(Seq("pos", "_xv")))
    val sx = floor(col("_xv") * lit(1024.0)).cast("long")
    val stats = e
      .select(col("pos"), sx.as("_sx"))
      .groupBy(col("pos"))
      .agg(sum(col("_sx").cast("decimal(38,0)")).as("_s"),
        // decimal(19,0) holds ANY long (19 digits), and the 38-digit
        // product of two fits decimal(38,0) exactly — an 18-digit cast
        // would NULL (and silently drop from the sum) on |x| >= ~9e14
        sum(col("_sx").cast("decimal(19,0)") *
          col("_sx").cast("decimal(19,0)")).as("_ss"),
        count(lit(1)).as("_n"))
    val m = col("_s").cast("double") /
      (col("_n").cast("double") * lit(1024.0))
    val ex2 = col("_ss").cast("double") /
      (col("_n").cast("double") * lit(1048576.0))
    val varc = ex2 - m * m
    val std = when(varc > 0.0, sqrt(varc))
    e.join(broadcast(stats.select(col("pos"), m.as("_m"), std.as("_sd"))),
        Seq("pos"))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        ((col("_xv") - col("_m")) / col("_sd")).as("zval"))
  }

  /** Recall audit — the eval harness for the approximate family: given
    * a ground-truth neighbor relation (e.g. [[bruteForceTopK]]) and an
    * approximate one (LSH/IVF/PQ, any of them), report per query
    * `(query_id, n_true, n_approx, n_overlap, recall_permille)` where
    * recall = overlap against the TRUE top-k. Queries the approximate
    * index missed entirely (empty bucket) still report, with zeros —
    * silent misses are the failure mode this audit exists to catch.
    *
    * Scale shape: one semi equi-join on (query, neighbor) plus three
    * query-keyed counts — both inputs are top-k relations (≤ k rows
    * per query), so everything here is k·|queries|-sized regardless of
    * corpus size.
    */
  def recallAudit(truth: DataFrame, approx: DataFrame,
      queryCol: String = "query_id",
      neighborCol: String = "neighbor_id"): DataFrame = {
    val t = truth.select(col(queryCol).cast("long").as("query_id"),
      col(neighborCol).cast("long").as("_n"))
    val a = approx.select(col(queryCol).cast("long").as("query_id"),
      col(neighborCol).cast("long").as("_n"))
    val overlap = t.join(a, Seq("query_id", "_n"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("_ov"))
    t.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
      .join(a.groupBy(col("query_id")).agg(count(lit(1)).as("_na")),
        Seq("query_id"), "left")
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("_na"), lit(0L)).as("n_approx"),
        coalesce(col("_ov"), lit(0L)).as("n_overlap"),
        expr("(coalesce(_ov, 0) * 1000) div n_true")
          .as("recall_permille"))
  }

  /** Greedy k-center (farthest-point) selection + assignment — the
    * 2-approximation of Gonzalez (TCS 1985), the coreset/diverse-subset
    * selector of Sener & Savarese (ICLR 2018): seed with the smallest
    * id, then `k−1` times pick the point FARTHEST from its nearest
    * already-chosen center (ties to smallest id), finally assign every
    * point to its nearest center. Use it to pull a maximally-spread
    * eval/labeling subset out of an embedded corpus — the opposite of
    * [[semDedup]]'s redundancy removal. Output: `(vec_id, center_id,
    * is_center)`, all integers (distances stay internal — float
    * outputs don't gate).
    *
    * Shape for scale: ZERO shuffles. Each round is one broadcast-free
    * scan — `_dmin` updates in place via `least(dmin, dist(x, newC))`
    * with the new center inlined as a literal (k·dim doubles on the
    * driver, bounded) — plus a `TakeOrderedAndProject(1)` reduction
    * for the next center; the final assignment is the same map-side
    * codegen'd argmin kernel k-means uses ([[NearestCentroid]] over a
    * k-row broadcast codebook). The `(vec_id, x, _dmin)` relation is
    * MATERIALIZED every round (the [[graft.operators.Dedup.connectedComponents]]
    * pattern: `localCheckpoint` by default, reliable `checkpoint` when
    * `checkpointDir` is given) so round r scans a flat one-projection
    * plan over the previous round's blocks — total work is k·n·d, not
    * the k²·n·d/2 an unmaterialized `withColumn` chain would
    * re-evaluate, and analyzer/codegen cost stays flat instead of
    * growing with a k-deep projection stack.
    * Distances are fixed-order double arithmetic (`dot(x,x) −
    * 2·dot(x,c) + dot(c,c)`), so winners replay bit-exactly in any
    * engine — the q155 oracle unrolls the rounds in DuckDB.
    *
    * Contract: `k` should not exceed the number of DISTINCT vectors —
    * once every point is at distance 0 from a chosen center, further
    * rounds re-pick an existing point and the center set stops
    * growing meaningfully (deterministic, but not k distinct centers).
    */
  def kCenterAssign(df: DataFrame, vecCol: String, idCol: String,
      k: Int, checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && k <= 1024, s"k must be in [1, 1024], got $k")
    checkpointDir.foreach(
      Checkpoints.bindDir(df.sparkSession.sparkContext, _))
    val reliable = checkpointDir.isDefined
    def mat(d: DataFrame): DataFrame =
      if (reliable) d.checkpoint() else d.localCheckpoint()
    // materialized ONCE: both the per-round scans and the final
    // assignment pass read this relation; without it every round would
    // re-run the upstream projection/filter over the source
    val e = mat(df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("x"))
      .filter(col("x").isNotNull))
    def distTo(cv: Seq[Double]): Column = {
      val cl = typedLit(cv)
      Vectors.dot(col("x"), col("x")) -
        lit(2.0) * Vectors.dot(col("x"), cl) + lit(cv.map(v => v * v).sum)
    }
    val first = e.orderBy(col("vec_id")).limit(1)
      .collect().headOption.getOrElse(
        throw new IllegalArgumentException("k-center needs >= 1 vector"))
    var centers = List[(Long, Seq[Double])](
      (first.getLong(0), first.getSeq[Double](1)))
    // per-round materialization: round r's plan is ONE `least`
    // projection over round r-1's checkpointed blocks — O(k) total
    // scans and a flat plan, vs O(k²) recomputed distances and a
    // k-deep projection stack if the withColumn lineage accumulated
    var ds = mat(e.withColumn("_dmin", distTo(centers.head._2)))
    var r = 1
    while (r < k) {
      val next = ds.orderBy(col("_dmin").desc, col("vec_id").asc)
        .limit(1).select(col("vec_id"), col("x")).collect().head
      centers = (next.getLong(0), next.getSeq[Double](1)) :: centers
      ds = mat(ds.withColumn("_dmin",
        least(col("_dmin"), distTo(centers.head._2))))
      r += 1
    }
    val spark = df.sparkSession
    import spark.implicits._
    val cents = centers.reverse.toDF("cid", "cv")
    val codebook = cents.agg(array_sort(
      collect_list(struct(col("cid"), col("cv")))).as("_cl"))
    val centerIds = centers.map(_._1)
    e.crossJoin(broadcast(codebook))
      .select(col("vec_id"),
        graft.functions.NearestCentroid.column(col("x"), col("_cl"))
          .as("center_id"),
        col("vec_id").isin(centerIds: _*).cast("int").as("is_center"))
  }
}
