package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.cep.{Absence, Cep, Logical, PatternDef, Step}
import graft.functions.{Hashing, Text, Vectors}
import graft.operators.{AsofJoin, Bpe, Classifier, Dedup, EventTable, HtmlOps, Multimodal, RangeJoin, Rollup, Similarity, TextOps, UrlOps, Validate, Windows}

/** Typed event row used by the CEP queries (events table, ts in µs). */
case class Evt(event_id: Long, ts_us: Long, user_id: Long,
    event_type: String, value: Double)

/** (user, first event id, second event id) pattern-match output. */
case class PairOut(user_id: Long, a_id: Long, b_id: Long)

/** `a -> (b or c)` output: exactly one of b_id/c_id is set. */
case class OrOut(user_id: Long, a_id: Long, b_id: Option[Long], c_id: Option[Long])

/** Absence-alert output: click with no purchase inside the window. */
case class AbsOut(user_id: Long, a_id: Long, alert_us: Long)

/** Quantifier output exposing `a[0]`/`a[1]` array access. */
case class QuantOut(user_id: Long, a0_id: Long, a1_id: Long, b_id: Long)

/** Routed-union envelope event for cross-stream patterns (A2/A3). */
case class EnvEvt(stream_id: String, event_id: Long, ts_us: Long,
    user_id: Long, value: Double)

/** Driver contract — see SURVEY.md §2 for the operator inventory each
  * query exercises. Every query has a DuckDB-equivalent oracle in
  * [[SparkEntry.oracleSql]] unless the kernel is not SQL-expressible
  * (MinHash/SimHash signatures, LSH bucketing, rolling-hash fingerprints),
  * in which case determinism is guaranteed by fixed seeds and the
  * semantics are unit-tested in src/test.
  */
object SparkEntry {

  private def ld(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** events with a µs epoch column — the engine's canonical event-time
    * representation (reference keeps long millis; we keep µs to preserve
    * the parquet timestamps' full precision).
    *
    * The events table stores `ts` as TIMESTAMP(MICROS), which Spark
    * reads as `TimestampNTZ`; [[Tables.eventsTsUs]] derives both a µs
    * epoch and a proper TimestampType column from it.
    */
  private def evts(s: SparkSession, dir: String): DataFrame =
    Tables.eventsTsUs(s, dir)

  private def evtsTyped(s: SparkSession, dir: String) = {
    import s.implicits._
    evts(s, dir)
      .select($"event_id", $"ts_us", $"user_id", $"event_type", $"value")
      .as[Evt]
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_groupby_agg")(spark, "/root/testdata/sf0.001")

  // -------------------------------------------------------------------
  //  queries — one per implemented operator family from SURVEY.md §2
  // -------------------------------------------------------------------

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // B2+B4: filter predicate + projection with alias
    "q01_filter_project" -> ((s, dir) => {
      evts(s, dir)
        .filter(col("value") > 0.5 && col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 6).as("value_r"))
    }),

    // B13+B14: group-by aggregation (sum/avg/count/min/max)
    "q02_groupby_agg" -> ((s, dir) => {
      ld(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 6).as("sum_qty"),
          round(sum(col("l_extendedprice")), 6).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
    }),

    // B15: having (post-aggregation filter)
    "q03_having" -> ((s, dir) => {
      evts(s, dir)
        .groupBy(col("user_id"))
        .agg(round(avg(col("value")), 6).as("avg_value"),
          count(lit(1)).as("n"))
        .filter(col("avg_value") > 0.5)
    }),

    // B8: tumbling time window (timeBatch) — daily per event_type
    "q04_window_tumbling" -> ((s, dir) => {
      evts(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_v"))
    }),

    // B7: sliding time window (#window.time) — per-event trailing 5 min
    "q05_window_time" -> ((s, dir) => {
      val e = evts(s, dir)
      val w = Windows.time(Seq(col("user_id")), col("ts_us"), 300000000L)
      e.select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_5m"),
        round(sum(col("value")).over(w), 6).as("sum_5m"))
    }),

    // B6: count window (#window.length(5)) — trailing 5 rows per user
    "q06_window_length" -> ((s, dir) => {
      val e = evts(s, dir)
      val w = Windows.length(Seq(col("user_id")), col("ts_us"), col("event_id"), 5)
      e.select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_last5"),
        round(sum(col("value")).over(w), 6).as("sum_last5"))
    }),

    // B8: count batch window (#window.lengthBatch(10)) per user
    "q07_window_lengthbatch" -> ((s, dir) => {
      val e = evts(s, dir)
      val bid = Windows.lengthBatchId(
        Seq(col("user_id")), col("ts_us"), col("event_id"), 10)
      e.withColumn("batch_id", bid)
        .groupBy(col("user_id"), col("batch_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_v"),
          min(col("event_id")).as("first_id"))
    }),

    // B14 tail: maxForever/minForever — running extrema per user
    "q08_forever_agg" -> ((s, dir) => {
      val e = evts(s, dir)
      val w = Windows.forever(Seq(col("user_id")), col("ts_us"), col("event_id"))
      e.select(col("event_id"), col("user_id"),
        round(max(col("value")).over(w), 6).as("max_forever"),
        round(min(col("value")).over(w), 6).as("min_forever"))
    }),

    // B10: windowed stream-stream join (time-range condition, equi on key)
    "q09_join_window" -> ((s, dir) => {
      val e = evts(s, dir)
      val a = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("a_id"), col("ts_us").as("a_us"))
      val b = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("b_id"), col("ts_us").as("b_us"))
      a.join(b, Seq("user_id"))
        .filter(col("b_us") >= col("a_us") - 60000000L &&
          col("b_us") <= col("a_us") + 60000000L)
        .select(col("user_id"), col("a_id"), col("b_id"))
    }),

    // B12: stream–table join (broadcast small dimension) + agg
    "q10_join_stream_table" -> ((s, dir) => {
      val li = ld(s, dir, "lineitem")
      val part = ld(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
          count(lit(1)).as("n"))
    }),

    // A3+B5: stream union (multiple queries into one output stream)
    "q11_union" -> ((s, dir) => {
      val e = evts(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), lit("c").as("tag"))
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id"), lit("v").as("tag"))
      clicks.unionByName(views)
    }),

    // B22: scalar functions & expressions
    "q12_scalar_fns" -> ((s, dir) => {
      evts(s, dir).select(
        col("event_id"),
        coalesce(nullif(col("event_type"), lit("error")), lit("ERR")).as("et"),
        when(col("value") > 0.5, "hi").otherwise("lo").as("bucket"),
        floor(col("value") * 100).cast("long").as("cents"),
        round(greatest(col("value"), lit(0.5)), 6).as("hi_val"),
        round(abs(col("value") - lit(0.5)), 6).as("dist"),
        concat(col("event_type"), lit("_"), col("user_id").cast("string")).as("tagged"),
        upper(substring(col("event_type"), 1, 3)).as("pre"),
        (col("event_id") % 7).as("mod7"))
    }),

    // B14: distinctCount + stdDev per event_type
    "q13_distinct_stddev" -> ((s, dir) => {
      evts(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          round(stddev_pop(col("value")), 6).as("sd_value"),
          count(lit(1)).as("n"))
    }),

    // B16+B19: pattern followed-by with `within` (CEP NFA, batch mode)
    "q14_pattern_followedby" -> ((s, dir) => {
      import s.implicits._
      val pat = PatternDef[Evt](IndexedSeq(
        Step[Evt]("a", _.event_type == "click"),
        Step[Evt]("b", _.event_type == "purchase")),
        withinMs = Some(600000000L)) // µs domain: 10 min
      Cep.batch[Evt, Long, PairOut](
        evtsTyped(s, dir), _.user_id, pat, _.ts_us,
        Seq(col("ts_us"), col("event_id"))) {
        (k, m) => Iterator.single(
          PairOut(k, m.head("a").event_id, m.head("b").event_id))
      }.toDF()
    }),

    // B18: sequence (strict succession) within 5 min
    "q15_pattern_sequence" -> ((s, dir) => {
      import s.implicits._
      val pat = PatternDef[Evt](IndexedSeq(
        Step[Evt]("a", _.event_type == "view"),
        Step[Evt]("b", _.event_type == "click", strict = true)),
        withinMs = Some(300000000L))
      Cep.batch[Evt, Long, PairOut](
        evtsTyped(s, dir), _.user_id, pat, _.ts_us,
        Seq(col("ts_us"), col("event_id"))) {
        (k, m) => Iterator.single(
          PairOut(k, m.head("a").event_id, m.head("b").event_id))
      }.toDF()
    }),

    // B18: strict pair of identical step predicates (error, error)
    "q16_pattern_double_error" -> ((s, dir) => {
      import s.implicits._
      val pat = PatternDef[Evt](IndexedSeq(
        Step[Evt]("a", _.event_type == "error"),
        Step[Evt]("b", _.event_type == "error", strict = true)))
      Cep.batch[Evt, Long, PairOut](
        evtsTyped(s, dir), _.user_id, pat, _.ts_us,
        Seq(col("ts_us"), col("event_id"))) {
        (k, m) => Iterator.single(
          PairOut(k, m.head("a").event_id, m.head("b").event_id))
      }.toDF()
    }),

    // B21: partition-with (per-value scoped aggregation; the groupBy key
    // IS the partition key — Catalyst inserts the hash shuffle, map-side
    // partial aggregation included)
    "q17_partition" -> ((s, dir) => {
      evts(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_v"))
    }),

    // LLM: exact dedup by key columns (hash groupBy, keep first)
    "q18_dedup_exact_key" -> ((s, dir) => {
      evts(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("keep_id"), count(lit(1)).as("n_dups"))
    }),

    // LLM: exact content dedup via normalized fingerprint (keeps all doc
    // ids that survive; documents are unique at this sf, so the oracle is
    // the identity set — planted-duplicate behavior is unit-tested)
    "q19_dedup_exact_content" -> ((s, dir) => {
      Dedup.exact(ld(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"))
    }),

    // LLM: n-gram (word trigram) distinct counts — the Jaccard building
    // block, fully SQL-expressible. The token array is materialized in
    // its own projection FIRST: inlining `split(regexp_replace(…))` into
    // every element_at of the (interpreted) transform lambda re-runs the
    // regex per trigram element — O(tokens²) regex work per document.
    "q20_ngram_counts" -> ((s, dir) => {
      val withToks = ld(s, dir, "documents").select(col("doc_id"),
        split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
          .as("_toks"))
      val toks = col("_toks")
      val n = size(toks)
      val grams = array_distinct(transform(
        sequence(lit(1), greatest(n - 2, lit(0))),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      withToks.select(col("doc_id"),
        when(n < 3, lit(0L)).otherwise(size(grams).cast("long")).as("n_trigrams"))
    }),

    // LLM text analysis: token counts + quality features
    "q21_text_quality" -> ((s, dir) => {
      val f = Text.qualityFeatures(col("text"))
      ld(s, dir, "documents").select(col("doc_id"),
        f.getField("n_tokens").cast("long").as("n_tokens"),
        round(f.getField("punct_ratio"), 6).as("punct_ratio"),
        round(f.getField("stopword_ratio"), 6).as("stopword_ratio"),
        round(f.getField("mean_token_len"), 6).as("mean_token_len"))
    }),

    // LLM text analysis: language identification (marker heuristic)
    "q22_langid" -> ((s, dir) => {
      ld(s, dir, "documents").select(col("doc_id"),
        Text.langId(col("text")).as("pred_lang"))
    }),

    // LLM: MinHash signature slots (deterministic; the oracle replicates
    // the mix64 char-fold + signed slot-min in DuckDB HUGEINT arithmetic)
    "q23_minhash_sigs" -> ((s, dir) => {
      ld(s, dir, "documents")
        .select(col("doc_id"),
          Hashing.minhashSig(col("text"), 5, 64).as("sig"))
        .select(col("doc_id"),
          element_at(col("sig"), 1).as("h0"),
          element_at(col("sig"), 2).as("h1"),
          element_at(col("sig"), 32).as("h31"),
          element_at(col("sig"), 64).as("h63"))
    }),

    // LLM: SimHash fingerprints (deterministic)
    "q24_simhash" -> ((s, dir) => {
      ld(s, dir, "documents")
        .select(col("doc_id"), Hashing.simhash(col("text")).as("sh"))
    }),

    // LLM: rolling-hash content fingerprint (deterministic)
    "q25_fingerprint" -> ((s, dir) => {
      ld(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
    }),

    // LLM: embedding near-duplicate pairs via the sign-bucket LSH join
    // (the 100 TB path: one equi-join shuffle on the bucket key, O(same-
    // bucket candidates) instead of the O(N²) all-pairs join). The oracle
    // replicates the deterministic hyperplane bucketing with the plane
    // values inlined as SQL literals, so the DuckDB result is exact —
    // no recall tolerance needed.
    "q26_embedding_pairs" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      Dedup.embeddingPairs(e, "embedding", "vec_id",
          dim = 64, threshold = 0.35, nPlanes = 8)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    // LLM: brute-force cosine top-k similarity search
    "q27_similarity_topk" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 50)
      Similarity.bruteForceTopK(e, queries, "embedding", "vec_id", 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // LLM: LSH-bucketed ANN (the 100 TB path; recall unit-tested)
    "q28_similarity_lsh" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 50)
      Similarity.lshTopK(e, queries, "embedding", "vec_id", 64, 3, nPlanes = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // LLM multimodal: opaque binary column plumbing — utf8 bytes as the
    // stand-in payload; length + md5 digest are engine-agnostic
    "q29_multimodal_binary" -> ((s, dir) => {
      ld(s, dir, "documents").select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("digest"))
    }),

    // B27: multi-granularity aggregation (hour within day)
    "q30_multi_granularity" -> ((s, dir) => {
      evts(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_v"))
    }),

    // B20: logical OR pattern — view followed by (purchase OR error)
    // within 10 min; exactly one of b_id/c_id binds per match
    "q31_pattern_or" -> ((s, dir) => {
      import s.implicits._
      val pat = PatternDef[Evt](IndexedSeq(
        Step[Evt]("a", _.event_type == "view"),
        Logical.or(Step[Evt]("b", _.event_type == "purchase"),
          Step[Evt]("c", _.event_type == "error"))),
        withinMs = Some(600000000L))
      Cep.batch[Evt, Long, OrOut](
        evtsTyped(s, dir), _.user_id, pat, _.ts_us,
        Seq(col("ts_us"), col("event_id"))) { (k, m) =>
        Iterator.single(OrOut(k, m.head("a").event_id,
          m.get("b").headOption.map(_.event_id),
          m.get("c").headOption.map(_.event_id)))
      }.toDF()
    }),

    // B20: absence pattern — click with NO purchase in the next 5 min
    // (the canonical CEP alerting shape; emits at the window deadline)
    "q32_absence" -> ((s, dir) => {
      import s.implicits._
      val pat = PatternDef[Evt](IndexedSeq(
        Step[Evt]("a", _.event_type == "click"),
        Absence(Step[Evt]("nb", _.event_type == "purchase"), 300000000L)))
      Cep.batch[Evt, Long, AbsOut](
        evtsTyped(s, dir), _.user_id, pat, _.ts_us,
        Seq(col("ts_us"), col("event_id"))) { (k, m) =>
        Iterator.single(AbsOut(k, m.head("a").event_id, m.endTs))
      }.toDF()
    }),

    // B20: logical AND pattern — error and purchase in either order
    // within 10 min; each side binds its first qualifying event
    "q33_pattern_and" -> ((s, dir) => {
      import s.implicits._
      val pat = PatternDef[Evt](IndexedSeq(
        Logical.and(Step[Evt]("a", _.event_type == "error"),
          Step[Evt]("b", _.event_type == "purchase"))),
        withinMs = Some(600000000L))
      Cep.batch[Evt, Long, PairOut](
        evtsTyped(s, dir), _.user_id, pat, _.ts_us,
        Seq(col("ts_us"), col("event_id"))) { (k, m) =>
        Iterator.single(PairOut(k, m.head("a").event_id, m.head("b").event_id))
      }.toDF()
    }),

    // B17: count quantifier <2:2> + indexed group access (`a[0]`, `a[1]`)
    // — two clicks then a purchase within 2 h of the first click
    "q34_quantifier" -> ((s, dir) => {
      import s.implicits._
      val pat = PatternDef[Evt](IndexedSeq(
        Step[Evt]("a", _.event_type == "click", minCount = 2, maxCount = 2),
        Step[Evt]("b", _.event_type == "purchase")),
        withinMs = Some(7200000000L))
      Cep.batch[Evt, Long, QuantOut](
        evtsTyped(s, dir), _.user_id, pat, _.ts_us,
        Seq(col("ts_us"), col("event_id"))) { (k, m) =>
        Iterator.single(QuantOut(k,
          m("a", 0).event_id, m("a", 1).event_id, m.head("b").event_id))
      }.toDF()
    }),

    // A2+A3+B16: cross-stream pattern over the routed union envelope —
    // two registered streams, pattern steps predicated on stream_id
    // (reference flagship: from every s1 = inputStream1[id == 2] ->
    // s2 = inputStream2[id == 3], SiddhiCEPITCase.java:343-348)
    "q35_cross_stream_pattern" -> ((s, dir) => {
      import s.implicits._
      val env = new GraftCEP(s)
      val e = evts(s, dir)
      env.registerStream("clicks_s", e.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts_us"), col("user_id"), col("value")))
      env.registerStream("purch_s", e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts_us"), col("user_id"), col("value")))
      val typed = env.routedUnion("clicks_s", "purch_s").toDF
        .select(col("_stream_id").as("stream_id"), col("event_id"),
          col("ts_us"), col("user_id"), col("value")).as[EnvEvt]
      val pat = PatternDef[EnvEvt](IndexedSeq(
        Step[EnvEvt]("a", ev => ev.stream_id == "clicks_s" && ev.value > 0.8),
        Step[EnvEvt]("b", _.stream_id == "purch_s")),
        withinMs = Some(600000000L))
      Cep.batch[EnvEvt, Long, PairOut](typed, _.user_id, pat, _.ts_us,
        Seq(col("ts_us"), col("event_id"))) { (k, m) =>
        Iterator.single(PairOut(k, m.head("a").event_id, m.head("b").event_id))
      }.toDF()
    }),

    // B9: session window (#window.session) — 30-min-gap sessions per
    // user, one aggregate row per session
    "q36_session_window" -> ((s, dir) => {
      val sess = Windows.withSessionId(evts(s, dir), Seq(col("user_id")),
        col("ts_us"), col("event_id"), 1800000000L)
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
          // Emit the exact BIGINT micro-sum and nothing else: every output
          // column is an integer, so no engine/DuckDB-version pair can
          // render a float differently and cross the hash boundary.
          // Semantics: sum of 6-decimal-rounded values (not a rounded sum)
          // — a deliberate parity contract with the oracle. Note Spark's
          // sum(LONG) stays LONG (throws on overflow under ANSI) while
          // DuckDB promotes BIGINT sums to HUGEINT; at micro-scale 1e6 and
          // |value|<=1 this needs >9e12 rows per session to diverge.
          sum(round(col("value") * 1e6).cast("long")).as("sum_v_micro"))
    }),

    // B9: sort window (#window.sort(n, attr)) — top-3 by value per user
    "q37_sort_window" -> ((s, dir) => {
      Windows.topN(evts(s, dir), Seq(col("user_id")),
          Seq(col("value").desc, col("event_id").asc), 3)
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("value_r"))
    }),

    // B9: frequent window (#window.frequent(n)) — 2 most frequent event
    // types per user
    "q38_frequent_window" -> ((s, dir) => {
      Windows.frequent(evts(s, dir), Seq(col("user_id")),
          col("event_type"), 2)
        .select(col("user_id"), col("event_type"), col("cnt"))
    }),

    // LLM multimodal: binary payload + typed metadata through the REAL
    // batched decode kernel (javax.imageio) — synthetic text payloads
    // aren't decodable images, so every row takes the deterministic
    // stub fallback and the oracle replicates it byte-for-byte; real
    // pixels are spec-covered (MultimodalSpec PNG fixture)
    "q39_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val bin = Multimodal.synthesize(ld(s, dir, "documents"), "text")
        .select(col("doc_id").as("id"), col("payload"))
        .as[Multimodal.BinAsset]
      Multimodal.decodeAssets(bin).toDF()
        .select(col("id").as("doc_id"), col("media_type"), col("width"),
          col("height"), col("n_frames"))
    }),

    // LLM multimodal: batched partition-wise byte-statistics kernel
    // (histogram entropy isn't SQL-expressible — rows-only; exact values
    // unit-tested in MultimodalSpec)
    "q40_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val bin = Multimodal.synthesize(ld(s, dir, "documents"), "text")
        .select(col("doc_id").as("id"), col("payload"))
        .as[Multimodal.BinAsset]
      Multimodal.byteFeatures(bin).toDF()
        .select(col("id").as("doc_id"), col("n_bytes"),
          round(col("mean_byte"), 6).as("mean_byte"),
          round(col("byte_entropy"), 6).as("byte_entropy"))
    }),

    // B11: left outer join through the environment DSL — customers with
    // their order count, keeping order-less customers (n_orders = 0)
    "q41_outer_join" -> ((s, dir) => {
      val env = new GraftCEP(s)
      env.registerStream("cust_v", ld(s, dir, "customer"))
      env.registerStream("ord_v", ld(s, dir, "orders"))
      env.from("cust_v")
        .join("ord_v", col("c_custkey") === col("o_custkey"), "left_outer")
        .toDF
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
    }),

    // B27: incremental rollup cascade — minute→hour→day, raw data
    // scanned once, coarser levels merge the finer level's partials
    "q42_rollup_cascade" -> ((s, dir) => {
      Rollup.cascade(evts(s, dir), col("ts"), col("value"),
          Seq("minute", "hour", "day"))
        .select(col("granularity"), col("bucket"),
          round(col("sum_v"), 6).as("sum_v"), col("n"))
    }),

    // As-of join (event enrichment): each click joined to the latest
    // prior-or-simultaneous view of the same user — one shuffle + one
    // running window, no range-join pair explosion
    "q43_asof_join" -> ((s, dir) => {
      val e = evts(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_us").as("c_us"))
      // dedup right ts per key for a deterministic as-of winner
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_id"))
      AsofJoin.asof(clicks, views, Seq("user_id"), "c_us", "ts_us",
          Seq("view_id"))
        .select(col("user_id"), col("click_id"),
          col("asof_view_id").as("view_id"))
    }),

    // Keyless range join: clicks inside any purchase's trailing 5-min
    // window, across ALL users — bucketed to an exact equi-join instead
    // of the planner's BroadcastNestedLoopJoin
    "q44_range_join" -> ((s, dir) => {
      val e = evts(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts_us").as("c_us"))
      val windows = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          (col("ts_us") - 300000000L).as("lo"), col("ts_us").as("hi"))
      RangeJoin.pointInInterval(clicks, windows, "c_us", "lo", "hi",
          bucketWidth = 300000000L)
        .select(col("click_id"), col("purchase_id"))
    }),

    // A5/B16 via the whole-operator Catalyst path: the MATCH_RECOGNIZE
    // custom LogicalPlan + SparkStrategy + SparkPlan (graft.plans). Same
    // semantics as q14 (click -> purchase within 10 min), same oracle —
    // but the physical plan declares distribution/ordering requirements,
    // so Catalyst plans ONE hash shuffle (elided entirely on
    // co-partitioned input) instead of the groupByKey encoder round-trip.
    "q45_match_recognize" -> ((s, dir) => {
      import graft.plans.MatchRecognize
      import graft.plans.MatchRecognize.EStep
      MatchRecognize(
        evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value")),
        Seq("user_id"), "ts_us", "event_id",
        Seq(EStep("a", col("event_type") === "click"),
          EStep("b", col("event_type") === "purchase")),
        withinTs = Some(600000000L))
        .select(col("user_id"),
          element_at(col("a"), 1).getField("event_id").as("a_id"),
          element_at(col("b"), 1).getField("event_id").as("b_id"))
    }),

    // B9 tail: #window.delay(5 min) joined with its own source — per
    // event, how many same-user events are already visible from the
    // delayed stream (ts+d <= event ts). One range frame, one shuffle.
    "q46_delay_window" -> ((s, dir) => {
      evts(s, dir).select(col("user_id"), col("event_id"),
        Windows.delayedVisibleCount(Seq(col("user_id")), col("ts_us"),
          300000000L).as("n_delayed_visible"))
    }),

    // LLM: IVF ANN — deterministic seed centroids inlined as literals
    // (map-side cell assignment, zero shuffle), nProbe=2 cells probed
    // per query, exact cosine inside cells. The oracle replicates the
    // whole index: same centroids, same assignment, same probes.
    "q47_similarity_ivf" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 50)
      Similarity.ivfTopK(e, queries, "embedding", "vec_id", 3,
          nCells = 16, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // Event table (`define table` + insert/update + stream-table join):
    // two upsert waves (orders before/after a date cutoff) build a
    // last-order-per-customer table; customers broadcast-join it. The
    // winner across waves = global max (o_orderdate, o_orderkey) because
    // wave 2's dates all exceed wave 1's — which is what the oracle
    // computes with one window.
    "q48_event_table_upsert" -> ((s, dir) => {
      val orders = ld(s, dir, "orders")
      val cutoff = to_date(lit("1995-01-01"))
      val t = EventTable("o_custkey")
      t.upsert(orders.filter(col("o_orderdate") < cutoff),
        Seq(col("o_orderdate"), col("o_orderkey")))
      t.upsert(orders.filter(col("o_orderdate") >= cutoff),
        Seq(col("o_orderdate"), col("o_orderkey")))
      ld(s, dir, "customer")
        .join(broadcast(t.toDF.select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"))), col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("o_orderkey").as("last_order"),
          round(col("o_totalprice"), 6).as("total_r"))
    }),

    // LLM multimodal: frame sampling — every 4th frame index of each
    // "video" asset from the decode metadata, exploded to the row shape
    // a batched frame decoder consumes
    "q49_multimodal_framesample" -> ((s, dir) => {
      Multimodal.synthesize(ld(s, dir, "documents"), "text")
        .select(col("doc_id"), Multimodal.decode(col("payload")).as("m"))
        .filter(col("m.media_type") === "video")
        .select(col("doc_id"),
          explode(Multimodal.frameSampleIndices(col("m.n_frames"), 4))
            .as("frame_idx"))
    }),

    // The composed training-data filter — quality gate, then language
    // gate, then exact dedup, in one plan: the end-to-end shape a 100 TB
    // pretraining pipeline runs. Quality/langid are pure projections
    // (pushed to the scan side); dedup is the single-pass projecting
    // variant, so the regex gates run ONCE and only (fp, id, n_tokens)
    // shuffles.
    "q50_training_filter" -> ((s, dir) => {
      val f = Text.qualityFeatures(col("text"))
      val gated = ld(s, dir, "documents")
        .withColumn("n_tokens", f.getField("n_tokens").cast("long"))
        .withColumn("punct_ratio", f.getField("punct_ratio"))
        .filter(col("n_tokens") >= 10 && col("punct_ratio") < 0.1)
        .filter(Text.langId(col("text")) === "en")
      Dedup.exactProject(gated, "text", "doc_id",
        Seq("doc_id", "n_tokens"))
    }),

    // B9: #window.timeLength(10 min, 5) — trailing scope bounded by BOTH
    // time and count; per event the window's size/min/max (exact doubles,
    // no accumulation order to disagree on)
    "q51_timelength_window" -> ((s, dir) => {
      val wv = Windows.timeLengthValues(Seq(col("user_id")), col("ts_us"),
        col("event_id"), 600000000L, 5, col("value"))
      evts(s, dir).select(col("user_id"), col("event_id"), wv.as("wv"))
        .select(col("user_id"), col("event_id"),
          size(col("wv")).as("n_win"),
          round(array_min(col("wv")), 6).as("min_v"),
          round(array_max(col("wv")), 6).as("max_v"))
    }),

    // B9: #window.unique(event_type) — latest event per (user, type)
    "q52_unique_window" -> ((s, dir) => {
      Windows.uniqueLatest(evts(s, dir), Seq(col("user_id")),
          col("event_type"), col("ts_us"), col("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          round(col("value"), 6).as("value_r"))
    }),

    // LLM text: token counting both ways — whitespace tokens and the
    // BPE-ish word-piece estimate (how a byte-pair tokenizer segments)
    "q53_token_counts" -> ((s, dir) => {
      ld(s, dir, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("ws_tokens"),
        Text.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
    }),

    // the SQL-standard MATCH_RECOGNIZE surface end-to-end: statement →
    // GraftSqlParser → MatchRecognize custom operator → same oracle as
    // the API-level q14/q45
    "q55_match_recognize_sql" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_events_view")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_events_view MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (a b)
          |  WITHIN 600000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // B16 + AFTER MATCH SKIP PAST LAST ROW through the SQL statement:
    // greedy NON-OVERLAPPING click→purchase pairs — after a match, the
    // NFA discards all partials and resumes after the purchase, so no
    // event participates in two matches (vs q14/q55 where every click
    // pairs with its next purchase). Oracle: p = next purchase of some
    // click; the match's click is the EARLIEST click whose next
    // purchase is p (provably the greedy leftmost pairing).
    "q56_mr_skip_past" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_skip_view")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_skip_view MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (a b)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // B20 alternation through the SQL statement — PATTERN (a (b|c))
    // maps onto a one-iteration alternation group; the unchosen side binds
    // zero events and its measure is NULL (try_element_at, never an
    // ANSI INVALID_ARRAY_INDEX). Same semantics as q31's API path.
    "q57_mr_alternation" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_alt_view")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_alt_view MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           c.event_id AS c_id
          |  PATTERN (a (b|c))
          |  WITHIN 600000000
          |  DEFINE a AS event_type = 'view',
          |         b AS event_type = 'purchase',
          |         c AS event_type = 'error'
          |)""".stripMargin))
    }),

    // SQL-standard ALL ROWS PER MATCH — one row per matched EVENT:
    // input columns ++ classifier (which variable bound it) ++
    // match_start/match_end ++ measures with FINAL semantics (the
    // whole-match value on every row). Same match set as q55, unpivoted
    // to its (click, purchase) event rows.
    "q58_mr_all_rows" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_allrows_view")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_allrows_view MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id
          |  ALL ROWS PER MATCH
          |  PATTERN (a b)
          |  WITHIN 600000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // Groups nested in groups: (a (b|c)){2,2} — each iteration is a
    // click followed by one view-or-error routed to its side's slot;
    // both iterations share the slots; then the first later purchase.
    "q180_mr_nested_group" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_nested_q180")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_nested_q180 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a1, LAST(a.event_id) AS a2,
          |           COUNT(b.*) AS n_b, FIRST(b.event_id) AS b1,
          |           FIRST(c.event_id) AS c1, d.event_id AS d_id
          |  PATTERN ((a (b|c)){2,2} d)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'error',
          |         d AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // Quantified alternation (a|b){2,2}: each iteration routes one
    // click-or-view event to its side's slot; committed below the
    // minimum, so the pair is the seed plus the immediately-next
    // click-or-view, then the first later purchase.
    "q178_mr_alt_quantified" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_altq_q178")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_altq_q178 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES COUNT(a.*) AS n_a, COUNT(b.*) AS n_b,
          |           FIRST(a.event_id) AS a1, FIRST(b.event_id) AS b1,
          |           c.event_id AS c_id
          |  PATTERN ((a|b){2,2} c)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // Quantified PERMUTE(a,b){2,2}: two any-order (click, view)
    // iterations sharing the a/b slots — iteration 1 is the seed plus
    // the first later opposite-type event, iteration 2 the next
    // click-or-view plus the first later event of ITS opposite type.
    "q179_mr_permute_quantified" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_permq_q179")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_permq_q179 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a1, LAST(a.event_id) AS a2,
          |           FIRST(b.event_id) AS b1, LAST(b.event_id) AS b2,
          |           c.event_id AS c_id
          |  PATTERN (PERMUTE(a, b){2,2} c)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // MEASURES MIN/MAX over a quantified variable's bound events —
    // selection over the slot array (exact parquet doubles, no
    // arithmetic), alongside FIRST/LAST which pick different rows.
    "q177_mr_min_max" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_minmax_q177")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_minmax_q177 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, MIN(v.value) AS min_vv,
          |           MAX(v.value) AS max_vv, FIRST(v.value) AS first_vv,
          |           LAST(v.value) AS last_vv
          |  PATTERN (a v{2,2})
          |  DEFINE a AS event_type = 'click',
          |         v AS event_type = 'view'
          |)""".stripMargin))
    }),

    // AFTER MATCH SKIP TO LAST <var> (SQL:2016's to-variable skip
    // mode): after each match, scanning resumes AT the row bound to b
    // — seeds between that row and the match end survive (unlike SKIP
    // PAST LAST ROW), seeds before it are consumed (unlike the SKIP TO
    // NEXT ROW overlap default). 876 matches vs 1722 overlap at sf0.01.
    "q176_mr_skip_to_var" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_skipto_q176")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_skipto_q176 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           c.event_id AS c_id
          |  AFTER MATCH SKIP TO LAST b
          |  PATTERN (a b c)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // Cross-variable DEFINE predicates (SQL:2016 running semantics):
    // the stock-ticker shape — any seed event, then the first later
    // event priced BELOW the seed, then the first later event priced
    // ABOVE the seed (recovery above the run's start), inside 2 h.
    // strt.value in down/up's DEFINE reads the event bound to strt in
    // the PARTIAL MATCH (the NFA's ctxPred path), not a lag column.
    "q175_mr_crossvar_define" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("value")).createOrReplaceTempView("mr_cv_q175")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_cv_q175 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES strt.event_id AS s_id, down.event_id AS d_id,
          |           up.event_id AS u_id
          |  PATTERN (strt down up)
          |  WITHIN 7200000000
          |  DEFINE strt AS true,
          |         down AS down.value < strt.value,
          |         up AS up.value > strt.value
          |)""".stripMargin))
    }),

    // SQL:2016 MATCH_NUMBER(): 1-based sequential match number within
    // the partition, leftmost-first — a post-operator row_number window
    // over the match relation (already hash-partitioned on user_id, so
    // only a local sort is added). Same greedy non-overlapping match
    // set as q56; the oracle numbers the same chain by match start.
    "q181_mr_match_number" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_mn_q181")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_mn_q181 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           MATCH_NUMBER() AS mn
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (a b)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
        .select(col("user_id"), col("a_id"), col("b_id"),
          col("mn").cast("long").as("mn"))
    }),

    // Quantified item INSIDE a group — (a+ b){2,2} on the recursive
    // Rx element (counter-augmented Thompson NFA): each iteration
    // collects every click up to the next purchase; two full
    // iterations emit. Deterministic per seed (disjoint predicates →
    // single automaton path), so the oracle chains rn=1 elections.
    "q182_mr_rx_quant_inner" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_rx_q182")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_rx_q182 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a_first, COUNT(a.*) AS n_a,
          |           LAST(b.event_id) AS b_last
          |  PATTERN ((a+ b){2,2})
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // Depth-2 PATTERN nesting — ((a b) c){2,2} d on the Rx element:
    // groups inside a quantified group, then a tail variable. With
    // {2,2} no intermediate boundary can advance early, so the whole
    // chain is six deterministic first-later elections (q180's oracle
    // pattern, two more links).
    "q183_mr_rx_depth2" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_rx_q183")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_rx_q183 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a_first,
          |           LAST(a.event_id) AS a_last,
          |           LAST(c.event_id) AS c_last, d.event_id AS d_id
          |  PATTERN (((a b) c){2,2} d)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase',
          |         d AS event_type = 'error'
          |)""".stripMargin))
    }),

    // Reluctant quantifier a+? under SKIP PAST LAST ROW: the lazy
    // form elects the SHORTEST same-start candidate — a binds only
    // the segment's first click (greedy a+ would bind them all), so
    // ALL ROWS emits exactly two rows per match. The match CHAIN
    // equals q56's greedy non-overlapping pairs (consumption depends
    // only on the match's start/end rows, which laziness preserves).
    "q184_mr_reluctant" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_rx_q184")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_rx_q184 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a_first
          |  ALL ROWS PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (a+? b)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // Round-13 composition: PREV navigation and a cross-variable
    // reference in ONE DEFINE — `up` must beat both its immediate
    // input predecessor (lag state) and the seed's value (binding
    // state). The q175 V-shape with the navigation condition added;
    // the oracle precomputes lag per user and adds the pv predicates.
    "q185_mr_cv_lag" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("value")).createOrReplaceTempView("mr_cvlag_q185")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_cvlag_q185 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES strt.event_id AS s_id, down.event_id AS d_id,
          |           up.event_id AS u_id
          |  PATTERN (strt down up)
          |  WITHIN 7200000000
          |  DEFINE strt AS true,
          |         down AS down.value < PREV(value),
          |         up AS up.value > PREV(value)
          |                AND up.value > strt.value
          |)""".stripMargin))
    }),

    // FIRST/LAST offsets over a SUBSET union in DEFINE (round-15
    // lift): the merged (ts, tie) order of s = (a, b) over a{2,2} b
    // is [a1, a2, b], so FIRST(s.value, 1) is the SECOND click's
    // value — purchases gate on it.
    "q210_mr_subset_offset" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_suboff_q210")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_suboff_q210 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a1_id,
          |           LAST(a.event_id) AS a2_id, b.event_id AS b_id,
          |           c.event_id AS c_id
          |  PATTERN (a{2,2} b c)
          |  SUBSET s = (a, b)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase'
          |           AND value > FIRST(s.value, 1)
          |)""".stripMargin))
    }),

    // The ISO SQL:2016 textbook ticker spelling VERBATIM (round-15
    // lift): var-qualified navigation in DEFINE — PREV(down.value)
    // navigates from down's bound row (for the variable being defined
    // the current row, so this equals q185's plain-PREV form and its
    // oracle transfers verbatim).
    "q209_mr_nav_var_qualified" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("value")).createOrReplaceTempView("mr_vqnav_q209")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_vqnav_q209 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES strt.event_id AS s_id, down.event_id AS d_id,
          |           up.event_id AS u_id
          |  PATTERN (strt down up)
          |  WITHIN 7200000000
          |  DEFINE strt AS true,
          |         down AS down.value < PREV(down.value),
          |         up AS up.value > PREV(up.value)
          |                AND up.value > strt.value
          |)""".stripMargin))
    }),

    // Aggregates over SUBSET-union EXPRESSION arguments in DEFINE
    // (round-16 lift): SUM(s.value * s.value) with s = (a, b) derives
    // one input column (value²) and expands per member — the purchase
    // completes only when the chain's sum of squares clears the gate
    // (the gate is independent of c's row, so it factors out of the
    // first-later-purchase election).
    "q211_mr_subset_expr_agg" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_sxagg_q211")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_sxagg_q211 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a1_id,
          |           LAST(a.event_id) AS a2_id, b.event_id AS b_id,
          |           c.event_id AS c_id
          |  PATTERN (a{2,2} b c)
          |  SUBSET s = (a, b)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase'
          |           AND SUM(s.value * s.value) >= 5000
          |)""".stripMargin))
    }),

    // Nested var-qualified navigation in DEFINE (round-16 lift):
    // PREV(FIRST(a.value)) anchors at a's FIRST binding — `up` gates
    // on the value of the row BEFORE the pair (the q209 lag machinery
    // read off the FIRST-selected binding instead of the last).
    "q212_mr_nested_nav" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("value")).createOrReplaceTempView("mr_nnav_q212")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_nnav_q212 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a1_id,
          |           LAST(a.event_id) AS a2_id, up.event_id AS u_id
          |  PATTERN (a{2,2} up)
          |  WITHIN 7200000000
          |  DEFINE a AS true,
          |         up AS value > PREV(FIRST(a.value))
          |)""".stripMargin))
    }),

    // Var-qualified references inside PREV(<expr>) in DEFINE
    // (round-16 lift): PREV(a.value * 2) = the doubled value of the
    // row before a's bound row — the derived column (value * 2)
    // lagged off a's binding via the q209 cross-var marker.
    "q213_mr_navx_var" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_navxv_q213")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_navxv_q213 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (a b)
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view'
          |           AND value > PREV(a.value * 2)
          |)""".stripMargin))
    }),

    // Navigation from a SUBSET union in DEFINE (round-16 lift):
    // PREV(s.value) anchors at the union's merged-LAST bound row —
    // the view here — so each purchase gates on the value of the row
    // BEFORE the chain's view (the same lag column q209 materializes,
    // folded through the union FIRST/LAST expansion).
    "q214_mr_subset_nav" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_subnav_q214")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_subnav_q214 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           c.event_id AS c_id
          |  PATTERN (a b c)
          |  SUBSET s = (a, b)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase'
          |           AND value > PREV(s.value)
          |)""".stripMargin))
    }),

    // Expression arguments inside the NESTED navigation form
    // (round-16 lift): PREV(FIRST(a.value * 2)) — the derived doubled
    // column lagged off a's FIRST binding (the q212 chain with a
    // doubled anchor).
    "q215_mr_nested_navx" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("value")).createOrReplaceTempView("mr_nnavx_q215")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_nnavx_q215 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a1_id,
          |           LAST(a.event_id) AS a2_id, up.event_id AS u_id
          |  PATTERN (a{2,2} up)
          |  WITHIN 7200000000
          |  DEFINE a AS true,
          |         up AS value > PREV(FIRST(a.value * 2))
          |)""".stripMargin))
    }),

    // Merged-order offsets BEYOND the first under the oracle gate
    // (q210 gates offset 1; the unit suite covers the deep forms):
    // over a{2,2} b{2,2} the merged order is [a1 a2 b1 b2], so
    // FIRST(s.value, 2) is the first view's value and LAST(s.value, 2)
    // the second click's — the purchase gates on BOTH selections.
    "q216_mr_subset_offset_deep" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_suboff2_q216")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_suboff2_q216 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a1_id,
          |           LAST(a.event_id) AS a2_id,
          |           FIRST(b.event_id) AS b1_id,
          |           LAST(b.event_id) AS b2_id, c.event_id AS c_id
          |  PATTERN (a{2,2} b{2,2} c)
          |  SUBSET s = (a, b)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase'
          |           AND value > FIRST(s.value, 2)
          |           AND value > LAST(s.value, 2)
          |)""".stripMargin))
    }),

    // Alternation of SEQUENCES (a b | c d) — the recursive grammar
    // beyond single-variable alternation: two disjoint two-step
    // chains share one pattern, the unmatched branch's measures are
    // NULL. Oracle: the union of the two q55-style first-successor
    // chains.
    "q186_mr_alt_seq" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_altseq_q186")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_altseq_q186 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a_id, LAST(b.event_id) AS b_id,
          |           FIRST(c.event_id) AS c_id, LAST(d.event_id) AS d_id
          |  PATTERN ((a b | c d))
          |  WITHIN 600000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase',
          |         d AS event_type = 'error'
          |)""".stripMargin))
    }),

    // Duplicate variable occurrences (a b a): both click rows share
    // ONE binding slot — FIRST(a)/LAST(a) span the two occurrences.
    // Oracle: the click→purchase→click first-successor chain.
    "q187_mr_dup_var" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_dupvar_q187")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_dupvar_q187 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a_first,
          |           LAST(a.event_id) AS a_last, b.event_id AS b_id
          |  PATTERN (a b a)
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // SQL:2016 running aggregates in DEFINE (round 13): x gates on the
    // AVG over another variable's full binding — evaluated inside the
    // NFA per partial (Step.ctxPred), not precomputable as a flag.
    "q188_mr_define_agg" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("value")).createOrReplaceTempView("mr_dagg_q188")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_dagg_q188 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(w.event_id) AS w1, LAST(w.event_id) AS w3,
          |           x.event_id AS x_id
          |  PATTERN (w{3,3} x)
          |  WITHIN 86400000000
          |  DEFINE w AS true,
          |         x AS x.value > AVG(w.value)
          |)""".stripMargin))
    }),

    // Running aggregate over the variable's OWN binding: s keeps
    // binding while its cumulative value stays under the cap (the
    // current row folds into the prior-binding sum marker).
    "q189_mr_define_own_sum" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("value")).createOrReplaceTempView("mr_dsum_q189")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_dsum_q189 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(s.event_id) AS s1, LAST(s.event_id) AS s2,
          |           e1.event_id AS e_id
          |  PATTERN (s{2,2} e1)
          |  WITHIN 86400000000
          |  DEFINE s AS SUM(s.value) <= 60.0,
          |         e1 AS true
          |)""".stripMargin))
    }),

    // SQL:2016 '^' start anchor (round 13): compiles to
    // PREV(ts,1) IS NULL on the head variable, sharing the operator's
    // window precompute — matches only start at the partition's first
    // row.
    "q190_mr_anchor_start" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_anc_q190")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_anc_q190 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (^ a b)
          |  WITHIN 86400000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // '$' end anchor: NEXT(ts,1) IS NULL on the tail variable — every
    // click within the window of the partition's FINAL row, when that
    // row is a purchase (relaxed matching pairs each such click).
    "q191_mr_anchor_end" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_anc_q191")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_anc_q191 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (a b $)
          |  WITHIN 86400000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // SQL:2016 FIRST/LAST logical offsets in MEASURES (round 13): the
    // (1+n)-th binding from either end of the variable's slot array;
    // out of range yields NULL (q86's two-click chain, offset reads).
    "q192_mr_nav_offsets" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_nav_q192")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_nav_q192 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a0_id,
          |           FIRST(a.event_id, 1) AS a1_id,
          |           LAST(a.event_id, 1) AS a1b_id,
          |           LAST(a.event_id, 3) AS oob_id,
          |           b.event_id AS b_id, COUNT(*) AS n_rows
          |  PATTERN (a{2,2} b)
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // SQL:2016 PREV/NEXT navigation in MEASURES (round 13): lag/lead
    // columns registered ahead of the operator and read off the bound
    // row — PREV(a.event_id) is the input row before the click in the
    // user's FULL timeline (bound or not), NEXT(FIRST(a.event_id))
    // the row after it, NEXT(b.event_id) the row after the purchase.
    "q193_mr_nav_prev_next" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_nav_q193")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_nav_q193 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           PREV(a.event_id) AS pa_id,
          |           NEXT(FIRST(a.event_id)) AS na_id,
          |           NEXT(b.event_id) AS nb_id
          |  PATTERN (a b)
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // MATCH_RECOGNIZE as a TABLE FACTOR (round 13, SQL:2016 7.6):
    // aggregate straight over the match relation — GROUP BY composes
    // through the factor-rewrite without a manual intermediate view.
    "q194_mr_factor_agg" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_f_q194")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT user_id, count(*) AS n_matches, min(a_id) AS first_a
          |FROM mr_f_q194 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (a b)
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)
          |GROUP BY user_id""".stripMargin))
    }),

    // Table factor + alias + JOIN: the match relation joins a derived
    // per-user aggregate of the SAME input in one statement.
    "q195_mr_factor_join" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_f_q195")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT m.user_id, m.a_id, m.b_id, u.n_ev
          |FROM mr_f_q195 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (a b)
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |) AS m
          |JOIN (SELECT user_id, count(*) AS n_ev
          |      FROM mr_f_q195 GROUP BY user_id) u
          |  ON m.user_id = u.user_id""".stripMargin))
    }),

    // Cross-variable DEFINE with a SQL:2016 logical offset (round 13):
    // the purchase gates on the SECOND click's timestamp —
    // FIRST(a.ts_us, 1) indexes into a's settled binding inside the
    // NFA (CtxRefSpec nav offset, batch codegen'd + streaming shared).
    "q196_mr_define_offset" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_cvo_q196")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_cvo_q196 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a0_id,
          |           FIRST(a.event_id, 1) AS a1_id,
          |           b.event_id AS b_id
          |  PATTERN (a{2,2} b)
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |           AND ts_us - FIRST(a.ts_us, 1) <= 600000000
          |)""".stripMargin))
    }),

    // PREV over an EXPRESSION in DEFINE (round 13): the purchase gates
    // on the previous input row's doubled value — the expression
    // materializes as a derived column and rides the shared lag
    // window (one shuffle with the operator).
    "q197_mr_prev_expr" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_px_q197")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_px_q197 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (a b)
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |           AND value < PREV(value * 2)
          |)""".stripMargin))
    }),

    // SUBSET union variable in DEFINE (round 13): the purchase gates
    // on MAX over the union of the click's and view's values — the
    // aggregate expands to per-member markers inside the NFA.
    "q198_mr_subset_define" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_sub_q198")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_sub_q198 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           c.event_id AS c_id
          |  PATTERN (a b c)
          |  SUBSET s = (a, b)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase'
          |           AND value > MAX(s.value)
          |)""".stripMargin))
    }),

    // MODE STRICT + quantifier: three CONSECUTIVE purchases (the
    // classic contiguous-streak query) — overlap default, so every
    // window of three adjacent purchase rows matches.
    "q205_mr_strict_streak" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_strict_q205")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_strict_q205 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(p.event_id) AS p1, FIRST(p.event_id, 1) AS p2,
          |           LAST(p.event_id) AS p3
          |  PATTERN (p{3,3})
          |  MODE STRICT
          |  DEFINE p AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // AFTER MATCH SKIP TO LAST <subset> (round-15 lift of the old
    // member-variable-only restriction): the resume row is the union's
    // merged-last bound member row. Over PATTERN (a b c) with
    // w = (a, b) that row is always the b row, so the match chain
    // equals q176's SKIP TO LAST b — resolved through the SUBSET
    // machinery end-to-end.
    "q206_mr_skip_to_subset" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_skipsub_q206")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_skipsub_q206 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           c.event_id AS c_id
          |  AFTER MATCH SKIP TO LAST w
          |  PATTERN (a b c)
          |  SUBSET w = (a, b)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // Composite-item PERMUTE with SIX members — beyond the old
    // 5-member k!-expansion cap, running on round 17's members-seen
    // bitmask automaton (the quantified first item forces the
    // composite Rx path rather than the dedicated plain n-ary
    // element). The sixth member splits 'error' by value so the six
    // predicates stay disjoint; under MODE STRICT a match is six
    // CONSECUTIVE rows carrying all six classes in any order.
    // 104 matches at sf0.01, 1010 at sf0.1.
    "q217_mr_permute6" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_perm6_q217")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_perm6_q217 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           c.event_id AS c_id, d.event_id AS d_id,
          |           e.event_id AS e_id, f.event_id AS f_id
          |  PATTERN (PERMUTE(a{1,1}, b, c, d, e, f))
          |  MODE STRICT
          |  DEFINE a AS event_type = 'click', b AS event_type = 'view',
          |         c AS event_type = 'purchase',
          |         d AS event_type = 'signup',
          |         e AS event_type = 'error' AND value <= 50,
          |         f AS event_type = 'error' AND value > 50
          |)""".stripMargin))
    }),

    // Mixed-variable navigation (round-19 lift of DIALECT exclusion
    // 1's mixed half): LAST(b.value - a.value) and
    // PREV(a.value + b.value) DISTRIBUTE per qualifier — each
    // reference anchors at its own variable's binding, the offsets at
    // its own anchor (the reference's `s1.x, s2.y` cross-attribute
    // select generalized with SQL:2016 selectors). Exercised in BOTH
    // DEFINE (the cross-variable comparison the standard's ticker
    // query needs) and MEASURES; under MODE STRICT a match is an
    // adjacent (click, view) pair with the view pricier than the
    // click, so the oracle is a lag/lead window.
    "q218_mr_mixed_nav" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_mixed_q218")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_mixed_q218 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           LAST(b.value - a.value) AS delta,
          |           PREV(a.value + b.value) AS psum
          |  PATTERN (a b)
          |  MODE STRICT
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view'
          |           AND LAST(b.value - a.value) > 0
          |)""".stripMargin))
    }),

    // Universal-anchor navigation (round 19): an UNQUALIFIED
    // expression argument in DEFINE navigation folds over ALL rows of
    // the match (ISO's universal row pattern variable, compiled onto
    // an implicit all-variables SUBSET). Under MODE STRICT a match is
    // an adjacent (click, view) pair; FIRST(value * 2) reads the
    // match's FIRST row (the click), and the nested
    // PREV(FIRST(value * 1)) the partition row before it — both
    // oracle as lag/lead windows.
    "q219_mr_universal_nav" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_univ_q219")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_univ_q219 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           LAST(value * 2) AS uend
          |  PATTERN (a b)
          |  MODE STRICT
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view'
          |           AND value > FIRST(value * 2)
          |           AND coalesce(PREV(FIRST(value * 1)), 0)
          |               < value * 10
          |)""".stripMargin))
    }),

    // String literals INSIDE navigation arguments (round 20): the
    // literal shield keeps the rewrite text contiguous, so a CASE
    // carrying dotted ('x.y') and `first(`-shaped literal content
    // inside mixed navigation parses and distributes per qualifier —
    // formerly the call was invisible to the rewriter (chunk-split on
    // quotes) and died as an unresolved function. The literals never
    // match (a is always 'click'), so the oracle is the plain
    // adjacent-pair lag/lead replay. BETWEEN in the DEFINE argument
    // exercises the shared expression-keyword set.
    "q220_mr_literal_nav" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_lit_q220")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_lit_q220 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           LAST(CASE WHEN a.event_type = 'x.y'
          |                THEN a.value
          |                ELSE b.value - a.value END) AS m_lit
          |  PATTERN (a b)
          |  MODE STRICT
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view'
          |           AND LAST(CASE WHEN a.event_type = 'first('
          |                    THEN a.value ELSE b.value END)
          |               BETWEEN -1e18 AND 1e18
          |)""".stripMargin))
    }),

    // Universal-anchor navigation over a SINGLE-variable pattern
    // (round 20): the implicit all-variables SUBSET then has ONE
    // member, and the union folds (FIRST/LAST/MIN/MAX over the merged
    // binding order) must degenerate to the member's own selectors —
    // the round-20 univNav fuzz draw caught least/greatest being
    // emitted with a lone argument here. With PATTERN (a) every
    // conjunct evaluates on the one-row match: LAST(value*2) >
    // FIRST(value*3) - value*2 reduces to value > 0; the subset
    // MIN/MAX/FIRST/LAST conjuncts are tautologies exercising each
    // fixed fold.
    "q221_mr_universal_single" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_usingle_q221")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_usingle_q221 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, LAST(value * 2) AS uend
          |  PATTERN (a)
          |  SUBSET u = (a)
          |  MODE STRICT
          |  DEFINE a AS event_type = 'click'
          |           AND LAST(value * 2) > FIRST(value * 3) - value * 2
          |           AND MAX(u.value) >= value
          |           AND MIN(u.value) <= value
          |           AND FIRST(u.value) = LAST(u.value)
          |)""".stripMargin))
    }),

    // Composite-item PERMUTE with FIVE members (round-15 cap lift
    // 4 -> 5; the quantified first item forces the k!-expansion path
    // rather than the dedicated plain n-ary element): under MODE
    // STRICT a match is five CONSECUTIVE rows carrying all five event
    // types in any order. 366 matches at sf0.01.
    "q208_mr_permute5" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_perm5_q208")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_perm5_q208 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           c.event_id AS c_id, d.event_id AS d_id,
          |           e.event_id AS e_id
          |  PATTERN (PERMUTE(a{1,1}, b, c, d, e))
          |  MODE STRICT
          |  DEFINE a AS event_type = 'click', b AS event_type = 'view',
          |         c AS event_type = 'purchase',
          |         d AS event_type = 'signup', e AS event_type = 'error'
          |)""".stripMargin))
    }),

    // Aggregate over an EXPRESSION argument in DEFINE (round-15 lift
    // of the single-column restriction): `MAX(a.value * 2)` compiles
    // to a derived input column + the existing running-marker
    // machinery — each click's first subsequent purchase priced above
    // TWICE the click's value, inside 2 h.
    "q207_mr_define_expr_agg" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_xagg_q207")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_xagg_q207 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (a b)
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |           AND value > MAX(a.value * 2)
          |)""".stripMargin))
    }),

    // MODE STRICT over a composite pattern: the alternation must bind
    // the IMMEDIATELY next row after the click (strictAll is one
    // NFA-level flag, so every pattern shape composes).
    "q204_mr_strict_alt" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_strict_q204")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_strict_q204 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, LAST(b.event_id) AS b_id,
          |           LAST(c.event_id) AS c_id
          |  PATTERN (a (b | c))
          |  MODE STRICT
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase',
          |         c AS event_type = 'view'
          |)""".stripMargin))
    }),

    // MODE STRICT: ISO SQL:2016 contiguous matching — the purchase
    // must be the IMMEDIATELY next event after the click, any
    // intervening row fails the attempt (the relaxed default would
    // skip it).
    "q203_mr_strict_mode" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_strict_q203")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_strict_q203 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (a b)
          |  MODE STRICT
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // Aggregates over EXPRESSIONS of one variable's row in MEASURES
    // (SUM(b.value * 2), AVG(b.value + 1), COUNT(b.value)) — HOF
    // folds over the slot array with SQL null-skip.
    "q202_mr_expr_agg" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_exagg_q202")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_exagg_q202 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, FIRST(b.event_id) AS b1,
          |           LAST(b.event_id) AS b2,
          |           SUM(b.value * 2) AS sv, AVG(b.value + 1) AS av,
          |           COUNT(b.value) AS nv
          |  PATTERN (a b{2,2})
          |  WITHIN 86400000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |           AND (LAST(b.value, 1) IS NULL
          |             OR value > LAST(b.value, 1))
          |)""".stripMargin))
    }),

    // SQL:2016 FIRST/bare(=LAST) over a SUBSET union in DEFINE: the
    // merged (ts, tie) binding order folds as a least/greatest over
    // per-member (ts, tie, value) structs — c gates on BOTH extremes
    // of s = (a, b) in one predicate.
    "q201_mr_subset_nav" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_sub_q201")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_sub_q201 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           c.event_id AS c_id
          |  PATTERN (a b c)
          |  SUBSET s = (a, b)
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view',
          |         c AS event_type = 'purchase'
          |           AND value > s.value
          |           AND value + FIRST(s.value) > 2 * s.value
          |)""".stripMargin))
    }),

    // SQL:2016 logical offsets on the variable BEING DEFINED:
    // LAST(b.value, 1) is the previous b binding (the current row is
    // tentatively the last), so b{2,2} chains two purchases with
    // strictly ascending values after each click.
    "q200_mr_own_offset" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
        .createOrReplaceTempView("mr_own_q200")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_own_q200 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, FIRST(b.event_id) AS b1,
          |           LAST(b.event_id) AS b2, LAST(b.value, 1) AS b1_v
          |  PATTERN (a b{2,2})
          |  WITHIN 86400000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |           AND (LAST(b.value, 1) IS NULL
          |             OR value > LAST(b.value, 1))
          |)""".stripMargin))
    }),

    // SQL:2016 exclusion over an arbitrary sub-pattern: {- (b|c) -}
    // suppresses whichever alternation branch matched; the a row keeps
    // the branch's measures (the other branch's stays NULL).
    "q199_mr_excl_alt" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_excl_q199")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_excl_q199 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES LAST(b.event_id) AS b_id, LAST(c.event_id) AS c_id
          |  ALL ROWS PER MATCH
          |  PATTERN (a {- (b | c) -})
          |  WITHIN 600000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase',
          |         c AS event_type = 'view'
          |)""".stripMargin))
    }),

    // SQL:2016 pattern exclusion {- b -}: the purchase still gates the
    // match and feeds the measure, but its row leaves ALL ROWS output.
    "q174_mr_exclusion" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_excl_q174")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_excl_q174 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES LAST(b.event_id) AS b_id
          |  ALL ROWS PER MATCH
          |  PATTERN (a {- b -})
          |  WITHIN 600000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // SQL:2016 SUBSET union variable: w = (a, b) interleaves both
    // variables' events back into (ts, tie) order for the measures.
    "q173_mr_subset" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_subset_q173")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_subset_q173 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(w.event_id) AS w_first,
          |           LAST(w.event_id) AS w_last, COUNT(w.*) AS w_n
          |  PATTERN (a b)
          |  SUBSET w = (a, b)
          |  WITHIN 600000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // SQL:2016 PREV() navigation in DEFINE — the stock-ticker V-shape:
    // any event, then the first later price-drop row, then the first
    // later price-rise row, inside a 2 h window. PREV(value) compiles
    // to a lag column over the operator's own (keys, ts, tie) order.
    "q172_mr_prev_define" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("value")).createOrReplaceTempView("mr_prev_q172")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_prev_q172 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES strt.event_id AS s_id, down.event_id AS d_id,
          |           up.event_id AS u_id
          |  PATTERN (strt down up)
          |  WITHIN 7200000000
          |  DEFINE strt AS true,
          |         down AS value < PREV(value),
          |         up AS value > PREV(value)
          |)""".stripMargin))
    }),

    // RUNNING measures in ALL ROWS mode: per exploded row, aggregates
    // over only the bindings at-or-before it in (ts, tie) order — the
    // FINAL count repeats per match while run_nv/run_last grow.
    "q171_mr_running" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_running_q171")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_running_q171 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES COUNT(v.*) AS final_nv,
          |           RUNNING COUNT(v.*) AS run_nv,
          |           RUNNING LAST(v.event_id) AS run_last
          |  ALL ROWS PER MATCH
          |  PATTERN (a v{2,2})
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         v AS event_type = 'view'
          |)""".stripMargin))
    }),

    // SQL:2016 ALL ROWS PER MATCH WITH UNMATCHED ROWS — q58's event
    // rows plus every input row bound into NO match, NULL classifier /
    // bounds / measures (one left-anti join on the (keys, ts, tie)
    // row identity).
    "q170_mr_unmatched_rows" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_unmatched_q170")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_unmatched_q170 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id
          |  ALL ROWS PER MATCH WITH UNMATCHED ROWS
          |  PATTERN (a b)
          |  WITHIN 600000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // LLM dedup: cluster resolution — connected components over the
    // q26 near-duplicate pair graph (min-label propagation with pointer
    // jumping, O(log n) shuffle rounds). Every vector gets its cluster's
    // minimum member id; singletons are their own cluster; is_canonical
    // marks the one row per cluster a keep-one retention policy keeps.
    "q59_dedup_clusters" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val pairs = Dedup.embeddingPairs(e, "embedding", "vec_id",
        dim = 64, threshold = 0.35, nPlanes = 8)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      e.select(col("vec_id"))
        .join(clusters, col("vec_id") === clusters("id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
        .withColumn("is_canonical",
          (col("vec_id") === col("cluster_id")).cast("int"))
    }),

    // LLM quality: Gopher-style repetition signals (word-level — the
    // documents corpus has no newlines). Filters downstream drop docs
    // whose top word/bigram fraction is too high.
    "q60_repetition_stats" -> ((s, dir) => {
      TextOps.repetitionStats(ld(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // LLM compliance: PII detection + redaction. The corpus itself is
    // PII-free word soup, so both engines derive the same synthetic
    // contact line per doc (deterministic from doc_id), then count and
    // redact it; the md5 of the redacted text proves byte equality.
    "q61_pii_redaction" -> ((s, dir) => {
      val t = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      val (nEmails, nPhones) = TextOps.piiCounts(col("_t"))
      ld(s, dir, "documents").select(col("doc_id"), t.as("_t"))
        .select(col("doc_id"), nEmails.as("n_emails"),
          nPhones.as("n_phones"),
          md5(TextOps.piiRedact(col("_t")).cast("binary"))
            .as("redacted_digest"))
    }),

    // LLM curation: deterministic stratified sampling — keep 10% of
    // English docs, 25% of everything else, selected by a splitmix64
    // hash of doc_id so the survivor set is engine- and
    // partitioning-independent (oracle replays the same hash in
    // HUGEINT arithmetic).
    "q62_stratified_sample" -> ((s, dir) => {
      TextOps.stratifiedSample(
        ld(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 100), defaultPerMille = 250)
    }),

    // LLM eval hygiene: benchmark decontamination — flag docs sharing
    // any word 4-gram with the benchmark subset (doc_id % 50 == 0);
    // the benchmark gram set is broadcast, the corpus is scanned once.
    "q63_decontamination" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      TextOps.decontaminate(docs,
          docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          "text", "doc_id", n = 4)
        .withColumnRenamed("id", "doc_id")
    }),

    // Distributed quantiles via the mergeable log-bucket histogram
    // aggregate (custom TypedImperativeAggregate, map-side combinable,
    // merge-order independent — unlike percentile_approx, the result is
    // bit-deterministic and externally replicable). Values scale to
    // exact micro-longs first; outputs are bucket lower bounds (BIGINT).
    "q64_quantile_hist" -> ((s, dir) => {
      import graft.functions.Quantiles
      evts(s, dir)
        .select(col("event_type"),
          round(col("value") * 1e6).cast("long").as("micros"))
        .groupBy(col("event_type"))
        .agg(Quantiles.qhist(col("micros")).as("h"))
        .select(col("event_type"),
          Quantiles.quantile(col("h"), 0.5).as("p50_lb"),
          Quantiles.quantile(col("h"), 0.9).as("p90_lb"),
          Quantiles.quantile(col("h"), 0.99).as("p99_lb"))
    }),

    // LLM multimodal: the REAL resize kernel (ImageIO + deterministic
    // nearest-neighbor resample); non-image payloads take the stub
    // fallback (aspect-fit + payload digest) the oracle replays
    "q54_multimodal_resize" -> ((s, dir) => {
      import s.implicits._
      val bin = Multimodal.synthesize(ld(s, dir, "documents"), "text")
        .select(col("doc_id").as("id"), col("payload"))
        .as[Multimodal.BinAsset]
      Multimodal.resizeAssets(bin, 224, 224).toDF()
        .select(col("id").as("doc_id"), col("out_w"), col("out_h"),
          col("content_digest"))
    }),

    // LLM dedup: exact word-3-gram Jaccard over MinHash-LSH candidates.
    // One band of FOUR signature rows (collision prob ≈ j⁴): a single
    // min-hash would bucket 78% of this shared-vocabulary corpus
    // together (the globally-minimal shingle is everywhere — measured:
    // 76k candidate pairs per 500 docs vs 424 with r=4), an O(n²)
    // blow-up at scale. Four slots keep the oracle affordable (same
    // per-slot template as q23) while candidates stay near-linear.
    // Outputs are the exact integer intersection/union sizes — the
    // jaccard double never crosses the hash gate.
    // NOTE: maxBucket = 0 (uncapped) is an ORACLE-PARITY config — the
    // external replay must see every candidate. A production call sets
    // maxBucket (> 0) so one degenerate band bucket can't go quadratic;
    // the cap path is exercised by DedupSpec's skew guard.
    "q65_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(ld(s, dir, "documents"), "text", "doc_id",
          ngram = 3, threshold = 0.5, numHashes = 4, bands = 1,
          maxBucket = 0)
        .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"))
    }),

    // Approximate distinct users per event type via the mergeable HLL
    // register sketch (custom TypedImperativeAggregate — map-side
    // combinable, merge-order independent, externally replicable).
    // Oracle-facing columns are the exact integer register summaries;
    // the estimate itself (graft_hll_estimate) is library surface,
    // accuracy-tested in HllSpec.
    "q66_hll_distinct" -> ((s, dir) => {
      import graft.functions.Hll
      evts(s, dir)
        .groupBy(col("event_type"))
        .agg(Hll.sketch(col("user_id")).as("regs"))
        .select(col("event_type"),
          aggregate(col("regs"), lit(0L), (acc, x) => acc + x.cast("long"))
            .as("sum_reg"),
          size(filter(col("regs"), _ === 0)).cast("long").as("n_zero"))
    }),

    // Deterministic per-stratum top-k sample (hash-order statistics as a
    // fixed-size reservoir): 5 docs per language, engine- and
    // partitioning-independent. The rank-limit filter exercises
    // Catalyst's WindowGroupLimit pushdown — map-side partial top-k
    // before the stratum shuffle (plan-asserted in TextOpsSpec).
    "q67_topk_sample" -> ((s, dir) => {
      TextOps.topKSample(
        ld(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", k = 5)
        .select(col("doc_id"), col("lang"), col("sample_rank"))
    }),

    // Chunk-level exact dedup (CCNet-style): 50-word chunks, corpus-wide
    // first-occurrence election per chunk fingerprint, novel-chunk
    // counts per doc.
    "q68_chunk_dedup" -> ((s, dir) => {
      TextOps.chunkDedupStats(ld(s, dir, "documents"), "text", "doc_id",
          chunkWords = 50)
        .withColumnRenamed("id", "doc_id")
    }),

    // Deterministic weighted sampling (data mixing): keep probability
    // ∝ n_chars/500 capped at 1 — longer docs survive more often, all
    // in exact integer math (scan-side filter, no shuffle).
    "q69_weighted_sample" -> ((s, dir) => {
      TextOps.weightedSample(
        ld(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", perMillionPerUnit = 2000L)
    }),

    // Per-segment heavy hitters via the mergeable Count-Min sketch
    // (custom TypedImperativeAggregate — map-side combinable, merge-
    // order independent, externally replicable). Width 32 FORCES
    // collisions on this 150-user corpus, so the oracle exercises the
    // estimate's min-over-rows upper bound, not just exact counting.
    // The sketch side is 5 rows (one per event_type) — broadcast; the
    // distinct-pair probe side never shuffles the sketch.
    "q70_countmin_heavy" -> ((s, dir) => {
      import graft.functions.CountMin
      val e = evts(s, dir)
      val sk = e.groupBy(col("event_type"))
        .agg(CountMin.sketch(col("user_id"), 4, 32).as("sk"))
      e.select(col("event_type"), col("user_id")).distinct()
        .join(broadcast(sk), Seq("event_type"))
        .select(col("event_type"), col("user_id"),
          CountMin.estimate(col("sk"), col("user_id"), 4).as("est"))
        .filter(col("est") >= 30)
    }),

    // Bloom-gated benchmark decontamination: the bench gram set
    // aggregates to ONE 8 KiB bloom row (map-side OR-combine),
    // broadcast into a map-side probe of the corpus — constant memory
    // regardless of bench size, false positives deterministic and
    // replayed exactly by the oracle's HUGEINT position math.
    "q71_bloom_decontaminate" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      TextOps.bloomDecontaminate(docs,
          docs.filter(col("doc_id") % 50 === 0), "text", "doc_id",
          n = 4, mBits = 1 << 16, k = 3)
        .withColumnRenamed("id", "doc_id")
    }),

    // Retention policy downstream of q59's near-dup clusters: keep the
    // highest-quality member per cluster (quality = n_chars here; any
    // scoring column works), ties to lowest id. "Drop the dupes" is
    // then a `keep = 1` filter. One rank window over the cluster hash
    // partitioning — the documents themselves never shuffle.
    "q72_cluster_retention" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val pairs = Dedup.embeddingPairs(e, "embedding", "vec_id",
        dim = 64, threshold = 0.35, nPlanes = 8)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val docs = ld(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val members = docs
        .join(clusters, docs("doc_id") === clusters("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("n_chars"), lit(0L)).as("_q"))
      Dedup.electRetention(members, "doc_id", "cluster_id", "_q")
        .select(col("doc_id"), col("cluster_id"), col("keep"))
    }),

    // Keyword relevance: BM25-family scoring (odds idf — no ln, so
    // every float op is basic IEEE in a fixed expression order and the
    // score doubles hash bit-identically on both engines). Top-10 via
    // TakeOrderedAndProject, not a global sort.
    "q73_bm25_rank" -> ((s, dir) => {
      TextOps.bm25Rank(ld(s, dir, "documents"), "text", "doc_id",
          Seq("join", "vector", "stream"), k1 = 1.2, b = 0.75, topK = 10)
        .withColumnRenamed("id", "doc_id")
    }),

    // Deterministic Lloyd k-means over the embeddings (k=8, 2 rounds):
    // integer-exact centroid accumulation (floor(x*2^20) longs), one
    // double division per coordinate, fixed-order distance expression —
    // every round replayed exactly by the SQL oracle.
    "q74_kmeans" -> ((s, dir) => {
      Similarity.kmeansAssign(ld(s, dir, "embeddings"), "embedding",
        "vec_id", k = 8, iters = 2)
    }),

    // Percentile-gated curation: the distributed quantile sketch (q64)
    // powering an actual filter decision — per-language p10 length
    // thresholds (exact integer bucket lower bounds, externally
    // replayed) broadcast into a scan-side keep flag. The corpus never
    // shuffles; only (lang, 960-bucket histogram) rows do.
    "q75_percentile_gate" -> ((s, dir) => {
      import graft.functions.Quantiles
      val docs = ld(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val th = docs.groupBy(col("lang"))
        .agg(Quantiles.qhist(col("n_chars")).as("h"))
        .select(col("lang"), Quantiles.quantile(col("h"), 0.1).as("p10_lb"))
      docs.join(broadcast(th), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("p10_lb"),
          (coalesce(col("n_chars"), lit(0L)) >= col("p10_lb"))
            .cast("int").as("kept"))
    }),

    // SemDeDup: k-means cells bound the O(n²) cosine comparison, then a
    // vector is dropped when a lower-id cell-mate is similar above the
    // threshold. Every float in the pipeline is the proven-exact q74 /
    // q26 arithmetic; the output is pure integers.
    "q76_semdedup" -> ((s, dir) => {
      Similarity.semDedup(ld(s, dir, "embeddings"), "embedding",
        "vec_id", k = 8, threshold = 0.3)
    }),

    // Sequence packing: documents → fixed token-budget training packs in
    // deterministic hash-shuffle order, sharded so the window cumsum
    // never concentrates a stratum in one task. Pure integer outputs.
    "q77_seq_packing" -> ((s, dir) => {
      TextOps.packSequences(ld(s, dir, "documents"), "text", "doc_id",
          "lang", budget = 2048, shards = 4)
        .withColumnRenamed("id", "doc_id")
    }),

    // Deterministic split + global-shuffle plan: per-mille hash split,
    // independently-salted shuffle key, output-file assignment — all
    // scan-side projections (zero shuffles at any corpus size).
    "q78_split_shuffle" -> ((s, dir) => {
      TextOps.splitAssign(ld(s, dir, "documents"), "doc_id",
          Seq(("train", 900), ("val", 50), ("test", 50)), nFiles = 16)
        .withColumnRenamed("id", "doc_id")
    }),

    // Salient terms: per-doc top-5 tf·idf keywords (ln-free odds idf —
    // bit-exact score doubles, stopwords self-suppress via df ≈ N).
    "q79_salient_terms" -> ((s, dir) => {
      TextOps.salientTerms(ld(s, dir, "documents"), "text", "doc_id",
          topK = 5)
        .withColumnRenamed("id", "doc_id")
    }),

    // Chunk-dedup rebuild: the deduplicated corpus itself — each doc's
    // text reassembled from only its corpus-wide first-occurrence chunks
    // (25-word chunks so sf0.01 actually exercises multi-chunk docs).
    "q80_chunk_rebuild" -> ((s, dir) => {
      TextOps.chunkDedupRebuild(ld(s, dir, "documents"), "text", "doc_id",
          chunkWords = 25)
        .withColumnRenamed("id", "doc_id")
    }),

    // Sliding-window chunking: 40-word windows every 20 words (RAG
    // splitter) — pure explode projection, no shuffle.
    "q81_sliding_chunks" -> ((s, dir) => {
      TextOps.slidingChunks(ld(s, dir, "documents"), "text", "doc_id",
          chunkWords = 40, strideWords = 20)
        .withColumnRenamed("id", "doc_id")
    }),

    // Corpus report card: the mergeable-sketch family composed in ONE
    // aggregation pass per language — count, three length quantiles
    // (qhist), distinct-fingerprint HLL register summary. One shuffle of
    // (lang, sketch-state) rows however large the corpus; every output
    // is an exact integer.
    "q84_corpus_profile" -> ((s, dir) => {
      import graft.functions.{Hll, Quantiles}
      ld(s, dir, "documents")
        .select(col("lang"), col("n_chars"),
          graft.functions.TextKernelExprs.polyHash(col("text")).as("_fp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          Quantiles.qhist(col("n_chars")).as("_h"),
          Hll.sketch(col("_fp")).as("_regs"))
        .select(col("lang"), col("n_docs"),
          Quantiles.quantile(col("_h"), 0.1).as("p10_lb"),
          Quantiles.quantile(col("_h"), 0.5).as("p50_lb"),
          Quantiles.quantile(col("_h"), 0.9).as("p90_lb"),
          aggregate(col("_regs"), lit(0L),
            (acc, x) => acc + x.cast("long")).as("sum_reg"),
          size(filter(col("_regs"), _ === 0)).cast("long").as("n_zero"))
    }),

    // Overlapping-window duplication stats: shift-robust exact span
    // dedup — sliding 30-word windows every 10, first-occurrence
    // election, duplicated-span exposure per doc.
    "q83_window_dup" -> ((s, dir) => {
      TextOps.windowDupStats(ld(s, dir, "documents"), "text", "doc_id",
          windowWords = 30, strideWords = 10)
        .withColumnRenamed("id", "doc_id")
    }),

    // Embedding int8 quantization: per-vector symmetric codes, pure
    // explode projection (no shuffle) — the 4× storage step before ANN.
    "q85_quantize_int8" -> ((s, dir) => {
      Similarity.quantizeInt8(ld(s, dir, "embeddings"), "embedding",
        "vec_id")
    }),

    // Mixture rebalancing: per-language keep-rates computed from
    // observed counts so the output hits 500/125/125/125/125 ‰ — en is
    // the binding stratum (kept fully), the rest downsample. Integer
    // math end-to-end; the corpus never shuffles.
    "q82_mixture_rebalance" -> ((s, dir) => {
      TextOps.rebalanceMixture(ld(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 500, "de" -> 125, "es" -> 125,
            "fr" -> 125, "zh" -> 125))
        .select(col("doc_id"), col("lang"), col("kept"))
    }),

    // B17 through the SQL statement: PATTERN (a{2,2} b) — the parser
    // maps variable quantifiers onto the NFA's Step(min,max), so the
    // SQL surface covers the same quantified patterns as the Scala API
    // (q34). Same semantics, same oracle.
    "q86_mr_quantifier_sql" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_quant_view")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_quant_view MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a0_id, LAST(a.event_id) AS a1_id,
          |           b.event_id AS b_id
          |  PATTERN (a{2,2} b)
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // IVF over a TRAINED codebook — the production ANN shape:
    // kmeansCentroids (the q74 rounds + one more integer-exact update)
    // trains the coarse quantizer, ivfTopKTrained inlines the trained
    // centroids into the map-side cell assignment and probes 2 cells.
    // The oracle replays the WHOLE index, training included.
    "q87_similarity_ivf_trained" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(e, "embedding", "vec_id",
        k = 8, iters = 2)
      Similarity.ivfTopKTrained(e, e.filter(col("vec_id") < 25), cents,
          "embedding", "vec_id", k = 3, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // B9/B28 cron end-to-end: the cron wall-clock field match
    // (cronPredicate — the kernel under #window.cron and cron triggers,
    // cronStream is this predicate over the rate source) as a per-event
    // flag — minute set, hour range, ISO weekday set and the wildcard
    // seconds all exercised; DuckDB replays the field match exactly.
    "q88_cron_predicate" -> ((s, dir) => {
      import graft.streaming.Emission
      val spec = Emission.CronSpec(seconds = Nil,
        minutes = Seq(0, 15, 30, 45), hours = (8 to 17).toSeq,
        daysOfWeek = Seq(1, 2, 3, 4, 5))
      evts(s, dir).select(col("event_id"),
        Emission.cronPredicate(col("ts"), spec).cast("int").as("fired"))
    }),

    // Product quantization: 64-dim embeddings → 2 subspace codes, each
    // subspace's codebook trained with the q74 integer-exact Lloyd
    // rounds over the SLICED vector (scan-side slice, map-side argmin).
    // The oracle replays both subspace pipelines end-to-end.
    "q89_pq_codes" -> ((s, dir) => {
      Similarity.pqCodes(ld(s, dir, "embeddings"), "embedding", "vec_id",
        dim = 64, m = 2, k = 4, iters = 2)
    }),

    // PQ asymmetric-distance search (ADC): compressed-domain top-3 for
    // the 25 lowest-id queries — map-side encoding, broadcast distance
    // tables, WindowGroupLimit top-k. The oracle replays codebook
    // training, encoding, the distance tables and the fixed-order
    // subspace sum.
    "q90_pq_adc_topk" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      Similarity.pqTopK(e, e.filter(col("vec_id") < 25), "embedding",
          "vec_id", dim = 64, m = 2, k = 4, topK = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("adc_dist"), 6).as("adc_dist"))
    }),

    // IVF-PQ: the production ANN composition — trained coarse cells
    // bound the candidate set (sub-linear), PQ ADC scores it in the
    // compressed domain. One map-side projection assigns cell + both
    // subspace codes; the oracle replays coarse training, cell probe,
    // PQ training, encoding and the ADC sum end-to-end.
    "q91_ivf_pq_topk" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 25), "embedding",
          "vec_id", dim = 64, m = 2, k = 4, nCells = 8, nProbe = 2,
          topK = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("adc_dist"), 6).as("adc_dist"))
    }),

    // Inverted-index export: per-term document frequency + the 64
    // lowest doc ids as a deterministic posting string — df counts ALL
    // postings so the cap is visible, never silent.
    "q92_inverted_index" -> ((s, dir) => {
      TextOps.invertedIndex(ld(s, dir, "documents"), "text", "doc_id",
        maxPostings = 64)
    }),

    // Containment-scored fuzzy decontamination: per (doc, benchmark
    // item) coverage of the item's distinct 4-grams — flagged when the
    // doc covers >= 80% (integer cross-multiply, no division). The
    // benchmark items themselves appear in the corpus, so full-coverage
    // self-pairs are guaranteed.
    "q93_containment_decontaminate" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      TextOps.containmentDecontaminate(docs,
          docs.filter(col("doc_id") % 50 === 0), "text", "doc_id",
          n = 4, tauPerMille = 800)
        .withColumnRenamed("id", "doc_id")
    }),

    // Residual IVF-PQ (Jégou §V full form): PQ quantizes x − c_cell —
    // per-(query, probed-cell) distance tables, per-element residual
    // subtracts all exact fixed-order IEEE. The oracle replays THREE
    // k-means pipelines (coarse + 2 residual subspaces), the residual
    // derivation, encoding, and the cell-keyed ADC sum.
    "q94_ivf_pq_residual" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 25), "embedding",
          "vec_id", dim = 64, m = 2, k = 4, nCells = 8, nProbe = 2,
          topK = 3, residual = true)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("adc_dist"), 6).as("adc_dist"))
    }),

    // PQ + exact re-rank (Jégou §V-D refine): a 10-deep ADC shortlist
    // per query, then exact fixed-order L2 over ONLY those candidates,
    // re-ranked to top-3 — compressed-domain recall, exact-domain final
    // order. The oracle replays the whole q90 ADC chain at depth 10,
    // then the exact-distance re-rank.
    "q95_pq_rerank" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      Similarity.pqRerank(e, e.filter(col("vec_id") < 25), "embedding",
          "vec_id", dim = 64, m = 2, k = 4, topK = 3, rerankDepth = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("l2_dist"), 6).as("l2_dist"))
    }),

    // Bigram-LM cross-entropy (the CCNet-class perplexity filter):
    // add-0.5-smoothed bigram stats trained on the corpus itself; each
    // doc's surprisal banked as floor(ln(p)·2^20) BIGINTs so the sum is
    // order-free exact and only the final -Σ/(n·2^20) divides.
    "q96_bigram_lm_entropy" -> ((s, dir) => {
      TextOps.bigramLmScore(ld(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // Fractional-epoch upsampling (2.3 epochs): every doc twice, plus a
    // salted-mix64 30% once more — zero-shuffle map-side explode.
    "q97_epoch_upsample" -> ((s, dir) => {
      TextOps.epochUpsample(ld(s, dir, "documents"), "doc_id",
          epochsPerMille = 2300)
        .withColumnRenamed("id", "doc_id")
    }),

    // Per-dimension embedding standardization: z-scores from
    // integer-banked stats (2^10-quantized sums/sum-of-squares), so the
    // unrounded doubles replay exactly — mean/var/sqrt/divide are
    // fixed-order ops on exactly-representable integers.
    "q98_embedding_standardize" -> ((s, dir) => {
      Similarity.standardize(ld(s, dir, "embeddings"), "embedding",
        "vec_id")
    }),

    // Perplexity band gate — the CCNet pipeline closed end-to-end:
    // bigram-LM entropy in integer milli-nats, per-lang p10/p90 via the
    // q64 mergeable qhist (thresholds broadcast back), keep the band
    // (drop boilerplate below p10 and gibberish above p90). The scored
    // relation feeds both the threshold agg and the gate — materialized
    // once (the semDedup lesson).
    "q99_perplexity_gate" -> ((s, dir) => {
      import graft.functions.Quantiles
      val docs = ld(s, dir, "documents")
      val scored = TextOps.bigramLmScore(docs, "text", "doc_id")
        .filter(col("n_bigrams") > 0)
        .select(col("id").as("doc_id"),
          floor(col("h_nats") * lit(1000.0)).cast("long").as("h_milli"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .localCheckpoint()
      val th = scored.groupBy(col("lang"))
        .agg(Quantiles.qhist(col("h_milli")).as("h"))
        .select(col("lang"),
          Quantiles.quantile(col("h"), 0.1).as("p10_lb"),
          Quantiles.quantileUb(col("h"), 0.9).as("p90_ub"))
      scored.join(broadcast(th), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("h_milli"),
          col("p10_lb"), col("p90_ub"),
          (col("h_milli") >= col("p10_lb") &&
            col("h_milli") < col("p90_ub")).cast("int").as("kept"))
    }),

    // IVF-PQ + exact refine — the full Faiss-style composition:
    // cell-bounded ADC shortlist of 8, exact L2 re-rank to top-3.
    "q100_ivf_pq_rerank" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      Similarity.ivfPqRerank(e, e.filter(col("vec_id") < 25), "embedding",
          "vec_id", dim = 64, m = 2, k = 4, nCells = 8, nProbe = 2,
          topK = 3, rerankDepth = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("l2_dist"), 6).as("l2_dist"))
    }),

    // Per-language vocabulary profile: tokens, vocab, hapax tail, top-10
    // head concentration — all integers, data-card material.
    "q101_vocab_profile" -> ((s, dir) => {
      TextOps.vocabProfile(ld(s, dir, "documents"), "text", "doc_id",
        "lang")
    }),

    // Embedding outliers: distance to the row's OWN language centroid
    // (integer-exact mean bank, broadcast back, map-side distance) —
    // the mislabeled/off-domain curation gate.
    "q104_embedding_outliers" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      val docs = ld(s, dir, "documents").select(col("doc_id"), col("lang"))
      val joined = e.join(docs, e("vec_id") === docs("doc_id"))
        .select(col("vec_id"), col("lang"), col("embedding"))
      Similarity.groupCentroidDistance(joined, "embedding", "vec_id",
          "lang")
        .select(col("vec_id"), col("lang"),
          round(col("l2_centroid"), 6).as("l2_centroid"))
    }),

    // DSIR importance weights: hashed unigram+bigram LLR of the src0
    // slice (target) against the whole corpus — integer surprisal banks.
    "q105_dsir_weights" -> ((s, dir) => {
      TextOps.dsirWeights(ld(s, dir, "documents"), "text", "doc_id",
          isTarget = col("source") === "src0")
        .withColumnRenamed("id", "doc_id")
    }),

    // DSIR Gumbel top-k resample: keep the 100 docs maximizing
    // logw + deterministic Gumbel noise — weighted sampling without
    // replacement that every engine elects identically.
    "q106_dsir_resample" -> ((s, dir) => {
      TextOps.dsirResample(ld(s, dir, "documents"), "text", "doc_id",
          isTarget = col("source") === "src0", k = 100)
        .withColumnRenamed("id", "doc_id")
    }),

    // Frozen linear quality classifier: 2-epoch batch perceptron over
    // hashed unigram+bigram buckets (all-integer training — the
    // weights are bit-identical under any partitioning), then the
    // stateless scan-side margin/prediction projection.
    "q115_quality_classifier" -> ((s, dir) => {
      // train + score fused: ONE tokenize pass (the frozen scorer's
      // margin/n_feats are exact integer re-folds of the materialized
      // training relation — output identical to train-then-score)
      Classifier.perceptronTrainScore(ld(s, dir, "documents"), "text",
          "doc_id", label = col("source") === "src0", buckets = 1024,
          epochs = 2)
        .withColumnRenamed("id", "doc_id")
    }),

    // Exact-substring dedup (Lee et al. 2022 tier): every-offset 8-word
    // gram fingerprints, corpus-wide first-occurrence election, per-doc
    // maximal-span merge — catches verbatim copies at ANY offset, the
    // layer stride-aligned chunk/window dedup (q68/q83) approximates.
    "q116_substring_dedup" -> ((s, dir) => {
      TextOps.substringDupStats(ld(s, dir, "documents"), "text",
          "doc_id", k = 8)
        .withColumnRenamed("id", "doc_id")
    }),

    // The exact-substring dedup EXECUTED (Lee et al. 2022's actual
    // transformation): words covered by duplicated maximal spans drop,
    // first occurrences survive, survivors rejoin in original order.
    "q122_substring_rebuild" -> ((s, dir) => {
      TextOps.substringDedupRebuild(ld(s, dir, "documents"), "text",
          "doc_id", k = 8)
        .withColumnRenamed("id", "doc_id")
    }),

    // Full BPE merge loop (beyond q111's first step): 6 iterative
    // merges trained on the bounded top-V pretoken-count election,
    // then the frozen encoder's real per-doc token counts. BYTE-LEVEL
    // since round 10 (the GPT-2 tokenizer family): regex pre-split
    // with space-prefixed words, UTF-8-byte base decomposition over
    // the fixed 256-symbol vocabulary — encoding is total, no -1.
    "q117_bpe_encode" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      val model = Bpe.bpeTrainBytes(docs, "text", nMerges = 6,
        maxVocab = bpeMaxVocab)
      Bpe.tokenCounts(docs, "text", "doc_id", model)
        .withColumnRenamed("id", "doc_id")
    }),

    // The learned BPE merge table itself: rank, pair, merged token,
    // election-time corpus count — each merge chosen AFTER the prior
    // merges rewrote the vocabulary (q111 can only rank step 1).
    // Byte-level pretokens (see q117).
    "q120_bpe_merges" -> ((s, dir) => {
      val model = Bpe.bpeTrainBytes(ld(s, dir, "documents"), "text",
        nMerges = 6, maxVocab = bpeMaxVocab)
      Bpe.mergeTable(s, model)
    }),

    // The real tokenization artifact: per-doc frozen-BPE token-ID
    // sequences — the relation packing/training shards consume.
    // Byte-level numbering (GPT-2 convention): ids 0..255 ARE byte
    // values, merge products 256..255+N in rank order; -1 impossible.
    "q125_bpe_token_ids" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      val model = Bpe.bpeTrainBytes(docs, "text", nMerges = 6,
        maxVocab = bpeMaxVocab)
      Bpe.tokenIds(docs, "text", "doc_id", model)
        .withColumnRenamed("id", "doc_id")
    }),

    // Tokenizer fertility per language (tokens/word — the multilingual
    // tokenizer-fairness audit): frozen-BPE counts grouped by lang.
    "q126_bpe_fertility" -> ((s, dir) => {
      val all = ld(s, dir, "documents")
      // nonempty-only, mirroring the oracle's per-doc join domain — an
      // empty doc would otherwise count into n_docs on one side only
      val docs = all.filter(
        coalesce(length(trim(col("text"))), lit(0)) > 0)
      val model = Bpe.bpeTrainBytes(all, "text", nMerges = 6,
        maxVocab = bpeMaxVocab)
      Bpe.tokenCounts(docs, "text", "doc_id", model)
        .join(docs.select(col("doc_id").cast("long").as("id"),
          col("lang")), Seq("id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_tokens"),
          expr("(n_tokens * 1000) div n_words").as("fertility_milli"))
    }),

    // Domain audit (C4/RefinedWeb front gate): deterministic synthetic
    // URLs (the corpus has no url column — scheme/userinfo/port/path
    // variants by doc_id mod, replayed by BOTH engines), registrable-
    // domain extraction, per-domain exact-dup rate + token mass.
    "q118_domain_stats" -> ((s, dir) => {
      UrlOps.domainStats(withUrls(ld(s, dir, "documents")), "url", "text")
    }),

    // Domain blocklist gate + mixture report: drop three blocked
    // registrable domains (anti broadcast join), then the top-10
    // domain shares of the surviving corpus.
    "q121_domain_mixture" -> ((s, dir) => {
      import s.implicits._
      val blocked = Seq("src00.com", "src11.org", "src22.co.uk")
        .toDF("domain")
      UrlOps.domainMixture(
        UrlOps.blocklistFilter(withUrls(ld(s, dir, "documents")), "url",
          blocked),
        "url", topK = 10)
    }),

    // Trigram LM with stupid backoff: counts train on the src0 slice,
    // every doc scores against the frozen counts, unseen trigrams back
    // off trigram -> 0.4*bigram -> 0.4^2*add-alpha-unigram (Brants et
    // al. 2007) — integer-banked surprisal like q96.
    "q119_trigram_backoff" -> ((s, dir) => {
      TextOps.trigramLmScore(ld(s, dir, "documents"), "text", "doc_id",
          isTrain = col("source") === "src0")
        .withColumnRenamed("id", "doc_id")
    }),

    // Slice-divergence audit: hashed-feature distributions of src0 vs
    // src1, per-bucket banked log-likelihood ratio, top-50 most
    // shifted buckets — the ingest-drift monitor.
    "q123_feature_shift" -> ((s, dir) => {
      TextOps.featureShift(ld(s, dir, "documents"), "text",
        isA = col("source") === "src0", isB = col("source") === "src1")
    }),

    // Cluster-size histogram over the q59 near-dup clusters — the
    // dedup data-card stat (pair dups vs boilerplate blobs).
    "q124_cluster_sizes" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val pairs = Dedup.embeddingPairs(e, "embedding", "vec_id",
        dim = 64, threshold = 0.35, nPlanes = 8)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val members = e.select(col("vec_id"))
        .join(clusters, col("vec_id") === clusters("id"), "left")
        .select(coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      Dedup.clusterSizeProfile(members, "cluster_id")
    }),

    // HTML boilerplate extraction (jusText class) — the web pipeline's
    // step 0: the corpus has no HTML column, so the query first wraps
    // each doc's text in a deterministic page (head/title/script/style,
    // all-link nav, %5 docs a link-farm sidebar with entities, %7 docs
    // a 2-word shout block, all-link footer) — BOTH engines replay the
    // synthesis — then the operator segments blocks, gates on word
    // count + link density, and rebuilds the main text in page order.
    "q127_html_extract" -> ((s, dir) => {
      HtmlOps.extractMainText(withHtml(ld(s, dir, "documents")), "html",
          "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // Image near-dup: 64-bit perceptual dHash (9×8 nearest-neighbor
    // grid, horizontal gradient bits) over synthesized payloads —
    // text payloads take the deterministic stub-decode tier, so BOTH
    // engines replay raster dims + byte sampling + bit packing — then
    // Hamming pairs via the simhash pigeonhole banding. Every %4 doc
    // gets a one-byte-perturbed copy (same length → same raster dims,
    // few flipped gradient bits) so near-dup pairs exist at EVERY
    // scale, not just where the corpus happens to carry exact dups.
    // maxBucket = 0 is oracle-parity; production sets a cap.
    "q128_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val base = ld(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      val copies = base.filter(col("id") % 4 === 0)
        .select((col("id") + 10000000L).as("id"),
          concat(lit("z"), expr("substring(text, 2)")).as("text"))
      val bin = Multimodal.synthesize(base.unionByName(copies), "text")
        .select(col("id"), col("payload")).as[Multimodal.BinAsset]
      val hashed = Multimodal.dHashAssets(bin).toDF()
        .filter(col("dhash").isNotNull)
      Dedup.hammingPairs(hashed, "dhash", "id", maxHamming = 3,
        pieces = 4, maxBucket = 0)
    }),

    // Incremental line dedup: even docs' pages are the ingested
    // history (fingerprints only), odd docs arrive as the new batch —
    // history blocks every batch occurrence of the shared boilerplate;
    // batch-internal election handles the rest.
    "q150_incremental_line_dedup" -> ((s, dir) => {
      val page = concat(
        lit("Home About Contact Products News Archive\n"),
        coalesce(col("text"), lit("")),
        when(col("doc_id") % 2 === 0,
          lit("\nsubscribe to our newsletter for weekly updates today"))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("\nthis website uses cookies to improve your experience"))
          .otherwise(lit("")),
        lit("\nok\ncopyright 2024 example site all rights reserved"))
      val docs = ld(s, dir, "documents").withColumn("text", page)
      val hist = TextOps.lineFingerprints(
        docs.filter(col("doc_id") % 2 === 0), "text")
      TextOps.incrementalLineDedup(docs.filter(col("doc_id") % 2 === 1),
          hist, "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // Exact numeric column profile (the Deequ profiler tier): ONE scan
    // for nulls/min/max/sum AND all distinct counts (multi-column
    // count-distinct plans through a single Expand pass).
    "q162_profile" -> ((s, dir) => {
      Validate.profile(ld(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))
    }),

    // Dataset-level metric expectations (Deequ aggregate checks): the
    // whole corpus passes or violates each declared metric band; the
    // max-chars cap is deliberately tight enough to fail.
    "q161_validate_metrics" -> ((s, dir) => {
      import Validate._
      Validate.check(ld(s, dir, "documents"), Seq(
        AggSatisfies("avg_chars_band", "avg(n_chars)",
          "_metric BETWEEN 100 AND 400"),
        AggSatisfies("lang_cardinality", "count(DISTINCT lang)",
          "_metric = 5"),
        AggSatisfies("max_chars_cap", "max(n_chars)", "_metric <= 500"),
        NotNull("text")))
    }),

    // Nearest-direction as-of join with tolerance (the pandas
    // merge_asof surface): closest view within ±60 s of each click,
    // ties to backward, unmatched clicks kept with nulls.
    "q158_asof_nearest" -> ((s, dir) => {
      val e = evts(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_us").as("c_us"))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_id"))
      AsofJoin.asof(clicks, views, Seq("user_id"), "c_us", "ts_us",
          Seq("view_id"), leftOuter = true, direction = "nearest",
          tolerance = Some(60000000L))
        .select(col("user_id"), col("click_id"),
          col("asof_view_id").as("view_id"))
    }),

    // Interval-overlap join: click sessions ([ts, ts+2min]) against
    // purchase windows ([ts-5min, ts]) across all users — bucketed to
    // an exact equi-join with first-common-bucket dedup.
    "q159_interval_overlap" -> ((s, dir) => {
      val e = evts(s, dir)
      val sessions = e.filter(col("event_type") === "click")
        .filter(col("event_id") % 7 === 0)
        .select(col("event_id").as("click_id"),
          col("ts_us").as("a_lo"), (col("ts_us") + 120000000L).as("a_hi"))
      val windows = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          (col("ts_us") - 300000000L).as("b_lo"),
          col("ts_us").as("b_hi"))
      RangeJoin.intervalOverlap(sessions, windows, "a_lo", "a_hi",
          "b_lo", "b_hi", bucketWidth = 300000000L)
        .select(col("click_id"), col("purchase_id"))
    }),

    // Referential-integrity suite over the TPC-H-ish tables: key-only
    // anti-joins per foreign-key expectation; the filtered supplier
    // reference plants real violations.
    "q157_ref_integrity" -> ((s, dir) => {
      import Validate._
      Validate.check(ld(s, dir, "lineitem"), Seq(
        NotNull("l_orderkey"),
        RefIntegrity("l_orderkey", ld(s, dir, "orders"), "o_orderkey"),
        RefIntegrity("l_partkey", ld(s, dir, "part"), "p_partkey"),
        RefIntegrity("l_suppkey",
          ld(s, dir, "supplier").filter(col("s_suppkey") % 7 =!= 0),
          "s_suppkey")))
    }),

    // Constant-size-history incremental dedup: the history is ONE
    // bloom row; false positives are deterministic and replayed
    // bit-exactly by the oracle's position math.
    "q165_incremental_bloom" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      Dedup.incrementalExactBloom(docs.filter(col("doc_id") % 5 === 0),
          Dedup.bloomHistory(docs.filter(col("doc_id") % 3 === 0),
            "text", mBits = 1 << 16, k = 3),
          "text", "doc_id", k = 3)
        .withColumnRenamed("id", "doc_id")
    }),

    // SQL:2016 PERMUTE(a, b) — `(a b | b a)` — through the statement
    // surface, compiled onto the one-iteration PERMUTE group that
    // q33's programmatic `Logical.and` builds too (shared oracle).
    "q166_mr_permute" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_permute_q166")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_permute_q166 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (PERMUTE(a, b))
          |  WITHIN 600000000
          |  DEFINE a AS event_type = 'error',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // N-ary PERMUTE(a, b, c) — one event per variable in ANY arrival
    // order (a one-iteration PERMUTE group, the element q166's binary
    // PERMUTE compiles to as well). Oracle: the seed is the earliest
    // member, so each match = seed + first later event of each other
    // type inside the window, replayed per seed type.
    "q168_mr_permute3" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_permute3_q168")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_permute3_q168 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
          |           c.event_id AS c_id
          |  PATTERN (PERMUTE(a, b, c))
          |  WITHIN 7200000000
          |  DEFINE a AS event_type = 'error',
          |         b AS event_type = 'purchase',
          |         c AS event_type = 'view'
          |)""".stripMargin))
    }),

    // WITHIN INTERVAL '10' MINUTE, converted through TSSCALE (ORDER BY
    // units per ms) — same matches as q55's raw-microsecond WITHIN.
    "q169_mr_within_interval" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_interval_q169")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_interval_q169 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES a.event_id AS a_id, b.event_id AS b_id
          |  PATTERN (a b)
          |  WITHIN INTERVAL '10' MINUTE
          |  TSSCALE 1000
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'purchase'
          |)""".stripMargin))
    }),

    // SQL:2016 quantified group `(a b){2,2}` — two full click→view
    // iterations appending to shared variable slots; the oracle
    // unrolls the deterministic skip-till-next chain (first view
    // after the seed click, first click after that view, first view
    // after that click) per seed.
    "q167_mr_group" -> ((s, dir) => {
      evts(s, dir).select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type")).createOrReplaceTempView("mr_group_q167")
      val parser = new graft.plans.GraftSqlParser(
        s.sessionState.sqlParser, s)
      org.apache.spark.sql.GraftSqlBridge.ofRows(s, parser.parsePlan(
        """SELECT * FROM mr_group_q167 MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_us, event_id
          |  MEASURES FIRST(a.event_id) AS a1_id, LAST(a.event_id) AS a2_id,
          |           FIRST(b.event_id) AS b1_id, LAST(b.event_id) AS b2_id
          |  PATTERN ((a b){2,2})
          |  DEFINE a AS event_type = 'click',
          |         b AS event_type = 'view'
          |)""".stripMargin))
    }),

    // Right-to-be-forgotten history purge: deleted docs' fingerprints
    // leave the history UNLESS surviving content still carries them;
    // synthesized shared texts straddle the deleted/survivor boundary.
    "q164_purge_history" -> ((s, dir) => {
      val docs = ld(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(lit("shared page body number "), col("doc_id") % 7))
          .otherwise(col("text")))
      def fp(d: DataFrame) =
        d.select(Text.fingerprint(col("text")).as("fp"))
      Dedup.purgeHistory(fp(docs).distinct(),
        fp(docs.filter(col("doc_id") % 10 === 0)),
        fp(docs.filter(col("doc_id") % 10 =!= 0)))
    }),

    // Stratified pair packing: per-language histograms and walks,
    // globally unique pack ids via cumulative stratum offsets — packs
    // never mix languages.
    "q163_pack_pairs_by" -> ((s, dir) => {
      TextOps.packPairsBy(ld(s, dir, "documents"), "text", "doc_id",
          "lang", budget = 100)
        .withColumnRenamed("id", "doc_id")
    }),

    // Non-splitting pair packing: histogram two-pointer walk on the
    // driver (O(distinct lengths)), two-level ranking + broadcast
    // range-join assignment — every doc lands whole in one pack.
    "q156_pack_pairs" -> ((s, dir) => {
      TextOps.packPairs(ld(s, dir, "documents"), "text", "doc_id",
          budget = 100)
        .withColumnRenamed("id", "doc_id")
    }),

    // Greedy k-center (farthest-point) coreset selection: seed min id,
    // then 3 farthest-point rounds, nearest-center assignment — the
    // diverse-subset selector (Gonzalez / Sener-Savarese).
    "q155_kcenter" -> ((s, dir) => {
      Similarity.kCenterAssign(ld(s, dir, "embeddings"), "embedding",
        "vec_id", k = 4)
    }),

    // Unicode script profile + mixing detector: per-script codepoint
    // histogram (one codegen'd pass), dominant letter script, and the
    // permille of letters outside it; foreign-script content is
    // synthesized deterministically (the ASCII corpus has none).
    "q154_script_profile" -> ((s, dir) => {
      val aug = ld(s, dir, "documents").withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" привет мир данных"))
            .when(col("doc_id") % 4 === 1, lit(" 数据处理系统"))
            .when(col("doc_id") % 4 === 3, lit(" αβγ δεζ 12345"))
            .otherwise(lit(""))))
      TextOps.scriptProfile(aug, "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // Data-quality constraint suite (Deequ pattern): scalar checks in
    // one scan-side agg, uniqueness as per-column hash aggs; one
    // verdict row per constraint with exact violation counts.
    "q153_validate" -> ((s, dir) => {
      import Validate._
      Validate.check(ld(s, dir, "documents"), Seq(
        NotNull("text"),
        InRange("n_chars", 1L, 500L),
        Matches("lang", "^[a-z]{2}$"),
        Satisfies("len_eq_n_chars", "length(text) = n_chars"),
        Unique("doc_id"),
        Unique("text")))
    }),

    // Dedup recall audit: MinHash-LSH candidate pairs vs brute-force
    // exact-Jaccard ground truth on a bounded eval sample with planted
    // suffix-mutated near-dups — the dedup family's eval harness.
    "q152_dedup_recall" -> ((s, dir) => {
      val base = ld(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
      val variants = base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"),
            lit(" appended audit tail to plant a near duplicate"))
            .as("text"))
      Dedup.minhashRecallAudit(base.unionByName(variants), "text",
        "doc_id", shingleK = 5, numHashes = 8, bands = 2,
        threshold = 0.5, maxBucket = 0)
    }),

    // MOSS overlap ranking: top doc pairs by shared winnowed
    // fingerprints — fp-keyed self-join behind a bucket cap, ranked
    // by overlap with full tie-break.
    "q160_winnow_pairs" -> ((s, dir) => {
      TextOps.winnowOverlapPairs(ld(s, dir, "documents"), "text",
        "doc_id", k = 8, w = 4, minShared = 2, topK = 50,
        maxBucket = 1000)
    }),

    // Winnowing fingerprints (MOSS): in-row rightmost-min selection
    // over every-offset 8-gram hashes, 4-gram windows; cross-doc
    // shared-fingerprint counts.
    "q151_winnow" -> ((s, dir) => {
      TextOps.winnowStats(ld(s, dir, "documents"), "text", "doc_id",
          k = 8, w = 4)
        .withColumnRenamed("id", "doc_id")
    }),

    // ANN recall audit: LSH top-3 vs brute-force ground truth per
    // query — the eval harness for the approximate family; queries
    // the index missed entirely report zeros.
    "q149_ann_recall" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 50)
      val truth = Similarity.bruteForceTopK(e, queries, "embedding",
        "vec_id", 3)
      val approx = Similarity.lshTopK(e, queries, "embedding", "vec_id",
        64, 3, nPlanes = 4)
      Similarity.recallAudit(truth, approx)
    }),

    // Template-cluster mining: %97=5 docs become an exact-dup
    // boilerplate blob (is_template=0), %3=0 docs become one log
    // template whose slots vary (is_template=1) — both engines replay
    // the injection; digit runs collapse to '#' for the shape key.
    "q148_template_clusters" -> ((s, dir) => {
      val d = col("doc_id").cast("string")
      val synth = when(col("doc_id") % 97 === 5,
          lit("copyright notice all rights reserved worldwide"))
        .when(col("doc_id") % 3 === 0,
          concat(lit("user "), d, lit(" logged in from host10."),
            (col("doc_id") % 7).cast("string"), lit(" at 2024-01-"),
            (col("doc_id") % 28).cast("string")))
        .otherwise(col("text"))
      Dedup.templateClusters(
        ld(s, dir, "documents").withColumn("text", synth),
        "text", "doc_id")
    }),

    // Per-domain quality prior: doc-level length+stopword gate
    // aggregated into each registrable domain's keep rate; domains
    // under 500 permille flag blocked (the farm detector). Site
    // digit 3 is degraded to spam in BOTH engines so the corpus
    // contains actual farms and the blocked branch is exercised.
    "q147_domain_quality" -> ((s, dir) => {
      val spam = when(col("doc_id") % 10 === 3,
        lit("buy cheap pills now win big")).otherwise(col("text"))
      UrlOps.domainQuality(
        withUrls(ld(s, dir, "documents")).withColumn("text", spam),
        "url", "text")
    }),

    // Dimensional CUBE report: every subset of {event_type, day}
    // rolled up in one Expand pass, integer measures + grouping-id.
    "q145_cube_report" -> ((s, dir) => {
      Rollup.cubeReport(evts(s, dir), "event_type", "ts_us", "user_id")
    }),

    // Max-gap sessionization report (30-min gap): per-session event
    // count, span, distinct types, and purchase count — the batch
    // gaps-and-islands complement to the streaming session window.
    "q146_session_stats" -> ((s, dir) => {
      graft.operators.Funnel.sessionStats(evts(s, dir), "user_id",
        "ts_us", "event_type", gapUs = 1800000000L,
        targetType = "purchase")
    }),

    // Cross-split contamination audit: does val/test share any distinct
    // 8-gram with train under the q78 hash split? Train's gram set is
    // corpus-sized — fingerprint equi-join, nothing broadcasts.
    "q144_split_contamination" -> ((s, dir) => {
      TextOps.splitContamination(ld(s, dir, "documents"), "text",
        "doc_id", Seq(("train", 900), ("val", 50), ("test", 50)), n = 8)
    }),

    // Sliding-window rate anomaly: hourly per-type event counts scored
    // against the trailing 24 buckets with the all-integer z-test
    // (n·W − S)² > k²·(W·Q − S²) — dense grid, zero-filled gaps,
    // warm-up buckets unscored.
    "q143_rate_anomaly" -> ((s, dir) => {
      graft.operators.Anomaly.rateAnomaly(evts(s, dir), "ts_us",
        "event_type")
    }),

    // Vocabulary growth curve (the Heaps'-law ingest-monitoring
    // chart): cumulative docs/tokens/distinct-types at checkpoints
    // every 100 doc ids — a type counts at its FIRST doc's bucket.
    "q142_vocab_growth" -> ((s, dir) => {
      TextOps.vocabGrowth(ld(s, dir, "documents"), "text", "doc_id",
        stepDocs = 100L)
    }),

    // Canonical-URL dedup (the crawl-frontier election): four messy
    // URL shapes synthesized per doc — scheme/host case, www., default
    // ports, tracking params, fragments, trailing slashes — variants
    // %4∈{0,1} collapse to the same canonical form, http (%4=2) stays
    // distinct, blog posts (%4=3) are unique but shed their utm param.
    "q141_url_canonical" -> ((s, dir) => {
      val k = (col("doc_id") % 25).cast("string")
      val j = (col("doc_id") % 7).cast("string")
      val d = col("doc_id").cast("string")
      val u = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW.Site"), k, lit(".COM:443/Page"), j,
            lit("/?utm_source=feed&utm_medium=rss")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://site"), k, lit(".com/Page"), j,
            lit("?ref=homepage#section2")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("http://www.site"), k, lit(".com:80/Page"), j,
            lit("/")))
        .otherwise(concat(lit("https://blog.site"), k, lit(".com/post/"),
          d, lit("?id="), d, lit("&utm_campaign=x")))
      UrlOps.urlDedup(ld(s, dir, "documents").withColumn("url", u),
          "url", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // Corpus-wide line-level dedup (the CCNet/RefinedWeb paragraph
    // tier): pages synthesized with shared nav/banner/footer lines
    // around the unique body — the first page (by doc_id) keeps the
    // boilerplate, every later page sheds it; the short "ok" line is
    // structure (< minChars) and always survives. Both engines replay
    // the page synthesis.
    "q140_line_dedup" -> ((s, dir) => {
      val page = concat(
        lit("Home About Contact Products News Archive\n"),
        coalesce(col("text"), lit("")),
        when(col("doc_id") % 2 === 0,
          lit("\nsubscribe to our newsletter for weekly updates today"))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("\nthis website uses cookies to improve your experience"))
          .otherwise(lit("")),
        lit("\nok\ncopyright 2024 example site all rights reserved"))
      TextOps.lineDedup(
          ld(s, dir, "documents").withColumn("text", page),
          "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // Funnel report: signup → view → click → purchase per user,
    // greedy-earliest matching, 7-day window anchored at signup —
    // the conversion table CEP's per-match rows aggregate into.
    "q138_funnel" -> ((s, dir) => {
      graft.operators.Funnel.report(evts(s, dir), "user_id",
        "event_type", "ts_us",
        Seq("signup", "view", "click", "purchase"),
        withinUs = 604800000000L)
    }),

    // Cohort retention triangle: users cohort by first-seen integer
    // day, (cohort_day, day_offset) activity counts — all-integer day
    // arithmetic, exact under any engine.
    "q139_cohort_retention" -> ((s, dir) => {
      graft.operators.Funnel.cohortRetention(evts(s, dir), "user_id",
        "ts_us")
    }),

    // Tokenizer round-trip integrity: decode(tokenIds(text)) must
    // reproduce the text EXACTLY for the byte-level model (the
    // pretokenizer's segments partition the string; byte fallback is
    // total) — the artifact-integrity gate a training pipeline runs
    // before shipping token shards.
    "q137_bpe_roundtrip" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      val model = Bpe.bpeTrainBytes(docs, "text", nMerges = 6,
        maxVocab = bpeMaxVocab)
      val ids = Bpe.tokenIds(docs, "text", "doc_id", model)
      Bpe.decodeTokenIds(ids, model)
        .join(docs.select(col("doc_id").cast("long").as("id"),
          col("text")), Seq("id"))
        .select(col("id").as("doc_id"),
          length(col("text_decoded")).cast("long").as("n_chars_decoded"),
          (col("text_decoded") === col("text")).cast("int").as("match"))
    }),

    // Reason-coded quality gate: keep/drop with the FIRST failing
    // reason per doc — the data card reports WHY mass dropped.
    "q136_quality_gate" -> ((s, dir) => {
      TextOps.qualityGate(ld(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // EXECUTED substring decontamination: every word position covered
    // by a benchmark k-gram (bench = doc_id % 50, the q71 convention)
    // is excised — bench docs in the corpus wipe themselves; clean
    // docs pass untouched. The removal form of the q63/q71 flags.
    "q135_substring_decontaminate" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      TextOps.substringDecontaminate(docs,
          docs.filter(col("doc_id") % 50 === 0), "text", "doc_id", k = 8)
        .withColumnRenamed("id", "doc_id")
    }),

    // Unicode normalization (the ftfy-lite ingest cleanup): the corpus
    // is clean ASCII, so the query injects deterministic mess — BOM +
    // decomposed accents on %3, zero-width + a C0 control on %5, a
    // combining ring on %7 — BOTH engines replay the injection; the
    // operator NFC-composes, strips invisibles, and flags changed docs.
    "q134_unicode_normalize" -> ((s, dir) => {
      val messy = ld(s, dir, "documents").withColumn("text", concat(
        when(col("doc_id") % 3 === 0, lit(uniBom)).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 5 === 0, concat(lit(uniZw), lit("\u0001")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(uniRing)).otherwise(lit(""))))
      TextOps.normalizeText(messy, "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // Outlink-domain audit: pages synthesized with two absolute
    // anchors (varying site digit + TLD class incl. co.uk) and one
    // relative anchor (excluded — stays on-site); href extraction,
    // registrable-domain grouping, link/page counts.
    "q133_outlink_domains" -> ((s, dir) => {
      val site1 = concat(lit("out"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 3 === 0, ".com")
          .when(col("doc_id") % 3 === 1, ".co.uk").otherwise(".net"))
      val site2 = concat(lit("hub"), (col("doc_id") % 4).cast("string"),
        lit(".org"))
      val page = concat(lit("<p>"), col("text"),
        lit("</p><div><a href=\"https://www."), site1,
        lit("/x\">one</a> <a href='http://"), site2,
        lit("/y'>two</a> <a href=\"/local\">here</a></div>"))
      HtmlOps.outlinkDomains(
        ld(s, dir, "documents").withColumn("html", page), "html",
        "doc_id")
    }),

    // PageRank over a deterministic synthetic link graph (the corpus
    // has no links): each doc links to two arithmetic neighbors plus a
    // hub (doc_id % 10), self-loops dropped; 5 integer-banked
    // iterations — per-edge contributions are integer divisions, sums
    // are order-free integer adds, so ranks are bit-identical under
    // any partitioning and replay exactly in SQL.
    "q132_pagerank" -> ((s, dir) => {
      val docs = ld(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val e = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 1) % n).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 3) % n).as("dst")))
        .unionByName(docs.select(col("doc_id").as("src"),
          (col("doc_id") % 10).as("dst")))
        .filter(col("src") =!= col("dst"))
      graft.operators.Graphs.pageRank(e, "src", "dst", iters = 5)
        .withColumnRenamed("id", "doc_id")
    }),

    // Classifier calibration: the integer-exact confusion table +
    // per-mille precision/recall/F1 at each margin threshold for the
    // q115 frozen perceptron — the table that picks a quality gate's
    // operating point before it ships.
    "q131_classifier_calibration" -> ((s, dir) => {
      // train + score + report fused: one tokenize pass (see q115)
      Classifier.trainCalibrationReport(ld(s, dir, "documents"), "text",
        "doc_id", label = col("source") === "src0", buckets = 1024,
        epochs = 2,
        thresholds = Seq(-80000L, -60000L, -45000L, -30000L, -15000L, 0L))
    }),

    // PII scrub (the privacy step every public-corpus pipeline runs):
    // the corpus carries no PII, so the query first injects
    // deterministic email/IP/phone/SSN snippets by doc_id mod — BOTH
    // engines replay the injection — then the operator counts each
    // category at its sequential redaction stage and rebuilds the
    // redacted text. Zero shuffle: one codegen'd scan projection.
    "q130_pii_scrub" -> ((s, dir) => {
      val withPii = ld(s, dir, "documents").withColumn("text", concat(
        col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" server 10.2."),
          (col("doc_id") % 200).cast("string"), lit(".7 up")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, concat(lit(" call 555-010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" today"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" id 123-45-6789 end"))
          .otherwise(lit(""))))
      graft.operators.Pii.scrub(withPii, "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // Incremental exact-substring dedup: the new batch (doc_id % 5)
    // grams check against the fingerprint HISTORY (doc_id % 3) plus
    // first-occurrence election within the batch — the q103/q109
    // continuous-ingestion contract at the substring tier. History
    // joins fingerprint-only; spans merge like q116.
    "q129_incremental_substring" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      val hist = TextOps.substringFingerprints(
        docs.filter(col("doc_id") % 3 === 0), "text", k = 8)
      TextOps.incrementalSubstring(docs.filter(col("doc_id") % 5 === 0),
          hist, "text", "doc_id", k = 8)
        .withColumnRenamed("id", "doc_id")
    }),

    // C4 line-level cleaning: the corpus has no line structure, so the
    // query first restructures text deterministically (8-word lines,
    // every 3rd unterminated; %11 docs get a "Lorem Ipsum" line, %7
    // docs a curly-brace line) — BOTH engines replay the restructure,
    // then the operator's line gates + page gate run on top.
    "q110_c4_line_filter" -> ((s, dir) => {
      val ws = TextOps.words(col("text"))
      val lastLine = ((size(ws) - lit(1)).cast("double") / lit(8.0))
        .cast("int")
      val li = transform(sequence(lit(0), lastLine), i =>
        concat(array_join(slice(ws, i * lit(8) + lit(1), lit(8)), " "),
          when(i % 3 =!= 2, lit(".")).otherwise(lit(""))))
      val base = array_join(li, "\n")
      val t2 = when(col("doc_id") % 11 === 0,
        concat(lit("Lorem Ipsum dolor sit amet right here.\n"), base))
        .otherwise(base)
      val t3 = when(col("doc_id") % 7 === 0,
        concat(t2, lit("\nvar x = {1};"))).otherwise(t2)
      TextOps.c4LineFilter(
          ld(s, dir, "documents").withColumn("text", t3), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // Language-consistency audit: metadata lang vs detected lang —
    // the mislabeled-metadata confusion matrix.
    "q114_lang_consistency" -> ((s, dir) => {
      TextOps.langConsistency(ld(s, dir, "documents"), "text", "lang")
    }),

    // Gopher duplicate-n-gram fractions: per doc and order, repeat
    // occurrences of word n-grams — all exact integers, zero shuffle.
    "q113_dup_ngram_stats" -> ((s, dir) => {
      TextOps.dupNgramStats(ld(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // BPE first-merge statistics: adjacent char pairs within words,
    // weighted by word frequency — the tokenizer-induction ranking.
    "q111_bpe_pair_counts" -> ((s, dir) => {
      TextOps.bpePairCounts(ld(s, dir, "documents"), "text", topK = 50)
    }),

    // Cross-source duplication matrix: distinct shared fingerprints per
    // source pair — the mirror/scrape audit.
    "q112_cross_source_dup" -> ((s, dir) => {
      Dedup.crossSourceDupMatrix(ld(s, dir, "documents"), "text",
        "source")
    }),

    // Incremental NEAR-dup: the new batch (doc_id % 5) LSH-banded
    // against the signature HISTORY (doc_id % 3) plus itself — fuzzy
    // companion to q103; uncapped buckets for oracle parity (production
    // sets maxBucket).
    "q109_incremental_minhash" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      val hist = Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 3 === 0), "text", "doc_id",
        shingleK = 5, numHashes = 8)
      Dedup.incrementalMinhash(docs.filter(col("doc_id") % 5 === 0),
          hist, "text", "doc_id", shingleK = 5, numHashes = 8,
          bands = 2, threshold = 0.5, maxBucket = 0)
        .withColumnRenamed("id", "doc_id")
    }),

    // Frozen-model DSIR: train the bucket model once (bounded ≤1024-row
    // collect), score with the stateless projection — must reproduce
    // q105 bit-for-bit (same oracle).
    "q108_dsir_frozen" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      val model = TextOps.dsirTrain(docs, "text", "doc_id",
        isTarget = col("source") === "src0")
      TextOps.dsirScoreFrozen(docs, "text", "doc_id", model)
        .withColumnRenamed("id", "doc_id")
    }),

    // Temperature mixture sampling (α=0.5): rarest lang keeps all,
    // head langs downsampled toward the flattened p^α shares.
    "q107_temperature_sample" -> ((s, dir) => {
      TextOps.temperatureSample(ld(s, dir, "documents"), "doc_id",
          "lang", alphaPerMille = 500)
        .select(col("doc_id"), col("lang"), col("kept"))
    }),

    // Incremental dedup: a new batch (doc_id % 5) against the
    // fingerprint HISTORY of previously-ingested docs (doc_id % 3) plus
    // itself — fingerprint-only joins, text never shuffles.
    "q103_incremental_dedup" -> ((s, dir) => {
      val docs = ld(s, dir, "documents")
      val hist = docs.filter(col("doc_id") % 3 === 0)
        .select(graft.functions.Text.fingerprint(col("text")).as("fp"))
      Dedup.incrementalExact(docs.filter(col("doc_id") % 5 === 0), hist,
          "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),

    // Leakage-safe split: near-dup CLUSTERS are the split unit — a
    // near-dup pair straddling train/test is silent eval leakage. The
    // q59 cluster pipeline + the q78 per-mille hash, keyed on cluster.
    "q102_leakage_safe_split" -> ((s, dir) => {
      val e = ld(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"))
      val pairs = Dedup.embeddingPairs(e, "embedding", "vec_id",
        dim = 64, threshold = 0.35, nPlanes = 8)
      Dedup.leakageSafeSplit(e, "vec_id", pairs, "id_a", "id_b",
          Seq(("train", 900), ("val", 50), ("test", 50)))
        .withColumnRenamed("id", "vec_id")
    }))

  // -------------------------------------------------------------------
  //  oracle SQL (DuckDB dialect) — same table names, same column aliases
  // -------------------------------------------------------------------

  /** q34/q86 oracle: quantified pattern a{2,2} b — each click paired
    * with the NEXT click (lead over the click-only relation: intervening
    * non-click events don't break the run), then the first purchase
    * after the second click, within 2 h of the FIRST click. One match
    * per leading click (overlapping; no skip-past).
    */
  /** The q33/q166 AND-pattern replay: each event of either type pairs
    * with the first later event of the other type within 10 min — the
    * both-in-either-order PERMUTE group, whether reached through the
    * programmatic `Logical.and` (q33) or SQL `PERMUTE(a, b)` (q166).
    */
  private lazy val q33Oracle: String =
    """WITH er AS (SELECT user_id, event_id AS e_id, epoch_us(ts) AS e_us
      |    FROM events WHERE event_type = 'error'),
      |pu AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
      |    FROM events WHERE event_type = 'purchase'),
      |d1 AS (SELECT er.user_id, er.e_id AS a_id, pu.p_id AS b_id,
      |    row_number() OVER (PARTITION BY er.user_id, er.e_id
      |      ORDER BY pu.p_us, pu.p_id) AS rn
      |  FROM er JOIN pu ON er.user_id = pu.user_id
      |    AND (pu.p_us > er.e_us OR (pu.p_us = er.e_us AND pu.p_id > er.e_id))
      |    AND pu.p_us - er.e_us <= 600000000),
      |d2 AS (SELECT pu.user_id, er.e_id AS a_id, pu.p_id AS b_id,
      |    row_number() OVER (PARTITION BY pu.user_id, pu.p_id
      |      ORDER BY er.e_us, er.e_id) AS rn
      |  FROM pu JOIN er ON er.user_id = pu.user_id
      |    AND (er.e_us > pu.p_us OR (er.e_us = pu.p_us AND er.e_id > pu.p_id))
      |    AND er.e_us - pu.p_us <= 600000000)
      |SELECT user_id, a_id, b_id FROM d1 WHERE rn = 1
      |UNION ALL
      |SELECT user_id, a_id, b_id FROM d2 WHERE rn = 1""".stripMargin

  /** The q55/q169 replay: first purchase within 10 min of each click —
    * reached with a raw-microsecond WITHIN (q55) or the INTERVAL
    * spelling converted through TSSCALE (q169).
    */
  private lazy val q55Oracle: String =
    """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
      |    FROM events WHERE event_type = 'click'),
      |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
      |    FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT a.user_id, a.a_id, b.b_id,
      |    row_number() OVER (PARTITION BY a.user_id, a.a_id
      |      ORDER BY b.b_us, b.b_id) AS rn
      |  FROM a JOIN b ON a.user_id = b.user_id
      |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
      |    AND b.b_us - a.a_us <= 600000000)
      |SELECT user_id, a_id, b_id FROM j WHERE rn = 1""".stripMargin

  private lazy val q34Oracle: String =
    """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS us,
      |    lead(event_id) OVER w AS c2_id,
      |    lead(epoch_us(ts)) OVER w AS c2_us
      |  FROM events WHERE event_type = 'click'
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
      |    FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT c.user_id, c.event_id AS a0_id, c.c2_id AS a1_id,
      |    p.p_id AS b_id,
      |    row_number() OVER (PARTITION BY c.user_id, c.event_id
      |      ORDER BY p.p_us, p.p_id) AS rn
      |  FROM c JOIN p ON c.user_id = p.user_id AND c.c2_id IS NOT NULL
      |    AND (p.p_us > c.c2_us OR (p.p_us = c.c2_us AND p.p_id > c.c2_id))
      |    AND p.p_us - c.us <= 7200000000)
      |SELECT user_id, a0_id, a1_id, b_id FROM j WHERE rn = 1""".stripMargin

  /** q26 oracle: the LSH sign-bucket join replicated in SQL. The
    * hyperplanes are deterministic ([[Vectors.planes]], seed 42), so they
    * are inlined as literal DOUBLE arrays and DuckDB computes the exact
    * same bucket per vector — candidates = same bucket, then exact cosine.
    */
  private lazy val q26Oracle: String = {
    val vals = Vectors.planes(dim = 64, nPlanes = 8).zipWithIndex.map {
      case (pl, p) => s"($p, [${pl.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH planes(p, pv) AS (VALUES $vals),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |b AS (SELECT e.vec_id,
       |    sum(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
       |        i -> e.embedding[i]::DOUBLE * pl.pv[i])) >= 0
       |      THEN 1 << pl.p ELSE 0 END)::BIGINT AS bucket
       |  FROM e CROSS JOIN planes pl GROUP BY e.vec_id),
       |cand AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |p AS (SELECT c.id_a, c.id_b,
       |    list_sum(list_transform(range(1, len(ea.embedding) + 1),
       |      i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)) /
       |    (sqrt(list_sum(list_transform(range(1, len(ea.embedding) + 1),
       |      i -> ea.embedding[i]::DOUBLE * ea.embedding[i]::DOUBLE))) *
       |     sqrt(list_sum(list_transform(range(1, len(eb.embedding) + 1),
       |      i -> eb.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)))) AS cos
       |  FROM cand c JOIN e ea ON ea.vec_id = c.id_a
       |    JOIN e eb ON eb.vec_id = c.id_b)
       |SELECT id_a, id_b, round(cos, 6) AS cosine FROM p
       |WHERE cos >= 0.35""".stripMargin
  }

  /** q59 oracle: the q26 pair derivation (planes inlined, exact) feeding
    * a recursive CTE that computes each node's minimum reachable id over
    * the symmetrized pair graph — the textbook SQL statement of
    * connected components. UNION (not UNION ALL) dedups the reach set,
    * so the recursion terminates.
    */
  /** Shared q59/q72 derivation: the q26 pair pipeline (planes inlined,
    * exact) feeding a recursive reach CTE — min reachable id over the
    * symmetrized pair graph = connected components. Yields CTEs up to
    * `reach(id, r)`; callers append their own final aggregation.
    */
  private lazy val clusterCtes: String = {
    val vals = Vectors.planes(dim = 64, nPlanes = 8).zipWithIndex.map {
      case (pl, p) => s"($p, [${pl.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH RECURSIVE planes(p, pv) AS (VALUES $vals),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |b AS (SELECT e.vec_id,
       |    sum(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
       |        i -> e.embedding[i]::DOUBLE * pl.pv[i])) >= 0
       |      THEN 1 << pl.p ELSE 0 END)::BIGINT AS bucket
       |  FROM e CROSS JOIN planes pl GROUP BY e.vec_id),
       |cand AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |p AS (SELECT c.id_a, c.id_b,
       |    list_sum(list_transform(range(1, len(ea.embedding) + 1),
       |      i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)) /
       |    (sqrt(list_sum(list_transform(range(1, len(ea.embedding) + 1),
       |      i -> ea.embedding[i]::DOUBLE * ea.embedding[i]::DOUBLE))) *
       |     sqrt(list_sum(list_transform(range(1, len(eb.embedding) + 1),
       |      i -> eb.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)))) AS cos
       |  FROM cand c JOIN e ea ON ea.vec_id = c.id_a
       |    JOIN e eb ON eb.vec_id = c.id_b),
       |pairs AS (SELECT id_a, id_b FROM p WHERE cos >= 0.35),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM e
       |  UNION
       |  SELECT g.src, reach.r FROM edges g JOIN reach ON g.dst = reach.id)""".stripMargin
  }

  private lazy val q59Oracle: String =
    s"""$clusterCtes
       |SELECT id AS vec_id, min(r) AS cluster_id,
       |  CAST(CASE WHEN min(r) = id THEN 1 ELSE 0 END AS INT) AS is_canonical
       |FROM reach GROUP BY id""".stripMargin

  /** q72 oracle: [[clusterCtes]] + quality join + per-cluster winner
    * election (highest n_chars, ties to lowest doc_id).
    */
  private lazy val q72Oracle: String =
    s"""$clusterCtes,
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |m AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id)
       |      AS cluster_id,
       |    coalesce(d.n_chars, 0) AS q
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
       |r AS (SELECT doc_id, cluster_id,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY q DESC, doc_id) AS rn FROM m)
       |SELECT doc_id, cluster_id,
       |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
       |FROM r""".stripMargin

  /** q73 oracle: the exact BM25 score expression — same literals (via
    * Double.toString round-trip), same association order, so the score
    * doubles are bit-identical. `nz` mirrors the Spark side's explode+
    * filter tf derivation (docs with no query term never score).
    */
  private lazy val q73Oracle: String = {
    val terms = Seq("join", "vector", "stream")
    val k1 = 1.2; val b = 0.75
    val k1s = k1.toString; val k1p1 = (k1 + 1.0).toString
    val oneMb = (1.0 - b).toString; val bs = b.toString
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, w -> w = '$t'))::BIGINT AS tf$i"
    }.mkString(",\n    ")
    val tfList = terms.indices.map(i => s"tf$i").mkString(", ")
    val anyTf = terms.indices.map(i => s"tf$i").mkString(" + ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::BIGINT AS df$i")
      .mkString(",\n    ")
    val norm = s"$k1s * ($oneMb + $bs * (dl::DOUBLE / " +
      s"(sum_dl::DOUBLE / n_docs::DOUBLE)))"
    val score = terms.indices.map { i =>
      s"((n_docs::DOUBLE - df$i::DOUBLE + 0.5) / (df$i::DOUBLE + 0.5)) * " +
        s"(tf$i::DOUBLE * $k1p1) / (tf$i::DOUBLE + $norm)"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents),
       |base AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM t),
       |tf AS (SELECT doc_id, dl,
       |    $tfCols FROM base),
       |nz AS (SELECT * FROM tf WHERE $anyTf > 0),
       |g AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
       |  FROM base),
       |d AS (SELECT
       |    $dfCols FROM nz),
       |s AS (SELECT doc_id, dl, $tfList, ($score) AS score FROM nz, g, d),
       |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
       |    AS rank FROM s)
       |SELECT doc_id, dl, $tfList, score, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 10""".stripMargin
  }

  /** Shared q74/q76 k-means replay: both Lloyd rounds as CTEs ending at
    * `a2(vec_id, cid)` plus `e(vec_id, x)` — init = 8 lowest vec_ids,
    * argmin by (fixed-order dist expression, cid), centroid update from
    * integer-exact floor(x*2^20) sums, one double division per
    * coordinate (`list(... ORDER BY pos)` = the Spark side's
    * array_sort-by-pos rebuild). Callers append their final shape.
    */
  /** DuckDB text of the fixed-order dot product of list columns `a`
    * and `b`, binding lambda variable `v` — `di` or `vi`, whichever
    * the surrounding template does not bind itself (lambda shadowing).
    */
  private def duckDot(a: String, b: String, v: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), " +
      s"$v -> $a[$v]::DOUBLE * $b[$v]::DOUBLE))"

  /** Squared L2 as `x·x − 2·x·c + c·c`, the Spark side's fixed order. */
  private def duckDist(x: String, c: String, v: String): String =
    s"(${duckDot(x, x, v)}) - 2.0 * (${duckDot(x, c, v)}) + " +
      s"(${duckDot(c, c, v)})"

  /** Generic form of the replay, parameterized on the vector expression,
    * k and the source relation, so q89 (product quantization) replays
    * the same math per SLICED subspace and q94 replays it over the
    * residual CTE. [[kmeansCtes]] is the (embeddings, embedding, k=8)
    * instance.
    *
    * `p` prefixes EVERY CTE name — load-bearing for nested replays
    * (q89/q90/q94): DuckDB re-binds an outer CTE's body at its USE
    * site, so an inner scope that redefines `e` silently corrupts any
    * outer CTE (like q94's `resid`) whose definition mentions `e` —
    * the q94 oracle was wrong-by-3% until the inner chains stopped
    * shadowing (the CTE-level form of the lambda-shadowing trap).
    */
  private def kmeansRounds(xExpr: String, k: Int,
      src: String = "embeddings", p: String = ""): String = {
    s"""WITH ${p}e AS (SELECT vec_id, $xExpr AS x FROM $src
       |  WHERE ($xExpr) IS NOT NULL),
       |${p}c0 AS (SELECT vec_id AS cid, x AS cv FROM ${p}e
       |  WHERE vec_id IN (SELECT vec_id FROM ${p}e
       |    ORDER BY vec_id LIMIT $k)),
       |${p}d1 AS (SELECT ${p}e.vec_id, ${p}c0.cid, ${p}e.x,
       |    ${duckDist("x", "cv", "di")} AS dist
       |  FROM ${p}e CROSS JOIN ${p}c0),
       |${p}a1 AS (SELECT vec_id, cid, x FROM (
       |    SELECT vec_id, cid, x, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM ${p}d1)
       |  WHERE rn = 1),
       |${p}sx AS (SELECT cid, unnest(list_transform(range(1, len(x) + 1),
       |    di -> {'pos': di,
       |      'sxv': floor(x[di]::DOUBLE * 1048576.0)::BIGINT})) AS u
       |  FROM ${p}a1),
       |${p}s1 AS (SELECT cid, u.pos AS pos, sum(u.sxv)::BIGINT AS s,
       |    count(*)::BIGINT AS cnt FROM ${p}sx GROUP BY 1, 2),
       |${p}c1 AS (SELECT cid, list(s::DOUBLE / (cnt::DOUBLE * 1048576.0)
       |    ORDER BY pos) AS cv FROM ${p}s1 GROUP BY cid),
       |${p}d2 AS (SELECT ${p}e.vec_id, ${p}c1.cid,
       |    ${duckDist("x", "cv", "di")} AS dist
       |  FROM ${p}e CROSS JOIN ${p}c1),
       |${p}a2 AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM ${p}d2)
       |  WHERE rn = 1)""".stripMargin
  }

  private lazy val kmeansCtes: String = kmeansRounds("embedding", 8)

  /** q89 oracle: the PQ encoding — one full k-means replay PER
    * SUBSPACE over the sliced vector (DuckDB list slices are 1-based
    * inclusive, matching Spark's `slice(col, start, length)`), each
    * scoped as its own WITH-subquery, unioned with the subspace tag.
    */
  private lazy val q89Oracle: String = {
    def subQ(s: Int, xExpr: String) =
      s"""SELECT vec_id, CAST($s AS INT) AS subspace, cid AS code FROM (
         |${kmeansRounds(xExpr, 4, p = s"q${s}_")}
         |SELECT vec_id, cid FROM q${s}_a2)""".stripMargin
    s"""${subQ(0, "embedding[1:32]")}
       |UNION ALL
       |${subQ(1, "embedding[33:64]")}""".stripMargin
  }

  /** q90 oracle: PQ ADC search replayed — per subspace, the k-means
    * rounds (codes = a2, codebook = c1, the one a2 indexes), then the
    * query-to-centroid distance join and the FIXED-ORDER subspace sum
    * `d0 + d1` (one IEEE add, same as the Spark fold), ranked ascending
    * with the neighbor-id tie-break.
    */
  /** The q90 PQ-ADC replay chain up to the ranked relation `r` —
    * shared by q90 (cut at topK) and q95 (cut at rerankDepth, then the
    * exact refine). Mirrors [[ivfPqChainCtes]]' role for q91/q100.
    */
  private lazy val pqChainCtes: String = {
    def part(s: Int, xExpr: String) =
      s"""(${kmeansRounds(xExpr, 4, p = s"q${s}_")}
         |SELECT qe.vec_id AS query_id, a.vec_id,
         |  ${duckDist("qe.x", "c.cv", "vi")} AS d
         |FROM q${s}_a2 a JOIN q${s}_c1 c ON c.cid = a.cid,
         |  (SELECT vec_id, x FROM q${s}_e WHERE vec_id < 25) qe)""".stripMargin
    s"""WITH p0 AS ${part(0, "embedding[1:32]")},
       |p1 AS ${part(1, "embedding[33:64]")},
       |g AS (SELECT p0.query_id, p0.vec_id AS neighbor_id,
       |    p0.d + p1.d AS adc
       |  FROM p0 JOIN p1 ON p0.query_id = p1.query_id
       |    AND p0.vec_id = p1.vec_id
       |  WHERE p0.query_id <> p0.vec_id),
       |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
       |  FROM g)""".stripMargin
  }

  /** The q95/q100 exact-refine tail: cut the ranked ADC relation `r`
    * at `depth`, fetch the shortlist pairs' RAW vectors and re-rank by
    * the exact squared L2 — the same fixed-order dist expression as
    * the Spark side's shared refine kernel.
    */
  private def exactRefineTailSql(depth: Int): String = {
    s""",
       |sl AS (SELECT query_id, neighbor_id FROM r WHERE rank <= $depth),
       |fe AS (SELECT vec_id, embedding AS x FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |ex AS (SELECT sl.query_id, sl.neighbor_id,
       |    ${duckDist("qe.x", "ne.x", "vi")} AS l2
       |  FROM sl JOIN fe qe ON qe.vec_id = sl.query_id
       |    JOIN fe ne ON ne.vec_id = sl.neighbor_id),
       |rr AS (SELECT query_id, neighbor_id, l2, row_number() OVER (
       |    PARTITION BY query_id ORDER BY l2, neighbor_id) AS rank
       |  FROM ex)
       |SELECT query_id, neighbor_id, rank, round(l2, 6) AS l2_dist
       |FROM rr WHERE rank <= 3""".stripMargin
  }

  private lazy val q90Oracle: String =
    s"""$pqChainCtes
       |SELECT query_id, neighbor_id, rank, round(adc, 6) AS adc_dist
       |FROM r WHERE rank <= 3""".stripMargin

  /** q95 oracle: the q90 ADC chain cut at rank <= 10 (the shortlist),
    * then the exact squared-L2 replay over just those (query, neighbor)
    * pairs' RAW vectors and the final re-rank — the same fixed-order
    * dist expression as the Spark side's shared [[Similarity]] kernel.
    */
  private lazy val q95Oracle: String =
    s"$pqChainCtes${exactRefineTailSql(10)}"

  /** Shared q96/q99 model chain: q20's tokenization replay → per-doc
    * bigram counts `dc` → corpus model (`cb`, `cp`, vocab `vv`) →
    * integer-banked surprisal `sc` → per-doc totals `g`.
    */
  private lazy val bigramLmCtes: String =
    """WITH t AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
      |      AS toks
      |  FROM documents),
      |db AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |      bi -> {'w1': toks[bi], 'w2': toks[bi+1]})) AS u
      |    FROM t WHERE len(toks) >= 2)),
      |dc AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS c
      |  FROM db GROUP BY 1, 2, 3),
      |cb AS (SELECT w1, w2, sum(c)::BIGINT AS cb FROM dc GROUP BY 1, 2),
      |cp AS (SELECT w1, sum(cb)::BIGINT AS cp FROM cb GROUP BY 1),
      |vv AS (SELECT count(DISTINCT w2)::BIGINT AS v FROM cb),
      |sc AS (SELECT dc.doc_id, dc.c,
      |    floor(ln((cb.cb::DOUBLE + (500::DOUBLE / 1000.0)) /
      |      (cp.cp::DOUBLE + (500::DOUBLE / 1000.0) * vv.v::DOUBLE))
      |      * 1048576.0)::BIGINT AS lp
      |  FROM dc JOIN cb USING (w1, w2) JOIN cp USING (w1) CROSS JOIN vv),
      |g AS (SELECT doc_id, sum(c * lp)::BIGINT AS lp_micro,
      |    sum(c)::BIGINT AS n_bigrams
      |  FROM sc GROUP BY 1)""".stripMargin

  /** q105/q106 shared chain: DSIR hashed-n-gram importance weights —
    * unigram+bigram features, `mix64(polyHash(gram)) >>> 12 mod 1024`
    * buckets, add-0.5 bag-of-words models for target (source='src0')
    * vs raw (everything), per-bucket LLR banked as `floor(Δln·2^20)`
    * BIGINTs, per-doc integer sums. Column alias `c` is avoided in the
    * CTE that computes the hash (polyHash's list_reduce binds lambda
    * var `c`, which would shadow it).
    */
  private lazy val dsirCtes: String = {
    val bucket = s"((${DuckHash.mix(s"(${DuckHash.polyHash("w")})")}) " +
      ">> 12) % 1024"
    s"""WITH t AS (SELECT doc_id,
       |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS tgt,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
       |      AS toks
       |  FROM documents WHERE coalesce(length(trim(text)), 0) > 0),
       |f AS (SELECT doc_id, tgt, unnest(list_concat(toks,
       |    CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
       |      bi -> toks[bi] || ' ' || toks[bi + 1])
       |    ELSE CAST([] AS VARCHAR[]) END)) AS w FROM t),
       |fb AS (SELECT doc_id, tgt, ($bucket)::BIGINT AS bucket FROM f),
       |dc AS (SELECT doc_id, tgt, bucket, count(*)::BIGINT AS cnt
       |  FROM fb GROUP BY 1, 2, 3),
       |gb AS (SELECT bucket,
       |    sum(CASE WHEN tgt = 1 THEN cnt ELSE 0 END)::BIGINT AS ct,
       |    sum(cnt)::BIGINT AS cr FROM dc GROUP BY 1),
       |tt AS (SELECT sum(ct)::BIGINT AS tt, sum(cr)::BIGINT AS tr FROM gb),
       |lr AS (SELECT bucket,
       |    floor((ln((ct::DOUBLE + (500::DOUBLE / 1000.0)) /
       |        (tt.tt::DOUBLE + (500::DOUBLE / 1000.0) * 1024.0))
       |      - ln((cr::DOUBLE + (500::DOUBLE / 1000.0)) /
       |        (tt.tr::DOUBLE + (500::DOUBLE / 1000.0) * 1024.0)))
       |      * 1048576.0)::BIGINT AS lrm
       |  FROM gb CROSS JOIN tt),
       |pd AS (SELECT dc.doc_id, sum(dc.cnt * lr.lrm)::BIGINT AS logw_micro,
       |    sum(dc.cnt)::BIGINT AS n_feats
       |  FROM dc JOIN lr USING (bucket) GROUP BY 1)""".stripMargin
  }

  /** q115: the batch-perceptron training loop (epochs=2, w⁰=0)
    * replayed in SQL over the same hashed unigram+bigram buckets as
    * [[dsirCtes]], labels y = ±1 from source='src0'. Every step is
    * integer arithmetic: epoch-1 margins are all 0 (w⁰=0) so every
    * document is misclassified and w¹ = Σᵢ yᵢxᵢ; epoch-2 margins are
    * Σ_b c_b·w¹_b, and w² adds Σ_{y·m ≤ 0} yᵢxᵢ. Final output scores
    * every document (empty text → 0 features, margin 0) under w².
    */
  /** Deterministic synthetic URL column for the q118/q121 domain
    * queries — the corpus has no url field, so both engines replay the
    * same construction. Three shapes by `doc_id % 3`: a plain https
    * URL with a `www.` subdomain, an uppercase HTTP URL with userinfo
    * + `m.` subdomain + port, and a scheme-less bare string; the site
    * itself varies digit and TLD (incl. the multi-label `co.uk`) by
    * doc_id mod.
    */
  private def withUrls(docs: DataFrame): DataFrame = {
    val site = concat(col("source"), (col("doc_id") % 10).cast("string"),
      lit("."),
      when(col("doc_id") % 4 === 0, "com")
        .when(col("doc_id") % 4 === 1, "org")
        .when(col("doc_id") % 4 === 2, "co.uk")
        .otherwise("net"))
    val url = when(col("doc_id") % 3 === 0,
        concat(lit("https://www."), site, lit("/p/"),
          col("doc_id").cast("string")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("HTTP://user:pw@"), upper(concat(lit("m."), site)),
          lit(":8080/x?q="), col("doc_id").cast("string")))
      .otherwise(concat(site, lit("/plain#frag")))
    docs.withColumn("url", url)
  }

  /** Deterministic synthetic HTML page for q127 — the corpus has no
    * HTML column, so both engines replay the same page construction:
    * head with title/style/script, an all-link nav, a link-farm
    * sidebar with an `&amp;` entity on `doc_id % 5`, the doc's words
    * re-wrapped as 12-word `<p>` blocks, a 2-word shout `<div>` on
    * `doc_id % 7`, and an all-link footer.
    */
  private def withHtml(docs: DataFrame): DataFrame = {
    val d1 = docs.withColumn("_hws", TextOps.words(col("text")))
      .withColumn("_hnp",
        expr("greatest(cast((size(_hws) + 11) div 12 as int), 1)"))
    val paras = expr("array_join(transform(sequence(0, _hnp - 1), " +
      "i -> concat('<p>', array_join(slice(_hws, i * 12 + 1, 12), ' '), " +
      "'</p>')), '')")
    val head = concat(lit("<html><head><title>doc "),
      col("doc_id").cast("string"),
      lit("</title><style>p{margin:0;}</style>" +
        "<script>var x=1;</script></head><body>"))
    val nav = lit("<nav><a href=\"/\">home</a> <a href=\"/about\">about" +
      "</a> <a href=\"/contact\">contact</a></nav>")
    val side = when(col("doc_id") % 5 === 0,
      lit("<div class=\"s\"><a href=\"/a\">tips &amp; tricks</a> " +
        "<a href=\"/b\">hot deals</a> <a href=\"/c\">win big</a> now</div>"))
      .otherwise(lit(""))
    val shout = when(col("doc_id") % 7 === 0, lit("<div>buy now</div>"))
      .otherwise(lit(""))
    val footer = lit("<footer><a href=\"/terms\">terms of use</a> " +
      "<a href=\"/privacy\">privacy policy</a> sitemap</footer>" +
      "</body></html>")
    d1.withColumn("html", concat(head, nav, side, paras, shout, footer))
      .drop("_hws", "_hnp")
  }

  /** q134 mess snippets, shared VERBATIM by the Spark synthesis and
    * the SQL oracle: BOM + decomposed é, a zero-width space, a
    * combining ring (A + U+030A → Å under NFC).
    */
  private val uniBom: String = "\ufeff" + "e\u0301clair "
  private val uniZw: String = " zero\u200bwidth"
  private val uniRing: String = " A\u030arhus"

  /** The q118/q121 URL synthesis + host + registrable-domain replay:
    * relation `dd` = (doc_id, text, domain). Same regex as
    * [[UrlOps.hostOf]] (RE2/Java-compatible subset), same last-2/last-3
    * label heuristic over [[UrlOps.multiLabelSuffixes]].
    */
  private lazy val urlCtes: String = {
    val suffixes = UrlOps.multiLabelSuffixes.map(x => s"'$x'").mkString(", ")
    s"""WITH u AS (SELECT doc_id, text,
       |    CASE (doc_id % 3)
       |      WHEN 0 THEN 'https://www.' || site || '/p/' || doc_id
       |      WHEN 1 THEN 'HTTP://user:pw@' || upper('m.' || site) ||
       |        ':8080/x?q=' || doc_id
       |      ELSE site || '/plain#frag' END AS url
       |  FROM (SELECT doc_id, text, source || (doc_id % 10) || '.' ||
       |      (CASE (doc_id % 4) WHEN 0 THEN 'com' WHEN 1 THEN 'org'
       |        WHEN 2 THEN 'co.uk' ELSE 'net' END) AS site
       |    FROM documents)),
       |uh AS (SELECT doc_id, text, regexp_replace(lower(regexp_extract(url,
       |    '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1)),
       |    '\\.$$', '') AS host FROM u),
       |dd AS (SELECT doc_id, text, CASE WHEN len(p) <= 2 THEN host
       |    WHEN array_to_string(p[len(p)-1:], '.') IN ($suffixes)
       |      THEN array_to_string(p[len(p)-2:], '.')
       |    ELSE array_to_string(p[len(p)-1:], '.') END AS domain
       |  FROM (SELECT doc_id, text, host, string_split(host, '.') AS p
       |    FROM uh))""".stripMargin
  }

  /** The exact-substring election chain shared by q116 (stats) and
    * q122 (rebuild): normalized words `t`, per-word polyHashes, the
    * per-offset base-31 gram fold, first-occurrence election, and the
    * gaps-and-islands merge into maximal spans `sp(doc_id, s, e0, nd)`.
    * CTEs referenced by both consumers stay single-use per statement,
    * so no MATERIALIZED is needed here.
    */
  private lazy val substringCtes: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(${DuckHash.norm("coalesce(text, '')")}, ' ')
       |      AS ws
       |  FROM documents),
       |wh AS (SELECT doc_id,
       |    list_transform(ws, wx -> ${DuckHash.polyHash("wx")}) AS whs
       |  FROM t),
       |g AS (SELECT doc_id, whs,
       |    unnest(range(1, greatest(len(whs) - 7, 0) + 1)) AS off
       |  FROM wh),
       |f AS (SELECT doc_id, off,
       |    list_reduce(list_prepend(1125899906842597::HUGEINT,
       |      whs[off:off+7]),
       |      (gh, gc) -> (31 * gh + gc) % ${DuckHash.uStr}) AS fp
       |  FROM g),
       |e AS (SELECT doc_id, off, row_number() OVER (
       |    PARTITION BY fp ORDER BY doc_id, off) AS rn FROM f),
       |d AS (SELECT doc_id, off FROM e WHERE rn > 1),
       |i1 AS (SELECT doc_id, off, CASE WHEN off - lag(off) OVER (
       |      PARTITION BY doc_id ORDER BY off) <= 8 THEN 0
       |    ELSE 1 END AS brk FROM d),
       |i2 AS (SELECT doc_id, off, sum(brk) OVER (
       |    PARTITION BY doc_id ORDER BY off
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM i1),
       |sp AS (SELECT doc_id, isl, min(off) AS s, max(off) AS e0,
       |    count(*) AS nd FROM i2 GROUP BY 1, 2)""".stripMargin

  /** Training-vocab cap for the q117/q120 BPE queries — far above the
    * corpus's distinct-word count, so the top-V election keeps
    * everything at test scale while the oracle still replays the gate.
    */
  private val bpeMaxVocab = 10000

  /** Unrolled BPE merge-loop replay (Bpe.trainMerges, stage per merge):
    * `v0` = the intop-flagged distinct vocabulary as code-point lists
    * (intop = inside the top-`maxVocab` `(count desc, word asc)`
    * election — only those vote on merges; ALL words get rewritten so
    * the frozen-encoder replay covers out-of-vocab words too). Stage k:
    * `p` counts adjacent pairs weighted by word count, `m` elects
    * `(cnt desc, pair asc)`, `kp` keeps left-to-right non-overlapping
    * match positions (gaps-and-islands + odd parity — the only place
    * overlap matters is equal-halves runs like `aaa`), `v` splices
    * each kept position into one merged token. CTEs are MATERIALIZED:
    * each stage reads its predecessor 3×, so the default inlining
    * re-derives the chain exponentially (measured: >120 s inlined vs
    * 0.25 s materialized at sf0.01).
    */
  private def bpeCtes(nMerges: Int, maxVocab: Int): String = {
    val sb = new StringBuilder
    // byte-level pretokens (round 10): the GPT-2-class regex pre-split,
    // identical under RE2 and Java regex (no lookahead); the corpus is
    // pure ASCII, so per-CHAR slicing below replays the operator's
    // per-UTF-8-BYTE decomposition exactly
    sb.append(
      s"""WITH wraw AS (SELECT unnest(regexp_extract_all(text,
         |      '${Bpe.preTokenPattern}', 0)) AS wd
         |  FROM documents WHERE coalesce(length(trim(text)), 0) > 0),
         |wc AS (SELECT wd, count(*)::BIGINT AS wcnt FROM wraw GROUP BY 1),
         |wv AS (SELECT wd, wcnt, (row_number() OVER (
         |    ORDER BY wcnt DESC, wd ASC)) <= $maxVocab AS intop FROM wc),
         |v0 AS MATERIALIZED (SELECT wd, wcnt, intop,
         |  list_transform(range(1, length(wd) + 1), ci -> wd[ci:ci]) AS toks
         |  FROM wv)""".stripMargin)
    for (k <- 1 to nMerges) {
      val pv = s"v${k - 1}"
      sb.append(
        s""",
           |p$k AS MATERIALIZED (SELECT toks[j] AS a, toks[j + 1] AS b,
           |    sum(wcnt)::BIGINT AS cnt
           |  FROM $pv, unnest(range(1, len(toks))) AS u$k(j)
           |  WHERE intop GROUP BY 1, 2),
           |m$k AS MATERIALIZED (SELECT a, b, cnt FROM p$k
           |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
           |x$k AS MATERIALIZED (SELECT v.wd, v.wcnt, v.intop, v.toks, u.j
           |  FROM $pv v, unnest(range(1, len(v.toks) + 1)) AS u(j)),
           |kp$k AS MATERIALIZED (SELECT wd, j FROM (
           |    SELECT wd, j, row_number() OVER (
           |      PARTITION BY wd, isl ORDER BY j) AS rn
           |    FROM (SELECT x.wd, x.j, x.j - row_number() OVER (
           |        PARTITION BY x.wd ORDER BY x.j) AS isl
           |      FROM x$k x JOIN m$k m ON x.j < len(x.toks)
           |        AND x.toks[x.j] = m.a AND x.toks[x.j + 1] = m.b))
           |  WHERE rn % 2 = 1),
           |v$k AS MATERIALIZED (SELECT x.wd, x.wcnt, x.intop,
           |    list(CASE WHEN k1.j IS NOT NULL
           |      THEN x.toks[x.j] || x.toks[x.j + 1]
           |      ELSE x.toks[x.j] END ORDER BY x.j) AS toks
           |  FROM x$k x
           |  LEFT JOIN kp$k k1 ON k1.wd = x.wd AND k1.j = x.j
           |  LEFT JOIN kp$k k2 ON k2.wd = x.wd AND k2.j = x.j - 1
           |  WHERE k2.j IS NULL GROUP BY x.wd, x.wcnt, x.intop)""".stripMargin)
    }
    sb.toString
  }

  private lazy val perceptronCtes: String = {
    val bucket = s"((${DuckHash.mix(s"(${DuckHash.polyHash("w")})")}) " +
      ">> 12) % 1024"
    s"""WITH t AS (SELECT doc_id,
       |    CASE WHEN source = 'src0' THEN 1 ELSE -1 END AS y,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
       |      AS toks
       |  FROM documents WHERE coalesce(length(trim(text)), 0) > 0),
       |f AS (SELECT doc_id, y, unnest(list_concat(toks,
       |    CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
       |      bi -> toks[bi] || ' ' || toks[bi + 1])
       |    ELSE CAST([] AS VARCHAR[]) END)) AS w FROM t),
       |fb AS (SELECT doc_id, y, ($bucket)::BIGINT AS bucket FROM f),
       |dc AS (SELECT doc_id, y, bucket, count(*)::BIGINT AS cnt
       |  FROM fb GROUP BY 1, 2, 3),
       |w1 AS (SELECT bucket, sum(y * cnt)::BIGINT AS wt FROM dc GROUP BY 1),
       |m2 AS (SELECT dc.doc_id, dc.y, sum(dc.cnt * w1.wt)::BIGINT AS m
       |  FROM dc JOIN w1 USING (bucket) GROUP BY 1, 2),
       |g2 AS (SELECT dc.bucket, sum(dc.y * dc.cnt)::BIGINT AS g
       |  FROM dc JOIN m2 ON m2.doc_id = dc.doc_id
       |  WHERE m2.y * m2.m <= 0 GROUP BY 1),
       |w2 AS (SELECT w1.bucket, (w1.wt + coalesce(g2.g, 0))::BIGINT AS wt
       |  FROM w1 LEFT JOIN g2 USING (bucket)),
       |sc AS (SELECT dc.doc_id, sum(dc.cnt)::BIGINT AS n_feats,
       |    sum(dc.cnt * w2.wt)::BIGINT AS margin
       |  FROM dc JOIN w2 USING (bucket) GROUP BY 1)""".stripMargin
  }

  private lazy val perceptronOracle: String =
    s"""$perceptronCtes
       |SELECT d.doc_id, coalesce(sc.n_feats, 0)::BIGINT AS n_feats,
       |  coalesce(sc.margin, 0)::BIGINT AS margin,
       |  (CASE WHEN coalesce(sc.margin, 0) > 0 THEN 1 ELSE 0 END)::INT
       |    AS predicted
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  private lazy val q74Oracle: String =
    s"""$kmeansCtes
       |SELECT vec_id, cid AS cluster FROM a2""".stripMargin

  /** q94 oracle: residual IVF-PQ — the q91 coarse chain (trained c2,
    * cell assignment, 2-cell probe), then the per-element residual
    * `x − c2.cv`, TWO nested k-means replays over residual SLICES
    * (inner WITHs read the outer `resid` CTE), each vector's codeword
    * vector (a2 joined to the c1 it indexes), the query's per-probed-
    * cell residual, and the fixed-order ADC sum `d0 + d1`.
    */
  private lazy val q94Oracle: String = {
    def part(s: Int, xExpr: String) =
      s"""(${kmeansRounds(xExpr, 4, src = "resid", p = s"r${s}_")}
         |SELECT a.vec_id, c.cv
         |FROM r${s}_a2 a JOIN r${s}_c1 c ON c.cid = a.cid)""".stripMargin
    s"""$kmeansCtes,
       |sx2 AS (SELECT a2.cid, unnest(list_transform(range(1, len(e.x) + 1),
       |    di -> {'pos': di,
       |      'sxv': floor(e.x[di]::DOUBLE * 1048576.0)::BIGINT})) AS u
       |  FROM a2 JOIN e ON e.vec_id = a2.vec_id),
       |s2 AS (SELECT cid, u.pos AS pos, sum(u.sxv)::BIGINT AS s,
       |    count(*)::BIGINT AS cnt FROM sx2 GROUP BY 1, 2),
       |c2 AS (SELECT cid, list(s::DOUBLE / (cnt::DOUBLE * 1048576.0)
       |    ORDER BY pos) AS cv FROM s2 GROUP BY cid),
       |csc AS (SELECT e.vec_id, c.cid, ${duckDist("e.x", "c.cv", "vi")} AS d
       |  FROM e CROSS JOIN c2 c),
       |crk AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d, cid) AS rk FROM csc),
       |ccell AS (SELECT vec_id, cid FROM crk WHERE rk = 1),
       |qcell AS (SELECT vec_id AS query_id, cid FROM crk
       |  WHERE rk <= 2 AND vec_id < 25),
       |resid AS (SELECT e.vec_id, list_transform(range(1, len(e.x) + 1),
       |    ri -> e.x[ri] - c2.cv[ri]) AS x
       |  FROM e JOIN ccell cc ON cc.vec_id = e.vec_id
       |    JOIN c2 ON c2.cid = cc.cid),
       |p0 AS ${part(0, "x[1:32]")},
       |p1 AS ${part(1, "x[33:64]")},
       |qr AS (SELECT q.query_id, q.cid AS cell,
       |    list_transform(range(1, len(e.x) + 1),
       |      ri -> e.x[ri] - c2.cv[ri]) AS v
       |  FROM qcell q JOIN e ON e.vec_id = q.query_id
       |    JOIN c2 ON c2.cid = q.cid),
       |g AS (SELECT qr.query_id, cc.vec_id AS neighbor_id,
       |    (${duckDist("qr.v[1:32]", "p0.cv", "vi")}) +
       |    (${duckDist("qr.v[33:64]", "p1.cv", "vi")}) AS adc
       |  FROM qr JOIN ccell cc ON cc.cid = qr.cell
       |    AND cc.vec_id <> qr.query_id
       |    JOIN p0 ON p0.vec_id = cc.vec_id
       |    JOIN p1 ON p1.vec_id = cc.vec_id),
       |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
       |  FROM g)
       |SELECT query_id, neighbor_id, rank, round(adc, 6) AS adc_dist
       |FROM r WHERE rank <= 3""".stripMargin
  }

  /** q91 oracle: IVF-PQ end-to-end — the q87 trained-coarse chain
    * (k-means rounds + one more update = c2) drives cell assignment
    * (argmin dist, cid tie-break) and the 2-cell query probe; the q90
    * per-subspace parts supply the ADC distances; the cell-pair join
    * bounds which pairs score. All three k-means replays live in one
    * statement — each inner chain fully NAME-PREFIXED (see
    * [[kmeansRounds]]'s shadowing note).
    */
  /** The q91 IVF-PQ replay chain up to the ranked ADC relation `r` —
    * shared by q91 (cut at topK) and q100 (cut at rerankDepth, then the
    * exact refine).
    */
  private lazy val ivfPqChainCtes: String = {
    def part(s: Int, xExpr: String) =
      s"""(${kmeansRounds(xExpr, 4, p = s"q${s}_")}
         |SELECT qe.vec_id AS query_id, a.vec_id,
         |  ${duckDist("qe.x", "c.cv", "vi")} AS d
         |FROM q${s}_a2 a JOIN q${s}_c1 c ON c.cid = a.cid,
         |  (SELECT vec_id, x FROM q${s}_e WHERE vec_id < 25) qe)""".stripMargin
    s"""$kmeansCtes,
       |sx2 AS (SELECT a2.cid, unnest(list_transform(range(1, len(e.x) + 1),
       |    di -> {'pos': di,
       |      'sxv': floor(e.x[di]::DOUBLE * 1048576.0)::BIGINT})) AS u
       |  FROM a2 JOIN e ON e.vec_id = a2.vec_id),
       |s2 AS (SELECT cid, u.pos AS pos, sum(u.sxv)::BIGINT AS s,
       |    count(*)::BIGINT AS cnt FROM sx2 GROUP BY 1, 2),
       |c2 AS (SELECT cid, list(s::DOUBLE / (cnt::DOUBLE * 1048576.0)
       |    ORDER BY pos) AS cv FROM s2 GROUP BY cid),
       |csc AS (SELECT e.vec_id, c.cid, ${duckDist("e.x", "c.cv", "vi")} AS d
       |  FROM e CROSS JOIN c2 c),
       |crk AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d, cid) AS rk FROM csc),
       |ccell AS (SELECT vec_id, cid FROM crk WHERE rk = 1),
       |qcell AS (SELECT vec_id AS query_id, cid FROM crk
       |  WHERE rk <= 2 AND vec_id < 25),
       |cp AS (SELECT q.query_id, c.vec_id FROM qcell q
       |  JOIN ccell c ON q.cid = c.cid AND q.query_id <> c.vec_id),
       |p0 AS ${part(0, "embedding[1:32]")},
       |p1 AS ${part(1, "embedding[33:64]")},
       |g AS (SELECT cp.query_id, cp.vec_id AS neighbor_id,
       |    p0.d + p1.d AS adc
       |  FROM cp
       |    JOIN p0 ON p0.query_id = cp.query_id AND p0.vec_id = cp.vec_id
       |    JOIN p1 ON p1.query_id = cp.query_id AND p1.vec_id = cp.vec_id),
       |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
       |  FROM g)""".stripMargin
  }

  private lazy val q91Oracle: String =
    s"""$ivfPqChainCtes
       |SELECT query_id, neighbor_id, rank, round(adc, 6) AS adc_dist
       |FROM r WHERE rank <= 3""".stripMargin

  /** q100 oracle: the q91 chain cut at rank <= 8 (the IVF-PQ
    * shortlist), then the q95-style exact squared-L2 refine and final
    * re-rank over just those pairs' raw vectors.
    */
  private lazy val q100Oracle: String =
    s"$ivfPqChainCtes${exactRefineTailSql(8)}"

  /** q76 oracle: the q74 k-means replay feeding the intra-cell cosine
    * pair join and the lower-id drop election. The cosine is the exact
    * Spark expression (index-order dot, `dot / (sqrt(na) * sqrt(nb))`),
    * with the zero-norm CASE mirroring `Vectors.cosineFromParts`'s 0.0
    * (without it a zero vector yields 0/0 = NaN, which DuckDB orders
    * ABOVE all doubles — the `>= threshold` would silently flip), so
    * the comparison agrees bit-for-bit; every output column is an
    * integer.
    */
  private lazy val q76Oracle: String = {
    s"""$kmeansCtes,
       |m AS (SELECT a2.vec_id, a2.cid AS cluster, e.x
       |  FROM a2 JOIN e ON e.vec_id = a2.vec_id),
       |pr AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
       |    CASE WHEN (${duckDot("a.x", "a.x", "di")}) = 0
       |        OR (${duckDot("b.x", "b.x", "di")}) = 0 THEN 0.0
       |      ELSE (${duckDot("a.x", "b.x", "di")}) /
       |        (sqrt(${duckDot("a.x", "a.x", "di")}) * sqrt(${duckDot("b.x", "b.x", "di")}))
       |      END AS cos
       |  FROM m a JOIN m b ON a.cluster = b.cluster
       |    AND a.vec_id < b.vec_id),
       |dr AS (SELECT DISTINCT idb FROM pr WHERE cos >= 0.3)
       |SELECT m.vec_id, m.cluster,
       |  CAST(CASE WHEN dr.idb IS NULL THEN 1 ELSE 0 END AS INT) AS kept
       |FROM m LEFT JOIN dr ON m.vec_id = dr.idb""".stripMargin
  }

  /** q87 oracle: the FULL trained-IVF index replayed — the q74 k-means
    * rounds, PLUS one more integer-exact centroid update (= the trained
    * codebook `kmeansCentroids` emits), then the q47 IVF probe replica
    * over those centroids: nearest-centroid assignment (cosine desc,
    * cid asc), 2-cell probe for queries vec_id < 25, exact in-cell
    * cosine top-3.
    */
  private lazy val q87Oracle: String = {
    def cos(a: String, b: String) =
      s"(${duckDot(a, b, "vi")}) / " +
        s"(sqrt(${duckDot(a, a, "vi")}) * sqrt(${duckDot(b, b, "vi")}))"
    s"""$kmeansCtes,
       |sx2 AS (SELECT a2.cid, unnest(list_transform(range(1, len(e.x) + 1),
       |    di -> {'pos': di,
       |      'sxv': floor(e.x[di]::DOUBLE * 1048576.0)::BIGINT})) AS u
       |  FROM a2 JOIN e ON e.vec_id = a2.vec_id),
       |s2 AS (SELECT cid, u.pos AS pos, sum(u.sxv)::BIGINT AS s,
       |    count(*)::BIGINT AS cnt FROM sx2 GROUP BY 1, 2),
       |c2 AS (SELECT cid, list(s::DOUBLE / (cnt::DOUBLE * 1048576.0)
       |    ORDER BY pos) AS cv FROM s2 GROUP BY cid),
       |sc AS (SELECT e.vec_id, c.cid, ${cos("e.x", "c.cv")} AS score
       |  FROM e CROSS JOIN c2 c),
       |rk AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cid) AS rk FROM sc),
       |ccell AS (SELECT vec_id AS neighbor_id, cid FROM rk WHERE rk = 1),
       |qcell AS (SELECT vec_id AS query_id, cid FROM rk
       |  WHERE rk <= 2 AND vec_id < 25),
       |pairs AS (SELECT q.query_id, c.neighbor_id,
       |    ${cos("eq.x", "ec.x")} AS cos
       |  FROM qcell q JOIN ccell c ON q.cid = c.cid
       |    AND q.query_id <> c.neighbor_id
       |    JOIN e eq ON eq.vec_id = q.query_id
       |    JOIN e ec ON ec.vec_id = c.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
       |FROM r WHERE rank <= 3""".stripMargin
  }

  /** q77 oracle: hash-order (mix64 >> 12) layout, per-(lang, shard)
    * running token totals via a window cumsum, integer pack assignment.
    * DuckDB's windowed sum(BIGINT) yields HUGEINT — cast back before the
    * integer division so every output column lands as BIGINT.
    */
  private lazy val q77Oracle: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |    CASE WHEN coalesce(len(trim(text)), 0) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
       |      END::BIGINT AS n_tokens,
       |    ((${DuckHash.mix("doc_id::HUGEINT")}) >> 12) AS k
       |  FROM documents),
       |s AS (SELECT doc_id, lang, n_tokens, k, k % 4 AS shard FROM t),
       |c AS (SELECT doc_id, lang, n_tokens, shard,
       |    coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard
       |      ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0)::BIGINT AS st
       |  FROM s)
       |SELECT doc_id, lang, n_tokens,
       |  (shard * 1099511627776 + st // 2048)::BIGINT AS pack_id,
       |  (st % 2048)::BIGINT AS pack_offset
       |FROM c""".stripMargin

  /** q78 oracle: both mixes replayed — the split bucket from mix(doc_id),
    * the shuffle key from mix(doc_id + salt); `>> 12` keeps every value
    * in the signed-BIGINT-safe 52-bit domain.
    */
  private lazy val q78Oracle: String =
    s"""WITH t AS (SELECT doc_id,
       |    ((${DuckHash.mix("doc_id::HUGEINT")}) >> 12) % 1000 AS b,
       |    ((${DuckHash.mix("(doc_id + 1000000007)::HUGEINT")}) >> 12)
       |      AS k2
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val'
       |    ELSE 'test' END AS split,
       |  (k2 % 16)::BIGINT AS file_idx, k2::BIGINT AS shuffle_key
       |FROM t""".stripMargin

  /** q79 oracle: identical tokenization (q20/q21 convention) and the
    * exact fixed-order score AST — `(tf * ((N - df) + 0.5)) / (df + 0.5)`
    * — so the unrounded score doubles hash bit-identically (the q73
    * precedent).
    */
  private lazy val q79Oracle: String =
    s"""WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
       |      AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |  FROM t GROUP BY 1, 2),
       |d AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |g AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
       |s AS (SELECT tf.doc_id, tf.term, tf.tf, d.df,
       |    (tf.tf::DOUBLE * (g.n_docs::DOUBLE - d.df::DOUBLE + 0.5)) /
       |      (d.df::DOUBLE + 0.5) AS score
       |  FROM tf JOIN d USING (term), g),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term) AS rank FROM s)
       |SELECT doc_id, term, tf, df, score, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 5""".stripMargin

  /** q80 oracle: the q68 chunk slicing + base-31 fingerprint replay,
    * extended with the winning chunks' TEXT — string_agg in chunk order
    * rebuilds exactly what the Spark side's array_sort + array_join
    * emits.
    */
  private lazy val q80Oracle: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(${DuckHash.norm("text")}, ' ') AS ws
       |  FROM documents),
       |s AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 25)) AS st
       |  FROM t),
       |c AS (SELECT doc_id, ((st - 1) // 25)::BIGINT AS chunk_idx,
       |    array_to_string(ws[st:st+24], ' ') AS ct FROM s),
       |f AS (SELECT doc_id, chunk_idx, ct, ${DuckHash.polyHash("ct")} AS fp
       |  FROM c),
       |k AS (SELECT doc_id, chunk_idx, ct, row_number() OVER (
       |    PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn FROM f),
       |w AS (SELECT doc_id, chunk_idx, ct FROM k WHERE rn = 1),
       |r AS (SELECT doc_id,
       |    string_agg(ct, ' ' ORDER BY chunk_idx) AS text_dedup,
       |    count(*)::BIGINT AS n_kept FROM w GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(r.text_dedup, '') AS text_dedup,
       |  coalesce(r.n_kept, 0)::BIGINT AS n_kept
       |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id""".stripMargin

  /** q81 oracle: same normalize-split, stride-20 starts, 40-word
    * windows; trailing windows shorten exactly like Spark's `slice`.
    */
  private lazy val q81Oracle: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(${DuckHash.norm("text")}, ' ') AS ws
       |  FROM documents),
       |s AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 20)) AS st
       |  FROM t)
       |SELECT doc_id, ((st - 1) // 20)::BIGINT AS chunk_idx,
       |  len(ws[st:st+39])::BIGINT AS n_words,
       |  array_to_string(ws[st:st+39], ' ') AS chunk_text
       |FROM s""".stripMargin

  /** q83 oracle: the q68 replay with a stride and a full-width filter —
    * sliding windows, first-occurrence election by (doc_id, idx).
    */
  private lazy val q83Oracle: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(${DuckHash.norm("text")}, ' ') AS ws
       |  FROM documents),
       |s AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 10)) AS st
       |  FROM t),
       |c AS (SELECT doc_id, ((st - 1) // 10)::BIGINT AS chunk_idx,
       |    array_to_string(ws[st:st+29], ' ') AS ct FROM s
       |  WHERE len(ws[st:st+29]) = 30),
       |f AS (SELECT doc_id, chunk_idx, ${DuckHash.polyHash("ct")} AS fp
       |  FROM c),
       |k AS (SELECT doc_id, fp, row_number() OVER (
       |    PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn FROM f),
       |per AS (SELECT doc_id, count(*) AS n_windows,
       |    sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_owned
       |  FROM k GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_windows, 0)::BIGINT AS n_windows,
       |  coalesce(per.n_owned, 0)::BIGINT AS n_owned
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin

  /** q84 oracle: the q64 qhist bucket replay + the q66 HLL register
    * replay, both over documents per language — `u` feeds the register
    * math with mix64(polyHash(text)) exactly as HllAgg hashes its input.
    * Null hardening mirrors the Spark side: `u IS NOT NULL` before the
    * register CTE (HllAgg skips null input), LEFT JOINs with null-safe
    * lang equality (a NULL-lang group must not drop out of the report),
    * and an all-null-text group coalesces to the empty sketch
    * (sum_reg 0, n_zero 256).
    */
  private lazy val q84Oracle: String = {
    def lb(b: String): String =
      s"CAST(CASE WHEN $b < 32 THEN $b ELSE (16 + $b % 16)::BIGINT " +
        s"<< (($b - 32) // 16 + 1) END AS BIGINT)"
    def qAt(f: Double, name: String): String =
      s"min(CASE WHEN cn >= greatest(1, CAST(ceil($f * tot) AS BIGINT)) " +
        s"THEN bucket END) AS $name"
    s"""WITH fp AS (SELECT lang, n_chars,
       |    (${DuckHash.mix(s"(${DuckHash.polyHash("text")})")}) AS u
       |  FROM documents),
       |b AS (SELECT lang, CASE WHEN n_chars <= 0 THEN 0
       |    WHEN n_chars < 32 THEN n_chars
       |    ELSE 32 + (len(bin(n_chars)) - 6) * 16
       |      + ((n_chars >> (len(bin(n_chars)) - 5)) & 15) END AS bucket
       |  FROM fp),
       |c AS (SELECT lang, bucket, count(*) AS n FROM b GROUP BY 1, 2),
       |cum AS (SELECT lang, bucket,
       |    sum(n) OVER (PARTITION BY lang ORDER BY bucket) AS cn,
       |    sum(n) OVER (PARTITION BY lang) AS tot FROM c),
       |qs AS (SELECT lang, ${qAt(0.1, "b10")}, ${qAt(0.5, "b50")},
       |    ${qAt(0.9, "b90")} FROM cum GROUP BY lang),
       |hb AS (SELECT lang, (u >> 56)::BIGINT AS bucket,
       |    (u % 72057594037927936)::BIGINT AS low FROM fp
       |  WHERE u IS NOT NULL),
       |hr AS (SELECT lang, bucket, max(CASE WHEN low = 0 THEN 57
       |    ELSE 57 - len(bin(low)) END) AS rho FROM hb GROUP BY 1, 2),
       |hs AS (SELECT lang, sum(rho)::BIGINT AS sum_reg,
       |    (256 - count(*))::BIGINT AS n_zero FROM hr GROUP BY lang),
       |nd AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents
       |  GROUP BY lang)
       |SELECT nd.lang, nd.n_docs, ${lb("b10")} AS p10_lb,
       |  ${lb("b50")} AS p50_lb, ${lb("b90")} AS p90_lb,
       |  coalesce(hs.sum_reg, 0)::BIGINT AS sum_reg,
       |  coalesce(hs.n_zero, 256)::BIGINT AS n_zero
       |FROM nd LEFT JOIN qs ON nd.lang IS NOT DISTINCT FROM qs.lang
       |  LEFT JOIN hs ON nd.lang IS NOT DISTINCT FROM hs.lang""".stripMargin
  }

  /** q85 oracle: identical fixed-order quantization AST —
    * `floor(x · 127 / max|x| + 0.5)`; scale by list_max (max is exactly
    * order-independent, unlike a sum).
    */
  private lazy val q85Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding AS x FROM embeddings),
       |s AS (SELECT vec_id, x,
       |    list_max(list_transform(x, a -> abs(a::DOUBLE))) AS sc FROM e)
       |SELECT vec_id, u.pos, u.qv AS qval FROM (
       |  SELECT vec_id, unnest(list_transform(range(1, len(x) + 1),
       |    qi -> {'pos': (qi - 1)::BIGINT,
       |      'qv': CASE WHEN sc = 0 THEN 0
       |        ELSE floor(x[qi]::DOUBLE * 127.0 / sc + 0.5)::BIGINT END}))
       |    AS u
       |  FROM s) t""".stripMargin

  /** q82 oracle: the integer mixture math replayed — binding total
    * `T = min(obs·1000 // share)`, per-stratum keep-rate
    * `((T·share // 1000) · 1e6) // obs`, mix64 keep-predicate.
    */
  private lazy val q82Oracle: String =
    s"""WITH sh(lang, share) AS (VALUES ('en', 500::BIGINT),
       |    ('de', 125::BIGINT), ('es', 125::BIGINT), ('fr', 125::BIGINT),
       |    ('zh', 125::BIGINT)),
       |c AS (SELECT sh.lang, sh.share, coalesce(o.obs, 0) AS obs
       |  FROM sh LEFT JOIN (SELECT lang, count(*)::BIGINT AS obs
       |    FROM documents GROUP BY 1) o ON o.lang = sh.lang),
       |t AS (SELECT min((obs * 1000) // share) AS tt FROM c),
       |r AS (SELECT lang, ((((tt * share) // 1000) * 1000000) // obs)
       |    AS rpm FROM c, t WHERE obs > 0)
       |SELECT d.doc_id, d.lang,
       |  CAST(CASE WHEN r.rpm IS NOT NULL AND
       |      ((${DuckHash.mix("(doc_id + 777767777)::HUGEINT")}) >> 12)
       |        % 1000000 < r.rpm
       |    THEN 1 ELSE 0 END AS INT) AS kept
       |FROM documents d LEFT JOIN r ON d.lang = r.lang""".stripMargin

  /** q62 oracle: the splitmix64 keep-predicate replayed in HUGEINT
    * arithmetic (DuckHash.mix is the proven-exact q23/q25 template);
    * `>> 12` drops the sign bit, so signed-JVM and unsigned-HUGEINT
    * agree on the 52-bit bucket value.
    */
  private lazy val q62Oracle: String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE ((${DuckHash.mix("doc_id::HUGEINT")}) >> 12) % 1000 <
       |  CASE WHEN lang = 'en' THEN 100 ELSE 250 END""".stripMargin

  /** DuckDB SQL templates replicating the graft hash kernels bit-for-bit
    * (mix64 splitmix finalizer, char-fold string hash, base-31 polyHash),
    * so the hash-valued queries (q23/q24/q25) get exact external oracles
    * instead of rows-only checks. 64-bit wraparound arithmetic is
    * emulated in HUGEINT mod 2^64 (a 64×64 multiply is split at 32 bits
    * so no intermediate exceeds HUGEINT range); xor/shifts operate on the
    * non-negative HUGEINT domain; results convert to signed BIGINT at the
    * edge. The documents tables are pure ASCII (verified at every SF), so
    * DuckDB code points == Java chars == UTF-8 bytes.
    */
  private object DuckHash {
    private val U = BigInt(1) << 64
    private val W = BigInt(1) << 32
    val uStr: String = U.toString
    /** single-use let binding via a 1-element list_transform */
    private def let(v: String, name: String, body: String) =
      s"list_transform([$v], $name -> $body)[1]"
    /** (a * b) mod 2^64 for HUGEINT expr `a` (an identifier) and constant b */
    private def mulmod(a: String, b: BigInt): String = {
      val bl = b % W; val bh = b / W
      s"(($a % $W) * $bl + ((($a % $W) * $bh + ($a // $W) * $bl) % $W) * $W) % $U"
    }
    /** splitmix64 finalizer (Hashing.mix64) of HUGEINT expression `x`. */
    def mix(x: String): String =
      let(s"($x + 11400714819323198485) % $U", "z1",
        let(let("xor(z1, z1 >> 30)", "a2",
              mulmod("a2", BigInt("13787848793156543929"))), "z2",
          let(let("xor(z2, z2 >> 27)", "a3",
                mulmod("a3", BigInt("10723151780598845931"))), "z3",
            "xor(z3, z3 >> 31)")))
    /** Hashing.normalize: lowercase, collapse whitespace, trim. */
    def norm(t: String): String =
      s"trim(regexp_replace(lower($t), '\\s+', ' ', 'g'))"
    /** Hashing.hashString(s, seed=0): left fold of mix64(h xor char).
      * `n` must be a simple column/lambda identifier — it is substituted
      * repeatedly (ci/h/c are reserved lambda names).
      */
    def hashStr(n: String): String =
      s"list_reduce(list_prepend(0::HUGEINT, list_transform(" +
        s"range(1, length($n) + 1), ci -> unicode($n[ci:ci])::HUGEINT)), " +
        s"(h, c) -> ${mix("xor(h, c)")})"
    def toSigned(u: String): String =
      s"(CASE WHEN $u >= 9223372036854775808 THEN $u - $U ELSE $u END)::BIGINT"
    /** Base-31 polynomial rolling hash with 64-bit wrap
      * (TextKernelExprs.polyHashEval) of string expression `n` — a
      * simple column/lambda identifier, substituted repeatedly
      * (ci/h/c are reserved lambda names).
      */
    def polyHash(n: String): String =
      s"list_reduce(list_prepend(1125899906842597::HUGEINT, " +
        s"list_transform(range(1, length($n) + 1), " +
        s"ci -> unicode($n[ci:ci])::HUGEINT)), " +
        s"(h, c) -> (31 * h + c) % $uStr)"
    /** One minhash signature slot (Hashing.minHashSignature): SIGNED min
      * over shingle hashes `sh` of mix64(h xor p*PERM); Long.MaxValue for
      * empty text.
      */
    def minhashSlot(p: Int): String = {
      val seed = (BigInt(p) * BigInt("14029467366897019727")) mod U
      val inner = toSigned("(" + mix(s"xor(g, $seed::HUGEINT)") + ")")
      s"CASE WHEN len(sh) = 0 THEN 9223372036854775807 " +
        s"ELSE list_min(list_transform(sh, g -> $inner)) END"
    }
  }

  /** q23 oracle: minhash signature slots 1/2/32/64 (permutations p =
    * 0/1/31/63) replicated in DuckDB — distinct 5-char shingles of the
    * normalized text, char-fold mix64 hash per shingle, signed min per
    * permutation. Distinct is taken on shingle STRINGS (equivalent to the
    * kernel's distinct-on-hashes: the hash is a function of the string,
    * and the min is insensitive to duplicates).
    */
  private lazy val q23Oracle: String =
    s"""WITH n AS (SELECT doc_id, ${DuckHash.norm("text")} AS nt FROM documents),
       |g AS (SELECT doc_id,
       |    CASE WHEN length(nt) = 0 THEN []::VARCHAR[]
       |         WHEN length(nt) < 5 THEN [nt]
       |         ELSE list_distinct(list_transform(range(1, length(nt) - 3),
       |           si -> nt[si:si+4]))
       |    END AS sgs
       |  FROM n),
       |s AS (SELECT doc_id,
       |    list_transform(sgs, sg -> ${DuckHash.hashStr("sg")}) AS sh FROM g)
       |SELECT doc_id, ${DuckHash.minhashSlot(0)} AS h0,
       |  ${DuckHash.minhashSlot(1)} AS h1,
       |  ${DuckHash.minhashSlot(31)} AS h31,
       |  ${DuckHash.minhashSlot(63)} AS h63
       |FROM s""".stripMargin

  /** q65 oracle: the 4-row MinHash-LSH band replicated — slots 0-3 of
    * the 5-shingle signature (q23's per-slot template), folded through
    * the band-key finisher (TextKernelExprs.bandKeysEval with bands=1:
    * `h = mix64(h ^ slot)` left fold, then >>> 8) — then exact
    * word-3-gram Jaccard verification kept entirely in integer
    * arithmetic (2·inter ≥ union ⇔ jaccard ≥ 0.5).
    */
  private lazy val q65Oracle: String = {
    def uns(s: String): String =
      s"(CASE WHEN $s < 0 THEN $s::HUGEINT + ${DuckHash.uStr}" +
        s" ELSE $s::HUGEINT END)"
    s"""WITH n AS (SELECT doc_id, ${DuckHash.norm("text")} AS nt FROM documents),
       |g AS (SELECT doc_id, nt,
       |    CASE WHEN length(nt) = 0 THEN []::VARCHAR[]
       |         WHEN length(nt) < 5 THEN [nt]
       |         ELSE list_distinct(list_transform(range(1, length(nt) - 3),
       |           si -> nt[si:si+4]))
       |    END AS sgs
       |  FROM n),
       |s AS (SELECT doc_id, nt,
       |    list_transform(sgs, sg -> ${DuckHash.hashStr("sg")}) AS sh FROM g),
       |sl AS (SELECT doc_id, nt, ${DuckHash.minhashSlot(0)} AS slot0,
       |    ${DuckHash.minhashSlot(1)} AS slot1,
       |    ${DuckHash.minhashSlot(2)} AS slot2,
       |    ${DuckHash.minhashSlot(3)} AS slot3 FROM s),
       |k1 AS (SELECT doc_id, nt, slot1, slot2, slot3,
       |    (${DuckHash.mix(uns("slot0"))}) AS kk FROM sl),
       |k2 AS (SELECT doc_id, nt, slot2, slot3,
       |    (${DuckHash.mix(s"xor(kk, ${uns("slot1")})")}) AS kk FROM k1),
       |k3 AS (SELECT doc_id, nt, slot3,
       |    (${DuckHash.mix(s"xor(kk, ${uns("slot2")})")}) AS kk FROM k2),
       |bu AS (SELECT doc_id, nt,
       |    ((${DuckHash.mix(s"xor(kk, ${uns("slot3")})")}) >> 8) AS band
       |  FROM k3),
       |w AS (SELECT doc_id, band,
       |    list_filter(string_split(nt, ' '), x -> x <> '') AS ws FROM bu),
       |gs AS (SELECT doc_id, band,
       |    CASE WHEN len(ws) = 0 THEN []::VARCHAR[]
       |         ELSE list_transform(range(1, len(ws) - least(3, len(ws)) + 2),
       |           gi -> array_to_string(ws[gi:gi+least(3,len(ws))-1], ' '))
       |    END AS gstrs
       |  FROM w),
       |g3 AS (SELECT doc_id, band,
       |    list_distinct(list_transform(gstrs, gm -> ${DuckHash.hashStr("gm")}))
       |      AS gh
       |  FROM gs),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_filter(a.gh, ix -> list_contains(b.gh, ix))) AS n_inter,
       |    len(a.gh) + len(b.gh) AS sum_len
       |  FROM g3 a JOIN g3 b ON a.band = b.band AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, n_inter::BIGINT AS n_inter,
       |  (sum_len - n_inter)::BIGINT AS n_union
       |FROM p WHERE 2 * n_inter >= sum_len - n_inter""".stripMargin
  }

  /** q109 oracle: incremental minhash — signatures with 8 slots, TWO
    * band keys per doc (slots 0-3 seed 0, slots 4-7 seed
    * 0x9E3779B97F4A7C15 tagged 1<<56 — TextKernelExprs.bandKeysEval),
    * batch (%5) banded against history (%3) and itself, agreement =
    * equal-slots / 8 (exact dyadic doubles).
    */
  private lazy val q109Oracle: String = {
    def uns(s: String): String =
      s"(CASE WHEN $s < 0 THEN $s::HUGEINT + ${DuckHash.uStr}" +
        s" ELSE $s::HUGEINT END)"
    def agree(a: String, b: String): String =
      "(" + (0 until 8).map(i => s"($a.s$i = $b.s$i)::INT")
        .mkString(" + ") + ")::DOUBLE / 8.0"
    val allSlots = (0 until 8).map(i => s"s$i").mkString(", ")
    def fold(prev: String, si: Int, alias: String): String =
      s"(${DuckHash.mix(s"xor($prev, ${uns(s"s$si")})")}) AS $alias"
    s"""WITH n AS (SELECT doc_id, ${DuckHash.norm("text")} AS nt
       |  FROM documents WHERE doc_id % 5 = 0 OR doc_id % 3 = 0),
       |g AS (SELECT doc_id,
       |    CASE WHEN length(nt) = 0 THEN []::VARCHAR[]
       |         WHEN length(nt) < 5 THEN [nt]
       |         ELSE list_distinct(list_transform(range(1, length(nt) - 3),
       |           si -> nt[si:si+4]))
       |    END AS sgs
       |  FROM n),
       |s AS (SELECT doc_id,
       |    list_transform(sgs, sg -> ${DuckHash.hashStr("sg")}) AS sh FROM g),
       |sl AS (SELECT doc_id,
       |    ${(0 until 8).map(i =>
              s"${DuckHash.minhashSlot(i)} AS s$i").mkString(",\n    ")}
       |  FROM s),
       |k1 AS (SELECT doc_id, $allSlots,
       |    (${DuckHash.mix(uns("s0"))}) AS ka,
       |    (${DuckHash.mix(s"xor(11400714819323198485::HUGEINT, ${uns("s4")})")}) AS kb
       |  FROM sl),
       |k2 AS (SELECT doc_id, $allSlots, ${fold("ka", 1, "ka")},
       |    ${fold("kb", 5, "kb")} FROM k1),
       |k3 AS (SELECT doc_id, $allSlots, ${fold("ka", 2, "ka")},
       |    ${fold("kb", 6, "kb")} FROM k2),
       |k4 AS (SELECT doc_id, $allSlots, ${fold("ka", 3, "ka")},
       |    ${fold("kb", 7, "kb")} FROM k3),
       |bnd AS (SELECT doc_id, $allSlots,
       |    unnest([ka >> 8,
       |      xor(72057594037927936::HUGEINT, kb >> 8)]) AS band
       |  FROM k4),
       |bb AS (SELECT * FROM bnd WHERE doc_id % 5 = 0),
       |hh AS (SELECT * FROM bnd WHERE doc_id % 3 = 0),
       |hb AS (SELECT bb.doc_id, max(${agree("bb", "hh")}) AS hist_jaccard
       |  FROM bb JOIN hh ON bb.band = hh.band GROUP BY 1),
       |ib AS (SELECT DISTINCT x.doc_id FROM bb x JOIN bb y
       |    ON x.band = y.band AND y.doc_id < x.doc_id
       |  WHERE ${agree("x", "y")} >= 0.5)
       |SELECT d.doc_id, hb.hist_jaccard,
       |  CAST(CASE WHEN hb.hist_jaccard IS NULL OR hb.hist_jaccard < 0.5
       |    THEN 1 ELSE 0 END AS INT) AS is_new,
       |  CAST(CASE WHEN (hb.hist_jaccard IS NULL OR hb.hist_jaccard < 0.5)
       |      AND ib.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
       |LEFT JOIN hb USING (doc_id) LEFT JOIN ib USING (doc_id)""".stripMargin
  }

  /** q152 oracle: the dedup recall audit replayed — planted suffix
    * variants, brute-force exact shingle-set Jaccard truth pairs, the
    * q109-style 8-slot/2-band MinHash-LSH candidate replay, and the
    * summary counts with integer permille rates.
    */
  private lazy val q152Oracle: String = {
    def uns(s: String): String =
      s"(CASE WHEN $s < 0 THEN $s::HUGEINT + ${DuckHash.uStr}" +
        s" ELSE $s::HUGEINT END)"
    def agree(a: String, b: String): String =
      "(" + (0 until 8).map(i => s"($a.s$i = $b.s$i)::INT")
        .mkString(" + ") + ")::DOUBLE / 8.0"
    val allSlots = (0 until 8).map(i => s"s$i").mkString(", ")
    def fold(prev: String, si: Int, alias: String): String =
      s"(${DuckHash.mix(s"xor($prev, ${uns(s"s$si")})")}) AS $alias"
    s"""WITH base AS (SELECT doc_id, text FROM documents
       |  WHERE doc_id < 150),
       |u AS (SELECT doc_id, text FROM base
       |  UNION ALL SELECT doc_id + 100000,
       |    text || ' appended audit tail to plant a near duplicate'
       |  FROM base WHERE doc_id % 3 = 0),
       |n AS (SELECT doc_id, ${DuckHash.norm("coalesce(text, '')")} AS nt
       |  FROM u),
       |g AS (SELECT doc_id,
       |    CASE WHEN length(nt) = 0 THEN []::VARCHAR[]
       |         WHEN length(nt) < 5 THEN [nt]
       |         ELSE list_distinct(list_transform(range(1, length(nt) - 3),
       |           si -> nt[si:si+4]))
       |    END AS sgs
       |  FROM n),
       |s AS MATERIALIZED (SELECT doc_id,
       |    list_transform(sgs, sg -> ${DuckHash.hashStr("sg")}) AS sh FROM g),
       |tp AS MATERIALIZED (SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM s x JOIN s y ON x.doc_id < y.doc_id
       |  WHERE (CASE
       |    WHEN len(x.sh) = 0 AND len(y.sh) = 0 THEN 1.0
       |    WHEN len(x.sh) = 0 OR len(y.sh) = 0 THEN 0.0
       |    ELSE len(list_intersect(x.sh, y.sh))::DOUBLE /
       |      (len(x.sh) + len(y.sh)
       |        - len(list_intersect(x.sh, y.sh)))::DOUBLE
       |    END) >= 0.5),
       |sl AS (SELECT doc_id,
       |    ${(0 until 8).map(i =>
              s"${DuckHash.minhashSlot(i)} AS s$i").mkString(",\n    ")}
       |  FROM s),
       |k1 AS (SELECT doc_id, $allSlots,
       |    (${DuckHash.mix(uns("s0"))}) AS ka,
       |    (${DuckHash.mix(s"xor(11400714819323198485::HUGEINT, ${uns("s4")})")}) AS kb
       |  FROM sl),
       |k2 AS (SELECT doc_id, $allSlots, ${fold("ka", 1, "ka")},
       |    ${fold("kb", 5, "kb")} FROM k1),
       |k3 AS (SELECT doc_id, $allSlots, ${fold("ka", 2, "ka")},
       |    ${fold("kb", 6, "kb")} FROM k2),
       |k4 AS (SELECT doc_id, $allSlots, ${fold("ka", 3, "ka")},
       |    ${fold("kb", 7, "kb")} FROM k3),
       |bnd AS MATERIALIZED (SELECT doc_id, $allSlots,
       |    unnest([ka >> 8,
       |      xor(72057594037927936::HUGEINT, kb >> 8)]) AS band
       |  FROM k4),
       |cp AS MATERIALIZED (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bnd x JOIN bnd y ON x.band = y.band AND x.doc_id < y.doc_id
       |  WHERE ${agree("x", "y")} >= 0.5),
       |hit AS (SELECT a, b FROM tp INTERSECT SELECT a, b FROM cp),
       |c AS (SELECT (SELECT count(*) FROM tp)::BIGINT AS n_true,
       |  (SELECT count(*) FROM cp)::BIGINT AS n_cand,
       |  (SELECT count(*) FROM hit)::BIGINT AS n_hit)
       |SELECT n_true, n_cand, n_hit,
       |  (n_hit * 1000) // greatest(n_true, 1) AS recall_permille,
       |  (n_hit * 1000) // greatest(n_cand, 1) AS precision_permille
       |FROM c""".stripMargin
  }

  /** q156 oracle: the two-pointer pair packing replayed from its
    * PER-ITEM definition — `while i < j: pair (i, j) if fits else i
    * alone` — as a single-row-state recursive CTE over the desc-rank
    * position table. This is deliberately NOT the operator's run-batch
    * histogram walk: the oracle checks the batched walk against the
    * naive sequential semantics it claims to reproduce. Positions use
    * the same two-level order (length desc, mix64 bucket, id).
    * `r` MATERIALIZED is load-bearing: inlined, the rank window
    * re-derives inside every recursion step (measured 3.6 s vs
    * minutes at sf0.01).
    */
  private lazy val q156Oracle: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id,
       |    CASE WHEN coalesce(len(trim(text)), 0) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
       |      END::BIGINT AS n_tokens,
       |    ((${DuckHash.mix("doc_id::HUGEINT")}) % 1024) AS b
       |  FROM documents),
       |r AS MATERIALIZED (SELECT doc_id, n_tokens,
       |    row_number() OVER (ORDER BY n_tokens DESC, b ASC, doc_id ASC
       |      )::BIGINT AS pos
       |  FROM t),
       |nn AS (SELECT count(*)::BIGINT AS n FROM r),
       |walk AS (
       |  SELECT 0::BIGINT AS i, 0::BIGINT AS p
       |  UNION ALL
       |  SELECT w.i + 1,
       |    w.p + CASE WHEN rh.n_tokens + rt.n_tokens <= 100
       |      THEN 1 ELSE 0 END
       |  FROM walk w, nn, r rh, r rt
       |  WHERE rh.pos = w.i + 1 AND rt.pos = nn.n - w.p
       |    AND w.i + 1 < nn.n - w.p),
       |wk AS (SELECT i, p, lag(p, 1, 0::BIGINT) OVER (ORDER BY i) AS pp
       |  FROM walk WHERE i >= 1),
       |mx AS (SELECT coalesce(max(p), 0)::BIGINT AS np,
       |    coalesce(max(i), 0)::BIGINT AS li FROM wk),
       |heads AS (SELECT i AS pos, p - 1 AS pack FROM wk WHERE p > pp),
       |sing AS (SELECT i AS pos FROM wk WHERE p = pp
       |  UNION ALL SELECT r.pos FROM r, mx, nn
       |  WHERE r.pos > mx.li AND r.pos <= nn.n - mx.np),
       |sidx AS (SELECT pos,
       |    (row_number() OVER (ORDER BY pos) - 1)::BIGINT AS si
       |  FROM sing),
       |cls AS (SELECT pos, pack, 0 AS slot FROM heads
       |  UNION ALL SELECT s.pos, m.np + s.si AS pack, 0 AS slot
       |    FROM sidx s, mx m
       |  UNION ALL SELECT r.pos, nn.n - r.pos AS pack, 1 AS slot
       |    FROM r, nn, mx WHERE r.pos > nn.n - mx.np)
       |SELECT r.doc_id, r.n_tokens, cls.pack::BIGINT AS pack_id,
       |  cls.slot::INT AS slot
       |FROM r JOIN cls USING (pos)""".stripMargin

  /** q163 oracle: q156's per-item two-pointer recursion run PER
    * STRATUM — the walk state carries one row per language per
    * iteration; strata finish independently (the WHERE stops
    * producing their rows). Pack ids add the cumulative
    * earlier-strata pack totals (`n_s − pairs_s` each, stratum ASC).
    */
  private lazy val q163Oracle: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, lang AS s,
       |    CASE WHEN coalesce(len(trim(text)), 0) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
       |      END::BIGINT AS n_tokens,
       |    ((${DuckHash.mix("doc_id::HUGEINT")}) % 1024) AS b
       |  FROM documents),
       |r AS MATERIALIZED (SELECT doc_id, s, n_tokens,
       |    row_number() OVER (PARTITION BY s
       |      ORDER BY n_tokens DESC, b ASC, doc_id ASC)::BIGINT AS pos
       |  FROM t),
       |nn AS MATERIALIZED (SELECT s, count(*)::BIGINT AS n
       |  FROM r GROUP BY 1),
       |walk AS (
       |  SELECT s, 0::BIGINT AS i, 0::BIGINT AS p FROM nn
       |  UNION ALL
       |  SELECT w.s, w.i + 1,
       |    w.p + CASE WHEN rh.n_tokens + rt.n_tokens <= 100
       |      THEN 1 ELSE 0 END
       |  FROM walk w
       |  JOIN nn ON nn.s = w.s
       |  JOIN r rh ON rh.s = w.s AND rh.pos = w.i + 1
       |  JOIN r rt ON rt.s = w.s AND rt.pos = nn.n - w.p
       |  WHERE w.i + 1 < nn.n - w.p),
       |wk AS (SELECT s, i, p, lag(p, 1, 0::BIGINT) OVER (
       |    PARTITION BY s ORDER BY i) AS pp
       |  FROM walk WHERE i >= 1),
       |mx AS (SELECT nn.s, coalesce(max(wk.p), 0)::BIGINT AS np,
       |    coalesce(max(wk.i), 0)::BIGINT AS li
       |  FROM nn LEFT JOIN wk ON wk.s = nn.s GROUP BY 1),
       |off AS (SELECT mx.s, nn.n, mx.np, mx.li,
       |    coalesce(sum(nn.n - mx.np) OVER (ORDER BY mx.s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0)::BIGINT AS po
       |  FROM mx JOIN nn USING (s)),
       |heads AS (SELECT s, i AS pos, p - 1 AS pack FROM wk
       |  WHERE p > pp),
       |sing AS (SELECT s, i AS pos FROM wk WHERE p = pp
       |  UNION ALL SELECT r.s, r.pos FROM r JOIN off USING (s)
       |  WHERE r.pos > off.li AND r.pos <= off.n - off.np),
       |sidx AS (SELECT s, pos, (row_number() OVER (
       |    PARTITION BY s ORDER BY pos) - 1)::BIGINT AS si FROM sing),
       |cls AS (SELECT h.s, h.pos, o.po + h.pack AS pack, 0 AS slot
       |    FROM heads h JOIN off o USING (s)
       |  UNION ALL SELECT x.s, x.pos, o.po + o.np + x.si, 0
       |    FROM sidx x JOIN off o USING (s)
       |  UNION ALL SELECT r.s, r.pos, o.po + (o.n - r.pos), 1
       |    FROM r JOIN off o USING (s) WHERE r.pos > o.n - o.np)
       |SELECT r.doc_id, r.s AS lang, r.n_tokens,
       |  cls.pack::BIGINT AS pack_id, cls.slot::INT AS slot
       |FROM r JOIN cls ON cls.s = r.s AND cls.pos = r.pos""".stripMargin

  /** q155 oracle: greedy k-center unrolled — seed = min vec_id, three
    * farthest-point rounds (`dmin` carried via `least`), then the
    * nearest-center assignment with the (dist, cid) tie-break. Same
    * fixed-order double arithmetic as [[kmeansRounds]].
    */
  private lazy val q155Oracle: String = {
    s"""WITH e AS (SELECT vec_id, embedding AS x FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |c0 AS (SELECT vec_id AS cid, x AS cv FROM e
       |  ORDER BY vec_id LIMIT 1),
       |d0 AS (SELECT e.vec_id, e.x, ${duckDist("x", "cv", "di")} AS dmin
       |  FROM e CROSS JOIN c0),
       |c1 AS (SELECT vec_id AS cid, x AS cv FROM d0
       |  ORDER BY dmin DESC, vec_id LIMIT 1),
       |d1 AS (SELECT d0.vec_id, d0.x,
       |    least(d0.dmin, ${duckDist("x", "cv", "di")}) AS dmin
       |  FROM d0 CROSS JOIN c1),
       |c2 AS (SELECT vec_id AS cid, x AS cv FROM d1
       |  ORDER BY dmin DESC, vec_id LIMIT 1),
       |d2 AS (SELECT d1.vec_id, d1.x,
       |    least(d1.dmin, ${duckDist("x", "cv", "di")}) AS dmin
       |  FROM d1 CROSS JOIN c2),
       |c3 AS (SELECT vec_id AS cid, x AS cv FROM d2
       |  ORDER BY dmin DESC, vec_id LIMIT 1),
       |cents AS (SELECT cid, cv FROM c0
       |  UNION ALL SELECT cid, cv FROM c1
       |  UNION ALL SELECT cid, cv FROM c2
       |  UNION ALL SELECT cid, cv FROM c3),
       |asg AS (SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cents.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckDist("e.x", "cents.cv", "di")}, cents.cid) AS rn
       |    FROM e CROSS JOIN cents) WHERE rn = 1)
       |SELECT asg.vec_id, asg.cid AS center_id,
       |  (CASE WHEN cc.cid IS NULL THEN 0 ELSE 1 END)::INT AS is_center
       |FROM asg LEFT JOIN (SELECT cid FROM cents) cc
       |  ON asg.vec_id = cc.cid""".stripMargin
  }

  /** q165 oracle: the constant-size bloom history replayed — distinct
    * history fingerprints fold to their k=3 bit positions (the q71
    * position math over the UNSIGNED fingerprint), the batch probes
    * with list_has_all, and the batch-internal election mirrors q103.
    * Bloom false positives are deterministic and replay exactly.
    */
  private lazy val q165Oracle: String = {
    val U = BigInt(1) << 64
    val golden = BigInt("11400714819323198485")
    def pos(i: Int): String = {
      val seed = (BigInt(2 * i + 1) * golden) mod U
      s"((${DuckHash.mix(s"xor(hu, ${seed}::HUGEINT)")}) >> 1) % 65536"
    }
    val fold = "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      "list_transform(range(1, length(nt) + 1), " +
      "ci -> unicode(nt[ci:ci])::HUGEINT)), " +
      s"(h, c) -> (31 * h + c) % ${DuckHash.uStr})"
    s"""WITH n AS (SELECT doc_id,
       |    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
       |  FROM documents WHERE doc_id % 5 = 0 OR doc_id % 3 = 0),
       |fs AS (SELECT doc_id, hu, ${DuckHash.toSigned("hu")} AS fp
       |  FROM (SELECT doc_id, $fold AS hu FROM n)),
       |bp AS (SELECT DISTINCT pos FROM (
       |    SELECT (${pos(0)}) AS pos FROM fs WHERE doc_id % 3 = 0
       |    UNION SELECT ${pos(1)} FROM fs WHERE doc_id % 3 = 0
       |    UNION SELECT ${pos(2)} FROM fs WHERE doc_id % 3 = 0) u),
       |bl AS (SELECT list(pos) AS pl FROM bp),
       |pr AS (SELECT doc_id, fp,
       |    [${pos(0)}, ${pos(1)}, ${pos(2)}] AS ps
       |  FROM fs WHERE doc_id % 5 = 0),
       |m AS (SELECT fp, min(doc_id) AS mid FROM pr GROUP BY fp),
       |hb AS (SELECT pr.doc_id, pr.fp, m.mid,
       |    (CASE WHEN list_has_all(bl.pl, pr.ps) THEN 1 ELSE 0 END)
       |      AS seen
       |  FROM pr, bl, m WHERE m.fp = pr.fp)
       |SELECT doc_id, fp, (1 - seen)::INT AS is_new,
       |  (CASE WHEN seen = 0 AND doc_id = mid THEN 1 ELSE 0 END)::INT
       |    AS kept
       |FROM hb""".stripMargin
  }

  /** q24 oracle: 64-bit SimHash over word-unigram hashes — per bit, the
    * sign of sum(±1) across word hashes (Hashing.simHash).
    */
  private lazy val q24Oracle: String =
    s"""WITH n AS (SELECT doc_id, ${DuckHash.norm("text")} AS nt FROM documents),
       |w AS (SELECT doc_id,
       |    list_filter(string_split(nt, ' '), x -> x <> '') AS words FROM n),
       |h AS (SELECT doc_id,
       |    list_transform(words, wd -> ${DuckHash.hashStr("wd")}) AS whs FROM w)
       |SELECT doc_id,
       |  CASE WHEN len(whs) = 0 THEN 0
       |  ELSE ${DuckHash.toSigned(
             """list_sum(list_transform(range(0, 64), b ->
               |    CASE WHEN list_sum(list_transform(whs, wh ->
               |      CASE WHEN (wh >> b) % 2 = 1 THEN 1 ELSE -1 END)) > 0
               |    THEN (1::HUGEINT << b) ELSE 0::HUGEINT END))""".stripMargin)}
       |  END AS sh
       |FROM h""".stripMargin

  /** q25 oracle: base-31 polynomial rolling hash with native 64-bit wrap
    * (TextKernelExprs.polyHashEval), over Text.fingerprint's
    * normalization (trim → collapse whitespace → lower; no trailing
    * trim — equivalent on this data, mirrored exactly anyway).
    */
  /** The q25 content-fingerprint replay over a pre-normalized column
    * `nt` — shared by q25 and q103 so the two can't diverge.
    */
  private lazy val fpOfNt: String = DuckHash.toSigned(
    "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      "list_transform(range(1, length(nt) + 1), " +
      "ci -> unicode(nt[ci:ci])::HUGEINT)), " +
      s"(h, c) -> (31 * h + c) % ${DuckHash.uStr})")

  private lazy val q25Oracle: String =
    s"""WITH n AS (SELECT doc_id,
       |    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
       |  FROM documents)
       |SELECT doc_id, $fpOfNt AS fp
       |FROM n""".stripMargin

  /** q28 oracle: the LSH-bucketed ANN replicated exactly — same
    * deterministic hyperplanes ([[Vectors.planes]] dim 64, 4 planes)
    * inlined as literals, bucket equi-join, exclude self, cosine top-3
    * per query with neighbor-id tie-break.
    */
  private lazy val q28Oracle: String = {
    val vals = Vectors.planes(dim = 64, nPlanes = 4).zipWithIndex.map {
      case (pl, p) => s"($p, [${pl.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH planes(p, pv) AS (VALUES $vals),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |b AS (SELECT e.vec_id,
       |    sum(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
       |        i -> e.embedding[i]::DOUBLE * pl.pv[i])) >= 0
       |      THEN 1 << pl.p ELSE 0 END)::BIGINT AS bucket
       |  FROM e CROSS JOIN planes pl GROUP BY e.vec_id),
       |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, len(eq.embedding) + 1),
       |      i -> eq.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)) /
       |    (sqrt(list_sum(list_transform(range(1, len(eq.embedding) + 1),
       |      i -> eq.embedding[i]::DOUBLE * eq.embedding[i]::DOUBLE))) *
       |     sqrt(list_sum(list_transform(range(1, len(ec.embedding) + 1),
       |      i -> ec.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)))) AS cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |    JOIN e eq ON eq.vec_id = q.vec_id
       |    JOIN e ec ON ec.vec_id = c.vec_id
       |  WHERE q.vec_id < 50),
       |r AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 3""".stripMargin
  }

  /** q149 oracle: the q27 brute-force chain as ground truth and the
    * q28 LSH bucket chain as the approximate index, overlap-counted
    * per query (zeros for queries the index missed).
    */
  private lazy val q149Oracle: String = {
    val vals = Vectors.planes(dim = 64, nPlanes = 4).zipWithIndex.map {
      case (pl, p) => s"($p, [${pl.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n  ")
    def cosStr(qv: String, cv: String): String =
      s"""list_sum(list_transform(range(1, len($qv) + 1),
         |      i -> $qv[i]::DOUBLE * $cv[i]::DOUBLE)) /
         |    (sqrt(list_sum(list_transform(range(1, len($qv) + 1),
         |      i -> $qv[i]::DOUBLE * $qv[i]::DOUBLE))) *
         |     sqrt(list_sum(list_transform(range(1, len($cv) + 1),
         |      i -> $cv[i]::DOUBLE * $cv[i]::DOUBLE))))""".stripMargin
    s"""WITH planes(p, pv) AS (VALUES $vals),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |tsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosStr("q.embedding", "c.embedding")} AS cos
       |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
       |tr AS (SELECT query_id, neighbor_id FROM (SELECT query_id,
       |    neighbor_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank FROM tsc)
       |  WHERE rank <= 3),
       |b AS (SELECT e.vec_id,
       |    sum(CASE WHEN list_sum(list_transform(
       |        range(1, len(e.embedding) + 1),
       |        i -> e.embedding[i]::DOUBLE * pl.pv[i])) >= 0
       |      THEN 1 << pl.p ELSE 0 END)::BIGINT AS bucket
       |  FROM e CROSS JOIN planes pl GROUP BY e.vec_id),
       |asc1 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosStr("eq.embedding", "ec.embedding")} AS cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |    JOIN e eq ON eq.vec_id = q.vec_id
       |    JOIN e ec ON ec.vec_id = c.vec_id
       |  WHERE q.vec_id < 50),
       |ar AS (SELECT query_id, neighbor_id FROM (SELECT query_id,
       |    neighbor_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank FROM asc1)
       |  WHERE rank <= 3),
       |ov AS (SELECT tr.query_id, count(*)::BIGINT AS ov FROM tr
       |  JOIN ar USING (query_id, neighbor_id) GROUP BY 1),
       |tc AS (SELECT query_id, count(*)::BIGINT AS n_true FROM tr
       |  GROUP BY 1),
       |ac AS (SELECT query_id, count(*)::BIGINT AS n_approx FROM ar
       |  GROUP BY 1)
       |SELECT tc.query_id, tc.n_true,
       |  coalesce(ac.n_approx, 0)::BIGINT AS n_approx,
       |  coalesce(ov.ov, 0)::BIGINT AS n_overlap,
       |  ((coalesce(ov.ov, 0) * 1000) // tc.n_true)::BIGINT
       |    AS recall_permille
       |FROM tc LEFT JOIN ac USING (query_id)
       |LEFT JOIN ov USING (query_id)""".stripMargin
  }

  /** q70 oracle: the Count-Min counter/estimate math replayed in SQL —
    * per hash row j, bucket = (mix64(user_id xor j·PRIME) >>> 1) mod 32
    * in HUGEINT mod-2^64 arithmetic; counters = per (event_type, row,
    * bucket) counts; estimate = least of the four counters.
    */
  private lazy val q70Oracle: String = {
    val U = BigInt(1) << 64
    def seed(j: Int): BigInt = (BigInt(j) * BigInt("14029467366897019727")) mod U
    def bucket(j: Int): String =
      s"((${DuckHash.mix(s"xor(user_id::HUGEINT, ${seed(j)}::HUGEINT)")}) >> 1) % 32"
    val bcols = (0 until 4).map(j => s"(${bucket(j)}) AS b$j").mkString(",\n  ")
    val ctes = (0 until 4).map(j =>
      s"c$j AS (SELECT event_type, b$j, count(*)::BIGINT AS n$j " +
        s"FROM r GROUP BY 1, 2)").mkString(",\n")
    val joins = (0 until 4).map(j => s"JOIN c$j USING (event_type, b$j)")
      .mkString("\n  ")
    s"""WITH r AS (SELECT event_type, user_id,
       |  $bcols
       |  FROM events),
       |$ctes,
       |d AS (SELECT DISTINCT event_type, user_id, b0, b1, b2, b3 FROM r)
       |SELECT d.event_type, d.user_id, least(n0, n1, n2, n3) AS est
       |FROM d
       |  $joins
       |WHERE least(n0, n1, n2, n3) >= 30""".stripMargin
  }

  /** q71 oracle: the bloom bit array replayed as a position SET — bit
    * positions (3 probes per gram hash, HUGEINT mod-2^64 splitmix64)
    * of the bench grams collected into one list; a corpus gram "hits"
    * iff all three of its positions are present (`list_has_all`), which
    * is exactly the all-k-bits-set probe — INCLUDING the filter's
    * deterministic false positives. Gram construction and polyHash
    * mirror the q63/q68 oracles.
    */
  private lazy val q71Oracle: String = {
    val U = BigInt(1) << 64
    val golden = BigInt("11400714819323198485")
    def pos(i: Int): String = {
      val seed = (BigInt(2 * i + 1) * golden) mod U
      s"((${DuckHash.mix(s"xor(h, ${seed}::HUGEINT)")}) >> 1) % 65536"
    }
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(toks) - 2),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
       |        || ' ' || toks[i + 3]))) AS gram FROM t),
       |gh AS (SELECT doc_id, ${DuckHash.polyHash("gram")} AS h FROM g),
       |bh AS (SELECT DISTINCT h FROM gh WHERE doc_id % 50 = 0),
       |bp AS (SELECT DISTINCT pos FROM (
       |    SELECT (${pos(0)}) AS pos FROM bh
       |    UNION SELECT ${pos(1)} FROM bh
       |    UNION SELECT ${pos(2)} FROM bh) u),
       |bl AS (SELECT list(pos) AS pl FROM bp),
       |pr AS (SELECT doc_id, [${pos(0)}, ${pos(1)}, ${pos(2)}] AS ps FROM gh),
       |hit AS (SELECT doc_id, count(*) AS n FROM pr, bl
       |  WHERE list_has_all(bl.pl, pr.ps) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(hit.n, 0) AS BIGINT) AS n_bloom_hits,
       |  CAST(CASE WHEN coalesce(hit.n, 0) > 0 THEN 1 ELSE 0 END AS INT)
       |    AS flagged
       |FROM documents d LEFT JOIN hit ON d.doc_id = hit.doc_id""".stripMargin
  }

  lazy val oracleSql: Map[String, String] = Map(
    "q01_filter_project" ->
      """SELECT event_id, user_id, round(value, 6) AS value_r
        |FROM events WHERE value > 0.5 AND event_type = 'click'""".stripMargin,

    "q02_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 6) AS sum_qty,
        |  round(sum(l_extendedprice), 6) AS sum_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q03_having" ->
      """SELECT user_id, round(avg(value), 6) AS avg_value, count(*) AS n
        |FROM events GROUP BY user_id HAVING round(avg(value), 6) > 0.5""".stripMargin,

    "q04_window_tumbling" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |  count(*) AS n, round(sum(value), 6) AS sum_v
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q05_window_time" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_5m,
        |  round(sum(value) OVER w, 6) AS sum_5m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q06_window_length" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_last5,
        |  round(sum(value) OVER w, 6) AS sum_last5
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q07_window_lengthbatch" ->
      """WITH r AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events)
        |SELECT user_id, CAST(floor((rn - 1) / 10) AS BIGINT) AS batch_id,
        |  count(*) AS n, round(sum(value), 6) AS sum_v,
        |  min(event_id) AS first_id
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q08_forever_agg" ->
      """SELECT event_id, user_id,
        |  round(max(value) OVER w, 6) AS max_forever,
        |  round(min(value) OVER w, 6) AS min_forever
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q09_join_window" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |WHERE a.event_type = 'view' AND b.event_type = 'click'
        |  AND epoch_us(b.ts) >= epoch_us(a.ts) - 60000000
        |  AND epoch_us(b.ts) <= epoch_us(a.ts) + 60000000""".stripMargin,

    "q10_join_stream_table" ->
      """SELECT p_brand,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "q11_union" ->
      """SELECT event_id, 'c' AS tag FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, 'v' AS tag FROM events WHERE event_type = 'view'""".stripMargin,

    "q12_scalar_fns" ->
      """SELECT event_id,
        |  coalesce(nullif(event_type, 'error'), 'ERR') AS et,
        |  CASE WHEN value > 0.5 THEN 'hi' ELSE 'lo' END AS bucket,
        |  CAST(floor(value * 100) AS BIGINT) AS cents,
        |  round(greatest(value, 0.5), 6) AS hi_val,
        |  round(abs(value - 0.5), 6) AS dist,
        |  event_type || '_' || CAST(user_id AS VARCHAR) AS tagged,
        |  upper(substring(event_type, 1, 3)) AS pre,
        |  event_id % 7 AS mod7
        |FROM events""".stripMargin,

    "q13_distinct_stddev" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  round(stddev_pop(value), 6) AS sd_value, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "q14_pattern_followedby" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a.a_id, b.b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
        |    AND b.b_us - a.a_us <= 600000000)
        |SELECT user_id, a_id, b_id FROM j WHERE rn = 1""".stripMargin,

    "q15_pattern_sequence" ->
      """WITH o AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |    lead(event_type) OVER w AS nt,
        |    lead(event_id) OVER w AS nid,
        |    lead(epoch_us(ts)) OVER w AS nus
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id, event_id AS a_id, nid AS b_id FROM o
        |WHERE event_type = 'view' AND nt = 'click' AND nus - us <= 300000000""".stripMargin,

    "q16_pattern_double_error" ->
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    lead(event_type) OVER w AS nt, lead(event_id) OVER w AS nid
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id, event_id AS a_id, nid AS b_id FROM o
        |WHERE event_type = 'error' AND nt = 'error'""".stripMargin,

    "q17_partition" ->
      """SELECT user_id, event_type, count(*) AS n,
        |  round(sum(value), 6) AS sum_v
        |FROM events GROUP BY user_id, event_type""".stripMargin,

    "q18_dedup_exact_key" ->
      """SELECT user_id, event_type, min(event_id) AS keep_id,
        |  count(*) AS n_dups
        |FROM events GROUP BY user_id, event_type""".stripMargin,

    "q19_dedup_exact_content" ->
      """WITH n AS (SELECT doc_id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        |  FROM n)
        |SELECT doc_id FROM r WHERE rn = 1""".stripMargin,

    "q20_ngram_counts" ->
      """WITH t AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
        |      AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN 0
        |    ELSE len(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
        |  END AS n_trigrams
        |FROM t""".stripMargin,

    "q21_text_quality" ->
      """SELECT doc_id,
        |  CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  round(CASE WHEN len(text) = 0 THEN 0.0 ELSE
        |    (len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
        |      / len(text)::DOUBLE END, 6) AS punct_ratio,
        |  round(CASE WHEN (CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END) = 0 THEN 0.0
        |    ELSE len(regexp_extract_all(lower(text),
        |      '\b(the|of|and|to|in|a|is|that|it|was|for|on|with|as|at|by|be|this|are|or)\b'))::DOUBLE
        |      / (CASE WHEN len(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::DOUBLE
        |    END, 6) AS stopword_ratio,
        |  round(CASE WHEN (CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END) = 0 THEN 0.0
        |    ELSE len(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
        |      / (CASE WHEN len(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::DOUBLE
        |    END, 6) AS mean_token_len
        |FROM documents""".stripMargin,

    "q22_langid" ->
      """WITH s AS (SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|with|for)\b')) AS s_en,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit)\b')) AS s_de,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|dans|que)\b')) AS s_fr,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|con|por|para)\b')) AS s_es,
        |  len(regexp_extract_all(lower(text), '\b(il|di|che|non|per|del|sono|una)\b')) AS s_it,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        |FROM documents)
        |SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_de, s_fr, s_es, s_it, s_zh) = 0 THEN 'und'
        |  WHEN s_zh >= greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'zh'
        |  WHEN s_it >= greatest(s_en, s_de, s_fr, s_es) THEN 'it'
        |  WHEN s_fr >= greatest(s_en, s_de, s_es) THEN 'fr'
        |  WHEN s_es >= greatest(s_en, s_de) THEN 'es'
        |  WHEN s_en >= s_de THEN 'en'
        |  ELSE 'de' END AS pred_lang
        |FROM s""".stripMargin,

    "q23_minhash_sigs" -> q23Oracle,
    "q65_ngram_jaccard" -> q65Oracle,
    "q24_simhash" -> q24Oracle,
    "q25_fingerprint" -> q25Oracle,

    // embedding outliers: the q74 integer centroid bank grouped by lang
    // (embeddings join documents on id), then the fixed-order distance
    "q104_embedding_outliers" ->
      """WITH e AS (SELECT d.lang, em.vec_id, em.embedding AS x
        |  FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
        |  WHERE em.embedding IS NOT NULL),
        |sx AS (SELECT lang, unnest(list_transform(range(1, len(x) + 1),
        |    di -> {'pos': di,
        |      'sxv': floor(x[di]::DOUBLE * 1048576.0)::BIGINT})) AS u
        |  FROM e),
        |s1 AS (SELECT lang, u.pos AS pos, sum(u.sxv)::BIGINT AS s,
        |    count(*)::BIGINT AS cnt FROM sx GROUP BY 1, 2),
        |c1 AS (SELECT lang, list(s::DOUBLE / (cnt::DOUBLE * 1048576.0)
        |    ORDER BY pos) AS cv FROM s1 GROUP BY lang)
        |SELECT e.vec_id, e.lang,
        |  round((list_sum(list_transform(range(1, len(e.x) + 1),
        |      vi -> e.x[vi]::DOUBLE * e.x[vi]::DOUBLE)))
        |    - 2.0 * (list_sum(list_transform(range(1, len(e.x) + 1),
        |      vi -> e.x[vi]::DOUBLE * c1.cv[vi]::DOUBLE)))
        |    + (list_sum(list_transform(range(1, len(c1.cv) + 1),
        |      vi -> c1.cv[vi]::DOUBLE * c1.cv[vi]::DOUBLE))), 6)
        |    AS l2_centroid
        |FROM e JOIN c1 USING (lang)""".stripMargin,

    // quality classifier: the 2-epoch batch-perceptron training loop
    // unrolled — epoch 1 from w=0 misclassifies everything (margin 0),
    // so w1 = Σ y·x; epoch 2 recomputes margins under w1 and adds the
    // misclassified gradient. All-integer, so exact.
    "q115_quality_classifier" -> perceptronOracle,

    // DSIR weights: the hashed-n-gram LLR chain, all-docs left-join tail
    "q105_dsir_weights" ->
      s"""$dsirCtes
         |SELECT d.doc_id, coalesce(pd.n_feats, 0)::BIGINT AS n_feats,
         |  coalesce(pd.logw_micro, 0)::BIGINT AS logw_micro,
         |  pd.logw_micro::DOUBLE / 1048576.0 AS logw_nats
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // DSIR resample: + deterministic Gumbel noise from the salted mix64
    // stream, floor(key*2^20) integer rank key, global top-100
    "q106_dsir_resample" ->
      s"""$dsirCtes,
         |gu AS (SELECT d.doc_id, coalesce(pd.n_feats, 0)::BIGINT AS n_feats,
         |    pd.logw_micro::DOUBLE / 1048576.0 AS logw_nats,
         |    floor((coalesce(pd.logw_micro::DOUBLE / 1048576.0, 0.0)
         |      + -ln(-ln(
         |        (((${DuckHash.mix("(doc_id + 60067303)::HUGEINT")}) >> 12)
         |          ::DOUBLE + 0.5) / 4503599627370496.0)))
         |      * 1048576.0)::BIGINT AS key_micro
         |  FROM documents d LEFT JOIN pd USING (doc_id)),
         |rk AS (SELECT doc_id, n_feats, logw_nats, key_micro,
         |    row_number() OVER (ORDER BY key_micro DESC, doc_id ASC)
         |      ::BIGINT AS sample_rank
         |  FROM gu)
         |SELECT doc_id, n_feats, logw_nats, key_micro, sample_rank
         |FROM rk WHERE sample_rank <= 100""".stripMargin,

    "q109_incremental_minhash" -> q109Oracle,
    "q152_dedup_recall" -> q152Oracle,
    "q155_kcenter" -> q155Oracle,

    // SQL PERMUTE(a,b) == the q33 AND element — shared replay
    "q166_mr_permute" -> q33Oracle,

    // n-ary PERMUTE: a match's seed is its earliest member (min ts,id
    // of the triple), so every match = one seed event + the first
    // later event of EACH other type, all within the window of the
    // seed — three seed-type branches, two rn=1 elections each
    "q168_mr_permute3" ->
      """WITH er AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'error'),
        |pu AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'purchase'),
        |vw AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'view'),
        |e_p AS (SELECT * FROM (SELECT e.user_id, e.id AS sid, p.id AS oid,
        |    row_number() OVER (PARTITION BY e.user_id, e.id
        |      ORDER BY p.us, p.id) AS rn
        |  FROM er e JOIN pu p ON e.user_id = p.user_id
        |    AND (p.us > e.us OR (p.us = e.us AND p.id > e.id))
        |    AND p.us - e.us <= 7200000000) WHERE rn = 1),
        |e_v AS (SELECT * FROM (SELECT e.user_id, e.id AS sid, v.id AS oid,
        |    row_number() OVER (PARTITION BY e.user_id, e.id
        |      ORDER BY v.us, v.id) AS rn
        |  FROM er e JOIN vw v ON e.user_id = v.user_id
        |    AND (v.us > e.us OR (v.us = e.us AND v.id > e.id))
        |    AND v.us - e.us <= 7200000000) WHERE rn = 1),
        |p_e AS (SELECT * FROM (SELECT p.user_id, p.id AS sid, e.id AS oid,
        |    row_number() OVER (PARTITION BY p.user_id, p.id
        |      ORDER BY e.us, e.id) AS rn
        |  FROM pu p JOIN er e ON p.user_id = e.user_id
        |    AND (e.us > p.us OR (e.us = p.us AND e.id > p.id))
        |    AND e.us - p.us <= 7200000000) WHERE rn = 1),
        |p_v AS (SELECT * FROM (SELECT p.user_id, p.id AS sid, v.id AS oid,
        |    row_number() OVER (PARTITION BY p.user_id, p.id
        |      ORDER BY v.us, v.id) AS rn
        |  FROM pu p JOIN vw v ON p.user_id = v.user_id
        |    AND (v.us > p.us OR (v.us = p.us AND v.id > p.id))
        |    AND v.us - p.us <= 7200000000) WHERE rn = 1),
        |v_e AS (SELECT * FROM (SELECT v.user_id, v.id AS sid, e.id AS oid,
        |    row_number() OVER (PARTITION BY v.user_id, v.id
        |      ORDER BY e.us, e.id) AS rn
        |  FROM vw v JOIN er e ON v.user_id = e.user_id
        |    AND (e.us > v.us OR (e.us = v.us AND e.id > v.id))
        |    AND e.us - v.us <= 7200000000) WHERE rn = 1),
        |v_p AS (SELECT * FROM (SELECT v.user_id, v.id AS sid, p.id AS oid,
        |    row_number() OVER (PARTITION BY v.user_id, v.id
        |      ORDER BY p.us, p.id) AS rn
        |  FROM vw v JOIN pu p ON v.user_id = p.user_id
        |    AND (p.us > v.us OR (p.us = v.us AND p.id > v.id))
        |    AND p.us - v.us <= 7200000000) WHERE rn = 1)
        |SELECT e_p.user_id, e_p.sid AS a_id, e_p.oid AS b_id,
        |  e_v.oid AS c_id
        |FROM e_p JOIN e_v ON e_p.user_id = e_v.user_id
        |  AND e_p.sid = e_v.sid
        |UNION ALL
        |SELECT p_e.user_id, p_e.oid AS a_id, p_e.sid AS b_id,
        |  p_v.oid AS c_id
        |FROM p_e JOIN p_v ON p_e.user_id = p_v.user_id
        |  AND p_e.sid = p_v.sid
        |UNION ALL
        |SELECT v_e.user_id, v_e.oid AS a_id, v_p.oid AS b_id,
        |  v_e.sid AS c_id
        |FROM v_e JOIN v_p ON v_e.user_id = v_p.user_id
        |  AND v_e.sid = v_p.sid""".stripMargin,

    // quantified group (a b){2,2}: the NFA's skip-till-next chain is
    // deterministic per seed click — first view after the seed, first
    // click after that view, first view after that click; every seed
    // that completes the chain emits exactly one match
    "q167_mr_group" ->
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'view'),
        |s1 AS (SELECT c.user_id, c.event_id AS a1, v.event_id AS b1,
        |    v.us AS b1us,
        |    row_number() OVER (PARTITION BY c.user_id, c.event_id
        |      ORDER BY v.us, v.event_id) AS rn
        |  FROM c JOIN v ON c.user_id = v.user_id
        |    AND (v.us > c.us OR (v.us = c.us AND v.event_id > c.event_id))),
        |f1 AS (SELECT user_id, a1, b1, b1us FROM s1 WHERE rn = 1),
        |s2 AS (SELECT f1.user_id, f1.a1, f1.b1, c.event_id AS a2,
        |    c.us AS a2us,
        |    row_number() OVER (PARTITION BY f1.user_id, f1.a1
        |      ORDER BY c.us, c.event_id) AS rn
        |  FROM f1 JOIN c ON f1.user_id = c.user_id
        |    AND (c.us > f1.b1us
        |      OR (c.us = f1.b1us AND c.event_id > f1.b1))),
        |f2 AS (SELECT user_id, a1, b1, a2, a2us FROM s2 WHERE rn = 1),
        |s3 AS (SELECT f2.user_id, f2.a1, f2.b1, f2.a2, v.event_id AS b2,
        |    row_number() OVER (PARTITION BY f2.user_id, f2.a1
        |      ORDER BY v.us, v.event_id) AS rn
        |  FROM f2 JOIN v ON f2.user_id = v.user_id
        |    AND (v.us > f2.a2us
        |      OR (v.us = f2.a2us AND v.event_id > f2.a2)))
        |SELECT user_id, a1 AS a1_id, a2 AS a2_id, b1 AS b1_id,
        |  b2 AS b2_id
        |FROM s3 WHERE rn = 1""".stripMargin,
    "q156_pack_pairs" -> q156Oracle,
    "q163_pack_pairs_by" -> q163Oracle,
    "q165_incremental_bloom" -> q165Oracle,

    // RTBF purge: fingerprint set algebra — history minus
    // (deleted-exclusive fps)
    "q164_purge_history" ->
      s"""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |    THEN 'shared page body number ' || (doc_id % 7)
         |    ELSE text END AS text FROM documents),
         |n AS (SELECT doc_id,
         |    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
         |  FROM d),
         |f AS (SELECT doc_id, $fpOfNt AS fp FROM n),
         |hist AS (SELECT DISTINCT fp FROM f),
         |del AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 = 0),
         |sur AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 <> 0),
         |rem AS (SELECT del.fp FROM del ANTI JOIN sur USING (fp))
         |SELECT hist.fp FROM hist ANTI JOIN rem USING (fp)""".stripMargin,

    // numeric column profile: per-column exact BIGINT stats
    "q162_profile" ->
      """SELECT 'l_orderkey' AS "column", count(*)::BIGINT AS n_rows,
        |  sum((l_orderkey IS NULL)::INT)::BIGINT AS n_null,
        |  count(DISTINCT l_orderkey)::BIGINT AS n_distinct,
        |  min(l_orderkey)::BIGINT AS "min",
        |  max(l_orderkey)::BIGINT AS "max",
        |  sum(l_orderkey)::BIGINT AS "sum" FROM lineitem
        |UNION ALL SELECT 'l_partkey', count(*)::BIGINT,
        |  sum((l_partkey IS NULL)::INT)::BIGINT,
        |  count(DISTINCT l_partkey)::BIGINT, min(l_partkey)::BIGINT,
        |  max(l_partkey)::BIGINT, sum(l_partkey)::BIGINT FROM lineitem
        |UNION ALL SELECT 'l_suppkey', count(*)::BIGINT,
        |  sum((l_suppkey IS NULL)::INT)::BIGINT,
        |  count(DISTINCT l_suppkey)::BIGINT, min(l_suppkey)::BIGINT,
        |  max(l_suppkey)::BIGINT, sum(l_suppkey)::BIGINT FROM lineitem
        |UNION ALL SELECT 'l_linenumber', count(*)::BIGINT,
        |  sum((l_linenumber IS NULL)::INT)::BIGINT,
        |  count(DISTINCT l_linenumber)::BIGINT,
        |  min(l_linenumber)::BIGINT, max(l_linenumber)::BIGINT,
        |  sum(l_linenumber)::BIGINT FROM lineitem""".stripMargin,

    // dataset-level metrics: one agg computes every metric; each
    // predicate evaluates over its value, NULL = violation
    "q161_validate_metrics" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n_rows FROM documents),
        |m AS (SELECT avg(n_chars) AS m0,
        |    count(DISTINCT lang) AS m1, max(n_chars) AS m2,
        |    sum((text IS NULL)::INT)::BIGINT AS v0
        |  FROM documents),
        |r AS (
        |  SELECT 'not_null' AS "constraint", 'text' AS "column",
        |    n.n_rows, m.v0 AS n_violations FROM n, m
        |  UNION ALL SELECT 'agg[avg_chars_band]', '*', n.n_rows,
        |    (CASE WHEN coalesce(m.m0 BETWEEN 100 AND 400, false)
        |      THEN 0 ELSE 1 END)::BIGINT FROM n, m
        |  UNION ALL SELECT 'agg[lang_cardinality]', '*', n.n_rows,
        |    (CASE WHEN coalesce(m.m1 = 5, false)
        |      THEN 0 ELSE 1 END)::BIGINT FROM n, m
        |  UNION ALL SELECT 'agg[max_chars_cap]', '*', n.n_rows,
        |    (CASE WHEN coalesce(m.m2 <= 500, false)
        |      THEN 0 ELSE 1 END)::BIGINT FROM n, m)
        |SELECT "constraint", "column", n_rows, n_violations,
        |  (n_violations = 0)::INT AS pass FROM r""".stripMargin,

    // nearest as-of with tolerance: naive candidate join + rank by
    // (distance, backward-first) — the independent O(pairs) definition
    "q158_asof_nearest" ->
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |    epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, epoch_us(ts) AS v_us,
        |    max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |j AS (SELECT c.user_id, c.click_id, v.view_id,
        |    abs(v.v_us - c.c_us) AS d,
        |    (CASE WHEN v.v_us > c.c_us THEN 1 ELSE 0 END) AS fwd
        |  FROM c LEFT JOIN v ON c.user_id = v.user_id
        |    AND abs(v.v_us - c.c_us) <= 60000000)
        |SELECT user_id, click_id, view_id FROM j
        |QUALIFY row_number() OVER (PARTITION BY user_id, click_id
        |  ORDER BY d, fwd) = 1""".stripMargin,

    // interval overlap: the naive nested-loop definition — the
    // first-common-bucket dedup must reproduce it exactly
    "q159_interval_overlap" ->
      """WITH s AS (SELECT event_id AS click_id, epoch_us(ts) AS a_lo,
        |    epoch_us(ts) + 120000000 AS a_hi
        |  FROM events WHERE event_type = 'click' AND event_id % 7 = 0),
        |w AS (SELECT event_id AS purchase_id,
        |    epoch_us(ts) - 300000000 AS b_lo, epoch_us(ts) AS b_hi
        |  FROM events WHERE event_type = 'purchase')
        |SELECT s.click_id, w.purchase_id
        |FROM s JOIN w ON s.a_lo <= w.b_hi AND w.b_lo <= s.a_hi""".stripMargin,

    // referential integrity: key-only anti-join counts per expectation
    "q157_ref_integrity" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n_rows FROM lineitem),
        |s AS (SELECT sum((l_orderkey IS NULL)::INT)::BIGINT AS v0
        |  FROM lineitem),
        |r1 AS (SELECT count(*)::BIGINT AS v FROM
        |  (SELECT l_orderkey AS k FROM lineitem
        |    WHERE l_orderkey IS NOT NULL) l
        |  ANTI JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) o
        |  USING (k)),
        |r2 AS (SELECT count(*)::BIGINT AS v FROM
        |  (SELECT l_partkey AS k FROM lineitem
        |    WHERE l_partkey IS NOT NULL) l
        |  ANTI JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
        |  USING (k)),
        |r3 AS (SELECT count(*)::BIGINT AS v FROM
        |  (SELECT l_suppkey AS k FROM lineitem
        |    WHERE l_suppkey IS NOT NULL) l
        |  ANTI JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier
        |    WHERE s_suppkey % 7 <> 0) su
        |  USING (k)),
        |r AS (
        |  SELECT 'not_null' AS "constraint", 'l_orderkey' AS "column",
        |    n.n_rows, s.v0 AS n_violations FROM n, s
        |  UNION ALL SELECT 'ref_integrity[o_orderkey]', 'l_orderkey',
        |    n.n_rows, r1.v FROM n, r1
        |  UNION ALL SELECT 'ref_integrity[p_partkey]', 'l_partkey',
        |    n.n_rows, r2.v FROM n, r2
        |  UNION ALL SELECT 'ref_integrity[s_suppkey]', 'l_suppkey',
        |    n.n_rows, r3.v FROM n, r3)
        |SELECT "constraint", "column", n_rows, n_violations,
        |  (n_violations = 0)::INT AS pass FROM r""".stripMargin,

    // script profile: block-range regex class counts, integer argmax
    // election (count*8 + alphabetical slot), permille mixing
    "q154_script_profile" ->
      """WITH u AS (SELECT doc_id, text || CASE doc_id % 4
        |    WHEN 0 THEN ' привет мир данных'
        |    WHEN 1 THEN ' 数据处理系统'
        |    WHEN 3 THEN ' αβγ δεζ 12345' ELSE '' END AS t
        |  FROM documents),
        |c AS (SELECT doc_id, length(t)::BIGINT AS n_cp,
        |    len(regexp_extract_all(t, '[ \t\n\r]'))::BIGINT AS n_ws,
        |    len(regexp_extract_all(t, '[\x{0600}-\x{06FF}]'))::BIGINT
        |      AS n_arabic,
        |    len(regexp_extract_all(t, '[\x{0400}-\x{04FF}]'))::BIGINT
        |      AS n_cyrillic,
        |    len(regexp_extract_all(t, '[\x{0370}-\x{03FF}]'))::BIGINT
        |      AS n_greek,
        |    len(regexp_extract_all(t, '[\x{4E00}-\x{9FFF}]'))::BIGINT
        |      AS n_han,
        |    len(regexp_extract_all(t, '[\x{AC00}-\x{D7A3}]'))::BIGINT
        |      AS n_hangul,
        |    len(regexp_extract_all(t, '[\x{3040}-\x{30FF}]'))::BIGINT
        |      AS n_kana,
        |    len(regexp_extract_all(t, '[A-Za-z\x{00C0}-\x{024F}]'))::BIGINT
        |      AS n_latin,
        |    len(regexp_extract_all(t, '[0-9]'))::BIGINT AS n_digit
        |  FROM u),
        |m AS (SELECT *,
        |    (n_cp - n_ws - n_arabic - n_cyrillic - n_greek - n_han
        |      - n_hangul - n_kana - n_latin - n_digit) AS n_other,
        |    (n_arabic + n_cyrillic + n_greek + n_han + n_hangul
        |      + n_kana + n_latin) AS lets,
        |    greatest(n_arabic * 8 + 0, n_cyrillic * 8 + 1,
        |      n_greek * 8 + 2, n_han * 8 + 3, n_hangul * 8 + 4,
        |      n_kana * 8 + 5, n_latin * 8 + 6) AS mx
        |  FROM c)
        |SELECT doc_id, n_arabic, n_cyrillic, n_greek, n_han, n_hangul,
        |  n_kana, n_latin, n_digit, n_other,
        |  CASE WHEN lets = 0 THEN 'none' ELSE
        |    ['arabic','cyrillic','greek','han','hangul','kana',
        |     'latin'][(mx % 8) + 1] END AS main_script,
        |  (CASE WHEN lets = 0 THEN 0
        |    ELSE ((lets - mx // 8) * 1000) // lets END)::BIGINT
        |    AS mix_permille
        |FROM m""".stripMargin,

    // constraint suite: scalar violation sums + per-column dup-row
    // counts, one verdict row per declared constraint
    "q153_validate" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n_rows FROM documents),
        |s AS (SELECT
        |    sum((text IS NULL)::INT)::BIGINT AS v0,
        |    sum((n_chars IS NULL OR n_chars < 1 OR n_chars > 500)::INT
        |      )::BIGINT AS v1,
        |    sum((lang IS NULL OR NOT regexp_matches(lang, '^[a-z]{2}$')
        |      )::INT)::BIGINT AS v2,
        |    sum((NOT coalesce(length(text) = n_chars, false))::INT
        |      )::BIGINT AS v3
        |  FROM documents),
        |u1 AS (SELECT coalesce(sum(c), 0)::BIGINT AS v FROM (
        |  SELECT count(*) AS c FROM documents WHERE doc_id IS NOT NULL
        |  GROUP BY doc_id HAVING count(*) > 1)),
        |u2 AS (SELECT coalesce(sum(c), 0)::BIGINT AS v FROM (
        |  SELECT count(*) AS c FROM documents WHERE text IS NOT NULL
        |  GROUP BY text HAVING count(*) > 1)),
        |r AS (
        |  SELECT 'not_null' AS "constraint", 'text' AS "column",
        |    n.n_rows, s.v0 AS n_violations FROM n, s
        |  UNION ALL SELECT 'in_range[1,500]', 'n_chars', n.n_rows, s.v1
        |    FROM n, s
        |  UNION ALL SELECT 'matches[^[a-z]{2}$]', 'lang', n.n_rows, s.v2
        |    FROM n, s
        |  UNION ALL SELECT 'satisfies[len_eq_n_chars]', '*', n.n_rows,
        |    s.v3 FROM n, s
        |  UNION ALL SELECT 'unique', 'doc_id', n.n_rows, u1.v FROM n, u1
        |  UNION ALL SELECT 'unique', 'text', n.n_rows, u2.v FROM n, u2)
        |SELECT "constraint", "column", n_rows, n_violations,
        |  (n_violations = 0)::INT AS pass FROM r""".stripMargin,

    // lang consistency: the q22 detector replay grouped into the
    // (meta, detected) confusion matrix
    "q114_lang_consistency" ->
      """WITH s AS (SELECT doc_id, lang,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|with|for)\b')) AS s_en,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit)\b')) AS s_de,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|dans|que)\b')) AS s_fr,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|con|por|para)\b')) AS s_es,
        |  len(regexp_extract_all(lower(text), '\b(il|di|che|non|per|del|sono|una)\b')) AS s_it,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        |FROM documents),
        |p AS (SELECT lang AS lang_meta, CASE
        |  WHEN greatest(s_en, s_de, s_fr, s_es, s_it, s_zh) = 0 THEN 'und'
        |  WHEN s_zh >= greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'zh'
        |  WHEN s_it >= greatest(s_en, s_de, s_fr, s_es) THEN 'it'
        |  WHEN s_fr >= greatest(s_en, s_de, s_es) THEN 'fr'
        |  WHEN s_es >= greatest(s_en, s_de) THEN 'es'
        |  WHEN s_en >= s_de THEN 'en'
        |  ELSE 'de' END AS lang_detected
        |FROM s)
        |SELECT lang_meta, lang_detected, count(*)::BIGINT AS n_docs
        |FROM p GROUP BY 1, 2""".stripMargin,

    // dup n-gram stats: occurrence arithmetic + distinct gram strings
    // (≡ the kernel's distinct hashes — hash is a function of the gram,
    // the q20/q23 equivalence)
    "q113_dup_ngram_stats" ->
      """WITH t AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
        |      AS toks,
        |    CASE WHEN coalesce(length(trim(text)), 0) = 0 THEN 0
        |      ELSE len(string_split(
        |        regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
        |      END AS nw
        |  FROM documents),
        |g AS (SELECT doc_id, u AS n, least(u, nw) AS eff, nw, toks
        |  FROM t, unnest([2, 3, 4]) AS s(u))
        |SELECT doc_id, n::INT AS n,
        |  (CASE WHEN nw = 0 THEN 0 ELSE nw - eff + 1 END)::BIGINT
        |    AS n_total,
        |  (CASE WHEN nw = 0 THEN 0
        |    ELSE len(list_distinct(list_transform(range(1, nw - eff + 2),
        |      gi -> array_to_string(toks[gi:gi+eff-1], ' '))))
        |    END)::BIGINT AS n_distinct,
        |  ((CASE WHEN nw = 0 THEN 0 ELSE nw - eff + 1 END)
        |    - (CASE WHEN nw = 0 THEN 0
        |    ELSE len(list_distinct(list_transform(range(1, nw - eff + 2),
        |      gi -> array_to_string(toks[gi:gi+eff-1], ' '))))
        |    END))::BIGINT AS n_dup
        |FROM g""".stripMargin,

    // exact-substring dedup: per-word polyHash, per-offset base-31 fold
    // over the 8 word-hashes (the direct form of the Spark side's
    // rolling kernel — identical mod-2^64 arithmetic), row_number
    // election per fingerprint, gaps-and-islands span merge per doc
    "q116_substring_dedup" ->
      s"""$substringCtes,
         |per AS (SELECT doc_id, sum(nd)::BIGINT AS n_dup_grams,
         |    count(*)::BIGINT AS n_spans,
         |    sum(e0 - s + 8)::BIGINT AS dup_words FROM sp GROUP BY 1),
         |tot AS (SELECT doc_id,
         |    greatest(len(ws) - 7, 0)::BIGINT AS n_grams FROM t)
         |SELECT tot.doc_id, tot.n_grams,
         |  coalesce(per.n_dup_grams, 0)::BIGINT AS n_dup_grams,
         |  coalesce(per.n_spans, 0)::BIGINT AS n_spans,
         |  coalesce(per.dup_words, 0)::BIGINT AS dup_words
         |FROM tot LEFT JOIN per ON tot.doc_id = per.doc_id""".stripMargin,

    // winnowing: same per-offset gram-hash fold as q116, then the
    // rightmost-min window selection replayed as a window MIN over the
    // packed key fp*2^22 + (2^22 - off) (unsigned fp order, larger off
    // wins ties because it shrinks the key), full windows only
    "q151_winnow" ->
      s"""WITH t AS (SELECT doc_id,
         |    string_split(${DuckHash.norm("coalesce(text, '')")}, ' ')
         |      AS ws
         |  FROM documents),
         |wh AS (SELECT doc_id,
         |    list_transform(ws, wx -> ${DuckHash.polyHash("wx")}) AS whs
         |  FROM t),
         |g AS (SELECT doc_id, whs,
         |    unnest(range(1, greatest(len(whs) - 7, 0) + 1)) AS off
         |  FROM wh),
         |f AS (SELECT doc_id, off,
         |    list_reduce(list_prepend(1125899906842597::HUGEINT,
         |      whs[off:off+7]),
         |      (gh, gc) -> (31 * gh + gc) % ${DuckHash.uStr}) AS fp
         |  FROM g),
         |mk AS (SELECT doc_id, off,
         |    min(fp * 4194304 + (4194304 - off)) OVER (
         |      PARTITION BY doc_id ORDER BY off
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS key
         |  FROM f QUALIFY off >= 4),
         |sel AS (SELECT DISTINCT doc_id, key FROM mk),
         |df2 AS (SELECT DISTINCT doc_id, key // 4194304 AS fp FROM sel),
         |fd AS (SELECT fp, count(*) AS nd FROM df2 GROUP BY 1),
         |sh AS (SELECT df2.doc_id, count(*)::BIGINT AS n_shared_fp
         |  FROM df2 JOIN fd USING (fp) WHERE fd.nd >= 2 GROUP BY 1),
         |per AS (SELECT doc_id, count(*)::BIGINT AS n_winnowed
         |  FROM sel GROUP BY 1),
         |ng AS (SELECT doc_id, greatest(len(ws) - 7, 0)::BIGINT
         |      AS n_grams FROM t)
         |SELECT ng.doc_id, ng.n_grams,
         |  coalesce(per.n_winnowed, 0)::BIGINT AS n_winnowed,
         |  coalesce(sh.n_shared_fp, 0)::BIGINT AS n_shared_fp
         |FROM ng LEFT JOIN per USING (doc_id)
         |LEFT JOIN sh USING (doc_id)""".stripMargin,

    // MOSS pairs: q151's selection chain + bucket cap + fp self-join,
    // ranked with the full (n_shared desc, id_a, id_b) tie-break
    "q160_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id,
         |    string_split(${DuckHash.norm("coalesce(text, '')")}, ' ')
         |      AS ws
         |  FROM documents),
         |wh AS (SELECT doc_id,
         |    list_transform(ws, wx -> ${DuckHash.polyHash("wx")}) AS whs
         |  FROM t),
         |g AS (SELECT doc_id, whs,
         |    unnest(range(1, greatest(len(whs) - 7, 0) + 1)) AS off
         |  FROM wh),
         |f AS (SELECT doc_id, off,
         |    list_reduce(list_prepend(1125899906842597::HUGEINT,
         |      whs[off:off+7]),
         |      (gh, gc) -> (31 * gh + gc) % ${DuckHash.uStr}) AS fp
         |  FROM g),
         |mk AS (SELECT doc_id, off,
         |    min(fp * 4194304 + (4194304 - off)) OVER (
         |      PARTITION BY doc_id ORDER BY off
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS key
         |  FROM f QUALIFY off >= 4),
         |sel AS (SELECT DISTINCT doc_id, key FROM mk),
         |df2 AS (SELECT DISTINCT doc_id, key // 4194304 AS fp FROM sel),
         |cap AS (SELECT fp FROM df2 GROUP BY fp
         |  HAVING count(*) <= 1000),
         |cf AS (SELECT df2.doc_id, df2.fp FROM df2 JOIN cap USING (fp)),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    count(*)::BIGINT AS n_shared
         |  FROM cf a JOIN cf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT id_a, id_b, n_shared FROM pr
         |ORDER BY n_shared DESC, id_a, id_b LIMIT 50""".stripMargin,

    // the dedup EXECUTED: positions covered by the merged spans drop
    // (disjoint intervals by construction), survivors rebuild in order
    "q122_substring_rebuild" ->
      s"""$substringCtes,
         |cov AS (SELECT doc_id, unnest(range(s, e0 + 8)) AS pos FROM sp),
         |wrd AS (SELECT doc_id, j AS pos, ws[j] AS w
         |  FROM t, unnest(range(1, len(ws) + 1)) AS u9(j)),
         |kept AS (SELECT wrd.doc_id, wrd.pos, wrd.w FROM wrd
         |  LEFT JOIN cov ON cov.doc_id = wrd.doc_id AND cov.pos = wrd.pos
         |  WHERE cov.pos IS NULL),
         |reb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos)
         |      AS text_dedup,
         |    count(*)::BIGINT AS n_kept FROM kept GROUP BY 1),
         |ng AS (SELECT doc_id, greatest(len(ws) - 7, 0)::BIGINT
         |      AS n_grams,
         |    len(ws)::BIGINT AS nw FROM t)
         |SELECT ng.doc_id,
         |  coalesce(reb.text_dedup, '') AS text_dedup,
         |  coalesce(reb.n_kept, 0)::BIGINT AS n_kept_words,
         |  (CASE WHEN ng.n_grams = 0 THEN 0
         |    ELSE ng.nw - coalesce(reb.n_kept, 0) END)::BIGINT
         |    AS n_removed_words
         |FROM ng LEFT JOIN reb USING (doc_id)""".stripMargin,

    // full BPE loop: unrolled merge stages over the distinct
    // vocabulary (select best pair, rewrite every word, repeat), then
    // the merge table as a rank-stamped UNION of the stage winners
    "q120_bpe_merges" ->
      s"""${bpeCtes(6, bpeMaxVocab)}
         |SELECT * FROM (${(1 to 6).map(k =>
             s"SELECT $k::BIGINT AS rank, a AS pair_left, b AS pair_right, " +
               s"a || b AS merged, cnt FROM m$k").mkString("\nUNION ALL ")})
         |""".stripMargin,

    // frozen-encoder replay: token length of every distinct word after
    // the 6 unrolled merges, joined back through per-doc word counts
    "q117_bpe_encode" ->
      s"""${bpeCtes(6, bpeMaxVocab)},
         |tl AS (SELECT wd, len(toks)::BIGINT AS ntok FROM v6),
         |dw AS (SELECT doc_id, unnest(regexp_extract_all(text,
         |      '${Bpe.preTokenPattern}', 0)) AS wd
         |  FROM documents WHERE coalesce(length(trim(text)), 0) > 0),
         |dc AS (SELECT doc_id, wd, count(*)::BIGINT AS c
         |  FROM dw GROUP BY 1, 2),
         |per AS (SELECT dc.doc_id, sum(dc.c)::BIGINT AS n_words,
         |    sum(dc.c * tl.ntok)::BIGINT AS n_tokens
         |  FROM dc JOIN tl USING (wd) GROUP BY 1)
         |SELECT d.doc_id, coalesce(per.n_words, 0)::BIGINT AS n_words,
         |  coalesce(per.n_tokens, 0)::BIGINT AS n_tokens
         |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id""".stripMargin,

    // domain audit: URL synthesis + host/domain extraction replay,
    // per-domain content-fingerprint dup rate + token mass
    "q118_domain_stats" ->
      s"""$urlCtes,
         |df2 AS (SELECT domain,
         |    coalesce($fpOfNt, -9223372036854775808) AS fp, nw FROM (
         |    SELECT domain,
         |      lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt,
         |      CASE WHEN coalesce(length(trim(text)), 0) = 0 THEN 0
         |        ELSE len(string_split(
         |          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
         |        END AS nw
         |    FROM dd))
         |SELECT domain, count(*)::BIGINT AS n_docs,
         |  count(DISTINCT fp)::BIGINT AS n_unique,
         |  ((count(*) - count(DISTINCT fp)) * 1000 // count(*))::BIGINT
         |    AS dup_permille,
         |  sum(nw)::BIGINT AS n_words
         |FROM df2 GROUP BY 1""".stripMargin,

    // blocklist gate (anti-join on registrable domain) + top-10 domain
    // mixture with shares against the surviving corpus
    "q121_domain_mixture" ->
      s"""$urlCtes,
         |kept AS (SELECT domain FROM dd WHERE domain NOT IN
         |  ('src00.com', 'src11.org', 'src22.co.uk')),
         |dm AS (SELECT domain, count(*)::BIGINT AS n_docs
         |  FROM kept GROUP BY 1),
         |tt AS (SELECT sum(n_docs) AS t FROM dm),
         |rk AS (SELECT domain, n_docs, row_number() OVER (
         |    ORDER BY n_docs DESC, domain ASC)::BIGINT AS rank FROM dm)
         |SELECT domain, n_docs, (n_docs * 1000 // t)::BIGINT
         |    AS share_permille, rank
         |FROM rk, tt WHERE rank <= 10""".stripMargin,

    // token-ID replay under BYTE-LEVEL numbering (GPT-2 convention):
    // a single-char token's id IS its byte value (ascii() — the corpus
    // is pure ASCII so code point = UTF-8 byte), merge products take
    // 256 + rank - 1 (min id on a string tie); per-pretoken token
    // lists from the unrolled merge chain, global doc order via
    // (pretoken idx, within-pretoken idx)
    "q125_bpe_token_ids" ->
      s"""${bpeCtes(6, bpeMaxVocab)},
         |mgid AS (SELECT tok, min(255 + rank)::BIGINT AS tid
         |  FROM (${(1 to 6).map(k =>
             s"SELECT $k AS rank, a || b AS tok FROM m$k")
             .mkString("\nUNION ALL ")}) GROUP BY 1),
         |tdoc AS (SELECT doc_id, regexp_extract_all(text,
         |      '${Bpe.preTokenPattern}', 0) AS ws
         |  FROM documents WHERE coalesce(length(trim(text)), 0) > 0),
         |dwo AS (SELECT doc_id, j AS widx, ws[j] AS wd
         |  FROM tdoc, unnest(range(1, len(ws) + 1)) AS uw(j)),
         |flat AS (SELECT d.doc_id, d.widx, ti AS iidx, w6.toks[ti] AS tok
         |  FROM dwo d JOIN v6 w6 USING (wd),
         |    unnest(range(1, len(w6.toks) + 1)) AS ut(ti))
         |SELECT f.doc_id,
         |  (row_number() OVER (PARTITION BY f.doc_id
         |    ORDER BY f.widx, f.iidx) - 1)::BIGINT AS pos,
         |  coalesce(CASE WHEN length(f.tok) = 1 THEN ascii(f.tok)
         |    ELSE v.tid END, -1)::BIGINT AS token_id
         |FROM flat f LEFT JOIN mgid v ON v.tok = f.tok""".stripMargin,

    // fertility: the q117 per-doc token-count replay grouped by lang
    "q126_bpe_fertility" ->
      s"""${bpeCtes(6, bpeMaxVocab)},
         |tl AS (SELECT wd, len(toks)::BIGINT AS ntok FROM v6),
         |dw AS (SELECT doc_id, unnest(regexp_extract_all(text,
         |      '${Bpe.preTokenPattern}', 0)) AS wd
         |  FROM documents WHERE coalesce(length(trim(text)), 0) > 0),
         |dc AS (SELECT doc_id, wd, count(*)::BIGINT AS c
         |  FROM dw GROUP BY 1, 2),
         |per AS (SELECT dc.doc_id, sum(dc.c)::BIGINT AS n_words,
         |    sum(dc.c * tl.ntok)::BIGINT AS n_tokens
         |  FROM dc JOIN tl USING (wd) GROUP BY 1)
         |SELECT d.lang, count(*)::BIGINT AS n_docs,
         |  sum(per.n_words)::BIGINT AS n_words,
         |  sum(per.n_tokens)::BIGINT AS n_tokens,
         |  (sum(per.n_tokens) * 1000 // sum(per.n_words))::BIGINT
         |    AS fertility_milli
         |FROM per JOIN documents d USING (doc_id) GROUP BY 1""".stripMargin,

    // BPE pair counts: word-frequency-weighted adjacent char pairs of
    // the distinct vocabulary, global top-50
    "q111_bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split(
        |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
        |      AS wd
        |  FROM documents),
        |wc AS (SELECT wd, count(*)::BIGINT AS wcnt FROM w GROUP BY 1),
        |ps AS (SELECT u AS pair, wcnt FROM (
        |    SELECT wcnt, unnest(list_transform(range(1, length(wd)),
        |      pi -> wd[pi:pi+1])) AS u
        |    FROM wc WHERE length(wd) >= 2)),
        |pc AS (SELECT pair, sum(wcnt)::BIGINT AS cnt FROM ps GROUP BY 1),
        |rk AS (SELECT pair, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, pair ASC)::BIGINT AS rank
        |  FROM pc)
        |SELECT pair, cnt, rank FROM rk WHERE rank <= 50""".stripMargin,

    // cross-source dup matrix: distinct (source, fp), fp self-join,
    // unordered pairs
    "q112_cross_source_dup" ->
      s"""WITH nn AS (SELECT source,
         |    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents),
         |fps AS (SELECT DISTINCT source, $fpOfNt AS fp FROM nn)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  count(*)::BIGINT AS n_shared
         |FROM fps a JOIN fps b ON a.fp = b.fp AND a.source <= b.source
         |GROUP BY 1, 2""".stripMargin,

    // C4 line filter: restructure replay + line gates + page gate
    "q110_c4_line_filter" ->
      """WITH ws AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
        |      AS w
        |  FROM documents),
        |t2 AS (SELECT doc_id,
        |    array_to_string(list_transform(range(0, ((len(w) - 1) // 8) + 1),
        |      li -> array_to_string(w[li * 8 + 1 : li * 8 + 8], ' ')
        |        || CASE WHEN li % 3 <> 2 THEN '.' ELSE '' END),
        |      chr(10)) AS base
        |  FROM ws),
        |t4 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |      THEN b2 || chr(10) || 'var x = {1};' ELSE b2 END AS txt
        |  FROM (SELECT doc_id, CASE WHEN doc_id % 11 = 0
        |      THEN 'Lorem Ipsum dolor sit amet right here.' || chr(10) || base
        |      ELSE base END AS b2 FROM t2)),
        |ls AS (SELECT doc_id, string_split(txt, chr(10)) AS lns FROM t4),
        |ln AS (SELECT doc_id, u['pos'] AS pos, u['line'] AS line FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(lns) + 1),
        |      pi -> {'pos': pi, 'line': lns[pi]})) AS u FROM ls)),
        |ke AS (SELECT doc_id, pos, line FROM ln
        |  WHERE regexp_matches(trim(line), '[.!?"]$')
        |    AND len(string_split_regex(trim(line), '\s+')) >= 5),
        |kd AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
        |      AS clean_text, count(*)::BIGINT AS n_kept
        |  FROM ke GROUP BY 1),
        |tt AS (SELECT doc_id, count(*)::BIGINT AS n_lines FROM ln GROUP BY 1),
        |pg AS (SELECT doc_id, (NOT contains(txt, '{')
        |    AND NOT contains(txt, '}')
        |    AND NOT contains(lower(txt), 'lorem ipsum')) AS pgf FROM t4)
        |SELECT pg.doc_id, coalesce(kd.clean_text, '') AS clean_text,
        |  coalesce(tt.n_lines, 0)::BIGINT AS n_lines,
        |  coalesce(kd.n_kept, 0)::BIGINT AS n_kept,
        |  CAST(CASE WHEN pgf AND coalesce(kd.n_kept, 0) >= 3
        |    THEN 1 ELSE 0 END AS INT) AS kept
        |FROM pg LEFT JOIN tt USING (doc_id)
        |  LEFT JOIN kd USING (doc_id)""".stripMargin,

    // frozen-model DSIR reproduces the q105 chain exactly — same oracle
    "q108_dsir_frozen" ->
      s"""$dsirCtes
         |SELECT d.doc_id, coalesce(pd.n_feats, 0)::BIGINT AS n_feats,
         |  coalesce(pd.logw_micro, 0)::BIGINT AS logw_micro,
         |  pd.logw_micro::DOUBLE / 1048576.0 AS logw_nats
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // temperature sampling: per-lang keep-rate exp((α−1)·ln(n/n_min))
    // per million, salted mix64 keep-predicate
    "q107_temperature_sample" ->
      s"""WITH cnt AS (SELECT lang, count(*)::BIGINT AS obs
         |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
         |nm AS (SELECT min(obs)::BIGINT AS nmin FROM cnt),
         |r AS (SELECT lang,
         |    floor(exp((500::DOUBLE / 1000.0 - 1.0)
         |        * ln(obs::DOUBLE / nm.nmin::DOUBLE)) * 1000000.0)
         |      ::BIGINT AS rpm
         |  FROM cnt CROSS JOIN nm)
         |SELECT d.doc_id, d.lang,
         |  CAST(CASE WHEN r.rpm IS NOT NULL
         |    AND ((${DuckHash.mix("(doc_id + 151515157)::HUGEINT")}) >> 12)
         |      % 1000000 < r.rpm THEN 1 ELSE 0 END AS INT) AS kept
         |FROM documents d LEFT JOIN r USING (lang)""".stripMargin,

    // incremental dedup: the q25 fingerprint replay on both sides, the
    // history as a DISTINCT fingerprint set, min-id in-batch election
    "q103_incremental_dedup" ->
      s"""WITH bn AS (SELECT doc_id,
         |    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents WHERE doc_id % 5 = 0),
         |bb AS (SELECT doc_id AS id, $fpOfNt AS fp FROM bn),
         |hn AS (SELECT doc_id,
         |    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents WHERE doc_id % 3 = 0),
         |hh AS (SELECT DISTINCT $fpOfNt AS fp FROM hn),
         |m AS (SELECT fp, min(id) AS mid FROM bb GROUP BY fp)
         |SELECT bb.id AS doc_id, bb.fp,
         |  CAST(CASE WHEN hh.fp IS NULL THEN 1 ELSE 0 END AS INT)
         |    AS is_new,
         |  CAST(CASE WHEN hh.fp IS NULL AND bb.id = m.mid
         |    THEN 1 ELSE 0 END AS INT) AS kept
         |FROM bb LEFT JOIN hh USING (fp) JOIN m USING (fp)""".stripMargin,

    "q26_embedding_pairs" -> q26Oracle,
    "q59_dedup_clusters" -> q59Oracle,

    // word/bigram counting over the same normalize-split convention as
    // the Spark side (lower, collapse whitespace, split on ' ')
    "q60_repetition_stats" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
        |ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    count(*) AS n_distinct_words, max(c) AS top_word_count
        |  FROM wc GROUP BY doc_id),
        |bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS b FROM t),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bgl GROUP BY doc_id, b),
        |bs AS (SELECT doc_id, max(c) AS top_bigram_count FROM bc
        |  GROUP BY doc_id)
        |SELECT ws.doc_id, n_words, n_distinct_words, top_word_count,
        |  CAST(coalesce(bs.top_bigram_count, 0) AS BIGINT)
        |    AS top_bigram_count
        |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id""".stripMargin,

    // same synthetic contact line, same RE2-safe patterns, 'g' flag to
    // match Spark's replace-all; md5 proves byte-identical redaction
    "q61_pii_redaction" ->
      """WITH d AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or +1-555-'
        |      || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '\+\d{1,2}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |    'g'), '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g'))
        |    AS redacted_digest
        |FROM d""".stripMargin,

    "q62_stratified_sample" -> q62Oracle,

    // HLL registers replayed in SQL: bucket = top 8 bits of mix64,
    // rho = 1 + leading zeros of the low 56-bit field (57 - bit length,
    // via len(bin(low))); register = max rho per bucket; outputs are the
    // exact integer register summaries (sum, zero-count)
    "q66_hll_distinct" ->
      s"""WITH h AS (SELECT event_type,
         |    (${DuckHash.mix("user_id::HUGEINT")}) AS u FROM events),
         |b AS (SELECT event_type, (u >> 56)::BIGINT AS bucket,
         |    (u % 72057594037927936)::BIGINT AS low FROM h),
         |r AS (SELECT event_type, bucket,
         |    max(CASE WHEN low = 0 THEN 57
         |             ELSE 57 - len(bin(low)) END) AS rho
         |  FROM b GROUP BY event_type, bucket)
         |SELECT event_type, sum(rho)::BIGINT AS sum_reg,
         |  (256 - count(*))::BIGINT AS n_zero
         |FROM r GROUP BY event_type""".stripMargin,

    // weight-proportional keep in exact integer math (q62's mix
    // template; the least() cap mirrors the Spark side)
    "q69_weighted_sample" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE ((${DuckHash.mix("doc_id::HUGEINT")}) >> 12) % 1000000 <
         |  least(1000000, coalesce(n_chars, 0) * 2000)""".stripMargin,

    "q70_countmin_heavy" -> q70Oracle,

    "q71_bloom_decontaminate" -> q71Oracle,

    "q72_cluster_retention" -> q72Oracle,

    // leakage-safe split: q59 cluster replay, per-cluster mix64 bucket,
    // members inherit their cluster's split
    "q102_leakage_safe_split" ->
      s"""$clusterCtes,
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |m AS (SELECT e.vec_id AS id,
         |    coalesce(cl.cluster_id, e.vec_id) AS cluster_id
         |  FROM e LEFT JOIN cl ON e.vec_id = cl.id),
         |reps AS (SELECT DISTINCT cluster_id FROM m),
         |sp AS (SELECT cluster_id,
         |    CASE WHEN bkt < 900 THEN 'train' WHEN bkt < 950 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM (SELECT cluster_id,
         |      ((${DuckHash.mix("cluster_id::HUGEINT")}) >> 12) % 1000
         |        AS bkt
         |    FROM reps))
         |SELECT m.id AS vec_id, m.cluster_id, sp.split
         |FROM m JOIN sp USING (cluster_id)""".stripMargin,

    "q73_bm25_rank" -> q73Oracle,

    "q74_kmeans" -> q74Oracle,
    "q76_semdedup" -> q76Oracle,
    "q77_seq_packing" -> q77Oracle,
    "q78_split_shuffle" -> q78Oracle,
    "q79_salient_terms" -> q79Oracle,
    "q80_chunk_rebuild" -> q80Oracle,
    "q81_sliding_chunks" -> q81Oracle,
    "q82_mixture_rebalance" -> q82Oracle,
    "q83_window_dup" -> q83Oracle,
    "q84_corpus_profile" -> q84Oracle,
    "q85_quantize_int8" -> q85Oracle,
    "q86_mr_quantifier_sql" -> q34Oracle,
    "q87_similarity_ivf_trained" -> q87Oracle,

    // the cron field match replayed on DuckDB's clock functions —
    // isodow is the same 1=Monday convention as CronSpec/java.time
    "q88_cron_predicate" ->
      """SELECT event_id,
        |  CAST(CASE WHEN minute(ts) IN (0, 15, 30, 45)
        |    AND hour(ts) IN (8,9,10,11,12,13,14,15,16,17)
        |    AND isodow(ts) IN (1,2,3,4,5) THEN 1 ELSE 0 END AS INT)
        |    AS fired
        |FROM events""".stripMargin,

    "q89_pq_codes" -> q89Oracle,
    "q90_pq_adc_topk" -> q90Oracle,
    "q91_ivf_pq_topk" -> q91Oracle,

    // q79's tokenization convention; DISTINCT doc-level postings, rank
    // by doc id, list(... ORDER BY) FILTER caps exactly like the
    // Spark side's when(r <= 64) collect
    "q92_inverted_index" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
        |      AS term
        |  FROM documents),
        |p AS (SELECT DISTINCT term, doc_id FROM t),
        |r AS (SELECT term, doc_id, row_number() OVER (
        |    PARTITION BY term ORDER BY doc_id) AS rn FROM p)
        |SELECT term, count(*)::BIGINT AS df,
        |  array_to_string(list(doc_id ORDER BY doc_id)
        |    FILTER (WHERE rn <= 64), ',') AS postings
        |FROM r GROUP BY term""".stripMargin,

    // q63's exact 4-gram template, extended to per-item containment:
    // integer cross-multiply flag, no division
    "q93_containment_decontaminate" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
        |        || ' ' || toks[i + 3]))) AS gram FROM t),
        |bg AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 50 = 0),
        |bsz AS (SELECT bench_id, count(*)::BIGINT AS n_bench
        |  FROM bg GROUP BY 1),
        |hits AS (SELECT g.doc_id, bg.bench_id, count(*)::BIGINT AS n_match
        |  FROM g JOIN bg ON g.gram = bg.gram GROUP BY 1, 2)
        |SELECT h.doc_id, h.bench_id, h.n_match, b.n_bench,
        |  CAST(CASE WHEN h.n_match * 1000 >= 800 * b.n_bench
        |    THEN 1 ELSE 0 END AS INT) AS flagged
        |FROM hits h JOIN bsz b ON h.bench_id = b.bench_id""".stripMargin,

    "q94_ivf_pq_residual" -> q94Oracle,

    "q95_pq_rerank" -> q95Oracle,

    "q100_ivf_pq_rerank" -> q100Oracle,

    // vocab profile: q20 tokenization replay, (lang, token) counts,
    // integer aggregates + top-10 coverage via BIGINT floor-division
    "q101_vocab_profile" ->
      """WITH t AS (SELECT lang,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
        |      AS toks
        |  FROM documents),
        |wt AS (SELECT lang, unnest(toks) AS w FROM t),
        |tc AS (SELECT lang, w, count(*)::BIGINT AS c FROM wt
        |  GROUP BY 1, 2),
        |a AS (SELECT lang, sum(c)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS vocab_size,
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
        |  FROM tc GROUP BY 1),
        |r AS (SELECT lang, c, row_number() OVER (PARTITION BY lang
        |    ORDER BY c DESC, w) AS rk FROM tc),
        |tt AS (SELECT lang, sum(c)::BIGINT AS tk FROM r
        |  WHERE rk <= 10 GROUP BY 1),
        |d AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents
        |  GROUP BY 1)
        |SELECT d.lang, d.n_docs,
        |  coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
        |  coalesce(a.vocab_size, 0)::BIGINT AS vocab_size,
        |  coalesce(a.n_hapax, 0)::BIGINT AS n_hapax,
        |  coalesce((tt.tk * 1000) // a.n_tokens, 0)::BIGINT
        |    AS topk_permille
        |FROM d LEFT JOIN a USING (lang) LEFT JOIN tt USING (lang)""".stripMargin,

    // bigram LM entropy: the same tokenization replay as q20, add-0.5
    // smoothing, per-bigram floor(ln(p)*2^20) integers, one final divide
    "q96_bigram_lm_entropy" ->
      s"""$bigramLmCtes
         |SELECT d.doc_id,
         |  coalesce(g.n_bigrams, 0)::BIGINT AS n_bigrams,
         |  coalesce(g.lp_micro, 0)::BIGINT AS lp_micro,
         |  -(g.lp_micro::DOUBLE) / (g.n_bigrams::DOUBLE * 1048576.0)
         |    AS h_nats
         |FROM documents d LEFT JOIN g USING (doc_id)""".stripMargin,

    // trigram stupid backoff: src0-trained count tables (t1/t2 feed
    // two join branches each — MATERIALIZED, the CTE-inlining lesson
    // from the BPE oracle), the three-level CASE picks one ratio and
    // ONE ln per trigram, banked floor(ln*2^20)
    "q119_trigram_backoff" ->
      """WITH base AS MATERIALIZED (SELECT doc_id, source = 'src0' AS t,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
        |      AS toks
        |  FROM documents WHERE coalesce(length(trim(text)), 0) > 0),
        |t1 AS MATERIALIZED (SELECT w, count(*)::BIGINT AS c1 FROM (
        |    SELECT unnest(toks) AS w FROM base WHERE t) GROUP BY 1),
        |t2 AS MATERIALIZED (SELECT a, b, count(*)::BIGINT AS c2 FROM (
        |    SELECT toks[i] AS a, toks[i + 1] AS b
        |    FROM base, unnest(range(1, len(toks))) AS u2(i) WHERE t)
        |  GROUP BY 1, 2),
        |t3 AS MATERIALIZED (SELECT w1, w2, w3, count(*)::BIGINT AS c3
        |  FROM (SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
        |    FROM base, unnest(range(1, len(toks) - 1)) AS u3(i) WHERE t)
        |  GROUP BY 1, 2, 3),
        |nv AS (SELECT sum(c1)::BIGINT AS n, count(*)::BIGINT AS v FROM t1),
        |d3 AS (SELECT doc_id, w1, w2, w3, count(*)::BIGINT AS c
        |  FROM (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
        |      toks[i + 2] AS w3
        |    FROM base, unnest(range(1, len(toks) - 1)) AS ud(i))
        |  GROUP BY 1, 2, 3, 4),
        |sc AS (SELECT d.doc_id, d.c, floor(ln(CASE
        |      WHEN t3.c3 IS NOT NULL THEN t3.c3::DOUBLE / ta.c2::DOUBLE
        |      WHEN tb.c2 IS NOT NULL THEN
        |        0.4 * (tb.c2::DOUBLE / ub.c1::DOUBLE)
        |      ELSE 0.4 * 0.4 * ((coalesce(uw.c1, 0)::DOUBLE + 0.5) /
        |        (nv.n::DOUBLE + 0.5 * nv.v::DOUBLE)) END) * 1048576.0)
        |    ::BIGINT AS lp
        |  FROM d3 d
        |  LEFT JOIN t3 ON t3.w1 = d.w1 AND t3.w2 = d.w2 AND t3.w3 = d.w3
        |  LEFT JOIN t2 ta ON ta.a = d.w1 AND ta.b = d.w2
        |  LEFT JOIN t2 tb ON tb.a = d.w2 AND tb.b = d.w3
        |  LEFT JOIN t1 ub ON ub.w = d.w2
        |  LEFT JOIN t1 uw ON uw.w = d.w3, nv),
        |per AS (SELECT doc_id, sum(c * lp)::BIGINT AS lp_micro,
        |    sum(c)::BIGINT AS n_trigrams FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(per.n_trigrams, 0)::BIGINT AS n_trigrams,
        |  coalesce(per.lp_micro, 0)::BIGINT AS lp_micro,
        |  -(per.lp_micro::DOUBLE) / (per.n_trigrams::DOUBLE * 1048576.0)
        |    AS h_nats
        |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin,

    // slice divergence: the dsirCtes bucket hash over the two-slice
    // subset, conditional sums per bucket, banked LLR, abs-ranked
    "q123_feature_shift" -> {
      val bucket = s"((${DuckHash.mix(s"(${DuckHash.polyHash("w")})")}) " +
        ">> 12) % 1024"
      s"""WITH t AS (SELECT source = 'src0' AS a, source = 'src1' AS b,
         |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
         |      AS toks
         |  FROM documents WHERE coalesce(length(trim(text)), 0) > 0
         |    AND source IN ('src0', 'src1')),
         |f AS (SELECT a, b, unnest(list_concat(toks,
         |    CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
         |      bi -> toks[bi] || ' ' || toks[bi + 1])
         |    ELSE CAST([] AS VARCHAR[]) END)) AS w FROM t),
         |gb AS (SELECT ($bucket)::BIGINT AS bucket,
         |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS c_a,
         |    sum(CASE WHEN b THEN 1 ELSE 0 END)::BIGINT AS c_b
         |  FROM f GROUP BY 1),
         |tt AS (SELECT sum(c_a)::BIGINT AS ta, sum(c_b)::BIGINT AS tb
         |  FROM gb),
         |lr AS (SELECT bucket, c_a, c_b,
         |    floor((ln((c_a::DOUBLE + 0.5) / (tt.ta::DOUBLE + 0.5 * 1024.0))
         |      - ln((c_b::DOUBLE + 0.5) / (tt.tb::DOUBLE + 0.5 * 1024.0)))
         |      * 1048576.0)::BIGINT AS llr_micro
         |  FROM gb CROSS JOIN tt),
         |rk AS (SELECT bucket, c_a, c_b, llr_micro, row_number() OVER (
         |    ORDER BY abs(llr_micro) DESC, bucket ASC)::BIGINT AS rank
         |  FROM lr)
         |SELECT bucket, c_a, c_b, llr_micro, rank FROM rk
         |WHERE rank <= 50""".stripMargin
    },

    // cluster-size histogram: the q59 recursive-CTE cluster replay,
    // per-cluster sizes, size histogram
    "q124_cluster_sizes" ->
      s"""$clusterCtes,
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |a2 AS (SELECT e.vec_id, coalesce(cl.cluster_id, e.vec_id)
         |      AS cid
         |  FROM e LEFT JOIN cl ON cl.id = e.vec_id),
         |sz AS (SELECT cid, count(*)::BIGINT AS cluster_size
         |  FROM a2 GROUP BY 1)
         |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
         |  (cluster_size * count(*))::BIGINT AS n_docs
         |FROM sz GROUP BY 1""".stripMargin,

    // HTML boilerplate extraction: the q127 page synthesis replayed
    // verbatim (12-word <p> blocks + nav/sidebar/shout/footer), then
    // script/style/comment strip, block split at closing block tags,
    // per-block tag-strip + entity decode, word/anchor-word counts,
    // the minWords=3 / link-density<=500permille gates, and the
    // in-order string_agg rebuild
    "q127_html_extract" ->
      s"""WITH hw AS (SELECT doc_id, string_split(
         |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
         |      AS ws
         |  FROM documents),
         |hp AS (SELECT doc_id, array_to_string(list_transform(
         |      range(0, greatest((len(ws) + 11) // 12, 1)),
         |      i -> '<p>' || array_to_string(ws[i*12+1 : i*12+12], ' ')
         |        || '</p>'), '') AS pb
         |  FROM hw),
         |hsyn AS (SELECT doc_id,
         |    '<html><head><title>doc ' || doc_id ||
         |    '</title><style>p{margin:0;}</style>' ||
         |    '<script>var x=1;</script></head><body>' ||
         |    '<nav><a href="/">home</a> <a href="/about">about' ||
         |    '</a> <a href="/contact">contact</a></nav>' ||
         |    CASE WHEN doc_id % 5 = 0 THEN
         |      '<div class="s"><a href="/a">tips &amp; tricks</a> ' ||
         |      '<a href="/b">hot deals</a> <a href="/c">win big</a> ' ||
         |      'now</div>' ELSE '' END ||
         |    pb ||
         |    CASE WHEN doc_id % 7 = 0 THEN '<div>buy now</div>'
         |      ELSE '' END ||
         |    '<footer><a href="/terms">terms of use</a> ' ||
         |    '<a href="/privacy">privacy policy</a> sitemap</footer>' ||
         |    '</body></html>' AS html
         |  FROM hp),
         |hb AS (SELECT doc_id, string_split(regexp_replace(
         |      regexp_replace(regexp_replace(regexp_replace(
         |        regexp_replace(html,
         |          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         |        '(?s)<!--.*?-->', ' ', 'g'),
         |      '(?i)</(?:${HtmlOps.blockTags.mkString("|")})>', e'\\n', 'g'),
         |      '(?i)<(?:br|hr)\\s*/?>', e'\\n', 'g'), e'\\n') AS blks
         |  FROM hsyn),
         |bl AS (SELECT doc_id, j AS pos, blks[j] AS raw
         |  FROM hb, unnest(range(1, len(blks) + 1)) AS ub(j)),
         |bt AS (SELECT doc_id, pos,
         |    regexp_replace(trim(replace(replace(replace(replace(replace(
         |      regexp_replace(raw, '<[^>]*>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '),
         |      '&quot;', '"'), '&amp;', '&')), '\\s+', ' ', 'g') AS txt,
         |    regexp_replace(trim(replace(replace(replace(replace(replace(
         |      regexp_replace(coalesce(array_to_string(regexp_extract_all(raw,
         |        '(?is)<a[^>]*>(.*?)</a>', 1), ' '), ''),
         |        '<[^>]*>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '),
         |      '&quot;', '"'), '&amp;', '&')), '\\s+', ' ', 'g') AS atxt
         |  FROM bl),
         |bc AS (SELECT doc_id, pos, txt,
         |    CASE WHEN length(txt) = 0 THEN 0
         |      ELSE len(string_split(txt, ' ')) END AS nw,
         |    CASE WHEN length(atxt) = 0 THEN 0
         |      ELSE len(string_split(atxt, ' ')) END AS naw
         |  FROM bt),
         |keptb AS (SELECT doc_id, pos, txt, nw FROM bc
         |  WHERE nw >= 3 AND naw * 1000 <= nw * 500),
         |agg AS (SELECT doc_id,
         |    string_agg(txt, e'\\n' ORDER BY pos) AS main_text,
         |    count(*)::BIGINT AS n_kept, sum(nw)::BIGINT AS n_words
         |  FROM keptb GROUP BY 1),
         |tot AS (SELECT doc_id, count(*)::BIGINT AS n_blocks FROM bc
         |  WHERE nw > 0 GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.main_text, '') AS main_text,
         |  coalesce(t.n_blocks, 0)::BIGINT AS n_blocks,
         |  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
         |  coalesce(a.n_words, 0)::BIGINT AS n_words
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN tot t USING (doc_id)
         |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // incremental line dedup: q140 synthesis, even-doc history line
    // set, batch election + history block + reassembly
    "q150_incremental_line_dedup" ->
      """WITH pg AS (SELECT doc_id,
        |    'Home About Contact Products News Archive' || chr(10) ||
        |    coalesce(text, '') ||
        |    (CASE WHEN doc_id % 2 = 0 THEN chr(10) ||
        |      'subscribe to our newsletter for weekly updates today'
        |      ELSE '' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
        |      'this website uses cookies to improve your experience'
        |      ELSE '' END) ||
        |    chr(10) || 'ok' || chr(10) ||
        |    'copyright 2024 example site all rights reserved' AS t
        |  FROM documents),
        |hl AS (SELECT DISTINCT trim(line) AS k FROM
        |    (SELECT unnest(string_split(t, chr(10))) AS line FROM pg
        |      WHERE doc_id % 2 = 0)
        |  WHERE len(trim(line)) >= 10),
        |l AS (SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS line,
        |    generate_subscripts(string_split(t, chr(10)), 1) AS pos
        |  FROM pg WHERE doc_id % 2 = 1),
        |c AS (SELECT doc_id, pos, trim(line) AS k FROM l
        |  WHERE len(trim(line)) >= 10),
        |r AS (SELECT doc_id, pos, k, row_number() OVER
        |    (PARTITION BY k ORDER BY doc_id, pos) AS rn FROM c),
        |lo AS (SELECT r.doc_id, r.pos FROM r LEFT JOIN hl
        |  ON r.k = hl.k WHERE r.rn > 1 OR hl.k IS NOT NULL),
        |sv AS (SELECT l.doc_id, l.pos, l.line FROM l
        |  ANTI JOIN lo USING (doc_id, pos)),
        |rb AS (SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
        |    count(*) AS n_kept FROM sv GROUP BY doc_id),
        |nl AS (SELECT doc_id,
        |    len(string_split(t, chr(10)))::BIGINT AS n_lines FROM pg
        |  WHERE doc_id % 2 = 1)
        |SELECT nl.doc_id, coalesce(rb.text_dedup, '') AS text_dedup,
        |  nl.n_lines,
        |  (nl.n_lines - coalesce(rb.n_kept, 0))::BIGINT AS n_dropped
        |FROM nl LEFT JOIN rb USING (doc_id)""".stripMargin,

    // template clusters: injection replay + digit-collapse shape key +
    // shape-grouped distinct-content counts
    "q148_template_clusters" ->
      """WITH tpl AS (SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 5
        |      THEN 'copyright notice all rights reserved worldwide'
        |    WHEN doc_id % 3 = 0
        |      THEN 'user ' || doc_id || ' logged in from host10.' ||
        |        (doc_id % 7) || ' at 2024-01-' || (doc_id % 28)
        |    ELSE text END AS text FROM documents),
        |n AS (SELECT doc_id,
        |    lower(regexp_replace(trim(coalesce(text, '')), '\s+', ' ',
        |      'g')) AS norm FROM tpl),
        |k AS (SELECT doc_id, norm,
        |    regexp_replace(norm, '[0-9]+', '#', 'g') AS shape FROM n)
        |SELECT min(doc_id)::BIGINT AS rep_id, count(*)::BIGINT AS n_docs,
        |  count(DISTINCT norm)::BIGINT AS n_distinct,
        |  (CASE WHEN count(DISTINCT norm) > 1 THEN 1 ELSE 0 END)::INT
        |    AS is_template
        |FROM k GROUP BY shape HAVING count(*) >= 2""".stripMargin,

    // domain quality: q118 url/domain chain + per-doc length/stopword
    // gate + domain keep-rate aggregation
    "q147_domain_quality" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      s"""$urlCtes,
         |dq AS (SELECT domain,
         |    CASE WHEN nt >= 30 AND ns * 1000 >= nt * 20
         |      THEN 1 ELSE 0 END AS k
         |  FROM (SELECT domain,
         |      CASE WHEN coalesce(len(trim(text)), 0) = 0 THEN 0
         |        ELSE len(ws) END AS nt,
         |      len(list_filter(ws, sw -> sw IN ($stop))) AS ns
         |    FROM (SELECT domain, string_split(regexp_replace(
         |        lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws, text
         |      FROM (SELECT domain, CASE WHEN doc_id % 10 = 3
         |          THEN 'buy cheap pills now win big' ELSE text END
         |          AS text FROM dd))))
         |SELECT domain, count(*)::BIGINT AS n_docs,
         |  sum(k)::BIGINT AS n_kept,
         |  ((sum(k) * 1000) // count(*))::BIGINT AS kept_permille,
         |  (CASE WHEN (sum(k) * 1000) // count(*) < 500 THEN 1
         |    ELSE 0 END)::INT AS blocked
         |FROM dq GROUP BY 1""".stripMargin
    },

    // cube report: GROUP BY CUBE with the standard grouping-id bitmask
    "q145_cube_report" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts)::BIGINT // 86400000000 AS day, user_id
        |  FROM events)
        |SELECT event_type, day, count(*)::BIGINT AS n_events,
        |  count(DISTINCT user_id)::BIGINT AS n_users,
        |  GROUPING(event_type, day)::BIGINT AS gid
        |FROM e GROUP BY CUBE (event_type, day)""".stripMargin,

    // session stats: lag boundary flag, running-sum session index
    // (ROWS frame), (user, session) aggregation
    "q146_session_stats" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts)::BIGINT AS ts,
        |    event_type AS t FROM events),
        |f AS (SELECT u, ts, t,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |      WHEN ts - lag(ts) OVER w > 1800000000 THEN 1
        |      ELSE 0 END AS nf
        |  FROM e WINDOW w AS (PARTITION BY u ORDER BY ts)),
        |s AS (SELECT u, ts, t, sum(nf) OVER (PARTITION BY u ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_idx FROM f)
        |SELECT u AS user_id, session_idx::BIGINT AS session_idx,
        |  count(*)::BIGINT AS n_events,
        |  (max(ts) - min(ts))::BIGINT AS span_us,
        |  count(DISTINCT t)::BIGINT AS n_types,
        |  sum(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_target
        |FROM s GROUP BY 1, 2""".stripMargin,

    // split contamination: q78 split replay + distinct 8-gram relation
    // + train-gram semi-join + per-split counts
    "q144_split_contamination" ->
      s"""WITH sp AS (SELECT doc_id,
         |    CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    ((${DuckHash.mix("doc_id::HUGEINT")}) >> 12) % 1000 AS b
         |  FROM documents)),
         |t AS (SELECT doc_id, string_split(regexp_replace(
         |    lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(ws) - 6),
         |    gi -> array_to_string(ws[gi:gi+7], ' ')))) AS gr
         |  FROM t WHERE len(ws) >= 8),
         |tg AS (SELECT DISTINCT gr FROM g JOIN sp USING (doc_id)
         |  WHERE sp.split = 'train'),
         |hit AS (SELECT DISTINCT sp.split, g.doc_id FROM g
         |  JOIN sp USING (doc_id) JOIN tg USING (gr)
         |  WHERE sp.split <> 'train'),
         |tot AS (SELECT split, count(*)::BIGINT AS n_docs FROM sp
         |  WHERE split <> 'train' GROUP BY 1),
         |h AS (SELECT split, count(*)::BIGINT AS nc FROM hit GROUP BY 1)
         |SELECT tot.split, tot.n_docs,
         |  coalesce(h.nc, 0)::BIGINT AS n_contaminated,
         |  ((coalesce(h.nc, 0) * 1000) // tot.n_docs)::BIGINT
         |    AS contaminated_permille
         |FROM tot LEFT JOIN h USING (split)""".stripMargin,

    // rate anomaly: hourly bucket counts, dense type×bucket grid,
    // trailing-24 sum/sumsq window, integer z² guard in HUGEINT
    "q143_rate_anomaly" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts)::BIGINT // 3600000000 AS b FROM events),
        |cnt AS (SELECT event_type, b, count(*)::BIGINT AS n
        |  FROM e GROUP BY 1, 2),
        |rng AS (SELECT min(b) AS lo, max(b) AS hi FROM e),
        |grid AS (SELECT t.event_type, gs.b
        |  FROM (SELECT DISTINCT event_type FROM e) t,
        |    (SELECT unnest(generate_series(lo, hi)) AS b FROM rng) gs),
        |d AS (SELECT g.event_type, g.b,
        |    coalesce(cnt.n, 0)::BIGINT AS n
        |  FROM grid g LEFT JOIN cnt USING (event_type, b)),
        |wn AS (SELECT event_type, b, n,
        |    coalesce(sum(n) OVER w, 0)::BIGINT AS s,
        |    coalesce(sum(n * n) OVER w, 0)::BIGINT AS q,
        |    row_number() OVER
        |      (PARTITION BY event_type ORDER BY b) AS rn
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY b
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, b::BIGINT AS bucket, n,
        |  s AS win_sum, q AS win_sumsq,
        |  (CASE WHEN (n::HUGEINT * 24 - s) * (n::HUGEINT * 24 - s) >
        |    9 * (24 * q::HUGEINT - s::HUGEINT * s) THEN 1 ELSE 0
        |   END)::INT AS anomaly
        |FROM wn WHERE rn > 24""".stripMargin,

    // vocab growth: q20 tokenization, per-token first-doc election,
    // bucket aggregation + cumulative window over checkpoints
    "q142_vocab_growth" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN coalesce(len(trim(text)), 0) = 0
        |      THEN CAST([] AS VARCHAR[])
        |      ELSE string_split(regexp_replace(lower(trim(text)),
        |        '\s+', ' ', 'g'), ' ') END AS ws
        |  FROM documents),
        |bt AS (SELECT doc_id // 100 AS bucket, count(*)::BIGINT AS nd,
        |    sum(len(ws))::BIGINT AS ntk FROM t GROUP BY 1),
        |fo AS (SELECT tok, min(doc_id) AS fid FROM
        |    (SELECT doc_id, unnest(list_distinct(ws)) AS tok FROM t)
        |  GROUP BY 1),
        |ty AS (SELECT fid // 100 AS bucket, count(*)::BIGINT AS nty
        |  FROM fo GROUP BY 1)
        |SELECT bt.bucket::BIGINT AS bucket,
        |  sum(bt.nd) OVER w::BIGINT AS docs_upto,
        |  sum(bt.ntk) OVER w::BIGINT AS tokens_upto,
        |  sum(coalesce(ty.nty, 0)) OVER w::BIGINT AS types_upto
        |FROM bt LEFT JOIN ty USING (bucket)
        |WINDOW w AS (ORDER BY bt.bucket
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    // url canonical dedup: messy-URL synthesis replay + the full
    // canonicalization chain (scheme/host lowering, www./default-port/
    // fragment/trailing-slash strips, tracking-param filter) + window
    // election per canonical form
    "q141_url_canonical" ->
      """WITH u AS (SELECT doc_id, CASE doc_id % 4
        |    WHEN 0 THEN 'HTTPS://WWW.Site' || (doc_id % 25) ||
        |      '.COM:443/Page' || (doc_id % 7) ||
        |      '/?utm_source=feed&utm_medium=rss'
        |    WHEN 1 THEN 'https://site' || (doc_id % 25) ||
        |      '.com/Page' || (doc_id % 7) || '?ref=homepage#section2'
        |    WHEN 2 THEN 'http://www.site' || (doc_id % 25) ||
        |      '.com:80/Page' || (doc_id % 7) || '/'
        |    ELSE 'https://blog.site' || (doc_id % 25) || '.com/post/' ||
        |      doc_id || '?id=' || doc_id || '&utm_campaign=x'
        |    END AS url FROM documents),
        |p AS (SELECT doc_id, url,
        |    lower(regexp_extract(url,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS sr,
        |    regexp_extract(url,
        |      '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#]+)',
        |      1) AS hostport,
        |    regexp_extract(url,
        |      '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?[^/?#]*([^#]*)',
        |      1) AS pathq
        |  FROM u),
        |c0 AS (SELECT doc_id,
        |    CASE WHEN sr = '' THEN 'http' ELSE sr END AS scheme,
        |    regexp_replace(regexp_replace(lower(
        |      regexp_replace(hostport, ':[0-9]+$', '')), '\.$', ''),
        |      '^www\.', '') AS host,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
        |      '/+$', '') AS path,
        |    regexp_extract(pathq, '\?(.*)$', 1) AS query
        |  FROM p),
        |c AS (SELECT doc_id, scheme || '://' || host ||
        |    (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |      OR (scheme = 'https' AND port = '443') THEN ''
        |      ELSE ':' || port END) || path ||
        |    (CASE WHEN query = '' OR len(kp) = 0 THEN ''
        |      ELSE '?' || array_to_string(kp, '&') END) AS canon_url
        |  FROM (SELECT *, list_filter(string_split(query, '&'),
        |      qp -> qp <> '' AND NOT regexp_matches(qp,
        |        '^(utm_[a-zA-Z0-9_]*|gclid|fbclid|ref|mc_cid|mc_eid)(=|$)'))
        |      AS kp FROM c0))
        |SELECT doc_id, canon_url,
        |  (CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canon_url)
        |    THEN 1 ELSE 0 END)::INT AS kept,
        |  count(*) OVER (PARTITION BY canon_url)::BIGINT AS n_aliases
        |FROM c""".stripMargin,

    // line dedup: page synthesis replay + per-line first-occurrence
    // election (partition by trimmed line, order by doc/pos) + loser
    // anti-join + in-order reassembly
    "q140_line_dedup" ->
      """WITH pg AS (SELECT doc_id,
        |    'Home About Contact Products News Archive' || chr(10) ||
        |    coalesce(text, '') ||
        |    (CASE WHEN doc_id % 2 = 0 THEN chr(10) ||
        |      'subscribe to our newsletter for weekly updates today'
        |      ELSE '' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
        |      'this website uses cookies to improve your experience'
        |      ELSE '' END) ||
        |    chr(10) || 'ok' || chr(10) ||
        |    'copyright 2024 example site all rights reserved' AS t
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS line,
        |    generate_subscripts(string_split(t, chr(10)), 1) AS pos
        |  FROM pg),
        |c AS (SELECT doc_id, pos, trim(line) AS k FROM l
        |  WHERE len(trim(line)) >= 10),
        |r AS (SELECT doc_id, pos, row_number() OVER
        |    (PARTITION BY k ORDER BY doc_id, pos) AS rn FROM c),
        |lo AS (SELECT doc_id, pos FROM r WHERE rn > 1),
        |sv AS (SELECT l.doc_id, l.pos, l.line FROM l
        |  ANTI JOIN lo USING (doc_id, pos)),
        |rb AS (SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
        |    count(*) AS n_kept FROM sv GROUP BY doc_id),
        |nl AS (SELECT doc_id,
        |    len(string_split(t, chr(10)))::BIGINT AS n_lines FROM pg)
        |SELECT nl.doc_id, coalesce(rb.text_dedup, '') AS text_dedup,
        |  nl.n_lines,
        |  (nl.n_lines - coalesce(rb.n_kept, 0))::BIGINT AS n_dropped
        |FROM nl LEFT JOIN rb USING (doc_id)""".stripMargin,

    // funnel: greedy-earliest stage chain unrolled (each stage's
    // earliest qualifying event strictly after the previous match,
    // window anchored at step 0), scalar-subquery counts
    "q138_funnel" ->
      """WITH fe AS (SELECT user_id AS u, event_type AS t,
        |    epoch_us(ts)::BIGINT AS ts FROM events),
        |f1 AS (SELECT u, min(ts) AS ts0, min(ts) AS tsi FROM fe
        |  WHERE t = 'signup' GROUP BY 1),
        |f2 AS (SELECT e.u, f1.ts0, min(e.ts) AS tsi FROM fe e
        |  JOIN f1 ON f1.u = e.u
        |  WHERE e.t = 'view' AND e.ts > f1.tsi
        |    AND e.ts <= f1.ts0 + 604800000000 GROUP BY 1, 2),
        |f3 AS (SELECT e.u, f2.ts0, min(e.ts) AS tsi FROM fe e
        |  JOIN f2 ON f2.u = e.u
        |  WHERE e.t = 'click' AND e.ts > f2.tsi
        |    AND e.ts <= f2.ts0 + 604800000000 GROUP BY 1, 2),
        |f4 AS (SELECT e.u, f3.ts0, min(e.ts) AS tsi FROM fe e
        |  JOIN f3 ON f3.u = e.u
        |  WHERE e.t = 'purchase' AND e.ts > f3.tsi
        |    AND e.ts <= f3.ts0 + 604800000000 GROUP BY 1, 2)
        |SELECT 1::INT AS step, 'signup' AS step_type,
        |  (SELECT count(*) FROM f1)::BIGINT AS n_users
        |UNION ALL SELECT 2::INT, 'view',
        |  (SELECT count(*) FROM f2)::BIGINT
        |UNION ALL SELECT 3::INT, 'click',
        |  (SELECT count(*) FROM f3)::BIGINT
        |UNION ALL SELECT 4::INT, 'purchase',
        |  (SELECT count(*) FROM f4)::BIGINT""".stripMargin,

    // cohort retention: distinct (user, integer day), first-day
    // election, (cohort, offset) counts
    "q139_cohort_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts)::BIGINT // 86400000000 AS d FROM events),
        |fd AS (SELECT u, min(d) AS d0 FROM ud GROUP BY 1)
        |SELECT fd.d0::BIGINT AS cohort_day,
        |  (ud.d - fd.d0)::BIGINT AS day_offset,
        |  count(*)::BIGINT AS n_users
        |FROM ud JOIN fd USING (u) GROUP BY 1, 2""".stripMargin,

    // tokenizer round-trip: the q125 token-string chain re-concatenated
    // in (pretoken idx, within idx) order must equal the source text
    "q137_bpe_roundtrip" ->
      s"""${bpeCtes(6, bpeMaxVocab)},
         |tdoc AS (SELECT doc_id, regexp_extract_all(text,
         |      '${Bpe.preTokenPattern}', 0) AS ws
         |  FROM documents WHERE coalesce(length(trim(text)), 0) > 0),
         |dwo AS (SELECT doc_id, j AS widx, ws[j] AS wd
         |  FROM tdoc, unnest(range(1, len(ws) + 1)) AS uw(j)),
         |flat AS (SELECT d.doc_id, d.widx, ti AS iidx, w6.toks[ti] AS tok
         |  FROM dwo d JOIN v6 w6 USING (wd),
         |    unnest(range(1, len(w6.toks) + 1)) AS ut(ti)),
         |rc AS (SELECT doc_id, string_agg(tok, '' ORDER BY widx, iidx)
         |    AS dec FROM flat GROUP BY 1)
         |SELECT d.doc_id, length(rc.dec)::BIGINT AS n_chars_decoded,
         |  (CASE WHEN rc.dec = d.text THEN 1 ELSE 0 END)::INT AS match
         |FROM documents d JOIN rc USING (doc_id)""".stripMargin,

    // reason-coded quality gate: integer signals (token count,
    // stopword membership count, max per-word occurrences), first-
    // failing CASE chain
    "q136_quality_gate" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH qw AS (SELECT doc_id, string_split(
         |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
         |      AS ws,
         |    CASE WHEN coalesce(len(trim(text)), 0) = 0 THEN 0
         |      ELSE len(string_split(regexp_replace(lower(trim(text)),
         |        '\\s+', ' ', 'g'), ' ')) END::BIGINT AS nt
         |  FROM documents),
         |qs AS (SELECT doc_id, nt,
         |    CASE WHEN nt = 0 THEN 0 ELSE len(list_filter(ws,
         |      w -> w IN ($stop))) END::BIGINT AS n_stop,
         |    CASE WHEN nt = 0 THEN 0 ELSE list_max(list_transform(
         |      list_distinct(ws), dw -> len(list_filter(ws,
         |        xw -> xw = dw)))) END::BIGINT AS top_word_count
         |  FROM qw),
         |qr AS (SELECT doc_id, nt AS n_tokens, n_stop, top_word_count,
         |    CASE WHEN nt < 30 THEN 'too_short'
         |      WHEN nt > 100000 THEN 'too_long'
         |      WHEN n_stop * 1000 < nt * 20 THEN 'low_stopword'
         |      WHEN top_word_count * 1000 > nt * 150 THEN 'repetitive'
         |      ELSE 'ok' END AS reason
         |  FROM qs)
         |SELECT doc_id, n_tokens, n_stop, top_word_count, reason,
         |  (CASE WHEN reason = 'ok' THEN 1 ELSE 0 END)::INT AS kept
         |FROM qr""".stripMargin
    },

    // executed substring decontamination: the q116 fingerprint chain,
    // bench fps (%50 docs) as the hit set, islands → spans → covered
    // positions → anti-join → in-order rebuild (the q122 tail)
    "q135_substring_decontaminate" ->
      s"""$substringCtes,
         |dbf AS (SELECT DISTINCT fp FROM f WHERE doc_id % 50 = 0),
         |dh AS (SELECT f.doc_id, f.off FROM f JOIN dbf USING (fp)),
         |di1 AS (SELECT doc_id, off, CASE WHEN off - lag(off) OVER (
         |      PARTITION BY doc_id ORDER BY off) <= 8 THEN 0
         |    ELSE 1 END AS brk FROM dh),
         |di2 AS (SELECT doc_id, off, sum(brk) OVER (
         |    PARTITION BY doc_id ORDER BY off
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM di1),
         |dsp AS (SELECT doc_id, isl, min(off) AS s, max(off) AS e0
         |  FROM di2 GROUP BY 1, 2),
         |dcov AS (SELECT doc_id, unnest(range(s, e0 + 8)) AS pos
         |  FROM dsp),
         |dwrd AS (SELECT doc_id, j AS pos, ws[j] AS w
         |  FROM t, unnest(range(1, len(ws) + 1)) AS u9(j)),
         |dkept AS (SELECT dwrd.doc_id, dwrd.pos, dwrd.w FROM dwrd
         |  LEFT JOIN dcov ON dcov.doc_id = dwrd.doc_id
         |    AND dcov.pos = dwrd.pos
         |  WHERE dcov.pos IS NULL),
         |dreb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos)
         |      AS text_clean,
         |    count(*)::BIGINT AS n_kept FROM dkept GROUP BY 1),
         |dng AS (SELECT doc_id, greatest(len(ws) - 7, 0)::BIGINT
         |      AS n_grams,
         |    len(ws)::BIGINT AS nw FROM t)
         |SELECT dng.doc_id,
         |  coalesce(dreb.text_clean, '') AS text_clean,
         |  coalesce(dreb.n_kept, 0)::BIGINT AS n_kept_words,
         |  (CASE WHEN dng.n_grams = 0 THEN 0
         |    ELSE dng.nw - coalesce(dreb.n_kept, 0) END)::BIGINT
         |    AS n_removed_words
         |FROM dng LEFT JOIN dreb USING (doc_id)""".stripMargin,

    // unicode normalization: mess injection replay + nfc_normalize +
    // control/invisible strips + space trim + changed flag
    "q134_unicode_normalize" ->
      s"""WITH um AS (SELECT doc_id,
         |    (CASE WHEN doc_id % 3 = 0 THEN '$uniBom' ELSE '' END) ||
         |    text ||
         |    (CASE WHEN doc_id % 5 = 0 THEN '$uniZw' || chr(1)
         |      ELSE '' END) ||
         |    (CASE WHEN doc_id % 7 = 0 THEN '$uniRing' ELSE '' END)
         |      AS t
         |  FROM documents),
         |un AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
         |      nfc_normalize(t),
         |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
         |      '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'),
         |    ' ') AS text_norm, t
         |  FROM um)
         |SELECT doc_id, text_norm,
         |  (CASE WHEN text_norm <> t THEN 1 ELSE 0 END)::INT AS changed
         |FROM un""".stripMargin,

    // outlink-domain audit: page synthesis + loose href extraction +
    // absolute-only filter + the q118 host/registrable-domain chain
    "q133_outlink_domains" -> {
      val suffixes = UrlOps.multiLabelSuffixes.map(x => s"'$x'")
        .mkString(", ")
      s"""WITH ol AS (SELECT doc_id,
         |    '<p>' || text || '</p><div><a href="https://www.out' ||
         |    (doc_id % 7) || (CASE doc_id % 3 WHEN 0 THEN '.com'
         |      WHEN 1 THEN '.co.uk' ELSE '.net' END) ||
         |    '/x">one</a> <a href=''http://hub' || (doc_id % 4) ||
         |    '.org/y''>two</a> <a href="/local">here</a></div>' AS html
         |  FROM documents),
         |lx AS (SELECT doc_id, unnest(regexp_extract_all(html,
         |    '(?is)<a[^>]*href\\s*=\\s*["'']?([^"''\\s>]+)', 1)) AS l
         |  FROM ol),
         |la AS (SELECT doc_id, l FROM lx WHERE contains(l, '://')),
         |lh AS (SELECT doc_id, regexp_replace(lower(regexp_extract(l,
         |    '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)',
         |    1)), '\\.$$', '') AS host FROM la),
         |ld2 AS (SELECT doc_id, CASE WHEN len(p) <= 2 THEN host
         |    WHEN array_to_string(p[len(p)-1:], '.') IN ($suffixes)
         |      THEN array_to_string(p[len(p)-2:], '.')
         |    ELSE array_to_string(p[len(p)-1:], '.') END AS domain
         |  FROM (SELECT doc_id, host, string_split(host, '.') AS p
         |    FROM lh))
         |SELECT domain, count(*)::BIGINT AS n_links,
         |  count(DISTINCT doc_id)::BIGINT AS n_pages
         |FROM ld2 GROUP BY 1""".stripMargin
    },

    // pagerank: synthesized link graph + 5 unrolled integer-banked
    // iterations (contribution = r // outdeg, damped sum // 1000)
    "q132_pagerank" -> {
      val stages = (1 to 5).map { k =>
        s"""gr$k AS (SELECT v.id,
           |    (150000 + coalesce(s.c, 0) * 850 // 1000)::BIGINT AS r
           |  FROM gv v LEFT JOIN (SELECT e.dst AS id,
           |      sum(r.r // e.od)::BIGINT AS c
           |    FROM ge3 e JOIN gr${k - 1} r ON r.id = e.src
           |    GROUP BY 1) s USING (id))""".stripMargin
      }.mkString(",\n")
      s"""WITH gn AS (SELECT count(*)::BIGINT AS n FROM documents),
         |ge AS (SELECT doc_id AS src,
         |    (doc_id * 7 + 1) % (SELECT n FROM gn) AS dst FROM documents
         |  UNION ALL SELECT doc_id,
         |    (doc_id * 13 + 3) % (SELECT n FROM gn) FROM documents
         |  UNION ALL SELECT doc_id, doc_id % 10 FROM documents),
         |ge2 AS (SELECT src, dst FROM ge WHERE src <> dst),
         |gv AS (SELECT DISTINCT id FROM (SELECT src AS id FROM ge2
         |  UNION ALL SELECT dst FROM ge2)),
         |god AS (SELECT src, count(*)::BIGINT AS od FROM ge2 GROUP BY 1),
         |ge3 AS (SELECT e.src, e.dst, o.od FROM ge2 e JOIN god o
         |  USING (src)),
         |gr0 AS (SELECT id, 1000000::BIGINT AS r FROM gv),
         |$stages
         |SELECT id AS doc_id, r AS rank_micro FROM gr5""".stripMargin
    },

    // classifier calibration: the q115 training chain's margins + the
    // src0 labels, cross-joined with the threshold list, integer
    // confusion sums and per-mille cross-multiplied P/R/F1
    "q131_classifier_calibration" ->
      s"""$perceptronCtes,
         |lab AS (SELECT d.doc_id,
         |    (d.source = 'src0') AS y,
         |    coalesce(sc.margin, 0)::BIGINT AS m
         |  FROM documents d LEFT JOIN sc USING (doc_id)),
         |thr AS (SELECT unnest([-80000, -60000, -45000, -30000, -15000, 0])
         |    ::BIGINT AS threshold),
         |cf AS (SELECT t.threshold,
         |    sum(CASE WHEN l.m > t.threshold AND l.y THEN 1
         |      ELSE 0 END)::BIGINT AS tp,
         |    sum(CASE WHEN l.m > t.threshold AND NOT l.y THEN 1
         |      ELSE 0 END)::BIGINT AS fp,
         |    sum(CASE WHEN l.m <= t.threshold AND l.y THEN 1
         |      ELSE 0 END)::BIGINT AS fn,
         |    sum(CASE WHEN l.m <= t.threshold AND NOT l.y THEN 1
         |      ELSE 0 END)::BIGINT AS tn
         |  FROM lab l CROSS JOIN thr t GROUP BY 1)
         |SELECT threshold, tp, fp, fn, tn,
         |  (tp * 1000 // greatest(tp + fp, 1))::BIGINT
         |    AS precision_permille,
         |  (tp * 1000 // greatest(tp + fn, 1))::BIGINT
         |    AS recall_permille,
         |  (2 * tp * 1000 // greatest(2 * tp + fp + fn, 1))::BIGINT
         |    AS f1_permille
         |FROM cf""".stripMargin,

    // PII scrub: injection replay + the same four RE2/Java-common
    // patterns applied sequentially (email -> ssn -> ipv4 -> phone),
    // counts via regexp_extract_all at each stage's input
    "q130_pii_scrub" ->
      s"""WITH pps AS (SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||
         |      '@example.com now' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' server 10.2.' ||
         |      (doc_id % 200) || '.7 up' ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' call 555-010-' ||
         |      lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' today'
         |      ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0 THEN ' id 123-45-6789 end'
         |      ELSE '' END AS t
         |  FROM documents),
         |ps1 AS (SELECT doc_id,
         |    len(regexp_extract_all(t, '${graft.operators.Pii.emailRe}'))
         |      ::BIGINT AS n_emails,
         |    regexp_replace(t, '${graft.operators.Pii.emailRe}',
         |      '<EMAIL>', 'g') AS r FROM pps),
         |ps2 AS (SELECT doc_id, n_emails,
         |    len(regexp_extract_all(r, '${graft.operators.Pii.ssnRe}'))
         |      ::BIGINT AS n_ssns,
         |    regexp_replace(r, '${graft.operators.Pii.ssnRe}',
         |      '<SSN>', 'g') AS r FROM ps1),
         |ps3 AS (SELECT doc_id, n_emails, n_ssns,
         |    len(regexp_extract_all(r, '${graft.operators.Pii.ipv4Re}'))
         |      ::BIGINT AS n_ips,
         |    regexp_replace(r, '${graft.operators.Pii.ipv4Re}',
         |      '<IP>', 'g') AS r FROM ps2)
         |SELECT doc_id, n_emails, n_ssns, n_ips,
         |  len(regexp_extract_all(r, '${graft.operators.Pii.phoneRe}'))
         |    ::BIGINT AS n_phones,
         |  regexp_replace(r, '${graft.operators.Pii.phoneRe}',
         |    '<PHONE>', 'g') AS text_redacted
         |FROM ps3""".stripMargin,

    // incremental substring dedup: the q116 fingerprint chain over the
    // history∪batch slices, history = distinct %3-doc gram fps, batch
    // offsets dup when fp ∈ history OR rn > 1 within the batch, then
    // the gaps-and-islands span merge per batch doc
    "q129_incremental_substring" ->
      s"""WITH it AS (SELECT doc_id,
         |    string_split(${DuckHash.norm("coalesce(text, '')")}, ' ')
         |      AS ws
         |  FROM documents WHERE doc_id % 3 = 0 OR doc_id % 5 = 0),
         |iw AS (SELECT doc_id, ws,
         |    list_transform(ws, wx -> ${DuckHash.polyHash("wx")}) AS whs
         |  FROM it),
         |ig AS (SELECT doc_id, whs,
         |    unnest(range(1, greatest(len(whs) - 7, 0) + 1)) AS off
         |  FROM iw),
         |iff AS (SELECT doc_id, off,
         |    list_reduce(list_prepend(1125899906842597::HUGEINT,
         |      whs[off:off+7]),
         |      (gh, gc) -> (31 * gh + gc) % ${DuckHash.uStr}) AS fp
         |  FROM ig),
         |ih AS (SELECT DISTINCT fp FROM iff WHERE doc_id % 3 = 0),
         |ib AS (SELECT doc_id, off, fp FROM iff WHERE doc_id % 5 = 0),
         |ie AS (SELECT doc_id, off, fp, row_number() OVER (
         |    PARTITION BY fp ORDER BY doc_id, off) AS rn FROM ib),
         |id2 AS (SELECT ie.doc_id, ie.off FROM ie
         |  LEFT JOIN (SELECT fp, 1 AS seen FROM ih) hh ON hh.fp = ie.fp
         |  WHERE ie.rn > 1 OR hh.seen IS NOT NULL),
         |ii1 AS (SELECT doc_id, off, CASE WHEN off - lag(off) OVER (
         |      PARTITION BY doc_id ORDER BY off) <= 8 THEN 0
         |    ELSE 1 END AS brk FROM id2),
         |ii2 AS (SELECT doc_id, off, sum(brk) OVER (
         |    PARTITION BY doc_id ORDER BY off
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM ii1),
         |isp AS (SELECT doc_id, isl, min(off) AS s, max(off) AS e0,
         |    count(*) AS nd FROM ii2 GROUP BY 1, 2),
         |iper AS (SELECT doc_id, sum(nd)::BIGINT AS n_dup_grams,
         |    count(*)::BIGINT AS n_spans,
         |    sum(e0 - s + 8)::BIGINT AS dup_words
         |  FROM isp GROUP BY 1)
         |SELECT b.doc_id,
         |  greatest(len(b.ws) - 7, 0)::BIGINT AS n_grams,
         |  coalesce(p.n_dup_grams, 0)::BIGINT AS n_dup_grams,
         |  coalesce(p.n_spans, 0)::BIGINT AS n_spans,
         |  coalesce(p.dup_words, 0)::BIGINT AS dup_words
         |FROM (SELECT doc_id, ws FROM it WHERE doc_id % 5 = 0) b
         |LEFT JOIN iper p USING (doc_id)""".stripMargin,

    // image near-dup: stub-decode dHash replay — stub raster dims from
    // byte length, nearest-neighbor 9×8 sampling of the byte "raster"
    // ((sy*W + sx) mod n), horizontal gradient bits packed little-
    // endian into a HUGEINT, 16-bit pigeonhole segments, popcount-of-
    // xor Hamming over candidate pairs (min per pair)
    "q128_image_neardup" ->
      s"""WITH asrc AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 10000000, 'z' || text[2:]
         |  FROM documents WHERE doc_id % 4 = 0),
         |dsrc AS (SELECT doc_id, text, length(text)::BIGINT AS n,
         |    (64 + length(text) % 192)::BIGINT AS w,
         |    (64 + (length(text)::BIGINT * 7) % 192)::BIGINT AS h
         |  FROM asrc WHERE coalesce(length(text), 0) > 0),
         |dbit AS (SELECT doc_id, b,
         |    CASE WHEN
         |      ascii(text[((((b // 8) * h // 8) * w
         |          + ((b % 8) * w // 9)) % n + 1)::INT
         |        : ((((b // 8) * h // 8) * w
         |          + ((b % 8) * w // 9)) % n + 1)::INT])
         |      < ascii(text[((((b // 8) * h // 8) * w
         |          + (((b % 8) + 1) * w // 9)) % n + 1)::INT
         |        : ((((b // 8) * h // 8) * w
         |          + (((b % 8) + 1) * w // 9)) % n + 1)::INT])
         |      THEN 1::HUGEINT << b ELSE 0::HUGEINT END AS pw
         |  FROM dsrc, unnest(range(0, 64)) AS ub(b)),
         |hsh AS (SELECT doc_id, sum(pw)::HUGEINT AS uh FROM dbit
         |  GROUP BY 1),
         |hsg AS (SELECT doc_id, ${DuckHash.toSigned("uh")} AS sh,
         |    p, ((uh >> (p * 16)::INT) % 65536)::BIGINT AS segval
         |  FROM hsh, unnest(range(0, 4)) AS up(p)),
         |hpr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    bit_count(xor(a.sh, b.sh))::INT AS hamming
         |  FROM hsg a JOIN hsg b
         |    ON a.p = b.p AND a.segval = b.segval AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, min(hamming)::INT AS hamming FROM hpr
         |WHERE hamming <= 3 GROUP BY 1, 2""".stripMargin,

    // perplexity band gate: milli-nat entropy through the q64/q75
    // log-bucket qhist replay, per-lang p10/p90 lower bounds, keep the
    // band (drop both tails: boilerplate below, gibberish above)
    "q99_perplexity_gate" ->
      s"""$bigramLmCtes,
         |hm AS (SELECT d.doc_id, d.lang,
         |    floor((-(g.lp_micro::DOUBLE) /
         |      (g.n_bigrams::DOUBLE * 1048576.0)) * 1000.0)::BIGINT
         |      AS h_milli
         |  FROM documents d JOIN g USING (doc_id)
         |  WHERE g.n_bigrams > 0),
         |hb AS (SELECT doc_id, lang, h_milli,
         |    CASE WHEN h_milli <= 0 THEN 0 WHEN h_milli < 32 THEN h_milli
         |      ELSE 32 + (len(bin(h_milli)) - 6) * 16
         |        + ((h_milli >> (len(bin(h_milli)) - 5)) & 15) END
         |      AS bucket FROM hm),
         |hc AS (SELECT lang, bucket, count(*) AS n FROM hb
         |  GROUP BY lang, bucket),
         |hcum AS (SELECT lang, bucket,
         |    sum(n) OVER (PARTITION BY lang ORDER BY bucket) AS cn,
         |    sum(n) OVER (PARTITION BY lang) AS tot FROM hc),
         |hqs AS (SELECT lang,
         |    min(CASE WHEN cn >= greatest(1,
         |      CAST(ceil(0.1 * tot) AS BIGINT)) THEN bucket END) AS b10,
         |    min(CASE WHEN cn >= greatest(1,
         |      CAST(ceil(0.9 * tot) AS BIGINT)) THEN bucket END) AS b90
         |  FROM hcum GROUP BY lang),
         |hth AS (SELECT lang,
         |    CAST(CASE WHEN b10 < 32 THEN b10 ELSE (16 + b10 % 16)::BIGINT
         |      << ((b10 - 32) // 16 + 1) END AS BIGINT) AS p10_lb,
         |    CAST(CASE WHEN b90 + 1 < 32 THEN b90 + 1
         |      ELSE (16 + (b90 + 1) % 16)::BIGINT
         |      << ((b90 + 1 - 32) // 16 + 1) END AS BIGINT) AS p90_ub
         |  FROM hqs)
         |SELECT hb.doc_id, hb.lang, hb.h_milli, hth.p10_lb, hth.p90_ub,
         |  CAST(CASE WHEN hb.h_milli >= hth.p10_lb
         |    AND hb.h_milli < hth.p90_ub THEN 1 ELSE 0 END AS INT)
         |    AS kept
         |FROM hb JOIN hth USING (lang)""".stripMargin,

    // epoch upsampling: the salted mix64 bucket decides the fractional
    // extra copy; copies materialize via range unnest
    "q97_epoch_upsample" ->
      s"""WITH b AS (SELECT doc_id,
         |    ((${DuckHash.mix("(doc_id + 424243)::HUGEINT")}) >> 12)
         |      % 1000 AS bk
         |  FROM documents),
         |c AS (SELECT doc_id,
         |    (2 + CASE WHEN bk < 300 THEN 1 ELSE 0 END)::INT AS n_copies
         |  FROM b)
         |SELECT c.doc_id, u::INT AS epoch_copy, c.n_copies
         |FROM c, unnest(range(0, c.n_copies)) AS t(u)""".stripMargin,

    // embedding standardization: 2^10-quantized integer stat banks,
    // then the same fixed-order mean/var/sqrt/divide chain
    "q98_embedding_standardize" ->
      """WITH x AS (SELECT vec_id, u.pos - 1 AS pos, u.xv FROM (
        |    SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
        |      pi -> {'pos': pi, 'xv': embedding[pi]::DOUBLE})) AS u
        |    FROM embeddings WHERE embedding IS NOT NULL)),
        |q AS (SELECT vec_id, pos, xv, floor(xv * 1024.0)::BIGINT AS sx
        |  FROM x),
        |st AS (SELECT pos, sum(sx::HUGEINT) AS s,
        |    sum(sx::HUGEINT * sx::HUGEINT) AS ss, count(*)::BIGINT AS n
        |  FROM q GROUP BY pos),
        |ms AS (SELECT pos, s::DOUBLE / (n::DOUBLE * 1024.0) AS m,
        |    ss::DOUBLE / (n::DOUBLE * 1048576.0) AS ex2 FROM st),
        |sd AS (SELECT pos, m, CASE WHEN (ex2 - m * m) > 0.0
        |    THEN sqrt(ex2 - m * m) END AS sdv FROM ms)
        |SELECT q.vec_id, q.pos::BIGINT AS pos,
        |  (q.xv - sd.m) / sd.sdv AS zval
        |FROM q JOIN sd USING (pos)""".stripMargin,

    // per-lang p10 threshold via the q64 log-bucket template, joined
    // back as a keep gate
    "q75_percentile_gate" ->
      """WITH v AS (SELECT lang, coalesce(n_chars, 0) AS m FROM documents),
        |b AS (SELECT lang, CASE WHEN m <= 0 THEN 0 WHEN m < 32 THEN m
        |    ELSE 32 + (len(bin(m)) - 6) * 16
        |      + ((m >> (len(bin(m)) - 5)) & 15) END AS bucket FROM v),
        |c AS (SELECT lang, bucket, count(*) AS n FROM b
        |  GROUP BY lang, bucket),
        |cum AS (SELECT lang, bucket,
        |    sum(n) OVER (PARTITION BY lang ORDER BY bucket) AS cn,
        |    sum(n) OVER (PARTITION BY lang) AS tot FROM c),
        |qs AS (SELECT lang, min(CASE WHEN cn >= greatest(1,
        |    CAST(ceil(0.1 * tot) AS BIGINT)) THEN bucket END) AS b10
        |  FROM cum GROUP BY lang),
        |th AS (SELECT lang,
        |    CAST(CASE WHEN b10 < 32 THEN b10 ELSE (16 + b10 % 16)::BIGINT
        |      << ((b10 - 32) // 16 + 1) END AS BIGINT) AS p10_lb FROM qs)
        |SELECT d.doc_id, d.lang, d.n_chars, th.p10_lb,
        |  CAST(CASE WHEN coalesce(d.n_chars, 0) >= th.p10_lb
        |    THEN 1 ELSE 0 END AS INT) AS kept
        |FROM documents d JOIN th USING (lang)""".stripMargin,

    // hash-order top-5 per language; >> 12 keeps the sort key in the
    // signed-positive range so both engines order identically
    "q67_topk_sample" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |    ((${DuckHash.mix("doc_id::HUGEINT")}) >> 12)::BIGINT AS u
         |  FROM documents),
         |r AS (SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang ORDER BY u, doc_id) AS sample_rank FROM h)
         |SELECT doc_id, lang, sample_rank::BIGINT AS sample_rank
         |FROM r WHERE sample_rank <= 5""".stripMargin,

    // 50-word chunks over the q20/q60 normalize-split convention
    // (unfiltered split — mirrors TextOps.words exactly), base-31
    // polynomial fingerprint per chunk, first-occurrence election by
    // (doc_id, chunk_idx)
    "q68_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id,
         |    string_split(${DuckHash.norm("text")}, ' ') AS ws
         |  FROM documents),
         |s AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 50)) AS st
         |  FROM t),
         |c AS (SELECT doc_id, ((st - 1) // 50)::BIGINT AS chunk_idx,
         |    array_to_string(ws[st:st+49], ' ') AS ct FROM s),
         |f AS (SELECT doc_id, chunk_idx, ${DuckHash.polyHash("ct")} AS fp
         |  FROM c),
         |k AS (SELECT doc_id, fp, row_number() OVER (
         |    PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn FROM f),
         |per AS (SELECT doc_id, count(*) AS n_chunks,
         |    sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept
         |  FROM k GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(per.n_chunks, 0)::BIGINT AS n_chunks,
         |  coalesce(per.n_kept, 0)::BIGINT AS n_kept
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,

    // the log-bucket histogram replayed in SQL: e = len(bin(m)) - 1
    // gives the exact exponent, mantissa by shift/mask, quantile = the
    // smallest bucket whose cumulative count reaches rank ceil(q*n),
    // reported as the bucket's lower bound (identical integer math to
    // Quantiles.bucketOf/lowerBound)
    "q64_quantile_hist" ->
      """WITH v AS (SELECT event_type,
        |    CAST(round(value * 1e6) AS BIGINT) AS m FROM events),
        |b AS (SELECT event_type, CASE WHEN m <= 0 THEN 0 WHEN m < 32 THEN m
        |    ELSE 32 + (len(bin(m)) - 6) * 16
        |      + ((m >> (len(bin(m)) - 5)) & 15) END AS bucket FROM v),
        |c AS (SELECT event_type, bucket, count(*) AS n FROM b
        |  GROUP BY event_type, bucket),
        |cum AS (SELECT event_type, bucket,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cn,
        |    sum(n) OVER (PARTITION BY event_type) AS tot FROM c),
        |qs AS (SELECT event_type,
        |    min(CASE WHEN cn >= greatest(1,
        |      CAST(ceil(0.5 * tot) AS BIGINT)) THEN bucket END) AS b50,
        |    min(CASE WHEN cn >= greatest(1,
        |      CAST(ceil(0.9 * tot) AS BIGINT)) THEN bucket END) AS b90,
        |    min(CASE WHEN cn >= greatest(1,
        |      CAST(ceil(0.99 * tot) AS BIGINT)) THEN bucket END) AS b99
        |  FROM cum GROUP BY event_type)
        |SELECT event_type,
        |  CAST(CASE WHEN b50 < 32 THEN b50 ELSE (16 + b50 % 16)::BIGINT
        |    << ((b50 - 32) // 16 + 1) END AS BIGINT) AS p50_lb,
        |  CAST(CASE WHEN b90 < 32 THEN b90 ELSE (16 + b90 % 16)::BIGINT
        |    << ((b90 - 32) // 16 + 1) END AS BIGINT) AS p90_lb,
        |  CAST(CASE WHEN b99 < 32 THEN b99 ELSE (16 + b99 % 16)::BIGINT
        |    << ((b99 - 32) // 16 + 1) END AS BIGINT) AS p99_lb
        |FROM qs""".stripMargin,

    // 4-gram overlap vs the doc_id % 50 == 0 benchmark subset; distinct
    // grams per doc, counted once each
    "q63_decontamination" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
        |        || ' ' || toks[i + 3]))) AS gram FROM t),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |hits AS (SELECT g.doc_id, count(*) AS n FROM g
        |  JOIN bg ON g.gram = bg.gram GROUP BY g.doc_id)
        |SELECT d.doc_id, CAST(coalesce(hits.n, 0) AS BIGINT)
        |    AS n_shared_grams,
        |  CAST(CASE WHEN coalesce(hits.n, 0) > 0 THEN 1 ELSE 0 END AS INT)
        |    AS contaminated
        |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id""".stripMargin,

    "q28_similarity_lsh" -> q28Oracle,

    "q149_ann_recall" -> q149Oracle,

    "q27_similarity_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |    FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |  list_sum(list_transform(range(1, len(qv) + 1),
        |    i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
        |  (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
        |    i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
        |   sqrt(list_sum(list_transform(range(1, len(cv) + 1),
        |    i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS cos
        |  FROM q, c WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
        |FROM r WHERE rank <= 3""".stripMargin,

    "q29_multimodal_binary" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents""".stripMargin,

    "q30_multi_granularity" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  date_trunc('hour', ts) AS hour,
        |  count(*) AS n, round(sum(value), 6) AS sum_v
        |FROM events GROUP BY 1, 2""".stripMargin,

    // view followed by the FIRST later (purchase|error) within 10 min;
    // "later" = (ts, event_id) lexicographic, matching the NFA feed order
    "q31_pattern_or" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'view'),
        |x AS (SELECT user_id, event_id AS x_id, event_type, epoch_us(ts) AS x_us
        |    FROM events WHERE event_type IN ('purchase', 'error')),
        |j AS (SELECT a.user_id, a.a_id, x.x_id, x.event_type,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY x.x_us, x.x_id) AS rn
        |  FROM a JOIN x ON a.user_id = x.user_id
        |    AND (x.x_us > a.a_us OR (x.x_us = a.a_us AND x.x_id > a.a_id))
        |    AND x.x_us - a.a_us <= 600000000)
        |SELECT user_id, a_id,
        |  CASE WHEN event_type = 'purchase' THEN x_id END AS b_id,
        |  CASE WHEN event_type = 'error' THEN x_id END AS c_id
        |FROM j WHERE rn = 1""".stripMargin,

    // click with NO purchase strictly inside the following 5-min window
    "q32_absence" ->
      """SELECT a.user_id, a.event_id AS a_id,
        |  epoch_us(a.ts) + 300000000 AS alert_us
        |FROM events a
        |WHERE a.event_type = 'click' AND NOT EXISTS (
        |  SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = a.user_id
        |    AND (epoch_us(p.ts) > epoch_us(a.ts)
        |      OR (epoch_us(p.ts) = epoch_us(a.ts) AND p.event_id > a.event_id))
        |    AND epoch_us(p.ts) - epoch_us(a.ts) < 300000000)""".stripMargin,

    // error-and-purchase in either order: each event of either type pairs
    // with the first later event of the other type within 10 min —
    // shared with q166 (the same semantics through SQL PERMUTE(a,b))
    "q33_pattern_and" -> q33Oracle,


    // click pair (each click + the next click) then the first purchase
    // after the second click, within 2 h of the FIRST click — shared
    // with q86 (the same semantics through the SQL statement)
    "q34_quantifier" -> q34Oracle,

    // high-value click followed by the first purchase within 10 min —
    // the cross-stream envelope reduces to this on the events table
    "q35_cross_stream_pattern" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click' AND value > 0.8),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a.a_id, b.b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
        |    AND b.b_us - a.a_us <= 600000000)
        |SELECT user_id, a_id, b_id FROM j WHERE rn = 1""".stripMargin,

    "q36_session_window" ->
      """WITH o AS (SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (SELECT user_id, event_id, value, us,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM o)
        |SELECT user_id, session_id, count(*) AS n, min(us) AS start_us,
        |  max(us) AS end_us,
        |  CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
        |    AS sum_v_micro
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "q37_sort_window" ->
      """WITH r AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rk
        |  FROM events)
        |SELECT user_id, event_id, round(value, 6) AS value_r
        |FROM r WHERE rk <= 3""".stripMargin,

    "q38_frequent_window" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |    FROM events GROUP BY user_id, event_type),
        |r AS (SELECT user_id, event_type, cnt,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY cnt DESC, event_type) AS rk
        |  FROM c)
        |SELECT user_id, event_type, cnt FROM r WHERE rk <= 2""".stripMargin,

    "q39_multimodal_decode" ->
      """WITH n AS (SELECT doc_id, octet_length(encode(text)) AS nb
        |    FROM documents)
        |SELECT doc_id,
        |  CASE WHEN nb % 3 = 0 THEN 'image'
        |    WHEN nb % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(64 + nb % 192 AS INTEGER) AS width,
        |  CAST(64 + (nb * 7) % 192 AS INTEGER) AS height,
        |  CAST(1 + nb % 30 AS INTEGER) AS n_frames
        |FROM n""".stripMargin,

    // byte-statistics kernel replicated over the (ASCII) payload bytes:
    // histogram in ascending byte order so the entropy sum adds in the
    // same order as the kernel's j=0..255 loop (bit-identical in IEEE:
    // -(a+b+...) == ((0-a)-b)-... under round-to-nearest)
    "q40_multimodal_features" ->
      """WITH c AS (SELECT doc_id, octet_length(encode(text)) AS nb,
        |    list_transform(range(1, length(text) + 1),
        |      ci -> unicode(text[ci:ci])) AS codes
        |  FROM documents),
        |h AS (SELECT doc_id, nb, codes,
        |    list_transform(list_sort(list_distinct(codes)),
        |      v -> len(list_filter(codes, x -> x = v))) AS hist
        |  FROM c)
        |SELECT doc_id, nb::BIGINT AS n_bytes,
        |  round(CASE WHEN nb = 0 THEN 0.0
        |    ELSE list_sum(codes)::DOUBLE / nb END, 6) AS mean_byte,
        |  round(CASE WHEN nb = 0 THEN 0.0
        |    ELSE 0.0 - list_sum(list_transform(hist,
        |      k -> (k::DOUBLE / nb) * (ln(k::DOUBLE / nb) / ln(2.0)))) END,
        |    6) AS byte_entropy
        |FROM h""".stripMargin,

    "q41_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q42_rollup_cascade" ->
      """SELECT 'minute' AS granularity,
        |  CAST(date_trunc('minute', ts) AS TIMESTAMP) AS bucket,
        |  round(sum(value), 6) AS sum_v, count(*) AS n
        |FROM events GROUP BY 2
        |UNION ALL
        |SELECT 'hour', CAST(date_trunc('hour', ts) AS TIMESTAMP),
        |  round(sum(value), 6), count(*)
        |FROM events GROUP BY 2
        |UNION ALL
        |SELECT 'day', CAST(date_trunc('day', ts) AS TIMESTAMP),
        |  round(sum(value), 6), count(*)
        |FROM events GROUP BY 2""".stripMargin,

    "q43_asof_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
        |    FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, epoch_us(ts) AS v_us, max(event_id) AS view_id
        |    FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT c.user_id, c.click_id, v.view_id
        |FROM c ASOF JOIN v
        |  ON c.user_id = v.user_id AND c.c_us >= v.v_us""".stripMargin,

    "q44_range_join" ->
      """WITH c AS (SELECT event_id AS click_id, epoch_us(ts) AS c_us
        |    FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id,
        |    epoch_us(ts) - 300000000 AS lo, epoch_us(ts) AS hi
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id
        |FROM c JOIN p ON c.c_us >= p.lo AND c.c_us <= p.hi""".stripMargin,

    // identical semantics to q14, exercised through the custom plan node
    "q45_match_recognize" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a.a_id, b.b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
        |    AND b.b_us - a.a_us <= 600000000)
        |SELECT user_id, a_id, b_id FROM j WHERE rn = 1""".stripMargin,

    "q46_delay_window" ->
      """SELECT user_id, event_id,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 300000000 PRECEDING)
        |    AS n_delayed_visible
        |FROM events""".stripMargin,

    // full IVF replication: same 16 seed centroids (lowest vec_ids),
    // same nearest-centroid assignment (score desc, cell asc), same
    // 2-cell probe, same in-cell cosine top-3
    "q47_similarity_ivf" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |cents AS (SELECT vec_id AS cell_id, embedding AS cv
        |    FROM embeddings ORDER BY vec_id LIMIT 16),
        |sc AS (SELECT e.vec_id, c.cell_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * c.cv[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) *
        |     sqrt(list_sum(list_transform(range(1, len(c.cv) + 1),
        |      i -> c.cv[i]::DOUBLE * c.cv[i]::DOUBLE)))) AS score
        |  FROM e CROSS JOIN cents c),
        |rk AS (SELECT vec_id, cell_id,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY score DESC, cell_id) AS rk
        |  FROM sc),
        |ccell AS (SELECT vec_id AS neighbor_id, cell_id FROM rk WHERE rk = 1),
        |qcell AS (SELECT vec_id AS query_id, cell_id FROM rk
        |  WHERE rk <= 2 AND vec_id < 50),
        |s AS (SELECT q.query_id, c.neighbor_id,
        |    list_sum(list_transform(range(1, len(eq.embedding) + 1),
        |      i -> eq.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(range(1, len(eq.embedding) + 1),
        |      i -> eq.embedding[i]::DOUBLE * eq.embedding[i]::DOUBLE))) *
        |     sqrt(list_sum(list_transform(range(1, len(ec.embedding) + 1),
        |      i -> ec.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)))) AS cos
        |  FROM qcell q JOIN ccell c ON q.cell_id = c.cell_id
        |    AND q.query_id <> c.neighbor_id
        |    JOIN e eq ON eq.vec_id = q.query_id
        |    JOIN e ec ON ec.vec_id = c.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
        |FROM r WHERE rank <= 3""".stripMargin,

    "q48_event_table_upsert" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
        |  FROM orders)
        |SELECT c_custkey, o_orderkey AS last_order,
        |  round(o_totalprice, 6) AS total_r
        |FROM customer JOIN r ON c_custkey = o_custkey AND rk = 1""".stripMargin,

    "q49_multimodal_framesample" ->
      """WITH n AS (SELECT doc_id, octet_length(encode(text)) AS nb
        |    FROM documents),
        |v AS (SELECT doc_id, (1 + nb % 30)::INT AS n_frames
        |  FROM n WHERE nb % 3 = 2)
        |SELECT doc_id, unnest(range(0, n_frames, 4))::INT AS frame_idx
        |FROM v""".stripMargin,

    // quality gate + language gate + exact dedup, composed exactly as
    // the Spark plan composes them (q21 + q22 + q19 building blocks)
    "q50_training_filter" ->
      """WITH feats AS (SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS n_tokens,
        |    CASE WHEN len(text) = 0 THEN 0.0 ELSE
        |      (len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
        |        / len(text)::DOUBLE END AS punct_ratio
        |  FROM documents),
        |lang AS (SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|with|for)\b')) AS s_en,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit)\b')) AS s_de,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|dans|que)\b')) AS s_fr,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|con|por|para)\b')) AS s_es,
        |  len(regexp_extract_all(lower(text), '\b(il|di|che|non|per|del|sono|una)\b')) AS s_it,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        |  FROM documents),
        |gated AS (SELECT f.doc_id, f.text, f.n_tokens
        |  FROM feats f JOIN lang l ON f.doc_id = l.doc_id
        |  WHERE f.n_tokens >= 10 AND f.punct_ratio < 0.1
        |    AND greatest(s_en, s_de, s_fr, s_es, s_it, s_zh) > 0
        |    AND NOT s_zh >= greatest(s_en, s_de, s_fr, s_es, s_it)
        |    AND NOT s_it >= greatest(s_en, s_de, s_fr, s_es)
        |    AND NOT s_fr >= greatest(s_en, s_de, s_es)
        |    AND NOT s_es >= greatest(s_en, s_de)
        |    AND s_en >= s_de),
        |n AS (SELECT doc_id, n_tokens,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |  FROM gated),
        |r AS (SELECT doc_id, n_tokens,
        |    row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        |  FROM n)
        |SELECT doc_id, n_tokens FROM r WHERE rn = 1""".stripMargin,

    "q51_timelength_window" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
        |    FROM events),
        |w AS (SELECT user_id, event_id, us, value,
        |    list(struct_pack(t := us, k := event_id, v := value)) OVER
        |      (PARTITION BY user_id ORDER BY us
        |       RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS coll
        |  FROM o),
        |f AS (SELECT user_id, event_id,
        |    list_transform(
        |      list_filter(list_sort(coll),
        |        s -> s.t < us OR (s.t = us AND s.k <= event_id)),
        |      s -> s.v) AS vals
        |  FROM w),
        |s AS (SELECT user_id, event_id,
        |    CASE WHEN len(vals) <= 5 THEN vals
        |      ELSE list_slice(vals, len(vals) - 4, len(vals)) END AS wv
        |  FROM f)
        |SELECT user_id, event_id, len(wv) AS n_win,
        |  round(list_min(wv), 6) AS min_v, round(list_max(wv), 6) AS max_v
        |FROM s""".stripMargin,

    "q52_unique_window" ->
      """WITH r AS (SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, event_type, event_id, round(value, 6) AS value_r
        |FROM r WHERE rk = 1""".stripMargin,

    "q53_token_counts" ->
      """SELECT doc_id,
        |  CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |    AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))
        |    AS bpe_tokens
        |FROM documents""".stripMargin,

    // identical to q14/q45's oracle — the SQL surface must agree
    "q55_match_recognize_sql" -> q55Oracle,

    // WITHIN INTERVAL '10' MINUTE through TSSCALE == q55's raw-us form
    "q169_mr_within_interval" -> q55Oracle,

    "q54_multimodal_resize" ->
      """WITH d AS (SELECT doc_id, text,
        |    64 + octet_length(encode(text)) % 192 AS w,
        |    64 + (octet_length(encode(text)) * 7) % 192 AS h
        |  FROM documents),
        |s AS (SELECT doc_id, text, w, h,
        |    least(224.0 / w, 224.0 / h) AS scale
        |  FROM d)
        |SELECT doc_id,
        |  CAST(floor(w * scale) AS INTEGER) AS out_w,
        |  CAST(floor(h * scale) AS INTEGER) AS out_h,
        |  md5(text || ':224x224') AS content_digest
        |FROM s""".stripMargin,

    // greedy non-overlap: each matched purchase p is some click's next
    // purchase; its click is the earliest click whose next purchase is
    // p. Equivalence to SKIP PAST LAST ROW by induction: the earliest
    // click's match consumes every click before its purchase (they all
    // share the same next purchase), and the scan restarts at the first
    // click after it — exactly the rk = 1 row per purchase.
    "q56_mr_skip_past" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'purchase'),
        |np AS (SELECT a.user_id, a.a_id, a.a_us, b.b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))),
        |f AS (SELECT user_id, a_id, b_id,
        |    row_number() OVER (PARTITION BY user_id, b_id
        |      ORDER BY a_us, a_id) AS rk
        |  FROM np WHERE rn = 1)
        |SELECT user_id, a_id, b_id FROM f WHERE rk = 1""".stripMargin,

    // (a+ b){2,2}: per seed click the automaton path is deterministic
    // (disjoint predicates): a collects every click to the 1st
    // purchase, b = that purchase, then clicks to the next purchase
    // AFTER the first post-p1 click, b = that purchase — three chained
    // rn=1 elections + two correlated range counts
    "q182_mr_rx_quant_inner" ->
      """WITH cl AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'click'),
        |pp AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'purchase'),
        |p1 AS (SELECT * FROM (SELECT s.user_id, s.id AS s_id,
        |    s.us AS s_us, p.id AS p1_id, p.us AS p1_us,
        |    row_number() OVER (PARTITION BY s.user_id, s.id
        |      ORDER BY p.us, p.id) AS rn
        |  FROM cl s JOIN pp p ON s.user_id = p.user_id
        |    AND (p.us > s.us OR (p.us = s.us AND p.id > s.id)))
        |  WHERE rn = 1),
        |c2 AS (SELECT * FROM (SELECT p1.*, c.id AS c2_id, c.us AS c2_us,
        |    row_number() OVER (PARTITION BY p1.user_id, p1.s_id
        |      ORDER BY c.us, c.id) AS rn2
        |  FROM p1 JOIN cl c ON p1.user_id = c.user_id
        |    AND (c.us > p1.p1_us OR (c.us = p1.p1_us
        |      AND c.id > p1.p1_id))) WHERE rn2 = 1),
        |p2 AS (SELECT * FROM (SELECT c2.*, p.id AS p2_id, p.us AS p2_us,
        |    row_number() OVER (PARTITION BY c2.user_id, c2.s_id
        |      ORDER BY p.us, p.id) AS rn3
        |  FROM c2 JOIN pp p ON c2.user_id = p.user_id
        |    AND (p.us > c2.c2_us OR (p.us = c2.c2_us
        |      AND p.id > c2.c2_id))) WHERE rn3 = 1)
        |SELECT m.user_id, m.s_id AS a_first,
        |  (SELECT count(*) FROM cl c WHERE c.user_id = m.user_id
        |     AND (c.us > m.s_us OR (c.us = m.s_us AND c.id >= m.s_id))
        |     AND (c.us < m.p1_us OR (c.us = m.p1_us AND c.id < m.p1_id)))
        |  + (SELECT count(*) FROM cl c WHERE c.user_id = m.user_id
        |     AND (c.us > m.p1_us OR (c.us = m.p1_us AND c.id > m.p1_id))
        |     AND (c.us < m.p2_us OR (c.us = m.p2_us AND c.id < m.p2_id)))
        |  AS n_a,
        |  m.p2_id AS b_last
        |FROM p2 m""".stripMargin,

    // ((a b) c){2,2} d: with {2,2} no early boundary can advance, so
    // the whole chain is six deterministic first-later elections —
    // the q180 oracle pattern, two more links
    "q183_mr_rx_depth2" ->
      """WITH cl AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'click'),
        |vw AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'view'),
        |pp AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'purchase'),
        |er AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'error'),
        |l1 AS (SELECT * FROM (SELECT s.user_id, s.id AS s_id,
        |    s.us AS s_us, v.id AS v1, v.us AS v1_us,
        |    row_number() OVER (PARTITION BY s.user_id, s.id
        |      ORDER BY v.us, v.id) AS rn
        |  FROM cl s JOIN vw v ON s.user_id = v.user_id
        |    AND (v.us > s.us OR (v.us = s.us AND v.id > s.id)))
        |  WHERE rn = 1),
        |l2 AS (SELECT * FROM (SELECT l1.*, p.id AS c1, p.us AS c1_us,
        |    row_number() OVER (PARTITION BY l1.user_id, l1.s_id
        |      ORDER BY p.us, p.id) AS rn2
        |  FROM l1 JOIN pp p ON l1.user_id = p.user_id
        |    AND (p.us > l1.v1_us OR (p.us = l1.v1_us AND p.id > l1.v1)))
        |  WHERE rn2 = 1),
        |l3 AS (SELECT * FROM (SELECT l2.*, c.id AS a2, c.us AS a2_us,
        |    row_number() OVER (PARTITION BY l2.user_id, l2.s_id
        |      ORDER BY c.us, c.id) AS rn3
        |  FROM l2 JOIN cl c ON l2.user_id = c.user_id
        |    AND (c.us > l2.c1_us OR (c.us = l2.c1_us AND c.id > l2.c1)))
        |  WHERE rn3 = 1),
        |l4 AS (SELECT * FROM (SELECT l3.*, v.id AS v2, v.us AS v2_us,
        |    row_number() OVER (PARTITION BY l3.user_id, l3.s_id
        |      ORDER BY v.us, v.id) AS rn4
        |  FROM l3 JOIN vw v ON l3.user_id = v.user_id
        |    AND (v.us > l3.a2_us OR (v.us = l3.a2_us AND v.id > l3.a2)))
        |  WHERE rn4 = 1),
        |l5 AS (SELECT * FROM (SELECT l4.*, p.id AS c2, p.us AS c2_us,
        |    row_number() OVER (PARTITION BY l4.user_id, l4.s_id
        |      ORDER BY p.us, p.id) AS rn5
        |  FROM l4 JOIN pp p ON l4.user_id = p.user_id
        |    AND (p.us > l4.v2_us OR (p.us = l4.v2_us AND p.id > l4.v2)))
        |  WHERE rn5 = 1),
        |l6 AS (SELECT * FROM (SELECT l5.*, e.id AS d_id,
        |    row_number() OVER (PARTITION BY l5.user_id, l5.s_id
        |      ORDER BY e.us, e.id) AS rn6
        |  FROM l5 JOIN er e ON l5.user_id = e.user_id
        |    AND (e.us > l5.c2_us OR (e.us = l5.c2_us AND e.id > l5.c2)))
        |  WHERE rn6 = 1)
        |SELECT user_id, s_id AS a_first, a2 AS a_last, c2 AS c_last,
        |  d_id
        |FROM l6""".stripMargin,

    // reluctant a+? under SKIP PAST LAST ROW: the match chain equals
    // q56's greedy non-overlapping pairs; the lazy form binds only
    // the segment's first click, so ALL ROWS = exactly two rows per
    // match (the a row and the b row)
    "q184_mr_reluctant" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'purchase'),
        |np AS (SELECT a.user_id, a.a_id, a.a_us, b.b_id, b.b_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))),
        |f AS (SELECT user_id, a_id, a_us, b_id, b_us,
        |    row_number() OVER (PARTITION BY user_id, b_id
        |      ORDER BY a_us, a_id) AS rk
        |  FROM np WHERE rn = 1)
        |SELECT user_id, a_id AS event_id, a_us AS ts_us,
        |  'click' AS event_type, 'a' AS classifier,
        |  a_us AS match_start, b_us AS match_end, a_id AS a_first
        |FROM f WHERE rk = 1
        |UNION ALL
        |SELECT user_id, b_id AS event_id, b_us AS ts_us,
        |  'purchase' AS event_type, 'b' AS classifier,
        |  a_us AS match_start, b_us AS match_end, a_id AS a_first
        |FROM f WHERE rk = 1""".stripMargin,

    // the q56 greedy non-overlapping chain, numbered per user by
    // match start (skip-past matches strictly advance in time, so
    // (a_us, a_id) order IS the engine's (match_start, match_end))
    "q181_mr_match_number" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'purchase'),
        |np AS (SELECT a.user_id, a.a_id, a.a_us, b.b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))),
        |f AS (SELECT user_id, a_id, b_id, a_us,
        |    row_number() OVER (PARTITION BY user_id, b_id
        |      ORDER BY a_us, a_id) AS rk
        |  FROM np WHERE rn = 1)
        |SELECT user_id, a_id, b_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY a_us, a_id)
        |    AS mn
        |FROM f WHERE rk = 1""".stripMargin,

    // four chained rn=1 elections (click, view-or-error, click,
    // view-or-error) then the first later purchase; the per-side
    // measures derive from the two routed events' types
    "q180_mr_nested_group" ->
      """WITH cl AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'click'),
        |bc AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us,
        |    event_type AS t FROM events
        |  WHERE event_type IN ('view', 'error')),
        |pp AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |s1 AS (SELECT * FROM (SELECT a.user_id, a.id AS a1,
        |    a.us AS a1_us, x.id AS x1, x.us AS x1_us, x.t AS x1_t,
        |    row_number() OVER (PARTITION BY a.user_id, a.id
        |      ORDER BY x.us, x.id) AS rn
        |  FROM cl a JOIN bc x ON a.user_id = x.user_id
        |    AND (x.us > a.us OR (x.us = a.us AND x.id > a.id)))
        |  WHERE rn = 1),
        |s2 AS (SELECT * FROM (SELECT s1.user_id, s1.a1, s1.x1,
        |    s1.x1_t, y.id AS a2, y.us AS a2_us,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.a1
        |      ORDER BY y.us, y.id) AS rn2
        |  FROM s1 JOIN cl y ON s1.user_id = y.user_id
        |    AND (y.us > s1.x1_us OR (y.us = s1.x1_us
        |      AND y.id > s1.x1))) WHERE rn2 = 1),
        |s3 AS (SELECT * FROM (SELECT s2.user_id, s2.a1, s2.x1,
        |    s2.x1_t, s2.a2, z.id AS x2, z.us AS x2_us, z.t AS x2_t,
        |    row_number() OVER (PARTITION BY s2.user_id, s2.a1
        |      ORDER BY z.us, z.id) AS rn3
        |  FROM s2 JOIN bc z ON s2.user_id = z.user_id
        |    AND (z.us > s2.a2_us OR (z.us = s2.a2_us
        |      AND z.id > s2.a2))) WHERE rn3 = 1),
        |m AS (SELECT * FROM (SELECT s3.user_id, s3.a1, s3.x1,
        |    s3.x1_t, s3.a2, s3.x2, s3.x2_t, c.id AS d_id,
        |    row_number() OVER (PARTITION BY s3.user_id, s3.a1
        |      ORDER BY c.us, c.id) AS rn4
        |  FROM s3 JOIN pp c ON s3.user_id = c.user_id
        |    AND (c.us > s3.x2_us OR (c.us = s3.x2_us
        |      AND c.id > s3.x2))) WHERE rn4 = 1)
        |SELECT user_id, a1, a2,
        |  (CASE WHEN x1_t = 'view' THEN 1 ELSE 0 END +
        |   CASE WHEN x2_t = 'view' THEN 1 ELSE 0 END)::INT AS n_b,
        |  CASE WHEN x1_t = 'view' THEN x1
        |       WHEN x2_t = 'view' THEN x2 END AS b1,
        |  CASE WHEN x1_t = 'error' THEN x1
        |       WHEN x2_t = 'error' THEN x2 END AS c1,
        |  d_id
        |FROM m""".stripMargin,

    // seed + immediately-next click-or-view + first later purchase;
    // the side counts and first-per-side ids derive from the pair's
    // types (a NULL side when both events share a type)
    "q178_mr_alt_quantified" ->
      """WITH ab AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us,
        |    event_type AS t FROM events
        |  WHERE event_type IN ('click', 'view')),
        |pp AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |s1 AS (SELECT * FROM (SELECT s.user_id, s.id AS s_id,
        |    s.us AS s_us, s.t AS s_t, x.id AS x_id, x.us AS x_us,
        |    x.t AS x_t,
        |    row_number() OVER (PARTITION BY s.user_id, s.id
        |      ORDER BY x.us, x.id) AS rn
        |  FROM ab s JOIN ab x ON s.user_id = x.user_id
        |    AND (x.us > s.us OR (x.us = s.us AND x.id > s.id)))
        |  WHERE rn = 1),
        |m AS (SELECT * FROM (SELECT s1.user_id, s1.s_id, s1.s_t,
        |    s1.x_id, s1.x_t, c.id AS c_id,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.s_id
        |      ORDER BY c.us, c.id) AS rn2
        |  FROM s1 JOIN pp c ON s1.user_id = c.user_id
        |    AND (c.us > s1.x_us OR (c.us = s1.x_us AND c.id > s1.x_id)))
        |  WHERE rn2 = 1)
        |SELECT user_id,
        |  (CASE WHEN s_t = 'click' THEN 1 ELSE 0 END +
        |   CASE WHEN x_t = 'click' THEN 1 ELSE 0 END)::INT AS n_a,
        |  (CASE WHEN s_t = 'view' THEN 1 ELSE 0 END +
        |   CASE WHEN x_t = 'view' THEN 1 ELSE 0 END)::INT AS n_b,
        |  CASE WHEN s_t = 'click' THEN s_id
        |       WHEN x_t = 'click' THEN x_id END AS a1,
        |  CASE WHEN s_t = 'view' THEN s_id
        |       WHEN x_t = 'view' THEN x_id END AS b1,
        |  c_id
        |FROM m""".stripMargin,

    // iteration 1 = seed + first later OPPOSITE-type event; iteration
    // 2 = next click-or-view + first later event of ITS opposite
    // type; then the first later purchase. Slot order: iter-1's
    // click/view first, iter-2's second.
    "q179_mr_permute_quantified" ->
      """WITH ab AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us,
        |    event_type AS t FROM events
        |  WHERE event_type IN ('click', 'view')),
        |pp AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |s1 AS (SELECT * FROM (SELECT s.user_id, s.id AS s_id,
        |    s.us AS s_us, s.t AS s_t, x.id AS x_id, x.us AS x_us,
        |    x.t AS x_t,
        |    row_number() OVER (PARTITION BY s.user_id, s.id
        |      ORDER BY x.us, x.id) AS rn
        |  FROM ab s JOIN ab x ON s.user_id = x.user_id AND x.t <> s.t
        |    AND (x.us > s.us OR (x.us = s.us AND x.id > s.id)))
        |  WHERE rn = 1),
        |s2 AS (SELECT * FROM (SELECT s1.user_id, s1.s_id, s1.s_t,
        |    s1.x_id, s1.x_us, y.id AS y_id, y.us AS y_us, y.t AS y_t,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.s_id
        |      ORDER BY y.us, y.id) AS rn2
        |  FROM s1 JOIN ab y ON s1.user_id = y.user_id
        |    AND (y.us > s1.x_us OR (y.us = s1.x_us AND y.id > s1.x_id)))
        |  WHERE rn2 = 1),
        |s3 AS (SELECT * FROM (SELECT s2.user_id, s2.s_id, s2.s_t,
        |    s2.x_id, s2.y_id, s2.y_t, z.id AS z_id, z.us AS z_us,
        |    row_number() OVER (PARTITION BY s2.user_id, s2.s_id
        |      ORDER BY z.us, z.id) AS rn3
        |  FROM s2 JOIN ab z ON s2.user_id = z.user_id AND z.t <> s2.y_t
        |    AND (z.us > s2.y_us OR (z.us = s2.y_us AND z.id > s2.y_id)))
        |  WHERE rn3 = 1),
        |m AS (SELECT * FROM (SELECT s3.user_id, s3.s_id, s3.s_t,
        |    s3.x_id, s3.y_id, s3.y_t, s3.z_id, c.id AS c_id,
        |    row_number() OVER (PARTITION BY s3.user_id, s3.s_id
        |      ORDER BY c.us, c.id) AS rn4
        |  FROM s3 JOIN pp c ON s3.user_id = c.user_id
        |    AND (c.us > s3.z_us OR (c.us = s3.z_us AND c.id > s3.z_id)))
        |  WHERE rn4 = 1)
        |SELECT user_id,
        |  CASE WHEN s_t = 'click' THEN s_id ELSE x_id END AS a1,
        |  CASE WHEN y_t = 'click' THEN y_id ELSE z_id END AS a2,
        |  CASE WHEN s_t = 'view' THEN s_id ELSE x_id END AS b1,
        |  CASE WHEN y_t = 'view' THEN y_id ELSE z_id END AS b2,
        |  c_id
        |FROM m""".stripMargin,

    // q171's two chained rn=1 view elections per click, with
    // LEAST/GREATEST and the positional values over the pair
    "q177_mr_min_max" ->
      """WITH c AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'click'),
        |vw AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us,
        |    value FROM events WHERE event_type = 'view'),
        |s1 AS (SELECT * FROM (SELECT c.user_id, c.id AS a_id,
        |    c.us AS a_us, v.id AS v1, v.us AS v1_us, v.value AS val1,
        |    row_number() OVER (PARTITION BY c.user_id, c.id
        |      ORDER BY v.us, v.id) AS rn
        |  FROM c JOIN vw v ON c.user_id = v.user_id
        |    AND (v.us > c.us OR (v.us = c.us AND v.id > c.id)))
        |  WHERE rn = 1),
        |m AS (SELECT * FROM (SELECT s1.user_id, s1.a_id, s1.val1,
        |    v.value AS val2,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.a_id
        |      ORDER BY v.us, v.id) AS rn
        |  FROM s1 JOIN vw v ON s1.user_id = v.user_id
        |    AND (v.us > s1.v1_us OR (v.us = s1.v1_us AND v.id > s1.v1)))
        |  WHERE rn = 1)
        |SELECT user_id, a_id, least(val1, val2) AS min_vv,
        |    greatest(val1, val2) AS max_vv, val1 AS first_vv,
        |    val2 AS last_vv FROM m""".stripMargin,

    // the overlap match relation (per-seed rn=1 elections), then the
    // skip-to chain as a recursive CTE: per user, emit the earliest
    // match, resume at its b row (inclusive), take the next earliest
    // match starting at-or-after it, repeat — the greedy chain the
    // one-pass NFA computes
    "q176_mr_skip_to_var" ->
      """WITH RECURSIVE o AS (SELECT user_id, event_id,
        |    epoch_us(ts) AS us, event_type FROM events),
        |a AS (SELECT user_id, event_id AS a_id, us AS a_us FROM o
        |  WHERE event_type = 'click'),
        |s1 AS (SELECT * FROM (SELECT a.user_id, a.a_id, a.a_us,
        |    b.event_id AS b_id, b.us AS b_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.us, b.event_id) AS rn
        |  FROM a JOIN o b ON a.user_id = b.user_id
        |    AND b.event_type = 'view'
        |    AND (b.us > a.a_us OR (b.us = a.a_us
        |      AND b.event_id > a.a_id))) WHERE rn = 1),
        |m AS (SELECT * FROM (SELECT s1.user_id, s1.a_id, s1.a_us,
        |    s1.b_id, s1.b_us, c.event_id AS c_id,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.a_id
        |      ORDER BY c.us, c.event_id) AS rn
        |  FROM s1 JOIN o c ON s1.user_id = c.user_id
        |    AND c.event_type = 'purchase'
        |    AND (c.us > s1.b_us OR (c.us = s1.b_us
        |      AND c.event_id > s1.b_id))) WHERE rn = 1),
        |chain AS (
        |  SELECT user_id, a_id, a_us, b_id, b_us, c_id FROM (
        |    SELECT m.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY a_us, a_id) AS rn2 FROM m) WHERE rn2 = 1
        |  UNION ALL
        |  SELECT n.user_id, n.a_id, n.a_us, n.b_id, n.b_us, n.c_id
        |  FROM chain ch JOIN LATERAL (
        |    SELECT * FROM m WHERE m.user_id = ch.user_id
        |      AND (m.a_us > ch.b_us OR (m.a_us = ch.b_us
        |        AND m.a_id >= ch.b_id))
        |    ORDER BY m.a_us, m.a_id LIMIT 1) n ON true
        |)
        |SELECT user_id, a_id, b_id, c_id FROM chain""".stripMargin,

    // seed-chained rn=1 elections against the SEED's price (not a lag
    // column — the cross-variable comparison replays as correlated
    // first-later-row joins): first later row below the seed, then
    // first later row above the seed, both inside the seed's window
    "q175_mr_crossvar_define" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
        |  FROM events),
        |s1 AS (SELECT * FROM (SELECT s.user_id, s.event_id AS s_id,
        |    s.us AS s_us, s.value AS s_val, d.event_id AS d_id,
        |    d.us AS d_us,
        |    row_number() OVER (PARTITION BY s.user_id, s.event_id
        |      ORDER BY d.us, d.event_id) AS rn
        |  FROM o s JOIN o d ON s.user_id = d.user_id
        |    AND d.value < s.value
        |    AND (d.us > s.us OR (d.us = s.us AND d.event_id > s.event_id))
        |    AND d.us - s.us <= 7200000000) WHERE rn = 1),
        |s2 AS (SELECT * FROM (SELECT s1.user_id, s1.s_id, s1.d_id,
        |    u.event_id AS u_id,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.s_id
        |      ORDER BY u.us, u.event_id) AS rn
        |  FROM s1 JOIN o u ON s1.user_id = u.user_id
        |    AND u.value > s1.s_val
        |    AND (u.us > s1.d_us OR (u.us = s1.d_us
        |      AND u.event_id > s1.d_id))
        |    AND u.us - s1.s_us <= 7200000000) WHERE rn = 1)
        |SELECT user_id, s_id, d_id, u_id FROM s2""".stripMargin,

    // the first-two-clicks chain, then the first later view, then the
    // first later purchase priced above the SECOND click (the merged
    // [a1, a2, b] order's element 1); no WITHIN — 2 h chains of this
    // depth are vacuously rare at sf0.01
    "q210_mr_subset_offset" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    event_type FROM events),
        |p1 AS (SELECT * FROM (SELECT a1.user_id, a1.event_id AS a1_id,
        |    a1.us AS a1_us, a2.event_id AS a2_id, a2.us AS a2_us,
        |    a2.value AS a2_val,
        |    row_number() OVER (PARTITION BY a1.user_id, a1.event_id
        |      ORDER BY a2.us, a2.event_id) AS rn
        |  FROM o a1 JOIN o a2 ON a1.user_id = a2.user_id
        |    AND a1.event_type = 'click' AND a2.event_type = 'click'
        |    AND (a2.us > a1.us OR (a2.us = a1.us
        |      AND a2.event_id > a1.event_id))) WHERE rn = 1),
        |p2 AS (SELECT * FROM (SELECT p1.*, b.event_id AS b_id,
        |    b.us AS b_us,
        |    row_number() OVER (PARTITION BY p1.user_id, p1.a1_id
        |      ORDER BY b.us, b.event_id) AS rn2
        |  FROM p1 JOIN o b ON p1.user_id = b.user_id
        |    AND b.event_type = 'view'
        |    AND (b.us > p1.a2_us OR (b.us = p1.a2_us
        |      AND b.event_id > p1.a2_id))) WHERE rn2 = 1),
        |p3 AS (SELECT * FROM (SELECT p2.*, c.event_id AS c_id,
        |    row_number() OVER (PARTITION BY p2.user_id, p2.a1_id
        |      ORDER BY c.us, c.event_id) AS rn3
        |  FROM p2 JOIN o c ON p2.user_id = c.user_id
        |    AND c.event_type = 'purchase' AND c.value > p2.a2_val
        |    AND (c.us > p2.b_us OR (c.us = p2.b_us
        |      AND c.event_id > p2.b_id))) WHERE rn3 = 1)
        |SELECT user_id, a1_id, a2_id, b_id, c_id FROM p3""".stripMargin,

    // identical to q185 (own-variable qualified navigation degenerates
    // to the plain form)
    "q209_mr_nav_var_qualified" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pv
        |  FROM events),
        |s1 AS (SELECT * FROM (SELECT s.user_id, s.event_id AS s_id,
        |    s.us AS s_us, s.value AS s_val, d.event_id AS d_id,
        |    d.us AS d_us,
        |    row_number() OVER (PARTITION BY s.user_id, s.event_id
        |      ORDER BY d.us, d.event_id) AS rn
        |  FROM o s JOIN o d ON s.user_id = d.user_id
        |    AND d.value < d.pv
        |    AND (d.us > s.us OR (d.us = s.us AND d.event_id > s.event_id))
        |    AND d.us - s.us <= 7200000000) WHERE rn = 1),
        |s2 AS (SELECT * FROM (SELECT s1.user_id, s1.s_id, s1.d_id,
        |    u.event_id AS u_id,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.s_id
        |      ORDER BY u.us, u.event_id) AS rn
        |  FROM s1 JOIN o u ON s1.user_id = u.user_id
        |    AND u.value > u.pv AND u.value > s1.s_val
        |    AND (u.us > s1.d_us OR (u.us = s1.d_us
        |      AND u.event_id > s1.d_id))
        |    AND u.us - s1.s_us <= 7200000000) WHERE rn = 1)
        |SELECT user_id, s_id, d_id, u_id FROM s2""".stripMargin,

    // the q210 chain with the c-row-independent sum-of-squares gate
    // factored out of the first-later-purchase election; the FP
    // addition order mirrors the engine's per-member expansion
    // ((a1² + a2²) + b²)
    "q211_mr_subset_expr_agg" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    event_type FROM events),
        |p1 AS (SELECT * FROM (SELECT a1.user_id, a1.event_id AS a1_id,
        |    a1.us AS a1_us, a1.value AS a1v, a2.event_id AS a2_id,
        |    a2.us AS a2_us, a2.value AS a2v,
        |    row_number() OVER (PARTITION BY a1.user_id, a1.event_id
        |      ORDER BY a2.us, a2.event_id) AS rn
        |  FROM o a1 JOIN o a2 ON a1.user_id = a2.user_id
        |    AND a1.event_type = 'click' AND a2.event_type = 'click'
        |    AND (a2.us > a1.us OR (a2.us = a1.us
        |      AND a2.event_id > a1.event_id))) WHERE rn = 1),
        |p2 AS (SELECT * FROM (SELECT p1.*, b.event_id AS b_id,
        |    b.us AS b_us, b.value AS bv,
        |    row_number() OVER (PARTITION BY p1.user_id, p1.a1_id
        |      ORDER BY b.us, b.event_id) AS rn2
        |  FROM p1 JOIN o b ON p1.user_id = b.user_id
        |    AND b.event_type = 'view'
        |    AND (b.us > p1.a2_us OR (b.us = p1.a2_us
        |      AND b.event_id > p1.a2_id))) WHERE rn2 = 1),
        |p3 AS (SELECT * FROM (SELECT p2.*, c.event_id AS c_id,
        |    row_number() OVER (PARTITION BY p2.user_id, p2.a1_id
        |      ORDER BY c.us, c.event_id) AS rn3
        |  FROM p2 JOIN o c ON p2.user_id = c.user_id
        |    AND c.event_type = 'purchase'
        |    AND (c.us > p2.b_us OR (c.us = p2.b_us
        |      AND c.event_id > p2.b_id))) WHERE rn3 = 1)
        |SELECT user_id, a1_id, a2_id, b_id, c_id FROM p3
        |WHERE (a1v*a1v + a2v*a2v) + bv*bv >= 5000""".stripMargin,

    // every row seeds (a AS true): the second a binds the immediate
    // next row; up = the first later row whose value exceeds the
    // lag at a's FIRST binding (NULL lag on a user's first row never
    // compares true, the engine's NULL-lag semantics)
    "q212_mr_nested_nav" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pv
        |  FROM events),
        |a2 AS (SELECT * FROM (SELECT s.user_id, s.event_id AS a1_id,
        |    s.us AS a1_us, s.pv AS apv, n.event_id AS a2_id,
        |    n.us AS a2_us,
        |    row_number() OVER (PARTITION BY s.user_id, s.event_id
        |      ORDER BY n.us, n.event_id) AS rn
        |  FROM o s JOIN o n ON s.user_id = n.user_id
        |    AND (n.us > s.us OR (n.us = s.us AND n.event_id > s.event_id))
        |    AND n.us - s.us <= 7200000000) WHERE rn = 1),
        |u AS (SELECT * FROM (SELECT a2.user_id, a2.a1_id, a2.a2_id,
        |    x.event_id AS u_id,
        |    row_number() OVER (PARTITION BY a2.user_id, a2.a1_id
        |      ORDER BY x.us, x.event_id) AS rn
        |  FROM a2 JOIN o x ON a2.user_id = x.user_id
        |    AND x.value > a2.apv
        |    AND (x.us > a2.a2_us OR (x.us = a2.a2_us
        |      AND x.event_id > a2.a2_id))
        |    AND x.us - a2.a1_us <= 7200000000) WHERE rn = 1)
        |SELECT user_id, a1_id, a2_id, u_id FROM u""".stripMargin,

    // click then the first later view whose value exceeds TWICE the
    // lag at the click's row — PREV(a.value * 2) is the derived
    // doubled column lagged off a's binding
    "q213_mr_navx_var" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    event_type,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pv
        |  FROM events),
        |sel AS (SELECT * FROM (SELECT s.user_id, s.event_id AS a_id,
        |    b.event_id AS b_id,
        |    row_number() OVER (PARTITION BY s.user_id, s.event_id
        |      ORDER BY b.us, b.event_id) AS rn
        |  FROM o s JOIN o b ON s.user_id = b.user_id
        |    AND s.event_type = 'click' AND b.event_type = 'view'
        |    AND b.value > 2 * s.pv
        |    AND (b.us > s.us OR (b.us = s.us AND b.event_id > s.event_id))
        |    AND b.us - s.us <= 7200000000) WHERE rn = 1)
        |SELECT user_id, a_id, b_id FROM sel""".stripMargin,

    // click, first later view, first later purchase priced above the
    // lag AT THE VIEW's row (the union's merged-last bound row); no
    // WITHIN — depth-3 2 h chains are vacuously rare at sf0.01
    "q214_mr_subset_nav" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    event_type,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pv
        |  FROM events),
        |p1 AS (SELECT * FROM (SELECT a.user_id, a.event_id AS a_id,
        |    b.event_id AS b_id, b.us AS b_us, b.pv AS b_pv,
        |    row_number() OVER (PARTITION BY a.user_id, a.event_id
        |      ORDER BY b.us, b.event_id) AS rn
        |  FROM o a JOIN o b ON a.user_id = b.user_id
        |    AND a.event_type = 'click' AND b.event_type = 'view'
        |    AND (b.us > a.us OR (b.us = a.us
        |      AND b.event_id > a.event_id))) WHERE rn = 1),
        |p2 AS (SELECT * FROM (SELECT p1.user_id, p1.a_id, p1.b_id,
        |    c.event_id AS c_id,
        |    row_number() OVER (PARTITION BY p1.user_id, p1.a_id
        |      ORDER BY c.us, c.event_id) AS rn2
        |  FROM p1 JOIN o c ON p1.user_id = c.user_id
        |    AND c.event_type = 'purchase' AND c.value > p1.b_pv
        |    AND (c.us > p1.b_us OR (c.us = p1.b_us
        |      AND c.event_id > p1.b_id))) WHERE rn2 = 1)
        |SELECT user_id, a_id, b_id, c_id FROM p2""".stripMargin,

    // the q212 chain with the anchor doubled: up = the first later
    // row whose value exceeds TWICE the lag at a's FIRST binding
    "q215_mr_nested_navx" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pv
        |  FROM events),
        |a2 AS (SELECT * FROM (SELECT s.user_id, s.event_id AS a1_id,
        |    s.us AS a1_us, s.pv AS apv, n.event_id AS a2_id,
        |    n.us AS a2_us,
        |    row_number() OVER (PARTITION BY s.user_id, s.event_id
        |      ORDER BY n.us, n.event_id) AS rn
        |  FROM o s JOIN o n ON s.user_id = n.user_id
        |    AND (n.us > s.us OR (n.us = s.us AND n.event_id > s.event_id))
        |    AND n.us - s.us <= 7200000000) WHERE rn = 1),
        |u AS (SELECT * FROM (SELECT a2.user_id, a2.a1_id, a2.a2_id,
        |    x.event_id AS u_id,
        |    row_number() OVER (PARTITION BY a2.user_id, a2.a1_id
        |      ORDER BY x.us, x.event_id) AS rn
        |  FROM a2 JOIN o x ON a2.user_id = x.user_id
        |    AND x.value > 2 * a2.apv
        |    AND (x.us > a2.a2_us OR (x.us = a2.a2_us
        |      AND x.event_id > a2.a2_id))
        |    AND x.us - a2.a1_us <= 7200000000) WHERE rn = 1)
        |SELECT user_id, a1_id, a2_id, u_id FROM u""".stripMargin,

    // the two-click two-view chain, then the first later purchase
    // priced above BOTH the first view (merged element 2) and the
    // second click (merged second-from-last); no WITHIN — depth-5 2 h
    // chains are vacuously rare at sf0.01
    "q216_mr_subset_offset_deep" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    event_type FROM events),
        |p1 AS (SELECT * FROM (SELECT a1.user_id, a1.event_id AS a1_id,
        |    a2.event_id AS a2_id, a2.us AS a2_us, a2.value AS a2v,
        |    row_number() OVER (PARTITION BY a1.user_id, a1.event_id
        |      ORDER BY a2.us, a2.event_id) AS rn
        |  FROM o a1 JOIN o a2 ON a1.user_id = a2.user_id
        |    AND a1.event_type = 'click' AND a2.event_type = 'click'
        |    AND (a2.us > a1.us OR (a2.us = a1.us
        |      AND a2.event_id > a1.event_id))) WHERE rn = 1),
        |p2 AS (SELECT * FROM (SELECT p1.*, b1.event_id AS b1_id,
        |    b1.us AS b1_us, b1.value AS b1v,
        |    row_number() OVER (PARTITION BY p1.user_id, p1.a1_id
        |      ORDER BY b1.us, b1.event_id) AS rn2
        |  FROM p1 JOIN o b1 ON p1.user_id = b1.user_id
        |    AND b1.event_type = 'view'
        |    AND (b1.us > p1.a2_us OR (b1.us = p1.a2_us
        |      AND b1.event_id > p1.a2_id))) WHERE rn2 = 1),
        |p3 AS (SELECT * FROM (SELECT p2.*, b2.event_id AS b2_id,
        |    b2.us AS b2_us,
        |    row_number() OVER (PARTITION BY p2.user_id, p2.a1_id
        |      ORDER BY b2.us, b2.event_id) AS rn3
        |  FROM p2 JOIN o b2 ON p2.user_id = b2.user_id
        |    AND b2.event_type = 'view'
        |    AND (b2.us > p2.b1_us OR (b2.us = p2.b1_us
        |      AND b2.event_id > p2.b1_id))) WHERE rn3 = 1),
        |p4 AS (SELECT * FROM (SELECT p3.user_id, p3.a1_id, p3.a2_id,
        |    p3.b1_id, p3.b2_id, c.event_id AS c_id,
        |    row_number() OVER (PARTITION BY p3.user_id, p3.a1_id
        |      ORDER BY c.us, c.event_id) AS rn4
        |  FROM p3 JOIN o c ON p3.user_id = c.user_id
        |    AND c.event_type = 'purchase'
        |    AND c.value > p3.b1v AND c.value > p3.a2v
        |    AND (c.us > p3.b2_us OR (c.us = p3.b2_us
        |      AND c.event_id > p3.b2_id))) WHERE rn4 = 1)
        |SELECT user_id, a1_id, a2_id, b1_id, b2_id, c_id
        |FROM p4""".stripMargin,

    // the q175 chain with the PREV conditions added: lag(value) per
    // user in (ts, event_id) order is the navigation input; the first
    // event of a user has NULL pv so its comparison is false, exactly
    // the engine's NULL-lag semantics
    "q185_mr_cv_lag" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pv
        |  FROM events),
        |s1 AS (SELECT * FROM (SELECT s.user_id, s.event_id AS s_id,
        |    s.us AS s_us, s.value AS s_val, d.event_id AS d_id,
        |    d.us AS d_us,
        |    row_number() OVER (PARTITION BY s.user_id, s.event_id
        |      ORDER BY d.us, d.event_id) AS rn
        |  FROM o s JOIN o d ON s.user_id = d.user_id
        |    AND d.value < d.pv
        |    AND (d.us > s.us OR (d.us = s.us AND d.event_id > s.event_id))
        |    AND d.us - s.us <= 7200000000) WHERE rn = 1),
        |s2 AS (SELECT * FROM (SELECT s1.user_id, s1.s_id, s1.d_id,
        |    u.event_id AS u_id,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.s_id
        |      ORDER BY u.us, u.event_id) AS rn
        |  FROM s1 JOIN o u ON s1.user_id = u.user_id
        |    AND u.value > u.pv AND u.value > s1.s_val
        |    AND (u.us > s1.d_us OR (u.us = s1.d_us
        |      AND u.event_id > s1.d_id))
        |    AND u.us - s1.s_us <= 7200000000) WHERE rn = 1)
        |SELECT user_id, s_id, d_id, u_id FROM s2""".stripMargin,

    // union of the two disjoint first-successor chains; the branch
    // not taken contributes NULL measures
    "q186_mr_alt_seq" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us
        |    FROM events WHERE event_type = 'purchase'),
        |d AS (SELECT user_id, event_id AS d_id, epoch_us(ts) AS d_us
        |    FROM events WHERE event_type = 'error'),
        |j1 AS (SELECT * FROM (SELECT a.user_id, a.a_id, b.b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
        |    AND b.b_us - a.a_us <= 600000000) WHERE rn = 1),
        |j2 AS (SELECT * FROM (SELECT c.user_id, c.c_id, d.d_id,
        |    row_number() OVER (PARTITION BY c.user_id, c.c_id
        |      ORDER BY d.d_us, d.d_id) AS rn
        |  FROM c JOIN d ON c.user_id = d.user_id
        |    AND (d.d_us > c.c_us OR (d.d_us = c.c_us AND d.d_id > c.c_id))
        |    AND d.d_us - c.c_us <= 600000000) WHERE rn = 1)
        |SELECT user_id, a_id, b_id, NULL::BIGINT AS c_id,
        |  NULL::BIGINT AS d_id FROM j1
        |UNION ALL
        |SELECT user_id, NULL::BIGINT, NULL::BIGINT, c_id, d_id
        |FROM j2""".stripMargin,

    // click -> first purchase -> first later click, WITHIN from the
    // FIRST click; both clicks land in slot a
    "q187_mr_dup_var" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    event_type FROM events),
        |j1 AS (SELECT * FROM (SELECT a.user_id, a.event_id AS a1,
        |    a.us AS a1_us, b.event_id AS bid, b.us AS b_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.event_id
        |      ORDER BY b.us, b.event_id) AS rn
        |  FROM o a JOIN o b ON a.user_id = b.user_id
        |    AND a.event_type = 'click' AND b.event_type = 'purchase'
        |    AND (b.us > a.us OR (b.us = a.us AND b.event_id > a.event_id))
        |    AND b.us - a.us <= 7200000000) WHERE rn = 1),
        |j2 AS (SELECT * FROM (SELECT j1.user_id, j1.a1, j1.bid,
        |    c.event_id AS a2,
        |    row_number() OVER (PARTITION BY j1.user_id, j1.a1
        |      ORDER BY c.us, c.event_id) AS rn
        |  FROM j1 JOIN o c ON j1.user_id = c.user_id
        |    AND c.event_type = 'click'
        |    AND (c.us > j1.b_us OR (c.us = j1.b_us
        |      AND c.event_id > j1.bid))
        |    AND c.us - j1.a1_us <= 7200000000) WHERE rn = 1)
        |SELECT user_id, a1 AS a_first, a2 AS a_last, bid AS b_id
        |FROM j2""".stripMargin,

    // every event seeds w{3,3} (pred true -> three consecutive rows);
    // x = first later event beating the trio's mean, all inside the
    // 24 h window
    "q188_mr_define_agg" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |w AS (SELECT a.user_id, a.event_id AS w1, a.us AS w1_us,
        |    c.event_id AS w3, c.us AS w3_us,
        |    (a.value + b.value + c.value) / 3.0 AS wavg
        |  FROM o a JOIN o b ON a.user_id = b.user_id AND b.rn = a.rn + 1
        |    JOIN o c ON a.user_id = c.user_id AND c.rn = a.rn + 2
        |  WHERE c.us - a.us <= 86400000000),
        |x AS (SELECT * FROM (SELECT w.user_id, w.w1, w.w3,
        |    e.event_id AS x_id,
        |    row_number() OVER (PARTITION BY w.user_id, w.w1
        |      ORDER BY e.us, e.event_id) AS rnk
        |  FROM w JOIN o e ON w.user_id = e.user_id
        |    AND e.value > w.wavg
        |    AND (e.us > w.w3_us OR (e.us = w.w3_us
        |      AND e.event_id > w.w3))
        |    AND e.us - w.w1_us <= 86400000000) WHERE rnk = 1)
        |SELECT user_id, w1, w3, x_id FROM x""".stripMargin,

    // running own-variable SUM: seed rows with value <= cap, the
    // second s is the FIRST later row keeping the sum under the cap
    // (skip-till-next), then any next row completes
    "q189_mr_define_own_sum" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
        |  FROM events),
        |c1 AS (SELECT user_id, event_id AS s1_id, us AS s1_us,
        |    value AS v1 FROM o WHERE value <= 60.0),
        |c2 AS (SELECT * FROM (SELECT c1.user_id, c1.s1_id, c1.s1_us,
        |    b.event_id AS s2_id, b.us AS s2_us,
        |    row_number() OVER (PARTITION BY c1.user_id, c1.s1_id
        |      ORDER BY b.us, b.event_id) AS rnk
        |  FROM c1 JOIN o b ON c1.user_id = b.user_id
        |    AND (b.us > c1.s1_us OR (b.us = c1.s1_us
        |      AND b.event_id > c1.s1_id))
        |    AND c1.v1 + b.value <= 60.0
        |    AND b.us - c1.s1_us <= 86400000000) WHERE rnk = 1),
        |c3 AS (SELECT * FROM (SELECT c2.user_id, c2.s1_id AS s1,
        |    c2.s2_id AS s2, c.event_id AS e_id,
        |    row_number() OVER (PARTITION BY c2.user_id, c2.s1_id
        |      ORDER BY c.us, c.event_id) AS rnk
        |  FROM c2 JOIN o c ON c2.user_id = c.user_id
        |    AND (c.us > c2.s2_us OR (c.us = c2.s2_us
        |      AND c.event_id > c2.s2_id))
        |    AND c.us - c2.s1_us <= 86400000000) WHERE rnk = 1)
        |SELECT user_id, s1, s2, e_id FROM c3""".stripMargin,

    // first row per user must be the click; then first purchase after
    // it inside the window
    "q190_mr_anchor_start" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |a AS (SELECT user_id, event_id AS a_id, us AS a_us FROM o
        |  WHERE rn = 1 AND event_type = 'click'),
        |b AS (SELECT * FROM (SELECT a.user_id, a.a_id,
        |    e.event_id AS b_id,
        |    row_number() OVER (PARTITION BY a.user_id
        |      ORDER BY e.us, e.event_id) AS rnk
        |  FROM a JOIN o e ON a.user_id = e.user_id
        |    AND e.event_type = 'purchase'
        |    AND (e.us > a.a_us OR (e.us = a.a_us
        |      AND e.event_id > a.a_id))
        |    AND e.us - a.a_us <= 86400000000) WHERE rnk = 1)
        |SELECT user_id, a_id, b_id FROM b""".stripMargin,

    // last row per user must be the purchase; every click inside its
    // window pairs with it (relaxed matching)
    "q191_mr_anchor_end" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rnd
        |  FROM events),
        |lastp AS (SELECT user_id, event_id AS b_id, us AS b_us FROM o
        |  WHERE rnd = 1 AND event_type = 'purchase'),
        |m AS (SELECT l.user_id, c.event_id AS a_id, l.b_id
        |  FROM lastp l JOIN o c ON l.user_id = c.user_id
        |    AND c.event_type = 'click'
        |    AND (c.us < l.b_us OR (c.us = l.b_us
        |      AND c.event_id < l.b_id))
        |    AND l.b_us - c.us <= 86400000000)
        |SELECT user_id, a_id, b_id FROM m""".stripMargin,

    // the q34 two-click chain with offset reads: a1b = the
    // second-from-last of two bindings = a0; LAST(a, 3) out of range
    "q192_mr_nav_offsets" -> q34Oracle.replace(
      "SELECT user_id, a0_id, a1_id, b_id FROM j WHERE rn = 1",
      "SELECT user_id, a0_id, a1_id, a0_id AS a1b_id, " +
        "CAST(NULL AS BIGINT) AS oob_id, b_id, " +
        "CAST(3 AS BIGINT) AS n_rows FROM j WHERE rn = 1"),

    // every click pairs with the first purchase after it inside the
    // window; PREV/NEXT read the user's FULL timeline via lag/lead
    "q193_mr_nav_prev_next" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    event_type, lag(event_id) OVER w AS prev_id,
        |    lead(event_id) OVER w AS next_id
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id)),
        |a AS (SELECT * FROM o WHERE event_type = 'click'),
        |b AS (SELECT * FROM o WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |    a.prev_id AS pa_id, a.next_id AS na_id, b.next_id AS nb_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.event_id
        |      ORDER BY b.us, b.event_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.us > a.us OR (b.us = a.us AND b.event_id > a.event_id))
        |    AND b.us - a.us <= 7200000000)
        |SELECT user_id, a_id, b_id, pa_id, na_id, nb_id FROM j
        |WHERE rn = 1""".stripMargin,

    // the q193 pair derivation grouped per user
    "q194_mr_factor_agg" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    event_type FROM events),
        |a AS (SELECT * FROM o WHERE event_type = 'click'),
        |b AS (SELECT * FROM o WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a.event_id AS a_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.event_id
        |      ORDER BY b.us, b.event_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.us > a.us OR (b.us = a.us AND b.event_id > a.event_id))
        |    AND b.us - a.us <= 7200000000)
        |SELECT user_id, count(*) AS n_matches, min(a_id) AS first_a
        |FROM j WHERE rn = 1 GROUP BY user_id""".stripMargin,

    // the q193 pairs joined to the per-user event count
    "q195_mr_factor_join" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    event_type FROM events),
        |a AS (SELECT * FROM o WHERE event_type = 'click'),
        |b AS (SELECT * FROM o WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.event_id
        |      ORDER BY b.us, b.event_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.us > a.us OR (b.us = a.us AND b.event_id > a.event_id))
        |    AND b.us - a.us <= 7200000000),
        |u AS (SELECT user_id, count(*) AS n_ev FROM o GROUP BY user_id)
        |SELECT j.user_id, j.a_id, j.b_id, u.n_ev
        |FROM j JOIN u ON j.user_id = u.user_id WHERE j.rn = 1""".stripMargin,

    // the q34 chain with the extra second-click window: the first
    // purchase must fall within BOTH 2h of the first click and 10min
    // of the second (the DEFINE offset gate); prefix-closed in time,
    // so the rn=1 election over the gated candidates matches the NFA
    "q196_mr_define_offset" -> q34Oracle.replace(
      "AND p.p_us - c.us <= 7200000000",
      "AND p.p_us - c.us <= 7200000000 " +
        "AND p.p_us - c.c2_us <= 600000000"),

    // every click pairs with the first LATER purchase whose value is
    // under double the purchase's OWN previous row's value (lag over
    // the full per-user timeline — the derived-column PREV expression)
    "q197_mr_prev_expr" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    event_type, value,
        |    lag(value * 2) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pv2
        |  FROM events),
        |a AS (SELECT user_id, event_id, us FROM o
        |  WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id, us FROM o
        |  WHERE event_type = 'purchase' AND value < pv2),
        |j AS (SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.event_id
        |      ORDER BY b.us, b.event_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.us > a.us OR (b.us = a.us AND b.event_id > a.event_id))
        |    AND b.us - a.us <= 7200000000)
        |SELECT user_id, a_id, b_id FROM j WHERE rn = 1""".stripMargin,

    // click → first view after it → first purchase after the view
    // whose value tops BOTH (= MAX over the s = (a, b) union)
    // q198's chain with the union-extreme gates: LAST(s.value) is the
    // view's value (it binds after the click), FIRST(s.value) the
    // click's
    "q201_mr_subset_nav" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    event_type, value FROM events),
        |a AS (SELECT * FROM o WHERE event_type = 'click'),
        |b0 AS (SELECT a.user_id, a.event_id AS a_id, a.us AS a_us,
        |    a.value AS a_v, v.event_id AS b_id, v.us AS b_us,
        |    v.value AS b_v,
        |    row_number() OVER (PARTITION BY a.user_id, a.event_id
        |      ORDER BY v.us, v.event_id) AS rn
        |  FROM a JOIN o v ON v.user_id = a.user_id
        |    AND v.event_type = 'view'
        |    AND (v.us > a.us OR (v.us = a.us
        |      AND v.event_id > a.event_id))),
        |b AS (SELECT * FROM b0 WHERE rn = 1),
        |c0 AS (SELECT b.user_id, b.a_id, b.b_id, p.event_id AS c_id,
        |    row_number() OVER (PARTITION BY b.user_id, b.a_id
        |      ORDER BY p.us, p.event_id) AS rnc
        |  FROM b JOIN o p ON p.user_id = b.user_id
        |    AND p.event_type = 'purchase'
        |    AND (p.us > b.b_us OR (p.us = b.b_us
        |      AND p.event_id > b.b_id))
        |    AND p.value > b.b_v
        |    AND p.value + b.a_v > 2 * b.b_v)
        |SELECT user_id, a_id, b_id, c_id FROM c0 WHERE rnc = 1""".stripMargin,

    "q198_mr_subset_define" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    event_type, value FROM events),
        |a AS (SELECT * FROM o WHERE event_type = 'click'),
        |b0 AS (SELECT a.user_id, a.event_id AS a_id, a.us AS a_us,
        |    a.value AS a_v, v.event_id AS b_id, v.us AS b_us,
        |    v.value AS b_v,
        |    row_number() OVER (PARTITION BY a.user_id, a.event_id
        |      ORDER BY v.us, v.event_id) AS rn
        |  FROM a JOIN o v ON v.user_id = a.user_id
        |    AND v.event_type = 'view'
        |    AND (v.us > a.us OR (v.us = a.us
        |      AND v.event_id > a.event_id))),
        |b AS (SELECT * FROM b0 WHERE rn = 1),
        |c0 AS (SELECT b.user_id, b.a_id, b.b_id, p.event_id AS c_id,
        |    row_number() OVER (PARTITION BY b.user_id, b.a_id
        |      ORDER BY p.us, p.event_id) AS rnc
        |  FROM b JOIN o p ON p.user_id = b.user_id
        |    AND p.event_type = 'purchase'
        |    AND (p.us > b.b_us OR (p.us = b.b_us
        |      AND p.event_id > b.b_id))
        |    AND p.value > greatest(b.a_v, b.b_v))
        |SELECT user_id, a_id, b_id, c_id FROM c0 WHERE rnc = 1""".stripMargin,

    // the q55 pair derivation, unpivoted: each match contributes its
    // click row (classifier 'a') and its purchase row (classifier 'b');
    // match_start/match_end are the pair's timestamps, a_id the FINAL
    // measure repeated on both rows
    // q58's a-rows only: the b side suppressed, its measure retained
    // five consecutive rows per user carrying all five types in any
    // order (overlapping windows; each var id picked by its type)
    // six consecutive rows carrying all six classes (the error rows
    // split by value) — the class CASE mirrors the disjoint DEFINEs
    // ARM FOR ARM (r18 ADVICE: the 'f' arm is explicit, not ELSE, so a
    // future domain change — a new event_type, a NULL value — yields
    // cls NULL; such a row stays IN the window, where it breaks the
    // MODE STRICT contiguity exactly as it would on the graft side
    // instead of silently classifying as 'f'), and each class's
    // event_id is read off whichever of the six window positions
    // carries it
    "q217_mr_permute6" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN event_type='click' THEN 'a'
        |      WHEN event_type='view' THEN 'b'
        |      WHEN event_type='purchase' THEN 'c'
        |      WHEN event_type='signup' THEN 'd'
        |      WHEN event_type='error' AND value <= 50 THEN 'e'
        |      WHEN event_type='error' AND value > 50 THEN 'f'
        |      ELSE NULL END AS cls
        |  FROM events),
        |o AS (SELECT user_id, event_id, cls,
        |    lead(cls,1) OVER w AS t1, lead(cls,2) OVER w AS t2,
        |    lead(cls,3) OVER w AS t3, lead(cls,4) OVER w AS t4,
        |    lead(cls,5) OVER w AS t5,
        |    lead(event_id,1) OVER w AS i1, lead(event_id,2) OVER w AS i2,
        |    lead(event_id,3) OVER w AS i3, lead(event_id,4) OVER w AS i4,
        |    lead(event_id,5) OVER w AS i5
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |m AS (SELECT * FROM o WHERE t5 IS NOT NULL AND
        |  list_sort([cls,t1,t2,t3,t4,t5]) = ['a','b','c','d','e','f'])
        |SELECT user_id,
        |  CASE WHEN cls='a' THEN event_id WHEN t1='a' THEN i1
        |    WHEN t2='a' THEN i2 WHEN t3='a' THEN i3
        |    WHEN t4='a' THEN i4 ELSE i5 END AS a_id,
        |  CASE WHEN cls='b' THEN event_id WHEN t1='b' THEN i1
        |    WHEN t2='b' THEN i2 WHEN t3='b' THEN i3
        |    WHEN t4='b' THEN i4 ELSE i5 END AS b_id,
        |  CASE WHEN cls='c' THEN event_id WHEN t1='c' THEN i1
        |    WHEN t2='c' THEN i2 WHEN t3='c' THEN i3
        |    WHEN t4='c' THEN i4 ELSE i5 END AS c_id,
        |  CASE WHEN cls='d' THEN event_id WHEN t1='d' THEN i1
        |    WHEN t2='d' THEN i2 WHEN t3='d' THEN i3
        |    WHEN t4='d' THEN i4 ELSE i5 END AS d_id,
        |  CASE WHEN cls='e' THEN event_id WHEN t1='e' THEN i1
        |    WHEN t2='e' THEN i2 WHEN t3='e' THEN i3
        |    WHEN t4='e' THEN i4 ELSE i5 END AS e_id,
        |  CASE WHEN cls='f' THEN event_id WHEN t1='f' THEN i1
        |    WHEN t2='f' THEN i2 WHEN t3='f' THEN i3
        |    WHEN t4='f' THEN i4 ELSE i5 END AS f_id
        |FROM m""".stripMargin,

    // adjacent (click, view) pairs with the view pricier (MODE STRICT
    // pattern (a b)); delta = LAST(b.value) - LAST(a.value) (each
    // navigation anchored at its own variable's one bound row), psum =
    // PREV-of-a + PREV-of-b where b's predecessor IS a and a's is its
    // lag (NULL on a partition-first a, which NULLs the sum)
    "q218_mr_mixed_nav" ->
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |    epoch_us(ts) AS us,
        |    lag(value) OVER w AS pv,
        |    lead(event_type) OVER w AS nt,
        |    lead(event_id) OVER w AS ni,
        |    lead(value) OVER w AS nv
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT user_id, event_id AS a_id, ni AS b_id,
        |  nv - value AS delta, pv + value AS psum
        |FROM o
        |WHERE event_type = 'click' AND nt = 'view' AND nv > value""".stripMargin,

    // adjacent (click, view) pairs; FIRST universal = the click row
    // (value*2 read there), nested PREV(FIRST(value)) = the row
    // before the click (lag from the click = lag(2) from the view);
    // the uend MEASURE reads the match LAST row (the view), universal
    "q219_mr_universal_nav" ->
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |    epoch_us(ts) AS us,
        |    lag(value) OVER w AS pv,
        |    lead(event_type) OVER w AS nt,
        |    lead(event_id) OVER w AS ni,
        |    lead(value) OVER w AS nv
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT user_id, event_id AS a_id, ni AS b_id,
        |  nv * 2 AS uend
        |FROM o
        |WHERE event_type = 'click' AND nt = 'view'
        |  AND nv > value * 2
        |  AND coalesce(pv, 0) < nv * 10""".stripMargin,

    // the literals never match, so m_lit = LAST(b.value) -
    // LAST(a.value) = nv - value on each adjacent (click, view) pair;
    // the BETWEEN bound is a tautology
    "q220_mr_literal_nav" ->
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |    epoch_us(ts) AS us,
        |    lead(event_type) OVER w AS nt,
        |    lead(event_id) OVER w AS ni,
        |    lead(value) OVER w AS nv
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT user_id, event_id AS a_id, ni AS b_id,
        |  nv - value AS m_lit
        |FROM o
        |WHERE event_type = 'click' AND nt = 'view'""".stripMargin,

    // PATTERN (a) single-row matches: every DEFINE conjunct reduces on
    // the one-row binding — LAST(value*2) > FIRST(value*3) - value*2
    // is value > 0, the subset folds are tautologies
    "q221_mr_universal_single" ->
      """SELECT user_id, event_id AS a_id, value * 2 AS uend
        |FROM events
        |WHERE event_type = 'click' AND value > 0""".stripMargin,

    "q208_mr_permute5" ->
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    lead(event_type,1) OVER w AS t1, lead(event_type,2) OVER w AS t2,
        |    lead(event_type,3) OVER w AS t3, lead(event_type,4) OVER w AS t4,
        |    lead(event_id,1) OVER w AS i1, lead(event_id,2) OVER w AS i2,
        |    lead(event_id,3) OVER w AS i3, lead(event_id,4) OVER w AS i4
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |m AS (SELECT * FROM o WHERE t4 IS NOT NULL AND
        |  list_sort([event_type, t1, t2, t3, t4]) =
        |  ['click','error','purchase','signup','view'])
        |SELECT user_id,
        |  CASE WHEN event_type='click' THEN event_id WHEN t1='click' THEN i1
        |    WHEN t2='click' THEN i2 WHEN t3='click' THEN i3 ELSE i4 END AS a_id,
        |  CASE WHEN event_type='view' THEN event_id WHEN t1='view' THEN i1
        |    WHEN t2='view' THEN i2 WHEN t3='view' THEN i3 ELSE i4 END AS b_id,
        |  CASE WHEN event_type='purchase' THEN event_id WHEN t1='purchase' THEN i1
        |    WHEN t2='purchase' THEN i2 WHEN t3='purchase' THEN i3 ELSE i4 END AS c_id,
        |  CASE WHEN event_type='signup' THEN event_id WHEN t1='signup' THEN i1
        |    WHEN t2='signup' THEN i2 WHEN t3='signup' THEN i3 ELSE i4 END AS d_id,
        |  CASE WHEN event_type='error' THEN event_id WHEN t1='error' THEN i1
        |    WHEN t2='error' THEN i2 WHEN t3='error' THEN i3 ELSE i4 END AS e_id
        |FROM m""".stripMargin,

    // each click's first later purchase with value above twice the
    // click's value inside the 2 h window (the MAX over a single
    // settled binding = 2 * the click value; the rn=1 election mirrors
    // the engine's first-qualifying-row bind)
    "q207_mr_define_expr_agg" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    event_type FROM events),
        |s1 AS (SELECT * FROM (SELECT a.user_id, a.event_id AS a_id,
        |    b.event_id AS b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.event_id
        |      ORDER BY b.us, b.event_id) AS rn
        |  FROM o a JOIN o b ON a.user_id = b.user_id
        |    AND a.event_type = 'click' AND b.event_type = 'purchase'
        |    AND b.value > a.value * 2
        |    AND (b.us > a.us OR (b.us = a.us AND b.event_id > a.event_id))
        |    AND b.us - a.us <= 7200000000) WHERE rn = 1)
        |SELECT user_id, a_id, b_id FROM s1""".stripMargin,

    // same greedy chain as q176: w = (a, b)'s merged-last member row
    // over PATTERN (a b c) is always the b row, so the recursive-CTE
    // resume-at-b oracle transfers verbatim
    "q206_mr_skip_to_subset" ->
      """WITH RECURSIVE o AS (SELECT user_id, event_id,
        |    epoch_us(ts) AS us, event_type FROM events),
        |a AS (SELECT user_id, event_id AS a_id, us AS a_us FROM o
        |  WHERE event_type = 'click'),
        |s1 AS (SELECT * FROM (SELECT a.user_id, a.a_id, a.a_us,
        |    b.event_id AS b_id, b.us AS b_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.us, b.event_id) AS rn
        |  FROM a JOIN o b ON a.user_id = b.user_id
        |    AND b.event_type = 'view'
        |    AND (b.us > a.a_us OR (b.us = a.a_us
        |      AND b.event_id > a.a_id))) WHERE rn = 1),
        |m AS (SELECT * FROM (SELECT s1.user_id, s1.a_id, s1.a_us,
        |    s1.b_id, s1.b_us, c.event_id AS c_id,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.a_id
        |      ORDER BY c.us, c.event_id) AS rn
        |  FROM s1 JOIN o c ON s1.user_id = c.user_id
        |    AND c.event_type = 'purchase'
        |    AND (c.us > s1.b_us OR (c.us = s1.b_us
        |      AND c.event_id > s1.b_id))) WHERE rn = 1),
        |chain AS (
        |  SELECT user_id, a_id, a_us, b_id, b_us, c_id FROM (
        |    SELECT m.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY a_us, a_id) AS rn2 FROM m) WHERE rn2 = 1
        |  UNION ALL
        |  SELECT n.user_id, n.a_id, n.a_us, n.b_id, n.b_us, n.c_id
        |  FROM chain ch JOIN LATERAL (
        |    SELECT * FROM m WHERE m.user_id = ch.user_id
        |      AND (m.a_us > ch.b_us OR (m.a_us = ch.b_us
        |        AND m.a_id >= ch.b_id))
        |    ORDER BY m.a_us, m.a_id LIMIT 1) n ON true
        |)
        |SELECT user_id, a_id, b_id, c_id FROM chain""".stripMargin,

    // three adjacent purchase rows per user (overlapping windows)
    "q205_mr_strict_streak" ->
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    lead(event_id, 1) OVER w AS n1id,
        |    lead(event_type, 1) OVER w AS n1t,
        |    lead(event_id, 2) OVER w AS n2id,
        |    lead(event_type, 2) OVER w AS n2t
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id))
        |SELECT user_id, event_id AS p1, n1id AS p2, n2id AS p3 FROM o
        |WHERE event_type = 'purchase' AND n1t = 'purchase'
        |  AND n2t = 'purchase'""".stripMargin,

    // adjacent click→(purchase|view) pairs: the winning branch fills
    // its measure, the other stays NULL
    "q204_mr_strict_alt" ->
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    lead(event_id) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nid,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nt
        |  FROM events)
        |SELECT user_id, event_id AS a_id,
        |  CASE WHEN nt = 'purchase' THEN nid END AS b_id,
        |  CASE WHEN nt = 'view' THEN nid END AS c_id
        |FROM o
        |WHERE event_type = 'click' AND nt IN ('purchase', 'view')""".stripMargin,

    // adjacent (click, purchase) pairs: the next row in (ts, id)
    // order within the user must be the purchase
    "q203_mr_strict_mode" ->
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    lead(event_id) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nid,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nt
        |  FROM events)
        |SELECT user_id, event_id AS a_id, nid AS b_id FROM o
        |WHERE event_type = 'click' AND nt = 'purchase'""".stripMargin,

    // the q200 ascending chain with expression aggregates over the
    // two purchase bindings
    "q202_mr_expr_agg" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us,
        |    value AS p_v
        |    FROM events WHERE event_type = 'purchase'),
        |c1 AS (SELECT * FROM (SELECT a.user_id, a.a_id, a.a_us,
        |    p.p_id AS b1_id, p.p_us AS b1_us, p.p_v AS b1_v,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY p.p_us, p.p_id) AS rn
        |  FROM a JOIN p ON a.user_id = p.user_id
        |    AND (p.p_us > a.a_us OR (p.p_us = a.a_us AND p.p_id > a.a_id))
        |    AND p.p_us - a.a_us <= 86400000000) WHERE rn = 1),
        |c2 AS (SELECT * FROM (SELECT c1.user_id, c1.a_id,
        |    c1.b1_id, c1.b1_v, p.p_id AS b2_id, p.p_v AS b2_v,
        |    row_number() OVER (PARTITION BY c1.user_id, c1.a_id
        |      ORDER BY p.p_us, p.p_id) AS rn
        |  FROM c1 JOIN p ON c1.user_id = p.user_id
        |    AND (p.p_us > c1.b1_us OR (p.p_us = c1.b1_us
        |      AND p.p_id > c1.b1_id))
        |    AND p.p_v > c1.b1_v
        |    AND p.p_us - c1.a_us <= 86400000000) WHERE rn = 1)
        |SELECT user_id, a_id, b1_id AS b1, b2_id AS b2,
        |  -- mirror the Spark HOF fold's FP order exactly:
        |  -- (0.0 + b1*2) + b2*2 and ((b1+1) + (b2+1)) / 2
        |  (b1_v * 2 + b2_v * 2) AS sv,
        |  ((b1_v + 1) + (b2_v + 1)) / 2 AS av,
        |  2::BIGINT AS nv
        |FROM c2""".stripMargin,

    // greedy two-step chain per click: the first later purchase, then
    // the first purchase after it with a strictly greater value, both
    // inside the 24 h window of the click
    "q200_mr_own_offset" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us,
        |    value AS p_v
        |    FROM events WHERE event_type = 'purchase'),
        |c1 AS (SELECT * FROM (SELECT a.user_id, a.a_id, a.a_us,
        |    p.p_id AS b1_id, p.p_us AS b1_us, p.p_v AS b1_v,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY p.p_us, p.p_id) AS rn
        |  FROM a JOIN p ON a.user_id = p.user_id
        |    AND (p.p_us > a.a_us OR (p.p_us = a.a_us AND p.p_id > a.a_id))
        |    AND p.p_us - a.a_us <= 86400000000) WHERE rn = 1),
        |c2 AS (SELECT * FROM (SELECT c1.user_id, c1.a_id,
        |    c1.b1_id, c1.b1_v, p.p_id AS b2_id,
        |    row_number() OVER (PARTITION BY c1.user_id, c1.a_id
        |      ORDER BY p.p_us, p.p_id) AS rn
        |  FROM c1 JOIN p ON c1.user_id = p.user_id
        |    AND (p.p_us > c1.b1_us OR (p.p_us = c1.b1_us
        |      AND p.p_id > c1.b1_id))
        |    AND p.p_v > c1.b1_v
        |    AND p.p_us - c1.a_us <= 86400000000) WHERE rn = 1)
        |SELECT user_id, a_id, b1_id AS b1, b2_id AS b2, b1_v
        |FROM c2""".stripMargin,

    // first later purchase-or-view inside the window per click; the
    // winning branch's id fills its measure, the other stays NULL
    "q199_mr_excl_alt" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |x AS (SELECT user_id, event_id AS x_id, epoch_us(ts) AS x_us,
        |    event_type AS x_type
        |    FROM events WHERE event_type IN ('purchase', 'view')),
        |j AS (SELECT a.user_id, a.a_id, a.a_us, x.x_id, x.x_us, x.x_type,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY x.x_us, x.x_id) AS rn
        |  FROM a JOIN x ON a.user_id = x.user_id
        |    AND (x.x_us > a.a_us OR (x.x_us = a.a_us AND x.x_id > a.a_id))
        |    AND x.x_us - a.a_us <= 600000000)
        |SELECT a_id AS event_id, a_us AS ts_us, user_id,
        |  'click' AS event_type, 'a' AS classifier,
        |  a_us AS match_start, x_us AS match_end,
        |  CASE WHEN x_type = 'purchase' THEN x_id END AS b_id,
        |  CASE WHEN x_type = 'view' THEN x_id END AS c_id
        |FROM j WHERE rn = 1""".stripMargin,

    "q174_mr_exclusion" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a.a_id, a.a_us, b.b_id, b.b_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
        |    AND b.b_us - a.a_us <= 600000000)
        |SELECT a_id AS event_id, a_us AS ts_us, user_id,
        |  'click' AS event_type, 'a' AS classifier,
        |  a_us AS match_start, b_us AS match_end, b_id
        |FROM j WHERE rn = 1""".stripMargin,

    // q55's click→purchase chain; the union's first/last are the two
    // sides in event order
    "q173_mr_subset" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a.a_id, b.b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
        |    AND b.b_us - a.a_us <= 600000000)
        |SELECT user_id, a_id AS w_first, b_id AS w_last, 2::INT AS w_n
        |FROM j WHERE rn = 1""".stripMargin,

    // V-shape replay: per-user lag flags, then the seed-chained rn=1
    // elections (first later drop, first later rise after it), both
    // inside the window of the seed
    "q172_mr_prev_define" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pv
        |  FROM events),
        |f AS (SELECT user_id, event_id, us,
        |    CASE WHEN pv IS NOT NULL AND value < pv THEN 1 ELSE 0
        |      END AS dn,
        |    CASE WHEN pv IS NOT NULL AND value > pv THEN 1 ELSE 0
        |      END AS up
        |  FROM o),
        |s1 AS (SELECT * FROM (SELECT s.user_id, s.event_id AS s_id,
        |    s.us AS s_us, d.event_id AS d_id, d.us AS d_us,
        |    row_number() OVER (PARTITION BY s.user_id, s.event_id
        |      ORDER BY d.us, d.event_id) AS rn
        |  FROM f s JOIN f d ON s.user_id = d.user_id AND d.dn = 1
        |    AND (d.us > s.us OR (d.us = s.us AND d.event_id > s.event_id))
        |    AND d.us - s.us <= 7200000000) WHERE rn = 1),
        |s2 AS (SELECT * FROM (SELECT s1.user_id, s1.s_id, s1.s_us,
        |    s1.d_id, u.event_id AS u_id,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.s_id
        |      ORDER BY u.us, u.event_id) AS rn
        |  FROM s1 JOIN f u ON s1.user_id = u.user_id AND u.up = 1
        |    AND (u.us > s1.d_us OR (u.us = s1.d_us
        |      AND u.event_id > s1.d_id))
        |    AND u.us - s1.s_us <= 7200000000) WHERE rn = 1)
        |SELECT user_id, s_id, d_id, u_id FROM s2""".stripMargin,

    // click + its first two views within 10 min; three rows per match
    // with growing running count/last and the repeated final count
    "q171_mr_running" ->
      """WITH c AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'click'),
        |vw AS (SELECT user_id, event_id AS id, epoch_us(ts) AS us
        |    FROM events WHERE event_type = 'view'),
        |s1 AS (SELECT * FROM (SELECT c.user_id, c.id AS a, c.us AS a_us,
        |    v.id AS v1, v.us AS v1_us,
        |    row_number() OVER (PARTITION BY c.user_id, c.id
        |      ORDER BY v.us, v.id) AS rn
        |  FROM c JOIN vw v ON c.user_id = v.user_id
        |    AND (v.us > c.us OR (v.us = c.us AND v.id > c.id))
        |    AND v.us - c.us <= 7200000000) WHERE rn = 1),
        |m AS (SELECT * FROM (SELECT s1.user_id, s1.a, s1.a_us, s1.v1,
        |    s1.v1_us, v.id AS v2, v.us AS v2_us,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.a
        |      ORDER BY v.us, v.id) AS rn
        |  FROM s1 JOIN vw v ON s1.user_id = v.user_id
        |    AND (v.us > s1.v1_us OR (v.us = s1.v1_us AND v.id > s1.v1))
        |    AND v.us - s1.a_us <= 7200000000) WHERE rn = 1)
        |SELECT a AS event_id, a_us AS ts_us, user_id,
        |    'click' AS event_type, 'a' AS classifier,
        |    a_us AS match_start, v2_us AS match_end,
        |    2::INT AS final_nv, 0::INT AS run_nv, NULL::BIGINT AS run_last
        |  FROM m
        |UNION ALL
        |SELECT v1, v1_us, user_id, 'view', 'v', a_us, v2_us,
        |    2::INT, 1::INT, v1
        |  FROM m
        |UNION ALL
        |SELECT v2, v2_us, user_id, 'view', 'v', a_us, v2_us,
        |    2::INT, 2::INT, v2
        |  FROM m""".stripMargin,

    // q58's matched-event rows + the complement with NULLs
    "q170_mr_unmatched_rows" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a.a_id, a.a_us, b.b_id, b.b_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
        |    AND b.b_us - a.a_us <= 600000000),
        |p AS (SELECT user_id, a_id, a_us, b_id, b_us FROM j WHERE rn = 1)
        |SELECT a_id AS event_id, a_us AS ts_us, user_id,
        |    'click' AS event_type, 'a' AS classifier,
        |    a_us AS match_start, b_us AS match_end, a_id
        |  FROM p
        |UNION ALL
        |SELECT b_id, b_us, user_id, 'purchase', 'b', a_us, b_us, a_id
        |  FROM p
        |UNION ALL
        |SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id,
        |    e.event_type, NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT,
        |    NULL::BIGINT
        |  FROM events e
        |  WHERE NOT EXISTS (SELECT 1 FROM p
        |    WHERE p.user_id = e.user_id
        |      AND (p.a_id = e.event_id OR p.b_id = e.event_id))""".stripMargin,

    "q58_mr_all_rows" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
        |    FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a.a_id, a.a_us, b.b_id, b.b_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY b.b_us, b.b_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
        |    AND b.b_us - a.a_us <= 600000000),
        |p AS (SELECT user_id, a_id, a_us, b_id, b_us FROM j WHERE rn = 1)
        |SELECT a_id AS event_id, a_us AS ts_us, user_id,
        |    'click' AS event_type, 'a' AS classifier,
        |    a_us AS match_start, b_us AS match_end, a_id
        |  FROM p
        |UNION ALL
        |SELECT b_id, b_us, user_id, 'purchase', 'b', a_us, b_us, a_id
        |  FROM p""".stripMargin,

    "q57_mr_alternation" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
        |    FROM events WHERE event_type = 'view'),
        |x AS (SELECT user_id, event_id AS x_id, event_type, epoch_us(ts) AS x_us
        |    FROM events WHERE event_type IN ('purchase', 'error')),
        |j AS (SELECT a.user_id, a.a_id, x.x_id, x.event_type,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY x.x_us, x.x_id) AS rn
        |  FROM a JOIN x ON a.user_id = x.user_id
        |    AND (x.x_us > a.a_us OR (x.x_us = a.a_us AND x.x_id > a.a_id))
        |    AND x.x_us - a.a_us <= 600000000)
        |SELECT user_id, a_id,
        |  CASE WHEN event_type = 'purchase' THEN x_id END AS b_id,
        |  CASE WHEN event_type = 'error' THEN x_id END AS c_id
        |FROM j WHERE rn = 1""".stripMargin)
}
