package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class SEvt(id: Long, ts_ms: Long, user: Long, v: Double)

/** Built-in Structured Streaming paths (time windows, session windows,
  * watermarked stream-stream joins) must agree with their batch
  * formulations — the A6/B7/B8/B9/B10 streaming parity surface that the
  * reference gets from its watermark-ordered event buffer.
  */
class StreamingParitySpec extends SparkSpec {
  import spark.implicits._

  private val evs = Seq(
    SEvt(1, 1000, 1, 1.0), SEvt(2, 5000, 1, 2.0),
    SEvt(3, 12000, 1, 4.0), SEvt(4, 3000, 2, 8.0))
  private val flush = SEvt(99, 10000000L, 9, 0.0)

  test("stateless curation projections run unchanged on a stream") {
    // splitAssign and epochUpsample are pure scan-side projections —
    // the SAME operator call compiles to a streaming plan with no
    // watermark, no state, and byte-identical assignments to batch
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val input = MemoryStream[SEvt]
    val splits = Seq(("train", 900), ("val", 50), ("test", 50))
    val sq = TextOps.splitAssign(input.toDF(), "id", splits, nFiles = 4)
      .writeStream.format("memory").queryName("par_split")
      .outputMode("append").start()
    val uq = TextOps.epochUpsample(input.toDF(), "id", 2300)
      .writeStream.format("memory").queryName("par_epoch")
      .outputMode("append").start()
    try {
      input.addData((0L until 200L).map(i => SEvt(i, i, i, 0.0)))
      sq.processAllAvailable(); uq.processAllAvailable()
      val batchDf = (0L until 200L).map(i => SEvt(i, i, i, 0.0)).toDF()
      val gotSplit = spark.table("par_split")
        .as[(Long, String, Long, Long)].collect().toSet
      val expSplit = TextOps.splitAssign(batchDf, "id", splits, nFiles = 4)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(gotSplit == expSplit && gotSplit.size == 200)
      val gotEpoch = spark.table("par_epoch")
        .as[(Long, Int, Int)].collect().toSet
      val expEpoch = TextOps.epochUpsample(batchDf, "id", 2300)
        .as[(Long, Int, Int)].collect().toSet
      assert(gotEpoch == expEpoch && gotEpoch.size >= 400)
    } finally { sq.stop(); uq.stop() }
  }

  test("frozen-model DSIR scores a stream identically to batch") {
    // the production DSIR shape: model trained offline on a reference
    // corpus, incoming docs scored by a stateless projection — the SAME
    // operator call compiles onto a MemoryStream with no state and
    // byte-identical banked scores
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val corpus = Seq(
      (1L, "alpha beta gamma delta", true),
      (2L, "alpha beta", true),
      (3L, "epsilon zeta eta theta", false),
      (4L, "iota kappa lambda", false)).toDF("id", "text", "tgt")
    val model = TextOps.dsirTrain(corpus, "text", "id", col("tgt"),
      buckets = 32)
    val incoming = Seq( // overlaps + unseen grams + empty
      (10L, "alpha beta gamma"), (11L, "iota kappa"),
      (12L, "totally novel grams"), (13L, ""))
    val input = MemoryStream[(Long, String)]
    val q = TextOps.dsirScoreFrozen(
        input.toDF().toDF("id", "text"), "text", "id", model)
      .writeStream.format("memory").queryName("par_dsir")
      .outputMode("append").start()
    try {
      input.addData(incoming)
      q.processAllAvailable()
      val got = spark.table("par_dsir")
        .as[(Long, Long, Long, Option[Double])].collect().toSet
      val exp = TextOps.dsirScoreFrozen(
          incoming.toDF("id", "text"), "text", "id", model)
        .as[(Long, Long, Long, Option[Double])].collect().toSet
      assert(got == exp && got.size == 4)
      assert(got.find(_._1 == 13L).get._2 == 0L) // empty → 0 features
    } finally q.stop()
  }

  test("frozen temperature rates gate a stream identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val corpus = ((1L to 40L).map(i => (i, "head")) ++
      (41L to 45L).map(i => (i, "tail"))).toDF("id", "stratum")
    val rates = TextOps.temperatureRates(corpus, "stratum", 500)
    val incoming = (1L to 45L).map(i =>
      (i, if (i <= 40) "head" else "tail")) :+ ((99L, "unseen"))
    val input = MemoryStream[(Long, String)]
    val q = TextOps.applySampleRates(
        input.toDF().toDF("id", "stratum"), "id", "stratum", rates)
      .writeStream.format("memory").queryName("par_temp")
      .outputMode("append").start()
    try {
      input.addData(incoming)
      q.processAllAvailable()
      val got = spark.table("par_temp")
        .select($"id", $"kept").as[(Long, Int)].collect().toSet
      val exp = TextOps.applySampleRates(
          incoming.toDF("id", "stratum"), "id", "stratum", rates)
        .select($"id", $"kept").as[(Long, Int)].collect().toSet
      assert(got == exp && got.size == 46)
      assert(got.find(_._1 == 99L).get._2 == 0) // unseen stratum dropped
    } finally q.stop()
  }

  test("streaming tumbling window agg matches batch (B8 + A6)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SEvt]
    val streamed = input.toDF()
      .withColumn("ts", timestamp_millis($"ts_ms"))
      .withWatermark("ts", "2 seconds")
      .groupBy(window($"ts", "10 seconds"), $"user")
      .agg(sum($"v").as("sum_v"))
      .select($"window.start".cast("long").as("w"), $"user", $"sum_v")
    val q = streamed.writeStream.format("memory").queryName("par_tumble")
      .outputMode("append").start()
    try {
      input.addData(scala.util.Random.shuffle(evs))
      q.processAllAvailable()
      input.addData(flush) // advance watermark → close all windows
      q.processAllAvailable()
      val got = spark.table("par_tumble")
        .filter($"user" =!= 9).as[(Long, Long, Double)].collect().toSet
      val expected = (evs :+ flush).toDF()
        .withColumn("ts", timestamp_millis($"ts_ms"))
        .groupBy(window($"ts", "10 seconds"), $"user")
        .agg(sum($"v").as("sum_v"))
        .select($"window.start".cast("long").as("w"), $"user", $"sum_v")
        .filter($"user" =!= 9).as[(Long, Long, Double)].collect().toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming session window groups by gap (B9)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SEvt]
    // user 1: events at 1s and 3s (one 5s-gap session) then 20s (new one)
    val sessEvs = Seq(SEvt(1, 1000, 1, 1.0), SEvt(2, 3000, 1, 1.0),
      SEvt(3, 20000, 1, 1.0))
    val streamed = input.toDF()
      .withColumn("ts", timestamp_millis($"ts_ms"))
      .withWatermark("ts", "2 seconds")
      .groupBy(session_window($"ts", "5 seconds"), $"user")
      .agg(count(lit(1)).as("n"))
      .select($"user", $"n")
    val q = streamed.writeStream.format("memory").queryName("par_session")
      .outputMode("append").start()
    try {
      input.addData(sessEvs)
      q.processAllAvailable()
      input.addData(flush)
      q.processAllAvailable()
      val got = spark.table("par_session").filter($"user" === 1)
        .as[(Long, Long)].collect().map(_._2).sorted.toSeq
      assert(got == Seq(1L, 2L))
    } finally q.stop()
  }

  test("watermarked stream-stream join matches batch join (B10)") {
    implicit val sqlCtx = spark.sqlContext
    val inA = MemoryStream[SEvt]
    val inB = MemoryStream[SEvt]
    def side(in: MemoryStream[SEvt], p: String) = in.toDF()
      .withColumn(s"${p}_ts", timestamp_millis($"ts_ms"))
      .withWatermark(s"${p}_ts", "2 seconds")
      .select(col("user").as(s"${p}_user"), col("id").as(s"${p}_id"),
        col(s"${p}_ts"))
    val joined = side(inA, "a").join(side(inB, "b"),
      expr("a_user = b_user AND b_ts BETWEEN a_ts - INTERVAL 5 SECONDS " +
        "AND a_ts + INTERVAL 5 SECONDS"))
      .select($"a_user", $"a_id", $"b_id")
    val q = joined.writeStream.format("memory").queryName("par_join")
      .outputMode("append").start()
    try {
      val aEvs = Seq(SEvt(1, 1000, 1, 0), SEvt(2, 9000, 1, 0))
      val bEvs = Seq(SEvt(11, 3000, 1, 0), SEvt(12, 30000, 1, 0))
      inA.addData(aEvs); inB.addData(bEvs)
      q.processAllAvailable()
      inA.addData(flush); inB.addData(flush.copy(id = 98))
      q.processAllAvailable()
      val got = spark.table("par_join").filter($"a_user" === 1)
        .as[(Long, Long, Long)].collect().toSet
      // batch truth: pairs within ±5s — (1,11) at 1s/3s; 9s/3s too (6s? no:
      // |9000-3000| = 6000 > 5000 — excluded); 30s out of range entirely
      assert(got == Set((1L, 1L, 11L)))
    } finally q.stop()
  }

  test("frozen BPE encoder counts a stream identically to batch") {
    // tokenizer trained offline, incoming docs token-counted by the
    // stateless codegen'd projection — same call, same counts
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bpe
    val corpus = Seq((1L, "low low lower newest widest newest"))
      .toDF("id", "text")
    val model = Bpe.bpeTrain(corpus, "text", nMerges = 4)
    val incoming = Seq((10L, "low lower"), (11L, "newest unknown"),
      (12L, ""), (13L, "west west west"))
    val input = MemoryStream[(Long, String)]
    val q = Bpe.tokenCounts(
        input.toDF().toDF("id", "text"), "text", "id", model)
      .writeStream.format("memory").queryName("par_bpe")
      .outputMode("append").start()
    try {
      input.addData(incoming)
      q.processAllAvailable()
      val got = spark.table("par_bpe")
        .as[(Long, Long, Long)].collect().toSet
      val exp = Bpe.tokenCounts(
          incoming.toDF("id", "text"), "text", "id", model)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == exp && got.size == 4)
      assert(got.find(_._1 == 12L).get == (12L, 0L, 0L)) // empty doc
    } finally q.stop()
  }

  test("streaming rate anomaly scores finalized buckets like batch") {
    // watermark-finalized keyed scorer vs the batch dense-grid window:
    // both types are live in the global first bucket, so the streaming
    // per-type grids equal the batch grid and rows match bit-for-bit
    // over every bucket the watermark has finalized
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Anomaly
    val B = 10000000L // 10s buckets (watermark works in ms)
    def ev(t: String, b: Long, n: Int): Seq[(String, Long)] =
      (0 until n).map(i => (t, b * B + i))
    val base =
      ev("a", 0, 2) ++ ev("a", 1, 2) ++ ev("a", 2, 2) ++ ev("a", 3, 2) ++
      ev("a", 4, 2) ++ ev("a", 5, 9) ++
      ev("b", 0, 1) ++ ev("b", 3, 1) ++ ev("b", 5, 2)
    val flush1 = Seq(("a", 10 * B), ("b", 10 * B))
    val flush2 = Seq(("a", 20 * B), ("b", 20 * B))
    val input = MemoryStream[(String, Long)]
    val q = Anomaly.rateAnomalyStream(input.toDF().toDF("t", "ts_us"),
        "ts_us", "t", bucketUs = B, window = 4, kSigma = 2)
      .writeStream.format("memory").queryName("par_anom")
      .outputMode("append").start()
    try {
      input.addData(base); q.processAllAvailable()
      input.addData(flush1); q.processAllAvailable()
      input.addData(flush2); q.processAllAvailable()
      val got = spark.table("par_anom")
        .as[(String, Long, Long, Long, Long, Int)].collect().toSet
      // batch over the same rows (flushes included); the stream has
      // finalized buckets <= 9 (watermark = flush1's 100s)
      val all = (base ++ flush1 ++ flush2).toDF("t", "ts_us")
      val exp = Anomaly.rateAnomaly(all, "ts_us", "t", bucketUs = B,
          window = 4, kSigma = 2)
        .as[(String, Long, Long, Long, Long, Int)].collect().toSet
        .filter(_._2 <= 9L)
      assert(got == exp && got.nonEmpty)
      // the spike bucket is flagged on the stream
      assert(got.contains(("a", 5L, 9L, 8L, 16L, 1)))
    } finally q.stop()
  }

  test("URL canonicalization runs on a stream identically to batch") {
    // the crawl-frontier key is a stateless scan projection (the
    // global ELECTION in urlDedup is batch-tier; a streaming frontier
    // checks the canonical key against persisted history, the
    // incrementalExact pattern) — canonicalUrl itself compiles onto a
    // stream unchanged
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.UrlOps
    val incoming = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/Path/?utm_source=x&id=2#f"),
      (2L, "http://site.org:8080/a"),
      (3L, "Site.net/A/b/"))
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "url")
      .select(col("id"), UrlOps.canonicalUrl(col("url")).as("canon"))
      .writeStream.format("memory").queryName("par_canon")
      .outputMode("append").start()
    try {
      input.addData(incoming)
      q.processAllAvailable()
      val got = spark.table("par_canon")
        .as[(Long, String)].collect().toSet
      assert(got == Set(
        (1L, "https://example.com/Path?id=2"),
        (2L, "http://site.org:8080/a"),
        (3L, "http://site.net/A/b")))
    } finally q.stop()
  }

  test("PII scrub redacts a stream identically to batch") {
    // the privacy gate is a stateless scan projection: the SAME
    // operator call compiles onto a MemoryStream, no state, identical
    // counts and redacted text
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Pii
    val incoming = Seq(
      (1L, "mail a@b.io and call 555-010-4242"),
      (2L, "host 10.0.0.1 ssn 123-45-6789"),
      (3L, "clean text"), (4L, ""))
    val input = MemoryStream[(Long, String)]
    val q = Pii.scrub(input.toDF().toDF("id", "text"), "text", "id")
      .writeStream.format("memory").queryName("par_pii")
      .outputMode("append").start()
    try {
      input.addData(incoming)
      q.processAllAvailable()
      val got = spark.table("par_pii")
        .as[(Long, Long, Long, Long, Long, String)].collect().toSet
      val exp = Pii.scrub(incoming.toDF("id", "text"), "text", "id")
        .as[(Long, Long, Long, Long, Long, String)].collect().toSet
      assert(got == exp && got.size == 4)
      assert(got.find(_._1 == 1L).get._6 ==
        "mail <EMAIL> and call <PHONE>")
    } finally q.stop()
  }

  test("HLL sketch aggregates inside a watermarked streaming window") {
    // the mergeable-sketch claim on a real streaming aggregation:
    // distinct users per 10-second tumbling window, watermark-finalized
    // — merge-order independence is what makes the custom
    // TypedImperativeAggregate legal here
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Hll
    val input = MemoryStream[(Long, Long)] // (ts_sec, user_id)
    val q = input.toDF().toDF("ts_sec", "user_id")
      .withColumn("ts", col("ts_sec").cast("timestamp"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(Hll.estimate(Hll.sketch(col("user_id"))).as("est"))
      .select(col("window.start").cast("long").as("w"), col("est"))
      .writeStream.format("memory").queryName("par_hll")
      .outputMode("append").start()
    try {
      input.addData((0 until 40).map(i => (i.toLong % 10, i.toLong % 7)))
      q.processAllAvailable()
      // advance the watermark past the first window to finalize it
      input.addData(Seq((25L, 999L)))
      q.processAllAvailable()
      val got = spark.table("par_hll").as[(Long, Long)].collect().toMap
      // window [0,10) saw users 0..6 -> exact at this cardinality
      assert(got.get(0L).contains(7L), s"got $got")
    } finally q.stop()
  }

  test("script profile runs on a stream identically to batch") {
    // one stateless codepoint-pass projection: the SAME operator call
    // compiles onto a MemoryStream — the ingest-side confusable gate
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val incoming = Seq(
      (1L, "plain latin text"), (2L, "привет spark мир"),
      (3L, "数据 12345"), (4L, ""))
    val input = MemoryStream[(Long, String)]
    val q = TextOps.scriptProfile(input.toDF().toDF("id", "text"),
        "text", "id")
      .writeStream.format("memory").queryName("par_script")
      .outputMode("append").start()
    try {
      input.addData(incoming)
      q.processAllAvailable()
      val got = spark.table("par_script").collect().toSet
      val exp = TextOps.scriptProfile(incoming.toDF("id", "text"),
        "text", "id").collect().toSet
      assert(got == exp && got.size == 4)
    } finally q.stop()
  }

  test("HTML main-text extraction runs on a stream identically to batch") {
    // since the zero-shuffle rewrite the whole operator is array HOFs
    // on one row — it compiles onto a stream with no state
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.HtmlOps
    val incoming = Seq(
      (1L, "<nav><a href='/'>a b c</a></nav><p>real words live here</p>"),
      (2L, "<p>short</p>"), (3L, ""))
    val input = MemoryStream[(Long, String)]
    val q = HtmlOps.extractMainText(input.toDF().toDF("id", "html"),
        "html", "id")
      .writeStream.format("memory").queryName("par_html")
      .outputMode("append").start()
    try {
      input.addData(incoming)
      q.processAllAvailable()
      val got = spark.table("par_html")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      val exp = HtmlOps.extractMainText(incoming.toDF("id", "html"),
          "html", "id")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      assert(got == exp && got.size == 3)
      assert(got.find(_._1 == 1L).get._2 == "real words live here")
    } finally q.stop()
  }

  test("C4 line filter runs on a stream identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val incoming = Seq(
      (1L, "A good long sentence with plenty of words here.\nno punct\n" +
        "Another proper sentence of the required length appears!"),
      (2L, "short.\nlines.\nonly."), (3L, "Lorem Ipsum is a page killer."))
    val input = MemoryStream[(Long, String)]
    val q = TextOps.c4LineFilter(input.toDF().toDF("id", "text"),
        "text", "id")
      .writeStream.format("memory").queryName("par_c4")
      .outputMode("append").start()
    try {
      input.addData(incoming)
      q.processAllAvailable()
      val got = spark.table("par_c4")
        .as[(Long, String, Long, Long, Int)].collect().toSet
      val exp = TextOps.c4LineFilter(incoming.toDF("id", "text"),
          "text", "id")
        .as[(Long, String, Long, Long, Int)].collect().toSet
      assert(got == exp && got.size == 3)
    } finally q.stop()
  }

  test("byte-level BPE token ids flow on a stream identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bpe
    val corpus = Seq((1L, "low low lower newest widest newest"))
      .toDF("id", "text")
    val model = Bpe.bpeTrainBytes(corpus, "text", nMerges = 4)
    val incoming = Seq((10L, "low lower"), (11L, "unseen tokens"),
      (12L, ""))
    val input = MemoryStream[(Long, String)]
    val q = Bpe.tokenIds(input.toDF().toDF("id", "text"), "text", "id",
        model)
      .writeStream.format("memory").queryName("par_bpe_ids")
      .outputMode("append").start()
    try {
      input.addData(incoming)
      q.processAllAvailable()
      val got = spark.table("par_bpe_ids")
        .as[(Long, Long, Long)].collect().toSet
      val exp = Bpe.tokenIds(incoming.toDF("id", "text"), "text", "id",
          model)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == exp && got.nonEmpty)
      assert(got.forall(_._3 >= 0L)) // byte fallback: total encoding
    } finally q.stop()
  }

  test("incremental-minhash foreachBatch loop == batch chain across 3 " +
      "micro-batches, surviving a checkpointed restart") {
    // the IncrementalIngestPipeline shape as a STREAM: each micro-batch
    // dedups against the accumulated signature history, then appends
    // the kept slice's signatures — must equal folding the same batches
    // through the batch operator bit-for-bit, including across a query
    // restart between micro-batches 1 and 2
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{DataFrame, Dataset}
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    def slice(i: Int): DataFrame = docs.filter(col("doc_id") % 4 === i)
    val seedSigs = Dedup.minhashSignatures(slice(0), "text", "doc_id",
      shingleK = 5, numHashes = 8)
    val histDir = java.nio.file.Files
      .createTempDirectory("mh-hist").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("mh-out").toString
    val ckDir = java.nio.file.Files
      .createTempDirectory("mh-ck").toString
    seedSigs.write.mode("overwrite").parquet(histDir)

    val input = MemoryStream[(Long, String)]
    def ingest(b: DataFrame): Unit = {
      val out = Dedup.incrementalMinhash(b,
          spark.read.parquet(histDir), "text", "doc_id",
          shingleK = 5, numHashes = 8, bands = 2, threshold = 0.5)
        .localCheckpoint() // history is about to change under it
      out.write.mode("append").parquet(outDir)
      val kept = b.join(out.filter(col("kept") === 1)
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      Dedup.minhashSignatures(kept, "text", "doc_id",
          shingleK = 5, numHashes = 8)
        .write.mode("append").parquet(histDir)
    }
    def start() = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckDir)
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        ingest(b.toDF()))
      .start()
    def rows(df: DataFrame) =
      df.select(col("id"), col("hist_jaccard"), col("is_new"),
        col("kept")).collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getInt(2), r.getInt(3))).toSeq
    def toPairs(df: DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val q1 = start()
    try {
      input.addData(toPairs(slice(1)))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start() // checkpointed restart between micro-batches
    try {
      input.addData(toPairs(slice(2)))
      q2.processAllAvailable()
      input.addData(toPairs(slice(3)))
      q2.processAllAvailable()
    } finally q2.stop()
    val streamed = rows(spark.read.parquet(outDir))

    // the same three batches folded through the batch operator
    var hist = seedSigs.localCheckpoint()
    val expected = (1 to 3).flatMap { i =>
      val b = slice(i)
      val out = Dedup.incrementalMinhash(b, hist, "text", "doc_id",
        shingleK = 5, numHashes = 8, bands = 2, threshold = 0.5)
        .localCheckpoint()
      val kept = b.join(out.filter(col("kept") === 1)
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      hist = hist.unionByName(Dedup.minhashSignatures(kept, "text",
        "doc_id", shingleK = 5, numHashes = 8)).localCheckpoint()
      rows(out)
    }
    assert(streamed.size == expected.size && streamed.nonEmpty)
    assert(streamed.sortBy(_._1) == expected.sortBy(_._1),
      "streaming foreachBatch loop diverged from the batch chain")
    // the restart really crossed history state: later batches must see
    // earlier batches' appended signatures (some history hit > seed-only)
    assert(streamed.exists(_._4 == 0), "no dedup occurred — fixture weak")
  }

  test("streaming exclusion {- b -} + SUBSET + WITH UNMATCHED ROWS == " +
      "batch, split mid-span across micro-batches") {
    // one statement composing the three round-11 constructs that only
    // had batch oracles: the excluded b row is matched-but-hidden
    // (never resurrected as unmatched), the SUBSET w measures span a
    // and c, and never-bound rows emit with NULL classifier once the
    // watermark passes their ts + WITHIN decision horizon. The
    // micro-batch boundary falls INSIDE the match (between the
    // excluded b and its c) and before the unmatched rows decide.
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type)
      (1L, 1000L, 1L, "A"), (2L, 2000L, 1L, "B"),   // batch 1
      (3L, 3000L, 1L, "C"), (4L, 4000L, 1L, "X"),   // batch 2
      (5L, 1500L, 2L, "A"))                          // batch 2, no c
    val ticks = Seq((91L, 30000L, 9L, "X"), (92L, 60000L, 9L, "X"))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES LAST(b.event_id) AS b_id, COUNT(w.*) AS w_n
         |  ALL ROWS PER MATCH WITH UNMATCHED ROWS
         |  PATTERN (a {- b -} c)
         |  SUBSET w = (a, c)
         |  WITHIN 10000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A', b AS event_type = 'B',
         |         c AS event_type = 'C'
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_uex_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_uex_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_uex_sink").start()
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2) :+ ticks(0): _*)
      q.processAllAvailable()
      input.addData(ticks(1))
      q.processAllAvailable()
      // the trailing ticks' own rows are still undecided on the
      // stream (no later watermark) — compare the real users only
      val streamed = spark.table("mr_uex_sink")
        .filter($"user_id" <= 2L)
        .select($"event_id", $"classifier", $"b_id", $"w_n")
        .as[(Long, Option[String], Option[Long], Option[Int])]
        .collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id", "event_type")
        .createOrReplaceTempView("mr_uex_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_uex_batch", "")))
        .filter($"user_id" <= 2L)
        .select($"event_id", $"classifier", $"b_id", $"w_n")
        .as[(Long, Option[String], Option[Long], Option[Int])]
        .collect().toSet
      assert(streamed == batch)
      assert(streamed == Set(
        (1L, Some("a"), Some(2L), Some(2)),   // match head
        (3L, Some("c"), Some(2L), Some(2)),   // match tail
        // e2 (the excluded b) appears NOWHERE: hidden, not unmatched
        (4L, None, None, None),               // never-bound X
        (5L, None, None, None)))              // a with no c in WITHIN
    } finally q.stop()
  }

  test("streaming AFTER MATCH SKIP TO LAST b == batch (resume point " +
      "inside the match, consumed seed straddles a micro-batch)") {
    // the three-mode fixture (A A B A C B C): skip-to-last-b emits
    // (1,3,5) then resumes AT row 3, consuming the a2 seed (which
    // arrived in an EARLIER micro-batch than the match's completion)
    // but keeping a4 alive for (4,6,7)
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, 1000L, 1L, "A"), (2L, 2000L, 1L, "A"),   // batch 1
      (3L, 3000L, 1L, "B"), (4L, 4000L, 1L, "A"),   // batch 2
      (5L, 5000L, 1L, "C"), (6L, 6000L, 1L, "B"),   // batch 3
      (7L, 7000L, 1L, "C"))
    val ticks = Seq((91L, 30000L, 9L, "X"))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
         |           c.event_id AS c_id
         |  AFTER MATCH SKIP TO LAST b
         |  PATTERN (a b c)
         |  WITHIN 100000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A', b AS event_type = 'B',
         |         c AS event_type = 'C'
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_skipto_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_skipto_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_skipto_sink").start()
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.slice(2, 4): _*)
      q.processAllAvailable()
      input.addData(rows.drop(4) ++ ticks: _*)
      q.processAllAvailable()
      val streamed = spark.table("mr_skipto_sink")
        .select($"a_id", $"b_id", $"c_id")
        .as[(Long, Long, Long)].collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id", "event_type")
        .createOrReplaceTempView("mr_skipto_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_skipto_batch", "")))
        .select($"a_id", $"b_id", $"c_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      // the a2 seed is consumed (its (2,3,5) is start-before-target),
      // a4 survives the resume-at-row-3 point
      assert(streamed == Set((1L, 3L, 5L), (4L, 6L, 7L)))
    } finally q.stop()
  }

  test("streaming == batch election when duplicate timestamps seed " +
      "different alternation branches (skip past last row)") {
    // round-15 regression for the round-14 judge counterexample shape:
    // two events share ONE timestamp and each can seed a different
    // alternation branch, both branches completing with the same
    // (start, end) span. The election must follow the (ts, tie) row
    // identity — NOT branch declaration order and NOT feed order — on
    // both executors. Group 1 has the b-row at the lower event_id,
    // group 2 the c-row, so the two matches elect OPPOSITE branches;
    // the same-ts twins of group 1 arrive in DIFFERENT micro-batches.
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type)
      (12L, 1000L, 1L, "B"),                         // batch 1
      (13L, 1000L, 1L, "C"), (14L, 2000L, 1L, "A"),  // batch 2
      (22L, 5000L, 1L, "C"),                         // batch 2
      (23L, 5000L, 1L, "B"), (24L, 6000L, 1L, "A"))  // batch 3
    val ticks = Seq((91L, 60000L, 9L, "X"))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES b.event_id AS b_id, c.event_id AS c_id,
         |           a.event_id AS a_id
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN ((b | c) a)
         |  WITHIN 30000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A', b AS event_type = 'B',
         |         c AS event_type = 'C'
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_samets_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_samets_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_samets_sink").start()
    try {
      input.addData(rows.take(1): _*)
      q.processAllAvailable()
      input.addData(rows.slice(1, 4): _*)
      q.processAllAvailable()
      input.addData(rows.drop(4) ++ ticks: _*)
      q.processAllAvailable()
      val streamed = spark.table("mr_samets_sink")
        .select($"b_id", $"c_id", $"a_id")
        .as[(Option[Long], Option[Long], Long)].collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id", "event_type")
        .createOrReplaceTempView("mr_samets_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_samets_batch", "")))
        .select($"b_id", $"c_id", $"a_id")
        .as[(Option[Long], Option[Long], Long)].collect().toSet
      assert(streamed == batch,
        s"same-ts election diverged: streaming=$streamed batch=$batch")
      // group 1: the B row has the lower tie (12 < 13) -> b branch;
      // group 2: the C row does (22 < 23) -> c branch
      assert(streamed == Set(
        (Some(12L), None, 14L),
        (None, Some(22L), 24L)))
    } finally q.stop()
  }

  test("streaming AFTER MATCH SKIP TO LAST <subset> == batch (the " +
      "resume member differs per match, boundary mid-match)") {
    // round-15 lift: the skip target is a SUBSET union — match 1
    // resolves the resume row to its b member, match 2 to its d
    // member. The A@25 seed lies between match 1's w row and its end:
    // consumed under SKIP PAST LAST ROW, alive here. Micro-batch
    // boundaries fall inside match 1 and before match 2's d row.
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type)
      (1L, 1000L, 1L, "A"), (2L, 2000L, 1L, "B"),   // batch 1
      (3L, 3000L, 1L, "C"), (4L, 2500L, 1L, "A"),   // batch 2
      (5L, 3500L, 1L, "D"),                          // batch 3
      (6L, 4000L, 1L, "C"))                          // batch 3
    val ticks = Seq((91L, 60000L, 9L, "X"))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
         |           d.event_id AS d_id, c.event_id AS c_id
         |  AFTER MATCH SKIP TO LAST w
         |  PATTERN (a (b | d) c)
         |  SUBSET w = (b, d)
         |  WITHIN 30000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A', b AS event_type = 'B',
         |         c AS event_type = 'C', d AS event_type = 'D'
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_skipsub_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_skipsub_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_skipsub_sink").start()
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.slice(2, 4): _*)
      q.processAllAvailable()
      input.addData(rows.drop(4) ++ ticks: _*)
      q.processAllAvailable()
      val streamed = spark.table("mr_skipsub_sink")
        .select($"a_id", $"b_id", $"d_id", $"c_id")
        .as[(Long, Option[Long], Option[Long], Long)].collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id", "event_type")
        .createOrReplaceTempView("mr_skipsub_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_skipsub_batch", "")))
        .select($"a_id", $"b_id", $"d_id", $"c_id")
        .as[(Long, Option[Long], Option[Long], Long)].collect().toSet
      assert(streamed == batch,
        s"skip-to-subset diverged: streaming=$streamed batch=$batch")
      assert(streamed == Set(
        (1L, Some(2L), None, 3L),
        (4L, None, Some(5L), 6L)))
    } finally q.stop()
  }

  test("streaming DEFINE expression aggregate == batch (running " +
      "SUM(t.x * t.y) splits across micro-batches)") {
    // the derived _mr_xagg column is a stateless projection on the
    // stream; the running fold rides the cross-variable marker in
    // keyed state. The t+ growth (products 4, 9-running, then 12
    // fails) straddles a micro-batch boundary.
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type, x, y)
      (1L, 1000L, 1L, "S", 0L, 0L), (2L, 2000L, 1L, "T", 2L, 2L), // b1
      (3L, 3000L, 1L, "T", 1L, 5L), (4L, 4000L, 1L, "T", 1L, 3L), // b2
      (5L, 5000L, 1L, "U", 0L, 0L))                               // b3
    val ticks = Seq((91L, 60000L, 9L, "X", 0L, 0L))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES s.event_id AS s_id, COUNT(t.*) AS n_t,
         |           u.event_id AS u_id
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (s t+ u)
         |  WITHIN 30000
         |  $streamingClauses
         |  DEFINE s AS event_type = 'S',
         |         t AS event_type = 'T' AND SUM(t.x * t.y) < 10,
         |         u AS event_type = 'U'
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String, Long, Long)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type",
        "x", "y")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_xagg_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_xagg_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_xagg_sink").start()
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.slice(2, 4): _*)
      q.processAllAvailable()
      input.addData(rows.drop(4) ++ ticks: _*)
      q.processAllAvailable()
      val streamed = spark.table("mr_xagg_sink")
        .select($"s_id", $"n_t", $"u_id")
        .as[(Long, Long, Long)].collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id",
          "event_type", "x", "y")
        .createOrReplaceTempView("mr_xagg_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_xagg_batch", "")))
        .select($"s_id", $"n_t", $"u_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"expr-agg diverged: streaming=$streamed batch=$batch")
      assert(streamed == Set((1L, 2L, 5L)))
    } finally q.stop()
  }

  test("streaming PREV/NEXT in DEFINE == batch across micro-batch " +
      "splits that separate a row from its PREV and NEXT") {
    // the V-shape with both navigations: down needs its PREDECESSOR's
    // price, up additionally its SUCCESSOR's. Rows are fed so that
    // e3's PREV (e2) was released in an EARLIER watermark batch (the
    // recent-ring path) and e4's NEXT (e5) arrives a batch LATER (the
    // hold-back path) — batch lag/lead must agree exactly.
    implicit val sqlCtx = spark.sqlContext
    val t1 = Seq( // (event_id, ts_ms, ticker, price)
      (1L, 1000L, 1L, 10.0), (2L, 2000L, 1L, 8.0),
      (3L, 30000L, 1L, 6.0), (4L, 40000L, 1L, 9.0),
      (5L, 65000L, 1L, 12.0))
    val ticks = Seq((91L, 15000L, 9L, 0.0), (92L, 55000L, 9L, 0.0),
      (93L, 90000L, 9L, 0.0))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY ticker
         |  ORDER BY ts_ms, event_id
         |  MEASURES strt.event_id AS s_id, down.event_id AS d_id,
         |           up.event_id AS u_id
         |  PATTERN (strt down up)
         |  WITHIN 100000
         |  $streamingClauses
         |  DEFINE strt AS true,
         |         down AS price < PREV(price),
         |         up AS price > PREV(price) AND NEXT(price) > price
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, Double)]
    input.toDF().toDF("event_id", "ts_ms", "ticker", "price")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_lag_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_lag_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_lag_sink").start()
    try {
      // batch 1 releases e1,e2; batch 2 releases e3 and HOLDS e4 (its
      // NEXT is unknown); batch 3 releases e5, which finalizes e4 with
      // prev = e3 (recent ring) and next = e5 (hold-back) — every
      // navigation edge crosses a micro-batch boundary
      input.addData(t1.take(2) :+ ticks(0): _*)
      q.processAllAvailable()
      input.addData(t1.slice(2, 4) :+ ticks(1): _*)
      q.processAllAvailable()
      input.addData(t1.drop(4) :+ ticks(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("mr_lag_sink")
        .select($"ticker", $"s_id", $"d_id", $"u_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      (t1 ++ ticks).toDF("event_id", "ts_ms", "ticker", "price")
        .createOrReplaceTempView("mr_lag_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_lag_batch", "")))
        .select($"ticker", $"s_id", $"d_id", $"u_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed == Set((1L, 1L, 2L, 4L), (1L, 2L, 3L, 4L)))
    } finally q.stop()
  }

  test("streaming cross-variable DEFINE + PREV/NEXT in one statement " +
      "== batch (cv ref and both navigations in the SAME predicate)") {
    // the round-13 composition: `down` is a pure-lag predicate
    // (decorator-computed flag), `up` mixes PREV, NEXT and a
    // cross-variable FIRST(strt.price) in one predicate — it must
    // evaluate per partial (ctxPred) against decorator-embedded lag
    // values. The cv condition provably bites: without it the V-shape
    // emits (1,2,4); with it seed-1's up must ALSO clear strt's price
    // (10.0), pushing the match out to e5.
    implicit val sqlCtx = spark.sqlContext
    val t1 = Seq( // (event_id, ts_ms, ticker, price)
      (1L, 1000L, 1L, 10.0), (2L, 2000L, 1L, 8.0),
      (3L, 30000L, 1L, 6.0), (4L, 40000L, 1L, 9.0),
      (5L, 65000L, 1L, 12.0), (6L, 70000L, 1L, 1.0))
    val ticks = Seq((91L, 15000L, 9L, 0.0), (92L, 55000L, 9L, 0.0),
      (93L, 78000L, 9L, 0.0), (94L, 120000L, 9L, 0.0))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY ticker
         |  ORDER BY ts_ms, event_id
         |  MEASURES strt.event_id AS s_id, down.event_id AS d_id,
         |           up.event_id AS u_id
         |  PATTERN (strt down up)
         |  WITHIN 100000
         |  $streamingClauses
         |  DEFINE strt AS true,
         |         down AS price < PREV(price),
         |         up AS price > PREV(price) AND NEXT(price) > 0
         |                AND price > FIRST(strt.price)
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, Double)]
    input.toDF().toDF("event_id", "ts_ms", "ticker", "price")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_cvlag_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_cvlag_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_cvlag_sink").start()
    try {
      // every navigation edge crosses a micro-batch boundary: e4's
      // NEXT (e5) and e5's NEXT (e6) each arrive a batch later than
      // the row whose predicate reads them
      input.addData(t1.take(2) :+ ticks(0): _*)
      q.processAllAvailable()
      input.addData(t1.slice(2, 4) :+ ticks(1): _*)
      q.processAllAvailable()
      input.addData(Seq(t1(4), ticks(2)): _*)
      q.processAllAvailable()
      input.addData(Seq(t1(5), ticks(3)): _*)
      q.processAllAvailable()
      val streamed = spark.table("mr_cvlag_sink")
        .filter($"ticker" === 1L)
        .select($"ticker", $"s_id", $"d_id", $"u_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      (t1 ++ ticks).toDF("event_id", "ts_ms", "ticker", "price")
        .createOrReplaceTempView("mr_cvlag_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_cvlag_batch", "")))
        .filter($"ticker" === 1L)
        .select($"ticker", $"s_id", $"d_id", $"u_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed == Set((1L, 1L, 2L, 5L), (1L, 2L, 3L, 4L)))
    } finally q.stop()
  }

  test("streaming WITH UNMATCHED ROWS + NEXT in DEFINE == batch (a " +
      "row's horizon passes while its match's NEXT is still withheld)") {
    // the round-13 composition: e2 (the b of the only match) is
    // NEXT-withheld across a micro-batch boundary while the global
    // watermark sails past e1's ts + WITHIN decision horizon. A naive
    // horizon-only decision would emit e1 as unmatched and then ALSO
    // bind it when e3 arrives and e2 finally feeds (double fate); the
    // held-frontier gate defers the decision instead. e3 then
    // exercises defer-then-unmatched: held behind e4 when its horizon
    // passes, decided (correctly unmatched) only once e4 releases it.
    implicit val sqlCtx = spark.sqlContext
    val t1 = Seq( // (event_id, ts_ms, ticker, event_type, price)
      (1L, 1000L, 1L, "A", 5.0), (2L, 2000L, 1L, "B", 5.0),
      (3L, 30000L, 1L, "X", 5.0), (4L, 75000L, 1L, "X", 5.0))
    val ticks = Seq((91L, 35000L, 9L, "X", 0.0),
      (92L, 80000L, 9L, "X", 0.0), (93L, 110000L, 9L, "X", 0.0))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY ticker
         |  ORDER BY ts_ms, event_id
         |  MEASURES FIRST(a.event_id) AS a_id
         |  ALL ROWS PER MATCH WITH UNMATCHED ROWS
         |  PATTERN (a b)
         |  WITHIN 10000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A',
         |         b AS event_type = 'B' AND NEXT(price) > 0
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    input.toDF().toDF("event_id", "ts_ms", "ticker", "event_type", "price")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_unlag_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_unlag_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_unlag_sink").start()
    try {
      // batch 1: e1 fed, e2 WITHHELD (no successor), tick91 pushes the
      // watermark to 25000 — past e1's horizon (11000) while the only
      // match that can bind e1 is still incomplete
      input.addData(t1.take(2) :+ ticks(0): _*)
      q.processAllAvailable()
      // batch 2: e3 arrives → e2 feeds with NEXT = e3, the (e1, e2)
      // match emits, e1/e2 decide BOUND; e3 now held behind nothing
      // yet (horizon 40000 < wm 70000 but frontier = 30000 defers it)
      input.addData(Seq(t1(2), ticks(1)): _*)
      q.processAllAvailable()
      // batch 3: e4 (ahead of the 70000 watermark, so not dropped as
      // late) buffers, then tick93's watermark releases it — e3 feeds
      // (no match) and decides UNMATCHED; e4 itself stays withheld
      // forever (excluded from the compare)
      input.addData(Seq(t1(3), ticks(2)): _*)
      q.processAllAvailable()
      val streamed = spark.table("mr_unlag_sink")
        .filter($"ticker" === 1L && $"event_id" <= 3L)
        .select($"event_id", $"classifier", $"a_id")
        .as[(Long, Option[String], Option[Long])].collect().toSet
      (t1 ++ ticks).toDF("event_id", "ts_ms", "ticker", "event_type",
          "price")
        .createOrReplaceTempView("mr_unlag_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_unlag_batch", "")))
        .filter($"ticker" === 1L && $"event_id" <= 3L)
        .select($"event_id", $"classifier", $"a_id")
        .as[(Long, Option[String], Option[Long])].collect().toSet
      assert(streamed == batch)
      assert(streamed == Set(
        (1L, Some("a"), Some(1L)),   // deferred past its horizon, BOUND
        (2L, Some("b"), Some(1L)),
        (3L, None, None)))           // deferred, then truly unmatched
    } finally q.stop()
  }

  test("streaming MATCH_NUMBER() == batch (start/end-inverted " +
      "overlapping matches held until numbering is final; both " +
      "executors)") {
    // the inversion fixture: a(v=10)@1s a(v=1)@2s X(5)@3s X(20)@4s
    // with c AS value > FIRST(a.value). The start-2 match completes
    // FIRST (at e3) but the standard numbers by (start, end): the
    // start-1 match (completing later, at e4) is #1. The stream holds
    // the early-completing match in state until the e1 partial
    // resolves — across a micro-batch boundary here.
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type, value)
      (1L, 1000L, 1L, "A", 10.0), (2L, 2000L, 1L, "A", 1.0),
      (3L, 3000L, 1L, "X", 5.0),                     // batch 1
      (5L, 1500L, 2L, "A", 1.0), (6L, 2500L, 2L, "X", 9.0), // batch 1
      (4L, 4000L, 1L, "X", 20.0))                    // batch 2
    // tick 1's watermark (3500) releases e1-e3 WITHOUT e4: the start-2
    // match completes and must sit HELD in checkpointed state across
    // the batch boundary while the start-1 partial is still live
    val ticks = Seq((91L, 13500L, 9L, "Z", 0.0),
      (92L, 30000L, 9L, "Z", 0.0), (93L, 60000L, 9L, "Z", 0.0))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES MATCH_NUMBER() AS mn, FIRST(a.event_id) AS a_id,
         |           LAST(c.event_id) AS c_id
         |  PATTERN (a c)
         |  WITHIN 10000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A',
         |         c AS event_type = 'X' AND value > FIRST(a.value)
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type",
        "value")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_mn_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_mn_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_mn_sink").start()
    try {
      input.addData(rows.take(5) :+ ticks(0): _*)
      q.processAllAvailable()
      input.addData(rows(5), ticks(1))
      q.processAllAvailable()
      input.addData(ticks(2))
      q.processAllAvailable()
      val streamed = spark.table("mr_mn_sink")
        .select($"user_id", $"mn", $"a_id", $"c_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id",
          "event_type", "value")
        .createOrReplaceTempView("mr_mn_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_mn_batch", "")))
        .select($"user_id", $"mn", $"a_id", $"c_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed == Set(
        (1L, 1L, 1L, 4L),   // starts first, completes LAST: still #1
        (1L, 2L, 2L, 3L),   // completed first, numbered second
        (2L, 1L, 5L, 6L)))  // numbering is per key
    } finally q.stop()

    // the programmatic streamingFull surface with a cross-variable
    // DEFINE: same held-match numbering
    def runCv(): Set[(Long, Long, Long)] = {
      val in2 = MemoryStream[(Long, Long, Long, String, Double)]
      val df = in2.toDF().toDF("event_id", "ts_ms", "user", "typ", "v")
        .withColumn("etc", timestamp_millis($"ts_ms"))
        .withWatermark("etc", "10 seconds")
      val out = graft.plans.MatchRecognize.streamingFull(df, Seq("user"),
        "ts_ms", "event_id",
        Seq(graft.plans.MatchRecognize.EStep("a", $"typ" === "A"),
          graft.plans.MatchRecognize.EStep("c", ($"typ" === "X") &&
            ($"v" > graft.plans.MatchRecognize.cvFirst("a", "v")))),
        eventTimeCol = "etc", withinTs = Some(10000L),
        withMatchSeq = true)
      val name = "mr_mn_cv"
      val q2 = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        in2.addData(rows.take(5) :+ ticks(0): _*)
        q2.processAllAvailable()
        in2.addData((rows.drop(5) ++ ticks.drop(1)): _*)
        q2.processAllAvailable()
        spark.table(name).filter($"user" <= 2L)
          .select($"user", $"match_seq",
            element_at($"c", 1).getField("event_id"))
          .as[(Long, Long, Long)].collect().toSet
      } finally q2.stop()
    }
    assert(runCv() == Set((1L, 1L, 4L), (1L, 2L, 3L), (2L, 1L, 6L)))
  }

  test("streaming PREV/NEXT in MEASURES == batch (lag values ride the " +
      "emitted slot structs; NEXT spans a micro-batch boundary)") {
    // MEASURES navigation reads a bound row's PARTITION-order
    // neighbors — rows the match never bound. On a stream the release
    // decorator fills the lag fields and exposeLags keeps them in the
    // output slots. user 1: the X before a and the Y after b are both
    // outside the match; user 2: a IS the partition head (PREV NULL).
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type, value)
      (1L, 500L, 1L, "X", 7.0), (2L, 1000L, 1L, "A", 1.0),
      (3L, 2000L, 1L, "B", 2.0),                    // batch 1
      (4L, 3000L, 1L, "Y", 9.0),                    // batch 2 (the NEXT)
      (5L, 1000L, 2L, "A", 3.0), (6L, 2000L, 2L, "B", 4.0),
      (7L, 3000L, 2L, "Z", 0.0))
    val ticks = Seq((91L, 30000L, 9L, "T", 0.0), (92L, 60000L, 9L, "T", 0.0))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES a.event_id AS a_id, PREV(a.value) AS pv,
         |           NEXT(b.value) AS nv, PREV(FIRST(a.value)) AS pf
         |  PATTERN (a b)
         |  WITHIN 10000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A', b AS event_type = 'B'
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type",
        "value")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_mnav_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_mnav_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_mnav_sink").start()
    try {
      input.addData(rows.take(3): _*)
      q.processAllAvailable()
      input.addData(rows.drop(3) :+ ticks(0): _*)
      q.processAllAvailable()
      input.addData(ticks(1))
      q.processAllAvailable()
      val streamed = spark.table("mr_mnav_sink")
        .select($"user_id", $"a_id", $"pv", $"nv", $"pf")
        .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
        .collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id",
          "event_type", "value")
        .createOrReplaceTempView("mr_mnav_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_mnav_batch", "")))
        .select($"user_id", $"a_id", $"pv", $"nv", $"pf")
        .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
        .collect().toSet
      assert(streamed == batch)
      assert(streamed == Set(
        (1L, 2L, Some(7.0), Some(9.0), Some(7.0)),
        (2L, 5L, None, Some(0.0), None)))  // partition head: PREV NULL
    } finally q.stop()
  }

  test("streaming own-variable DEFINE offsets (LAST(b.v,1) ascending " +
      "run) == batch") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type, v)
      (1L, 1000L, 1L, "A", 1L), (2L, 2000L, 1L, "X", 99L),
      (3L, 3000L, 1L, "A", 2L), (4L, 4000L, 1L, "B", 3L),
      (5L, 5000L, 1L, "X", 7L))
    val ticks = Seq((91L, 30000L, 9L, "T", 0L), (92L, 60000L, 9L, "T", 0L))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES s.event_id AS s_id, FIRST(b.event_id) AS b1,
         |           LAST(b.event_id) AS b2
         |  PATTERN (s b{2,2})
         |  WITHIN 10000
         |  $streamingClauses
         |  DEFINE s AS event_type = 'A',
         |         b AS event_type IN ('B', 'X')
         |           AND v > coalesce(LAST(b.v, 1), 0)
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String, Long)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type", "v")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_own_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_own_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_own_sink").start()
    try {
      input.addData(rows.take(4): _*)
      q.processAllAvailable()
      input.addData(rows.drop(4) :+ ticks(0): _*)
      q.processAllAvailable()
      input.addData(ticks(1))
      q.processAllAvailable()
      val streamed = spark.table("mr_own_sink")
        .select($"s_id", $"b1", $"b2")
        .as[(Long, Long, Long)].collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id",
          "event_type", "v")
        .createOrReplaceTempView("mr_own_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_own_batch", "")))
        .select($"s_id", $"b1", $"b2")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed == Set((3L, 4L, 5L)))
    } finally q.stop()
  }

  test("streaming WITH UNMATCHED ROWS + PREV/NEXT in MEASURES == " +
      "batch (unmatched pseudo-rows carry the widened slot schema)") {
    // exposeLags widens the emitted slot structs with lag fields; the
    // unmatched pseudo-row path must carry the same shape. Matched
    // rows repeat the FINAL navigation values; unmatched rows are all
    // NULL.
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type, value)
      (1L, 500L, 1L, "X", 7.0), (2L, 1000L, 1L, "A", 1.0),
      (3L, 2000L, 1L, "B", 2.0), (4L, 3000L, 1L, "Y", 9.0),
      // per-key trailing filler: the NEXT hold-back withholds a key's
      // LAST row forever, so rows 5-6 advance user 1's held frontier
      // past every earlier row's decision horizon (and stay undecided
      // themselves — excluded from the compare)
      (5L, 20000L, 1L, "T", 0.0), (6L, 25000L, 1L, "T", 0.0))
    val ticks = Seq((91L, 40000L, 9L, "T", 0.0), (92L, 80000L, 9L, "T", 0.0))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES PREV(a.value) AS pv, NEXT(b.value) AS nv
         |  ALL ROWS PER MATCH WITH UNMATCHED ROWS
         |  PATTERN (a b)
         |  WITHIN 10000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A', b AS event_type = 'B'
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type",
        "value")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_unnav_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_unnav_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_unnav_sink").start()
    try {
      input.addData(rows.take(3): _*)
      q.processAllAvailable()
      input.addData(rows.drop(3) :+ ticks(0): _*)
      q.processAllAvailable()
      input.addData(ticks(1))
      q.processAllAvailable()
      val streamed = spark.table("mr_unnav_sink")
        .filter($"user_id" === 1L && $"event_id" <= 4L)
        .select($"event_id", $"classifier", $"pv", $"nv")
        .as[(Long, Option[String], Option[Double], Option[Double])]
        .collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id",
          "event_type", "value")
        .createOrReplaceTempView("mr_unnav_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_unnav_batch", "")))
        .filter($"user_id" === 1L && $"event_id" <= 4L)
        .select($"event_id", $"classifier", $"pv", $"nv")
        .as[(Long, Option[String], Option[Double], Option[Double])]
        .collect().toSet
      assert(streamed == batch)
      assert(streamed == Set(
        (2L, Some("a"), Some(7.0), Some(9.0)),
        (3L, Some("b"), Some(7.0), Some(9.0)),
        (1L, None, None, None),
        (4L, None, None, None)))
    } finally q.stop()
  }

  test("one streaming statement composing MATCH_NUMBER() + PREV " +
      "navigation + CLASSIFIER() == batch (withMatchSeq and exposeLags " +
      "share the operator schema)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type, value)
      (1L, 500L, 1L, "X", 7.0), (2L, 1000L, 1L, "A", 1.0),
      (3L, 2000L, 1L, "B", 2.0), (4L, 3000L, 1L, "A", 3.0),
      (5L, 4000L, 1L, "B", 4.0), (6L, 5000L, 1L, "Z", 0.0))
    val ticks = Seq((91L, 30000L, 9L, "T", 0.0), (92L, 60000L, 9L, "T", 0.0))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES MATCH_NUMBER() AS mn, PREV(a.value) AS pv,
         |           CLASSIFIER() AS cls, a.event_id AS a_id
         |  PATTERN (a b)
         |  WITHIN 10000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A', b AS event_type = 'B'
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type",
        "value")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_mix_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_mix_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_mix_sink").start()
    try {
      input.addData(rows.take(3): _*)
      q.processAllAvailable()
      input.addData(rows.drop(3) :+ ticks(0): _*)
      q.processAllAvailable()
      input.addData(ticks(1))
      q.processAllAvailable()
      val streamed = spark.table("mr_mix_sink")
        .select($"mn", $"pv", $"cls", $"a_id")
        .as[(Long, Option[Double], String, Long)].collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id",
          "event_type", "value")
        .createOrReplaceTempView("mr_mix_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_mix_batch", "")))
        .select($"mn", $"pv", $"cls", $"a_id")
        .as[(Long, Option[Double], String, Long)].collect().toSet
      assert(streamed == batch)
      // PREV(a.value): the row before each a in PARTITION order (the
      // X before a1, the b of the first match before a2); CLASSIFIER
      // in ONE ROW mode = the last-bound variable (b)
      assert(streamed == Set(
        (1L, Some(7.0), "b", 2L),
        (2L, Some(2.0), "b", 4L)))
    } finally q.stop()
  }

  test("streaming var-qualified PREV in DEFINE == batch (navigation " +
      "from ANOTHER variable's bound row, lag straddles a batch cut)") {
    // PREV(a.price) = the partition row before a's bound row — on the
    // stream the lag value rides the release decorator's extended
    // payload and the cross-var marker reads it off a's binding. The
    // row CARRYING a's lag arrives a micro-batch before a itself.
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type, price)
      (1L, 1000L, 1L, "X", 10.0),                     // batch 1 (the lag row)
      (2L, 2000L, 1L, "A", 8.0),                      // batch 2 (a)
      (3L, 3000L, 1L, "B", 9.0), (4L, 4000L, 1L, "B", 11.0)) // batch 3
    val ticks = Seq((91L, 60000L, 9L, "X", 0.0))
    // b must beat the row BEFORE a (price 10), not a itself (8):
    // row 3 (9.0) fails, row 4 (11.0) completes — the distinction
    // between PREV(a.price) and a.price
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES a.event_id AS a_id, b.event_id AS b_id
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (a b)
         |  WITHIN 30000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A',
         |         b AS event_type = 'B' AND price > PREV(a.price)
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type",
        "price")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_vqnav_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_vqnav_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_vqnav_sink").start()
    try {
      input.addData(rows.take(1): _*)
      q.processAllAvailable()
      input.addData(rows.slice(1, 2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2) ++ ticks: _*)
      q.processAllAvailable()
      val streamed = spark.table("mr_vqnav_sink")
        .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id",
          "event_type", "price")
        .createOrReplaceTempView("mr_vqnav_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_vqnav_batch", "")))
        .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
      assert(streamed == batch,
        s"var-qualified nav diverged: streaming=$streamed batch=$batch")
      assert(streamed == Set((2L, 4L)))
    } finally q.stop()
  }

  test("streaming SUBSET-union offset in DEFINE == batch (merged k-th " +
      "selection over member markers, split across micro-batches)") {
    // merged order of s = (a, b) over a{2,2} b is [a1, a2, b]:
    // FIRST(s.v, 1) = a2's v (20). Only the C row with v > 20
    // completes; the micro-batch cut separates the two a's.
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts_ms, user_id, event_type, v)
      (1L, 1000L, 1L, "A", 10L),                      // batch 1
      (2L, 2000L, 1L, "A", 20L), (3L, 3000L, 1L, "B", 5L), // batch 2
      (4L, 4000L, 1L, "C", 15L), (5L, 5000L, 1L, "C", 25L)) // batch 3
    val ticks = Seq((91L, 60000L, 9L, "X", 0L))
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES LAST(a.event_id) AS a2_id, b.event_id AS b_id,
         |           c.event_id AS c_id
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (a{2,2} b c)
         |  SUBSET s = (a, b)
         |  WITHIN 30000
         |  $streamingClauses
         |  DEFINE a AS event_type = 'A', b AS event_type = 'B',
         |         c AS event_type = 'C' AND v > FIRST(s.v, 1)
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String, Long)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type", "v")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_suboff_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_suboff_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_suboff_sink").start()
    try {
      input.addData(rows.take(1): _*)
      q.processAllAvailable()
      input.addData(rows.slice(1, 3): _*)
      q.processAllAvailable()
      input.addData(rows.drop(3) ++ ticks: _*)
      q.processAllAvailable()
      val streamed = spark.table("mr_suboff_sink")
        .select($"a2_id", $"b_id", $"c_id")
        .as[(Long, Long, Long)].collect().toSet
      (rows ++ ticks).toDF("event_id", "ts_ms", "user_id",
          "event_type", "v")
        .createOrReplaceTempView("mr_suboff_batch")
      val batch = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_suboff_batch", "")))
        .select($"a2_id", $"b_id", $"c_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"union-offset diverged: streaming=$streamed batch=$batch")
      assert(streamed == Set((2L, 3L, 5L)))
    } finally q.stop()
  }

  test("streaming MATCH_NUMBER watermark fence: a match completing AT " +
      "the watermark emits via its wake timer once wm strictly passes") {
    // both rows share ts 5000; the tick advances the watermark to
    // EXACTLY 5000, so the match completes but is HELD (a same-ts
    // higher-tie event could still arrive and seed an earlier-sorting
    // match). The key then goes SILENT — only the registered
    // event-time wake timer (startTs + 1) can release it when a later
    // tick moves the watermark to 6000. Without the timer the number
    // would never emit.
    implicit val sqlCtx = spark.sqlContext
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES MATCH_NUMBER() AS mn, s.event_id AS s_id,
         |           t.event_id AS t_id
         |  PATTERN (s t)
         |  WITHIN 30000
         |  $streamingClauses
         |  DEFINE s AS event_type = 'S', t AS event_type = 'T'
         |)""".stripMargin
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_wmfence_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(stmt("mr_wmfence_stream", "EVENTTIME etc")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_wmfence_sink").start()
    try {
      input.addData((1L, 5000L, 1L, "S"), (2L, 5000L, 1L, "T"),
        (91L, 15000L, 9L, "X"))
      q.processAllAvailable()
      // wm is now exactly 5000: the match is complete but held
      val held = spark.table("mr_wmfence_sink")
        .filter($"user_id" === 1L).count()
      assert(held == 0L, "match emitted before the fence cleared")
      // no user-1 data ever again — only the timer can release
      input.addData((92L, 16000L, 9L, "X"))
      q.processAllAvailable()
      input.addData((93L, 17000L, 9L, "X"))
      q.processAllAvailable()
      val got = spark.table("mr_wmfence_sink")
        .filter($"user_id" === 1L)
        .select($"mn", $"s_id", $"t_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 1L, 2L)),
        s"held match never released by the wake timer: $got")
    } finally q.stop()
  }

  test("streaming MATCH_NUMBER + NEXT hold-back: a withheld same-ts " +
      "event blocks release until it feeds, keeping batch-key order") {
    // p (A, carrying a NEXT lookahead) and q (B) are same-ts
    // alternation branches; q's slot-size vector [0, 1] sorts BEFORE
    // p's [1, 0] at the equal span. The A feeds immediately (its
    // lookahead successor is the B), but the B is WITHHELD by the
    // NEXT decorator awaiting ITS successor. A tick then pushes the
    // watermark far past their ts — without the hold-back frontier in
    // the release fence the p-match would emit as #1, and the
    // q-match, completing when the successor finally arrives, would
    // get #2 despite sorting first (the round-16 advisor finding, at
    // engine level).
    implicit val sqlCtx = spark.sqlContext
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    val input = MemoryStream[(Long, Long, Long, String)]
    input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("etc", timestamp_millis($"ts_ms"))
      .withWatermark("etc", "10 seconds")
      .createOrReplaceTempView("mr_nnfence_stream")
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      parser.parsePlan(
        """SELECT * FROM mr_nnfence_stream MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts_ms, event_id
          |  MEASURES MATCH_NUMBER() AS mn, p.event_id AS p_id,
          |           q.event_id AS q_id
          |  PATTERN ((p | q))
          |  WITHIN 30000
          |  EVENTTIME etc
          |  DEFINE p AS event_type = 'A'
          |           AND coalesce(NEXT(event_id), -1) <> -2,
          |         q AS event_type = 'B'
          |)""".stripMargin))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mr_nnfence_sink").start()
    try {
      input.addData((1L, 5000L, 1L, "A"), (2L, 5000L, 1L, "B"))
      q.processAllAvailable()
      // the tick pushes wm to 60000, far past the matches' ts 5000 —
      // but the withheld B must keep BOTH matches unnumbered
      input.addData((91L, 70000L, 9L, "X"))
      q.processAllAvailable()
      val held = spark.table("mr_nnfence_sink")
        .filter($"user_id" === 1L).count()
      assert(held == 0L,
        "a match was numbered while a same-ts event sat in the NEXT " +
          "hold-back")
      // the B's successor arrives (it must itself pass the watermark
      // buffer, so two more ticks advance wm beyond it): the q-match
      // completes and numbers FIRST (batch-key order), the p-match
      // second
      input.addData((3L, 65000L, 1L, "C"))
      q.processAllAvailable()
      input.addData((92L, 90000L, 9L, "X"))
      q.processAllAvailable()
      input.addData((93L, 91000L, 9L, "X"))
      q.processAllAvailable()
      val got = spark.table("mr_nnfence_sink")
        .filter($"user_id" === 1L)
        .select($"mn", $"p_id", $"q_id")
        .as[(Long, Option[Long], Option[Long])].collect().toSet
      assert(got == Set((1L, None, Some(2L)), (2L, Some(1L), None)),
        s"numbering violated the batch key: $got")
    } finally q.stop()
  }

  /** The per-feature draw-counter keys asserted ≥1 on the default seed
    * (the statement fuzz's fixture-strength floor).
    */
  private val fuzzDrawKeys = Seq("exprAgg", "subsetSkip", "varNav",
    "nestedNav", "navExpr", "subsetOffset", "subsetExprAgg", "subsetNav",
    "nestedNavExpr", "anchorEnd", "univNav", "litNav", "mixedNav")

  /** One random MATCH_RECOGNIZE statement for the streaming parity
    * fuzz and the kill-restart soak — both face the SAME dialect
    * surface (and, on the default seed, the SAME statements).
    * Returns the statement builder plus this trial's per-feature draw
    * counts; rnd consumption order is part of the contract (the callers
    * replay identical seeds).
    *
    * Distinct per-variable types keep the live-partial count far below
    * maxPartials (an unbounded same-predicate `v0+ v1+` explodes into
    * 2^k subsequence alternatives, and beyond the cap the engine drops
    * alternatives best-effort — see DIALECT.md).
    */
  private def drawFuzzStatement(rnd: scala.util.Random, trial: Int)
      : ((String, String) => String, Map[String, Int]) = {
    val types = Vector("A", "B", "X")
    val quants = Vector("", "+", "{1,2}", "{2}", "{1,3}?", "+?")
    var draws = Map.empty[String, Int].withDefaultValue(0)
    def bump(k: String): Unit = draws = draws.updated(k, draws(k) + 1)
    val nVars = 1 + rnd.nextInt(2)
    val pat = (0 until nVars).map(i =>
      s"v$i${quants(rnd.nextInt(quants.length))}").mkString(" ")
    val shuffledTypes = rnd.shuffle(types)
    // a subset for the DEFINE-side draws whenever two variables
    // exist (all quants here are min >= 1, so both always bind)
    val defSubset = if (nVars == 2) Some("sfz") else None
    // DEFINE-conjunct draws across the dialect surface (rounds
    // 15-16): expression aggregates, var-qualified / nested /
    // expression PREV navigation, SUBSET offsets and SUBSET
    // expression aggregates. PREV only — a NEXT draw would need
    // per-key trailing filler (the hold-back withholds a partition's
    // final rows, the documented data-arrival latency).
    val defs = (0 until nVars).map { i =>
      val base = s"v$i AS event_type = '${shuffledTypes(i)}'"
      def anchor = s"v${rnd.nextInt(nVars)}"
      rnd.nextInt(8) match {
        case 0 =>
          bump("exprAgg")
          s"$base AND SUM(v$i.event_id * 2) < ${40 + rnd.nextInt(120)}"
        case 1 =>
          bump("varNav")
          s"$base AND coalesce(PREV($anchor.event_id), 0) < " +
            s"${10 + rnd.nextInt(30)}"
        case 2 =>
          bump("nestedNav")
          val sel = if (rnd.nextBoolean()) "FIRST" else "LAST"
          s"$base AND coalesce(PREV($sel($anchor.event_id), " +
            s"${1 + rnd.nextInt(2)}), 0) < ${10 + rnd.nextInt(30)}"
        case 3 =>
          bump("navExpr")
          s"$base AND coalesce(PREV($anchor.event_id + event_id)" +
            s", 0) < ${20 + rnd.nextInt(60)}"
        case 4 if defSubset.nonEmpty =>
          bump("subsetOffset")
          val sel = if (rnd.nextBoolean()) "FIRST" else "LAST"
          s"$base AND coalesce($sel(sfz.event_id, " +
            s"${rnd.nextInt(3)}), 0) < ${10 + rnd.nextInt(30)}"
        case 5 if defSubset.nonEmpty =>
          bump("subsetExprAgg")
          s"$base AND SUM(sfz.event_id * 2) < ${40 + rnd.nextInt(120)}"
        case 6 if defSubset.nonEmpty =>
          bump("subsetNav")
          s"$base AND coalesce(PREV(sfz.event_id), 0) < " +
            s"${10 + rnd.nextInt(30)}"
        case 7 =>
          bump("nestedNavExpr")
          val sel = if (rnd.nextBoolean()) "FIRST" else "LAST"
          s"$base AND coalesce(PREV($sel($anchor.event_id + " +
            s"event_id)), 0) < ${20 + rnd.nextInt(60)}"
        case _ => base
      }
    }
    // round-20 deterministic rotations (consume NO rnd — every seeded
    // draw stream is unchanged, like the anchorEnd rotation): the
    // round-19 distribution semantics and the round-20 literal shield,
    // exercised through the SAME batch-vs-streaming parity oracle.
    //   mixedNav: a navigation argument MIXING variables (distributed
    //     per qualifier) on the LAST variable's define;
    //   univNav: a fully-unqualified (universal-anchor) selector;
    //   litNav: a navigation argument CARRYING a string literal with
    //     dots / keywords / `first(`-shaped / escaped-quote content —
    //     shielded, so it must parse and stay inert.
    val defsRot = defs.zipWithIndex.map { case (d0, i) =>
      var d = d0
      if (i == nVars - 1 && nVars == 2 && trial % 3 == 1) {
        bump("mixedNav")
        d += s" AND coalesce(PREV(v0.event_id + v1.event_id, " +
          s"${1 + trial % 2}), 0) < ${60 + (trial * 7) % 80}"
      }
      if (i == 0 && trial % 3 == 2) {
        bump("univNav")
        d += s" AND coalesce(LAST(event_id * 2), 0) < " +
          s"${30 + (trial * 11) % 60}"
      }
      if (i == 0 && trial % 4 == 3) {
        bump("litNav")
        val lit = Vector("A.x", "first(", "prev not like",
          "don\\'t")((trial / 4) % 4)
        d += s" AND coalesce(LAST(CASE WHEN v0.event_type = '$lit' " +
          s"THEN v0.event_id * 1000 ELSE v0.event_id END), 0) " +
          s"< ${999 + (trial * 13) % 90}"
      }
      d
    }
    val defsJoined = defsRot.mkString(", ")
    // deterministic rotation for the two-vars-gated skip draw (a
    // pure random draw can starve it on an unlucky stream); v1's
    // last row is never the match's first row, so SKIP TO LAST over
    // the union is always legal here
    val (skipClause, skipSubsetDecl) =
      if (nVars == 2 && trial % 2 == 0) {
        bump("subsetSkip")
        ("AFTER MATCH SKIP TO LAST wfz", Some("wfz = (v0, v1)"))
      } else ("", None)
    val subsetDecls = defSubset.map(n => s"$n = (v0, v1)").toList ++
      skipSubsetDecl.toList
    val subsetClause =
      if (subsetDecls.isEmpty) ""
      else "SUBSET " + subsetDecls.mkString(", ")
    val mode = if (rnd.nextBoolean()) "MODE STRICT" else ""
    // drawn ONCE outside the statement builder: the builder runs
    // for both sides (and lazily in assert messages), and a draw
    // inside it would compare two DIFFERENT statements — the
    // harness bug this fuzz's first version shipped with
    val within = 5000 + rnd.nextInt(20000)
    // '$' end-anchor rotation (round 19): exercises the WITHIN
    // quiescence flush on both executors AND across kill-restarts
    // (the held buffer rides checkpointed state). Deterministic —
    // consumes NO rnd — so every existing seed's draw stream is
    // unchanged. The fixture users' rows are 2 s apart, far inside
    // every drawn WITHIN, so stream quiescence ≡ batch partition end
    // and parity holds; the >WITHIN-gapped tick user is outside the
    // compared key set.
    val anchorEnd = trial % 3 == 0
    if (anchorEnd) bump("anchorEnd")
    val patA = if (anchorEnd) s"$pat vend $$" else pat
    val defsA =
      if (anchorEnd) s"$defsJoined, vend AS event_type IS NOT NULL"
      else defsJoined
    val stmt = (table: String, streamingClauses: String) =>
      s"""SELECT * FROM $table MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts_ms, event_id
         |  MEASURES FIRST(v0.event_id) AS f_id
         |  ALL ROWS PER MATCH
         |  $skipClause
         |  PATTERN ($patA)
         |  $subsetClause
         |  WITHIN $within
         |  $streamingClauses
         |  $mode
         |  DEFINE $defsA
         |)""".stripMargin
    (stmt, draws)
  }

  test("seeded streaming parity fuzz: random statements produce " +
      "identical ALL ROWS output on the streaming executor") {
    implicit val sqlCtx = spark.sqlContext
    // fixed in-suite seed; soaks diversify via env (the per-feature
    // counter floor is only asserted on the default seed)
    val fuzzSeed = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong)
    val rnd = new scala.util.Random(fuzzSeed.getOrElse(424242L))
    val types = Vector("A", "B", "X")
    val rows = (1L to 36L).map { i =>
      (i, i * 1000L, 1L + (i % 2), types(rnd.nextInt(3)))
    }
    val ticks = Seq((91L, 300000L, 9L, "T"), (92L, 600000L, 9L, "T"))
    (rows ++ ticks).toDF("event_id", "ts_ms", "user_id", "event_type")
      .createOrReplaceTempView("mr_sfuzz_batch")
    val parser = new graft.plans.GraftSqlParser(
      spark.sessionState.sqlParser, spark)
    var checked = 0
    var totals = Map.empty[String, Int].withDefaultValue(0)
    // in-suite default 12; GRAFT_SOAK=1 raises to 24, GRAFT_FUZZ_TRIALS
    // overrides either
    val nTrials = Soak.knob("GRAFT_FUZZ_TRIALS", 12, 24)
    for (trial <- 1 to nTrials) {
      val (stmt, draws) = drawFuzzStatement(rnd, trial)
      draws.foreach { case (k, v) => totals = totals.updated(k, totals(k) + v) }
      val input = MemoryStream[(Long, Long, Long, String)]
      input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type")
        .withColumn("etc", timestamp_millis($"ts_ms"))
        .withWatermark("etc", "10 seconds")
        .createOrReplaceTempView("mr_sfuzz_stream")
      val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        parser.parsePlan(stmt("mr_sfuzz_stream", "EVENTTIME etc")))
      val name = s"mr_sfuzz_sink_$trial"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        val cut = 10 + rnd.nextInt(20)
        input.addData(rows.take(cut): _*)
        q.processAllAvailable()
        input.addData(rows.drop(cut) :+ ticks(0): _*)
        q.processAllAvailable()
        input.addData(ticks(1))
        q.processAllAvailable()
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.filter($"user_id" <= 2L)
            .select($"event_id", $"classifier", $"match_start",
              $"match_end", $"f_id")
            .as[(Long, String, Long, Long, Long)]
            .collect().sortBy(r => (r._1, r._3, r._4, r._2)).toSeq
        val streamed = canon(spark.table(name))
        val batch = canon(org.apache.spark.sql.GraftSqlBridge.ofRows(
          spark, parser.parsePlan(stmt("mr_sfuzz_batch", ""))))
        assert(streamed == batch,
          s"trial $trial diverged for ${stmt("mr_sfuzz_batch", "")}: " +
            s"stream=${streamed.size} batch=${batch.size}")
        checked += 1
      } finally q.stop()
    }
    assert(checked == nTrials,
      s"only $checked of $nTrials fuzz statements ran")
    if (fuzzSeed.isEmpty)
      assert(fuzzDrawKeys.forall(totals(_) >= 1), s"fixture weak: $totals")
    else println(s"[fuzz] seed=${fuzzSeed.get} draws=$totals")
  }

  test("randomized kill-restart soak: random statements killed after a " +
      "random micro-batch replay the uninterrupted output from the " +
      "RocksDB checkpoint") {
    // r17 VERDICT task 4: the crash-recovery fixture (CepSparkSpec)
    // kills ONE hand-built pattern at two hand-chosen cut points; this
    // soak draws statements from the shared fuzz generator, feeds them
    // in randomized micro-batch stages, and for each statement kills
    // the query at two RANDOM stage boundaries — mid-partial, mid-hold,
    // or mid-release, whatever the draw lands on — then asserts the
    // restored run's full emitted multiset equals the uninterrupted
    // control's. State-shape bugs under restore (a CepState field the
    // kryo round-trip loses or reinterprets) are the target class. The
    // soak runs under Spark's default checkpoint manager and under the
    // FileSystem-based one ControlPlane sets, each on its own session,
    // so the suite order cannot decide which one it runs under.
    for (manager <- CheckpointManagers.all)
      withClue(s"${manager.getSimpleName}: ") {
        killRestartSoak(CheckpointManagers.session(spark, manager))
      }
  }

  private def killRestartSoak(s: org.apache.spark.sql.SparkSession): Unit = {
    implicit val sqlCtx = s.sqlContext
    val fuzzSeed = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong)
    val rnd = new scala.util.Random(fuzzSeed.getOrElse(424242L))
    val types = Vector("A", "B", "X")
    val rows = (1L to 36L).map { i =>
      (i, i * 1000L, 1L + (i % 2), types(rnd.nextInt(3)))
    }
    val ticks = Seq((91L, 300000L, 9L, "T"), (92L, 600000L, 9L, "T"))
    val parser = new graft.plans.GraftSqlParser(
      s.sessionState.sqlParser, s)
    // in-suite default 3 statements (each runs 1 control + 2 kill-restart
    // passes, 5 query starts); GRAFT_SOAK=1 raises to the off-suite 8
    val nTrials = Soak.knob("GRAFT_FUZZ_TRIALS", 3, 8)
    // the default SQL dispatch (the flatMapGroupsWithState executor) on
    // the RocksDB state store: restore through the provider that keeps
    // state off the executor heap
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    for (trial <- 1 to nTrials) {
      val (stmt, _) = drawFuzzStatement(rnd, trial)
      // randomized stage plan, FIXED across this trial's runs: the
      // 36 rows in three chunks at random boundaries, then the two
      // flush ticks as their own stages
      val c1 = 6 + rnd.nextInt(12)
      val c2 = c1 + 6 + rnd.nextInt(12)
      val stages: Seq[Seq[(Long, Long, Long, String)]] = Seq(
        rows.take(c1), rows.slice(c1, c2), rows.drop(c2),
        Seq(ticks(0)), Seq(ticks(1)))
      // two distinct random cut points among the stage boundaries
      // that can hold live state (after stage 0..3)
      val cuts = rnd.shuffle((0 to 3).toVector).take(2)
      def run(killAfter: Option[Int]): Seq[(Long, String, Long, Long,
          Long)] = {
        import scala.jdk.CollectionConverters._
        val ck = java.nio.file.Files
          .createTempDirectory("mr_killfuzz_ck").toString
        val input = MemoryStream[(Long, Long, Long, String)]
        // memory sink refuses checkpoint recovery; foreachBatch keyed
        // by batch id is the recoverable path (an at-least-once replay
        // of the last batch overwrites instead of duplicating)
        val sink = new java.util.concurrent.ConcurrentHashMap[
          java.lang.Long, Seq[(Long, String, Long, Long, Long)]]()
        def startQuery() = {
          input.toDF().toDF("event_id", "ts_ms", "user_id", "event_type")
            .withColumn("etc", timestamp_millis($"ts_ms"))
            .withWatermark("etc", "10 seconds")
            .createOrReplaceTempView("mr_killfuzz_stream")
          org.apache.spark.sql.GraftSqlBridge.ofRows(s,
              parser.parsePlan(stmt("mr_killfuzz_stream", "EVENTTIME etc")))
            .writeStream.outputMode("append")
            .option("checkpointLocation", ck)
            .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => {
              sink.put(id, b.filter($"user_id" <= 2L)
                .select($"event_id", $"classifier", $"match_start",
                  $"match_end", $"f_id")
                .as[(Long, String, Long, Long, Long)].collect().toSeq)
              ()
            })
            .start()
        }
        var q = startQuery()
        try {
          for ((evs, si) <- stages.zipWithIndex) {
            input.addData(evs: _*)
            q.processAllAvailable()
            if (killAfter.contains(si)) {
              q.stop()
              q = startQuery() // resume from the RocksDB checkpoint
            }
          }
        } finally {
          q.stop()
          // r18 ADVICE: 3 checkpoint dirs per trial — env-raised
          // soaks would otherwise accumulate unbounded /tmp disk
          org.apache.commons.io.FileUtils
            .deleteQuietly(new java.io.File(ck)); ()
        }
        sink.asScala.toSeq.sortBy(_._1).flatMap(_._2)
          .sortBy(r => (r._1, r._3, r._4, r._2))
      }
      val control = run(None)
      for (cut <- cuts) {
        val restarted = run(Some(cut))
        assert(restarted == control,
          s"trial $trial cut-after-stage $cut diverged for " +
            s"${stmt("mr_killfuzz_stream", "EVENTTIME etc")}: " +
            s"restarted=${restarted.size} control=${control.size}")
      }
    }
  }
}
