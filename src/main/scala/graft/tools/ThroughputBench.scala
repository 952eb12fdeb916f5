package graft.tools

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.cep.{Cep, GAlt, GPerm, GVar, NestedGroup, PatternDef, Step}

/** Streaming micro-batch throughput measurement against BASELINE.md's
  * working targets (events table replayed as a stream): stateless
  * operator ≥ 1e5 events/s/core, CEP pattern operator ≥ 1e4
  * events/s/core. Run ad hoc:
  * `SPARK_GRAFT_CPUS=4 sbt "runMain graft.tools.ThroughputBench"`.
  * Prints one JSON line.
  */
object ThroughputBench {

  final case class TpEvt(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String, value: Double)
  final case class TpOut(user_id: Long, a_id: Long, b_id: Long)
  final case class TpDoc(doc_id: Long, text: String, lang: String,
      source: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.GraftSession.cpus
    val ss = graft.GraftSession("ERROR")
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    implicit val evtEnc: Encoder[TpEvt] = Encoders.product[TpEvt]

    // sort by (ts_us, event_id): parquet row order is NOT time order, and
    // an out-of-order feed would let the watermark (1 s delay) silently
    // drop late CEP events, inflating the measured events/s
    val base = graft.Tables.eventsTsUs(ss, sfDir)
      .select($"event_id", $"ts_us", $"user_id", $"event_type", $"value")
      .as[TpEvt].collect().toIndexedSeq
      .sortBy(e => (e.ts_us, e.event_id))
    // replicate the table along the time axis so micro-batch fixed cost
    // amortizes and the number reflects SUSTAINED events/s: each copy is
    // shifted past the previous one (ordering and pattern semantics keep)
    val copies = sys.env.getOrElse("SPARK_GRAFT_TP_COPIES", "10").toInt
    val span = base.map(_.ts_us).max + 1L
    val nBase = base.length.toLong
    val events = (0 until copies).flatMap { c =>
      base.map(e => e.copy(event_id = e.event_id + c * nBase,
        ts_us = e.ts_us + c * span))
    }
    val chunks = events.grouped(500000).toIndexedSeq

    def drive[O](start: org.apache.spark.sql.Dataset[O] =>
        org.apache.spark.sql.streaming.StreamingQuery,
        mk: MemoryStream[TpEvt] => org.apache.spark.sql.Dataset[O]): Double = {
      val input = MemoryStream[TpEvt]
      val q = start(mk(input))
      // warm the query machinery before timing — with DISJOINT events
      // shifted to negative time, so the warm-up cannot advance the
      // watermark past (and silently drop) the timed events
      val warm = base.take(100).zipWithIndex.map { case (e, i) =>
        e.copy(event_id = -1000L + i, ts_us = -1000000000000L + i)
      }
      input.addData(warm)
      q.processAllAvailable()
      val t0 = System.nanoTime()
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      val dt = (System.nanoTime() - t0) / 1e9
      q.stop()
      events.length / dt
    }

    def memSink[O](name: String)(ds: org.apache.spark.sql.Dataset[O]) =
      ds.writeStream.outputMode("append").format("noop")
        .queryName(name).start()

    // CEP pattern: click -> purchase per user (watermarked event time)
    val pat = PatternDef[TpEvt](IndexedSeq(
      Step[TpEvt]("a", _.event_type == "click"),
      Step[TpEvt]("b", _.event_type == "purchase")),
      withinMs = Some(600000000L))
    implicit val outEnc: Encoder[TpOut] = Encoders.product[TpOut]
    val build = (k: Long, m: graft.cep.PatternMatch[TpEvt]) =>
      Iterator.single(TpOut(k, m.head("a").event_id, m.head("b").event_id))
    def cepInput(in: MemoryStream[TpEvt]) = in.toDS()
      .withColumn("etc", timestamp_micros($"ts_us"))
      .withWatermark("etc", "1 second").as[TpEvt]
    def cepLeg(name: String): Double = drive[TpOut](memSink(name), in =>
      Cep.streaming[TpEvt, Long, TpOut](cepInput(in),
        _.user_id, pat, _.ts_us, _.event_id, tsScale = 1000L)(build))

    // one untimed pass of the cep leg: drive's 100-event warm-up leaves
    // the CEP kernel's JIT warm-up inside the first CEP leg it times
    cepLeg("tp_cep_warm")

    // stateless: filter + projection + scalar expressions
    val statelessEps = drive[TpEvt](memSink("tp_stateless"), in =>
      in.toDS().filter($"value" > 0.25)
        .withColumn("tag", concat($"event_type", lit("_"),
          $"user_id".cast("string")))
        .as[TpEvt])

    val cepEps = cepLeg("tp_cep")

    // the quantified-group element on the same workload —
    // (click purchase){1,2} per user; per-event cost adds the group's
    // inner-position bookkeeping to the Step baseline
    val gpat = PatternDef[TpEvt](IndexedSeq(NestedGroup[TpEvt](
      IndexedSeq(GVar(Step[TpEvt]("a", _.event_type == "click")),
        GVar(Step[TpEvt]("b", _.event_type == "purchase"))), 1, 2)),
      withinMs = Some(600000000L))
    val groupEps = drive[TpOut](memSink("tp_cep_group"), in =>
      Cep.streaming[TpEvt, Long, TpOut](cepInput(in),
        _.user_id, gpat, _.ts_us, _.event_id, tsScale = 1000L)(build))

    // PERMUTE and alternation groups on the same workload, null-safe
    // output (an alternation iteration may leave one side's slot empty)
    val buildSafe = (k: Long, m: graft.cep.PatternMatch[TpEvt]) =>
      Iterator.single(TpOut(k,
        m.get("a").headOption.map(_.event_id).getOrElse(-1L),
        m.get("b").headOption.map(_.event_id).getOrElse(-1L)))
    // quantified PERMUTE(click, purchase){1,2}: any-order iterations
    val ppat = PatternDef[TpEvt](IndexedSeq(NestedGroup[TpEvt](
      IndexedSeq(GPerm(IndexedSeq(Step[TpEvt]("a", _.event_type == "click"),
        Step[TpEvt]("b", _.event_type == "purchase")))), 1, 2)),
      withinMs = Some(600000000L))
    val permSeqEps = drive[TpOut](memSink("tp_cep_permseq"), in =>
      Cep.streaming[TpEvt, Long, TpOut](cepInput(in),
        _.user_id, ppat, _.ts_us, _.event_id, tsScale = 1000L)(buildSafe))
    // quantified alternation (click|purchase){2,2}: routed iterations
    val apat = PatternDef[TpEvt](IndexedSeq(NestedGroup[TpEvt](
      IndexedSeq(GAlt(Step[TpEvt]("a", _.event_type == "click"),
        Step[TpEvt]("b", _.event_type == "purchase"))), 2, 2)),
      withinMs = Some(600000000L))
    val altSeqEps = drive[TpOut](memSink("tp_cep_altseq"), in =>
      Cep.streaming[TpEvt, Long, TpOut](cepInput(in),
        _.user_id, apat, _.ts_us, _.event_id, tsScale = 1000L)(buildSafe))
    // AFTER MATCH SKIP TO LAST b on the two-step pattern: per-match
    // candidate sort + survivor filter on the live partial set
    val spat = PatternDef[TpEvt](IndexedSeq(
      Step[TpEvt]("a", _.event_type == "click"),
      Step[TpEvt]("b", _.event_type == "purchase")),
      withinMs = Some(600000000L), skipToVar = Some(("b", false)))
    val skipToEps = drive[TpOut](memSink("tp_cep_skipto"), in =>
      Cep.streaming[TpEvt, Long, TpOut](cepInput(in),
        _.user_id, spat, _.ts_us, _.event_id, tsScale = 1000L)(buildSafe))

    // MATCH_NUMBER() numbering on the two-step pattern: each
    // completed match rides the held buffer until no earlier-starting
    // partial remains, then releases stamped from the per-key counter
    // — measures the deferral + numbering cost over the plain path
    val buildNum = (k: Long, m: graft.cep.PatternMatch[TpEvt]) =>
      Iterator.single(TpOut(k, m.seq, m.head("b").event_id))
    val mnEps = drive[TpOut](memSink("tp_cep_matchnum"), in =>
      Cep.streaming[TpEvt, Long, TpOut](cepInput(in),
        _.user_id, pat, _.ts_us, _.event_id, tsScale = 1000L,
        numberMatches = Cep.Numbering.BatchOrder)(buildNum))

    // streaming cross-variable DEFINE (the interpreted per-partial
    // evaluator on the full-row streamingFull envelope): purchase
    // priced above its click — the q175 comparison shape
    val cvEps = drive[org.apache.spark.sql.Row](
      memSink("tp_cep_crossvar"), in => {
        val df = in.toDS().toDF()
          .withColumn("etc", timestamp_micros($"ts_us"))
          .withWatermark("etc", "1 second")
        graft.plans.MatchRecognize.streamingFull(df, Seq("user_id"),
          "ts_us", "event_id",
          Seq(graft.plans.MatchRecognize.EStep("a",
              $"event_type" === "click"),
            graft.plans.MatchRecognize.EStep("b",
              ($"event_type" === "purchase") && ($"value" >
                graft.plans.MatchRecognize.cvLast("a", "value")))),
          eventTimeCol = "etc", withinTs = Some(600000000L),
          tsScale = 1000L)
      })

    // WITH UNMATCHED ROWS tracking: every non-click/purchase event
    // rides the undecided buffer and emits a pseudo-row at its horizon
    // — the output-heaviest CEP shape
    val buildUn = (k: Long, m: graft.cep.PatternMatch[TpEvt]) =>
      Iterator.single(
        if (m.groups.contains(Cep.UnmatchedSlot))
          TpOut(k, -1L, m.head(Cep.UnmatchedSlot).event_id)
        else TpOut(k, m.head("a").event_id, m.head("b").event_id))
    val unmatchedEps = drive[TpOut](memSink("tp_cep_unmatched"), in =>
      Cep.streaming[TpEvt, Long, TpOut](cepInput(in),
        _.user_id, pat, _.ts_us, _.event_id, tsScale = 1000L,
        unmatchedWithin = Some(600000000L))(buildUn))

    // watermark-finalized anomaly scorer: keyed state per type is an
    // open-bucket map + 24 longs — measured as sustained events/s
    val anomEps = drive[graft.operators.Anomaly.AnomalyRow](
      memSink("tp_anomaly"), in =>
        graft.operators.Anomaly.rateAnomalyStream(in.toDF(), "ts_us",
          "event_type"))

    // frozen curation scorers on a DOCUMENT stream: models train once
    // in batch, scoring is the claimed stateless scan projection —
    // measured here as sustained docs/s (each doc ≈ 100 tokens)
    implicit val docEnc: Encoder[TpDoc] = Encoders.product[TpDoc]
    val docsStatic = ss.read.parquet(s"$sfDir/documents.parquet")
    val docBase = docsStatic
      .select($"doc_id", $"text", $"lang", $"source").as[TpDoc]
      .collect().toIndexedSeq
    val docCopies = sys.env.getOrElse("SPARK_GRAFT_TP_DOC_COPIES", "40").toInt
    val nDocBase = docBase.length.toLong
    val docFeed = (0 until docCopies).flatMap { c =>
      docBase.map(d => d.copy(doc_id = d.doc_id + c * nDocBase))
    }
    val docChunks = docFeed.grouped(100000).toIndexedSeq

    def driveDocs(mk: MemoryStream[TpDoc] =>
        org.apache.spark.sql.DataFrame): Double = {
      val input = MemoryStream[TpDoc]
      val q = mk(input).writeStream.outputMode("append").format("noop")
        .start()
      input.addData(docBase.take(100))
      q.processAllAvailable()
      val t0 = System.nanoTime()
      docChunks.foreach { c => input.addData(c); q.processAllAvailable() }
      val dt = (System.nanoTime() - t0) / 1e9
      q.stop()
      docFeed.length / dt
    }

    val perceptron = graft.operators.Classifier.perceptronTrain(
      docsStatic, "text", "doc_id",
      label = col("source") === "src0", buckets = 1024, epochs = 2)
    val perceptronDps = driveDocs(in =>
      graft.operators.Classifier.perceptronScore(in.toDF(), "text",
        "doc_id", perceptron))

    val dsir = graft.operators.TextOps.dsirTrain(docsStatic, "text",
      "doc_id", isTarget = col("source") === "src0")
    val dsirDps = driveDocs(in =>
      graft.operators.TextOps.dsirScoreFrozen(in.toDF(), "text",
        "doc_id", dsir))

    val rates = Map("en" -> 500000L, "de" -> 250000L, "fr" -> 250000L,
      "es" -> 250000L, "zh" -> 125000L)
    val ratesDps = driveDocs(in =>
      graft.operators.TextOps.applySampleRates(in.toDF(), "doc_id",
        "lang", rates))

    val bpe = graft.operators.Bpe.bpeTrain(docsStatic, "text", nMerges = 8)
    val bpeDps = driveDocs(in =>
      graft.operators.Bpe.tokenCounts(in.toDF(), "text", "doc_id", bpe))

    // the token-ID artifact itself on a stream (byte-level model):
    // stateless encode + posexplode — emits ~100 rows per doc, the
    // heaviest output shape of the frozen scorers
    val bpeBytes = graft.operators.Bpe.bpeTrainBytes(docsStatic, "text",
      nMerges = 8)
    val bpeIdsDps = driveDocs(in =>
      graft.operators.Bpe.tokenIds(in.toDF(), "text", "doc_id", bpeBytes))

    // PII scrub on a stream: chained regex projections, zero shuffle
    val piiDps = driveDocs(in =>
      graft.operators.Pii.scrub(in.toDF(), "text", "doc_id"))

    // script profile on a stream: one codepoint-pass kernel + integer
    // election, zero shuffle — the ingest-side confusable gate
    val scriptDps = driveDocs(in =>
      graft.operators.TextOps.scriptProfile(in.toDF(), "text", "doc_id"))

    println(s"""{"metric":"streaming_throughput","unit":"events_per_sec",""" +
      s""""cores":$cpus,"n_events":${events.length},""" +
      s""""stateless":${statelessEps.round},""" +
      s""""stateless_per_core":${(statelessEps / cpus).round},""" +
      s""""cep":${cepEps.round},"cep_per_core":${(cepEps / cpus).round},""" +
      s""""cep_group":${groupEps.round},""" +
      s""""cep_group_per_core":${(groupEps / cpus).round},""" +
      s""""cep_permseq":${permSeqEps.round},""" +
      s""""cep_permseq_per_core":${(permSeqEps / cpus).round},""" +
      s""""cep_altseq":${altSeqEps.round},""" +
      s""""cep_altseq_per_core":${(altSeqEps / cpus).round},""" +
      s""""cep_skipto":${skipToEps.round},""" +
      s""""cep_skipto_per_core":${(skipToEps / cpus).round},""" +
      s""""cep_matchnum":${mnEps.round},""" +
      s""""cep_matchnum_per_core":${(mnEps / cpus).round},""" +
      s""""cep_crossvar":${cvEps.round},""" +
      s""""cep_crossvar_per_core":${(cvEps / cpus).round},""" +
      s""""cep_unmatched":${unmatchedEps.round},""" +
      s""""cep_unmatched_per_core":${(unmatchedEps / cpus).round},""" +
      s""""rate_anomaly":${anomEps.round},""" +
      s""""rate_anomaly_per_core":${(anomEps / cpus).round},""" +
      s""""n_docs":${docFeed.length},""" +
      s""""perceptron_docs":${perceptronDps.round},""" +
      s""""perceptron_docs_per_core":${(perceptronDps / cpus).round},""" +
      s""""dsir_frozen_docs":${dsirDps.round},""" +
      s""""dsir_frozen_docs_per_core":${(dsirDps / cpus).round},""" +
      s""""sample_rates_docs":${ratesDps.round},""" +
      s""""sample_rates_docs_per_core":${(ratesDps / cpus).round},""" +
      s""""bpe_encode_docs":${bpeDps.round},""" +
      s""""bpe_encode_docs_per_core":${(bpeDps / cpus).round},""" +
      s""""bpe_token_ids_docs":${bpeIdsDps.round},""" +
      s""""bpe_token_ids_docs_per_core":${(bpeIdsDps / cpus).round},""" +
      s""""pii_scrub_docs":${piiDps.round},""" +
      s""""pii_scrub_docs_per_core":${(piiDps / cpus).round},""" +
      s""""script_profile_docs":${scriptDps.round},""" +
      s""""script_profile_docs_per_core":${(scriptDps / cpus).round}}""")
    ss.stop()
  }
}
