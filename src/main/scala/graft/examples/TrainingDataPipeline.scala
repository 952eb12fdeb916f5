package graft.examples

import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.functions.{Hll, Text}
import graft.operators.{Bpe, CorpusWriter, Dedup, HtmlOps, Pii, Similarity, TextOps, UrlOps, Validate}

/** The 100 TB training-data pipeline composed end-to-end from the
  * library's operators: exact dedup → quality filter → language filter
  * → chunk-level dedup audit → near-duplicate removal → per-language
  * sample + sketch profile → embedding-space neighbor audit. Every
  * stage is a declarative DataFrame transform — at scale the same code
  * runs unchanged with more executors (no stage collects, no all-pairs
  * joins, fingerprint-only shuffles).
  *
  * Run: `sbt "runMain graft.examples.TrainingDataPipeline [sfDir]"`
  */
object TrainingDataPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession("ERROR")
    import spark.implicits._

    val raw = Tables.load(spark, sfDir, "documents")
    println(s"STAGE ingest          n=${raw.count()}")

    // -1. ingest VALIDATION gate (Deequ pattern): the batch must pass
    // its declared expectations before it touches the corpus — any
    // pass=0 verdict on a hard constraint aborts the run here
    val verdicts = Validate.check(raw, Seq(
      Validate.NotNull("text"), Validate.NotNull("doc_id"),
      Validate.Unique("doc_id"),
      Validate.InRange("n_chars", 1L, 1000000L),
      Validate.Satisfies("len_eq_n_chars", "length(text) = n_chars")))
      .collect()
    verdicts.foreach(v => println(
      s"STAGE validate        ${v.getString(0)}(${v.getString(1)}) " +
        s"violations=${v.getLong(3)} pass=${v.getInt(4)}"))
    require(verdicts.forall(_.getInt(4) == 1),
      "ingest batch failed its constraint suite — aborting")

    // -0.5. script-mixing gate: content-derived script profile; docs
    // whose letters mix scripts beyond 20% are confusable-spam or
    // mojibake candidates (this synthetic corpus is clean — the gate
    // drops nothing, which is itself the assertion)
    val scripts = TextOps.scriptProfile(raw, "text", "doc_id")
    val mixed = scripts.filter(col("mix_permille") > 200).count()
    println(s"STAGE script_gate     mixed=$mixed of ${raw.count()}")

    // 0. HTML boilerplate extraction — the web pipeline's step 0: the
    // corpus is already clean text, so wrap each doc in a synthetic
    // page (all-link nav + footer around the body) and extract the
    // main text back out; at 100 TB this stage shrinks every
    // downstream shuffle before any content work happens
    val pages = raw.withColumn("html", concat(
      lit("<nav><a href=\"/\">home</a> <a href=\"/a\">about</a> " +
        "<a href=\"/b\">contact</a></nav><p>"), col("text"),
      lit("</p><footer><a href=\"/t\">terms of use</a> " +
        "<a href=\"/p\">privacy policy</a> sitemap</footer>")))
    val extracted = HtmlOps.extractMainText(pages, "html", "doc_id")
    val boiler = extracted.agg(
      sum(col("n_blocks") - col("n_kept"))).collect()(0).getLong(0)
    println(s"STAGE html_extract    n=${extracted.count()} " +
      s"boilerplate_blocks_dropped=$boiler")

    // 0a. PII scrub — redact before anything else touches or
    // persists text (the privacy ordering rule); zero-shuffle scan
    val scrubbed = Pii.scrub(raw, "text", "doc_id")
    val piiDocs = scrubbed.filter(col("n_emails") + col("n_ssns") +
      col("n_ips") + col("n_phones") > 0).count()
    println(s"STAGE pii_scrub       n=${scrubbed.count()} " +
      s"docs_with_pii=$piiDocs")
    val docs = raw

    // 0c. image-modality near-dup: the corpus's assets (synthesized
    // here from text payloads) dHash once, MATERIALIZED so the
    // banding self-join never decodes twice, then Hamming pairs →
    // connected components → keep the smallest id per cluster
    val bin = raw.select(col("doc_id").as("id"),
      col("text").cast("binary").as("payload"))
      .as[graft.operators.Multimodal.BinAsset]
    val hashed = graft.operators.Multimodal.dHashAssets(bin).toDF()
      .filter(col("dhash").isNotNull).localCheckpoint()
    val imgPairs = Dedup.hammingPairs(hashed, "dhash", "id",
      maxHamming = 3, pieces = 4, maxBucket = 1000)
    val imgClusters = Dedup.connectedComponents(imgPairs, "id_a", "id_b")
    val imgDupes = imgClusters.filter(col("id") =!= col("cluster_id"))
      .count()
    println(s"STAGE image_neardup   pairs=${imgPairs.count()} " +
      s"dupes_droppable=$imgDupes")

    // 0b. domain front gate (C4/RefinedWeb order: before any content
    // work): synthesize provenance URLs (this corpus carries none),
    // drop blocklisted registrable domains via the broadcast anti
    // join, and report the surviving top-domain mixture
    val withUrl = docs.withColumn("url", concat(lit("https://www."),
      col("source"), (col("doc_id") % 10).cast("string"), lit(".com/p/"),
      col("doc_id").cast("string")))
    val blocked = Seq("src00.com", "src11.com").toDF("domain")
    val domGated = UrlOps.blocklistFilter(withUrl, "url", blocked)
    val topDom = UrlOps.domainMixture(domGated, "url", topK = 3)
      .collect().map(r => s"${r.getString(0)}=${r.getLong(2)}pm")
      .mkString(",")
    println(s"STAGE domain_gate     n=${domGated.count()} top=$topDom")

    // 1. exact dedup: fingerprint winner election, text never shuffles
    val exact = Dedup.exact(domGated.drop("url"), "text", "doc_id")
    println(s"STAGE exact_dedup     n=${exact.count()}")

    // 2. quality gate: token count + stopword ratio (native expressions)
    val f = Text.qualityFeatures(col("text"))
    val quality = exact
      .withColumn("n_tokens", f.getField("n_tokens"))
      .withColumn("sw", f.getField("stopword_ratio"))
      .filter(col("n_tokens") >= 10)
      .drop("n_tokens", "sw")
    println(s"STAGE quality_filter  n=${quality.count()}")

    // 3. language filter: n-gram marker language id
    val english = quality.filter(Text.langId(col("text")) === "en")
    println(s"STAGE lang_en         n=${english.count()}")

    // 3b. chunk-level novelty audit: fraction of 50-word chunks this doc
    // is the first to contribute corpus-wide (CCNet-style)
    val novelty = TextOps.chunkDedupStats(english, "text", "doc_id")
    val lowNovel = novelty.filter(col("n_kept") * 2 < col("n_chunks")).count()
    println(s"STAGE chunk_audit     low_novelty=$lowNovel")

    // 3c. exact-substring dedup (Lee et al. 2022 tier): arbitrary-
    // offset verbatim copies drop at word level — the layer the
    // chunk audit above only approximates; documents keep their
    // unique remainder
    val subDedup = TextOps.substringDedupRebuild(english, "text",
      "doc_id", k = 8)
    val removedWords = subDedup.agg(sum(col("n_removed_words")))
      .collect()(0).getLong(0)
    println(s"STAGE substring_dedup removed_words=$removedWords")

    // 4. near-dup removal: MinHash-LSH candidates, keep the lower doc_id
    val nearPairs = Dedup.minhashPairs(english, "text", "doc_id",
      threshold = 0.8)
    val losers = nearPairs.select(col("id_b").as("doc_id")).distinct()
    val kept = english.join(losers, Seq("doc_id"), "left_anti")
    println(s"STAGE near_dedup      n=${kept.count()} " +
      s"(removed ${losers.count()} near-dups)")

    // 4b. per-language profile + deterministic eyeball sample: HLL
    // distinct-user... distinct-document sketch per language (256 B of
    // state per group) and 3 reproducible docs per language for review
    val profile = kept.groupBy(col("lang"))
      .agg(Hll.sketch(col("doc_id")).as("r"), count(lit(1)).as("n"))
      .select(col("lang"), col("n"), Hll.estimate(col("r")).as("est_docs"))
    profile.collect().foreach(r =>
      println(s"STAGE profile         lang=${r.getString(0)} " +
        s"n=${r.getLong(1)} hll_est=${r.getLong(2)}"))
    val eyeball = TextOps.topKSample(kept, "doc_id", "lang", k = 3)
    println(s"STAGE eyeball_sample  n=${eyeball.count()}")

    // 4c. two-tier benchmark decontamination: an 8 KiB broadcast bloom
    // gates the corpus map-side (constant memory however large the
    // benchmark suite), and only the flagged fraction pays the exact
    // broadcast-gram verify — at 100 TB the exact join touches ~0.1%
    // of documents instead of all of them
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val gated = TextOps.bloomDecontaminate(kept, bench, "text", "doc_id")
      .filter(col("flagged") === 1)
    val flaggedDocs = kept.join(
      gated.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
    val confirmed = TextOps.decontaminate(flaggedDocs, bench, "text",
      "doc_id").filter(col("contaminated") === 1)
    println(s"STAGE decontaminate   bloom_flagged=${gated.count()} " +
      s"confirmed=${confirmed.count()}")

    // 4d. length-percentile gate: per-language p10 thresholds from the
    // mergeable quantile histogram, broadcast back as a scan-side filter
    val th = kept.groupBy(col("lang"))
      .agg(graft.functions.Quantiles.qhist(col("n_chars")).as("h"))
      .select(col("lang"),
        graft.functions.Quantiles.quantile(col("h"), 0.1).as("p10"))
    val longEnough = kept.join(broadcast(th), Seq("lang"))
      .filter(col("n_chars") >= col("p10"))
    println(s"STAGE length_gate     n=${longEnough.count()}")

    // 4e. perplexity band gate: bigram-LM entropy (trained on the
    // surviving corpus itself, integer-banked surprisal) in milli-nats;
    // the per-language p10/p90 band keeps the middle — boilerplate
    // falls below, gibberish above
    val lm = TextOps.bigramLmScore(longEnough, "text", "doc_id")
      .filter(col("n_bigrams") > 0)
      .select(col("id").as("doc_id"),
        floor(col("h_nats") * lit(1000.0)).cast("long").as("hm"))
    val scored = longEnough.join(lm, Seq("doc_id")).localCheckpoint()
    val band = scored.groupBy(col("lang"))
      .agg(graft.functions.Quantiles.qhist(col("hm")).as("h"))
      .select(col("lang"),
        graft.functions.Quantiles.quantile(col("h"), 0.1).as("lo"),
        graft.functions.Quantiles.quantileUb(col("h"), 0.9).as("hi"))
    val inBand = scored.join(broadcast(band), Seq("lang"))
      .filter(col("hm") >= col("lo") && col("hm") < col("hi"))
      .drop("hm", "lo", "hi")
    println(s"STAGE perplexity_gate n=${inBand.count()}")

    // 4f. temperature flattening (the multilingual p^α rule): head
    // languages downsample toward the flattened shares, the rarest
    // keeps everything — a real gate in the flow, α = 0.7
    val tempered = TextOps.temperatureSample(inBand, "doc_id", "lang",
        alphaPerMille = 700)
      .filter(col("kept") === 1).drop("kept")
    println(s"STAGE temperature     n=${tempered.count()}")

    // 4g. DSIR audit: a frozen importance model (target = src0) scores
    // the survivors — logw > 0 means "more plausible under the target
    // than the raw corpus"; the sampler (q106) would select on exactly
    // this score, here it rides as a data-card signal
    val dsirModel = TextOps.dsirTrain(tempered, "text", "doc_id",
      isTarget = col("source") === "src0")
    val dsirScored = TextOps.dsirScoreFrozen(tempered, "text", "doc_id",
      dsirModel)
    val targetLike = dsirScored.filter(col("logw_nats") > 0).count()
    println(s"STAGE dsir_audit      target_like=$targetLike " +
      s"of ${dsirScored.count()}")

    // 4h. source-overlap audit: shared distinct fingerprints per source
    // pair (mirrors/scrapes inflate mixtures and leak across splits);
    // diagonal rows carry each source's distinct-content count
    val dupMatrix = Dedup.crossSourceDupMatrix(tempered, "text", "source")
    val offDiag = dupMatrix.filter(col("src_a") =!= col("src_b")).count()
    println(s"STAGE source_overlap  off_diagonal_pairs=$offDiag")

    // 4i. tokenizer-induction statistics: the corpus-weighted adjacent
    // char pairs the first BPE merge would be chosen from
    val topPairs = TextOps.bpePairCounts(tempered, "text", topK = 3)
      .select(col("pair")).as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().mkString(",")
    println(s"STAGE bpe_stats       top_pairs=$topPairs")

    // 4j. real tokenizer counts: train the full BPE merge loop on the
    // surviving corpus (bounded top-V vocab collect), then count
    // tokens with the frozen encoder — the number that actually sizes
    // the training run
    val bpeModel = Bpe.bpeTrain(tempered, "text", nMerges = 8)
    val tokTotal = Bpe.tokenCounts(tempered, "text", "doc_id", bpeModel)
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    println(s"STAGE bpe_tokens      merges=${bpeModel.merges.size} " +
      s"total_tokens=$tokTotal")

    // 5. embedding-space audit: multi-probe LSH top-3 neighbors for a
    // query sample — the index-building shape for retrieval curation
    val emb = Tables.load(spark, sfDir, "embeddings")
    val sample = emb.filter(col("vec_id") % 100 === 0)
    val neighbors = Similarity.lshTopK(emb, sample, "embedding", "vec_id",
      dim = 64, k = 3, nPlanes = 8, multiProbe = 4)
    println(s"STAGE ann_audit       pairs=${neighbors.count()}")

    // 5b. production ANN index: k-means-trained coarse cells + product-
    // quantization codes, searched in the compressed domain (IVF-PQ) —
    // dim·4 bytes per vector collapse to m codes, candidates stay
    // cell-bounded, every float is externally replayable
    val ivfpq = Similarity.ivfPqTopK(emb, sample, "embedding", "vec_id",
      dim = 64, m = 2, k = 4, nCells = 8, nProbe = 2, topK = 3)
    println(s"STAGE ivf_pq_index    pairs=${ivfpq.count()}")

    // 5c. refine: ADC shortlist re-ranked by exact L2 over just the
    // candidates — compressed-domain recall, exact-domain precision
    val refined = Similarity.pqRerank(emb, sample, "embedding", "vec_id",
      dim = 64, m = 2, k = 4, topK = 3, rerankDepth = 10)
    println(s"STAGE pq_rerank       pairs=${refined.count()}")

    // 6. near-dup cluster retention: connected components over embedding
    // near-dup pairs, keep the longest member per cluster — "drop the
    // dupes" ends as a keep=1 filter, never a pairwise delete loop
    val pairs = Dedup.embeddingPairs(emb, "embedding", "vec_id",
      dim = 64, threshold = 0.35, nPlanes = 8)
    val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val members = docs.select(col("doc_id"), col("n_chars"))
      .join(clusters, docs("doc_id") === clusters("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("n_chars"), lit(0L)).as("q"))
    val elected = Dedup.electRetention(members, "doc_id", "cluster_id", "q")
    println(s"STAGE retention       kept=${
      elected.filter(col("keep") === 1).count()} of ${elected.count()}")

    // 7. materialization plan: deterministic train/val/test split, a
    // salted global-shuffle key, and token-budget sequence packing —
    // the curated corpus leaves as write-ready pack assignments
    // (`repartitionByRange(file_idx).sortWithinPartitions(shuffle_key)`
    // at the writer; no global rank, no driver state)
    val splits = TextOps.splitAssign(tempered, "doc_id",
      Seq(("train", 900), ("val", 50), ("test", 50)), nFiles = 8)
    val trainIds = splits.filter(col("split") === "train")
      .select(col("id").as("doc_id"))
    // data recipe: the curated train split repeats 1.5 epochs (every doc
    // once, a salted-hash half once more); each copy gets its own pack
    // identity (uid = id·stride + copy) so the replicas REALLY reach
    // the packer instead of collapsing back onto one doc_id. The stride
    // is DERIVED from the epochs parameter (next power of two above the
    // copy count) — a hardcoded stride silently collides ids once
    // epochs outgrow it; ids must stay below Long.MaxValue/stride
    val epochsPerMille = 1500
    val maxCopies = (epochsPerMille + 999) / 1000
    val stride = java.lang.Integer.highestOneBit(
      math.max(1, 2 * maxCopies - 1)).toLong
    val recipe = TextOps.epochUpsample(
      tempered.join(trainIds, Seq("doc_id"), "left_semi"), "doc_id",
      epochsPerMille = epochsPerMille)
    println(s"STAGE epoch_recipe    rows=${recipe.count()}")
    val packInput = recipe
      .withColumn("uid", col("id") * stride + col("epoch_copy"))
      .join(tempered.select(col("doc_id").as("id"), col("text"),
        col("lang")), Seq("id"))
    val packs = TextOps.packSequences(packInput,
      "text", "uid", "lang", budget = 2048, shards = 4)
    println(s"STAGE materialize     train=${trainIds.count()} " +
      s"packs=${packs.select(col("pack_id")).distinct().count()}")

    // 6.5. the EVAL split packs NON-SPLITTING (a val doc must land
    // whole in one pack — truncating an eval prompt mid-document
    // corrupts the benchmark): depth-2 histogram pairing
    val valIds = splits.filter(col("split") === "val")
      .select(col("id").cast("long").as("doc_id"))
    val valPacks = TextOps.packPairs(
      tempered.join(valIds, Seq("doc_id"), "left_semi"),
      "text", "doc_id", budget = 2048)
    val nValPacks = valPacks.select(col("pack_id")).distinct().count()
    println(s"STAGE val_pack_pairs  docs=${valPacks.count()} " +
      s"packs=$nValPacks")

    // 7. execute the layout: the split dirs and the packed train
    // stream land on disk as partitioned parquet (one shuffle each,
    // one file per partition dir, deterministic in-file order)
    val outRoot = java.nio.file.Files
      .createTempDirectory("graft-corpus").toString
    // atomically: staging write + manifest commit, so a mid-job crash
    // can never leave a torn tree a trainer would half-read; reads go
    // through readCommitted, which verifies the manifest
    CorpusWriter.publishSplits(tempered, "doc_id", s"$outRoot/splits",
      Seq(("train", 900), ("val", 50), ("test", 50)), nFiles = 8)
    CorpusWriter.publishPacked(packInput, "text", "uid", "lang",
      budget = 2048, outDir = s"$outRoot/packed", shards = 4)
    val wrote = CorpusWriter.readCommitted(spark, s"$outRoot/splits")
      .count()
    val wrotePacked = CorpusWriter
      .readCommitted(spark, s"$outRoot/packed").count()
    println(s"STAGE corpus_write    split_rows=$wrote " +
      s"packed_rows=$wrotePacked dir=$outRoot (manifest-committed)")

    // 8. the DATA CARD: every audit relation this pipeline printed,
    // shipped WITH the corpus as one section-partitioned parquet —
    // the machine-readable provenance record a consumer diffs between
    // corpus versions (audit-to-artifact, not just stdout)
    val fertility = Bpe.tokenCounts(tempered, "text", "doc_id", bpeModel)
      .join(tempered.select(col("doc_id").cast("long").as("id"),
        col("lang")), Seq("id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"))
    val clusterHist = Dedup.clusterSizeProfile(
      members.select(col("cluster_id")), "cluster_id")
    val piiCard = scrubbed.select(explode(array(
        struct(lit("emails").as("category"), col("n_emails").as("n")),
        struct(lit("ssns").as("category"), col("n_ssns").as("n")),
        struct(lit("ips").as("category"), col("n_ips").as("n")),
        struct(lit("phones").as("category"), col("n_phones").as("n"))))
        .as("x"))
      .select(col("x.category").as("category"), col("x.n").as("n"))
      .groupBy(col("category")).agg(sum(col("n")).as("n_total"))
    val validateCard = Validate.check(tempered, Seq(
      Validate.NotNull("text"), Validate.Unique("doc_id"),
      Validate.Satisfies("len_eq_n_chars", "length(text) = n_chars")))
    val scriptCard = TextOps.scriptProfile(tempered, "text", "doc_id")
      .groupBy(col("main_script"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("mix_permille")).as("sum_mix_permille"))
    CorpusWriter.writeDataCard(Seq(
      ("validate_verdicts", validateCard),
      ("script_profile", scriptCard),
      ("pii_stats", piiCard),
      ("lang_profile", profile),
      ("domain_stats", UrlOps.domainStats(withUrl, "url", "text")),
      ("cluster_sizes", clusterHist),
      ("tokenizer_fertility", fertility),
      ("split_sizes", splits.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs")))),
      s"$outRoot/data_card")
    val cardSections = spark.read.parquet(s"$outRoot/data_card")
      .select(col("section")).distinct().count()
    val cardRows = spark.read.parquet(s"$outRoot/data_card").count()
    println(s"STAGE data_card       sections=$cardSections rows=$cardRows")

    println("PIPELINE-DONE")
    spark.stop()
  }
}
