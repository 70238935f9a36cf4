package graft.pipeline

import graft.functions.TextFns
import graft.operators.dedup._
import graft.operators.image._
import graft.operators.ml.QualityClassifier
import graft.operators.text._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, min, repeat, reverse}
import scala.jdk.CollectionConverters._

/** YAML-config-driven pipeline construction — reference parity with
  * framework/config.py + registry.py (the reference defines entire
  * pipelines in YAML with `stages[].operators[].{name,params}`).
  * Jackson's YAML dataformat ships with Spark, so the exact reference
  * config shape parses here; stages flatten into one lazy Pipeline
  * (Catalyst fuses them — stage boundaries are an orchestration concept
  * the Spark engine doesn't need).
  */
object OperatorRegistry {

  type Params = Map[String, Any]
  private def str(p: Params, k: String, d: String): String =
    p.get(k).map(_.toString).getOrElse(d)
  private def int(p: Params, k: String, d: Int): Int =
    p.get(k).map(_.toString.toInt).getOrElse(d)
  private def dbl(p: Params, k: String, d: Double): Double =
    p.get(k).map(_.toString.toDouble).getOrElse(d)
  private def bool(p: Params, k: String, d: Boolean): Boolean =
    p.get(k).map(_.toString.toBoolean).getOrElse(d)
  private def strs(p: Params, k: String): Seq[String] = p.get(k) match {
    case Some(l: Seq[_]) => l.map(_.toString)
    case _ => Nil
  }

  /** Operator name → builder. Names match the reference registry where
    * the operator exists there. */
  val builders: Map[String, Params => PipelineOp] = Map(
    "text_length_filter" -> (p => FilterOp("text_length_filter",
      df => TextLengthFilter(int(p, "min_length", 0),
        p.get("max_length").map(_.toString.toInt),
        str(p, "text_field", "text")).predicate(df))),

    "url_filter" -> (p => FilterOp("url_filter",
      _ => UrlFilter(
        urlCol = str(p, "url_field", "url"),
        blocklistDomains = strs(p, "blocklist_domains"),
        scoreThreshold = dbl(p, "score_threshold", 0.5),
        excludeQualitySources = bool(p, "exclude_quality_sources", false)).predicate)),

    "text_exact_deduplicator" -> (p => DedupOp("text_exact_deduplicator",
      _ => ExactDedup(str(p, "text_field", "text"),
        str(p, "id_field", "doc_id"),
        includeUrl = bool(p, "include_url", false),
        urlCol = str(p, "url_field", "url")).key,
      str(p, "id_field", "doc_id"))),

    // reads its input twice (candidate pairs, anti join), so a fused
    // chain cuts it once: configs/example_text_curation.yaml fused at
    // sf0.01, local[4], min-of-6, ran 1.78 s / 31 jobs uncut and
    // 1.56 s / 22 jobs with this cut
    "minhash_deduplicator" -> (p => RefineOp("minhash_deduplicator", df =>
      MinHashLSH(int(p, "num_hashes", 12), int(p, "bands", 4),
        int(p, "shingle_size", 3), str(p, "text_field", "text"),
        str(p, "id_field", "doc_id"))(graft.operators.Lineage.cut(df)))),

    // keep-first on the exploded-token SimHash scale path (signatures:
    // codegen'd md5 + bit tests with map-side combine), NOT the per-row
    // HOF signature (interpreted per token). Docs too short to sign
    // (blank text) carry no near-dup signal and pass through.
    "simhash_deduplicator" -> (p => RefineOp("simhash_deduplicator", { df =>
      val id = str(p, "id_field", "doc_id")
      val sigs = SimHash(int(p, "nbits", 16), str(p, "text_field", "text"), id)
        .signatures(df)
      val losers = sigs.join(
        sigs.groupBy("simhash").agg(min(col(id)).as(id)),
        Seq("simhash", id), "left_anti")
      df.join(losers.select(col(id)), Seq(id), "left_anti")
    })),

    "repetition_filter" -> (p => RefineOp("repetition_filter", df =>
      RepetitionScorer(str(p, "text_field", "text"), str(p, "id_field", "doc_id"))(
        df, dbl(p, "max_dup_word_frac", 0.5), dbl(p, "max_top_bigram_frac", 0.2)))),

    "perplexity_filter" -> (p => RefineOp("perplexity_filter", df =>
      PerplexityScorer(str(p, "text_field", "text"), str(p, "id_field", "doc_id"))(
        df, dbl(p, "max_perplexity", 1000.0)))),

    "quality_scorer" -> (p => RefineOp("quality_scorer",
      QualityScorer(str(p, "text_field", "text"))(_))),

    // C4 line-level cleaning (Raffel 2020 §2.2): drops junk lines,
    // replaces text with the cleaned join, drops pages failing the
    // page rules; line/page signal columns retained
    "c4_cleaner" -> (p => RefineOp("c4_cleaner",
      df => graft.operators.text.C4Cleaner(
        minLineWords = int(p, "min_line_words", 5),
        minKeptLines = int(p, "min_kept_lines", 3),
        textCol = str(p, "text_field", "text"))(df))),

    // Gopher rule bundle (Rae 2021 Table A1): keeps passing docs with
    // their g_* signal columns; thresholds and the stopword list are
    // the paper's unless overridden
    "gopher_quality_filter" -> (p => RefineOp("gopher_quality_filter",
      df => graft.operators.text.GopherQualityFilter(
        minWords = int(p, "min_words", 50),
        maxWords = int(p, "max_words", 100000),
        minMeanWordLen = dbl(p, "min_mean_word_len", 3.0),
        maxMeanWordLen = dbl(p, "max_mean_word_len", 10.0),
        maxSymbolRatio = dbl(p, "max_symbol_ratio", 0.1),
        maxBulletLineRatio = dbl(p, "max_bullet_line_ratio", 0.9),
        maxEllipsisLineRatio = dbl(p, "max_ellipsis_line_ratio", 0.3),
        minAlphaWordRatio = dbl(p, "min_alpha_word_ratio", 0.8),
        stopWords = if (p.contains("stop_words")) strs(p, "stop_words")
          else graft.operators.text.GopherQualityFilter.DefaultStopWords,
        minStopWords = int(p, "min_stop_words", 2),
        textCol = str(p, "text_field", "text"))(df))),

    "pii_redactor" -> (p => RefineOp("pii_redactor",
      PiiRedactor(str(p, "text_field", "text"))(_))),

    // corpus-level boilerplate removal (lines recurring across >=
    // min_docs documents are stripped everywhere)
    "cross_doc_line_deduper" -> (p => RefineOp("cross_doc_line_deduper",
      df => CrossDocLineDedup(int(p, "min_docs", 10),
        str(p, "id_field", "doc_id"), str(p, "text_field", "text"))(df)
        .join(df.drop(str(p, "text_field", "text")),
          Seq(str(p, "id_field", "doc_id"))))),

    "line_deduper" -> (p => RefineOp("line_deduper",
      LineDeduper(str(p, "text_field", "text"))(_))),

    // Lee-et-al duplicated-span removal: cut every copy of a recurring
    // n-gram span except its canonical first occurrence
    "duplicated_span_remover" -> (p => RefineOp("duplicated_span_remover",
      df => DuplicatedSpanRemover(int(p, "n", 3),
        int(p, "min_count", 2).toLong,
        str(p, "id_field", "doc_id"), str(p, "text_field", "text"))(df)
        .join(df.drop(str(p, "text_field", "text")),
          Seq(str(p, "id_field", "doc_id"))))),

    "hash_sampler" -> (p => FilterOp("hash_sampler",
      _ => HashSampler(str(p, "id_field", "doc_id"),
        int(p, "buckets", 100), str(p, "seed", "graft"))
        .bucket < int(p, "keep_buckets", 10))),

    // domain mixing: params {weights: {src: prop, ...}, budget: N}
    "mixture_sampler" -> (p => RefineOp("mixture_sampler",
      df => MixtureSampler(str(p, "id_field", "doc_id"),
        str(p, "source_field", "source"), str(p, "seed", "graft"))
        .sample(df,
          p.getOrElse("weights", Map.empty[String, Any])
            .asInstanceOf[Map[String, Any]]
            .map { case (k, v) => k -> v.toString.toDouble },
          p.getOrElse("budget", "1000").toString.toLong))),

    // token-budget fill: params {budgets: {src: tokens, ...},
    // default_budget: N, shards: K} — budgets count TOKENS, not
    // documents; shards > 1 splits each source into K salted
    // sub-shards (the skew escape hatch for one giant source)
    "token_budget_sampler" -> (p => RefineOp("token_budget_sampler",
      df => {
        val sampler = TokenBudgetSampler(str(p, "id_field", "doc_id"),
          str(p, "source_field", "source"), str(p, "seed", "graft"))
        val toks = graft.functions.TextFns.wsTokenCount(
          org.apache.spark.sql.functions.col(str(p, "text_field", "text")))
        val budgets = p.getOrElse("budgets", Map.empty[String, Any])
          .asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.toString.toLong }
        val dflt = p.getOrElse("default_budget", "0").toString.toLong
        int(p, "shards", 1) match {
          case 1 => sampler.sample(df, toks, budgets, dflt)
          case k => sampler.sampleSharded(df, toks, budgets, k, dflt)
        }
      })),

    // delta-ingest exact dedup: params {hash_index_path: <parquet dir
    // of (__h) content-hash rows>} — drop rows whose normalized md5 is
    // already in the persisted corpus hash set, keep-first within the
    // frame (the day-2 re-crawl capstone's exact stage)
    "incremental_exact_deduplicator" -> (p => RefineOp(
      "incremental_exact_deduplicator",
      df => RecrawlOps.exactSurvivors(
        df.sparkSession.read.parquet(p("hash_index_path").toString)
          .select("__h"),
        df, str(p, "id_field", "doc_id"), str(p, "text_field", "text")))),

    // delta-ingest near-dup dedup: params {index_path: <parquet dir of
    // (doc_id, band, bucket) rows>} — the incoming frame dedups against
    // the persisted corpus index without re-reading corpus text
    "incremental_minhash_deduplicator" -> (p => RefineOp(
      "incremental_minhash_deduplicator",
      df => {
        val lsh = graft.operators.dedup.MinHashLSH(
          numHashes = int(p, "num_hashes", 12), bands = int(p, "bands", 4),
          shingleSize = int(p, "shingle_size", 3),
          textCol = str(p, "text_field", "text"),
          idCol = str(p, "id_field", "doc_id"))
        val index = df.sparkSession.read.parquet(
          p("index_path").toString)
        graft.operators.dedup.IncrementalMinHashDedup(lsh)
          .survivors(index, df)
      })),

    "language_id" -> (p => RefineOp("language_id",
      LanguageId(str(p, "text_field", "text"))(_))),

    "token_counter" -> (p => RefineOp("token_counter",
      TokenCounter(str(p, "text_field", "text"))(_))),

    "fingerprinter" -> (p => RefineOp("fingerprinter",
      Fingerprinter(int(p, "k", 8), str(p, "text_field", "text"))(_))),

    "quality_classifier" -> (p => RefineOp("quality_classifier",
      QualityClassifier(str(p, "text_field", "text"))(_))),

    // test-corpus helper: derives an opaque binary column from a string
    // column (the synthetic tables ship no real image bytes)
    "synthetic_image_column" -> (p => RefineOp("synthetic_image_column",
      df => df.withColumn(str(p, "image_field", "image"),
        col(str(p, "text_field", "text")).cast("binary")))),

    // test-corpus helper like synthetic_image_column: derive audio (a
    // real WAV container whose samples are the text bytes) and video
    // (repeated payload) columns so multimodal configs run end to end
    // on the text corpus
    // per-modality source columns: a real multimodal row's audio and
    // video come from different payloads, so each derivation names its
    // own source (both default to text_field)
    "synthetic_media_columns" -> (p => RefineOp("synthetic_media_columns",
      df => df
        .withColumn(str(p, "audio_field", "audio"),
          graft.operators.image.AudioKernels.textWav(
            col(str(p, "audio_text_field", str(p, "text_field", "text")))))
        .withColumn(str(p, "video_field", "video"),
          repeat(col(str(p, "video_text_field", str(p, "text_field", "text"))), 4)
            .cast("binary")))),

    // test-corpus helper: a deterministic caption RELATED to the image
    // payload but not identical (reverse keeps the global byte
    // statistics, permutes the positional quarters), so the dual-tower
    // clip_score_filter genuinely splits the corpus instead of scoring
    // every self-pair 1.0
    "synthetic_caption_column" -> (p => RefineOp("synthetic_caption_column",
      df => df.withColumn(str(p, "caption_field", "caption"),
        reverse(col(str(p, "text_field", "text")))))),

    // attaches the 60-bit content phash column phash_hamming_dedup
    // consumes (the synthetic-payload stand-in hash; columns holding
    // decodable image bytes use image_real_phash_deduplicator's
    // ImageKernels.realPhash through the same field instead)
    "image_phash_refiner" -> (p => RefineOp("image_phash_refiner",
      df => df.withColumn(str(p, "phash_field", "phash"),
        ImagePhashDedup(str(p, "image_field", "image"))
          .phash(col(str(p, "image_field", "image")))))),

    "image_metadata_refiner" -> (p => RefineOp("image_metadata_refiner",
      ImageMetadata(str(p, "image_field", "image"))(_))),

    "image_technical_quality_refiner" -> (p => RefineOp("image_technical_quality_refiner",
      ImageTechnicalQuality(str(p, "image_field", "image"))(_))),

    "image_quality_filter" -> (p => FilterOp("image_quality_filter",
      _ => ImageQualityFilter(int(p, "min_width", 256), int(p, "min_height", 256),
        dbl(p, "max_compression_artifacts", 0.8),
        dbl(p, "min_information_entropy", 3.0)).predicate)),

    "image_phash_deduplicator" -> (p => DedupOp("image_phash_deduplicator",
      _ => ImagePhashDedup(str(p, "image_field", "image"))
        .phash(col(str(p, "image_field", "image"))),
      str(p, "id_field", "doc_id"))),

    "image_visual_degradations_refiner" -> (p => RefineOp("image_visual_degradations_refiner",
      VisualDegradations(str(p, "image_field", "image"))(_))),

    // real-codec variants (JDK javax.imageio; for columns holding actual
    // PNG/JPEG/BMP bytes rather than the synthetic stand-ins)
    "image_real_metadata_refiner" -> (p => RefineOp("image_real_metadata_refiner",
      ImageKernels.withRealMetadata(_, str(p, "image_field", "image")))),

    "image_real_phash_deduplicator" -> (p => DedupOp("image_real_phash_deduplicator",
      _ => ImageKernels.realPhash(col(str(p, "image_field", "image"))),
      str(p, "id_field", "doc_id"))),

    // decoded-pixel technical quality: luminance-histogram entropy +
    // reference-parity 8×8 blockiness and combined artifact score
    // (ImageKernels.blockiness / artifactScore) — the real-kernel twin
    // of image_technical_quality_refiner, same output column names as
    // the reference refiner so image_quality_filter composes downstream
    "image_real_technical_quality_refiner" -> (p => RefineOp(
      "image_real_technical_quality_refiner", { df =>
        val img = col(str(p, "image_field", "image"))
        df.withColumn("image_information_entropy", ImageKernels.realEntropy(img))
          .withColumn("image_blockiness", ImageKernels.realBlockiness(img))
          .withColumn("image_compression_artifacts", ImageKernels.realArtifactScore(img))
      })),

    "image_aesthetic_quality_refiner" -> (p => RefineOp("image_aesthetic_quality_refiner",
      AestheticAigc(str(p, "image_field", "image"),
        dbl(p, "aigc_threshold", 0.5))(_))),

    // the TRAINED aesthetic regressor (AestheticTrainer) through the
    // BatchInference slot
    "image_trained_aesthetic_refiner" -> (p => RefineOp("image_trained_aesthetic_refiner",
      df => df.join(
        graft.operators.ml.AestheticModel(df,
          idCol = str(p, "id_field", "doc_id"),
          imageCol = str(p, "image_field", "image")),
        Seq(str(p, "id_field", "doc_id"))))),

    // the TRAINED AIGC detector (AigcTrainer: camera-pipeline vs
    // pristine renders) through the BatchInference slot
    "image_aigc_detector_refiner" -> (p => RefineOp("image_aigc_detector_refiner",
      df => df.join(
        graft.operators.ml.AigcModel(df,
          idCol = str(p, "id_field", "doc_id"),
          imageCol = str(p, "image_field", "image")),
        Seq(str(p, "id_field", "doc_id"))))),

    "image_clip_embedding_refiner" -> (p => RefineOp("image_clip_embedding_refiner",
      ClipEmbeddingStub(str(p, "image_field", "image"),
        outputCol = str(p, "output_field", "clip_embedding"))(_))),

    // reference registers SigLIP as its own refiner
    // (refiners/image_siglip_embedding.py); same contract, its own
    // output column
    "image_siglip_embedding_refiner" -> (p => RefineOp("image_siglip_embedding_refiner",
      ClipEmbeddingStub(str(p, "image_field", "image"),
        outputCol = str(p, "output_field", "siglip_embedding"))(_))),

    // the TRAINED degradation model (operators/ml/Degradations.scala)
    // through the BatchInference slot — the non-stub sibling of
    // image_visual_degradations_refiner
    "image_trained_degradations_refiner" -> (p => RefineOp(
      "image_trained_degradations_refiner",
      df => df.join(
        graft.operators.ml.DegradationModel(df,
          idCol = str(p, "id_field", "doc_id"),
          imageCol = str(p, "image_field", "image")),
        Seq(str(p, "id_field", "doc_id"))))),

    "image_batch_embedding_refiner" -> (p => RefineOp("image_batch_embedding_refiner",
      df => df.join(
        BatchInference.embed(df,
          batchSize = int(p, "batch_size", 64),
          idCol = str(p, "id_field", "doc_id"),
          imageCol = str(p, "image_field", "image")),
        Seq(str(p, "id_field", "doc_id"))))),

    // the TRAINED embedding encoder (EmbeddingTrainer PCA, frozen
    // projection) through the BatchInference slot — the non-stub
    // sibling of image_clip_embedding_refiner, emitting array<float>
    // optional weights_path serves a user-supplied LocalWeights file
    // through the same batched slot (the real-CLIP drop-in seam — swap
    // the file, not the jar); default = the in-repo trained PCA
    "image_trained_embedding_refiner" -> (p => RefineOp(
      "image_trained_embedding_refiner",
      df => df.join(
        p.get("weights_path").map(_.toString) match {
          case Some(wp) => graft.operators.ml.TrainedEmbedding
            .fromWeightsFile(df, wp,
              idCol = str(p, "id_field", "doc_id"),
              imageCol = str(p, "image_field", "image"),
              batchSize = int(p, "batch_size", 64))
          case None => graft.operators.ml.TrainedEmbedding(df,
            idCol = str(p, "id_field", "doc_id"),
            imageCol = str(p, "image_field", "image"),
            batchSize = int(p, "batch_size", 64))
        },
        Seq(str(p, "id_field", "doc_id"))))),

    // embedding-cosine near-dup suppression over any array<float>
    // column (e.g. the trained embedding above) — banded hyperplane
    // LSH candidates + exact rerank, never an all-pairs scan
    "embedding_near_dup_deduplicator" -> (p => RefineOp(
      "embedding_near_dup_deduplicator",
      df => graft.operators.dedup.EmbeddingNearDup(
        threshold = dbl(p, "threshold", 0.95),
        dim = int(p, "dim", 8),
        bands = int(p, "bands", 8),
        bitsPerBand = int(p, "bits_per_band", 4),
        idCol = str(p, "id_field", "doc_id"),
        vecCol = str(p, "vec_field", "embedding"))(df))),

    // SemDeDup-style semantic dedup: k-means clusters (trained on the
    // corpus) scope the cosine near-dup collapse — catches paraphrase
    // duplicates that band-hash LSH misses, candidate count bounded by
    // the cluster assignment plus the max_cluster_size salt cap (see
    // SURVEY §2 B28). 0.95 is the operator's default threshold too.
    "semantic_deduplicator" -> (p => RefineOp("semantic_deduplicator",
      df => graft.operators.vector.SemanticDedup(
        threshold = dbl(p, "threshold", 0.95),
        idCol = str(p, "id_field", "doc_id"),
        vecCol = str(p, "vec_field", "embedding"),
        maxClusterSize = int(p, "max_cluster_size", 1 << 16))
        .dedup(df, k = int(p, "k", 64), seed = int(p, "seed", 42).toLong))),

    // embedding-space decontamination (B31): drop frame rows within
    // cosine-threshold of any benchmark vector. params {benchmark_path:
    // parquet of eval-suite rows carrying vec_field}; mode=lsh switches
    // to the banded-digest candidate path for oversized benchmarks
    "semantic_decontaminator" -> (p => RefineOp("semantic_decontaminator",
      df => {
        val sd = graft.operators.vector.SemanticDecontaminator(
          threshold = dbl(p, "threshold", 0.95),
          idCol = str(p, "id_field", "doc_id"),
          vecCol = str(p, "vec_field", "embedding"))
        val bench = df.sparkSession.read.parquet(p("benchmark_path").toString)
        str(p, "mode", "exact") match {
          case "exact" => sd(df, bench)
          case "lsh" => df.join(sd.contaminatedIdsLsh(df, bench),
            Seq(str(p, "id_field", "doc_id")), "left_anti")
          case other => throw new IllegalArgumentException(
            s"semantic_decontaminator mode must be exact|lsh, got $other")
        }
      })),

    // quality-aware near-dup collapse (B32): component the MinHash
    // candidate graph, keep the best-quality member of each component
    // (quality_field if given, else text length). It reads its input
    // twice (candidate pairs, survivor join), so a fused chain cuts it
    // once: the fused 13-stage capstone at sf0.01, local[4], min-of-2,
    // ran 24.7 s / 131 jobs uncut, 6.7 s / 104 jobs with this cut
    "quality_survivor_deduplicator" -> (p => RefineOp(
      "quality_survivor_deduplicator",
      df0 => {
        val df = graft.operators.Lineage.cut(df0)
        val id = str(p, "id_field", "doc_id")
        val lsh = graft.operators.dedup.MinHashLSH(
          numHashes = int(p, "num_hashes", 12), bands = int(p, "bands", 4),
          shingleSize = int(p, "shingle_size", 3),
          textCol = str(p, "text_field", "text"), idCol = id)
        val score = p.get("quality_field") match {
          case Some(f) => col(f.toString)
          case None =>
            org.apache.spark.sql.functions.length(
              col(str(p, "text_field", "text")))
        }
        graft.operators.dedup.ConnectedComponents
          .survivorsBy(df, lsh.candidatePairs(df), score, id)
      })),

    // leakage-safe splitter: train/val/test per near-dup COMPONENT
    // (near-copies never straddle train and test) — edges from the
    // same MinHash candidate graph the survivor dedup uses. It reads
    // its input twice (candidate pairs, split join), so a fused chain
    // cuts it once: appended to the 13-stage capstone (sf0.01,
    // local[4], min-of-4, two JVMs), fused `apply` ran 5.9 s / 74 jobs
    // uncut, 4.2 s / 61 jobs with this cut. No-op under `observed`,
    // which `Main run` uses unless --no-report is given
    "leakage_safe_splitter" -> (p => RefineOp(
      "leakage_safe_splitter",
      df0 => {
        val df = graft.operators.Lineage.cut(df0)
        val id = str(p, "id_field", "doc_id")
        val lsh = graft.operators.dedup.MinHashLSH(
          numHashes = int(p, "num_hashes", 12), bands = int(p, "bands", 4),
          shingleSize = int(p, "shingle_size", 3),
          textCol = str(p, "text_field", "text"), idCol = id)
        graft.operators.text.LeakageSafeSplit(df, lsh.candidatePairs(df),
          trainBuckets = int(p, "train_buckets", 80),
          valBuckets = int(p, "val_buckets", 10),
          idCol = id, seed = str(p, "seed", "graft"))
      })),

    // training-shard layout (B33): attach (shard, pos) — deterministic
    // global shuffle order the downstream writer lays out per shard
    "training_shard_assigner" -> (p => RefineOp("training_shard_assigner",
      df => graft.operators.text.TrainingShardLayout(
        nShards = int(p, "n_shards", 32),
        idCol = str(p, "id_field", "doc_id"),
        seed = str(p, "seed", "graft")).assign(df))),

    // image-text alignment filter (B36): keep pairs whose dual-tower
    // cosine clears the threshold (the LAION CLIP-score rule)
    "clip_score_filter" -> (p => RefineOp("clip_score_filter",
      df => graft.operators.ml.CrossModalAlignment(
        threshold = dbl(p, "threshold", 0.8),
        idCol = str(p, "id_field", "doc_id"),
        imageCol = str(p, "image_field", "image"),
        captionCol = str(p, "caption_field", "text"),
        batchSize = int(p, "batch_size", 64))(df))),

    // DSIR importance resampling (B34): keep the k frame rows drawn
    // ∝ exp(hashed-n-gram log-likelihood-ratio vs the target corpus).
    // params {target_path: parquet of in-domain exemplar rows, k: N,
    // buckets, alpha, temperature}
    "dsir_selector" -> (p => RefineOp("dsir_selector",
      df => {
        val target = df.sparkSession.read.parquet(p("target_path").toString)
        graft.operators.text.DsirSelector(
          buckets = int(p, "buckets", 1024),
          alpha = dbl(p, "alpha", 1.0),
          seed = str(p, "seed", "dsir"),
          idCol = str(p, "id_field", "doc_id"),
          textCol = str(p, "text_field", "text"))
          .select(df, target, int(p, "k", 1000),
            dbl(p, "temperature", 1.0))
      })),

    // hamming-radius pHash near-dup (B38): keep-first within hamming
    // r of the perceptual hash — catches the re-encode/resize copies
    // exact-key pHash dedup misses. Expects the phash column (compute
    // upstream with image_phash_dedup's hash or a real DCT kernel)
    "phash_hamming_dedup" -> (p => RefineOp("phash_hamming_dedup",
      df => graft.operators.image.PhashHammingDedup(
        radius = int(p, "radius", 2),
        bands = int(p, "bands", 6),
        nbits = int(p, "nbits", 60),
        phashCol = str(p, "phash_field", "phash"),
        idCol = str(p, "id_field", "doc_id"))(df))),

    // per-group top-fraction quality gate (B39): keep the best
    // ceil(frac·n_g) rows of each domain by a score column — the
    // FineWeb-Edu percentile selection, exact and sort-free. It reads
    // its input three times (histogram, tie window, semi-join back), so
    // a fused chain cuts it once: fused `apply` of the 13-stage
    // capstone, then `toRdd.count()`, at sf0.01, local[4], min-of-4,
    // two JVMs, ran 6.2 s / 77 jobs uncut, 4.9 s / 62 jobs with this
    // cut alone. No-op under `observed`, as above
    "top_fraction_by_group" -> (p => RefineOp("top_fraction_by_group",
      df => graft.operators.text.TopFractionByGroup(
        frac = dbl(p, "frac", 0.2),
        groupCol = str(p, "group_field", "source"),
        scoreCol = str(p, "score_field", "score"),
        idCol = str(p, "id_field", "doc_id"))(
        graft.operators.Lineage.cut(df)))),

    // CCNet perplexity bucketing as a selection stage (B67): bucket
    // every doc into per-language head/middle/tail terciles under the
    // corpus's own (pruned, max_vocab_per_lang) per-language LM and
    // keep only `keep_buckets` (CCNet ships head[+middle]). The wide
    // payload never shuffles: the bucketer emits a narrow (id, bucket)
    // table that semi-joins back. That reads the input twice (the
    // bucketer, the semi-join), so a fused chain cuts it once: the
    // capstone run above took 4.9 s / 54 jobs with this cut alone, and
    // 4.6 s / 53 jobs with both cuts. No-op under `observed`, as above
    "ccnet_bucket_filter" -> (p => RefineOp("ccnet_bucket_filter", { df0 =>
      val df = graft.operators.Lineage.cut(df0)
      val idc = str(p, "id_field", "doc_id")
      val keep = {
        val k = strs(p, "keep_buckets")
        if (k.nonEmpty) k else Seq("head", "middle")
      }
      val bk = graft.operators.text.CcnetBucketer(
        idCol = idc,
        textCol = str(p, "text_field", "text"),
        langCol = str(p, "lang_field", "lang"),
        maxVocabPerLang = int(p, "max_vocab_per_lang", 0),
        oovAlpha = dbl(p, "oov_alpha", 1.0))
      df.join(bk(df).filter(col("bucket").isin(keep: _*)).select(idc),
        Seq(idc), "left_semi")
    })),

    // soft (reweighting) dedup as a refine stage (B75): keeps every
    // row and attaches (sd_commonness, sd_weight) — duplicated content
    // down-weighted by mean n-gram df^(-alpha) for the training
    // sampler, instead of hard-dropped. Narrow (id, weight) join-back;
    // the shingle stream is bounded by distinct n-grams, never pairwise.
    // No lineage cut at its input: in the fused 13-stage capstone
    // (sf0.01, local[4], min-of-4, two JVMs, the other cuts in place) a
    // cut here ran 4.6–4.9 s against 4.3–4.8 s without, 53 jobs both
    "soft_dedup_reweighter" -> (p => RefineOp("soft_dedup_reweighter", { df =>
      val idc = str(p, "id_field", "doc_id")
      val sd = graft.operators.dedup.SoftDedup(
        n = int(p, "ngram", 3),
        alpha = dbl(p, "alpha", 1.0),
        idCol = idc,
        textCol = str(p, "text_field", "text"))
      df.join(sd.weights(df)
          .withColumnRenamed("commonness", "sd_commonness")
          .withColumnRenamed("weight", "sd_weight"),
        Seq(idc))
    })),

    // per-group FIXED quota (anti-spam domain cap): at most n rows per
    // group by a score column — the fixed-count sibling of
    // top_fraction_by_group
    "group_cap" -> (p => RefineOp("group_cap",
      df => graft.operators.text.GroupCap(
        n = int(p, "n", 1000),
        groupCol = str(p, "group_field", "source"),
        scoreCol = str(p, "score_field", "score"),
        idCol = str(p, "id_field", "doc_id"))(df))),

    // Luhn-verified credit-card redaction (B16 extension): masks only
    // checksum-valid card numbers, counts them in n_cards
    "credit_card_redactor" -> (p => RefineOp("credit_card_redactor",
      df => graft.operators.text.CreditCardRedactor(
        textCol = str(p, "text_field", "text"))(df))),

    // energy-contour audio fingerprint refiner: attaches the 16-bit
    // delta-sign signature; chain phash_hamming_dedup on audio_fp
    // (radius 1, bands 4, nbits 16) for audio near-dup
    "audio_fingerprint" -> (p => RefineOp("audio_fingerprint",
      df => df.withColumn(str(p, "out_field", "audio_fp"),
        graft.operators.image.AudioKernels.audioFingerprint(
          org.apache.spark.sql.functions.col(str(p, "audio_field", "audio")),
          int(p, "windows", 17))))),

    // hard-negative mining (B43): per anchor, the k most similar
    // in-band rows (hi bound keeps near-dups out of the negatives);
    // centroids train in-op via MLlib k-means on the frame itself
    "hard_negative_miner" -> (p => RefineOp("hard_negative_miner",
      df => {
        val cents = graft.operators.vector.KMeansOps.train(
          df, int(p, "k_centroids", 64),
          vecCol = str(p, "vec_field", "embedding"))
        graft.operators.vector.HardNegativeMiner(
          lo = dbl(p, "lo", 0.0),
          hi = dbl(p, "hi", 0.95),
          k = int(p, "k", 3),
          idCol = str(p, "id_field", "vec_id"),
          vecCol = str(p, "vec_field", "embedding"))
          .mine(df, cents, nprobe = int(p, "nprobe", 2))
      })),

    // crawl-frontier URL dedup (B46): keep-first on the canonical URL
    "url_deduplicator" -> (p => RefineOp("url_deduplicator",
      df => graft.operators.text.UrlDedup(
        urlCol = str(p, "url_field", "url"),
        idCol = str(p, "id_field", "doc_id"))(df))),

    // code detection (B45): attaches code_line_frac + is_code — the
    // mix-decision signal routing docs between NL and code processing
    "code_detector" -> (p => RefineOp("code_detector",
      df => graft.operators.text.CodeDetector(
        threshold = dbl(p, "threshold", 0.3),
        textCol = str(p, "text_field", "text"))(df))),

    // unicode normalization + mojibake repair (B42): run FIRST in a
    // crawl pipeline — encoding damage fractures dedup/shingles/langid
    "unicode_normalizer" -> (p => RefineOp("unicode_normalizer",
      df => graft.operators.text.UnicodeNormalizer(
        textCol = str(p, "text_field", "text"))(df))),

    // aligned frame-hash video near-dup (B41): keep-first among videos
    // sharing >= min_matches identically-hashed frames at the same
    // sampled index
    "video_frame_dedup" -> (p => RefineOp("video_frame_dedup",
      df => graft.operators.image.VideoFrameDedup(
        n = int(p, "n_frames", 8),
        frameBytes = int(p, "frame_bytes", 32),
        minMatches = int(p, "min_matches", 5),
        maxFrameGroup = int(p, "max_frame_group", 1000),
        videoCol = str(p, "video_field", "video"),
        idCol = str(p, "id_field", "doc_id"))(df))),

    // source/domain-level gate (B48): drops every doc of sources whose
    // dup rate or mean quality fails — content-farm removal
    "source_quality_gate" -> (p => RefineOp("source_quality_gate",
      df => graft.operators.text.SourceQualityGate(
        maxDupFrac = dbl(p, "max_dup_frac", 0.5),
        minAvgScore = dbl(p, "min_avg_score", 0.0),
        sourceCol = str(p, "source_field", "source"),
        textCol = str(p, "text_field", "text"),
        idCol = str(p, "id_field", "doc_id"))(df))),

    // polyglot detection (B51): per-line language disagreement signal
    "polyglot_detector" -> (p => RefineOp("polyglot_detector",
      df => graft.operators.text.PolyglotDetector(
        maxForeignFrac = dbl(p, "max_foreign_frac", 0.3),
        textCol = str(p, "text_field", "text"))(df))),

    // n-gram decontamination (B20) as a pipeline stage: drop corpus
    // docs sharing any n-gram with the benchmark suite at
    // benchmark_path (parquet carrying text_field). The benchmark side
    // is broadcast (bench suites are small by construction).
    "decontaminator" -> (p => RefineOp("decontaminator",
      df => {
        val bench = df.sparkSession.read.parquet(p("benchmark_path").toString)
        graft.operators.text.Decontaminator(
          n = int(p, "n", 5),
          textCol = str(p, "text_field", "text"),
          idCol = str(p, "id_field", "doc_id"))(df, bench)
      })),

    // test-corpus helper like synthetic_image_column: derive a url
    // column from (source, id) so URL-stage configs run end to end on
    // the url-less synthetic documents table
    // test-corpus page shaping (SyntheticPages.pageText): gives the
    // single-line synthetic soup the multi-line punctuated structure
    // the page-level cleaners act on — a real crawl arrives as pages
    "synthetic_page_column" -> (p => RefineOp("synthetic_page_column",
      df => df.withColumn(str(p, "text_field", "text"),
        graft.operators.text.SyntheticPages.pageText(
          col(str(p, "text_field", "text")),
          col(str(p, "id_field", "doc_id")))))),

    "synthetic_url_column" -> (p => RefineOp("synthetic_url_column",
      df => df.withColumn(str(p, "url_field", "url"),
        concat(lit("https://www."), col(str(p, "source_field", "source")),
          lit(".example.com/docs/"), col(str(p, "id_field", "doc_id")))))),

    // CDC/recrawl compaction (C38): keep the latest version per key
    "snapshot_compactor" -> (p => RefineOp("snapshot_compactor",
      df => graft.operators.events.SnapshotCompactor(
        keyCols = str(p, "key_fields", "user_id,event_type")
          .split(",").map(_.trim).toSeq,
        versionCol = str(p, "version_field", "ts"),
        idCol = str(p, "id_field", "event_id"))(df))),

    // robust-stats clipping (C39): winsorize a numeric column to its
    // nearest-rank [p_lo, p_hi] bounds
    "winsorizer" -> (p => RefineOp("winsorizer",
      df => graft.operators.events.Winsorizer(
        pLo = dbl(p, "p_lo", 0.05),
        pHi = dbl(p, "p_hi", 0.95),
        valueCol = str(p, "value_field", "value"),
        precision = int(p, "precision", 2))(df)))
  )

  def build(name: String, params: Params): PipelineOp =
    builders.getOrElse(name,
      throw new IllegalArgumentException(s"unknown operator: $name"))(params)
}

object PipelineConfig {
  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case x => x
  }

  /** Parse a reference-shaped YAML config
    * (`stages: [{name, operators: [{name, params, enabled}]}]`, or a
    * top-level `operators:` list) into a Pipeline. Operators with
    * `enabled: false` are skipped (config.py OperatorConfig.enabled). */
  def parse(yaml: String): Pipeline = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val root = toScala(mapper.readValue(yaml, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]
    parsePipeline(root)
  }

  private def parsePipeline(root: Map[String, Any]): Pipeline = {
    val opDefs: Seq[Map[String, Any]] = root.get("stages") match {
      case Some(stages: Seq[_]) =>
        stages.flatMap(s => s.asInstanceOf[Map[String, Any]]
          .getOrElse("operators", Seq.empty).asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Map[String, Any]]))
      case _ => root.getOrElse("operators", Seq.empty)
        .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
    }
    Pipeline(opDefs
      .filter(_.getOrElse("enabled", true) == true)
      .map { d =>
        val name = d("name").toString
        val params = d.getOrElse("params", Map.empty[String, Any])
          .asInstanceOf[Map[String, Any]]
        OperatorRegistry.build(name, params)
      })
  }

  /** One top-level YAML section as a plain map — e.g. the `recrawl:`
    * block `graft.Main recrawl-init`/`recrawl-ingest` read for state
    * paths (empty map when absent). */
  def parseSection(yaml: String, key: String): Map[String, Any] = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val root = toScala(mapper.readValue(yaml, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]
    root.getOrElse(key, Map.empty[String, Any]).asInstanceOf[Map[String, Any]]
  }

  /** Parse a full job config — `data_loader:` + `stages:` +
    * `data_writer:` (config.py PipelineConfig shape). Loader/writer
    * `type` names follow the reference registry where one exists. */
  def parseJob(yaml: String): PipelineJob = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val root = toScala(mapper.readValue(yaml, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]
    val pipeline = parsePipeline(root)

    def section(k: String): Option[(String, Map[String, Any])] =
      root.get(k).map { s =>
        val m = s.asInstanceOf[Map[String, Any]]
        (m.getOrElse("type", "").toString,
          m.getOrElse("params", Map.empty[String, Any]).asInstanceOf[Map[String, Any]])
      }

    val loader: Option[SparkSession => DataFrame] = section("data_loader").map {
      case (tpe, p) =>
        val path = p.getOrElse("path", "").toString
        tpe match {
          case "ParquetLoader" | "HuggingFaceLoader" =>
            s => graft.sources.Sources.parquet(s, path)
          case "JsonlLoader" => s => graft.sources.Sources.jsonl(s, path)
          case "CsvLoader" => s => graft.sources.Sources.csv(s, path)
          case "OrcLoader" => s => graft.sources.Sources.orc(s, path)
          case "WarcLoader" | "CommonCrawlLoader" =>
            s => graft.sources.Sources.warcText(s, path)
          // day-2 re-crawl routing: diff the two snapshots, emit only
          // added+changed pages (changed re-keyed above all prior ids)
          case "RecrawlDeltaLoader" =>
            s => RecrawlOps.delta(
              graft.sources.Sources.parquet(s, p("old_path").toString),
              graft.sources.Sources.parquet(s, p("new_path").toString),
              p.getOrElse("changed_offset", "4000000").toString.toLong,
              p.getOrElse("id_field", "doc_id").toString,
              p.getOrElse("text_field", "text").toString)
          case other => throw new IllegalArgumentException(s"unknown loader: $other")
        }
    }

    val writer: Option[DataFrame => Unit] = section("data_writer").map {
      case (tpe, p) =>
        // the reference's writer configs use `output_path`
        val path = p.getOrElse("path", p.getOrElse("output_path", "")).toString
        val partitionBy = p.get("partition_by") match {
          case Some(l: Seq[_]) => l.map(_.toString)
          case _ => Nil
        }
        tpe match {
          case "ParquetDataWriter" =>
            df => graft.sources.Sinks.parquet(df, path, partitionBy)
          case "IcebergDataWriter" | "TableDataWriter" =>
            df => graft.sources.Sinks.table(df, path, partitionBy)
          case "BucketedDataWriter" =>
            // declare the ingest-time layout that makes every later
            // equi-join/aggregation on bucket_by shuffle-free (and,
            // with one sorted file per bucket, sort-free — §5.11):
            //   data_writer:
            //     type: BucketedDataWriter
            //     params:
            //       table: orders_bucketed
            //       bucket_by: [o_orderkey]
            //       num_buckets: 64
            val table = p.getOrElse("table",
              throw new IllegalArgumentException(
                "BucketedDataWriter needs `table`")).toString
            val bucketBy = p.get("bucket_by") match {
              case Some(l: Seq[_]) => l.map(_.toString)
              case _ => throw new IllegalArgumentException(
                "BucketedDataWriter needs `bucket_by`")
            }
            val nBuckets = p.getOrElse("num_buckets", 64).toString.toInt
            df => graft.sources.Sinks.bucketedTable(
              df.repartition(nBuckets,
                bucketBy.map(org.apache.spark.sql.functions.col): _*),
              table, bucketBy, nBuckets, bucketBy)
          case other => throw new IllegalArgumentException(s"unknown writer: $other")
        }
    }
    PipelineJob(loader, pipeline, writer,
      section("data_loader"), section("data_writer"))
  }
}

/** A fully config-driven job: load → staged operators → write. The
  * whole job stays ONE lazy Spark plan until the write action, so
  * Catalyst fuses loader projections, filters and refiners across
  * "stages" (the reference pays an actor-pool hop per stage). */
case class PipelineJob(
    loader: Option[SparkSession => DataFrame],
    pipeline: Pipeline,
    writer: Option[DataFrame => Unit],
    loaderSpec: Option[(String, Map[String, Any])] = None,
    writerSpec: Option[(String, Map[String, Any])] = None) {

  /** Apply to an explicit input (ignores the configured loader). */
  def transform(df: DataFrame): DataFrame = pipeline(df)

  /** Run end-to-end: read from the configured loader, transform, write
    * if a writer is configured; returns the transformed frame. */
  def run(spark: SparkSession): DataFrame = {
    val in = loader.getOrElse(throw new IllegalArgumentException(
      "job config has no data_loader"))(spark)
    val out = pipeline(in)
    writer.foreach(_(out))
    out
  }

  /** Run the same YAML job continuously: `readStream` over the
    * configured loader path, the identical operator pipeline (filters
    * and refiners are streaming-safe; keyed dedup should use
    * [[graft.streaming.StreamingOps.dedupStream]] instead of the batch
    * DedupOp), `writeStream` append to the configured writer path with
    * a checkpoint — the reference's continuous-loader mode expressed as
    * Structured Streaming. `availableNow = true` drains what exists and
    * stops (backfill / test mode); false runs until terminated. */
  def runStream(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      availableNow: Boolean = false,
      metrics: Option[graft.streaming.StreamingMetricsListener] = None):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val (ltpe, lp) = loaderSpec.getOrElse(
      throw new IllegalArgumentException("job config has no data_loader"))
    val path = lp.getOrElse("path", "").toString
    val in = ltpe match {
      case "ParquetLoader" | "HuggingFaceLoader" =>
        spark.readStream.schema(schema).parquet(path)
      case "JsonlLoader" => spark.readStream.schema(schema).json(path)
      case "CsvLoader" =>
        spark.readStream.schema(schema).option("header", "true").csv(path)
      case other =>
        throw new IllegalArgumentException(s"streaming loader unsupported: $other")
    }
    // per-stage funnel metrics for the stream (reference
    // example_with_metrics.yaml): named observe nodes surface counts in
    // every micro-batch's progress event — no extra jobs
    val out = metrics match {
      case Some(l) => spark.streams.addListener(l); pipeline.observedStream(in)
      case None => pipeline(in)
    }
    val (wtpe, wp) = writerSpec.getOrElse(
      throw new IllegalArgumentException("job config has no data_writer"))
    require(wtpe == "ParquetDataWriter",
      s"streaming writer unsupported: $wtpe")
    val outPath = wp.getOrElse("path", wp.getOrElse("output_path", "")).toString
    val checkpoint = wp.getOrElse("checkpoint_path",
      outPath.stripSuffix("/") + "__checkpoint").toString
    val w = out.writeStream.format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    (if (availableNow)
      w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else w).start()
  }

  /** Diagnostic run with per-operator metrics ([[Pipeline.profile]]):
    * returns the result plus one [[StageMetrics]] per operator. The
    * write (if configured) reuses the persisted final stage. */
  def runProfiled(spark: SparkSession): (DataFrame, Seq[StageMetrics]) = {
    val in = loader.getOrElse(throw new IllegalArgumentException(
      "job config has no data_loader"))(spark)
    val (out, metrics) = pipeline.profile(in)
    writer.foreach(_(out))
    out.unpersist()
    (out, metrics)
  }
}
