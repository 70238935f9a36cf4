package graft

import graft.pipeline.PipelineConfig
import org.apache.spark.sql.functions.col

class ConfigSpec extends SparkSpec {
  import spark.implicits._

  test("reference-shaped YAML config builds and runs a pipeline") {
    val yaml =
      """# RefinedWeb-style text stage (reference configs/example_commoncrawl.yaml shape)
        |stages:
        |  - name: content_filtering
        |    operators:
        |      - name: quality_scorer
        |      - name: text_length_filter
        |        params:
        |          min_length: 10
        |          max_length: 100000
        |      - name: url_filter
        |        params:
        |          blocklist_domains: [evil.com]
        |          score_threshold: 0.5
        |      - name: text_exact_deduplicator
        |        params:
        |          include_url: false
        |""".stripMargin
    val pipe = PipelineConfig.parse(yaml)
    val docs = Seq(
      (1L, "a good long document with many words inside it", "https://ok.org/x"),
      (2L, "a good long document with many words inside it", "https://ok.org/y"), // dup
      (3L, "short", "https://ok.org/z"),
      (4L, "hosted on a blocked domain but otherwise fine text", "https://sub.evil.com/a")
    ).toDF("doc_id", "text", "url")
    val out = pipe(docs)
    assert(out.columns.contains("q_score"))
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L))
    val funnel = pipe.funnelStaged(docs)
      .select("step", "n_rows").as[(String, Long)].collect().toMap
    assert(funnel == Map("input" -> 4L, "quality_scorer" -> 4L,
      "text_length_filter" -> 3L, "url_filter" -> 2L,
      "text_exact_deduplicator" -> 1L))
  }

  test("full job config: data_loader -> stages -> data_writer, end to end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job").toString
    Seq(
      (1L, "a sufficiently long document to survive the length filter"),
      (2L, "a sufficiently long document to survive the length filter"), // dup
      (3L, "nope"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val yaml =
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {path: $dir/in}
         |stages:
         |  - name: curate
         |    operators:
         |      - name: text_length_filter
         |        params: {min_length: 10}
         |      - name: token_counter
         |        enabled: false
         |      - name: text_exact_deduplicator
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {path: $dir/out}
         |""".stripMargin
    val job = PipelineConfig.parseJob(yaml)
    val out = job.run(spark)
    assert(!out.columns.contains("n_ws_tokens")) // disabled op skipped
    val written = spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect().toSet
    assert(written == Set(1L))
  }

  test("profiled run reports per-operator rows, pass-rate, wall time, rec/s") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prof").toString
    Seq(
      (1L, "a sufficiently long document to survive the length filter"),
      (2L, "a sufficiently long document to survive the length filter"), // dup
      (3L, "nope"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val yaml =
      s"""data_loader: {type: ParquetLoader, params: {path: $dir/in}}
         |operators:
         |  - name: quality_scorer
         |  - name: text_length_filter
         |    params: {min_length: 10}
         |  - name: text_exact_deduplicator
         |data_writer: {type: ParquetDataWriter, params: {path: $dir/out}}
         |""".stripMargin
    val job = PipelineConfig.parseJob(yaml)
    val (_, metrics) = job.runProfiled(spark)
    assert(metrics.map(_.op) ==
      Seq("quality_scorer", "text_length_filter", "text_exact_deduplicator"))
    assert(metrics.map(m => (m.rowsIn, m.rowsOut)) == Seq((3L, 3L), (3L, 2L), (2L, 1L)))
    assert(metrics.forall(_.wallSec > 0.0))
    assert(metrics.forall(_.recPerSec > 0.0))
    assert(metrics(1).passRate == 2.0 / 3.0)
    // the write still happened off the profiled final stage
    assert(spark.read.parquet(s"$dir/out").count() == 1)
    val report = job.pipeline.formatStageReport(metrics)
    assert(report.contains("rec/s") && report.contains("text_length_filter"))
    assert(report.contains("Input: 3 -> Output: 1"))
  }

  test("CLI main runs a YAML job file and writes output") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toString
    Seq((1L, "a long enough document that survives filtering easily"), (2L, "x"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val yaml =
      s"""data_loader: {type: ParquetLoader, params: {path: $dir/in}}
         |operators:
         |  - name: text_length_filter
         |    params: {min_length: 10}
         |data_writer: {type: ParquetDataWriter, params: {path: $dir/out}}
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$dir/job.yaml"), yaml)
    // exercise the job path Main wraps (Main.main would stop the shared session)
    val job = graft.pipeline.PipelineConfig.parseJob(yaml)
    job.run(spark)
    assert(spark.read.parquet(s"$dir/out").count() == 1)
  }

  test("every shipped example config parses, builds, and runs end to end") {
    // the fineweb capstone config documents that benchmark_path must be
    // written first (a parquet of benchmark text rows) — provide it
    graft.queries.CurationQueries
      .benchmarkFrame(Tables.load(spark, "/root/testdata/sf0.001", "documents"))
      .write.mode("overwrite").parquet("/tmp/graft_out/capstone_bench")
    // the recrawl config's documented prerequisite: the second-crawl
    // snapshot its RecrawlDeltaLoader diffs against (SURVEY §5.22)
    graft.pipeline.RecrawlCapstone.deriveNewSnapshot(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "source", "lang", "text"))
      .write.mode("overwrite").parquet("/tmp/graft_recrawl/new_snapshot.parquet")
    val dir = new java.io.File("configs")
    val files = dir.listFiles().filter(_.getName.endsWith(".yaml"))
    assert(files.nonEmpty)
    for (f <- files) {
      val yaml = java.nio.file.Files.readString(f.toPath)
      val job = PipelineConfig.parseJob(yaml)
      assert(job.loader.nonEmpty, f.getName)
      val streaming = PipelineConfig.parseSection(yaml, "streaming")
      if (streaming.nonEmpty) {
        // streaming lifecycle config: the sink lives in the streaming
        // section, not data_writer — drive the real micro-batch path
        val outPath = streaming("out_path").toString
        for (d <- Seq(outPath, outPath.stripSuffix("/") + "__checkpoint"))
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
        Main.runStreamCurate(spark, yaml)
        assert(spark.read.parquet(outPath).count() > 0, f.getName)
      } else {
        assert(job.writer.nonEmpty, f.getName)
        assert(job.run(spark).count() >= 0, f.getName)
      }
    }
  }

  test("the same YAML job runs as a stream (availableNow backfill)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sjob").toString
    val in = Seq(
      (1L, "a sufficiently long document that passes the length filter"),
      (2L, "x"))
      .toDF("doc_id", "text")
    in.write.parquet(s"$dir/in")
    val yaml =
      s"""data_loader: {type: ParquetLoader, params: {path: $dir/in}}
         |operators:
         |  - name: quality_scorer
         |  - name: text_length_filter
         |    params: {min_length: 10}
         |data_writer: {type: ParquetDataWriter, params: {path: $dir/out}}
         |""".stripMargin
    val job = PipelineConfig.parseJob(yaml)
    val q = job.runStream(spark, in.schema, availableNow = true)
    q.awaitTermination(60000)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(out.columns.contains("q_score")) // refiner ran in the stream
    assert(new java.io.File(s"$dir/out__checkpoint").exists())
  }

  test("runStream rejects a batch dedup stage before any query starts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    val in = Seq((1L, "a sufficiently long document"), (2L, "a sufficiently long document"))
      .toDF("doc_id", "text")
    in.write.parquet(s"$dir/in")
    val yaml =
      s"""data_loader: {type: ParquetLoader, params: {path: $dir/in}}
         |operators:
         |  - name: text_length_filter
         |    params: {min_length: 10}
         |  - name: text_exact_deduplicator
         |data_writer: {type: ParquetDataWriter, params: {path: $dir/out}}
         |""".stripMargin
    val job = PipelineConfig.parseJob(yaml)
    val active = spark.streams.active.length
    val e = intercept[IllegalArgumentException](
      job.runStream(spark, in.schema, availableNow = true))
    assert(e.getMessage.contains("'text_exact_deduplicator'"))
    assert(e.getMessage.contains("StreamingOps.dedupStream"))
    assert(spark.streams.active.length == active)
    assert(!new java.io.File(s"$dir/out__checkpoint").exists())
  }

  test("config-driven stream surfaces per-stage funnel metrics per batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smet").toString
    val in = Seq(
      (1L, "a sufficiently long document that passes the length filter"),
      (2L, "x"),
      (3L, "another long document that also clears the minimum length bar"))
      .toDF("doc_id", "text")
    in.write.parquet(s"$dir/in")
    val yaml =
      s"""data_loader: {type: ParquetLoader, params: {path: $dir/in}}
         |operators:
         |  - name: quality_scorer
         |  - name: text_length_filter
         |    params: {min_length: 10}
         |data_writer: {type: ParquetDataWriter, params: {path: $dir/out}}
         |""".stripMargin
    val job = PipelineConfig.parseJob(yaml)
    val listener = new graft.streaming.StreamingMetricsListener
    val q = job.runStream(spark, in.schema, availableNow = true,
      metrics = Some(listener))
    try {
      q.awaitTermination(60000)
      // listener events are delivered asynchronously after termination
      val deadline = System.currentTimeMillis() + 30000
      while (listener.stageTotals.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val totals = listener.stageTotals
      assert(totals == Seq(("input", 3L), ("quality_scorer", 3L),
        ("text_length_filter", 2L)))
      val withStages = listener.batches.filter(_.stageRows.nonEmpty)
      assert(withStages.nonEmpty) // per-batch rows, not just totals
      assert(withStages.head.stageRows.map(_._1) ==
        Seq("input", "quality_scorer", "text_length_filter"))
      // feeds the same persistence path as batch runs
      val mdir = s"$dir/metrics"
      graft.pipeline.MetricsSink.persist(spark, mdir,
        graft.pipeline.MetricsSink.fromFunnel(
          graft.pipeline.MetricsSink.newRunId(), totals), 1.0, yaml)
      assert(spark.read.parquet(s"$mdir/stages").count() == 2)
    } finally spark.streams.removeListener(listener)
  }

  test("z_image parity config: siglip + trained degradations columns appear") {
    val job = PipelineConfig.parseJob(
      java.nio.file.Files.readString(java.nio.file.Path.of("configs/example_z_image.yaml")))
    val out = job.run(spark)
    assert(Seq("clip_embedding", "siglip_embedding", "vd_blur", "vd_noise",
      "vd_overall_quality").forall(out.columns.contains))
    assert(out.count() > 0)
  }

  test("image operator chain from config") {
    val yaml =
      """operators:
        |  - name: image_metadata_refiner
        |  - name: image_technical_quality_refiner
        |  - name: image_quality_filter
        |    params: {min_width: 0, min_height: 0, min_information_entropy: 0.0}
        |  - name: image_phash_deduplicator
        |""".stripMargin
    val pipe = PipelineConfig.parse(yaml)
    val df = Seq((1L, "some bytes!".getBytes("UTF-8")),
      (2L, "some bytes!".getBytes("UTF-8"))).toDF("doc_id", "image")
    val out = pipe(df)
    assert(out.columns.contains("image_information_entropy"))
    assert(out.count() == 1) // phash dedup removed the identical copy
  }

  test("token-budget sampler and incremental dedup run from YAML") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc_index").toString
    // persist a corpus index the way a nightly job would
    val lsh = graft.operators.dedup.MinHashLSH(numHashes = 12, bands = 6)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "src0"))
      .toDF("doc_id", "text", "source")
    lsh.buckets(corpus).write.mode("overwrite").parquet(s"$tmp/index")
    val yaml =
      s"""stages:
         |  - name: ingest
         |    operators:
         |      - name: incremental_minhash_deduplicator
         |        params: {index_path: "$tmp/index", num_hashes: 12, bands: 6}
         |      - name: token_budget_sampler
         |        params:
         |          budgets: {src0: 12}
         |          default_budget: 0
         |""".stripMargin
    val batch = Seq(
      (11L, "the QUICK brown fox jumps over the lazy dog again and again", "src0"), // indexed dup
      (12L, "one novel document about incremental ingest shapes", "src0"),
      (13L, "another novel document about sampling under token budgets", "src0"),
      (14L, "a third novel document that the twelve-token budget cannot fit anymore", "src0"),
      (15L, "novel but from an unbudgeted source so it is dropped", "srcX")
    ).toDF("doc_id", "text", "source")
    val out = PipelineConfig.parse(yaml)(batch)
      .select("doc_id").as[Long].collect().toSet
    // 11 rejected by the index; 15 dropped (no budget); of 12/13/14 the
    // 12-token budget fits one-to-two docs in hash order, never all three
    assert(!out.contains(11L) && !out.contains(15L))
    assert(out.nonEmpty && out.subsetOf(Set(12L, 13L, 14L)) && out.size < 3)
  }

  test("r11 ops run from YAML: semantic decontam, quality survivors, shard assign") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_vecs").toString
    def v(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    val b1 = v(1)
    Seq((100L, b1)).toDF("doc_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/bench")
    val yaml =
      s"""stages:
         |  - name: curate
         |    operators:
         |      - name: semantic_decontaminator
         |        params: {benchmark_path: "$tmp/bench", threshold: 0.95}
         |      - name: quality_survivor_deduplicator
         |        params: {num_hashes: 12, bands: 6}
         |      - name: training_shard_assigner
         |        params: {n_shards: 2}
         |""".stripMargin
    val near = b1.clone(); near(0) = near(0) + 0.01f
    val docs = Seq(
      (1L, "an eval-leaked row that must be dropped by embedding", near),
      (2L, "the quick brown fox jumps over the lazy dog again and again", v(7)),
      (3L, "the QUICK brown fox jumps over the lazy dog AGAIN and again padded longer", v(8)),
      (4L, "a genuinely distinct document with its own vocabulary", v(9)))
      .toDF("doc_id", "text", "embedding")
    val out = PipelineConfig.parse(yaml)(docs)
    val kept = out.select("doc_id").as[Long].collect().toSet
    // 1 decontaminated (cos≈1 to the benchmark row); 2/3 near-dup with
    // 3 the LONGER member → 3 survives; 4 isolated
    assert(kept == Set(3L, 4L))
    assert(out.columns.contains("shard") && out.columns.contains("pos"))
    val sp = out.select("shard", "pos").as[(Int, Long)].collect()
    assert(sp.forall { case (s, _) => s == 0 || s == 1 })
  }

  test("dsir_selector runs from YAML and keeps the in-domain side") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dsir_target").toString
    val a = (1L to 20L).map(i => (i, s"alpha beta gamma delta epsilon u$i"))
    val b = (21L to 40L).map(i => (i, s"zeta eta theta iota kappa u$i"))
    (a ++ b).toDF("doc_id", "text")
      .filter($"doc_id" <= 20).write.mode("overwrite").parquet(s"$tmp/t")
    val yaml =
      s"""operators:
         |  - name: dsir_selector
         |    params: {target_path: "$tmp/t", k: 10}
         |""".stripMargin
    val out = PipelineConfig.parse(yaml)((a ++ b).toDF("doc_id", "text"))
    val kept = out.select("doc_id").as[Long].collect()
    assert(kept.length == 10 && kept.count(_ <= 20) >= 8,
      s"draw should favor the target domain: ${kept.toSeq.sorted}")
  }

  test("phash hamming dedup, top-fraction gate, card redactor run from YAML") {
    val yaml =
      """operators:
        |  - name: credit_card_redactor
        |  - name: top_fraction_by_group
        |    params: {frac: 0.5, score_field: n_cards}
        |  - name: phash_hamming_dedup
        |    params: {radius: 2}
        |""".stripMargin
    val docs = Seq(
      (1L, "g1", "pay 4111 1111 1111 1111 now", 10L),
      (2L, "g1", "order 1234567890123456 shipped", 20L),
      (3L, "g2", "card 5555555555554444 ok", 21L), // hamming(20,21)=1 → dup of 2? no: 2 cut by gate
      (4L, "g2", "clean", 1L << 40))
      .toDF("doc_id", "source", "text", "phash")
    val out = PipelineConfig.parse(yaml)(docs)
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("text"), r.getAs[Int]("n_cards"))).toMap
    // redactor: 1 and 3 carry Luhn-valid cards (n_cards 1), 2 is
    // card-shaped noise (0), 4 clean (0). gate keeps top 50% per
    // source by n_cards → {1, 3}. phash 10 vs 21 differ by 5 bits →
    // both survive the hamming dedup.
    assert(rows.keySet == Set(1L, 3L))
    assert(rows(1L)._1 == "pay <CC> now" && rows(1L)._2 == 1)
    assert(rows(3L)._1 == "card <CC> ok" && rows(3L)._2 == 1)
  }

  test("source gate, polyglot detector, compactor, winsorizer run from YAML") {
    val yaml =
      """operators:
        |  - name: source_quality_gate
        |    params: {max_dup_frac: 0.5, min_avg_score: 5.0}
        |  - name: polyglot_detector
        |    params: {max_foreign_frac: 0.3}
        |""".stripMargin
    val docs = Seq(
      (1L, "clean", "the cat and the dog is that\nder hund und die katze ist"),
      (2L, "clean", "the end of the story is that for\nthe cat and the dog"),
      (3L, "farm", "buy now"), (4L, "farm", "buy now"), (5L, "farm", "buy now"))
      .toDF("doc_id", "source", "text")
    val out = PipelineConfig.parse(yaml)(docs)
    val flags = out.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Boolean]("is_polyglot")).toMap
    // the farm (dup_frac 1.0) is gone before the detector runs
    assert(flags == Map(1L -> true, 2L -> false))

    val evYaml =
      """operators:
        |  - name: snapshot_compactor
        |    params: {key_fields: "user_id,event_type", id_field: event_id}
        |  - name: winsorizer
        |    params: {p_lo: 0.25, p_hi: 0.75}
        |""".stripMargin
    val ev = Seq(
      (1L, 7L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:00:01"), 1.0),
      (2L, 7L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:00:05"), 100.0),
      (3L, 7L, "view", java.sql.Timestamp.valueOf("2026-01-01 00:00:02"), 2.0),
      (4L, 8L, "view", java.sql.Timestamp.valueOf("2026-01-01 00:00:03"), 3.0),
      (5L, 9L, "view", java.sql.Timestamp.valueOf("2026-01-01 00:00:04"), 4.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val got = PipelineConfig.parse(evYaml)(ev)
      .select("event_id", "value_clipped")
      .as[(Long, Double)].collect().toMap
    // compactor drops event 1 (stale click); winsorizer then clips the
    // survivor values {100, 2, 3, 4} to nearest-rank [p25, p75] = [2, 4]
    assert(got == Map(2L -> 4.0, 3L -> 2.0, 4L -> 3.0, 5L -> 4.0))
  }

  test("leakage_safe_splitter runs from YAML: near-dup pairs share a split") {
    val yaml =
      """operators:
        |  - name: leakage_safe_splitter
        |    params: {shingle_size: 2, train_buckets: 50, val_buckets: 25}
        |""".stripMargin
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (3L, "completely different text about boats on rivers"))
      .toDF("doc_id", "text")
    val out = PipelineConfig.parse(yaml)(docs)
      .select("doc_id", "component", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == out(2L), "near-dup pair must share component AND split")
    assert(out(3L)._1 == 3L)
  }

  test("CLI index-build + two-day ingest loop: dups stop at the index") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Main.runIndexBuild(spark, s"$dir/corpus", s"$dir/index",
      Array("--bands", "6", "--num-hashes", "12"))
    // day 1: one dup of the corpus, one novel doc
    Seq((11L, "the QUICK brown fox jumps over the lazy dog again and again"),
        (12L, "a genuinely new document that day one brings into the corpus"))
      .toDF("doc_id", "text").write.parquet(s"$dir/day1")
    Main.runIngest(spark, s"$dir/day1", s"$dir/index", s"$dir/day1_out",
      Array("--bands", "6", "--num-hashes", "12"))
    assert(spark.read.parquet(s"$dir/day1_out").select("doc_id")
      .as[Long].collect().toSet == Set(12L))
    // day 2: a dup of day 1's survivor must now hit the ROLLED index
    Seq((21L, "a genuinely new document that day one brings into the corpus"))
      .toDF("doc_id", "text").write.parquet(s"$dir/day2")
    Main.runIngest(spark, s"$dir/day2", s"$dir/index", s"$dir/day2_out",
      Array("--bands", "6", "--num-hashes", "12"))
    assert(spark.read.parquet(s"$dir/day2_out").isEmpty)
    // crash-recovery contract: re-running an already-committed ingest is a
    // no-op — same survivors, no duplicate index rows, no self-rejection
    val indexBefore = spark.read.parquet(s"$dir/index").count()
    Main.runIngest(spark, s"$dir/day1", s"$dir/index", s"$dir/day1_out",
      Array("--bands", "6", "--num-hashes", "12"))
    assert(spark.read.parquet(s"$dir/day1_out").select("doc_id")
      .as[Long].collect().toSet == Set(12L))
    assert(spark.read.parquet(s"$dir/index").count() == indexBefore)
    // the banding spec travels WITH the index: an ingest configured
    // with different banding fails LOUDLY (incompatible digests would
    // otherwise probe nothing and admit every duplicate silently)
    val e = intercept[IllegalArgumentException] {
      Main.runIngest(spark, s"$dir/day1", s"$dir/index", s"$dir/day1_out",
        Array("--bands", "4", "--num-hashes", "24"))
    }
    assert(e.getMessage.contains("numHashes=12"), e.getMessage)
    // a legacy index without the marker records the current spec on
    // first contact, and catches drift from then on
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/index/_lsh_spec"), false)
    Main.runIngest(spark, s"$dir/day1", s"$dir/index", s"$dir/day1_out",
      Array("--bands", "6", "--num-hashes", "12"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/index/_lsh_spec")))
    intercept[IllegalArgumentException] {
      Main.runIngest(spark, s"$dir/day1", s"$dir/index", s"$dir/day1_out",
        Array("--bands", "4", "--num-hashes", "24"))
    }
  }

  test("ingest migrates a legacy flat index layout instead of poisoning it") {
    // a pre-batch index-build wrote band=<b> dirs at the TOP level; the
    // first batch=<id> commit next to them would leave leaf files at two
    // partition depths and break every later read with "Conflicting
    // directory structures" — ingest must migrate flat dirs under
    // batch=base/ first
    val dir = java.nio.file.Files.createTempDirectory("graft_flatmig").toString
    val lsh = graft.operators.dedup.MinHashLSH(numHashes = 12, bands = 6)
    val corpus = Seq(
        (1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    corpus.write.parquet(s"$dir/corpus")
    lsh.buckets(corpus).write.partitionBy("band").parquet(s"$dir/index") // legacy layout
    Seq((11L, "the QUICK brown fox jumps over the lazy dog again and again"),
        (12L, "a genuinely new document that day one brings into the corpus"))
      .toDF("doc_id", "text").write.parquet(s"$dir/day1")
    Main.runIngest(spark, s"$dir/day1", s"$dir/index", s"$dir/day1_out",
      Array("--bands", "6", "--num-hashes", "12"))
    // the migrated index reads cleanly at ONE partition depth, keeps the
    // corpus rows (the dup was rejected), and carries both batches
    val idx = spark.read.parquet(s"$dir/index")
    assert(idx.columns.contains("batch"))
    assert(idx.select("batch").distinct().as[String].collect().toSet.size == 2)
    assert(spark.read.parquet(s"$dir/day1_out").select("doc_id")
      .as[Long].collect().toSet == Set(12L))
  }

  test("ingest rejects batch ids that break partition-path round-trips") {
    Seq("a/b", "x=y", "has space", "pct%20", "base").foreach { bad =>
      intercept[IllegalArgumentException] { Main.validateBatchId(bad) }
    }
    assert(Main.validateBatchId("day-2026.08.12_v1") == "day-2026.08.12_v1")
  }

  test("ingest recovers from a torn (copy+delete-rename) commit on re-run") {
    // on object stores the commit rename is copy-then-delete: a crash can
    // leave batch=<id> holding a SUBSET of its files with no committed
    // marker. A re-run must exclude the partial partition from the index
    // probe, replace it wholesale, and re-create the marker last.
    val dir = java.nio.file.Files.createTempDirectory("graft_torn").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Main.runIndexBuild(spark, s"$dir/corpus", s"$dir/index",
      Array("--bands", "6", "--num-hashes", "12"))
    Seq((11L, "the QUICK brown fox jumps over the lazy dog again and again"),
        (12L, "a genuinely new document that day one brings into the corpus"))
      .toDF("doc_id", "text").write.parquet(s"$dir/day1")
    Main.runIngest(spark, s"$dir/day1", s"$dir/index", s"$dir/day1_out",
      Array("--bands", "6", "--num-hashes", "12", "--batch-id", "d1"))
    val committed = spark.read.parquet(s"$dir/index")
      .filter(col("batch") === "d1").count()
    // tear the commit: drop one data file from the batch partition + the marker
    val batchDir = java.nio.file.Paths.get(s"$dir/index/batch=d1")
    val victim = java.nio.file.Files.walk(batchDir).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    java.nio.file.Files.delete(java.nio.file.Paths.get(victim))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/index/_batch_committed_d1"))
    // re-list AFTER the tear: a real PARTIAL partition must remain (if
    // this were empty the test would degenerate to the easier
    // missing-partition case and prove nothing about torn commits)
    val remaining = java.nio.file.Files.walk(batchDir).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    assert(remaining.nonEmpty, "tear removed the whole partition; nothing partial left")
    // re-run: identical survivors, fully restored partition, marker back
    Main.runIngest(spark, s"$dir/day1", s"$dir/index", s"$dir/day1_out",
      Array("--bands", "6", "--num-hashes", "12", "--batch-id", "d1"))
    assert(spark.read.parquet(s"$dir/day1_out").select("doc_id")
      .as[Long].collect().toSet == Set(12L))
    assert(spark.read.parquet(s"$dir/index")
      .filter(col("batch") === "d1").count() == committed)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/index/_batch_committed_d1")))
  }

  test("compact-index folds committed batches into one; probes unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cidx").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Main.runIndexBuild(spark, s"$dir/corpus", s"$dir/index",
      Array("--bands", "6", "--num-hashes", "12"))
    Seq((12L, "a genuinely new document that day one brings into the corpus"))
      .toDF("doc_id", "text").write.parquet(s"$dir/day1")
    Main.runIngest(spark, s"$dir/day1", s"$dir/index", s"$dir/day1_out",
      Array("--bands", "6", "--num-hashes", "12", "--batch-id", "d1"))
    Seq((22L, "day two adds another brand new document to keep things fresh"))
      .toDF("doc_id", "text").write.parquet(s"$dir/day2")
    Main.runIngest(spark, s"$dir/day2", s"$dir/index", s"$dir/day2_out",
      Array("--bands", "6", "--num-hashes", "12", "--batch-id", "d2"))
    val before = spark.read.parquet(s"$dir/index")
      .select("doc_id", "band", "bucket").collect().toSet
    Main.runCompactIndex(spark, s"$dir/index")
    val idx = spark.read.parquet(s"$dir/index")
    val batches = idx.select("batch").distinct().as[String].collect().toSet
    assert(batches.size == 1 && batches.head.startsWith("c"), batches)
    assert(idx.select("doc_id", "band", "bucket").collect().toSet == before)
    // dups of EVERY era still stop at the compacted index
    Seq((31L, "the QUICK brown fox jumps over the lazy dog again and again"),
        (32L, "a genuinely NEW document that day one brings into the corpus"),
        (33L, "day two adds another BRAND new document to keep things fresh"))
      .toDF("doc_id", "text").write.parquet(s"$dir/day3")
    Main.runIngest(spark, s"$dir/day3", s"$dir/index", s"$dir/day3_out",
      Array("--bands", "6", "--num-hashes", "12", "--batch-id", "d3"))
    assert(spark.read.parquet(s"$dir/day3_out").isEmpty)
    // single committed partition (after d3 there are two again): a
    // second compact folds them; a third is a no-op
    Main.runCompactIndex(spark, s"$dir/index")
    val once = spark.read.parquet(s"$dir/index").select("batch")
      .distinct().as[String].collect().toSet
    assert(once.size == 1)
    Main.runCompactIndex(spark, s"$dir/index") // prints nothing-to-compact
    assert(spark.read.parquet(s"$dir/index").select("batch")
      .distinct().as[String].collect().toSet == once)
  }

  test("compact-index recovers from a torn compaction (sources not deleted)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cidxtorn").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Main.runIndexBuild(spark, s"$dir/corpus", s"$dir/index",
      Array("--bands", "6", "--num-hashes", "12"))
    Seq((12L, "a genuinely new document that day one brings into the corpus"))
      .toDF("doc_id", "text").write.parquet(s"$dir/day1")
    Main.runIngest(spark, s"$dir/day1", s"$dir/index", s"$dir/day1_out",
      Array("--bands", "6", "--num-hashes", "12", "--batch-id", "d1"))
    val cleanRows = spark.read.parquet(s"$dir/index")
      .select("doc_id", "band", "bucket").collect().toSet
    // simulate the crash window AFTER the compaction rename+marker and
    // BEFORE the source deletes: a consolidated copy exists NEXT TO the
    // sources, so every row is present twice
    def copyDir(from: String, to: String): Unit = {
      val src = java.nio.file.Paths.get(from)
      java.nio.file.Files.walk(src).forEach { p =>
        val t = java.nio.file.Paths.get(to).resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }
    copyDir(s"$dir/index/batch=d1", s"$dir/index/batch=chalfdone")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/index/_batch_committed_chalfdone"))
    // the doubled window is semantically benign: a dup is still rejected
    Seq((41L, "a genuinely NEW document that day one brings into the corpus"))
      .toDF("doc_id", "text").write.parquet(s"$dir/dup")
    Main.runIngest(spark, s"$dir/dup", s"$dir/index", s"$dir/dup_out",
      Array("--bands", "6", "--num-hashes", "12", "--batch-id", "dd"))
    assert(spark.read.parquet(s"$dir/dup_out").isEmpty)
    // the re-run converges: one partition, rows exactly the clean set
    Main.runCompactIndex(spark, s"$dir/index")
    val idx = spark.read.parquet(s"$dir/index")
    assert(idx.select("batch").distinct().count() == 1)
    assert(idx.select("doc_id", "band", "bucket").collect().toSet == cleanRows)
  }

  test("BucketedDataWriter declares the shuffle-free layout from YAML") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bktw").toString
    (1L to 100L).map(i => (i, s"doc body number $i with enough text"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val yaml =
      s"""data_loader: {type: ParquetLoader, params: {path: $dir/in}}
         |operators:
         |  - name: text_length_filter
         |    params: {min_length: 10}
         |data_writer:
         |  type: BucketedDataWriter
         |  params: {table: cfg_bucketed_docs, bucket_by: [doc_id], num_buckets: 4}
         |""".stripMargin
    try {
      PipelineConfig.parseJob(yaml).run(spark)
      val t = spark.table("cfg_bucketed_docs")
      assert(t.count() == 100)
      // the written layout carries bucket metadata: a self-join on the
      // bucket key plans without exchanges
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = t.join(t.select(col("doc_id")), "doc_id")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS cfg_bucketed_docs")
    }
  }

  test("index-maintain runs the B8/C42 schedule: healthy / compact / rebuild") {
    import org.apache.spark.sql.functions.{col, lit}
    // --- BM25: two segments under max -> healthy; above max -> compact
    val bm = graft.operators.text.Bm25()
    val docs0 = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta"))
      .toDF("doc_id", "text")
    bm.buildIndex(docs0, "graft_im_bm_a", buckets = 2)
    bm.refreshIndex(Seq((11L, "theta iota kappa")).toDF("doc_id", "text"),
      "graft_im_bm_a", "graft_im_bm_b")
    // NO --buckets flag: the cron tick reads the physical layout from
    // the index's own manifest (recorded at buildIndex)
    assert(Main.runIndexMaintain(spark, "bm25", "graft_im_bm_b",
      Array("--max-segments", "4")).startsWith("healthy"))
    assert(Main.runIndexMaintain(spark, "bm25", "graft_im_bm_b",
      Array("--max-segments", "1", "--to", "graft_im_bm_c"))
      .startsWith("compact"))
    // the folded version serves identically
    val q = Seq((0L, "alpha kappa")).toDF("query_id", "text")
    assert(bm.searchIndexed(spark, "graft_im_bm_c", q, k = 3)
      .select("doc_id").as[Long].collect().toSet ==
      bm.searchIndexed(spark, "graft_im_bm_b", q, k = 3)
      .select("doc_id").as[Long].collect().toSet)

    // --- IVF: a refresh flood into one cell trips needsRebuild
    val ivf = graft.operators.vector.IvfIndex()
    def axis(a: Int, i: Int) = {
      val v = Array.fill(8)(0.0f); v(a) = 1.0f + 0.001f * i; v
    }
    val cents = (0 until 2).map { a =>
      (a, Array.tabulate(8)(j => if (j == a) 1.0 else 0.0))
    }.toDF("centroid_id", "cvec")
    val base = (0 until 4).map(i => (i.toLong, axis(i % 2, i)))
      .toDF("vec_id", "embedding")
    ivf.buildIndex(base, cents, "graft_im_ivf_a", buckets = 2)
    // healthy first: no refreshed rows at all
    // an explicit flag MATCHING the recorded layout passes the
    // cross-check; a contradicting one must fail loudly
    assert(Main.runIndexMaintain(spark, "ivf", "graft_im_ivf_a",
      Array("--max-segments", "4", "--buckets", "2")).startsWith("healthy"))
    assertThrows[IllegalArgumentException] {
      Main.runIndexMaintain(spark, "ivf", "graft_im_ivf_a",
        Array("--max-segments", "4", "--buckets", "8"))
    }
    // flood axis-0: growth 20/2 = 10 > 4 -> rebuild
    val flood = (100 until 120).map(i => (i.toLong, axis(0, i)))
      .toDF("vec_id", "embedding")
    ivf.refreshIndex(flood, "graft_im_ivf_a", "graft_im_ivf_b")
    val d = Main.runIndexMaintain(spark, "ivf", "graft_im_ivf_b",
      Array("--max-segments", "4",
        "--to", "graft_im_ivf_r", "--train-rows", "1000"))
    assert(d.startsWith("rebuild"), d)
    // the rebuilt version indexes the full population, all gen-0
    val segs = ivf.segments(spark, "graft_im_ivf_r")
    assert(segs.size == 1)
    assert(spark.table(s"${segs.head._1}_cells").count() == 24)
    assert(Main.runIndexMaintain(spark, "ivf", "graft_im_ivf_r",
      Array("--max-segments", "4", "--buckets", "2")).startsWith("healthy"))
    // unknown kind fails loudly
    intercept[IllegalArgumentException] {
      Main.runIndexMaintain(spark, "hnsw", "whatever", Array.empty)
    }
  }

  test("unknown operator fails loudly") {
    intercept[IllegalArgumentException] {
      PipelineConfig.parse("operators:\n  - name: nope\n")
    }
  }
}
