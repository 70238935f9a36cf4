package graftbench

import java.nio.file.{Files => JF, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.PipelineConfig
import graft.streaming.{StreamingCuration, StreamingMetricsListener}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Open-loop stream ingest: the `graft.Main stream-curate` shape over a
  * watched directory that the benchmark's publisher fills with one file
  * per interval, on schedule, whatever the query's progress. */
object StreamBench {
  /** Open-loop files per run: p90 latency then has 10 samples beyond it. */
  val FileCount = 100
  val PerFile = 40
  val SetupReps = 1

  /** Progress of every micro-batch, kept for latency and the streaming layer. */
  final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      events.iterator().asScala.toSeq
  }

  private def yaml(watch: Path, out: Path, ckpt: Path, base: String): String =
    s"""data_loader:
       |  type: ParquetLoader
       |  params:
       |    path: ${Json.str(watch.toString)}
       |stages:
       |  - name: perdoc
       |    operators:
       |      - name: unicode_normalizer
       |      - name: text_length_filter
       |        params: {min_length: 100, max_length: 100000}
       |      - name: gopher_quality_filter
       |        params: {min_words: 20, stop_words: [the, a]}
       |streaming:
       |  out_path: ${Json.str(out.toString)}
       |  checkpoint_path: ${Json.str(ckpt.toString)}
       |  watermark: 1 hour
       |  ts_field: ts
       |  bm25_base: $base
       |  bm25_buckets: 4
       |  bm25_compact_every: 8
       |""".stripMargin

  private def commitMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)

  def run(ctx: Ctx, res: Result): Unit = {
    val spans = new Spans(ctx.runId, ctx.traced)
    val staging = ctx.work.resolve("staging")
    JF.createDirectories(staging)
    val g0 = System.nanoTime()
    val files = Gen.stream(ctx.seed, FileCount + 1, PerFile)
    files.zipWithIndex.foreach { case (f, k) =>
      Gen.writeParquet(staging.resolve(f"f$k%04d.parquet"), f.docs.iterator)
    }
    val genS = (System.nanoTime() - g0) / 1e9
    val records = FileCount.toLong * PerFile
    res.info("input_records") = records
    res.info("files") = FileCount
    res.info("docs_per_file") = PerFile
    res.info("expected_source") = "generator replay"

    var spark: SparkSession = null
    val progress = new Progress
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    var outPath: Path = null
    var openSpan = 0
    var tracer: EngineTrace = null
    var funnel: StreamingMetricsListener = null
    var foldLive: () => Unit = () => ()
    var pipeline: graft.pipeline.Pipeline = null

    /** Start a query over a fresh directory that holds the warm-up file,
      * and wait for its first commit: the `stream-curate` calls. */
    def startQuery(k: Int): Unit = {
      val dir = ctx.work.resolve(s"q$k")
      val watch = dir.resolve("watch")
      JF.createDirectories(watch)
      JF.copy(staging.resolve("f0000.parquet"), watch.resolve("f0000.parquet"))
      outPath = dir.resolve("out")
      val y = yaml(watch, outPath, dir.resolve("ckpt"), s"graftbench_bm25_q$k")
      val job = PipelineConfig.parseJob(y)
      val st = PipelineConfig.parseSection(y, "streaming")
      val schema = spark.read.parquet(watch.toString).schema
      val in = spark.readStream.schema(schema).parquet(watch.toString)
        .withColumn("ts", current_timestamp())
      funnel = new StreamingMetricsListener
      pipeline = job.pipeline
      spark.streams.addListener(funnel)
      val curation = StreamingCuration(job.pipeline,
        graft.operators.dedup.MinHashLSH(textCol = "text", idCol = "doc_id"),
        "doc_id", "ts", "text", st("watermark").toString)
      val bm = graft.operators.text.Bm25(idCol = "doc_id", textCol = "text")
      val base = st("bm25_base").toString
      bm.buildIndex(spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))),
        s"${base}_v0", st("bm25_buckets").toString.toInt)
      val index = Some((base, s"${base}_v0",
        (batch: org.apache.spark.sql.DataFrame, from: String, to: String) =>
          spans("index.refresh", openSpan)(
            bm.refreshIndex(batch.select(col("doc_id"), col("text")), from, to))))
      val compact = Some((st("bm25_compact_every").toString.toInt,
        (from: String, to: String) =>
          spans("index.compact", openSpan)(bm.compactIndex(spark, from, to))))
      val (q, live) = curation.start(in, outPath.toString, dir.resolve("ckpt").toString,
        index, compact)
      query = q
      foldLive = () => live.foreach(v => bm.compactIndex(spark, v.get, v.get + "f"))
      query.processAllAvailable()
    }

    // ---- set-up: session, config parse, query start and the first
    // processed warm-up file; the median of several, each on a fresh
    // session and a fresh query
    val setups = mutable.ArrayBuffer.empty[Double]
    val sessionBuilds = mutable.ArrayBuffer.empty[Double]
    (1 to SetupReps).foreach { k =>
      if (query != null) query.stop()
      val t0 = System.nanoTime()
      spark = Session.build(ctx.work)
      sessionBuilds += (System.nanoTime() - t0) / 1e9
      spark.streams.addListener(progress)
      if (ctx.traced && k == SetupReps) tracer = new EngineTrace(spark)
      startQuery(k)
      setups += (System.nanoTime() - t0) / 1e9
    }
    res.info("plan_conf") = Session.planConf(spark)
    org.apache.spark.BenchBridge.drain(spark.sparkContext)
    val warmBatches = progress.all.filter(_.id == query.id).map(_.batchId).toSet
    val watch = outPath.getParent.resolve("watch")

    // ---- open loop: file k is due at t0 + (k-1) * interval
    val intervalMs = ctx.seconds * 1000.0 / FileCount
    val due = new Array[Long](FileCount + 1)
    val published = new Array[Long](FileCount + 1)
    val half = FileCount / 2
    var tracedFrom = 0L
    val c0 = Meters.cpuNs
    val o0 = System.nanoTime()
    val startMs = System.currentTimeMillis() + 200
    val publisher = new Thread(() => {
      (1 to FileCount).foreach { k =>
        due(k) = startMs + math.round((k - 1) * intervalMs)
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        // a traced run traces the second half of the files
        if (ctx.traced && k == half + 1) { tracer.attach(); tracedFrom = System.currentTimeMillis() }
        JF.move(staging.resolve(f"f$k%04d.parquet"), watch.resolve(f"f$k%04d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
        published(k) = System.currentTimeMillis()
      }
    }, "graftbench-publisher")
    publisher.setDaemon(true)
    spans("streaming.open_loop") {
      openSpan = spans.current
      Meters.watchHeap {
        publisher.start()
        publisher.join()
        query.processAllAvailable()
      }
    }
    val cpuNs = Meters.cpuNs - c0
    query.stop()
    // the report `stream-curate` prints when it stops
    System.err.println(funnel.report)
    System.err.println(pipeline.formatReport(funnel.stageTotals, (System.nanoTime() - o0) / 1e9))
    if (tracer != null) tracer.detach()
    val heapMb = Meters.heapPeakMb()
    org.apache.spark.BenchBridge.drain(spark.sparkContext)

    // ---- output check and file -> batch mapping from the committed
    // batch=<id> partitions (their union must not depend on batching)
    val rows = spark.read.parquet(outPath.toString).select(col("doc_id"), col("batch").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val out = rows.toMap
    val batchOfFile = new Array[Long](FileCount + 1)
    res.attempted = FileCount
    (0 to FileCount).foreach { k =>
      val want = files(k).survivors.toSet
      val ids = files(k).docs.map(_.id)
      val got = ids.filter(out.contains).toSet
      val ok = got == want
      if (!ok) res.fail(s"stream_ingest: file $k kept ${got.size} docs, expected ${want.size}")
      if (k > 0 && !ok) res.failed += 1
      batchOfFile(k) = want.headOption.flatMap(out.get).getOrElse(-1L)
    }
    val expected = Fingerprint.ofIds(files.flatMap(_.survivors))
    val fp = Fingerprint.ofIds(rows.map(_._1))
    res.info("fingerprint") = fp.render
    if (fp != expected) res.fail(s"stream_ingest: fingerprint ${fp.render} != expected ${expected.render}")

    val prog = progress.all.filter(p => p.id == query.id && !warmBatches(p.batchId))
    val commits = prog.map(p => p.batchId -> commitMs(p)).toMap
    val lat = (1 to FileCount).flatMap(k => commits.get(batchOfFile(k)).map(c => (k, (c - due(k)) / 1000.0)))
    if (lat.size < FileCount) res.fail(s"stream_ingest: ${FileCount - lat.size} files have no timed commit")
    val latAll = lat.map(_._2)
    val lastCommit = commits.values.max
    val committed = lat.size.toLong * PerFile
    val (outBytes, _) = Files.parquetSize(outPath)
    res.info("latency_samples") = latAll.size
    res.info("batches") = prog.size
    res.info("batch_s") = prog.sortBy(_.batchId).map(p =>
      p.durationMs.asScala.get("triggerExecution").map(_.doubleValue / 1000).getOrElse(0.0))
    res.info("files_per_batch") = (1 to FileCount).groupBy(batchOfFile(_)).toSeq.sortBy(_._1)
      .map(_._2.size)
    if (!ctx.traced) {
      res.put("setup_s", Stats.median(setups.toSeq), "s")
      res.put("records_per_s", committed / ((lastCommit - due(1)) / 1000.0), "1/s")
      res.put("latency_p50_s", Stats.median(latAll), "s")
      res.put("latency_p90_s", Stats.quantile(latAll, 0.9), "s")
      res.put("cpu_ms_per_record", cpuNs / 1e6 / committed, "ms")
      res.put("heap_peak_mb", heapMb, "MB")
      res.put("out_bytes_per_row", outBytes.toDouble / (records + PerFile), "B")
      res.info("failed_frac") = res.failed.toDouble / res.attempted
      res.info("setup_samples_s") = setups.toSeq
    } else {
      val untracedLat = lat.filter(_._1 <= half).map(_._2)
      val tracedLat = lat.filter(_._1 > half).map(_._2)
      res.put("trace.latency_p50_s", Stats.median(tracedLat), "s")
      res.put("trace.untraced_latency_p50_s", Stats.median(untracedLat), "s")
      res.put("trace.overhead_frac", Stats.median(tracedLat) / Stats.median(untracedLat) - 1, "1")
      res.put("session.build_s", Stats.median(sessionBuilds.toSeq), "s")
      res.put("loadgen.gen_s", genS, "s")
      res.put("loadgen.late_p90_s",
        Stats.quantile((1 to FileCount).map(k => (published(k) - due(k)) / 1000.0), 0.9), "s")
      // engine cost per micro-batch over the traced half of the open loop
      val tracedBatches = prog.filter(_.batchId >= batchOfFile(half + 1))
      tracer.metrics((lastCommit - tracedFrom) / 1000.0, tracedBatches.size.max(1).toDouble)
        .foreach { case (k, v) => res.put(k, v, Result.unitOf(k)) }
      def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
        Stats.median(prog.map(f))
      def dur(k: String)(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
        p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)
      res.put("streaming.batches", prog.size.toDouble, "count")
      res.put("streaming.files_per_batch",
        Stats.median((1 to FileCount).groupBy(batchOfFile(_)).values.map(_.size.toDouble).toSeq), "count")
      res.put("streaming.batch_p50_s", med(dur("triggerExecution")) / 1000.0, "s")
      res.put("streaming.add_batch_ms", med(dur("addBatch")), "ms")
      res.put("streaming.query_planning_ms", med(dur("queryPlanning")), "ms")
      res.put("streaming.wal_commit_ms", med(dur("walCommit")), "ms")
      res.put("streaming.commit_offsets_ms", med(dur("commitOffsets")), "ms")
      res.put("streaming.latest_offset_ms", med(dur("latestOffset")), "ms")
      val last = prog.maxBy(_.batchId)
      res.put("streaming.state_rows", last.stateOperators.map(_.numRowsTotal).sum.toDouble, "count")
      res.put("streaming.state_mem_mb", last.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0, "MB")
      res.put("streaming.state_commit_ms", med(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
      val openRefresh = spans.named("index.refresh").filter(_.parent == openSpan)
      // a fold every 8 batches seldom lands in the short open loop: the
      // traced run also times one fold of the segments the run rolled
      spans("index.compact")(foldLive())
      val openCompact = spans.named("index.compact").filter(_.parent == openSpan)
      val folds = spans.named("index.compact")
      res.put("index.refreshes", openRefresh.size.toDouble, "count")
      res.put("index.compactions", openCompact.size.toDouble, "count")
      res.put("index.refresh_s", if (openRefresh.isEmpty) 0.0 else Stats.median(openRefresh.map(_.seconds)), "s")
      res.put("index.compact_s", Stats.median(folds.map(_.seconds)), "s")
      res.put("sinks.out_mb", outBytes / 1048576.0, "MB")
      spans.selfSeconds.toSeq.sortBy(_._1).foreach { case (layer, s) =>
        res.put(s"self.${layer}_s", s, "s") }
      BulkBench.writeSpans(ctx, spans)
    }
  }
}
