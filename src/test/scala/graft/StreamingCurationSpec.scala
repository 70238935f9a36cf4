package graft

import graft.operators.dedup.{ExactDedup, MinHashLSH}
import graft.operators.text.Bm25
import graft.pipeline.{OperatorRegistry, Pipeline}
import graft.streaming.{StreamingCuration, StreamingMetricsListener, StreamingOps}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The continuous curation capstone ([[StreamingCuration]]): streamed
  * ≡ batch at convergence, the per-micro-batch funnel from the
  * engine's own observedMetrics, and the index roll-forward — the
  * IndexStreamSpec discipline applied to the whole chain. */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  private val perDoc = Pipeline(Seq(
    OperatorRegistry.build("unicode_normalizer", Map.empty),
    OperatorRegistry.build("text_length_filter",
      Map[String, Any]("min_length" -> 12))))

  private val lsh = MinHashLSH(shingleSize = 2)

  private def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")

  test("streamed curation == batch chain at convergence; funnel + index roll forward") {
    implicit val ctx = spark.sqlContext
    StreamingOps.clearIndexLog(spark, "graft_sc_bm25")
    val bm = Bm25()
    // v0: an empty base index the stream rolls forward from
    bm.buildIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "graft_sc_bm25_v0", buckets = 4)
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val listener = new StreamingMetricsListener
    spark.streams.addListener(listener)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sc").toString
    val sc = StreamingCuration(perDoc, lsh, watermark = "10 minutes")
    val (q, live) = sc.start(docs, s"$tmp/out", s"$tmp/ckpt",
      index = Some(("graft_sc_bm25", "graft_sc_bm25_v0",
        (b: DataFrame, from: String, to: String) =>
          bm.refreshIndex(b.select("doc_id", "text"), from, to))))
    val batch1 = Seq(
      (1L, t(0), "alpha beta gamma delta epsilon words flow here"),
      (2L, t(1), "alpha beta gamma delta epsilon words flow here"), // exact dup
      (3L, t(2), "short"), // length-filtered
      (4L, t(3), "totally different content about fast boats and rivers"))
    val batch2 = Seq(
      (5L, t(10), "ALPHA beta gamma delta epsilon words flow here"), // exact dup after normalize
      (6L, t(11), "alpha beta gamma delta epsilon words flow here and more"), // near-dup of 1
      (7L, t(12), "fresh material that matches nothing else at all today"))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally { q.stop(); spark.streams.removeListener(listener) }

    // streamed ≡ batch: union of committed batch partitions == the
    // batch chain (perDoc → exact → minhash keep-first) over all input
    val streamed = spark.read.parquet(s"$tmp/out")
      .select("doc_id").as[Long].collect().toSet
    val all = (batch1 ++ batch2).toDF("doc_id", "ts", "text")
    val batchRef = lsh.copy()(ExactDedup()(perDoc(all)))
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batchRef)
    assert(streamed == Set(1L, 4L, 7L),
      s"2/5 exact dups, 3 too short, 6 near-dup of 1: got $streamed")

    // the funnel arrived through observedMetrics, per stage, per batch
    val totals = listener.stageTotals.toMap
    assert(totals("input") == 7L)
    assert(totals("unicode_normalizer") == 7L)
    assert(totals("text_length_filter") == 6L) // doc 3 dropped

    // the index rolled forward once per non-empty batch and serves
    // exactly like a from-scratch build over the curated corpus. Version
    // names carry the batch id: batch 1 is the no-data batch the first
    // watermark move runs, so the second data batch is batch 2 → v3
    assert(live.get.get == "graft_sc_bm25_v3")
    val curated = all.join(streamed.toSeq.toDF("doc_id"), "doc_id")
    bm.buildIndex(curated.select("doc_id", "text"), "graft_sc_bm25_full",
      buckets = 4)
    val queries = Seq((10L, "alpha rivers"), (11L, "fresh boats"))
      .toDF("query_id", "text")
    def rows(name: String) = bm.searchIndexed(spark, name, queries, k = 5)
      .select("query_id", "doc_id", "score", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rows("graft_sc_bm25_v3") == rows("graft_sc_bm25_full"))
  }

  test("warm micro-batches compile no classes: the codegen cache holds the loop") {
    implicit val ctx = spark.sqlContext
    // every GraftSession-built session (TestSpark included) carries the
    // sized cache; at Spark's default of 100 this loop's generated
    // classes evict each other and Janino recompiles ~90 per batch
    assert(spark.conf.get(GraftSession.CodegenCacheConf) ==
      GraftSession.CodegenCacheMaxEntries.toString)
    StreamingOps.clearIndexLog(spark, "graft_sc_cg")
    val bm = Bm25()
    bm.buildIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "graft_sc_cg_v0", buckets = 4)
    val mem = MemoryStream[(Long, String)]
    // data-derived event time: `current_timestamp()` inlines each
    // batch's literal into the generated code, a fresh class per batch
    val docs = mem.toDF().toDF("doc_id", "text")
      .withColumn("ts", timestamp_millis(col("doc_id") * 1000L + 1704067200000L))
    val tmp = java.nio.file.Files.createTempDirectory("graft_sc_cg").toString
    val (q, _) = StreamingCuration(perDoc, lsh, watermark = "10 minutes")
      .start(docs, s"$tmp/out", s"$tmp/ckpt",
        index = Some(("graft_sc_cg", "graft_sc_cg_v0",
          (b: DataFrame, from: String, to: String) =>
            bm.refreshIndex(b.select("doc_id", "text"), from, to))))
    def text(id: Long) = (0 until 8).map(i => s"w${id}x$i").mkString(" ")
    // the same shape every batch: 3 fresh docs, an exact re-post of an
    // earlier one, a doc the length gate drops
    def batch(b: Int): Seq[(Long, String)] = {
      val ids = (0 until 3).map(k => b * 10L + k)
      ids.map(id => id -> text(id)) ++
        Seq(b * 10L + 5 -> text(math.max(b - 1, 0) * 10L), b * 10L + 6 -> "tiny")
    }
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val after = try (0 until 5).map { b =>
      mem.addData(batch(b): _*); q.processAllAvailable(); compiles
    } finally q.stop()
    val perBatch = after.zip(after.tail).map { case (a, b) => b - a }
    assert(after.last == after(1),
      s"Janino compiles per batch after the first (0 expected from the third on): $perBatch")
    assert(spark.read.parquet(s"$tmp/out").count() == 15L)
  }

  test("one scan, 2 state operators: the watermark advances and band state plateaus") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // data-derived event time, one minute per id: batch b spans minutes
    // 60b..60b+4, so each batch lands an hour of event time past the
    // previous one, well past the 10-minute watermark
    val docs = mem.toDF().toDF("doc_id", "text")
      .withColumn("ts", timestamp_millis(col("doc_id") * 60000L + 1704067200000L))
    val tmp = java.nio.file.Files.createTempDirectory("graft_sc_wm").toString
    val (q, _) = StreamingCuration(perDoc, lsh, watermark = "10 minutes")
      .start(docs, s"$tmp/out", s"$tmp/ckpt")
    def text(id: Long) = (0 until 8).map(i => s"w${id}x$i").mkString(" ")
    // 3 fresh docs, an exact re-post of one, and a doc too short to
    // shingle that the length gate drops: no short doc reaches the dedup
    def batch(b: Int): Seq[(Long, String)] = {
      val ids = (0 until 3).map(k => b * 60L + k)
      ids.map(id => id -> text(id)) ++
        Seq(b * 60L + 3 -> text(b * 60L), b * 60L + 4 -> "tiny")
    }
    val nBatches = 5
    try (0 until nBatches).foreach { b =>
      mem.addData(batch(b): _*); q.processAllAvailable()
    } finally q.stop()
    val progress = q.recentProgress.toSeq
    val data = progress.filter(_.numInputRows > 0)
    // the source is read once: progress counts each row added once
    assert(progress.map(_.numInputRows).sum == nBatches * 5L)
    assert(data.size == nBatches)
    assert(data.forall(_.stateOperators.length == 2),
      data.map(_.stateOperators.map(_.operatorName).mkString(",")))
    // batch 0's data moves the watermark, so every later batch runs
    // with it past the epoch
    val wm = data.map(p => java.time.Instant.parse(p.eventTime.get("watermark")))
    assert(wm.head == java.time.Instant.EPOCH)
    assert(wm.tail.forall(_.isAfter(java.time.Instant.EPOCH)), wm)
    // band state holds the current and the previous batch's keys only
    val bandRows = data.map(_.stateOperators
      .find(_.operatorName == "dedupeWithinWatermark").get.numRowsTotal)
    assert(bandRows.tail.distinct.size == 1 && bandRows.last < nBatches * bandRows.head,
      s"band-state rows per data batch: $bandRows")
    assert(spark.read.parquet(s"$tmp/out").count() == nBatches * 3L)
  }

  test("a checkpoint written with two sources fails before start, naming it") {
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sc_ck").toString
    val ckpt = s"$tmp/ckpt"
    val a = MemoryStream[(Long, Timestamp, String)]
    val b = MemoryStream[(Long, Timestamp, String)]
    val two = a.toDF().union(b.toDF()).writeStream.format("noop")
      .option("checkpointLocation", ckpt).start()
    try {
      a.addData((1L, t(0), "alpha beta gamma delta epsilon words flow here"))
      two.processAllAvailable()
    } finally two.stop()
    val e = intercept[IllegalStateException] {
      StreamingCuration(perDoc, lsh, watermark = "10 minutes")
        .start(a.toDF().toDF("doc_id", "ts", "text"), s"$tmp/out", ckpt)
        ._1.stop()
    }
    assert(e.getMessage.contains(ckpt), e.getMessage)
    assert(e.getMessage.contains("2 sources"), e.getMessage)
    assert(e.getMessage.contains("fresh checkpoint_path"), e.getMessage)
    assert(!new java.io.File(s"$tmp/out").exists())
  }

  test("replayed micro-batch converges: partition overwrite + committed-version skip") {
    implicit val ctx = spark.sqlContext
    StreamingOps.clearIndexLog(spark, "graft_sc_rp")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sc_rp").toString
    val sc = StreamingCuration(perDoc, lsh, watermark = "10 minutes")
    def run(data: Seq[Seq[(Long, Timestamp, String)]], ckpt: String): Unit = {
      val mem = MemoryStream[(Long, Timestamp, String)]
      val (q, _) = sc.start(mem.toDF().toDF("doc_id", "ts", "text"),
        s"$tmp/out", ckpt)
      try data.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    val b0 = Seq((1L, t(0), "alpha beta gamma delta epsilon words flow here"))
    run(Seq(b0), s"$tmp/ckpt1")
    // "restart" with a fresh checkpoint re-delivers batch 0: the
    // batch=0 partition overwrites to the same rows instead of
    // doubling (the idempotence the sink contract promises)
    run(Seq(b0), s"$tmp/ckpt2")
    val out = spark.read.parquet(s"$tmp/out").select("doc_id").as[Long].collect()
    assert(out.toSeq == Seq(1L))
  }
}
