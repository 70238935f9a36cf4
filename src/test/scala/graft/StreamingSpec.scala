package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {

  test("tumblingAgg aggregates a memory stream incrementally") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingOps.tumblingAgg(events, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("tumbling_test")
      .outputMode("update").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 00:20:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 01:05:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .select("event_type", "n", "total_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("file-source stream drives a curation filter end-to-end") {
    val sq = spark
    import sq.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val in = s"$dir/in"
    Seq((1L, "a sufficiently long document for the filter"), (2L, "no"))
      .toDF("doc_id", "text").write.parquet(in)
    val stream = graft.streaming.StreamingOps.parquetStream(spark, in,
      spark.read.parquet(in).schema)
    val filtered = graft.operators.text.TextLengthFilter(minLength = 10)(stream)
    val q = filtered.writeStream.format("memory").queryName("file_stream_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_stream_test").select("doc_id").as[Long].collect().toSeq
      assert(got == Seq(1L))
    } finally q.stop()
  }

  test("map-only r11 refiners run unchanged in a file stream == batch") {
    val sq = spark
    import sq.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_r11").toString
    val in = s"$dir/in"
    Seq(
      (1L, "caf\u00c3\u00a9 menu\ndef f(x):\n    return x;"),
      (2L, "pay 4111 1111 1111 1111 now\nplain prose line"),
      (3L, "it\u00e2\u20ac\u2122s prose\nmore prose"))
      .toDF("doc_id", "text").write.parquet(in)
    def curate(df: org.apache.spark.sql.DataFrame) =
      graft.operators.text.CodeDetector()(
        graft.operators.text.CreditCardRedactor()(
          graft.operators.text.UnicodeNormalizer()(df)))
    val stream = graft.streaming.StreamingOps.parquetStream(spark, in,
      spark.read.parquet(in).schema)
    val q = curate(stream).writeStream.format("memory")
      .queryName("r11_stream_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("r11_stream_test")
        .select("doc_id", "text", "n_mojibake_chars", "n_cards", "code_line_frac")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
      val batch = curate(spark.read.parquet(in))
        .select("doc_id", "text", "n_mojibake_chars", "n_cards", "code_line_frac")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
      assert(got == batch)                      // replay equivalence
      // mojibake counter = artifact chars consumed (one 2-char "Ã©");
      // 2 of 3 lines code (6 dp)
      assert(got(1L)._2 == 2 && got(1L)._4 == 0.666667)
      assert(got(2L)._1.contains("<CC>") && got(2L)._3 == 1)
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with in-window purchases") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp, Double)]
    val purchases = MemoryStream[(Long, Long, Timestamp, Double)]
    val cdf = clicks.toDF().toDF("user_id", "event_id", "ts", "value")
    val pdf = purchases.toDF().toDF("user_id", "event_id", "ts", "value")
    val joined = StreamingOps.clickPurchaseJoin(cdf, pdf, intervalMinutes = 10)
    val q = joined.writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    try {
      clicks.addData((1L, 100L, Timestamp.valueOf("2024-01-01 00:00:00"), 0.0))
      purchases.addData(
        (1L, 200L, Timestamp.valueOf("2024-01-01 00:05:00"), 9.99),  // in window
        (1L, 201L, Timestamp.valueOf("2024-01-01 00:20:00"), 5.0))   // outside window
      q.processAllAvailable()
      val rows = spark.table("ss_join_test")
        .select("click_id", "purchase_id", "purchase_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows == Set((100L, 200L, 9.99)))
    } finally q.stop()
  }

  test("dedupStream keeps first document per content hash") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val deduped = StreamingOps.dedupStream(docs, watermark = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:00"), "same   Text here"),
        (2L, Timestamp.valueOf("2024-01-01 00:01:00"), "same text HERE"), // dup after normalize
        (3L, Timestamp.valueOf("2024-01-01 00:02:00"), "different text"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream_test").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L))
    } finally q.stop()
  }

  test("compactStream keep-latest state == batch SnapshotCompactor on replay") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Long, Long, String, Timestamp, Double)]
    val ev = mem.toDF().toDF("event_id", "user_id", "event_type", "ts", "value")
    val q = StreamingOps.compactStream(ev).writeStream.format("memory")
      .queryName("compact_stream_test").outputMode("update").start()
    try {
      mem.addData(
        (1L, 7L, "click", Timestamp.valueOf("2026-01-01 00:00:01"), 1.0),
        (2L, 7L, "click", Timestamp.valueOf("2026-01-01 00:00:05"), 2.0),
        (3L, 8L, "view", Timestamp.valueOf("2026-01-01 00:00:02"), 3.0))
      q.processAllAvailable()
      mem.addData(
        // older than event 2 → must NOT displace the state
        (4L, 7L, "click", Timestamp.valueOf("2026-01-01 00:00:03"), 4.0),
        // ts tie with event 3 → larger id wins
        (5L, 8L, "view", Timestamp.valueOf("2026-01-01 00:00:02"), 5.0))
      q.processAllAvailable()
      // every emitted row is a monotone improvement, so the final
      // compacted value per key = its max-(ts, id) emitted row
      val finals = spark.table("compact_stream_test")
        .as[(Long, String, Long, Long, Double)].collect()
        .groupBy(r => (r._1, r._2))
        .map { case (k, rows) => k -> rows.maxBy(r => (r._4, r._3))._3 }
      assert(finals == Map((7L, "click") -> 2L, (8L, "view") -> 5L))
      // and the batch operator on the same replay agrees
      val batch = Seq(
        (1L, 7L, "click", Timestamp.valueOf("2026-01-01 00:00:01"), 1.0),
        (2L, 7L, "click", Timestamp.valueOf("2026-01-01 00:00:05"), 2.0),
        (3L, 8L, "view", Timestamp.valueOf("2026-01-01 00:00:02"), 3.0),
        (4L, 7L, "click", Timestamp.valueOf("2026-01-01 00:00:03"), 4.0),
        (5L, 8L, "view", Timestamp.valueOf("2026-01-01 00:00:02"), 5.0))
        .toDF("event_id", "user_id", "event_type", "ts", "value")
      val got = graft.operators.events.SnapshotCompactor(
        Seq("user_id", "event_type"))(batch)
        .select("event_id").as[Long].collect().toSet
      assert(got == Set(2L, 5L))
    } finally q.stop()
  }

  test("StreamingMetricsListener records per-batch rows and rec/s") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    val listener = new graft.streaming.StreamingMetricsListener
    spark.streams.addListener(listener)
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingOps.tumblingAgg(mem.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("metrics_test")
      .outputMode("update").start()
    try {
      mem.addData((Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 00:20:00"), "view", 2.0))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2024-01-01 00:30:00"), "click", 3.0))
      q.processAllAvailable()
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 10e9.toLong
      while (listener.batches.map(_.inputRows).sum < 3 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val bs = listener.batches
      assert(bs.map(_.inputRows).sum == 3)
      assert(bs.forall(_.batchMs >= 0))
      // per-batch deltas of the JVM-wide compile counter
      assert(bs.forall(_.codegenCompiles >= 0))
      assert(bs.map(_.codegenCompiles).sum <= compiles - c0)
      assert(listener.report.contains("rec/s"))
      assert(listener.report.contains("compiles"))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("nearDupStream suppresses later near-duplicates, keeps distinct docs") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingOps.nearDupStream(docs,
      graft.operators.dedup.MinHashLSH(numHashes = 12, bands = 4, shingleSize = 3))
      .select("doc_id")
    val q = out.writeStream.format("memory").queryName("neardup_test")
      .outputMode("update").start()
    try {
      mem.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:00"),
          "the quick brown fox jumps over the lazy dog again and again"),
        (2L, Timestamp.valueOf("2024-01-01 00:00:05"),
          "a completely different document about spark structured streaming state"))
      q.processAllAvailable()
      mem.addData(
        (3L, Timestamp.valueOf("2024-01-01 00:00:10"),
          "the quick brown fox jumps over the lazy dog again and again")) // dup of 1
      q.processAllAvailable()
      val ids = spark.table("neardup_test").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L)) // 3 suppressed by 1's bands
    } finally q.stop()
  }

  test("nearDupStream: same-batch duplicates keep exactly the min id") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingOps.nearDupStream(docs,
      graft.operators.dedup.MinHashLSH(numHashes = 12, bands = 4, shingleSize = 3))
      .select("doc_id")
    val q = out.writeStream.format("memory").queryName("neardup_samebatch")
      .outputMode("update").start()
    try {
      // both duplicates arrive in ONE micro-batch: band wins must not
      // split between them (which would drop the content entirely)
      mem.addData(
        (7L, Timestamp.valueOf("2024-01-01 00:00:00"),
          "the quick brown fox jumps over the lazy dog again and again"),
        (4L, Timestamp.valueOf("2024-01-01 00:00:01"),
          "the quick brown fox jumps over the lazy dog again and again"),
        (9L, Timestamp.valueOf("2024-01-01 00:00:02"),
          "an unrelated report on distributed query engines and state stores"))
      q.processAllAvailable()
      val ids = spark.table("neardup_samebatch").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(4L, 9L)) // min id of the dup pair survives, 7 dropped
    } finally q.stop()
  }

  test("nearDupStream: short docs pass through instead of colliding") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingOps.nearDupStream(docs,
      graft.operators.dedup.MinHashLSH(numHashes = 12, bands = 4, shingleSize = 3))
      .select("doc_id")
    val q = out.writeStream.format("memory").queryName("neardup_short")
      .outputMode("update").start()
    try {
      mem.addData((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "tiny"))
      q.processAllAvailable()
      mem.addData(
        (2L, Timestamp.valueOf("2024-01-01 00:00:05"), "also small"),
        (3L, Timestamp.valueOf("2024-01-01 00:00:06"), ""),
        (4L, Timestamp.valueOf("2024-01-01 00:00:07"), "tiny")) // exact dup of 1
      q.processAllAvailable()
      val ids = spark.table("neardup_short").select("doc_id").as[Long].collect().toSet
      // distinct short docs never share a degenerate digest; an exact
      // short dup collides on its "s:" content-hash key, min id kept
      assert(ids == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("sessionize emits closed sessions on gap") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "value")
    val sess = StreamingOps.sessionize(events, gapMinutes = 30)
    val q = sess.writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      mem.addData(
        (7L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        (7L, Timestamp.valueOf("2024-01-01 00:10:00"), 2.0),
        (7L, Timestamp.valueOf("2024-01-01 02:00:00"), 5.0)) // gap > 30min closes first session
      q.processAllAvailable()
      val rows = spark.table("sess_test")
        .select("user_id", "n_events", "value").as[(Long, Long, Double)].collect().toSet
      assert(rows == Set((7L, 2L, 3.0)))
    } finally q.stop()
  }

  test("sessionizeWithTimeout closes idle sessions when the watermark passes") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "value")
    // 30-min gap, zero-delay watermark: the watermark is max(ts) seen
    val sess = StreamingOps.sessionizeWithTimeout(events, gapMinutes = 30,
      watermark = "0 seconds")
    val q = sess.writeStream.format("memory").queryName("sess_timeout_test")
      .outputMode("append").start()
    try {
      // user 7 has two events then goes idle — no further events for 7 EVER
      mem.addData(
        (7L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        (7L, Timestamp.valueOf("2024-01-01 00:10:00"), 2.0))
      q.processAllAvailable()
      // nothing closed yet: watermark is 00:10, timeout is 00:40
      assert(spark.table("sess_timeout_test").isEmpty)
      // ANOTHER user's event advances the watermark past 00:40 —
      // user 7's idle session must close without any event from 7
      mem.addData((8L, Timestamp.valueOf("2024-01-01 01:00:00"), 9.0))
      q.processAllAvailable()
      // timeouts fire on the micro-batch AFTER the watermark advances;
      // an empty batch is enough to trigger evaluation
      mem.addData((8L, Timestamp.valueOf("2024-01-01 01:01:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_timeout_test")
        .select("user_id", "n_events", "value").as[(Long, Long, Double)]
        .collect().toSet
      assert(rows.contains((7L, 2L, 3.0)), s"expected user 7's session closed, got $rows")
    } finally q.stop()
  }
}
