package graft

import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("WARC reader splits records, parses headers, extracts text") {
    val dir = Files.createTempDirectory("graft_warc")
    val body = "<html><body><p>Hello CommonCrawl &amp; friends</p></body></html>"
    val warc =
      "WARC/1.0\r\n" +
        "WARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n" +
        "WARC/1.0\r\n" +
        s"WARC-Type: response\r\nWARC-Target-URI: http://a.example/\r\nContent-Length: ${body.length}\r\n\r\n$body\r\n\r\n" +
        "WARC/1.0\r\n" +
        "WARC-Type: request\r\nWARC-Target-URI: http://a.example/\r\nContent-Length: 0\r\n\r\n"
    Files.writeString(dir.resolve("f.warc"), warc)
    val recs = Sources.warc(spark, dir.toString + "/f.warc")
    val types = recs.select("warc_type").as[String].collect().toSet
    assert(types == Set("warcinfo", "response", "request"))
    val text = Sources.warcText(spark, dir.toString + "/f.warc")
      .select("url", "text").as[(String, String)].collect().toSeq
    assert(text == Seq(("http://a.example/", "Hello CommonCrawl & friends")))
  }

  test("gzipped WARC: multi-member .warc.gz (one member per record) parses fully") {
    val dir = Files.createTempDirectory("graft_warcgz")
    def rec(i: Int): String =
      "WARC/1.0\r\n" +
        s"WARC-Type: response\r\nWARC-Target-URI: http://ex.org/$i\r\n\r\n" +
        s"<html><body>doc number $i</body></html>\r\n\r\n"
    // real CommonCrawl layout: each record its own gzip member, concatenated
    val out = new java.io.FileOutputStream(dir.resolve("f.warc.gz").toFile)
    (0 until 5).foreach { i =>
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(rec(i).getBytes("UTF-8"))
      gz.finish()
    }
    out.close()
    val recs = Sources.warc(spark, dir.toString + "/f.warc.gz")
    assert(recs.count() == 5)
    val texts = Sources.warcText(spark, dir.toString + "/f.warc.gz")
      .select("url", "text").as[(String, String)].collect().toMap
    assert(texts == (0 until 5).map(i => s"http://ex.org/$i" -> s"doc number $i").toMap)
  }

  test("WARC content excludes the record-final CRLF CRLF frame") {
    val dir = Files.createTempDirectory("graft_warc2")
    val warc =
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\nWARC-Target-URI: http://x/\r\n\r\nlast record, no trailing delim\r\n\r\n"
    Files.writeString(dir.resolve("f.warc"), warc)
    val content = Sources.warc(spark, dir.toString + "/f.warc")
      .select("content").as[String].collect().head
    assert(content == "last record, no trailing delim")
  }

  test("parquet sink writes partitioned + sorted layout; roundtrips") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/t"
    val df = Seq((1L, "a", 3.0), (2L, "b", 1.0), (3L, "a", 2.0))
      .toDF("id", "part", "v")
    Sinks.parquet(df, dir, partitionBy = Seq("part"), sortWithin = Seq("v"))
    assert(new java.io.File(dir + "/part=a").exists())
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("id", "part", "v"))
  }

  test("table sink commits snapshots: versioning, time travel, pointer flip") {
    val dir = Files.createTempDirectory("graft_tbl").toString + "/tbl"
    val v1 = Sinks.table(Seq((1L, "x")).toDF("id", "k"), dir, partitionBy = Seq("k"))
    val v2 = Sinks.table(Seq((1L, "x"), (2L, "y")).toDF("id", "k"), dir,
      partitionBy = Seq("k"))
    assert((v1, v2) == (1L, 2L))
    assert(Files.exists(java.nio.file.Paths.get(dir, "manifest.json")))
    assert(Files.exists(java.nio.file.Paths.get(dir, "snapshots", "v2.json")))
    assert(Sinks.readTable(spark, dir).count() == 2) // current = v2
    assert(Sinks.readTable(spark, dir, asOfVersion = Some(1L)).count() == 1) // time travel
  }

  test("half-committed table write leaves the previous snapshot live") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_tblcrash").toString + "/tbl"
    Sinks.table(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    // simulate a crash mid-commit: data/v2 partially written, no
    // snapshot entry, pointer untouched
    val partial = java.nio.file.Paths.get(dir, "data", "v2")
    Files.createDirectories(partial)
    Files.writeString(partial.resolve("part-00000.parquet"), "garbage not parquet")
    assert(Sinks.readTable(spark, dir).count() == 2) // v1 still live, unharmed
    // the next commit claims version 2, replacing the debris
    val v = Sinks.table(Seq((3L, "c")).toDF("id", "v"), dir)
    assert(v == 2L)
    assert(Sinks.readTable(spark, dir).as[(Long, String)].collect().toSet ==
      Set((3L, "c")))
    // interrupted pointer FLIP (manifest gone): reader falls back to the
    // snapshot log, whose entries always have complete data
    Files.delete(java.nio.file.Paths.get(dir, "manifest.json"))
    assert(Sinks.readTable(spark, dir).count() == 1)
  }

  test("upsertTable merges as a commit; expireSnapshots keeps the tail") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_tblup").toString + "/tbl"
    Sinks.upsertTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, Seq("id"))
    Sinks.upsertTable(Seq((2L, "B!"), (3L, "c")).toDF("id", "v"), dir, Seq("id"))
    assert(Sinks.readTable(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B!"), (3L, "c")))
    // both versions still on the log, then retention drops v1
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    assert(Sinks.snapshotVersions(fs, dir) == Seq(1L, 2L))
    Sinks.expireSnapshots(spark, dir, keepLast = 1)
    assert(Sinks.snapshotVersions(fs, dir) == Seq(2L))
    assert(!new java.io.File(s"$dir/data/v1").exists())
    assert(Sinks.readTable(spark, dir).count() == 3)
  }

  test("jsonl + csv loaders") {
    val dir = Files.createTempDirectory("graft_src")
    Files.writeString(dir.resolve("d.jsonl"), "{\"a\":1,\"b\":\"x\"}\n{\"a\":2,\"b\":\"y\"}\n")
    assert(Sources.jsonl(spark, dir.toString + "/d.jsonl").count() == 2)
    Files.writeString(dir.resolve("d.csv"), "a,b\n1,x\n2,y\n")
    assert(Sources.csv(spark, dir.toString + "/d.csv").count() == 2)
  }

  test("parquetSorted writes non-overlapping ranges; compact merges small files") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_layout").toString
    val df = (1L to 1000L).toDF("id")
    Sinks.parquetSorted(df.repartition(8), s"$dir/sorted", Seq("id"), numFiles = 4)
    val files = new java.io.File(s"$dir/sorted").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    // non-overlapping: each file's ids form a contiguous range
    val ranges = files.map { f =>
      val ids = spark.read.parquet(f.getAbsolutePath).as[Long].collect()
      (ids.min, ids.max, ids.length)
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall { case Array(a, b) => a._2 < b._1; case _ => true })
    assert(ranges.map(_._3).sum == 1000)

    df.repartition(10).write.parquet(s"$dir/frag")
    Sinks.compact(spark, s"$dir/frag", targetFileMB = 256)
    val after = new java.io.File(s"$dir/frag").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after == 1)
    assert(spark.read.parquet(s"$dir/frag").count() == 1000)
  }

  test("upsert replaces keyed rows and keeps the rest; creates when absent") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_upsert").toString + "/t"
    Sinks.upsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, Seq("id"))
    Sinks.upsert(Seq((2L, "B!"), (3L, "c")).toDF("id", "v"), dir, Seq("id"))
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "B!"), (3L, "c")))
  }

  test("upsertPartitioned rewrites only touched partitions") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_upsertp").toString + "/t"
    Sinks.upsertPartitioned(
      Seq((1L, "p1", "a"), (2L, "p1", "b"), (3L, "p2", "c"))
        .toDF("id", "day", "v"), dir, Seq("id"), "day")
    val p2Files = new java.io.File(s"$dir/day=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    // second load touches only p1
    Sinks.upsertPartitioned(
      Seq((2L, "p1", "B!"), (4L, "p1", "d")).toDF("id", "day", "v"),
      dir, Seq("id"), "day")
    val got = spark.read.parquet(dir).select("id", "day", "v")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "p1", "a"), (2L, "p1", "B!"), (4L, "p1", "d"), (3L, "p2", "c")))
    // p2 data files untouched byte-for-byte (same files, same mtimes)
    val p2After = new java.io.File(s"$dir/day=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    assert(p2After == p2Files)
    // no leftover temp/old dirs
    assert(!new java.io.File(dir + "__upsert_tmp").exists())
    assert(!new java.io.File(s"$dir/day=p1__old").exists())
  }

  test("upsertPartitioned refuses a partition column contradicting the on-disk layout") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_upsertpc").toString + "/t"
    Sinks.upsertPartitioned(
      Seq((1L, "p1", "a")).toDF("id", "day", "v"), dir, Seq("id"), "day")
    // keying a later upsert on a different column would write
    // `v=...` dirs NEXT to the `day=...` dirs — silently corrupt mixed
    // layout; the on-disk layout is the truth and wins loudly
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertPartitioned(
        Seq((2L, "p1", "b")).toDF("id", "day", "v"), dir, Seq("id"), "v")
    }
    assert(e.getMessage.contains("'day'"), e.getMessage)
    // the matching column still works
    Sinks.upsertPartitioned(
      Seq((2L, "p1", "b")).toDF("id", "day", "v"), dir, Seq("id"), "day")
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("upsertPartitioned handles Hive-escaped partition values") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_upsertesc").toString + "/t"
    // ' ' and ':' are %XX-escaped in Hive partition dir names — the swap
    // must target the dirs the writer actually created
    Sinks.upsertPartitioned(
      Seq((1L, "day one", "a"), (2L, "t:colon", "b"))
        .toDF("id", "part", "v"), dir, Seq("id"), "part")
    Sinks.upsertPartitioned(
      Seq((1L, "day one", "A!"), (3L, "t:colon", "c"))
        .toDF("id", "part", "v"), dir, Seq("id"), "part")
    val got = spark.read.parquet(dir).select("id", "part", "v")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "day one", "A!"), (2L, "t:colon", "b"), (3L, "t:colon", "c")))
    assert(!new java.io.File(dir + "__upsert_tmp").exists()) // nothing stranded
  }

  test("z-ordered layout clusters both dimensions") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_z").toString + "/t"
    val df = (for (x <- 0 until 32; y <- 0 until 32) yield (x, y)).toDF("x", "y")
    Sinks.parquetZOrdered(df.repartition(8), dir,
      Seq(("x", 0.0, 31.0), ("y", 0.0, 31.0)), numFiles = 4)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    // each file's bounding box should cover ~1/4 of the plane, not a
    // full-width stripe: with z-order both spans shrink
    val spans = files.map { f =>
      val rows = spark.read.parquet(f.getAbsolutePath).as[(Int, Int)].collect()
      val xs = rows.map(_._1); val ys = rows.map(_._2)
      (xs.max - xs.min, ys.max - ys.min)
    }
    assert(spans.forall { case (sx, sy) => sx <= 20 && sy <= 20 },
      spans.mkString(","))
  }

  test("z-ordered layout actually skips data under a 2-D predicate") {
    // The clustering test above shows the layout; this one proves the
    // SKIPPING: a 2-D box predicate over a z-ordered table must read a
    // fraction of the rows (parquet row-group stats pruning — the
    // z-order confines the box to few row groups), while the same
    // predicate over an id-ordered layout decodes nearly everything
    // (every file spans all x/y values, so no row group can be
    // skipped). Scan-level numOutputRows is the decoded-row count —
    // rows surviving row-group pruning, before the post-scan filter.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val base = Files.createTempDirectory("graft_zskip").toString
    val n = 250000L
    // independent dims: full 500x500 grid, one point per cell
    val df = spark.range(n).select(
      (col("id") % 500).cast("double").as("x"),
      (col("id") / 500).cast("double").as("y"),
      col("id").as("payload"))
    Sinks.parquetZOrdered(df, s"$base/z", Seq(("x", 0.0, 499.0), ("y", 0.0, 499.0)),
      numFiles = 16)
    // baseline layout clustered by NEITHER dim (hash order) — ordering
    // by payload would accidentally cluster y = id/500 and skip too
    df.repartitionByRange(16, hash(col("payload")))
      .write.parquet(s"$base/unclustered")
    def decodedRows(path: String): Long = {
      val q = spark.read.parquet(path)
        .filter(col("x") < 50 && col("y") < 50) // 1% of the plane
      assert(q.count() == 2500) // correctness of the predicate itself
      q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f.metrics("numOutputRows").value
      }.getOrElse(fail("no FileSourceScanExec in plan"))
    }
    val zRows = decodedRows(s"$base/z")
    val linRows = decodedRows(s"$base/unclustered")
    info(s"z-ordered decoded $zRows of $n rows; unclustered decoded $linRows")
    assert(linRows > n / 2, s"unclustered layout unexpectedly skipped: $linRows")
    assert(zRows < n / 4, s"z-order failed to skip: decoded $zRows of $n")
  }

  test("bucketed tables join without a shuffle") {
    val sq = spark
    import sq.implicits._
    Sinks.bucketedTable((1L to 500L).map(i => (i, s"u$i")).toDF("user_id", "name"),
      "b_users", Seq("user_id"), numBuckets = 8)
    Sinks.bucketedTable((1L to 2000L).map(i => (i % 500 + 1, i * 1.5)).toDF("user_id", "amount"),
      "b_orders", Seq("user_id"), numBuckets = 8)
    try {
      // force the non-broadcast path so the assertion exercises bucket
      // alignment, not the broadcast fallback
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_users"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      // bucketing makes both sides pre-partitioned: shuffle-free sort-merge
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() == 2000)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_users")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }

  test("co-bucketed one-sorted-file-per-bucket tables join with zero Sort nodes") {
    // The bucketed-layout 100× finding (SURVEY §5.11; its retired
    // probe main is listed in §5.22) as a regression guard: with one
    // sorted file per bucket (repartition on the bucket key before
    // bucketBy+sortBy) and the bucketed-scan output-ordering flag, the
    // orderkey SMJ loses its sorts as well as its exchanges — the scan
    // itself reports the per-bucket order. A mis-sorted bucket file
    // would silently corrupt the SMJ, so correctness is asserted too.
    val sq = spark
    import sq.implicits._
    val users = (1L to 500L).map(i => (i, s"u$i")).toDF("user_id", "name")
      .repartition(8, col("user_id"))
    val orders = (1L to 2000L).map(i => (i % 500 + 1, i * 1.5)).toDF("user_id", "amount")
      .repartition(8, col("user_id"))
    Sinks.bucketedTable(users, "bs_users", Seq("user_id"), 8, Seq("user_id"))
    Sinks.bucketedTable(orders, "bs_orders", Seq("user_id"), 8, Seq("user_id"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val joined = spark.table("bs_orders").join(spark.table("bs_users"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(!"\\bSort \\[".r.findFirstIn(plan).isDefined, plan)
      assert(joined.count() == 2000)
      // and the join is actually correct on sorted-bucket input
      val got = joined.filter(col("user_id") === 7L).select("amount")
        .as[Double].collect().sorted.toSeq
      val want = (1L to 2000L).filter(_ % 500 + 1 == 7L).map(_ * 1.5).sorted
      assert(got == want)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS bs_users")
      spark.sql("DROP TABLE IF EXISTS bs_orders")
    }
  }

  test("sharded loader: killed mid-shard, resumes from the committed offset, no dup/missing") {
    import graft.sources.ShardedLoader
    val sq = spark
    import sq.implicits._
    val base = Files.createTempDirectory("graft_shardload").toString
    // shard A: three 4-row files with path order = id order, so
    // file-aligned chunks land at 0/4/8 with known contents
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/shardA"))
    Seq((0L, 4L), (4L, 8L), (8L, 12L)).zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = s"$base/tmpA$i"
      spark.range(lo, hi).select(col("id"), (col("id") * 2).as("v"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$base/shardA/part-0000$i.parquet"))
    }
    spark.range(100, 107).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.parquet(s"$base/shardB")
    val shards = Seq(s"$base/shardA", s"$base/shardB")
    // run 1 "killed" after 2 chunks — mid-shard A, committed offset 8
    val r1 = ShardedLoader.ingest(spark, shards, s"$base/state", s"$base/out",
      chunkRecords = 4, maxChunks = 2)
    assert(r1.budgetExhausted && r1.chunksWritten == 2 && r1.recordsWritten == 8)
    val pr = ShardedLoader.progress(spark, s"$base/state", s"$base/shardA")
    assert(pr.offset == 8 && !pr.done)
    assert(ShardedLoader.progress(spark, s"$base/state", s"$base/shardB").offset == 0)
    // torn chunk: a crashed attempt wrote data at the next offset but
    // died BEFORE the marker flip — loaded() must NOT surface it, and
    // the resume must overwrite it
    Seq((-1L, -1L)).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$base/out/shard_${ShardedLoader.shardKey(s"$base/shardA")}/off=8")
    val committed = ShardedLoader.loaded(spark, s"$base/out", s"$base/state", shards)
      .select("id").as[Long].collect().sorted.toSeq
    assert(committed == (0L until 8L).toSeq) // no -1 row, no shard B yet
    val r2 = ShardedLoader.ingest(spark, shards, s"$base/state", s"$base/out",
      chunkRecords = 4)
    assert(!r2.budgetExhausted && r2.shardsCompleted == 2)
    assert(r2.recordsWritten == 4 + 7) // shard A rows 8-11 + all of shard B
    val got = ShardedLoader.loaded(spark, s"$base/out", s"$base/state", shards)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == ((0L until 12L) ++ (100L until 107L)).sorted.toSeq)
    // a third run is a no-op (all shards done)
    val r3 = ShardedLoader.ingest(spark, shards, s"$base/state", s"$base/out",
      chunkRecords = 4)
    assert(r3.chunksWritten == 0 && r3.shardsCompleted == 2)
  }

  test("sharded loader: multi-file shard keeps shard-global offsets; torn tmp marker recovers") {
    import graft.sources.ShardedLoader
    val sq = spark
    import sq.implicits._
    val base = Files.createTempDirectory("graft_shardmf").toString
    // one shard, SEVERAL part files — row_index restarts per file, so
    // this is the layout that breaks a naive per-file cursor
    spark.range(0, 15).select(col("id"), (col("id") * 3).as("v"))
      .repartition(3).write.parquet(s"$base/shardM")
    val shard = s"$base/shardM"
    val r = ShardedLoader.ingest(spark, Seq(shard), s"$base/state",
      s"$base/out", chunkRecords = 4)
    // file-aligned windows: each 5-row file exceeds the 4-row minimum,
    // so every chunk is exactly one file — decoded rows == emitted rows
    assert(r.recordsWritten == 15 && r.shardsCompleted == 1 && r.chunksWritten == 3)
    val key = ShardedLoader.shardKey(shard)
    val sizes = Seq(0, 5, 10).map(o =>
      spark.read.parquet(s"$base/out/shard_$key/off=$o").count())
    assert(sizes == Seq(5L, 5L, 5L))
    val got = ShardedLoader.loaded(spark, s"$base/out", s"$base/state", Seq(shard))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (0L until 15L).toSeq)
    // a marker committed by the PRE-alignment loader can sit mid-file:
    // the resume finishes that file exactly (row_index residual, no
    // skip, no dup), then realigns
    val state3 = s"$base/state3"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(state3))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$state3/shard_$key.json"),
      s"""{"shard": "$shard", "offset": 7, "done": false}""".getBytes("UTF-8"))
    val r2 = ShardedLoader.ingest(spark, Seq(shard), state3,
      s"$base/out2", chunkRecords = 4)
    assert(r2.recordsWritten == 8 && r2.shardsCompleted == 1)
    val resumed = ShardedLoader.loaded(spark, s"$base/out2", state3, Seq(shard))
      .count()
    assert(resumed == 8)
    // commit-window crash: tmp written, old marker deleted, rename never
    // ran — only the .tmp survives and progress() must honor it
    val stateDir = s"$base/state2"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$stateDir/shard_$key.json.tmp"),
      s"""{"shard": "$shard", "offset": 8, "done": false}""".getBytes("UTF-8"))
    assert(ShardedLoader.progress(spark, stateDir, shard).offset == 8)
    // stale tmp BELOW the marker must lose (monotone-max rule)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$stateDir/shard_$key.json"),
      s"""{"shard": "$shard", "offset": 12, "done": false}""".getBytes("UTF-8"))
    assert(ShardedLoader.progress(spark, stateDir, shard).offset == 12)
  }

  test("a swap torn between swapIn's renames recovers: no table loss on the next upsert") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_tornswap").toString
    val path = s"$dir/t"
    Sinks.upsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path, Seq("id"))
    // simulate the crash window: live renamed to __old, tmp never landed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__old")))
    // the next upsert must RECOVER the old table, then merge — without
    // recovery it would write updates-only and delete __old (full loss)
    Sinks.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), path, Seq("id"))
    val got = spark.read.parquet(path).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "c")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
    // compact on a torn table likewise recovers instead of throwing
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__old")))
    Sinks.compact(spark, path)
    assert(spark.read.parquet(path).as[(Long, String)].collect().toSet == got)
  }

  test("compact preserves a Hive partition layout (and pruning)") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_cpart").toString
    val path = s"$dir/t"
    val df = (1L to 40L).map(i => (i, s"d${i % 3}", s"v$i")).toDF("id", "day", "v")
    Sinks.parquet(df, path, partitionBy = Seq("day"))
    Sinks.compact(spark, path, targetFileMB = 1)
    // partition dirs survive the rewrite
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs == Set("day=d0", "day=d1", "day=d2"), dirs)
    assert(spark.read.parquet(path).count() == 40)
    // and a later upsertPartitioned stays duplicate-free
    Sinks.upsertPartitioned(
      Seq((1L, "d1", "V1")).toDF("id", "day", "v"), path, Seq("id"), "day")
    val rows = spark.read.parquet(path).as[(Long, String, String)].collect()
    assert(rows.length == 40)
    assert(rows.count(_._1 == 1L) == 1)
  }

  test("zvalue stays sane at wide bit widths (no Int shift wrap)") {
    val sq = spark
    import sq.implicits._
    val df = Seq((0.0, 0.0), (50.0, 50.0), (100.0, 100.0)).toDF("x", "y")
    val z = df.select(Sinks.zvalue(
        Seq((col("x"), 0.0, 100.0), (col("y"), 0.0, 100.0)),
        bitsPerDim = 31).as("z"))
      .as[Long].collect()
    // a wrapped scale factor made every z 0; distinct + monotone now
    assert(z.distinct.length == 3 && z.sorted.toSeq == z.toSeq, z.toSeq)
  }

  test("orc roundtrip") {
    val sq = spark
    import sq.implicits._
    val dir = Files.createTempDirectory("graft_orc").toString + "/t"
    Seq((1L, "x"), (2L, "y")).toDF("id", "s").write.orc(dir)
    assert(Sources.orc(spark, dir).count() == 2)
  }
}
