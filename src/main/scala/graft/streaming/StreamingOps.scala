package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface: the same event analytics as the batch
  * queries (C5–C7), expressed as incremental plans. The reference has
  * no streaming engine — its loaders stream batches into actor pools;
  * here `readStream` + watermarked stateful aggregation is the native
  * equivalent with exactly-once sinks.
  */
object StreamingOps {

  /** Run independent side-effecting actions concurrently and wait for
    * ALL of them; the first failure (if any) is rethrown after every
    * task has finished, so callers keep fail-the-batch semantics with
    * no orphaned in-flight job. Spark's scheduler runs concurrent jobs
    * FIFO, back-filling one job's task tail with the next job's tasks
    * (guide §2.6) — a micro-batch with several small idempotent
    * outputs pays the slowest one's wall instead of the sum of fixed
    * costs. Threads are created per call and torn down after: callers
    * run a handful of outputs per micro-batch, not a hot loop. */
  private[graft] def runConcurrently(fs: Seq[() => Unit]): Unit = {
    if (fs.isEmpty) return
    if (fs.size == 1) return fs.head()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size)
    try {
      val futures = fs.map(f => pool.submit(new Runnable {
        override def run(): Unit = f()
      }))
      var firstErr: Option[Throwable] = None
      futures.foreach { fut =>
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstErr.isEmpty) firstErr = Some(e.getCause)
        }
      }
      firstErr.foreach(throw _)
    } finally pool.shutdown()
  }

  /** Tumbling-window counts/sums per event type with a watermark for
    * state eviction — the streaming twin of `events_tumbling_agg`. */
  def tumblingAgg(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Gap-based sessionization with mapGroupsWithState — the streaming
    * twin of `events_sessionize` (30-min inactivity gap). Emits one row
    * per closed session. A session here closes only when a LATER event
    * for the same user proves the gap — an idle user's last session
    * stays open forever. Use [[sessionizeWithTimeout]] in production;
    * this form exists for gap-semantics parity with the batch query on
    * a finite replay. */
  case class SessionState(start: Long, last: Long, n: Long, value: Double)
  case class SessionOut(user_id: Long, n_events: Long, duration_us: Long, value: Double)

  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000L
    events.selectExpr("user_id", "unix_micros(ts) AS ts_us", "value")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[SessionState]) =>
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          rows.toSeq.sortBy(_._2).foreach { case (_, ts, v) =>
            cur match {
              case Some(s) if ts - s.last > gapUs =>
                closed += SessionOut(uid, s.n, s.last - s.start, s.value)
                cur = Some(SessionState(ts, ts, 1, v))
              case Some(s) =>
                // max, not ts: a late-but-within-gap CROSS-batch event
                // (per-batch sortBy only orders within the batch) must
                // not regress `last` — a regressed cursor would later
                // fake a gap and split the session (r16 review finding)
                cur = Some(s.copy(start = math.min(s.start, ts),
                  last = math.max(s.last, ts),
                  n = s.n + 1, value = s.value + v))
              case None =>
                cur = Some(SessionState(ts, ts, 1, v))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }.toDF()
  }

  /** Production sessionization: like [[sessionize]], but an idle user's
    * session also closes when the EVENT-TIME watermark passes its last
    * event + gap (`GroupStateTimeout.EventTimeTimeout`) — no unbounded
    * open state, no session held hostage by a user who never returns.
    * State per user is one [[SessionState]] (4 numbers), evicted on
    * close; the shuffle that feeds `groupByKey` partitions users, so
    * state scales horizontally like any keyed aggregation. */
  def sessionizeWithTimeout(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "1 hour"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000L
    events
      .withWatermark("ts", watermark)
      .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "value")
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last-event + gap: close and evict
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.n, s.last - s.start, s.value))
          } else {
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
            rows.toSeq.sortBy(_._3).foreach { case (_, _, ts, v) =>
              cur match {
                case Some(s) if ts - s.last > gapUs =>
                  closed += SessionOut(uid, s.n, s.last - s.start, s.value)
                  cur = Some(SessionState(ts, ts, 1, v))
                case Some(s) =>
                  // max, not ts — see sessionize() (cross-batch
                  // within-watermark late events must not regress last)
                  cur = Some(s.copy(start = math.min(s.start, ts),
                    last = math.max(s.last, ts),
                    n = s.n + 1, value = s.value + v))
                case None =>
                  cur = Some(SessionState(ts, ts, 1, v))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // event-time timeout is expressed in ms
              state.setTimeoutTimestamp(s.last / 1000 + gapMinutes.toLong * 60 * 1000)
            }
            closed.iterator
          }
      }.toDF()
  }

  /** File-source stream over a parquet directory (the ingestion shape
    * for continuous curation: new files appear, pipeline transforms
    * incrementally). */
  def parquetStream(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Stream-stream interval join: clicks enriched with the same user's
    * purchase within the trailing `intervalMinutes` — both sides
    * watermarked so the join state is bounded (Spark requires the
    * equality key + time bound to prune state). The streaming twin of
    * the batch range join. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      intervalMinutes: Int = 10, watermark: String = "30 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $intervalMinutes MINUTES"))
      .select("user_id", "click_id", "click_ts", "purchase_id", "purchase_value")
  }

  /** Streaming CDC/recrawl compaction — the incremental twin of
    * [[graft.operators.events.SnapshotCompactor]] (C38): per
    * (user, type) key, keep the LATEST version seen so far (ties to
    * the larger id, the batch operator's exact rule) and emit the
    * winner whenever it improves (Update mode). State per key is one
    * (version, id, value) triple, partitioned by the groupByKey
    * shuffle like any keyed state; every emitted row is a monotone
    * improvement, so the max-(version, id) row ever emitted for a key
    * IS its final compacted value — replay-equivalent to the batch
    * operator on any prefix. */
  case class LatestState(version: Long, id: Long, value: Double)
  case class LatestOut(user_id: Long, event_type: String, event_id: Long,
    ts_us: Long, value: Double)

  /** Streaming search-index maintenance: roll a persisted index
    * (BM25's postings/vocab/lens or IVF's cells — anything with a
    * batch `refreshIndex(newRows, fromName, toName)`) forward one
    * micro-batch at a time under the versioned-artifact convention.
    * Each non-empty batch refreshes the CURRENT version into
    * `<base>_v<batchId+1>` and flips the pointer; readers of an old
    * version are never disturbed, and a crashed refresh leaves the
    * prior version intact (the batch refreshIndex contract).
    *
    * Effectively-once across RESTARTS via the [[graft.sources.Sinks]]
    * write-marker-after-data discipline, not a process-local pointer:
    * after a refresh completes, a commit record `c<batchId>` naming the
    * new version lands (tmp + atomic rename) in
    * `<warehouse>/<base>__index_log/`. On start the live pointer
    * recovers from the HIGHEST committed record ([[recoverIndexState]];
    * `startVersion` is only the empty-log fallback), and a replayed
    * micro-batch (id ≤ last committed id) is SKIPPED — without the
    * log, a replay would refresh from the original base version and
    * silently drop every earlier committed batch's documents. A crash
    * MID-refresh leaves no record, so the replay rebuilds that version
    * from the recovered pointer (refresh drops a torn target first).
    * Caller contract: restarts must reuse the stream checkpoint (batch
    * ids monotone — standard Structured Streaming); a fresh checkpoint
    * against an existing base needs a fresh base or a cleared log.
    *
    * Segment lifecycle: with the segmented index layout (r15) a refresh
    * appends one batch-sized segment, so an always-on stream grows one
    * segment per micro-batch. Pass `compact` = (every, foldFn) to FOLD
    * the index every `every` committed batches: the fold writes
    * `<base>_v<id+1>c` and THAT name commits — still before the commit
    * record, so a crash mid-fold leaves the pointer on the previous
    * version and the replay rebuilds refresh + fold cleanly (both drop
    * torn targets first).
    *
    * Returns the DataStreamWriter (caller adds checkpoint options and
    * starts) plus the live-version handle. */
  def indexMaintenance(docs: DataFrame, base: String, startVersion: String,
      refresh: (DataFrame, String, String) => Unit,
      compact: Option[(Int, (String, String) => Unit)] = None)
      : (org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
         java.util.concurrent.atomic.AtomicReference[String]) = {
    val spark = docs.sparkSession
    val (recovered, committedId) = recoverIndexState(spark, base, startVersion)
    val live = new java.util.concurrent.atomic.AtomicReference[String](recovered)
    val lastCommitted = new java.util.concurrent.atomic.AtomicLong(committedId)
    val writer = docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (id > lastCommitted.get && !batch.isEmpty)
          rollIndexBatch(spark, base, id, batch.toDF(), refresh, compact,
            live, lastCommitted)
    }
    (writer, live)
  }

  /** ONE micro-batch of the versioned index roll — refresh the live
    * version into `<base>_v<id+1>`, optionally fold every `every`
    * committed batches (the folded `…c` name is what commits), write
    * the commit record, then flip the in-memory pointers. The single
    * implementation behind both [[indexMaintenance]] and
    * [[graft.streaming.StreamingCuration.start]] (the r15 verdict's
    * duplicated-compact-hook finding): the commit record lands AFTER
    * refresh+fold, so a crash anywhere inside leaves the pointer on
    * the previous version and the replay rebuilds cleanly (refresh and
    * fold both drop torn targets first). */
  private[graft] def rollIndexBatch(spark: org.apache.spark.sql.SparkSession,
      base: String, id: Long, batch: DataFrame,
      refresh: (DataFrame, String, String) => Unit,
      compact: Option[(Int, (String, String) => Unit)],
      live: java.util.concurrent.atomic.AtomicReference[String],
      lastCommitted: java.util.concurrent.atomic.AtomicLong): Unit = {
    val to = s"${base}_v${id + 1}"
    refresh(batch, live.get, to)
    val committed = compact match {
      case Some((every, fold)) if every > 0 && (id + 1) % every == 0 =>
        val cz = s"${to}c"
        fold(to, cz)
        cz
      case _ => to
    }
    writeIndexCommit(spark, base, id, committed)
    live.set(committed)
    lastCommitted.set(id)
  }

  private def indexLogDir(spark: org.apache.spark.sql.SparkSession,
      base: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"${base.toLowerCase(java.util.Locale.ROOT)}__index_log")

  /** (live version, last committed batch id) from the commit log;
    * (`startVersion`, -1) when no batch ever committed. */
  def recoverIndexState(spark: org.apache.spark.sql.SparkSession,
      base: String, startVersion: String): (String, Long) = {
    val dir = indexLogDir(spark, base)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pat = "^c(\\d+)$".r
    val recs =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
        case pat(n) => Some(n.toLong -> st.getPath)
        case _ => None
      })
    if (recs.isEmpty) (startVersion, -1L)
    else {
      val (id, p) = recs.maxBy(_._1)
      val in = fs.open(p)
      val ver =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      (ver, id)
    }
  }

  /** Clear the commit log — a NEW deployment over a reused base name
    * (fresh checkpoint, batch ids restarting at 0). */
  def clearIndexLog(spark: org.apache.spark.sql.SparkSession,
      base: String): Unit = {
    val dir = indexLogDir(spark, base)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  /** Fold a `batch=<id>`-partitioned signature/state dir's partitions
    * with id < `below` into ONE consolidated partition — the B26
    * compact-index discipline applied to the streaming loops' per-
    * micro-batch state (an always-on 1 s trigger writes ~86k tiny
    * partitions a day; past a few hundred the partition LISTING is the
    * probe cost). Probe-equality is by construction:
    *
    *  - the consolidated partition keeps the NUMERIC id of the largest
    *    folded batch, so every future probe's `batch < id` filter sees
    *    exactly the same row set (a string digest id would break the
    *    comparison and the column's inferred type);
    *  - only ids < `below` fold. Passing the CURRENT batch id as
    *    `below` from inside `foreachBatch` is replay-safe: ids below
    *    the running batch are checkpoint-committed and can never be
    *    replayed, while the running batch's own partition (which a
    *    crash before the checkpoint commit WOULD replay) is never
    *    folded — a replay still overwrites only its own partition and
    *    still probes `batch < id` without seeing its own rows.
    *
    * Crash-safety (the [[graft.sources.Sinks.swapIn]] protocol): merge
    * stages under an underscore dir (parquet-invisible), swaps into the
    * target partition with `__old` recovery, and deletes the other
    * source partitions LAST — every torn window leaves either the
    * originals or a temporarily-doubled row set, and doubled rows are
    * benign for existence probes (`distinct()` collapses them on the
    * next fold). Callers run [[graft.sources.Sinks.recoverPartitionSwaps]]
    * before reading (readIndex does). Returns the number of partitions
    * folded away (0 = nothing to do). */
  def foldBatchPartitions(spark: org.apache.spark.sql.SparkSession,
      dir: String, below: Long): Int = {
    import graft.sources.Sinks
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    Sinks.recoverPartitionSwaps(fs, dir)
    val ids = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("batch=").toLong).toOption)
      .filter(_ < below).sorted.toSeq
    if (ids.size < 2) return 0
    val tgt = ids.max
    val merged = spark.read
      .option("basePath", dir)
      .parquet(ids.map(i => s"$dir/batch=$i"): _*)
      .drop("batch")
      .distinct() // doubled rows from a torn prior fold collapse here
    val staging = s"$dir/_staging_fold_$tgt"
    merged.write.mode("overwrite").parquet(staging)
    fs.delete(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"), false)
    Sinks.swapIn(fs, s"$dir/batch=$tgt", staging)
    // sources go LAST: a crash before this line leaves a readable,
    // correct (if temporarily doubled) state
    ids.filterNot(_ == tgt).foreach { i =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=$i"), true)
    }
    ids.size - 1
  }

  private[graft] def writeIndexCommit(spark: org.apache.spark.sql.SparkSession,
      base: String, id: Long, version: String): Unit = {
    val dir = indexLogDir(spark, base)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"c$id.tmp")
    val out = fs.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, s"c$id"))
  }

  def compactStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "event_type", "event_id",
        "unix_micros(ts) AS ts_us", "value")
      .as[(Long, String, Long, Long, Double)]
      .groupByKey(r => (r._1, r._2))
      .mapGroupsWithState[LatestState, LatestOut](
        GroupStateTimeout.NoTimeout()) {
        case ((uid, et), rows, state: GroupState[LatestState]) =>
          var cur = state.getOption
          rows.foreach { case (_, _, id, ts, v) =>
            if (cur.forall(s => ts > s.version || (ts == s.version && id > s.id)))
              cur = Some(LatestState(ts, id, v))
          }
          val s = cur.get
          state.update(s)
          LatestOut(uid, et, s.id, s.version, s.value)
      }.toDF()
  }

  /** Streaming exact dedup — the incremental twin of ExactDedup: keep
    * the first document per normalized-content hash, with watermark-
    * bounded state so the dedup map does not grow forever (the streaming
    * analogue of the reference's sharded DedupBackend actors; state here
    * lives in the HDFS-backed state store, partitioned by the shuffle).
    * `tsCol` is the event-time column the watermark applies to.
    *
    * Deterministic intra-batch winner (same discipline as the near-dup
    * stream's per-band collapse): each batch is clustered by hash and
    * collapsed to its MIN-`idCol` row per class before the stateful
    * drop, so duplicates arriving in ONE micro-batch keep the least id
    * — without it the within-batch survivor is shuffle-order luck, and
    * the converged stream would not replay to the batch operator's
    * keep-first answer. */

  /** Per-partition MIN-id collapse: one surviving row per `keyCol`
    * value, the row with the smallest `idCol` (ids totally ordered —
    * shuffle-order-independent). THE implementation behind both
    * [[dedupStream]]'s per-content-hash collapse and [[nearDupStream]]'s
    * per-band collapse (previously two hand-rolled copies — r16 review
    * finding, the SegmentedManifest drift argument). Input must be
    * repartitioned BY `keyCol` first so a key never spans partitions;
    * memory is O(distinct keys per partition) — streaming can't sort. */
  private def collapseMinBy(df: DataFrame, keyCol: String,
      idCol: String): DataFrame = {
    val keyIdx = df.schema.fieldIndex(keyCol)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { it =>
      val best = scala.collection.mutable.HashMap.empty[String, org.apache.spark.sql.Row]
      it.foreach { r =>
        val k = r.getString(keyIdx)
        val keep = best.get(k).forall(cur =>
          r.get(idIdx).asInstanceOf[Comparable[Any]].compareTo(cur.get(idIdx)) < 0)
        if (keep) best(k) = r
      }
      best.valuesIterator
    }(org.apache.spark.sql.Encoders.row(df.schema))
  }

  def dedupStream(docs: DataFrame, idCol: String = "doc_id",
      tsCol: String = "ts", textCol: String = "text",
      watermark: String = "1 hour"): DataFrame = {
    val clustered = docs
      .withColumn("content_hash",
        graft.functions.TextFns.contentHashMd5(col(textCol)))
      .repartition(col("content_hash"))
    val collapsed = collapseMinBy(clustered, "content_hash", idCol)
    collapsed
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
  }

  /** Streaming NEAR-dup suppression, the incremental twin of
    * [[graft.operators.dedup.MinHashLSH]]'s keep-first semantics: drop a
    * document when any of its MinHash band digests was already seen
    * inside the watermark (a colliding band ⇒ likely near-duplicate ⇒
    * suppress the later arrival). Banding is OR-ed by exploding one row
    * per band before the keyed drop, then collapsing back to one row per
    * doc: a doc survives iff ALL of its bands were unseen, so survivors
    * re-aggregate to their full band count. Emits the survivors' FULL
    * input rows, so a curated stream feeds a sink directly; the payload
    * rides the per-band explode and its repartition.
    *
    * This is the whole streaming dedup layer. An exact duplicate of a
    * shingleable doc has an identical signature, so it collides in every
    * band. A doc too short to shingle carries no near-dup signal (the
    * batch twin never buckets it), so its one band is
    * `"s:" + contentHashMd5(text)`: exact duplicates collide, distinct
    * short docs do not. Band digests are 32-char md5 hex, so an `"s:"`
    * key never collides with one. Both kinds of doc share one scan, one
    * watermark and one band state.
    *
    * The watermark runs on a coarse clock: event time floored to a
    * multiple of the `watermark` delay d, with a delay of 2d. Spark
    * inlines the watermark value into the generated predicates of both
    * stateful operators and runs a no-data micro-batch to evict when it
    * moves. A watermark that moved with every batch recompiled every
    * batch (2 classes per warm batch in `StreamingCurationSpec`'s compile
    * gate) and ran the extra batch each time. On the floored clock it
    * moves once per d of event time. A row is dropped as late only when
    * it is more than d older than the newest event seen, as with a
    * plain `withWatermark(ts, d)`. A band key stays in state until the
    * newest event time seen is 3d–4d past its doc (a doc's win count
    * leaves sooner), so the state is bounded by the docs of that window,
    * not by the corpus. */
  def nearDupStream(docs: DataFrame,
      lsh: graft.operators.dedup.MinHashLSH = graft.operators.dedup.MinHashLSH(),
      idCol: String = "doc_id", tsCol: String = "ts",
      textCol: String = "text", watermark: String = "1 hour"): DataFrame = {
    val sh = col("__sh")
    // the watermark clock's step d: the `watermark` delay in ms, parsed
    // as withWatermark parses it
    val step = math.max(1L, EventTimeWatermark.getDelayMs(
      IntervalUtils.fromIntervalString(watermark)))
    val ms = unix_millis(col(tsCol))
    val banded = docs
      .withColumn("__row", struct(docs.columns.toSeq.map(col): _*))
      .withColumn("__wts", timestamp_millis(ms - pmod(ms, lit(step))))
      .withColumn("__sh",
        graft.functions.TextFns.wordShingles(col(textCol), lsh.shingleSize))
      .filter(size(sh) >= 0) // a null text shingles to null: no key, dropped
      .withColumn("__bands",
        when(size(sh) === 0, array(concat(lit("s:"),
          graft.functions.TextFns.contentHashMd5(col(textCol)))))
        // let-bind the signature (Cols.bind): bandDigests slices it once
        // per band, and an INLINED signature tree would re-compute the
        // whole per-shingle hash pass per band digest (no CSE inside
        // higher-order lambdas — the same trap signatureFromShingles
        // avoids internally for its base-hash array)
        .otherwise(graft.functions.Cols.bind(
          lsh.signatureFromShingles(sh))(sig => lsh.bandDigests(sig))))
      .select(col(idCol), col("__wts"), col("__bands"), col("__row"))
      .withColumn("__band", explode(col("__bands")))
      .repartition(col("__band"))
    // Deterministic intra-batch winner: rows are clustered by band, then
    // each partition collapses every band to its MIN-id row, so the
    // stateful drop sees exactly one contender per band per batch. Ids
    // are totally ordered, so band wins can never split across a
    // duplicate set arriving in one batch (which would drop every copy):
    // the min-id doc of each colliding cluster wins all its bands and
    // survives, independent of shuffle row order.
    collapseMinBy(banded, "__band", idCol)
      .withWatermark("__wts", s"${2 * step} milliseconds")
      .dropDuplicatesWithinWatermark("__band")
      .groupBy(col(idCol), col("__wts"))
      .agg(count(lit(1)).as("__won"), first(col("__bands")).as("__bands"),
        first(col("__row")).as("__row"))
      .filter(col("__won") === size(col("__bands")))
      .select(col("__row.*"))
  }
}

/** Streaming twin of [[graft.pipeline.StageMetrics]]: per-micro-batch
  * rows and rec/s collected from the engine's own progress events (no
  * extra jobs), reference framework/metrics throughput reporting for
  * the continuous path. Attach with `spark.streams.addListener`. */
class StreamingMetricsListener(maxBatches: Int = 10000)
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  require(maxBatches >= 1, "maxBatches must be >= 1")

  /** `stageRows` carries the per-stage funnel counts of this batch when
    * the query was built with [[graft.pipeline.Pipeline.observedStream]]
    * (name-keyed, pipeline-ordered by the zero-padded index prefix).
    *
    * `codegenCompiles` is how many classes Janino compiled since the
    * previous progress event this listener saw (the delta of Spark's
    * `CodegenMetrics.METRIC_COMPILATION_TIME` count). The counter is
    * JVM-WIDE: it includes every query the JVM ran in that window, and
    * with several streams on one listener the window is the gap between
    * any two of their events. A warm loop whose generated classes stay
    * in Spark's codegen cache reads 0 (see
    * [[graft.GraftSession.CodegenCacheMaxEntries]]). */
  case class BatchMetrics(queryName: String, batchId: Long,
      inputRows: Long, recPerSec: Double, batchMs: Long,
      stageRows: Seq[(String, Long)] = Seq.empty,
      codegenCompiles: Long = 0L)

  // bounded ring: an always-on 1 s-trigger stream emits ~86k batches a
  // day, and an unbounded queue is a driver memory leak (r16 review
  // finding). [[batches]]/[[report]] cover the retained window;
  // [[stageTotals]] rolls up incrementally and covers EVERY batch.
  private val batchBuf =
    new java.util.concurrent.ConcurrentLinkedQueue[BatchMetrics]()
  // ConcurrentLinkedQueue.size is O(n); tracking the length here keeps
  // the per-event trim O(1) instead of a 10k-node walk per progress
  // event on an always-on 1 s trigger (r16 advice).
  private val batchCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val totals =
    scala.collection.mutable.LinkedHashMap.empty[String, Long]
  private val lastCompiles =
    new java.util.concurrent.atomic.AtomicLong(compileCount)
  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The retained (last `maxBatches`) batch rows. */
  def batches: Seq[BatchMetrics] = {
    import scala.jdk.CollectionConverters._
    batchBuf.iterator().asScala.toSeq
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    val stages = p.observedMetrics.asScala.toSeq.collect {
      case (name, row) if name.startsWith("graft_stage_") =>
        name.stripPrefix("graft_stage_") -> row.getAs[Long]("n")
    }.sortBy(_._1).map { case (n, v) => n.replaceFirst("^\\d+_", "") -> v }
    totals.synchronized {
      stages.foreach { case (n, v) =>
        totals.update(n, totals.getOrElse(n, 0L) + v)
      }
    }
    val compiled = compileCount
    batchBuf.add(BatchMetrics(
      Option(p.name).getOrElse(p.id.toString), p.batchId,
      p.numInputRows, p.processedRowsPerSecond, p.batchDuration, stages,
      compiled - lastCompiles.getAndSet(compiled)))
    batchCount.incrementAndGet()
    while (batchCount.get > maxBatches && batchBuf.poll() != null)
      batchCount.decrementAndGet()
  }

  /** Funnel totals across ALL batches ever recorded (not just the
    * retained window), in pipeline order — feed to
    * [[graft.pipeline.Pipeline.formatReport]] or
    * [[graft.pipeline.MetricsSink.fromFunnel]] for persistence. */
  def stageTotals: Seq[(String, Long)] =
    totals.synchronized { totals.toSeq }

  /** Reference-style throughput summary over the recorded batches. */
  def report: String = {
    val bs = batches
    val rows = bs.map(_.inputRows).sum
    val ms = bs.map(_.batchMs).sum
    val overall = if (ms > 0) rows * 1000.0 / ms else 0.0
    val sb = new StringBuilder
    sb.append(f"Batches: ${bs.size}  Rows: $rows%,d  ")
    sb.append(f"Overall: $overall%,.0f rec/s%n")
    bs.foreach { b =>
      sb.append(f"  batch ${b.batchId}%3d ${b.inputRows}%,10d rows ${b.batchMs}%6d ms ${b.recPerSec}%,12.0f rec/s ${b.codegenCompiles}%5d compiles%n")
    }
    sb.toString
  }
}
