package graft.streaming

import graft.operators.dedup.MinHashLSH
import graft.pipeline.Pipeline
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.functions._

/** The CONTINUOUS curation capstone — the batch capstones (B58/B59)
  * re-expressed as one always-on micro-batch job from the streaming
  * twins that already exist one by one:
  *
  *   readStream → per-doc chain with NAMED observe nodes
  *   ([[Pipeline.observedStream]] — the funnel arrives per micro-batch
  *   through `QueryProgressEvent.observedMetrics`, zero extra jobs,
  *   collected by [[StreamingMetricsListener]]) → ONE streaming
  *   dedup layer ([[StreamingOps.nearDupStream]]: band-digest state,
  *   min-id first-wins; a doc too short to shingle is keyed by its
  *   content hash in the same state) → ONE foreachBatch sink that
  *   (a) lands each batch's survivors under `out/batch=<id>/` (overwrite per id — a replayed
  *   micro-batch converges instead of appending twice) and (b) rolls a
  *   persisted search index one version forward under the
  *   [[StreamingOps.indexMaintenance]] commit-log discipline (same
  *   recovery, same skip-committed-batch rule, shared helpers).
  *
  * Equivalence contract (spec'd): with batches arriving in id order
  * inside the watermark, the union of committed batch partitions
  * equals the BATCH chain — perDoc → ExactDedup → MinHashLSH
  * keep-first — over everything ingested, and the final index version
  * serves identically to a from-scratch build over the curated corpus
  * (the IndexStreamSpec discipline, now chain-level).
  *
  * Scale shape: the query reads its source once and runs two stateful
  * operators, the band-key drop and the per-doc win count, under one
  * event-time watermark. Both are narrow (band keys, ids) and evict
  * once the watermark passes them, so state is bounded by the docs of
  * the last few `watermark` spans of event time, not by the corpus
  * (exact bounds on [[StreamingOps.nearDupStream]]); the payload
  * crosses the band explode only on gated survivors of the per-doc
  * chain. The price of eviction: a duplicate that arrives long enough
  * after its original is no longer suppressed, and rows too far behind
  * the newest event are dropped as late data. Each watermark move also
  * runs one no-data micro-batch, which takes a batch id. At cluster
  * scale the sink partitions land on distributed storage and the index
  * refresh reads only its narrow persisted tables.
  *
  * A checkpoint written by the earlier two-branch plan (it read its
  * source twice and ran a third stateful operator for short docs)
  * cannot resume: [[start]] fails before the query starts and names
  * the checkpoint. */
case class StreamingCuration(
    pipeline: Pipeline,
    lsh: MinHashLSH = MinHashLSH(),
    idCol: String = "doc_id",
    tsCol: String = "ts",
    textCol: String = "text",
    watermark: String = "1 hour") {

  /** The curated survivor stream (full rows, observe nodes attached).
    * One dedup layer does both jobs: an exact duplicate's signature is
    * identical, so it collides in every band, and a doc too short to
    * shingle is keyed by its content hash in the same band state. */
  def curated(docs: DataFrame): DataFrame =
    StreamingOps.nearDupStream(pipeline.observedStream(docs),
      lsh, idCol, tsCol, textCol, watermark)

  /** Start the job: idempotent per-batch survivor partitions plus an
    * optional index roll (`index` = (base table name, start version,
    * refresh fn) — e.g. BM25's `refreshIndex`). With the segmented
    * index layout each roll appends one batch-sized segment, so an
    * always-on job passes `compact` = (every, foldFn — e.g. BM25's
    * `compactIndex`) to fold the segments every `every` committed
    * batches; the folded version (`…v<N>c`) is what commits, and a
    * crash mid-fold leaves the pointer on the previous version (same
    * recovery as a torn refresh). Returns the query and the live
    * index-version handle. */
  def start(docs: DataFrame, outPath: String, checkpoint: String,
      index: Option[(String, String, (DataFrame, String, String) => Unit)] = None,
      compact: Option[(Int, (String, String) => Unit)] = None)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         Option[java.util.concurrent.atomic.AtomicReference[String]]) = {
    val spark = docs.sparkSession
    val state = index.map { case (base, startVersion, _) =>
      val (recovered, committedId) =
        StreamingOps.recoverIndexState(spark, base, startVersion)
      (new java.util.concurrent.atomic.AtomicReference[String](recovered),
        new java.util.concurrent.atomic.AtomicLong(committedId))
    }
    val out = curated(docs)
    StreamingCuration.requireResumable(spark, checkpoint, out)
    val q = out.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (!batch.isEmpty) {
            // consumed twice (sink + refresh): pin once
            val b = batch.localCheckpoint()
            // sink write and index roll are independent idempotent
            // outputs of the same pinned batch — overlap them (guide
            // §2.6; same failure semantics: either failing fails the
            // micro-batch before its checkpoint commit)
            StreamingOps.runConcurrently(Seq(
              () => b.write.mode("overwrite").parquet(s"$outPath/batch=$id")) ++
              ((index, state) match {
                case (Some((base, _, refresh)), Some((live, last)))
                    if id > last.get =>
                  // the shared refresh→fold→commit→flip protocol
                  Seq(() => StreamingOps.rollIndexBatch(spark, base, id, b,
                    refresh, compact, live, last))
                case _ => Nil
              }))
          }
      }
      .start()
    (q, state.map(_._1))
  }
}

object StreamingCuration {
  /** Fail before `start` when `checkpoint` was written by a query that
    * read a different number of sources than `query` does. Spark would
    * otherwise kill the query thread with an assertion that names no
    * setting a user can change. The usual cause is a checkpoint from
    * the earlier two-branch near-dup plan, which read its source twice;
    * its state cannot be carried over. */
  private def requireResumable(spark: SparkSession, checkpoint: String,
      query: DataFrame): Unit = {
    val offsets = new Path(checkpoint, "offsets")
    if (offsets.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(offsets)) {
      val written = new OffsetSeqLog(spark, offsets.toString).getLatest()
        .map(_._2.offsets.size)
      // Spark gives one source to each distinct streaming leaf
      val reads = query.queryExecution.analyzed.collectLeaves()
        .filter(_.isStreaming).distinct.size
      written.filter(_ != reads).foreach { n =>
        throw new IllegalStateException(
          s"checkpoint $checkpoint was written by a query with $n sources, " +
            s"but this curation query reads $reads; its state cannot be " +
            "resumed. Restart on a fresh checkpoint_path and out_path (and " +
            "bm25_base, if set): the survivors already under the old " +
            "out_path stay valid, but a fresh checkpoint restarts batch ids " +
            "at 0 and would overwrite their batch=<id> partitions.")
      }
    }
  }
}
