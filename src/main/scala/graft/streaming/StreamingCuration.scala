package graft.streaming

import graft.operators.dedup.MinHashLSH
import graft.pipeline.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The CONTINUOUS curation capstone — the batch capstones (B58/B59)
  * re-expressed as one always-on micro-batch job from the streaming
  * twins that already exist one by one:
  *
  *   readStream → per-doc chain with NAMED observe nodes
  *   ([[Pipeline.observedStream]] — the funnel arrives per micro-batch
  *   through `QueryProgressEvent.observedMetrics`, zero extra jobs,
  *   collected by [[StreamingMetricsListener]]) → ONE streaming
  *   dedup layer ([[StreamingOps.nearDupStreamRows]] with
  *   `dedupShorts`: band-digest state, min-id first-wins, plus a
  *   content-hash branch for docs too short to shingle) → ONE
  *   foreachBatch sink that (a) lands each batch's
  *   survivors under `out/batch=<id>/` (overwrite per id — a replayed
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
  * Scale shape: state is narrow everywhere (content hashes, band
  * digests), and the payload crosses the band explode only on gated
  * survivors of the per-doc chain. The state is NOT bounded today: the
  * query's watermark never advances, so no state store evicts and the
  * band and hash state grow with every distinct doc ingested. The
  * short-doc branch has its own `withWatermark`; when the per-doc
  * gates drop every doc too short to shingle (the length and gopher
  * gates of `configs/example_streaming_curation.yaml` do), that branch
  * never sees a row, Spark counts a watermark that has seen no data as
  * 0, and the query's watermark is the minimum over its watermarks
  * (progress `eventTime.watermark` reads 1970-01-01T00:00:00Z after
  * every batch). At cluster scale the sink partitions land on
  * distributed storage and the index refresh reads only its narrow
  * persisted tables; apart from the one-time base build, the unevicted
  * dedup state is what grows with the corpus. */
case class StreamingCuration(
    pipeline: Pipeline,
    lsh: MinHashLSH = MinHashLSH(),
    idCol: String = "doc_id",
    tsCol: String = "ts",
    textCol: String = "text",
    watermark: String = "1 hour") {

  /** The curated survivor stream (full rows, observe nodes attached).
    * One dedup layer does both jobs: an exact duplicate's signature is
    * identical, so it collides in every band — and the un-shingleable
    * short docs get their own content-hash branch
    * (`dedupShorts = true`). A separate chained [[StreamingOps
    * .dedupStream]] would need a second watermark on the same path,
    * which multi-stateful streaming disallows. */
  def curated(docs: DataFrame): DataFrame =
    StreamingOps.nearDupStreamRows(pipeline.observedStream(docs),
      lsh, idCol, tsCol, textCol, watermark, dedupShorts = true)

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
    val q = curated(docs).writeStream
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
