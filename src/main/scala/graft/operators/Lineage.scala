package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage cut for operators that reference their input more than
  * once — URL dedup's narrow winners semi-joined back to its input,
  * the pHash-hamming, video-frame and cross-modal joins, the re-crawl
  * state captures. Composed lazily after expression-deriving stages,
  * each reference re-evaluates the upstream chain, AND Catalyst's
  * filter pushdown substitutes derived columns' full expressions into
  * every predicate reference below the join — recompute that compounds
  * across stacked multi-reference layers (SURVEY §5.12/§16: a naive
  * fused 11-stage chain ran >703 s where staged ran 114 s at 2.25M
  * rows). Batch keep-first ([[graft.operators.dedup.KeepFirst]]) is
  * one window over a single reference and needs no cut.
  *
  * A LAZY `localCheckpoint(eager = false)` shares ONE
  * cached-on-first-use RDD between the references while the job stays
  * a single action, and compacts the printed plan to a LogicalRDD
  * (`persist()` instead renders the cache name from the EXPANDED tree,
  * which doubles per multi-reference layer — at stage 8+ the *string*
  * is the driver OOM).
  *
  * Streams cannot checkpoint, and neither can an OBSERVED plan
  * (`Pipeline.observed` funnels): a checkpoint would bury the upstream
  * CollectMetrics nodes inside an opaque RDD and their Observations
  * would read 0. Both fall back to the plain multi-reference, which
  * those modes accept (bounded per micro-batch / per run).
  */
object Lineage {
  def cut(df: DataFrame): DataFrame = {
    val observed = df.queryExecution.analyzed.collectFirst {
      case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => c
    }.nonEmpty
    // already a bare checkpointed-RDD scan (e.g. a staged pipeline's
    // per-stage localCheckpoint, or a caller that cut already): there
    // is no lineage to cut and no multi-reference hazard — wrapping it
    // again would STORE THE SAME ROWS A SECOND TIME (one more full
    // buffer of the input per operator) for zero plan compaction.
    val alreadyCut = df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    if (df.isStreaming || observed || alreadyCut) df
    else df.localCheckpoint(false)
  }
}
