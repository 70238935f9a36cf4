package graft.queries

import graft.Tables
import graft.pipeline.{RecrawlCapstone, RecrawlOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-2 incremental re-crawl capstone keys — the composition
  * [[graft.pipeline.RecrawlOps]] documents, gated on its
  * REBUILD-EQUALITY theorem: the Spark side runs the INCREMENTAL path
  * (diff-routed delta → per-doc chain → persisted-index exact +
  * minhash probes), the DuckDB oracle runs the FROM-SCRATCH chain over
  * the merged corpus (old ∪ re-keyed full new snapshot, unchanged
  * copies included). A hash match proves the day-2 shortcut — skip
  * unchanged, probe indexes instead of re-shingling the corpus —
  * changes nothing.
  *
  *   - `recrawl_day2_corpus`: the merged curated corpus
  *     (day-1 survivors ∪ incremental batch survivors).
  *   - `recrawl_day2_funnel`: the job's observability — diff status
  *     counts plus per-stage delta survivor counts plus both corpus
  *     sizes, every number replayed from the same rebuild (the dedup
  *     counts via the equality: incremental survivors == merged-chain
  *     survivors restricted to delta ids).
  */
object RecrawlQueries {

  private def corpusFrames(s: SparkSession, dir: String) = {
    val old = Tables.load(s, dir, "documents")
      .select("doc_id", "source", "lang", "text")
    // the derived snapshot is regex-heavy test-corpus SYNTHESIS (a real
    // day-2 crawl arrives as stored pages); cut it once so the diff,
    // the delta join and every downstream consumer share one
    // materialization instead of re-deriving per reference
    val neu = graft.operators.Lineage.cut(
      RecrawlCapstone.deriveNewSnapshot(old))
    // ONE narrow (id, status) diff shared by the funnel's status rollup
    // and the delta routing — the full-outer md5 merge is the day-2
    // job's per-snapshot pass; it must not run twice
    val diffT = graft.operators.Lineage.cut(
      graft.operators.CorpusDiff().diff(old, neu))
    val state = RecrawlOps.init(old, RecrawlCapstone.perDoc,
      RecrawlCapstone.lsh)
    val deltaDocs = RecrawlOps.deltaFromDiff(neu, diffT,
      RecrawlCapstone.changedOffset)
    val batch = RecrawlOps.ingest(state, deltaDocs,
      RecrawlCapstone.perDoc, RecrawlCapstone.lsh)
    (old, diffT, state, deltaDocs, batch)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "recrawl_day2_corpus" -> ((s, dir) => {
      val (_, _, state, _, batch) = corpusFrames(s, dir)
      state.curated.unionByName(batch.survivors, allowMissingColumns = true)
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("int").as("n_chars"))
    }),

    "recrawl_day2_funnel" -> ((s, dir) => {
      val (old, diffT, state, deltaDocs, _) = corpusFrames(s, dir)
      // the day-1 corpus count materializes the whole init chain
      // (per-doc ops over old + both indexes + the band anti join) and
      // shares nothing with the diff/delta legs until the index probes
      // — run it on its own thread so the scheduler back-fills its
      // task tails with the delta work (guide §2.6); concurrent
      // first-materialization of a shared lazily-cut frame is safe
      // (block-manager partition locks: one computes, others wait)
      val day1F = scala.concurrent.Future(state.curated.count())(
        scala.concurrent.ExecutionContext.global)
      val statuses = diffT.groupBy("status").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // staged per-op counts over the delta (Pipeline.profile: each
      // stage checkpointed once, its count riding the checkpoint's own
      // action), then the two index probes counted the same way
      val (cur, perOp) = RecrawlCapstone.perDoc.profile(deltaDocs)
      val (es, esN) = graft.pipeline.Pipeline.checkpointCounted(
        RecrawlOps.exactSurvivors(state.exactIndex, cur))
      val (_, msN) = graft.pipeline.Pipeline.checkpointCounted(
        graft.operators.dedup.IncrementalMinHashDedup(RecrawlCapstone.lsh)
          .survivors(state.bandIndex, es))
      val day1 = scala.concurrent.Await.result(day1F,
        scala.concurrent.duration.Duration.Inf)
      val steps: Seq[(String, Long)] =
        Seq("input_old" -> old.count(),
          "diff_added" -> statuses.getOrElse("added", 0L),
          "diff_changed" -> statuses.getOrElse("changed", 0L),
          "diff_unchanged" -> statuses.getOrElse("unchanged", 0L),
          "diff_removed" -> statuses.getOrElse("removed", 0L),
          "delta_input" -> perOp.head.rowsIn) ++
        perOp.map(m => m.op -> m.rowsOut) ++
        Seq("incremental_exact" -> esN,
          "incremental_minhash" -> msN,
          "corpus_day1" -> day1,
          "corpus_day2" -> (day1 + msN))
      import s.implicits._
      steps.zipWithIndex.map { case ((n, c), i) => (i, n, c) }
        .toDF("step_idx", "step", "n_rows")
    })
  )

  // ---------------------------------------------------------------- oracle

  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** The new snapshot + merged re-keyed corpus + the full from-scratch
    * chain (normalize → length → gopher → exact keep-first → minhash
    * stream-order drop) as one CTE block ending in `final`. */
  private def chainSql: String = {
    val mhCtes = (DedupQueries.mhSigSqlFrom("s4") + ",\n" + DedupQueries.bandsSql)
      .replace("sigs AS (", "sigs AS MATERIALIZED (")
      .replace("buckets AS (", "buckets AS MATERIALIZED (")
    s"""WITH old AS MATERIALIZED (
       |  SELECT doc_id, source, lang, text FROM documents),
       |neu AS MATERIALIZED (
       |  SELECT doc_id, source, lang,
       |    CASE WHEN doc_id % 7 = 3
       |      THEN regexp_replace(text, 'fast', 'quick', 'g')
       |           || ' updated in the second crawl donâ€™t miss it'
       |      ELSE text END AS text
       |  FROM old WHERE doc_id % 13 <> 5
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS doc_id, source, lang,
       |    CASE doc_id % 3
       |      WHEN 0 THEN text
       |      WHEN 1 THEN regexp_replace(text, 'data', 'info', 'g')
       |      ELSE regexp_replace(text, '((?:\\S+ ){3}\\S+) ', '\\1 crawl2 ', 'g')
       |    END AS text
       |  FROM old),
       |merged AS MATERIALIZED (
       |  SELECT * FROM old
       |  UNION ALL
       |  SELECT CASE WHEN doc_id < 3000000 THEN doc_id + 4000000
       |              ELSE doc_id END AS doc_id, source, lang, text
       |  FROM neu),
       |s1 AS MATERIALIZED (
       |  SELECT doc_id, source, lang,
       |    nfc_normalize(replace(text, 'â€™', '''')) AS text
       |  FROM merged),
       |s2 AS MATERIALIZED (
       |  SELECT * FROM s1 WHERE length(text) BETWEEN 100 AND 100000),
       |g_w AS (
       |  SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS words,
       |    string_split_regex(text, '\\r?\\n') AS lines,
       |    length(regexp_replace(text, '\\s+', '', 'g')) AS chars,
       |    length(text) - length(replace(text, '#', '')) AS hashes,
       |    (length(text) - length(replace(text, '...', ''))) / 3 +
       |      (length(text) - length(replace(text, '…', ''))) AS ellipses
       |  FROM s2),
       |g_f AS (
       |  SELECT doc_id,
       |    CAST(len(words) AS BIGINT) AS g_word_count,
       |    round(CAST(chars AS DOUBLE) / len(words), 4) AS g_mean_word_len,
       |    round(CAST(hashes + ellipses AS DOUBLE) / len(words), 4) AS g_symbol_ratio,
       |    round(CAST(len(list_filter(lines, l -> trim(l) LIKE '-%' OR
       |      trim(l) LIKE '*%' OR trim(l) LIKE '•%')) AS DOUBLE) / len(lines), 4) AS g_bullet_ratio,
       |    round(CAST(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE) / len(lines), 4) AS g_ellipsis_ratio,
       |    round(CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(words), 4) AS g_alpha_ratio,
       |    CAST(CAST(list_contains(words, 'the') AS INT) +
       |         CAST(list_contains(words, 'a') AS INT) AS BIGINT) AS g_stop_hits
       |  FROM g_w),
       |s3 AS MATERIALIZED (
       |  SELECT s2.* FROM s2 JOIN g_f USING (doc_id)
       |  WHERE g_word_count BETWEEN 20 AND 100000 AND
       |    g_mean_word_len BETWEEN 3.0 AND 10.0 AND
       |    g_symbol_ratio <= 0.1 AND g_bullet_ratio <= 0.9 AND
       |    g_ellipsis_ratio <= 0.3 AND g_alpha_ratio >= 0.8 AND g_stop_hits >= 2),
       |s4 AS MATERIALIZED (
       |  SELECT * FROM s3
       |  QUALIFY row_number() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) = 1),
       |$mhCtes,
       |dropped AS MATERIALIZED (
       |  SELECT DISTINCT b.doc_id
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |final AS MATERIALIZED (
       |  SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM dropped))"""
      .stripMargin
  }

  def oracles: Map[String, String] = Map(
    "recrawl_day2_corpus" ->
      (chainSql + "\n" +
        """SELECT doc_id, source, CAST(length(text) AS INT) AS n_chars
          |FROM final""".stripMargin),

    // delta-stage counts come from the SAME rebuild via the equality
    // theorem (delta ids are >= 3e6; old ids below); diff statuses
    // replay the snapshot hash compare
    "recrawl_day2_funnel" ->
      (chainSql + ",\n" +
        s"""delta AS (
           |  SELECT CASE WHEN doc_id < 3000000 THEN doc_id + 4000000
           |              ELSE doc_id END AS doc_id
           |  FROM neu n
           |  WHERE doc_id >= 3000000
           |     OR md5(n.text) <> (SELECT md5(o.text) FROM old o
           |                        WHERE o.doc_id = n.doc_id))
           |SELECT 0 AS step_idx, 'input_old' AS step,
           |  (SELECT count(*) FROM old) AS n_rows
           |UNION ALL SELECT 1, 'diff_added',
           |  (SELECT count(*) FROM neu WHERE doc_id >= 3000000)
           |UNION ALL SELECT 2, 'diff_changed',
           |  (SELECT count(*) FROM neu n JOIN old o USING (doc_id)
           |   WHERE md5(n.text) <> md5(o.text))
           |UNION ALL SELECT 3, 'diff_unchanged',
           |  (SELECT count(*) FROM neu n JOIN old o USING (doc_id)
           |   WHERE md5(n.text) = md5(o.text))
           |UNION ALL SELECT 4, 'diff_removed',
           |  (SELECT count(*) FROM old WHERE doc_id % 13 = 5)
           |UNION ALL SELECT 5, 'delta_input', (SELECT count(*) FROM delta)
           |UNION ALL SELECT 6, 'unicode_normalizer', (SELECT count(*) FROM delta)
           |UNION ALL SELECT 7, 'text_length_filter',
           |  (SELECT count(*) FROM s2 JOIN delta USING (doc_id))
           |UNION ALL SELECT 8, 'gopher_quality_filter',
           |  (SELECT count(*) FROM s3 JOIN delta USING (doc_id))
           |UNION ALL SELECT 9, 'incremental_exact',
           |  (SELECT count(*) FROM s4 WHERE doc_id >= 3000000)
           |UNION ALL SELECT 10, 'incremental_minhash',
           |  (SELECT count(*) FROM final WHERE doc_id >= 3000000)
           |UNION ALL SELECT 11, 'corpus_day1',
           |  (SELECT count(*) FROM final WHERE doc_id < 3000000)
           |UNION ALL SELECT 12, 'corpus_day2', (SELECT count(*) FROM final)"""
          .stripMargin)
  )
}
