package graft.queries

import graft.Tables
import graft.pipeline.CurationCapstone
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end curation capstone key: the full FineWeb-style chain
  * ([[graft.pipeline.CurationCapstone]]) run as one registry-built
  * pipeline, gated on PER-STAGE survivor counts against a DuckDB
  * replay of the entire chain — every stage formula (normalizer repair,
  * URL canonicalization, gopher/C4 rules, content hashes, MinHash
  * banding, components, benchmark shingles, percentile gate) replayed
  * in one CTE chain. A wrong text rewrite, hash, banding constant or
  * keep-rule ANYWHERE in the composition moves some stage's count.
  *
  * The synthetic corpus is single-line word soup, so the crawl shapes
  * the chain exists for are DERIVED in-query with deterministic
  * formulas the oracle repeats verbatim (same convention as the
  * `c4_clean` / `dedup_url` / `text_normalize` keys):
  *
  *   - pages: periods planted on eight common words + doc_id-keyed
  *     lorem/brace/mojibake suffixes, then 5-word line chunking (the
  *     `c4_clean` derivation, plus " donâ€™t stop." on doc_id%10=0 so
  *     the normalizer stage genuinely repairs — the only artifact
  *     planted is â€™, so the oracle's single replace equals the
  *     operator's full repair chain on this corpus, and NFC is
  *     identity on the ASCII remainder);
  *   - re-crawl URL variants (+1e6): even ids canonicalize identically
  *     (tracking params + fragment → caught by url_deduplicator), odd
  *     ids get an /amp/ path with IDENTICAL text (caught later by
  *     text_exact_deduplicator — the funnel shows both dedup layers
  *     doing distinct work);
  *   - near-dup re-crawls (+2e6, doc_id%4=1): 'fast'→'quick' in-place
  *     BEFORE page shaping, so cleaned pages differ by a few shingles
  *     — exact dedup misses them, the MinHash survivor stage collapses
  *     them, and quality keep-best retains the LONGER copy.
  */
object CurationQueries {

  /** The `c4_clean`-style page derivation + capstone plantings
    * (shared: [[graft.operators.text.SyntheticPages.pageText]] — the
    * registry's `synthetic_page_column` op uses the same formula). */
  private def pageText(text: Column, id: Column): Column =
    graft.operators.text.SyntheticPages.pageText(text, id)

  private def urlOf(path: String): Column =
    concat(lit("https://www."), col("source"), lit(s".example.com/$path/"),
      col("doc_id"))

  /** Base pages + the two re-crawl variant families (see scaladoc). */
  def preppedInput(docs: DataFrame): DataFrame = {
    val prep = docs.select(col("doc_id"), col("source"), col("lang"),
      pageText(col("text"), col("doc_id")).as("text"))
    val prepR = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("source"), col("lang"),
        pageText(regexp_replace(col("text"), "fast", "quick"),
          col("doc_id")).as("text"))
    val base = prep.withColumn("url", urlOf("docs"))
    val variants = prep.select(
      (col("doc_id") + 1000000L).as("doc_id"), col("source"), col("lang"),
      col("text"),
      when(col("doc_id") % 2 === 0,
        concat(urlOf("docs"), lit("?utm_source=feed&ref=rss#frag")))
        .otherwise(urlOf("amp/docs")).as("url"))
    val recrawl = prepR.select(
      (col("doc_id") + 2000000L).as("doc_id"), col("source"), col("lang"),
      col("text"), urlOf("r2/docs").as("url"))
    base.unionByName(variants).unionByName(recrawl)
  }

  /** Benchmark suite for the decontamination stage: the normalized
    * page text of every 50th base doc (written to a temp parquet so
    * the stage runs through the registry's `decontaminator` builder —
    * the same benchmark_path contract the YAML config uses). */
  def benchmarkFrame(docs: DataFrame): DataFrame =
    graft.operators.text.UnicodeNormalizer()(
      docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), pageText(col("text"), col("doc_id")).as("text")))
      .select("doc_id", "text")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_curation_funnel" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val benchDir = java.nio.file.Files
        .createTempDirectory("graft_capstone_bench").toString
      benchmarkFrame(docs).write.mode("overwrite").parquet(benchDir)
      CurationCapstone.pipeline(benchDir).funnelStaged(preppedInput(docs))
    }),

    // the COMPOSED soft-dedup proof: stage 12's per-survivor
    // (sd_commonness, sd_weight) — not just the funnel's flat count —
    // gated against the same chain replay plus the B75 weight CTEs
    // over the stage-11 survivors
    "curation_softdedup_weights" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val benchDir = java.nio.file.Files
        .createTempDirectory("graft_capstone_bench").toString
      benchmarkFrame(docs).write.mode("overwrite").parquet(benchDir)
      // the STAGED run (per-stage lazy localCheckpoint). Since the
      // top-fraction gate and the CCNet stage cut their own inputs, the
      // fused plan ties with it: the whole capstone at sf0.01,
      // local[4], min-of-4, two JVMs ran 4.3 s / 53 jobs fused vs
      // 4.6 s / 54 jobs staged (uncut, fused read 7.1 s / 77 jobs).
      // stagedApply, not profile(): this key consumes only the final
      // frame, so profile()'s per-stage count actions were overhead.
      CurationCapstone.pipeline(benchDir).stagedApply(preppedInput(docs))
        .select(col("doc_id"), col("sd_commonness"), col("sd_weight"))
    }),

    // the provenance twin: for EVERY input document, which stage of the
    // capstone dropped it (or 'kept') — the per-doc "why is my document
    // gone" audit next to the funnel's per-stage counts, gated against
    // the same chain replay
    "curation_rejection_audit" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val benchDir = java.nio.file.Files
        .createTempDirectory("graft_capstone_bench").toString
      benchmarkFrame(docs).write.mode("overwrite").parquet(benchDir)
      CurationCapstone.pipeline(benchDir).rejectionAudit(preppedInput(docs))
    })
  )

  // ---------------------------------------------------------------- oracle

  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Page derivation, DuckDB side ('''src''' = the text expression). */
  private def pageSql(textExpr: String): String =
    s"""regexp_replace(
       |      concat(
       |        regexp_replace(
       |          regexp_replace($textExpr, '(table|value|part|row|data|join|key|hash)', '\\1.', 'g'),
       |          'spark', 'javascript', 'g'),
       |        CASE WHEN doc_id % 10 = 0 THEN ' donâ€™t stop.' ELSE '' END,
       |        CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum' ELSE '' END,
       |        CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END),
       |      '((?:\\S+ ){4}\\S+) ', '\\1' || chr(10), 'g')""".stripMargin

  /** 5-gram shingle list over the normalized word array `ws`. */
  private val sh5 =
    "list_transform(range(1, len(ws) - 3), " +
      "i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] || ' ' || ws[CAST(i AS INT)+2]" +
      " || ' ' || ws[CAST(i AS INT)+3] || ' ' || ws[CAST(i AS INT)+4])"

  private def urlFilterKeepSql: String = {
    val dom = "lower(regexp_extract(url, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]+)', 1))"
    CurationCapstone.blockedDomains
      .map(d => s"NOT ($dom = '$d' OR $dom LIKE '%.$d')")
      .mkString(" AND ")
  }

  /** The full chain as one CTE list (prep → s10) — shared by the
    * funnel oracle (per-stage counts) and the rejection-audit oracle
    * (per-id first-missing stage). */
  private def chainSql: String = {
      val schemeHost = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"
      val tracking = graft.functions.UrlFns.trackingParamPat
      // MinHash signature + band CTEs over the stage-7 survivors —
      // generated from the SAME operator parameters as every other
      // dedup oracle (DedupQueries), materialized so DuckDB doesn't
      // re-inline the whole upstream chain per reference
      val mhCtes = (DedupQueries.mhSigSqlFrom("s7") + ",\n" + DedupQueries.bandsSql)
        .replace("sigs AS (", "sigs AS MATERIALIZED (")
        .replace("buckets AS (", "buckets AS MATERIALIZED (")
      s"""WITH RECURSIVE prep AS MATERIALIZED (
         |  SELECT doc_id, source, lang, ${pageSql("text")} AS text FROM documents),
         |prep_r AS MATERIALIZED (
         |  SELECT doc_id, source, lang, ${pageSql("regexp_replace(text, 'fast', 'quick', 'g')")} AS text
         |  FROM documents WHERE doc_id % 4 = 1),
         |inp AS MATERIALIZED (
         |  SELECT doc_id, source, lang, text,
         |    'https://www.' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) AS url
         |  FROM prep
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, source, lang, text,
         |    CASE WHEN doc_id % 2 = 0
         |      THEN 'https://www.' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
         |           || '?utm_source=feed&ref=rss#frag'
         |      ELSE 'https://www.' || source || '.example.com/amp/docs/' || CAST(doc_id AS VARCHAR) END AS url
         |  FROM prep
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, source, lang, text,
         |    'https://www.' || source || '.example.com/r2/docs/' || CAST(doc_id AS VARCHAR) AS url
         |  FROM prep_r),
         |s1 AS MATERIALIZED (
         |  SELECT doc_id, source, lang, nfc_normalize(replace(text, 'â€™', '''')) AS text, url
         |  FROM inp),
         |c1 AS (SELECT doc_id, regexp_replace(url, '#.*$$', '', 'g') AS u FROM s1),
         |c2 AS (SELECT doc_id,
         |  lower(regexp_extract(u, '$schemeHost', 0)) || regexp_replace(u, '$schemeHost', '', 'g') AS u FROM c1),
         |c3 AS (SELECT doc_id, regexp_replace(
         |  replace(replace(replace(replace(u, ':443/', '/'), ':80/', '/'),
         |    ':443?', '?'), ':80?', '?'), ':(80|443)$$', '', 'g') AS u FROM c2),
         |c4_ AS (SELECT doc_id, regexp_replace(regexp_replace(u, '\\?', '&', 'g'),
         |  '$tracking', '', 'g') AS u FROM c3),
         |c5 AS (SELECT doc_id, regexp_extract(u, '^[^&]*', 0) AS base,
         |  regexp_replace(u, '^[^&]*&?', '', 'g') AS rest FROM c4_),
         |canon AS MATERIALIZED (SELECT doc_id, regexp_replace(
         |  CASE WHEN rest = '' THEN base ELSE base || '?' || rest END, '/$$', '', 'g') AS canonical FROM c5),
         |s2 AS MATERIALIZED (
         |  SELECT s1.* FROM s1 JOIN (
         |    SELECT doc_id FROM canon
         |    QUALIFY row_number() OVER (PARTITION BY canonical ORDER BY doc_id) = 1) k USING (doc_id)),
         |s3 AS MATERIALIZED (SELECT * FROM s2 WHERE $urlFilterKeepSql),
         |s4 AS MATERIALIZED (SELECT * FROM s3 WHERE length(text) BETWEEN 100 AND 100000),
         |g_w AS (
         |  SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS words,
         |    string_split_regex(text, '\\r?\\n') AS lines,
         |    length(regexp_replace(text, '\\s+', '', 'g')) AS chars,
         |    length(text) - length(replace(text, '#', '')) AS hashes,
         |    (length(text) - length(replace(text, '...', ''))) / 3 +
         |      (length(text) - length(replace(text, '…', ''))) AS ellipses
         |  FROM s4),
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
         |s5 AS MATERIALIZED (
         |  SELECT s4.*, g_f.g_word_count FROM s4 JOIN g_f USING (doc_id)
         |  WHERE g_word_count BETWEEN 20 AND 100000 AND
         |    g_mean_word_len BETWEEN 3.0 AND 10.0 AND
         |    g_symbol_ratio <= 0.1 AND g_bullet_ratio <= 0.9 AND
         |    g_ellipsis_ratio <= 0.3 AND g_alpha_ratio >= 0.8 AND g_stop_hits >= 2),
         |c4f AS (
         |  SELECT doc_id, text AS t,
         |    string_split_regex(text, '\\r?\\n') AS lines,
         |    list_filter(string_split_regex(text, '\\r?\\n'), l ->
         |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!') OR
         |       ends_with(trim(l), '?') OR ends_with(trim(l), '"')) AND
         |      len(string_split_regex(trim(l), '\\s+')) >= 5 AND
         |      NOT contains(lower(l), 'javascript')) AS kept
         |  FROM s5),
         |s6 AS MATERIALIZED (
         |  SELECT s5.doc_id, s5.source, s5.lang, s5.url, s5.g_word_count,
         |    coalesce(array_to_string(c4f.kept, chr(10)), '') AS text
         |  FROM s5 JOIN c4f USING (doc_id)
         |  WHERE len(c4f.kept) >= 3 AND NOT contains(lower(c4f.t), 'lorem ipsum')
         |    AND NOT contains(c4f.t, '{')),
         |s7 AS MATERIALIZED (
         |  SELECT * FROM s6
         |  QUALIFY row_number() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) = 1),
         |$mhCtes,
         |pairs AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM s7
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
         |comp AS MATERIALIZED (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY 1),
         |scored AS (
         |  SELECT c.component, d.doc_id, length(d.text) AS quality
         |  FROM comp c JOIN s7 d ON c.doc_id = d.doc_id),
         |best AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY component
         |      ORDER BY quality DESC, doc_id ASC) AS rn FROM scored) t WHERE rn = 1),
         |s8 AS MATERIALIZED (SELECT s7.* FROM s7 JOIN best USING (doc_id)),
         |bench AS (
         |  SELECT doc_id, nfc_normalize(replace(text, 'â€™', '''')) AS text
         |  FROM prep WHERE doc_id % 50 = 0),
         |bws AS (SELECT string_split($normSql, ' ') AS ws FROM bench),
         |bsh AS MATERIALIZED (
         |  SELECT DISTINCT unnest($sh5) AS sh
         |  FROM bws WHERE len(ws) >= 5),
         |cws AS (SELECT doc_id, string_split($normSql, ' ') AS ws FROM s8),
         |csh AS MATERIALIZED (
         |  SELECT doc_id, unnest($sh5) AS sh
         |  FROM cws WHERE len(ws) >= 5),
         |contam AS (SELECT DISTINCT csh.doc_id FROM csh JOIN bsh USING (sh)),
         |s9 AS MATERIALIZED (SELECT * FROM s8 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |s10_ AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT s9.*,
         |      row_number() OVER (PARTITION BY source ORDER BY g_word_count DESC, doc_id) AS rn,
         |      count(*) OVER (PARTITION BY source) AS ng
         |    FROM s9) t
         |  WHERE rn <= CAST(ceil(ng * 0.5) AS BIGINT)),
         |s10 AS MATERIALIZED (SELECT * FROM s10_),
         |ktoks AS MATERIALIZED (
         |  SELECT doc_id, lang, unnest(string_split($normSql, ' ')) AS t
         |  FROM s10 WHERE length(trim(text)) > 0),
         |kcnt AS (SELECT lang, t, count(*) AS n FROM ktoks GROUP BY 1, 2),
         |ktot AS (SELECT lang, sum(n) AS total FROM kcnt GROUP BY lang),
         |kkept AS (
         |  SELECT lang, t, n FROM (
         |    SELECT lang, t, n,
         |      row_number() OVER (PARTITION BY lang ORDER BY n DESC, t ASC) AS r
         |    FROM kcnt) WHERE r <= 64),
         |klm AS (SELECT kkept.lang, t, ln(CAST(n AS DOUBLE) / total) AS logp
         |        FROM kkept JOIN ktot ON kkept.lang IS NOT DISTINCT FROM ktot.lang),
         |kfl AS (SELECT lang, ln(1.0 / total) AS fl FROM ktot),
         |ksc AS MATERIALIZED (
         |  SELECT ktoks.doc_id, ktoks.lang,
         |    round(exp(-avg(coalesce(klm.logp, kfl.fl))), 4) AS pp
         |  FROM ktoks
         |  LEFT JOIN klm ON ktoks.lang IS NOT DISTINCT FROM klm.lang
         |               AND ktoks.t = klm.t
         |  JOIN kfl ON ktoks.lang IS NOT DISTINCT FROM kfl.lang
         |  GROUP BY 1, 2),
         |kcdf AS (SELECT lang, pp,
         |    sum(c) OVER (PARTITION BY lang ORDER BY pp) AS cum,
         |    sum(c) OVER (PARTITION BY lang) AS nl
         |  FROM (SELECT lang, pp, count(*) AS c FROM ksc GROUP BY 1, 2)),
         |kthr AS (SELECT lang,
         |    min(CASE WHEN cum >= ceil(2.0 * nl / 3.0) THEN pp END) AS t2
         |  FROM kcdf GROUP BY lang),
         |s11 AS MATERIALIZED (
         |  SELECT s10.* FROM s10 JOIN (
         |    SELECT ksc.doc_id FROM ksc
         |    JOIN kthr ON ksc.lang IS NOT DISTINCT FROM kthr.lang
         |    WHERE ksc.pp <= kthr.t2) kk USING (doc_id))""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "pipeline_curation_funnel" ->
      (chainSql + "\n" +
      s"""SELECT 0 AS step_idx, 'input' AS step, count(*) AS n_rows FROM inp
         |UNION ALL SELECT 1, 'unicode_normalizer', count(*) FROM s1
         |UNION ALL SELECT 2, 'url_deduplicator', count(*) FROM s2
         |UNION ALL SELECT 3, 'url_filter', count(*) FROM s3
         |UNION ALL SELECT 4, 'text_length_filter', count(*) FROM s4
         |UNION ALL SELECT 5, 'gopher_quality_filter', count(*) FROM s5
         |UNION ALL SELECT 6, 'c4_cleaner', count(*) FROM s6
         |UNION ALL SELECT 7, 'text_exact_deduplicator', count(*) FROM s7
         |UNION ALL SELECT 8, 'quality_survivor_deduplicator', count(*) FROM s8
         |UNION ALL SELECT 9, 'decontaminator', count(*) FROM s9
         |UNION ALL SELECT 10, 'top_fraction_by_group', count(*) FROM s10
         |UNION ALL SELECT 11, 'ccnet_bucket_filter', count(*) FROM s11
         |UNION ALL SELECT 12, 'soft_dedup_reweighter', count(*) FROM s11
         |UNION ALL SELECT 13, 'training_shard_assigner', count(*) FROM s11""".stripMargin),

    // stage 12's weights over the stage-11 survivors — the B75
    // trigram-df formulas (DedupQueries soft_dedup_weights) replayed on
    // the composed chain's corpus
    "curation_softdedup_weights" ->
      (chainSql + ",\n" +
      s"""sg AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(string_split($normSql, ' ')) - 1, 1)),
         |    i -> string_split($normSql, ' ')[CAST(i AS INT)] || ' ' ||
         |         string_split($normSql, ' ')[CAST(i AS INT) + 1] || ' ' ||
         |         string_split($normSql, ' ')[CAST(i AS INT) + 2]))) AS g
         |  FROM s11 WHERE len(string_split($normSql, ' ')) >= 3),
         |sdfs AS (SELECT g, count(*) AS df FROM sg GROUP BY g),
         |scom AS (
         |  SELECT doc_id, round(avg(df), 6) AS c
         |  FROM sg JOIN sdfs USING (g) GROUP BY doc_id)
         |SELECT s11.doc_id,
         |  coalesce(scom.c, 1.0) AS sd_commonness,
         |  greatest(round(pow(coalesce(scom.c, 1.0), -1.0), 6),
         |    0.000001) AS sd_weight
         |FROM s11 LEFT JOIN scom ON s11.doc_id = scom.doc_id""".stripMargin),

    "curation_rejection_audit" -> {
      // first-missing stage per input id; refine stages (1, 12, 13)
      // drop nothing by construction
      val stages = Seq(
        (2, "s2", "url_deduplicator"), (3, "s3", "url_filter"),
        (4, "s4", "text_length_filter"), (5, "s5", "gopher_quality_filter"),
        (6, "s6", "c4_cleaner"), (7, "s7", "text_exact_deduplicator"),
        (8, "s8", "quality_survivor_deduplicator"), (9, "s9", "decontaminator"),
        (10, "s10", "top_fraction_by_group"),
        (11, "s11", "ccnet_bucket_filter"))
      val joins = stages.map { case (_, t, _) =>
        s"LEFT JOIN (SELECT doc_id FROM $t) $t ON i.doc_id = $t.doc_id"
      }.mkString("\n|")
      val idxCase = stages.map { case (i, t, _) =>
        s"WHEN $t.doc_id IS NULL THEN $i"
      }.mkString(" ")
      val nameCase = stages.map { case (_, t, n) =>
        s"WHEN $t.doc_id IS NULL THEN '$n'"
      }.mkString(" ")
      chainSql + "\n" +
        s"""SELECT i.doc_id,
           |  CAST(CASE $idxCase ELSE 0 END AS INT) AS stage_idx,
           |  CASE $nameCase ELSE 'kept' END AS rejected_by
           |FROM inp i
           |$joins""".stripMargin
    }
  )
}
