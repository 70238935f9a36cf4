package graft.queries

import graft.Tables
import graft.functions.TextFns._
import graft.operators.text.{TextLengthFilter, UrlFilter}
import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipeline funnel + sketch/statistics queries. */
object PipelineQueries {

  private val blockedDomains = Seq("src1.example.com", "src3.example.com")

  private def urlCol = concat(lit("https://"), col("source"),
    lit(".example.com/"), col("doc_id"))
  private val urlSql = "'https://' || source || '.example.com/' || doc_id"

  /** The flagship curation pipeline as config: refine → filter →
    * filter → dedup. */
  def curationPipeline: Pipeline = Pipeline(Seq(
    RefineOp("add_url", df => df.withColumn("url", urlCol)),
    FilterOp("length_filter", df => TextLengthFilter(100, Some(2000)).predicate(df)),
    FilterOp("url_filter", _ => UrlFilter(blocklistDomains = blockedDomains,
      wordWeights = Map("zzzznope" -> 1.0)).predicate),
    DedupOp("exact_dedup", _ => contentHashMd5(col("text")), "doc_id")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_funnel" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      curationPipeline.funnelStaged(docs)
    }),

    "events_exact_stats" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        countDistinct("user_id").as("n_users"),
        round(avg("value"), 4).as("avg_value"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"))
    }),

    // sketch-based variant: rows-only check (sketch internals are
    // engine-specific by design; HLL/KLL vs DuckDB's approximations)
    "events_approx_stats" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.groupBy("event_type").agg(
        approx_count_distinct("user_id").as("approx_users"),
        round(expr("approx_percentile(value, 0.5, 10000)"), 4).as("approx_p50"))
    }),

    // the sketch family's ORACLE-CHECKABLE face: sketch values are
    // engine-specific, but "the sketch sits inside its own error
    // bound of the exact answer" is a deterministic boolean — HLL++ at
    // its 5% design rsd within 3σ, approx_percentile(accuracy=10000)
    // inside the exact [p45, p55] band (rank error ≤ n/10000). The
    // oracle side is `true` by construction, so a sketch drifting out
    // of bounds fails the hash compare like any wrong value.
    "events_approx_bounds" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      // the exact and approx aggregates each pay their own scan anyway;
      // reloading gives the approx side fresh attribute ids so the join
      // key resolves across genuinely distinct subtrees (a shared
      // Dataset here makes Spark warn about a trivially-true predicate)
      val ev2 = Tables.load(s, dir, "events")
      val exact = ev.groupBy("event_type").agg(
        countDistinct("user_id").as("n_users"),
        expr("percentile(value, 0.45)").as("p45"),
        expr("percentile(value, 0.55)").as("p55"))
      val approx = ev2.groupBy("event_type").agg(
        approx_count_distinct("user_id").as("au"),
        expr("approx_percentile(value, 0.5, 10000)").as("ap50"))
      exact.join(approx, "event_type").select(col("event_type"),
        (abs(col("au") - col("n_users")) <= col("n_users") * 0.15)
          .as("users_in_bounds"),
        (col("ap50") >= col("p45") && col("ap50") <= col("p55"))
          .as("p50_in_bounds"))
    })
  )

  def oracles: Map[String, String] = Map(
    "pipeline_funnel" -> {
      val lenp = "length(text) BETWEEN 100 AND 2000"
      val domain = s"lower(regexp_extract($urlSql, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]+)', 1))"
      val keep = blockedDomains
        .map(d => s"($domain = '$d' OR $domain LIKE '%.$d')")
        .mkString("NOT (", " OR ", ")")
      val hash = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"
      s"""SELECT 0 AS step_idx, 'input' AS step, count(*) AS n_rows FROM documents
         |UNION ALL SELECT 1, 'add_url', count(*) FROM documents
         |UNION ALL SELECT 2, 'length_filter', count(*) FROM documents WHERE $lenp
         |UNION ALL SELECT 3, 'url_filter', count(*) FROM documents WHERE $lenp AND $keep
         |UNION ALL SELECT 4, 'exact_dedup', count(DISTINCT $hash) FROM documents WHERE $lenp AND $keep""".stripMargin
    },

    "events_exact_stats" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  round(avg(value), 4) AS avg_value,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95
        |FROM events GROUP BY event_type""".stripMargin,

    "events_approx_bounds" ->
      """SELECT event_type, true AS users_in_bounds, true AS p50_in_bounds
        |FROM events GROUP BY 1""".stripMargin
  )
}
