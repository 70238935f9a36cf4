package graft

/** Plan regression tests: the SURVEY §5 scale properties, asserted on
  * the real physical plans at sf0.001. If a refactor reintroduces a
  * nested loop, drops a broadcast, or blocks pushdown, these fail. */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q1: filter pushed to the parquet scan, schema pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(!p.contains("l_partkey")) // untouched columns pruned from the scan
  }

  test("q5: every dimension joins as broadcast — via the cost model, not hints") {
    // supplier carries no broadcast() hint (it grows with SF); at this
    // scale the size check still picks broadcast, which is the point:
    // the same code degrades to SMJ when the table outgrows the
    // driver instead of OOMing on a forced broadcast
    val p = plan("q5_local_supplier_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
  }

  test("broadcast hints only on bounded build sides (registry-wide)") {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // a broadcast() hint disables Spark's size check, so a hint is only
    // legal over a side whose cardinality cannot grow with scale
    // factor: nation/region scans, literal tables, checkpointed bounded
    // intermediates, or subtrees collapsed by an aggregate/limit.
    // Exemptions, each bounded by something the plan can't show:
    // - knn_bruteforce / ann_lsh / ann_ivf hint their QUERY side
    //   (bounded by the request batch);
    // - mixture_sample broadcasts the per-source rate table (keyed by
    //   source — config-sized mixture list);
    // - perplexity broadcasts the unigram LM (keyed by token —
    //   vocabulary-bounded, Heaps-sublinear in corpus size);
    // - decontaminate broadcasts the BENCHMARK shingle set — bounded
    //   by the eval suite's size, which does not grow with the corpus
    //   being decontaminated (the Bloom path handles oversized ones);
    // - dsir_select broadcasts the λ table — keyed by a hash bucket in
    //   [0, buckets), a config constant (1024 default), so its
    //   cardinality cannot grow with the corpus (the mixture_sample /
    //   perplexity argument; the keyed-Aggregate structural rule can't
    //   see the pmod bound);
    // (dedup_semantic used to broadcast a per-cluster size table here;
    // since r11 the k-row size aggregate is collected to the driver to
    // pick the plan shape, so its only remaining hint is the global-
    // aggregate centroid collapse the structural rule already accepts.)
    // A keyed aggregate is NOT bounded in general — q17's per-part
    // average grows with part — which is why the structural rule below
    // accepts only GLOBAL aggregates and these are exemptions
    // rather than a blanket Aggregate pass.
    // hard_negatives: the hinted side is the ANCHOR BATCH (an ANN
    // query set — bounded by construction like ann_ivf's query side;
    // a training loop mines negatives for one batch at a time)
    // knn_int8: knn_bruteforce over dequantized vectors — same hinted
    // query side, bounded by the request batch
    // contamination_overlap: decontaminate's benchmark shingle set
    // again (bounded by the eval suite, not the corpus)
    // bm25_search (+ _indexed): the hinted side is the QUERY BATCH (a
    // request, bounded by construction like the knn family's query side)
    // source_flagging: the verdict-table broadcast is GUARDED by a
    // bounded driver count (SourceQualityGate.apply broadcasts only
    // when |sources| <= threshold — the SemanticDedup plan-shape
    // precedent), which the static plan can't show
    val exempt = Set("knn_bruteforce", "ann_lsh", "ann_ivf",
      // bitext_margin_mining: the brute-force EXACTNESS BASELINE again
      // (both kNN directions broadcast their query side; the scale
      // path swaps in LSH/IVF candidate generation under the same
      // margin layer)
      "bitext_margin_mining",
      // crossmodal_recall: the EVAL HARNESS shape — the query side is
      // the eval set (bounded by construction, like ann_eval_recall);
      // the pinned embedding table reads back as a LogicalRDD the
      // static rule can't size
      "crossmodal_recall",
      "mixture_sample", "perplexity", "decontaminate", "dsir_select",
      "hard_negatives", "knn_int8", "contamination_overlap",
      "bm25_search", "bm25_search_indexed", "bm25_search_refreshed",
      "bm25_search_compacted",
      "hybrid_search_rrf", "source_flagging", "ann_eval_recall",
      // ann_ivf_indexed/_refreshed/_compacted: hinted sides are the
      // query batch (a request, bounded by construction) and its
      // probed-cell list
      "ann_ivf_indexed", "ann_ivf_refreshed", "ann_ivf_compacted",
      // ann_ivf_int8: the same query-batch/probed-cell hints, plus the
      // k·refine-survivor table — bounded by |queries|·k·refine (a
      // request-sized cut), which the static rule can't see through
      // the window filter
      "ann_ivf_int8",
      // ann_ivf_staleness: the broadcast side is the k-row centroids
      // table — bounded by k (a build-time constant), not by SF
      "ann_ivf_staleness",
      // semantic_prune_d4: PrototypePruner broadcasts the same k-row
      // centroids table (bounded by k, not SF)
      "semantic_prune_d4",
      // curriculum_shards: since r16 the full-vocab LM joins UNHINTED
      // (AQE picks the side — the r15 verdict's broadcast-ceiling
      // fix); what stays hinted is the one-row OOV-floor slice of the
      // LM union, which this audit can't see is a single union-branch
      // row (the perplexity exemption)
      "curriculum_shards",
      // ccnet_buckets: full-vocab LM unhinted since r16; the remaining
      // hints are the per-language totals/floor/threshold tables (one
      // row per LANGUAGE — bounded by the language inventory, not the
      // corpus)
      "ccnet_buckets",
      // ccnet_buckets_pruned: the hinted LM is ≤ maxVocabPerLang rows
      // per language BY CONSTRUCTION (two-level row_number ≤ k), which
      // the static recursion can't prove through a window filter; the
      // per-language totals/floor hints are language-bounded as above
      "ccnet_buckets_pruned",
      // search_eval_ndcg: Bm25.search's query-batch broadcast again —
      // the results/qrels legs it adds are eval-set-bounded
      "search_eval_ndcg")
    def boundedLeaf(leaf: LogicalPlan): Boolean = leaf match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.forall { p =>
          p.toString.contains("nation.parquet") || p.toString.contains("region.parquet")
        }
        case _ => false
      }
      case _: LocalRelation => true
      case _: OneRowRelation => true
      // localCheckpoint'd intermediate: deliberately materialized; the
      // nested-loop audit below separately guards how it joins
      case _ if leaf.getClass.getSimpleName == "LogicalRDD" => true
      case _ => false
    }
    // bounded = every unbounded leaf is DOMINATED by a cardinality-
    // collapsing node (global aggregate = 1 row, global limit = ≤ N
    // rows). A collectFirst-anywhere test would declare
    // bigFact.join(globalAggScalar) bounded even though the join's
    // cardinality is the fact's — hence the structural recursion: a
    // node is bounded iff it collapses, is itself a bounded leaf, or
    // ALL its children are bounded (a join/union of bounded inputs
    // stays bounded; one unbounded child poisons the subtree).
    def bounded(side: LogicalPlan): Boolean = side match {
      // global aggregate = 1 row; a KEYED aggregate's cardinality is
      // its key's and may scale with SF, so it does not qualify
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case _: GlobalLimit => true
      case leaf if leaf.children.isEmpty => boundedLeaf(leaf)
      case other => other.children.forall(bounded)
    }
    for ((name, fn) <- SparkEntry.queries if !exempt(name)) {
      val opt = fn(spark, dir).queryExecution.optimizedPlan
      opt.foreach {
        case j: Join =>
          if (j.hint.leftHint.exists(_.strategy.isDefined))
            assert(bounded(j.left), s"$name: hinted LEFT side can grow with SF:\n${j.left}")
          if (j.hint.rightHint.exists(_.strategy.isDefined))
            assert(bounded(j.right), s"$name: hinted RIGHT side can grow with SF:\n${j.right}")
        case _ =>
      }
    }
  }

  test("top-k windows run with group-limit pushdown") {
    assert(plan("knn_bruteforce").contains("WindowGroupLimit"))
    assert(plan("tfidf_top_terms").contains("WindowGroupLimit"))
  }

  test("dedup_embedding candidates come from a bucket equi-join") {
    val p = plan("dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("digest")) // equi-join key is the (band, digest) LSH slice
  }

  test("dedup_ngram_jaccard has no quadratic shingle count-join") {
    // the count-join path keys an ALL-PAIRS self-join on xxhash64(shingle);
    // the registered low-τ plan must instead verify MinHash candidates —
    // visible as scans of the two localCheckpoint'd tables (shingle
    // hashes + candidate pairs) feeding the restricted count-join
    val p = plan("dedup_ngram_jaccard")
    assert(!p.contains("xxhash64"))
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2)
  }

  test("mixture_sample broadcasts the per-source rate table") {
    val p = plan("mixture_sample")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("map-only operators have zero exchanges") {
    for (q <- Seq("image_entropy", "hash_sample_split", "pii_redact",
        "line_dedup", "url_canonicalize", "token_count", "gopher_quality"))
      assert(!plan(q).contains("Exchange"), s"$q should be map-only")
  }

  test("config-built simhash stage runs the exploded scale path, not the HOF form") {
    val yaml =
      """operators:
        |  - name: simhash_deduplicator
        |    params: {nbits: 16}
        |""".stripMargin
    val pipeline = graft.pipeline.PipelineConfig.parse(yaml)
    val docs = Tables.load(spark, dir, "documents")
    val p = pipeline(docs).queryExecution.executedPlan.toString
    // the per-row HOF signature builds the bit vector with zip_with
    // inside aggregate (interpreted per token); the scale path explodes
    // tokens into codegen'd scalar md5 + bit tests with map-side combine
    assert(!p.contains("zip_with") && !p.contains("aggregate("))
    assert(p.toLowerCase.contains("generate explode") || p.contains("Generate"))
  }

  test("config-built url_filter scores with the native kernel inside codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.functions.{col, concat, lit}
    val pipeline = graft.pipeline.PipelineConfig.parse(
      """operators:
        |  - name: url_filter
        |""".stripMargin)
    val docs = Tables.load(spark, dir, "documents").withColumn("url",
      concat(lit("https://"), col("source"), lit(".example.com/"), col("doc_id")))
    val p = pipeline(docs).queryExecution.executedPlan
    // the interpreted aggregate() fold (a CodegenFallback lambda) must
    // not come back; the word score is one codegen'd expression
    val s = p.toString
    assert(!s.contains("aggregate(") && !s.contains("lambda"), s)
    val kernel = graft.plans.UrlWordScore(
      org.apache.spark.sql.catalyst.expressions.Literal(""), Nil, Nil).prettyName
    assert(p.collect { case w: WholeStageCodegenExec => w }
      .exists(_.toString.contains(kernel + "(")),
      s"$kernel missing from every WholeStageCodegen subtree:\n$s")
  }

  test("fused apply of a config-built crawl chain: one window, no cut, pinned jobs") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val pipeline = graft.pipeline.PipelineConfig.parse(
      """operators:
        |  - name: url_filter
        |    params: {blocklist_domains: [src1.example.com]}
        |  - name: text_length_filter
        |    params: {min_length: 100}
        |  - name: text_exact_deduplicator
        |""".stripMargin)
    val docs = Tables.load(spark, dir, "documents").withColumn("url",
      concat(lit("https://"), col("source"), lit(".example.com/"), col("doc_id")))
    val out = pipeline(docs)
    // keep-first is ONE window over a single reference to its input, so
    // the fused plan carries no lineage cut (no checkpointed-RDD scan)
    val opt = out.queryExecution.optimizedPlan
    assert(opt.collect { case w: Window => w }.size == 1, opt)
    assert(opt.collect { case r: LogicalRDD => r }.isEmpty, opt)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val target = java.nio.file.Files.createTempDirectory("graft_crawl_jobs").toString
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      jobs.set(0)
      out.write.mode("overwrite").parquet(target)
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the scan-side map stage and the window-side write (AQE runs each
    // shuffle stage as its own job)
    assert(jobs.get == 2, s"apply + parquet write ran ${jobs.get} jobs")
  }

  test("new TPC-H shapes keep their scale plans") {
    // q8: the full star joins every dimension as broadcast — the fact
    // table shuffles only for the final year aggregation
    assert("BroadcastHashJoin".r.findAllIn(plan("q8_market_share")).size >= 4)
    // q19: the OR-of-ANDs must stay one broadcast hash join with the
    // residual disjunction as its post-condition, not a plan split
    val q19 = plan("q19_disjunctive_revenue")
    assert("BroadcastHashJoin".r.findAllIn(q19).size == 1)
    assert(!q19.contains("SortMergeJoin") && !q19.contains("Union"))
    // q21: the EXISTS/NOT-EXISTS chain decorrelates to exactly ONE scan
    // of each fact table — two stacked plain aggregates carry n_supp,
    // n_late, AND the unique late supplier, so no second late-row
    // branch re-reads lineitem/orders (the correlated original would
    // self-join lineitem three times). The distinct-supplier collapse
    // is the FIRST groupBy, not a multi-countDistinct, so the plan must
    // carry no Expand node (Expand replays ~3× the aggregate input).
    val q21 = plan("q21_waiting_supplier")
    Seq("lineitem", "orders").foreach { t =>
      val scans = q21.linesIterator
        .count(l => l.contains("FileScan parquet") && l.contains(t))
      assert(scans == 1, s"expected exactly 1 $t FileScan in q21, found $scans")
    }
    assert(!q21.contains("Expand"), "q21 must not plan through Expand")
    // dedup_incremental: both index probe and intra-batch join are
    // hash equi-joins on (band, bucket)
    val inc = plan("dedup_incremental")
    assert(!inc.contains("BroadcastNestedLoopJoin") && !inc.contains("CartesianProduct"))
    // q12: the returnflag IN-list and both shipdate bounds reach the
    // lineitem scan as pushed filters (only the cross-column lateness
    // predicate stays a join condition), and the CASE aggregation is
    // two-phase (partial_sum below the exchange)
    val q12 = plan("q12_shipmode_priority")
    val liScan = q12.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("l_returnflag"))
    // (the explain string truncates long filter lists with "…", so only
    // the leading pushed filters are assertable here; graft.Explain's
    // formatted dump shows the full list incl. LessThan(l_shipdate))
    assert(liScan.exists(l => l.contains("In(l_returnflag") &&
      l.contains("GreaterThanOrEqual(l_shipdate")),
      s"q12 lineitem scan missing pushed filters: $liScan")
    assert(q12.contains("partial_sum"), "q12 aggregation must be two-phase")
    // q20: the decorrelated per-part total is a window over the
    // collapsed pair table, NOT a groupBy + join back — lineitem is
    // scanned exactly once and the qualifying set enters supplier as a
    // semi join
    val q20 = plan("q20_excess_share_supplier")
    val q20LiScans = q20.linesIterator.count(_.contains("lineitem.parquet"))
    assert(q20LiScans == 1, s"q20 must scan lineitem once, found $q20LiScans")
    assert(q20.contains("LeftSemi"), "q20 qualifying set must be a semi join")
  }

  test("token_budget_sample windows over a narrow projection") {
    val p = plan("token_budget_sample")
    // the running sum sorts only (source, orderkey, id, tokens): the
    // sort feeding the window must not carry the text payload
    val sortLine = p.linesIterator.find(l => l.contains("Sort [") && l.contains("_w0"))
    assert(sortLine.exists(!_.contains("text#")),
      s"payload column rides through the window sort: $sortLine")
  }

  test("decontaminate bloom path probes with the native expression, no ScalaUDF") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val p = graft.operators.text.Decontaminator(n = 5)
      .contaminatedIdsBloom(docs, bench, expectedShingles = 100000L)
      .queryExecution.executedPlan.toString
    // the map-side prune must stay inside whole-stage codegen: Spark's
    // BloomFilterMightContain, not a ScalaUDF closure
    assert(!p.contains("ScalaUDF"), "bloom probe fell back to a ScalaUDF")
    assert(p.contains("might_contain"), s"native bloom probe missing from plan")
  }

  test("no nested-loop or cartesian joins anywhere in the registry") {
    // allowed nested loops, each deliberate:
    // - kmeans_assign / ann_ivf: 1-row broadcast attach of the centroid
    //   array (not a pairwise scan)
    // - knn_bruteforce: the EXACTNESS BASELINE — all pairs by
    //   definition, query side broadcast; scale paths are ann_lsh/ann_ivf
    // - perplexity: 1-row broadcast attach of the corpus token total
    // - q11_important_parts: 1-row broadcast attach of the grand-total
    //   scalar (decorrelated HAVING subquery — build side is one row)
    // - dedup_semantic / dedup_semantic_inc / kmeans_lloyd_assign: the
    //   1-row centroid attach again (via IvfIndex.assign); their
    //   candidate/probe joins are hash equi-joins on centroid_id
    // - decontaminate_semantic: 1-row broadcast attach of the collected
    //   benchmark-vector array (an eval suite, bounded by definition);
    //   the corpus side is a map-only exists() fold over it
    // - dsir_select: 1-row broadcast attach of the two global feature
    //   totals onto the ≤`buckets`-row λ table (the perplexity shape)
    // - hard_negatives: ann_ivf's 1-row centroid-array attach via the
    //   shared candidateCosines (candidates themselves are hash
    //   equi-joins on centroid_id)
    // - knn_int8: knn_bruteforce's all-pairs shape over dequantized
    //   vectors (same broadcast query side; the scale path is quantized
    //   IVF/LSH via VectorQuantizer.compressed + those indexes)
    // - events_winsorize: 1-row broadcast attach of the global
    //   [lo, hi] bounds aggregate (the perplexity/q11 shape)
    // - source_flagging: the synthetic farm branch carries a LITERAL
    //   source, so Catalyst constant-folds the semi-join key away and
    //   rewrites it as a LocalLimit-1 existence probe (build side is
    //   literally one row) — an artifact of the literal-keyed test
    //   corpus, not of the operator (real sources are data-dependent
    //   and keep the hash semi-join)
    // - mixture_temperature: the Σ n^(1/T) normalizer attaches as the
    //   same deliberate 1-row broadcast (the Winsorizer bounds shape)
    val exempt = Set("kmeans_assign", "ann_ivf", "knn_bruteforce",
      // perplexity_bigram(_pruned): the perplexity shape twice over —
      // 1-row broadcast attaches of the corpus token total (model
      // build) and of the OOV-floor aggregate (scoring); every
      // model-table join is a hash equi-join on (h[, w])
      "perplexity_bigram", "perplexity_bigram_pruned",
      // doremi_weights: embeds both LM scorers, so it inherits their
      // 1-row total/floor attaches; the per-round sampling join is a
      // broadcast hash equi-join on the K-row weight table
      "doremi_weights",
      // bitext_margin_mining: knn_bruteforce's all-pairs baseline in
      // both directions (see the broadcast audit's note)
      "bitext_margin_mining",
      // crossmodal_recall: the same all-pairs eval baseline, one per
      // retrieval direction
      "crossmodal_recall",
      "perplexity", "q11_important_parts", "dedup_semantic",
      "dedup_semantic_inc", "kmeans_lloyd_assign", "decontaminate_semantic",
      "dsir_select", "hard_negatives", "knn_int8", "events_winsorize",
      "hybrid_search_rrf", "source_flagging", "ann_eval_recall",
      "mixture_temperature",
      // ann_ivf_indexed/_refreshed/_compacted: the same deliberate
      // 1-row centroid-array attach as ann_ivf, on build and query sides
      "ann_ivf_indexed", "ann_ivf_refreshed", "ann_ivf_compacted",
      // semantic_prune_d4: dedup_semantic's 1-row centroid-array attach
      // (via IvfIndex.assign), twice — SemDeDup then the pruner's
      // prototypicality scoring; the selection itself is GroupQuota
      // hash joins
      "semantic_prune_d4",
      // mixture_unimax(_budgets): the waterfill's two 1-row global
      // aggregates (capped-prefix length m, its cap-sum s_m) attach to
      // the per-source table as deliberate 1-row broadcasts — the
      // events_winsorize bounds shape
      "mixture_unimax", "mixture_unimax_budgets",
      // data_expectations: each referential check's report row is the
      // 1-row orphan COUNT × the 1-row total COUNT — two global
      // aggregates, both literally one row
      "data_expectations",
      // hits_centrality: each half-step's max-normalizer is a 1-row
      // global aggregate attached back as a broadcast (the same
      // Winsorizer bounds shape, 2 per iteration)
      "hits_centrality",
      // curriculum_shards: perplexity's 1-row corpus-token-total
      // attach again (the scorer it composes)
      "curriculum_shards",
      // perplexity_pruned: perplexity's 1-row corpus-token-total
      // attach plus the 1-row OOV-floor attach — every BNLJ side is
      // literally one row; the LM probe itself is a hash equi-join.
      // (ccnet_buckets_pruned needs no exemption: its totals/floor
      // attaches are per-language null-safe EQUI-joins.)
      "perplexity_pruned")
    for ((name, fn) <- SparkEntry.queries if !exempt(name)) {
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join")
    }
  }
}
