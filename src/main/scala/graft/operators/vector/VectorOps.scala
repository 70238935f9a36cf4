package graft.operators.vector

import graft.functions.VecFns._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic pseudo-random hyperplanes derived from md5 — every
  * coefficient is a dyadic rational (24-bit int / 2^24 − 0.5), so any
  * engine that evaluates the same formula reproduces the plane bits
  * exactly. Used for engine-portable LSH signatures. */
object DeterministicPlanes {
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** coefficient for (plane i, dim d) in [-0.5, 0.5). */
  def coeff(i: Int, d: Int): Double =
    java.lang.Long.parseLong(md5Hex(s"${i}_$d").substring(0, 6), 16) / 16777216.0 - 0.5

  def plane(i: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(d => coeff(i, d))
}

/** Brute-force cosine top-k: the exactness baseline for similarity
  * search. Queries side is broadcast (it is the small side by
  * construction); ranking is deterministic — similarity rounded before
  * ranking, ties broken by corpus id. */
case class BruteForceKnn(
    k: Int = 5,
    idCol: String = "vec_id",
    vecCol: String = "embedding") {

  def topK(queries: DataFrame, corpus: DataFrame): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "cid", "cos", "rn")
  }

  /** [[topK]] WITHOUT the `qid =!= cid` self-guard — the CROSS-corpus
    * form: when queries and corpus are two independently numbered sets
    * (bitext sides, image vs caption towers), equal ids are legitimate
    * pairs, not a vector meeting itself. */
  def topKCross(queries: DataFrame, corpus: DataFrame): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    c.crossJoin(broadcast(q))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "cid", "cos", "rn")
  }
}

/** Random-hyperplane LSH bucketing (Charikar 2002): sign bits of the
  * dot product with `nbits` deterministic planes. Bucket key is an
  * equi-join key — ANN candidate generation is a hash-partitioned join,
  * never a cross join (SURVEY §5). */
case class LshAnn(
    dim: Int = 64,
    nbits: Int = 8,
    idCol: String = "vec_id",
    vecCol: String = "embedding") {

  def signature(v: Column): Column = {
    val bits = (0 until nbits).map { i =>
      val p = array(DeterministicPlanes.plane(i, dim).map(lit(_)).toIndexedSeq: _*)
      when(dot(v, p) >= 0.0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  def withBuckets(df: DataFrame): DataFrame =
    df.withColumn("bucket", signature(col(vecCol)))

  /** Per-query top-k restricted to the query's bucket, exact rerank
    * inside. */
  def topK(df: DataFrame, k: Int, queryPred: Column): DataFrame = {
    val b = withBuckets(df)
    val q = b.filter(queryPred).select(col(idCol).as("qid"),
      col(vecCol).as("qv"), col("bucket"))
    val c = b.select(col(idCol).as("cid"), col(vecCol).as("cv"), col("bucket"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    c.join(q, Seq("bucket")).filter(col("qid") =!= col("cid"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "cid", "cos", "rn")
  }
}

/** IVF-style ANN and k-means assignment. The centroid table is always
  * broadcast (k ≪ n); assignment is an argmin over the broadcast side
  * with deterministic tiebreak, so no shuffle of the corpus at all.
  * Training path: [[KMeansOps.train]] (MLlib Lloyd's) or
  * [[KMeansOps.lloydStep]] (pure DataFrame iteration). */
case class IvfIndex(
    idCol: String = "vec_id",
    vecCol: String = "embedding") {

  /** Nearest-centroid assignment: (idCol, centroid_id, dist).
    *
    * Truly map-only: the centroid table collapses to ONE broadcast row
    * holding an array<struct(cid,cvec)>, and each corpus row folds an
    * argmin over it — no per-centroid row expansion, no window, zero
    * shuffle of the corpus. Distances are rounded to 6 dp before
    * comparison with a smaller-cid tiebreak, so the result is identical
    * to ranking by (dist, cid). */
  def assign(df: DataFrame, centroids: DataFrame,
      cidCol: String = "centroid_id", cvecCol: String = "cvec"): DataFrame = {
    val cents = centroids.agg(array_sort(collect_list(
      struct(col(cidCol).cast("int").as("cid"),
        col(cvecCol).as("cvec")))).as("__cents"))
    // the argmin itself is the native NearestCentroids expression —
    // the declarative aggregate() fold over the same array evaluated
    // its lambda interpreted per centroid (9.2 ms/row at 1024 cells,
    // 9,183 executor-seconds for one 1M-row assignment stage); the
    // native loop with hoisted rounding is ~25 µs/row, values identical
    val best = element_at(graft.plans.VectorExpressions
      .nearestCentroidsNative(col(vecCol), col("__cents"), 1), 1)
    df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .select(col(idCol), best.getField("cid").as(cidCol),
        best.getField("dist").as("dist"))
  }

  /** Candidate (qid, cid, cos) stream behind [[topK]] and
    * [[HardNegativeMiner]]: each query probes its `nprobe` nearest
    * cells, candidates come from the cell equi-join, cosine evaluates
    * on the joined pairs. Shared so the ANN ranker and the
    * hard-negative band filter stay one implementation. */
  def candidateCosines(df: DataFrame, centroids: DataFrame, nprobe: Int,
      queryPred: Column): DataFrame = {
    // top-nprobe cells, map-only (mirrors [[assign]]'s shape): attach
    // the ONE collapsed centroid-array row, rank by sorting the tiny
    // per-row array of (dist, cid) structs, explode the first nprobe.
    // The previous formulation (crossJoin against centroid ROWS + a
    // row_number window) shuffled the query side and paid a whole
    // window stage for a k-element ranking; lexicographic struct sort
    // = orderBy(dist asc, cid asc) exactly, so results are identical.
    val cellsOf = { (in: DataFrame, n: Int) =>
      val cents = centroids.agg(array_sort(collect_list(
        struct(col("centroid_id").cast("int").as("cid"),
          col("cvec")))).as("__cents"))
      // native top-n (see [[assign]]): the transform+array_sort form
      // built and sorted 1024 interpreted structs per query row
      // (measured ~4 ms/row — 395 executor-seconds per 100k queries)
      in.select(col(idCol).as("__id"), col(vecCol).as("__v"))
        .crossJoin(broadcast(cents))
        .select(col("__id"), explode(graft.plans.VectorExpressions
          .nearestCentroidsNative(col("__v"), col("__cents"), n)).as("__cell"))
        .select(col("__id"), col("__cell").getField("cid").as("centroid_id"))
    }
    // corpus side (the big one) assigns map-only via [[assign]]; the
    // query side ranks map-only too — zero shuffles before the
    // candidate join.
    //
    val corpusCells = assign(df, centroids)
      .select(col(idCol).as("cid"), col("centroid_id"))
    val queryCells = cellsOf(df.filter(queryPred), nprobe)
      .select(col("__id").as("qid"), col("centroid_id"))
    val corpus = df.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val queries = df.filter(queryPred).select(col(idCol).as("qid"), col(vecCol).as("qv"))
    // join order matters at scale: the candidate stream joins the
    // corpus FIRST while still narrow (qid, cid — the sort-merge sort
    // is 16 bytes/row), and the broadcast query vectors attach LAST
    // (map-side, no sort) feeding straight into the cosine before the
    // narrow projection. The reverse order broadcast-attached qv to
    // every candidate before the corpus SMJ and sorted ~wide-row GBs
    // (measured 788 s → re-measured after this swap at 1M vectors ×
    // 10k anchors, §14).
    // BROADCAST the query-cell list (bounded: anchors are a request
    // batch × nprobe ints) so the candidate fan-out happens MAP-SIDE
    // over the uniform corpus-cells partitions. As a shuffle join this
    // stage is pathological at scale in a way no generic knob fixes:
    // its INPUT is narrow (~MBs of id pairs) so AQE coalesces it to a
    // handful of tasks, while its OUTPUT is cells × anchors (measured:
    // 196.5M pairs from 1M rows erupting inside 8 coalesced tasks,
    // 1,040 executor-seconds — the 270 s straggler of the 100k-anchor
    // probe; pinning partitions or salting the cell key just moved the
    // skew). Map-side, every corpus partition fans out its own rows —
    // uniformly, with no shuffle for AQE to mis-size.
    broadcast(queryCells).join(corpusCells, Seq("centroid_id"))
      .filter(col("qid") =!= col("cid")).select("qid", "cid").distinct()
      .join(corpus, Seq("cid")).join(broadcast(queries), Seq("qid"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
      .select("qid", "cid", "cos")
  }

  /** Probe the `nprobe` nearest cells for each query, exact rerank
    * within those cells only. */
  def topK(df: DataFrame, centroids: DataFrame, k: Int, nprobe: Int,
      queryPred: Column): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    candidateCosines(df, centroids, nprobe, queryPred)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "cid", "cos", "rn")
  }

  /** Drop a version of this name — its manifest, centroids, and the
    * ONE segment the version owns (`<name>_seg_cells`); segments
    * inherited from older versions are shared and never touched.
    * Crash-residue clearing and all other commit-protocol semantics
    * live in ONE place: [[graft.sources.SegmentedManifest]]. */
  private def dropIndexTables(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.SegmentedManifest.dropTablesAndDirs(spark,
      Seq(s"${name}_seg_cells", s"${name}_centroids", s"${name}_manifest"))

  /** The version's (segment, generation) pairs in generation order —
    * gen 0 is the build-time segment, gen ≥ 1 are refresh batches
    * (hardened read — [[graft.sources.SegmentedManifest.read]]). */
  private[graft] def segments(spark: org.apache.spark.sql.SparkSession,
      name: String): Seq[(String, Int)] =
    graft.sources.SegmentedManifest.read(spark, name)

  /** The index's physical layout at `buckets` — recorded in every
    * manifest (attach/refresh/compact read the bucket count from the
    * ARTIFACT, not a flag; see [[graft.sources.IndexLayout]]). */
  private def indexLayout(buckets: Int): graft.sources.IndexLayout =
    graft.sources.IndexLayout(buckets,
      Seq(("cells", Seq("centroid_id"), Seq("centroid_id"))))

  private def writeManifest(spark: org.apache.spark.sql.SparkSession,
      name: String, segs: Seq[(String, Int)], buckets: Int): Unit =
    graft.sources.SegmentedManifest.write(spark, name, segs,
      Some(indexLayout(buckets)))

  /** One immutable cells segment: `vecs` assigned to the given frozen
    * centroids, bucketed by centroid_id so probed-cell reads
    * BUCKET-PRUNE the scan. */
  private def writeCellsSegment(vecs: DataFrame, centroids: DataFrame,
      seg: String, buckets: Int): Unit = {
    import graft.sources.Sinks.bucketedTable
    // assignment with the vector retained (assign() projects it away)
    val cents = centroids.agg(array_sort(collect_list(
      struct(col("centroid_id").cast("int").as("cid"),
        col("cvec").as("cvec")))).as("__cents"))
    val best = element_at(graft.plans.VectorExpressions
      .nearestCentroidsNative(col(vecCol), col("__cents"), 1), 1)
    val cells = vecs.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .select(col(idCol), best.getField("cid").as("centroid_id"), col(vecCol))
    bucketedTable(cells.repartition(buckets, col("centroid_id")),
      s"${seg}_cells", Seq("centroid_id"), buckets, Seq("centroid_id"))
  }

  /** Persist the IVF index as a SEGMENTED artifact — the vector twin
    * of [[graft.operators.text.Bm25.buildIndex]]'s layout: a version
    * is a tiny `<name>_manifest` (seg, gen) naming immutable
    * `<seg>_cells` segments (idCol, centroid_id, vecCol — disjoint
    * corpus slices, each bucketed by centroid_id) plus the version's
    * `<name>_centroids`. Pay the corpus argmin pass ONCE at build;
    * every query batch after that reads only its probed cells' rows —
    * per-batch cost ∝ the probed fraction of the corpus — and every
    * [[refreshIndex]] writes only a batch-sized segment. */
  def buildIndex(df: DataFrame, centroids: DataFrame, name: String,
      buckets: Int = 8): Unit = {
    val spark = df.sparkSession
    dropIndexTables(spark, name)
    // the cells segment and the (tiny) centroids table are independent
    // writes — overlap them so the centroids job fills the corpus
    // argmin pass's task tail (guide §2.6)
    graft.streaming.StreamingOps.runConcurrently(Seq(
      () => writeCellsSegment(df, centroids, s"${name}_seg", buckets),
      () => centroids.select(col("centroid_id").cast("int").as("centroid_id"),
          col("cvec"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${name}_centroids")))
    writeManifest(spark, name, Seq((s"${name}_seg", 0)), buckets)
  }

  /** Re-register a [[buildIndex]]-written IVF index in a FRESH
    * session's catalog (the [[graft.operators.text.Bm25.attachIndex]]
    * story for the vector index): parquet files outlive the session,
    * in-memory catalog entries do not, and the cells segments' bucket
    * metadata — which the probed-cell pruning reads — only exists as a
    * catalog declaration. Segments re-attach under their own
    * (manifest-recorded) names if absent. */
  def attachIndex(spark: org.apache.spark.sql.SparkSession, dirOfName: String,
      as: String, buckets: Option[Int] = None): Unit = {
    import graft.sources.SegmentedManifest.{attachTable, attachVersionPre, readFilesAll, resolveBuckets}
    // physical layout from the artifact's own manifest (ONE parquet
    // read serves layout + segment list); an explicit `buckets` only
    // cross-checks (contradiction fails loudly)
    val (man, layout) = readFilesAll(spark, dirOfName)
    val b = resolveBuckets(layout, buckets, s"ivf attach $dirOfName")
    val (cc, sc) = layout.map(_.colsFor("cells",
        Seq("centroid_id"), Seq("centroid_id")))
      .getOrElse((Seq("centroid_id"), Seq("centroid_id")))
    // the centroids table is per-VERSION (not per-segment) — attached
    // here, outside the shared per-segment loop
    attachTable(spark, s"${as}_centroids", s"${dirOfName}_centroids")
    // alias-manifest resolvability (original segment prefixes, not
    // catalog-only alias names) is attachVersionPre's contract
    attachVersionPre(spark, dirOfName, as, man, layout) { seg =>
      attachTable(spark, s"${seg}_cells", s"${seg}_cells", cc, sc, b)
    }
  }

  /** Roll a persisted IVF index forward with a NEW batch of vectors
    * (ids disjoint from the indexed corpus — the incremental-ingest
    * contract) at O(batch) cost: only the batch pays the argmin pass,
    * into ONE new `<newName>_seg_cells` segment; the new manifest =
    * the old version's segments + that one, and old segments are
    * SHARED by reference, never read or rewritten (the r14 design
    * rewrote the corpus-sized cells table per refresh — the round-14
    * verdict's one real scale finding). Centroids are the FROZEN
    * build-time ones, copied by their k rows: an IVF index's cells are
    * defined by its centroids, so a refresh extends the population, it
    * does not re-train (re-train = a new buildIndex; watch drift with
    * [[stalenessReport]]). The manifest — written last — is the commit
    * record; a crashed refresh leaves `newName` unreadable and the old
    * version byte-for-byte intact. Fold segments with
    * [[compactIndex]]. */
  def refreshIndex(newVecs: DataFrame, name: String, newName: String,
      buckets: Option[Int] = None): Unit = {
    require(newName != name,
      "refresh writes a new index version; flip readers after the write")
    val spark = newVecs.sparkSession
    // new segment at the OLD segments' recorded bucket count (mixed
    // counts would break merged bucketed reads), read in the SAME
    // driver read as the segment list; flag cross-checks only
    val (old, layout) = graft.sources.SegmentedManifest.readAll(spark, name)
    val b = graft.sources.SegmentedManifest.resolveBuckets(layout, buckets,
      s"ivf refresh $name")
    val centroids = spark.table(s"${name}_centroids")
    dropIndexTables(spark, newName)
    // batch segment + centroids copy are independent — overlap
    graft.streaming.StreamingOps.runConcurrently(Seq(
      () => writeCellsSegment(newVecs, centroids, s"${newName}_seg", b),
      () => centroids.write.mode("overwrite").format("parquet")
        .saveAsTable(s"${newName}_centroids")))
    writeManifest(spark, newName,
      old :+ ((s"${newName}_seg",
        graft.sources.SegmentedManifest.nextGen(old))), b)
  }

  /** Fold a version's cells segments into ONE segment under `newName`
    * — the scheduled O(index) cost that keeps per-query segment-scan
    * counts bounded (B26's `compact-index` for the vector index). No
    * re-assignment: the persisted (id, centroid_id, vector) rows union
    * and re-bucket. Old versions stay intact. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, name: String,
      newName: String, buckets: Option[Int] = None): Unit = {
    require(newName != name,
      "compaction writes a new index version; flip readers after the write")
    import graft.sources.Sinks.bucketedTable
    val (segs, layout) = graft.sources.SegmentedManifest.readAll(spark, name)
    val b = graft.sources.SegmentedManifest.resolveBuckets(layout, buckets,
      s"ivf compact $name")
    val centroids = spark.table(s"${name}_centroids")
    dropIndexTables(spark, newName)
    // the cells fold and the centroids copy are independent — overlap
    graft.streaming.StreamingOps.runConcurrently(Seq(
      () => bucketedTable(
        segs.map { case (s, _) => spark.table(s"${s}_cells") }
          .reduce(_ unionByName _)
          .repartition(b, col("centroid_id")),
        s"${newName}_seg_cells", Seq("centroid_id"), b,
        Seq("centroid_id")),
      () => centroids.write.mode("overwrite").format("parquet")
        .saveAsTable(s"${newName}_centroids")))
    writeManifest(spark, newName, Seq((s"${newName}_seg", 0)), b)
  }

  /** Staleness of a rolled-forward index (round-14 verdict #4):
    * refreshes extend the population under FROZEN build-time
    * centroids, so cell skew grows and probed-recall drifts as the
    * ingest distribution moves away from the build-time one — and
    * nothing in the serving path measures that. One narrow pass over
    * the segments (cells ⋈ broadcast centroids, map-side-combined
    * aggregate) reports, per cell: build-time rows (`n_build`, gen-0
    * segment), refresh rows (`n_refreshed`, gen ≥ 1), `growth` =
    * n_refreshed / n_build, and the mean cosine of each group to its
    * centroid — refreshed rows systematically FARTHER from their
    * centroid than build rows (`mean_cos_refreshed` ≪ `mean_cos_build`)
    * is the drift signature. Rebuild trigger: re-train (a new
    * [[buildIndex]]) when max growth or the drift gap crosses the
    * deployment's threshold — [[needsRebuild]] encodes the default. */
  def stalenessReport(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame = {
    import graft.functions.VecFns.cosine
    val segs = segments(spark, name)
    val cells = segs.map { case (s, g) =>
      spark.table(s"${s}_cells").withColumn("__gen", lit(g))
    }.reduce(_ unionByName _)
    val cents = spark.table(s"${name}_centroids")
    val cos = round(cosine(
      transform(col(vecCol), x => x.cast("double")), col("cvec")), 6)
    cells.join(broadcast(cents), "centroid_id")
      .groupBy("centroid_id")
      .agg(
        sum(when(col("__gen") === 0, 1L).otherwise(0L)).as("n_build"),
        sum(when(col("__gen") > 0, 1L).otherwise(0L)).as("n_refreshed"),
        // denominator floored at 1 so a VIRGIN cell (rows only from
        // refreshes — the sharpest drift signal) reports its refreshed
        // count as growth and trips the trigger naturally
        round(sum(when(col("__gen") > 0, 1.0).otherwise(0.0)) /
          greatest(sum(when(col("__gen") === 0, 1.0).otherwise(0.0)),
            lit(1.0)), 4).as("growth"),
        round(avg(when(col("__gen") === 0, cos)), 4).as("mean_cos_build"),
        round(avg(when(col("__gen") > 0, cos)), 4).as("mean_cos_refreshed"))
  }

  /** Default rebuild trigger over [[stalenessReport]]: re-train when
    * any cell's refreshed population exceeds `maxGrowth`× its
    * build-time population, or when refreshed rows sit `maxDriftGap`
    * cosine farther from their centroid than build rows did (both
    * signs that the frozen centroids no longer describe the data).
    * Bounded driver action: k cells, one row each. */
  def needsRebuild(spark: org.apache.spark.sql.SparkSession, name: String,
      maxGrowth: Double = 4.0, maxDriftGap: Double = 0.05): Boolean = {
    val hot = stalenessReport(spark, name)
      .filter(col("growth") > maxGrowth ||
        (col("mean_cos_build") - col("mean_cos_refreshed")) > maxDriftGap)
    hot.limit(1).count() > 0
  }

  /** Execute the rebuild [[needsRebuild]] gates: read the version's
    * FULL indexed population back from its segments, RE-TRAIN centroids
    * over it (default: [[KMeansOps.fit]] at the old k — the
    * deterministic salted-init trajectory; pass `train` to plug MLlib
    * or a custom fit), and commit `newName` as a fresh [[buildIndex]]
    * under the same manifest-last discipline — a crash leaves `newName`
    * unreadable and every old version intact. The ASSIGNMENT pass (one
    * map-only argmin over the population inside buildIndex) is
    * O(population) by design — this is the SCHEDULED cost the staleness
    * trigger amortizes so every refresh can stay O(batch) — but the
    * Lloyd TRAINING loop (per-iteration O(n·k) with a driver round per
    * iteration) runs on a deterministic hash-SAMPLE capped at
    * `trainRows` (xxhash64 over idCol, so the sample is stable across
    * retries): centroid quality converges long before millions of
    * training rows, and an unsampled 100 TB re-train would pay the
    * population cost maxIter times instead of once. After the rebuild
    * the new version's rows are all gen-0, so its [[stalenessReport]]
    * starts clean. Maintenance loop shape: refresh per batch →
    * [[needsRebuild]] at compaction boundaries → [[compactIndex]] when
    * healthy, rebuildIndex when drifted. */
  def rebuildIndex(spark: org.apache.spark.sql.SparkSession, name: String,
      newName: String, buckets: Option[Int] = None,
      train: Option[(DataFrame, Int) => DataFrame] = None,
      trainRows: Long = 200000L): Unit = {
    require(newName != name,
      "rebuild writes a new index version; flip readers after the write")
    require(trainRows >= 1, "trainRows must be positive")
    // a rebuild is a full rewrite, so an explicit count is a legitimate
    // NEW layout choice (no contradiction check); absent a flag the old
    // version's recorded layout carries forward
    val b = buckets.getOrElse(graft.sources.SegmentedManifest
      .readLayout(spark, name).map(_.buckets).getOrElse(8))
    val pop = segments(spark, name)
      .map { case (s, _) => spark.table(s"${s}_cells") }
      .reduce(_ unionByName _)
      .select(col(idCol), col(vecCol))
    val total = pop.count()
    val k = spark.table(s"${name}_centroids").count().toInt
    val trainSet =
      if (total <= trainRows) pop
      else {
        val s = pop.filter(
          pmod(xxhash64(col(idCol)), lit(total / trainRows + 1)) === 0)
          .localCheckpoint() // trained over twice per Lloyd iteration
        if (s.count() < k) pop else s // a starved sample can't seat k centroids
      }
    val cents = train.getOrElse((df: DataFrame, kk: Int) =>
      KMeansOps.fit(df, kk, idCol = idCol, vecCol = vecCol))(trainSet, k)
    buildIndex(pop, cents, newName, b)
  }

  /** [[topK]] against a [[buildIndex]]-persisted index — identical
    * results (same argmin, same rounding, same tiebreaks), none of the
    * per-batch corpus work: the corpus-side assignment is replaced by
    * reads of the version's bucketed cells segments, each restricted
    * to the batch's probed cells with an IN predicate over the bucket
    * column — Catalyst pushes it through the segment union, so every
    * segment scan prunes to the matching buckets (the probed-cell id
    * list is a bounded driver collect: |batch| × nprobe ints). Queries
    * are the (idCol, vecCol) rows of `queries`; a candidate equal to
    * the query id is excluded, the corpus-query convention. */
  def searchIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val centroids = spark.table(s"${name}_centroids")
    val cents = centroids.agg(array_sort(collect_list(
      struct(col("centroid_id").as("cid"), col("cvec")))).as("__cents"))
    val queryCells = queries.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(cents))
      .select(col("__id"), explode(graft.plans.VectorExpressions
        .nearestCentroidsNative(col("__v"), col("__cents"), nprobe)).as("__cell"))
      .select(col("__id").as("qid"), col("__cell").getField("cid").as("centroid_id"))
    val probed = queryCells.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells = segments(spark, name)
      .map { case (s, _) => spark.table(s"${s}_cells") }
      .reduce(_ unionByName _)
      .filter(col("centroid_id").isin(probed: _*))
      .select(col(idCol).as("cid"), col("centroid_id"), col(vecCol).as("cv"))
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    broadcast(queryCells).join(cells, Seq("centroid_id"))
      .filter(col("qid") =!= col("cid"))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "cid", "cos", "rn")
  }

  /** [[buildIndex]] with the cells table stored int8-QUANTIZED (FAISS
    * SQ8 — the 100 TB memory story: the per-query scanned table is 4×
    * smaller, so a corpus that no longer fits in executor memory as
    * floats still does as codes). Layout:
    *
    *  - `<name>_seg_cells` (idCol, centroid_id, qvec array<int> in
    *    int8 range) — the HOT scan table, bucketed by centroid_id;
    *    cell ASSIGNMENT stays full-float-precision (build-time argmin
    *    over the real vectors), only STORAGE is quantized;
    *  - `<name>_vecs` (idCol, vecCol) — the COLD exact store, bucketed
    *    AND sorted by id: the rerank fetches survivors by an IN list,
    *    so the scan bucket-prunes to |survivors| point lookups;
    *  - `<name>_qstats` (dim, mn, mx) — the [[VectorQuantizer]]
    *    per-dimension stats, `dim` rows, re-entering every search plan
    *    as literals (no stats join).
    *
    * Same manifest/commit discipline as [[buildIndex]]. Deliberately a
    * SINGLE-SEGMENT artifact: the quantizer's per-dimension stats are
    * fit on the indexed population, so a quantized index REBUILDS on
    * the staleness schedule rather than refreshing (appending batches
    * under stale stats degrades code precision silently — refit and
    * rebuild is the FAISS retrain discipline); [[searchIndexedInt8]]
    * reads the version's one segment. */
  def buildIndexInt8(df: DataFrame, centroids: DataFrame, name: String,
      buckets: Int = 8): Unit = {
    import graft.sources.Sinks.bucketedTable
    val spark = df.sparkSession
    graft.sources.SegmentedManifest.dropTablesAndDirs(spark,
      Seq(s"${name}_seg_cells", s"${name}_centroids", s"${name}_manifest",
        s"${name}_vecs", s"${name}_qstats"))
    val quant = VectorQuantizer(idCol, vecCol)
    val (mins, maxes) = quant.collectStats(df)
    val cents = centroids.agg(array_sort(collect_list(
      struct(col("centroid_id").cast("int").as("cid"),
        col("cvec").as("cvec")))).as("__cents"))
    val best = element_at(graft.plans.VectorExpressions
      .nearestCentroidsNative(col(vecCol), col("__cents"), 1), 1)
    val cells = quant.quantize(df.select(col(idCol), col(vecCol)), mins, maxes)
      .crossJoin(broadcast(cents))
      .select(col(idCol), best.getField("cid").as("centroid_id"), col("qvec"))
    // after the stats pass, the four tables (quantized cells, cold
    // float store, qstats, centroids) are independent writes — overlap
    // them so the build pays the slowest leg (guide §2.6)
    graft.streaming.StreamingOps.runConcurrently(Seq(
      () => bucketedTable(cells.repartition(buckets, col("centroid_id")),
        s"${name}_seg_cells", Seq("centroid_id"), buckets, Seq("centroid_id")),
      () => bucketedTable(df.select(col(idCol), col(vecCol))
          .repartition(buckets, col(idCol)),
        s"${name}_vecs", Seq(idCol), buckets, Seq(idCol)),
      () => spark.createDataFrame(mins.zip(maxes).zipWithIndex.map {
          case ((mn, mx), d) => (d, mn, mx) }.toIndexedSeq)
        .toDF("dim", "mn", "mx").coalesce(1)
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${name}_qstats"),
      () => centroids.select(col("centroid_id").cast("int").as("centroid_id"),
          col("cvec"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${name}_centroids")))
    writeManifest(spark, name, Seq((s"${name}_seg", 0)), buckets)
  }

  /** [[searchIndexed]] against a [[buildIndexInt8]] index — the
    * quantized-scan + EXACT-RERANK recipe: probed cells scan the int8
    * codes (dequantized in-expression from literal stats), each query
    * keeps its top `k·refine` candidates by approximate cosine, and
    * only those survivors fetch their float vectors from the cold
    * `<name>_vecs` store (a bounded driver IN list — |queries|·k·refine
    * ids — so the bucketed-by-id scan prunes to point lookups) for the
    * exact ranking. Same rounding/tiebreaks as every other strategy;
    * with `refine` covering the quantization error the result is the
    * exact top-k (gated by the shared `ann_ivf` oracle — one oracle,
    * fifth execution strategy — and IvfIndexSpec's parity test). */
  def searchIndexedInt8(spark: org.apache.spark.sql.SparkSession,
      name: String, queries: DataFrame, k: Int, nprobe: Int,
      refine: Int = 8): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    val st = spark.table(s"${name}_qstats").orderBy("dim").collect()
    val mins = st.map(_.getDouble(1))
    val maxes = st.map(_.getDouble(2))
    val quant = VectorQuantizer(idCol, vecCol)
    val centroids = spark.table(s"${name}_centroids")
    val cents = centroids.agg(array_sort(collect_list(
      struct(col("centroid_id").as("cid"), col("cvec")))).as("__cents"))
    val queryCells = queries.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(cents))
      .select(col("__id"), explode(graft.plans.VectorExpressions
        .nearestCentroidsNative(col("__v"), col("__cents"), nprobe)).as("__cell"))
      .select(col("__id").as("qid"), col("__cell").getField("cid").as("centroid_id"))
    val probed = queryCells.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells = spark.table(s"${name}_seg_cells")
      .filter(col("centroid_id").isin(probed: _*))
      .select(col(idCol).as("cid"), col("centroid_id"),
        quant.dequantize(col("qvec"), mins, maxes).as("cva"))
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val wq = Window.partitionBy("qid").orderBy(col("qcos").desc, col("cid").asc)
    val surv = broadcast(queryCells).join(cells, Seq("centroid_id"))
      .filter(col("qid") =!= col("cid"))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("qcos", cosine(col("qv"), col("cva")))
      .withColumn("qrn", row_number().over(wq))
      .filter(col("qrn") <= k * refine)
      .select("qid", "cid")
      .localCheckpoint() // feeds the IN-list collect AND the rerank join
    val survIds = surv.select("cid").distinct().collect().map(_.get(0)).toSeq
    val vecs = spark.table(s"${name}_vecs")
      .filter(col(idCol).isin(survIds: _*))
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    surv.join(vecs, Seq("cid"))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "cid", "cos", "rn")
  }
}

/** Hard-negative mining for contrastive training (the selection step
  * behind CLIP-style and retrieval-model training data): for each
  * anchor, the k most-similar OTHER rows whose cosine falls in
  * [lo, hi) — similar enough to be informative negatives, strictly
  * below the near-dup threshold so positives and leaked duplicates
  * never become negatives (the classic false-negative poison).
  *
  * Scale shape = [[IvfIndex.candidateCosines]]: map-only cell
  * assignment, candidates from the cell equi-join, band filter BEFORE
  * the per-anchor ranking window (the window ranks only the banded
  * survivors). Brute force over anchors is never evaluated. */
case class HardNegativeMiner(
    lo: Double = 0.0,
    hi: Double = 0.95,
    k: Int = 3,
    idCol: String = "vec_id",
    vecCol: String = "embedding") {
  require(lo < hi, "need lo < hi")

  /** (anchor_id, negative_id, cos, rnk) — up to k banded negatives
    * per anchor, ranked by similarity (desc, id tiebreak).
    *
    * Ranking is an EXACT two-level top-k: candidates first rank within
    * (anchor, salt-of-negative) sub-partitions and only each bucket's
    * top k survive to the true per-anchor window — top-k of per-bucket
    * top-ks is the global top-k, so results are identical, but no sort
    * partition ever exceeds ~1/S of an anchor's candidate list. The
    * single-level window made the 100k-anchor 1M-vector probe's
    * straggler: an anchor probing a hot IVF cell drags that cell's
    * entire membership into one window partition (measured: max task
    * 280.7 s of an 862.8 s job). */
  def mine(df: DataFrame, centroids: DataFrame, nprobe: Int = 2,
      anchorPred: Column = lit(true)): DataFrame =
    graft.operators.TopK.perGroup(
      IvfIndex(idCol, vecCol).candidateCosines(df, centroids, nprobe, anchorPred)
        .filter(col("cos") >= lo && col("cos") < hi)
        .select(col("qid").as("anchor_id"), col("cid").as("negative_id"),
          col("cos")),
      group = Seq(col("anchor_id")),
      order = Seq(col("cos").desc, col("negative_id").asc),
      saltOn = col("negative_id"), k = k, salts = 16, rankCol = Some("rnk"))
}

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): assign every embedding to its nearest centroid,
  * then near-dedup WITHIN each cluster only. The cluster assignment
  * bounds the quadratic pair space exactly like an LSH bucket — but
  * with semantic locality, so paraphrase-level duplicates that share no
  * hyperplane band still land in the same candidate set. The
  * reference's LAION-5B lineage row (README:26) names CLIP-embedding
  * dedup as this family; the embedding-LSH twin is
  * [[graft.operators.dedup.EmbeddingNearDup]].
  *
  * Scale shape: assignment is the map-only [[IvfIndex.assign]] (one
  * broadcast centroid row, zero corpus shuffle); candidates come from a
  * hash equi-join on the cluster key, generated NARROW (two ids) and
  * back-joined to the wide vector column only for the surviving
  * candidates' cosine rerank. Nothing is ever all-pairs. Per-cluster
  * pair count is held down by k (SemDeDup's own lever: k ~ 10⁵ at web
  * scale keeps clusters in the thousands) — but k alone cannot bound a
  * skewed giant cluster (boilerplate-heavy embeddings guarantee one at
  * 100 TB), and AQE skew-join splits partitions, not the quadratic pair
  * count, so `maxClusterSize` is the hard cap. Three tiers:
  *
  *   - clusters at or under the cap pair up exactly as before
  *     (per-task pairs ≤ cap²) — the only tier the correctness oracle
  *     ever exercises at its scale;
  *   - an OVERSIZED cluster is re-bucketed by banded random-hyperplane
  *     signs ([[graft.operators.dedup.EmbeddingNearDup]]'s recall
  *     machinery: `bands` OR-ed groupings of `bitsPerBand` sign bits, so
  *     a τ-close pair shares a bucket in some band w.h.p. — a plain
  *     id-salt here was measured to destroy recall, scattering planted
  *     near-dup pairs across splits); sign buckets at or under the cap
  *     pair up exactly;
  *   - a sign bucket STILL oversized in band 0 is the identical-core
  *     case (thousands of rows agreeing on every sign bit): it is
  *     salted into ceil(bucket/cap) sub-splits — content-independent
  *     salt is the only thing that bounds an all-identical bucket —
  *     with exact pairs inside each split plus a member-versus-
  *     split-min-representative stream, so the bucket still collapses
  *     to its global min id exactly as the uncapped semantics would.
  *     Oversized buckets in bands ≥ 1 are skipped: every member is
  *     already covered by its band-0 tier, and replaying the same core
  *     B times would multiply the pair stream for zero recall.
  *
  * Per oversized cluster the work is O(n·bands·bucket + n·cap + n·n/cap)
  * instead of O(n²), every join is a hash equi-join on a bucket key,
  * and no task ever materializes more than ~cap² pairs. The documented
  * approximation: a τ-close pair in a MIXED oversized cluster is caught
  * only if some band co-buckets it (probability 1−(1−p^bits)^bands, the
  * EmbeddingNearDup S-curve) or a representative sees it; below the cap
  * the semantics are exact.
  *
  * Keep rule: a row is dropped iff some SMALLER id in the SAME cluster
  * is within the cosine threshold (keep-first, matching the exact-dedup
  * family's min-id collapse). This is deterministic and one-pass where
  * the paper's variant (drop all but the member least similar to the
  * centroid of each ε-group) needs the group structure; the kept set
  * differs only inside multi-member ε-groups, the dedup RATE does not.
  * Cosine is rounded to 6 dp before the threshold compare so any
  * engine evaluating the same formula reproduces the drop set. */
case class SemanticDedup(
    threshold: Double = 0.95,
    idCol: String = "vec_id",
    vecCol: String = "embedding",
    maxClusterSize: Int = 8192,
    dim: Int = 64,
    bands: Int = 8,
    bitsPerBand: Int = 8) {

  /** Exact pairs (id_a < id_b) within each group keyed by `keys`. */
  private def pairsWithin(members: DataFrame, keys: Seq[String]): DataFrame = {
    val a = members.select(keys.map(col) :+ col(idCol).as("id_a"): _*)
    val b = members.select(keys.map(col) :+ col(idCol).as("id_b"): _*)
    a.join(b, keys).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Nearest-centroid assignment, materialized once. The assignment
    * subtree is referenced four times downstream (the cluster-size
    * action, both sides of the in-cluster pair self-join, the survivor
    * anti-join base) and its argmin fold over the broadcast centroid
    * array is a higher-order function Spark evaluates interpreted —
    * re-running it per reference is the dominant cost. The checkpointed
    * table is the NARROW (id, centroid_id) projection, a small fraction
    * of corpus width, so materializing it is exactly what a 100 TB run
    * wants too. */
  private def assignedOf(df: DataFrame, centroids: DataFrame): DataFrame =
    IvfIndex(idCol, vecCol).assign(df, centroids)
      .select(col(idCol), col("centroid_id"))
      .localCheckpoint()

  /** Narrow (id_a, id_b) candidate pairs, id_a < id_b, from the three
    * tiers described above. Exposed so specs can assert the candidate
    * count stays bounded on a planted mega-cluster. */
  def candidatePairs(df: DataFrame, centroids: DataFrame): DataFrame =
    candidatePairsFrom(df, assignedOf(df, centroids))

  /** Cluster sizes are one row per centroid — k rows — collected to
    * the driver in one tiny action. The result decides the PLAN SHAPE:
    * banded tier-2/3 branches (bands×bits×dim plane literals, bucket
    * groupBys, the 4-way union) attach only when an oversized cluster
    * actually exists. */
  private def oversizedClusters(assigned: DataFrame): Seq[Any] =
    assigned.groupBy("centroid_id")
      .agg(count(lit(1)).as("__n")).collect().toIndexedSeq
      .filter(_.getAs[Long]("__n") > maxClusterSize).map(_.get(0))

  /** [[candidatePairs]] against a pre-computed (idCol, centroid_id)
    * assignment, so callers share ONE assignment subtree with the
    * candidate generator instead of planning it twice. */
  private[vector] def candidatePairsFrom(df: DataFrame, assigned: DataFrame): DataFrame = {
    val oversized = oversizedClusters(assigned)
    // tier 1: small clusters — exact in-cluster pairs, the original
    // SemDeDup candidate set. Already distinct (each id lives in exactly
    // one cluster), so the no-oversized fast path needs no dedup pass.
    val small =
      if (oversized.isEmpty) assigned
      else assigned.filter(!col("centroid_id").isin(oversized: _*))
    val tier1 = pairsWithin(small, Seq("centroid_id"))
    if (oversized.isEmpty) tier1
    else tier1.union(bandedPairs(df, assigned, oversized)).distinct()
  }

  /** Tier-2/3 narrow pairs for the OVERSIZED clusters only: re-bucket
    * by banded hyperplane signs, exact pairs in under-cap sign buckets,
    * salted splits + split-min representatives for identical cores. */
  private val bucketKey = Seq("centroid_id", "__band", "__digest")

  /** Banded re-bucketing of the OVERSIZED clusters, vector carried:
    * (under-cap sign-bucket rows, identical-core rows with `__sub`
    * salt). The bucket-size attach is a BROADCAST join — bucket
    * cardinality is bounded by k·bands·2^bitsPerBand, all config
    * constants — so the wide banded stream is never sorted for it. */
  private def bandedTables(df: DataFrame, assigned: DataFrame,
      oversized: Seq[Any]): (DataFrame, DataFrame) = {
    // recall machinery — near-dup pairs share a digest in some band
    // w.h.p.
    val sigExpr = LshAnn(dim, bands * bitsPerBand, idCol, vecCol)
      .signature(col(vecCol))
    val banded = assigned.filter(col("centroid_id").isin(oversized: _*))
      .join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol), col("centroid_id"), col(vecCol), sigExpr.as("__sig"))
      .select(col(idCol), col("centroid_id"), col(vecCol),
        posexplode(array((0 until bands).map(bd =>
          substring(col("__sig"), bd * bitsPerBand + 1, bitsPerBand)): _*)))
      .toDF(idCol, "centroid_id", vecCol, "__band", "__digest")
    val bsizes = banded.select(bucketKey.map(col): _*)
      .groupBy(bucketKey.map(col): _*)
      .agg(count(lit(1)).as("__bn"))
    val bkeyed = banded.join(broadcast(bsizes), bucketKey)
    val under = bkeyed.filter(col("__bn") <= maxClusterSize)
    // tier 3 input: the identical-core buckets (oversized even after
    // the sign split), band 0 only — bands ≥ 1 would replay the same
    // membership. Content-independent salt bounds the split size.
    val core = bkeyed.filter(col("__bn") > maxClusterSize && col("__band") === 0)
      .withColumn("__sub", pmod(xxhash64(col(idCol)),
        ceil(col("__bn").cast("double") / lit(maxClusterSize.toDouble)).cast("int"))
        .cast("int"))
    (under, core)
  }

  /** Narrow (id_a, id_b) banded candidate pairs — the spec-facing
    * bounded-candidate-count surface ([[candidatePairs]]). [[kept]]
    * does NOT consume this: it pipelines the same streams through
    * [[bandedDrops]] instead. */
  private def bandedPairs(df: DataFrame, assigned: DataFrame,
      oversized: Seq[Any]): DataFrame = {
    val (under, core) = bandedTables(df, assigned, oversized)
    // tier 2: sign buckets at or under the cap — exact in-bucket pairs
    val tier2 = pairsWithin(
      under.select((bucketKey :+ idCol).map(col): _*), bucketKey)
    val tier3within = pairsWithin(
      core.select((bucketKey ++ Seq("__sub", idCol)).map(col): _*),
      bucketKey :+ "__sub")
    // the split-min representative stream preserves the
    // collapse-to-global-min result across sub-splits
    val reps = core.groupBy((bucketKey :+ "__sub").map(col): _*)
      .agg(min(col(idCol)).as("__rep"))
      .select((bucketKey :+ "__rep").map(col): _*)
    val tier3reps = core.join(reps, bucketKey)
      .filter(col("__rep") =!= col(idCol))
      .select(least(col("__rep"), col(idCol)).as("id_a"),
        greatest(col("__rep"), col(idCol)).as("id_b"))
    tier2.union(tier3within).union(tier3reps)
  }

  /** Dropped ids from the banded tiers with the cosine threshold
    * applied INLINE on vector-carrying self-joins — at 1M vectors the
    * "sparse" banded stream is ~10⁸ pairs (every cluster oversized at
    * k=64), and the narrow-pairs-then-back-join form re-sorted it with
    * vectors attached until the JVM died in GC (measured, §14). Same
    * pair set as [[bandedPairs]] + cosine, evaluated streaming. */
  private def bandedDrops(df: DataFrame, assigned: DataFrame,
      oversized: Seq[Any]): DataFrame = {
    val (under, core) = bandedTables(df, assigned, oversized)
    def dropsWithin(members: DataFrame, keys: Seq[String]): DataFrame =
      members.select(keys.map(col) :+ col(idCol).as("id_a") :+
          col(vecCol).as("__va"): _*)
        .join(members.select(keys.map(col) :+ col(idCol).as("id_b") :+
          col(vecCol).as("__vb"): _*), keys)
        .filter(col("id_a") < col("id_b") &&
          round(cosine(col("__va"), col("__vb")), 6) >= threshold)
        .select(col("id_b").as(idCol))
    val t2 = dropsWithin(under, bucketKey)
    val t3w = dropsWithin(core, bucketKey :+ "__sub")
    // rep stream: reps are ≤ one row per sub-split (corpus/cap rows
    // total) — attaching their vectors is a narrow join on a SMALL
    // table, then one equi-join back to the vector-carrying core
    val reps = core.groupBy((bucketKey :+ "__sub").map(col): _*)
      .agg(min(col(idCol)).as("__rep"))
      .select((bucketKey :+ "__rep").map(col): _*)
      .join(df.select(col(idCol).as("__rep"), col(vecCol).as("__rvec")),
        Seq("__rep"))
    val t3r = core.join(reps, bucketKey)
      .filter(col("__rep") =!= col(idCol) &&
        round(cosine(col(vecCol), col("__rvec")), 6) >= threshold)
      .select(greatest(col("__rep"), col(idCol)).as(idCol))
    t2.union(t3w).union(t3r)
  }

  /** (idCol, centroid_id) rows that SURVIVE cluster-scoped keep-first
    * collapse.
    *
    * The tier-1 (in-cluster, under-cap) pair stream is evaluated as ONE
    * self-join on centroid_id with the vectors ALREADY attached and the
    * cosine threshold applied inline — the C(S,2)-per-cluster stream is
    * piped straight through codegen and never materialized, sorted, or
    * re-joined. The earlier narrow-pairs-then-back-join form re-sorted
    * the full pair stream with 520-byte vectors attached to satisfy the
    * second join; at 250k vectors × k=64 that sort spilled ~80 GB and
    * filled the disk (measured r11; SURVEY §5.22's retired probe). The banded
    * tier-2/3 streams pipeline the same way ([[bandedDrops]]) — their
    * "sparse" pair stream is ~10⁸ rows at 1M vectors. SMJ buffers one
    * bucket's match group at a time — at most cap rows. */
  def kept(df: DataFrame, centroids: DataFrame): DataFrame = {
    val assigned = assignedOf(df, centroids)
    val oversized = oversizedClusters(assigned)
    val withVec = assigned.join(df.select(col(idCol), col(vecCol)), Seq(idCol))
    val smallVec =
      if (oversized.isEmpty) withVec
      else withVec.filter(!col("centroid_id").isin(oversized: _*))
    val t1drops = smallVec
      .select(col("centroid_id"), col(idCol).as("id_a"), col(vecCol).as("__va"))
      .join(smallVec.select(col("centroid_id"), col(idCol).as("id_b"),
        col(vecCol).as("__vb")), Seq("centroid_id"))
      .filter(col("id_a") < col("id_b") &&
        round(cosine(col("__va"), col("__vb")), 6) >= threshold)
      .select(col("id_b").as(idCol))
    val drops =
      if (oversized.isEmpty) t1drops.distinct()
      else t1drops.union(bandedDrops(df, assigned, oversized)).distinct()
    assigned.join(drops, Seq(idCol), "left_anti")
  }

  /** Pipeline form: train k centroids on the corpus itself (MLlib
    * Lloyd's — the production path; the oracle query uses deterministic
    * first-k centroids instead) and return the surviving rows with ALL
    * their columns via a semi join on the kept ids. */
  def dedup(df: DataFrame, k: Int = 64, seed: Long = 42L): DataFrame = {
    // k cannot exceed the corpus size (MLlib refuses more clusters than
    // points); a tiny corpus under the default k=64 should degrade to
    // per-point clusters, not throw. limit(k).count() IS min(k, n) and
    // stops after k rows — no full pass over the upstream pipeline in
    // the common n ≫ k case.
    val kEff = math.max(1L, df.limit(k).count()).toInt
    val cents = KMeansOps.train(df, kEff, seed, vecCol)
    df.join(kept(df, cents).select(idCol), Seq(idCol), "left_semi")
  }
}

/** Prototype pruning — the "diversify" half of D4 (Tirumala et al.
  * 2023, arXiv:2308.12284 "D4: Improving LLM Pretraining via Document
  * De-Duplication and Diversification"): after SemDeDup removes
  * near-duplicates, drop the most PROTOTYPICAL remainder of each
  * cluster — the points closest to their centroid are the redundant
  * "template" mass (SSL-prototypes, Sorscher et al. 2022); the points
  * far from the centroid carry the cluster's diversity. Keeps, per
  * cluster, the ⌈n·keepFrac⌉ rows with the LOWEST cosine to the
  * cluster centroid (ties: smallest id), so `keepFrac = 1 − the
  * paper's prune fraction`.
  *
  * Scale shape: nearest-centroid assignment is the map-only broadcast
  * argmin ([[IvfIndex.assign]]); prototypicality is one more broadcast
  * join + fused cosine; the per-cluster selection reuses the
  * [[graft.operators.text.GroupQuota]] histogram-quota machinery — no
  * per-cluster sort of the corpus, only boundary-tie windows — and the
  * wide payload never shuffles (survivors semi-join back inside
  * GroupQuota). Compose as `PrototypePruner(...)(SemanticDedup(...)
  * .kept(...) ⋈ vectors, centroids)` for the full D4 recipe. */
case class PrototypePruner(
    keepFrac: Double = 0.6,
    idCol: String = "vec_id",
    vecCol: String = "embedding",
    cvecCol: String = "cvec") {
  require(keepFrac > 0.0 && keepFrac <= 1.0, "keepFrac must be in (0, 1]")
  import graft.functions.VecFns.cosine

  /** (idCol, centroid_id, proto): prototypicality = cosine to the
    * nearest centroid, rounded to 6 dp (the family convention — any
    * engine replays the keep decision). */
  def scored(df: DataFrame, centroids: DataFrame): DataFrame =
    IvfIndex(idCol, vecCol).assign(df, centroids)
      .select(col(idCol), col("centroid_id"))
      .join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(centroids.select(col("centroid_id"), col(cvecCol))),
        Seq("centroid_id"))
      .select(col(idCol), col("centroid_id"),
        round(cosine(col(vecCol), col(cvecCol)), 6).as("proto"))

  /** The pruned survivors: (idCol, centroid_id, proto) rows keeping
    * the least-prototypical ⌈n·keepFrac⌉ per cluster. */
  def apply(df: DataFrame, centroids: DataFrame): DataFrame = {
    // GroupQuota references its input three ways (histogram, boundary
    // join, survivor semi-join) — materialize the narrow scored table
    // once rather than re-running assignment + cosine per reference
    val sc = scored(df, centroids).withColumn("__antiproto", -col("proto"))
      .localCheckpoint()
    graft.operators.text.GroupQuota.select(sc,
        total => ceil(total * keepFrac).cast("long"),
        "centroid_id", "__antiproto", idCol)
      .drop("__antiproto")
  }
}

/** Incremental SemDeDup: [[graft.operators.dedup.IncrementalMinHashDedup]]'s
  * delta-ingest protocol composed with [[SemanticDedup]] (reference
  * anchor: framework/backend.py's sharded dedup state). The corpus
  * persists as a NARROW (idCol, centroid_id, vecCol) index — store it
  * partitioned by centroid_id; a new batch assigns map-only (one
  * broadcast centroid row), probes only its OWN clusters' index rows
  * ([[prunedIndex]] collects the batch's ≤ k distinct cluster ids and
  * filters, so partition pruning keeps daily ingest cost proportional
  * to the touched clusters' index size, not the corpus), and
  * intra-batch duplicates reuse the batch operator's capped candidate
  * machinery. Stream-order keep-first, exactly like the MinHash twin:
  * an index hit rejects the batch row whether or not the indexed row
  * itself survived — which equals the from-scratch batch result when
  * batches arrive in id order (spec'd batch-vs-scratch equality). The
  * cross probe is a left-semi join (no fan-out however dense an index
  * cluster is); cosine evaluates inside the join condition. */
case class IncrementalSemanticDedup(
    threshold: Double = 0.95,
    idCol: String = "vec_id",
    vecCol: String = "embedding",
    maxClusterSize: Int = 8192,
    dim: Int = 64,
    bands: Int = 8,
    bitsPerBand: Int = 8) {

  private def sd = SemanticDedup(threshold, idCol, vecCol,
    maxClusterSize, dim, bands, bitsPerBand)

  /** Index rows for `df`: (idCol, centroid_id, vecCol). Append the
    * SURVIVORS' rows (or the full batch, for all-prior semantics) to
    * roll the state forward; no other state exists. */
  def indexRows(df: DataFrame, centroids: DataFrame): DataFrame =
    IvfIndex(idCol, vecCol).assign(df, centroids)
      .select(col(idCol), col("centroid_id"))
      .join(df.select(col(idCol), col(vecCol)), Seq(idCol))

  /** The stored index restricted to the clusters `batch` actually
    * touches — one tiny driver action (≤ k cluster ids) buys partition
    * pruning on a centroid_id-partitioned store. */
  def prunedIndex(index: DataFrame, batch: DataFrame,
      centroids: DataFrame): DataFrame = {
    val touched = IvfIndex(idCol, vecCol).assign(batch, centroids)
      .select(col("centroid_id")).distinct().collect().map(_.get(0)).toSeq
    index.filter(col("centroid_id").isin(touched: _*))
  }

  /** Batch rows rejected by the indexed corpus or by a smaller-id
    * batch row. */
  def rejectedIds(index: DataFrame, batch: DataFrame,
      centroids: DataFrame): DataFrame = {
    val assigned = IvfIndex(idCol, vecCol).assign(batch, centroids)
      .select(col(idCol), col("centroid_id"))
      .localCheckpoint()
    val bvec = assigned.join(batch.select(col(idCol), col(vecCol)), Seq(idCol))
    val idx = index.select(col("centroid_id").as("__icid"),
      col(vecCol).as("__ivec"))
    val hitOld = bvec.join(idx,
        col("centroid_id") === col("__icid") &&
          round(graft.functions.VecFns.cosine(col(vecCol), col("__ivec")), 6)
            >= threshold,
        "left_semi")
      .select(col(idCol))
    val va = batch.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = batch.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    val intra = sd.candidatePairsFrom(batch, assigned)
      .join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .filter(round(graft.functions.VecFns.cosine(col("__va"), col("__vb")), 6)
        >= threshold)
      .select(col("id_b").as(idCol))
    hitOld.union(intra).distinct()
  }

  /** Rows of `batch` that near-duplicate neither the indexed corpus
    * nor an earlier batch row. */
  def survivors(index: DataFrame, batch: DataFrame,
      centroids: DataFrame): DataFrame =
    batch.join(rejectedIds(index, batch, centroids), Seq(idCol), "left_anti")
}

/** Embedding-space decontamination: a corpus row is contaminated when
  * its embedding lies within cosine `threshold` of ANY benchmark
  * embedding — the paraphrase-robust complement of the n-gram
  * [[graft.operators.text.Decontaminator]] (reworded eval leakage
  * defeats shingle overlap but barely moves an embedding; the SemDeDup
  * observation applied to benchmark contamination).
  *
  * Scale shape, exact path: the benchmark side is an EVAL SUITE — a
  * few thousand rows — so it collapses to ONE broadcast row holding
  * all its vectors, and each corpus row folds an `exists` over it:
  * map-only, zero corpus shuffle, zero recall loss, the
  * [[IvfIndex.assign]] centroid-attach shape with a short-circuiting
  * any-match instead of an argmin. Per-row cost is |benchmark| fused
  * dot products; past ~10⁵ benchmark rows switch to
  * [[contaminatedIdsLsh]], which equi-joins banded hyperplane sign
  * digests (the [[graft.operators.dedup.EmbeddingNearDup]] recall
  * machinery: a τ-close pair shares a bucket in some band w.h.p.) and
  * verifies survivors exactly — candidates are a broadcast hash join
  * on the digest, never a nested loop. */
case class SemanticDecontaminator(
    threshold: Double = 0.95,
    idCol: String = "vec_id",
    vecCol: String = "embedding",
    dim: Int = 64,
    bands: Int = 8,
    bitsPerBand: Int = 8) {
  import graft.functions.VecFns.cosine

  /** ids of corpus rows within `threshold` of some benchmark vector
    * (exact, benchmark broadcast as one collected row). */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val bench = benchmark.agg(collect_list(col(vecCol)).as("__bench"))
    corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(bench))
      .filter(exists(col("__bench"),
        b => round(cosine(col(vecCol), b), 6) >= threshold))
      .select(col(idCol))
  }

  /** The 100 TB candidate path: banded sign-digest equi-join + exact
    * cosine verification. Same S-curve recall bound as
    * [[SemanticDedup]]'s tier-2 (probability 1−(1−p^bits)^bands of
    * co-bucketing a τ-close pair); identical copies collide in every
    * band, so true leakage (verbatim or near-verbatim) is caught with
    * near-certainty. */
  def contaminatedIdsLsh(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val sig = LshAnn(dim, bands * bitsPerBand, idCol, vecCol)
      .signature(col(vecCol))
    def banded(df: DataFrame) = df
      .select(col(idCol), col(vecCol), sig.as("__sig"))
      .select(col(idCol), col(vecCol), posexplode(array(
        (0 until bands).map(b =>
          substring(col("__sig"), b * bitsPerBand + 1, bitsPerBand)): _*))
        .as(Seq("__band", "__digest")))
    val b = banded(benchmark)
      .select(col("__band"), col("__digest"), col(vecCol).as("__bvec"))
    banded(corpus).join(broadcast(b), Seq("__band", "__digest"))
      .filter(round(cosine(col(vecCol), col("__bvec")), 6) >= threshold)
      .select(col(idCol)).distinct()
  }

  /** corpus + `is_contaminated` flag. */
  def flag(corpus: DataFrame, benchmark: DataFrame): DataFrame =
    corpus.join(
      contaminatedIds(corpus, benchmark)
        .withColumn("is_contaminated", lit(true)),
      Seq(idCol), "left_outer")
      .withColumn("is_contaminated",
        coalesce(col("is_contaminated"), lit(false)))

  /** corpus with contaminated rows removed (anti join). */
  def apply(corpus: DataFrame, benchmark: DataFrame): DataFrame =
    corpus.join(contaminatedIds(corpus, benchmark), Seq(idCol), "left_anti")
}

/** K-means: MLlib train path + a pure-DataFrame Lloyd iteration for
  * environments where the model must stay a DataFrame (reference:
  * models/kmeans). */
object KMeansOps {
  import org.apache.spark.ml.clustering.KMeans
  import org.apache.spark.ml.functions.array_to_vector
  import org.apache.spark.sql.SparkSession

  /** Train MLlib k-means on an array<float> column; returns centroids
    * as (centroid_id, cvec array<double>). */
  def train(df: DataFrame, k: Int, seed: Long = 42L,
      vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val feats = df.select(array_to_vector(
      transform(col(vecCol), x => x.cast("double"))).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features").fit(feats)
    model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq
      .toDF("centroid_id", "cvec")
  }

  /** One Lloyd step expressed as DataFrame ops: assign + recompute
    * means. Demonstrates the scale shape (posexplode + groupBy —
    * map-side combine on (cluster, dim)). */
  def lloydStep(df: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = IvfIndex(idCol, vecCol).assign(df, centroids)
    assigned.join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("centroid_id", "pos").agg(avg("x").as("m"))
      .groupBy("centroid_id").agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .as("pairs"))
      .select(col("centroid_id"), transform(col("pairs"), p => p.getField("m")).as("cvec"))
  }

  /** [[lloydStep]] hardened for iteration: per-dim means are computed
    * on doubles and ROUNDED to 6 dp (so any engine replaying the same
    * formula reproduces the whole trajectory), and a cluster that
    * captured no points keeps its previous centroid instead of
    * vanishing from the k rows. */
  private def lloydIter(df: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val assigned = IvfIndex(idCol, vecCol).assign(df, centroids)
    val means = assigned.join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col("centroid_id"),
        posexplode(transform(col(vecCol), x => x.cast("double"))).as(Seq("pos", "x")))
      .groupBy("centroid_id", "pos").agg(round(avg("x"), 6).as("m"))
      .groupBy("centroid_id").agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .as("pairs"))
      .select(col("centroid_id"), transform(col("pairs"), p => p.getField("m")).as("cvec"))
    centroids.select(col("centroid_id"), col("cvec").as("__prev"))
      .join(means, Seq("centroid_id"), "left")
      .select(col("centroid_id"), coalesce(col("cvec"), col("__prev")).as("cvec"))
  }

  /** Full Lloyd CONVERGENCE loop as pure DataFrame iterations — the
    * reference's distributed k-means trainer
    * (models/kmeans/distributed_trainer.py) iterates the same
    * assign→mean cycle over an actor pool; here every iteration is one
    * map-only assignment plus one (cluster, dim)-keyed aggregate with
    * map-side combine, and the loop state is k localCheckpointed rows,
    * so lineage stays flat no matter how many iterations run.
    *
    * Deterministic end to end: init is the k rows ranked lowest by a
    * salted md5 of the id (a fixed pseudo-random draw — id order would
    * seed all k centroids from one corner of insertion order, and the
    * resulting near-duplicate centroids feed cell skew into every IVF
    * / semantic-dedup / hard-negatives consumer; the salted hash is
    * equally deterministic and SQL-replayable but spreads the draw
    * uniformly over the corpus), per-dim means round to 6 dp each
    * iteration, empty clusters keep their previous centroid, and
    * assignment tiebreaks by centroid id — so a fixed-iteration run is
    * reproducible by any engine evaluating the same formulas (the
    * kmeans_lloyd_assign oracle replays the init draw and two
    * iterations in SQL). Stops when no centroid moves more than `tol`
    * (L2) or at `maxIter`.
    *
    * The init draw is a TakeOrdered top-k (no global sort, no
    * single-partition window); the k (id, vector) winners are bounded
    * driver rows (k·dim doubles), numbered on the driver. */
  def fit(df: DataFrame, k: Int, tol: Double = 1e-4, maxIter: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && maxIter >= 1, "k and maxIter must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val drawn = df
      .select(col(idCol), transform(col(vecCol), x => x.cast("double")).as("cvec"))
      .orderBy(md5(concat(col(idCol).cast("string"), lit(":kmeans_init"))), col(idCol))
      .limit(k)
      .select("cvec").as[Seq[Double]].collect()
    var cents = drawn.zipWithIndex
      .map { case (v, i) => (i, v) }.toSeq.toDF("centroid_id", "cvec")
      .localCheckpoint()
    // empty corpus → zero centroids, no iterations (the max-movement
    // aggregate over an empty join would read null, not a double)
    var moved = if (drawn.isEmpty) 0.0 else Double.MaxValue
    var it = 0
    while (it < maxIter && moved > tol) {
      val next = lloydIter(df, cents, idCol, vecCol).localCheckpoint()
      val r = next.join(cents.select(col("centroid_id"), col("cvec").as("__prev")),
          Seq("centroid_id"))
        .agg(max(graft.functions.VecFns.l2Dist(col("cvec"), col("__prev"))))
        .collect()(0)
      moved = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      cents = next
      it += 1
    }
    cents
  }
}
