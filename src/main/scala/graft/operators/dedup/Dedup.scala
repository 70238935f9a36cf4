package graft.operators.dedup

import graft.functions.TextFns._
import graft.functions.VecFns._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keep-first deduplication on an arbitrary key column.
  *
  * Spark-native replacement for the reference's sharded DedupBackend
  * actors (framework/backend.py): the shuffle's hash partitioning IS the
  * bucketing, so there is no driver-side state and no bucket-count knob
  * to size.
  *
  * Batch shape: ONE rank-limited window — `row_number() over
  * (partition by key order by id) = 1`. The engine's rank-limit
  * pushdown plans a `WindowGroupLimit(Partial)` below the exchange, so
  * each map task prunes to one candidate row per key BEFORE the
  * shuffle: the wide payload crosses the network once, bounded per key
  * by the map-task count (a boilerplate hot key cannot funnel its whole
  * bucket into one reducer), and the key expression — often a heavy
  * regex/hash chain — is evaluated once per row. The previous
  * min-id-aggregate + left-semi-join shape evaluated the key in TWO
  * subtrees (narrow winners agg + the join's own key column) and paid a
  * second exchange (or a broadcast build job) for the join.
  *
  * Batch only: a stream cannot host a non-time window, and the
  * streaming answer is [[graft.streaming.StreamingOps.dedupStream]]'s
  * watermarked state.
  */
object KeepFirst {
  def apply(df: DataFrame, key: Column, idCol: String,
      keyCol: String = "__dedup_key"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn(keyCol, key)
      .withColumn("__kf_rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col(idCol))))
      .filter(col("__kf_rn") === 1)
      .drop("__kf_rn", keyCol)
  }
}

/** Exact content dedup — reference operators/dedup/text_exact_dedup.py.
  * Normalized text → md5 (engine-portable) or xxhash64 (fast path);
  * optional FineWeb-style URL+content key. */
case class ExactDedup(
    textCol: String = "text",
    idCol: String = "doc_id",
    includeUrl: Boolean = false,
    urlCol: String = "url",
    useXxHash: Boolean = false) {

  def key: Column =
    if (includeUrl) urlContentHash(col(urlCol), col(textCol))
    else if (useXxHash) contentHashXx(col(textCol)).cast("string")
    else contentHashMd5(col(textCol))

  /** Surviving rows (first id per content hash). */
  def apply(df: DataFrame): DataFrame = KeepFirst(df, key, idCol)

  /** Group view: one row per distinct content with survivor + dup count. */
  def groups(df: DataFrame): DataFrame =
    df.select(key.as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dup_count"))
}

/** MinHash + LSH near-duplicate detection (Broder '97 / RefinedWeb §G.3
  * fuzzy dedup; the reference lists MinHashDeduplicator as its planned
  * near-dup operator).
  *
  * Word-shingle → `numHashes` min-hashes (keyed md5, lexicographic min —
  * portable across engines) → `bands` band digests → candidate pairs via
  * equi-join on (band, digest). Never a cross join: candidate generation
  * is a hash-partitioned self-join, and `maxBucketSize` caps pathological
  * buckets (boilerplate shingles) to bound skew at 100 TB.
  */
case class MinHashLSH(
    numHashes: Int = 12,
    bands: Int = 4,
    shingleSize: Int = 3,
    textCol: String = "text",
    idCol: String = "doc_id",
    maxBucketSize: Int = 1000) {
  require(numHashes % bands == 0, "bands must divide numHashes")
  private val rowsPerBand = numHashes / bands

  /** One strong base hash per shingle (28-bit md5 prefix — portable
    * hex), then `numHashes` affine permutations mod the Mersenne prime
    * 2^31−1. This is the classic a·x+b minwise family: 12× cheaper than
    * hashing every shingle 12 times, and the products stay < 2^62 so
    * 64-bit arithmetic is exact in any engine. */
  val prime: Long = 2147483647L
  def coefA(i: Int): Long =
    java.lang.Long.parseLong(
      graft.operators.vector.DeterministicPlanes.md5Hex(s"mh_a$i").substring(0, 7), 16) | 1L
  def coefB(i: Int): Long =
    java.lang.Long.parseLong(
      graft.operators.vector.DeterministicPlanes.md5Hex(s"mh_b$i").substring(0, 7), 16)

  private def baseHash(s: Column): Column =
    conv(substring(md5(s), 1, 7), 16, 10).cast("long")

  /** MinHash signature (array<long>) from a materialized shingle-array
    * column; null entries iff the array is empty. The per-shingle base
    * md5 array is LET-BOUND ([[graft.functions.Cols.bind]]) so it
    * evaluates once per row: higher-order-function lambdas have no
    * common-subexpression reuse, so inlining `base` into each of the
    * `numHashes` array_min branches re-ran the md5-per-shingle pass
    * once per hash lane. */
  def signatureFromShingles(sh: Column): Column =
    graft.functions.Cols.bind(transform(sh, s => baseHash(s))) { base =>
      array((0 until numHashes).map(i =>
        array_min(transform(base, x => (x * coefA(i) + coefB(i)) % prime))): _*)
    }

  def signature(text: Column): Column =
    signatureFromShingles(wordShingles(text, shingleSize))

  /** One digest per band: md5 over the band's comma-joined slice. */
  def bandDigests(sig: Column): Column =
    array((0 until bands).map(b =>
      md5(concat(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)),
        lit(":" + b)))): _*)

  /** (id, __h) exploded distinct-shingle md5s — the ONE corpus pass
    * (normalize + shingle regex + hash) that signatures, band buckets,
    * and exact verification all derive from. Downstream consumers that
    * read it more than once should `localCheckpoint()` it: it is narrow
    * (a long and a 32-char hex) no matter how wide the documents are. */
  def shingleHashes(df: DataFrame): DataFrame = df
    .select(col(idCol),
      explode(array_distinct(wordShingles(col(textCol), shingleSize))).as("__sh"))
    .select(col(idCol), md5(col("__sh")).as("__h"))

  /** (id, band, bucket) bucket assignments for documents with ≥ shingleSize
    * words.
    *
    * Scale shape: shingles are EXPLODED so the per-shingle md5 runs as a
    * codegen'd scalar expression (Spark's higher-order-function lambdas
    * are interpreted — hashing inside `transform` is several times
    * slower), then the 12 min-aggregates reduce with map-side partial
    * combine. The wide doc payload never enters the shuffle — only
    * (id, shingle-hash) pairs. */
  def buckets(df: DataFrame): DataFrame = bucketsFromHashes(shingleHashes(df))

  /** [[buckets]] computed from a pre-materialized [[shingleHashes]]
    * table (the 28-bit minwise base value is the md5's leading 7 hex
    * digits, exactly as [[signatureFromShingles]] derives it). */
  def bucketsFromHashes(ex: DataFrame): DataFrame = {
    val base = conv(substring(col("__h"), 1, 7), 16, 10).cast("long")
    // ONE TypedImperativeAggregate computes the whole n-wide signature
    // (tight long-array loop per row) instead of n separate min()
    // aggregate columns: past spark.sql.codegen.maxFields (100) the
    // declarative form loses whole-stage codegen and every row pays n
    // interpreted expression walks — at the r=2 banding (n=340) that
    // was the dominant cost of the whole pipeline. Identical 64-bit
    // arithmetic, still map-side-combined (ObjectHashAggregate).
    val sigs = ex.select(col(idCol), base.as("__x")).groupBy(idCol)
      .agg(graft.plans.MinHashAgg.minhashSig(col("__x"),
        (0 until numHashes).map(coefA), (0 until numHashes).map(coefB),
        prime).as("__sig"))
    val digests = array((0 until bands).map { b =>
      // array_join over cast-to-string longs = concat_ws over long
      // columns: both render via Cast(long -> string)
      md5(concat(array_join(transform(
        slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand),
        x => x.cast("string")), ","), lit(":" + b)))
    }: _*)
    sigs.select(col(idCol), posexplode(digests).as(Seq("band", "bucket")))
  }

  /** Distinct candidate near-dup pairs (id_a < id_b) sharing ≥1 band
    * bucket. Pairs are generated inside each bucket from a sorted
    * collect_list — one pass over the bucket table (no self-join
    * recomputation of the signature pipeline), and `maxBucketSize`
    * drops degenerate buckets to bound the quadratic blowup per bucket. */
  def candidatePairs(df: DataFrame): DataFrame =
    candidatePairsFromHashes(shingleHashes(df))

  /** [[candidatePairs]] from a pre-materialized [[shingleHashes]] table. */
  def candidatePairsFromHashes(ex: DataFrame): DataFrame =
    candidatePairsFromBuckets(bucketsFromHashes(ex))

  /** [[candidatePairs]] from a pre-computed (id, band, bucket) table —
    * e.g. a persisted index or a batch's [[buckets]] output. Pairs come
    * from a sorted collect_list per bucket (never a bucket self-join),
    * and buckets over `maxBucketSize` are dropped entirely, so one
    * degenerate boilerplate bucket can't go quadratic. */
  def candidatePairsFromBuckets(bk: DataFrame): DataFrame = {
    // two-pass cap (r14, surfaced by the §5.15 content-farm probe):
    // counting FIRST keeps collect_list from ever materializing an
    // over-cap bucket's id array — the old size-filter-after-collect
    // built the full array per degenerate bucket (a 10^5-member
    // boilerplate bucket = a 10^5-element aggregation buffer per band;
    // at 10^8 members that is the OOM, not a filter). The count agg is
    // narrow and map-side combined, and the semi join shares the
    // (band, bucket) partitioning with the collect, so AQE reuses the
    // exchange rather than paying a second corpus shuffle.
    val underCap = bk.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2 && col("__n") <= maxBucketSize)
      .select("band", "bucket")
    val grouped = bk.join(underCap, Seq("band", "bucket"), "left_semi")
      .groupBy("band", "bucket")
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
    val pairs = flatten(transform(sequence(lit(1), size(col("ids")) - 1),
      i => transform(slice(col("ids"), i + 1, size(col("ids")) - i),
        x => struct(element_at(col("ids"), i).as("id_a"), x.as("id_b")))))
    grouped.select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Greedy keep-first: drop any document bucketed with a smaller id.
    * (Greedy, not connected components — matches keep-first stream
    * semantics of the reference's dedup backend.) */
  def apply(df: DataFrame): DataFrame = {
    val dups = candidatePairs(df).select(col("id_b").as(idCol)).distinct()
    df.join(dups, Seq(idCol), "left_anti")
  }
}

/** Incremental near-dup deduplication of a NEW batch against an already
  * curated corpus — the shape a 100 TB pipeline actually runs day to day:
  * the historical corpus is never re-shingled; only its narrow persisted
  * band-bucket index (id, band, bucket — the [[MinHashLSH.buckets]]
  * output, parquet-partitionable by band) participates, via one
  * hash-partitioned semi join. Batch-internal duplicates use the same
  * greedy keep-first semantics as [[MinHashLSH.apply]] (any doc bucketed
  * with a smaller batch id drops, whether or not that smaller doc itself
  * survived — stream-order semantics, no transitive re-evaluation).
  *
  * Scale shape: cost is O(batch) shingling + two equi-joins keyed on
  * (band, bucket). The index probe is a left-semi join (skew-tolerant:
  * no fan-out however populous an index bucket is), and intra-batch
  * candidates come from [[MinHashLSH.candidatePairsFromBuckets]] — the
  * same capped sorted-collect_list shape as the batch operator, so a
  * degenerate boilerplate bucket is dropped at `maxBucketSize` instead
  * of exploding a quadratic self-join. The corpus index is only ever
  * READ on the join key it is stored by, so daily ingest cost is
  * independent of corpus size. [[indexRows]] returns the survivors'
  * bucket rows — append them (e.g. via Sinks.upsertPartitioned on band)
  * to roll the index forward; no other state exists.
  */
case class IncrementalMinHashDedup(lsh: MinHashLSH = MinHashLSH()) {
  private val idCol = lsh.idCol

  /** Batch docs that collide with the index or with a smaller-id batch
    * doc — the complement of [[survivors]]. Intra-batch collisions use
    * exactly [[MinHashLSH.apply]]'s semantics: candidates come only
    * from buckets within `maxBucketSize` (over-cap buckets are dropped,
    * not deduped through). */
  def rejectedIds(index: DataFrame, batch: DataFrame): DataFrame = {
    // narrow (id, band, bucket); materialized once for both consumers —
    // the semi probe and the intra-batch grouping would otherwise each
    // re-run the full shingle+signature pipeline
    val bb = lsh.buckets(batch).localCheckpoint()
    val hitOld = bb.join(index, Seq("band", "bucket"), "left_semi")
      .select(col(idCol))
    val intra = lsh.candidatePairsFromBuckets(bb)
      .select(col("id_b").as(idCol))
    hitOld.union(intra).distinct()
  }

  /** Rows of `batch` that are near-dups of neither the indexed corpus
    * nor an earlier batch row. Docs too short to shingle pass through
    * (they have no buckets), matching the batch operator. */
  def survivors(index: DataFrame, batch: DataFrame): DataFrame =
    batch.join(rejectedIds(index, batch), Seq(idCol), "left_anti")

  /** Bucket rows to append to the index for the surviving batch docs —
    * "corpus membership" state: the index mirrors the kept corpus.
    * Under this roll a LATER batch doc colliding ONLY with a dropped
    * doc survives (the dropped doc's non-matching bands never entered
    * the index). */
  def indexRows(index: DataFrame, batch: DataFrame): DataFrame =
    lsh.buckets(survivors(index, batch))

  /** Bucket rows of the ENTIRE batch — append these instead of
    * [[indexRows]] for strict stream-order equality with the batch
    * operator across many batches: [[MinHashLSH.apply]] on the
    * concatenated corpus drops a doc that collides with ANY smaller-id
    * doc reaching the stage, surviving or not, so the cross-batch
    * index must carry every reaching doc's buckets (the day-2 re-crawl
    * capstone's rebuild-equality oracle is gated on exactly this). */
  def indexRowsAll(batch: DataFrame): DataFrame = lsh.buckets(batch)

  /** Persist the band index as a BUCKETED catalog table clustered on
    * the join key (band, bucket) — the BM25-postings treatment applied
    * to the dedup index. The plain-DataFrame [[rejectedIds]] probe
    * hash-partitions BOTH sides of its semi join, so every ingest
    * batch pays an Exchange of the FULL index — corpus-proportional
    * cost for a batch-sized question (measured in §5.14: the one step
    * of the day-2 ingest that grew with corpus size). Reading the
    * index back bucketed makes the probe Exchange-free on the index
    * side: only the batch's narrow (id, band, bucket) rows shuffle
    * (plan-audited in IncrementalIndexSpec). */
  def persistIndex(rows: DataFrame, table: String, buckets: Int = 8): Unit = {
    // the manual dir delete below maps the table name to a warehouse
    // path, which only holds for unqualified default-database names
    require(!table.contains("."),
      s"persistIndex needs an unqualified table name, got '$table'")
    val spark = rows.sparkSession
    // force-materialize BEFORE the drop: a `rows` plan lazily derived
    // from the table being replaced would otherwise read a deleted dir
    val pinned = rows.localCheckpoint(true)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(s"$wh/${table.toLowerCase}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    graft.sources.Sinks.bucketedTable(
      pinned.repartition(buckets, col("band"), col("bucket")),
      table, Seq("band", "bucket"), buckets)
  }

  /** Roll the persisted index forward with a new batch's bucket rows —
    * an APPEND into the same bucket layout (more files per bucket is
    * fine: the probe's hash join has no per-bucket sort requirement,
    * unlike BM25's merge join). Append [[indexRowsAll]]-shaped rows
    * for strict stream-order equality across batches,
    * [[indexRows]]-shaped for survivor-membership state. The bucket
    * count comes from the table's own catalog metadata — an append
    * whose bucketing disagreed with [[persistIndex]]'s would fail at
    * write time with an AnalysisException, an avoidable trap. */
  def appendIndex(rows: DataFrame, table: String): Unit = {
    val spark = rows.sparkSession
    val buckets = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"'$table' is not a bucketed index table — build it with persistIndex"))
      .numBuckets
    rows.repartition(buckets, col("band"), col("bucket"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "band", "bucket").saveAsTable(table)
  }

  /** [[rejectedIds]] against a [[persistIndex]]-persisted index,
    * Exchange-free on the index side: the bucketed scan already lays
    * the index out by the join key and only the batch side shuffles
    * into the matching partitioning. The hit test is an inner join +
    * distinct rather than a semi join: Spark builds a LeftSemi hash
    * table on the RIGHT (index) side — per-partition memory
    * proportional to the corpus — while the inner form hints the
    * build onto the batch side and map-side distinct collapses
    * fat-bucket multiplicity before anything shuffles further. */
  def rejectedIdsIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame): DataFrame = {
    val bb = lsh.buckets(batch).localCheckpoint()
    val hitOld = spark.table(table).select(col("band"), col("bucket"))
      .join(bb.hint("shuffle_hash"), Seq("band", "bucket"))
      .select(col(idCol)).distinct()
    val intra = lsh.candidatePairsFromBuckets(bb)
      .select(col("id_b").as(idCol))
    hitOld.union(intra).distinct()
  }

  /** [[survivors]] served from the bucketed catalog index — identical
    * results (same collision rule, same bucket-cap semantics), none of
    * the index-side shuffle. */
  def survivorsIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame): DataFrame =
    batch.join(rejectedIdsIndexed(spark, table, batch), Seq(idCol), "left_anti")
}

/** SimHash (Charikar 2002) n-bit signature as a pure Column expression:
  * per-token md5-derived value, per-bit majority vote over tokens.
  * Exact-signature buckets give near-dup candidates; at scale extend
  * with 1-bit-flip probe tables.
  */
case class SimHash(
    nbits: Int = 16,
    textCol: String = "text",
    idCol: String = "doc_id") {
  require(nbits % 4 == 0 && nbits <= 48, "nbits must be multiple of 4, <= 48")

  /** Integer token value from the first nbits/4 hex chars of md5. */
  private def tokenVal(t: Column): Column =
    conv(substring(md5(t), 1, nbits / 4), 16, 10).cast("long")

  /** n-bit simhash of the normalized text; null for blank text. */
  def signature(text: Column): Column = {
    val toks = wsTokens(normalizeText(text))
    // bit contributions: +1 / -1 per token per bit, folded into an
    // accumulator array — a single sequential aggregate, codegen-friendly
    val contrib = (t: Column) => {
      val v = tokenVal(t).cast("double")
      transform(sequence(lit(0), lit(nbits - 1)),
        j => pmod(floor(v / pow(lit(2.0), j)).cast("long"), lit(2L)) * 2 - 1)
    }
    val counts = aggregate(toks,
      array_repeat(lit(0L), nbits),
      (acc, t) => zip_with(acc, contrib(t), (a, c) => a + c))
    val sig = aggregate(
      zip_with(counts, sequence(lit(0), lit(nbits - 1)),
        (s, j) => when(s > 0, pow(lit(2.0), j).cast("long")).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
    when(length(trim(text)) === 0, lit(null).cast("long")).otherwise(sig)
  }

  /** Keep-first on exact simhash match. */
  def apply(df: DataFrame): DataFrame =
    KeepFirst(df, signature(col(textCol)), idCol)

  /** Per-doc signatures via the scale shape: exploded tokens → codegen'd
    * md5 + bit tests → nbits summed aggregates with map-side combine
    * (same values as [[signature]], which stays interpreted per row).
    * Blank documents are excluded (signature() yields null for them). */
  def signatures(df: DataFrame): DataFrame = {
    val toks = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(wsTokens(normalizeText(col(textCol)))).as("__t"))
    val v = conv(substring(md5(col("__t")), 1, nbits / 4), 16, 10).cast("long")
    val aggCols = (0 until nbits).map(j =>
      sum(shiftright(col("__v"), j).bitwiseAND(1) * 2 - 1).as(s"b$j"))
    val sums = toks.select(col(idCol), v.as("__v"))
      .groupBy(idCol).agg(aggCols.head, aggCols.tail: _*)
    sums.select(col(idCol),
      (0 until nbits).map(j =>
        when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  def groups(df: DataFrame): DataFrame =
    signatures(df)
      .groupBy("simhash")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Hamming-distance ≤ `radius` candidate pairs via bit-flip probe
    * tables — the scale path past exact-signature buckets. One side
    * explodes to its signature XOR every mask of ≤ radius set bits
    * (C(nbits, ≤r) probe rows), the other keeps exact signatures; an
    * equi-join on the probe catches every pair within the radius
    * without any pairwise scan. `maxProbes` caps the per-doc explosion
    * (e.g. 48 bits at r=2 is 1,177 probes — still an equi-join, but the
    * cap forces the caller to acknowledge the fan-out before paying it). */
  def candidatePairs(df: DataFrame, radius: Int = 1,
      maxProbes: Int = 4096): DataFrame = {
    require(radius >= 1 && radius <= 2, "radius must be 1 or 2")
    val oneBit = (0 until nbits).map(j => 1L << j)
    val masks = oneBit ++ (if (radius >= 2)
      for { a <- 0 until nbits; b <- a + 1 until nbits }
        yield (1L << a) | (1L << b)
    else Seq.empty[Long])
    require(masks.size + 1 <= maxProbes,
      s"probe fan-out ${masks.size + 1} exceeds maxProbes=$maxProbes")
    val sigs = signatures(df)
    val probes = sigs.select(col(idCol), explode(array(
      (lit(0L) +: masks.map(lit(_))).map(m => col("simhash").bitwiseXOR(m)): _*))
      .as("probe"))
    probes.as("a")
      .join(sigs.as("b"), col("a.probe") === col("b.simhash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }
}

/** N-gram Jaccard similarity pairs: distinct-shingle explode →
  * shingle equi-join → |A∩B| / (|A|+|B|−|A∩B|). The join on shingle
  * hash-partitions; no cross join. */
case class NgramJaccard(
    n: Int = 3,
    threshold: Double = 0.5,
    textCol: String = "text",
    idCol: String = "doc_id") {

  /** (id_a, id_b, jaccard) for pairs with RAW jaccard ≥ threshold;
    * the emitted jaccard column is rounded to 6 dp for output only
    * (filtering on the rounded value would re-admit J ∈ (τ−5e-7, τ)
    * via round-up — exactly the band the lossless-on-raw-J size and
    * prefix filters prune — so the threshold compares raw).
    *
    * Both branches are scale-safe (linear in docs, never all-pairs):
    *
    * τ ≥ 0.5 — the lossless PPJoin prefix filter: under a global
    * (lexicographic) shingle order, any pair with J ≥ t must collide
    * within each side's first ⌊(1−t)·|s|⌋+1 shingles — so only the
    * prefixes are exploded and equi-joined, then candidates are verified
    * exactly with one `array_intersect`. Same result set as the naive
    * shingle join at a fraction of the join volume; the join stays
    * hash-partitioned on the shingle (no cross join, AQE handles hot
    * shingles).
    *
    * τ < 0.5 — PPJoin prefixes degenerate (length → |s|), so candidates
    * come from [[lowTauLsh]] MinHash band buckets instead and each
    * candidate gets the same exact `array_intersect` verification
    * ([[minhashVerifiedPairs]]). Probabilistic recall ≥ 1−(1−τ)^b per
    * true pair at exactly τ (99.9% at the default sizing), converging to
    * certainty for the near-identical pairs that dominate real corpora;
    * DedupSpec proves byte-identical pair sets vs the exact count-join
    * on the test corpus. No exact-dup collapse on this path: identical
    * docs collide in every band, so a dup class's candidate volume IS
    * its (unavoidable) output volume, and adding the collapse would
    * re-run the rep-join subtree once per consumer — measured 2× slower
    * than the two-pass direct form. Classes larger than
    * `maxBucketSize` should be exact-deduped upstream ([[ExactDedup]]).
    * The inherently-quadratic count-join survives as
    * [[countJoinPairs]], the documented small-corpus / exactness
    * baseline. */
  def pairs(df: DataFrame): DataFrame =
    if (threshold >= 0.5) collapsedPairs(df, prefixFilteredPairs)
    else minhashVerifiedPairs(df, lowTauLsh)

  /** The default low-τ banding: r = 2 since the single-aggregate
    * signature ([[MinHashSignature]]) made signature cost flat in the
    * hash count — see [[lowTauBanding]] for the measurements. r = 1
    * remains available via `lowTauBanding(1)` (its single-min-shingle
    * buckets go quadratic with corpus size; it wins only below ~5k
    * docs, where everything is fast anyway). */
  def lowTauLsh: MinHashLSH = lowTauBanding(2)

  /** ≥ 99.9%-recall-at-τ sizing for an arbitrary band width: a
    * τ-jaccard pair matches an r-row band with probability τ^r, so
    * b = ⌈ln(10⁻³)/ln(1−τ^r)⌉ bands (r·b hashes) keep per-pair recall
    * at the floor — pairs above τ are caught with exponentially better
    * odds (the Broder S-curve). Wider bands trade signature width for
    * bucket selectivity: r=2 at τ=0.2 needs 340 hashes / 170 bands but
    * cuts candidates 13× (42.5/doc vs 558/doc at 50k docs).
    *
    * Measured (SURVEY §5.22's retired funnel main, τ=0.2, r11 — the
    * [[MinHashSignature]] one-aggregate signature; the pre-r11
    * n-min-columns aggregate lost whole-stage codegen past 100 fields
    * and made r=2's 340 hashes artificially expensive): at 5k docs
    * r=2 already edges r=1 (4.8 vs 5.7 s in bench context); at 50k
    * docs the r=1 candidate volume has gone quadratic and **r=2 wins
    * 8.0× (518.7 → 65.1 s)**, verified pairs identical at both sizes
    * (256 resp. 250,600 — recall preserved, the equivalence the
    * DedupSpec r=1≡r=2≡exact test pins). Hence r=2 is the [[pairs]]
    * default; `dedup_ngram_jaccard` keeps the r=1 banding registered
    * so both paths stay regression-gated. */
  def lowTauBanding(rowsPerBand: Int): MinHashLSH = {
    // r=1 keeps its historical 64-band cap; wider bands need more of
    // them for the same recall floor, so the cap scales with r
    val b = math.max(8, math.min(64 * rowsPerBand * rowsPerBand,
      math.ceil(math.log(1e-3) /
        math.log1p(-math.pow(threshold, rowsPerBand))).toInt))
    MinHashLSH(numHashes = rowsPerBand * b, bands = b, shingleSize = n,
      textCol = textCol, idCol = idCol)
  }

  /** High-threshold path: only each doc's first ⌊(1−t)·|s|⌋+1 shingles
    * (global lexicographic order) are exploded and joined — any pair
    * with J ≥ t must collide inside those prefixes — then candidates
    * are verified exactly with one `array_intersect`. */
  def prefixFilteredPairs(df: DataFrame): DataFrame = {
    val shArr = df.select(col(idCol),
        array_sort(array_distinct(wordShingles(col(textCol), n))).as("sharr"))
      .filter(size(col("sharr")) > 0)
    val plen = (floor(size(col("sharr")) * (1.0 - threshold)) + 1).cast("int")
    val prefix = shArr.select(col(idCol), explode(slice(col("sharr"), lit(1), plen)).as("sh"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    cand
      .join(shArr.select(col(idCol).as("id_a"), col("sharr").as("sa")), "id_a")
      .join(shArr.select(col(idCol).as("id_b"), col("sharr").as("sb")), "id_b")
      // size prefilter (J ≤ min/max) before the O(|s| log |s|)
      // intersect — lossless, same lemma as the prefix filter itself
      .filter(least(size(col("sa")), size(col("sb"))).cast("double") >=
        lit(threshold) * greatest(size(col("sa")), size(col("sb"))).cast("double"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      // filter on RAW jaccard, round only for output: rounding before
      // the threshold test would let J ∈ (τ−5e-7, τ) round up past τ,
      // which the (lossless-on-raw-J) size prefilter above cannot see
      .withColumn("__jraw", col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")).cast("double"))
      .filter(col("__jraw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__jraw"), 6).as("jaccard"))
  }

  /** Kept for API compatibility: the count-join strategy with the
    * duplicate collapse applied. */
  def countJoinPairs(df: DataFrame): DataFrame =
    collapsedPairs(df, rawCountJoinPairs)

  /** Exact-duplicate documents are collapsed into content-hash classes
    * FIRST (identical text ⇒ identical shingle set ⇒ class-level
    * jaccard), `repPairs` scores one representative per class, and
    * class pairs expand back to doc pairs at the end (inter-class: rep
    * jaccard; intra-class: 1.0). Duplicate-heavy corpora are the rule
    * at web scale — without the collapse, k exact copies turn every
    * colliding pair into k² joined rows; with it the quadratic part is
    * confined to the output itself. Verified 296 s → 12 s on 10×-
    * replicated sf0.1 with a byte-identical pair set.
    * NB: all-pairs jaccard at low thresholds is still inherently
    * quadratic in genuinely-distinct colliding docs; at 100 TB generate
    * candidates with [[MinHashLSH]] and verify those instead. */
  private def collapsedPairs(df: DataFrame,
      repPairsOf: DataFrame => DataFrame): DataFrame = {
    import graft.functions.TextFns.contentHashMd5
    val keyed = df.select(col(idCol), contentHashMd5(col(textCol)).as("__k"))
    val reps = keyed.groupBy("__k").agg(min(idCol).as("__rep"))
    val members = keyed.join(reps, "__k")
    val repDocs = df.join(reps.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")

    val repPairs = repPairsOf(repDocs)
    val inter = repPairs
      .join(members.select(col("__rep").as("id_a"), col(idCol).as("__xa")), "id_a")
      .join(members.select(col("__rep").as("id_b"), col(idCol).as("__xb")), "id_b")
      .select(least(col("__xa"), col("__xb")).as("id_a"),
        greatest(col("__xa"), col("__xb")).as("id_b"), col("jaccard"))

    // intra-class pairs: jaccard is exactly 1.0; classes whose docs have
    // no shingles (< n words) produce no pairs, as in the direct form
    val withShingles = repDocs
      .filter(size(array_distinct(wordShingles(col(textCol), n))) > 0)
      .select(col(idCol).as("__rep"))
    val intra = members.join(withShingles, "__rep")
      .groupBy("__k").agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val intraPairs = intra.select(explode(flatten(
        transform(sequence(lit(1), size(col("ids")) - 1),
          i => transform(slice(col("ids"), i + 1, size(col("ids")) - i),
            x => struct(element_at(col("ids"), i).as("id_a"), x.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), lit(1.0).as("jaccard"))

    inter.union(intraPairs)
  }

  /** The direct count-join over the given docs (no duplicate collapse).
    * The join key is the shingle's xxhash64 (8 bytes) rather than the
    * shingle string: smaller shuffle, primitive comparisons, identical
    * counts (a 64-bit collision between distinct co-occurring shingles
    * is ~2⁻⁶⁴·pairs). The per-doc size joins are left to AQE: it
    * broadcasts them when small; at scale (one row per doc) they must
    * stay shuffled. */
  def rawCountJoinPairs(df: DataFrame): DataFrame = {
    val sh = df.select(col(idCol),
        explode(array_distinct(wordShingles(col(textCol), n))).as("sh"))
      .select(col(idCol), xxhash64(col("sh")).as("sh"))
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      // raw-J filter for the same reason as [[prefixFilteredPairs]]
      .withColumn("__jraw", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("__jraw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__jraw"), 6).as("jaccard"))
  }

  /** The 100 TB recipe (registered, not just prose): [[MinHashLSH]]
    * band buckets generate the candidate pairs — linear in docs, never
    * all-pairs — and each candidate is verified with ONE exact jaccard
    * (`array_intersect` on the two shingle sets). Output ⊆ [[pairs]];
    * equality holds whenever LSH recall covers every pair ≥ threshold
    * (tune numHashes/bands per Broder's S-curve). `lsh.shingleSize`
    * should equal `n` so candidates and verification see the same
    * shingle space. */
  def minhashVerifiedPairs(df: DataFrame, lsh: MinHashLSH): DataFrame = {
    require(lsh.shingleSize == n && lsh.idCol == idCol && lsh.textCol == textCol,
      "LSH candidate generator must see the same shingle space as verification")
    // ONE normalize+shingle+md5 pass over the corpus, materialized narrow
    // (id, 128-bit shingle hash); signatures, band buckets AND exact
    // verification all reuse it instead of re-running the regex subtree
    val ex = lsh.shingleHashes(df).localCheckpoint()
    // candidates are materialized once too (two longs per row — small
    // next to the corpus); both the verification join and callers that
    // fan out over them would otherwise recompute the bucket subtree
    val cand = lsh.candidatePairsFromHashes(ex).localCheckpoint()
    // exact |A∩B| via a count-join RESTRICTED to candidate pairs: fan
    // each candidate out to id_a's shingle hashes, then equi-join on
    // (id_b, hash) — O(candidates × |shingles|) joined rows, never the
    // all-pairs flood, and md5's 128 bits make hash-set intersection
    // equal string-set intersection (collision odds ~2⁻¹²⁸·pairs)
    val sizes = ex.groupBy(idCol).agg(count(lit(1)).as("sz"))
    // lossless size prefilter (the PPJoin length-filter lemma):
    // |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
    // J ≤ min/max — a candidate whose size ratio is below τ cannot
    // survive verification, and killing it HERE avoids fanning it out
    // to |shingles| joined rows below. The narrow size joins were paid
    // anyway (they used to sit after the count-join); moving them
    // before it also lets the groupBy carry the sizes as keys, so the
    // tail joins disappear entirely.
    val candSized = cand
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double"))
    val inter = candSized
      .join(ex.select(col(idCol).as("id_a"), col("__h")), Seq("id_a"))
      .join(ex.select(col(idCol).as("id_b"), col("__h")), Seq("id_b", "__h"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("inter"))
    inter
      // raw-J filter keeps the size prefilter strictly lossless: with a
      // rounded filter, J ∈ (τ−5e-7, τ) would round up past τ while the
      // prefilter (a bound on RAW J) had already pruned the pair
      .withColumn("__jraw", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("__jraw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__jraw"), 6).as("jaccard"))
  }

  def apply(df: DataFrame): DataFrame = {
    val dups = pairs(df).select(col("id_b").as(idCol)).distinct()
    df.join(dups, Seq(idCol), "left_anti")
  }
}

/** Embedding cosine near-duplicate pairs. `exactPairs` is the O(n²)
  * reference semantics (usable on blocked subsets); `lshPairs` is the
  * scale path — random-hyperplane bucket join, then exact rerank within
  * buckets only. */
case class EmbeddingNearDup(
    threshold: Double = 0.95,
    dim: Int = 64,
    bands: Int = 8,
    bitsPerBand: Int = 4,
    idCol: String = "vec_id",
    vecCol: String = "embedding",
    maxBucketSize: Int = 10000) {

  def exactPairs(df: DataFrame): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Scale path: banded random-hyperplane LSH (Charikar 2002 signs,
    * MinHash-style band OR-ing for recall). `bands × bitsPerBand` sign
    * bits from [[graft.operators.vector.DeterministicPlanes]] — the same
    * md5-derived dyadic-rational planes as [[graft.operators.vector.LshAnn]],
    * so a SQL oracle rebuilds the buckets bit-identically. Candidates
    * are generated inside each (band, digest) bucket from a sorted
    * collect_list (one pass, no self-join), DISTINCT'd while still
    * narrow (two longs), and the wide vector payload is back-joined only
    * for surviving candidates — at 100 TB the embedding column never
    * rides through the banded explosion.
    *
    * `maxBucketSize` drops degenerate buckets — CRITICAL at scale: a
    * band digest has only `2^bitsPerBand` values, so bucket population
    * grows with n/2^bitsPerBand and an uncapped bucket join turns
    * quadratic (measured: 1M vectors at the default 4-bit bands ⇒
    * ~60k-row buckets ⇒ 10¹¹ joined rows). Size `bitsPerBand` so
    * 2^bits ≫ n/maxBucketSize and tune the recall S-curve
    * (1−(1−p^bits)^bands, p = 1 − acos(cos θ)/π) for the threshold. */
  def lshPairs(df: DataFrame): DataFrame = {
    val sigExpr = graft.operators.vector
      .LshAnn(dim, bands * bitsPerBand, idCol, vecCol).signature(col(vecCol))
    val banded = df.select(col(idCol), sigExpr.as("sig"))
      .select(col(idCol), posexplode(array((0 until bands).map(b =>
        substring(col("sig"), b * bitsPerBand + 1, bitsPerBand)): _*)))
      .toDF(idCol, "band", "digest")
    val grouped = banded.groupBy("band", "digest")
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
    val pairs = flatten(transform(sequence(lit(1), size(col("ids")) - 1),
      i => transform(slice(col("ids"), i + 1, size(col("ids")) - i),
        x => struct(element_at(col("ids"), i).as("id_a"), x.as("id_b")))))
    val cand = grouped.select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  def apply(df: DataFrame): DataFrame = {
    val dups = lshPairs(df).select(col("id_b").as(idCol)).distinct()
    df.join(dups, Seq(idCol), "left_anti")
  }

  /** The 100 TB recipe: collapse BIT-IDENTICAL vectors to one
    * representative (narrow xxhash64 groupBy — the embedding twin of
    * [[NgramJaccard]]'s content-hash collapse) BEFORE the banded LSH.
    * Copy-heavy corpora are the rule at web scale, and k exact copies
    * add zero information to candidate generation while multiplying
    * banded rows k× and bucket pairs k² — measured at 1M vectors
    * (10 copies each), the collapse turns a disk-filling 10⁹-pair
    * bucket flood into an ~including-copies-linear plan. Returns
    * (rep_id, dup_count, cos) rep-level pairs; expand through the
    * membership table when per-copy pairs are needed (intra-class
    * pairs are all cos 1.0 by construction). */
  def collapsedLshPairs(df: DataFrame): (DataFrame, DataFrame) = {
    val keyed = df.select(col(idCol), col(vecCol),
      xxhash64(col(vecCol)).as("__k"))
    val members = keyed.select(col("__k"), col(idCol))
    val reps = keyed.groupBy("__k").agg(
      min(col(idCol)).as(idCol), first(col(vecCol)).as(vecCol),
      count(lit(1)).as("dup_count"))
    (lshPairs(reps.drop("__k", "dup_count")), members)
  }
}
