package graft

import graft.pipeline.{MetricsSink, PipelineConfig}

/** CLI entry point — the counterpart of the reference's `cli.py` +
  * `scripts/generate_metrics_report.py`: run a full YAML job
  * (data_loader → stages → data_writer) and print the funnel report,
  * or profile it per-operator. `--metrics-path` persists the run to the
  * reference-style parquet tables (runs/, stages/) plus a
  * self-contained HTML funnel report ([[graft.pipeline.MetricsSink]]).
  *
  * {{{
  * graft.Main run pipeline.yaml                     # fused run + funnel report
  * graft.Main run pipeline.yaml --no-report         # skip the funnel instrumentation
  * graft.Main run pipeline.yaml --metrics-path m/   # + persist metrics & report
  * graft.Main profile pipeline.yaml [--metrics-path m/]  # per-op wall + rec/s
  * graft.Main index-build <docs.parquet> <index-dir>     # build the near-dup index
  * graft.Main ingest <batch.parquet> <index-dir> <out>   # delta dedup + roll index
  * graft.Main compact-index <index-dir>                  # fold committed batch= dirs
  * graft.Main index-maintain <bm25|ivf> <name>           # one B8/C42 maintenance tick
  * graft.Main recrawl-init <config.yaml>                 # day-1 re-crawl state build
  * graft.Main recrawl-ingest <config.yaml> [--batch-id]  # day-2 delta batch
  * graft.Main load-shards <globs> <state> <out>          # resumable bulk load
  * }}}
  *
  * `index-build`/`ingest` implement the daily-ingest loop around
  * [[graft.operators.dedup.IncrementalMinHashDedup]]: build the narrow
  * (doc_id, band, bucket) corpus index once, then each ingest dedups a
  * new batch against it (corpus text never re-read), writes survivors,
  * and commits their bucket rows as an atomic `batch=<id>` partition so
  * the next ingest sees them (crash → just re-run; see [[runIngest]]).
  * Both accept `--num-hashes --bands --shingle-size --text-field
  * --id-field`; the banding spec is RECORDED with the index at build
  * time (`_lsh_spec`) and every subsequent ingest cross-checks it —
  * a contradicting flag fails loudly instead of silently probing
  * incompatible band digests. `ingest` also accepts `--batch-id`.
  */
object Main {

  private def lshFromArgs(args: Array[String]): graft.operators.dedup.MinHashLSH = {
    def opt(name: String, default: String): String =
      args.indexOf(name) match {
        case i if i >= 0 && i + 1 < args.length => args(i + 1)
        case _ => default
      }
    graft.operators.dedup.MinHashLSH(
      numHashes = opt("--num-hashes", "12").toInt,
      bands = opt("--bands", "4").toInt,
      shingleSize = opt("--shingle-size", "3").toInt,
      textCol = opt("--text-field", "text"),
      idCol = opt("--id-field", "doc_id"))
  }

  /** The LSH banding spec travels WITH the band index — a `_lsh_spec`
    * marker written at build time. Probing a persisted index with a
    * DIFFERENT (numHashes, bands, shingleSize) than it was built with
    * makes every band digest incompatible: the semi-join finds
    * nothing and every cross-batch duplicate is admitted SILENTLY —
    * the same trusted-caller-parameter trap class as the r17 bucket
    * fix, previously "documented" as "must match". */
  private def lshSpecOf(lsh: graft.operators.dedup.MinHashLSH): String =
    s"numHashes=${lsh.numHashes} bands=${lsh.bands} shingleSize=${lsh.shingleSize}"

  private[graft] def writeLshSpec(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, lsh: graft.operators.dedup.MinHashLSH): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_lsh_spec"), true)
    try out.write(lshSpecOf(lsh).getBytes("UTF-8")) finally out.close()
  }

  /** Check the configured banding against the index's recorded spec:
    * contradiction fails LOUDLY; a legacy index without the marker
    * records the current spec (self-healing migration — from then on
    * drift is caught). */
  private[graft] def checkLshSpec(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, lsh: graft.operators.dedup.MinHashLSH): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_lsh_spec")
    if (!fs.exists(p)) { writeLshSpec(fs, dir, lsh); return }
    val in = fs.open(p)
    val recorded = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString.trim finally in.close()
    require(recorded == lshSpecOf(lsh),
      s"band index at $dir was built with [$recorded] but this run is " +
        s"configured [${lshSpecOf(lsh)}] — incompatible band digests " +
        "would silently admit every duplicate; use the recorded " +
        "parameters or rebuild the index")
  }

  /** Build the persisted band-bucket index for a curated corpus. The
    * index is laid out as `batch=<id>/band=<b>/` partitions so every
    * later [[runIngest]] commits its rows as ONE directory rename. */
  def runIndexBuild(spark: org.apache.spark.sql.SparkSession,
      docsPath: String, indexPath: String, args: Array[String]): Unit = {
    val lsh = lshFromArgs(args)
    lsh.buckets(spark.read.parquet(docsPath))
      .withColumn("batch", org.apache.spark.sql.functions.lit("base"))
      .write.mode("overwrite").partitionBy("batch", "band").parquet(indexPath)
    writeLshSpec(new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      indexPath, lsh)
    println(s"[graft] index written to $indexPath (batch=base)")
  }

  /** Batch ids become partition directory names (`batch=<id>`) and a
    * partition-value equality filter; restricting them to a charset
    * Spark never percent-escapes keeps the path and the filter agreeing
    * on the same string. `base` is reserved for the index build. */
  private[graft] def validateBatchId(id: String): String = {
    require(id.matches("[A-Za-z0-9._-]+"),
      s"--batch-id '$id' invalid: allowed characters are [A-Za-z0-9._-] " +
        "(the id becomes a partition directory name and an exclusion filter; " +
        "'/', '=', '%' or other escaped characters would break the round-trip)")
    require(id != "base", "--batch-id 'base' is reserved for index-build")
    id
  }

  /** A pre-batch index (written by an older index-build) has `band=<b>`
    * dirs at the TOP level; mixing that with `batch=<id>/band=<b>`
    * commits puts leaf files at two partition depths and Spark's
    * partition discovery throws "Conflicting directory structures".
    * Migrate in place — rename each top-level `band=<b>` under
    * `batch=base/` — before the first per-batch commit. Renames are
    * idempotent (a crash mid-migration just leaves fewer dirs to move
    * on the re-run). Per-directory, not transactional: migrate while
    * no concurrent readers or ingests are active — a reader racing the
    * migration can see the conflicting-depth layout it exists to fix. */
  private[graft] def migrateFlatIndex(
      fs: org.apache.hadoop.fs.FileSystem,
      indexPath: org.apache.hadoop.fs.Path): Unit = {
    // let the subsequent spark.read.parquet surface the user-facing
    // "path does not exist" error instead of a raw FileNotFoundException
    if (!fs.exists(indexPath)) return
    val entries = fs.listStatus(indexPath)
    val flatBands = entries.filter(e =>
      e.isDirectory && e.getPath.getName.startsWith("band="))
    if (flatBands.isEmpty) return
    val base = new org.apache.hadoop.fs.Path(indexPath, "batch=base")
    fs.mkdirs(base)
    flatBands.foreach { e =>
      val target = new org.apache.hadoop.fs.Path(base, e.getPath.getName)
      // HDFS rename into an EXISTING directory nests the source INSIDE
      // it (batch=base/band=N/band=N) instead of failing — which a
      // crashed prior migration or a racing ingest can set up. Fail
      // loudly rather than corrupt the layout silently; if the move
      // already completed, the source dir is gone and we never get here.
      if (fs.exists(target))
        throw new java.io.IOException(
          s"flat-index migration target already exists: $target " +
            "(crashed prior migration or concurrent ingest?); " +
            "remove or reconcile it manually before re-running")
      if (!fs.rename(e.getPath, target))
        throw new java.io.IOException(
          s"flat-index migration failed: ${e.getPath} -> $target")
    }
    // the old flat write's _SUCCESS marker is top-level noise now
    fs.delete(new org.apache.hadoop.fs.Path(indexPath, "_SUCCESS"), false)
    println(s"[graft] migrated flat index layout to $base " +
      s"(${flatBands.length} band partitions)")
  }

  /** Dedup a batch against the index, write survivors, roll the index.
    *
    * Crash-safe and idempotent per batch id (default: md5 of the batch
    * path; override with `--batch-id` when re-ingesting a path with new
    * content). The batch's index rows are staged under an
    * underscore-prefixed directory (invisible to parquet reads) and
    * committed by a single rename to `batch=<id>/`; the index read
    * EXCLUDES rows of the current batch id, so a re-run after any crash
    * recomputes the identical survivor set instead of re-rejecting its
    * own survivors or double-appending bucket rows. Failure anywhere →
    * re-run the same command; there is no partial state to clean up.
    *
    * Storage assumption: the commit rename is atomic on HDFS and local
    * filesystems. On object stores (S3A) rename is copy+delete, so a
    * crash mid-commit can leave a PARTIAL `batch=<id>` partition visible
    * to concurrent readers until the re-run replaces it — re-run
    * idempotence still holds (the re-run excludes and deletes the
    * partial partition), but readers racing an in-flight ingest should
    * check the `_batch_committed_<id>` marker this commit writes last,
    * or front the index with the snapshot-log pointer flip that
    * [[graft.sources.Sinks]] table commits use. */
  def runIngest(spark: org.apache.spark.sql.SparkSession, batchPath: String,
      indexPath: String, outPath: String, args: Array[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val lsh = lshFromArgs(args)
    val batchId = args.indexOf("--batch-id") match {
      case i if i >= 0 && i + 1 < args.length => validateBatchId(args(i + 1))
      case _ => graft.operators.vector.DeterministicPlanes.md5Hex(batchPath).take(12)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val indexP = new org.apache.hadoop.fs.Path(indexPath)
    val fs = indexP.getFileSystem(conf)
    // a pre-batch flat layout must move under batch=base/ BEFORE this
    // batch commits, or partition discovery breaks on the next read
    migrateFlatIndex(fs, indexP)
    // the banding spec is the INDEX's, not this invocation's — a
    // contradicting flag fails loudly instead of silently probing
    // incompatible digests
    checkLshSpec(fs, indexPath, lsh)
    val batch = spark.read.parquet(batchPath)
    val raw = spark.read.parquet(indexPath)
    val index = // ignore rows a previous half-finished run of THIS batch committed
      if (raw.columns.contains("batch")) raw.filter(col("batch") =!= batchId)
      else raw // single-depth pre-batch layout (nothing to migrate yet)
    // materialize survivors before touching the index we just read
    val survivors = graft.operators.dedup.IncrementalMinHashDedup(lsh)
      .survivors(index, batch).localCheckpoint()
    val nIn = batch.count()
    val nOut = survivors.count()
    survivors.write.mode("overwrite").parquet(outPath)
    commitBatchPartition(fs, indexPath, batchId, staging =>
      lsh.buckets(survivors).write.mode("overwrite")
        .partitionBy("band").parquet(staging))
    println(s"[graft] ingest: $nIn in, $nOut kept (${nIn - nOut} near-dups); " +
      s"survivors -> $outPath, index committed as batch=$batchId")
  }

  /** The batch-partition commit discipline [[runIngest]] introduced,
    * shared by every per-batch recrawl artifact: stage under an
    * underscore-prefixed dir (parquet-invisible), ONE rename to
    * `batch=<id>/`, then the `_batch_committed_<id>` marker written
    * LAST (atomic on HDFS/local; on copy+delete-rename object stores a
    * reader requiring the marker never observes a half-copied
    * partition). Re-runs are idempotent: the marker and any prior
    * target are invalidated first, and readers exclude the in-flight
    * batch id. */
  private[graft] def commitBatchPartition(fs: org.apache.hadoop.fs.FileSystem,
      root: String, batchId: String, write: String => Unit): Unit = {
    val staging = s"$root/_staging_$batchId"
    write(staging)
    val target = new org.apache.hadoop.fs.Path(s"$root/batch=$batchId")
    val marker = new org.apache.hadoop.fs.Path(root, s"_batch_committed_$batchId")
    fs.delete(marker, false) // a re-run invalidates the old commit first
    if (fs.exists(target)) fs.delete(target, true) // idempotent re-run replaces
    // the staged dir carries Spark's _SUCCESS marker; drop it so the
    // committed partition holds only data files
    fs.delete(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"), false)
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), target))
      throw new java.io.IOException(s"commit rename failed: $staging -> $target")
    fs.create(marker, true).close()
  }

  /** Index lifecycle compaction: fold every COMMITTED `batch=<id>`
    * partition (plus `batch=base`) into one consolidated
    * `batch=c<digest>` partition. Daily [[runIngest]] commits append a
    * directory per batch forever; past a few hundred batches the
    * partition listing itself becomes the index-read cost, and each
    * probe job plans one input leaf dir per batch. Compaction restores
    * O(1) layout without changing a single probe result.
    *
    * Protocol (same commit discipline as ingest): merge → stage under
    * an underscore dir → ONE rename to `batch=<digest>` → marker write
    * → THEN delete the source partitions. Torn-compaction windows are
    * all safe:
    *   - crash before the rename: the staging dir is parquet-invisible;
    *     re-run overwrites it.
    *   - crash after the rename, before the source deletes: the index
    *     temporarily holds every row twice — semantically benign (the
    *     ingest probe is a LEFT SEMI existence check; duplicate
    *     (id, band, bucket) rows cannot change any survivor set) — and
    *     the re-run converges: the merge `distinct()`s the doubled rows
    *     and the digest folds the half-compacted partition in.
    * Uncommitted partitions (no `_batch_committed_<id>` marker — e.g. a
    * torn object-store ingest) are left untouched for their own
    * ingest's re-run. Not concurrency-safe with a live ingest, like
    * [[migrateFlatIndex]].
    *
    * After compaction a PAST batch id can no longer be re-ingested
    * idempotently (its rows now live in the consolidated partition, so
    * the re-run's self-exclusion filter no longer sees them) — compact
    * finalizes history; re-ingest a path under a NEW --batch-id. */
  def runCompactIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit = {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val indexP = new org.apache.hadoop.fs.Path(indexPath)
    val fs = indexP.getFileSystem(conf)
    migrateFlatIndex(fs, indexP)
    def marker(id: String) =
      new org.apache.hadoop.fs.Path(indexPath, s"_batch_committed_$id")
    val all = fs.listStatus(indexP).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=")).toSeq.sorted
    val committed = all.filter(id => id == "base" || fs.exists(marker(id)))
    if (committed.size < 2) {
      println(s"[graft] compact-index: ${committed.size} committed " +
        "partition(s) — nothing to compact")
      return
    }
    val digest = "c" + graft.operators.vector.DeterministicPlanes
      .md5Hex(committed.mkString(",")).take(12)
    val merged = spark.read
      // basePath: the listed dirs are sibling partitions of ONE table;
      // without it Spark infers a partition root per path and throws
      // CONFLICTING_DIRECTORY_STRUCTURES
      .option("basePath", indexPath)
      .parquet(committed.map(id => s"$indexPath/batch=$id"): _*)
      .drop("batch") // re-partitioned under the new consolidated id
      .distinct() // doubled rows from a torn prior compaction collapse here
    val staging = s"$indexPath/_staging_compact_$digest"
    // sub-partition by band when the artifact has one (the minhash
    // index); curated / exact-hash stores compact without it
    val w = merged.write.mode("overwrite")
    (if (merged.columns.contains("band")) w.partitionBy("band") else w)
      .parquet(staging)
    fs.delete(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"), false)
    val target = new org.apache.hadoop.fs.Path(s"$indexPath/batch=$digest")
    fs.delete(marker(digest), false)
    if (fs.exists(target)) fs.delete(target, true) // crashed prior attempt
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), target))
      throw new java.io.IOException(s"compact rename failed: $staging -> $target")
    fs.create(marker(digest), true).close()
    // sources go LAST — every crash before this line leaves a readable,
    // correct (if temporarily doubled) index
    committed.filterNot(_ == digest).foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/batch=$id"), true)
      fs.delete(marker(id), false)
    }
    println(s"[graft] compact-index: ${committed.size} partitions " +
      s"(${committed.mkString(", ")}) -> batch=$digest")
  }

  private def lshFromSection(m: Map[String, Any], idCol: String,
      textCol: String): graft.operators.dedup.MinHashLSH =
    graft.operators.dedup.MinHashLSH(
      numHashes = m.getOrElse("num_hashes", 12).toString.toInt,
      bands = m.getOrElse("bands", 4).toString.toInt,
      shingleSize = m.getOrElse("shingle_size", 3).toString.toInt,
      textCol = textCol, idCol = idCol)

  /** The curated-artifact column contract: the id and text columns
    * plus `keep_fields` (default source, lang) where present — NOT
    * "whatever the snapshot carries": old and new snapshots can differ
    * in auxiliary columns (a derived stats column, a crawl header),
    * and per-batch partitions of one artifact must share a schema. */
  private def stableColumns(rc: Map[String, Any], idCol: String,
      textCol: String, available: Seq[String]): Seq[String] = {
    val keep = rc.get("keep_fields") match {
      case Some(l: Seq[_]) => l.map(_.toString)
      case Some(s) => s.toString.split(",").map(_.trim).toSeq
      case None => Seq("source", "lang")
    }
    Seq(idCol) ++ keep.filter(available.contains) ++ Seq(textCol)
  }

  /** Highest committed BM25 version under the warehouse for `base`
    * (scanning for `<base>_v<N>_manifest` dirs — the manifest is the
    * segmented layout's commit record, so an un-manifested torn
    * version never counts), attached into this session's catalog if
    * absent. -1 when no version exists. */
  private def bm25CurrentVersion(spark: org.apache.spark.sql.SparkSession,
      base: String): Int = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pat = ("^" + java.util.regex.Pattern.quote(
      base.toLowerCase(java.util.Locale.ROOT)) + "_v(\\d+)_manifest$").r
    if (!fs.exists(wh)) -1
    else fs.listStatus(wh).flatMap(st => st.getPath.getName match {
      case pat(n) => Some(n.toInt)
      case _ => None
    }).reduceOption(_ max _).getOrElse(-1)
  }

  /** Day-1 state build for the re-crawl lifecycle
    * ([[graft.pipeline.RecrawlOps]]): run the config's per-document
    * chain plus the batch exact+minhash dedups over `old_path`, and
    * persist the three state artifacts under `state_dir` in the
    * `batch=base` layout every later `recrawl-ingest` commits into:
    * `curated/` (the corpus, input schema only), `exact_hashes/`
    * (every reaching doc's content hash) and `minhash_index/`
    * (band-partitioned buckets of every doc reaching the minhash
    * stage). With `bm25_base` configured, also builds `<base>_v0`. */
  def runRecrawlInit(spark: org.apache.spark.sql.SparkSession,
      yaml: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val rc = graft.pipeline.PipelineConfig.parseSection(yaml, "recrawl")
    require(rc.nonEmpty, "config has no recrawl: section")
    val stateDir = rc("state_dir").toString
    val idCol = rc.getOrElse("id_field", "doc_id").toString
    val textCol = rc.getOrElse("text_field", "text").toString
    val job = graft.pipeline.PipelineConfig.parseJob(yaml)
    val old = spark.read.parquet(rc("old_path").toString)
    val state = graft.pipeline.RecrawlOps.init(old, job.pipeline,
      lshFromSection(rc, idCol, textCol), idCol, textCol)
    def writeBase(df: org.apache.spark.sql.DataFrame, sub: String,
        parts: Seq[String]): Unit =
      df.withColumn("batch", lit("base")).write.mode("overwrite")
        .partitionBy("batch" +: parts: _*).parquet(s"$stateDir/$sub")
    writeBase(state.curated.select(
      stableColumns(rc, idCol, textCol, old.columns).map(col): _*),
      "curated", Nil)
    writeBase(state.exactIndex, "exact_hashes", Nil)
    writeBase(state.bandIndex, "minhash_index", Seq("band"))
    // the banding spec travels with the state (see checkLshSpec)
    writeLshSpec(new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      s"$stateDir/minhash_index", lshFromSection(rc, idCol, textCol))
    val nCur = spark.read.parquet(s"$stateDir/curated").count()
    rc.get("bm25_base").foreach { b =>
      graft.operators.text.Bm25(idCol = idCol, textCol = textCol).buildIndex(
        spark.read.parquet(s"$stateDir/curated").select(idCol, textCol),
        s"${b}_v0", rc.getOrElse("bm25_buckets", 8).toString.toInt)
    }
    println(s"[graft] recrawl-init: ${old.count()} old docs -> " +
      s"$nCur curated; state in $stateDir (batch=base)" +
      rc.get("bm25_base").map(b => s"; bm25 index ${b}_v0").getOrElse(""))
  }

  /** One day-2 batch of the re-crawl lifecycle: diff the snapshots,
    * route only added+changed pages through the config's chain, dedup
    * them incrementally against the persisted state, then commit —
    * with [[commitBatchPartition]]'s staging-rename discipline, one
    * `batch=<id>` partition per artifact (curated survivors, reaching
    * content hashes, reaching band buckets, and `shards/` when
    * `shards` is configured) — and roll the optional BM25 index one
    * version forward. Idempotent per batch id: every state read
    * excludes the in-flight id, so a crashed run just re-runs.
    * `compact-index` folds any of the three batch-partitioned state
    * dirs once their listing grows. */
  def runRecrawlIngest(spark: org.apache.spark.sql.SparkSession,
      yaml: String, args: Array[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val rc = graft.pipeline.PipelineConfig.parseSection(yaml, "recrawl")
    require(rc.nonEmpty, "config has no recrawl: section")
    val stateDir = rc("state_dir").toString
    val idCol = rc.getOrElse("id_field", "doc_id").toString
    val textCol = rc.getOrElse("text_field", "text").toString
    val newPath = rc("new_path").toString
    val batchId = args.indexOf("--batch-id") match {
      case i if i >= 0 && i + 1 < args.length => validateBatchId(args(i + 1))
      case _ => graft.operators.vector.DeterministicPlanes.md5Hex(newPath).take(12)
    }
    val job = graft.pipeline.PipelineConfig.parseJob(yaml)
    val old = spark.read.parquet(rc("old_path").toString)
    val neu = spark.read.parquet(newPath)
    val deltaDocs = graft.pipeline.RecrawlOps.delta(old, neu,
      rc.getOrElse("changed_offset", "4000000").toString.toLong,
      idCol, textCol)
    val exclude = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("batch") =!= batchId).drop("batch")
    val state = graft.pipeline.RecrawlOps.State(
      curated = spark.emptyDataFrame, // ingest never reads the payload
      exactIndex = exclude(spark.read.parquet(s"$stateDir/exact_hashes")),
      bandIndex = exclude(spark.read.parquet(s"$stateDir/minhash_index")))
    val lsh = lshFromSection(rc, idCol, textCol)
    // config banding must match the persisted state's recorded spec
    // (legacy state records the current config on first contact)
    checkLshSpec(new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      s"$stateDir/minhash_index", lsh)
    val batch = graft.pipeline.RecrawlOps.ingest(state, deltaDocs,
      job.pipeline, lsh, idCol, textCol)
    // materialize everything BEFORE committing into the dirs we read
    val survivors = batch.survivors.localCheckpoint()
    val newHashes = batch.newExactHashes.localCheckpoint()
    val newBands = batch.newBandRows.localCheckpoint()
    val (nIn, nOut) = (deltaDocs.count(), survivors.count())
    job.writer.foreach(_(survivors))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(conf)
    val stable = survivors.select(
      stableColumns(rc, idCol, textCol, survivors.columns).map(col): _*)
    commitBatchPartition(fs, s"$stateDir/curated", batchId, st =>
      stable.write.mode("overwrite").parquet(st))
    commitBatchPartition(fs, s"$stateDir/exact_hashes", batchId, st =>
      newHashes.write.mode("overwrite").parquet(st))
    commitBatchPartition(fs, s"$stateDir/minhash_index", batchId, st =>
      newBands.write.mode("overwrite").partitionBy("band").parquet(st))
    rc.get("shards").foreach { n =>
      val layout = graft.operators.text.TrainingShardLayout(
        n.toString.toInt, idCol)
      commitBatchPartition(fs, s"$stateDir/shards", batchId, st =>
        layout.write(stable, st))
    }
    rc.get("bm25_base").foreach { b =>
      val bm = graft.operators.text.Bm25(idCol = idCol, textCol = textCol)
      val buckets = rc.getOrElse("bm25_buckets", 8).toString.toInt
      // idempotent per batch id, the versioned-artifact way: the
      // (from, to) pair is pinned in a marker BEFORE the refresh, and
      // `to` is complete iff its _manifest table (the commit record,
      // written LAST by refreshIndex) carries parquet's _SUCCESS — a
      // re-run of a finished batch skips, a re-run of a torn refresh
      // rebuilds the same target from the same source (refresh drops
      // its torn segment first)
      val marker = new org.apache.hadoop.fs.Path(stateDir,
        s"_bm25_refresh_$batchId")
      val (from, to) =
        if (fs.exists(marker)) {
          val in = fs.open(marker)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                  finally in.close()
          val Array(f, t) = s.split("\n"); (f, t)
        } else {
          val cur = bm25CurrentVersion(spark, b.toString)
          require(cur >= 0,
            s"no bm25 index versions for base '$b' — run recrawl-init")
          val ft = (s"${b}_v$cur", s"${b}_v${cur + 1}")
          val out = fs.create(marker, true)
          try out.write(s"${ft._1}\n${ft._2}".getBytes("UTF-8"))
          finally out.close()
          ft
        }
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val done = new org.apache.hadoop.fs.Path(
        s"$wh/${to.toLowerCase(java.util.Locale.ROOT)}_manifest/_SUCCESS")
      if (fs.exists(done))
        println(s"[graft] recrawl-ingest: bm25 $to already committed — skipping")
      else {
        // bucket count read from the artifact's manifest (recorded at
        // recrawl-init's buildIndex) — never from config at this point
        if (!spark.catalog.tableExists(s"${from}_manifest"))
          bm.attachIndex(spark, from, from)
        bm.refreshIndex(stable.select(idCol, textCol), from, to)
        println(s"[graft] recrawl-ingest: bm25 $from -> $to")
      }
    }
    println(s"[graft] recrawl-ingest: $nIn delta docs in, $nOut kept " +
      s"(${nIn - nOut} filtered/deduped); state batch=$batchId committed")
  }

  /** The continuous-curation capstone as a CLI job
    * ([[graft.streaming.StreamingCuration]]): `readStream` over the
    * config's loader path, the config's per-doc stages with named
    * observe nodes, the one-layer streaming dedup (MinHash bands, and a
    * content-hash key in the same band state for docs too short to
    * shingle), idempotent per-batch survivor partitions under
    * `streaming.out_path`, an optional BM25 roll per batch, and the
    * per-micro-batch funnel report from the engine's own
    * `observedMetrics` — drains what exists, prints the report, stops
    * (run under a scheduler for always-on). */
  def runStreamCurate(spark: org.apache.spark.sql.SparkSession,
      yaml: String): Unit = {
    import org.apache.spark.sql.functions.{col, current_timestamp}
    val job = graft.pipeline.PipelineConfig.parseJob(yaml)
    val st = graft.pipeline.PipelineConfig.parseSection(yaml, "streaming")
    require(st.nonEmpty, "config has no streaming: section")
    val (_, lp) = job.loaderSpec.getOrElse(
      throw new IllegalArgumentException("config has no data_loader"))
    val path = lp("path").toString
    val idCol = st.getOrElse("id_field", "doc_id").toString
    val textCol = st.getOrElse("text_field", "text").toString
    val tsCol = st.getOrElse("ts_field", "ts").toString
    val schema = spark.read.parquet(path).schema
    // the streaming file source wants a DIRECTORY; a single-file corpus
    // streams from its parent with a name filter
    val p0 = new org.apache.hadoop.fs.Path(path)
    val pfs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader = spark.readStream.schema(schema)
    val raw =
      if (pfs.getFileStatus(p0).isFile)
        reader.option("pathGlobFilter", p0.getName).parquet(p0.getParent.toString)
      else reader.parquet(path)
    // a crawl dump without an event-time column streams on ingest time
    val in = if (schema.fieldNames.contains(tsCol)) raw
      else raw.withColumn(tsCol, current_timestamp())
    val listener = new graft.streaming.StreamingMetricsListener
    spark.streams.addListener(listener)
    val curation = graft.streaming.StreamingCuration(job.pipeline,
      lshFromSection(st, idCol, textCol), idCol, tsCol, textCol,
      st.getOrElse("watermark", "1 hour").toString)
    val outPath = st("out_path").toString
    val ckpt = st.getOrElse("checkpoint_path",
      outPath.stripSuffix("/") + "__checkpoint").toString
    val index = st.get("bm25_base").map { b =>
      val bm = graft.operators.text.Bm25(idCol = idCol, textCol = textCol)
      val buckets = st.getOrElse("bm25_buckets", 8).toString.toInt
      if (bm25CurrentVersion(spark, b.toString) < 0)
        bm.buildIndex(spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(idCol,
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField(textCol,
                org.apache.spark.sql.types.StringType)))),
          s"${b}_v0", buckets)
      (b.toString, s"${b}_v0",
        (batch: org.apache.spark.sql.DataFrame, from: String, to: String) =>
          bm.refreshIndex(batch.select(col(idCol), col(textCol)), from, to))
    }
    // fold the index's per-batch segments every N committed batches
    // (streaming.bm25_compact_every, default 8; 0 disables); bucket
    // count carries forward from the version's recorded layout
    val compact = index.map { _ =>
      val bm = graft.operators.text.Bm25(idCol = idCol, textCol = textCol)
      (st.getOrElse("bm25_compact_every", 8).toString.toInt,
        (from: String, to: String) => bm.compactIndex(spark, from, to))
    }
    val t0 = System.nanoTime()
    val (q, live) = curation.start(in, outPath, ckpt, index, compact)
    try q.processAllAvailable() finally q.stop()
    spark.streams.removeListener(listener)
    println(listener.report)
    println(job.pipeline.formatReport(listener.stageTotals,
      (System.nanoTime() - t0) / 1e9))
    live.foreach(l => println(s"[graft] stream-curate: live index ${l.get}"))
    println(s"[graft] stream-curate: survivors under $outPath/batch=*/")
  }

  /** Resumable bulk load (the reference loader worker's per-shard
    * cursor, framework/loader_worker.py:30-60): expands the comma-
    * separated shard globs, then [[graft.sources.ShardedLoader]]
    * ingests each shard `--chunk-records` rows at a time with a
    * committed (shard, offset) marker per chunk — a killed run resumes
    * mid-shard, never re-reading or duplicating committed chunks.
    * `--max-chunks` bounds one invocation's work (the "budget per
    * worker wake-up" knob). */
  def runLoadShards(spark: org.apache.spark.sql.SparkSession, globsCsv: String,
      stateDir: String, outDir: String, args: Array[String]): Unit = {
    def intFlag(name: String, default: Int): Int = args.indexOf(name) match {
      case i if i >= 0 && i + 1 < args.length => args(i + 1).toInt
      case i if i >= 0 =>
        System.err.println(s"$name needs a value"); sys.exit(2)
      case _ => default
    }
    val chunkRecords = intFlag("--chunk-records", 1000000)
    val maxChunks = intFlag("--max-chunks", Int.MaxValue)
    val conf = spark.sparkContext.hadoopConfiguration
    val shards = globsCsv.split(',').toSeq.flatMap { g =>
      val p = new org.apache.hadoop.fs.Path(g)
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p)).toSeq.flatten.map(_.getPath.toString)
    }.distinct.sorted
    require(shards.nonEmpty, s"no shards match: $globsCsv")
    val report = graft.sources.ShardedLoader.ingest(spark, shards, stateDir,
      outDir, chunkRecords.toLong, maxChunks)
    println(s"[graft] load-shards: ${shards.length} shards, " +
      s"${report.chunksWritten} chunks / ${report.recordsWritten} records " +
      s"this run, ${report.shardsCompleted} shards complete" +
      (if (report.budgetExhausted) " (budget exhausted — re-run to continue)" else ""))
  }

  /** `index-maintain <bm25|ivf> <name>` — ONE scheduled tick of the
    * B8/C42 segmented-index maintenance loop (monitor → compact or
    * rebuild), runnable from cron against a persisted index: attach
    * the on-disk version into this session's catalog, then
    *
    *  - `ivf`: [[graft.operators.vector.IvfIndex.needsRebuild]] over
    *    the staleness report (per-cell refresh growth + centroid-drift
    *    gap) decides REBUILD (re-train, `--to` version) vs the segment
    *    count deciding COMPACT vs no action;
    *  - `bm25`: segment count vs `--max-segments` decides COMPACT vs
    *    no action (a lexical index has no centroid drift to monitor).
    *
    * Versioned-artifact discipline throughout: the action writes ONLY
    * `--to`-prefixed files, readers flip after it returns, and a crash
    * mid-action leaves the monitored version intact. Returns the
    * decision string (tested by ConfigSpec). */
  private[graft] def runIndexMaintain(spark: org.apache.spark.sql.SparkSession,
      kind: String, name: String, args: Array[String]): String = {
    def intFlag(flag: String, default: Int): Int = args.indexOf(flag) match {
      case i if i >= 0 && i + 1 < args.length => args(i + 1).toInt
      case _ => default
    }
    def dblFlag(flag: String, default: Double): Double =
      args.indexOf(flag) match {
        case i if i >= 0 && i + 1 < args.length => args(i + 1).toDouble
        case _ => default
      }
    val to = args.indexOf("--to") match {
      case i if i >= 0 && i + 1 < args.length => args(i + 1)
      case _ => s"${name}_m"
    }
    // NO default bucket count: the physical layout lives in the index
    // manifest and the cron tick reads it from there (defaulting to 8
    // against a 64-bucket build silently mis-pruned — r16 verdict #1);
    // an explicit --buckets survives only as a fail-loud cross-check.
    val buckets = args.indexOf("--buckets") match {
      case i if i >= 0 && i + 1 < args.length => Some(args(i + 1).toInt)
      case _ => None
    }
    val maxSegments = intFlag("--max-segments", 4)
    val decision = kind match {
      case "ivf" =>
        val ivf = graft.operators.vector.IvfIndex(
          idCol = args.indexOf("--id-field") match {
            case i if i >= 0 && i + 1 < args.length => args(i + 1)
            case _ => "vec_id"
          })
        ivf.attachIndex(spark, name, name, buckets)
        val nSegs = ivf.segments(spark, name).size
        if (ivf.needsRebuild(spark, name,
            maxGrowth = dblFlag("--max-growth", 4.0),
            maxDriftGap = dblFlag("--max-drift-gap", 0.05))) {
          ivf.rebuildIndex(spark, name, to, buckets,
            trainRows = intFlag("--train-rows", 200000).toLong)
          s"rebuild -> $to (staleness tripped; $nSegs segments folded, centroids re-trained)"
        } else if (nSegs > maxSegments) {
          ivf.compactIndex(spark, name, to, buckets)
          s"compact -> $to ($nSegs segments > $maxSegments)"
        } else s"healthy ($nSegs segments, staleness clear) — no action"
      case "bm25" =>
        val bm = graft.operators.text.Bm25(
          idCol = args.indexOf("--id-field") match {
            case i if i >= 0 && i + 1 < args.length => args(i + 1)
            case _ => "doc_id"
          })
        bm.attachIndex(spark, name, name, buckets)
        val nSegs = bm.segments(spark, name).size
        if (nSegs > maxSegments) {
          bm.compactIndex(spark, name, to, buckets)
          s"compact -> $to ($nSegs segments > $maxSegments)"
        } else s"healthy ($nSegs segments) — no action"
      case other =>
        throw new IllegalArgumentException(
          s"index-maintain kind must be bm25 or ivf, got: $other")
    }
    println(s"[graft] index-maintain $kind $name: $decision")
    decision
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 3 && args(0) == "index-maintain") {
      val spark = GraftSession.local("graft-cli")
      try runIndexMaintain(spark, args(1), args(2), args) finally spark.stop()
      return
    }
    if (args.length >= 3 && args(0) == "index-build") {
      val spark = GraftSession.local("graft-cli")
      try runIndexBuild(spark, args(1), args(2), args) finally spark.stop()
      return
    }
    if (args.length >= 4 && args(0) == "ingest") {
      val spark = GraftSession.local("graft-cli")
      try runIngest(spark, args(1), args(2), args(3), args) finally spark.stop()
      return
    }
    if (args.length >= 2 && args(0) == "compact-index") {
      val spark = GraftSession.local("graft-cli")
      try runCompactIndex(spark, args(1)) finally spark.stop()
      return
    }
    if (args.length >= 2 && args(0) == "recrawl-init") {
      val yaml = java.nio.file.Files.readString(java.nio.file.Path.of(args(1)))
      val spark = GraftSession.local("graft-cli")
      try runRecrawlInit(spark, yaml) finally spark.stop()
      return
    }
    if (args.length >= 2 && args(0) == "stream-curate") {
      val yaml = java.nio.file.Files.readString(java.nio.file.Path.of(args(1)))
      val spark = GraftSession.local("graft-cli")
      try runStreamCurate(spark, yaml) finally spark.stop()
      return
    }
    if (args.length >= 2 && args(0) == "recrawl-ingest") {
      val yaml = java.nio.file.Files.readString(java.nio.file.Path.of(args(1)))
      val spark = GraftSession.local("graft-cli")
      try runRecrawlIngest(spark, yaml, args) finally spark.stop()
      return
    }
    if (args.length >= 4 && args(0) == "load-shards") {
      val spark = GraftSession.local("graft-cli")
      try runLoadShards(spark, args(1), args(2), args(3), args)
      finally spark.stop()
      return
    }
    if (args.length < 2 || !Set("run", "profile").contains(args(0))) {
      System.err.println(
        "usage: graft.Main run|profile <config.yaml> [--no-report] [--metrics-path <dir>]\n" +
        "       graft.Main index-build <docs.parquet> <index-dir> [lsh opts]\n" +
        "       graft.Main ingest <batch.parquet> <index-dir> <survivors-out> [lsh opts] [--batch-id <id>]\n" +
        "       graft.Main compact-index <index-dir>\n" +
        "       graft.Main index-maintain <bm25|ivf> <name> [--to <v>] [--max-segments N] [--max-growth X] [--max-drift-gap X]\n" +
        "       graft.Main stream-curate <config.yaml>       # continuous curation (drain mode)\n" +
        "       graft.Main recrawl-init <config.yaml>        # day-1 state build\n" +
        "       graft.Main recrawl-ingest <config.yaml> [--batch-id <id>]  # day-2 batch\n" +
        "       graft.Main load-shards <shard-glob[,glob...]> <state-dir> <out-dir> [--chunk-records N] [--max-chunks N]")
      sys.exit(2)
    }
    val yaml = java.nio.file.Files.readString(java.nio.file.Path.of(args(1)))
    val report = !args.contains("--no-report")
    val metricsPath = args.indexOf("--metrics-path") match {
      case i if i >= 0 && i + 1 < args.length => Some(args(i + 1))
      case i if i >= 0 => System.err.println("--metrics-path needs a value"); sys.exit(2)
      case _ => None
    }
    val spark = GraftSession.local("graft-cli")
    try runJob(spark, yaml, profile = args(0) == "profile", report, metricsPath)
    finally spark.stop()
  }

  /** One YAML job end to end (`run`/`profile`), with the optional
    * metrics persistence — extracted from [[main]] so the
    * `metrics_sink_funnel` oracle key and specs can drive the exact
    * CLI path against a shared session. Returns the run id when
    * metrics were persisted. */
  private[graft] def runJob(spark: org.apache.spark.sql.SparkSession,
      yaml: String, profile: Boolean, report: Boolean,
      metricsPath: Option[String]): Option[String] = {
    val job = PipelineConfig.parseJob(yaml)
    val runId = MetricsSink.newRunId()
    var persisted = Option.empty[String]
    if (profile) {
      val t0 = System.nanoTime()
      val (_, metrics) = job.runProfiled(spark)
      val wall = (System.nanoTime() - t0) / 1e9
      println(job.pipeline.formatStageReport(metrics))
      metricsPath.foreach { p =>
        MetricsSink.persist(spark, p,
          MetricsSink.fromProfile(runId, metrics), wall, yaml)
        println(s"[graft] metrics + report written to $p (run $runId)")
        persisted = Some(runId)
      }
    } else {
      val t0 = System.nanoTime()
      val in = job.loader.getOrElse(throw new IllegalArgumentException(
        "config has no data_loader section"))(spark)
      val (out, handles) =
        if (report || metricsPath.nonEmpty) job.pipeline.observed(in)
        else (job.pipeline(in), Seq.empty)
      job.writer match {
        case Some(w) => w(out)
        case None => println(s"[graft] rows out: ${out.count()} (no data_writer configured)")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (handles.nonEmpty) {
        val funnel = job.pipeline.funnelReport(handles)
        if (report) println(job.pipeline.formatReport(funnel, wall))
        metricsPath.foreach { p =>
          MetricsSink.persist(spark, p,
            MetricsSink.fromFunnel(runId, funnel), wall, yaml)
          println(s"[graft] metrics + report written to $p (run $runId)")
          persisted = Some(runId)
        }
      }
    }
    persisted
  }
}
