package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory tuned for the graft engine.
  *
  * The same conf set is intended for cluster deployment: AQE re-plans
  * undersized shuffles and skewed joins at runtime (LSH buckets and
  * dedup keys are the usual offenders), shuffle partitions are sized to
  * the executor core count rather than Spark's default 200.
  */
object GraftSession {
  /** Env knob as a validated positive int — `local[0]`/`local[-2]` are
    * silently invalid masters and a malformed value should name the
    * variable, not throw a bare NumberFormatException. */
  private def positiveEnvInt(name: String): Option[Int] =
    sys.env.get(name).map { v =>
      val n = scala.util.Try(v.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
      require(n > 0, s"$name must be a positive integer, got '$v'")
      n
    }

  /** `SPARK_GRAFT_CPUS`: both the `local[n]` core count and the
    * default shuffle-partition count — one knob keeps them consistent. */
  private[graft] def configuredCpus: Option[Int] =
    positiveEnvInt("SPARK_GRAFT_CPUS")

  /** Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
    * default 100): a bounded map from generated source to its compiled
    * class, shared by every query in the JVM. It is a STATIC conf —
    * `CodeGenerator` reads it once, when the JVM first compiles — so it
    * is set here, where the SparkContext is built. Every session in
    * `src/main` is built through [[builder]] (`SessionFactorySpec` gates
    * it), so none runs with Spark's default.
    *
    * The default is smaller than graft's working sets, and a cache that
    * is smaller than a repeating cycle of classes misses on every access.
    * Working sets, as Janino compiles on a first run (counted by
    * `CodegenMetrics.METRIC_COMPILATION_TIME`, `local[4]`):
    *   - one `StreamingCuration.start` micro-batch with a BM25 roll
    *     (near-dup plan, `isEmpty` + `localCheckpoint`, sink write, the
    *     `Bm25.refreshIndex` jobs): 93–97 classes, ~125 on a fold batch
    *   - the 13-stage text capstone (`pipeline_curation_funnel`,
    *     sf0.01): 230–274; the 12-stage multimodal capstone: 124–143;
    *     the day-2 re-crawl (`recrawl_day2_corpus`): 97–126
    * At 100 every warm micro-batch of that loop recompiled 93–97 classes
    * (10 batches of 10 benchmark files) and loaded ~170–250 new classes
    * for C2 to JIT again; a re-run of a capstone recompiled 103–277. At
    * 1000 a warm micro-batch compiles 0 with a data-derived event time
    * (4 with `current_timestamp()`, whose per-batch literal is inlined
    * into the generated code), and a capstone re-run 0–22 (mostly the
    * same stages under another whole-stage codegen id, which is part of
    * the generated source). 1000 holds the largest working set about
    * four times over, so one JVM can interleave the stream loop with
    * the capstones (the test suite, a bench) and keep them all. */
  val CodegenCacheMaxEntries: Int = 1000
  private[graft] val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      // Defaults to the core count; SPARK_GRAFT_SHUFFLE_PARTITIONS
      // decouples it on a cluster, where the driver's core count says
      // nothing about the executors' cores or the data size. Partition
      // count must grow with the DATA, not the cores: a shuffle stage's
      // per-task state (hash-aggregate maps, join buffers) is
      // partition-sized, and at 100× data on fixed partitions each
      // task's map outgrows cache —
      // measured on q21@100×: 32→256 partitions cuts the fused
      // SMJ+aggregate stage's per-task state 8× (see SURVEY §5.11).
      // AQE coalesces small partitions back, so oversizing is cheap.
      .config("spark.sql.shuffle.partitions",
        positiveEnvInt("SPARK_GRAFT_SHUFFLE_PARTITIONS")
          .orElse(configuredCpus).getOrElse(32).toString)
      // Scan-split sizing. The 128m default assumes web-scale records
      // (KBs each): a small-record corpus (~30 B/record compressed)
      // bin-packs into one or two scan tasks and serializes the whole
      // pipeline. At 100 TB you RAISE this; on a benchmark corpus of
      // tiny records you lower it so the scan parallelizes. Same knob,
      // opposite direction — see SURVEY §5.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"))
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST_BYTES", "4194304"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config(CodegenCacheConf, CodegenCacheMaxEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Local session for tests / benches. `SPARK_GRAFT_CPUS` pins the
    * core count (it already sizes shuffle partitions in [[builder]] —
    * one knob keeps the two consistent, e.g. an 8-core like-for-like
    * run against the reference's published 8-core benchmark). */
  def local(appName: String = "graft",
      cores: Int = configuredCpus
        .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val s = builder(appName).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session of the bench and oracle-dump mains ([[Bench]], [[Verify]]):
    * `local[n]` with n shuffle partitions, n = `SPARK_GRAFT_CPUS`, or 4
    * when it is unset (where [[builder]] alone would pick 32 partitions).
    * The value is validated like every other `SPARK_GRAFT_CPUS` read. */
  private[graft] def harnessLocal(appName: String): SparkSession = {
    val cpus = configuredCpus.getOrElse(4)
    val s = builder(appName).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Test-table access. All graft operators are plain DataFrame
  * transforms; these helpers only standardize the parquet layout used
  * by the driver's test data.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred parquet schema per (dir, table) — METADATA, never data:
    * the schema is read from the file's own footer on first touch and
    * only skips re-running footer inference when the same immutable
    * input table is opened again in the same JVM (a bench/verify run
    * opens each table dozens of times). Query results always compute
    * from the parquet data itself. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  private def readCached(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(path)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as INT64 TIMESTAMP(NANOS) (vectorized
      // reader rejects it — read nanos as long, floor to micros) and as
      // tz-naive TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ, which
      // unix_micros/watermarks reject). Normalize both to TIMESTAMP;
      // the session timezone is UTC, so the NTZ cast preserves the
      // wall-clock values the DuckDB oracle sees.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = readCached(spark, s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // cast to the CONCRETE type: "timestamp" resolves through the
          // spark.sql.timestampType session conf, and under
          // TIMESTAMP_NTZ it would be a no-op cast that leaves
          // unix_micros/watermark consumers rejecting the column
          raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts")
              .cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else readCached(spark, s"$dir/$name.parquet")
  }

  /** [[load]] spread to the session's default parallelism when the scan
    * arrives narrower (guide: repartition immediately after an
    * unsplittable read). Parquet splits are row-group-bounded, so a
    * small single-row-group file is ONE scan task no matter the core
    * count — and a CPU-dense per-row chain above it (regex, shingle +
    * many-lane MinHash signatures) serializes on one core while the
    * rest idle. Round-robin spread, no key skew; at production scale a
    * corpus scan already carries ≥ parallelism partitions and this is a
    * no-op, so nothing here is tuned to the local core count.
    *
    * Measured scope (r19 A/B, min-of-2 at sf0.1): a WIN only for
    * single-action chains whose per-row compute dominates
    * (`dedup_jaccard_r2`'s 340-hash signature: 6.0→4.7 s). A measured
    * LOSS for staged/many-action pipelines (per-stage checkpoint+count
    * jobs multiply the per-task scheduling cost: curation capstones
    * +15-30%) and for javax.imageio/sound codec-kernel chains
    * (multimodal capstones ~2× worse — the JDK codec registries
    * serialize concurrent tasks). Use [[load]] there, and for
    * scan-bound/filter-pushdown queries (the exchange lifts filters
    * off the scan). */
  def loadWide(spark: SparkSession, dir: String, name: String): DataFrame =
    wide(load(spark, dir, name))

  /** Spread `df` to default parallelism iff it is narrower. */
  def wide(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
