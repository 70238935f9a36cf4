package graftbench

import java.nio.file.{Files => JF, Path}

import scala.collection.mutable

import graft.pipeline.PipelineConfig
import org.apache.spark.sql.SparkSession

/** crawl_bulk: the like-for-like twin of the reference's published
  * 1M-record text run (`configs/bench/baseline_vs_reference.yaml`):
  * url_filter -> text_length_filter -> text_exact_deduplicator ->
  * parquet, one YAML job per iteration through the calls
  * `graft.Main run <yaml>` makes with the report on: parse, loader,
  * `Pipeline.observed`, writer, `funnelReport` + `formatReport`. */
object BulkBench {
  val Records = 60000
  val Shards = 8
  /** Set-ups per run; set-up time is their median. */
  val SetupReps = 1
  /** Timed iterations at least, whatever --seconds says. */
  val MinIters = 3

  /** Write the seeded input; returns (records, expected fingerprint). */
  private def generate(seed: Long, dir: Path): (Long, Fingerprint) = {
    val (docs, expected) = Gen.bulk(seed, Records)
    JF.createDirectories(dir)
    docs.grouped((Records + Shards - 1) / Shards).zipWithIndex.foreach { case (g, i) =>
      Gen.writeParquet(dir.resolve(f"part-$i%02d.parquet"), g.iterator)
    }
    (docs.size.toLong, expected)
  }

  private def yaml(input: Path, out: Path): String =
    s"""data_loader:
       |  type: ParquetLoader
       |  params:
       |    path: ${Json.str(input.toString)}
       |stages:
       |  - name: content_filtering
       |    operators:
       |      - name: url_filter
       |        params: {url_field: url}
       |      - name: text_length_filter
       |        params: {min_length: 100, max_length: 100000, text_field: text}
       |      - name: text_exact_deduplicator
       |        params: {text_field: text}
       |data_writer:
       |  type: ParquetDataWriter
       |  params:
       |    output_path: ${Json.str(out.toString)}
       |""".stripMargin

  private final case class Iter(wall: Double, cpuNs: Long, outBytes: Long,
      outFiles: Int, ok: Boolean)

  def run(ctx: Ctx, res: Result): Unit = {
    val data = ctx.work.resolve("data")
    val spans = new Spans(ctx.runId, ctx.traced)
    val g0 = System.nanoTime()
    val (records, expected) = generate(ctx.seed, data)
    val genS = (System.nanoTime() - g0) / 1e9
    res.info("input_records") = records

    var spark: SparkSession = null
    var outSeq = 0
    def freshOut(): Path = { outSeq += 1; ctx.work.resolve(f"out/$outSeq%03d") }

    /** The output must be the generator's replay of the chain, and the
      * funnel must agree with what was read and written. */
    def check(out: Path, funnel: Seq[(String, Long)]): Boolean = {
      val fp = Fingerprint.of(spark.read.parquet(out.toString), "doc_id")
      res.info("fingerprint") = fp.render
      val problems = mutable.ArrayBuffer.empty[String]
      if (expected != fp) problems += s"fingerprint ${fp.render} != expected ${expected.render}"
      funnel.headOption.foreach { case (_, n) =>
        if (n != records) problems += s"funnel input $n != $records records" }
      funnel.lastOption.foreach { case (_, n) =>
        if (n != fp.rows) problems += s"funnel output $n != ${fp.rows} rows written" }
      problems.foreach(p => res.fail(s"crawl_bulk: $p"))
      problems.isEmpty
    }

    var planCpuNs = 0L
    var tracer: EngineTrace = null

    /** One CLI-path job; returns (wall s, funnel). */
    def job(out: Path, traced: Boolean): (Double, Seq[(String, Long)]) = {
      val sp = if (traced) spans else Spans.off
      def tag[T](layer: String)(b: => T): T = if (traced) tracer.tagged(layer)(b) else b
      sp("cli.run") {
        val t0 = System.nanoTime()
        val jobSpec = sp("config.parse")(PipelineConfig.parseJob(yaml(data, out)))
        val in = sp("sources.load")(tag("sources")(jobSpec.loader.get(spark)))
        val p0 = Meters.cpuNs
        val (df, handles) = sp("pipeline.plan")(tag("pipeline.plan")(jobSpec.pipeline.observed(in)))
        planCpuNs = Meters.cpuNs - p0
        sp("sinks.write")(tag("sinks")(jobSpec.writer.get(df)))
        val wall0 = (System.nanoTime() - t0) / 1e9
        val funnel = sp("pipeline.funnel") {
          val f = jobSpec.pipeline.funnelReport(handles)
          System.err.println(jobSpec.pipeline.formatReport(f, wall0))
          f
        }
        ((System.nanoTime() - t0) / 1e9, funnel)
      }
    }

    // ---- set-up: session build, config parse, one warm-up pass; the
    // median of several, each on a fresh session
    val setups = mutable.ArrayBuffer.empty[Double]
    val sessionBuilds = mutable.ArrayBuffer.empty[Double]
    var warmOk = true
    (1 to SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      spark = Session.build(ctx.work)
      sessionBuilds += (System.nanoTime() - t0) / 1e9
      val out = freshOut()
      val (_, funnel) = job(out, traced = false)
      setups += (System.nanoTime() - t0) / 1e9
      warmOk &= check(out, funnel)
      Files.deleteTree(out)
    }
    res.info("plan_conf") = Session.planConf(spark)
    if (ctx.traced) tracer = new EngineTrace(spark)

    // ---- timed iterations; a traced run interleaves untraced and traced
    // ones as U T T U U T ..., so the tracing overhead is measured within
    // the run and a warming JVM favours neither side
    val plain = mutable.ArrayBuffer.empty[Iter]
    val traced = mutable.ArrayBuffer.empty[Iter]
    val tracedStats = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < ctx.seconds || plain.size < MinIters ||
        (ctx.traced && traced.size < MinIters)) {
      val isTraced = ctx.traced && (i % 4 == 1 || i % 4 == 2)
      val out = freshOut()
      System.gc()
      if (isTraced) { tracer.attach(); tracer.reset() }
      val c0 = Meters.cpuNs
      val w0 = System.nanoTime()
      val attempt = scala.util.Try(Meters.watchHeap(job(out, isTraced)))
      val wallNs = System.nanoTime() - w0
      val cpu = Meters.cpuNs - c0
      if (isTraced) tracer.detach()
      res.attempted += 1
      val ok = attempt match {
        case scala.util.Success((_, funnel)) => check(out, funnel)
        case scala.util.Failure(e) =>
          e.printStackTrace(); res.fail(s"crawl_bulk: job threw $e"); false
      }
      if (!ok) res.failed += 1
      val (bytes, files) = Files.parquetSize(out)
      val it = Iter(attempt.map(_._1).getOrElse(wallNs / 1e9), cpu, bytes, files, ok)
      if (isTraced) {
        traced += it
        tracedStats += iterationStats(tracer, it, spans) +
          ("pipeline.plan_cpu_s" -> planCpuNs / 1e9)
      } else plain += it
      Files.deleteTree(out)
      i += 1
    }
    val heapMb = Meters.heapPeakMb()
    if (!warmOk) res.fail("crawl_bulk: warm-up output check failed")

    val good = plain.filter(_.ok)
    val walls = (if (good.nonEmpty) good else plain).map(_.wall).toSeq
    val medWall = Stats.median(walls)
    res.info("timed_iterations") = plain.size
    res.info("iteration_walls_s") = walls
    if (!ctx.traced) {
      res.put("setup_s", Stats.median(setups.toSeq), "s")
      res.put("records_per_s", records / medWall, "1/s")
      res.put("latency_p50_s", medWall, "s")
      res.put("latency_p90_s", Stats.quantile(walls, 0.9), "s")
      res.put("cpu_ms_per_record", Stats.median(plain.map(_.cpuNs / 1e6).toSeq) / records, "ms")
      res.put("heap_peak_mb", heapMb, "MB")
      res.put("out_bytes_per_row", Stats.median(plain.map(_.outBytes.toDouble).toSeq) / records, "B")
      res.info("failed_frac") = res.failed.toDouble / res.attempted
      res.info("setup_samples_s") = setups.toSeq
    } else {
      val per = tracedStats.head.keys.map(k => k -> Stats.median(tracedStats.map(_(k)).toSeq)).toMap
      val tracedWall = Stats.median(traced.map(_.wall).toSeq)
      per.toSeq.sortBy(_._1).foreach { case (k, v) => res.put(k, v, Result.unitOf(k)) }
      res.put("session.build_s", Stats.median(sessionBuilds.toSeq), "s")
      res.put("loadgen.gen_s", genS, "s")
      res.put("trace.records_per_s", records / tracedWall, "1/s")
      res.put("trace.untraced_records_per_s", records / medWall, "1/s")
      res.put("trace.overhead_frac", tracedWall / medWall - 1.0, "1")
      // per-stage cost and rows through the public staged profiler
      val prof = spans("operators.profile") {
        val j = PipelineConfig.parseJob(yaml(data, freshOut()))
        j.pipeline.profile(j.loader.get(spark))._2
      }
      prof.zipWithIndex.foreach { case (m, k) =>
        res.put(f"operators.${k + 1}%02d_${m.op}.s", m.wallSec, "s")
        res.put(f"operators.${k + 1}%02d_${m.op}.rows_out", m.rowsOut.toDouble, "count")
      }
      spans.selfSeconds.toSeq.sortBy(_._1).foreach { case (layer, s) =>
        res.put(s"self.${layer}_s", s, "s") }
      writeSpans(ctx, spans)
    }
  }

  /** Per-layer numbers of one traced iteration. */
  private def iterationStats(tr: EngineTrace, it: Iter, spans: Spans): Map[String, Double] = {
    val last = spans.named("cli.run").last
    def spanS(name: String): Double = spans.named(name)
      .filter(s => s.startNs >= last.startNs && s.endNs <= last.endNs).map(_.seconds).sum
    tr.metrics(it.wall, 1.0) ++ Map(
      "config.parse_s" -> spanS("config.parse"),
      "sources.load_s" -> spanS("sources.load"),
      "pipeline.plan_s" -> spanS("pipeline.plan"),
      "pipeline.funnel_s" -> spanS("pipeline.funnel"),
      "sinks.write_s" -> spanS("sinks.write"),
      "sinks.out_mb" -> it.outBytes / 1048576.0,
      "sinks.files" -> it.outFiles.toDouble)
  }

  def writeSpans(ctx: Ctx, spans: Spans): Unit = {
    val dir = ctx.work.resolveSibling("traces")
    JF.createDirectories(dir)
    spans.write(dir.resolve(s"${ctx.runId}.jsonl"))
  }
}
