package graftbench

import java.nio.file.{Files => JF, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Settings of one run, from the command line (see `graftbench/run.py`). */
final case class Ctx(workload: String, seed: Long, seconds: Int, traced: Boolean,
    work: Path) {
  val runId: String = s"$workload-s$seed-${if (traced) "t" else "u"}-${ProcessHandle.current.pid}"
}

/** What a run reports: metrics by name with units, the output-check
  * verdict and counts, and the run context. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0
  var failed = 0
  var checksOk = true

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def fail(why: String): Unit = {
    checksOk = false
    info("check_failures") = info.getOrElse("check_failures", Seq.empty[String])
      .asInstanceOf[Seq[String]] :+ why
    System.err.println(s"[graftbench] CHECK FAILED: $why")
  }

  def json: String = Json.obj(Seq(
    "correct" -> (checksOk && failed == 0 && attempted > 0),
    "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.toSeq.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }.toMap,
    "info" -> info.toMap))
}

object Result {
  /** Unit of a per-layer metric, from its name's suffix. */
  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac") || name.endsWith("_skew")) "1"
    else if (name.endsWith("per_s")) "1/s"
    else "count"
}

object Session {
  /** Cores and shuffle partitions are fixed, not derived from the host:
    * `run.py` exports SPARK_GRAFT_CPUS=4, which `GraftSession.builder`
    * turns into 4 shuffle partitions, as it would for the CLI. */
  val Cores = 4

  def build(work: Path): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.GraftSession.builder("graftbench")
      .master(s"local[$Cores]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The plan-shaping conf actually in effect, recorded with each result. */
  def planConf(s: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled", "spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
      .map(k => k -> s.conf.getOption(k).getOrElse(s.sparkContext.getConf.get(k, "")))
      .toMap
}

object Bench {
  val Workloads: Seq[String] = Seq("crawl_bulk", "stream_ingest")

  def main(args: Array[String]): Unit = {
    def opt(k: String): Option[String] = args.indexOf(k) match {
      case i if i >= 0 && i + 1 < args.length => Some(args(i + 1))
      case _ => None
    }
    val ctx = Ctx(
      workload = opt("--workload").getOrElse(""),
      seed = opt("--seed").map(_.toLong).getOrElse(1L),
      seconds = opt("--seconds").map(_.toInt).getOrElse(10),
      traced = opt("--trace").contains("1"),
      work = Paths.get(opt("--work").getOrElse(".bench_build/work")).toAbsolutePath)
    require(Workloads.contains(ctx.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    require(ctx.seconds >= 1, "--seconds must be >= 1")
    Files.deleteTree(ctx.work)
    JF.createDirectories(ctx.work)
    val res = new Result
    try {
      ctx.workload match {
        case "crawl_bulk" => BulkBench.run(ctx, res)
        case "stream_ingest" => StreamBench.run(ctx, res)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"run aborted: $e")
    } finally SparkSession.getActiveSession.foreach(_.stop())
    res.info("seed") = ctx.seed
    res.info("run_id") = ctx.runId
    res.info("java") = System.getProperty("java.version")
    res.info("scala") = scala.util.Properties.versionNumberString
    res.info("spark") = org.apache.spark.SPARK_VERSION
    res.info("nproc") = Runtime.getRuntime.availableProcessors()
    res.info("cores_used") = Session.Cores
    res.info("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576
    println(res.json)
    Files.deleteTree(ctx.work)
  }
}
