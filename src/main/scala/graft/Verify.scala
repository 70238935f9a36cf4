package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.harnessLocal("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Local-iteration lever (mirrors Bench): SPARK_GRAFT_VERIFY_KEYS=a,b
    // dumps only the named keys. Absent (the driver's invocation) → all.
    val keyFilter = sys.env.get("SPARK_GRAFT_VERIFY_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => keyFilter.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Keys registered WITHOUT an oracle are skipped BY DESIGN (sketch
    // internals are engine-specific; each has an oracle-checked twin,
    // e.g. events_approx_stats → events_approx_bounds). A sidecar
    // marker distinguishes "deliberately rows-only" from "missing
    // oracle" for any harness that reads it (tools/check.py does).
    val skipped = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    Files.writeString(Paths.get(s"$outDir/skipped.json"),
      skipped.toSeq.sorted
        .map(k => s"${q(k)}: ${q("rows_only_by_design")}")
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
