package graft

/** Scale-probe timer: run named [[SparkEntry.queries]] entries against
  * an arbitrary table dir (usually a /tmp corpus written by
  * [[ScaleData]]) and print one `name,seconds,rows` line each. The same
  * warmup as [[Bench]] (shared JVM paths only — parquet scan setup,
  * codegen, shuffle, broadcast, window), so first-query JIT cost
  * doesn't masquerade as scaling behavior.
  *
  * {{{ graft.Probe <dir> <queryName>... }}}
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <dir> <queryName>...")
    val dir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local("graft-probe")
    // docs-only corpora carry no nation table; the warm-up's nation
    // read throws PATH_NOT_FOUND at analysis, so it sits inside the Try
    scala.util.Try(Bench.warmUp(spark, dir))
    names.foreach { name =>
      System.gc()
      val t0 = System.nanoTime()
      // Full materialization, not count(): under count() Catalyst
      // prunes every column, so a refiner-shaped query (model scoring,
      // kernels) would be timed as a bare scan. toRdd.count() runs the
      // exact physical plan the query declares, all columns produced.
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      val rows = qe.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name,$sec%.1f,$rows")
    }
    spark.stop()
  }
}
