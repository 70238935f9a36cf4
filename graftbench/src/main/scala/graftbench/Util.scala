package graftbench

/** Minimal JSON rendering for the result and trace lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Order-independent fingerprint of a set of documents: the row count,
  * the distinct-id count, and a sum of a non-linear hash of each id
  * modulo a prime. The same arithmetic runs in Spark over an output
  * directory and in plain Scala over the generator's expected ids, so
  * the two compare exactly. */
final case class Fingerprint(rows: Long, distinctIds: Long, hash: Long) {
  def render: String = s"$rows/$distinctIds/$hash"
}

object Fingerprint {
  private val P = 1000000007L

  def rowHash(id: Long): Long = {
    val x = Math.floorMod(Math.floorMod(id, P) * 48271L + 11L, P)
    Math.floorMod(x * x + 7919L, P)
  }

  def ofIds(ids: Iterable[Long]): Fingerprint = {
    var n, h = 0L
    ids.foreach { id => n += 1; h = (h + rowHash(id)) % P }
    Fingerprint(n, ids.toSet.size.toLong, h)
  }

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Fingerprint of the rows of `df`, keyed on `idCol`. */
  def of(df: DataFrame, idCol: String): Fingerprint = {
    val id = col(idCol).cast("long")
    val x = pmod(pmod(id, lit(P)) * lit(48271L) + lit(11L), lit(P))
    val h = pmod(x * x + lit(7919L), lit(P))
    val r = df.agg(count(lit(1)), countDistinct(id), sum(h)).head()
    Fingerprint(r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) 0L else Math.floorMod(r.getLong(2), P))
  }
}

object Files {
  import java.nio.file.{Files => JF, Path}

  def deleteTree(p: Path): Unit = if (JF.exists(p)) {
    val s = JF.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => JF.delete(x))
    finally s.close()
  }

  /** (bytes, files) of the parquet part files under `p`. */
  def parquetSize(p: Path): (Long, Int) = {
    if (!JF.exists(p)) return (0L, 0)
    val s = JF.walk(p)
    try {
      var bytes = 0L
      var n = 0
      s.filter(x => JF.isRegularFile(x) && x.getFileName.toString.endsWith(".parquet"))
        .forEach { x => bytes += JF.size(x); n += 1 }
      (bytes, n)
    } finally s.close()
  }
}
