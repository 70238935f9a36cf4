package graft

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.UrlFns

/** Differential spec for the native URL word score
  * ([[graft.plans.UrlWordScore]]): generated URLs and weight tables
  * against a plain-Scala transcription of url_filter.py
  * `_compute_url_score` (non-overlapping `indexOf` counts over
  * `toLowerCase`), exact double equality, on both the whole-stage
  * codegen path and the interpreted path. */
class UrlWordScoreSpec extends SparkSpec {
  import spark.implicits._

  /** Python `str.count`: non-overlapping, left to right. */
  private def count(u: String, w: String): Int = {
    var occ = 0
    var i = u.indexOf(w)
    while (i >= 0) { occ += 1; i = u.indexOf(w, i + w.length) }
    occ
  }

  /** url_filter.py `_compute_url_score`, transcribed. */
  private def reference(url: String, weights: Seq[(String, Double)]): Double = {
    val u = url.toLowerCase(Locale.ROOT)
    var mx = 0.0
    var tot = 0.0
    for ((w, wt) <- weights) {
      val occ = count(u, w)
      mx = math.max(mx, if (occ > 0) wt else 0.0)
      tot += occ * wt
    }
    if (tot == 0.0) 0.0 else math.min(0.8 * mx + math.min(tot / 3, 0.2), 1.0)
  }

  // Words chosen to collide: overlapping repeats (xx/xxx, sex), hyphens,
  // multi-byte and astral characters, a word with an uppercase letter
  // (never matches a lowercased URL) and the ASCII `i` that `İ`
  // lowercases onto.
  private val wordPool = Seq("porn", "xxx", "xx", "x", "sex", "sexsex",
    "free-money", "-", "ß", "ßporn", "i", "i̇", "é", "σ", "中文",
    "😀x", "Porn", "casino", "bet")

  private val fragments = Gen.oneOf(Gen.oneOf(wordPool), Gen.oneOf(
    "https://", "http://", ".com", "/", "?q=", "&", "xxxxxx", "sexsex",
    "ß", "ẞ", "İ", "Σ", "É", "中", "😀", "FREE-MONEY", "a", "b"),
    Gen.alphaStr.map(_.take(6)))

  private val urlGen: Gen[String] = for {
    n <- Gen.choose(0, 10)
    parts <- Gen.listOfN(n, fragments)
    flips <- Gen.listOfN(n, Gen.oneOf(true, false))
  } yield parts.zip(flips).map { case (p, up) =>
    if (up) p.toUpperCase(Locale.ROOT) else p }.mkString

  private val tableGen: Gen[Map[String, Double]] = for {
    n <- Gen.choose(1, 7)
    ws <- Gen.pick(n, wordPool)
    // small weights keep total/3 under its 0.2 cap, where the score
    // still depends on the occurrence counts
    wts <- Gen.listOfN(n, Gen.oneOf(Gen.choose(-0.5, 1.5),
      Gen.choose(0.0, 0.12), Gen.oneOf(0.0, 0.05, 0.1, 0.3, 0.7, 1.0)))
  } yield ws.toSeq.zip(wts).toMap

  private val tables: Seq[Map[String, Double]] =
    Seq(Map.empty[String, Double], Map("xxx" -> 0.7), UrlFns.defaultWordWeights) ++
      Gen.listOfN(13, tableGen).pureApply(Gen.Parameters.default, Seed(20260419L))

  private val urls: Seq[String] =
    Seq("", "xxxxxx", "sexsex", "ßporn", "İ", "free-money-free-money") ++
      Gen.listOfN(24, urlGen).pureApply(Gen.Parameters.default, Seed(7L))

  /** An RDD-backed frame: a local Seq would be folded on the driver by
    * ConvertToLocalRelation and never reach generated code. */
  private def frame: DataFrame =
    spark.sparkContext.parallelize(urls.map(Option(_)) :+ None, 3).toDF("u")

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def scores(table: Map[String, Double]): Seq[(Option[String], Option[Double])] =
    frame.select($"u", UrlFns.urlScore($"u", table).as("s"))
      .as[(Option[String], Option[Double])].collect().toSeq

  private def checkAll(): Int = {
    var cases = 0
    for (table <- tables; (u, got) <- scores(table)) {
      // the table's iteration order is the fold order
      val expected = u.map(reference(_, table.toSeq))
      assert(got == expected, s"url=$u table=$table")
      cases += 1
    }
    cases
  }

  test("in-place byte counts equal non-overlapping character counts") {
    // the score caps total/3 at 0.2, which hides most count errors
    for (url <- urls; w <- wordPool) {
      val u = url.toLowerCase(Locale.ROOT)
      val got = graft.plans.UrlWordScore.occurrences(
        org.apache.spark.unsafe.types.UTF8String.fromString(u),
        w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(got == count(u, w), s"url=$u word=$w")
    }
  }

  test("generated URLs score exactly like the reference, codegen path") {
    val p = frame.select(UrlFns.urlScore($"u", UrlFns.defaultWordWeights))
      .queryExecution.executedPlan
    assert(p.exists(_.isInstanceOf[WholeStageCodegenExec]),
      s"projection left whole-stage codegen:\n$p")
    assert(checkAll() >= 200)
  }

  test("generated URLs score exactly like the reference, interpreted path") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(checkAll() >= 200)
    }
  }

  test("scores over equal tables are semanticEquals, so CSE evaluates one") {
    // two separately built, equal tables (same iteration order: that
    // order is the fold order, so it is part of the value)
    def table = Map("slow" -> 0.9, "batch" -> 0.5, "fast" -> 0.4)
    val (a, b) = (table, table)
    assert(!(a eq b))
    val df = frame.select(
      round(UrlFns.urlScore($"u", a), 6).as("url_score"),
      (UrlFns.urlScore($"u", b) < 0.5).as("keep"))
    val scoresIn = df.queryExecution.analyzed.expressions.flatMap(
      _.collect { case s: graft.plans.UrlWordScore => s })
    assert(scoresIn.size == 2 && scoresIn(0).semanticEquals(scoresIn(1)))
    val code = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert("UrlWordScore\\.score\\(".r.findAllIn(code).size == 1,
      "common-subexpression elimination should leave one scorer call")
  }

  test("empty words and non-finite weights are rejected up front") {
    def col(m: Map[String, Double]): Column = UrlFns.urlScore($"u", m)
    intercept[IllegalArgumentException](col(Map("" -> 1.0)))
    intercept[IllegalArgumentException](col(Map("x" -> Double.NaN)))
    intercept[IllegalArgumentException](col(Map("x" -> Double.PositiveInfinity)))
  }
}
