package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session factory: every `SparkSession` in `src/main` is built by
  * [[GraftSession.builder]], so each carries graft's conf (the sized
  * codegen cache among it) and none falls back to Spark's defaults. */
class SessionFactorySpec extends AnyFunSuite {

  private val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r

  /** The file's code with comment lines blanked (line numbers kept). */
  private def code(f: Path): String =
    Files.readAllLines(f).asScala.map { l =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
      else l
    }.mkString("\n")

  test("SparkSession.builder( is called only in GraftSession.scala") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} files")
    val hits = files.flatMap { f =>
      val src = code(f)
      builderCall.findAllMatchIn(src).map { m =>
        f.getFileName.toString ->
          s"$f:${src.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    // the factory itself must match, or the pattern has gone blind
    assert(hits.exists(_._1 == "GraftSession.scala"))
    val stray = hits.filterNot(_._1 == "GraftSession.scala").map(_._2)
    assert(stray.isEmpty,
      s"build sessions through GraftSession.builder: ${stray.mkString(", ")}")
  }
}
