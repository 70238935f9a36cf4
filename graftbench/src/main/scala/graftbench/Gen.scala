package graftbench

import java.nio.file.Path

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** One generated document. */
final case class Doc(id: Long, text: String, lang: String, source: String, url: String)

/** Seeded, single-threaded input generation. The program only ever sees
  * the parquet files written here; what each generator planted is kept
  * so the benchmark can compute the expected output independently. */
object Gen {
  private val schema = MessageTypeParser.parseMessageType(
    """message doc {
      |  required int64 doc_id;
      |  required binary text (STRING);
      |  required binary lang (STRING);
      |  required binary source (STRING);
      |  required binary url (STRING);
      |}""".stripMargin)

  private lazy val conf = {
    val c = new Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, c)
    c
  }

  /** Write `docs` as one parquet file (snappy, one row group). */
  def writeParquet(file: Path, docs: Iterator[Doc]): Unit = {
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val f = new SimpleGroupFactory(schema)
    try docs.foreach { d =>
      w.write(f.newGroup().append("doc_id", d.id).append("text", d.text)
        .append("lang", d.lang).append("source", d.source).append("url", d.url))
    } finally w.close()
  }

  private val langs = IndexedSeq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15,
    "fr" -> 0.15, "de" -> 0.14)

  private def lang(r: java.util.SplittableRandom): String = {
    var x = r.nextDouble()
    langs.find { case (_, w) => x -= w; x < 0 }.map(_._1).getOrElse("en")
  }

  /** A vocabulary of `n` distinct lowercase alphabetic words, 4-8
    * letters (so never a stop word), none containing a URL severity word. */
  def vocabulary(r: java.util.SplittableRandom, n: Int): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 4 + r.nextInt(5)
      val w = Iterator.fill(len)(('a' + r.nextInt(26)).toChar).mkString
      if (!Severity.words.exists(w.contains)) seen += w
    }
    seen.toIndexedSeq
  }

  private def words(r: java.util.SplittableRandom, vocab: IndexedSeq[String],
      n: Int): Seq[String] = Seq.fill(n)(vocab(r.nextInt(vocab.size)))

  /** Unique alphabetic token for a record, so generated texts are
    * distinct without a digit-heavy word. */
  private def tag(id: Long): String = {
    val b = new StringBuilder("q")
    var x = id
    do { b += ('a' + (x % 26).toInt).toChar; x /= 26 } while (x > 0)
    b.toString
  }

  // ---- crawl_bulk ------------------------------------------------------

  /** `n` crawl records, distinct text and url each, with planted
    * severity-word URLs (~2%), short pages (~4%) and exact re-posts of
    * earlier surviving pages (~3%). The chain's expected survivors are
    * replayed from its published semantics: url_filter, then length in
    * [100, 100000], then keep the lowest id per distinct text. */
  def bulk(seed: Long, n: Int): (IndexedSeq[Doc], Fingerprint) = {
    val r = new java.util.SplittableRandom(seed * 7919L + 3L)
    val vocab = vocabulary(r, 3000)
    val docs = new Array[Doc](n)
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val seenText = new java.util.HashSet[String]()
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < n) {
      val id = i.toLong
      val src = s"site${r.nextInt(5000)}"
      val p = r.nextDouble()
      val (text, url) =
        if (p < 0.02) {
          val w = Severity.planted(r.nextInt(Severity.planted.size))
          (mkText(r, vocab, id, 20 + r.nextInt(60)),
            s"https://www.$src-$w.example.org/page/$id")
        } else if (p < 0.06)
          (mkText(r, vocab, id, 2 + r.nextInt(8)).take(99),
            s"https://www.$src.example.org/page/$id")
        else if (p < 0.09 && survivors.nonEmpty)
          (docs(survivors(r.nextInt(survivors.size))).text,
            s"https://www.$src.example.org/page/$id")
        else
          (mkText(r, vocab, id, 20 + r.nextInt(60)),
            s"https://www.$src.example.org/page/$id")
      docs(i) = Doc(id, text, lang(r), src, url)
      val passes = !Severity.blocked(url) && text.length >= 100 && text.length <= 100000
      if (passes && seenText.add(text.replaceAll("\\s+", " ").trim.toLowerCase)) {
        kept += id
        survivors += i
      }
      i += 1
    }
    (docs.toIndexedSeq, Fingerprint.ofIds(kept))
  }

  private def mkText(r: java.util.SplittableRandom, vocab: IndexedSeq[String],
      id: Long, nw: Int): String = {
    val ws = words(r, vocab, nw)
    (ws.take(nw / 2) ++ Seq(tag(id)) ++ ws.drop(nw / 2)).mkString(" ")
  }

  // ---- stream_ingest ---------------------------------------------------

  /** One stream file: its documents and the ids that must survive. */
  final case class StreamFile(docs: IndexedSeq[Doc], survivors: IndexedSeq[Long])

  /** `files` files of `perFile` documents with ascending ids. Kinds:
    * clean pages (20-60 words with both stop words, survive), short
    * pages (fail the length gate), stop-word-free pages (fail gopher),
    * exact re-posts and whitespace/case re-crawls of earlier clean
    * pages (same shingles, so the streaming near-dup state drops them,
    * the lower id having arrived first). */
  def stream(seed: Long, files: Int, perFile: Int): IndexedSeq[StreamFile] = {
    val r = new java.util.SplittableRandom(seed * 104729L + 5L)
    val vocab = vocabulary(r, 3000)
    val clean = scala.collection.mutable.ArrayBuffer.empty[String]
    var id = 0L
    (0 until files).map { _ =>
      val surv = IndexedSeq.newBuilder[Long]
      val docs = (0 until perFile).map { j =>
        id += 1
        val p = r.nextDouble()
        // the first page of every file is clean, so every file reaches
        // the sink and its commit can be timed
        val text =
          if (j > 0 && p < 0.05) mkText(r, vocab, id, 3 + r.nextInt(8)).take(90)
          else if (j > 0 && p < 0.10) mkText(r, vocab, id, 25 + r.nextInt(30))
          else if (j > 0 && p < 0.14 && clean.nonEmpty)
            clean(r.nextInt(clean.size))
          else if (j > 0 && p < 0.18 && clean.nonEmpty) {
            val ws = clean(r.nextInt(clean.size)).split(' ')
            ws.head.capitalize + "  " + ws.tail.mkString(" \n ") + " "
          } else {
            val ws = words(r, vocab, 18 + r.nextInt(40)) ++ Seq("the", "a", tag(id))
            val t = new scala.util.Random(r.nextLong()).shuffle(ws).mkString(" ")
            clean += t
            surv += id
            t
          }
        Doc(id, text, lang(r), s"src${id % 20}", s"https://www.src${id % 20}.example.com/s/$id")
      }
      StreamFile(docs, surv.result())
    }
  }
}

/** The URL severity words the default url_filter scores, as planted and
  * as avoided by generated vocabulary. */
object Severity {
  val words: Seq[String] = Seq("porn", "xxx", "sex", "adult", "nude", "naked",
    "erotic", "nsfw", "hentai", "webcam", "escort", "fetish", "casino",
    "poker", "gambling", "betting", "slot", "jackpot", "gore", "hack",
    "crack", "warez", "torrent", "pirate", "free-money", "get-rich",
    "click-here", "buy-now", "limited-offer")

  /** Words whose weight alone puts a URL's score over the 0.5 cut. */
  val planted: IndexedSeq[String] = IndexedSeq("casino", "poker", "gambling",
    "warez", "torrent", "escort", "jackpot")

  def blocked(url: String): Boolean = planted.exists(url.contains)
}
