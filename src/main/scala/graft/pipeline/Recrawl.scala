package graft.pipeline

import graft.operators.CorpusDiff
import graft.operators.dedup.{ExactDedup, IncrementalMinHashDedup, KeepFirst, MinHashLSH}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Day-2 incremental re-crawl — the continuous-ingest composition the
  * reference pitches (mega_data_factory/framework/executor.py's staged
  * loader model re-run per crawl; loaders/commoncrawl_loader.py pulls a
  * NEW snapshot each run): yesterday's curated corpus plus today's
  * crawl, WITHOUT re-processing yesterday.
  *
  *   1. [[CorpusDiff]] keys the two snapshots: only `added` + `changed`
  *      pages re-process (the delta re-keys above every prior id — the
  *      crawl-date ordering every keep-first dedup already assumes);
  *   2. the per-document curation chain (normalize → length → gopher)
  *      runs on the DELTA only — per-doc verdicts are content-
  *      deterministic, so skipping unchanged pages cannot change them;
  *   3. the delta dedups INCREMENTALLY: exact against the persisted
  *      content-hash set, near-dup against the persisted band-bucket
  *      index ([[IncrementalMinHashDedup]]) — corpus text is never
  *      re-read, only its narrow indexes join;
  *   4. both indexes roll forward with the batch's rows (ALL rows
  *      reaching each stage, not just survivors — see the equality
  *      note below), and the curated corpus appends the survivors.
  *
  * == The rebuild-equality theorem (what the oracle key gates) ==
  *
  * day2(old, new) == from-scratch chain over old ∪ rekey(new), where
  * rekey gives EVERY new-snapshot page an id above all old ids.
  * Stage by stage:
  *
  *   - per-doc stages: verdicts depend only on content — identical.
  *   - skipped UNCHANGED pages: a re-crawled identical page always
  *     loses to its day-1 twin in the from-scratch rebuild — same
  *     per-doc verdicts (same content), and if the twin reached the
  *     exact stage the copy exact-dups against the twin's hash (the
  *     hash is present via the twin whether or not the twin itself
  *     won); if the twin reached the minhash stage the copy carries an
  *     IDENTICAL signature, so it collides with whatever bucket kept
  *     or killed the twin. Skipping them drops no information.
  *   - exact stage: from-scratch drops a delta doc iff a smaller-id
  *     doc reaching the stage shares its hash — old side: hash ∈
  *     persisted hash set (hashes of ALL old docs reaching the stage);
  *     batch side: keep-first within the batch. Old docs' verdicts
  *     cannot change (all delta ids are larger).
  *   - minhash stage: [[MinHashLSH.apply]]'s stream-order rule (drop
  *     on collision with ANY smaller id reaching the stage, survivor
  *     or not) — so the band index holds buckets of every doc reaching
  *     the stage ([[IncrementalMinHashDedup.indexRowsAll]] on the
  *     exact-stage survivors), and the probe is one semi join.
  *
  * Cap caveat: the batch operator drops buckets over `maxBucketSize`
  * from candidate generation; the incremental probe has no cross-side
  * cap. The composed result equals the rebuild whenever no merged
  * bucket crosses the cap — past it the batch operator deliberately
  * under-dedups a boilerplate bucket that the probe still rejects
  * against. (The capped bucket is the skew guard, not a semantics
  * promise; the oracle corpus stays far under the cap.)
  *
  * == Scale shape ==
  *
  * The diff is one full-outer join of narrow (id, md5) projections —
  * the id-keyed merge any incremental pipeline already pays. The delta
  * chain touches |added| + |changed| rows only. Both index probes are
  * equi-joins keyed by the index's storage layout (hash set / band
  * partitions), so a day's ingest cost is independent of corpus size —
  * measured at 250k vs 1M docs in SURVEY §5.14 (probe: §5.22). Rolling
  * forward appends narrow rows (a hash / (id, band, bucket)); the
  * curated payload appends survivors once. `graft.Main recrawl-*`
  * commits all three artifacts with the `batch=<id>` staging-rename
  * discipline `ingest` uses, and `compact-index` folds them.
  */
object RecrawlOps {

  /** The routed delta: new-snapshot rows whose page is `added` or
    * `changed`, with changed pages re-keyed (+`changedOffset`) so every
    * delta id sorts above every old id (added pages must already carry
    * ids above the old snapshot's — the crawl-date keying contract).
    * Carries `crawl_status` for the funnel. */
  def delta(old: DataFrame, neu: DataFrame, changedOffset: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    deltaFromDiff(neu, CorpusDiff(idCol, textCol).diff(old, neu),
      changedOffset, idCol)

  /** [[delta]] from a PRE-COMPUTED (id, status) diff table — the shape
    * a job that also reports diff statuses should use: the full-outer
    * md5 merge is the expensive leg, and computing it once (cut, then
    * shared by the summary rollup and the delta routing) halves the
    * snapshot passes a day-2 run pays. */
  def deltaFromDiff(neu: DataFrame, diff: DataFrame, changedOffset: Long,
      idCol: String = "doc_id"): DataFrame = {
    val d = diff.filter(col("status").isin("added", "changed"))
    neu.join(d, Seq(idCol))
      .withColumn(idCol, when(col("status") === "changed",
        col(idCol) + changedOffset).otherwise(col(idCol)))
      .withColumnRenamed("status", "crawl_status")
  }

  /** Distinct content hashes of every row reaching the exact stage —
    * the persisted exact-dedup state (one narrow column). */
  def exactHashes(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(graft.functions.TextFns.contentHashMd5(col(textCol)).as("__h"))
      .distinct()

  /** Incremental exact dedup: drop batch rows whose content hash is in
    * the persisted set, keep-first by hash within the batch — equal to
    * [[ExactDedup]] over the concatenated corpus when batch ids sort
    * above indexed ids. */
  def exactSurvivors(hashIndex: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keyed = batch.withColumn("__h",
      graft.functions.TextFns.contentHashMd5(col(textCol)))
    val fresh = keyed.join(hashIndex, Seq("__h"), "left_anti")
    KeepFirst(fresh, col("__h"), idCol).drop("__h")
  }

  /** Day-1 state built from scratch: per-doc chain → exact → minhash,
    * with the two narrow indexes captured at their stages. Frames are
    * lineage-cut at each state capture (each feeds ≥2 consumers). */
  case class State(curated: DataFrame, exactIndex: DataFrame,
      bandIndex: DataFrame)

  def init(old: DataFrame, perDoc: Pipeline, lsh: MinHashLSH,
      idCol: String = "doc_id", textCol: String = "text"): State = {
    val p = graft.operators.Lineage.cut(perDoc(old))
    val exactIndex = exactHashes(p, textCol)
    val e = graft.operators.Lineage.cut(
      ExactDedup(textCol, idCol)(p))
    val bandIndex = graft.operators.Lineage.cut(lsh.buckets(e))
    val dups = lsh.candidatePairsFromBuckets(bandIndex)
      .select(col("id_b").as(idCol)).distinct()
    State(e.join(dups, Seq(idCol), "left_anti"), exactIndex, bandIndex)
  }

  /** One day-2 batch: survivors plus the narrow rows that roll each
    * index forward (`newExactHashes` = ALL delta rows reaching exact;
    * `newBandRows` = ALL rows reaching minhash — the rebuild-equality
    * requirement, see the object scaladoc). */
  case class Batch(survivors: DataFrame, newExactHashes: DataFrame,
      newBandRows: DataFrame)

  def ingest(state: State, deltaDocs: DataFrame, perDoc: Pipeline,
      lsh: MinHashLSH, idCol: String = "doc_id",
      textCol: String = "text"): Batch = {
    val pd = graft.operators.Lineage.cut(perDoc(deltaDocs))
    val es = graft.operators.Lineage.cut(
      exactSurvivors(state.exactIndex, pd, idCol, textCol))
    val inc = IncrementalMinHashDedup(lsh)
    Batch(
      survivors = inc.survivors(state.bandIndex, es),
      newExactHashes = exactHashes(pd, textCol),
      newBandRows = inc.indexRowsAll(es))
  }
}

/** The keyed day-2 capstone instance — chain parameters shared by the
  * oracle keys (`recrawl_day2_corpus`, `recrawl_day2_funnel`), the
  * shipped config (`configs/example_recrawl_day2.yaml`) and the CLI
  * (`graft.Main recrawl-init` / `recrawl-ingest`), so they cannot
  * drift apart. */
object RecrawlCapstone {

  /** Changed pages re-key here; added pages plant at +3e6 (below). */
  val changedOffset: Long = 4000000L

  /** Per-document curation stages, registry-built (the YAML names). */
  def perDocOps: Seq[(String, OperatorRegistry.Params)] = Seq(
    "unicode_normalizer" -> Map.empty[String, Any],
    "text_length_filter" -> Map[String, Any](
      "min_length" -> 100, "max_length" -> 100000),
    "gopher_quality_filter" -> Map[String, Any](
      "min_words" -> 20, "stop_words" -> Seq("the", "a")))

  def perDoc: Pipeline =
    Pipeline(perDocOps.map { case (n, p) => OperatorRegistry.build(n, p) })

  def lsh: MinHashLSH = MinHashLSH()

  /** The deterministic "second crawl" derived from yesterday's corpus
    * (the oracle replays every formula):
    *   - removed   (id%13=5): the page vanished;
    *   - changed   (id%7=3):  'fast'→'quick' plus a re-crawl suffix
    *     carrying the â€™ mojibake the normalizer repairs — a NEAR-dup
    *     of its own day-1 text (the minhash probe's work);
    *   - unchanged: every other old page, byte-identical;
    *   - added (+3e6): id%3=0 an exact re-post of the same page's text
    *     (the exact probe's work), id%3=1 a near-dup re-post
    *     ('data'→'info'), id%3=2 fresh material (a filler token every
    *     4 words breaks most shingles — mostly survives). */
  def deriveNewSnapshot(old: DataFrame): DataFrame = {
    val survivorsOfCrawl = old.filter(col("doc_id") % 13 =!= 5)
    val kept = survivorsOfCrawl.withColumn("text",
      when(col("doc_id") % 7 === 3,
        concat(regexp_replace(col("text"), "fast", "quick"),
          lit(" updated in the second crawl donâ€™t miss it")))
        .otherwise(col("text")))
    val added = old.select((col("doc_id") + 3000000L).as("doc_id"),
      col("source"), col("lang"),
      when(col("doc_id") % 3 === 0, col("text"))
        .when(col("doc_id") % 3 === 1,
          regexp_replace(col("text"), "data", "info"))
        .otherwise(regexp_replace(col("text"),
          "((?:\\S+ ){3}\\S+) ", "$1 crawl2 ")).as("text"))
    kept.select("doc_id", "source", "lang", "text").unionByName(added)
  }
}
