package graft

import graft.functions.TextFns
import graft.operators.text.TextLengthFilter
import graft.pipeline._
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "one two three four five six seven eight nine ten"),
    (2L, "one two three four five six seven eight nine ten"), // dup of 1
    (3L, "short"),
    (4L, "another unique document with enough words to pass the filter")
  ).toDF("doc_id", "text")

  val pipe = Pipeline(Seq(
    RefineOp("n_words", df => df.withColumn("n_words", TextFns.wsTokenCount(col("text")))),
    FilterOp("min_len", df => TextLengthFilter(minLength = 10).predicate(df)),
    DedupOp("exact", _ => TextFns.contentHashMd5(col("text")), "doc_id")))

  test("apply: refine, filter, dedup compose lazily") {
    val out = pipe(docs)
    assert(out.columns.contains("n_words"))
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("observed funnel matches actual counts") {
    val (res, obs) = pipe.observed(docs)
    res.collect() // action triggers observations
    val funnel = pipe.funnelReport(obs).toMap
    assert(funnel("input") == 4L)
    assert(funnel("min_len") == 3L)
    assert(funnel("exact") == 2L)
  }

  test("funnelStaged agrees with observed funnel") {
    val got = pipe.funnelStaged(docs)
      .select("step", "n_rows").as[(String, Long)].collect().toMap
    assert(got == Map("input" -> 4L, "n_words" -> 4L, "min_len" -> 3L, "exact" -> 2L))
  }

  private def stagedFunnel(p: Pipeline, df: org.apache.spark.sql.DataFrame) =
    p.funnelStaged(df).orderBy("step_idx")
      .select("step", "n_rows").as[(String, Long)].collect().toSeq

  test("a filter after a dedup: observed, funnelStaged and real counts agree") {
    // the shape a single-pass funnel over the refined input gets wrong:
    // min_len must count only the dedup's survivors (2), not every row
    // that passes the length predicate (3)
    val p = Pipeline(Seq(
      DedupOp("exact", _ => TextFns.contentHashMd5(col("text")), "doc_id"),
      FilterOp("min_len", df => TextLengthFilter(minLength = 10).predicate(df))))
    val want = Seq("input" -> 4L, "exact" -> 3L, "min_len" -> 2L)
    val (res, obs) = p.observed(docs)
    res.collect()
    assert(p.funnelReport(obs) == want)
    assert(stagedFunnel(p, docs) == want)
    assert(p(docs).count() == 2L)
  }

  test("an eager localCheckpoint delivers its upstream Observation") {
    // profile() and Pipeline.checkpointCounted read each stage's count
    // from an observe node under the stage's eager checkpoint; a Spark
    // that stopped delivering it would block them — the bounded wait
    // turns that into a failure here
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val o = new org.apache.spark.sql.Observation()
    val cut = spark.range(1000).filter(col("id") % 3 === 0)
      .observe(o, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val got = Await.result(Future(o.get)(ExecutionContext.global), 30.seconds)
    assert(got("n") == 334L)
    assert(cut.count() == 334L)
  }

  // ---- every execution mode against a plain-Scala model, over
  // generated Filter/Refine/Dedup chains on one small shared frame

  private case class Doc(id: Long, text: String, grp: Option[String], n: Int)
  /** A generated op: its pipeline form and its model over Docs. */
  private case class GenOp(op: PipelineOp, model: Seq[Doc] => Seq[Doc])

  private val shared: Seq[Doc] = {
    val texts = Seq("alpha beta", "gamma delta epsilon", "alpha gamma",
      "zeta", "eta theta iota kappa", "lambda mu", "alpha beta")
    (1 to 36).map(i => Doc(i.toLong, texts(i * 5 % texts.size),
      if (i % 4 == 0) None else Some(Seq("a", "b", "c")(i % 3)), i * 7 % 5))
  }
  private lazy val sharedDf = shared
    .map(d => (d.id, d.text, d.grp.orNull, d.n)).toDF("doc_id", "text", "grp", "n")
    .coalesce(1).localCheckpoint(true)

  /** Keep the lowest id per key; a null key is one group, as in the
    * window's partitioning. */
  private def keepFirst[K](key: Doc => K)(ds: Seq[Doc]): Seq[Doc] =
    ds.groupBy(key).values.map(_.minBy(_.id)).toSeq

  private def filterOp(r: scala.util.Random, i: Int): GenOp = r.nextInt(2) match {
    case 0 =>
      val k = 4 + r.nextInt(12)
      GenOp(FilterOp(s"${i}_len_ge_$k", _ => length(col("text")) >= k),
        _.filter(_.text.length >= k))
    case _ =>
      val (m, rem) = (2 + r.nextInt(3), r.nextInt(2))
      GenOp(FilterOp(s"${i}_id_mod_$m", _ => col("doc_id") % m =!= rem),
        _.filter(_.id % m != rem))
  }

  private def refineOp(r: scala.util.Random, i: Int): GenOp = r.nextInt(2) match {
    case 0 => // rewrites a later dedup key
      val v = r.nextInt(5)
      GenOp(RefineOp(s"${i}_upper_grp", _.withColumn("grp",
          when(col("n") === v, upper(col("grp"))).otherwise(col("grp")))),
        _.map(d => if (d.n == v) d.copy(grp = d.grp.map(_.toUpperCase)) else d))
    case _ => // a refiner that drops rows
      val v = r.nextInt(5)
      GenOp(RefineOp(s"${i}_drop_n", _.filter(col("n") =!= v)), _.filter(_.n != v))
  }

  /** `nullable` picks a key that is null wherever `grp` is. */
  private def dedupOp(r: scala.util.Random, i: Int, nullable: Boolean): GenOp =
    (if (nullable) 2 + r.nextInt(2) else r.nextInt(4)) match {
      case 0 => GenOp(DedupOp(s"${i}_dedup_text", _ => col("text"), "doc_id"),
        keepFirst(_.text))
      case 1 => GenOp(DedupOp(s"${i}_dedup_word",
          _ => substring_index(col("text"), " ", 1), "doc_id"),
        keepFirst(_.text.split(" ")(0)))
      case 2 => GenOp(DedupOp(s"${i}_dedup_grp", _ => col("grp"), "doc_id"),
        keepFirst(_.grp))
      case _ => GenOp(DedupOp(s"${i}_dedup_grp_n",
          _ => concat(col("grp"), lit("-"), col("n") % 2), "doc_id"),
        keepFirst(d => d.grp.map(g => s"$g-${d.n % 2}")))
    }

  /** 3–4 dedups (the first keyed on a nullable column), 1–2 filters,
    * 1–2 refiners, shuffled; a filter is moved last if none follows the
    * first dedup. */
  private def genChain(r: scala.util.Random): Seq[GenOp] = {
    val kinds = r.shuffle(Seq.fill(3 + r.nextInt(2))('d') ++
      Seq.fill(1 + r.nextInt(2))('f') ++ Seq.fill(1 + r.nextInt(2))('r'))
    val firstD = kinds.indexOf('d')
    val ordered =
      if (kinds.lastIndexOf('f') > firstD) kinds
      else kinds.patch(kinds.indexOf('f'), Nil, 1) :+ 'f'
    var nullableDone = false
    ordered.zipWithIndex.map {
      case ('f', i) => filterOp(r, i + 1)
      case ('r', i) => refineOp(r, i + 1)
      case (_, i) =>
        val g = dedupOp(r, i + 1, nullable = !nullableDone)
        nullableDone = true
        g
    }
  }

  test("every mode gives the model's survivors and funnel on generated chains") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val r = new scala.util.Random(20261019L)
    val chains = (1 to 25).map(_ => genChain(r))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").as[Long].collect().toSeq.sorted
    // chains are independent: four at a time keep the local cores busy
    // through each small job's scheduling gaps
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(chains.zipWithIndex.map { case (chain, c) => Future {
      val p = Pipeline(chain.map(_.op))
      val stages = chain.scanLeft(shared)((ds, g) => g.model(ds))
      val want = stages.last.map(_.id).sorted
      val wantFunnel = ("input" +: chain.map(_.op.name)).zip(stages.map(_.size.toLong))
      val ctx = s"chain $c: ${chain.map(_.op.name).mkString(" -> ")}"
      assert(ids(p(sharedDf)) == want, ctx)
      val (obsOut, handles) = p.observed(sharedDf)
      assert(ids(obsOut) == want, ctx)
      assert(p.funnelReport(handles) == wantFunnel, ctx)
      assert(ids(p.stagedApply(sharedDf)) == want, ctx)
      val (profOut, metrics) = p.profile(sharedDf)
      assert(ids(profOut) == want, ctx)
      assert(metrics.map(m => m.op -> m.rowsOut) == wantFunnel.tail, ctx)
      assert(stagedFunnel(p, sharedDf) == wantFunnel, ctx)
    }}), 5.minutes)
    finally pool.shutdown()
  }

  test("rejectionAudit on a 40-stage chain stays correct and join-free") {
    // 40 filter stages, each dropping exactly the row whose id == stage
    // index — the audit must attribute every drop to its exact stage
    // and resolve every verdict in ONE max-reached aggregation.
    val n = 40
    val wide = spark.range(0, n + 5).toDF("doc_id")
    val chain = Pipeline((1 to n).map(i =>
      FilterOp(s"drop_$i", df => col("doc_id") =!= lit(i.toLong - 1))))
    val audit = chain.rejectionAudit(wide)
      .as[(Long, Int, String)].collect()
    assert(audit.length == n + 5)
    assert(audit.map(_._1).distinct.length == n + 5)
    (1 to n).foreach { i =>
      val row = audit.find(_._1 == i.toLong - 1).get
      assert(row._2 == i && row._3 == s"drop_$i")
    }
    assert(audit.count(_._3 == "kept") == 5)
    // the verdict plan carries NO join at all (the r18 shape paid one
    // anti-join per stage): stage boundaries contribute narrow union
    // legs and one aggregation resolves max-reached per id
    val legs = "(?i)\\bjoin\\b".r
      .findAllIn(chain.rejectionAudit(wide).queryExecution.optimizedPlan.toString)
      .size
    assert(legs == 0, s"audit plan carries $legs join legs — expected none")
  }
}
