package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Config-driven staged pipeline — the Spark-native re-expression of
  * the reference's framework (framework/executor.py + operator.py:
  * Filter / Refiner / Deduplicator stages defined in YAML, executed by
  * Ray actor pools with a metrics funnel).
  *
  * Here a pipeline is a *lazy* composition of DataFrame transforms:
  * Catalyst fuses all stages into one physical plan (filters collapse
  * into the scan, refiner columns stay in whole-stage codegen), so
  * "stages" cost nothing at runtime — the opposite of the reference's
  * materialized per-stage batches. Funnel observability comes from
  * `Dataset.observe`, which counts rows in-flight without extra jobs.
  */
sealed trait PipelineOp {
  def name: String
  /** This op's transform — the one place the three op kinds differ;
    * every execution mode of [[Pipeline]] runs its stages through it. */
  def applyTo(df: DataFrame): DataFrame
}

/** Boolean keep-predicate over the current schema (reference Filter). */
case class FilterOp(name: String, predicate: DataFrame => Column) extends PipelineOp {
  def applyTo(df: DataFrame): DataFrame = df.filter(predicate(df))
}

/** Adds/rewrites columns (reference Refiner). */
case class RefineOp(name: String, refine: DataFrame => DataFrame) extends PipelineOp {
  def applyTo(df: DataFrame): DataFrame = refine(df)
}

/** Keep-first dedup on a derived key (reference Deduplicator). Batch
  * only: keep-first is a non-time window, which a stream cannot host,
  * so a streaming input is rejected while the plan is built — naming
  * the stage — rather than when the query starts. */
case class DedupOp(name: String, key: DataFrame => Column, idCol: String) extends PipelineOp {
  def applyTo(df: DataFrame): DataFrame = {
    if (df.isStreaming) throw new IllegalArgumentException(
      s"pipeline stage '$name' is a batch DedupOp and cannot run on a stream; " +
        "deduplicate streams with graft.streaming.StreamingOps.dedupStream")
    graft.operators.dedup.KeepFirst(df, key(df), idCol)
  }
}

/** Per-operator runtime metrics (reference framework/metrics: each
  * stage reports rows in/out, pass-rate, wall time and records/sec). */
case class StageMetrics(op: String, rowsIn: Long, rowsOut: Long, wallSec: Double) {
  def passRate: Double = if (rowsIn > 0) rowsOut.toDouble / rowsIn else 0.0
  def recPerSec: Double = if (wallSec > 0) rowsIn / wallSec else 0.0
}

/** Execution modes. Every mode is one [[fold]] of the ops with its own
  * per-stage hook; pick by what the run must answer:
  *   - [[apply]]: fused, no per-stage numbers — production runs.
  *   - [[observed]] / [[observedStream]]: fused plus a row counter per
  *     stage, zero extra jobs — production runs that report a funnel.
  *   - [[profile]] / [[funnelStaged]]: every stage materialized and
  *     counted on its own, with per-stage wall time — finding the slow
  *     operator, or exact counts where an operator's internal lineage
  *     cut hides the fused counters.
  *   - [[stagedApply]]: staged, final frame only — chains whose fused
  *     plan re-derives an expensive input per reference (see the
  *     method).
  *   - [[rejectionAudit]]: staged, the stage that dropped each row. */
case class Pipeline(ops: Seq[PipelineOp]) {

  /** The one fold behind every mode: `stage(i, name, d)` wraps the
    * input (`i = 0`, "input") and each op's output (`i` = the op's
    * 1-based index) and returns the frame the next op reads. */
  private def fold(df: DataFrame)(stage: (Int, String, DataFrame) => DataFrame): DataFrame =
    ops.zipWithIndex.foldLeft(stage(0, "input", df)) { case (d, (op, i)) =>
      stage(i + 1, op.name, op.applyTo(d))
    }

  /** Apply all ops as one lazy plan; one action materializes the whole
    * chain. No lineage cut at dedup inputs: batch keep-first is one
    * window over a single reference to its input, so a cut there would
    * only store the rows a second time. An operator that reads its
    * input more than once cuts it itself
    * ([[graft.operators.Lineage.cut]]); that is where a fused chain
    * gains from a cut. */
  def apply(df: DataFrame): DataFrame = fold(df)((_, _, d) => d)

  /** Apply with an `observe` row-counter after the input and after every
    * op. Returns the result plus the Observation handles; read them with
    * [[funnelReport]] after running any action on the result. The
    * counts equal [[funnelStaged]]'s (PipelineSpec checks this over
    * generated chains), except where an operator's internal iteration
    * checkpoint buries the counters below it (see [[funnelReport]]). */
  def observed(df: DataFrame): (DataFrame, Seq[(String, Observation)]) = {
    val obs = Vector.newBuilder[(String, Observation)]
    val out = fold(df) { (_, name, d) =>
      val o = new Observation()
      obs += name -> o
      d.observe(o, count(lit(1)).as("n"))
    }
    (out, obs.result())
  }

  /** (step, n_rows) after an action has materialized the observed
    * DataFrame. A stage whose observe node never executed reports -1
    * (rendered "n/a"): operators with INTERNAL iteration checkpoints —
    * the MinHash-components survivor dedup's loop state, PageRank —
    * must cut lineage mid-algorithm regardless of observation (without
    * the cut their recursive plans explode), and that cut buries every
    * upstream CollectMetrics inside an opaque RDD. Exact per-stage
    * counts for such chains come from the staged paths
    * ([[funnelStaged]] / `graft.Main profile`), which this report
    * points at instead of crashing the run. */
  def funnelReport(obs: Seq[(String, Observation)]): Seq[(String, Long)] =
    obs.map { case (name, o) =>
      name -> o.get.get("n").map(_.asInstanceOf[Long]).getOrElse(-1L)
    }

  /** Streaming twin of [[observed]]: NAMED observe nodes, which the
    * engine reports per micro-batch through
    * `QueryProgressEvent.observedMetrics` — funnel counts with zero
    * extra jobs, collected by
    * [[graft.streaming.StreamingMetricsListener]]. Names carry a
    * zero-padded stage index so reports keep pipeline order. */
  def observedStream(df: DataFrame): DataFrame =
    fold(df)((i, name, d) => d.observe(f"graft_stage_$i%03d_$name", count(lit(1)).as("n")))

  /** Diagnostic per-operator profiling: each stage is materialized and
    * timed on its own — the reference's execution model (one actor-pool
    * batch per stage), reproduced so per-op wall time and rec/s are
    * measurable. Production runs should use [[observed]] instead:
    * Catalyst fuses the whole pipeline into one pass, so per-op wall
    * time *does not exist* there — which is the optimization. Use
    * profile() on a sample to find the slow operator, then run fused.
    *
    * Stages are cut with `localCheckpoint(eager = true)`, NOT
    * `persist`: an operator that references its input more than once
    * (URL dedup's winners semi-join, the pHash/video near-dup joins)
    * expands the shared upstream subtree once per reference, so a
    * cumulatively-composed chain's *printed* tree grows exponentially
    * with such stages even though the in-memory DAG is shared — and
    * `persist` renders exactly that tree for the cache name
    * (InMemoryRelation's cachedName), which at stage 8+ of the
    * curation capstone is an OOM, not a string. The checkpoint
    * replaces each stage's plan with a compact LogicalRDD, bounding
    * every downstream plan by ONE stage's ops. Checkpointed blocks are
    * released by the ContextCleaner as stage references drop. Each
    * stage's wall runs from the end of the previous stage's count —
    * its plan build included — to the end of its own. */
  def profile(df: DataFrame): (DataFrame, Seq[StageMetrics]) = {
    val metrics = Vector.newBuilder[StageMetrics]
    var rowsIn = 0L
    var t0 = 0L
    val out = fold(df) { (i, name, d) =>
      val (cut, rows) = Pipeline.checkpointCounted(d)
      if (i > 0) metrics += StageMetrics(name, rowsIn, rows, (System.nanoTime() - t0) / 1e9)
      rowsIn = rows
      t0 = System.nanoTime()
      cut
    }
    (out, metrics.result())
  }

  /** [[profile]]'s staged execution (each stage localCheckpointed once,
    * so the plan stays bounded by one stage's ops) WITHOUT the
    * per-stage counts — for consumers that need only the FINAL frame.
    * The checkpoints are LAZY: the caller's one action materializes
    * each stage exactly once, without |stages| rounds of
    * job-submission latency. The last stage skips its checkpoint: its
    * output flows straight into whatever action the caller runs.
    * Use it where operators read their inputs more than once without
    * cutting them. The curation capstone's multi-reference ops cut
    * their own inputs, so there the modes tie (sf0.01, local[4],
    * min-of-4): 4.3 s / 53 jobs fused, 4.6 s / 54 jobs staged. */
  def stagedApply(df: DataFrame): DataFrame =
    fold(df)((i, _, d) => if (i == ops.length) d else d.localCheckpoint(false))

  /** Per-document rejection audit — the provenance twin of the funnel:
    * for every INPUT row, which stage dropped it (`rejected_by`, with
    * its 1-based `stage_idx`) or `kept` (idx 0) — the "why is my
    * document gone" answer a curation run owes its corpus users, and
    * the per-stage sample you debug a threshold with.
    *
    * Staged like [[stagedApply]] (each stage lazily checkpointed once:
    * one final action materializes every stage exactly once, each
    * checkpointed RDD cached on first use and shared by the next stage
    * and its union leg). The verdict is resolved in ONE aggregation:
    * each stage boundary contributes a narrow (id, reached=i)
    * projection of its checkpointed output, and a row's verdict is its
    * MAX reached stage — stage row sets only shrink (the "exactly one
    * verdict" contract this method's spec asserts), so the first stage
    * an id is missing from is `max(reached) + 1`. The previous shape
    * paid a left-anti join per stage — |stages| joins, each shuffling
    * BOTH the stage's input and output ids (≈2× the bytes) plus a
    * deserializing scan of each checkpointed stage twice; one union +
    * groupBy scans each stage once and shuffles each id set once.
    * Union legs are trivial projections over already-checkpointed
    * RDDs, so the plan stays linear in stage count.
    * `idCol` must be unique per input row (the corpus contract every
    * dedup in the chain already assumes). */
  def rejectionAudit(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val legs = Vector.newBuilder[DataFrame]
    fold(df) { (i, _, d) =>
      val cut = d.localCheckpoint(false)
      legs += cut.select(col(idCol), lit(i).as("__reached"))
      cut
    }
    val names = array(ops.map(o => lit(o.name)): _*)
    legs.result().reduce(_ unionByName _)
      .groupBy(col(idCol)).agg(max(col("__reached")).as("__r"))
      .select(col(idCol),
        when(col("__r") === ops.length, lit(0))
          .otherwise(col("__r") + 1).cast("int").as("stage_idx"),
        when(col("__r") === ops.length, lit("kept"))
          .otherwise(element_at(names, col("__r") + 1)).as("rejected_by"))
  }

  /** Per-stage funnel as a DataFrame (step_idx, step, n_rows), from
    * [[profile]]'s staged counts — exact where [[observed]]'s fused
    * counters cannot be read (an operator's internal iteration
    * checkpoint buries them; see [[funnelReport]]). Counts are a
    * handful of driver longs (one per stage) — bounded regardless of
    * corpus size. */
  def funnelStaged(df: DataFrame): DataFrame = {
    val (_, metrics) = profile(df)
    val spark = df.sparkSession
    import spark.implicits._
    val steps = ("input", metrics.headOption.map(_.rowsIn).getOrElse(0L)) +:
      metrics.map(m => (m.op, m.rowsOut))
    steps.zipWithIndex
      .map { case ((name, n), i) => (i, name, n) }
      .toDF("step_idx", "step", "n_rows")
  }

  /** Reference-style stage summary with per-op wall time + rec/s
    * (scripts/generate_metrics_report.py, README "Performance"). */
  def formatStageReport(metrics: Seq[StageMetrics]): String = {
    val sb = new StringBuilder
    sb.append("=" * 72).append('\n')
    val input = metrics.headOption.map(_.rowsIn).getOrElse(0L)
    val output = metrics.lastOption.map(_.rowsOut).getOrElse(0L)
    val wall = metrics.map(_.wallSec).sum
    val pct = if (input > 0) 100.0 * output / input else 0.0
    sb.append(f"Input: $input%,d -> Output: $output%,d ($pct%.1f%% pass)  ")
    sb.append(f"Total: $wall%.2fs  ${if (wall > 0) input / wall else 0.0}%,.0f rec/s%n")
    sb.append(f"  ${"operator"}%-28s ${"rows_out"}%12s ${"pass"}%7s ${"wall_s"}%8s ${"rec/s"}%12s%n")
    metrics.foreach { m =>
      sb.append(f"  ${m.op}%-28s ${m.rowsOut}%,12d ${m.passRate * 100}%6.1f%% ${m.wallSec}%8.3f ${m.recPerSec}%,12.0f%n")
    }
    sb.append("=" * 72)
    sb.toString
  }

  /** Human-readable funnel in the reference's report style
    * (framework/metrics/reporter.py): per-op rows in → out + pass rate. */
  def formatReport(funnel: Seq[(String, Long)], wallSeconds: Double = 0.0): String = {
    val sb = new StringBuilder
    sb.append("=" * 60).append('\n')
    val input = funnel.headOption.map(_._2).getOrElse(0L)
    val output = funnel.lastOption.map(_._2).getOrElse(0L)
    if (input >= 0) {
      val pct = if (input > 0) 100.0 * output / input else 0.0
      sb.append(f"Input: $input%,d -> Output: $output%,d ($pct%.1f%% pass)%n")
      if (wallSeconds > 0)
        sb.append(f"Total time: $wallSeconds%.2fs  Throughput: ${input / wallSeconds}%,.0f records/sec%n")
    } else {
      sb.append(f"Output: $output%,d (input count not observable — run `profile` for exact counts)%n")
      if (wallSeconds > 0) sb.append(f"Total time: $wallSeconds%.2fs%n")
    }
    funnel.sliding(2).foreach {
      case Seq((_, in), (op, out)) =>
        if (out < 0)
          sb.append(f"  $op%-32s ${"n/a"}%12s (stage not observable here — run `profile` for exact counts)%n")
        else if (in < 0)
          sb.append(f"  $op%-32s $out%,12d (pass rate n/a — previous stage not observable)%n")
        else {
          val p = if (in > 0) 100.0 * out / in else 0.0
          sb.append(f"  $op%-32s $out%,12d ($p%.1f%% pass)%n")
        }
      case _ =>
    }
    sb.append("=" * 60)
    sb.toString
  }
}

object Pipeline {

  /** Eager `localCheckpoint` of `df` with its row count: an `observe`
    * node directly under the checkpoint is executed by the checkpoint's
    * own action (Dataset.checkpoint runs under withAction, so the
    * CollectMetrics accumulators deliver to the Observation —
    * PipelineSpec asserts this on the running Spark). A separate
    * `count()` would pay one more job and one more deserializing scan
    * of the just-materialized blocks. */
  private[graft] def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val o = new Observation()
    val cut = df.observe(o, count(lit(1)).as("n")).localCheckpoint(true)
    (cut, o.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L))
  }
}
