package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A call into one layer, timed from the benchmark's side of the call.
  * `layer` is the name's prefix up to the first dot. */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it only runs the body, so the
  * untraced run pays nothing for it. Spans opened on one thread nest by
  * a thread-local stack; a span on another thread (the stream sink's
  * index closures) names its parent explicitly. */
final class Spans(val run: String, val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[T](name: String, parent: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val p = if (parent >= 0) parent else outer.headOption.getOrElse(0)
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        synchronized { buf += Span(id, p, name, run, t0, t1) }
      }
    }

  /** Id of the innermost open span on this thread (0 at top level). */
  def current: Int = stack.get.headOption.getOrElse(0)

  def all: Seq[Span] = synchronized(buf.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Intervals.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  /** One JSON object per line, written when the run ends. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s => Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Spans {
  /** The recorder untraced work runs under. */
  val off = new Spans("", enabled = false)
}

object Intervals {
  /** Total length covered by a set of (start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Engine cost under the timed action, from the scheduler's own events.
  * Jobs carry the benchmark's `graftbench.layer` local property, so
  * jobs launched inside one layer call are counted exactly. */
final class EngineListener extends SparkListener {
  final case class Totals(
      jobs: Int, jobsByLayer: Map[String, Int], jobSpansMs: Seq[(Long, Long)],
      stages: Int, tasks: Long, taskRunMs: Long, taskCpuNs: Long,
      schedDelayMs: Long, shuffleWriteB: Long, shuffleReadB: Long,
      spillB: Long, gcMs: Long, inputB: Long, inputRecords: Long,
      worstSkew: Double)

  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val layerJobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var jobs, stages = 0
  private var tasks, runMs, cpuNs, schedMs, shW, shR, spill, gcMs, inB, inRec = 0L

  def reset(): Unit = synchronized {
    jobStart.clear(); jobSpans.clear(); layerJobs.clear(); stageTaskMs.clear()
    jobs = 0; stages = 0
    tasks = 0; runMs = 0; cpuNs = 0; schedMs = 0; shW = 0; shR = 0
    spill = 0; gcMs = 0; inB = 0; inRec = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p =>
      Option(p.getProperty(EngineListener.LayerKey))).getOrElse("other")
    jobStart(e.jobId) = (e.time, layer)
    jobs += 1
    layerJobs(layer) += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, _) => jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inB += m.inputMetrics.bytesRead
      inRec += m.inputMetrics.recordsRead
      val info = e.taskInfo
      schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }

  def totals: Totals = synchronized {
    // max / median task run time of the worst stage with >= 2 tasks
    val skew = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val sorted = ts.sorted
      val med = Stats.median(sorted.map(_.toDouble).toSeq)
      if (med > 0) sorted.last / med else 1.0
    }.foldLeft(1.0)(math.max)
    Totals(jobs, layerJobs.toMap, jobSpans.toList, stages, tasks, runMs,
      cpuNs, schedMs, shW, shR, spill, gcMs, inB, inRec, skew)
  }
}

object EngineListener {
  val LayerKey = "graftbench.layer"
}

/** Driver planning phases of every executed query
  * (`QueryPlanningTracker`: analysis, optimization, physical planning),
  * counted while `active`. */
final class PlanListener extends QueryExecutionListener {
  @volatile var active = false
  private var analysis, optimization, planning = 0L

  def reset(): Unit = synchronized { analysis = 0; optimization = 0; planning = 0 }

  private def add(qe: QueryExecution): Unit = if (active) synchronized {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    analysis += ms("analysis")
    optimization += ms("optimization")
    planning += ms("planning")
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)

  def totals: (Long, Long, Long) = synchronized((analysis, optimization, planning))
}

/** The traced run's engine and planning listeners, and the tags on the
  * jobs each layer call launches. The planning listener is registered
  * at construction: a streaming query copies the session's listeners
  * when it starts, so it must exist before the query does. */
final class EngineTrace(spark: SparkSession) {
  val engine = new EngineListener
  val plans = new PlanListener
  spark.listenerManager.register(plans)
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(engine)
    plans.active = true
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(engine)
    plans.active = false
    attached = false
  }

  def reset(): Unit = { drain(); engine.reset(); plans.reset() }

  def drain(): Unit = org.apache.spark.BenchBridge.drain(spark.sparkContext)

  /** The engine layer's metrics over a window of `wallS` seconds since
    * the last reset, divided by `per` units of work (1 iteration, or
    * the number of micro-batches). */
  def metrics(wallS: Double, per: Double): Map[String, Double] = {
    drain()
    val e = engine.totals
    val (an, opt, pl) = plans.totals
    val jobUnionS = Intervals.unionLength(e.jobSpansMs) / 1000.0
    Map(
      "engine.jobs" -> e.jobs / per,
      "engine.stages" -> e.stages / per,
      "engine.tasks" -> e.tasks / per,
      "engine.driver_only_s" -> math.max(0.0, wallS - jobUnionS) / per,
      "engine.sched_delay_s" -> e.schedDelayMs / 1000.0 / per,
      "engine.analysis_ms" -> an / per,
      "engine.optimization_ms" -> opt / per,
      "engine.planning_ms" -> pl / per,
      "engine.task_run_s" -> e.taskRunMs / 1000.0 / per,
      "engine.task_cpu_s" -> e.taskCpuNs / 1e9 / per,
      "engine.busy_frac" -> e.taskRunMs / 1000.0 / (wallS * Session.Cores),
      "engine.task_skew" -> e.worstSkew,
      "engine.shuffle_write_mb" -> e.shuffleWriteB / 1048576.0 / per,
      "engine.shuffle_read_mb" -> e.shuffleReadB / 1048576.0 / per,
      "engine.spill_mb" -> e.spillB / 1048576.0 / per,
      "engine.gc_s" -> e.gcMs / 1000.0 / per,
      "sources.scan_mb" -> e.inputB / 1048576.0 / per,
      "sources.scan_records" -> e.inputRecords / per,
      "pipeline.plan_jobs" -> e.jobsByLayer.getOrElse("pipeline.plan", 0) / per,
      "sinks.jobs" -> e.jobsByLayer.getOrElse("sinks", 0) / per)
  }

  /** Run `body` with its jobs tagged as `layer`'s (while attached). */
  def tagged[T](layer: String)(body: => T): T =
    if (!attached) body
    else {
      val sc: SparkContext = spark.sparkContext
      val prev = sc.getLocalProperty(EngineListener.LayerKey)
      sc.setLocalProperty(EngineListener.LayerKey, layer)
      try body finally sc.setLocalProperty(EngineListener.LayerKey, prev)
    }
}

/** Process-level meters the end-to-end metrics need in every run. */
object Meters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  private val heapPools: Set[String] = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
  }

  @volatile private var watching = false
  @volatile private var peakAfterGc = 0L

  // Heap occupancy right after each collection, summed over the heap
  // pools: raw sampled used-heap moves with GC timing, this does not.
  locally {
    import scala.jdk.CollectionConverters._
    import com.sun.management.GarbageCollectionNotificationInfo
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) =>
          if (watching && n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (used > peakAfterGc) peakAfterGc = used }
          }, null, null)
      case _ =>
    }
  }

  /** Watch after-GC heap occupancy while `body` runs. */
  def watchHeap[T](body: => T): T = {
    watching = true
    try body finally watching = false
  }

  /** Largest after-GC heap occupancy seen while watching, in MB. A
    * closing explicit collection makes sure at least one is seen. */
  def heapPeakMb(): Double = {
    watching = true
    System.gc()
    Thread.sleep(50)
    watching = false
    peakAfterGc / 1048576.0
  }
}
