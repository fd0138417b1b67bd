package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region: a pass, batch or mix round (`request`), or a stage
  * inside it. Times are wall-clock millis for job attribution plus
  * nanos for durations.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val request: String, val startNs: Long, val startMs: Long,
    val gcStartMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  var gcEndMs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
  def group: String = s"perfbench-$id"
}

final class JobRec(val id: Int, val group: Option[String], val startMs: Long,
    val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Per completed stage attempt, summed over attempts. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var shuffleBytes = 0L
  var inputBytes = 0L; var outputBytes = 0L
}

/** The layer split of one span, computed from the jobs attributed to it
  * and to its descendants.
  */
final case class Layers(wallS: Double, planningS: Double, jobs: Int,
    tasks: Long, taskS: Double, shuffleMb: Double, inputMb: Double,
    outputMb: Double, driverGapS: Double, gcS: Double) {
  def toMap(prefix: String): Seq[(String, Double)] = Seq(
    s"${prefix}wall_s" -> wallS, s"${prefix}planning_s" -> planningS,
    s"${prefix}jobs" -> jobs.toDouble, s"${prefix}tasks" -> tasks.toDouble,
    s"${prefix}task_s" -> taskS, s"${prefix}shuffle_mb" -> shuffleMb,
    s"${prefix}input_mb" -> inputMb, s"${prefix}output_mb" -> outputMb,
    s"${prefix}driver_gap_s" -> driverGapS, s"${prefix}gc_s" -> gcS)
}

/** Streaming progress of one micro-batch, from `QueryProgressEvent`. */
final case class BatchProgress(batchId: Long, inputRows: Long,
    durationMs: Map[String, Long], stateRows: Long)

/** Span recorder plus the Spark listeners that explain each span from
  * the outside: jobs, stages and task metrics from `SparkListener`,
  * micro-batch phase durations from `StreamingQueryListener`, GC time
  * from the JVM's collector beans.
  *
  * Spans are always timed (two clock reads). Only while `active` does a
  * span set a Spark job group named after itself, and only then are the
  * listeners attached, so an untraced operation runs the program exactly
  * as a user would. Jobs whose group names no span (the program's own
  * pin threads, the streaming micro-batch thread) are attributed to the
  * innermost span open at their submission time — sound because the
  * benchmark keeps one operation in flight at a time.
  */
final class Tracer(sc: SparkContext) {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var traced = Set.empty[Int]
  private var active = false

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      jobs.put(e.jobId, new JobRec(e.jobId, g, e.time, e.stageIds))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val agg = stages.computeIfAbsent(info.stageId, _ => new StageAgg)
      agg.synchronized {
        agg.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          agg.runMs += m.executorRunTime
          agg.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          agg.inputBytes += m.inputMetrics.bytesRead
          agg.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(BatchProgress(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  /** Turn tracing on for the spans opened from now on. */
  def setActive(on: Boolean): Unit = if (on != active) {
    active = on
    if (on) sc.addSparkListener(jobListener) else {
      drain(); sc.removeSparkListener(jobListener)
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBusDrain.drain(sc)

  def span[T](name: String, request: String)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      request, System.nanoTime(), System.currentTimeMillis(), gcMs())
    spans += s
    stack.push(s)
    if (active) {
      traced += s.id
      sc.setJobGroup(s.group, s"$request/$name", interruptOnCancel = false)
    }
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      s.gcEndMs = gcMs()
      stack.pop()
      if (active) parent match {
        case Some(p) => sc.setJobGroup(p.group, s"${p.request}/${p.name}",
          interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wall seconds of the latest span called `name` for `request`. */
  def wallOf(name: String, request: String): Double =
    spans.findLast(s => s.name == name && s.request == request).get.wallS

  def isTraced(s: Span): Boolean = traced(s.id)
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Wall time of `s` not covered by its children. */
  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  private def descendants(s: Span): Set[Int] = {
    val kids = children(s)
    kids.map(_.id).toSet ++ kids.flatMap(descendants)
  }

  private def open(s: Span, ms: Long): Boolean =
    s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs)

  /** The span each finished job belongs to: its job group's span, or the
    * innermost traced span open at the job's submission time. A group is
    * trusted only while its span is open: pool threads keep the group
    * they inherited when they were created.
    */
  private def owner(j: JobRec): Option[Int] = {
    val byGroup = j.group.collect {
      case g if g.startsWith("perfbench-") => g.stripPrefix("perfbench-").toInt
    }.filter(id => traced(id) && open(spans(id), j.startMs))
    byGroup.orElse {
      spans.filter(s => traced(s.id) && open(s, j.startMs))
        .sortBy(s => (-s.startMs, -s.id)).headOption.map(_.id)
    }
  }

  /** Layer split of span `s` (inclusive of its descendants). */
  def layers(s: Span): Layers = {
    drain()
    val ids = descendants(s) + s.id
    val js = jobs.values.asScala.toSeq.filter(j => owner(j).exists(ids))
    val stageIds = js.flatMap(j => j.stageIds.filter(st =>
      Option(stageJob.get(st)).contains(j.id)))
    val sts = stageIds.flatMap(st => Option(stages.get(st)))
    val first = if (js.isEmpty) s.endMs else js.map(_.startMs).min
    // union of job intervals clipped to the span
    val ivs = js.map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    Layers(
      wallS = s.wallS,
      planningS = math.max(0L, first - s.startMs) / 1e3,
      jobs = js.size,
      tasks = sts.map(_.tasks).sum,
      taskS = sts.map(_.runMs).sum / 1e3,
      shuffleMb = sts.map(_.shuffleBytes).sum / 1e6,
      inputMb = sts.map(_.inputBytes).sum / 1e6,
      outputMb = sts.map(_.outputBytes).sum / 1e6,
      driverGapS = math.max(0.0, s.wallS - covered / 1e3),
      gcS = (s.gcEndMs - s.gcStartMs) / 1e3)
  }

  /** Every span, as written to the artifact. */
  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "request" -> s.request, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "wall_s" -> s.wallS, "self_s" -> selfS(s),
      "traced" -> traced(s.id))
  }
}
