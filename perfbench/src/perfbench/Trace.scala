package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work Spark did for one job tag (one timed call into the program). */
final class TagStats {
  var jobs, stages, tasks, singleTaskStages = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var peakExecMem = 0L
}

/** Planning phase times of one finished query execution (epoch ms). */
final case class PlanPhases(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** A Spark job as the listener saw it. */
final case class JobSpan(jobId: Int, tag: String, startMs: Long, var endMs: Long)

/** One SparkListener plus one QueryExecutionListener. Jobs, stages and
  * tasks are attributed to the benchmark's per-call job tag
  * (`SparkContext.addJobTag`), which threads the program starts inherit:
  * every profiled stage carries the same call-site name, so names cannot
  * attribute work. A finished query execution carries no tag, so its
  * planning phases are attributed by time to the one call that was
  * running when they started.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val byTag = mutable.Map[String, TagStats]()
  val jobs = mutable.ArrayBuffer[JobSpan]()
  private val jobById = mutable.Map[Int, JobSpan]()
  private val stageTag = mutable.Map[Int, String]()
  val plans = mutable.ArrayBuffer[PlanPhases]()
  private val stageTaskRuns = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  /** max task run time ÷ mean task run time, over stages with ≥ 2 tasks. */
  var taskSkewMax = 0.0
  private val blocks = mutable.Map[String, Long]()
  private var storedBytes = 0L
  var storagePeakBytes = 0L

  private def stats(tag: String): TagStats = byTag.getOrElseUpdate(tag, new TagStats)

  private def tagOf(tags: Iterable[String]): Option[String] =
    tags.find(_.startsWith(Tracer.TagPrefix))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    tagOf(tags).foreach { tag =>
      val j = JobSpan(e.jobId, tag, e.time, -1L)
      jobs += j
      jobById(e.jobId) = j
      stats(tag).jobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageTag.get(info.stageId).foreach { tag =>
      val s = stats(tag)
      s.stages += 1
      if (info.numTasks == 1) s.singleTaskStages += 1
    }
    stageTaskRuns.remove(info.stageId).filter(_.size >= 2).foreach { runs =>
      val mean = runs.sum.toDouble / runs.size
      if (mean > 0) taskSkewMax = math.max(taskSkewMax, runs.max / mean)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageTag.get(e.stageId).filter(_ => m != null).foreach { tag =>
      val s = stats(tag)
      val info = e.taskInfo
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.schedDelayMs += math.max(0L, (info.finishTime - info.launchTime) -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      stageTaskRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      storedBytes += size - blocks.getOrElse(b.blockId.name, 0L)
      if (size == 0L) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
      storagePeakBytes = math.max(storagePeakBytes, storedBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      if (phases.nonEmpty)
        plans += PlanPhases(phases.values.map(_.startTimeMs).min, ms("analysis"),
          ms("optimization"), ms("planning"))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)
}

/** A timed interval; `parent` is -1 for a root. Times are epoch micros. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** One timed call into the program, with the codegen work it caused. */
final case class Op(span: Span, tag: String, buildEndUs: Long,
    codegenNs: Long, codegenClasses: Long)

/** Times calls into the program and, when tracing, attributes Spark's
  * work to them. The benchmark is one client thread, so ops never
  * overlap; the program's own threads (`ops.Overlap` branches) inherit
  * the op's job tag.
  */
final class Tracer(spark: org.apache.spark.sql.SparkSession) {
  private val sc = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private var nextId = 0
  private var nextTag = 0
  private val openSpans = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[Op]()
  private var recorder: Option[Recorder] = None

  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  def start(): Recorder = {
    val r = new Recorder
    sc.addSparkListener(r)
    spark.listenerManager.register(r)
    recorder = Some(r)
    r
  }

  /** Drains the listener bus, detaches the listeners, returns them. */
  def stop(): Recorder = {
    val r = recorder.get
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(r)
    spark.listenerManager.unregister(r)
    recorder = None
    r
  }

  /** A span around `body`, nested under whichever span is open. */
  def span[A](name: String, layer: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = openSpans.headOption.getOrElse(-1)
    val t0 = nowUs
    openSpans.push(id)
    try body
    finally {
      openSpans.pop()
      spans += Span(id, parent, name, layer, t0, nowUs)
    }
  }

  /** One call into the program: `build` returns the program's result
    * (a DataFrame, typically) and `action` forces it. Both are timed as
    * child spans; the Spark jobs either one starts carry the op's tag.
    */
  def op[A, B](name: String, layer: String)(build: => A)(action: A => B): B = {
    val tag = s"${Tracer.TagPrefix}${nextTag}"
    nextTag += 1
    val cgNs0 = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime
    val cgN0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.addJobTag(tag)
    var buildEnd = 0L
    val id = nextId
    try span(name, layer) {
      val a = span("build", layer)(build)
      buildEnd = nowUs
      span("action", layer)(action(a))
    } finally {
      sc.removeJobTag(tag)
      val s = spans.find(_.id == id).get
      ops += Op(s, tag, buildEnd,
        org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime - cgNs0,
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0)
    }
  }

  /** Adds Spark job spans under the build/action span they ran in. */
  def addJobSpans(r: Recorder): Unit = {
    val byTag = ops.map(o => o.tag -> o).toMap
    val children = spans.groupBy(_.parent)
    for (j <- r.jobs; op <- byTag.get(j.tag)) {
      val (s, e) = (j.startMs * 1000L, (if (j.endMs < 0) j.startMs else j.endMs) * 1000L)
      val parent = children.getOrElse(op.span.id, Nil)
        .find(c => s >= c.startUs - 1000 && s <= c.endUs).getOrElse(op.span)
      spans += Span(nextId, parent.id, s"job ${j.jobId}", "spark-job", s, e)
      nextId += 1
    }
  }

  def reset(): Unit = { spans.clear(); ops.clear() }
}

object Tracer {
  val TagPrefix = "perfbench-op-"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    for ((s0, e0) <- intervals.sortBy(_._1)) {
      val s = math.max(s0, end)
      val e = math.min(e0, hi)
      if (e > s) { total += e - s; end = e }
    }
    total
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - covered(kids, s.startUs, s.endUs))
    }.toMap
  }

  /** The most jobs running at once, from their (start, end) times. */
  def maxConcurrent(intervals: Seq[(Long, Long)]): Int = {
    val edges = intervals.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, d) }
    edges.scanLeft(0)(_ + _._2).max
  }
}
