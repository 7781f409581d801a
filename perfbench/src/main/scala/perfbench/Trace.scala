package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed section; spans of one request share `request`. */
final case class Span(id: Int, name: String, parent: Int, request: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span. */
final class SparkWork {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervalsMs = ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    jobIntervalsMs ++= o.jobIntervalsMs
  }
}

/**
 * Attributes Spark jobs, stages and tasks to spans. Each traced span runs
 * under its own job group, `perfbench-<span id>`; the listener reads the
 * group from the job's properties, so only Spark's public listener API
 * is needed and the engine is not touched.
 */
final class SpanListener extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val work = mutable.HashMap.empty[Int, SparkWork]
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]
  private val stageOf = mutable.HashMap.empty[(Int, Int), Int]
  private var open = 0
  private var events = 0L

  private def w(span: Int): SparkWork = work.getOrElseUpdate(span, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
      val span = g.stripPrefix(Tracer.GroupPrefix).toInt
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      w(span).jobs += 1
      open += 1
      events += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobSpan.get(e.jobId)).foreach { span =>
      w(span).jobIntervalsMs += ((jobStart.get(e.jobId), e.time))
      open -= 1
      events += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val sw = w(span)
      sw.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        sw.cpuNs += m.executorCpuTime
        sw.gcMs += m.jvmGCTime
        sw.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        sw.spillBytes += m.diskBytesSpilled
      }
      val key = (e.stageId, e.stageAttemptId)
      stageOf(key) = span
      stageTaskMs.getOrElseUpdate(key, ArrayBuffer.empty) += e.taskInfo.duration
      events += 1
    }
  }

  /** Waits until every attributed job has ended and no event has arrived
    * for a short while: listener delivery is asynchronous. */
  def awaitQuiet(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val (o, ev) = synchronized((open, events))
      if (o == 0 && ev == last) quiet += 1 else quiet = 0
      last = ev
    }
  }

  def workOf(spans: Iterable[Int]): SparkWork = synchronized {
    val total = new SparkWork
    spans.foreach(s => work.get(s).foreach(total.add))
    total
  }

  /** Max task time over median task time, in the worst stage run under
    * any of `spans`; stages with fewer than two tasks have no skew. */
  def worstStageSkew(spans: Set[Int]): Double = synchronized {
    val ratios = stageTaskMs.collect {
      case (key, ts) if spans(stageOf(key)) && ts.length >= 2 =>
        ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }
}

object Tracer {
  val GroupPrefix = "perfbench-"
}

/**
 * Span recorder for the traced run. With `on` false it records nothing,
 * sets no job group and registers no listener. `active` switches tracing
 * per operation within a traced run, so traced and untraced operations
 * interleave and the tracing overhead is measured on the same run.
 */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val listener: Option[SpanListener] =
    if (on) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None
  var active: Boolean = on
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int)] = Nil // (span id, request id)
  private var nextId = 0

  def spans: Seq[Span] = recorded.toSeq

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val (parent, request) = stack.headOption.getOrElse((-1, id))
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      stack = (id, request) :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        recorded += Span(id, name, parent, request, t0, System.nanoTime(), startMs,
          System.currentTimeMillis())
        stack = stack.tail
        if (parent < 0) sc.clearJobGroup()
        else sc.setJobGroup(Tracer.GroupPrefix + parent, "", interruptOnCancel = false)
      }
    }

  // recomputed on each use: spans are read only after the run
  private def children: Map[Int, Seq[Int]] =
    recorded.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.id).toSeq }
  private def byId: Map[Int, Span] = recorded.map(s => s.id -> s).toMap

  /** `root` and every span below it. */
  def subtree(root: Int): Seq[Int] = {
    val c = children
    def walk(id: Int): Seq[Int] = id +: c.getOrElse(id, Nil).flatMap(walk)
    walk(root)
  }

  def work(root: Span): SparkWork =
    listener.map(_.workOf(subtree(root.id))).getOrElse(new SparkWork)

  /** Wall time of `root` during which none of its jobs was running. */
  def driverOnlyMs(root: Span): Double = {
    val clipped = work(root).jobIntervalsMs
      .map { case (a, b) => (math.max(a, root.startMs), math.min(b, root.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, root.ms - covered)
  }

  def roots(name: String): Seq[Span] = recorded.filter(s => s.parent < 0 && s.name == name).toSeq

  def childOf(root: Span, name: String): Option[Span] =
    children.getOrElse(root.id, Nil).map(byId).find(_.name == name)

  /** Engine totals over every span below `roots`. */
  def engine(roots: Seq[Span], prefix: String): Seq[Metric] = {
    val ids = roots.flatMap(r => subtree(r.id))
    val w = listener.map(_.workOf(ids)).getOrElse(new SparkWork)
    Seq(
      Metric(s"$prefix.shuffle_write_mb", w.shuffleWriteBytes / 1048576.0, "MB"),
      Metric(s"$prefix.spill_mb", w.spillBytes / 1048576.0, "MB"),
      Metric(s"$prefix.gc_ms", w.gcMs.toDouble, "ms"),
      Metric(s"$prefix.executor_cpu_s", w.cpuNs / 1e9, "s"),
      Metric(s"$prefix.worst_stage_skew", listener.map(_.worstStageSkew(ids.toSet)).getOrElse(0.0), "ratio"))
  }

  def toJson: Seq[Map[String, Any]] = recorded.toSeq.map { s =>
    val w = work(s)
    val own = listener.map(_.workOf(Seq(s.id))).getOrElse(new SparkWork)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ms" -> s.ms,
      "jobs" -> own.jobs, "tasks" -> own.tasks, "subtree_jobs" -> w.jobs)
  }
}
