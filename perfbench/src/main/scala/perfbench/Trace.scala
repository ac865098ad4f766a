package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One node of the trace tree: workload > pass > op > build/action >
  * Spark job > stage. Times are epoch milliseconds; `counters` holds
  * the task metrics a stage span carries. */
final case class Span(id: Long, parent: Long, kind: String, name: String, start: Double) {
  @volatile var end: Double = Double.NaN
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def dur: Double = end - start
}

/** Epoch milliseconds with nanosecond-clock resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Span recorder and the SparkListener that hangs Spark jobs and
  * stages under the benchmark's spans.
  *
  * The benchmark opens a span around each call into the program and
  * sets the Spark job group to the span's id, so every job the call
  * starts (including jobs from pool threads it creates) names its
  * parent. A job with no known group falls back to the innermost open
  * span, which is exact here because the loop is closed: one call is
  * in flight at a time. While `enabled` is false no spans are made
  * and no job group is set, so untraced passes run the same code
  * path as an untraced run. */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile private var enabled = false
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentHashMap[Long, Span]()
  private val current = new AtomicReference[Span](null)
  private val stageParent = new ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentHashMap[Int, Span]()
  private val failedTasks = new ConcurrentHashMap[Int, AtomicLong]()

  def spans: Seq[Span] = all.values.asScala.toSeq.sortBy(_.id)
  def innermost: Option[Span] = Option(current.get)

  /** Turn span recording and the listener on or off between passes. */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) sc.addSparkListener(this) else sc.removeSparkListener(this)
    if (!on) sc.clearJobGroup()
    enabled = on
  }

  private def open(kind: String, name: String, parent: Long, start: Double): Span = {
    val s = Span(ids.incrementAndGet(), parent, kind, name, start)
    all.put(s.id, s)
    s
  }

  /** Run `f` inside a span when tracing; plain `f` otherwise. */
  def span[T](kind: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val outer = current.get
      val s = open(kind, name, if (outer == null) 0L else outer.id, Clock.nowMs)
      current.set(s)
      sc.setJobGroup(s.id.toString, s"$kind $name", interruptOnCancel = false)
      try f
      finally {
        s.end = Clock.nowMs
        current.set(outer)
        if (outer == null) sc.clearJobGroup()
        else sc.setJobGroup(outer.id.toString, s"${outer.kind} ${outer.name}", interruptOnCancel = false)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).filter(all.containsKey(_))
    val parent = group.getOrElse(Option(current.get).map(_.id).getOrElse(0L))
    val s = open("job", s"job ${e.jobId}", parent, e.time.toDouble)
    jobs.put(e.jobId, s)
    e.stageIds.foreach(stageParent.putIfAbsent(_, s.id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { s =>
      s.end = e.time.toDouble
      if (e.jobResult != JobSucceeded) s.counters("failed") = 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (enabled && e.reason != org.apache.spark.Success)
      failedTasks.computeIfAbsent(e.stageId, _ => new AtomicLong()).incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val info = e.stageInfo
    val parent = Option(stageParent.get(info.stageId)).map(_.longValue)
      .getOrElse(Option(current.get).map(_.id).getOrElse(0L))
    val end = info.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    val s = open("stage", s"stage ${info.stageId}.${info.attemptNumber()}", parent,
      info.submissionTime.map(_.toDouble).getOrElse(end))
    s.end = end
    val c = s.counters
    c("tasks") = info.numTasks
    c("failed_tasks") = Option(failedTasks.remove(info.stageId)).map(_.get.toDouble).getOrElse(0.0)
    Option(info.taskMetrics).foreach { m =>
      c("run_s") = m.executorRunTime / 1e3
      c("gc_s") = m.jvmGCTime / 1e3
      c("shuffle_write_mb") = m.shuffleWriteMetrics.bytesWritten / 1e6
      c("shuffle_read_mb") = m.shuffleReadMetrics.totalBytesRead / 1e6
      c("spill_mb") = m.diskBytesSpilled / 1e6
      c("input_mb") = m.inputMetrics.bytesRead / 1e6
      c("output_mb") = m.outputMetrics.bytesWritten / 1e6
    }
  }

  /** All spans below `root` (not including it). */
  def descendants(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.ArrayBuffer.empty[Span]
    val todo = mutable.Stack(root.id)
    while (todo.nonEmpty) kids.getOrElse(todo.pop(), Nil).foreach { k => out += k; todo.push(k.id) }
    out.toSeq
  }
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    clipped.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Self time per span: its duration minus the part of it that its
    * children cover (children may overlap each other, e.g. stages). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filterNot(_.end.isNaN).map { s =>
      val iv = kids.getOrElse(s.id, Nil).filterNot(_.end.isNaN).map(k => (k.start, k.end))
      s.id -> math.max(0.0, s.dur - covered(iv, s.start, s.end))
    }.toMap
  }
}
