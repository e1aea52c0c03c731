package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around calls into the library's layers, plus a listener that
  * files every Spark job under the innermost span open when the job
  * was submitted. Spans live in memory and are written out at exit.
  *
  * The span id travels as a job-local property, so jobs submitted
  * from Spark's own threads (AQE stages, broadcasts) land in the span
  * that submitted them. */
final class Trace(sc: SparkContext, val runId: String) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  // the listener bus thread writes what the calling thread reads
  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      lock.synchronized {
        jobSpan(e.jobId) = span
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) lock.synchronized {
        val m = e.taskMetrics
        val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
        s.tasks += 1
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        s.shufReadB += m.shuffleReadMetrics.totalBytesRead
        s.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        s.inputB += m.inputMetrics.bytesRead
        s.outputB += m.outputMetrics.bytesWritten
        s.durations += e.taskInfo.duration
      }
  }

  /** Run `body` traced: its spans recorded, its jobs filed under them.
    * The listener is attached only meanwhile, so untraced work beside
    * it pays nothing. */
  def on[T](body: => T): T = {
    sc.addSparkListener(listener)
    Trace.current = this
    try body
    finally {
      Trace.current = null
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = Span(spans.size + 1, layer, name,
      stack.headOption.map(_.id).getOrElse(0), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Spans named `name`, and the jobs and stages run in them (or, with
    * `nested`, anywhere beneath them). */
  def select(name: String, nested: Boolean = false): Selection = lock.synchronized {
    val chosen = spans.filter(_.name == name)
    var ids = chosen.map(_.id).toSet
    if (nested) spans.foreach(s => if (ids(s.parent)) ids += s.id)
    val jobs = jobSpan.collect { case (j, s) if ids(s) => j }.toSet
    val st = stageJob.collect { case (s, j) if jobs(j) => s }.toSeq
      .flatMap(stages.get)
    Selection(chosen.toSeq, jobs.size, st)
  }

  /** Time spent in each layer's spans minus their child spans. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.ns)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ns - childNs(s.id)).sum / 1e9
    }
  }

  /** One JSON object per line: name, layer, start, end, parent, run. */
  def write(path: java.io.File): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Main.json(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
        "run" -> runId)))
    } finally w.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, layer: String, name: String, parent: Int,
      start: Long) {
    var end: Long = -1L
    def ns: Long = end - start
  }

  final class StageAgg {
    var tasks = 0
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var spillB = 0L
    var shufReadB = 0L
    var shufWriteB = 0L
    var inputB = 0L
    var outputB = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    /** Slowest task over the median task of this stage. */
    def skew: Double =
      if (durations.size < 2) 1.0
      else {
        val d = durations.sorted
        d.last.toDouble / math.max(1L, d(d.size / 2))
      }
  }

  final case class Selection(spans: Seq[Span], jobs: Int, stages: Seq[StageAgg]) {
    def seconds: Double = spans.map(_.ns).sum / 1e9
    def mb(f: StageAgg => Long): Double = stages.map(f).sum / 1048576.0
  }

  /** The tracer of the running traced section, or null when untraced. */
  @volatile var current: Trace = null

  /** Run `body` inside a span when tracing, or bare otherwise. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val t = current
    if (t == null) body else t.span(layer, name)(body)
  }
}
