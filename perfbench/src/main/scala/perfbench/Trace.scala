package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval on the thread that runs the pipeline. `run` ties the spans of one
  * pipeline run together; `parent` is the span that was open around it. */
final case class Span(id: Int, name: String, parent: Option[Int], run: Int,
                      startNs: Long, endNs: Long) {
  def toJson: String =
    s"""{"id":$id,"name":"$name","parent":${parent.getOrElse("null")},""" +
      s""""run":$run,"start_ns":$startNs,"end_ns":$endNs}"""
}

object Tracer {
  /** Spark local property naming the innermost open span. Jobs submitted
    * from the thread that opened the span carry it, so the listener can
    * attribute them. */
  val SpanKey = "perfbench.span"
}

/** Records spans around calls into the engine's layers and tags the jobs
  * each call submits. Single-threaded; spans stay in memory. */
final class Tracer(sc: SparkContext) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var currentRun = 0
  private val rows = mutable.HashMap.empty[(Int, String), Long]

  def spans: Seq[Span] = recorded.toSeq

  /** Add `n` rows out of the named boundary in the current run. */
  def count(name: String, n: Long): Unit =
    rows((currentRun, name)) = rows.getOrElse((currentRun, name), 0L) + n

  def countedIn(run: Int, name: String): Long = rows.getOrElse((run, name), 0L)

  /** Open a new run: later spans carry its id. */
  def newRun(): Unit = currentRun += 1

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = open.headOption
    val saved = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      recorded += Span(id, name, parent, currentRun, t0, System.nanoTime())
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, saved)
    }
  }
}

/** Task-side totals attributed to one span. */
final case class SpanWork(jobs: Int = 0, tasks: Int = 0, cpuNs: Long = 0L,
                          shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L,
                          peakTaskMemBytes: Long = 0L,
                          taskMillis: Vector[Long] = Vector.empty) {
  def +(o: SpanWork): SpanWork =
    SpanWork(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      math.max(peakTaskMemBytes, o.peakTaskMemBytes), taskMillis ++ o.taskMillis)

  /** Longest task ÷ median task (1.0 for a single task, 0 with none). */
  def taskSkew: Double =
    if (taskMillis.isEmpty) 0.0
    else {
      val med = Stats.median(taskMillis.map(_.toDouble))
      if (med <= 0) taskMillis.max.toDouble else taskMillis.max / med
    }
}

/** Attributes every job, and every finished task's CPU, shuffle writes,
  * spill and peak memory, to the span named by the job's
  * [[Tracer.SpanKey]] property. Work submitted outside any span lands under
  * [[LayerListener.Untraced]]. */
final class LayerListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val work = mutable.HashMap.empty[Int, SpanWork]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(LayerListener.Untraced)

  private def update(span: Int)(f: SpanWork => SpanWork): Unit =
    work(span) = f(work.getOrElse(span, SpanWork()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    e.stageIds.foreach(stageSpan(_) = span)
    update(span)(w => w.copy(jobs = w.jobs + 1))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, LayerListener.Untraced)
    val m = e.taskMetrics
    update(span) { w =>
      if (m == null) w.copy(tasks = w.tasks + 1)
      else w.copy(
        tasks = w.tasks + 1,
        cpuNs = w.cpuNs + m.executorCpuTime,
        shuffleWriteBytes = w.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = w.spillBytes + m.diskBytesSpilled,
        peakTaskMemBytes = math.max(w.peakTaskMemBytes, m.peakExecutionMemory),
        taskMillis = w.taskMillis :+ e.taskInfo.duration)
    }
  }

  /** Everything attributed so far, by span id. Call after draining the bus. */
  def snapshot(): Map[Int, SpanWork] = synchronized(work.toMap)

  def totalCpuNs(): Long = synchronized(work.valuesIterator.map(_.cpuNs).sum)
}

object LayerListener {
  val Untraced: Int = -1
}
