package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed call into a layer, recorded from the benchmark's own code.
  * Spans of one operation share `op`; `parent` is the enclosing span (-1
  * for a root). Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, name: String, op: Long, start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing but a branch. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  var op = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, System.nanoTime())
      }
    }

  def writeJsonl(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Tracer {
  /** Self time of each span: its duration minus the part of its interval
    * covered by its direct children. Returned as total ms per span name. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.name -> (s.durNs - covered)
    }.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum / 1e6 }
  }
}

/** Spark's own scheduler events, aggregated: job intervals (wall clock, ms)
  * plus stage, task and task-metric totals. Reset per operation. */
final class JobListener extends SparkListener {
  private val jobStart = scala.collection.mutable.HashMap[Int, Long]()
  val jobs = ArrayBuffer[(Long, Long)]()
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L

  def reset(): Unit = synchronized {
    jobStart.clear(); jobs.clear()
    stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0
  }

  /** A consistent copy of the job intervals finished so far. */
  def jobIntervals: Seq[(Long, Long)] = synchronized(jobs.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }
}
