package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval. Spans of one operation share `op`; `parent` is
  * the id of the span that caused it (-1 for an operation's root).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def json: String =
    s"""{"id":$id,"parent":$parent,"op":$op,"name":"$name","start_ns":$startNs,"end_ns":$endNs}"""
}

/** In-memory span recorder for the traced run: spans stay in memory and
  * are written out once, when the run ends.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1

  def beginOp(): Unit = op += 1
  def opId: Int = op
  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = current
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, op, name, t0, System.nanoTime())
    }
  }

  /** A span measured elsewhere (a Spark job, a Catalyst phase). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit = {
    spans += Span(nextId, parent, op, name, startNs, endNs)
    nextId += 1
  }

  /** Self time per layer in ms: each span's duration minus the part of
    * it its children cover. A lake read's action span (`read`) has no
    * layer of its own: its self time is graft's driver work that no
    * traced layer covers, the remainder. The root `op.*` span's self
    * time is the benchmark's own checking and bookkeeping.
    */
  def selfMsByLayer: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(s => s.layer match {
      case "op" => "bench"
      case "read" => "remainder"
      case l => l
    })
      .map { case (layer, ss) =>
        layer -> ss.map { s =>
          val kids = children.getOrElse(s.id, Nil).map(c =>
            (c.startNs.max(s.startNs), c.endNs.min(s.endNs))).filter(c => c._2 > c._1)
          (s.endNs - s.startNs - Stats.unionNs(kids)) / 1e6
        }.sum
      }
  }
}

/** Spark-side counters from one listener the benchmark registers. */
final class SparkCounters extends SparkListener {
  import SparkCounters.Snap

  private var jobs, stages, tasks, shuffleWriteB, spillB = 0L
  private var taskMs, schedMs, gcMs = 0.0
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start, end) wall-clock ms of jobs finished since the last take. */
  private val finished = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => finished += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      spillB += m.diskBytesSpilled + m.memoryBytesSpilled
      schedMs += (e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime).max(0L)
    }
  }

  def snap: Snap = synchronized(Snap(jobs, stages, tasks, taskMs, schedMs, shuffleWriteB, spillB,
    gcMs))
  def takeJobs(): Seq[(Long, Long)] = synchronized {
    val r = finished.toVector
    finished.clear()
    r
  }
}

object SparkCounters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskMs: Double, schedMs: Double,
      shuffleWriteB: Long, spillB: Long, gcMs: Double)
}

object Stats {
  /** Total length covered by possibly overlapping intervals. */
  def unionNs(iv: Iterable[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = curE.max(e)
    }
    if (open) total += curE - curS
    total
  }

  /** Nearest-rank percentile of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(((p / 100.0 * s.size).ceil.toInt - 1).max(0).min(s.size - 1))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
