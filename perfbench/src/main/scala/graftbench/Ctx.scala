package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import scala.collection.mutable

/** What one run measures and how: the Spark session, the per-op
  * latencies and correctness counts, and, on the traced phase, the tracer
  * and the listener. Workloads call [[op]] once per operation, [[action]] around
  * the call whose latency the user sees, and [[probe]] around the traced
  * run's extra calls into single layers.
  */
final class Ctx(val spark: SparkSession) {
  /** Set for the traced phase: spans, probes and the listener are live. */
  var tracing: Option[(Tracer, SparkCounters)] = None
  def tracer: Option[Tracer] = tracing.map(_._1)
  def counters: Option[SparkCounters] = tracing.map(_._2)
  def traced: Boolean = tracing.isDefined
  val slots: Int = spark.sparkContext.defaultParallelism
  val hconf = spark.sessionState.newHadoopConf()

  /** Latency samples in ms per operation kind, for ops that were correct. */
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer sums and sample counts: the report divides them. */
  val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Every checked op counts here, warm-up included; `timedOk` counts the
    * correct ops of the timed phase.
    */
  var attempted, failed, timedOk = 0L
  var peakCachedMb = 0.0

  /** Forget everything measured so far (between the untraced and the
    * traced phase of a traced run).
    */
  def reset(): Unit = {
    latencies.clear(); sums.clear(); timedOk = 0; peakCachedMb = 0
  }
  /** Whether the timed phase has started; warm-up ops are not counted. */
  var timing = false
  /** Wall time of the latest action in ms (-1: the op had none). */
  var lastActionMs = 0.0

  def add(name: String, v: Double): Unit = sums(name) += v
  def add(name: String, v: Long): Unit = add(name, v.toDouble)

  /** Run one operation: `body` returns whether its answer was right. A
    * wrong answer or an exception counts as failed and never as a timing.
    */
  def op(kind: String)(body: => Boolean): Unit = {
    tracer.foreach(_.beginOp())
    lastActionMs = -1
    val ok =
      try tracer.fold(body)(_.span(s"op.$kind")(body))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $kind failed: $e")
          false
      }
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $kind: wrong answer or error")
    } else if (timing) {
      timedOk += 1
      if (lastActionMs >= 0) latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += lastActionMs
    }
    peakCachedMb = peakCachedMb.max(cachedMb)
  }

  /** The user-visible call of an operation; its wall time is the op's
    * latency. On the traced run its Spark jobs become child spans and the
    * Spark counters' deltas are added to the `spark.*` sums.
    */
  def action[T](layer: String)(body: => T): T = {
    val c0 = counters.map { c =>
      org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)
      c.takeJobs()
      c.snap
    }
    val f0 = fsOps()
    val i0 = indexCounters()
    val t0 = System.nanoTime()
    val r = tracer.fold(body)(_.span(layer)(body))
    val t1 = System.nanoTime()
    lastActionMs = (t1 - t0) / 1e6
    tracer.foreach(t => lastAction = t.spans.last.id)
    if (timing) for (c <- counters; s0 <- c0; t <- tracer) {
      org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)
      val s1 = c.snap
      val jobs = c.takeJobs()
      jobs.foreach { case (s, e) => t.record("spark.job", lastAction, Clock.ns(s), Clock.ns(e)) }
      val jobMs = Stats.unionNs(jobs.map(j => (Clock.ns(j._1), Clock.ns(j._2)))) / 1e6
      add("spark.ops", 1)
      add("spark.jobs", s1.jobs - s0.jobs)
      add("spark.stages", s1.stages - s0.stages)
      add("spark.tasks", s1.tasks - s0.tasks)
      add("spark.job_ms", jobMs)
      add("spark.outside_jobs_ms", lastActionMs - jobMs)
      add("spark.wall_ms", lastActionMs)
      add("spark.task_ms", s1.taskMs - s0.taskMs)
      add("spark.sched_delay_ms", s1.schedMs - s0.schedMs)
      add("spark.shuffle_write_mb", (s1.shuffleWriteB - s0.shuffleWriteB) / 1048576.0)
      add("spark.spill_mb", (s1.spillB - s0.spillB) / 1048576.0)
      add("spark.gc_ms", s1.gcMs - s0.gcMs)
      add("fs.fs_ops", fsOps() - f0)
      add("fs.fs_ops.n", 1)
      val i1 = indexCounters()
      add("table.index_reads", i1._1 - i0._1)
      add("table.index_hits", i1._2 - i0._2)
      add("table.record_index_lookups", i1._3 - i0._3)
      lastJobs = s1.jobs - s0.jobs
    }
    r
  }

  /** Jobs and span id of the latest traced action. */
  var lastJobs = 0L
  private var lastAction = -1

  /** A traced-run-only call into one layer; `None` on the untraced run. */
  def probe[T](name: String)(body: => T): Option[T] = tracer.map(_.span(name)(body))

  /** Build and collect a DataFrame as the op's action, then (traced)
    * read its Catalyst phase times and the Hudi scan metrics of its
    * executed plan.
    */
  def collect(layer: String)(build: => DataFrame): Array[Row] = {
    var df: DataFrame = null
    val rows = action(layer) { df = build; df.collect() }
    if (timing) for (t <- tracer) {
      val phases = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach { s =>
          t.record(s"catalyst.$p", lastAction, Clock.ns(s.startTimeMs), Clock.ns(s.endTimeMs))
          add(s"catalyst.${p}_ms", s.durationMs.toDouble)
        }
      }
      add("catalyst.n", 1)
      val scans = Ctx.PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b
      }
      scans.foreach { b =>
        Seq("slicesPlanned" -> "slices_planned", "logFilesRead" -> "log_files_read",
          "logBytesDecoded" -> "log_bytes_decoded", "logRecordsBuffered" -> "log_records_buffered",
          "deleteRecordsSeen" -> "delete_records_seen").foreach { case (m, n) =>
          b.metrics.get(m).foreach(v => add(s"sources.$n", v.value.toDouble))
        }
      }
      add("sources.n", 1)
    }
    rows
  }

  /** graft's index counters so far: metadata-table index block reads and
    * cache hits, distributed record-index lookups.
    */
  def indexCounters(): (Long, Long, Long) = (graft.table.IndexIoCache.reads.get,
    graft.table.IndexIoCache.hits.get, graft.table.RecordIndex.distributedLookups.get)

  /** Local file-system calls so far (this JVM: driver and executors). */
  def fsOps(): Long = CountingLocalFileSystem.ops.get

  private def cachedMb: Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }
      .sum / 1048576.0
}

object Ctx {
  private object PlanWalk extends AdaptiveSparkPlanHelper
}

/** Converts Spark's wall-clock millisecond stamps onto the nanoTime axis
  * the tracer uses.
  */
object Clock {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def ns(ms: Long): Long = ms * 1000000L + offsetNs
}
