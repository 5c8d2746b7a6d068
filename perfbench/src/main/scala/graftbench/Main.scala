package graftbench

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. `perfbench/run.py` builds it and passes:
  *
  * {{{
  * --workload lake_ingest|pipeline --seed N --seconds S --trace 0|1
  * --home <dir for data, work copies and spans> --expected <pipeline hash file>
  * --stamp <build stamp: keys the cached base table to the sources built>
  * [--ops N]      run exactly N timed ops instead of S seconds' worth (the bench's own test)
  * [--record 1]   record the pipeline result hashes instead of checking them
  * }}}
  *
  * Prints one `{"run": ...}` line describing the run, then the result
  * line (the last line of stdout).
  */
object Main {
  val SetupReps = 3
  /** Task slots: at sf 0.01 an op is driver-bound (two slots run both
    * workloads as fast as four on a 4-core machine), and cores left free
    * for the driver, JIT, GC and calibration threads keep a run steadier
    * on a shared host.
    */
  val MaxSlots = 2
  /** Scale of the generated inputs (sf 0.01: 15k orders). */
  val Sf = 0.01
  val Layers: Seq[String] =
    Seq("core", "fs", "table", "log", "catalyst", "spark", "write", "queries", "remainder", "bench")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val home = a("home")
    val maxOps = a.get("ops").map(_.toInt).getOrElse(0)
    val nproc = Runtime.getRuntime.availableProcessors
    val slots = math.min(nproc, MaxSlots)
    val master = s"local[$slots]"
    val runDir = s"$home/work/$workload-$seed-${ProcessHandle.current.pid}"

    val cal = new Calib
    cal.start()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(master).appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$home/warehouse")
      .config("spark.local.dir", s"$home/spark-local")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark)
    val wl: Workload = workload match {
      case "lake_ingest" => new LakeIngest(ctx, home, runDir, seed, Sf, a("stamp"))
      case "pipeline" => new Pipeline(ctx, home, a("expected"), seed, Sf,
        a.get("record").contains("1"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      wl.prepare()
      val setups = (1 to SetupReps).map { _ =>
        val s0 = System.nanoTime()
        wl.setup()
        (System.nanoTime() - s0) / 1e9
      }
      wl.warmup()

      // The timed phase is a fixed amount of work: the fewest whole units
      // (a compaction period, a pipeline pass) whose nominal length reaches
      // --seconds. Stopping on the clock made the unit count of a run
      // depend on the machine's speed when a unit took about --seconds, and
      // runs with one unit fewer read 10-30% lower ops_per_s.
      val units = math.max(1, math.ceil(seconds / wl.unitNominalS).toInt)
      // Runs the timed phase and returns its units. Units are alike (same
      // op mix); the run's ops_per_s is the median of their scaled rates.
      def phase(units: Int): Seq[TimedUnit] = {
        ctx.timing = true
        var u0 = System.nanoTime()
        var ok0 = ctx.timedOk
        val done = scala.collection.mutable.ArrayBuffer.empty[TimedUnit]
        var n = 0
        def more = if (maxOps > 0) n < maxOps || !wl.atBoundary else done.size < units
        while (more) {
          wl.step(); n += 1
          if (wl.atBoundary) {
            val t = System.nanoTime()
            val s = (t - u0) / 1e9
            done += TimedUnit(s, (ctx.timedOk - ok0) / s, cal.meanMs(u0, t))
            u0 = t; ok0 = ctx.timedOk
          }
        }
        ctx.timing = false
        done.toSeq
      }

      val timed = phase(units)
      val opsPerS = Stats.median(timed.map(_.scaledRate))
      val figures = wl.figures()
      val peakMb = ctx.peakCachedMb
      val e2e = Seq(
        Metric("setup_s", sessionS + Stats.median(setups), "s", setups.size),
        Metric("ops_per_s", opsPerS, "1/s", ctx.timedOk.toInt))

      val reported = if (!trace) e2e else {
        val tracer = new Tracer
        val counters = new SparkCounters
        spark.sparkContext.addSparkListener(counters)
        ctx.reset()
        ctx.tracing = Some((tracer, counters))
        // one unit keeps a traced run short; the per-layer figures have
        // no bound to hold
        val tOps = Stats.median(phase(1).map(_.scaledRate))
        ctx.tracing = None
        spark.sparkContext.removeSparkListener(counters)
        wl.figures()
        val spansFile = new java.io.File(s"$home/spans/$workload-$seed.jsonl")
        spansFile.getParentFile.mkdirs()
        val w = new java.io.PrintWriter(spansFile, "UTF-8")
        try tracer.spans.foreach(s => w.println(s.json)) finally w.close()
        System.err.println(s"[perfbench] ${tracer.spans.size} spans written to $spansFile")
        Report.perLayer(ctx, tracer, figures :+ Metric("peak_cached_mb", peakMb, "MB"), opsPerS,
          tOps)
      }
      val info = Seq("workload" -> s""""$workload"""", "seed" -> seed.toString,
        "seconds" -> seconds.toString, "units" -> units.toString, "trace" -> trace.toString, "nproc" -> nproc.toString,
        "master" -> s""""$master"""", "sf" -> Sf.toString, "session_start_s" -> sessionS.toString,
        "setups_s" -> setups.mkString("[", ",", "]"),
        "units_s" -> timed.map(u => Report.num(u.s)).mkString("[", ",", "]"),
        "units_cal_ms" -> timed.map(u => Report.num(u.calMs)).mkString("[", ",", "]"),
        "cal_ref_ms" -> Report.num(Calib.RefMs),
        "ops_per_s_unscaled" -> Report.num(Stats.median(timed.map(_.rate))),
        "peak_cached_mb" -> Report.num(peakMb),
        "samples" -> (e2e ++ figures).map(m => s""""${m.name}":${m.samples}""").mkString("{", ",", "}"),
        "figures" -> figures.map(m => s""""${m.name}":${Report.num(m.value)}""").mkString("{", ",", "}"))
      println(info.map { case (k, v) => s""""$k":$v""" }.mkString("""{"run":{""", ",", "}}"))
      val metrics = reported.map(m =>
        s""""${m.name}":{"value":${Report.num(m.value)},"unit":"${m.unit}"}""").mkString(",")
      println(s"""{"correct":${ctx.failed == 0 && ctx.attempted > 0},"attempted":${ctx.attempted},""" +
        s""""failed":${ctx.failed},"metrics":{$metrics}}""")
    } finally {
      val fs = new org.apache.hadoop.fs.Path(runDir).getFileSystem(ctx.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(runDir), true)
      spark.stop()
      cal.finish()
    }
  }
}

object Report {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  /** The traced phase's per-layer metrics, the workload figures of the
    * untraced phase, each layer's self time per op, and the overhead of
    * tracing against the untraced phase of the same run.
    */
  def perLayer(ctx: Ctx, t: Tracer, figures: Seq[Metric], opsPerS: Double,
      tracedOpsPerS: Double): Seq[Metric] = {
    val s = ctx.sums
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def per(name: String, n: String) = ratio(s(name), s(n))
    val spans = t.spans.groupBy(_.name)
    def spanMs(name: String) = spans.get(name).map(ss =>
      ss.map(x => (x.endNs - x.startNs) / 1e6).sum / ss.size).getOrElse(0.0)
    val ops = (t.opId + 1).toDouble.max(1)
    val self = t.selfMsByLayer
    val fig = figures.map(m => m.name -> m).toMap
    val figNames = Seq("snapshot_p50_ms" -> "ms", "pruned_p50_ms" -> "ms", "point_p50_ms" -> "ms",
      "time_travel_p50_ms" -> "ms", "incremental_p50_ms" -> "ms", "read_p90_ms" -> "ms",
      "commit_p50_ms" -> "ms", "ingest_rows_per_s" -> "rows/s", "pipeline_pass_s" -> "s",
      "pipeline_cold_s" -> "s", "peak_cached_mb" -> "MB")
    val logMs = spans.get("log.parse").map(_.map(x => (x.endNs - x.startNs) / 1e6).sum)
      .getOrElse(0.0)
    val timedOps = s("spark.ops").max(1)
    figNames.map { case (n, u) => Metric(n, fig.get(n).map(_.value).getOrElse(0.0), u) } ++ Seq(
      Metric("failed_ratio", ratio(ctx.failed.toDouble, ctx.attempted.toDouble), "ratio"),
      Metric("core.timeline_ms", spanMs("core.timeline"), "ms"),
      Metric("core.instants", per("core.instants", "core.n"), "count"),
      Metric("fs.slice_plan_ms", spanMs("fs.slice_plan"), "ms"),
      Metric("fs.slices", per("fs.slices", "fs.n"), "count"),
      Metric("fs.log_files_per_slice", per("fs.log_files", "fs.slices"), "count"),
      Metric("fs.fs_ops", per("fs.fs_ops", "fs.fs_ops.n"), "count"),
      Metric("table.open_ms", spanMs("table.open"), "ms"),
      Metric("table.index_reads", per("table.index_reads", "spark.ops"), "count"),
      // IndexIoCache.reads counts the misses (file reads), hits the rest
      Metric("table.index_hit_ratio",
        ratio(s("table.index_hits"), s("table.index_hits") + s("table.index_reads")), "ratio"),
      Metric("table.record_index_lookups", per("table.record_index_lookups", "spark.ops"), "count"),
      Metric("log.parse_ms", spanMs("log.parse"), "ms"),
      Metric("log.parse_mb_per_s", ratio(s("log.bytes") / 1048576.0, logMs / 1000), "MB/s")) ++
      Seq("slices_planned", "log_files_read", "log_bytes_decoded", "log_records_buffered",
        "delete_records_seen").map(n => Metric(s"sources.$n", per(s"sources.$n", "sources.n"), "count")) ++
      Seq("analysis", "optimization", "planning").map(p =>
        Metric(s"catalyst.${p}_ms", per(s"catalyst.${p}_ms", "catalyst.n"), "ms")) ++
      Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "job_ms" -> "ms",
        "outside_jobs_ms" -> "ms", "task_ms" -> "ms", "sched_delay_ms" -> "ms",
        "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_ms" -> "ms").map { case (n, u) =>
        Metric(s"spark.$n", s(s"spark.$n") / timedOps, u)
      } ++ Seq(
      Metric("spark.slot_busy_ratio", ratio(s("spark.task_ms"), s("spark.wall_ms") * ctx.slots),
        "ratio"),
      Metric("write.commit_ms", spanMs("write.commit"), "ms"),
      Metric("write.compact_ms", spanMs("write.compact"), "ms"),
      Metric("write.clean_ms", spanMs("write.clean"), "ms"),
      Metric("write.index_probes", per("write.index_probes", "write.n"), "count"),
      Metric("write.snapshot_probes", per("write.snapshot_probes", "write.n"), "count"),
      Metric("write.bytes_per_row", per("write.bytes", "write.rows"), "B"),
      Metric("write.files_per_commit", per("write.files", "write.n"), "count")) ++
      Pipeline.Entries.flatMap(e => Seq(
        Metric(s"queries.${e}_s", spanMs(s"queries.$e") / 1000, "s"),
        Metric(s"queries.$e.jobs", per(s"queries.$e.jobs", s"queries.$e.n"), "count"))) ++
      Main.Layers.map(l => Metric(s"self.${l}_ms", self.getOrElse(l, 0.0) / ops, "ms")) ++ Seq(
      Metric("trace.ops_per_s", tracedOpsPerS, "1/s"),
      Metric("trace.overhead_pct", 100 * (1 - ratio(tracedOpsPerS, opsPerS)), "%"))
  }
}

/** One unit of a timed phase: its wall time, its correct ops per second,
  * and the mean time of the calibration kernel while it ran.
  */
final case class TimedUnit(s: Double, rate: Double, calMs: Double) {
  /** The rate on a machine whose kernel takes [[Calib.RefMs]]. */
  def scaledRate: Double = rate * calMs / Calib.RefMs
}

/** Samples the machine's speed for the whole run: every [[Calib.PeriodMs]]
  * a background thread times a fixed integer kernel. On a shared host the
  * speed a core gives moves by a third within minutes; scaling a unit's
  * rate by its mean kernel time takes that out. A sample during which the
  * JVM collected garbage is dropped: the stop-the-world pause stops the
  * kernel too and would count the program's own GC as machine slowness.
  */
final class Calib extends Thread("perfbench-calib") {
  setDaemon(true)
  @volatile private var running = true
  @volatile private var sink = 0L
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val arr = new Array[Int](1024)
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcCount: Long = gcs.map(_.getCollectionCount).sum

  private def kernel(n: Int): Long = {
    var x = 1L; var i = 0
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      arr((x >>> 54).toInt) += 1
      i += 1
    }
    x
  }

  override def run(): Unit = while (running) {
    val g0 = gcCount
    val t0 = System.nanoTime()
    sink += kernel(Calib.Iters)
    val t1 = System.nanoTime()
    if (gcCount == g0) samples.add((t0, t1 - t0))
    Thread.sleep(Calib.PeriodMs)
  }

  /** Mean kernel time in ms of the samples started in [from, to); with
    * none, [[Calib.RefMs]] (no scaling).
    */
  def meanMs(from: Long, to: Long): Double = {
    val xs = samples.asScala.collect { case (t, d) if t >= from && t < to => d / 1e6 }
    if (xs.isEmpty) Calib.RefMs else xs.sum / xs.size
  }

  def finish(): Unit = { running = false; join() }
}

object Calib {
  val Iters = 2000000
  val PeriodMs = 200L
  /** About the kernel's time on the 4-core machine the benchmark was sized
    * on, in a fast phase; it fixes the scale, not the spread.
    */
  val RefMs = 4.0
}
