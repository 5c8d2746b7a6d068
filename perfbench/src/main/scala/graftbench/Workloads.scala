package graftbench

import graft.log.InstantRange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Metric(name: String, value: Double, unit: String, samples: Int = 0)

/** A closed-loop workload: one client thread issues the next operation
  * only after the previous one returned.
  */
trait Workload {
  /** One-time, cached per checkout (data generation, base table): runs
    * before the set-up clock starts, because users never pay for it.
    */
  def prepare(): Unit
  /** One full set-up of the run's inputs; repeated, the last one is kept. */
  def setup(): Unit
  /** Untimed operations that let JIT, codegen and prep caches settle. */
  def warmup(): Unit
  /** Issue the next operation. */
  def step(): Unit
  /** Whether the timed phase may stop before the next [[step]]. */
  def atBoundary: Boolean
  /** Typical length in seconds of one unit (the steps from one boundary to
    * the next) on a 4-core machine; sizes the timed phase.
    */
  def unitNominalS: Double
  /** Workload-specific figures of the phase just run. */
  def figures(): Seq[Metric]
}

object Workload {
  def shuffle[T](xs: Seq[T], rng: SplittableRandom): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def p50(name: String, xs: Iterable[Double]): Seq[Metric] =
    if (xs.isEmpty) Nil else Seq(Metric(name, Stats.median(xs.toSeq), "ms", xs.size))
}

/** Writes next to reads on a per-run copy of the base MOR table. Each
  * cycle upserts ~1% of the keys (plus a few new ones), reads that instant
  * back incrementally, deletes a few keys, then issues four reads in a
  * seeded order: a full-table aggregate (`snapshot`), a partition plus
  * date-range predicate (`pruned`), a record-key equality (`point`) and
  * a read `as.of.instant` a seeded recent instant (`time_travel`). Every
  * [[CompactEvery]]-th cycle then compacts and cleans, so the reads meet
  * both long and freshly folded log chains. The timed phase ends after a
  * compacting cycle.
  */
final class LakeIngest(ctx: Ctx, home: String, runDir: String, seed: Long, sf: Double,
    stamp: String) extends Workload {
  private val lake = new Lake(ctx, home, sf, stamp, s"$runDir/table")
  private var rng = new SplittableRandom(seed)
  val CompactEvery = 2
  /** Commits the cleaner keeps; time travel stays within the last four. */
  val Retain = 8
  val Reads: Vector[String] = Vector("snapshot", "pruned", "point", "time_travel")
  val ReadKinds: Vector[String] = Reads :+ "incremental"
  private val queue = mutable.Queue.empty[String]
  private var cycle = 0
  private var lastBatch: Seq[Rec] = Nil
  private var rows, writeMs = 0.0

  def prepare(): Unit = lake.prepare()

  /** Copy the base table, then apply the seeded set-up commits: one
    * upsert and one delete deltacommit, no compaction.
    */
  def setup(): Unit = {
    lake.copyBase()
    rng = new SplittableRandom(seed)
    val n = lake.model.latest.size
    val ups = lake.upsertBatch(rng, n / 100, n / 2000)
    lake.upsert(ups)
    lake.committed(ups, Nil)
    val dels = lake.deleteBatch(rng, n / 2000)
    lake.delete(dels)
    lake.committed(Nil, dels.map(_.key))
    queue.clear()
    cycle = 0
  }

  /** The four reads, then compaction and clean: JIT and codegen settle on
    * the read and table-service paths (the set-ups' commits have warmed the
    * commit path).
    */
  def warmup(): Unit = {
    queue ++= Workload.shuffle(Reads, rng) ++ Seq("compact", "clean")
    while (queue.nonEmpty) step()
  }

  def step(): Unit = {
    if (queue.isEmpty) {
      cycle += 1
      queue ++= Seq("upsert", "incremental", "delete") ++ Workload.shuffle(Reads, rng)
      if (cycle % CompactEvery == 0) queue ++= Seq("compact", "clean")
    }
    val kind = queue.dequeue()
    ctx.op(kind)(run(kind))
    if (ctx.timing && !ReadKinds.contains(kind)) writeMs += ctx.lastActionMs.max(0)
  }

  def atBoundary: Boolean = queue.isEmpty && cycle % CompactEvery == 0
  val unitNominalS = 13.0

  private def run(kind: String): Boolean = {
    val m = lake.model
    val latest = m.instants.last
    val n = m.latest.size
    kind match {
      case "upsert" =>
        val batch = lake.upsertBatch(rng, n / 100, n / 2000)
        commit(batch.size)(lake.upsert(batch))
        lake.committed(batch, Nil)
        lastBatch = batch
        true
      case "delete" =>
        val dels = lake.deleteBatch(rng, n / 2000)
        commit(dels.size)(lake.delete(dels))
        lake.committed(Nil, dels.map(_.key))
        true
      case "incremental" =>
        val s = m.instants(m.instants.size - 2)
        lake.probeLogs(lake.probePlan(_.slicesBetween(Some(s), latest)),
          InstantRange(Some(s), Some(latest)))
        val expected = m.between(s, latest)
        lake.check(lake.read("query.type" -> "incremental", "start.timestamp" -> s,
          "end.timestamp" -> latest), expected) && expected.size == lastBatch.size
      case "snapshot" =>
        lake.probeLogs(lake.probePlan(_.slicesAsOf(latest)), InstantRange.all)
        lake.check(lake.read(), m.latest.values)
      case "pruned" =>
        val p = DataGen.Priorities(rng.nextInt(DataGen.Priorities.size))
        val d1 = 8035 + rng.nextInt(2000)
        val d2 = d1 + 300
        lake.probePlan(_.slicesAsOf(latest))
        lake.check(lake.read().filter(col("o_orderpriority") === p &&
          col("o_orderdate").between(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d1)),
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d2)))),
          m.latest.values.filter(r => r.prio == p && r.day >= d1 && r.day <= d2))
      case "point" =>
        // one in ten probes a key that may be deleted or never existed
        val k = if (rng.nextInt(10) == 0) rng.nextLong(n + n / 10)
        else m.latest.valuesIterator.drop(rng.nextInt(n)).next().key
        lake.probePlan(_.slicesAsOf(latest))
        lake.check(lake.read().filter(col("o_orderkey") === k), m.latest.get(k))
      case "time_travel" =>
        val recent = m.instants.takeRight(5).dropRight(1)
        val ts = recent(rng.nextInt(recent.size))
        lake.probeLogs(lake.probePlan(_.slicesAsOf(ts)), InstantRange.upTo(ts))
        lake.check(lake.read("as.of.instant" -> ts), m.asOf(ts).values)
      case "compact" => lake.compact()
      case "clean" => lake.clean(Retain)
    }
  }

  /** Time one commit as the op's action; the traced run adds the writer's
    * counters and the bytes and files it added.
    */
  private def commit(nRows: Int)(write: => Unit): Unit = {
    lake.probePlan(v => v.slicesAsOf(lake.model.instants.last))
    val before = if (ctx.traced) Some((lake.footprint(), lake.writerCounters)) else None
    ctx.action("write.commit")(write)
    if (ctx.timing) rows += nRows
    for (((b0, f0), (i0, s0)) <- before if ctx.timing) {
      val (b1, f1) = lake.footprint()
      val (i1, s1) = lake.writerCounters
      ctx.add("write.n", 1)
      ctx.add("write.rows", nRows)
      ctx.add("write.bytes", b1 - b0)
      ctx.add("write.files", f1 - f0)
      ctx.add("write.index_probes", i1 - i0)
      ctx.add("write.snapshot_probes", s1 - s0)
    }
  }

  def figures(): Seq[Metric] = {
    val r = rows; val w = writeMs
    rows = 0; writeMs = 0
    val reads = ReadKinds.flatMap(k => ctx.latencies.getOrElse(k, Nil))
    ReadKinds.flatMap(k => Workload.p50(s"${k}_p50_ms", ctx.latencies.getOrElse(k, Nil))) ++
      (if (reads.isEmpty) Nil else Seq(Metric("read_p90_ms", Stats.pct(reads, 90), "ms", reads.size))) ++
      Workload.p50("commit_p50_ms", ctx.latencies.getOrElse("upsert", Nil)) ++
      (if (w > 0) Seq(Metric("ingest_rows_per_s", r / (w / 1000), "rows/s",
        ctx.latencies.values.map(_.size).sum)) else Nil)
  }
}

/** LLM-pipeline operators over plain parquet: each pass runs the listed
  * `SparkEntry.queries` entries once, in a seeded order. The first pass
  * (prep caches built) is reported apart from the warm passes.
  */
final class Pipeline(ctx: Ctx, home: String, expectedFile: String, seed: Long, sf: Double,
    record: Boolean) extends Workload {
  import Pipeline.Entries
  private val rng = new SplittableRandom(seed)
  private lazy val impls = graft.SparkEntry.queries
  private var dataDir = ""
  private val expected: Map[String, String] = Pipeline.readHashes(expectedFile)
  private val recorded = mutable.TreeMap.empty[String, String]
  private val pass = mutable.Queue.empty[String]
  private var passStart = 0L
  private val passes = mutable.ArrayBuffer.empty[Double]
  private var coldS = 0.0

  def prepare(): Unit = dataDir = DataGen.ensure(ctx.spark, home, sf)

  /** Read every input table's footer schema: the pipeline's set-up. */
  def setup(): Unit = Seq("customer", "documents", "embeddings", "events", "lineitem", "nation",
    "orders", "part", "region", "supplier")
    .foreach(t => ctx.spark.read.parquet(s"$dataDir/$t.parquet").schema)

  def warmup(): Unit = {
    val t0 = System.nanoTime()
    nextPass().foreach(run)
    coldS = (System.nanoTime() - t0) / 1e9
    if (record) Pipeline.writeHashes(expectedFile, recorded)
  }

  private def nextPass(): Seq[String] = Workload.shuffle(Entries, rng)

  def step(): Unit = {
    if (pass.isEmpty) {
      pass ++= nextPass()
      passStart = System.nanoTime()
    }
    run(pass.dequeue())
    if (pass.isEmpty && ctx.timing) passes += (System.nanoTime() - passStart) / 1e9
  }

  def atBoundary: Boolean = pass.isEmpty
  val unitNominalS = 8.5

  private def run(entry: String): Unit = ctx.op(entry) {
    val rows = ctx.collect(s"queries.$entry") {
      val df = impls(entry)(ctx.spark, dataDir)
      df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("h"))
        .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(0)))
    }
    if (ctx.timing && ctx.traced) {
      ctx.add(s"queries.$entry.jobs", ctx.lastJobs)
      ctx.add(s"queries.$entry.n", 1)
    }
    val hash = s"${rows.head.getLong(0)}:${rows.head.get(1)}"
    if (record) { recorded(entry) = hash; true }
    else {
      val ok = expected.get(entry).contains(hash)
      if (!ok) System.err.println(s"[perfbench] $entry hash $hash != ${expected.get(entry)}")
      ok
    }
  }

  def figures(): Seq[Metric] = {
    val ps = passes.toVector
    passes.clear()
    (if (ps.isEmpty) Nil else Seq(Metric("pipeline_pass_s", Stats.median(ps), "s", ps.size))) :+
      Metric("pipeline_cold_s", coldS, "s", 1)
  }
}

object Pipeline {
  /** `dedup_canonical_distributed` is left out: see perfbench/README.md. */
  val Entries: Vector[String] = Vector("graph_pagerank", "q5_local_supplier_volume", "text_source_kl", "embed_ann_pq", "dedup_minhash_lsh",
    "text_tfidf", "q_sessionize")

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  def readHashes(file: String): Map[String, String] = {
    val f = new java.io.File(file)
    if (!f.exists) Map.empty
    else json.readValue(f, classOf[java.util.TreeMap[String, String]]).asScala.toMap
  }

  def writeHashes(file: String, m: collection.Map[String, String]): Unit =
    json.writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(file), new java.util.TreeMap[String, String](m.asJava))
}
