package graftbench

import graft.core.{HoodieConfig, Timeline}
import graft.fs.{FileSlice, FsView}
import graft.log.{InstantRange, LogFileParser}
import graft.table.{HudiTable, RecordIndex}
import graft.hfile.HFileWriter
import graft.write.{HudiCleaner, HudiCompaction, HudiWriter, RecordIndexMaintenance}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.time.LocalDateTime
import java.util.SplittableRandom

object Lake {
  val BaseDeltas = 6
  /** Index file groups of the base table's record index. */
  val IndexGroups = 2
}

/** One order row as the benchmark's model of the table holds it. */
final case class Rec(key: Long, cust: Long, status: Char, cents: Long, day: Int, prio: String,
    version: Long, commit: String) {
  def row: Row = Row(key, cust, status.toString, cents / 100.0,
    java.time.LocalDate.ofEpochDay(day.toLong), prio, version)
}

/** The benchmark's own model of what it wrote: the table state after
  * every instant, so any snapshot, time-travel or incremental read has an
  * expected answer that does not come from graft.
  */
final class LakeModel(baseInstant: String, base: Map[Long, Rec]) {
  var states: Vector[(String, Map[Long, Rec])] = Vector(baseInstant -> base)
  def latest: Map[Long, Rec] = states.last._2
  def instants: Vector[String] = states.map(_._1)
  def commit(instant: String, upserts: Seq[Rec], deletes: Seq[Long]): Unit =
    states :+= instant -> (latest -- deletes ++ upserts.map(r => r.key -> r.copy(commit = instant)))
  def asOf(ts: String): Map[Long, Rec] = states.takeWhile(_._1 <= ts).last._2
  def between(start: String, end: String): Iterable[Rec] =
    asOf(end).values.filter(r => r.commit > start && r.commit <= end)
}

object LakeModel {
  /** (rows, Σversion, Σkey·(version+1), Σcents, Σkey·status): the checksum
    * every lake read computes in Spark and the model computes here.
    */
  def checksum(rs: Iterable[Rec]): Seq[Long] = {
    var n, v, kv, c, ks = 0L
    rs.foreach { r =>
      n += 1; v += r.version; kv += r.key * (r.version + 1); c += r.cents
      ks += r.key * r.status.toLong
    }
    Seq(n, v, kv, c, ks)
  }

  val aggCols: Seq[org.apache.spark.sql.Column] = Seq(count(lit(1)), sum(col("o_version")),
    sum(col("o_orderkey") * (col("o_version") + 1)),
    sum(round(col("o_totalprice") * 100).cast(LongType)),
    sum(col("o_orderkey") * ascii(col("o_orderstatus"))))

  def fromRow(r: Row): Seq[Long] = (0 until 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))

  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_version", LongType)))
}

/** A per-run copy of the benchmark's MOR orders table plus its model, and
  * the reads and writes `lake_ingest` issues through graft's public entry
  * points.
  */
final class Lake(ctx: Ctx, home: String, sf: Double, stamp: String, val path: String) {
  private val spark = ctx.spark
  private val fs = new Path(path).getFileSystem(ctx.hconf)
  var model: LakeModel = _
  private var seq = 0L
  private var nextKey = 0L

  private def writer(df: DataFrame, operation: String, extra: (String, String)*): Unit =
    (Seq("hoodie.datasource.write.table.type" -> "MERGE_ON_READ",
      "hoodie.datasource.write.recordkey.field" -> "o_orderkey",
      "hoodie.datasource.write.partitionpath.field" -> "o_orderpriority",
      "hoodie.datasource.write.precombine.field" -> "o_version",
      "hoodie.datasource.write.operation" -> operation,
      "hoodie.table.name" -> "bench_orders") ++ extra)
      .foldLeft(df.write.format("hudi-graft").mode(SaveMode.Append)) { case (w, (k, v)) =>
        w.option(k, v)
      }.save(path)

  private def baseRecs(): Map[Long, Rec] = DataGen.orders(sf).map { r =>
    val k = r.getLong(0)
    k -> Rec(k, r.getLong(1), r.getString(2).charAt(0), math.round(r.getDouble(3) * 100),
      r.getAs[LocalDateTime](4).toLocalDate.toEpochDay.toInt, r.getString(5), 0L, "")
  }.toMap

  /** The base table, built once per build of the sources (the directory
    * is keyed on the build stamp, so a changed writer or file format
    * rebuilds it) from the generated orders: one bulk insert (3–4 file
    * groups per partition), a record-index metadata table over it, and
    * [[BaseDeltas]] fixed-seed deltacommits, so every file group starts
    * with a log chain. Each run copies it.
    */
  private def ensureBase(): String = {
    val dataDir = DataGen.ensure(spark, home, sf)
    val lakes = new Path(s"$home/lake")
    val base = new Path(lakes, s"base-sf$sf-v${DataGen.Version}-$stamp")
    val marker = new Path(base, "_BENCH_READY")
    if (!fs.exists(marker)) {
      fs.delete(lakes, true)
      val src = spark.read.parquet(s"$dataDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate").cast(DateType).as("o_orderdate"), col("o_orderpriority"),
          lit(0L).as("o_version"))
      val bytes = BigInt(src.queryExecution.optimizedPlan.stats.sizeInBytes.toString)
      val b = new Lake(ctx, home, sf, stamp, base.toString)
      b.writer(src, "bulk_insert", "hoodie.parquet.max.file.size" -> (bytes * 2 / 5).toString)
      b.resetModel(b.latestInstant())
      b.addRecordIndex()
      b.baseDeltas(None)
      fs.create(marker, true).close()
    }
    base.toString
  }

  /** Give the freshly bulk-inserted table a metadata table with a
    * `record_index` partition (every key → its partition and file group,
    * split over [[IndexGroups]] hash-aligned index file groups) and
    * advertise it, the layout of the repository's `mor_orders` fixture.
    * From here on graft's writer probes and maintains the index.
    */
  private def addRecordIndex(): Unit = {
    val instant = model.instants.head
    val locs = read().select("_hoodie_record_key", "_hoodie_partition_path", "_hoodie_file_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2).takeWhile(_ != '_')))
    require(locs.length == model.latest.size, s"base table holds ${locs.length} rows")
    val mdt = new Path(path, ".hoodie/metadata")
    def text(p: Path, s: String): Unit = {
      val o = fs.create(p, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    text(new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=bench_orders_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    text(new Path(mdt, s".hoodie/$instant.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    val millis = graft.core.Timestamps.timelineToEpochMillis(instant)
    val schema = RecordIndexMaintenance.riAvroSchema.toString.getBytes("UTF-8")
    locs.groupBy { case (k, _, _) => RecordIndex.fileGroupIndex(k, Lake.IndexGroups) }
      .foreach { case (g, group) =>
        val records = group.toSeq.sortBy(_._1).map { case (k, p, fid) =>
          k -> RecordIndexMaintenance.entryBytes(k, p, fid, millis)
        }
        val o = fs.create(new Path(mdt, f"record_index/record-index-$g%04d-0_0-0-0_$instant.hfile"))
        try o.write(HFileWriter.write(records, Map("schema" -> schema))) finally o.close()
      }
    val props = new Path(path, ".hoodie/hoodie.properties")
    text(props, new String(graft.util.ReadFully(fs, props), "UTF-8") +
      "hoodie.table.metadata.partitions=record_index\n")
  }

  /** The base table's deltacommits: written when `instants` is None,
    * otherwise replayed into the model at the given instants.
    */
  private def baseDeltas(instants: Option[Iterator[String]]): Unit = {
    val r = new SplittableRandom(DataGen.DataSeed + 7)
    val n = model.latest.size
    (1 to Lake.BaseDeltas).foreach { i =>
      val (ups, dels) =
        if (i % 2 == 0) (Nil, deleteBatch(r, n / 500)) else (upsertBatch(r, n / 100, n / 1000), Nil)
      instants match {
        case Some(it) => model.commit(it.next(), ups, dels.map(_.key))
        case None =>
          if (ups.nonEmpty) upsert(ups) else delete(dels)
          committed(ups, dels.map(_.key))
      }
    }
  }

  private def resetModel(instant: String): Unit = {
    val recs = baseRecs()
    model = new LakeModel(instant, recs.view.mapValues(_.copy(commit = instant)).toMap)
    seq = 0
    nextKey = recs.keys.max + 1
  }

  def prepare(): Unit = ensureBase()

  /** Copy the base table to [[path]] and rebuild the model of it. */
  def copyBase(): Unit = {
    val base = ensureBase()
    fs.delete(new Path(path), true)
    val (src, dst) = (java.nio.file.Paths.get(base), java.nio.file.Paths.get(path))
    val files = java.nio.file.Files.walk(src)
    try files.forEach { f =>
      val to = dst.resolve(src.relativize(f))
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(to)
      else if (f.getFileName.toString != "_BENCH_READY") java.nio.file.Files.copy(f, to)
    } finally files.close()
    val instants = new Timeline(path, HoodieConfig.load(path, ctx.hconf), ctx.hconf)
      .completedInstants.map(_.timestamp)
    require(instants.size == Lake.BaseDeltas + 1, s"unexpected base timeline $instants")
    resetModel(instants.head)
    baseDeltas(Some(instants.iterator.drop(1)))
  }

  def latestInstant(): String = {
    val cfg = HoodieConfig.load(path, ctx.hconf)
    new Timeline(path, cfg, ctx.hconf).latestCommitTimestamp.get
  }

  private def pick(rng: SplittableRandom, n: Int): Seq[Rec] = {
    val live = model.latest.valuesIterator.toVector.sortBy(_.key)
    Seq.fill(n)(live(rng.nextInt(live.size))).distinct
  }

  /** A seeded upsert: `updates` live keys get a new status, price and
    * version; `inserts` new keys are added. Returns the rows written.
    */
  def upsertBatch(rng: SplittableRandom, updates: Int, inserts: Int): Seq[Rec] = {
    seq += 1
    val upd = pick(rng, updates).map(r => r.copy(status = "PFOU".charAt(rng.nextInt(4)),
      cents = rng.nextLong(90000, 50000000), version = seq))
    val ins = (0 until inserts).map { _ =>
      nextKey += 1
      Rec(nextKey, rng.nextLong(1000), 'O', rng.nextLong(90000, 50000000),
        8000 + rng.nextInt(2400), DataGen.Priorities(rng.nextInt(5)), seq, "")
    }
    upd ++ ins
  }

  def deleteBatch(rng: SplittableRandom, n: Int): Seq[Rec] = pick(rng, n)

  def upsert(recs: Seq[Rec]): Unit =
    writer(spark.createDataFrame(java.util.Arrays.asList(recs.map(_.row): _*),
      LakeModel.Schema), "upsert")

  def delete(recs: Seq[Rec]): Unit =
    writer(spark.createDataFrame(java.util.Arrays.asList(recs.map(_.row): _*),
      LakeModel.Schema).select("o_orderkey", "o_orderpriority"), "delete")

  /** Record a finished commit in the model; returns its instant. */
  def committed(upserts: Seq[Rec], deletes: Seq[Long]): String = {
    val inst = latestInstant()
    require(!model.instants.contains(inst), s"no new instant after a commit (latest $inst)")
    model.commit(inst, upserts, deletes)
    inst
  }

  def read(opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("hudi-graft")) { case (r, (k, v)) => r.option(k, v) }
      .load(path)

  /** Run `df`'s aggregate as the op's action and compare with `expected`. */
  def check(df: => DataFrame, expected: Iterable[Rec]): Boolean = {
    val got = LakeModel.fromRow(ctx.collect("read")(df.agg(LakeModel.aggCols.head,
      LakeModel.aggCols.tail: _*)).head)
    val want = LakeModel.checksum(expected)
    if (got != want) System.err.println(s"[perfbench] checksum mismatch: got $got want $want")
    got == want
  }

  // --- traced-run probes: the benchmark's own calls into single layers ---

  /** core, table and fs probes; returns the planned slices. */
  def probePlan(plan: FsView => Vector[FileSlice]): Vector[FileSlice] = {
    val tl = ctx.probe("core.timeline") {
      val cfg = HoodieConfig.load(path, ctx.hconf)
      val t = new Timeline(path, cfg, ctx.hconf)
      t.completedInstants.size
      (cfg, t)
    }
    tl.foreach { case (_, t) => ctx.add("core.instants", t.completedInstants.size); ctx.add("core.n", 1) }
    ctx.probe("table.open")(HudiTable(spark, path).tableSchema)
    val slices = tl.flatMap { case (cfg, t) =>
      ctx.probe("fs.slice_plan")(plan(new FsView(path, cfg, t, ctx.hconf)))
    }.getOrElse(Vector.empty)
    if (ctx.traced) {
      ctx.add("fs.n", 1)
      ctx.add("fs.slices", slices.size)
      ctx.add("fs.log_files", slices.map(_.logFiles.size).sum)
    }
    slices
  }

  /** log probe: parse every log file of `slices` (bytes read beforehand). */
  def probeLogs(slices: Vector[FileSlice], range: InstantRange): Unit = if (ctx.traced) {
    val blobs = slices.flatMap(_.logFiles).map { lf =>
      graft.util.ReadFully(fs, new Path(lf.path))
    }
    ctx.probe("log.parse")(blobs.foreach(LogFileParser.parse(_, range)))
    ctx.add("log.bytes", blobs.map(_.length.toLong).sum)
    ctx.add("log.n", 1)
  }

  // --- table services ---
  def compact(): Boolean = ctx.action("write.compact")(HudiCompaction.compact(spark, path))
    .instant.isDefined

  def clean(retain: Int): Boolean = {
    ctx.action("write.clean")(HudiCleaner.clean(spark, path, retain))
    true
  }

  /** Bytes and files under the table path (traced-run bookkeeping). */
  def footprint(): (Long, Long) = {
    val it = fs.listFiles(new Path(path), true)
    var b, n = 0L
    while (it.hasNext) { val s = it.next(); b += s.getLen; n += 1 }
    (b, n)
  }

  def writerCounters: (Long, Long) = (HudiWriter.indexProbes.get, HudiWriter.snapshotProbes.get)
}
