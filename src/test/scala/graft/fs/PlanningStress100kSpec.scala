package graft.fs

import graft.SparkTestBase
import graft.core.{HoodieConfig, Timeline}
import graft.log.SparkToAvro
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.{col, count, lit}

/** Planning at 100k files: a synthetic 2,000-partition x 50-file COW
  * table (every base file a byte-copy of one tiny real parquet) with an
  * MDT `column_stats` partition covering ALL 100,000 files — the shape a
  * 100 TB lake presents to the DRIVER. The suite asserts wall-time
  * ceilings on the paths whose cost must stay ~O(files) with small
  * constants and NO per-file remote IO:
  *
  *   - level-parallel listing + file-group assembly (S10/S5);
  *   - R2 pruning served from the ONE indexed metadata read (a footer
  *     fallback here would be 100k ranged reads — the budget catches it);
  *   - COUNT(*) aggregate pushdown from index row counts, asserted
  *     zero-footer via the [[graft.fs.FileStats.footerReads]]
  *     counter, not just time;
  *   - the bloom tier's planned-file cap (stands down above
  *     `graft.bloom.index.max.files` instead of sweeping the driver).
  *
  * Budgets are generous (CI contention) — they bound the ALGORITHM, not
  * the constant: every regression mode they guard (serial listing, per
  * file footer reads in planning, an uncapped per-file index sweep) is a
  * >10x blowup at this width.
  *
  * The index bounds are LOOSE by construction (file n covers [1, n+1],
  * every file truly holds the single row v=1) so range predicates can
  * prune to any target width while every possible plan still returns
  * exact rows — pruning here is never load-bearing for correctness.
  */
class PlanningStress100kSpec extends SparkTestBase {

  private val Partitions = 2000
  private val FilesPerPartition = 50
  private val TotalFiles = Partitions * FilesPerPartition
  private val T1 = "20240101000000000"
  private val T1C = "20240101000001000" // completion ts for the v8 variant's commit

  private lazy val path: String = buildOnce()

  private def fileName(n: Int): String =
    f"00000000-0000-0000-${n / FilesPerPartition}%04d-${n % FilesPerPartition}%012d-0_0-0-0_$T1.parquet"

  private def buildOnce(): String = {
    val base = new Path(
      graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/stress_plan_100k"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val marker = new Path(base, "_READY_v1")
    if (fs.exists(marker)) return base.toString
    fs.delete(base, true)
    fs.mkdirs(new Path(base, ".hoodie"))

    // one real parquet file; every base file is a byte-copy so the footer
    // sampler and any schema fallback stay functional
    import spark.implicits._
    val df = Seq((T1, s"${T1}_0_1", "1", "part0000", "f", "part0000", 1L))
      .toDF("_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name", "p", "v")
    val tmp = new Path(base, ".tmp_proto")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val proto = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    val bytes = {
      val len = fs.getFileStatus(proto).getLen.toInt
      val in = fs.open(proto)
      try { val b = new Array[Byte](len); in.readFully(0, b); b } finally in.close()
    }
    fs.delete(tmp, true)

    def writeText(p: Path, s: String): Unit = {
      val out = fs.create(p, true); out.write(s.getBytes("UTF-8")); out.close()
    }
    writeText(new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=stress_plan_100k
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=v
        |hoodie.table.precombine.field=v
        |hoodie.table.partition.fields=p
        |hoodie.datasource.write.hive_style_partitioning=false
        |hoodie.populate.meta.fields=true
        |hoodie.table.metadata.partitions=column_stats,bloom_filters
        |""".stripMargin)
    val dataAvro = SparkToAvro.toAvroSchema(df.select("p", "v").schema, "stress_record").toString
    val esc = dataAvro.replace("\\", "\\\\").replace("\"", "\\\"")
    writeText(new Path(base, s".hoodie/$T1.commit"),
      s"""{"partitionToWriteStats":{},"extraMetadata":{"schema":"$esc"},"compacted":false}""")

    // 100k byte-copies, written with raw NIO in parallel — the Hadoop
    // local-FS wrapper costs ~1ms/file serially, which is the difference
    // between a 10s and a 3min one-time build at this width
    val localBase = java.nio.file.Paths.get(base.toUri.getPath)
    java.util.stream.IntStream.range(0, Partitions).parallel().forEach { i =>
      val dir = localBase.resolve(f"part$i%04d")
      java.nio.file.Files.createDirectories(dir)
      for (j <- 0 until FilesPerPartition)
        java.nio.file.Files.write(dir.resolve(fileName(i * FilesPerPartition + j)), bytes)
    }

    // MDT column_stats covering every file: loose [1, n+1] bounds on `v`
    // (truthful — every copy holds v=1) + exact valueCount/nullCount, so
    // both R2 pruning AND the COUNT(*) fast tier run zero-footer
    val mdt = new Path(base, ".hoodie/metadata")
    fs.mkdirs(new Path(mdt, ".hoodie"))
    writeText(new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=stress_plan_100k_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    writeText(new Path(mdt, s".hoodie/$T1.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    val csDir = new Path(mdt, "column_stats")
    fs.mkdirs(csDir)
    val records = (0 until TotalFiles).map { n =>
      f"cs$n%06d" -> graft.fixtures.HudiFixtureBuilder.columnStatsBytes(
        f"cs$n%06d", fileName(n), "v", 1L, (n + 1).toLong,
        valueCount = 1L, tight = false)
    }
    val hfile = graft.hfile.HFileWriter.write(
      records,
      Map("schema" ->
        graft.fixtures.HudiFixtureBuilder.columnStatsAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 256)
    val out = fs.create(new Path(csDir, s"col-stats-0000-0_0-0-0_$T1.hfile"), true)
    out.write(hfile)
    out.close()

    fs.create(marker, true).close()
    base.toString
  }

  private def timed[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1000000)
  }

  /** The MDT-LISTED variant of the same 100k files: its `.hoodie`
    * advertises a `files` partition (2,000 partition records + the
    * __all_partitions__ record) so planning never walks the filesystem —
    * the 100 TB listing path. Data bytes are shared via per-partition
    * SYMLINKS into the primary table (zero extra storage); the
    * column_stats HFile is shared too, so the COUNT(*) fast tier rides
    * the same index. An ORPHAN file visible only to an FS walk proves
    * the plan really served from the MDT records.
    */
  private lazy val mdtPath: String = buildMdtVariantOnce()

  private def buildMdtVariantOnce(): String = {
    val primary = buildOnce()
    val base = new Path(
      graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/stress_plan_100k_mdt"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val marker = new Path(base, "_READY_v1")
    if (fs.exists(marker)) return base.toString
    fs.delete(base, true)
    fs.mkdirs(new Path(base, ".hoodie"))
    val localPrimary = java.nio.file.Paths.get(new Path(primary).toUri.getPath)
    val localBase = java.nio.file.Paths.get(base.toUri.getPath)

    def writeText(p: Path, s: String): Unit = {
      val out = fs.create(p, true); out.write(s.getBytes("UTF-8")); out.close()
    }
    // MDT-based listing requires a v8+ table (MetadataTable.isEnabled):
    // v2 timeline layout, completion-stamped commit file
    fs.mkdirs(new Path(base, ".hoodie/timeline"))
    writeText(new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=stress_plan_100k_mdt
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=8
        |hoodie.timeline.layout.version=2
        |hoodie.table.recordkey.fields=v
        |hoodie.table.precombine.field=v
        |hoodie.table.partition.fields=p
        |hoodie.datasource.write.hive_style_partitioning=false
        |hoodie.populate.meta.fields=true
        |hoodie.table.metadata.partitions=files,column_stats
        |""".stripMargin)
    java.nio.file.Files.copy(
      localPrimary.resolve(s".hoodie/$T1.commit"),
      localBase.resolve(s".hoodie/timeline/${T1}_$T1C.commit"))

    // partition symlinks share the primary's 100k data files — except
    // part0000, which is a REAL dir of hard links so it can also hold
    // an ORPHAN (an extra data file an FS walk would list, the MDT
    // records don't, and the PRIMARY table never sees): a plan of
    // exactly 100k slices proves the listing came from the index
    for (i <- 1 until Partitions)
      java.nio.file.Files.createSymbolicLink(
        localBase.resolve(f"part$i%04d"), localPrimary.resolve(f"part$i%04d"))
    val p0 = localBase.resolve("part0000")
    java.nio.file.Files.createDirectories(p0)
    for (j <- 0 until FilesPerPartition)
      java.nio.file.Files.createLink(
        p0.resolve(fileName(j)), localPrimary.resolve("part0000").resolve(fileName(j)))
    java.nio.file.Files.createLink(
      p0.resolve(s"99999999-0000-0000-0000-000000000000-0_0-0-0_$T1.parquet"),
      localPrimary.resolve("part0000").resolve(fileName(0)))

    val mdt = new Path(base, ".hoodie/metadata")
    fs.mkdirs(new Path(mdt, ".hoodie"))
    writeText(new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=stress_plan_100k_mdt_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    writeText(new Path(mdt, s".hoodie/$T1.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    val protoSize = java.nio.file.Files.size(
      localPrimary.resolve("part0000").resolve(fileName(0)))
    import graft.table.FilesPartitionRecord
    val records =
      ((0 until Partitions).map { i =>
        val p = f"part$i%04d"
        p -> graft.fixtures.HudiFixtureBuilder.mdtRecordBytes(
          p, FilesPartitionRecord.TypeFiles,
          (0 until FilesPerPartition).map(j =>
            fileName(i * FilesPerPartition + j) -> protoSize))
      } :+ (FilesPartitionRecord.AllPartitionsKey ->
        graft.fixtures.HudiFixtureBuilder.mdtRecordBytes(
          FilesPartitionRecord.AllPartitionsKey, FilesPartitionRecord.TypeAllPartitions,
          (0 until Partitions).map(i => f"part$i%04d" -> 0L))))
        .sortBy(_._1)
    val filesDir = new Path(mdt, "files")
    fs.mkdirs(filesDir)
    val out = fs.create(new Path(filesDir, s"files-0000-0_0-0-0_$T1.hfile"), true)
    out.write(graft.hfile.HFileWriter.write(records,
      Map("schema" ->
        graft.fixtures.HudiFixtureBuilder.mdtAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64))
    out.close()
    val csDir = new Path(mdt, "column_stats")
    fs.mkdirs(csDir)
    java.nio.file.Files.copy(
      localPrimary.resolve(s".hoodie/metadata/column_stats/col-stats-0000-0_0-0-0_$T1.hfile"),
      localBase.resolve(s".hoodie/metadata/column_stats/col-stats-0000-0_0-0-0_$T1.hfile"))

    fs.create(marker, true).close()
    base.toString
  }

  test("100k-slice snapshot listing + assembly stays in budget") {
    val conf = spark.sessionState.newHadoopConf()
    val config = HoodieConfig.load(path, conf)
    val (slices, wallMs) = timed {
      new FsView(path, config, new Timeline(path, config, conf), conf).slicesAsOf(T1)
    }
    assert(slices.size == TotalFiles)
    assert(wallMs < 60000, s"listing/assembling 100k slices took ${wallMs}ms")
  }

  test("COUNT(*) over 100k files is metadata-only and zero-footer") {
    val before = graft.fs.FileStats.footerReads.get()
    val (n, wallMs) = timed {
      spark.read.format("hudi-graft").load(path)
        .agg(count(col("*")).as("n")).head.getLong(0)
    }
    assert(n == TotalFiles.toLong)
    assert(graft.fs.FileStats.footerReads.get() == before,
      "COUNT(*) with full index coverage must not open any footer")
    assert(wallMs < 60000, s"indexed COUNT(*) at 100k files took ${wallMs}ms")
    // repeat planning must also skip the 100k-record avro decode — the
    // decoded-lookup memo (ColumnStatsIndex.lookupMemo), not just the
    // byte cache, carries the QPS planning path at this width
    val d = graft.table.ColumnStatsIndex.decodes.get()
    val (n2, wall2) = timed {
      spark.read.format("hudi-graft").load(path)
        .agg(count(col("*")).as("n")).head.getLong(0)
    }
    assert(n2 == TotalFiles.toLong)
    assert(graft.table.ColumnStatsIndex.decodes.get() == d,
      "repeat COUNT(*) planning must not re-decode the column_stats partition")
    assert(wall2 < 60000, s"repeat indexed COUNT(*) took ${wall2}ms")
  }

  test("GROUP BY partition COUNT(*) over 100k files / 2000 groups is metadata-only") {
    val before = graft.fs.FileStats.footerReads.get()
    val (rows, wallMs) = timed {
      spark.read.format("hudi-graft").load(path)
        .groupBy(col("p")).agg(count(col("*")).as("n")).collect()
    }
    assert(rows.length == Partitions)
    assert(rows.forall(_.getLong(1) == FilesPerPartition.toLong))
    assert(graft.fs.FileStats.footerReads.get() == before,
      "grouped COUNT(*) with full index coverage must not open any footer")
    assert(wallMs < 60000, s"grouped metadata COUNT(*) at 2000 partitions took ${wallMs}ms")
  }

  test("R2 index pruning over 100k entries: prune-all and prune-to-one, zero rows read") {
    // every bound is [1, n+1]: >= 100001 proves NO file can match ...
    val (noneDf, wAll) = timed {
      val d = spark.read.format("hudi-graft").load(path).filter(col("v") >= lit(100001L))
      d.queryExecution.executedPlan.toString() // force planning
      d
    }
    assert(noneDf.queryExecution.executedPlan.toString().contains(", 0 slices"),
      s"prune-all must plan zero slices: ${noneDf.queryExecution.executedPlan}")
    assert(noneDf.count() == 0)
    assert(wAll < 60000, s"prune-all planning took ${wAll}ms")
    // ... and >= 100000 keeps exactly the one file whose loose bound
    // reaches it (which still holds no matching row — bounds only prune)
    val one = spark.read.format("hudi-graft").load(path).filter(col("v") >= lit(100000L))
    assert(one.queryExecution.executedPlan.toString().contains(", 1 slices"),
      s"prune-to-one must plan one slice: ${one.queryExecution.executedPlan}")
    assert(one.count() == 0)
  }

  test("MDT files-partition listing at 100k files: index-served, FS-identical, in budget") {
    val conf = spark.sessionState.newHadoopConf()
    val config = HoodieConfig.load(mdtPath, conf)
    val (slices, wallMs) = timed {
      new FsView(mdtPath, config, new Timeline(mdtPath, config, conf), conf).slicesAsOf(T1)
    }
    // exactly 100k — the orphan in part0000 is FS-visible but absent
    // from the MDT records, so this count proves index-served listing
    assert(slices.size == TotalFiles,
      s"MDT listing must exclude the orphan: got ${slices.size}")
    assert(wallMs < 60000, s"MDT listing of 100k slices took ${wallMs}ms")
    // plan CONTENT matches the FS-listed primary: same (partition, file
    // name, size) set, so every downstream tier behaves identically
    val pconf = HoodieConfig.load(path, conf)
    val fsSlices = new FsView(path, pconf, new Timeline(path, pconf, conf), conf)
      .slicesAsOf(T1)
    def key(v: Vector[FileSlice]) =
      v.map(sl => (sl.partitionPath, sl.baseFile.get.fileName, sl.baseFile.get.size)).toSet
    assert(key(slices) == key(fsSlices))
  }

  test("COUNT(*) on the MDT-listed variant is metadata-only end to end") {
    val before = graft.fs.FileStats.footerReads.get()
    val (n, wallMs) = timed {
      spark.read.format("hudi-graft").load(mdtPath)
        .agg(count(col("*")).as("n")).head.getLong(0)
    }
    assert(n == TotalFiles.toLong,
      "indexed COUNT(*) must count the MDT-listed files (orphan excluded)")
    assert(graft.fs.FileStats.footerReads.get() == before,
      "MDT listing + column_stats coverage must serve COUNT(*) with zero footers")
    assert(wallMs < 60000, s"MDT-listed COUNT(*) took ${wallMs}ms")
  }

  test("SPJ key grouping over 100k slices / 2000 values plans in budget, shuffle-free") {
    // the r11 SPJ path at lake width: spjGroupsFor strict-parses every
    // slice's partition path and groups by typed key — 100k parses /
    // 2000 groups must stay a sub-second driver pass (the budget bounds
    // the algorithm; a per-path regex blowup or accidental quadratic
    // group-by is a >10x blowup here). The aggregation on the partition
    // key must then ride the reported grouping with NO exchange.
    spark.conf.set("spark.sql.graft.planning.preserveDataGrouping", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (got, wallMs) = timed {
        val agg = spark.read.format("hudi-graft").load(path)
          .groupBy("p").agg(count(lit(1)).as("n"))
        val plan = agg.queryExecution.executedPlan.toString()
        assert(!plan.contains("Exchange"),
          s"partition-key agg over SPJ groups must be shuffle-free:\n${plan.take(2000)}")
        agg.collect()
      }
      assert(got.length == Partitions &&
        got.forall(_.getLong(1) == FilesPerPartition.toLong))
      assert(wallMs < 120000, s"100k SPJ grouped aggregation took ${wallMs}ms")
    } finally {
      spark.conf.unset("spark.sql.graft.planning.preserveDataGrouping")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("cdc.file.groups restriction over 100k slices plans the subset in budget") {
    // the r12 inferred-CDC plumbing at lake width: a commit touching 500
    // of 100k groups must restrict the plan with one O(files) set-filter
    // pass — the budget bounds the algorithm (an accidental per-id scan
    // would be 500x worse), and the plan width proves the restriction
    // bounds IO, not just rows
    val ids = (0 until 500).map(n => fileName(n * 200).stripSuffix(s"_0-0-0_$T1.parquet"))
    val (planStr, wallMs) = timed {
      spark.read.format("hudi-graft")
        .option("cdc.file.groups", ids.mkString(","))
        .load(path)
        .queryExecution.executedPlan.toString()
    }
    assert(planStr.contains(" 500 slices"),
      s"500-group restriction must plan 500 slices: ${planStr.take(2000)}")
    assert(wallMs < 60000, s"cdc.file.groups restriction over 100k slices took ${wallMs}ms")
  }

  test("IS NULL partition classification over 2000 dirs prunes in budget") {
    // the r11 null-predicate path at width: classifying every partition
    // dir against the version-gated sentinel set is O(partitions) string
    // work — no dir is a sentinel here, so `p IS NULL` prunes the whole
    // table at plan time (0 slices) without touching a file
    val (planStr, wallMs) = timed {
      spark.read.format("hudi-graft").load(path)
        .filter(col("p").isNull)
        .queryExecution.executedPlan.toString()
    }
    assert(planStr.contains(", 0 slices"),
      s"IS NULL over sentinel-free dirs must prune everything: ${planStr.take(2000)}")
    assert(wallMs < 60000, s"IS NULL classification took ${wallMs}ms")
  }

  test("bloom tier stands down above the planned-file cap without a driver sweep") {
    // v === 1 survives every loose bound, so the record-key equality
    // reaches the bloom tier with all 100k files planned — far past
    // BloomIndexMaxFiles, it must stand down BEFORE any per-file probe
    // (the advertised bloom_filters partition is deliberately absent:
    // any attempted read would throw, and a swallowed throw still pays
    // the IO attempt — the time budget is the detector)
    val (planStr, wallMs) = timed {
      spark.read.format("hudi-graft").load(path).filter(col("v") === lit(1L))
        .queryExecution.executedPlan.toString()
    }
    assert(planStr.contains(s", $TotalFiles slices"),
      s"capped bloom tier must keep the full plan: $planStr")
    assert(wallMs < 60000, s"bloom stand-down planning took ${wallMs}ms")
  }
}
