package graft.sources

import graft.SparkTestBase
import graft.table.{Fixtures, HudiTable}
import org.apache.spark.sql.functions._

/** DSv2 connector (D1-D4) against the reference golden fixtures: the
  * `spark.read.format("hudi-graft")` surface must agree with the
  * DataFrame-level engine API, push projections/filters, and run the MOR
  * merge inside the partition reader (no shuffle in the scan).
  */
class DataSourceV2Spec extends SparkTestBase {

  private def load(path: String) = spark.read.format("hudi-graft").load(path)

  private lazy val cowV6 =
    Fixtures.table("sample_table/cow/v6_simplekeygen_nonhivestyle.zip", "v6_simplekeygen_nonhivestyle")
  private lazy val morV8 =
    Fixtures.table("quickstart_trips_table/mor/avro/v8_trips_8i3u1d.zip", "v8_trips_8i3u1d")

  test("dsv2 cow snapshot equals table-API snapshot") {
    assume(cowV6.isDefined)
    val viaDsv2 = load(cowV6.get).select("id", "name", "isActive").collect().toSet
    val viaApi = HudiTable(spark, cowV6.get).snapshot()
      .select("id", "name", "isActive").collect().toSet
    assert(viaDsv2 == viaApi && viaDsv2.size == 4)
  }

  test("dsv2 projection pushdown prunes the read schema") {
    assume(cowV6.isDefined)
    val df = load(cowV6.get).select("id")
    val scanLine = df.queryExecution.executedPlan.toString()
    assert(df.collect().map(_.getInt(0)).toSet == Set(1, 2, 3, 4))
    // the scan's read schema must not contain the wide columns
    assert(!scanLine.contains("arrayField") || scanLine.contains("PushedFilters"))
  }

  test("dsv2 partition filter prunes input partitions") {
    assume(cowV6.isDefined)
    val all = load(cowV6.get)
    val filtered = all.filter(col("byteField") === 10)
    def parts(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
    assert(parts(filtered) < parts(all))
    assert(filtered.select("id").collect().map(_.getInt(0)).toSet == Set(1, 3))
  }

  test("dsv2 filters still apply as residuals") {
    assume(cowV6.isDefined)
    val rows = load(cowV6.get).filter(col("name") === "Alice").select("id").collect()
    assert(rows.map(_.getInt(0)).toSet == Set(1))
  }

  test("dsv2 time travel option") {
    assume(cowV6.isDefined)
    val t = HudiTable(spark, cowV6.get)
    val first = t.timeline.completedInstants.head.timestamp
    val rows = spark.read.format("hudi-graft")
      .option("as.of.timestamp", first)
      .load(cowV6.get)
      .select("id", "isActive").collect().map(r => (r.getInt(0), r.getBoolean(1))).toSet
    assert(rows == Set((1, true), (2, false), (3, true)))
  }

  test("dsv2 mor snapshot merges in the partition reader") {
    assume(morV8.isDefined)
    val rows = load(morV8.get).select("rider", "fare")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rows.keySet == Set("rider-A", "rider-C", "rider-D", "rider-E", "rider-G", "rider-I"))
    assert(rows("rider-A") == 0.0 && rows("rider-G") == 0.0)
  }

  test("dsv2 mor projection that drops merge columns still merges") {
    assume(morV8.isDefined)
    // fare/rider only — record key, seqno, ordering are widened internally
    val fares = load(morV8.get).select("fare").collect().map(_.getDouble(0)).sorted
    assert(fares.length == 6 && fares.count(_ == 0.0) == 2)
  }

  test("dsv2 footer min/max pruning plans zero partitions for impossible filters") {
    assume(cowV6.isDefined)
    val all = load(cowV6.get)
    // id range in the fixture is 1..4 — an impossible range must prune
    // every file at planning (the plan_tests.rs:457-514 analog)
    val none = all.filter(col("id") > 1000)
    assert(none.rdd.getNumPartitions == 0 || none.count() == 0)
    val some = all.filter(col("id") >= 1)
    assert(some.count() == 4)
  }

  test("dsv2 runtime filtering drops partitions at execution time (DPP)") {
    assume(cowV6.isDefined)
    import org.apache.spark.sql.sources.In
    val hudi = graft.table.HudiTable(spark, cowV6.get)
    def freshScan = new GraftScanBuilder(hudi, hudi.tableSchema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
      .build().asInstanceOf[GraftScan]
    val unfiltered = freshScan.planInputPartitions().length
    assert(unfiltered > 1)
    val scan = freshScan
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("byteField"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("byteField", Array(10))))
    val filtered = scan.planInputPartitions().length
    assert(filtered < unfiltered && filtered > 0)
  }

  test("dsv2 reports statistics with estimated row count") {
    assume(cowV6.isDefined)
    val hudi = graft.table.HudiTable(spark, cowV6.get)
    val scan = new GraftScanBuilder(hudi, hudi.tableSchema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
      .build().asInstanceOf[GraftScan]
    val stats = scan.estimateStatistics()
    assert(stats.sizeInBytes().getAsLong > 0)
    assert(stats.numRows().isPresent && stats.numRows().getAsLong > 0)
  }

  test("dsv2 SQL DDL registration: CREATE TABLE ... USING hudi-graft") {
    assume(cowV6.isDefined)
    spark.sql("DROP TABLE IF EXISTS graft_ddl_test")
    spark.sql(
      s"CREATE TABLE graft_ddl_test USING `hudi-graft` OPTIONS (path '${cowV6.get}')")
    try {
      val ids = spark.sql("SELECT id FROM graft_ddl_test WHERE isActive = false")
        .collect().map(_.getInt(0)).toSet
      assert(ids == Set(1, 2))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ddl_test")
  }

  test("dsv2 re-injects dropped partition columns") {
    val sf = "/root/testdata/sf0.001"
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sf)
    val df = load(graft.fixtures.HudiFixtureBuilder.droppedPath(sf))
      .select("n_nationkey", "n_regionkey")
    val rows = df.collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    val exp = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_regionkey")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(rows == exp && rows.nonEmpty)
  }

  test("dsv2 incremental query type returns only in-range rows") {
    assume(cowV6.isDefined)
    val t = graft.table.HudiTable(spark, cowV6.get)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.take(2)
    val rows = spark.read.format("hudi-graft")
      .option("query.type", "incremental")
      .option("start.timestamp", c1)
      .option("end.timestamp", c2)
      .load(cowV6.get)
      .select("id", "isActive").collect().map(r => (r.getInt(0), r.getBoolean(1))).toSet
    assert(rows == Set((1, false), (4, true)))
  }

  test("the reference's hoodie.read.* option spellings select the same semantics") {
    assume(cowV6.isDefined)
    val t = graft.table.HudiTable(spark, cowV6.get)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.take(2)
    // a hudi-rs user's exact keys (config/read.rs:115-122) must not
    // silently read a snapshot
    val rows = spark.read.format("hudi-graft")
      .option("hoodie.read.query.type", "incremental")
      .option("hoodie.read.start.timestamp", c1)
      .option("hoodie.read.end.timestamp", c2)
      .load(cowV6.get)
      .select("id", "isActive").collect().map(r => (r.getInt(0), r.getBoolean(1))).toSet
    assert(rows == Set((1, false), (4, true)))
    // the short spelling wins when both are present
    val shortWins = spark.read.format("hudi-graft")
      .option("hoodie.read.as.of.timestamp", c2)
      .option("as.of.timestamp", c1)
      .load(cowV6.get).count()
    assert(shortWins == spark.read.format("hudi-graft")
      .option("as.of.timestamp", c1).load(cowV6.get).count())
    // the reference's pure tuning hints are accepted and ignored
    assert(spark.read.format("hudi-graft")
      .option("hoodie.read.stream.batch_size", "2048")
      .option("hoodie.read.file.slice.read.concurrency", "4")
      .load(cowV6.get).count() > 0)
    // unknown query.type refuses (the reference's InvalidValue behavior)
    val bad = intercept[Exception] {
      spark.read.format("hudi-graft")
        .option("query.type", "read_optimized").load(cowV6.get).collect()
    }
    assert(bad.getMessage.contains("unknown query.type"), bad.getMessage)
  }

  test("upstream Spark-Hudi option spellings select the same semantics") {
    assume(cowV6.isDefined)
    val t = graft.table.HudiTable(spark, cowV6.get)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.take(2)
    // incremental via hoodie.datasource.query.type + begin/end instanttime
    // (same exclusive-begin / inclusive-end contract)
    val rows = spark.read.format("hudi-graft")
      .option("hoodie.datasource.query.type", "incremental")
      .option("hoodie.datasource.read.begin.instanttime", c1)
      .option("hoodie.datasource.read.end.instanttime", c2)
      .load(cowV6.get)
      .select("id", "isActive").collect().map(r => (r.getInt(0), r.getBoolean(1))).toSet
    assert(rows == Set((1, false), (4, true)))
    // the '000' begin sentinel means no lower bound (full history)
    val full = spark.read.format("hudi-graft")
      .option("hoodie.datasource.query.type", "incremental")
      .option("hoodie.datasource.read.begin.instanttime", "000")
      .load(cowV6.get).count()
    assert(full == spark.read.format("hudi-graft")
      .option("query.type", "incremental").load(cowV6.get).count())
    // as.of.instant time travel
    assert(spark.read.format("hudi-graft").option("as.of.instant", c1)
      .load(cowV6.get).count() ==
      spark.read.format("hudi-graft").option("as.of.timestamp", c1)
        .load(cowV6.get).count())
    // query.type=read_optimized maps to the boolean (MOR: base-only rows)
    val mor = graft.fixtures.HudiFixtureBuilder.morPath(sfDir)
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val roRows = spark.read.format("hudi-graft")
      .option("hoodie.datasource.query.type", "read_optimized").load(mor).count()
    assert(roRows == spark.read.format("hudi-graft")
      .option("read.optimized", "true").load(mor).count())
    assert(roRows != spark.read.format("hudi-graft").load(mor).count(),
      "read_optimized must differ from the merged snapshot on a log-bearing MOR table")
    // a typo'd value refuses
    val bad = intercept[Exception] {
      spark.read.format("hudi-graft")
        .option("hoodie.datasource.query.type", "snapshots").load(cowV6.get).collect()
    }
    assert(bad.getMessage.contains("hoodie.datasource.query.type"), bad.getMessage)
    // row-set-changing upstream options refuse loudly instead of being
    // swallowed; their do-nothing values pass
    val glob = intercept[Exception] {
      spark.read.format("hudi-graft")
        .option("hoodie.datasource.read.incr.path.glob", "americas/*")
        .load(cowV6.get).collect()
    }
    assert(glob.getMessage.contains("incr.path.glob"), glob.getMessage)
    val fts = intercept[Exception] {
      spark.read.format("hudi-graft")
        .option("hoodie.datasource.read.incr.fallback.fulltablescan.enable", "true")
        .load(cowV6.get).collect()
    }
    assert(fts.getMessage.contains("fulltablescan"), fts.getMessage)
    assert(spark.read.format("hudi-graft")
      .option("hoodie.datasource.read.incr.fallback.fulltablescan.enable", "false")
      .option("hoodie.datasource.read.schema.use.end.instanttime", "false")
      .load(cowV6.get).count() > 0)
    // both foreign spellings present: the reference's wins (documented
    // precedence, no silent clobber)
    val precedence = spark.read.format("hudi-graft")
      .option("hoodie.read.as.of.timestamp", c1)
      .option("as.of.instant", c2)
      .load(cowV6.get).count()
    assert(precedence == spark.read.format("hudi-graft")
      .option("as.of.timestamp", c1).load(cowV6.get).count())
  }

  test("dsv2 incremental stays columnar: stats-contained AND straddling ranges") {
    assume(cowV6.isDefined)
    val t = graft.table.HudiTable(spark, cowV6.get)
    val instants = t.timeline.completedInstants.map(_.timestamp).distinct
    val Seq(c1, c2) = instants.take(2)
    // full-history range: every row's commit time is in ("0", latest] and
    // footer stats prove it -> vectorized columnar path, no row filter
    val full = spark.read.format("hudi-graft")
      .option("query.type", "incremental")
      .option("start.timestamp", "0")
      .option("end.timestamp", instants.last)
      .load(cowV6.get)
      .select("id", "name")
    assert(full.queryExecution.executedPlan.toString().contains("ColumnarToRow"),
      "stats-contained incremental read must stay columnar")
    val viaSnapshot = HudiTable(spark, cowV6.get).snapshot()
      .select("id", "name").collect().toSet
    assert(full.collect().toSet == viaSnapshot && viaSnapshot.size == 4)
    // boundary range (c1, c2]: the c2 rewrite carries c1-era rows, so the
    // containment proof fails — the GENERAL columnar incremental path must
    // hold: commit range pushed as a parquet predicate, exact residual via
    // the zero-copy SelectedColumnVector view, still vectorized
    val partial = spark.read.format("hudi-graft")
      .option("query.type", "incremental")
      .option("start.timestamp", c1)
      .option("end.timestamp", c2)
      .load(cowV6.get)
      .select("id", "name")
    assert(partial.queryExecution.executedPlan.toString().contains("ColumnarToRow"),
      "straddling commit range must stay columnar (selection-view residual)")
    val expected = t.incremental(Some(c1), Some(c2)).select("id", "name")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(expected.map(_._1) == Set(1, 4), "fixture precondition")
    assert(partial.collect().map(r => (r.getInt(0), r.getString(1))).toSet == expected,
      "range-filtered columnar read must return exactly the in-range rows")
  }

  test("dsv2 incremental partition-prunes (reference: pruning minus stats)") {
    assume(cowV6.isDefined)
    val t = graft.table.HudiTable(spark, cowV6.get)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.take(2)
    val base = spark.read.format("hudi-graft")
      .option("query.type", "incremental")
      .option("start.timestamp", c1).option("end.timestamp", c2)
      .load(cowV6.get)
    // unfiltered: rows from commit 2 = upsert id 1 (byteField 10) + insert id 4 (byteField 30)
    val filtered = base.filter(col("byteField") === 10)
    assert(filtered.rdd.getNumPartitions < base.rdd.getNumPartitions)
    assert(filtered.select("id").collect().map(_.getInt(0)).toSet == Set(1))
    // DataFrame API takes partition filters too
    val viaApi = t.incremental(Some(c1), Some(c2),
      partitionFilters = Seq(graft.fs.PartitionFilter("byteField", "=", Seq("10"))))
      .select("id").collect().map(_.getInt(0)).toSet
    assert(viaApi == Set(1))
  }

  test("dsv2 append-only MOR keeps every log version (no-metafields)") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import java.io.DataOutputStream
    val base = new Path(graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/append_only_mor"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(base, true)
    fs.mkdirs(new Path(base, ".hoodie"))
    val props =
      """hoodie.table.name=append_only_mor
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.populate.meta.fields=false
        |""".stripMargin
    val out0 = fs.create(new Path(base, ".hoodie/hoodie.properties"), true)
    out0.write(props.getBytes("UTF-8")); out0.close()
    // base file: 2 rows at t1
    import spark.implicits._
    val t1 = "20240101000000000"; val t2 = "20240102000000000"
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val tmp = new Path(base, ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    val fid = "00000000-0000-0000-0000-000000000000-0"
    fs.rename(part, new Path(base, s"${fid}_0-0-0_$t1.parquet"))
    fs.delete(tmp, true)
    val o1 = fs.create(new Path(base, s".hoodie/$t1.commit"), true)
    o1.write(s"""{"partitionToWriteStats":{"":[{"fileId":"$fid","path":"${fid}_0-0-0_$t1.parquet"}]}}""".getBytes); o1.close()
    // log: 2 appended rows at t2 (no record keys — append semantics)
    val avro = graft.log.SparkToAvro.toAvroSchema(df.schema, "r")
    val recs = Seq(org.apache.spark.sql.Row(3, "c"), org.apache.spark.sql.Row(1, "a2"))
      .map(graft.log.SparkToAvro.toRecord(_, df.schema, avro))
    val lo = new DataOutputStream(fs.create(new Path(base, s".${fid}_$t1.log.1_0-0-0"), true))
    try graft.log.LogFileWriter.avroDataBlock(lo, t2, avro, recs) finally lo.close()
    val o2 = fs.create(new Path(base, s".hoodie/$t2.deltacommit"), true)
    o2.write(s"""{"partitionToWriteStats":{"":[{"fileId":"$fid","path":".${fid}_$t1.log.1_0-0-0"}]}}""".getBytes); o2.close()

    val rows = load(base.toString).select("id", "v")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // ALL 4 versions survive: append-only never collapses by key
    assert(rows == Set((1, "a"), (2, "b"), (3, "c"), (1, "a2")))

    // incremental through the connector: without meta fields the commit-time
    // row mask must be skipped (file_group/reader.rs:652-701), not null out
    // every row — the range-bounded log scan plus touched-file-group
    // planning is the only filter
    val inc = spark.read.format("hudi-graft")
      .option("query.type", "incremental")
      .option("start.timestamp", t1)
      .option("end.timestamp", t2)
      .load(base.toString)
      .select("id", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(inc.nonEmpty, "no-metafields incremental must not drop all rows")
    assert(inc.contains((3, "c")) && inc.contains((1, "a2")))
  }

  test("dsv2 cow scan is columnar; mor SNAPSHOT merges in batch-land (r12)") {
    assume(cowV6.isDefined && morV8.isDefined)
    // COW, atomic projection: the D3 routing must hand Spark columnar
    // batches (plan shows ColumnarToRow above the BatchScan)
    val cow = load(cowV6.get).select("id", "name")
    assert(cow.queryExecution.executedPlan.toString().contains("ColumnarToRow"))
    assert(cow.collect().length == 4)
    // MOR snapshot with live log files: the merge now runs COLUMNAR
    // (GraftColumnarMergeReader — vectorized base + selection view +
    // overlay batches), same merged rows as the row path produced
    val mor = load(morV8.get).select("rider", "fare")
    assert(mor.queryExecution.executedPlan.toString().contains("ColumnarToRow"),
      s"MOR snapshot should merge columnar:\n${mor.queryExecution.executedPlan}")
    assert(mor.collect().length == 6)
    // the merged CONTENT must equal the proven row-path merge: force the
    // row path by reading incrementally over the full history (a
    // withCommitCol shape) and compare latest-state rows per key
    val snapRows = load(morV8.get)
      .select("_hoodie_record_key", "rider", "fare")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sorted
    assert(snapRows.length == 6 && snapRows.map(_._1).distinct.length == 6)
    // commit-ranged MOR reads merge columnar too (r12 second pass): the
    // (start, end] filter applies post-merge inside the reader
    val inc = spark.read.format("hudi-graft")
      .option("query.type", "incremental")
      .load(morV8.get).select("rider", "fare")
    assert(inc.queryExecution.executedPlan.toString().contains("ColumnarToRow"),
      "commit-ranged MOR reads should ride the columnar merge")
  }

  test("columnar MOR merge equals the row merge row-for-row on every fixture") {
    // direct differential between the two merge executions: the same
    // snapshot read with the vectorized reader disabled routes through
    // the row-based GraftPartitionReader (supportBatch is false), so any
    // divergence in merge/delete precedence between SliceMergeState's
    // two consumers surfaces as a row diff. The builder's MOR fixtures
    // (update+delete logs, log-only groups, Lance base) run everywhere;
    // the reference tables join only where the reference data exists,
    // and only they cover the real Spark-written v8 avro log bytes and
    // the nested-schema MOR-parquet fallback to the row path (v6
    // SampleTable)
    val sf = "/root/testdata/sf0.001"
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sf)
    val paths =
      morV8.toSeq ++
        Fixtures.table("sample_table/mor/parquet/v6_simplekeygen_nonhivestyle.zip",
          "v6_simplekeygen_nonhivestyle", "dsv2diff_v6_morpq").toSeq ++
        Seq(graft.fixtures.HudiFixtureBuilder.morPath(sf),
          graft.fixtures.HudiFixtureBuilder.morLogOnlyPath(sf),
          // Lance MOR merges columnar too (r13): same differential
          graft.fixtures.HudiFixtureBuilder.morLancePath(sf))
    // with the reference data present, at least one reference table must
    // enter the differential
    if (Fixtures.referenceDataPresent) assert(paths.size >= 4)
    // plan-shape: the Lance MOR snapshot must actually take the columnar
    // merge (ColumnarToRow above the scan), not silently fall to rows
    val lanceMor = load(graft.fixtures.HudiFixtureBuilder.morLancePath(sf))
      .select("n_nationkey", "n_name", "score")
    assert(lanceMor.queryExecution.executedPlan.toString().contains("ColumnarToRow"),
      s"Lance MOR snapshot should merge columnar:\n${lanceMor.queryExecution.executedPlan}")
    // binary columns stringify as identity hashes — canonicalize them
    def canon(r: org.apache.spark.sql.Row): String =
      r.toSeq.map {
        case b: Array[Byte] => java.util.Arrays.toString(b)
        case x => String.valueOf(x)
      }.mkString("|")
    // snapshot + full-history incremental + tombstone-emitting
    // incremental: all three merge shapes, both executions
    def reads(p: String): Seq[org.apache.spark.sql.DataFrame] = Seq(
      load(p),
      spark.read.format("hudi-graft").option("query.type", "incremental").load(p),
      spark.read.format("hudi-graft").option("query.type", "incremental")
        .option("stream.emit.deletes", "true").load(p))
    for (p <- paths; (df, shape) <- reads(p).zipWithIndex) {
      val columnar = df.collect().map(canon).sorted.toSeq
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
      try {
        val rowDf = reads(p)(shape)
        // the row side must really be the row merge, or the differential
        // compares columnar with columnar
        val rowPlan = rowDf.queryExecution.executedPlan.toString()
        assert(!rowPlan.contains("ColumnarToRow"),
          s"row side of $p shape $shape took the columnar merge:\n$rowPlan")
        val viaRow = rowDf.collect().map(canon).sorted.toSeq
        assert(columnar == viaRow, s"row/columnar merge diverge on $p shape $shape")
        assert(columnar.nonEmpty, s"vacuous differential on $p shape $shape")
      } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    }
  }

  test("dsv2 columnar scan respects projection order and partition re-injection") {
    val sf = "/root/testdata/sf0.001"
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sf)
    // projection order differs from the delegate's (partition col first)
    val df = load(graft.fixtures.HudiFixtureBuilder.droppedPath(sf))
      .select("n_regionkey", "n_nationkey", "n_name")
    val rows = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    val exp = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_regionkey", "n_nationkey", "n_name")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    assert(rows.sorted.toSeq == exp.sorted.toSeq && rows.nonEmpty)
  }

  test("dsv2 exact partition-equality pushdown drops the residual filter") {
    assume(cowV6.isDefined)
    import org.apache.spark.sql.execution.FilterExec
    // partition-equality conjunct: pruning is authoritative, no re-filter
    val exact = load(cowV6.get).filter(col("byteField") === 10)
    val exactFilters = exact.queryExecution.executedPlan.collect { case f: FilterExec => f }
    assert(exactFilters.isEmpty,
      s"partition equality must be Exact (no FilterExec), got: $exactFilters")
    assert(exact.select("id").collect().map(_.getInt(0)).toSet == Set(1, 3))
    // non-partition conjunct stays residual (Inexact)
    val inexact = load(cowV6.get).filter(col("name") === "Alice")
    val residuals = inexact.queryExecution.executedPlan.collect { case f: FilterExec => f }
    assert(residuals.nonEmpty, "row-level predicates must keep the residual FilterExec")
    assert(inexact.select("id").collect().map(_.getInt(0)).toSet == Set(1))
  }

  test("dsv2 chunks slices into bounded input partitions") {
    val sf = "/root/testdata/sf0.001"
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sf)
    val path = graft.fixtures.HudiFixtureBuilder.cowPath(sf)
    val all = load(path)
    val allRows = all.count()
    val chunked = spark.read.format("hudi-graft")
      .option("input.partitions", "4")
      .load(path)
    assert(chunked.rdd.getNumPartitions <= 4)
    assert(chunked.count() == allRows)
    assert(chunked.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq ==
      all.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("dsv2 limit pushdown bounds rows per partition") {
    val sf = "/root/testdata/sf0.001"
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sf)
    val path = graft.fixtures.HudiFixtureBuilder.cowPath(sf)
    assert(load(path).limit(7).count() == 7)
    // through chunking too
    assert(spark.read.format("hudi-graft").option("input.partitions", "2")
      .load(path).limit(3).collect().length == 3)
  }

  test("dsv2 mor read-optimized option skips logs") {
    assume(morV8.isDefined)
    val df = spark.read.format("hudi-graft")
      .option("read.optimized", "true")
      .load(morV8.get)
    // rider-J was deleted ONLY via logs after compaction... the compacted
    // base already applied pre-compaction ops, so just check row count
    // matches the table-API read-optimized result
    val api = HudiTable(spark, morV8.get).snapshot(readOptimized = true).count()
    assert(df.count() == api)
  }

  test("incremental reads apply file-level stats pruning (base-only gate)") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val range = graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)
    val ordersDf = spark.read.parquet(s"$sfDir/orders.parquet")
    val q1 = ordersDf.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.col("o_orderkey"))).head.getLong(0) / 4
    val inc = spark.read.format("hudi-graft")
      .option("query.type", "incremental")
      .load(range)
      .filter(org.apache.spark.sql.functions.col("o_orderkey") <= q1)
    // the quartile split leaves one matching file group of four
    assert(inc.queryExecution.executedPlan.toString().contains("1 slices"),
      s"incremental stats pruning did not engage: ${inc.queryExecution.executedPlan}")
    val exp = ordersDf.filter(org.apache.spark.sql.functions.col("o_orderkey") <= q1).count()
    assert(inc.count() == exp)
  }

  test("COUNT(*) pushes down to footer metadata, never reading data") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count}
    val range = graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)
    val cnt = spark.read.format("hudi-graft").load(range).agg(count(col("*")).as("n"))
    val plan = cnt.queryExecution.executedPlan.toString()
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"count(*) was not served from metadata: $plan")
    val exp = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(cnt.head.getLong(0) == exp)
    // MOR snapshot must NOT push (logs change counts) ...
    val mor = graft.fixtures.HudiFixtureBuilder.morPath(sfDir)
    val morCnt = spark.read.format("hudi-graft").load(mor).agg(count(col("*")).as("n"))
    assert(morCnt.queryExecution.executedPlan.toString().contains("hudi-graft"))
    // ... but read-optimized MOR is base-only and may
    val ro = spark.read.format("hudi-graft").option("read.optimized", "true")
      .load(mor).agg(count(col("*")).as("n"))
    assert(ro.queryExecution.executedPlan.toString().contains("LocalTableScan"))
    val roExp = spark.read.format("hudi-graft").option("read.optimized", "true")
      .load(mor).count()
    assert(ro.head.getLong(0) ==
      graft.table.HudiTable(spark, mor).snapshot(readOptimized = true).count())
    // filters disable the pushdown and stay correct
    val filtered = spark.read.format("hudi-graft").load(range)
      .filter(col("o_orderstatus") === "P").agg(count(col("*")).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString().contains("LocalTableScan"))
    assert(filtered.head.getLong(0) ==
      spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderstatus") === "P").count())
  }

  test("MIN/MAX push down to footer metadata alongside COUNT(*)") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count, max, min}
    val range = graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)
    val agg = spark.read.format("hudi-graft").load(range)
      .agg(count(col("*")).as("n"), min(col("o_orderkey")).as("mn"),
        max(col("o_totalprice")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString()
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"min/max not served from metadata: $plan")
    val exp = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(count(col("*")), min(col("o_orderkey")), max(col("o_totalprice"))).head
    val got = agg.head
    assert(got.getLong(0) == exp.getLong(0))
    assert(got.getLong(1) == exp.getLong(1))
    assert(got.getDouble(2) == exp.getDouble(2))
    // string MIN/MAX must NOT push (truncation risk) — plan scans
    val s2 = spark.read.format("hudi-graft").load(range)
      .agg(min(col("o_orderstatus")).as("mn"))
    assert(!s2.queryExecution.executedPlan.toString().contains("LocalTableScan"))
    assert(s2.head.getString(0) ==
      spark.read.parquet(s"$sfDir/orders.parquet")
        .agg(min(col("o_orderstatus"))).head.getString(0))
  }

  test("MIN/MAX-only aggregates serve from the tight column-stats index") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, max, min}
    val range = graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)
    // the fixture's index is tight per file group -> index-only path
    val t = graft.table.HudiTable(spark, range)
    assert(t.columnStats.values.exists(_.columns.values.exists(c => c.tight && c.range.isDefined)))
    val agg = spark.read.format("hudi-graft").load(range)
      .agg(min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString().contains("LocalTableScan"))
    val exp = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head
    val got = agg.head
    assert(got.getLong(0) == exp.getLong(0) && got.getLong(1) == exp.getLong(1))
  }

  test("IN and IS NULL predicates prune slices through the stats index") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.col
    val range = graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)
    val base = spark.read.parquet(s"$sfDir/orders.parquet")
    val mn = base.agg(org.apache.spark.sql.functions.min(col("o_orderkey"))).head.getLong(0)
    // IN with both values inside the first key quartile -> one slice
    val in = spark.read.format("hudi-graft").load(range)
      .filter(col("o_orderkey").isin(mn, mn + 1))
    assert(in.queryExecution.executedPlan.toString().contains("1 slices"),
      s"IN did not prune: ${in.queryExecution.executedPlan}")
    assert(in.count() == base.filter(col("o_orderkey").isin(mn, mn + 1)).count())
    // IS NULL on the zero-null key column -> every slice pruned
    val isNull = spark.read.format("hudi-graft").load(range)
      .filter(col("o_orderkey").isNull)
    assert(isNull.queryExecution.executedPlan.toString().contains("0 slices"),
      s"IS NULL did not prune: ${isNull.queryExecution.executedPlan}")
    assert(isNull.count() == 0)
  }

  test("index-covered COUNT(*)+MIN/MAX aggregates read zero parquet footers") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count, max, min}
    val range = graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)
    val t = graft.table.HudiTable(spark, range)
    // the fixture's index carries one exact (nullCount==0) row count per
    // file group — the COUNT(*) coverage precondition
    assert(t.columnStats.values.count(_.rowCount.isDefined) == 4, s"stats: ${t.columnStats}")
    val before = graft.fs.FileStats.footerReads.get()
    val agg = spark.read.format("hudi-graft").load(range)
      .agg(count(col("*")).as("n"), min(col("o_orderkey")).as("mn"),
        max(col("o_orderkey")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString().contains("LocalTableScan"))
    val exp = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(count(col("*")), min(col("o_orderkey")), max(col("o_orderkey"))).head
    val got = agg.head
    assert(got.getLong(0) == exp.getLong(0) && got.getLong(1) == exp.getLong(1) &&
      got.getLong(2) == exp.getLong(2))
    assert(graft.fs.FileStats.footerReads.get() == before,
      "index-covered aggregates must be served without opening any parquet footer")
    // pure COUNT(*) too — previously always a footer sweep
    val b2 = graft.fs.FileStats.footerReads.get()
    val cnt = spark.read.format("hudi-graft").load(range).agg(count(col("*")).as("n"))
    assert(cnt.queryExecution.executedPlan.toString().contains("LocalTableScan"))
    assert(cnt.head.getLong(0) == exp.getLong(0))
    assert(graft.fs.FileStats.footerReads.get() == b2)
  }

  test("string MIN/MAX serves from TIGHT index bounds only, zero footers") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, max, min}
    val range = graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)
    // tight-bound string column (o_orderpriority): index-served, zero
    // footer reads, exact extremes
    val before = graft.fs.FileStats.footerReads.get()
    val agg = spark.read.format("hudi-graft").load(range)
      .agg(min(col("o_orderpriority")).as("mn"), max(col("o_orderpriority")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"tight string bounds must serve: ${agg.queryExecution.executedPlan}")
    val exp = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(min(col("o_orderpriority")), max(col("o_orderpriority"))).head
    val got = agg.collect().head
    assert(got.getString(0) == exp.getString(0) && got.getString(1) == exp.getString(1))
    assert(graft.fs.FileStats.footerReads.get() == before,
      "string MIN/MAX must never open a parquet footer")
    // LOOSE-bound string column (o_orderstatus): bounds prune but are
    // not exact extremes — MIN/MAX must fall back to a real scan (and
    // still answer correctly)
    val loose = spark.read.format("hudi-graft").load(range)
      .agg(min(col("o_orderstatus")).as("mn"), max(col("o_orderstatus")).as("mx"))
    assert(!loose.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"loose string bounds must NOT serve: ${loose.queryExecution.executedPlan}")
    val lexp = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(min(col("o_orderstatus")), max(col("o_orderstatus"))).head
    val lgot = loose.collect().head
    assert(lgot.getString(0) == lexp.getString(0) && lgot.getString(1) == lexp.getString(1))
    // footer-only table (no column_stats index at all): acceptance
    // itself refuses string MIN/MAX — real scan
    val cow = graft.fixtures.HudiFixtureBuilder.cowPath(sfDir)
    val noIdx = spark.read.format("hudi-graft").load(cow)
      .agg(max(col("o_orderstatus")).as("mx"))
    assert(!noIdx.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"footer-only table must NOT serve string MIN/MAX: ${noIdx.queryExecution.executedPlan}")
  }

  test("record-key point predicates plan only the owning file group") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.col
    val mor = graft.fixtures.HudiFixtureBuilder.morPath(sfDir)
    // key 7 was UPDATED at T2: its slice carries a log file, so the
    // point plan must still run the merge
    val df = spark.read.format("hudi-graft").load(mor)
      .filter(col("_hoodie_record_key") === "7")
      .select("o_orderkey", "o_orderstatus")
    assert(df.queryExecution.executedPlan.toString().contains("1 slices"),
      s"record-key point planning did not engage: ${df.queryExecution.executedPlan}")
    val got = df.collect()
    assert(got.length == 1 && got.head.getLong(0) == 7L && got.head.getString(1) == "U")
    // a key that never existed plans zero slices — correct BY the index
    val none = spark.read.format("hudi-graft").load(mor)
      .filter(col("_hoodie_record_key") === "nope")
    assert(none.queryExecution.executedPlan.toString().contains("0 slices"))
    assert(none.count() == 0)
    // the LONG source key field plans through the index via the
    // canonical decimal rendering (the natural-key point read)
    val natural = spark.read.format("hudi-graft").load(mor)
      .filter(col("o_orderkey") === 7)
    assert(natural.queryExecution.executedPlan.toString().contains("1 slices"),
      s"integral key field must point-plan: ${natural.queryExecution.executedPlan}")
    assert(natural.count() == 1)
    // ...but NOT under a non-bare keygenerator (a ComplexKeyGenerator
    // key is 'field:value' — a bare probe would wrongly plan empty)
    val gated = spark.read.format("hudi-graft")
      .option("hoodie.table.keygenerator.class", "org.apache.hudi.keygen.ComplexKeyGenerator")
      .load(mor)
      .filter(col("o_orderkey") === 7)
    assert(!gated.queryExecution.executedPlan.toString().contains(" 1 slices"),
      s"non-bare keygen must keep the full plan: ${gated.queryExecution.executedPlan}")
    assert(gated.count() == 1)
  }

  test("record-key point planning applies under time travel behind the MDT-sync gate") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.col
    val mor = graft.fixtures.HudiFixtureBuilder.morPath(sfDir)
    val origStatus = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") === 7).head.getAs[String]("o_orderstatus")
    // as-of T1: the MDT record_index commit (T1) mirrors the data
    // instant -> gate passes, the point plan keeps the one owning group,
    // and the row shows the PRE-update status
    val atT1 = spark.read.format("hudi-graft")
      .option("as.of.timestamp", "20240101000000000").load(mor)
      .filter(col("_hoodie_record_key") === "7")
      .select("o_orderkey", "o_orderstatus")
    assert(atT1.queryExecution.executedPlan.toString().contains("1 slices"),
      s"as-of point planning did not engage: ${atT1.queryExecution.executedPlan}")
    val gotT1 = atT1.collect()
    assert(gotT1.length == 1 && gotT1.head.getLong(0) == 7L &&
      gotT1.head.getString(1) == origStatus)
    // as-of T2: dataAt (T2) is NEWER than the MDT tip (T1) -> gate
    // fails, full plan, rows still exact (the T2 update is visible)
    val atT2 = spark.read.format("hudi-graft")
      .option("as.of.timestamp", "20240102000000000").load(mor)
      .filter(col("_hoodie_record_key") === "7")
      .select("o_orderkey", "o_orderstatus")
    assert(!atT2.queryExecution.executedPlan.toString().contains(" 1 slices"),
      s"lagging MDT must keep the full plan: ${atT2.queryExecution.executedPlan}")
    val gotT2 = atT2.collect()
    assert(gotT2.length == 1 && gotT2.head.getLong(0) == 7L &&
      gotT2.head.getString(1) == "U")
  }

  test("index tiers restrict incremental plans; emitDeletes and a lagging MDT fall back") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.col
    val mor = graft.fixtures.HudiFixtureBuilder.morPath(sfDir)
    def inc(extra: (String, String)*) = {
      var r = spark.read.format("hudi-graft")
        .option("query.type", "incremental")
        .option("start.timestamp", graft.fixtures.HudiFixtureBuilder.T1)
      extra.foreach { case (k, v) => r = r.option(k, v) }
      r.load(mor)
    }
    def sliceCount(df: org.apache.spark.sql.DataFrame): Int =
      "(\\d+) slices".r.findFirstMatchIn(df.queryExecution.executedPlan.toString())
        .map(_.group(1).toInt).getOrElse(-1)
    // unrestricted incremental: every in-range file group
    val full = inc().filter(col("o_custkey") >= 0)
    val fullSlices = sliceCount(full)
    assert(fullSlices > 1, s"fixture must touch several groups: $fullSlices")
    // key-equality on a latest-ended range: record index plans only the
    // owning group, rows identical to the unrestricted read's filter
    val point = inc().filter(col("o_orderkey") === 7)
    assert(sliceCount(point) == 1,
      s"incremental key point must plan one group: ${point.queryExecution.executedPlan}")
    val exp = inc().collect().filter(_.getAs[Long]("o_orderkey") == 7L)
      .map(_.getAs[String]("o_orderstatus")).toSeq
    assert(point.collect().map(_.getAs[String]("o_orderstatus")).toSeq == exp && exp == Seq("U"))
    // `_hoodie_record_key` form restricts too
    val metaPoint = inc().filter(col("_hoodie_record_key") === "7")
    assert(sliceCount(metaPoint) == 1)
    assert(metaPoint.count() == 1)
    // bounded end: the fixture MDT tip is T1 < endTs resolution (T3) ->
    // the MDT-sync gate misses, full plan, rows still exact
    val bounded = inc("end.timestamp" -> graft.fixtures.HudiFixtureBuilder.T3)
      .filter(col("o_orderkey") === 7)
    assert(sliceCount(bounded) == fullSlices,
      s"lagging MDT must keep the full incremental plan: ${bounded.queryExecution.executedPlan}")
    assert(bounded.collect().map(_.getAs[String]("o_orderstatus")).toSeq == Seq("U"))
    // emitDeletes (the CDC feed): a deleted key has NO index entry as of
    // end — restriction would plan away its tombstone, so the tiers must
    // stand down entirely
    val deletedKey = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 97 === 0)
      .agg(org.apache.spark.sql.functions.min(col("o_orderkey"))).head.getLong(0)
    val cdc = inc("stream.emit.deletes" -> "true")
      .filter(col("_hoodie_record_key") === deletedKey.toString)
    assert(sliceCount(cdc) == fullSlices,
      s"emitDeletes must veto index restriction: ${cdc.queryExecution.executedPlan}")
    val tomb = cdc.collect()
    // tombstone shape: meta key/partition populated, ordering value
    // carried (o_custkey comes from the delete record), data columns null
    assert(tomb.length == 1 &&
      tomb.head.getAs[String]("_hoodie_record_key") == deletedKey.toString &&
      tomb.head.isNullAt(tomb.head.fieldIndex("o_orderstatus")) &&
      tomb.head.isNullAt(tomb.head.fieldIndex("o_orderkey")),
      s"the delete tombstone must survive: ${tomb.toSeq}")
  }

  test("COUNT(col) pushes down via null proofs (absent column + index nullCount)") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count}
    // evolved fixture: the commit-1 file LACKS n_regionkey entirely ->
    // all-null there by definition; commit-2 carries it with zero nulls
    val ev = graft.fixtures.HudiFixtureBuilder.evolvedPath(sfDir)
    val cnt = spark.read.format("hudi-graft").load(ev)
      .agg(count(col("n_regionkey")).as("n"))
    assert(cnt.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"COUNT(col) not served from metadata: ${cnt.queryExecution.executedPlan}")
    val exp = spark.read.parquet(s"$sfDir/nation.parquet")
      .filter(col("n_nationkey") % 2 === 1).count()
    assert(cnt.head.getLong(0) == exp)
    // range fixture: the index's per-column nullCount covers COUNT(col)
    // with zero footer reads
    val range = graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)
    val before = graft.fs.FileStats.footerReads.get()
    val cnt2 = spark.read.format("hudi-graft").load(range)
      .agg(count(col("o_orderkey")).as("n"))
    assert(cnt2.queryExecution.executedPlan.toString().contains("LocalTableScan"))
    assert(cnt2.head.getLong(0) == spark.read.parquet(s"$sfDir/orders.parquet").count())
    assert(graft.fs.FileStats.footerReads.get() == before,
      "index-covered COUNT(col) must not open footers")
  }

  test("MOR aggregates push exactly when the planned slices are log-free") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count, max, min}
    // insert-only MOR (base files, zero logs): pushes like COW
    val io = graft.fixtures.HudiFixtureBuilder.morInsertOnlyPath(sfDir)
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val agg = spark.read.format("hudi-graft").load(io)
      .agg(count(col("*")).as("n"), min(col("r_regionkey")).as("mn"),
        max(col("r_regionkey")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"log-free MOR plan must serve aggregates from metadata: ${agg.queryExecution.executedPlan}")
    val r = agg.collect().head
    val exp = region.agg(count(col("*")), min(col("r_regionkey")), max(col("r_regionkey"))).head
    assert(r.getLong(0) == exp.getLong(0) && r.getInt(1) == exp.getInt(1) &&
      r.getInt(2) == exp.getInt(2))
    // log-carrying MOR (mor_orders latest): falls back — a base-only
    // count here would claim 1500 where the merged answer is lower (the
    // fixture's T3 delete block), so the oracle-checked merge path must
    // answer, not metadata
    val mor = graft.fixtures.HudiFixtureBuilder.morPath(sfDir)
    val latest = spark.read.format("hudi-graft").load(mor).agg(count(col("*")).as("n"))
    assert(!latest.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"log-carrying MOR plan must not push aggregates: ${latest.queryExecution.executedPlan}")
    val merged = latest.collect().head.getLong(0)
    val baseOnly = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(merged < baseOnly, s"fixture deletes must make merged ($merged) < base ($baseOnly)")
    assert(merged == spark.read.format("hudi-graft").load(mor).count())
  }

  test("partition-valued aggregates: dropped and string partition columns push, sentinels reject") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count, max, min}
    // DROPPED partition column (P6): files carry no chunks — COUNT/MIN/
    // MAX come from parsed path values (previously a full scan)
    val dp = graft.fixtures.HudiFixtureBuilder.droppedPath(sfDir)
    val agg = spark.read.format("hudi-graft").load(dp)
      .agg(count(col("n_regionkey")).as("n"), min(col("n_regionkey")).as("mn"),
        max(col("n_regionkey")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"dropped-column aggregates not metadata-served: ${agg.queryExecution.executedPlan}")
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val exp = nation.agg(count(col("n_regionkey")), min(col("n_regionkey")),
      max(col("n_regionkey"))).head
    val got = agg.collect().head
    assert(got.getLong(0) == exp.getLong(0) &&
      got.getInt(1).toLong == exp.getAs[Number](1).longValue &&
      got.getInt(2).toLong == exp.getAs[Number](2).longValue)

    // STRING partition column: chunk stats never serve strings; an exact
    // r_name filter prunes the NULL-sentinel partition away, leaving a
    // sentinel-free plan that pushes from path values
    val sp = graft.fixtures.HudiFixtureBuilder.strpartPath(sfDir)
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val nm = region.agg(min(col("r_name"))).head.getString(0)
    val filtered = spark.read.format("hudi-graft").load(sp)
      .filter(col("r_name") === nm)
      .agg(count(col("*")).as("n"), min(col("r_name")).as("mn"),
        max(col("r_name")).as("mx"))
    assert(filtered.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"filtered string-partition aggregates must push: ${filtered.queryExecution.executedPlan}")
    val fr = filtered.collect().head
    assert(fr.getLong(0) == region.filter(col("r_name") === nm).count() &&
      fr.getString(1) == nm && fr.getString(2) == nm)

    // unfiltered: the sentinel partition is in the plan — its rows hold
    // NULL (or empty) r_name, indistinguishable without reading, so the
    // pushdown REJECTS and the real scan answers (nulls skipped)
    val uf = spark.read.format("hudi-graft").load(sp)
      .agg(min(col("r_name")).as("mn"), max(col("r_name")).as("mx"),
        count(col("r_name")).as("n"))
    assert(!uf.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"sentinel-bearing plan must not push: ${uf.queryExecution.executedPlan}")
    val ur = uf.collect().head
    assert(ur.getString(0) == nm &&
      ur.getString(1) == region.agg(max(col("r_name"))).head.getString(0) &&
      ur.getLong(2) == region.count())
  }

  test("IS NULL on a typed partition column: exact pruning, zero-task aggregates") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count}
    val np = graft.fixtures.HudiFixtureBuilder.nullpartPath(sfDir)
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString()
    // pruning: exactly the sentinel partition, and the predicate is
    // consumed EXACTLY (typed sentinel holds only nulls → no residual)
    val isNull = spark.read.format("hudi-graft").load(np)
      .filter(col("n_regionkey").isNull)
    assert(planOf(isNull).contains("1 slices"), s"IS NULL must plan 1 slice: ${planOf(isNull)}")
    assert(!planOf(isNull).contains("Filter isnull"),
      s"IS NULL must be consumed exactly, no residual: ${planOf(isNull)}")
    assert(isNull.count() == 2)
    // the complement: sentinel partition excluded, residual dropped
    val notNull = spark.read.format("hudi-graft").load(np)
      .filter(col("n_regionkey").isNotNull)
    assert(notNull.count() == spark.read.parquet(s"$sfDir/nation.parquet").count())
    assert(!planOf(notNull).contains("isnotnull(n_regionkey"),
      s"IS NOT NULL must be consumed exactly: ${planOf(notNull)}")
    // zero-task aggregates over the null partition (LocalTableScan)
    val agg = spark.read.format("hudi-graft").load(np)
      .filter(col("n_regionkey").isNull)
      .agg(count(col("*")).as("n"), count(col("n_regionkey")).as("nc"))
    assert(planOf(agg).contains("LocalTableScan"),
      s"COUNT(*) WHERE IS NULL must be metadata-only: ${planOf(agg)}")
    val row = agg.head
    assert(row.getLong(0) == 2 && row.getLong(1) == 0)
    // equality consumption still works on the sentinel-bearing table
    // (null-aware readiness): the sentinel partition is exactly excluded
    val eq = spark.read.format("hudi-graft").load(np)
      .filter(col("n_regionkey") === 2).agg(count(col("*")).as("n"))
    assert(planOf(eq).contains("LocalTableScan"), s"filtered count must push: ${planOf(eq)}")
    assert(eq.head.getLong(0) ==
      spark.read.parquet(s"$sfDir/nation.parquet").filter(col("n_regionkey") === 2).count())
    // STRING partition column: IS NULL prunes inclusively (sentinel may
    // hold empty strings too) but must KEEP the residual and not push
    val sp = graft.fixtures.HudiFixtureBuilder.strpartPath(sfDir)
    val strNull = spark.read.format("hudi-graft").load(sp).filter(col("r_name").isNull)
    assert(planOf(strNull).contains("1 slices"),
      s"string IS NULL must prune to the sentinel partition: ${planOf(strNull)}")
    assert(strNull.count() == 1) // the synthetic r_regionkey=99 row
    val strAgg = spark.read.format("hudi-graft").load(sp)
      .filter(col("r_name").isNull).agg(count(col("*")).as("n"))
    assert(!planOf(strAgg).contains("LocalTableScan"),
      s"string IS NULL must not push aggregates: ${planOf(strAgg)}")
    assert(strAgg.head.getLong(0) == 1)
  }

  test("null-partition 'default' sentinel is version-gated, layout-blind") {
    import graft.sources.GraftScanBuilder.isPartitionNullSentinel
    def cfg(v: String, hive: Boolean) = graft.core.HoodieConfig(Map(
      "hoodie.table.name" -> "t", "hoodie.table.version" -> v,
      "hoodie.datasource.write.hive_style_partitioning" -> hive.toString))
    // the hive sentinel and an empty segment refuse everywhere
    for (v <- Seq("2", "6"); h <- Seq(true, false)) {
      assert(isPartitionNullSentinel("__HIVE_DEFAULT_PARTITION__", cfg(v, h)))
      assert(isPartitionNullSentinel("", cfg(v, h)))
    }
    // pre-0.11 writers (table version < 4) rendered the null partition
    // as bare 'default' on BOTH layouts — keep refusing it there
    for (h <- Seq(true, false)) assert(isPartitionNullSentinel("default", cfg("3", h)))
    // 0.11+ (v4+) switched ALL layouts to the hive sentinel, so a bare
    // 'default' is an ordinary partition value — hive-style AND not
    for (h <- Seq(true, false)) assert(!isPartitionNullSentinel("default", cfg("6", h)))
    // and a genuine value is never a sentinel anywhere
    assert(!isPartitionNullSentinel("asia", cfg("2", false)))
  }

  test("exact partition-equality filters compose with metadata aggregates") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count, min}
    val p = graft.fixtures.HudiFixtureBuilder.partPath(sfDir)
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    // filtered COUNT(*): the filter is consumed by partition pruning and
    // the count serves from the SURVIVING partition's footer only — one
    // footer read (the fixture holds one file per region, 5 total)
    val before = graft.fs.FileStats.footerReads.get()
    val cnt = spark.read.format("hudi-graft").load(p)
      .filter(col("n_regionkey") === 2)
      .agg(count(col("*")).as("n"))
    assert(cnt.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"filtered COUNT(*) not metadata-served: ${cnt.queryExecution.executedPlan}")
    // exactly ONE footer opened for this plan: pruning ran BEFORE the
    // sweep (1 surviving file of 5). Asserted before any further action
    // (each new action replans and re-reads).
    assert(graft.fs.FileStats.footerReads.get() == before + 1,
      "pruning must run BEFORE the footer sweep (1 surviving file of 5)")
    assert(cnt.collect().head.getLong(0) == nation.filter(col("n_regionkey") === 2).count())
    // IN-filtered + GROUP BY partition column: still metadata-only, one
    // row per surviving partition
    val grouped = spark.read.format("hudi-graft").load(p)
      .filter(col("n_regionkey").isin(1, 3))
      .groupBy("n_regionkey")
      .agg(count(col("*")).as("n"), min(col("n_nationkey")).as("mn"))
      .orderBy("n_regionkey")
    assert(grouped.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"filtered grouped agg not metadata-served: ${grouped.queryExecution.executedPlan}")
    val expG = nation.filter(col("n_regionkey").isin(1, 3)).groupBy("n_regionkey")
      .agg(count(col("*")), min(col("n_nationkey"))).orderBy("n_regionkey").collect().toSeq
    assert(grouped.collect().toSeq == expG)
    // a NON-partition filter keeps the real scan (Spark retains the
    // residual, so complete aggregate pushdown is never offered)
    val fallback = spark.read.format("hudi-graft").load(p)
      .filter(col("n_nationkey") < 10)
      .agg(count(col("*")).as("n"))
    assert(!fallback.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"non-partition filter must not metadata-serve: ${fallback.queryExecution.executedPlan}")
    assert(fallback.head.getLong(0) == nation.filter(col("n_nationkey") < 10).count())
  }

  test("date MIN/MAX pushes down through index DateWrapper bounds") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, max, min, to_date}
    val p = graft.fixtures.HudiFixtureBuilder.datePath(sfDir)
    val t = graft.table.HudiTable(spark, p)
    val before = graft.fs.FileStats.footerReads.get()
    val agg = spark.read.format("hudi-graft").load(p)
      .agg(min(col("o_date")).as("mn"), max(col("o_date")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"date MIN/MAX not metadata-served: ${agg.queryExecution.executedPlan}")
    // zero-footer contract holds whenever the index covers every file
    // (a sparse-date quartile may have no entry and fall to footers)
    if (t.columnStats.values.count(_.columns.values.exists(c => c.tight && c.range.isDefined)) == 4)
      assert(graft.fs.FileStats.footerReads.get() == before,
        "index-covered date MIN/MAX must not open footers")
    val exp = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(to_date(col("o_orderdate")).as("o_date"))
      .agg(min(col("o_date")), max(col("o_date"))).head
    val got = agg.collect().head
    assert(got.getDate(0) == exp.getDate(0) && got.getDate(1) == exp.getDate(1),
      s"got $got, expected $exp")
  }

  /** A one-file unpartitioned COW table (v6, no meta fields) under
    * `target/fixtures/<name>` holding `df`, committed at one instant.
    */
  private def oneFileTable(name: String, df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val base = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"fixtures/$name"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(base, true)
    fs.mkdirs(new Path(base, ".hoodie"))
    val props =
      s"""hoodie.table.name=$name
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.table.recordkey.fields=id
        |hoodie.populate.meta.fields=false
        |""".stripMargin
    val o = fs.create(new Path(base, ".hoodie/hoodie.properties"), true)
    o.write(props.getBytes("UTF-8")); o.close()
    val t1 = "20240101000000000"
    val fid = "00000000-0000-0000-0000-000000000000-0"
    val file = s"${fid}_0-0-0_$t1.parquet"
    val tmp = new Path(base, ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.rename(part, new Path(base, file)); fs.delete(tmp, true)
    val c1 = fs.create(new Path(base, s".hoodie/$t1.commit"), true)
    c1.write(s"""{"partitionToWriteStats":{"":[{"fileId":"$fid","path":"$file"}]}}"""
      .getBytes("UTF-8")); c1.close()
    base.toString
  }

  test("COUNT of a struct column is never read as all-null from its footer") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, count}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("st", StructType(Seq(StructField("a", IntegerType))))))
    val base = oneFileTable("count_struct", spark.createDataFrame(
      java.util.List.of(Row(1, Row(10)), Row(2, null), Row(3, Row(30))), schema))
    // the struct has leaf chunks (st.a) but none of its own: its null
    // count is unproven, so the count scans rather than answering 0
    val agg = spark.read.format("hudi-graft").load(base).agg(count(col("st")))
    assert(agg.head.getLong(0) == 2L, agg.queryExecution.executedPlan.toString())
  }

  test("decimal and timestamp MIN/MAX push down through footer logical types") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("amount", DecimalType(12, 2)),
      StructField("ts", TimestampType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val base = oneFileTable("minmax_dec_ts", spark.createDataFrame(java.util.List.of(
      Row(1, new java.math.BigDecimal("10.25"), ts("2024-01-01 10:00:00")),
      Row(2, new java.math.BigDecimal("-3.50"), ts("2024-03-05 23:59:59")),
      Row(3, new java.math.BigDecimal("999.99"), ts("2023-12-31 00:00:01"))), schema))
    val agg = spark.read.format("hudi-graft").load(base)
      .agg(min(col("amount")).as("mn_a"), max(col("amount")).as("mx_a"),
        min(col("ts")).as("mn_t"), max(col("ts")).as("mx_t"))
    assert(agg.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"decimal/timestamp MIN/MAX not metadata-served: ${agg.queryExecution.executedPlan}")
    val r = agg.collect().head
    assert(r.getDecimal(0) == new java.math.BigDecimal("-3.50"))
    assert(r.getDecimal(1) == new java.math.BigDecimal("999.99"))
    assert(r.getTimestamp(2) == ts("2023-12-31 00:00:01"))
    assert(r.getTimestamp(3) == ts("2024-03-05 23:59:59"))
    // strings stay excluded (writer-truncatable chunk stats): a MIN on a
    // string column must keep the real scan
    val s2 = spark.read.format("hudi-graft").load(base)
      .agg(min(col("id").cast("string")).as("mn"))
    assert(!s2.queryExecution.executedPlan.toString().contains("LocalTableScan"))
  }

  test("bloom and source-key index tiers decline under a non-bare keygenerator") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.col
    val bloom = graft.fixtures.HudiFixtureBuilder.bloomPath(sfDir)
    // default (no keygenerator recorded -> bare rendering trusted): the
    // bloom tier prunes to the one residue-class group
    val pruned = spark.read.format("hudi-graft").load(bloom)
      .filter(col("o_orderkey") === 8)
    assert(pruned.queryExecution.executedPlan.toString().contains("1 slices"),
      s"bloom tier did not prune: ${pruned.queryExecution.executedPlan}")
    // ComplexKeyGenerator renders keys as `field:value` — a bare-value
    // bloom probe would be a false 'definitely absent', so the tier must
    // stand down (full 4-slice plan) and the rows must still be correct
    val gated = spark.read.format("hudi-graft")
      .option("hoodie.table.keygenerator.class", "org.apache.hudi.keygen.ComplexKeyGenerator")
      .load(bloom)
      .filter(col("o_orderkey") === 8)
    assert(gated.queryExecution.executedPlan.toString().contains("4 slices"),
      s"bloom tier must decline under ComplexKeyGenerator: ${gated.queryExecution.executedPlan}")
    assert(gated.collect().map(_.getAs[Long]("o_orderkey")).toSeq == Seq(8L))
    // bare-rendering generators keep the tier on
    val simple = spark.read.format("hudi-graft")
      .option("hoodie.table.keygenerator.class", "org.apache.hudi.keygen.SimpleKeyGenerator")
      .load(bloom)
      .filter(col("o_orderkey") === 8)
    assert(simple.queryExecution.executedPlan.toString().contains("1 slices"))
  }

  test("GROUP BY partition column aggregates serve from metadata only") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count, max, min}
    val p = graft.fixtures.HudiFixtureBuilder.partPath(sfDir)
    val agg = spark.read.format("hudi-graft").load(p)
      .groupBy("n_regionkey")
      .agg(count(col("*")).as("n"), min(col("n_nationkey")).as("mn"),
        max(col("n_nationkey")).as("mx"))
      .orderBy("n_regionkey")
    val plan = agg.queryExecution.executedPlan.toString()
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"grouped aggregate was not served from metadata: $plan")
    val exp = spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey")
      .agg(count(col("*")), min(col("n_nationkey")), max(col("n_nationkey")))
      .orderBy("n_regionkey").collect().toSeq
    assert(agg.collect().toSeq == exp)
    // grouping on a NON-partition column falls back to a real scan
    val fallback = spark.read.format("hudi-graft").load(p)
      .groupBy("n_name").agg(count(col("*")).as("n"))
    assert(!fallback.queryExecution.executedPlan.toString().contains("LocalTableScan"))
    assert(fallback.count() ==
      spark.read.parquet(s"$sfDir/nation.parquet").select("n_name").distinct().count())
  }

  test("grouped pushdown declines on a timestamp-keygen table (real v9 bytes)") {
    // paths are FORMATTED date buckets, not column values — serving them
    // as group values would be silently wrong under complete pushdown
    val p = graft.table.Fixtures.table(
      "sample_table/cow/v9_timebasedkeygen_epochmillis.zip",
      "v9_timebasedkeygen_epochmillis", "v9_tbk_epoch_groupagg")
    assume(p.isDefined)
    import org.apache.spark.sql.functions.{col, count}
    val partField = graft.table.HudiTable(spark, p.get).config.partitionFields.head
    val agg = spark.read.format("hudi-graft").load(p.get)
      .groupBy(partField).agg(count(col("*")).as("n")).orderBy(partField)
    assert(!agg.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"keygen table must not serve grouped values from paths: ${agg.queryExecution.executedPlan}")
    // and the scan-path answer groups on the REAL column values
    val exp = graft.table.HudiTable(spark, p.get).snapshot()
      .groupBy(partField).agg(count(col("*")).as("n")).orderBy(partField)
    assert(agg.collect().toSeq == exp.collect().toSeq)
    // the numeric-keygen source field reads per-file WIDENED: the commit
    // schema declares it string while most parquet files hold the
    // original int64 (a physical-type crash if read naively) and some
    // hold decimal epoch STRINGS — the real mixed layout. int64 files
    // read as LONG and render the same decimal strings; the hour-bucket
    // path rendering is never substituted (it would drop precision)
    val vals = agg.collect().map(_.getString(0))
    assert(vals.nonEmpty && vals.forall(_.matches("""\d{13}""")),
      s"expected full-precision epoch strings, got ${vals.toSeq}")
  }

  test("footer-aggregate pushdown agrees with full scans on every COW fixture") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count, max, min}
    val B = graft.fixtures.HudiFixtureBuilder
    val cowTables = Seq(B.cowPath(sfDir), B.rangePath(sfDir), B.clusteredPath(sfDir),
      B.pstatsPath(sfDir), B.sidxPath(sfDir))
    for (p <- cowTables) {
      val df = spark.read.format("hudi-graft").load(p)
      val pushed = df.agg(count(col("*")).as("n"), min(col("o_orderkey")).as("mn"),
        max(col("o_orderkey")).as("mx")).head
      // force the un-pushed path: a filter disables the pushdown
      val full = df.filter(col("o_orderkey") >= Long.MinValue)
        .agg(count(col("*")), min(col("o_orderkey")), max(col("o_orderkey"))).head
      assert(pushed.getLong(0) == full.getLong(0), s"count diverged for $p")
      assert(pushed.getLong(1) == full.getLong(1), s"min diverged for $p")
      assert(pushed.getLong(2) == full.getLong(2), s"max diverged for $p")
    }
    // MOR read-optimized differential
    val mor = B.morPath(sfDir)
    def ro = spark.read.format("hudi-graft").option("read.optimized", "true").load(mor)
    val pushedRo = ro.agg(count(col("*")).as("n")).head.getLong(0)
    assert(pushedRo == graft.table.HudiTable(spark, mor)
      .snapshot(readOptimized = true).count())
  }

  test("date-range predicates prune file groups via typed stats literals") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, lit, max, min, to_date}
    val p = graft.fixtures.HudiFixtureBuilder.datePath(sfDir)
    val b = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(to_date(col("o_orderdate")).as("d"))
      .agg(min(col("d")), max(col("d"))).head
    val (mn, mx) = (b.getDate(0).toLocalDate, b.getDate(1).toLocalDate)
    val span = math.max(1L, mx.toEpochDay - mn.toEpochDay + 1)
    val cut = java.sql.Date.valueOf(mn.plusDays(math.max(0L, span / 4 - 1)))
    val df = spark.read.format("hudi-graft").load(p)
      .filter(col("o_date") <= lit(cut))
    // the date-quartile split leaves exactly the first file group planned
    assert(df.queryExecution.executedPlan.toString().contains("1 slices"),
      s"date stats pruning did not engage: ${df.queryExecution.executedPlan}")
    val exp = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(to_date(col("o_orderdate")) <= lit(cut)).count()
    assert(df.count() == exp)
    // and the unpruned read still returns the whole table
    val all = spark.read.format("hudi-graft").load(p)
    assert(all.count() == spark.read.parquet(s"$sfDir/orders.parquet").count())
  }

  test("type-widened tables upcast narrow old files on both read paths") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val p = graft.fixtures.HudiFixtureBuilder.widenedPath(sfDir)
    val dsv2 = spark.read.format("hudi-graft").load(p)
      .select("n_nationkey", "pop", "score").orderBy("n_nationkey")
    // resolved schema = latest commit metadata's WIDE types
    assert(dsv2.schema("pop").dataType == LongType)
    assert(dsv2.schema("score").dataType == DoubleType)
    val viaTable = graft.table.HudiTable(spark, p).snapshot()
      .select("n_nationkey", "pop", "score").orderBy("n_nationkey")
    assert(dsv2.collect().toSeq == viaTable.collect().toSeq)
    for (r <- dsv2.collect()) {
      val k = r.getInt(0)
      assert(r.getLong(1) == (if (k % 2 == 0) k * 1000L + 7 else 5000000000L + k))
      assert(r.getDouble(2) == k * 0.25)
    }
  }

  test("MOR widening: narrow base + wide log merge identically on both paths") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val p = graft.fixtures.HudiFixtureBuilder.morWidenedPath(sfDir)
    val dsv2 = spark.read.format("hudi-graft").load(p)
      .select("n_nationkey", "pop", "score").orderBy("n_nationkey")
    assert(dsv2.schema("pop").dataType == LongType)
    assert(dsv2.schema("score").dataType == DoubleType)
    val viaTable = graft.table.HudiTable(spark, p).snapshot()
      .select("n_nationkey", "pop", "score").orderBy("n_nationkey")
    assert(dsv2.collect().toSeq == viaTable.collect().toSeq)
    for (r <- dsv2.collect()) {
      val k = r.getInt(0)
      if (k % 5 == 0) {
        assert(r.getLong(1) == 6000000000L + k)
        assert(r.getDouble(2) == k * 0.5)
      } else {
        assert(r.getLong(1) == k * 1000L + 7)
        assert(r.getDouble(2) == k * 0.25)
      }
    }
  }

  test("MIN/MAX on a dropped partition column serves from paths, never from footers") {
    // P6: with drop.partition.columns=true the parquet files carry no
    // chunks for the partition column — a FOOTER pushdown would misread
    // that as "all null" and answer NULL. The value lives in partition
    // paths, and the partition-valued tier serves the true extremes
    // from there (r10); the footer-misread answer (NULL) must never
    // appear either way.
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.{col, max, min}
    val p = graft.fixtures.HudiFixtureBuilder.droppedPath(sfDir)
    val df = spark.read.format("hudi-graft").load(p)
    val agg = df.agg(min(col("n_regionkey")).as("mn"), max(col("n_regionkey")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      "dropped partition column must serve from parsed path values")
    val got = agg.head
    val exp = df.filter(col("n_regionkey") >= Int.MinValue)
      .agg(min(col("n_regionkey")), max(col("n_regionkey"))).head
    assert(!got.isNullAt(0) && got.getInt(0) == exp.getInt(0))
    assert(!got.isNullAt(1) && got.getInt(1) == exp.getInt(1))
  }
}
