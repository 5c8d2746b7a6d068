package graft.table

import graft.SparkTestBase
import graft.fs.PartitionFilter
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.sys.process._

/** Engine integration tests against the reference repo's golden fixtures —
  * real Hudi tables written by Spark+Hudi (crates/test/data), the same
  * tables crates/core/tests/table_read_tests.rs asserts on. Expected row
  * sets are derived from each fixture's sibling `.sql` script.
  */
object Fixtures {
  private val refData = "/root/reference/crates/test/data"
  private val outRoot = graft.fixtures.HudiFixtureBuilder.targetPath("fixtures")

  /** True when the reference repo's golden-fixture data root exists. */
  def referenceDataPresent: Boolean = Files.isDirectory(Paths.get(refData))

  /** Unzip (once) and return the table path; None when unavailable. */
  def table(zipRel: String, tableName: String): Option[String] =
    table(zipRel, tableName, tableName)

  /** As above with an explicit extraction key — cow and mor zips of the
    * same SampleTable share the inner table dir name, so matrix tests
    * that open both need distinct extraction roots.
    */
  def table(zipRel: String, tableName: String, destKey: String): Option[String] = {
    val zip = Paths.get(refData, zipRel)
    if (!Files.exists(zip)) return None
    val dest = Paths.get(outRoot, destKey)
    val marker = dest.resolve(tableName).resolve(".hoodie/hoodie.properties")
    if (!Files.exists(marker)) {
      Files.createDirectories(dest)
      s"unzip -oq ${zip.toString} -d ${dest.toString}".!
    }
    Some(dest.resolve(tableName).toString)
  }
}

class HudiTableSpec extends SparkTestBase {

  private def open(zipRel: String, name: String): Option[HudiTable] =
    Fixtures.table(zipRel, name).map(p => HudiTable(spark, p))

  // ---------------- COW v6: 2 commits, 3 partitions ----------------------
  // c1 = inserts ids {1 Alice active, 2 Bob, 3 Carol}; c2 = upsert id 1
  // (isActive=false) + insert id 4 Diana (sample_table/cow/*.sql)
  private lazy val cowV6 = open("sample_table/cow/v6_simplekeygen_nonhivestyle.zip", "v6_simplekeygen_nonhivestyle")

  test("cow v6 snapshot reads latest of every file group") {
    assume(cowV6.isDefined)
    val t = cowV6.get
    val rows = t.snapshot()
      .select("id", "name", "isActive", "byteField")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getBoolean(2), r.getInt(3))).toSet
    assert(rows == Set((1, "Alice", false, 10), (2, "Bob", false, 20), (3, "Carol", true, 10), (4, "Diana", true, 30)))
  }

  test("cow v6 time travel pins the first commit") {
    assume(cowV6.isDefined)
    val t = cowV6.get
    val first = t.timeline.completedInstants.head.timestamp
    val rows = t.snapshot(asOf = Some(first))
      .select("id", "isActive").collect().map(r => (r.getInt(0), r.getBoolean(1))).toSet
    assert(rows == Set((1, true), (2, false), (3, true)))
  }

  test("cow v6 incremental (c1, c2] returns only c2 rows") {
    assume(cowV6.isDefined)
    val t = cowV6.get
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.take(2)
    val rows = t.incremental(Some(c1), Some(c2))
      .select("id", "isActive").collect().map(r => (r.getInt(0), r.getBoolean(1))).toSet
    assert(rows == Set((1, false), (4, true)))
  }

  test("cow v6 incremental from the beginning sees the merged table") {
    assume(cowV6.isDefined)
    val ids = cowV6.get.incremental(None).select("id").collect().map(_.getInt(0)).toSet
    assert(ids == Set(1, 2, 3, 4))
  }

  test("cow v6 partition pruning plans fewer files and matches full filter") {
    assume(cowV6.isDefined)
    val t = cowV6.get
    val latest = t.timeline.latestCommitTimestamp.get
    val all = t.fsView.slicesAsOf(latest)
    val pruned = t.fsView.slicesAsOf(latest,
      new graft.fs.PartitionPruner(Seq("byteField" -> "int"), false, false,
        Seq(PartitionFilter("byteField", "=", Seq("10")))))
    assert(all.size > pruned.size && pruned.nonEmpty)
    assert(pruned.forall(_.partitionPath == "10"))
    val ids = t.snapshot(partitionFilters = Seq(PartitionFilter("byteField", "=", Seq("10"))))
      .select("id").collect().map(_.getInt(0)).toSet
    assert(ids == Set(1, 3))
  }

  test("long-widen probe is free on non-keygen tables") {
    assume(cowV6.isDefined)
    // the gate must be Nil off the numeric-timestamp-keygen shape, so
    // longWidenPaths never opens a footer at planning on normal tables
    assert(cowV6.get.longWidenFields.isEmpty)
    assert(cowV6.get.longWidenPaths(Seq("/nonexistent.parquet")).isEmpty)
  }

  test("cow v6 complex types survive the read") {
    assume(cowV6.isDefined)
    val df = cowV6.get.snapshot().filter(col("id") === 1)
      .select(col("structField.field1"), element_at(col("arrayField"), 1).getField("arr_struct_f1"),
        col("decimalField").cast("string"))
    val r = df.collect().head
    assert(r.getString(0) == "Alice" && r.getString(1) == "red" && r.getString(2) == "12345.67890")
  }

  test("timeline selector filters by action and range") {
    assume(cowV6.isDefined)
    val t = cowV6.get
    val all = t.timeline.select(Set("commit"))
    assert(all.size == 2)
    val first = t.timeline.completedInstants.head.timestamp
    assert(t.timeline.select(Set("commit"), end = Some(first)).size == 1)
    assert(t.timeline.select(Set("replacecommit")).isEmpty)
  }

  test("table stats estimate rows and bytes") {
    assume(cowV6.isDefined)
    val (rows, bytes) = cowV6.get.tableStats
    assert(bytes > 0 && rows > 0)
  }

  test("unknown filter column errors strictly") {
    assume(cowV6.isDefined)
    intercept[IllegalArgumentException] {
      cowV6.get.snapshot(partitionFilters = Seq(PartitionFilter("nope", "=", Seq("1"))))
    }
  }

  // ---------------- COW v6 replace commit (insert overwrite) -------------
  // c1 inserts {1,2,3}; c2 upserts; replacecommit overwrites the table
  // with a single row {4 Diana, byteField 30, isActive=false}
  private lazy val cowOverwrite = open(
    "sample_table/cow/v6_simplekeygen_nonhivestyle_overwritetable.zip",
    "v6_simplekeygen_nonhivestyle_overwritetable")

  test("replace commit excludes overwritten file groups from snapshot") {
    assume(cowOverwrite.isDefined)
    val rows = cowOverwrite.get.snapshot()
      .select("id", "name", "isActive").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getBoolean(2))).toSet
    assert(rows == Set((4, "Diana", false)))
  }

  test("time travel before the replace commit still sees the old groups") {
    assume(cowOverwrite.isDefined)
    val t = cowOverwrite.get
    val preReplace = t.timeline.completedInstants
      .filter(_.action == "commit").last.timestamp
    val ids = t.snapshot(asOf = Some(preReplace)).select("id")
      .collect().map(_.getInt(0)).toSet
    assert(ids.contains(1) && ids.size >= 3)
  }

  // ---------------- COW v8: timeline-v2 layout, nonpartitioned -----------
  private lazy val cowV8 = open("sample_table/cow/v8_nonpartitioned.zip", "v8_nonpartitioned")

  test("cow v8 snapshot reads the v8 timeline layout") {
    assume(cowV8.isDefined)
    val t = cowV8.get
    assert(t.config.tableVersion == 8)
    val df = t.snapshot()
    assert(df.count() > 0)
    assert(t.timeline.completedInstants.forall(_.completionTimestamp.isDefined))
  }

  test("cow v8 time travel to the first commit") {
    assume(cowV8.isDefined)
    val t = cowV8.get
    val first = t.timeline.completedInstants.head.timestamp
    assert(t.snapshot(asOf = Some(first)).count() > 0)
  }

  // ---------------- COW v6 empty table -----------------------------------
  private lazy val cowEmpty = open("sample_table/cow/v6_empty.zip", "v6_empty")

  test("empty table yields an empty frame with the create-schema") {
    assume(cowEmpty.isDefined)
    val df = cowEmpty.get.snapshot()
    assert(df.count() == 0)
    assert(df.schema.fieldNames.contains("id"))
  }

  // ---------------- COW v6 complex keygen, 2-level hive partitions -------
  private lazy val cowComplex = open(
    "sample_table/cow/v6_complexkeygen_hivestyle.zip", "v6_complexkeygen_hivestyle")

  test("complex keygen: multi-field keys + 2-level hive partitions") {
    assume(cowComplex.isDefined)
    val t = cowComplex.get
    assert(t.config.recordKeyFields.size == 2)
    val df = t.snapshot()
    assert(df.count() > 0)
    // 2-level hive-style partition paths parse into both fields
    val latest = t.timeline.latestCommitTimestamp.get
    val pruned = t.fsView.slicesAsOf(latest,
      new graft.fs.PartitionPruner(
        Seq("byteField" -> "int", "shortField" -> "int"), true, false,
        Seq(PartitionFilter("byteField", "=", Seq("10")))))
    val all = t.fsView.slicesAsOf(latest)
    assert(pruned.size < all.size)
  }

  // ---------------- COW v6 timestamp-based keygen ------------------------
  // partition path = yyyy/MM/dd/HH of ts_str (DATE_STRING input); filters
  // on ts_str must prune partitions via the keygen transform (R3)
  // timestamp.type is a write-side option Hudi doesn't persist; readers
  // supply it per call (the reference's read-options bag does the same)
  private val tbkOptions = Map("hoodie.keygen.timebased.timestamp.type" -> "DATE_STRING")
  private lazy val cowTbk = Fixtures.table(
    "sample_table/cow/v6_timebasedkeygen_nonhivestyle.zip",
    "v6_timebasedkeygen_nonhivestyle").map(p => HudiTable(spark, p, tbkOptions))

  test("timestamp keygen: equality filter on source field prunes to one partition") {
    assume(cowTbk.isDefined)
    val t = cowTbk.get
    val latest = t.timeline.latestCommitTimestamp.get
    val full = t.snapshot().select("id", "ts_str").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    val target = full.head._2
    val expectedIds = full.filter(_._2 == target).map(_._1).toSet

    val filter = Seq(PartitionFilter("ts_str", "=", Seq(target)))
    val kg = graft.fs.TimestampKeyGen.fromConfig(t.config).get
    val all = t.fsView.slicesAsOf(latest)
    val prunedSlices = t.fsView.slicesAsOf(latest,
      new graft.fs.PartitionPruner(Seq("ts_str" -> "string"), false, false,
        filter.flatMap(kg.transformFilter)))
    assert(prunedSlices.size < all.size && prunedSlices.nonEmpty)

    val ids = t.snapshot(partitionFilters = filter)
      .select("id").collect().map(_.getInt(0)).toSet
    assert(ids == expectedIds)
  }

  test("timestamp keygen: range filter widens and prunes lexicographically") {
    assume(cowTbk.isDefined)
    val t = cowTbk.get
    val full = t.snapshot().select("id", "ts_str").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._2)
    val cutoff = full.head._2 // earliest timestamp
    val ids = t.snapshot(partitionFilters = Seq(PartitionFilter("ts_str", "<=", Seq(cutoff))))
      .select("id").collect().map(_.getInt(0)).toSet
    // widened Lt->Lte pruning keeps at least the earliest partition's rows
    assert(ids.nonEmpty && ids.subsetOf(full.map(_._1).toSet))
    assert(full.filter(_._2 == cutoff).map(_._1).toSet.subsetOf(ids))
  }

  // ---------------- COW v6 without meta fields ---------------------------
  private lazy val cowNoMeta = open(
    "sample_table/cow/v6_simplekeygen_hivestyle_no_metafields.zip",
    "v6_simplekeygen_hivestyle_no_metafields")

  test("no-metafields table reads with null meta columns (append-only)") {
    assume(cowNoMeta.isDefined)
    val t = cowNoMeta.get
    assert(!t.config.populatesMetaFields)
    assert(t.config.recordMergeStrategy == "APPEND_ONLY")
    val df = t.snapshot()
    // the meta columns exist physically but carry no values — the
    // reference prepends them to the schema unconditionally too
    // (resolver.rs:50-53)
    val rows = df.select("id", "_hoodie_record_key").collect()
    assert(rows.map(_.getInt(0)).toSet == Set(1, 2, 3, 4))
    assert(rows.forall(_.isNullAt(1)))
  }

  test("no-metafields hive-style partition pruning") {
    assume(cowNoMeta.isDefined)
    val ids = cowNoMeta.get
      .snapshot(partitionFilters = Seq(PartitionFilter("byteField", "=", Seq("10"))))
      .select("id").collect().map(_.getInt(0)).toSet
    assert(ids.nonEmpty && ids.subsetOf(Set(1, 2, 3, 4)))
  }

  // ---------------- MOR v6 avro: inserts + update ------------------------
  private lazy val morV6u = open("quickstart_trips_table/mor/avro/v6_trips_8i1u.zip", "v6_trips_8i1u")

  test("mor v6 snapshot merges the log update over the base file") {
    assume(morV6u.isDefined)
    val df = morV6u.get.snapshot().select("rider", "fare")
    val rows = df.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rows.size == 8)
    assert(rows("rider-D") == 25.0)
    assert(rows("rider-A") == 19.10)
  }

  test("mor v6 read-optimized skips logs") {
    assume(morV6u.isDefined)
    val rows = morV6u.get.snapshot(readOptimized = true)
      .select("rider", "fare").collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rows("rider-D") == 33.90) // pre-update value
  }

  // ---------------- MOR v6 avro: inserts + deletes -----------------------
  private lazy val morV6d = open("quickstart_trips_table/mor/avro/v6_trips_8i3d.zip", "v6_trips_8i3d")

  test("mor v6 delete blocks remove records") {
    assume(morV6d.isDefined)
    val riders = morV6d.get.snapshot().select("rider").collect().map(_.getString(0)).toSet
    assert(riders == Set("rider-E", "rider-F", "rider-G", "rider-I", "rider-J"))
  }

  // ---------------- MOR v8: updates, deletes, compaction -----------------
  // 8 inserts; A fare→0; delete F; J fare→0; delete J; compaction; G fare→0
  private lazy val morV8 = open("quickstart_trips_table/mor/avro/v8_trips_8i3u1d.zip", "v8_trips_8i3u1d")

  test("mor v8 snapshot: completion-time slices, deletes, post-compaction log") {
    assume(morV8.isDefined)
    val rows = morV8.get.snapshot().select("rider", "fare")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rows.keySet == Set("rider-A", "rider-C", "rider-D", "rider-E", "rider-G", "rider-I"))
    assert(rows("rider-A") == 0.0)
    assert(rows("rider-G") == 0.0)
    assert(rows("rider-C") == 27.70 && rows("rider-D") == 33.90 && rows("rider-E") == 93.50 && rows("rider-I") == 41.06)
  }

  test("mor v8 time travel before the deletes") {
    assume(morV8.isDefined)
    val t = morV8.get
    // first deltacommit only → the 8 original inserts
    val first = t.timeline.completedInstants.head.timestamp
    val rows = t.snapshot(asOf = Some(first)).select("rider", "fare")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rows.size == 8 && rows("rider-A") == 19.10)
  }

  test("mor v8 incremental picks up post-compaction change") {
    assume(morV8.isDefined)
    val t = morV8.get
    val instants = t.timeline.completedInstants.map(_.timestamp)
    val rows = t.incremental(Some(instants.dropRight(1).last), Some(instants.last))
      .select("rider", "fare").collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rows == Map("rider-G" -> 0.0))
  }

  // ---------------- MOR with dropped partition columns --------------------
  test("mor merge re-injects dropped partition columns into log records") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import java.io.DataOutputStream
    val base = new Path(graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/mor_dropped"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(base, true)
    fs.mkdirs(new Path(base, ".hoodie"))
    val props = new java.util.Properties()
    props.setProperty("hoodie.table.name", "mor_dropped")
    props.setProperty("hoodie.table.type", "MERGE_ON_READ")
    props.setProperty("hoodie.table.version", "6")
    props.setProperty("hoodie.table.recordkey.fields", "id")
    props.setProperty("hoodie.table.precombine.field", "seq")
    props.setProperty("hoodie.table.partition.fields", "region")
    props.setProperty("hoodie.datasource.write.hive_style_partitioning", "true")
    props.setProperty("hoodie.datasource.write.drop.partition.columns", "true")
    props.setProperty("hoodie.populate.meta.fields", "true")
    props.setProperty("hoodie.table.create.schema",
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":["int","null"]},
        |{"name":"v","type":["string","null"]},
        |{"name":"seq","type":["long","null"]},
        |{"name":"region","type":["int","null"]}]}""".stripMargin.replaceAll("\n", ""))
    val o = fs.create(new Path(base, ".hoodie/hoodie.properties"), true)
    props.store(o, null); o.close()

    import org.apache.spark.sql.types._
    val t1 = "20240101000000000"; val t2 = "20240102000000000"
    val fid = "00000000-0000-0000-0000-000000000000-0"
    val partDir = "region=7"
    // base file WITHOUT the region column (meta + id, v, seq)
    val fileSchema = StructType(Seq(
      StructField("_hoodie_commit_time", StringType), StructField("_hoodie_commit_seqno", StringType),
      StructField("_hoodie_record_key", StringType), StructField("_hoodie_partition_path", StringType),
      StructField("_hoodie_file_name", StringType),
      StructField("id", IntegerType), StructField("v", StringType), StructField("seq", LongType)))
    val name = s"${fid}_0-0-0_$t1.parquet"
    val rows = Seq(
      org.apache.spark.sql.Row(t1, s"${t1}_0_1", "1", partDir, name, 1, "a", 1L),
      org.apache.spark.sql.Row(t1, s"${t1}_0_2", "2", partDir, name, 2, "b", 1L))
    val df = spark.createDataFrame(java.util.List.of(rows: _*), fileSchema)
    val tmp = new Path(base, ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.mkdirs(new Path(base, partDir))
    fs.rename(part, new Path(base, s"$partDir/$name")); fs.delete(tmp, true)
    val c1 = fs.create(new Path(base, s".hoodie/$t1.commit"), true)
    c1.write(s"""{"partitionToWriteStats":{"$partDir":[{"fileId":"$fid","path":"$partDir/$name"}]}}""".getBytes); c1.close()

    // log update for id=1 at t2 (writer schema also lacks region)
    val avro = graft.log.SparkToAvro.toAvroSchema(fileSchema, "r")
    val upd = org.apache.spark.sql.Row(t2, s"${t2}_0_1", "1", partDir, "", 1, "a2", 2L)
    val lo = new DataOutputStream(fs.create(new Path(base, s"$partDir/.${fid}_$t1.log.1_0-0-0"), true))
    try graft.log.LogFileWriter.avroDataBlock(lo, t2, avro,
      Seq(graft.log.SparkToAvro.toRecord(upd, fileSchema, avro)))
    finally lo.close()
    val c2 = fs.create(new Path(base, s".hoodie/$t2.deltacommit"), true)
    c2.write(s"""{"partitionToWriteStats":{"$partDir":[{"fileId":"$fid","path":"$partDir/.${fid}_$t1.log.1_0-0-0"}]}}""".getBytes); c2.close()

    val t = HudiTable(spark, base.toString)
    assert(t.droppedPartitionFields == Seq("region"))
    val out = t.snapshot().select("id", "v", "region")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    // the merged log record must carry region=7 like the base rows
    assert(out == Set((1, "a2", 7), (2, "b", 7)))
  }

  // ---------------- schema evolution: column added in commit 2 ------------
  test("schema resolves from latest commit metadata on an evolved table") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = new Path(graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/schema_evolved"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(base, true)
    fs.mkdirs(new Path(base, ".hoodie"))
    val props =
      """hoodie.table.name=schema_evolved
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.populate.meta.fields=false
        |""".stripMargin
    val p0 = fs.create(new Path(base, ".hoodie/hoodie.properties"), true)
    p0.write(props.getBytes("UTF-8")); p0.close()

    def writeFileGroup(fid: String, ts: String, df: org.apache.spark.sql.DataFrame): String = {
      val tmp = new Path(base, ".tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
      val name = s"${fid}_0-0-0_$ts.parquet"
      fs.rename(part, new Path(base, name))
      fs.delete(tmp, true)
      name
    }
    def commit(ts: String, fid: String, file: String, schema: StructType): Unit = {
      val avro = graft.log.SparkToAvro.toAvroSchema(schema, "evolved").toString
        .replace("\\", "\\\\").replace("\"", "\\\"")
      val o = fs.create(new Path(base, s".hoodie/$ts.commit"), true)
      o.write(
        (s"""{"partitionToWriteStats":{"":[{"fileId":"$fid","path":"$file"}]},""" +
          s""""extraMetadata":{"schema":"$avro"}}""").getBytes("UTF-8"))
      o.close()
    }
    import spark.implicits._
    val s1 = StructType(Seq(StructField("id", IntegerType), StructField("v", StringType)))
    val s2 = StructType(s1.fields :+ StructField("extra", StringType))
    val t1 = "20240101000000000"; val t2 = "20240102000000000"
    // file-group ids chosen so the listing samples fg "aaa..." first
    val f1 = writeFileGroup("aaaaaaaa-0000-0000-0000-000000000000-0", t1,
      Seq((1, "a"), (2, "b")).toDF("id", "v"))
    commit(t1, "aaaaaaaa-0000-0000-0000-000000000000-0", f1, s1)
    val f2 = writeFileGroup("bbbbbbbb-0000-0000-0000-000000000000-0", t2,
      spark.createDataFrame(
        java.util.List.of(Row(3, "c", "X"), Row(4, "d", "Y")), s2))
    commit(t2, "bbbbbbbb-0000-0000-0000-000000000000-0", f2, s2)

    val t = HudiTable(spark, base.toString)
    // the evolved column must be visible even though the first-listed file
    // group predates the column add (resolver.rs:41-47 resolution order)
    assert(t.tableSchema.fieldNames.contains("extra"))
    val rows = t.snapshot().select("id", "v", "extra")
      .collect().map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(rows == Set(
      (1, "a", None), (2, "b", None), (3, "c", Some("X")), (4, "d", Some("Y"))))
  }

  // ---------------- keygen injection guarded by a physical-type probe ----
  test("UNIX_TIMESTAMP keygen keeps reading a physically-string epoch column") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = new Path(
      graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/keygen_string_epoch"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(base, true)
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProps(fs, base,
      """hoodie.table.name=keygen_string_epoch
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.table.recordkey.fields=id
        |hoodie.table.partition.fields=ts
        |hoodie.table.keygenerator.class=org.apache.hudi.keygen.TimestampBasedKeyGenerator
        |hoodie.keygen.timebased.timestamp.type=UNIX_TIMESTAMP
        |hoodie.keygen.timebased.output.dateformat=yyyy/MM/dd
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    val t1 = "20240101000000000"
    val fid = "00000000-0000-0000-0000-000000000000-0"
    // the STORED column is genuinely string-typed epoch seconds — the
    // legitimate UNIX_TIMESTAMP input shape path-injection must NOT
    // clobber (the formatted path would be "2024/01/01", not these)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("ts", StringType)))
    val df = spark.createDataFrame(java.util.List.of(
      Row(1, "1704067200"), Row(2, "1704070800")), schema)
    val partDir = "2024/01/01"
    val name = s"${fid}_0-0-0_$t1.parquet"
    val tmp = new Path(base, ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.mkdirs(new Path(base, partDir))
    fs.rename(part, new Path(base, s"$partDir/$name")); fs.delete(tmp, true)
    val c1 = fs.create(new Path(base, s".hoodie/$t1.commit"), true)
    c1.write(
      s"""{"partitionToWriteStats":{"$partDir":[{"fileId":"$fid","path":"$partDir/$name"}]}}"""
        .getBytes("UTF-8"))
    c1.close()
    val t = HudiTable(spark, base.toString)
    // the footer probe sees BINARY(string) -> no injection
    assert(t.droppedPartitionFields.isEmpty,
      s"string-physical column must not be path-injected: ${t.droppedPartitionFields}")
    val rows = t.snapshot().select("id", "ts")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows == Set((1, "1704067200"), (2, "1704070800")))
  }

  private def writeProps(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, content: String): Unit = {
    val o = fs.create(new org.apache.hadoop.fs.Path(base, ".hoodie/hoodie.properties"), true)
    o.write(content.getBytes("UTF-8")); o.close()
  }
}
