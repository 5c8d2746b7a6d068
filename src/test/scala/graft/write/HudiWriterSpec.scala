package graft.write

import graft.SparkTestBase
import graft.table.HudiTable
import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The COW write path: `df.write.format("hudi-graft")` roundtrips through
  * this repo's own readers, upserts rewrite the matched groups with
  * carried commit stamps, SaveModes behave, Overwrite is a replacecommit,
  * and the written layout holds the real-Hudi invariants (instant triple,
  * base-file naming, hoodie.properties keys, prevCommit on rewrites).
  */
class HudiWriterSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private def fresh(name: String): String = {
    val p = new org.apache.hadoop.fs.Path(
      graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    p.toString
  }

  private def writeOpts(df: DataFrame, extra: (String, String)*) = {
    var w = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.table.name", "writer_orders")
    extra.foreach { case (k, v) => w = w.option(k, v) }
    w
  }

  private def dataCols(df: DataFrame): DataFrame =
    df.select(orders().columns.map(col).toIndexedSeq: _*)

  test("insert roundtrip: snapshot equals the source through our own reader") {
    val path = fresh("writer_insert")
    writeOpts(orders(), "hoodie.datasource.write.operation" -> "insert")
      .mode(SaveMode.ErrorIfExists).save(path)
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == orders().count())
    assert(dataCols(back).exceptAll(orders()).isEmpty &&
      orders().exceptAll(dataCols(back)).isEmpty, "roundtrip must be exact")
    // meta columns: key is the bare field value, partition the field value
    val r = back.filter(col("o_orderkey") === 1).head
    assert(r.getAs[String]("_hoodie_record_key") == "1")
    assert(r.getAs[String]("_hoodie_partition_path") == r.getAs[String]("o_orderpriority"))
    assert(r.getAs[String]("_hoodie_file_name").endsWith(".parquet"))
  }

  // Staged through Spark's partitionBy writer and then re-read for its
  // per-file row counts, this bulk_insert ran 8 Spark jobs (local[4], 4
  // shuffle partitions). It runs 5: the input's schema inference and the
  // one staging query, whose dedup, cache and group shuffles adaptive
  // execution submits as jobs of their own.
  test("a bulk_insert writes its base files in one staging job") {
    val path = fresh("writer_bulk_jobs")
    val (_, jobs) = JobCount(spark)(writeOpts(orders(),
      "hoodie.datasource.write.operation" -> "bulk_insert").mode(SaveMode.Append).save(path))
    assert(jobs <= 5, s"the bulk_insert ran $jobs Spark jobs")
    assert(spark.read.format("hudi-graft").load(path).count() == orders().count())
  }

  test("upsert rewrites matched groups; carried rows keep their commit stamps") {
    val path = fresh("writer_upsert")
    writeOpts(orders()).mode(SaveMode.Append).save(path) // upsert on empty = insert
    val t1 = HudiTable(spark, path).timeline.latestCommitTimestamp.get
    val upd = orders().filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
    writeOpts(upd).mode(SaveMode.Append).save(path)
    val t = HudiTable(spark, path)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq
    assert(c1 == t1 && c2 > c1)

    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == orders().count(), "upsert must not duplicate keys")
    val statuses = back.filter(col("o_orderkey") % 7 === 0)
      .select("o_orderstatus").distinct().collect().map(_.getString(0)).toSet
    assert(statuses == Set("U"))
    // stamp preservation: only the %7 rows carry c2
    val stamped = back.filter(col("_hoodie_commit_time") === c2).count()
    assert(stamped == orders().filter(col("o_orderkey") % 7 === 0).count(),
      s"only updated rows may carry $c2, got $stamped")
    // incremental (c1, c2] sees exactly the updated rows
    val inc = t.incremental(Some(c1), Some(c2))
    assert(inc.count() == stamped)
    assert(inc.select("o_orderstatus").distinct().collect().map(_.getString(0)).toSet ==
      Set("U"))
    // and the inferred CDC feed works over writer-produced metadata
    val cdc = graft.sources.CdcRead.changes(spark, path, Some(c1), Some(c2))
      .groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdc == Map("u" -> stamped), s"writer metadata must support CDC inference: $cdc")
  }

  test("written layout holds the real-Hudi v6 invariants") {
    val path = fresh("writer_layout")
    writeOpts(orders()).mode(SaveMode.Append).save(path)
    writeOpts(orders().filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))).mode(SaveMode.Append).save(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    val hoodie = new org.apache.hadoop.fs.Path(path, ".hoodie")
    val names = fs.listStatus(hoodie).map(_.getPath.getName).toSet
    val t = HudiTable(spark, path)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq
    // instant triple per commit, 17-digit millisecond instants
    for (c <- Seq(c1, c2)) {
      assert(c.matches("\\d{17}"), c)
      assert(names.contains(s"$c.commit.requested") && names.contains(s"$c.commit.inflight") &&
        names.contains(s"$c.commit"), s"instant triple for $c in $names")
    }
    // hoodie.properties carries the reader-contract keys
    val props = new String(graft.util.ReadFully(fs,
      new org.apache.hadoop.fs.Path(path, ".hoodie/hoodie.properties")), "UTF-8")
    for (k <- Seq("hoodie.table.name=writer_orders", "hoodie.table.type=COPY_ON_WRITE",
      "hoodie.table.version=6", "hoodie.table.recordkey.fields=o_orderkey",
      "hoodie.table.precombine.field=o_custkey",
      "hoodie.table.partition.fields=o_orderpriority",
      "hoodie.table.keygenerator.class=org.apache.hudi.keygen.SimpleKeyGenerator"))
      assert(props.contains(k), s"missing '$k' in:\n$props")
    // base files: {uuid}-0_{token}_{instant}.parquet inside partition dirs
    val slices = t.fsView.slicesAsOf(c2)
    assert(slices.nonEmpty)
    slices.foreach { sl =>
      val bf = sl.baseFile.get
      assert(bf.fileName.matches("[0-9a-f\\-]{36}-0_0-0-0_\\d{17}\\.parquet"), bf.fileName)
      assert(sl.partitionPath.nonEmpty)
    }
    // the fileIds are exactly the deterministic md5 derivation — the
    // codegen'd routing expression and the driver twin must agree
    val c1Slices = t.fsView.slicesAsOf(c1)
    c1Slices.foreach { sl =>
      assert((0 until 64).exists(b =>
        HudiWriter.freshFileId(c1, sl.partitionPath, b) == sl.fileId),
        s"fileId ${sl.fileId} must derive from (instant, partition, bucket)")
    }
    // rewritten groups record prevCommit = c1 (the version they built on)
    val i2 = t.timeline.completedInstants.find(_.timestamp == c2).get
    val prevs = t.timeline.touchedGroupsPrevCommit(i2)
    assert(prevs.nonEmpty && prevs.values.forall(_.contains(c1)), prevs.toString)
    // and numWrites/numUpdateWrites are real counts
    val md = t.timeline.commitMetadata(i2)
    val stats = md.path("partitionToWriteStats")
    import scala.jdk.CollectionConverters._
    // (.toSeq first: properties().asScala is a SET and equal per-partition
    // counts would dedupe)
    val upd = stats.properties().asScala.toSeq.flatMap(_.getValue.elements().asScala)
      .map(_.path("numUpdateWrites").asLong(0)).sum
    assert(upd == orders().filter(col("o_orderkey") % 7 === 0).count(), upd.toString)
  }

  test("SaveMode.ErrorIfExists refuses an existing table; Ignore no-ops") {
    val path = fresh("writer_modes")
    writeOpts(orders()).mode(SaveMode.Append).save(path)
    val n = spark.read.format("hudi-graft").load(path).count()
    intercept[Exception] {
      writeOpts(orders()).mode(SaveMode.ErrorIfExists).save(path)
    }
    writeOpts(orders().limit(1)).mode(SaveMode.Ignore).save(path)
    assert(spark.read.format("hudi-graft").load(path).count() == n,
      "Ignore must not write")
    assert(HudiTable(spark, path).timeline.completedInstants.size == 1)
  }

  test("SaveMode.Overwrite is an insert_overwrite_table REPLACECOMMIT") {
    val path = fresh("writer_overwrite")
    writeOpts(orders()).mode(SaveMode.Append).save(path)
    val keep = orders().filter(col("o_orderkey") % 3 =!= 0)
      .withColumn("o_orderstatus", lit("V"))
    writeOpts(keep).mode(SaveMode.Overwrite).save(path)
    val t = HudiTable(spark, path)
    val actions = t.timeline.completedInstants.map(_.action).sorted.toSeq
    assert(actions == Seq("commit", "replacecommit"), actions.toString)
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == keep.count())
    assert(back.select("o_orderstatus").distinct().collect().map(_.getString(0)).toSet ==
      Set("V"))
    // replaced groups recorded → the old groups are R4-excluded, and the
    // CDC inference can diff the overwrite
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq
    val cdc = graft.sources.CdcRead.changes(spark, path, Some(c1), Some(c2))
      .groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dels = orders().filter(col("o_orderkey") % 3 === 0).count()
    assert(cdc.getOrElse("d", 0L) == dels, s"overwrite deletes must surface: $cdc")
  }

  test("incoming duplicates deduplicate by the greatest precombine value") {
    val path = fresh("writer_dedupe")
    val dup = orders().limit(100)
      .withColumn("o_custkey", lit(1L)).withColumn("o_orderstatus", lit("L"))
      .unionByName(orders().limit(100)
        .withColumn("o_custkey", lit(9L)).withColumn("o_orderstatus", lit("H")))
    writeOpts(dup).mode(SaveMode.Append).save(path)
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == 100)
    assert(back.select("o_orderstatus").distinct().collect().map(_.getString(0)).toSet ==
      Set("H"), "greatest precombine must win")
  }

  test("unpartitioned write: files at the table root, empty partition path") {
    val path = fresh("writer_unpart")
    orders().limit(500).write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .mode(SaveMode.Append).save(path)
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == 500)
    assert(back.select("_hoodie_partition_path").distinct().head.getString(0) == "")
    val props = new String(graft.util.ReadFully(
      org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(path, ".hoodie/hoodie.properties")), "UTF-8")
    assert(props.contains("NonpartitionedKeyGenerator"), props)
  }

  test("cdc-enabled writes emit sidecars that serve the feed past the cleaner horizon") {
    val path = fresh("writer_cdc")
    def w(df: DataFrame) = writeOpts(df, "hoodie.table.cdc.enabled" -> "true")
      .mode(SaveMode.Append).save(path)
    w(orders())
    w(orders().filter(col("o_orderkey") % 7 === 0).withColumn("o_orderstatus", lit("U")))
    val t = HudiTable(spark, path)
    assert(t.config.cdcEnabled &&
      t.config.cdcSupplementalLoggingMode == "data_before_after")
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq
    val nUpd = orders().filter(col("o_orderkey") % 7 === 0).count()

    // the upsert commit carries cdcStats for every rewritten group
    val i2 = t.timeline.completedInstants.find(_.timestamp == c2).get
    val cdcByGroup = t.timeline.cdcFiles(i2)
    assert(cdcByGroup.nonEmpty, "cdcStats must be recorded")
    assert(cdcByGroup.keySet == t.timeline.touchedGroupsPrevCommit(i2)
      .collect { case (fid, Some(_)) => fid }.toSet,
      "every rewritten group gets a sidecar")

    // the feed serves from blocks — zero inference joins, exact images
    graft.sources.CdcMetrics.reset()
    val feed = graft.sources.CdcRead.changes(spark, path, Some(c1), Some(c2))
      .select(col("op"), col("before.o_orderkey").as("k"),
        col("before.o_orderstatus").as("bs"), col("after.o_orderstatus").as("as"))
      .collect()
    assert(graft.sources.CdcMetrics.inferredCommitJoins.get() == 0 &&
      graft.sources.CdcMetrics.persistedCommits.get() == 1)
    assert(feed.length == nUpd)
    val origStatus = orders().select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    feed.foreach { r =>
      assert(r.getString(0) == "u" && r.getString(3) == "U" &&
        r.getString(2) == origStatus(r.getLong(1)), s"image mismatch: $r")
    }
    // parity with forced inference on the same (un-cleaned) table
    val inferred = graft.sources.CdcRead.changes(spark, path, Some(c1), Some(c2),
      Map(graft.sources.CdcRead.InferenceOnlyOption -> "true"))
      .select(col("op"), col("before.o_orderkey").as("k"),
        col("before.o_orderstatus").as("bs"), col("after.o_orderstatus").as("as"))
      .collect().map(_.toSeq).toSet
    assert(feed.map(_.toSeq).toSet == inferred, "persisted and inferred feeds must agree")

    // CLEANER: remove the c1 base files AND write the clean instant (a
    // real cleaner always does — it is also what invalidates the
    // open-table cache's timeline fingerprint) — inference refuses,
    // blocks serve
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    val gone = t.fsView.slicesAsOf(c1).flatMap(_.baseFile).map(_.path)
    assert(gone.nonEmpty)
    gone.foreach(p => assert(fs.delete(new org.apache.hadoop.fs.Path(p), false)))
    val cleanOut = fs.create(new org.apache.hadoop.fs.Path(path,
      s".hoodie/${(c2.toLong + 1).toString}.clean"), true)
    cleanOut.write(s"""{"earliestCommitToRetain":"$c2"}""".getBytes("UTF-8"))
    cleanOut.close()
    val ex = intercept[UnsupportedOperationException] {
      graft.sources.CdcRead.changes(spark, path, Some(c1), Some(c2),
        Map(graft.sources.CdcRead.InferenceOnlyOption -> "true"))
    }
    assert(ex.getMessage.contains("no longer exist"), ex.getMessage)
    assert(graft.sources.CdcRead.changes(spark, path, Some(c1), Some(c2)).count() == nUpd,
      "the sidecar path must keep serving after the clean")
  }

  test("delete removes keys, feeds 'd' CDC images, and empties groups visibly") {
    val path = fresh("writer_delete")
    writeOpts(orders(), "hoodie.table.cdc.enabled" -> "true",
      "hoodie.datasource.write.operation" -> "insert")
      .mode(SaveMode.Append).save(path)
    // delete by KEYS ONLY — the input carries just key + partition columns
    orders().filter(col("o_orderkey") % 5 === 0)
      .select("o_orderkey", "o_orderpriority")
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.operation", "delete")
      .mode(SaveMode.Append).save(path)
    val nDel = orders().filter(col("o_orderkey") % 5 === 0).count()
    val back = spark.read.format("hudi-graft").load(path)
    // a keys-only delete input must not SHRINK the resolved table schema
    // (the commit records the table's data schema, not the input's)
    assert(orders().columns.toSet.subsetOf(back.columns.toSet),
      s"schema lost columns after delete: ${back.columns.toSeq}")
    assert(back.count() == orders().count() - nDel)
    assert(back.filter(col("o_orderkey") % 5 === 0).count() == 0)
    assert(back.filter(col("o_orderkey") % 5 =!= 0)
      .select("o_custkey").where(col("o_custkey").isNull).count() == 0)
    // survivors kept their original stamps — nothing re-stamped
    val t = HudiTable(spark, path)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq
    assert(back.filter(col("_hoodie_commit_time") === c2).count() == 0)
    // numDeletes recorded per rewritten group
    val i2 = t.timeline.completedInstants.find(_.timestamp == c2).get
    val md = t.timeline.commitMetadata(i2)
    import scala.jdk.CollectionConverters._
    val dels = md.path("partitionToWriteStats").properties().asScala.toSeq
      .flatMap(_.getValue.elements().asScala).map(_.path("numDeletes").asLong(0)).sum
    assert(dels == nDel, s"numDeletes $dels vs $nDel")
    // the CDC feed serves the deletes from sidecars with full before images
    graft.sources.CdcMetrics.reset()
    val feed = graft.sources.CdcRead.changes(spark, path, Some(c1), Some(c2))
      .select(col("op"), col("before.o_orderkey").as("k"), col("after"))
      .collect()
    assert(graft.sources.CdcMetrics.inferredCommitJoins.get() == 0 &&
      graft.sources.CdcMetrics.persistedCommits.get() == 1)
    assert(feed.length == nDel &&
      feed.forall(r => r.getString(0) == "d" && r.isNullAt(2)), s"${feed.take(3).toSeq}")
    assert(feed.map(_.getLong(1)).toSet ==
      orders().filter(col("o_orderkey") % 5 === 0).collect().map(_.getLong(0)).toSet)

    // a group losing EVERY row writes an empty base-file version
    val small = fresh("writer_delete_all")
    orders().limit(100).write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .mode(SaveMode.Append).save(small)
    spark.read.format("hudi-graft").load(small).select("o_orderkey")
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.operation", "delete")
      .mode(SaveMode.Append).save(small)
    assert(spark.read.format("hudi-graft").load(small).count() == 0,
      "a fully-deleted table must read back empty")
    val ts = HudiTable(spark, small)
    val latest = ts.timeline.latestCommitTimestamp.get
    val slices = ts.fsView.slicesAsOf(latest)
    assert(slices.nonEmpty && slices.forall(_.commitTimestamp == latest),
      s"every group must carry the delete-commit version: $slices")
  }

  test("writes to a files-MDT table maintain the metadata listing (v8 target)") {
    // copy the v8 cow_mdt_nation fixture: its ORPHAN file is visible to a
    // raw listing but absent from the MDT, so a snapshot that shows the
    // upsert WITHOUT the orphan's duplicate rows proves the new files
    // arrived through the MDT, not a listing fallback
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val srcPath = new org.apache.hadoop.fs.Path(
      graft.fixtures.HudiFixtureBuilder.mdtPath(sfDir))
    val path = new org.apache.hadoop.fs.Path(
      graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/writer_mdt"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(path, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, srcPath, fs, path, false,
      spark.sessionState.newHadoopConf())
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val before = spark.read.format("hudi-graft").load(path.toString)
    assert(before.count() == nation.count(), "MDT listing excludes the orphan")

    nation.filter(col("n_nationkey") % 2 === 0)
      .withColumn("n_name", lit("RENAMED"))
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "n_nationkey")
      .option("hoodie.datasource.write.partitionpath.field", "n_regionkey")
      .mode(SaveMode.Append).save(path.toString)

    val after = spark.read.format("hudi-graft").load(path.toString)
    assert(after.count() == nation.count(),
      "post-write snapshot must show every row exactly once (orphan still invisible)")
    assert(after.filter(col("n_nationkey") % 2 === 0)
      .select("n_name").distinct().collect().map(_.getString(0)).toSet == Set("RENAMED"))
    // the MDT records the new files
    val t = HudiTable(spark, path.toString)
    val c2 = t.timeline.latestCommitTimestamp.get
    val recs = graft.table.MetadataTable.filesPartitionRecords(
      path.toString, spark.sessionState.newHadoopConf())
    val newNames = t.fsView.slicesAsOf(c2)
      .filter(_.commitTimestamp == c2).flatMap(_.baseFile).map(_.fileName)
    assert(newNames.nonEmpty)
    newNames.foreach { n =>
      assert(recs.values.exists(_.activeFiles.contains(n)),
        s"MDT files partition must list $n")
    }
    // v8 timeline invariants: the completed instant lives under
    // .hoodie/timeline with a {request}_{completion} name
    val tl = fs.listStatus(new org.apache.hadoop.fs.Path(path, ".hoodie/timeline"))
      .map(_.getPath.getName)
    assert(tl.exists(n => n.matches(s"${c2}_\\d{17}\\.commit")), tl.mkString(","))
    // and the MDT's own deltacommit completed at the data instant
    val mdtTl = fs.listStatus(new org.apache.hadoop.fs.Path(path, ".hoodie/metadata/.hoodie"))
      .map(_.getPath.getName)
    assert(mdtTl.contains(s"$c2.deltacommit"), mdtTl.mkString(","))
  }

  test("partition values with '+', spaces, and '%' roundtrip exactly") {
    // staging dirs are HIVE-escaped, not URL-encoded: URLDecoder would
    // corrupt 'a+b' to 'a b' and land files in the wrong partition
    val path = fresh("writer_partchars")
    import org.apache.spark.sql.types._
    val rows = Seq(("1", "a+b"), ("2", "x y"), ("3", "p%q"), ("4", "plain"))
    val df = spark.createDataFrame(rows).toDF("id", "grp")
    df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "id")
      .option("hoodie.datasource.write.partitionpath.field", "grp")
      .mode(SaveMode.Append).save(path)
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == 4)
    val byPart = back.select("_hoodie_partition_path", "grp").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byPart == Map("a+b" -> "a+b", "x y" -> "x y", "p%q" -> "p%q", "plain" -> "plain"),
      s"partition dirs must carry the RAW values: $byPart")
    // partition-pruned read finds the '+' partition
    assert(back.filter(col("grp") === "a+b").count() == 1)
  }

  test("a column-reordered upsert input must not flip the table schema") {
    val path = fresh("writer_reorder")
    writeOpts(orders()).mode(SaveMode.Append).save(path)
    val originalOrder = spark.read.format("hudi-graft").load(path).columns.toSeq
    // same columns, REVERSED order — the commit must record the TABLE's
    // order (readers resolve schema commit-metadata-first)
    val reversed = orders().filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
    writeOpts(reversed.select(reversed.columns.reverse.map(col).toIndexedSeq: _*))
      .mode(SaveMode.Append).save(path)
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.columns.toSeq == originalOrder,
      s"schema order flipped: ${back.columns.toSeq} vs $originalOrder")
    assert(back.count() == orders().count())
    assert(back.filter(col("o_orderkey") % 7 === 0)
      .select("o_orderstatus").distinct().head.getString(0) == "U")
  }

  test("user .partitionBy maps to the partition-path field (not silently ignored)") {
    val path = fresh("writer_partitionby")
    orders().limit(300).write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .partitionBy("o_orderpriority")
      .mode(SaveMode.Append).save(path)
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.select("_hoodie_partition_path").distinct().count() > 1,
      "partitionBy must partition the table")
    val props = new String(graft.util.ReadFully(
      org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(path, ".hoodie/hoodie.properties")), "UTF-8")
    assert(props.contains("hoodie.table.partition.fields=o_orderpriority"), props)
    // conflict with an explicit differing hoodie option refuses
    intercept[IllegalArgumentException] {
      orders().limit(10).write.format("hudi-graft")
        .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
        .option("hoodie.datasource.write.partitionpath.field", "o_orderstatus")
        .partitionBy("o_orderpriority")
        .mode(SaveMode.Append).save(fresh("writer_partitionby_conflict"))
    }
  }

  test("'__'-prefixed input columns refuse loudly (reserved routing namespace)") {
    val ex = intercept[IllegalArgumentException] {
      orders().limit(10).withColumn("__key", lit("boom"))
        .write.format("hudi-graft")
        .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
        .mode(SaveMode.Append).save(fresh("writer_dunder"))
    }
    assert(ex.getMessage.contains("__"), ex.getMessage)
  }

  test("partition values with control characters still produce a parseable timeline") {
    val path = fresh("writer_ctrlchars")
    val df = spark.createDataFrame(Seq(("1", "with\nnewline"), ("2", "tab\there")))
      .toDF("id", "grp")
    df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "id")
      .option("hoodie.datasource.write.partitionpath.field", "grp")
      .mode(SaveMode.Append).save(path)
    // an unescaped newline in the commit JSON would make every open fail
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == 2)
    assert(HudiWriter.escapeJson("a\nb\u0001c\t") == "a\\nb\\u0001c\\t")
  }

  test("refusals: unmaintained-index MDT, non-parquet base, schema drift") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    // non-parquet base format refuses
    val exLance = intercept[UnsupportedOperationException] {
      writeOpts(orders()).mode(SaveMode.Append)
        .save(graft.fixtures.HudiFixtureBuilder.lancePath(sfDir))
    }
    assert(exLance.getMessage.toLowerCase.contains("format"), exLance.getMessage)
    // column DROPS refuse (added columns are legal evolution now —
    // HudiEvolutionWriterSpec)
    val path = fresh("writer_drift")
    writeOpts(orders()).mode(SaveMode.Append).save(path)
    val exDrift = intercept[IllegalArgumentException] {
      writeOpts(orders().drop("o_orderdate")).mode(SaveMode.Append).save(path)
    }
    assert(exDrift.getMessage.contains("missing"), exDrift.getMessage)
    // index-advertising tables this writer cannot keep correct refuse:
    // the sidx fixture's secondary index covers a DATE column whose key
    // rendering is writer-family-specific
    val exMdt = intercept[UnsupportedOperationException] {
      writeOpts(orders()).mode(SaveMode.Append)
        .save(graft.fixtures.HudiFixtureBuilder.sidxPath(sfDir))
    }
    assert(exMdt.getMessage.contains("non-string"), exMdt.getMessage)
  }
}
