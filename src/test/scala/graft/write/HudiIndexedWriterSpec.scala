package graft.write

import graft.SparkTestBase
import graft.table.{HudiTable, RecordIndex}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Writes against a record_index table: the upsert/delete probe routes
  * through the MDT record index (ZERO snapshot scans — counter-asserted
  * like IndexIoCache), matching is GLOBAL (a changed partition value
  * updates the record at its current location, upstream's
  * update.partition.path=false), and the index is MAINTAINED on write —
  * created keys get entries in their hash-mapped index group, deleted
  * keys get tombstones, read-side point lookups stay green post-commit.
  */
class HudiIndexedWriterSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  /** Private writable copy of the mor_orders fixture (v6 MOR + a real
    * two-group record_index MDT).
    */
  private def copyFixture(name: String): String = {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val dst = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(graft.fixtures.HudiFixtureBuilder.morPath(sfDir)), fs, dst, false,
      spark.sessionState.newHadoopConf())
    dst.toString
  }

  private def w(df: org.apache.spark.sql.DataFrame, path: String, op: String = "upsert") =
    df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.datasource.write.operation", op)
      .mode(SaveMode.Append).save(path)

  /** `df` collected into a local relation: a batch whose own plan runs no
    * Spark job, like a writer fed from driver-side records.
    */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def keysOf(df: DataFrame): Seq[String] =
    df.select(col("o_orderkey").cast("string")).collect().map(_.getString(0)).toSeq

  private def read(path: String) = spark.read.format("hudi-graft").load(path)

  test("upsert probes the record index — zero snapshot scans, index maintained") {
    val path = copyFixture("writer_indexed")
    val before = spark.read.format("hudi-graft").load(path)
    val beforeCount = before.count()

    HudiWriter.snapshotProbes.set(0)
    HudiWriter.indexProbes.set(0)
    val lookupsBefore = RecordIndex.distributedLookups.get()
    // %11 updates (existing keys) + two brand-new keys
    val upd = orders().filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderstatus", lit("X"))
    val fresh = orders().limit(2)
      .withColumn("o_orderkey", col("o_orderkey") + lit(20000000L))
    w(upd.unionByName(fresh), path)

    assert(HudiWriter.snapshotProbes.get() == 0,
      "an indexed upsert must plan ZERO snapshot key joins")
    assert(HudiWriter.indexProbes.get() == 1)
    assert(RecordIndex.distributedLookups.get() > lookupsBefore)

    val after = spark.read.format("hudi-graft").load(path)
    // keys deleted at T3 (%97) that the %11 upsert re-sends legitimately
    // RESURRECT (delete-then-upsert = insert, upstream semantics) — the
    // index still knows their old location and the newer log data wins
    // the commit-time tiebreak against the delete block
    val resurrected = orders()
      .filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") % 97 === 0).count()
    assert(after.count() == beforeCount + 2 + resurrected,
      "no duplicates: two new keys plus the resurrected deleted ones")
    assert(after.filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") < 20000000L)
      .select("o_orderstatus").distinct().collect().map(_.getString(0)).toSet == Set("X"))

    // post-commit index consistency: the NEW keys resolve to the existing
    // small group whose c2 log received them (no fresh group is created)
    val t = HudiTable(spark, path)
    val c2i = t.timeline.completedInstants.last
    val c2 = c2i.timestamp
    val newKeys = fresh.select(col("o_orderkey").cast("string")).collect().map(_.getString(0))
    val found = RecordIndex.lookup(path, newKeys.toSeq,
      spark.sessionState.newHadoopConf())
    assert(found.entries.keySet == newKeys.toSet, s"new keys must be indexed: $found")
    val written = t.timeline.touchedFileGroups(c2i)
    found.entries.values.foreach { e =>
      assert(t.fsView.slicesAsOf(c2).exists(sl => sl.fileId == e.fileId &&
        sl.partitionPath == e.partitionPath && sl.commitTimestamp < c2),
        s"entry must point at an existing group of its partition: $e")
      assert(written.getOrElse(e.partitionPath, Set.empty).contains(e.fileId),
        s"entry must name the group whose c2 log received the key: $e")
    }
    // read-side point lookup over the maintained index
    val point = spark.read.format("hudi-graft").load(path)
      .filter(col("_hoodie_record_key") === newKeys.head)
    assert(point.count() == 1)
  }

  test("delete tombstones the index; global matching needs no partition column") {
    val path = copyFixture("writer_indexed_del")
    val delKeys = orders().filter(col("o_orderkey") % 13 === 0)
    val n = delKeys.count()
    HudiWriter.snapshotProbes.set(0)
    // GLOBAL probe: the delete input needs only the KEY column
    delKeys.select("o_orderkey").write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.operation", "delete")
      .mode(SaveMode.Append).save(path)
    assert(HudiWriter.snapshotProbes.get() == 0)

    val after = spark.read.format("hudi-graft").load(path)
    assert(after.filter(col("o_orderkey") % 13 === 0).count() == 0)
    // tombstoned keys vanish from the index
    val gone = RecordIndex.lookup(path,
      delKeys.select(col("o_orderkey").cast("string")).collect().map(_.getString(0)).toSeq,
      spark.sessionState.newHadoopConf())
    assert(gone.entries.isEmpty, s"deleted keys must tombstone: ${gone.entries.keySet.take(3)}")
    // surviving keys still resolve
    val kept = RecordIndex.lookup(path, Seq("7"), spark.sessionState.newHadoopConf())
    assert(kept.entries.contains("7"))
  }

  test("a changed partition value updates the record at its CURRENT location") {
    val path = copyFixture("writer_indexed_move")
    val before = spark.read.format("hudi-graft").load(path)
    val beforeCount = before.count()
    val origPart = before.filter(col("o_orderkey") === 7)
      .head.getAs[String]("_hoodie_partition_path")
    // key 7 arrives claiming a DIFFERENT partition value
    val moved = orders().filter(col("o_orderkey") === 7)
      .withColumn("o_orderpriority", lit("9-MOVED"))
      .withColumn("o_orderstatus", lit("M"))
    w(moved, path)
    val after = spark.read.format("hudi-graft").load(path)
    assert(after.count() == beforeCount, "global match must not duplicate the key")
    val r = after.filter(col("o_orderkey") === 7).collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("_hoodie_partition_path") == origPart,
      "update.partition.path=false keeps the record in its original partition")
    assert(r.head.getAs[String]("o_orderstatus") == "M")
  }

  test("insert_overwrite_table on a record_index table refuses") {
    val path = copyFixture("writer_indexed_iow")
    val ex = intercept[UnsupportedOperationException] {
      w(orders(), path, op = "insert_overwrite_table")
    }
    assert(ex.getMessage.contains("record_index"), ex.getMessage)
  }

  test("an indexed MOR upsert and a keys-only delete each run at most 4 Spark jobs") {
    val path = copyFixture("writer_indexed_jobs")
    val beforeCount = read(path).count()
    // updates of live keys (keys %97 were deleted by the fixture) plus
    // new keys, which all fit the partitions' small groups
    val upd = orders().filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") % 97 =!= 0)
      .withColumn("o_orderstatus", lit("J"))
    val fresh = orders().filter(col("o_orderkey") % 50 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + lit(30000000L))
    val batch = local(upd.unionByName(fresh))
    val newKeys = keysOf(fresh)
    HudiWriter.snapshotProbes.set(0)
    HudiWriter.indexProbes.set(0)
    val (_, upsertJobs) = JobCount(spark)(w(batch, path))
    assert(upsertJobs <= 4, s"the upsert ran $upsertJobs Spark jobs")
    assert(HudiWriter.indexProbes.get() == 1 && HudiWriter.snapshotProbes.get() == 0)

    val t = HudiTable(spark, path)
    val c2 = t.timeline.latestCommitTimestamp.get
    assert(t.fsView.slicesAsOf(c2).forall(_.commitTimestamp < c2),
      "every new key must ride an existing group's log")
    val after = read(path)
    assert(after.count() == beforeCount + newKeys.size)
    assert(after.filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") % 97 =!= 0 &&
      col("o_orderkey") < 30000000L).select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).toSet == Set("J"))
    val found = RecordIndex.lookup(path, newKeys, spark.sessionState.newHadoopConf())
    assert(found.entries.keySet == newKeys.toSet)
    val groups = t.fsView.slicesAsOf(c2).map(sl => sl.fileId -> sl.partitionPath).toMap
    found.entries.values.foreach(e =>
      assert(groups.get(e.fileId).contains(e.partitionPath), s"not an existing group: $e"))

    val dels = local(orders().filter(col("o_orderkey") % 13 === 0).select("o_orderkey"))
    val delKeys = keysOf(dels)
    val (_, deleteJobs) = JobCount(spark)(dels.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.operation", "delete")
      .mode(SaveMode.Append).save(path))
    assert(deleteJobs <= 4, s"the delete ran $deleteJobs Spark jobs")
    assert(HudiWriter.indexProbes.get() == 2 && HudiWriter.snapshotProbes.get() == 0)
    assert(read(path).filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") < 30000000L)
      .count() == 0)
    val gone = RecordIndex.lookup(path, delKeys, spark.sessionState.newHadoopConf())
    assert(gone.entries.isEmpty, s"deleted keys must tombstone: ${gone.entries.keySet.take(3)}")
    assert(RecordIndex.lookup(path, newKeys, spark.sessionState.newHadoopConf())
      .entries.keySet == newKeys.toSet)
  }

  test("a failing indexed commit releases every frame and RDD it persisted") {
    val path = copyFixture("writer_indexed_fail")
    // a map column passes the schema checks and the probe, then fails the
    // log pass's avro encoding on the driver
    val bad = orders().filter(col("o_orderkey") % 11 === 0)
      .withColumn("tags", map(lit("k"), lit("v")))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[UnsupportedOperationException](w(bad, path))
    assert(ex.getMessage.contains("avro-encode"), ex.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("indexed upsert keeps the greatest precombine value per key, nulls last") {
    val path = copyFixture("writer_indexed_dedup")
    val row7 = orders().filter(col("o_orderkey") === 7)
    val custType = row7.schema("o_custkey").dataType
    val stored = row7.select(col("o_custkey").cast("long")).head.getLong(0)
    def version(key: Long, cust: Option[Long], status: String): DataFrame =
      row7.withColumn("o_orderkey", lit(key))
        .withColumn("o_custkey", cust.map(c => lit(c)).getOrElse(lit(null)).cast(custType))
        .withColumn("o_orderstatus", lit(status))
    val (n1, n2) = (40000001L, 40000002L)
    val batch = Seq(
      version(n1, Some(5), "a"), version(n1, Some(9), "b"), version(n1, Some(9), "c"),
      version(n1, None, "d"),
      version(n2, None, "e"), version(n2, Some(3), "f"),
      version(7, Some(stored + 10), "g"), version(7, None, "h"), version(7, Some(stored + 20), "i")
    ).reduce(_ unionByName _)
    HudiWriter.indexProbes.set(0)
    w(batch, path)
    assert(HudiWriter.indexProbes.get() == 1)
    val got = read(path).filter(col("o_orderkey").isin(n1, n2, 7L))
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"), col("o_orderstatus"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.map(_._1).sorted.toSeq == Seq(7L, n1, n2), got.toSeq)
    val byKey = got.map(r => r._1 -> r).toMap
    assert(byKey(n1)._2 == 9 && Set("b", "c").contains(byKey(n1)._3), byKey(n1))
    assert(byKey(n2) == ((n2, 3L, "f")))
    assert(byKey(7L) == ((7L, stored + 20, "i")))
  }

  test("indexed and non-indexed MOR tables agree on an upsert/delete sequence") {
    val indexed = copyFixture("writer_diff_indexed")
    val plain = copyFixture("writer_diff_plain")
    // the same table without the record index: drop the advertisement
    // (and the metadata table) so the writer probes the snapshot
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val props = new Path(plain, ".hoodie/hoodie.properties")
    val in = fs.open(props)
    val kept = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(_.startsWith("hoodie.table.metadata.partitions")).toList
    finally in.close()
    val out = fs.create(props, true)
    try out.write(kept.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    fs.delete(new Path(plain, ".hoodie/metadata"), true)

    // partition values unchanged: the two probes differ only in matching
    // scope (global vs per partition), which such a batch cannot see
    val upserts = local(orders().filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("D"))
      .withColumn("o_custkey", col("o_custkey") + lit(100000))
      .unionByName(orders().filter(col("o_orderkey") % 40 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + lit(50000000L))))
    val deletes = local(orders().filter(col("o_orderkey") % 13 === 0)
      .select("o_orderkey", "o_orderpriority"))
    HudiWriter.snapshotProbes.set(0)
    HudiWriter.indexProbes.set(0)
    for (path <- Seq(indexed, plain)) {
      w(upserts, path)
      w(deletes, path, op = "delete")
    }
    assert(HudiWriter.indexProbes.get() == 2 && HudiWriter.snapshotProbes.get() == 2)

    // each table's two new instants differ in wall-clock time only:
    // compare commit times through their position in the timeline
    def state(path: String): Set[Seq[Any]] = {
      val instants = HudiTable(spark, path).timeline.completedInstants.map(_.timestamp)
      val label = instants.takeRight(2).zip(Seq("upsert", "delete")).toMap
      read(path).drop("_hoodie_file_name", "_hoodie_commit_seqno").collect().map { r =>
        r.toSeq.zip(r.schema.fieldNames).map {
          case (v: String, "_hoodie_commit_time") => label.getOrElse(v, v)
          case (v, _) => v
        }
      }.toSet
    }
    val (a, b) = (state(indexed), state(plain))
    assert(a.size == b.size && a == b, s"only indexed: ${(a -- b).take(3)}; only plain: ${(b -- a).take(3)}")
  }
}
