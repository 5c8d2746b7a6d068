package graft.write

import graft.SparkTestBase
import graft.table.{HudiTable, RecordIndex}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SaveMode
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
}
