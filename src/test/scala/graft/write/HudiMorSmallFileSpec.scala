package graft.write

import graft.SparkTestBase
import graft.table.{HudiTable, RecordIndex}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Small-file insert routing for MOR upserts: new keys land in the log of
  * an existing group of their partition whose latest slice is below
  * `hoodie.parquet.max.file.size`, spread by key hash over the groups'
  * remaining capacity; overflow past capacity and keys of partitions with
  * no such group go to fresh base-file groups. Every reader must then
  * treat a log-only key like any other row.
  */
class HudiMorSmallFileSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private def fresh(name: String): String = {
    val p = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    FileSystem.get(spark.sessionState.newHadoopConf()).delete(p, true)
    p.toString
  }

  private def w(df: DataFrame, path: String, op: String, extra: (String, String)*): Unit =
    extra.foldLeft(df.write.format("hudi-graft")
      .option("hoodie.datasource.write.table.type", "MERGE_ON_READ")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.datasource.write.operation", op)) { case (wr, (k, v)) => wr.option(k, v) }
      .mode(SaveMode.Append).save(path)

  private val Shift = 10000000L

  /** Keys %4==1 shifted past every stored key: brand-new keys that keep
    * their source row's partition.
    */
  private def newKeys() = orders().filter(col("o_orderkey") % 4 === 1)
    .withColumn("o_orderkey", col("o_orderkey") + lit(Shift))

  private def read(path: String, opts: (String, String)*) =
    opts.foldLeft(spark.read.format("hudi-graft")) { case (r, (k, v)) => r.option(k, v) }
      .load(path)

  private def isLogName(name: String) = name.startsWith(".") && name.contains(".log.")

  test("capacity rule: inserts spread by remaining capacity; only overflow goes fresh") {
    def slice(part: String, fid: String, size: Long) = graft.fs.FileSlice(part, fid, "1",
      Some(graft.fs.BaseFile(fid, "0-0-0", "1", None, "parquet", s"$part/$fid", size)),
      Vector.empty)
    val slices = Seq(slice("a", "f1", 100), slice("a", "f2", 700), slice("a", "f3", 1000),
      slice("b", "f4", 100))
    // max 1000 B at 100 B/record: f1 holds 9 more, f2 3 more, f3 none
    val t = HudiWriter.smallFileTargets(slices, Map("a" -> 6L, "b" -> 20L, "c" -> 5L), 1000L, 100L)
    // a: 6 of 12 slots fit — 4.5 to f1, 1.5 to f2, nothing overflows
    assert(t("a") == (6L, Vector(4.5 -> Some("f1"), 6.0 -> Some("f2"))))
    // b: 9 fit in f4, the other 11 overflow; c has no group at all
    assert(t("b") == (20L, Vector(9.0 -> Some("f4"), 20.0 -> None)))
    assert(t("c") == (5L, Vector(5.0 -> None)))
  }

  test("the insert route hashes keys exactly like Spark's xxhash64 column function") {
    import spark.implicits._
    val keys = orders().select(col("o_orderkey").cast("string").as("k"))
      .unionByName(Seq("", "é", "key with spaces", "\u00ff\u4e2d\ud83d\ude00").toDF("k"))
    val route = HudiWriter.InsertRoute("1", Map.empty, 1)
    keys.select(col("k"), xxhash64(col("k"))).collect().foreach { r =>
      assert(route.hash(r.getString(0)) == r.getLong(1), r.getString(0))
    }
  }

  test("new keys ride small groups' logs through every reader and a second upsert") {
    val path = fresh("writer_mor_smallfile")
    val base = orders().filter(col("o_orderkey") % 4 =!= 1)
    w(base, path, "insert")
    w(orders().filter(col("o_orderkey") % 4 === 0).withColumn("o_orderstatus", lit("U"))
      .unionByName(newKeys()), path, "upsert")
    val t = HudiTable(spark, path)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).sorted.toSeq
    val nNew = newKeys().count()
    val nUpd = orders().filter(col("o_orderkey") % 4 === 0).count()

    // no fresh base group: every inserted key sits in a c2 log
    assert(t.fsView.slicesAsOf(c2).forall(_.commitTimestamp == c1))
    val snap = read(path)
    assert(snap.count() == base.count() + nNew)
    assert(snap.filter(col("o_orderkey") > Shift).select("_hoodie_file_name").collect()
      .forall(r => isLogName(r.getString(0))))

    // time travel before the insert excludes the rows
    assert(read(path, "as.of.timestamp" -> c1).filter(col("o_orderkey") > Shift).count() == 0)
    // incremental and CDC report the log-only keys as inserts
    assert(t.incremental(Some(c1), Some(c2)).filter(col("o_orderkey") > Shift).count() == nNew)
    val ops = t.cdc(Some(c1), Some(c2)).groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops == Map("i" -> nNew, "u" -> nUpd), ops.toString)

    // a second upsert of the log-inserted keys matches them through the
    // log file name (non-indexed snapshot probe): an update, no duplicate
    HudiWriter.snapshotProbes.set(0)
    w(newKeys().withColumn("o_orderstatus", lit("V")), path, "upsert")
    assert(HudiWriter.snapshotProbes.get() == 1)
    val after = read(path)
    assert(after.count() == base.count() + nNew, "a re-sent log-only key must not duplicate")
    assert(after.filter(col("o_orderkey") > Shift).select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).toSet == Set("V"))
    val t3 = HudiTable(spark, path)
    import scala.jdk.CollectionConverters._
    val e3 = t3.timeline.commitMetadata(t3.timeline.completedInstants.last)
      .path("partitionToWriteStats").properties().asScala.toSeq
      .flatMap(_.getValue.elements().asScala)
    assert(e3.map(_.path("numUpdateWrites").asLong(0)).sum == nNew)
    assert(e3.map(_.path("numInserts").asLong(0)).sum == 0)

    // compaction folds the log-only keys into the bases: RO shows them
    assert(read(path, "hoodie.datasource.query.type" -> "read_optimized")
      .filter(col("o_orderkey") > Shift).count() == 0)
    assert(HudiCompaction.compact(spark, path).instant.isDefined)
    val ro = read(path, "hoodie.datasource.query.type" -> "read_optimized")
    assert(ro.count() == base.count() + nNew)
    assert(ro.filter(col("o_orderkey") > Shift).select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).toSet == Set("V"))
  }

  test("overflow past capacity and brand-new partitions go to fresh groups") {
    val path = fresh("writer_mor_overflow")
    w(orders().filter(col("o_orderkey") % 4 =!= 1), path, "insert")
    val t = HudiTable(spark, path)
    val c1 = t.timeline.latestCommitTimestamp.get
    // a max file size ~20 records above the largest group: most of each
    // partition's ~75 new keys overflow, a few fit
    val bpr = HudiWriter.averageBytesPerRecord(t)
    val maxBytes = t.fsView.slicesAsOf(c1).map(_.totalSize).max + 20 * bpr
    val brandNew = orders().filter(col("o_orderkey") === 7)
      .withColumn("o_orderkey", lit(2 * Shift)).withColumn("o_orderpriority", lit("9-NEW"))
    w(newKeys().unionByName(brandNew), path, "upsert",
      "hoodie.parquet.max.file.size" -> maxBytes.toString)

    val t2 = HudiTable(spark, path)
    val c2 = t2.timeline.latestCommitTimestamp.get
    val nNew = newKeys().count()
    val snap = read(path)
    assert(snap.count() == orders().count() + 1)
    val files = snap.filter(col("o_orderkey") > Shift)
      .select("_hoodie_file_name", "_hoodie_partition_path").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val (inLogs, inBases) = files.partition(f => isLogName(f._1))
    assert(inLogs.nonEmpty && inBases.nonEmpty, s"logs ${inLogs.length}, bases ${inBases.length}")
    assert(inBases.forall(_._1.endsWith(s"_$c2.parquet")), "overflow must sit in fresh c2 bases")
    assert(inBases.count(_._2 == "9-NEW") == 1, "a new partition's key goes to a fresh group")
    import scala.jdk.CollectionConverters._
    val stats = t2.timeline.commitMetadata(t2.timeline.completedInstants.last)
      .path("partitionToWriteStats").properties().asScala.toSeq
      .flatMap(_.getValue.elements().asScala)
    assert(stats.map(_.path("numInserts").asLong(0)).sum == nNew + 1)
    assert(stats.filter(_.path("path").asText().contains(".log."))
      .map(_.path("numInserts").asLong(0)).sum == inLogs.length)
  }

  test("indexed MOR: the index names the receiving group; point reads and re-upserts") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val path = fresh("writer_indexed_smallfile")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(graft.fixtures.HudiFixtureBuilder.morPath(sfDir)), fs, new Path(path), false,
      spark.sessionState.newHadoopConf())
    val beforeCount = read(path).count()
    val ins = orders().filter(col("o_orderkey") % 50 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + lit(Shift))
    w(ins, path, "upsert")
    val t = HudiTable(spark, path)
    val c2 = t.timeline.latestCommitTimestamp.get
    val keys = ins.select(col("o_orderkey").cast("string")).collect().map(_.getString(0)).toSeq
    val found = RecordIndex.lookup(path, keys, spark.sessionState.newHadoopConf())
    assert(found.entries.keySet == keys.toSet)
    val logGroups = t.fsView.slicesAsOf(c2).filter(_.commitTimestamp < c2)
      .map(sl => sl.fileId -> sl.partitionPath).toMap
    found.entries.values.foreach { e =>
      assert(logGroups.get(e.fileId).contains(e.partitionPath), s"not an existing group: $e")
    }
    val point = read(path).filter(col("_hoodie_record_key") === keys.head)
    assert(point.count() == 1)
    assert(point.head.getAs[String]("_hoodie_file_name")
      .startsWith(s".${found.entries(keys.head).fileId}_"))

    // the index routes a re-upsert of those keys to the same groups
    HudiWriter.snapshotProbes.set(0)
    w(ins.withColumn("o_orderstatus", lit("R")), path, "upsert")
    assert(HudiWriter.snapshotProbes.get() == 0)
    val after = read(path)
    assert(after.count() == beforeCount + keys.size)
    assert(after.filter(col("o_orderkey") > Shift).select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).toSet == Set("R"))
  }
}
