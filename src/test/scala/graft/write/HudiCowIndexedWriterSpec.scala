package graft.write

import graft.SparkTestBase
import graft.table.{HudiTable, RecordIndex}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** COW upserts and deletes through both probes: the record_index probe
  * (GLOBAL matching, the index maintained from the probe's partitions)
  * and the non-global snapshot probe. A writer-made COW table gets its
  * record index from [[CowIndexedWriterFixture.addRecordIndex]]; the
  * same table without it is the differential's other side.
  */
class HudiCowIndexedWriterSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private def fs = FileSystem.get(spark.sessionState.newHadoopConf())

  private def fresh(name: String): String = {
    val p = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    fs.delete(p, true)
    p.toString
  }

  private def w(df: DataFrame, path: String, op: String = "upsert") =
    df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.datasource.write.operation", op)
      .mode(SaveMode.Append).save(path)

  /** A COW orders table written by this writer, with or without a
    * record index over its one commit.
    */
  private def table(name: String, indexed: Boolean): String = {
    val path = fresh(name)
    w(orders(), path, op = "insert")
    if (indexed) CowIndexedWriterFixture.addRecordIndex(spark, path)
    path
  }

  /** `df` collected into a local relation: a batch whose own plan runs no
    * Spark job, like a writer fed from driver-side records.
    */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def keysOf(df: DataFrame): Seq[String] =
    df.select(col("o_orderkey").cast("string")).collect().map(_.getString(0)).toSeq

  private def read(path: String) = spark.read.format("hudi-graft").load(path)

  private def upsertBatch(): DataFrame =
    local(orders().filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("D"))
      .withColumn("o_custkey", col("o_custkey") + lit(100000))
      .unionByName(orders().filter(col("o_orderkey") % 40 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + lit(50000000L))))

  private def deleteBatch(): DataFrame =
    local(orders().filter(col("o_orderkey") % 13 === 0).select("o_orderkey", "o_orderpriority"))

  test("indexed and non-indexed COW tables agree on an upsert/delete sequence") {
    val indexed = table("writer_cow_diff_indexed", indexed = true)
    val plain = table("writer_cow_diff_plain", indexed = false)
    val (upserts, deletes) = (upsertBatch(), deleteBatch())
    HudiWriter.snapshotProbes.set(0)
    HudiWriter.indexProbes.set(0)
    w(upserts, indexed)
    w(deletes, indexed, op = "delete")
    assert(HudiWriter.indexProbes.get() == 2 && HudiWriter.snapshotProbes.get() == 0)
    w(upserts, plain)
    w(deletes, plain, op = "delete")
    assert(HudiWriter.indexProbes.get() == 2 && HudiWriter.snapshotProbes.get() == 2)

    // each table's two new instants differ in wall-clock time only:
    // compare commit times through their position in the timeline
    def state(path: String): Set[Seq[Any]] = {
      val instants = HudiTable(spark, path).timeline.completedInstants.map(_.timestamp)
      val label = instants.zip(Seq("insert", "upsert", "delete")).toMap
      read(path).drop("_hoodie_file_name", "_hoodie_commit_seqno").collect().map { r =>
        r.toSeq.zip(r.schema.fieldNames).map {
          case (v: String, "_hoodie_commit_time") => label.getOrElse(v, v)
          case (v, _) => v
        }
      }.toSet
    }
    val (a, b) = (state(indexed), state(plain))
    assert(a.size == b.size && a == b,
      s"only indexed: ${(a -- b).take(3)}; only plain: ${(b -- a).take(3)}")
    val expected = orders().count() +
      orders().filter(col("o_orderkey") % 40 === 3).count() -
      orders().filter(col("o_orderkey") % 13 === 0).count()
    assert(a.size == expected)
    assert(read(indexed).filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 13 =!= 0)
      .select("o_orderstatus").distinct().collect().map(_.getString(0)).toSet == Set("D"))

    // the index follows both commits: new keys point at the group that
    // holds them, deleted keys are tombstoned
    val conf = spark.sessionState.newHadoopConf()
    val newKeys = keysOf(upserts.filter(col("o_orderkey") >= 50000000L))
    val found = RecordIndex.lookup(indexed, newKeys, conf)
    assert(found.entries.keySet == newKeys.toSet)
    val at = read(indexed).select(col("_hoodie_record_key"), col("_hoodie_partition_path"),
      substring_index(col("_hoodie_file_name"), "_", 1)).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    found.entries.values.foreach(e =>
      assert(at.get(e.key).contains((e.partitionPath, e.fileId)), s"stale entry: $e"))
    assert(RecordIndex.lookup(indexed, keysOf(deletes), conf).entries.isEmpty)
  }

  test("a record_index table keeps one row of a key the batch carries under two partitions") {
    val path = table("writer_cow_dedup_global", indexed = true)
    val seven = orders().filter(col("o_orderkey") === 7)
    val custkey = seven.select(col("o_custkey").cast("long")).head().getLong(0)
    // the record index matches key 7 globally: deduplicating per (key,
    // partition) would route both rows to its one stored location
    w(local(seven.unionByName(seven
      .withColumn("o_orderpriority", lit("9-OTHER"))
      .withColumn("o_custkey", col("o_custkey") + lit(100000)))), path)
    val kept = read(path).filter(col("o_orderkey") === 7)
      .select(col("o_custkey").cast("long")).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(custkey + 100000), "the greater precombine alone must survive")
  }

  // The join-based COW route this one replaced (a DataFrame probe and
  // join, a per-group count collect, then the rewrite) ran 16 Spark jobs
  // for this upsert and 15 for this delete on the indexed table, 12 and
  // 12 on the plain one (local[4], 4 shuffle partitions). The one probe
  // chain ran 11 for each: the dedup's shuffle, the counting job over
  // the cached probe, the rewrite's anti-join, staging and per-file stats
  // jobs, and on the indexed table the index pass. Staging now returns
  // each file's row count itself, so the per-file stats job is gone: 10.
  test("COW upserts and deletes run no more Spark jobs than the join-based route did") {
    for (indexed <- Seq(true, false)) {
      val path = table(s"writer_cow_jobs_$indexed", indexed)
      val (upserts, deletes) = (upsertBatch(), deleteBatch())
      val (_, upsertJobs) = JobCount(spark)(w(upserts, path))
      val (_, deleteJobs) = JobCount(spark)(w(deletes, path, op = "delete"))
      assert(upsertJobs <= 10, s"indexed=$indexed: the upsert ran $upsertJobs Spark jobs")
      assert(deleteJobs <= 10, s"indexed=$indexed: the delete ran $deleteJobs Spark jobs")
      assert(read(path).count() == orders().count() +
        orders().filter(col("o_orderkey") % 40 === 3).count() -
        orders().filter(col("o_orderkey") % 13 === 0).count())
    }
  }
}

/** Gives a writer-made table a `record_index` metadata-table partition
  * over its current snapshot: one HFile per index group at the table's
  * latest instant, written with [[RecordIndexMaintenance.entryBytes]]
  * and [[graft.hfile.HFileWriter]], then advertised in
  * `hoodie.properties`. The MDT is a bare v6 MERGE_ON_READ table holding
  * only that partition.
  */
object CowIndexedWriterFixture {
  val IndexGroups = 2

  def addRecordIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val instant = HudiTable(spark, path).timeline.latestCommitTimestamp.get
    val locs = spark.read.format("hudi-graft").load(path)
      .select("_hoodie_record_key", "_hoodie_partition_path", "_hoodie_file_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2).takeWhile(_ != '_')))
    val mdt = new Path(path, ".hoodie/metadata")
    def text(p: Path, s: String): Unit = {
      val o = fs.create(p, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    text(new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=writer_cow_metadata
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
    val byGroup = locs.groupBy { case (k, _, _) => RecordIndex.fileGroupIndex(k, IndexGroups) }
    (0 until IndexGroups).foreach { g =>
      val records = byGroup.getOrElse(g, Array.empty).toSeq.sortBy(_._1).map { case (k, p, fid) =>
        k -> RecordIndexMaintenance.entryBytes(k, p, fid, millis)
      }
      val o = fs.create(new Path(mdt, f"record_index/record-index-$g%04d-0_0-0-0_$instant.hfile"))
      try o.write(graft.hfile.HFileWriter.write(records, Map("schema" -> schema)))
      finally o.close()
    }
    val props = new Path(path, ".hoodie/hoodie.properties")
    text(props, new String(graft.util.ReadFully(fs, props), "UTF-8") +
      "hoodie.table.metadata.partitions=record_index\n")
  }
}
