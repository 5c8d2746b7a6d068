package graft.write

import graft.SparkTestBase
import graft.table.HudiTable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** MOR compaction: log-carrying slices fold into fresh base-file
  * versions — snapshot unchanged, read-optimized catches up, row commit
  * stamps preserved (incremental/CDC treat the compaction as a logical
  * no-op), the plan lands in compaction.requested before any write, and
  * the cleaner can then reclaim the pre-compaction slices.
  */
class HudiCompactionSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private def fresh(name: String): String = {
    val p = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    FileSystem.get(spark.sessionState.newHadoopConf()).delete(p, true)
    p.toString
  }

  private def w(df: DataFrame, path: String, op: String) =
    df.write.format("hudi-graft")
      .option("hoodie.datasource.write.table.type", "MERGE_ON_READ")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.datasource.write.operation", op)
      .mode(SaveMode.Append).save(path)

  test("compaction folds logs into bases: snapshot invariant, RO catches up, stamps kept") {
    val path = fresh("writer_compact")
    w(orders(), path, "insert")
    w(orders().filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U")), path, "upsert")
    w(orders().filter(col("o_orderkey") % 97 === 0)
      .select("o_orderkey", "o_orderpriority"), path, "delete")
    val before = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet

    val stats = HudiCompaction.compact(spark, path)
    assert(stats.instant.isDefined && stats.compacted.nonEmpty)
    val cts = stats.instant.get

    val t = HudiTable(spark, path)
    // latest slices are log-free bases at the compaction instant
    val slices = t.fsView.slicesAsOf(cts)
    assert(slices.nonEmpty && slices.forall(sl =>
      !sl.hasLogFiles && sl.commitTimestamp == cts), slices.take(2).toString)
    // timeline: plan marker + completed commit with compacted:true
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(new Path(path, ".hoodie")).map(_.getPath.getName).toSet
    assert(names.contains(s"$cts.compaction.requested"), names.toString)
    assert(names.contains(s"$cts.commit"))
    val plan = new String(graft.util.ReadFully(fs,
      new Path(path, s".hoodie/$cts.compaction.requested")), "UTF-8")
    assert(plan.contains("\"operations\"") && plan.contains("baseInstantTime"), plan.take(200))
    import scala.jdk.CollectionConverters._
    val i = t.timeline.completedInstants.find(_.timestamp == cts).get
    assert(t.timeline.commitMetadata(i).path("compacted").asBoolean(false))

    // snapshot invariant (hash-equal up to seqno/file-name)
    val after = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet
    assert(after == before, "compaction must not change the snapshot")
    // ROW stamps preserved: nothing carries the compaction instant
    assert(spark.read.format("hudi-graft").load(path)
      .filter(col("_hoodie_commit_time") === cts).count() == 0)
    // read-optimized NOW sees the merged state (logs folded)
    val ro = spark.read.format("hudi-graft")
      .option("hoodie.datasource.query.type", "read_optimized").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet
    assert(ro == before, "post-compaction RO must equal the snapshot")

    // logical no-op for incremental + CDC across the compaction
    val Seq(c1, c2, c3) = t.timeline.completedInstants
      .map(_.timestamp).distinct.sorted.take(3).toSeq
    assert(t.incremental(Some(c3), Some(cts)).count() == 0,
      "(c3, compaction] must surface nothing")
    assert(graft.sources.CdcRead.changes(spark, path, Some(c3), Some(cts)).count() == 0)

    // the cleaner reclaims the pre-compaction slices; snapshot still equal
    val cleaned = HudiCleaner.clean(spark, path, retainCommits = 1)
    assert(cleaned.deleted.nonEmpty, "old bases+logs must be cleanable")
    val post = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet
    assert(post == before, "snapshot must survive cleaning the compacted-away slices")
  }

  test("CALL run_compaction through the catalog") {
    val path = fresh("writer_compact_sql")
    w(orders().limit(300), path, "insert")
    w(orders().limit(300).withColumn("o_orderstatus", lit("U")), path, "upsert")
    spark.conf.set("spark.sql.catalog.hudi_graft",
      classOf[graft.sources.GraftCatalog].getName)
    val rows = spark.sql(s"CALL hudi_graft.run_compaction(table => '$path')").collect()
    assert(rows.nonEmpty && rows.head.getString(0) != null)
    val ro = spark.read.format("hudi-graft")
      .option("hoodie.datasource.query.type", "read_optimized").load(path)
    assert(ro.filter(col("o_orderstatus") === "U").count() == 300)
  }

  test("a group fully emptied by delete logs compacts to an empty base") {
    val path = fresh("writer_compact_empty")
    w(orders().limit(50), path, "insert")
    spark.read.format("hudi-graft").load(path).select("o_orderkey", "o_orderpriority")
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.operation", "delete")
      .mode(SaveMode.Append).save(path)
    val stats = HudiCompaction.compact(spark, path)
    assert(stats.instant.isDefined)
    val t = HudiTable(spark, path)
    val cts = stats.instant.get
    assert(t.fsView.slicesAsOf(cts).forall(sl =>
      sl.commitTimestamp == cts && !sl.hasLogFiles))
    assert(spark.read.format("hudi-graft").load(path).count() == 0)
    assert(spark.read.format("hudi-graft")
      .option("hoodie.datasource.query.type", "read_optimized").load(path).count() == 0,
      "RO must stop resurrecting the deleted rows after compaction")
  }

  test("COW tables refuse compaction") {
    val path = fresh("writer_compact_cow")
    orders().limit(10).write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .mode(SaveMode.Append).save(path)
    val ex = intercept[UnsupportedOperationException] {
      HudiCompaction.compact(spark, path)
    }
    assert(ex.getMessage.contains("MERGE_ON_READ"), ex.getMessage)
  }
}
