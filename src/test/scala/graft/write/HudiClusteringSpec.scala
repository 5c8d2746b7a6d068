package graft.write

import graft.SparkTestBase
import graft.table.HudiTable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Clustering: the current file groups rewrite into fresh consolidated
  * ones via a CLUSTER replacecommit — snapshot invariant, row commit
  * stamps preserved (incremental straddling the cluster plans
  * touched-minus-replaced, CDC skips it), MOR logs fold in, and
  * time-travel to pre-cluster instants still serves the old layout.
  */
class HudiClusteringSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private def fresh(name: String): String = {
    val p = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    FileSystem.get(spark.sessionState.newHadoopConf()).delete(p, true)
    p.toString
  }

  private def w(df: DataFrame, path: String, extra: (String, String)*) = {
    var wr = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
    extra.foreach { case (k, v) => wr = wr.option(k, v) }
    wr.mode(SaveMode.Append).save(path)
  }

  test("COW clustering: snapshot invariant, stamps kept, old groups replaced") {
    val path = fresh("writer_cluster")
    w(orders(), path, "hoodie.datasource.write.operation" -> "insert")
    w(orders().filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U")), path)
    val t0 = HudiTable(spark, path)
    val Seq(c1, c2) = t0.timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq
    val before = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet

    val stats = HudiClustering.cluster(spark, path)
    assert(stats.instant.isDefined && stats.newGroups.nonEmpty)
    val cts = stats.instant.get

    val t = HudiTable(spark, path)
    import scala.jdk.CollectionConverters._
    val i = t.timeline.completedInstants.find(_.timestamp == cts).get
    assert(i.action == "replacecommit")
    val md = t.timeline.commitMetadata(i)
    assert(md.path("operationType").asText("") == "CLUSTER")
    assert(md.path("partitionToReplaceFileIds").isObject)

    val after = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet
    assert(after == before, "clustering must not change the snapshot")
    // stamps preserved; nothing carries the clustering instant
    assert(spark.read.format("hudi-graft").load(path)
      .filter(col("_hoodie_commit_time") === cts).count() == 0)
    // rows now come from the NEW groups only
    val newFids = stats.newGroups.map(_._2).toSet
    val servedFids = spark.read.format("hudi-graft").load(path)
      .select("_hoodie_file_name").distinct().collect()
      .map(_.getString(0).split("_")(0)).toSet
    assert(servedFids.subsetOf(newFids), s"served $servedFids vs new $newFids")
    // logical no-op for incremental + CDC
    assert(t.incremental(Some(c2), Some(cts)).count() == 0)
    assert(graft.sources.CdcRead.changes(spark, path, Some(c2), Some(cts)).count() == 0)
    // incremental straddling the cluster still surfaces the c2 updates
    val inc = t.incremental(Some(c1), Some(cts))
    assert(inc.count() == orders().filter(col("o_orderkey") % 7 === 0).count())
    // time travel to the pre-cluster instant serves the OLD layout
    val asOf = spark.read.format("hudi-graft")
      .option("as.of.timestamp", c2).load(path)
    assert(asOf.count() == orders().count())
  }

  // Staged through Spark's partitionBy writer and then re-read for its
  // per-file row counts, this clustering ran 5 Spark jobs (local[4], 4
  // shuffle partitions). It runs 2: the merged scan's shuffle into the new
  // groups, and the staging job.
  test("COW clustering writes its base files in one staging job") {
    val path = fresh("writer_cluster_jobs")
    w(orders(), path, "hoodie.datasource.write.operation" -> "insert")
    val (stats, jobs) = JobCount(spark)(HudiClustering.cluster(spark, path))
    assert(jobs <= 2, s"the clustering ran $jobs Spark jobs")
    assert(stats.newGroups.nonEmpty)
    assert(spark.read.format("hudi-graft").load(path).count() == orders().count())
  }

  test("MOR clustering folds logs; CALL run_clustering works") {
    val path = fresh("writer_cluster_mor")
    w(orders().limit(400), path,
      "hoodie.datasource.write.table.type" -> "MERGE_ON_READ",
      "hoodie.datasource.write.operation" -> "insert")
    w(orders().limit(400).withColumn("o_orderstatus", lit("U")), path)
    spark.conf.set("spark.sql.catalog.hudi_graft",
      classOf[graft.sources.GraftCatalog].getName)
    val rows = spark.sql(s"CALL hudi_graft.run_clustering(table => '$path')").collect()
    assert(rows.nonEmpty)
    val t = HudiTable(spark, path)
    val cts = t.timeline.completedInstants.map(_.timestamp).max
    val slices = t.fsView.slicesAsOf(cts).filter(sl =>
      rows.map(_.getString(2)).contains(sl.fileId))
    assert(slices.nonEmpty && slices.forall(!_.hasLogFiles),
      "clustered groups are log-free")
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == 400)
    assert(back.select("o_orderstatus").distinct().collect()
      .map(_.getString(0)).toSet == Set("U"))
  }

  test("record_index tables refuse clustering") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val dst = new Path(fresh("writer_cluster_ri"))
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(graft.fixtures.HudiFixtureBuilder.morPath(sfDir)), fs, dst, false,
      spark.sessionState.newHadoopConf())
    val ex = intercept[UnsupportedOperationException] {
      HudiClustering.cluster(spark, dst.toString)
    }
    assert(ex.getMessage.contains("record_index"), ex.getMessage)
  }
}
