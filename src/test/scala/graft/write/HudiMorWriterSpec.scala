package graft.write

import graft.SparkTestBase
import graft.table.HudiTable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The MOR write path: upserts/deletes land as deltacommit LOG appends
  * (avro data blocks / delete blocks) on the matched group's latest
  * slice (an upsert's new keys on a small group's), inserts produce base
  * files, read-optimized mode sees only the
  * bases, and the written layout holds the v6 (base-instant log names)
  * and v8 (own-instant names, timeline/ completions) conventions the
  * read side associates by.
  */
class HudiMorWriterSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private def fresh(name: String): String = {
    val p = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    p.toString
  }

  private def writeOpts(df: DataFrame, extra: (String, String)*) = {
    var w = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.table.type", "MERGE_ON_READ")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.table.name", "writer_mor_orders")
    extra.foreach { case (k, v) => w = w.option(k, v) }
    w
  }

  test("MOR upsert/delete are deltacommit log appends; snapshot merges, RO sees bases") {
    val path = fresh("writer_mor")
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())

    writeOpts(orders(), "hoodie.datasource.write.operation" -> "insert")
      .mode(SaveMode.Append).save(path)
    val props = new String(graft.util.ReadFully(fs,
      new Path(path, ".hoodie/hoodie.properties")), "UTF-8")
    assert(props.contains("hoodie.table.type=MERGE_ON_READ"), props)

    // upsert %7 -> 'U': must append logs, never rewrite bases
    writeOpts(orders().filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))).mode(SaveMode.Append).save(path)
    // delete %97 by keys only
    orders().filter(col("o_orderkey") % 97 === 0)
      .select("o_orderkey", "o_orderpriority")
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.operation", "delete")
      .mode(SaveMode.Append).save(path)

    val t = HudiTable(spark, path)
    val instants = t.timeline.completedInstants
    assert(instants.map(_.action).toSet == Set("deltacommit"),
      s"every MOR data write is a deltacommit: ${instants.map(_.action)}")
    val Seq(c1, c2, c3) = instants.map(_.timestamp).distinct.sorted.toSeq

    // layout: every base file carries c1 (no rewrites); v6 log names carry
    // the BASE instant and versions increment per append
    val slices = t.fsView.slicesAsOf(c3)
    assert(slices.nonEmpty)
    slices.foreach { sl =>
      assert(sl.baseFile.get.commitTimestamp == c1, s"base rewritten: ${sl.baseFile}")
      sl.logFiles.foreach { lf =>
        assert(lf.timestamp == c1, s"v6 log must be named with the base instant: $lf")
        assert(lf.fileName.matches("\\.[0-9a-f\\-]{38}_\\d{17}\\.log\\.\\d+_0-0-0"),
          lf.fileName)
      }
    }
    assert(slices.exists(_.logFiles.size == 2),
      "groups touched by both the upsert and the delete hold two log files")

    // snapshot: merged view
    val back = spark.read.format("hudi-graft").load(path)
    val nDel = orders().filter(col("o_orderkey") % 97 === 0).count()
    assert(back.count() == orders().count() - nDel)
    assert(back.filter(col("o_orderkey") % 97 === 0).count() == 0)
    assert(back.filter(col("o_orderkey") % 7 === 0)
      .select("o_orderstatus").distinct().collect().map(_.getString(0)).toSet == Set("U"))

    // read-optimized: bases only — no 'U', deletes still visible
    val ro = spark.read.format("hudi-graft")
      .option("hoodie.datasource.query.type", "read_optimized").load(path)
    assert(ro.count() == orders().count(), "RO must see every base row")
    assert(ro.filter(col("o_orderstatus") === "U").count() == 0,
      "RO must not see log updates")

    // incremental (c1, c2] = exactly the upserted rows
    val inc = t.incremental(Some(c1), Some(c2))
    assert(inc.count() == orders().filter(col("o_orderkey") % 7 === 0).count())
    assert(inc.select("o_orderstatus").distinct().collect()
      .map(_.getString(0)).toSet == Set("U"))

    // commit metadata: log entries carry numUpdateWrites / numInserts /
    // numDeletes and prevCommit = the base instant
    import scala.jdk.CollectionConverters._
    val i2 = instants.find(_.timestamp == c2).get
    val md2 = t.timeline.commitMetadata(i2)
    val e2 = md2.path("partitionToWriteStats").properties().asScala.toSeq
      .flatMap(_.getValue.elements().asScala)
    assert(e2.map(_.path("numUpdateWrites").asLong(0)).sum ==
      orders().filter(col("o_orderkey") % 7 === 0).count())
    assert(e2.map(_.path("numInserts").asLong(-1)).sum == 0,
      "an update-only upsert inserts nothing")
    assert(e2.forall(_.path("prevCommit").asText() == c1))
    assert(e2.forall(_.path("path").asText().contains(".log.")))
    val i3 = instants.find(_.timestamp == c3).get
    val e3 = t.timeline.commitMetadata(i3).path("partitionToWriteStats")
      .properties().asScala.toSeq.flatMap(_.getValue.elements().asScala)
    assert(e3.map(_.path("numDeletes").asLong(0)).sum == nDel)

    // CDC inference serves the upsert range over writer-produced MOR metadata
    val cdc = graft.sources.CdcRead.changes(spark, path, Some(c1), Some(c2))
      .groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdc == Map("u" -> orders().filter(col("o_orderkey") % 7 === 0).count()), cdc.toString)
  }

  test("MOR upsert routes unmatched keys into small groups' logs") {
    val path = fresh("writer_mor_mixed")
    // deterministic subsets (limit() re-evaluates nondeterministically):
    // insert %4 in {0,1,2}; upsert = %4==0 updated + %4==1 key-shifted new
    val base = orders().filter(col("o_orderkey") % 4 =!= 3)
    writeOpts(base, "hoodie.datasource.write.operation" -> "insert")
      .mode(SaveMode.Append).save(path)
    val mixed = orders().filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .unionByName(orders().filter(col("o_orderkey") % 4 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
    writeOpts(mixed).mode(SaveMode.Append).save(path)

    val t = HudiTable(spark, path)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq
    val back = spark.read.format("hudi-graft").load(path)
    val nShift = orders().filter(col("o_orderkey") % 4 === 1).count()
    assert(back.count() == base.count() + nShift)
    // every group is far below the default max file size, so the new keys
    // ride the c2 logs of the c1 groups of their partition: no base file is
    // written at c2, and matched keys merge from the same logs
    val c1Groups = t.fsView.slicesAsOf(c2).map(sl => sl.fileId -> sl.partitionPath).toMap
    assert(t.fsView.slicesAsOf(c2).forall(_.commitTimestamp == c1), "no fresh base group at c2")
    val newRows = back.filter(col("o_orderkey") > 10000000L)
    assert(newRows.count() == nShift)
    newRows.select("_hoodie_file_name", "_hoodie_partition_path").distinct().collect()
      .foreach { r =>
        val name = r.getString(0)
        assert(name.startsWith(".") && name.contains(".log."), s"new keys must sit in logs: $r")
        assert(c1Groups.get(name.drop(1).takeWhile(_ != '_')).contains(r.getString(1)),
          s"a new key's log must belong to an existing group of its partition: $r")
      }
    assert(back.filter(col("o_orderkey") % 4 === 0 && col("o_orderkey") < 10000000L)
      .select("o_orderstatus").distinct().collect()
      .map(_.getString(0)).toSet == Set("U"))
    // write stats split the log rows into updates and inserts
    import scala.jdk.CollectionConverters._
    val e2 = t.timeline.commitMetadata(t.timeline.completedInstants.last)
      .path("partitionToWriteStats").properties().asScala.toSeq
      .flatMap(_.getValue.elements().asScala)
    assert(e2.map(_.path("numInserts").asLong(0)).sum == nShift)
    assert(e2.map(_.path("numUpdateWrites").asLong(0)).sum ==
      orders().filter(col("o_orderkey") % 4 === 0).count())
    assert(e2.forall(_.path("path").asText().contains(".log.")))
  }

  test("v8 MOR target: logs carry their OWN instant; completion lands under timeline/") {
    // the default timeline directory, and one `hoodie.timeline.path` moves
    for (tl <- Seq("timeline", "tl_custom")) {
      val path = fresh(s"writer_mor_v8_$tl")
      val fs = FileSystem.get(spark.sessionState.newHadoopConf())
      val base = new Path(path)
      // minimal v8 MOR table: one base file, layout-v2 completed commit
      fs.mkdirs(new Path(base, s".hoodie/$tl"))
      graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
      val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      val t1 = "20240101000000000"
      val fid = "00000000-0000-0000-0000-000000000000-0"
      val name = s"${fid}_0-0-0_$t1.parquet"
      val meta = nation.select(
        lit(t1).as("_hoodie_commit_time"),
        concat(lit(t1), lit("_0_"), col("n_nationkey")).as("_hoodie_commit_seqno"),
        col("n_nationkey").cast("string").as("_hoodie_record_key"),
        lit("").as("_hoodie_partition_path"),
        lit(name).as("_hoodie_file_name"),
        col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val tmp = new Path(base, ".tmp_base")
      meta.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new Path(base, name))
      fs.delete(tmp, true)
      val out = fs.create(new Path(base, ".hoodie/hoodie.properties"), true)
      out.write((
        s"""hoodie.table.name=writer_mor_v8
          |hoodie.table.type=MERGE_ON_READ
          |hoodie.table.version=8
          |hoodie.timeline.layout.version=2
          |hoodie.table.recordkey.fields=n_nationkey
          |hoodie.table.precombine.field=n_nationkey
          |hoodie.populate.meta.fields=true
          |""".stripMargin + (if (tl == "timeline") "" else s"hoodie.timeline.path=$tl\n"))
        .getBytes("UTF-8"))
      out.close()
      val commit = fs.create(new Path(base, s".hoodie/$tl/${t1}_$t1.commit"), true)
      commit.write(
        s"""{"partitionToWriteStats":{"":[{"fileId":"$fid","path":"$name","partitionPath":""}]},"compacted":false}"""
          .getBytes("UTF-8"))
      commit.close()
      assert(spark.read.format("hudi-graft").load(path).count() == nation.count())

      nation.filter(col("n_nationkey") % 2 === 0).withColumn("n_name", lit("RENAMED"))
        .write.format("hudi-graft")
        .option("hoodie.datasource.write.recordkey.field", "n_nationkey")
        .option("hoodie.datasource.write.precombine.field", "n_nationkey")
        .mode(SaveMode.Append).save(path)

      val t = HudiTable(spark, path)
      val c2 = t.timeline.completedInstants.map(_.timestamp).distinct.sorted.last
      assert(c2 > t1)
      // v8 log names its OWN instant (completion resolved from the timeline)
      val slice = t.fsView.slicesAsOf(c2).head
      assert(slice.logFiles.nonEmpty)
      assert(slice.logFiles.forall(_.timestamp == c2),
        s"v8 logs must carry their own request instant: ${slice.logFiles}")
      val names = fs.listStatus(new Path(base, s".hoodie/$tl")).map(_.getPath.getName)
      assert(names.exists(_.matches(s"${c2}_\\d{17}\\.deltacommit")), names.mkString(","))
      // a savepoint completes under the same v8 name, and deletes whole
      HudiSavepoints.create(spark, path, c2)
      def savepoints = fs.listStatus(new Path(base, s".hoodie/$tl")).map(_.getPath.getName)
        .filter(_.contains(".savepoint")).toSet
      assert(savepoints.size == 3 && savepoints.exists(_.matches(s"${c2}_\\d{17}\\.savepoint")),
        savepoints.mkString(","))
      assert(HudiSavepoints.delete(spark, path, c2) && savepoints.isEmpty, savepoints.mkString(","))
      val back = spark.read.format("hudi-graft").load(path)
      assert(back.count() == nation.count())
      assert(back.filter(col("n_nationkey") % 2 === 0)
        .select("n_name").distinct().collect().map(_.getString(0)).toSet == Set("RENAMED"))
    }
  }

  test("MOR upsert/delete without a precombine field refuse loudly") {
    val path = fresh("writer_mor_noprecombine")
    orders().limit(100).write.format("hudi-graft")
      .option("hoodie.datasource.write.table.type", "MERGE_ON_READ")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.operation", "insert")
      .mode(SaveMode.Append).save(path)
    val ex = intercept[UnsupportedOperationException] {
      orders().limit(10).write.format("hudi-graft")
        .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
        .mode(SaveMode.Append).save(path)
    }
    assert(ex.getMessage.contains("precombine"), ex.getMessage)
  }
}
