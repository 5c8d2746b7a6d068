package graft.sources

import graft.SparkTestBase
import graft.fixtures.HudiFixtureBuilder
import graft.table.HudiTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted CDC sidecar blocks (`hoodie.table.cdc.enabled` +
  * `data_before_after` supplemental logging): the feed decodes the
  * writer's exact before/after images from `-cdc` log files — zero
  * snapshot-diff joins, counter-asserted — and keeps serving past the
  * cleaner horizon where inference provably refuses. The fixture's T4
  * clean removed the T1 base files, so (T1, T2] is the differential
  * case: inference refuses, sidecars serve.
  */
class CdcPersistedSpec extends SparkTestBase {

  import HudiFixtureBuilder.{T1, T2, T3}

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")
  private def p = HudiFixtureBuilder.cdcPath(sfDir)

  private def feedRows(df: DataFrame): Set[(String, String, Long, Option[String], Option[String])] =
    df.select(col("op"), col("ts_ms"),
      coalesce(col("before.o_orderkey"), col("after.o_orderkey")).as("k"),
      col("before.o_orderstatus").as("bs"), col("after.o_orderstatus").as("as"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)), Option(r.getString(4))))
      .toSet

  private def nDel = orders().filter(col("o_orderkey") % 97 === 0).count()
  private def nU2 = orders()
    .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 97 =!= 0).count()
  private def nU3 = orders()
    .filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 97 =!= 0).count()

  test("sidecar blocks serve the whole range with ZERO inference joins") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    CdcMetrics.reset()
    val cdc = CdcRead.changes(spark, p, Some(T1), Some(T3))
    assert(cdc.count() == nDel + nU2 + nU3)
    assert(CdcMetrics.inferredCommitJoins.get() == 0,
      "a persisted table must plan no per-commit snapshot joins")
    assert(CdcMetrics.persistedCommits.get() == 2,
      s"T2 and T3 both serve from sidecars: ${CdcMetrics.persistedCommits.get()}")
  }

  test("persisted and inferred feeds agree bit-for-bit on the same commit") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    // (T2, T3] — the one commit whose before state (the T2 slices) still
    // exists, so BOTH strategies can serve it
    val persisted = feedRows(CdcRead.changes(spark, p, Some(T2), Some(T3)))
    CdcMetrics.reset()
    val inferred = feedRows(CdcRead.changes(spark, p, Some(T2), Some(T3),
      Map(CdcRead.InferenceOnlyOption -> "true")))
    assert(CdcMetrics.inferredCommitJoins.get() == 1, "the option must force the join path")
    assert(persisted.nonEmpty && persisted == inferred,
      s"persisted-only=${(persisted -- inferred).toSeq.sortBy(_._3).take(5)} " +
        s"inferred-only=${(inferred -- persisted).toSeq.sortBy(_._3).take(5)}")
  }

  test("the cleaned range refuses under inference but serves from sidecars") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val ex = intercept[UnsupportedOperationException] {
      CdcRead.changes(spark, p, Some(T1), Some(T2),
        Map(CdcRead.InferenceOnlyOption -> "true"))
    }
    assert(ex.getMessage.contains("no longer exist"), ex.getMessage)
    val served = feedRows(CdcRead.changes(spark, p, Some(T1), Some(T2)))
    assert(served.size == nDel + nU2, s"${served.size} vs ${nDel + nU2}")
    // image spot-checks: a deleted key carries its ORIGINAL status with no
    // after image; an updated key carries original → 'U'
    val delKey = orders().filter(col("o_orderkey") % 97 === 0)
      .orderBy("o_orderkey").head
    val (dk, ds) = (delKey.getLong(0), delKey.getString(2))
    assert(served.contains(("d", graft.core.Timestamps.timelineToEpochMillis(T2).toString,
      dk, Some(ds), None)), s"missing delete image for $dk")
  }

  test("-cdc sidecars are invisible to the data model") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val t = HudiTable(spark, p)
    val slices = t.fsView.slicesAsOf(T3)
    assert(slices.nonEmpty && slices.forall(_.logFiles.isEmpty),
      s"sidecars must never attach to data slices: ${slices.filter(_.hasLogFiles)}")
    // and the snapshot reflects the final COW state, untouched by images
    val snap = spark.read.format("hudi-graft").load(p)
    assert(snap.count() == orders().count() - nDel)
    val w = snap.filter(col("o_orderkey") % 5 === 0).select("o_orderstatus").distinct().collect()
    assert(w.map(_.getString(0)).toSet == Set("W"), s"T3 restatus visible: ${w.mkString(",")}")
  }

  test("a mixed commit: sidecar-covered rewrites plus an uncovered FRESH group") {
    // hand-built: T1 creates f0; T2 rewrites f0 (sidecar, prevCommit=T1)
    // AND creates fresh f1 with NO sidecar — the add-base-file case. The
    // feed must join nothing: f0 from blocks, f1 one-sided as 'i'.
    val dir = new org.apache.hadoop.fs.Path(
      graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/cdc_mixed"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(dir, true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, ".hoodie"))
    def writeText(n: String, body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, n), true)
      out.write(body.getBytes("UTF-8")); out.close()
    }
    writeText(".hoodie/hoodie.properties",
      """hoodie.table.name=cdc_mixed
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=k
        |hoodie.table.precombine.field=k
        |hoodie.populate.meta.fields=true
        |hoodie.table.cdc.enabled=true
        |hoodie.table.cdc.supplemental.logging.mode=data_before_after
        |""".stripMargin)
    import org.apache.spark.sql.types._
    val dataSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val metaSchema = StructType(Seq(
      StructField("_hoodie_commit_time", StringType),
      StructField("_hoodie_commit_seqno", StringType),
      StructField("_hoodie_record_key", StringType),
      StructField("_hoodie_partition_path", StringType),
      StructField("_hoodie_file_name", StringType)) ++ dataSchema.fields)
    import org.apache.spark.sql.Row
    def base(name: String, rows: Seq[Row]): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(dir, s".tmp_$name")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), metaSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(dir, name))
      fs.delete(tmp, true)
    }
    def mrow(c: String, name: String, k: Long, v: String) =
      Row(c, s"${c}_0_$k", k.toString, "", name, k, v)
    val avro = graft.log.SparkToAvro.toAvroSchema(dataSchema, "r").toString
      .replace("\\", "\\\\").replace("\"", "\\\"")
    // T1: f0 with keys 1, 2
    base(s"f0_0-0-0_$T1.parquet",
      Seq(mrow(T1, s"f0_0-0-0_$T1.parquet", 1, "A"), mrow(T1, s"f0_0-0-0_$T1.parquet", 2, "A")))
    writeText(s".hoodie/$T1.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"f0_0-0-0_$T1.parquet","partitionPath":"","prevCommit":"null"}]},"extraMetadata":{"schema":"$avro"},"compacted":false,"operationType":"UPSERT"}""")
    // T2: rewrite f0 (key 1 → B), fresh f1 (key 9)
    base(s"f0_0-0-0_$T2.parquet",
      Seq(mrow(T2, s"f0_0-0-0_$T2.parquet", 1, "B"), mrow(T1, s"f0_0-0-0_$T2.parquet", 2, "A")))
    base(s"f1_0-0-0_$T2.parquet", Seq(mrow(T2, s"f1_0-0-0_$T2.parquet", 9, "N")))
    val cdcAvro = graft.log.SparkToAvro.cdcAvroSchema(dataSchema, "r")
    val cdcName = s".f0_$T2.log.1_0-0-0-cdc"
    val out = new java.io.DataOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(dir, cdcName), true))
    try graft.log.LogFileWriter.cdcDataBlock(out, T2, cdcAvro, Seq(
      graft.log.SparkToAvro.cdcRecord(cdcAvro, dataSchema, "u",
        graft.core.Timestamps.timelineToEpochMillis(T2).toString,
        Some(Row(1L, "A")), Some(Row(1L, "B")))))
    finally out.close()
    val cdcLen = fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, cdcName)).getLen
    writeText(s".hoodie/$T2.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"f0_0-0-0_$T2.parquet","partitionPath":"","prevCommit":"$T1","cdcStats":{"$cdcName":$cdcLen}},{"fileId":"f1","path":"f1_0-0-0_$T2.parquet","partitionPath":"","prevCommit":"null"}]},"compacted":false,"operationType":"UPSERT"}""")

    CdcMetrics.reset()
    val feed = CdcRead.changes(spark, dir.toString, Some(T1), Some(T2))
      .select(col("op"),
        coalesce(col("before.k"), col("after.k")).as("k"),
        col("before.v").as("bv"), col("after.v").as("av"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)), Option(r.getString(3))))
      .toSet
    assert(feed == Set(
      ("u", 1L, Some("A"), Some("B")),
      ("i", 9L, None, Some("N"))), feed)
    assert(CdcMetrics.inferredCommitJoins.get() == 0 &&
      CdcMetrics.persistedCommits.get() == 1)
  }
}
