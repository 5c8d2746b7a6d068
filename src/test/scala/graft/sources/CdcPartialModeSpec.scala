package graft.sources

import graft.SparkTestBase
import graft.table.HudiTable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Partial CDC sidecar decode: `data_before` blocks serve exact before
  * images with a ONE-SIDED after read (no predecessor snapshot, no prev
  * guards — keeps serving past the cleaner horizon), `op_key_only`
  * blocks narrow the inference join's before side to the changed keys.
  * Both counter-asserted and hash-equal to forced inference.
  */
class CdcPartialModeSpec extends SparkTestBase {

  private def fresh(name: String): String = {
    val p = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    FileSystem.get(spark.sessionState.newHadoopConf()).delete(p, true)
    p.toString
  }

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  /** insert + %7 upsert + %13 delete with the given supplemental mode. */
  private def buildTable(path: String, mode: String): Unit = {
    def w(df: DataFrame, op: String) = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.table.cdc.enabled", "true")
      .option("hoodie.table.cdc.supplemental.logging.mode", mode)
      .option("hoodie.datasource.write.operation", op)
      .mode(SaveMode.Append).save(path)
    w(orders(), "insert")
    w(orders().filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U")), "upsert")
    w(orders().filter(col("o_orderkey") % 13 === 0)
      .select("o_orderkey", "o_orderpriority"), "delete")
  }

  private def feedRows(path: String, s: String, e: String,
      opts: Map[String, String] = Map.empty): Set[Seq[Any]] =
    CdcRead.changes(spark, path, Some(s), Some(e), opts)
      .select(col("op"), col("ts_ms"),
        coalesce(col("before.o_orderkey"), col("after.o_orderkey")).as("k"),
        col("before.o_orderstatus"), col("after.o_orderstatus"))
      .collect().map(_.toSeq).toSet

  test("data_before: exact before images, one-sided after read, zero inference joins") {
    val path = fresh("cdc_data_before")
    buildTable(path, "data_before")
    val t = HudiTable(spark, path)
    assert(t.config.cdcSupplementalLoggingMode == "data_before")
    val Seq(c1, c2, c3) = t.timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq

    CdcMetrics.reset()
    val partial = feedRows(path, c1, c3)
    assert(CdcMetrics.partialCommits.get() == 2, CdcMetrics.partialCommits.get().toString)
    assert(CdcMetrics.inferredCommitJoins.get() == 0,
      "data_before must never plan a snapshot-diff join")
    assert(CdcMetrics.persistedCommits.get() == 0)

    CdcMetrics.reset()
    val inferred = feedRows(path, c1, c3, Map(CdcRead.InferenceOnlyOption -> "true"))
    assert(CdcMetrics.inferredCommitJoins.get() == 2)
    assert(partial == inferred, "partial decode must hash-match inference")
    assert(partial.exists(_.head == "u") && partial.exists(_.head == "d"))

    // cleaner horizon: remove the c1 slice versions — inference refuses,
    // the data_before path keeps serving (its before state is IN the blocks)
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val gone = t.fsView.slicesAsOf(c1).flatMap(_.baseFile).map(_.path)
      .filterNot(p => t.fsView.slicesAsOf(c3).flatMap(_.baseFile).map(_.path).contains(p))
    assert(gone.nonEmpty)
    gone.foreach(p => assert(fs.delete(new Path(p), false)))
    val cleanOut = fs.create(new Path(path,
      s".hoodie/${(c3.toLong + 1).toString}.clean"), true)
    cleanOut.write(s"""{"earliestCommitToRetain":"$c2"}""".getBytes("UTF-8"))
    cleanOut.close()
    intercept[UnsupportedOperationException] {
      feedRows(path, c1, c2, Map(CdcRead.InferenceOnlyOption -> "true"))
    }
    val afterClean = feedRows(path, c1, c2)
    assert(afterClean == partial.filter(r =>
      r.head == "u"), "data_before must keep serving the upsert commit past the clean")
  }

  test("op_key_only: inference join narrowed to changed keys, hash-equal") {
    val path = fresh("cdc_op_key_only")
    buildTable(path, "op_key_only")
    val t = HudiTable(spark, path)
    assert(t.config.cdcSupplementalLoggingMode == "op_key_only")
    val Seq(c1, c2, c3) = t.timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq

    CdcMetrics.reset()
    val partial = feedRows(path, c1, c3)
    assert(CdcMetrics.partialCommits.get() == 2)
    assert(CdcMetrics.inferredCommitJoins.get() == 0)

    CdcMetrics.reset()
    val inferred = feedRows(path, c1, c3, Map(CdcRead.InferenceOnlyOption -> "true"))
    assert(CdcMetrics.inferredCommitJoins.get() == 2)
    assert(partial == inferred, "key-narrowed feed must hash-match inference")
  }
}
