package graft.write

import graft.SparkTestBase
import graft.table.HudiTable
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** KEEP_LATEST_COMMITS cleaning: old slice versions delete, snapshots
  * and in-horizon incremental reads are untouched, the read-side
  * cleaner-horizon guards fire exactly where expected, persisted CDC
  * keeps serving past the horizon, a files-partition MDT receives
  * tombstones, and savepoints/pending instants refuse fail-closed.
  */
class HudiCleanerSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private def fresh(name: String): String = {
    val p = new org.apache.hadoop.fs.Path(
      graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    p.toString
  }

  private def writeCommits(path: String, cdc: Boolean): Seq[String] = {
    def w(df: org.apache.spark.sql.DataFrame): Unit = {
      var b = df.write.format("hudi-graft")
        .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
        .option("hoodie.datasource.write.precombine.field", "o_custkey")
      if (cdc) b = b.option("hoodie.table.cdc.enabled", "true")
      b.mode(SaveMode.Append).save(path)
    }
    w(orders().limit(1000))
    w(orders().limit(1000).filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U")))
    w(orders().limit(1000).filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderstatus", lit("W")))
    HudiTable(spark, path).timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq
  }

  test("clean deletes pre-horizon versions; snapshots and in-horizon reads hold") {
    val path = fresh("cleaner_basic")
    val Seq(c1, c2, c3) = writeCommits(path, cdc = true)
    val beforeSnap = spark.read.format("hudi-graft").load(path)
      .select("o_orderkey", "o_orderstatus").collect().map(_.toSeq).toSet

    val stats = HudiCleaner.clean(spark, path, retainCommits = 2)
    assert(stats.instant.isDefined && stats.earliestRetained.contains(c2))
    assert(stats.deleted.nonEmpty, "the c1 versions must delete")
    stats.deleted.foreach { case (_, f) =>
      assert(f.contains(c1), s"only pre-horizon versions may delete: $f")
    }
    // the clean instant completed with its metadata
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    val tl = fs.listStatus(new org.apache.hadoop.fs.Path(path, ".hoodie"))
      .map(_.getPath.getName)
    assert(tl.contains(s"${stats.instant.get}.clean"), tl.mkString(","))

    // snapshot unchanged; incremental (c2, c3] unchanged
    val afterSnap = spark.read.format("hudi-graft").load(path)
      .select("o_orderkey", "o_orderstatus").collect().map(_.toSeq).toSet
    assert(afterSnap == beforeSnap)
    val inc = HudiTable(spark, path).incremental(Some(c2), Some(c3))
    assert(inc.count() == orders().limit(1000).filter(col("o_orderkey") % 11 === 0).count())

    // the read-side horizon guards fire for (c1, c2] inference — but the
    // cdc-enabled table's PERSISTED feed keeps serving the cleaned range
    val ex = intercept[UnsupportedOperationException] {
      graft.sources.CdcRead.changes(spark, path, Some(c1), Some(c2),
        Map(graft.sources.CdcRead.InferenceOnlyOption -> "true"))
    }
    assert(ex.getMessage.contains("no longer exist"), ex.getMessage)
    val served = graft.sources.CdcRead.changes(spark, path, Some(c1), Some(c2))
    assert(served.count() ==
      orders().limit(1000).filter(col("o_orderkey") % 7 === 0).count())
  }

  test("no-op when the timeline is within the retention; retain validation") {
    val path = fresh("cleaner_noop")
    writeCommits(path, cdc = false)
    val stats = HudiCleaner.clean(spark, path, retainCommits = 3)
    assert(stats.instant.isEmpty && stats.deleted.isEmpty)
    intercept[IllegalArgumentException] {
      HudiCleaner.clean(spark, path, retainCommits = 0)
    }
  }

  test("pending instants refuse fail-closed — incl. same-ts multi-writer masking") {
    val path = fresh("cleaner_guards")
    writeCommits(path, cdc = false)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    def touch(n: String, body: String = ""): Unit = {
      val o = fs.create(new org.apache.hadoop.fs.Path(path, s".hoodie/$n"), true)
      o.write(body.getBytes("UTF-8")); o.close()
    }
    touch("99999999999999999.commit.inflight")
    val exPend = intercept[UnsupportedOperationException] {
      HudiCleaner.clean(spark, path, retainCommits = 1)
    }
    assert(exPend.getMessage.contains("pending"), exPend.getMessage)
    fs.delete(new org.apache.hadoop.fs.Path(path,
      ".hoodie/99999999999999999.commit.inflight"), false)
    // a COMPLETED deltacommit at the same timestamp must not mask a
    // genuinely inflight commit (multi-writer same-instant pairs)
    touch("99999999999999998.deltacommit",
      """{"partitionToWriteStats":{},"compacted":false}""")
    touch("99999999999999998.commit.inflight")
    val exMask = intercept[UnsupportedOperationException] {
      HudiCleaner.clean(spark, path, retainCommits = 1)
    }
    assert(exMask.getMessage.contains("pending") &&
      exMask.getMessage.contains("99999999999999998.commit"), exMask.getMessage)
  }

  test("savepoints pin their view through cleaning; the CDC stale guard fires organically") {
    val path = fresh("cleaner_savepoint")
    val Seq(c1, c2, c3) = writeCommits(path, cdc = false)
    spark.conf.set("spark.sql.catalog.hudi_graft",
      classOf[graft.sources.GraftCatalog].getName)
    val sp = spark.sql(
      s"CALL hudi_graft.create_savepoint(table => '$path', commit_time => '$c1')").collect()
    assert(sp.head.getString(0) == c1 && sp.head.getBoolean(1))

    val stats = HudiCleaner.clean(spark, path, retainCommits = 1)
    assert(stats.deleted.nonEmpty)
    // the horizon keeps the c3 serving slices, the savepoint keeps the
    // as-of-c1 ones — only intermediate c2 versions may delete
    stats.deleted.foreach { case (_, f) =>
      assert(f.contains(c2), s"only intermediate versions may delete: $f")
    }
    // time travel to the savepoint stays EXACT
    val asOf1 = spark.read.format("hudi-graft")
      .option("as.of.timestamp", c1).load(path)
    assert(asOf1.count() == 1000)
    assert(asOf1.select("o_orderstatus").distinct().collect().map(_.getString(0)).toSet ==
      orders().limit(1000).select("o_orderstatus").distinct().collect()
        .map(_.getString(0)).toSet)
    // the retained-old-slice layout is exactly what the CDC savepoint-
    // stale guard exists for: inferring (c2, c3] would read the pinned
    // c1 slice as the c2 state — it must refuse, ORGANICALLY this time
    // (the hand-built metadata spec's scenario, produced by the real
    // cleaner + savepoint machinery)
    val ex = intercept[UnsupportedOperationException] {
      graft.sources.CdcRead.changes(spark, path, Some(c2), Some(c3))
    }
    assert(ex.getMessage.contains("OLDER versions"), ex.getMessage)

    // unpin: the next clean reclaims the c1 versions and the savepointed
    // view is gone
    spark.sql(
      s"CALL hudi_graft.delete_savepoint(table => '$path', commit_time => '$c1')")
    val stats2 = HudiCleaner.clean(spark, path, retainCommits = 1)
    assert(stats2.deleted.nonEmpty &&
      stats2.deleted.forall(_._2.contains(c1)), stats2.deleted.take(3).toString)
    assert(spark.read.format("hudi-graft")
      .option("as.of.timestamp", c1).load(path).count() == 0)
  }

  test("a files-MDT table gets tombstones; the listing never serves dead paths") {
    // copy the v8 MDT fixture, upsert (which maintains the MDT), then
    // clean — the deleted old versions must tombstone OUT of the files
    // partition, and the snapshot (served via the MDT; the fixture's
    // orphan proves that) must hold
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val srcPath = new org.apache.hadoop.fs.Path(
      graft.fixtures.HudiFixtureBuilder.mdtPath(sfDir))
    val path = new org.apache.hadoop.fs.Path(
      graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/cleaner_mdt"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(path, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, srcPath, fs, path, false,
      spark.sessionState.newHadoopConf())
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    nation.withColumn("n_name", lit("R2"))
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "n_nationkey")
      .option("hoodie.datasource.write.partitionpath.field", "n_regionkey")
      .mode(SaveMode.Append).save(path.toString)

    val stats = HudiCleaner.clean(spark, path.toString, retainCommits = 1)
    assert(stats.deleted.nonEmpty, "the pre-upsert versions must delete")
    val recs = graft.table.MetadataTable.filesPartitionRecords(
      path.toString, spark.sessionState.newHadoopConf())
    for ((p, f) <- stats.deleted) {
      val key = if (p.isEmpty) "" else p
      assert(!recs.get(key).exists(_.activeFiles.contains(f)),
        s"deleted $f must be tombstoned out of the files partition")
    }
    val snap = spark.read.format("hudi-graft").load(path.toString)
    assert(snap.count() == nation.count(),
      "post-clean MDT-served snapshot must hold every row exactly once")
    assert(snap.select("n_name").distinct().collect().map(_.getString(0)).toSet == Set("R2"))
  }

  test("CALL run_clean through the catalog returns the removed files") {
    val path = fresh("cleaner_call")
    val Seq(c1, c2, _) = writeCommits(path, cdc = false)
    spark.conf.set("spark.sql.catalog.hudi_graft",
      classOf[graft.sources.GraftCatalog].getName)
    val rows = spark.sql(
      s"CALL hudi_graft.run_clean(table => '$path', retain_commits => 2)").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(1) == c2 && r.getString(3).contains(c1), r.toString)
    }
    // idempotent-ish: a second clean with the same retention removes nothing
    val again = spark.sql(
      s"CALL hudi_graft.run_clean(table => '$path', retain_commits => 2)").collect()
    assert(again.isEmpty)
  }
}
