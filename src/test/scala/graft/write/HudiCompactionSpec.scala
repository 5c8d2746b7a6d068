package graft.write

import graft.SparkTestBase
import graft.table.{ColumnStatsIndex, HudiTable}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.graftspec.JobCount
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

  private def footer(path: String): ParquetMetadata = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), spark.sessionState.newHadoopConf()))
    try r.getFooter finally r.close()
  }

  private val RowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** The footer Spark's own parquet writer gives the compacting groups'
    * merged rows (or none of them), projected to the base-file columns —
    * what compaction staged through `df.write.parquet` before it wrote
    * its bases itself.
    */
  private def sparkWrittenFooter(path: String, withRows: Boolean): ParquetMetadata = {
    val t = HudiTable(spark, path)
    val fids = t.fsView.slicesAsOf(t.timeline.latestCommitTimestamp.get)
      .filter(_.hasLogFiles).map(_.fileId)
    val merged = spark.read.format("hudi-graft")
      .option("cdc.file.groups", fids.mkString(",")).load(path)
    val fid = HudiWriter.fidOfFileName
    val projected = merged.select(
      col("_hoodie_commit_time") +:
        concat_ws("_", col("_hoodie_commit_time"), fid, col("_hoodie_record_key"))
          .as("_hoodie_commit_seqno") +:
        col("_hoodie_record_key") +: col("_hoodie_partition_path") +:
        concat(fid, lit("_0-0-0_0.parquet")).as("_hoodie_file_name") +:
        merged.columns.filterNot(_.startsWith("_hoodie_")).map(col).toSeq: _*)
    val out = fresh(s"${new Path(path).getName}_spark_written")
    val df =
      if (withRows) projected.coalesce(1)
      else spark.createDataFrame(
        spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1), projected.schema)
    df.write.parquet(out)
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    footer(fs.listStatus(new Path(out)).map(_.getPath.toString)
      .find(_.endsWith(".parquet")).get)
  }

  test("compaction is one Spark job, and its bases keep the codec and Spark row metadata") {
    val path = fresh("writer_compact_onejob")
    w(orders(), path, "insert")
    w(orders().filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("J")), path, "upsert")
    val before = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet
    val old = sparkWrittenFooter(path, withRows = true)
    val (stats, jobs) = JobCount(spark)(HudiCompaction.compact(spark, path))
    assert(jobs == 1, s"compaction ran $jobs Spark jobs")
    val cts = stats.instant.get

    val newBases = HudiTable(spark, path).fsView.slicesAsOf(cts).flatMap(_.baseFile)
    assert(newBases.nonEmpty && newBases.forall(_.fileName.endsWith(s"_$cts.parquet")))
    import scala.jdk.CollectionConverters._
    def codecs(f: ParquetMetadata) =
      f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    newBases.foreach { bf =>
      val f = footer(bf.path)
      assert(codecs(f) == codecs(old), bf.fileName)
      assert(f.getFileMetaData.getKeyValueMetaData.get(RowMetadata) ==
        old.getFileMetaData.getKeyValueMetaData.get(RowMetadata), bf.fileName)
    }
    // nothing staged is left behind
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(path, s".hoodie/.temp/$cts")))
    val after = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet
    assert(after == before)
  }

  test("a column_stats table gets exact entries for the compacted bases") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val path = fresh("writer_compact_colstats")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)), fs, new Path(path), false,
      spark.sessionState.newHadoopConf())
    // the column_stats fixture as a MERGE_ON_READ table, so upserts log
    val props = new Path(path, ".hoodie/hoodie.properties")
    val text = new String(graft.util.ReadFully(fs, props), "UTF-8")
      .replace("hoodie.table.type=COPY_ON_WRITE", "hoodie.table.type=MERGE_ON_READ") +
      "hoodie.table.precombine.field=o_custkey\n"
    fs.delete(props, false)
    val o = fs.create(props, false)
    o.write(text.getBytes("UTF-8")); o.close()
    orders().filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("X"))
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.datasource.write.operation", "upsert")
      .mode(SaveMode.Append).save(path)
    val before = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet

    val cts = HudiCompaction.compact(spark, path).instant.get
    assertExactColStats(path, cts)
    val after = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet
    assert(after == before, "compaction must not change the snapshot")
    assert(prunedWithoutFooters(path, col("o_orderkey") <= 100 && col("o_orderstatus") === "X") ==
      orders().filter(col("o_orderkey") <= 100 && col("o_orderkey") % 7 === 0).count())
  }

  test("a clustered column_stats table gets exact entries and prunes without footer reads") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val path = fresh("writer_cluster_colstats")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)), fs, new Path(path), false,
      spark.sessionState.newHadoopConf())
    val before = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet
    val cts = HudiClustering.cluster(spark, path, targetFileBytes = 64L << 10).instant.get
    assertExactColStats(path, cts)
    val after = spark.read.format("hudi-graft").load(path)
      .drop("_hoodie_commit_seqno", "_hoodie_file_name").collect().map(_.toSeq).toSet
    assert(after == before, "clustering must not change the snapshot")
    assert(prunedWithoutFooters(path, col("o_orderkey") <= 100) ==
      orders().filter(col("o_orderkey") <= 100).count())
  }

  /** Every base file `instant` wrote carries exact column_stats entries:
    * min, max and null count as in the file, tight, with its row count.
    */
  private def assertExactColStats(path: String, instant: String): Unit = {
    val written = HudiTable(spark, path).fsView.slicesAsOf(instant)
      .filter(_.commitTimestamp == instant).flatMap(_.baseFile)
    assert(written.nonEmpty)
    val lookup = ColumnStatsIndex.load(path, spark.sessionState.newHadoopConf())
    written.foreach { bf =>
      val entries = lookup.entries.filter(_.fileName == bf.fileName)
      assert(entries.map(_.columnName).toSet.contains("o_orderkey"),
        s"no column_stats entries for ${bf.fileName}")
      val file = spark.read.parquet(bf.path)
      val rows = file.count()
      entries.foreach { e =>
        val a = file.agg(min(e.columnName), max(e.columnName),
          sum(when(col(e.columnName).isNull, 1L).otherwise(0L))).head
        val norm: Any => Any = {
          case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
          case v => v
        }
        assert(e.min.contains(norm(a.get(0))) && e.max.contains(norm(a.get(1))),
          s"${bf.fileName}.${e.columnName}: index (${e.min},${e.max}) vs file (${a.get(0)},${a.get(1)})")
        assert(e.nullCount.contains(a.getLong(2)) && e.valueCount.contains(rows) &&
          e.isTightBound, e.toString)
      }
      assert(lookup.files.get(bf.fileName).flatMap(_.rowCount).contains(rows))
    }
  }

  /** The count of rows matching `filter`, read with the file pruning
    * served by column_stats alone: no parquet footer opened, neither by
    * the pruner nor by the aggregate pushdown planner.
    */
  private def prunedWithoutFooters(path: String, filter: org.apache.spark.sql.Column): Long = {
    def footers = graft.fs.FileStats.footerReads.get()
    val before = footers
    val n = spark.read.format("hudi-graft").load(path).filter(filter).count()
    assert(footers == before, s"${footers - before} footer reads for an indexed table")
    n
  }

  test("an emptied group's base is written on the driver with Spark's footer") {
    val path = fresh("writer_compact_empty_footer")
    w(orders().limit(40), path, "insert")
    w(orders().limit(40).select("o_orderkey", "o_orderpriority"), path, "delete")
    val old = sparkWrittenFooter(path, withRows = false)
    val (stats, jobs) = JobCount(spark)(HudiCompaction.compact(spark, path))
    assert(jobs == 1, s"compaction ran $jobs Spark jobs")
    val bases = HudiTable(spark, path).fsView.slicesAsOf(stats.instant.get).flatMap(_.baseFile)
    assert(bases.nonEmpty)
    bases.foreach { bf =>
      val f = footer(bf.path)
      assert(f.getBlocks.isEmpty, bf.fileName)
      assert(f.getFileMetaData.getKeyValueMetaData.get(RowMetadata) ==
        old.getFileMetaData.getKeyValueMetaData.get(RowMetadata))
      assert(spark.read.parquet(bf.path).count() == 0)
    }
  }
}
