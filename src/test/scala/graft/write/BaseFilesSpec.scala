package graft.write

import graft.SparkTestBase
import graft.core.MetaField
import graft.table.HudiTable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Base files of every commit kind are one parquet file per file group,
  * whatever the session's file-splitting confs say: a bulk insert, a COW
  * upsert and a clustering under `spark.sql.files.maxRecordsPerFile`
  * read back every row, and each file's write stats count its rows. Their
  * footers are the ones Spark's own parquet writer gives the same rows.
  * The staging refuses a group whose rows arrive split, an emptied
  * required group still gets a schema-only base, and a failed or
  * finished commit leaves other instants' staging alone.
  */
class BaseFilesSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private def fs = FileSystem.get(spark.sessionState.newHadoopConf())

  private def fresh(name: String): String = {
    val p = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    fs.delete(p, true)
    p.toString
  }

  private def w(df: DataFrame, path: String, op: String) =
    df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.datasource.write.operation", op)
      .mode(SaveMode.Append).save(path)

  private def underMaxRecordsPerFile[T](body: => T): T = {
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try body finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  private def latest(path: String): String =
    HudiTable(spark, path).timeline.latestCommitTimestamp.get

  private def parquetRows(file: Path): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()))
    try r.getRecordCount finally r.close()
  }

  /** The base files `instant` wrote: one per file group on disk, one
    * write-stats entry each, and each entry's `numWrites` is its file's
    * parquet row count. Returns the files' total rows.
    */
  private def checkOneFilePerGroup(path: String, instant: String): Long = {
    val t = HudiTable(spark, path)
    val i = t.timeline.completedInstants.find(_.timestamp == instant).get
    val entries = t.timeline.commitMetadata(i).path("partitionToWriteStats")
      .elements().asScala.flatMap(_.elements().asScala).toSeq
    val files = fs.listFiles(new Path(path), true)
    val onDisk = Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => p.getName.endsWith(s"_$instant.parquet") && !p.toString.contains("/.hoodie/"))
      .toVector
    val groups = onDisk.map(_.getName.split("_")(0))
    assert(onDisk.nonEmpty && groups.distinct.size == groups.size,
      s"files per group: ${groups.groupBy(identity).view.mapValues(_.size).toMap}")
    assert(entries.map(_.path("fileId").asText()).sorted == groups.sorted)
    entries.map { e =>
      val rows = parquetRows(new Path(path, e.path("path").asText()))
      assert(e.path("numWrites").asLong(-1L) == rows, e.toString)
      rows
    }.sum
  }

  test("a bulk_insert under maxRecordsPerFile writes every row, one file per group") {
    val path = fresh("base_files_bulk_insert")
    underMaxRecordsPerFile(w(orders(), path, "bulk_insert"))
    assert(checkOneFilePerGroup(path, latest(path)) == orders().count())
    assert(spark.read.format("hudi-graft").load(path).count() == orders().count())
  }

  test("a COW upsert under maxRecordsPerFile rewrites whole groups") {
    val path = fresh("base_files_cow_upsert")
    w(orders(), path, "insert")
    val upserts = orders().filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_orderstatus", lit("U"))
    underMaxRecordsPerFile(w(upserts, path, "upsert"))
    checkOneFilePerGroup(path, latest(path))
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == orders().count())
    assert(back.filter(col("o_orderstatus") === "U").count() == upserts.count())
  }

  test("a clustering under maxRecordsPerFile keeps every row") {
    val path = fresh("base_files_cluster")
    w(orders(), path, "insert")
    val stats = underMaxRecordsPerFile(HudiClustering.cluster(spark, path))
    assert(checkOneFilePerGroup(path, stats.instant.get) == orders().count())
    assert(spark.read.format("hudi-graft").load(path).count() == orders().count())
  }

  private def footer(file: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()))
    try r.getFooter finally r.close()
  }

  private val RowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** The footer Spark's writer gives `df` staged through a `partitionBy`
    * — how the writer and clustering staged base files before they
    * wrote them themselves.
    */
  private def sparkStagedFooter(df: DataFrame, name: String): ParquetMetadata = {
    val out = fresh(name)
    df.withColumn("__p", lit("p")).write.partitionBy("__p").parquet(out)
    footer(fs.listStatus(new Path(out, "__p=p")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get)
  }

  private def assertSameFooters(path: String, instant: String, expected: ParquetMetadata): Unit = {
    def codecs(f: ParquetMetadata) =
      f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    val bases = HudiTable(spark, path).fsView.slicesAsOf(instant)
      .flatMap(_.baseFile).filter(_.commitTimestamp == instant)
    assert(bases.nonEmpty)
    bases.foreach { bf =>
      val f = footer(new Path(bf.path))
      assert(codecs(f) == codecs(expected), bf.fileName)
      assert(f.getFileMetaData.getKeyValueMetaData.get(RowMetadata) ==
        expected.getFileMetaData.getKeyValueMetaData.get(RowMetadata), bf.fileName)
    }
  }

  test("bulk_insert bases keep the codec and row metadata of Spark's writer") {
    val path = fresh("base_files_footer_insert")
    w(orders(), path, "bulk_insert")
    // the writer's routed frame: a literal commit time, a concat_ws'd
    // sequence number, partition path and file name, the cast key
    val o = orders()
    val routed = o.select(
      lit("0").as(MetaField.CommitTime) +:
        concat_ws("_", lit("0"), col("o_orderkey")).as(MetaField.CommitSeqno) +:
        col("o_orderkey").cast("string").as(MetaField.RecordKey) +:
        concat_ws("/", col("o_orderpriority")).as(MetaField.PartitionPath) +:
        concat(concat_ws("-", lit("f")), lit(".parquet")).as(MetaField.FileName) +:
        o.columns.map(col).toSeq: _*)
    assertSameFooters(path, latest(path), sparkStagedFooter(routed, "base_files_footer_insert_spark"))
  }

  test("clustered bases keep the codec and row metadata of Spark's writer") {
    val path = fresh("base_files_footer_cluster")
    w(orders(), path, "insert")
    // clustering's frame: the merged scan's meta columns, a concat_ws'd
    // sequence number and file name
    val merged = spark.read.format("hudi-graft").load(path)
    val routed = merged.select(
      col(MetaField.CommitTime) +:
        concat_ws("_", col(MetaField.CommitTime), col(MetaField.RecordKey))
          .as(MetaField.CommitSeqno) +:
        col(MetaField.RecordKey) +:
        col(MetaField.PartitionPath) +:
        concat(concat_ws("-", lit("f")), lit(".parquet")).as(MetaField.FileName) +:
        orders().columns.map(col).toSeq: _*)
    val expected = sparkStagedFooter(routed, "base_files_footer_cluster_spark")
    val cts = HudiClustering.cluster(spark, path).instant.get
    assertSameFooters(path, cts, expected)
  }

  private val rowSchema =
    StructType(MetaField.all.map(StructField(_, StringType, nullable = false)) :+
      StructField("v", LongType))

  /** Base-file rows at `instant`, one task per slice of (group, value). */
  private def baseRows(instant: String, slices: Seq[Seq[(String, Long)]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(slices, slices.size).flatMap(_.map {
      case (fid, v) => Row(instant, s"${instant}_${fid}_$v", s"$v", "p", s"${fid}_0-0-0_$instant.parquet", v)
    }), rowSchema)

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")

  test("a group whose rows arrive split fails the commit; other staging stays") {
    val path = fresh("base_files_split")
    val other = new Path(path, ".hoodie/.temp/0/keep.parquet")
    fs.create(other).close()
    // over two tasks
    val across = intercept[Exception](
      BaseFiles.write(baseRows("1", Seq(Seq("g1" -> 1L), Seq("g1" -> 2L))), path, "1"))
    assert(messages(across).contains("reached two staging tasks"), messages(across))
    // within one task, interleaved with another group
    val within = intercept[Exception](
      BaseFiles.write(baseRows("2", Seq(Seq("g1" -> 1L, "g2" -> 2L, "g1" -> 3L))), path, "2"))
    assert(messages(within).contains("do not arrive together"), messages(within))
    assert(fs.exists(other), "another instant's staging must survive a failed commit")
    // a finished commit deletes its own staging only
    val done = BaseFiles.write(
      baseRows("3", Seq(Seq("g1" -> 1L, "g1" -> 2L), Seq("g2" -> 3L))), path, "3")
    assert(done.map(f => (f.fileId, f.rows)) == Seq("g1" -> 2L, "g2" -> 1L))
    assert(!fs.exists(new Path(path, ".hoodie/.temp/3")) && fs.exists(other))
  }

  test("an emptied required group gets a schema-only base") {
    val path = fresh("base_files_emptied")
    val files = BaseFiles.write(baseRows("1", Seq(Seq("g1" -> 1L))), path, "1",
      required = Map("g0" -> "p", "g1" -> "p"))
    assert(files.map(f => (f.relPath, f.rows)) ==
      Seq("p/g0_0-0-0_1.parquet" -> 0L, "p/g1_0-0-0_1.parquet" -> 1L))
    val empty = new Path(path, "p/g0_0-0-0_1.parquet")
    assert(footer(empty).getBlocks.isEmpty && parquetRows(empty) == 0L)
    assert(files.head.bytes == fs.getFileStatus(empty).getLen)
  }
}
