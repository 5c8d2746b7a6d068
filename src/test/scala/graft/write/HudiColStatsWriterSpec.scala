package graft.write

import graft.SparkTestBase
import graft.table.{ColumnStatsIndex, HudiTable}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Writes against a column_stats table: the staging pass computes exact
  * per-(file, column) bounds, the MDT receives them as an HFile log
  * overlay BEFORE the data commit, and the index keeps pruning/answering
  * over connector-written files (new file names covered with tight
  * bounds and real null counts; uncovered types fall open).
  */
class HudiColStatsWriterSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private def copyFixture(name: String): String = {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val dst = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(graft.fixtures.HudiFixtureBuilder.rangePath(sfDir)), fs, dst, false,
      spark.sessionState.newHadoopConf())
    dst.toString
  }

  test("upsert maintains column_stats: new files covered with exact tight bounds") {
    val path = copyFixture("writer_colstats")
    // %7 upsert rewrites groups -> NEW file names need fresh index entries
    orders().filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("X"))
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .mode(SaveMode.Append).save(path)

    val t = HudiTable(spark, path)
    val c2 = t.timeline.latestCommitTimestamp.get
    val newFiles = t.fsView.slicesAsOf(c2)
      .filter(_.commitTimestamp == c2).flatMap(_.baseFile)
    assert(newFiles.nonEmpty, "the upsert must have rewritten groups")

    val lookup = ColumnStatsIndex.load(path, spark.sessionState.newHadoopConf())
    newFiles.foreach { bf =>
      val file = lookup.files.getOrElse(bf.fileName,
        fail(s"no column_stats entry for rewritten file ${bf.fileName}"))
      val stats = file.ranges
      assert(stats.contains("o_orderkey"), stats.keySet.toString)
      // bounds are EXACT: recompute from the file itself
      val actual = spark.read.parquet(bf.path)
        .agg(min("o_orderkey"), max("o_orderkey")).head
      val (mn, mx) = stats("o_orderkey")
      assert(mn == actual.getLong(0) && mx == actual.getLong(1),
        s"${bf.fileName}: index ($mn,$mx) vs actual (${actual.getLong(0)},${actual.getLong(1)})")
      // tight + counted: the aggregate tiers can ANSWER from these
      assert(file.columns.get("o_orderkey").exists(_.tight))
      assert(file.rowCount.isDefined)
    }

    // the key-range pruned read stays correct over the mixed old/new index
    val q = spark.read.format("hudi-graft").load(path)
      .filter(col("o_orderkey") <= 100)
      .select("o_orderkey", "o_orderstatus")
    val expect = orders().filter(col("o_orderkey") <= 100)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit("X")).otherwise(col("o_orderstatus")))
      .collect().map(_.toSeq).toSet
    assert(q.collect().map(_.toSeq).toSet == expect)

    // COUNT(*) over the updated table agrees (index-count tier or footer
    // tier — either way the maintained counts must not corrupt it)
    assert(spark.read.format("hudi-graft").load(path).count() == orders().count())
  }

  test("inserts WIDEN partition_stats bounds; new partitions get fresh entries") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val path = new Path(graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/writer_pstats"))
    fs.delete(path, true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(graft.fixtures.HudiFixtureBuilder.pstatsPath(sfDir)), fs, path, false,
      spark.sessionState.newHadoopConf())
    val maxKey = orders().agg(max(col("o_orderkey"))).head.getLong(0)
    // one key ABOVE partition g=0's current max lands in g=0, one in a
    // brand-new partition g=7: the g=0 entry must WIDEN (a stale bound
    // would let a key-range plan prune the partition and LOSE the row)
    // and g=7 must get a fresh entry
    val extra = orders().limit(2)
      .withColumn("o_orderkey",
        when(monotonically_increasing_id() === 0, lit(maxKey + 10))
          .otherwise(lit(maxKey + 20)))
      .withColumn("g", when(col("o_orderkey") === maxKey + 10, lit(0)).otherwise(lit(7)))
    extra.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "g")
      .option("hoodie.datasource.write.operation", "insert")
      .mode(SaveMode.Append).save(path.toString)

    val bounds = graft.table.PartitionStatsIndex.load(path.toString,
      spark.sessionState.newHadoopConf())
    assert(bounds("g=0")("o_orderkey")._2 == maxKey + 10,
      s"g=0 max must widen: ${bounds("g=0")("o_orderkey")}")
    assert(bounds.get("g=7").exists(_.get("o_orderkey")
      .exists(b => b._1 == maxKey + 20 && b._2 == maxKey + 20)), bounds.get("g=7").toString)
    // the stats-pruned plan finds both rows
    val got = spark.read.format("hudi-graft").load(path.toString)
      .filter(col("o_orderkey") > maxKey)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(got == Set(maxKey + 10, maxKey + 20), got.toString)
  }

  test("MOR log updates and log-routed inserts WIDEN partition_stats bounds") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(conf)
    val path = new Path(
      graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/writer_pstats_mor"))
    fs.delete(path, true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(graft.fixtures.HudiFixtureBuilder.pstatsPath(sfDir)), fs, path, false, conf)
    // the cow_pstats_orders layout as a MERGE_ON_READ table, with o_custkey
    // bounded too so an update can move a value past its partition's bound
    val props = new Path(path, ".hoodie/hoodie.properties")
    val text = new String(graft.util.ReadFully(fs, props), "UTF-8")
      .replace("hoodie.table.type=COPY_ON_WRITE", "hoodie.table.type=MERGE_ON_READ")
    val out = fs.create(props, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val rows = spark.read.format("hudi-graft").load(path.toString)
      .drop(graft.core.MetaField.all: _*)
    val ranges = rows.groupBy("g").agg(min("o_orderkey"), max("o_orderkey"),
      min("o_custkey"), max("o_custkey")).collect()
    graft.fixtures.HudiFixtureBuilder.writePartitionStatsFile(fs, path, ranges.toSeq.flatMap { r =>
      Seq((s"g=${r.getInt(0)}", "o_orderkey", r.getLong(1), r.getLong(2)),
        (s"g=${r.getInt(0)}", "o_custkey", r.getLong(3), r.getLong(4)))
    }, graft.fixtures.HudiFixtureBuilder.T1)
    val maxKey = rows.agg(max("o_orderkey")).head.getLong(0)
    val maxCust = rows.agg(max("o_custkey")).head.getLong(0)
    val k0 = rows.filter(col("g") === 0).agg(min("o_orderkey")).head.getLong(0)
    def upsert(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "g")
      .mode(SaveMode.Append).save(path.toString)
    def bound(column: String) = graft.table.PartitionStatsIndex.load(path.toString, conf)(
      "g=0")(column)._2
    def found(filter: org.apache.spark.sql.Column) = spark.read.format("hudi-graft")
      .load(path.toString).filter(filter).select("o_orderkey").collect().map(_.getLong(0)).toSet

    // an UPDATE of a g=0 row to a custkey above every bound lands in a log
    upsert(rows.filter(col("o_orderkey") === k0).withColumn("o_custkey", lit(maxCust + 1000)))
    assert(bound("o_custkey") == maxCust + 1000, "a log update must widen its partition's bound")
    assert(found(col("o_custkey") > maxCust) == Set(k0))

    // a new key above g=0's max is routed into g=0's log, and widens too
    upsert(rows.filter(col("o_orderkey") === k0).withColumn("o_orderkey", lit(maxKey + 10)))
    val name = spark.read.format("hudi-graft").load(path.toString)
      .filter(col("o_orderkey") === maxKey + 10).head.getAs[String]("_hoodie_file_name")
    assert(name.startsWith(".") && name.contains(".log."),
      s"routed insert must sit in a log: $name")
    assert(bound("o_orderkey") == maxKey + 10)
    assert(found(col("o_orderkey") > maxKey) == Set(maxKey + 10))
  }

  test("upsert maintains bloom_filters: new files probe correctly") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val path = new Path(graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/writer_bloom"))
    fs.delete(path, true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(graft.fixtures.HudiFixtureBuilder.bloomPath(sfDir)), fs, path, false,
      spark.sessionState.newHadoopConf())
    orders().filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("B"))
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .mode(SaveMode.Append).save(path.toString)

    val t = HudiTable(spark, path.toString)
    val c2 = t.timeline.latestCommitTimestamp.get
    val newFiles = t.fsView.slicesAsOf(c2)
      .filter(_.commitTimestamp == c2).flatMap(sl => sl.baseFile.map(bf =>
        (sl.partitionPath, bf.fileName, bf.path)))
    assert(newFiles.nonEmpty)
    val blooms = graft.table.BloomFilterIndex.lookup(path.toString,
      newFiles.map(f => (f._1, f._2)), spark.sessionState.newHadoopConf())
    newFiles.foreach { case (p, name, abs) =>
      val bloom = blooms.getOrElse((p, name),
        fail(s"no maintained bloom for rewritten file $name"))
      // a key actually IN the file must test positive; a key absent from
      // the whole table must test negative (0.05% fp rate, fixed seed)
      val inFile = spark.read.parquet(abs)
        .select("_hoodie_record_key").head.getString(0)
      assert(graft.table.BloomFilterIndex.mightContain(bloom, inFile))
      assert(!graft.table.BloomFilterIndex.mightContain(bloom, "99999999991"),
        s"absent key must prune via $name")
    }
    // point read over the maintained blooms returns the upserted row
    val k = orders().filter(col("o_orderkey") % 7 === 0)
      .agg(min("o_orderkey")).head.getLong(0)
    val r = spark.read.format("hudi-graft").load(path.toString)
      .filter(col("_hoodie_record_key") === k.toString)
      .select("o_orderstatus").collect()
    assert(r.length == 1 && r.head.getString(0) == "B")
  }
}
