package graft.fs

import graft.SparkTestBase
import graft.core.{HoodieConfig, Timeline}
import graft.log.SparkToAvro
import org.apache.hadoop.fs.{FileSystem, Path}

/** Planning-at-scale stress test: a synthetic 1,000-partition x 10-file
  * table (metadata only — every base file is a byte-copy of one tiny real
  * parquet) exercises the driver-side path a 100x scale-up leans on:
  * level-parallel listing, per-partition file-group assembly, and slice
  * chunking that keeps task count at ~defaultParallelism instead of one
  * task per file.
  */
class PlanningStressSpec extends SparkTestBase {

  private val Partitions = 1000
  private val FilesPerPartition = 10
  private val T1 = "20240101000000000"

  private lazy val path: String = buildOnce()

  private def buildOnce(): String = {
    val base = new Path(graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/stress_plan"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val marker = new Path(base, "_READY_v1")
    if (fs.exists(marker)) return base.toString
    fs.delete(base, true)
    fs.mkdirs(new Path(base, ".hoodie"))

    // one real parquet file; every base file is a byte-copy so the footer
    // sampler and any schema fallback stay functional
    import spark.implicits._
    val df = Seq((T1, s"${T1}_0_1", "1", "part0000", "f", "part0000", 1L))
      .toDF("_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name", "p", "v")
    val tmp = new Path(base, ".tmp_proto")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val proto = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    val bytes = {
      val len = fs.getFileStatus(proto).getLen.toInt
      val in = fs.open(proto)
      try { val b = new Array[Byte](len); in.readFully(0, b); b } finally in.close()
    }
    fs.delete(tmp, true)

    def writeText(p: Path, s: String): Unit = {
      val out = fs.create(p, true); out.write(s.getBytes("UTF-8")); out.close()
    }
    writeText(new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=stress_plan
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=v
        |hoodie.table.precombine.field=v
        |hoodie.table.partition.fields=p
        |hoodie.datasource.write.hive_style_partitioning=false
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val dataAvro = SparkToAvro.toAvroSchema(df.select("p", "v").schema, "stress_record").toString
    val esc = dataAvro.replace("\\", "\\\\").replace("\"", "\\\"")
    writeText(new Path(base, s".hoodie/$T1.commit"),
      s"""{"partitionToWriteStats":{},"extraMetadata":{"schema":"$esc"},"compacted":false}""")

    for (i <- 0 until Partitions) {
      val dir = new Path(base, f"part$i%04d")
      fs.mkdirs(dir)
      for (j <- 0 until FilesPerPartition) {
        val name = f"00000000-0000-0000-$i%04d-$j%012d-0_0-0-0_$T1.parquet"
        val out = fs.create(new Path(dir, name), true)
        out.write(bytes)
        out.close()
      }
    }
    fs.create(marker, true).close()
    base.toString
  }

  test("10k-slice snapshot plans within budget and lists in parallel") {
    val conf = spark.sessionState.newHadoopConf()
    val config = HoodieConfig.load(path, conf)
    val t0 = System.nanoTime()
    val view = new FsView(path, config, new Timeline(path, config, conf), conf)
    val slices = view.slicesAsOf(T1)
    val wallMs = (System.nanoTime() - t0) / 1000000
    assert(slices.size == Partitions * FilesPerPartition)
    // generous CI budget; a serial-listing regression (one round-trip per
    // dir) or per-file footer reads in the plan path blow way past it
    assert(wallMs < 20000, s"planning 10k slices took ${wallMs}ms")
  }

  test("task count stays at defaultParallelism via slice chunking") {
    val df = spark.read.format("hudi-graft").load(path)
    val tasks = df.rdd.getNumPartitions
    assert(tasks == spark.sparkContext.defaultParallelism,
      s"10k slices must chunk to ~defaultParallelism tasks, got $tasks")
  }

  test("partition pruning drops listing work before chunking") {
    // part0000 is the value the proto file embeds, so footer min/max
    // pruning (which sees every copy as p=part0000) agrees with the
    // partition-path pruning instead of contradicting it
    val pruned = spark.read.format("hudi-graft").load(path)
      .filter(org.apache.spark.sql.functions.col("p") === "part0000")
    // the scan plans only the surviving partition's slices ...
    assert(pruned.queryExecution.executedPlan.toString()
      .contains(s"$FilesPerPartition slices"),
      "scan must plan only the pruned partition's slices")
    // ... and still chunks them (10 > defaultParallelism -> binned)
    assert(pruned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("bloom-tier planning probes are capped by planned-file count") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import org.apache.spark.sql.functions.col
    val bloom = graft.fixtures.HudiFixtureBuilder.bloomPath(sfDir)
    // under the cap (default 10k): the tier prunes to the one
    // residue-class group
    val pruned = spark.read.format("hudi-graft").load(bloom)
      .filter(col("o_orderkey") === 8)
    assert(pruned.queryExecution.executedPlan.toString().contains("1 slices"))
    // cap below the plan width: the tier stands down — full 4-slice
    // plan, rows still exact (fail-open, never wrong)
    System.setProperty("graft.bloom.index.max.files", "1")
    try {
      val capped = spark.read.format("hudi-graft").load(bloom)
        .filter(col("o_orderkey") === 8)
      assert(capped.queryExecution.executedPlan.toString().contains("4 slices"),
        s"capped bloom tier must stand down: ${capped.queryExecution.executedPlan}")
      assert(capped.collect().map(_.getAs[Long]("o_orderkey")).toSeq == Seq(8L))
    } finally System.clearProperty("graft.bloom.index.max.files")
    // the `_hoodie_record_key` meta column probes blooms too — its
    // literal IS the stored key, so it needs no keygenerator gate (and
    // works even under ComplexKeyGenerator, where a real stored key
    // would simply never match a bare literal)
    val metaKey = spark.read.format("hudi-graft").load(bloom)
      .filter(col("_hoodie_record_key") === "8")
    assert(metaKey.queryExecution.executedPlan.toString().contains("1 slices"),
      s"meta-key bloom probe did not prune: ${metaKey.queryExecution.executedPlan}")
    assert(metaKey.collect().map(_.getAs[Long]("o_orderkey")).toSeq == Seq(8L))
  }
}
