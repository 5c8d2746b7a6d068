package graft.write

import graft.SparkTestBase
import graft.core.{HoodieConfig, Timeline}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger

/** One metadata-table delta per action: every maintained MDT partition
  * appends through the action's [[MdtCommit]], which opens the MDT once
  * and completes its deltacommit once, after the last partition's log.
  * The tables live under the `mdtfault` scheme, a raw local file system
  * that counts MDT opens and can fail chosen creates.
  */
class MdtCommitSpec extends SparkTestBase {

  private val conf = () => spark.sessionState.newHadoopConf()

  /** A copy of `cow_date_orders` (COW, v6, one record_index group, a
    * column_stats partition) maintaining exactly column_stats and
    * record_index, as an `mdtfault:` path.
    */
  private def indexedCopy(name: String): String = {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val fs = FileSystem.get(conf())
    val dst = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(graft.fixtures.HudiFixtureBuilder.datePath(sfDir)), fs, dst, false, conf())
    val props = new Path(dst, ".hoodie/hoodie.properties")
    val kept = new String(graft.util.ReadFully(fs, props), "UTF-8").split("\n")
      .map(l => if (l.startsWith("hoodie.table.metadata.partitions="))
        "hoodie.table.metadata.partitions=column_stats,record_index" else l)
    fs.delete(props, false)
    val out = fs.create(props, false)
    try out.write(kept.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    s"mdtfault://${new java.io.File(dst.toUri.getPath).getAbsolutePath}"
  }

  private def read(path: String): DataFrame =
    spark.read.format("hudi-graft").load(path)

  /** The table's rows as a batch: data columns only. */
  private def rows(path: String): DataFrame = {
    val t = read(path)
    t.select(t.columns.filterNot(_.startsWith("_hoodie_")).map(col): _*)
  }

  /** Updates of keys divisible by `mod` plus one insert of `newKey`, all
    * with status `status`: the update rewrites file groups, the insert
    * adds a record_index entry.
    */
  private def batch(path: String, mod: Int, newKey: Long, status: String): DataFrame = {
    val base = rows(path)
    val b = base.filter(col("o_orderkey") % mod === 0)
      .unionByName(base.filter(col("o_orderkey") === 1).withColumn("o_orderkey", lit(newKey)))
      .withColumn("o_orderstatus", lit(status))
    spark.createDataFrame(java.util.Arrays.asList(b.collect(): _*), b.schema)
  }

  private def upsert(df: DataFrame, path: String): Unit =
    df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.datasource.write.operation", "upsert")
      .mode(SaveMode.Append).save(path)

  private def completedMdtInstants(path: String): Vector[String] = {
    val mdt = s"$path/.hoodie/metadata"
    new Timeline(mdt, HoodieConfig.load(mdt, conf()), conf()).completedInstants.map(_.timestamp)
  }

  private def withFaultFs[A](body: => A): A = {
    spark.conf.set("fs.mdtfault.impl", classOf[MdtFaultFileSystem].getName)
    spark.conf.set("fs.mdtfault.impl.disable.cache", "true")
    try body
    finally {
      MdtFaultFileSystem.failCreate = _ => false
      spark.conf.unset("fs.mdtfault.impl")
      spark.conf.unset("fs.mdtfault.impl.disable.cache")
    }
  }

  test("a failed later partition leaves the MDT deltacommit incomplete; the next upsert succeeds") {
    withFaultFs {
      val path = indexedCopy("mdt_commit_order")
      val original = rows(path).select(col("o_orderkey").cast("long"), col("o_orderstatus"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val mdtBefore = completedMdtInstants(path)
      val dataBefore = graft.table.HudiTable(spark, path).timeline.completedInstants
      // record_index writes its log first (in tasks); column_stats comes later
      MdtFaultFileSystem.failCreate = p =>
        p.getParent.getName == "column_stats" && p.getName.contains(".log.")
      val failed = intercept[Exception](upsert(batch(path, 97, 90000001L, "F"), path))
      assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("injected")), failed)
      MdtFaultFileSystem.failCreate = _ => false
      val riLogs = FileSystem.get(new Path(path).toUri, conf())
        .listStatus(new Path(path, ".hoodie/metadata/record_index"))
        .map(_.getPath.getName).filter(_.contains(".log."))
      assert(riLogs.nonEmpty, "record_index must have written its log before the failure")
      assert(completedMdtInstants(path) == mdtBefore,
        "no MDT deltacommit may complete for an action whose later partition failed")
      assert(graft.table.HudiTable(spark, path).timeline.completedInstants == dataBefore)

      upsert(batch(path, 89, 90000002L, "G"), path)
      val mdtAfter = completedMdtInstants(path)
      val dataAfter = graft.table.HudiTable(spark, path).timeline.completedInstants
      assert(mdtAfter.size == mdtBefore.size + 1 && mdtAfter.last == dataAfter.last.timestamp)
      val got = read(path).select(col("o_orderkey").cast("long"), col("o_orderstatus"))
        .collect().map(r => r.getLong(0) -> r.getString(1))
      assert(got.map(_._1).distinct.length == got.length, "a key reads back twice")
      // the failed upsert's keys are left out: its orphaned files are
      // the commit protocol's to roll back
      val touchedByFailure = (k: Long) => k % 97 == 0 || k == 90000001L
      val expected = original.map { case (k, s) => k -> (if (k % 89 == 0) "G" else s) } +
        (90000002L -> "G")
      assert(got.filterNot(r => touchedByFailure(r._1)).toMap ==
        expected.filterNot(r => touchedByFailure(r._1)))
    }
  }

  test("one upsert maintaining two MDT partitions opens the MDT once") {
    withFaultFs {
      val path = indexedCopy("mdt_commit_opens")
      val b = batch(path, 97, 90000001L, "U")
      MdtFaultFileSystem.reset()
      upsert(b, path)
      val opens = (MdtFaultFileSystem.timelineListings.get, MdtFaultFileSystem.propertiesOpens.get)
      assert(completedMdtInstants(path).size == 2, "both partitions' logs under one deltacommit")
      assert(opens == ((1, 1)), "(MDT timeline listings, MDT hoodie.properties opens)")
    }
  }
}

/** A raw local file system under the `mdtfault` scheme: counts listings
  * of the metadata table's timeline directory and opens of its
  * `hoodie.properties`, and fails the creates `failCreate` selects.
  */
class MdtFaultFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mdtfault:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.toUri.getPath.endsWith("/.hoodie/metadata/.hoodie"))
      MdtFaultFileSystem.timelineListings.incrementAndGet()
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.toUri.getPath.endsWith("/.hoodie/metadata/.hoodie/hoodie.properties"))
      MdtFaultFileSystem.propertiesOpens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (MdtFaultFileSystem.failCreate(f))
      throw new java.io.IOException(s"injected create failure: $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object MdtFaultFileSystem {
  val timelineListings = new AtomicInteger
  val propertiesOpens = new AtomicInteger
  @volatile var failCreate: Path => Boolean = _ => false

  def reset(): Unit = {
    timelineListings.set(0)
    propertiesOpens.set(0)
  }
}
