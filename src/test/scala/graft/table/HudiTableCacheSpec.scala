package graft.table

import graft.SparkTestBase
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The open-table cache keys each build on the listing its timeline was
  * built from, so an instant that completes while a table opens is seen
  * by the next open.
  */
class HudiTableCacheSpec extends SparkTestBase {

  test("an instant completing after the build's listing is seen by the next open") {
    val local = Paths.get(graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/open_race"))
    org.apache.commons.io.FileUtils.deleteDirectory(local.toFile)
    val hoodie = Files.createDirectories(local.resolve(".hoodie"))
    Files.write(hoodie.resolve("hoodie.properties"),
      "hoodie.table.name=open_race\nhoodie.table.type=COPY_ON_WRITE\nhoodie.table.version=6\n"
        .getBytes("UTF-8"))
    val body = """{"partitionToWriteStats":{},"compacted":false}""".getBytes("UTF-8")
    Files.write(hoodie.resolve("20240101000000000.commit"), body)

    // the second listing of the timeline directory finds a new instant
    RaceFileSystem.listings.set(0)
    RaceFileSystem.beforeListing = n =>
      if (n == 2) Files.write(hoodie.resolve("20240102000000000.commit"), body)
    spark.conf.set("fs.racefs.impl", classOf[RaceFileSystem].getName)
    spark.conf.set("fs.racefs.impl.disable.cache", "true")
    try {
      val base = s"racefs://${local.toAbsolutePath}"
      HudiTable(spark, base)
      val reopened = HudiTable(spark, base)
      assert(RaceFileSystem.listings.get >= 2, "the race never ran")
      assert(reopened.timeline.completedInstants.map(_.timestamp) ==
        Vector("20240101000000000", "20240102000000000"),
        "the open served a cached table that lacks a completed instant")
    } finally {
      RaceFileSystem.beforeListing = _ => ()
      spark.conf.unset("fs.racefs.impl")
      spark.conf.unset("fs.racefs.impl.disable.cache")
    }
  }
}

/** A raw local file system under its own scheme that runs a hook before
  * each listing of a `.hoodie` directory.
  */
class RaceFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("racefs:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == ".hoodie") RaceFileSystem.beforeListing(RaceFileSystem.listings.incrementAndGet())
    super.listStatus(f)
  }
}

object RaceFileSystem {
  val listings = new AtomicInteger
  @volatile var beforeListing: Int => Unit = _ => ()
}
