package graft.table

import graft.SparkTestBase
import graft.fs.{BaseFile, ColumnStats, FilePruner, FileStats, PartitionFilter}
import org.apache.spark.sql.types._

/** Column-stats index reader against the reference's REAL v8 trips
  * fixture bytes (5 MDT partitions including column_stats), plus the
  * pruner's stats-first contract.
  */
class ColumnStatsIndexSpec extends SparkTestBase {

  private lazy val trips =
    Fixtures.table("quickstart_trips_table/mor/avro/v8_trips_8i3u1d.zip", "v8_trips_8i3u1d")

  test("loads real column_stats entries with log overlay") {
    assume(trips.isDefined)
    val conf = new org.apache.hadoop.conf.Configuration()
    val lookup = ColumnStatsIndex.load(trips.get, conf)
    assert(lookup.asOf.nonEmpty)
    assert(lookup.entries.nonEmpty)
    // every entry names a file and a column
    assert(lookup.entries.forall(e => e.fileName.nonEmpty && e.columnName.nonEmpty))
    // the trips schema's string columns surface string ranges
    val driver = lookup.entries.filter(_.columnName == "driver")
    assert(driver.nonEmpty)
    val withBounds = driver.filter(e => e.min.isDefined && e.max.isDefined)
    assert(withBounds.nonEmpty)
    assert(withBounds.forall { e =>
      e.min.get.asInstanceOf[String].startsWith("driver-") &&
        e.min.get.asInstanceOf[String] <= e.max.get.asInstanceOf[String]
    })
    // per-file stats carry comparable ranges, keyed by file name
    assert(lookup.files.values.exists(_.ranges.nonEmpty))
    assert(lookup.files.keys.forall(f =>
      f.endsWith(".parquet") || f.contains(".log.")))
  }

  test("advertisement gate reads hoodie.table.metadata.partitions") {
    assume(trips.isDefined)
    val conf = new org.apache.hadoop.conf.Configuration()
    val t = HudiTable(spark, trips.get)
    assert(ColumnStatsIndex.isAvailable(t.config))
    assert(t.columnStats.nonEmpty)
  }

  // ---- pruner stats-first contract (no fixture needed) -----------------

  private val schema = StructType(Seq(StructField("v", LongType)))
  private def bf(path: String) =
    BaseFile("f1x", "0-0-0", "t1", None, "parquet", path, 0L)
  private val statsKey = bf("ignored").fileName
  private val pre: Map[String, FileStats] =
    Map(statsKey -> FileStats(None, 0L, Map("v" -> ColumnStats(
      Some((10L.asInstanceOf[Comparable[Any]], 100L.asInstanceOf[Comparable[Any]])),
      tight = true, None, allNull = false, present = true)), complete = false))

  test("preStats serve pruning without touching the file") {
    // the path does not exist: any footer read would throw -> fail-open
    // true, so a FALSE include decision proves the stats path served it
    val exclude = new FilePruner(Seq(PartitionFilter("v", "<", Seq("5"))), schema,
      new org.apache.hadoop.conf.Configuration(), pre)
    assert(!exclude.shouldInclude(bf("/nonexistent/no.parquet")))
    val include = new FilePruner(Seq(PartitionFilter("v", "<", Seq("50"))), schema,
      new org.apache.hadoop.conf.Configuration(), pre)
    assert(include.shouldInclude(bf("/nonexistent/no.parquet")))
  }

  test("range fixture: stats cover every group and serve prune decisions statless") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val t = HudiTable(spark, graft.fixtures.HudiFixtureBuilder.rangePath(sfDir))
    val stats = t.columnStats.view.mapValues(_.ranges).toMap
    assert(stats.size == 4, s"expected 4 file-group entries, got ${stats.keys}")
    val ranges = stats.values.map(_("o_orderkey")).toVector
    // contiguous quartiles: every file has a range, ranges are disjoint
    assert(ranges.forall { case (mn, mx) => mn.compareTo(mx) <= 0 })
    val sorted = ranges.sortBy(_._1.asInstanceOf[Long])
    assert(sorted.sliding(2).forall {
      case Vector((_, aMax), (bMin, _)) =>
        aMax.asInstanceOf[Long] < bMin.asInstanceOf[Long]
      case _ => true
    })
    // a filter below the global min of the TOP group excludes that
    // group's file through the stats alone: hand the pruner a bogus path
    // so any footer read would fail open to true
    val topFile = stats.maxBy(_._2("o_orderkey")._1.asInstanceOf[Long])._1
    val topMin = stats(topFile)("o_orderkey")._1.asInstanceOf[Long]
    val pruner = new FilePruner(
      Seq(PartitionFilter("o_orderkey", "<", Seq((topMin - 1).toString))),
      t.tableSchema, new org.apache.hadoop.conf.Configuration(), t.columnStats)
    // reconstruct a BaseFile whose fileName matches the stats key
    val Array(fid, tok, rest) = topFile.split("_", 3)
    val ts = rest.stripSuffix(".parquet")
    val top = graft.fs.BaseFile(fid, tok, ts, None, "parquet", "/nonexistent/x.parquet", 0L)
    assert(top.fileName == topFile, s"${top.fileName} != $topFile")
    assert(!pruner.shouldInclude(top))
  }

  test("files absent from preStats fall back to the footer, fail-open") {
    val p = new FilePruner(Seq(PartitionFilter("v", "<", Seq("5"))), schema,
      new org.apache.hadoop.conf.Configuration(), pre)
    val other = BaseFile("zzz", "0-0-0", "t1", None, "parquet", "/nonexistent/no.parquet", 0L)
    assert(p.shouldInclude(other)) // unreadable footer -> include
  }
}
