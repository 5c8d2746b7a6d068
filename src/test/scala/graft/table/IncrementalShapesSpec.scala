package graft.table

import graft.SparkTestBase
import graft.fs.PartitionFilter
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** `HudiTable.incremental` gives one answer whatever the handle's shape:
  * unfiltered, partition-filtered, or opened with read options. The
  * commit-range row filter applies to the MERGED row, so an in-range
  * update that loses the merge to an older, higher-ordered version
  * contributes nothing — the answer is the snapshot rows at the range
  * end whose commit time lies in the range.
  */
class IncrementalShapesSpec extends SparkTestBase {
  import spark.implicits._

  private def write(df: DataFrame, path: String, op: String): Unit =
    df.write.format("hudi-graft")
      .option("hoodie.datasource.write.table.type", "MERGE_ON_READ")
      .option("hoodie.datasource.write.recordkey.field", "id")
      .option("hoodie.datasource.write.partitionpath.field", "part")
      .option("hoodie.datasource.write.precombine.field", "ord")
      .option("hoodie.datasource.write.operation", op)
      .mode(SaveMode.Append).save(path)

  private def rows(df: DataFrame): Set[(Int, String)] =
    df.select("id", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet

  test("incremental answer is the same unfiltered, partition-filtered and optioned") {
    val path = graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/incremental_shapes")
    FileSystem.get(spark.sessionState.newHadoopConf()).delete(new Path(path), true)
    write(Seq((1, "a", 10, "v1"), (2, "a", 10, "w1"), (3, "b", 10, "x1"))
      .toDF("id", "part", "ord", "v"), path, "insert")
    // keys 1 and 3 move to a LOWER ordering: their c2 versions lose the merge
    write(Seq((1, "a", 5, "v2"), (2, "a", 20, "w2"), (3, "b", 5, "x2"))
      .toDF("id", "part", "ord", "v"), path, "upsert")

    val t = HudiTable(spark, path)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).sorted.toSeq
    val snapshotAtC2 = t.snapshot(asOf = Some(c2))
    assert(rows(snapshotAtC2) == Set((1, "v1"), (2, "w2"), (3, "x1")))
    val inRange = snapshotAtC2.filter(col("_hoodie_commit_time") > c1 &&
      col("_hoodie_commit_time") <= c2)
    val expected = rows(inRange)
    val expectedA = rows(inRange.filter(col("part") === "a"))
    assert(expected == Set((2, "w2")) && expectedA == expected)

    val partA = Seq(PartitionFilter("part", "=", Seq("a")))
    // an unstored hoodie.* key: the handle carries read options
    val optioned = HudiTable(spark, path, Map("hoodie.parquet.max.file.size" -> "134217728"))
    assert(rows(t.incremental(Some(c1), Some(c2))) == expected)
    assert(rows(t.incremental(Some(c1), Some(c2), partA)) == expectedA)
    assert(rows(optioned.incremental(Some(c1), Some(c2))) == expected)
    assert(rows(optioned.incremental(Some(c1), Some(c2), partA)) == expectedA)
    assert(rows(t.incremental(Some(c1), Some(c2),
      Seq(PartitionFilter("part", "=", Seq("b"))))).isEmpty)
  }
}
