package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The test-table loaders infer each table's parquet schema once per
  * session, and infer it again when the file or the parquet confs change.
  */
class TablesSpec extends SparkTestBase {

  // Every load used to infer the schema in one Spark job.
  test("a table's second load runs no Spark job") {
    Tables.t(spark, sfDir, "lineitem").schema
    val (_, jobs) = JobCount(spark)(Tables.t(spark, sfDir, "lineitem").schema)
    assert(jobs == 0, s"the second load ran $jobs Spark jobs")
  }

  // A warm q5 ran 13 jobs before its schemas were cached, six of them inferring the
  // schemas of its six tables (local[4], 4 shuffle partitions).
  test("a warm q5 pays no schema inference") {
    val q5 = SparkEntry.queries("q5_local_supplier_volume")
    q5(spark, sfDir).collect()
    val (_, jobs) = JobCount(spark)(q5(spark, sfDir).collect())
    assert(jobs <= 13 - 6, s"a warm q5 ran $jobs Spark jobs")
  }

  test("a changed parquet conf is inferred again") {
    // events.ts is TIMESTAMP(MICROS, isAdjustedToUTC=false) in the test data
    def ts = Tables.t(spark, sfDir, "events").schema("ts").dataType
    assert(ts == TimestampNTZType)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try assert(ts == TimestampType)
    finally spark.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")
    assert(ts == TimestampNTZType)
  }

  test("a rewritten file is inferred again") {
    val dir = graft.fixtures.HudiFixtureBuilder.targetPath("tables-spec")
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(new Path(dir), true)
    val file = new Path(s"$dir/t.parquet")
    def write(df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/tmp")
      val part = fs.listStatus(new Path(s"$dir/tmp")).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.delete(file, false)
      fs.rename(part, file)
      fs.setTimes(file, mtime, -1)
    }
    def columns = Tables.t(spark, dir, "t").columns.toSeq
    try {
      write(spark.range(3).select(col("id").as("a")), 1000000L)
      assert(columns == Seq("a"))
      write(spark.range(3).select(col("id").as("b")), 2000000L)
      assert(columns == Seq("b"))
    } finally fs.delete(new Path(dir), true)
  }
}
