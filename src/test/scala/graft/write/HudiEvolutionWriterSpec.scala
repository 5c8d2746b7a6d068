package graft.write

import graft.SparkTestBase
import graft.table.HudiTable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Schema evolution on write: an upsert may ADD columns (appended to the
  * commit-recorded schema; older rows null-fill) and WIDEN int→long /
  * float→double (older files upcast on read — the same resolution
  * `hudi_schema_widened` pins for foreign-written tables). Drops and
  * narrowings refuse. Snapshot and incremental reads stay green across
  * the boundary.
  */
class HudiEvolutionWriterSpec extends SparkTestBase {

  private def fresh(name: String): String = {
    val p = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    FileSystem.get(spark.sessionState.newHadoopConf()).delete(p, true)
    p.toString
  }

  private def base() = spark.createDataFrame(Seq(
    (1, "Alice", "a", 10, 1.5f),
    (2, "Bob", "b", 20, 2.5f),
    (3, "Carol", "a", 30, 3.5f),
    (4, "Diana", "b", 40, 4.5f)))
    .toDF("id", "name", "grp", "ord", "score")

  private def w(df: DataFrame, path: String, mor: Boolean = false) = {
    var wr = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "id")
      .option("hoodie.datasource.write.partitionpath.field", "grp")
      .option("hoodie.datasource.write.precombine.field", "ord")
    if (mor) wr = wr.option("hoodie.datasource.write.table.type", "MERGE_ON_READ")
    wr.mode(SaveMode.Append).save(path)
  }

  test("COW upsert adds a column and widens int→long / float→double") {
    val path = fresh("writer_evolve_cow")
    w(base(), path)
    // evolve: ord int→long, score float→double, add `tag`
    val evolved = base().filter(col("id") <= 2)
      .withColumn("ord", (col("ord") * 100L).cast(LongType))
      .withColumn("score", col("score").cast(DoubleType) + 10.0)
      .withColumn("name", concat(col("name"), lit("-v2")))
      .withColumn("tag", lit("NEW"))
    w(evolved, path)

    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == 4)
    assert(back.schema("ord").dataType == LongType, back.schema.toString)
    assert(back.schema("score").dataType == DoubleType)
    assert(back.columns.last == "tag", back.columns.mkString(","))
    // updated rows carry the new values; untouched rows upcast + null tag
    assert(back.filter(col("id") === 1).head.getAs[String]("name") == "Alice-v2")
    assert(back.filter(col("id") === 1).head.getAs[String]("tag") == "NEW")
    val r3 = back.filter(col("id") === 3).head
    assert(r3.getAs[Long]("ord") == 30L && r3.getAs[String]("tag") == null)
    // the CARRIED row in the rewritten group (id 3 shares partition 'a'
    // with id 1) upcast inside the new file too
    val t = HudiTable(spark, path)
    val Seq(c1, c2) = t.timeline.completedInstants.map(_.timestamp).distinct.sorted.toSeq
    assert(back.filter(col("id") === 3).head.getAs[String]("_hoodie_commit_time") == c1,
      "carried rows keep their stamp across an evolving rewrite")
    // incremental across the boundary: (c1, c2] = the two updated rows
    val inc = t.incremental(Some(c1), Some(c2))
    assert(inc.count() == 2)
    assert(inc.schema("ord").dataType == LongType)
  }

  test("MOR upsert evolves via log blocks under the widened writer schema") {
    val path = fresh("writer_evolve_mor")
    w(base(), path, mor = true)
    val evolved = base().filter(col("id") === 2)
      .withColumn("ord", (col("ord") + 1000L).cast(LongType))
      .withColumn("tag", lit("LOGGED"))
    w(evolved, path, mor = true)
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == 4)
    assert(back.schema("ord").dataType == LongType)
    assert(back.filter(col("id") === 2).head.getAs[String]("tag") == "LOGGED")
    assert(back.filter(col("id") === 2).head.getAs[Long]("ord") == 1020L)
    assert(back.filter(col("id") === 1).head.getAs[String]("tag") == null)
    // the log append really is a log (no base rewrite)
    val t = HudiTable(spark, path)
    val c2 = t.timeline.latestCommitTimestamp.get
    assert(t.fsView.slicesAsOf(c2).exists(_.hasLogFiles))
  }

  test("drops and narrowings refuse") {
    val path = fresh("writer_evolve_refuse")
    w(base(), path)
    val exDrop = intercept[IllegalArgumentException] {
      w(base().drop("score"), path)
    }
    assert(exDrop.getMessage.contains("missing"), exDrop.getMessage)
    val exNarrow = intercept[IllegalArgumentException] {
      w(base().withColumn("ord", col("ord").cast("short")), path)
    }
    assert(exNarrow.getMessage.contains("widening"), exNarrow.getMessage)
  }
}
