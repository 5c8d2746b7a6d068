package graft.write

import graft.SparkTestBase
import graft.sources.GraftCatalog
import graft.table.HudiTable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

/** SQL DML through GraftCatalog: `CREATE TABLE ... USING hudi-graft`
  * writes the empty table's metadata (declared schema in
  * hoodie.table.create.schema), `INSERT INTO` / `INSERT OVERWRITE`
  * commit through the same HudiWriter as the DataFrame API, and the
  * results read back through every SQL surface.
  */
class HudiSqlDmlSpec extends SparkTestBase {

  private def fresh(name: String): String = {
    val p = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    FileSystem.get(spark.sessionState.newHadoopConf()).delete(p, true)
    p.toString
  }

  private def cat(): Unit =
    spark.conf.set("spark.sql.catalog.hudi_graft", classOf[GraftCatalog].getName)

  test("CREATE TABLE + INSERT INTO + INSERT OVERWRITE end-to-end") {
    cat()
    val path = fresh("sql_dml_orders")
    spark.sql(
      s"""CREATE TABLE hudi_graft.`$path` (
         |  id BIGINT, name STRING, grp STRING, ord BIGINT)
         |USING `hudi-graft`
         |PARTITIONED BY (grp)
         |TBLPROPERTIES ('primaryKey' = 'id', 'preCombineField' = 'ord')""".stripMargin)
    // the empty table is immediately queryable: declared data schema
    // behind the standard meta prefix
    val empty = spark.sql(s"SELECT * FROM hudi_graft.`$path`")
    assert(empty.count() == 0)
    assert(empty.columns.takeRight(4).toSeq == Seq("id", "name", "grp", "ord"))
    assert(empty.columns.head == "_hoodie_commit_time")
    val props = new String(graft.util.ReadFully(
      FileSystem.get(spark.sessionState.newHadoopConf()),
      new Path(path, ".hoodie/hoodie.properties")), "UTF-8")
    assert(props.contains("hoodie.table.recordkey.fields=id"), props)
    assert(props.contains("hoodie.table.partition.fields=grp"), props)
    assert(props.contains("hoodie.table.precombine.field=ord"), props)
    assert(props.contains("hoodie.table.create.schema="), props)

    // inserts name their columns (the table schema carries the meta
    // prefix; the writer recomputes those)
    spark.sql(
      s"""INSERT INTO hudi_graft.`$path` (id, name, grp, ord)
         |VALUES (1, 'Alice', 'a', 10), (2, 'Bob', 'b', 20), (3, 'Carol', 'a', 30)""".stripMargin)
    val afterInsert = spark.sql(s"SELECT * FROM hudi_graft.`$path`")
    assert(afterInsert.count() == 3)
    // meta columns were recomputed by the writer
    assert(spark.sql(s"SELECT _hoodie_record_key FROM hudi_graft.`$path` WHERE id = 1")
      .head.getString(0) == "1")

    // subsequent INSERTs: BY NAME (the table schema is meta-prefixed now)
    spark.sql(
      s"""INSERT INTO hudi_graft.`$path` BY NAME
         |SELECT 2 AS id, 'Bobby' AS name, 'b' AS grp, 99 AS ord""".stripMargin)
    val afterUpsert = spark.sql(s"SELECT * FROM hudi_graft.`$path` ORDER BY id")
    assert(afterUpsert.count() == 3, "INSERT of an existing key upserts (no duplicate)")
    assert(afterUpsert.filter(col("id") === 2).head.getAs[String]("name") == "Bobby")

    // INSERT OVERWRITE = replacecommit
    spark.sql(
      s"""INSERT OVERWRITE hudi_graft.`$path` BY NAME
         |SELECT 7 AS id, 'Grace' AS name, 'c' AS grp, 1 AS ord""".stripMargin)
    val afterOw = spark.sql(s"SELECT id, name FROM hudi_graft.`$path`").collect()
    assert(afterOw.map(r => (r.getLong(0), r.getString(1))).toSet == Set((7L, "Grace")))
    val t = HudiTable(spark, path)
    assert(t.timeline.completedInstants.map(_.action).contains("replacecommit"))

    // time travel still works over SQL-written commits
    val ts = t.timeline.completedInstants.map(_.timestamp).distinct.sorted
    val asOf = spark.sql(
      s"SELECT id FROM hudi_graft.`$path` FOR VERSION AS OF '${ts(1)}'").collect()
    assert(asOf.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("CREATE TABLE refusals: missing key, existing table, non-identity transform") {
    cat()
    val path = fresh("sql_dml_refuse")
    intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE hudi_graft.`$path` (id BIGINT, name STRING)
           |USING `hudi-graft`""".stripMargin)
    }
    spark.sql(
      s"""CREATE TABLE hudi_graft.`$path` (id BIGINT, name STRING)
         |USING `hudi-graft` TBLPROPERTIES ('primaryKey' = 'id')""".stripMargin)
    intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE hudi_graft.`$path` (id BIGINT)
           |USING `hudi-graft` TBLPROPERTIES ('primaryKey' = 'id')""".stripMargin)
    }
  }

  test("SQL INSERT INTO an existing DataFrame-written table") {
    cat()
    val path = fresh("sql_dml_existing")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    orders.limit(100).write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .mode("append").save(path)
    val n = spark.read.format("hudi-graft").load(path).count()
    orders.limit(100).withColumn("o_orderstatus", lit("Z"))
      .createOrReplaceTempView("upd_src")
    spark.sql(s"INSERT INTO hudi_graft.`$path` BY NAME SELECT * FROM upd_src")
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() >= n, "upsert keeps at least the original keys")
    assert(back.filter(col("o_orderstatus") === "Z").count() > 0)
  }
}
