package graft.write

import graft.SparkTestBase
import graft.table.{Fixtures, HudiTable}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** ComplexKeyGenerator rendering on write: multi-field record keys render
  * `f1:v1,f2:v2` (with KeyGenUtils' `__null__`/`__empty__` placeholders),
  * multi-field partition paths render one segment per field (hive-style
  * `f=v` when configured), and a connector-written complex-key table is
  * layout-compatible with the reference's golden fixture convention
  * (crates/test/src/lib.rs:257 V6ComplexkeygenHivestyle — asserted both
  * by string shape and by UPSERTING the real golden fixture).
  */
class HudiComplexKeyWriterSpec extends SparkTestBase {

  private def fresh(name: String): String = {
    val p = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    FileSystem.get(spark.sessionState.newHadoopConf()).delete(p, true)
    p.toString
  }

  private def sample() = spark.createDataFrame(Seq(
    (1, "Alice", true, 10, 300, 5L),
    (2, "Bob", false, 20, 100, 6L),
    (3, "Carol", true, 10, 300, 7L),
    (4, "Diana", true, 30, 100, 8L)))
    .toDF("id", "name", "isActive", "byteField", "shortField", "longField")

  test("two-field key + two-level hive partition matches the reference convention") {
    val path = fresh("writer_complex")
    sample().write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "id,name")
      .option("hoodie.datasource.write.partitionpath.field", "byteField,shortField")
      .option("hoodie.datasource.write.precombine.field", "longField")
      .option("hoodie.datasource.write.hive_style_partitioning", "true")
      .mode(SaveMode.Append).save(path)
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.count() == 4)
    val r = back.filter(col("id") === 1).head
    assert(r.getAs[String]("_hoodie_record_key") == "id:1,name:Alice")
    assert(r.getAs[String]("_hoodie_partition_path") == "byteField=10/shortField=300")
    val props = new String(graft.util.ReadFully(
      FileSystem.get(spark.sessionState.newHadoopConf()),
      new Path(path, ".hoodie/hoodie.properties")), "UTF-8")
    assert(props.contains("hoodie.table.recordkey.fields=id,name"), props)
    assert(props.contains("hoodie.table.partition.fields=byteField,shortField"), props)
    assert(props.contains("keygenerator.class=org.apache.hudi.keygen.ComplexKeyGenerator"), props)
    assert(props.contains("hive_style_partitioning=true"), props)
    // the physical dir layout is hive-style nested
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(path, "byteField=10/shortField=300")))
    // partition pruning works over the written layout
    assert(back.filter(col("byteField") === 20).count() == 1)

    // upsert by the SAME composite key must match, not duplicate
    sample().filter(col("id") === 1).withColumn("isActive", lit(false))
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "id,name")
      .option("hoodie.datasource.write.precombine.field", "longField")
      .mode(SaveMode.Append).save(path)
    val after = spark.read.format("hudi-graft").load(path)
    assert(after.count() == 4, "composite-key upsert must not duplicate")
    assert(!after.filter(col("id") === 1).head.getAs[Boolean]("isActive"))
  }

  test("non-hive multi-level partitions render bare segment values") {
    val path = fresh("writer_complex_nonhive")
    sample().write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "id,name")
      .option("hoodie.datasource.write.partitionpath.field", "byteField,shortField")
      .option("hoodie.datasource.write.precombine.field", "longField")
      .mode(SaveMode.Append).save(path)
    val back = spark.read.format("hudi-graft").load(path)
    assert(back.filter(col("id") === 1).head
      .getAs[String]("_hoodie_partition_path") == "10/300")
    assert(FileSystem.get(spark.sessionState.newHadoopConf())
      .exists(new Path(path, "10/300")))
  }

  test("null/empty key parts and partition values render the upstream placeholders") {
    val path = fresh("writer_complex_nulls")
    val df = spark.createDataFrame(Seq(
      (java.lang.Integer.valueOf(1), "Alice", "g1", 1L),
      (java.lang.Integer.valueOf(2), "", "g1", 2L),
      (null.asInstanceOf[java.lang.Integer], "Carol", null.asInstanceOf[String], 3L)))
      .toDF("id", "name", "grp", "ord")
    df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "id,name")
      .option("hoodie.datasource.write.partitionpath.field", "grp")
      .option("hoodie.datasource.write.precombine.field", "ord")
      .mode(SaveMode.Append).save(path)
    val back = spark.read.format("hudi-graft").load(path)
      .select("_hoodie_record_key", "_hoodie_partition_path").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back.contains("id:2,name:__empty__"), back.toString)
    assert(back.get("id:__null__,name:Carol").contains("__HIVE_DEFAULT_PARTITION__"),
      back.toString)
  }

  test("UPSERT into the reference's golden v6_complexkeygen_hivestyle fixture") {
    val src = Fixtures.table("sample_table/cow/v6_complexkeygen_hivestyle.zip",
      "v6_complexkeygen_hivestyle", "writerspec_complexkeygen")
    assume(src.isDefined, "golden fixture unavailable")
    // work on a private copy — the write mutates the table
    val path = fresh("writer_complex_golden")
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(src.get), fs, new Path(path),
      false, spark.sessionState.newHadoopConf())

    val before = spark.read.format("hudi-graft").load(path)
    val dataCols = before.columns.filterNot(graft.core.MetaField.all.contains)
    val upd = before.filter(col("id") === 1)
      .select(dataCols.map(col).toIndexedSeq: _*)
      .withColumn("intField", lit(99999))
    upd.write.format("hudi-graft").mode(SaveMode.Append).save(path)

    val after = spark.read.format("hudi-graft").load(path)
    assert(after.count() == before.count(), "golden upsert must not duplicate")
    val r = after.filter(col("id") === 1).head
    assert(r.getAs[Int]("intField") == 99999)
    assert(r.getAs[String]("_hoodie_record_key") == "id:1,name:Alice",
      "rendering must match the fixture's stored keys")
    assert(r.getAs[String]("_hoodie_partition_path").startsWith("byteField="),
      r.getAs[String]("_hoodie_partition_path"))
    // untouched rows intact, incl. their complex-typed columns
    assert(after.filter(col("id") =!= 1 && col("intField") === 99999).count() == 0)
    assert(after.filter(col("id") === 2).head.getAs[String]("name") == "Bob")
  }

  test("TimestampBased and custom key generators refuse") {
    val src = Fixtures.table("sample_table/cow/v6_timebasedkeygen_nonhivestyle.zip",
      "v6_timebasedkeygen_nonhivestyle", "writerspec_timebasedkeygen")
    assume(src.isDefined, "golden fixture unavailable")
    val before = spark.read.format("hudi-graft").load(src.get)
    val dataCols = before.columns.filterNot(graft.core.MetaField.all.contains)
    val ex = intercept[UnsupportedOperationException] {
      before.limit(1).select(dataCols.map(col).toIndexedSeq: _*)
        .write.format("hudi-graft").mode(SaveMode.Append).save(src.get)
    }
    assert(ex.getMessage.contains("key generator"), ex.getMessage)
  }
}
