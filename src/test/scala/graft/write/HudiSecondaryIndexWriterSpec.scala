package graft.write

import graft.SparkTestBase
import graft.table.{HudiTable, SecondaryIndex}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Writes against a STRING-typed identity secondary index: changed
  * values tombstone their old `value$key` entry and add the new one,
  * deletes unmap, probes stay exact over connector-written commits.
  * Non-string indexes (writer-family-specific key renderings) keep
  * refusing loudly.
  */
class HudiSecondaryIndexWriterSpec extends SparkTestBase {

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private val siSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"HoodieMetadataRecord","fields":[
      |{"name":"key","type":"string"},
      |{"name":"type","type":"int"},
      |{"name":"SecondaryIndexMetadata","type":["null",
      |  {"type":"record","name":"HoodieSecondaryIndexInfo","fields":[
      |    {"name":"isDeleted","type":"boolean"}]}],"default":null}
      |]}""".stripMargin.replaceAll("\n", ""))

  private def liveBytes(key: String): Array[Byte] = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val rec = new GenericData.Record(siSchema)
    rec.put("key", key)
    rec.put("type", 7)
    val si = new GenericData.Record(
      siSchema.getField("SecondaryIndexMetadata").schema().getTypes.get(1))
    si.put("isDeleted", false)
    rec.put("SecondaryIndexMetadata", si)
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](siSchema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** Writer-create a table over `orders` rows, then hand-seed an
    * identity secondary index over `column` (base HFile from the
    * current rows + index.json + the advertised partition).
    */
  private def buildIndexed(name: String, column: String): String = {
    val path = graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name")
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(new Path(path), true)
    orders().limit(300).write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.datasource.write.operation", "insert")
      .mode(SaveMode.Append).save(path)
    val c1 = HudiTable(spark, path).timeline.latestCommitTimestamp.get
    // seed the MDT secondary partition from the CURRENT rows (canonical
    // rendering: strings verbatim, integrals as decimal digits)
    val rows = spark.read.format("hudi-graft").load(path)
      .select(col("_hoodie_record_key"), col(column).cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val entries = rows.map { case (k, v) =>
      val full = SecondaryIndex.escape(v) + "$" + SecondaryIndex.escape(k)
      full -> liveBytes(full)
    }.sortBy(_._1).toIndexedSeq
    val mdt = new Path(path, ".hoodie/metadata")
    fs.mkdirs(new Path(mdt, ".hoodie"))
    def writeText(p: Path, s: String): Unit = {
      val o = fs.create(p, true); o.write(s.getBytes("UTF-8")); o.close()
    }
    writeText(new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=writer_sidx_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    writeText(new Path(mdt, s".hoodie/$c1.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    val idxDir = new Path(mdt, "secondary_index_status_idx")
    fs.mkdirs(idxDir)
    val bytes = graft.hfile.HFileWriter.write(entries,
      Map("schema" -> siSchema.toString.getBytes("UTF-8")), recordsPerBlock = 64)
    val o = fs.create(new Path(idxDir,
      s"secondary-index-0000-0_0-0-0_$c1.hfile"), true)
    o.write(bytes); o.close()
    writeText(new Path(path, ".hoodie/.index_defs/index.json"),
      s"""{"indexDefinitions":{"secondary_index_status_idx":{
         |"indexName":"secondary_index_status_idx","indexType":"secondary_index",
         |"indexFunction":"identity","sourceFields":["$column"],"indexOptions":{}}}}
         |""".stripMargin.replaceAll("\n", ""))
    // advertise the partition
    val props = new String(graft.util.ReadFully(fs,
      new Path(path, ".hoodie/hoodie.properties")), "UTF-8")
    writeText(new Path(path, ".hoodie/hoodie.properties"),
      props + "hoodie.table.metadata.partitions=secondary_index_status_idx\n")
    path
  }

  test("changed values re-map, deletes unmap, probes stay exact") {
    val path = buildIndexed("writer_sidx", "o_orderstatus")
    val conf = spark.sessionState.newHadoopConf()
    val idx = "secondary_index_status_idx"
    val keys7 = spark.read.format("hudi-graft").load(path)
      .filter(col("o_orderkey") % 7 === 0)
      .select("_hoodie_record_key").collect().map(_.getString(0)).toSet
    assert(keys7.nonEmpty)

    // upsert: %7 rows change status to a NEW value
    orders().limit(300).filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("Z9"))
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .mode(SaveMode.Append).save(path)

    val z9 = SecondaryIndex.lookup(path, idx, Seq("Z9"), conf)
    assert(z9.getOrElse("Z9", Set.empty) == keys7,
      s"Z9 must map exactly the upserted keys: ${z9.get("Z9").map(_.take(5))}")
    // the old values no longer map those keys
    for (v <- Seq("O", "F", "P")) {
      val live = SecondaryIndex.lookup(path, idx, Seq(v), conf).getOrElse(v, Set.empty)
      assert(live.intersect(keys7).isEmpty, s"$v still maps ${live.intersect(keys7).take(3)}")
    }
    // an indexed-column query returns exactly the remapped rows
    val got = spark.read.format("hudi-graft").load(path)
      .filter(col("o_orderstatus") === "Z9")
      .select("_hoodie_record_key").collect().map(_.getString(0)).toSet
    assert(got == keys7)

    // delete a few keys: their entries unmap
    val delKeys = keys7.take(3)
    orders().limit(300)
      .filter(col("o_orderkey").cast("string").isin(delKeys.toSeq: _*))
      .select("o_orderkey")
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.operation", "delete")
      .mode(SaveMode.Append).save(path)
    val afterDel = SecondaryIndex.lookup(path, idx, Seq("Z9"), conf)
      .getOrElse("Z9", Set.empty)
    assert(afterDel == keys7 -- delKeys, s"deleted keys must unmap: $afterDel")
  }

  test("INTEGRAL secondary indexes maintain with the family-free decimal rendering") {
    val path = buildIndexed("writer_sidx_long", "o_custkey")
    val conf = spark.sessionState.newHadoopConf()
    val idx = "secondary_index_status_idx"
    val keys5 = spark.read.format("hudi-graft").load(path)
      .filter(col("o_orderkey") % 5 === 0)
      .select("_hoodie_record_key").collect().map(_.getString(0)).toSet
    assert(keys5.nonEmpty)
    // derive the upsert input from the TABLE itself (limit() would
    // re-evaluate nondeterministically)
    val tbl = spark.read.format("hudi-graft").load(path)
      .select(orders().columns.map(col).toIndexedSeq: _*)
    tbl.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_custkey", lit(777777L))
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .mode(SaveMode.Append).save(path)
    val mapped = SecondaryIndex.lookup(path, idx, Seq("777777"), conf)
      .getOrElse("777777", Set.empty)
    assert(mapped == keys5, s"long rendering must map the upserted keys: ${mapped.take(3)}")
    val got = spark.read.format("hudi-graft").load(path)
      .filter(col("o_custkey") === 777777L)
      .select("_hoodie_record_key").collect().map(_.getString(0)).toSet
    assert(got == keys5)
  }

  test("non-string secondary indexes keep refusing") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    val ex = intercept[UnsupportedOperationException] {
      orders().limit(5).write.format("hudi-graft")
        .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
        .option("hoodie.datasource.write.precombine.field", "o_custkey")
        .mode(SaveMode.Append)
        .save(graft.fixtures.HudiFixtureBuilder.sidxPath(sfDir))
    }
    assert(ex.getMessage.contains("non-string"), ex.getMessage)
  }
}
