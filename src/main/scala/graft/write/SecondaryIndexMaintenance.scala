package graft.write

import graft.table.{MetadataTable, SecondaryIndex}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata-table `secondary_index_*` maintenance for the write path —
  * scoped to IDENTITY single-column indexes over STRING columns, where
  * the stored key rendering is the value itself. Numeric/date/decimal
  * secondary keys render per WRITER FAMILY (the whole sampled-witness
  * classification the read side runs, SecondaryIndex.scala:115-430);
  * appending a second family's rendering would poison those samples, so
  * non-string indexes keep refusing the write loudly.
  *
  * Per commit, per index: rows whose indexed value CHANGED tombstone
  * their old `escape(old)$escape(key)` entry (empty value — the
  * overlay's tombstone form) and add a live `escape(new)$escape(key)`
  * entry; fresh keys add, deletes tombstone. Safety shape: a STALE
  * extra entry only costs pruning (the row filter stays authoritative —
  * secondary predicates push Inexact), but a MISSING entry would lose
  * rows, so entries are derived from the pre-commit snapshot joined
  * with the incoming batch — never guessed.
  *
  * Scale shape: the change set is O(batch keys); entries sort and write
  * as one HFile log block from ONE executor task (nothing row-scale
  * through the driver), then the driver completes the MDT deltacommit
  * at the data instant.
  */
object SecondaryIndexMaintenance {

  /** Resolve the advertised secondary partitions to (partition, column)
    * — throws UnsupportedOperationException on anything this maintainer
    * cannot keep correct (callers surface the refusal BEFORE any bytes
    * land).
    */
  def resolveWritable(
      dataTableBase: String,
      hadoopConf: Configuration,
      tableSchema: org.apache.spark.sql.types.StructType,
      parts: Seq[String]): Seq[(String, String)] = {
    val defs = SecondaryIndex.indexDefs(dataTableBase, hadoopConf)
    parts.sorted.map { p =>
      val d = defs.getOrElse(p, throw new UnsupportedOperationException(
        s"hudi-graft: secondary index partition $p has no index.json definition — " +
          "its key rendering is unknowable; the table is not writable"))
      if (d.indexType != "secondary_index" || d.sourceFields.size != 1 ||
          !(d.indexFunction.isEmpty || d.indexFunction == "identity"))
        throw new UnsupportedOperationException(
          s"hudi-graft: $p is not an identity single-column secondary index " +
            s"(type=${d.indexType}, fields=${d.sourceFields.mkString(",")}, " +
            s"function=${d.indexFunction}) — this writer cannot maintain it")
      val c = d.sourceFields.head
      val dt = tableSchema.fields.find(_.name == c).map(_.dataType).getOrElse(
        throw new UnsupportedOperationException(
          s"hudi-graft: $p indexes unknown column $c"))
      // strings render identically everywhere; integrals too (avro
      // toString = decimal digits, no family split — the same exactness
      // argument SecondaryIndex.renderLiteral documents). Date/decimal/
      // double/float/timestamp renderings ARE writer-family-specific
      // (the read side's sampled-witness classifiers exist for exactly
      // that reason), and appending a second family would poison those
      // samples — refuse
      import org.apache.spark.sql.types._
      val ok = dt == StringType || dt == LongType || dt == IntegerType ||
        dt == ShortType || dt == ByteType
      if (!ok)
        throw new UnsupportedOperationException(
          s"hudi-graft: $p indexes non-string column $c ($dt) — date/decimal/double/" +
            "float/timestamp secondary key renderings are writer-family-specific and " +
            "not reproduced by this writer; the table is not writable")
      (p, c)
    }
  }

  /** Append this commit's index deltas for `idxPartition`.
    * `changes` columns: __key (record key), __old (pre-commit indexed
    * value, null = key did not exist), __new (post-commit value, null =
    * key deleted).
    */
  def append(
      spark: SparkSession,
      dataTableBase: String,
      instant: String,
      idxPartition: String,
      changes: DataFrame): Unit = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val (_, slices) = MetadataTable.openPartition(dataTableBase, idxPartition, hadoopConf)
    val slice = slices.headOption.getOrElse(throw new IllegalStateException(
      s"$idxPartition has no file slice"))
    val baseFile = slice.baseFile.getOrElse(throw new IllegalStateException(
      s"$idxPartition slice has no base HFile (log-only index groups are not appendable)"))
    val fs = new Path(baseFile.path).getFileSystem(hadoopConf)
    val schemaJson = new graft.hfile.HFileReader(
      graft.util.ReadFully(fs, new Path(baseFile.path)))
      .avroSchemaJson.getOrElse(throw new IllegalStateException(
        s"$idxPartition base HFile carries no avro schema"))
    val probe = new org.apache.avro.Schema.Parser().parse(schemaJson)
    if (probe.getField("SecondaryIndexMetadata") == null)
      throw new UnsupportedOperationException(
        s"$idxPartition schema lacks SecondaryIndexMetadata — not maintainable")

    val mdtBase = new Path(new Path(dataTableBase, ".hoodie"), "metadata")
    val mdtConfig = graft.core.HoodieConfig.load(mdtBase.toString, hadoopConf)
    val nameTs = if (mdtConfig.tableVersion >= 8) instant else slice.commitTimestamp
    val version = slice.logFiles.map(_.version).maxOption.getOrElse(0) + 1
    val logName = s".${slice.fileId}_$nameTs.log.${version}_0-0-0"
    val dirStr = new Path(mdtBase, idxPartition).toString
    val conf = new graft.util.SerializableConf(hadoopConf)

    // one executor task sorts and writes the single HFile log block —
    // the change set is batch-key-scale, never table-scale
    val delta = changes.filter(!(col("__old") <=> col("__new")))
    val written = delta
      .select(col("__key"), col("__old"), col("__new"))
      .repartition(1).rdd.mapPartitions { it =>
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
        for (r <- it) {
          val key = r.getString(0)
          if (!r.isNullAt(1))
            entries += ((SecondaryIndex.escape(r.getString(1)) + "$" +
              SecondaryIndex.escape(key), Array.emptyByteArray))
          if (!r.isNullAt(2)) {
            val full = SecondaryIndex.escape(r.getString(2)) + "$" +
              SecondaryIndex.escape(key)
            entries += ((full, liveBytes(schema, full)))
          }
        }
        if (entries.isEmpty) Iterator.empty
        else {
          val sorted = entries.sortBy(_._1).toIndexedSeq
          val hfileBytes = graft.hfile.HFileWriter.write(sorted,
            Map("schema" -> schemaJson.getBytes("UTF-8")), recordsPerBlock = 64)
          val out = graft.io.Storage(conf.value)
            .create(new Path(dirStr, logName), overwrite = false)
          try graft.log.LogFileWriter.hfileDataBlock(out, instant, schema, hfileBytes)
          finally out.close()
          Iterator.single(logName)
        }
      }.collect()
    if (written.nonEmpty)
      MdtMaintenance.completeDeltacommit(hadoopConf, mdtBase, mdtConfig, instant)
  }

  /** A LIVE entry's value: HoodieMetadataRecord(type=7,
    * SecondaryIndexMetadata{isDeleted:false}) under the index's own
    * schema. (Tombstones are EMPTY values — the overlay form the reader
    * drops mappings on.)
    */
  private def liveBytes(schema: org.apache.avro.Schema, key: String): Array[Byte] = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val rec = new GenericData.Record(schema)
    rec.put("key", key)
    rec.put("type", 7)
    val simSchema = schema.getField("SecondaryIndexMetadata").schema().getTypes.get(1)
    val sim = new GenericData.Record(simSchema)
    sim.put("isDeleted", false)
    rec.put("SecondaryIndexMetadata", sim)
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }
}
