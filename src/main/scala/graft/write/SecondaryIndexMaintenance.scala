package graft.write

import graft.table.SecondaryIndex
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

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
  * through the driver), named by the action's [[MdtCommit]], which
  * completes the MDT deltacommit once.
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

  /** Append this commit's deltas for every index of `indexes`
    * ((partition, column), from [[resolveWritable]]) through `mdt`:
    * old values come from the PRE-COMMIT snapshot (the data commit hasn't
    * completed yet) joined with the incoming batch `keyed` (`__key` plus
    * the data columns) of `operation` — changed values tombstone the old
    * entry and add the new one; a missing entry would lose rows, a stale
    * extra one only costs pruning.
    */
  def append(
      mdt: MdtCommit,
      indexes: Seq[(String, String)],
      keyed: DataFrame,
      operation: String,
      conf: org.apache.spark.broadcast.Broadcast[graft.util.SerializableConf]): Unit = {
    val pre = keyed.sparkSession.read.format("hudi-graft").load(mdt.dataTableBase)
    // canonical key rendering: strings verbatim; integrals via the
    // long widening (decimal digits — the family-free rendering
    // SecondaryIndex.renderLiteral probes with)
    def rendered(df: DataFrame, column: String): org.apache.spark.sql.Column =
      df.schema(column).dataType match {
        case StringType => col(column)
        case _ => col(column).cast("long").cast(StringType)
      }
    // insert/bulk_insert never REMOVE rows: a duplicate-key insert
    // leaves the old row live, so tombstoning its old value entry
    // would index-prune a live row away — inserts are ADD-ONLY
    // (a stale extra entry only costs pruning)
    val addOnly = operation == "insert" || operation == "bulk_insert"
    // ONE pre-commit projection of every indexed column, bounded to
    // the batch keys and persisted across the per-index appends
    // (N indexes must not cost N snapshot scans)
    val idxCols = indexes.map(_._2).distinct
    val olds0 =
      if (addOnly) None
      else Some(pre.select(col(graft.core.MetaField.RecordKey).as("__key") +:
        idxCols.map(c => rendered(pre, c).as(s"__old_$c")): _*)
        .join(keyed.select("__key").distinct(), Seq("__key"), "left_semi")
        .persist())
    try {
      for ((idxPart, column) <- indexes) {
        val news =
          if (operation == "delete")
            keyed.select("__key").distinct()
              .withColumn("__new", lit(null).cast(StringType))
          else keyed.select(col("__key"), rendered(keyed, column).as("__new"))
        val changes = olds0 match {
          case None => news.withColumn("__old", lit(null).cast(StringType))
          case Some(o) => news.join(
            o.select(col("__key"), col(s"__old_$column").as("__old")),
            Seq("__key"), "full_outer")
        }
        appendIndex(mdt, idxPart, changes, conf)
      }
    } finally olds0.foreach(df => scala.util.Try(df.unpersist()))
  }

  /** Append one index's deltas for `idxPartition` through `mdt`.
    * `changes` columns: __key (record key), __old (pre-commit indexed
    * value, null = key did not exist), __new (post-commit value, null =
    * key deleted).
    */
  private def appendIndex(
      mdt: MdtCommit,
      idxPartition: String,
      changes: DataFrame,
      conf: org.apache.spark.broadcast.Broadcast[graft.util.SerializableConf]): Unit = {
    val schema = mdt.baseSchema(idxPartition)
    if (schema.getField("SecondaryIndexMetadata") == null)
      throw new UnsupportedOperationException(
        s"$idxPartition schema lacks SecondaryIndexMetadata — not maintainable")
    val log = mdt.log(idxPartition, mdt.slices(idxPartition).head, schema)

    // one executor task sorts and writes the single HFile log block —
    // the change set is batch-key-scale, never table-scale
    val delta = changes.filter(!(col("__old") <=> col("__new")))
    val written = delta
      .select(col("__key"), col("__old"), col("__new"))
      .repartition(1).rdd.mapPartitions { it =>
        val schema = new org.apache.avro.Schema.Parser().parse(log.schemaJson)
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
          log.write(conf.value.value, entries.sortBy(_._1).toIndexedSeq)
          Iterator.single(log.path)
        }
      }.count()
    mdt.wrote(written.toInt)
  }

  /** A LIVE entry's value: HoodieMetadataRecord(type=7,
    * SecondaryIndexMetadata{isDeleted:false}) under the index's own
    * schema. (Tombstones are EMPTY values — the overlay form the reader
    * drops mappings on.)
    */
  private def liveBytes(schema: org.apache.avro.Schema, key: String): Array[Byte] = {
    import org.apache.avro.generic.GenericData
    val rec = new GenericData.Record(schema)
    rec.put("key", key)
    rec.put("type", 7)
    val simSchema = schema.getField("SecondaryIndexMetadata").schema().getTypes.get(1)
    val sim = new GenericData.Record(simSchema)
    sim.put("isDeleted", false)
    rec.put("SecondaryIndexMetadata", sim)
    MdtCommit.encode(rec)
  }
}
