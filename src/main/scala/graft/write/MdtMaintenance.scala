package graft.write

import graft.core.Timeline
import graft.table.{FilesPartitionRecord, MetadataTable}
import graft.io.Storage
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Metadata-table `files`-partition maintenance for the write path: each
  * data commit appends ONE deltacommit to the MDT (`.hoodie/metadata`, a
  * MOR table with HFILE payloads) holding the commit's file additions —
  * one `HoodieMetadataRecord` per touched data partition (type=2
  * filesystemMetadata, fileName → size) plus an `__all_partitions__`
  * update when new partitions appear. The MDT instant reuses the DATA
  * commit's timestamp (real Hudi's convention — it is what keeps the
  * index-planning gate `mdtAt >= dataAt` true), and the deltacommit
  * completes BEFORE the data commit so a reader that sees the data
  * instant always sees an MDT at least as new.
  *
  * Scale shape: pure driver-side metadata — the records are one per
  * touched PARTITION (not per file, not per row), the appended log block
  * is a few KiB, and no existing MDT bytes are read beyond the files
  * group's slice listing (one `openPartition` plan) plus, when new
  * partitions appear, one merged read to learn the current partition
  * list. The data plane is untouched.
  */
object MdtMaintenance {

  /** Public Apache Hudi HoodieMetadata.avsc subset: key, type,
    * filesystemMetadata (fileName → (size, isDeleted)). The fixture
    * builder and this writer share it — one encoding, readable by both
    * this repo's MDT reader and real Hudi.
    */
  val mdtAvroSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"HoodieMetadataRecord","fields":[
        |{"name":"key","type":"string"},
        |{"name":"type","type":"int"},
        |{"name":"filesystemMetadata","type":["null",{"type":"map","values":
        |  {"type":"record","name":"HoodieMetadataFileInfo","fields":[
        |    {"name":"size","type":"long"},{"name":"isDeleted","type":"boolean"}]}}]}
        |]}""".stripMargin.replaceAll("\n", ""))

  /** One serialized HoodieMetadataRecord (avro binary datum); `deleted`
    * entries are the tombstones the cleaner emits.
    */
  def recordBytes(key: String, recType: Int, files: Seq[(String, Long)],
      deleted: Boolean = false): Array[Byte] = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val infoSchema = mdtAvroSchema.getField("filesystemMetadata").schema()
      .getTypes.get(1).getValueType
    val rec = new GenericData.Record(mdtAvroSchema)
    rec.put("key", key)
    rec.put("type", recType)
    val m = new java.util.HashMap[String, GenericRecord]()
    for ((name, size) <- files) {
      val info = new GenericData.Record(infoSchema)
      info.put("size", size)
      info.put("isDeleted", deleted)
      m.put(name, info)
    }
    rec.put("filesystemMetadata", m)
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](mdtAvroSchema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** MDT partition-path rendering: non-partitioned data stores under
    * `.` (records.rs NON_PARTITIONED_NAME — the reader normalizes back).
    */
  private def mdtKey(partition: String): String =
    if (partition.isEmpty) "." else partition

  /** Append `files` ((partition, fileName, bytes) per new base file) to
    * the MDT's files partition as a deltacommit at `instant`.
    */
  def appendFiles(
      dataTableBase: String,
      hadoopConf: Configuration,
      instant: String,
      files: Seq[(String, String, Long)]): Unit = {
    if (files.isEmpty) return
    // new partitions (vs the merged current list) extend __all_partitions__
    val current = MetadataTable.filesPartitionRecords(dataTableBase, hadoopConf)
    val knownPartitions = current.get(FilesPartitionRecord.AllPartitionsKey)
      .map(_.files.keySet).getOrElse(Set.empty)
    val byPartition = files.groupBy(f => mdtKey(f._1))
    val newPartitions = (byPartition.keySet -- knownPartitions).toSeq.sorted

    val records = (byPartition.toSeq.map { case (p, fsz) =>
      p -> recordBytes(p, FilesPartitionRecord.TypeFiles,
        fsz.map(f => f._2 -> f._3).sortBy(_._1))
    } ++ (if (newPartitions.isEmpty) Nil
    else Seq(FilesPartitionRecord.AllPartitionsKey ->
      recordBytes(FilesPartitionRecord.AllPartitionsKey,
        FilesPartitionRecord.TypeAllPartitions, newPartitions.map(_ -> 0L)))))
      .sortBy(_._1)
    appendBlock(dataTableBase, hadoopConf, instant, records)
  }

  /** Tombstone cleaned files ((partition, fileName)) out of the files
    * partition — the cleaner's half of the contract: a files listing that
    * kept serving deleted paths would feed dead files into every scan.
    */
  def tombstoneFiles(
      dataTableBase: String,
      hadoopConf: Configuration,
      instant: String,
      files: Seq[(String, String)]): Unit = {
    if (files.isEmpty) return
    val records = files.groupBy(f => mdtKey(f._1)).toSeq.map { case (p, fsz) =>
      p -> recordBytes(p, FilesPartitionRecord.TypeFiles,
        fsz.map(_._2 -> 0L).sortBy(_._1), deleted = true)
    }.sortBy(_._1)
    appendBlock(dataTableBase, hadoopConf, instant, records)
  }

  /** Shared plumbing: one HFile log block onto the files group's current
    * slice plus the MDT's own deltacommit instant triple.
    */
  private def appendBlock(
      dataTableBase: String,
      hadoopConf: Configuration,
      instant: String,
      records: Seq[(String, Array[Byte])]): Unit =
    appendBlockTo(dataTableBase, hadoopConf, instant, records,
      FilesPartitionRecord.PartitionName, mdtAvroSchema)

  /** As above for an arbitrary single-slice MDT partition (files,
    * column_stats, ...) with its partition's record schema — the writer's
    * shared MDT-delta append.
    */
  private[write] def appendBlockTo(
      dataTableBase: String,
      hadoopConf: Configuration,
      instant: String,
      records: Seq[(String, Array[Byte])],
      partitionName: String,
      schema: org.apache.avro.Schema): Unit = {
    val mdtBase = new Path(new Path(dataTableBase, ".hoodie"), "metadata")

    // locate the partition's current slice (the log attaches to it)
    val (_, slices) = MetadataTable.openPartition(dataTableBase, partitionName, hadoopConf)
    val slice = slices.headOption.getOrElse(
      throw new IllegalStateException(s"MDT $partitionName partition has no file slice"))
    val mdtConfig = graft.core.HoodieConfig.load(mdtBase.toString, hadoopConf)

    val hfileBytes = graft.hfile.HFileWriter.write(
      records.toIndexedSeq,
      Map("schema" -> schema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)

    // v6-internal MDTs name logs after the slice's BASE instant; v8+
    // name them after the delta's own request instant
    val nameTs = if (mdtConfig.tableVersion >= 8) instant else slice.commitTimestamp
    val nextVersion = slice.logFiles.map(_.version).maxOption.getOrElse(0) + 1
    val partDir = new Path(mdtBase, partitionName)
    val logName = s".${slice.fileId}_$nameTs.log.${nextVersion}_0-0-0"
    val out = Storage(hadoopConf).create(new Path(partDir, logName), overwrite = false)
    try graft.log.LogFileWriter.hfileDataBlock(out, instant, schema, hfileBytes)
    finally out.close()

    completeDeltacommit(hadoopConf, mdtBase, mdtConfig, instant)
  }

  /** The MDT's own timeline: one deltacommit at the DATA instant, under
    * the MDT's layout. Idempotent — a commit that maintains BOTH the files
    * and record_index partitions completes the instant ONCE: a second
    * call must not mint a second v8 `{instant}_{completion}.deltacommit`.
    */
  private[write] def completeDeltacommit(
      hadoopConf: Configuration,
      mdtBase: Path,
      mdtConfig: graft.core.HoodieConfig,
      instant: String): Unit = {
    val timeline = new Timeline(mdtBase.toString, mdtConfig, hadoopConf)
    if (!timeline.completedInstants.exists(i => i.timestamp == instant && i.action == "deltacommit"))
      timeline.begin("deltacommit", instant)
        .complete("""{"partitionToWriteStats":{},"compacted":false}""")
  }
}
