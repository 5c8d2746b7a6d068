package graft.write

import graft.table.FilesPartitionRecord

/** Metadata-table `files`-partition maintenance for the write path: each
  * data commit hands the action's [[MdtCommit]] ONE block holding the
  * commit's file additions — one `HoodieMetadataRecord` per touched data
  * partition (type=2 filesystemMetadata, fileName → size) plus an
  * `__all_partitions__` update when new partitions appear. The handle
  * completes the MDT deltacommit once, at the DATA commit's timestamp and
  * before the data commit.
  *
  * Scale shape: pure driver-side metadata — the records are one per
  * touched PARTITION (not per file, not per row), the appended log block
  * is a few KiB, and no existing MDT bytes are read beyond the files
  * group's slice plan plus, when new partitions appear, one merged read
  * to learn the current partition list. The data plane is untouched.
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
    import org.apache.avro.generic.{GenericData, GenericRecord}
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
    MdtCommit.encode(rec)
  }

  /** MDT partition-path rendering: non-partitioned data stores under
    * `.` (records.rs NON_PARTITIONED_NAME — the reader normalizes back).
    */
  private def mdtKey(partition: String): String =
    if (partition.isEmpty) "." else partition

  /** Append `files` ((partition, fileName, bytes) per new base file) to
    * the MDT's files partition through `mdt`.
    */
  def appendFiles(mdt: MdtCommit, files: Seq[(String, String, Long)]): Unit = {
    if (files.isEmpty) return
    // new partitions (vs the merged current list) extend __all_partitions__
    val knownPartitions = mdt.filesRecords.get(FilesPartitionRecord.AllPartitionsKey)
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
    mdt.append(FilesPartitionRecord.PartitionName, mdtAvroSchema, records)
  }

  /** Tombstone cleaned files ((partition, fileName)) out of the files
    * partition — the cleaner's half of the contract: a files listing that
    * kept serving deleted paths would feed dead files into every scan.
    */
  def tombstoneFiles(mdt: MdtCommit, files: Seq[(String, String)]): Unit = {
    if (files.isEmpty) return
    val records = files.groupBy(f => mdtKey(f._1)).toSeq.map { case (p, fsz) =>
      p -> recordBytes(p, FilesPartitionRecord.TypeFiles,
        fsz.map(_._2 -> 0L).sortBy(_._1), deleted = true)
    }.sortBy(_._1)
    mdt.append(FilesPartitionRecord.PartitionName, mdtAvroSchema, records)
  }
}
