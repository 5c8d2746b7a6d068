package graft.write

import graft.table.{FilesPartitionRecord, RecordIndex}
import graft.util.SerializableConf
import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Metadata-table `record_index`-partition maintenance for the write
  * path: each commit that creates or removes record keys appends ONE
  * HFile log block per touched index file group — new keys as
  * `HoodieRecordIndexInfo` entries (fileIdEncoding=1, raw string fileId:
  * a public Hudi encoding this repo's [[RecordIndex]] reader decodes),
  * deleted keys as empty-value tombstones — through the action's
  * [[MdtCommit]], which completes the MDT deltacommit once, at the DATA
  * instant and before the data commit (the `mdtAt >= dataAt` freshness
  * gate every index consumer relies on).
  *
  * Scale shape: the volume is O(created + deleted KEYS) — row scale, so
  * nothing passes through the driver: key locations partition by Hudi's
  * key-hash group mapping ([[RecordIndex.fileGroupIndex]], the same
  * 31-poly hash reads probe by), one executor task writes one index
  * group's log block (records sorted — the HFile key invariant), and the
  * driver only names the logs. This is the last pass of every
  * upsert or delete on an indexed table, COW or MOR: its changes come
  * from the probe pass's cached partitions, already laid out by group,
  * so the blocks are written without a shuffle. Requires a provably
  * hash-aligned slice set ([[RecordIndex.groups]]), exactly like the
  * distributed probe — a gap would shrink the modulus and misroute every
  * subsequent lookup, so misalignment throws rather than corrupting the
  * index.
  */
object RecordIndexMaintenance {

  /** Public Apache Hudi HoodieMetadata.avsc subset carrying the
    * `recordIndexMetadata` branch — identical to the schema the fixture
    * builder embeds in base HFiles, so [[graft.table.MdtSliceProbe]]'s
    * first-HFile datum reader decodes both layers interchangeably.
    */
  val riAvroSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"HoodieMetadataRecord","fields":[
        |{"name":"key","type":"string"},
        |{"name":"type","type":"int"},
        |{"name":"filesystemMetadata","type":["null",{"type":"map","values":
        |  {"type":"record","name":"HoodieMetadataFileInfo","fields":[
        |    {"name":"size","type":"long"},{"name":"isDeleted","type":"boolean"}]}}]},
        |{"name":"recordIndexMetadata","type":["null",
        |  {"type":"record","name":"HoodieRecordIndexInfo","fields":[
        |    {"name":"partitionName","type":["null","string"],"default":null},
        |    {"name":"fileIdHighBits","type":["null","long"],"default":null},
        |    {"name":"fileIdLowBits","type":["null","long"],"default":null},
        |    {"name":"fileIndex","type":["null","int"],"default":null},
        |    {"name":"fileId","type":["null","string"],"default":null},
        |    {"name":"instantTime","type":["null","long"],"default":null},
        |    {"name":"fileIdEncoding","type":["null","int"],"default":null}]}]}
        |]}""".stripMargin.replaceAll("\n", ""))

  /** One serialized HoodieMetadataRecord naming `key`'s location. */
  def entryBytes(key: String, partition: String, fid: String, instantTime: Long): Array[Byte] = {
    import org.apache.avro.generic.GenericData
    val riSchema = riAvroSchema.getField("recordIndexMetadata").schema().getTypes.get(1)
    val rec = new GenericData.Record(riAvroSchema)
    rec.put("key", key)
    rec.put("type", 5)
    rec.put("filesystemMetadata", null)
    val ri = new GenericData.Record(riSchema)
    ri.put("partitionName",
      if (partition.isEmpty) FilesPartitionRecord.NonPartitionedName else partition)
    ri.put("instantTime", instantTime)
    ri.put("fileId", fid)
    ri.put("fileIdEncoding", 1)
    ri.put("fileIdHighBits", 0L)
    ri.put("fileIdLowBits", 0L)
    ri.put("fileIndex", -1)
    rec.put("recordIndexMetadata", ri)
    MdtCommit.encode(rec)
  }

  /** One record-index change, keyed by its key's group ordinal:
    * (key, partition, fileId) names the location of a key this commit
    * CREATED; (key, null, null) tombstones a key it removed.
    */
  type Change = (Int, (String, String, String))

  /** [[Change]]s naming the locations of an insert's created keys, a
    * (__key, __part, __fid) frame, for an index of `n` groups — the only
    * commits whose key locations are a DataFrame rather than the
    * upsert/delete probe's group-keyed partitions; not partitioned yet.
    */
  def changesOf(entries: DataFrame, n: Int): RDD[Change] =
    entries.select("__key", "__part", "__fid").rdd.map { r =>
      val key = r.getString(0)
      (RecordIndex.fileGroupIndex(key, n), (key, r.getString(1), r.getString(2)))
    }

  /** Append `changes` to the record index groups of `mdt`. The
    * changes shuffle by group ordinal through `HashPartitioner(n)` —
    * the identity mapping, so one task holds exactly one index group's
    * keys. A caller whose changes are already partitioned that way (the
    * upsert/delete probe's cached output) skips the shuffle: `partitionBy` with an
    * equal partitioner is a no-op.
    */
  def append(
      mdt: MdtCommit,
      changes: RDD[Change],
      timelineTimezone: String,
      conf: Broadcast[SerializableConf]): Unit = {
    val groups = mdt.recordIndex
    val logs = groups.slices.map { sl =>
      RecordIndex.groupIndexOf(sl.fileId).get ->
        mdt.log(RecordIndex.PartitionName, sl, riAvroSchema)
    }.toMap
    val tsMillis = graft.core.Timestamps.timelineToEpochMillis(mdt.instant, timelineTimezone)

    // executor-side: each task holds exactly one index group's keys,
    // sorts them (the HFile key invariant) and writes one log block
    val written = changes
      .partitionBy(new HashPartitioner(groups.n))
      .mapPartitionsWithIndex { (g, it) =>
        val recs = it.map { case (_, (key, part, fid)) =>
          if (fid == null) key -> Array.emptyByteArray
          else key -> entryBytes(key, part, fid, tsMillis)
        }.toVector.sortBy(_._1)
        if (recs.isEmpty) Iterator.empty
        else {
          logs(g).write(conf.value.value, recs)
          Iterator.single(g)
        }
      }.count()
    mdt.wrote(written.toInt)
  }
}
