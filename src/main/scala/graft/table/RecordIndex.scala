package graft.table

import graft.core.HoodieConfig
import graft.hfile.HFileReader
import graft.log.{InstantRange, LogFileParser, LogFormat}
import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import scala.collection.mutable

/** A decoded `record_index`-partition entry: record key → the file group
  * holding the record (reference records.rs:118 declares RecordIndex = 5
  * but never decodes it — this is a beyond-reference read surface; the
  * record model is Apache Hudi's public HoodieMetadata.avsc
  * `HoodieRecordIndexInfo`).
  */
final case class RecordIndexEntry(
    key: String,
    partitionPath: String,
    fileId: String,
    instantTime: Long
)

/** A [[RecordIndex.lookup]] result: the entries found plus `asOf`, the
  * MDT commit the index was read at. Locations are the LATEST known ones
  * — a caller planning reads as of an earlier time must check that no
  * relocation (replacecommit) or delete happened after its as-of point
  * and before `asOf`, or fall back to a scan plan (see
  * [[AggMaintenance.maintainCountSumIndexed]] for the full gate).
  */
final case class RecordIndexLookup(
    asOf: String,
    entries: Map[String, RecordIndexEntry]
)

/** Point lookups against the metadata table's `record_index` partition.
  *
  * The index maps every record key to its (partition, fileId) location,
  * so a reader that needs the pre-images of a bounded key set (IVM
  * maintenance, point queries) can plan ONLY the file groups those keys
  * live in instead of scanning the whole table — the 100 TB enabler for
  * [[AggMaintenance]]: the pre-image fetch becomes
  * O(batch keys × log(index)) driver-side planning plus a scan of just
  * the touched file groups.
  *
  * Lookups use [[HFileReader.lookup]] (floor-block binary search per
  * key) against each index file group's base HFile, then overlay any
  * HFile log blocks in commit order (newer wins; an empty value is a
  * tombstone). Keys hash across index file groups near-disjointly, so
  * probing every group per key stays O(groups) block reads worst-case.
  */
object RecordIndex {

  val PartitionName = "record_index"

  /** The data table advertises the partition via
    * `hoodie.table.metadata.partitions` (same config surface the
    * reference's get_metadata_table_partitions reads, table/mod.rs:351).
    */
  def isAvailable(config: HoodieConfig): Boolean =
    config.metadataPartitions.contains(PartitionName)

  /** Hudi's record-key → MDT file-group mapping (the public
    * HoodieTableMetadataUtil.mapRecordKeyToFileGroupIndex: a
    * 31-polynomial string hash — java String.hashCode — twice-abs'd, mod
    * the partition's file-group count). Validated against the reference's
    * real v8 trips bytes: every live key decodes from exactly its mapped
    * group (`RecordIndexSpec`). This is what lets a lookup probe ONE
    * index file group per key and a distributed lookup shuffle keys so
    * each index group is read once cluster-wide.
    */
  def fileGroupIndex(key: String, numFileGroups: Int): Int = {
    var h = 0
    var i = 0
    while (i < key.length) { h = 31 * h + key.charAt(i); i += 1 }
    math.abs(math.abs(h) % numFileGroups)
  }

  /** Parse the group ordinal from an MDT index file id
    * (`record-index-%04d-%d`); None on any other shape.
    */
  def groupIndexOf(fileId: String): Option[Int] = {
    val m = GroupIdPattern.matcher(fileId)
    if (m.matches()) Some(m.group(1).toInt) else None
  }
  private val GroupIdPattern = java.util.regex.Pattern.compile(".*-(\\d{4})-\\d+")

  /** The serializable probe unit: one index slice's file PATHS. */
  final case class SliceFiles(base: Option[String], logs: Seq[String])

  /** slice → group ordinal mapping when it is PROVABLY aligned with
    * [[fileGroupIndex]]: every slice's file id parses and the group
    * ordinals are exactly 0..n-1 with n = slice count. Any gap (an
    * unmaterialized group would shrink the modulus and silently misroute
    * keys) returns None and callers probe every slice.
    */
  private def alignedGroups(slices: Vector[graft.fs.FileSlice]): Option[Map[Int, SliceFiles]] = {
    val parsed = slices.flatMap(sl => groupIndexOf(sl.fileId).map(g =>
      g -> SliceFiles(sl.baseFile.map(_.path), sl.logFiles.sortBy(_.orderingKey).map(_.path))))
    if (parsed.size == slices.size &&
        parsed.map(_._1).sorted == (0 until slices.size))
      Some(parsed.toMap)
    else None
  }

  /** Probe ONE index slice for `keys` — the per-slice unit shared by
    * the driver-side [[lookup]] and the executor-side
    * [[probeDistributed]], delegating the base+log overlay walk to
    * [[MdtSliceProbe]]. Throws on structural problems (callers translate
    * to their fallback).
    */
  private[table] def probeSlice(
      files: SliceFiles,
      upTo: String,
      keys: Seq[String],
      conf: Configuration): Iterator[(String, Option[RecordIndexEntry])] =
    MdtSliceProbe.probe(files.base, files.logs, upTo, keys, conf) {
      (dr, k, v, del) => decode(k, v, del, dr)
    }

  /** Look up `keys` in the record index at `<dataTableBase>/.hoodie/
    * metadata/record_index`, read as of the MDT's latest completed
    * commit (returned as [[RecordIndexLookup.asOf]] so callers can gate
    * on index freshness). `entries` holds only the keys found;
    * tombstoned keys are absent. When the slice set provably aligns with
    * the key-hash mapping, each key probes only its mapped group (one
    * floor-block seek instead of one per group); otherwise every slice
    * is probed. Throws on structural problems — an advertised-but-
    * unreadable index (empty MDT timeline, missing slice, schema-less
    * HFile) must surface, never read as "no pre-images"; callers catch
    * and fall back to a scan-based plan.
    */
  def lookup(
      dataTableBase: String,
      keys: Seq[String],
      hadoopConf: Configuration,
      asOf: Option[String] = None
  ): RecordIndexLookup = {
    val (latest, slices) =
      MetadataTable.openPartition(dataTableBase, PartitionName, hadoopConf, asOf)
    if (keys.isEmpty) return RecordIndexLookup(latest, Map.empty)
    val out = mutable.Map.empty[String, Option[RecordIndexEntry]]
    alignedGroups(slices) match {
      case Some(byGroup) =>
        val n = byGroup.size
        for ((g, ks) <- keys.groupBy(fileGroupIndex(_, n)); kv <- probeSlice(byGroup(g), latest, ks, hadoopConf))
          out += kv
      case None =>
        for (slice <- slices) {
          if (slice.baseFile.isEmpty && slice.logFiles.isEmpty)
            throw new IllegalStateException(s"$PartitionName slice has no files: $slice")
          val files = SliceFiles(slice.baseFile.map(_.path),
            slice.logFiles.sortBy(_.orderingKey).map(_.path))
          for (kv <- probeSlice(files, latest, keys, hadoopConf)) out += kv
        }
    }
    RecordIndexLookup(latest, out.collect { case (k, Some(e)) => k -> e }.toMap)
  }

  /** An opened `record_index` partition whose slices provably align with
    * [[fileGroupIndex]]: the MDT commit it was read at, its slices (the
    * write side names its log appends from them) and each group
    * ordinal's probe files. One open serves a whole commit — the
    * writer's probe and its index maintenance read the same slice set.
    */
  final case class Groups(asOf: String, slices: Vector[graft.fs.FileSlice],
      files: Map[Int, SliceFiles]) {
    def n: Int = files.size
  }

  /** The partition's groups in an opened MDT. Throws when the slice set
    * is not hash-aligned: a gap would shrink the modulus, so a probe
    * would miss keys and an append would misroute them.
    */
  private[graft] def groups(mdt: MetadataTable.Opened): Groups = {
    val slices = mdt.slices(PartitionName)
    val files = alignedGroups(slices).getOrElse(throw new IllegalStateException(
      s"$PartitionName slices are not hash-aligned (${slices.map(_.fileId)}); " +
        "a distributed lookup or append would misroute keys"))
    Groups(mdt.latest, slices, files)
  }

  /** Observability: number of distributed lookups planned (driver-side,
    * monotonic) — regime tests assert which path served a maintenance
    * run.
    */
  val distributedLookups = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Keys per probe batch: a group holding many millions of keys never
    * materializes as one set (each batch re-reads the group's HFiles —
    * the IO-for-memory trade the distributed path exists to make).
    */
  private val ProbeBatch = 256 * 1024

  /** The distributed probe: `rows` shuffle by their key's group
    * (`HashPartitioner(groups.n)` over [[fileGroupIndex]], so partition
    * `g` holds exactly group `g`'s rows), one task probes one index
    * group, and each group's HFiles are read ONCE cluster-wide — no
    * driver collect of the key set. Every row comes back with its entry
    * (None = absent or tombstoned), keyed by its group ordinal and still
    * partitioned by it, so a caller's later per-group pass over the
    * result needs no second shuffle.
    */
  def probeDistributed[T: scala.reflect.ClassTag](
      rows: org.apache.spark.rdd.RDD[T],
      groups: Groups,
      conf: org.apache.spark.broadcast.Broadcast[graft.util.SerializableConf])(
      key: T => String): org.apache.spark.rdd.RDD[(Int, (T, Option[RecordIndexEntry]))] = {
    distributedLookups.incrementAndGet()
    val (n, files, asOf) = (groups.n, groups.files, groups.asOf)
    rows.map(r => (fileGroupIndex(key(r), n), r))
      .partitionBy(new org.apache.spark.HashPartitioner(n))
      .mapPartitionsWithIndex({ (g, it) =>
        it.map(_._2).grouped(ProbeBatch).flatMap { batch =>
          val found = probeSlice(files(g), asOf, batch.map(key).distinct, conf.value.value)
            .collect { case (k, Some(e)) => k -> e }.toMap
          batch.iterator.map(r => (g, (r, found.get(key(r)))))
        }
      }, preservesPartitioning = true)
  }

  /** Distributed lookup for planning-oversized key sets (the 4M-key
    * driver cap this lifts lives in [[AggMaintenance
    * .maintainCountSumIndexed]]): [[probeDistributed]] over `keys`.
    * Requires a provably hash-aligned slice set; throws otherwise
    * (callers fall back, same contract as [[lookup]]). Returns the MDT
    * as-of commit and a Dataset of found entries.
    */
  def lookupDistributed(
      dataTableBase: String,
      keys: org.apache.spark.sql.Dataset[String],
      hadoopConf: Configuration
  ): (String, org.apache.spark.sql.Dataset[RecordIndexEntry]) = {
    val aligned = groups(MetadataTable.open(dataTableBase, hadoopConf))
    val spark = keys.sparkSession
    val conf = spark.sparkContext.broadcast(new graft.util.SerializableConf(hadoopConf))
    val entries = probeDistributed(keys.rdd, aligned, conf)(identity).flatMap(_._2._2)
    import spark.implicits._
    (aligned.asOf, spark.createDataset(entries))
  }

  /** Decode one HoodieMetadataRecord's `recordIndexMetadata` branch.
    * fileIdEncoding 0 reconstructs the id from the UUID high/low bits
    * plus `-fileIndex`; encoding 1 carries the raw string (Hudi's
    * HoodieRecordGlobalLocation encoding, public HoodieMetadata.avsc).
    */
  private def decode(
      key: String, value: Array[Byte], deleted: Boolean,
      reader: GenericDatumReader[GenericRecord]
  ): Option[RecordIndexEntry] = {
    if (deleted || value.isEmpty) return None
    val rec = reader.read(null, DecoderFactory.get().binaryDecoder(value, null))
    Option(rec.get("recordIndexMetadata")).collect { case ri: GenericRecord =>
      def str(f: String): String = Option(ri.get(f)).map(_.toString).getOrElse("")
      def lng(f: String): Long = ri.get(f) match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case _ => 0L
      }
      val encoding = lng("fileIdEncoding").toInt
      val fileId =
        if (encoding == 1) str("fileId")
        else {
          val uuid = new java.util.UUID(lng("fileIdHighBits"), lng("fileIdLowBits")).toString
          val idx = lng("fileIndex")
          if (idx < 0) uuid else s"$uuid-$idx"
        }
      val partition0 = str("partitionName")
      val partition = if (partition0 == FilesPartitionRecord.NonPartitionedName) "" else partition0
      RecordIndexEntry(key, partition, fileId, lng("instantTime"))
    }
  }
}
