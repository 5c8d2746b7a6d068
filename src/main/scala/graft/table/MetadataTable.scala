package graft.table

import graft.core.{HoodieConfig, Timeline}
import graft.fs.{FsView, PartitionFilter, PartitionPruner}
import graft.hfile.{HFileReader, HFileRecord}
import graft.log.{InstantRange, LogFileParser, LogFormat}
import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A decoded `files`-partition record (S11; reference:
  * crates/core/src/metadata/table/records.rs): the key is a partition path
  * (normalized — `.` → "" for non-partitioned) or `__all_partitions__`,
  * and `files` maps file name → (size, isDeleted).
  */
final case class FilesPartitionRecord(
    key: String,
    recordType: Int, // 1 = AllPartitions, 2 = Files (records.rs:100-127)
    files: Map[String, (Long, Boolean)]
) {
  def isAllPartitions: Boolean = recordType == FilesPartitionRecord.TypeAllPartitions
  def partitionNames: Vector[String] =
    if (isAllPartitions) files.keys.toVector.sorted else Vector.empty
  def activeFiles: Map[String, Long] =
    files.collect { case (n, (size, false)) => n -> size }
  def totalSize: Long = activeFiles.values.sum
}

object FilesPartitionRecord {
  val PartitionName = "files"
  val AllPartitionsKey = "__all_partitions__"
  val NonPartitionedName = "."
  val TypeAllPartitions = 1
  val TypeFiles = 2
}

/** Metadata-table reader: plans the MDT's `files` partition slice, reads
  * its HFile base file plus HFile log blocks, merges them with the
  * reference's tombstone-aware map-merge semantics (M7,
  * crates/core/src/metadata/merger.rs), and decodes
  * `HoodieMetadataRecord` payloads. All driver-side planning I/O.
  */
object MetadataTable {

  /** Enablement per metadata/table/mod.rs:80-108: v8+, not itself an MDT,
    * and (`hoodie.metadata.enable` or `files` among
    * `hoodie.table.metadata.partitions`).
    */
  def isEnabled(config: HoodieConfig, basePath: String): Boolean = {
    if (config.tableVersion < 8) return false
    if (basePath.replace('\\', '/').endsWith(".hoodie/metadata")) return false
    config.getOrElse("hoodie.metadata.enable", "false").toBoolean ||
      config.metadataPartitions.contains(FilesPartitionRecord.PartitionName)
  }

  /** One open of `<dataTableBase>/.hoodie/metadata`: one
    * `hoodie.properties` load, one timeline listing and one file-system
    * view, fixed at the MDT commit `latest`, from which any number of
    * partitions plan.
    */
  private[graft] final class Opened private[MetadataTable] (
      val dataTableBase: String,
      val path: String,
      val config: HoodieConfig,
      val latest: String,
      fsView: FsView) {

    /** The partition's file slices as of [[latest]]; throws when it has
      * none.
      */
    def slices(partition: String): Vector[graft.fs.FileSlice] = {
      val pruner = new PartitionPruner(
        Seq("partition_path" -> "string"), hiveStyle = false, urlEncoded = false,
        Seq(PartitionFilter("partition_path", "=", Seq(partition))))
      val slices = fsView.slicesAsOf(latest, pruner)
      require(slices.nonEmpty, s"No file slice found for the $partition partition")
      slices
    }
  }

  /** Open the MDT as of its latest completed commit, or its newest one at
    * or before `asOf`. Throws when it has no such commit — a
    * present-but-unreadable index is a structural error that callers
    * must see and fall back on (storage listing / scan plans), never
    * silently read as empty.
    */
  private[graft] def open(
      dataTableBase: String,
      hadoopConf: Configuration,
      asOf: Option[String] = None
  ): Opened = {
    val mdtPath = new Path(new Path(dataTableBase, ".hoodie"), "metadata").toString
    val stored = HoodieConfig.load(mdtPath, hadoopConf)
    // the reference opens the MDT with PartitionFields overridden to the
    // single internal partition-path field (table/mod.rs:121-141)
    val config = HoodieConfig(stored.props + ("hoodie.table.partition.fields" -> "partition_path"))
    val timeline = new Timeline(mdtPath, config, hadoopConf)
    // as-of reads plan the MDT at its newest commit <= asOf (MDT commits
    // mirror the data commits they index); callers that need exact
    // synchronization compare the returned commit against their data
    // instant and fail open on divergence
    val latest = asOf
      .map(ts => timeline.instantsAsOf(ts).lastOption.map(_.timestamp).getOrElse(
        throw new IllegalStateException(
          s"metadata table at $mdtPath has no completed commit at or before $ts")))
      .orElse(timeline.latestCommitTimestamp)
      .getOrElse(
        throw new IllegalStateException(s"metadata table at $mdtPath has no completed commits"))
    new Opened(dataTableBase, mdtPath, config, latest,
      new FsView(mdtPath, config, timeline, hadoopConf))
  }

  /** [[open]] the MDT and plan one partition's file slices: (the MDT
    * commit planned at, its slices). Shared by the `files`-partition
    * reader and the index readers ([[RecordIndex]], column/partition
    * stats, bloom filters, secondary indexes), so the MDT-opening
    * decisions (partition-field override, empty-timeline semantics) live
    * in one place; the write side's per-action handle
    * ([[graft.write.MdtCommit]]) plans every partition it touches from
    * one [[open]] instead. Throws when the partition has no slice.
    */
  private[graft] def openPartition(
      dataTableBase: String,
      partition: String,
      hadoopConf: Configuration,
      asOf: Option[String] = None
  ): (String, Vector[graft.fs.FileSlice]) = {
    val mdt = open(dataTableBase, hadoopConf, asOf)
    (mdt.latest, mdt.slices(partition))
  }

  /** The MDT's newest completed commit at or before `asOf` (latest when
    * None); None when the MDT has no qualifying commit or cannot be
    * opened. The index-planning-under-time-travel gate: MDT commits
    * mirror data commits, so `mdtAt >= dataAt` means the indexes read
    * as of `asOf` describe exactly the commits an as-of read sees (the
    * same argument as [[graft.table.HudiTable.statsPrunerAsOf]]).
    */
  def latestCommitAsOf(
      dataTableBase: String,
      hadoopConf: Configuration,
      asOf: Option[String]
  ): Option[String] =
    try Some(open(dataTableBase, hadoopConf, asOf).latest)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Read + merge + decode the full `files` partition of the MDT at
    * `<dataTableBase>/.hoodie/metadata`. Throws on any structural problem;
    * callers fall back to storage listing (table/mod.rs:494-506).
    */
  def filesPartitionRecords(
      dataTableBase: String,
      hadoopConf: Configuration
  ): Map[String, FilesPartitionRecord] =
    filesPartitionRecords(open(dataTableBase, hadoopConf), hadoopConf)

  /** As above, over an opened MDT. */
  private[graft] def filesPartitionRecords(
      mdt: Opened,
      hadoopConf: Configuration
  ): Map[String, FilesPartitionRecord] = {
    val (latest, slices) = (mdt.latest, mdt.slices(FilesPartitionRecord.PartitionName))

    def readFully(p: Path): Array[Byte] = IndexIoCache.bytes(p, hadoopConf)

    // Multiple file groups are legal in a real MDT (e.g. after compaction
    // scheduling); each key hashes to one group, so merging the groups'
    // record maps is a near-disjoint union — overlaps still go through the
    // tombstone-aware merge for safety.
    val merged = mutable.LinkedHashMap.empty[String, FilesPartitionRecord]
    val range = InstantRange.upTo(latest)
    for (slice <- slices) {
      val baseFile = slice.baseFile.getOrElse(
        throw new IllegalStateException(s"MDT files-partition slice lacks a base HFile: $slice"))
      val baseReader = new HFileReader(readFully(new Path(baseFile.path)))
      val schema = new AvroSchema.Parser().parse(baseReader.avroSchemaJson.getOrElse(
        throw new IllegalStateException("MDT base HFile carries no avro schema")))

      // M7 merge: base records first, then log records in commit order with
      // tombstone-aware per-file map merge (merger.rs:79-150)
      for (rec <- baseReader.records) {
        val decoded = decode(rec, schema)
        merged.get(decoded.key) match {
          case Some(existing) => merged(decoded.key) = mergeRecords(existing, decoded)
          case None => merged(decoded.key) = decoded
        }
      }
      for (lf <- slice.logFiles.sortBy(_.orderingKey)) {
        val blocks = LogFileParser.applyRollbacks(
          LogFileParser.parse(readFully(new Path(lf.path)), range))
        for (b <- blocks if b.blockType == LogFormat.HfileDataBlock && b.rawContent.nonEmpty) {
          val logReader = new HFileReader(b.rawContent)
          for (rec <- logReader.records) {
            val decoded = decode(rec, schema)
            merged.get(decoded.key) match {
              case Some(existing) => merged(decoded.key) = mergeRecords(existing, decoded)
              case None => merged(decoded.key) = decoded
            }
          }
        }
      }
    }
    merged.toMap
  }

  /** merger.rs:merge_files_partition_records — newer deletions cancel
    * existing entries, double tombstones keep the newer, re-adds clear the
    * tombstone and keep the max size.
    */
  private[table] def mergeRecords(
      existing: FilesPartitionRecord, newer: FilesPartitionRecord): FilesPartitionRecord = {
    val files = mutable.LinkedHashMap.from(existing.files)
    for ((name, newInfo @ (newSize, newDeleted)) <- newer.files) {
      files.get(name) match {
        case Some((oldSize, oldDeleted)) =>
          if (newDeleted) {
            if (oldDeleted) files(name) = newInfo
            else files.remove(name)
          } else files(name) = (math.max(oldSize, newSize), false)
        case None => files(name) = newInfo
      }
    }
    existing.copy(files = files.toMap)
  }

  /** MDT stores `.` for the non-partitioned partition; externally it is ""
    * (records.rs NON_PARTITIONED_NAME normalization).
    */
  private def normalizeKey(k: String): String =
    if (k == FilesPartitionRecord.NonPartitionedName) "" else k

  /** Avro-decode one HoodieMetadataRecord value into the files model;
    * an empty value is a whole-record tombstone, decoded as an empty
    * files map EXACTLY like the reference (records.rs:277-282) — which
    * makes the subsequent merge a no-op on existing entries (per-file
    * tombstones, not record-level ones, drive deletions in this model).
    */
  private def decode(rec: HFileRecord, schema: AvroSchema): FilesPartitionRecord = {
    if (rec.isDeleted)
      return FilesPartitionRecord(normalizeKey(rec.key), FilesPartitionRecord.TypeFiles, Map.empty)
    val reader = new GenericDatumReader[GenericRecord](schema)
    val decoded = reader.read(null, DecoderFactory.get().binaryDecoder(rec.value, null))
    val recordType = decoded.get("type") match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
      case _ => -1
    }
    val files = Option(decoded.get("filesystemMetadata")) match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.iterator.flatMap { case (k, v) =>
          val name0 = k.toString
          val name = if (recordType == FilesPartitionRecord.TypeAllPartitions)
            normalizeKey(name0) else name0
          v match {
            case r: GenericRecord =>
              val size = r.get("size") match {
                case l: java.lang.Long => l.longValue()
                case i: java.lang.Integer => i.longValue()
                case _ => 0L
              }
              val deleted = r.get("isDeleted") match {
                case b: java.lang.Boolean => b.booleanValue()
                case _ => false
              }
              Some(name -> (size, deleted))
            case _ => None
          }
        }.toMap
      case _ => Map.empty[String, (Long, Boolean)]
    }
    FilesPartitionRecord(normalizeKey(rec.key), recordType, files)
  }
}

/** The shared key-filtered MDT slice probe: base-HFile point lookups
  * followed by HFile-log-block overlay in commit order (newer wins per
  * key; rollbacks applied). One walk serves every point-lookup index
  * partition — record_index and bloom_filters — so merge-order fixes
  * land once. Paths-only inputs keep it executor-serializable. Throws on
  * structural problems (schema-less HFiles); callers translate to their
  * fallbacks.
  */
private[table] object MdtSliceProbe {

  /** `decode` maps (datumReader, key, valueBytes, hfileDeletedFlag) to a
    * decoded value; None = tombstone. The datum reader is built lazily
    * from the FIRST HFile's embedded avro schema and reused across the
    * batch (a per-record GenericDatumReader is pure allocation overhead).
    */
  def probe[A](
      base: Option[String],
      logs: Seq[String],
      upTo: String,
      keys: Seq[String],
      conf: Configuration)(
      decode: (GenericDatumReader[GenericRecord], String, Array[Byte], Boolean) => Option[A]
  ): Iterator[(String, Option[A])] = {
    // MDT paths are content-immutable — served through the planning byte
    // cache so repeat point queries perform zero index IO
    def readFully(p: String): Array[Byte] = IndexIoCache.bytes(new Path(p), conf)
    val out = mutable.Map.empty[String, Option[A]]
    val range = InstantRange.upTo(upTo)
    var datumReader: GenericDatumReader[GenericRecord] = null
    def readerFor(json: Option[String]): GenericDatumReader[GenericRecord] = {
      if (datumReader == null) {
        val schema = new AvroSchema.Parser().parse(json.getOrElse(
          throw new IllegalStateException("index HFile carries no avro schema")))
        datumReader = new GenericDatumReader[GenericRecord](schema)
      }
      datumReader
    }
    for (basePath <- base) {
      val baseReader = new HFileReader(readFully(basePath))
      val dr = readerFor(baseReader.avroSchemaJson)
      for ((k, rec) <- baseReader.lookup(keys))
        out(k) = decode(dr, k, rec.value, rec.isDeleted)
    }
    val wanted = keys.toSet
    for (lf <- logs) {
      val blocks = LogFileParser.applyRollbacks(
        LogFileParser.parse(readFully(lf), range))
      for (b <- blocks if b.blockType == LogFormat.HfileDataBlock && b.rawContent.nonEmpty) {
        val logReader = new HFileReader(b.rawContent)
        val dr = readerFor(logReader.avroSchemaJson)
        for (rec <- logReader.records if wanted.contains(rec.key))
          out(rec.key) = decode(dr, rec.key, rec.value, rec.isDeleted)
      }
    }
    out.iterator
  }
}
