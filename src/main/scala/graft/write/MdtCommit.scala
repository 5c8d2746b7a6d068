package graft.write

import graft.core.Timeline
import graft.fs.{FileSlice, LogFile}
import graft.io.Storage
import graft.table.{ColumnStatsIndex, FilesPartitionRecord, MetadataTable, RecordIndex}
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import scala.collection.mutable

/** One action's delta to the metadata table (MDT, `.hoodie/metadata`, a
  * MOR table of HFile index partitions): every maintained partition's
  * records for the action at `instant` land as HFile log blocks under ONE
  * MDT deltacommit at the DATA instant (real Hudi's convention — it keeps
  * the index-planning gate `mdtAt >= dataAt` true).
  *
  * The handle opens the MDT once per action (one `hoodie.properties`
  * load, one timeline listing; nothing when no partition is touched),
  * plans each touched partition and reads each partition's base-HFile
  * schema once, and owns the log-name rule and the block writer. The
  * maintainers only build records and hand them here. [[complete]]
  * completes the deltacommit once, after the last partition's log and
  * before the data commit, so a reader that sees the data instant sees
  * an MDT at least as new; it completes nothing when no block was
  * written.
  */
final class MdtCommit(val dataTableBase: String, conf: Configuration, val instant: String) {

  private lazy val mdt = MetadataTable.open(dataTableBase, conf)
  private val planned = mutable.Map.empty[String, Vector[FileSlice]]
  private val schemas = mutable.Map.empty[String, Schema]
  private var blocks = 0

  /** The partition's file slices at the MDT's latest commit, planned once. */
  def slices(partition: String): Vector[FileSlice] =
    planned.getOrElseUpdate(partition, mdt.slices(partition))

  /** The partition's base-HFile avro schema, read once: records are
    * encoded against the partition's OWN schema, so a real-Hudi MDT (full
    * HoodieMetadata.avsc) and the fixture subset both round-trip.
    */
  def baseSchema(partition: String): Schema = schemas.getOrElseUpdate(partition, {
    val baseFile = slices(partition).headOption.flatMap(_.baseFile).getOrElse(
      throw new IllegalStateException(
        s"$partition slice has no base HFile (log-only index groups are not appendable)"))
    val path = new Path(baseFile.path)
    val reader = new graft.hfile.HFileReader(
      graft.util.ReadFully(path.getFileSystem(conf), path))
    new Schema.Parser().parse(reader.avroSchemaJson.getOrElse(
      throw new IllegalStateException(s"$partition base HFile carries no avro schema")))
  })

  /** The `record_index` partition's hash-aligned groups: the upsert
    * probe reads and the index append writes the same slice set.
    */
  lazy val recordIndex: RecordIndex.Groups = RecordIndex.groups(mdt)

  /** The merged `files` partition as of the MDT's latest commit. */
  def filesRecords: Map[String, FilesPartitionRecord] =
    MetadataTable.filesPartitionRecords(mdt, conf)

  /** The `partition_stats` bounds as of the MDT's latest commit. */
  def partitionStats: Map[String, Map[String, (Comparable[Any], Comparable[Any])]] =
    graft.table.PartitionStatsIndex.ranges(
      ColumnStatsIndex.load(mdt, graft.table.PartitionStatsIndex.PartitionName, conf))

  /** The next log of `slice` in `partition`, named by [[LogFile.nextName]]. */
  def log(partition: String, slice: FileSlice, schema: Schema): MdtCommit.Log = {
    val dir = new Path(new Path(mdt.path), partition)
    MdtCommit.Log(
      new Path(dir, LogFile.nextName(slice, instant, mdt.config.tableVersion)).toString,
      instant, schema.toString)
  }

  /** Append `records` (sorted by key) as one block onto the partition's
    * single slice, on the driver.
    */
  def append(partition: String, schema: Schema, records: Seq[(String, Array[Byte])]): Unit = {
    log(partition, slices(partition).head, schema).write(conf, records)
    wrote(1)
  }

  /** Count `n` blocks written through [[log]] targets in executor tasks. */
  def wrote(n: Int): Unit = blocks += n

  /** Complete the MDT deltacommit at the data instant, once; nothing when
    * no block was written.
    */
  def complete(): Unit = {
    if (blocks == 0) return
    Timeline.begin(mdt.path, mdt.config, conf, "deltacommit", instant)
      .complete("""{"partitionToWriteStats":{},"compacted":false}""")
    blocks = 0
  }
}

object MdtCommit {

  /** One MDT log file to create, with the delta's instant and the block
    * schema: serializable, so executor tasks write the blocks of
    * row-scale partitions (record_index, secondary indexes) themselves.
    */
  final case class Log(path: String, instant: String, schemaJson: String) {

    /** Write `records` (sorted by key — the HFile key invariant) as one
      * HFile data block; the log must not exist yet.
      */
    def write(conf: Configuration, records: Seq[(String, Array[Byte])]): Unit = {
      val hfile = graft.hfile.HFileWriter.write(records.toIndexedSeq,
        Map("schema" -> schemaJson.getBytes("UTF-8")), recordsPerBlock = 64)
      val out = Storage(conf).create(new Path(path), overwrite = false)
      try graft.log.LogFileWriter.hfileDataBlock(out, instant,
        new Schema.Parser().parse(schemaJson), hfile)
      finally out.close()
    }
  }

  /** One avro binary datum of `rec` under its own schema — the encoding of
    * every MDT record value.
    */
  def encode(rec: GenericRecord): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](rec.getSchema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }
}
