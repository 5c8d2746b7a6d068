package graft.write

import graft.core.MetaField
import graft.io.{ParquetFiles, Storage}
import graft.table.HudiTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MOR COMPACTION — the table service that folds a file group's log
  * files into a fresh base-file version, so read-optimized queries catch
  * up and the MOR merge cost resets. Mirrors real Hudi's flow: a
  * `compaction.requested` plan (the slice set, JSON), an inflight
  * marker, the merged rewrite, and a completed `commit` whose metadata
  * carries `"compacted":true` + `operationType COMPACT` — the spelling
  * every reader in this repo (and upstream) already treats as a LOGICAL
  * NO-OP: rows keep their original `_hoodie_commit_time`, so
  * incremental ranges spanning the compaction surface nothing for it
  * and CDC skips it outright (CdcRead.isLogicalNoOp).
  *
  * Scale shape: ONE Spark job. The merged read is the ordinary
  * distributed MOR scan restricted to the compacting groups (the same
  * merge the snapshot path runs; each slice is read whole by one task,
  * one slice after another), projected to the base-file columns. Each
  * task writes every group it reads to its own staged parquet file under
  * `.hoodie/.temp/<instant>`, through [[graft.io.Storage]] with Spark's
  * parquet write support, one open file at a time — no shuffle, no
  * output committer, no footer re-read. It returns (partition, fileId,
  * rows, bytes), plus per-column min/max/nullCount when the table
  * advertises `column_stats`. The driver writes the schema-only base of
  * every group its logs emptied, renames each staged file into place and
  * writes metadata — O(#compacted groups) namenode ops, no data through
  * the driver. The planning collect is bounded by file groups with logs,
  * never rows.
  */
object HudiCompaction {

  final case class CompactionStats(
      instant: Option[String],
      compacted: Seq[(String, String)]) // (partition, fileId)

  /** Compact every file group whose LATEST slice carries log files.
    * Returns the compaction instant (None = nothing to compact).
    */
  def compact(spark: SparkSession, basePath: String): CompactionStats = {
    val t = HudiTable(spark, basePath)
    if (!t.config.isMor)
      throw new UnsupportedOperationException(
        "hudi-graft compaction: not a MERGE_ON_READ table — COW groups have no logs")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = new Path(basePath).getFileSystem(hadoopConf)
    val storage = Storage(hadoopConf)
    val latest = t.timeline.latestCommitTimestamp.getOrElse(
      return CompactionStats(None, Nil))
    val candidates = t.fsView.slicesAsOf(latest).filter(_.hasLogFiles)
    if (candidates.isEmpty) return CompactionStats(None, Nil)
    val fids = candidates.map(_.fileId).sorted
    val prevCommits = candidates.map(sl => sl.fileId -> sl.commitTimestamp).toMap
    val partitions = candidates.map(sl => sl.fileId -> sl.partitionPath).toMap
    val instant = HudiWriter.instantAfter(latest, t.config.timelineTimezone)

    // plan-first (crash-safe like the cleaner): the requested marker
    // names every compacting slice before anything is written
    val timelineDir = t.timeline.dir
    def touch(name: String, content: String = ""): Unit =
      storage.writeFile(new Path(timelineDir, name), content.getBytes("UTF-8"), overwrite = true)
    val planJson = candidates.sortBy(_.fileId).map { sl =>
      s"""{"fileId":"${sl.fileId}","partitionPath":"${HudiWriter.escapeJson(sl.partitionPath)}",""" +
        s""""baseInstantTime":"${sl.commitTimestamp}","logFiles":${sl.logFiles.size}}"""
    }.mkString("""{"operations":[""", ",", "]}")
    touch(s"$instant.compaction.requested", planJson)
    touch(s"$instant.compaction.inflight")

    // merged view of exactly the compacting groups, projected to the base
    // file's columns — per-row commit stamps PRESERVED (that is what keeps
    // the compaction invisible to incremental/CDC consumers)
    val merged = spark.read.format("hudi-graft")
      .option("cdc.file.groups", fids.mkString(","))
      .load(basePath)
    val fid = HudiWriter.fidOfFileName
    val suffix = s"_${HudiWriter.Token}_$instant.parquet"
    val dataCols = merged.columns.filterNot(c => MetaField.all.contains(c) || c.startsWith("__"))
    val projected = merged.select(
      col(MetaField.CommitTime) +:
        concat_ws("_", col(MetaField.CommitTime), fid, col(MetaField.RecordKey))
          .as(MetaField.CommitSeqno) +:
        col(MetaField.RecordKey) +:
        col(MetaField.PartitionPath) +:
        concat(fid, lit(suffix)).as(MetaField.FileName) +:
        dataCols.map(col).toSeq: _*)
    val fileSchema = projected.schema
    val statColumns =
      if (!graft.table.ColumnStatsIndex.isAvailable(t.config)) Nil
      else HudiWriter.statColumnsOf(fileSchema).map(f =>
        (f.name, fileSchema.fieldIndex(f.name), f.dataType))
    val stage = new Stage(new Path(basePath, s".hoodie/.temp/$instant").toString, suffix,
      partitions, ParquetFiles.prepare(spark, fileSchema), statColumns)
    val written = projected.queryExecution.toRdd
      .mapPartitions(rows => writeGroups(rows, stage)).collect()
    if (written.map(_.fid).distinct.length != written.length)
      throw new IllegalStateException("hudi-graft compaction: a file group was staged twice")
    // a group whose logs deleted EVERY row still writes an empty base
    // version — without it the old slice (and its read-optimized
    // resurrections) would stay the latest
    val emptied = fids.filterNot(written.map(_.fid).toSet).map { f =>
      val w = stage.parquet.open(stage.path(f))
      Staged(partitions(f), f, 0L, w.close(), Nil)
    }
    val staged = (written.toSeq ++ emptied).sortBy(s => (s.partition, s.fid))
    for (dir <- staged.map(_.partition).distinct)
      storage.mkdirs(if (dir.isEmpty) new Path(basePath) else new Path(basePath, dir))
    val files = staged.map { s =>
      val name = s"${s.fid}$suffix"
      val rel = if (s.partition.isEmpty) name else s"${s.partition}/$name"
      val dest = new Path(basePath, rel)
      if (!fs.rename(stage.path(s.fid), dest))
        throw new java.io.IOException(s"hudi-graft: rename ${stage.path(s.fid)} -> $dest failed")
      (s.partition, s.fid, rel, s.rows, s.bytes)
    }
    fs.delete(new Path(stage.dir), true)

    // files-MDT and column_stats maintenance (same contract as data commits)
    val mdtParts = t.config.getOrElse("hoodie.table.metadata.partitions", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    if (mdtParts.contains("files"))
      MdtMaintenance.appendFiles(basePath, hadoopConf, instant,
        files.map { case (p, _, rel, _, bytes) =>
          (p, rel.substring(rel.lastIndexOf('/') + 1), bytes)
        })
    if (statColumns.nonEmpty)
      ColumnStatsMaintenance.append(basePath, hadoopConf, instant,
        HudiWriter.colStatsEntries(files,
          staged.map(s => (s.partition, s.fid) -> s.stats).toMap, fileSchema))

    // completed COMMIT with compacted:true — the logical-no-op spelling
    val stats = files.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, fsz) =>
      val entries = fsz.sortBy(_._2).map { case (_, fid, rel, rows, bytes) =>
        s"""{"fileId":"$fid","path":"${HudiWriter.escapeJson(rel)}",""" +
          s""""partitionPath":"${HudiWriter.escapeJson(p)}",""" +
          s""""prevCommit":"${prevCommits.getOrElse(fid, "null")}","numWrites":$rows,""" +
          s""""numUpdateWrites":0,"numInserts":0,"numDeletes":0,"fileSizeInBytes":$bytes}"""
      }.mkString("[", ",", "]")
      s""""${HudiWriter.escapeJson(p)}":$entries"""
    }.mkString("{", ",", "}")
    val completedName =
      if (t.config.tableVersion >= 8)
        s"${instant}_${HudiWriter.completionNow(instant, t.config.timelineTimezone)}.commit"
      else s"$instant.commit"
    touch(completedName,
      s"""{"partitionToWriteStats":$stats,"compacted":true,"operationType":"COMPACT"}""")
    CompactionStats(Some(instant), files.map(f => (f._1, f._2)))
  }

  /** What the staging tasks need: the staging directory, the base-file
    * name suffix, each group's partition, the prepared parquet writes
    * and the column_stats columns as (name, ordinal, type).
    */
  private final class Stage(
      val dir: String,
      suffix: String,
      val partitions: Map[String, String],
      val parquet: ParquetFiles,
      val statColumns: Seq[(String, Int, DataType)]) extends Serializable {
    def path(fid: String): Path = new Path(dir, s"$fid$suffix")
    def fidOf(fileName: String): String = fileName.stripSuffix(suffix)
  }

  /** One staged base file; `stats` = (column, min, max, nullCount). */
  private final case class Staged(
      partition: String, fid: String, rows: Long, bytes: Long,
      stats: Seq[(String, Any, Any, Long)])

  /** `_hoodie_file_name`'s position in the projected base-file row. */
  private val FileNameOrdinal = 4

  /** Task side: write each group's rows to its staged file. The merged
    * scan reads a slice whole before the next, so a group's rows arrive
    * together and one file is open at a time; a group seen twice means
    * the rows' `_hoodie_file_name` disagree with their slices, which
    * fails the job rather than splitting a group over two files.
    */
  private def writeGroups(rows: Iterator[InternalRow], stage: Stage): Iterator[Staged] = {
    val done = Vector.newBuilder[Staged]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var name: UTF8String = null
    var fid: String = null
    var out: ParquetFiles.Writer = null
    var n = 0L
    var bounds: Seq[Bounds] = Nil
    def finish(): Unit = if (out != null) {
      val bytes = out.close()
      out = null
      done += Staged(stage.partitions(fid), fid, n, bytes, bounds.map(_.result))
    }
    try {
      while (rows.hasNext) {
        val r = rows.next()
        val rowName = r.getUTF8String(FileNameOrdinal)
        if (name == null || rowName != name) {
          finish()
          name = rowName.clone()
          fid = stage.fidOf(name.toString)
          if (!stage.partitions.contains(fid) || !seen.add(fid))
            throw new IllegalStateException(
              s"hudi-graft compaction: rows of file group $fid do not come from one " +
                "compacting slice (their _hoodie_file_name names another group)")
          out = stage.parquet.open(stage.path(fid))
          n = 0L
          bounds = stage.statColumns.map { case (c, i, dt) => new Bounds(c, i, dt) }
        }
        out.write(r)
        n += 1
        bounds.foreach(_.add(r))
      }
      finish()
    } catch {
      case e: Throwable =>
        if (out != null) scala.util.Try(out.close())
        throw e
    }
    done.result().iterator
  }

  /** Exact min/max/nullCount of one long, date or string column, valued
    * as the MDT records them (dates as epoch days).
    */
  private final class Bounds(column: String, ordinal: Int, dt: DataType) {
    private var nulls = 0L
    private var seen = false
    private var lo, hi = 0L
    private var slo, shi: UTF8String = null

    def add(r: InternalRow): Unit =
      if (r.isNullAt(ordinal)) nulls += 1
      else if (dt == StringType) {
        val v = r.getUTF8String(ordinal)
        if (slo == null || v.compareTo(slo) < 0) slo = v.clone()
        if (shi == null || v.compareTo(shi) > 0) shi = v.clone()
      } else {
        val v = if (dt == LongType) r.getLong(ordinal) else r.getInt(ordinal).toLong
        if (!seen || v < lo) lo = v
        if (!seen || v > hi) hi = v
        seen = true
      }

    def result: (String, Any, Any, Long) =
      if (dt == StringType)
        (column, Option(slo).map(_.toString).orNull, Option(shi).map(_.toString).orNull, nulls)
      else if (!seen) (column, null, null, nulls)
      else if (dt == LongType) (column, Long.box(lo), Long.box(hi), nulls)
      else (column, Int.box(lo.toInt), Int.box(hi.toInt), nulls)
  }
}
