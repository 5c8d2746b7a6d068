package graft.write

import graft.core.{MetaField, Timeline}
import graft.table.HudiTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

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
  * one slice after another), projected to the base-file columns, and
  * goes straight into [[BaseFiles.write]] — no shuffle: each task writes
  * the groups it reads, with per-column min/max/nullCount when the table
  * advertises `column_stats`; the driver writes the schema-only base of
  * every group its logs emptied, renames the staged files into place and
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
    val latest = t.timeline.latestCommitTimestamp.getOrElse(
      return CompactionStats(None, Nil))
    val candidates = t.fsView.slicesAsOf(latest).filter(_.hasLogFiles)
    if (candidates.isEmpty) return CompactionStats(None, Nil)
    val fids = candidates.map(_.fileId).sorted
    val prevCommits = candidates.map(sl => sl.fileId -> sl.commitTimestamp).toMap
    val partitions = candidates.map(sl => sl.fileId -> sl.partitionPath).toMap
    val instant = Timeline.instantAfter(latest, t.config.timelineTimezone)

    // plan-first (crash-safe like the cleaner): the requested marker
    // names every compacting slice before anything is written
    val planJson = candidates.sortBy(_.fileId).map { sl =>
      s"""{"fileId":"${sl.fileId}","partitionPath":"${HudiWriter.escapeJson(sl.partitionPath)}",""" +
        s""""baseInstantTime":"${sl.commitTimestamp}","logFiles":${sl.logFiles.size}}"""
    }.mkString("""{"operations":[""", ",", "]}")
    val pending = t.timeline.begin("compaction", instant, planJson)

    // merged view of exactly the compacting groups, projected to the base
    // file's columns — per-row commit stamps PRESERVED (that is what keeps
    // the compaction invisible to incremental/CDC consumers)
    val merged = spark.read.format("hudi-graft")
      .option("cdc.file.groups", fids.mkString(","))
      .load(basePath)
    val projected = BaseFiles.rows(merged
      .withColumn("__key", col(MetaField.RecordKey))
      .withColumn("__part", col(MetaField.PartitionPath))
      .withColumn("__fid", HudiWriter.fidOfFileName), instant)
    // the merged scan reads each slice whole, one after another, so a
    // group's rows already arrive together — no shuffle. A group whose
    // logs deleted EVERY row still gets an empty base version: without
    // it the old slice (and its read-optimized resurrections) would stay
    // the latest
    val maintainsColStats = graft.table.ColumnStatsIndex.isAvailable(t.config)
    val files = BaseFiles.write(projected, basePath, instant, required = partitions,
      onlyRequired = true, stats = maintainsColStats)

    // files-MDT and column_stats maintenance (same contract as data commits)
    val mdt = new MdtCommit(basePath, hadoopConf, instant)
    if (t.config.metadataPartitions.contains("files"))
      MdtMaintenance.appendFiles(mdt, files.map(f => (f.partition, f.name, f.bytes)))
    if (maintainsColStats)
      ColumnStatsMaintenance.append(mdt, BaseFiles.colStatsEntries(files, projected.schema))
    mdt.complete()

    // completed COMMIT with compacted:true — the logical-no-op spelling
    val stats = HudiWriter.writeStatsJson(files.map(f =>
      HudiWriter.WriteStat(f, prevCommit = prevCommits.getOrElse(f.fileId, "null"))))
    pending.complete(
      s"""{"partitionToWriteStats":$stats,"compacted":true,"operationType":"COMPACT"}""")
    CompactionStats(Some(instant), files.map(f => (f.partition, f.fileId)))
  }
}
