package graft.write

import graft.core.{MetaField, Timeline}
import graft.table.HudiTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLUSTERING — the table service that rewrites a partition's (small)
  * file groups into fewer, larger ones. Mirrors real Hudi's flow: a
  * `replacecommit.requested` plan, the merged rewrite with per-row
  * commit stamps PRESERVED, and a completed REPLACECOMMIT whose
  * metadata records `partitionToReplaceFileIds` (the R4 exclusion every
  * reader applies) and `operationType CLUSTER` — the spelling CDC
  * treats as a logical no-op and incremental ranges surface nothing
  * for (rows keep their original `_hoodie_commit_time`). COW tables
  * cluster base files; MOR slices with logs fold them in the same pass
  * (real Hudi's clustering does too — the new groups are log-free).
  *
  * Scale shape: ONE Spark job — one distributed merged scan of the
  * clustered groups and one hash-bucket shuffle into the new group
  * layout (group count from the plan's size estimate over the target
  * file size), each task writing its groups' base files through
  * [[BaseFiles]] — the same shape as a data write, with exact
  * column_stats bounds when the table advertises the index, appended
  * like compaction's; the driver handles only names and metadata.
  */
object HudiClustering {

  final case class ClusteringStats(
      instant: Option[String],
      newGroups: Seq[(String, String)], // (partition, fileId)
      replaced: Map[String, Set[String]]) // partition -> old fileIds

  /** Cluster every partition's current file groups into fresh
    * hash-bucketed groups sized by `targetFileBytes`.
    */
  def cluster(
      spark: SparkSession,
      basePath: String,
      targetFileBytes: Long = 120L << 20): ClusteringStats = {
    val t = HudiTable(spark, basePath)
    if (graft.table.RecordIndex.isAvailable(t.config))
      throw new UnsupportedOperationException(
        "hudi-graft clustering: record_index tables are not clusterable here — " +
          "relocation would invalidate every index entry and a rebuild is not implemented")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val latest = t.timeline.latestCommitTimestamp.getOrElse(
      return ClusteringStats(None, Nil, Map.empty))
    val slices = t.fsView.slicesAsOf(latest)
    if (slices.isEmpty) return ClusteringStats(None, Nil, Map.empty)
    val replaced = slices.groupBy(_.partitionPath)
      .view.mapValues(_.map(_.fileId).toSet).toMap
    val instant = Timeline.instantAfter(latest, t.config.timelineTimezone)
    val pending = t.timeline.begin("replacecommit", instant,
      s"""{"inputGroups":${HudiWriter.fileIdsJson(replaced)}}""")

    // merged view with per-row stamps preserved; rows re-bucket into
    // fresh groups (same derivation as a data write's fresh routing)
    val merged = spark.read.format("hudi-graft").load(basePath)
    val groups = HudiWriter.freshGroups(merged, targetFileBytes)
    val staged = merged
      .withColumn("__key", col(MetaField.RecordKey))
      .withColumn("__part", col(MetaField.PartitionPath))
      .withColumn("__fid", HudiWriter.freshFid(instant, groups))
    val rows = BaseFiles.grouped(staged, instant)
    val maintainsColStats = graft.table.ColumnStatsIndex.isAvailable(t.config)
    val files = BaseFiles.write(rows, basePath, instant, stats = maintainsColStats)

    // files-MDT and column_stats maintenance (same contract as compaction)
    val mdt = new MdtCommit(basePath, hadoopConf, instant)
    if (t.config.metadataPartitions.contains("files"))
      MdtMaintenance.appendFiles(mdt, files.map(f => (f.partition, f.name, f.bytes)))
    if (maintainsColStats)
      ColumnStatsMaintenance.append(mdt, BaseFiles.colStatsEntries(files, rows.schema))
    mdt.complete()

    val stats = HudiWriter.writeStatsJson(files.map(HudiWriter.WriteStat(_)))
    pending.complete(
      s"""{"partitionToWriteStats":$stats,"partitionToReplaceFileIds":""" +
        s"""${HudiWriter.fileIdsJson(replaced)},""" +
        s""""compacted":false,"operationType":"CLUSTER"}""")
    ClusteringStats(Some(instant), files.map(f => (f.partition, f.fileId)), replaced)
  }
}
