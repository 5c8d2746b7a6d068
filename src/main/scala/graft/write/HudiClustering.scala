package graft.write

import graft.core.MetaField
import graft.table.HudiTable
import org.apache.hadoop.fs.Path
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
  * Scale shape: one distributed merged scan of the clustered groups,
  * one hash-bucket shuffle into the new group layout (group count from
  * the plan's size estimate over the target file size), partitionBy
  * staging — the same one-shuffle shape as a data write; the driver
  * handles only names and metadata.
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
    val fs = new Path(basePath).getFileSystem(hadoopConf)
    val latest = t.timeline.latestCommitTimestamp.getOrElse(
      return ClusteringStats(None, Nil, Map.empty))
    val slices = t.fsView.slicesAsOf(latest)
    if (slices.isEmpty) return ClusteringStats(None, Nil, Map.empty)
    val replaced = slices.groupBy(_.partitionPath)
      .view.mapValues(_.map(_.fileId).toSet).toMap
    val instant = HudiWriter.instantAfter(latest, t.config.timelineTimezone)

    val timelineDir = t.timeline.dir
    val storage = graft.io.Storage(hadoopConf)
    def touch(name: String, content: String = ""): Unit =
      storage.writeFile(new Path(timelineDir, name), content.getBytes("UTF-8"), overwrite = true)
    val planJson = replaced.toSeq.sortBy(_._1).map { case (p, fids) =>
      s""""${HudiWriter.escapeJson(p)}":${fids.toSeq.sorted.map(f => s""""$f"""").mkString("[", ",", "]")}"""
    }.mkString("""{"inputGroups":{""", ",", "}}")
    touch(s"$instant.replacecommit.requested", planJson)
    touch(s"$instant.replacecommit.inflight")

    // merged view with per-row stamps preserved; rows re-bucket into
    // fresh groups (same derivation as a data write's fresh routing)
    val merged = spark.read.format("hudi-graft").load(basePath)
    val bytes = BigInt(merged.queryExecution.optimizedPlan.stats.sizeInBytes.toString)
    val groups =
      if (bytes > BigInt(1L << 50)) spark.sparkContext.defaultParallelism.max(1)
      else (bytes / targetFileBytes).toLong.max(0L).min(4096L).toInt + 1
    val fidExpr = {
      val h = md5(concat(lit(s"$instant/"), col("__part"), lit("/"),
        col("__bucket").cast("string")))
      concat_ws("-",
        substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
        substring(h, 17, 4), concat(substring(h, 21, 12), lit("-0")))
    }
    val staged = merged
      .withColumn("__key", col(MetaField.RecordKey))
      .withColumn("__part", col(MetaField.PartitionPath))
      .withColumn("__bucket", pmod(xxhash64(col("__key")), lit(groups)).cast("int"))
      .withColumn("__fid", fidExpr)
      .drop("__bucket")
      .drop(MetaField.all.filterNot(_ == MetaField.CommitTime): _*)
    val files = HudiWriter.writeStaged(spark, fs, new Path(basePath), staged, instant)

    val mdtParts = t.config.getOrElse("hoodie.table.metadata.partitions", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    if (mdtParts.contains("files"))
      MdtMaintenance.appendFiles(basePath, hadoopConf, instant,
        files.map { case (p, _, rel, _, sz) =>
          (p, rel.substring(rel.lastIndexOf('/') + 1), sz)
        })

    val stats = files.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, fsz) =>
      val entries = fsz.sortBy(_._2).map { case (_, fid, rel, rows, sz) =>
        s"""{"fileId":"$fid","path":"${HudiWriter.escapeJson(rel)}",""" +
          s""""partitionPath":"${HudiWriter.escapeJson(p)}","prevCommit":"null",""" +
          s""""numWrites":$rows,"numUpdateWrites":0,"numInserts":0,"numDeletes":0,""" +
          s""""fileSizeInBytes":$sz}"""
      }.mkString("[", ",", "]")
      s""""${HudiWriter.escapeJson(p)}":$entries"""
    }.mkString("{", ",", "}")
    val repJson = replaced.toSeq.sortBy(_._1).map { case (p, fids) =>
      s""""${HudiWriter.escapeJson(p)}":${fids.toSeq.sorted.map(f => s""""$f"""").mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
    val completedName =
      if (t.config.tableVersion >= 8)
        s"${instant}_${HudiWriter.completionNow(instant, t.config.timelineTimezone)}.replacecommit"
      else s"$instant.replacecommit"
    touch(completedName,
      s"""{"partitionToWriteStats":$stats,"partitionToReplaceFileIds":$repJson,""" +
        s""""compacted":false,"operationType":"CLUSTER"}""")
    ClusteringStats(Some(instant), files.map(f => (f._1, f._2)), replaced)
  }
}
