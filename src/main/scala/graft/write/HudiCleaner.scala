package graft.write

import graft.core.Timeline
import graft.table.HudiTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** KEEP_LATEST_COMMITS cleaner — the table service that reclaims old COW
  * slice versions (real Hudi's default policy). For each file group,
  * every query as of the last `retainCommits` commits must stay
  * servable: slices at or after the horizon commit are kept, plus the
  * latest slice at-or-before it (the one an as-of-horizon read serves);
  * everything older deletes (base file + attached logs). The clean
  * completes as a `<ts>.clean` instant whose JSON records the horizon
  * and the deleted paths, and a files-partition MDT (when advertised)
  * receives matching isDeleted TOMBSTONES in the same breath — a stale
  * files listing would otherwise serve dead paths into scans.
  *
  * SAVEPOINTS pin history (real Hudi's contract): each completed
  * savepoint keeps, per file group, the slice an as-of-savepoint read
  * serves — time travel to the savepoint stays exact forever, while the
  * resulting retained-old-slice layout is exactly what the read side's
  * savepoint-stale guards detect (CDC inference across the gap refuses;
  * persisted CDC keeps serving). Any genuinely PENDING instant refuses
  * fail-closed (a concurrent writer may be about to reference the
  * candidate files).
  *
  * Scale shape: driver-side metadata only — slice maps from the fs view,
  * O(deleted files) namenode deletes, one MDT log block. No data reads.
  * This is deliberately the one DESTRUCTIVE surface in the engine:
  * everything it removes is invisible to snapshot reads by construction,
  * and the read-side cleaner-horizon guards (incremental/CDC refusals)
  * already treat cleaned history as unservable.
  */
object HudiCleaner {

  final case class CleanStats(
      instant: Option[String],
      earliestRetained: Option[String],
      deleted: Seq[(String, String)]) // (partition, fileName)

  def clean(spark: SparkSession, basePath: String, retainCommits: Int): CleanStats = {
    require(retainCommits >= 1, s"retain_commits must be >= 1, got $retainCommits")
    val t = HudiTable(spark, basePath)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = new Path(basePath).getFileSystem(hadoopConf)

    // savepoints PIN history: each one keeps, per file group, the slice
    // an as-of-savepoint read serves (real Hudi's savepoint contract —
    // the resulting retained-old-slice-with-cleaned-intermediates layout
    // is exactly what the CDC savepoint-stale guard detects and refuses
    // to infer across); pending instants may be about to reference the
    // candidates and refuse below
    val savepoints = t.timeline.savepointTimestamps
    val pending = t.timeline.pendingInstants.map(i => s"${i.timestamp}.${i.action}")
    if (pending.nonEmpty)
      throw new UnsupportedOperationException(
        s"hudi-graft clean: pending instants exist (${pending.sorted.mkString(", ")}) — a " +
          "concurrent writer may still reference the candidate files; retry when the " +
          "timeline is quiescent")

    val commits = t.timeline.completedInstants.map(_.timestamp).distinct.sorted
    if (commits.size <= retainCommits)
      return CleanStats(None, commits.headOption, Nil)
    val earliestRetained = commits(commits.size - retainCommits)

    // PLAN first (no destruction): the candidate (partition, file, path)
    // set from pure fs-view metadata
    val plan = Vector.newBuilder[(String, String, String)]
    for (p <- t.fsView.partitionPaths; g <- t.fsView.fileGroups(p)) {
      // keep: everything at/after the horizon's serving slice, plus each
      // savepoint's serving slice — delete the rest
      val keepFrom = g.sliceAsOf(earliestRetained).map(_.commitTimestamp)
      val pinned = savepoints.flatMap(sp => g.sliceAsOf(sp).map(_.commitTimestamp)).toSet
      for ((ts, slice) <- g.slices
          if keepFrom.exists(ts < _) && !pinned.contains(ts)) {
        for (bf <- slice.baseFile) plan += ((p, bf.fileName, bf.path))
        for (lf <- slice.logFiles) plan += ((p, lf.fileName, lf.path))
      }
    }
    val candidates = plan.result()
    if (candidates.isEmpty)
      return CleanStats(None, Some(earliestRetained), Nil)

    val instant = Timeline.instantAfter(commits.last, t.config.timelineTimezone)
    val byPartition = candidates.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, fsz) =>
      s""""${escape(p)}":${fsz.map(f => s""""${escape(f._2)}"""").mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
    val body =
      s"""{"earliestCommitToRetain":"$earliestRetained","totalFilesDeleted":${candidates.size},""" +
        s""""partitionToDeletedFiles":$byPartition}"""
    // crash-safe ordering (real Hudi persists the plan before destroying
    // anything): requested carries the full plan, then the MDT tombstones
    // land, then the files delete, and only then does the clean COMPLETE.
    // A crash mid-sequence leaves either (a) a pending clean whose plan
    // names every candidate — rerunnable evidence, no missing state — or
    // (b) tombstoned-but-present files, which only hides pre-horizon
    // versions the clean was about to remove anyway; never a listing that
    // serves deleted paths
    val clean = t.timeline.begin("clean", instant, body)
    if (t.config.metadataPartitions.contains("files")) {
      val mdt = new MdtCommit(basePath, hadoopConf, instant)
      MdtMaintenance.tombstoneFiles(mdt, candidates.map(c => (c._1, c._2)))
      mdt.complete()
    }
    val deleted = Vector.newBuilder[(String, String)]
    for ((p, name, path) <- candidates)
      if (fs.delete(new Path(path), false)) deleted += ((p, name))
    val removed = deleted.result()
    clean.complete(body)
    CleanStats(Some(instant), Some(earliestRetained), removed)
  }

  private def escape(s: String): String = HudiWriter.escapeJson(s)
}
