package graft.write

import graft.table.HudiTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Savepoint lifecycle (upstream's `create_savepoint` /
  * `delete_savepoint` CALL surface): a savepoint at commit `ts` pins
  * that commit's view — [[HudiCleaner]] retains, per file group, the
  * slice an as-of-`ts` read serves, so time travel to the savepoint
  * stays exact for as long as the savepoint lives. Pure timeline
  * metadata: a requested → inflight → completed `.savepoint` instant
  * triple at the savepointed commit's own timestamp (the hudi-cli
  * layout), JSON body naming the pinned commit.
  */
object HudiSavepoints {

  def create(spark: SparkSession, basePath: String, commitTs: String): String = {
    val t = HudiTable(spark, basePath)
    val ts = graft.core.Timestamps.normalize(commitTs, t.config.timelineTimezone)
    if (!t.timeline.completedInstants.exists(_.timestamp == ts))
      throw new IllegalArgumentException(
        s"hudi-graft savepoint: $ts is not a completed commit on this timeline")
    // the savepointed view must still be servable — a horizon already
    // past it cannot be pinned retroactively
    val visible = t.fsView.slicesAsOf(ts)
    require(visible.nonEmpty || t.fsView.partitionPaths.isEmpty,
      s"hudi-graft savepoint: no slices are visible as of $ts (already cleaned)")
    val storage = graft.io.Storage(spark.sessionState.newHadoopConf())
    def touch(name: String, content: String = ""): Unit =
      storage.writeFile(new Path(t.timeline.dir, name), content.getBytes("UTF-8"),
        overwrite = true)
    touch(s"$ts.savepoint.requested")
    touch(s"$ts.savepoint.inflight")
    touch(s"$ts.savepoint", s"""{"savepointedAt":"$ts"}""")
    ts
  }

  def delete(spark: SparkSession, basePath: String, commitTs: String): Boolean = {
    val t = HudiTable(spark, basePath)
    val ts = graft.core.Timestamps.normalize(commitTs, t.config.timelineTimezone)
    val fs = t.timeline.dir.getFileSystem(spark.sessionState.newHadoopConf())
    // markers first, completed file LAST: a crash mid-delete must never
    // leave marker-only files that read as a PENDING savepoint (which
    // would refuse run_clean until manual timeline repair)
    fs.delete(new Path(t.timeline.dir, s"$ts.savepoint.requested"), false)
    fs.delete(new Path(t.timeline.dir, s"$ts.savepoint.inflight"), false)
    fs.delete(new Path(t.timeline.dir, s"$ts.savepoint"), false)
  }
}
