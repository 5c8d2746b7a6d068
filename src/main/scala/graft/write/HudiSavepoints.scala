package graft.write

import graft.table.HudiTable
import org.apache.spark.sql.SparkSession

/** Savepoint lifecycle (upstream's `create_savepoint` /
  * `delete_savepoint` CALL surface): a savepoint at commit `ts` pins
  * that commit's view — [[HudiCleaner]] retains, per file group, the
  * slice an as-of-`ts` read serves, so time travel to the savepoint
  * stays exact for as long as the savepoint lives. Pure timeline
  * metadata: a requested → inflight → completed `.savepoint` instant
  * triple at the savepointed commit's own timestamp (the hudi-cli
  * layout), JSON body naming the pinned commit, completed under the
  * layout's name like every other action.
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
    t.timeline.begin("savepoint", ts).complete(s"""{"savepointedAt":"$ts"}""")
    ts
  }

  def delete(spark: SparkSession, basePath: String, commitTs: String): Boolean = {
    val t = HudiTable(spark, basePath)
    val ts = graft.core.Timestamps.normalize(commitTs, t.config.timelineTimezone)
    // markers first, completed file LAST: a crash mid-delete must never
    // leave marker-only files that read as a PENDING savepoint (which
    // would refuse run_clean until manual timeline repair). The
    // completed file is `{ts}.savepoint` or, on v8, `{ts}_{c}.savepoint`
    val (done, markers) = t.timeline.instants
      .filter(i => i.timestamp == ts && i.action == "savepoint").partition(_.isCompleted)
    markers.foreach(t.timeline.delete)
    done.map(t.timeline.delete).contains(true)
  }
}
