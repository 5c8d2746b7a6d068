package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

import scala.jdk.CollectionConverters._

/** Incremental view maintenance for grouped COUNT/SUM aggregates: roll a
  * maintained aggregate forward through a commit range by applying the
  * incremental batch as deltas — the Materialize/Flink IVM shape over a
  * Hudi incremental read:
  *
  *  - a batch row whose key has NO pre-image in the range-start snapshot
  *    is an insert: +1 / +value to its group;
  *  - a batch row WITH a pre-image is an update: +1 / +value to its new
  *    group and -1 / -value of the pre-image to its old group — the
  *    retraction a changelog consumer would emit.
  *
  * (The same classification [[ChangeClassifier.changes]] surfaces as
  * labels, folded here into ONE left join so the pre-image lookup and
  * the classification share a single pass over the start snapshot.)
  *
  * Preconditions (enforced where the table can prove them):
  *  - merge-on-read semantics, NOT APPEND_ONLY: an append-only table
  *    keeps every image in the end snapshot, so retracting pre-images
  *    double-counts against it (require fails fast);
  *  - NO delete commit inside `(start, end]`: deleted keys are invisible
  *    to an incremental read (documented on ChangeClassifier), so their
  *    retractions can never fire. Enforced best-effort from commit
  *    metadata (`numDeletes` in write stats) — writers that omit the
  *    field (minimal stats) make the guard advisory, so the range
  *    contract is also part of the API's documented semantics;
  *  - NO destructive replacecommit inside `(start, end]` (see
  *    [[checkMaintainable]]).
  *
  * Scale shape (100 TB): the prior aggregate is GROUP-sized state, the
  * incremental batch is commit-range-bounded, and the pre-image fetch is
  * either the start snapshot joined to the batch's keys (scan path,
  * key-pruned by the join) or — when the table carries a `record_index`
  * metadata partition — a [[RecordIndex]] point lookup that plans ONLY
  * the file groups holding the batch's keys ([[maintainCountSumIndexed]]),
  * turning the full-table pre-image scan into range-bounded work.
  * Everything combines map-side; no window, no collect beyond the gated
  * batch-key set. Sums use the shared [[graft.util.ExactAgg.dsum]]
  * DECIMAL discipline so maintained and recomputed aggregates are
  * bit-identical.
  */
object AggMaintenance {

  /** Shared range preconditions: fail fast on any commit in
    * `(start, end]` whose effects an incremental read cannot surface.
    */
  private def checkMaintainable(t: HudiTable, start: String, end: String): Unit = {
    require(t.config.recordKeyFields.nonEmpty, "maintenance requires record key fields")
    require(t.config.recordMergeStrategy != "APPEND_ONLY",
      "append-only tables keep every image in the snapshot — retraction-based " +
        "maintenance would double-count; recompute instead")
    val inRangeDeletes = t.timeline.instantsBetween(Some(start), Some(end)).iterator
      .flatMap(i => t.timeline.commitMetadata(i).path("partitionToWriteStats")
        .properties().asScala.iterator
        .flatMap(_.getValue.elements().asScala)
        .map(_.path("numDeletes").asLong(0L)))
      .sum
    require(inRangeDeletes == 0L,
      s"commit range ($start, $end] carries $inRangeDeletes deletes — deleted keys are " +
        "invisible to an incremental read, so the maintained aggregate would drift")
    // write stats that OMIT the numDeletes field entirely (minimal-stats
    // writers) can't prove delete-freedom from metadata alone. For log
    // files the proof is recoverable: scan the referenced files for
    // in-range delete blocks — IO bounded by the commit range, the same
    // files the incremental read is about to touch anyway. COW rewrites
    // that silently drop rows remain undetectable from the read side;
    // that residue is the documented-advisory part of the contract.
    val unprovenPaths = t.timeline.instantsBetween(Some(start), Some(end)).iterator
      .flatMap(i => t.timeline.commitMetadata(i).path("partitionToWriteStats")
        .properties().asScala.iterator
        .flatMap(_.getValue.elements().asScala)
        .filter(_.path("numDeletes").isMissingNode)
        .flatMap(ws => Option(ws.path("path").asText(null))))
      .toVector.distinct
    val range = graft.log.InstantRange(Some(start), Some(end))
    for (rel <- unprovenPaths) {
      val name = rel.substring(rel.lastIndexOf('/') + 1)
      if (graft.fs.LogFile.parse(name, rel, 0L).isDefined) {
        val p = new org.apache.hadoop.fs.Path(t.basePath, rel)
        val blocks = graft.log.LogFileParser.applyRollbacks(
          graft.log.LogFileParser.parse(graft.util.ReadFully(p, t.hadoopConf), range))
        require(!blocks.exists(_.blockType == graft.log.LogFormat.DeleteBlock),
          s"commit range ($start, $end] carries delete log blocks in $rel (its write " +
            "stats omit numDeletes) — deleted keys are invisible to an incremental " +
            "read, so the maintained aggregate would drift")
      }
    }
    // a replacecommit can remove keys with NO numDeletes write stat
    // (insert_overwrite / insert_overwrite_table / delete_partition), so
    // the guard above can't see it. Clustering (operationType CLUSTER)
    // rewrites the same records into new file groups and is benign; an
    // absent/unknown operationType can't prove benignity, so it rejects.
    val destructiveReplaces = t.timeline.instantsBetween(Some(start), Some(end))
      .filter(_.action == "replacecommit")
      .filter { i =>
        val md = t.timeline.commitMetadata(i)
        val rep = md.path("partitionToReplaceFileIds")
        val replacesGroups = rep.isObject &&
          rep.properties().asScala.exists(_.getValue.elements().asScala.nonEmpty)
        replacesGroups && !md.path("operationType").asText("").equalsIgnoreCase("cluster")
      }
    require(destructiveReplaces.isEmpty,
      s"commit range ($start, $end] carries destructive replacecommit(s) at " +
        s"${destructiveReplaces.map(_.timestamp).mkString(", ")} — insert_overwrite / " +
        "delete_partition remove keys without delete write stats, so the maintained " +
        "aggregate would drift")
    val markers = Seq("__pre_g", "__pre_v", "__existed", "__v")
    require(!t.tableSchema.fieldNames.exists(markers.contains),
      s"table must not already carry the maintenance marker columns ${markers.mkString(", ")}")
  }

  /** The delta fold shared by both pre-image strategies: prior state,
    * plus additions for every batch row, minus retractions for batch
    * rows whose key had a pre-image.
    */
  private def foldDeltas(
      prior: DataFrame, joined: DataFrame, groupCol: String): DataFrame = {
    val additions = joined.select(col(groupCol), lit(1L).as("dn"), col("__v").as("ds"))
    val retractions = joined.filter(col("__existed").isNotNull)
      .select(col("__pre_g").as(groupCol), lit(-1L).as("dn"), (col("__pre_v") * -1).as("ds"))
    prior.select(col(groupCol), col("n").as("dn"), col("s").as("ds"))
      .unionByName(additions)
      .unionByName(retractions)
      .groupBy(groupCol)
      .agg(sum(col("dn")).as("n_rows"), sum(col("ds")).cast(DoubleType).as("total"))
      .filter(col("n_rows") > 0) // a group emptied by retraction disappears
      .orderBy(col(groupCol).asc_nulls_last) // DuckDB's ORDER BY default
  }

  private def dec(c: String) = col(c).cast(DecimalType(18, 4))

  /** (key, pre-group, pre-value, existed-marker) projection of a
    * pre-image relation.
    */
  private def preProjection(
      src: DataFrame, keys: Seq[String], groupCol: String, valueCol: String): DataFrame =
    src.select(
      keys.map(col) :+ col(groupCol).as("__pre_g") :+ dec(valueCol).as("__pre_v")
        :+ lit(1).as("__existed"): _*) // marker, NOT the pre columns: both can be real NULLs

  /** Maintained per-`groupCol` (count, sum of `valueCol`) at `end`,
    * derived from the aggregate at `start` plus the (start, end] deltas.
    * Output: groupCol, n_rows, total — groups emptied by retraction
    * disappear (count 0), matching a recomputed aggregate.
    */
  def maintainCountSum(
      t: HudiTable,
      start: String,
      end: String,
      groupCol: String,
      valueCol: String
  ): DataFrame = {
    checkMaintainable(t, start, end)
    maintainCountSumChecked(t, start, end, groupCol, valueCol)
  }

  /** [[maintainCountSum]] body with the range preconditions already
    * proven — shared with [[maintainCountSumIndexed]]'s fallbacks so the
    * driver-side log-scan proof in [[checkMaintainable]] runs once per
    * maintenance call, not once per fallback.
    */
  private def maintainCountSumChecked(
      t: HudiTable,
      start: String,
      end: String,
      groupCol: String,
      valueCol: String
  ): DataFrame = {
    val keys = t.config.recordKeyFields
    // ONE merge-on-read pass over the start snapshot serves BOTH consumers
    // (the prior aggregate and the pre-image join side): the narrow
    // (keys, group, value) projection is materialized eagerly per
    // invocation — without it Spark re-executes the full MOR merge scan
    // for each consumer (r15-opt plan audit: two identical BatchScans).
    // The materialized bytes are the projection, not the table; at scale
    // one log-merge pass + a narrow spill beats two log-merge passes.
    val startProj = graft.util.Materialize.once(t.snapshot(asOf = Some(start))
      .select(keys.map(col) :+ col(groupCol) :+ dec(valueCol).as("__sv"): _*))
    val prior = startProj
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum(col("__sv")).as("s"))
    val pre = startProj.select(
      keys.map(col) :+ col(groupCol).as("__pre_g") :+ col("__sv").as("__pre_v")
        :+ lit(1).as("__existed"): _*) // marker, NOT the pre columns: both can be real NULLs
    val joined = t.incremental(Some(start), Some(end))
      .select(keys.map(col) :+ col(groupCol) :+ dec(valueCol).as("__v"): _*)
      .join(pre, keys, "left")
    foldDeltas(prior, joined, groupCol)
  }

  /** [[maintainCountSum]] with the pre-image fetch served by the
    * metadata table's `record_index` partition: the batch's distinct
    * keys are point-looked-up ([[RecordIndex.lookup]]) to find the file
    * groups holding their pre-images, and ONLY those groups are read as
    * of `start` — at production scale the difference between scanning
    * 100 TB and scanning the handful of file groups a commit touched.
    *
    * `priorAgg` is the maintained state you already hold (columns:
    * groupCol, n, s with s DECIMAL(18,4)); when absent it is recomputed
    * from the start snapshot — which keeps the oracle twin verifiable
    * but re-introduces one full scan, so production callers pass it.
    *
    * Falls back to the scan path when the index is absent or unreadable
    * (structural errors from [[RecordIndex.lookup]] are caught here),
    * the key is composite (the index stores encoded composite keys this
    * fixture surface doesn't build), or the index's freshness can't be
    * proven sound for `start`-time pre-images. A batch whose distinct-key
    * count exceeds `maxIndexedKeys` stays indexed but switches to the
    * DISTRIBUTED lookup regime — keys shuffle to executors by index file
    * group instead of collecting on the driver:
    *
    *  - the index must have been written at a commit in `[start, end]` —
    *    an index behind `start` misses keys inserted before `start`
    *    (their pre-images would be dropped), and an index ahead of `end`
    *    may reflect deletes/relocations from commits this maintenance
    *    range never sees;
    *  - NO replacecommit may sit in `(start, end]`: clustering (benign
    *    for the scan path) relocates keys into file groups born after
    *    `start`, so the latest-location lookup would plan slices that
    *    don't exist as of `start` and lose those pre-images.
    */
  /** Index-freshness soundness for `start`-time pre-image planning: the
    * index must have been written at a commit in `[start, end]`. MDT
    * instants may carry an MDT-internal suffix (e.g. compaction's
    * trailing digits), so the upper bound compares on `end`'s length —
    * `end`+suffix still counts as "at end".
    */
  private[table] def indexFreshnessSound(asOf: String, start: String, end: String): Boolean =
    asOf >= start && asOf.take(end.length) <= end

  def maintainCountSumIndexed(
      t: HudiTable,
      start: String,
      end: String,
      groupCol: String,
      valueCol: String,
      priorAgg: Option[DataFrame] = None,
      maxIndexedKeys: Long = 4L << 20
  ): DataFrame = {
    checkMaintainable(t, start, end)
    val keys = t.config.recordKeyFields
    def scanPath(): DataFrame = maintainCountSumChecked(t, start, end, groupCol, valueCol)
    if (keys.size != 1 || !RecordIndex.isAvailable(t.config)) return scanPath()
    val anyReplaceInRange = t.timeline.instantsBetween(Some(start), Some(end))
      .exists(_.action == "replacecommit")
    if (anyReplaceInRange) return scanPath()

    val keyCol = keys.head
    val batch = t.incremental(Some(start), Some(end))
      .select(keys.map(col) :+ col(groupCol) :+ dec(valueCol).as("__v"): _*)
    // one job: take cap+1 distinct keys — over-cap shows up as the extra
    // row instead of a separate count() execution of the whole batch
    val cap = math.min(maxIndexedKeys, (Int.MaxValue - 2).toLong).toInt
    val keyRows = batch.select(col(keyCol).cast(StringType)).distinct().take(cap + 1)
    val overCap = keyRows.length > cap

    // Over the driver cap the key set never collects: keys shuffle to
    // executor tasks by their index file group ([[RecordIndex
    // .lookupDistributed]]) and only the DISTINCT touched file groups —
    // bounded by the table's file count, not the batch's key count —
    // come back for planning. Under the cap the driver point-lookup is
    // cheaper (no shuffle, no job).
    val (lookedUpAsOf, groups): (String, Map[String, Set[String]]) =
      try {
        if (overCap) {
          import t.spark.implicits._
          val keyDs = batch.select(col(keyCol).cast(StringType)).distinct().as[String]
          val (asOf, entries) = RecordIndex.lookupDistributed(t.basePath, keyDs, t.hadoopConf)
          val gs = entries.select("partitionPath", "fileId").distinct().collect()
            .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
          (asOf, gs)
        } else {
          val lookedUp = RecordIndex.lookup(t.basePath, keyRows.toSeq.map(_.getString(0)),
            t.hadoopConf)
          (lookedUp.asOf, lookedUp.entries.values
            .groupBy(_.partitionPath).view.mapValues(_.map(_.fileId).toSet).toMap)
        }
      } catch { case scala.util.control.NonFatal(_) => return scanPath() }
    if (!indexFreshnessSound(lookedUpAsOf, start, end)) return scanPath()
    // with the gates above proven: a key absent from the index has no
    // pre-image at `start` (no delete or relocation can hide one), and a
    // key located in a group born AFTER `start` was inserted in-window
    // (only inserts birth groups once replacecommits are excluded) — its
    // group plans no start-time slice, correctly landing it in the
    // insert branch alongside the absent keys
    val preImages =
      if (groups.isEmpty) HudiTable.emptyDf(t.spark, t.tableSchema)
      else t.snapshotForFileGroups(start, groups)

    val prior = priorAgg.getOrElse {
      t.snapshot(asOf = Some(start))
        .groupBy(groupCol)
        .agg(count(lit(1)).as("n"), sum(dec(valueCol)).as("s"))
    }
    val joined = batch.join(preProjection(preImages, keys, groupCol, valueCol), keys, "left")
    foldDeltas(prior, joined, groupCol)
  }

  /** Maintenance from the inferred CDC feed ([[graft.sources.CdcRead]]):
    * every change row already CARRIES its before/after images, so the
    * delta algebra needs no pre-image join at all — after-images add
    * (+1, +value), before-images retract (-1, -value), an update row does
    * both. Unlike the incremental-read strategies above this works
    * THROUGH delete commits (a delete is a before-only row — the exact
    * retraction an incremental read can never surface, which is why
    * [[checkMaintainable]] forbids deletes in their ranges) and through
    * insert-overwrite replacecommits (CDC diffs the replaced groups).
    * Per-commit chaining telescopes: a key updated at c1 and deleted at
    * c2 contributes (+new, -old) then (-new) — net exactly -old.
    *
    * Scale shape: CDC work ∝ change volume × commits (CdcRead's
    * contract); the fold is one keyed aggregate over prior ∪ deltas with
    * map-side partials. `priorAgg` is the maintained state you already
    * hold; absent, it recomputes from the start snapshot (the oracle
    * twin's verifiable-but-scanning form). Sums keep the DECIMAL(18,4)
    * discipline so maintained == recomputed bit-for-bit.
    */
  def maintainCountSumCdc(
      t: HudiTable,
      start: String,
      end: String,
      groupCol: String,
      valueCol: String,
      priorAgg: Option[DataFrame] = None
  ): DataFrame = {
    require(t.config.recordMergeStrategy != "APPEND_ONLY",
      "append-only tables keep every image in the snapshot — retraction-based " +
        "maintenance would double-count; recompute instead")
    val prior = priorAgg.getOrElse {
      t.snapshot(asOf = Some(start))
        .groupBy(groupCol)
        .agg(count(lit(1)).as("n"), sum(dec(valueCol)).as("s"))
    }
    val feed = t.cdc(Some(start), Some(end))
    val additions = feed.filter(col("after").isNotNull)
      .select(col(s"after.$groupCol").as(groupCol),
        lit(1L).as("dn"), dec(s"after.$valueCol").as("ds"))
    val retractions = feed.filter(col("before").isNotNull)
      .select(col(s"before.$groupCol").as(groupCol),
        lit(-1L).as("dn"), (dec(s"before.$valueCol") * -1).as("ds"))
    prior.select(col(groupCol), col("n").as("dn"), col("s").as("ds"))
      .unionByName(additions)
      .unionByName(retractions)
      .groupBy(groupCol)
      .agg(sum(col("dn")).as("n_rows"), sum(col("ds")).cast(DoubleType).as("total"))
      .filter(col("n_rows") > 0)
      .orderBy(col(groupCol).asc_nulls_last)
  }
}
