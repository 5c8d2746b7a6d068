package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.io.Storage
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

import scala.jdk.CollectionConverters._

/** A timeline instant — one transaction-log entry.
  *
  * Filename formats (crates/core/src/timeline/instant.rs:107-183):
  *  - pending:       `{timestamp}.{action}.{requested|inflight}`, plus the
  *                   bare v6 commit form `{timestamp}.inflight`
  *  - pre-v8:        `{timestamp}.{action}` once completed
  *  - v8+ completed: `{requestedTs}_{completedTs}.{action}`
  *
  * `timestamp` is the request timestamp (ordering + identity);
  * `completionTimestamp` only exists for v8+ completed instants.
  */
final case class HoodieInstant(
    timestamp: String,
    completionTimestamp: Option[String],
    action: String,
    state: String
) {
  def isCompleted: Boolean = state == HoodieInstant.Completed
  /** This instant's timeline file name. A bare v6 `{ts}.inflight` parses
    * to the commit instant this renders as `{ts}.commit.inflight`.
    */
  def fileName: String = {
    val tsPart = completionTimestamp.fold(timestamp)(c => s"${timestamp}_$c")
    if (isCompleted) s"$tsPart.$action" else s"$tsPart.$action.$state"
  }
}

object HoodieInstant {
  val Completed = "completed"
  val Inflight = "inflight"
  val Requested = "requested"
  /** Actions the reader loads (commit/deltacommit/replacecommit). */
  val LoadingActions: Set[String] = Set("commit", "deltacommit", "replacecommit")

  private val tsRe = "^\\d{14}(\\d{3})?$".r
  private val States = Set(Completed, Inflight, Requested)

  /** Parse any timeline file name — every action, every state; None for
    * files that are not instants (`hoodie.properties`, `.crc` siblings).
    */
  def parseAny(fileName: String): Option[HoodieInstant] = {
    val dot = fileName.indexOf('.')
    if (dot <= 0) return None
    val (action, state) = fileName.substring(dot + 1).split("\\.", 2) match {
      case Array(Inflight) => ("commit", Inflight)
      case Array(a) => (a, Completed)
      case Array(a, st) => (a, st.toLowerCase(java.util.Locale.ROOT))
      case _ => return None
    }
    if (action.isEmpty || !States.contains(state)) return None
    fileName.substring(0, dot).split("_", 2) match {
      case Array(ts) if tsRe.matches(ts) =>
        Some(HoodieInstant(ts, None, action, state))
      case Array(req, compl) if tsRe.matches(req) && tsRe.matches(compl) && state == Completed =>
        Some(HoodieInstant(req, Some(compl), action, state))
      case _ => None
    }
  }

  /** Parse a timeline filename; None when it isn't a loadable instant. */
  def parse(fileName: String): Option[HoodieInstant] =
    parseAny(fileName).filter(i => LoadingActions.contains(i.action))
}

/** The active timeline: every instant listed from `.hoodie/` (v6) or
  * `.hoodie/<timeline.path>/` (v8+), the completed commit/deltacommit/
  * replacecommit ones the reader loads, plus commit-metadata access
  * (crates/core/src/timeline/mod.rs).
  *
  * One codec: this file (with [[HoodieInstant]]) is the only code that
  * knows the timeline's directory and file names, for reading and for
  * writing ([[begin]]). One listing: each `Timeline` lists its directory
  * once, and every view of it — completed, pending, rollback-like,
  * savepoints and the open-table cache's [[signature]] — derives from
  * that listing.
  *
  * All of this is driver-side metadata work — file listings and small JSON
  * reads; at 100 TB the cost is bounded by the number of commits, not data.
  */
final class Timeline(
    val basePath: String,
    val config: HoodieConfig,
    hadoopConf: Configuration
) {

  private val mapper = new ObjectMapper()

  /** The active-timeline directory. */
  private[graft] val dir: Path = Timeline.dir(basePath, config)

  private val listing: Vector[FileStatus] = Timeline.list(dir, hadoopConf)

  /** (name, length, mtime) of every file this timeline was built from —
    * instant files are immutable by contract, so it changes iff the
    * timeline changed. The open-table cache keys on it.
    */
  private[graft] lazy val signature: String = Timeline.signatureOf(listing)

  /** Every instant on the active timeline, any action and state, ascending
    * by (request timestamp, action, state).
    */
  val instants: Vector[HoodieInstant] =
    listing.flatMap(st => HoodieInstant.parseAny(st.getPath.getName))
      .sortBy(i => (i.timestamp, i.action, i.state))

  /** All completed loadable instants, ascending by request timestamp. */
  val completedInstants: Vector[HoodieInstant] =
    instants.filter(i => i.isCompleted && HoodieInstant.LoadingActions.contains(i.action))

  def latestCommitTimestamp: Option[String] = completedInstants.lastOption.map(_.timestamp)

  /** Request timestamps of rollback/restore instants in ANY state — these
    * are not loadable instants (LoadingActions), but the as-of log pruning
    * ([[graft.fs.FsView]]) must stand down when one exists past the as-of
    * point: a rollback's COMMAND blocks may target earlier instants, and
    * the reference scanner never range-skips command blocks, so dropping
    * the log file that carries them would resurrect rolled-back data.
    * Inflight ones count too — a crashed rollback may have appended its
    * command block before completing.
    */
  lazy val rollbackLikeTimestamps: Vector[String] =
    instants.filter(i => i.action == "rollback" || i.action == "restore")
      .map(_.timestamp).distinct.sorted

  /** Requested/inflight instants with NO completed counterpart for the
    * SAME (timestamp, action) — completed instants keep their markers on
    * disk, and multi-writer same-instant pairs must not mask each other:
    * a completed deltacommit at ts does not excuse an inflight commit at
    * ts. A compaction COMPLETES as a `commit` (real Hudi's naming), so
    * `{ts}.commit` discharges its markers.
    */
  lazy val pendingInstants: Vector[HoodieInstant] = {
    val done = instants.filter(_.isCompleted).map(i => (i.timestamp, i.action)).toSet
    instants.filter { i =>
      !i.isCompleted && !done((i.timestamp, i.action)) &&
        !(i.action == "compaction" && done((i.timestamp, "commit")))
    }.distinctBy(i => (i.timestamp, i.action))
  }

  /** Request timestamps of completed savepoints, ascending. */
  def savepointTimestamps: Vector[String] =
    instants.filter(i => i.isCompleted && i.action == "savepoint").map(_.timestamp).distinct

  /** [[Timeline.begin]] on this table's timeline. */
  def begin(action: String, ts: String, plan: String = ""): Timeline.Pending =
    Timeline.begin(basePath, config, hadoopConf, action, ts, plan)

  /** Delete `instant`'s file; whether it existed. */
  def delete(instant: HoodieInstant): Boolean =
    dir.getFileSystem(hadoopConf).delete(new Path(dir, instant.fileName), false)

  /** Completed instants whose *request* timestamp is <= `ts`, matching the
    * reference's as-of selection (timeline/mod.rs
    * get_completed_instants_at_or_before: "whose request timestamp is ≤
    * timestamp"). Completion timestamps are reserved for log-file slice
    * association (CompletionTimeView), not visibility selection.
    */
  def instantsAsOf(ts: String): Vector[HoodieInstant] =
    completedInstants.filter(_.timestamp <= ts)

  /** Completed instants in the half-open range `(start, end]` by request ts. */
  def instantsBetween(start: Option[String], end: Option[String]): Vector[HoodieInstant] =
    completedInstants.filter { i =>
      val t = i.timestamp
      start.forall(t > _) && end.forall(t <= _)
    }

  /** T1: instant selection by action set + closed `[start, end]` range
    * (reference TimelineSelector, timeline/selector.rs:138-250).
    */
  def select(
      actions: Set[String],
      start: Option[String] = None,
      end: Option[String] = None
  ): Vector[HoodieInstant] =
    completedInstants.filter { i =>
      actions.contains(i.action) &&
        start.forall(i.timestamp >= _) && end.forall(i.timestamp <= _)
    }

  /** request-ts → completion-ts lookup, memoized: FsView consults this
    * once per listed file, so a linear find would make planning
    * O(files × instants) on the driver (the reference builds the same
    * one-time map, view.rs build_completion_time_map).
    */
  private lazy val completionByRequest: Map[String, Option[String]] = {
    // First-wins: two completed instants can share a request timestamp
    // (e.g. a commit and a clean requested at the same instant time);
    // the pre-memoization code was `completedInstants.find(...)`, which
    // returned the FIRST match in (timestamp, action) order, so the map
    // must preserve that — `.toMap` would silently keep the last.
    val m = scala.collection.mutable.HashMap.empty[String, Option[String]]
    completedInstants.foreach(i => if (!m.contains(i.timestamp)) m(i.timestamp) = i.completionTimestamp)
    m.toMap
  }

  /** Map request-ts → completion-ts for v8+ tables (None entries for v6). */
  def completionTimeOf(requestTs: String): Option[String] =
    completionByRequest.getOrElse(requestTs, None)

  /** Whether `requestTs` corresponds to a completed instant. */
  def isCompletedCommit(requestTs: String): Boolean =
    completionByRequest.contains(requestTs)

  /** Commit metadata for a completed instant, as a JSON tree. v6 writes
    * plain JSON; v8+ writes an Avro object-container file
    * (`HoodieCommitMetadata` with its schema embedded) — detected by the
    * `Obj` magic and rendered through Avro's JSON form so both
    * layouts serve the same accessors.
    */
  private val metadataCache =
    new java.util.concurrent.ConcurrentHashMap[String, JsonNode]()

  def commitMetadata(instant: HoodieInstant): JsonNode =
    metadataCache.computeIfAbsent(instant.fileName, _ => loadCommitMetadata(instant))

  /** One small file read per instant; memoized per Timeline instance — a
    * timeline is a snapshot in time, and planning consults the same
    * instants repeatedly (replaced groups, touched groups, schema).
    */
  private def loadCommitMetadata(instant: HoodieInstant): JsonNode = {
    val fs = dir.getFileSystem(hadoopConf)
    val p = new Path(dir, instant.fileName)
    val bytes = graft.util.ReadFully(fs, p)
    if (bytes.length >= 4 && bytes(0) == 'O' && bytes(1) == 'b' && bytes(2) == 'j' && bytes(3) == 1) {
      import org.apache.avro.file.DataFileStream
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      val reader = new DataFileStream[GenericRecord](
        new java.io.ByteArrayInputStream(bytes), new GenericDatumReader[GenericRecord]())
      try {
        if (reader.hasNext) mapper.readTree(reader.next().toString)
        else mapper.createObjectNode()
      } finally reader.close()
    } else mapper.readTree(bytes)
  }

  /** (partition → fileIds) touched by an instant, from
    * `partitionToWriteStats` in its commit metadata.
    */
  def touchedFileGroups(instant: HoodieInstant): Map[String, Set[String]] = {
    val md = commitMetadata(instant)
    val stats = md.path("partitionToWriteStats")
    if (stats.isMissingNode || !stats.isObject) Map.empty
    else
      stats.properties().asScala.map { e =>
        val ids = e.getValue.elements().asScala
          .flatMap(ws => Option(ws.path("fileId").asText(null)))
          .filter(_ != null).toSet
        e.getKey -> ids
      }.toMap
  }

  /** fileId → whether the instant's write stat records a PREVIOUS file
    * version for that group (`prevCommit` other than Hudi's literal
    * "null" sentinel). A pre-existing group whose before-state the
    * cleaner has since removed is how an inferred per-commit diff goes
    * silently wrong — this is the metadata that lets callers detect it.
    */
  def touchedGroupsPreExisting(instant: HoodieInstant): Map[String, Boolean] =
    touchedGroupsPrevCommit(instant).view.mapValues(_.isDefined).toMap

  /** fileId → the recorded `prevCommit` instant when the group
    * PRE-EXISTED this write (None = fresh group, Hudi's literal "null"
    * sentinel). The VALUE matters, not just its presence: it names the
    * exact slice version the write built on, which is what lets a
    * before-image read verify it is seeing that version and not an older
    * savepoint-retained one the cleaner left behind.
    */
  def touchedGroupsPrevCommit(instant: HoodieInstant): Map[String, Option[String]] = {
    val md = commitMetadata(instant)
    val stats = md.path("partitionToWriteStats")
    if (stats.isMissingNode || !stats.isObject) Map.empty
    else
      stats.properties().asScala.flatMap(_.getValue.elements().asScala).flatMap { ws =>
        Option(ws.path("fileId").asText(null)).filter(_.nonEmpty).map { fid =>
          val prev = ws.path("prevCommit").asText("null")
          fid -> Option(prev).filter(p => p.nonEmpty && !p.equalsIgnoreCase("null"))
        }
      }.toSeq.groupMapReduce(_._1)(_._2)((a, b) => if (a.isDefined) a else b)
  }

  /** fileId → base-path-relative CDC sidecar files written by this
    * instant, from each write stat's `cdcStats` map (upstream
    * HoodieWriteStat.cdcStats; path → bytes — written only when
    * `hoodie.table.cdc.enabled=true`). A group appearing here has its
    * exact change images persisted, so a CDC read can serve it with IO
    * proportional to the cdc bytes instead of inferring from two
    * snapshot reads. Empty for instants without supplemental logging.
    */
  def cdcFiles(instant: HoodieInstant): Map[String, Seq[String]] = {
    val md = commitMetadata(instant)
    val stats = md.path("partitionToWriteStats")
    if (stats.isMissingNode || !stats.isObject) Map.empty
    else
      stats.properties().asScala.flatMap(_.getValue.elements().asScala).flatMap { ws =>
        val fid = ws.path("fileId").asText("")
        val cdc = ws.path("cdcStats")
        if (fid.isEmpty || !cdc.isObject || cdc.isEmpty) None
        else Some(fid -> cdc.properties().asScala.map(_.getKey).toSeq)
      }.toSeq.groupMapReduce(_._1)(_._2)(_ ++ _)
  }

  /** File groups replaced (clustering / insert-overwrite) as of `ts` —
    * excluded from snapshot views (R4, timeline/mod.rs:302-320).
    */
  def replacedFileGroupsAsOf(ts: String): Map[String, Set[String]] =
    mergeReplaced(instantsAsOf(ts))

  /** (partition → fileIds) REPLACED by one instant, from its
    * `partitionToReplaceFileIds` — empty for non-replacecommits. The
    * per-instant view (vs the merged as-of/between forms above) is what
    * inferred CDC needs: an insert-overwrite's before-image is exactly
    * the groups THIS commit replaced, read as of its predecessor
    * (reference replace handling: timeline/mod.rs:302-320).
    */
  def replacedFileGroups(instant: HoodieInstant): Map[String, Set[String]] = {
    if (instant.action != "replacecommit") return Map.empty
    val rep = commitMetadata(instant).path("partitionToReplaceFileIds")
    if (!rep.isObject) Map.empty
    else rep.properties().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSet
    }.toMap
  }

  /** Replaced groups within `(start, end]` for incremental diffs. */
  def replacedFileGroupsBetween(start: Option[String], end: Option[String]): Map[String, Set[String]] =
    mergeReplaced(instantsBetween(start, end))

  private def mergeReplaced(instants: Vector[HoodieInstant]): Map[String, Set[String]] = {
    val acc = scala.collection.mutable.Map.empty[String, Set[String]]
    for (i <- instants if i.action == "replacecommit") {
      val md = commitMetadata(i)
      val rep = md.path("partitionToReplaceFileIds")
      if (rep.isObject) {
        rep.properties().asScala.foreach { e =>
          val ids = e.getValue.elements().asScala.map(_.asText()).toSet
          acc(e.getKey) = acc.getOrElse(e.getKey, Set.empty) ++ ids
        }
      }
    }
    acc.toMap
  }

  /** Latest commit-metadata schema (extraMetadata.schema Avro JSON), if any. */
  def latestSchemaAvro: Option[String] =
    completedInstants.reverseIterator.flatMap { i =>
      val md = commitMetadata(i)
      Option(md.path("extraMetadata").path("schema").asText(null)).filter(_.nonEmpty)
    }.nextOption()

  // ---- T4: archived timeline ---------------------------------------------

  /** Whether archived-timeline reads are enabled
    * (`hoodie.internal.timeline.archived.enabled`, default false —
    * config/internal.rs:60-84).
    */
  def archivedReadEnabled: Boolean =
    config.getOrElse("hoodie.internal.timeline.archived.enabled", "false").toBoolean

  /** v1 archived instants from the archive folder
    * (`hoodie.archivelog.folder`, default `.hoodie/archived`): list the dir
    * and keep files that parse as instants — the reference's V1Archived
    * loader behavior (loader.rs load_archived_instants; its v8 LSM-history
    * reader is an explicit TODO returning empty, mirrored here).
    */
  def archivedInstants: Vector[HoodieInstant] = {
    if (config.tableVersion >= 8) return lsmArchivedInstants(None, None)
    val folder = config.getOrElse("hoodie.archivelog.folder", ".hoodie/archived")
    val archive = if (folder.startsWith(".hoodie")) new Path(basePath, folder)
              else new Path(new Path(basePath, ".hoodie"), folder)
    Timeline.list(archive, hadoopConf)
      .flatMap(st => HoodieInstant.parse(st.getPath.getName))
      .filter(_.isCompleted)
      .sortBy(i => (i.timestamp, i.action))
  }

  /** v8+ LSM timeline-history data files — BEYOND the reference, whose
    * V2Archived loader is a TODO returning empty (loader.rs:256). The
    * manifest's parquet files carry `HoodieLSMTimelineInstant` records
    * (apache/hudi LSMTimeline schema: instantTime, completionTime,
    * action, metadata, plan); the three identity columns decode into
    * completed instants. Manifest min/max instants prune files outside
    * the requested range — the LSM tree's point — so a time-filtered
    * selection reads only overlapping files.
    */
  private def lsmArchivedInstants(
      start: Option[String], end: Option[String]): Vector[HoodieInstant] =
    readHistoryManifest() match {
      case None => Vector.empty
      case Some(m) =>
        val historyPath = config.getOrElse("hoodie.timeline.history.path", "history")
        val hist = new Path(dir, historyPath)
        val fs = hist.getFileSystem(hadoopConf)
        m.entries.iterator
          .filter(e => start.forall(e.maxInstant >= _) && end.forall(e.minInstant <= _))
          .flatMap { e =>
            val p = new Path(hist, e.fileName)
            if (!fs.exists(p)) Iterator.empty
            else {
              val (schema, rows) = graft.log.ParquetBlock.decode(graft.util.ReadFully(fs, p))
              def idx(n: String): Option[Int] =
                if (schema.fieldNames.contains(n)) Some(schema.fieldIndex(n)) else None
              (idx("instantTime"), idx("action")) match {
                case (Some(ti), Some(ai)) =>
                  val ci = idx("completionTime")
                  rows.iterator.flatMap { r =>
                    val ts = if (r.isNullAt(ti)) null else r.getString(ti)
                    val act = if (r.isNullAt(ai)) null else r.getString(ai)
                    if (ts == null || act == null) Iterator.empty
                    else {
                      val comp = ci.filterNot(r.isNullAt).map(r.getString)
                      Iterator.single(HoodieInstant(ts, comp, act, HoodieInstant.Completed))
                    }
                  }
                case _ => Iterator.empty // not an instant data file
              }
            }
          }
          .toVector
          .distinctBy(i => (i.timestamp, i.action))
          .sortBy(i => (i.timestamp, i.action))
    }

  /** Time-filtered instant selection including archived history when BOTH
    * gates hold: a time filter is present AND archived reads are enabled
    * (the reference's double-gate, timeline/mod.rs:100-135).
    */
  def selectWithArchived(
      actions: Set[String],
      start: Option[String] = None,
      end: Option[String] = None
  ): Vector[HoodieInstant] = {
    val active = select(actions, start, end)
    val hasTimeFilter = start.isDefined || end.isDefined
    if (!hasTimeFilter || !archivedReadEnabled) active
    else {
      // v8 passes the range down so manifest min/max prunes LSM files
      val loaded =
        if (config.tableVersion >= 8) lsmArchivedInstants(start, end)
        else archivedInstants
      val archived = loaded.filter { i =>
        actions.contains(i.action) &&
          start.forall(i.timestamp >= _) && end.forall(i.timestamp <= _)
      }
      (archived ++ active).distinctBy(i => (i.timestamp, i.action))
        .sortBy(i => (i.timestamp, i.action))
    }
  }

  /** LSM timeline-history manifest for v8+ tables
    * (`.hoodie/<timeline.path>/<history.path>/`): `_version_` names the
    * current `manifest_<v>` JSON (lsm_tree.rs:28-109). None when absent.
    */
  def readHistoryManifest(): Option[TimelineManifest] = {
    val historyPath = config.getOrElse("hoodie.timeline.history.path", "history")
    val hist = new Path(dir, historyPath)
    val fs = hist.getFileSystem(hadoopConf)
    val versionFile = new Path(hist, "_version_")
    if (!fs.exists(versionFile)) return None
    def readString(p: Path): String =
      new String(graft.util.ReadFully(fs, p), "UTF-8")
    try {
      val version = readString(versionFile).trim.toLong
      val node = mapper.readTree(readString(new Path(hist, s"manifest_$version")))
      val entries = node.path("entries").elements().asScala.map { e =>
        ManifestEntry(
          fileName = e.path("file_name").asText(""),
          minInstant = e.path("min_instant").asText(""),
          maxInstant = e.path("max_instant").asText(""),
          level = e.path("level").asInt(0),
          fileSize = e.path("file_size").asLong(0L))
      }.toVector
      Some(TimelineManifest(node.path("version").asLong(version), entries))
    } catch { case _: Exception => None }
  }
}

object Timeline {

  /** The timeline directory of the table at `basePath`: `.hoodie/` on
    * v6, `.hoodie/<hoodie.timeline.path>/` on v8+.
    */
  def dir(basePath: String, config: HoodieConfig): Path = {
    val hoodie = new Path(basePath, ".hoodie")
    if (config.timelinePath.nonEmpty) new Path(hoodie, config.timelinePath) else hoodie
  }

  /** The files in `dir`; none when it does not exist yet. */
  private def list(dir: Path, conf: Configuration): Vector[FileStatus] =
    try dir.getFileSystem(conf).listStatus(dir).iterator.filter(_.isFile).toVector
    catch { case _: java.io.FileNotFoundException => Vector.empty }

  private def signatureOf(files: Vector[FileStatus]): String =
    files.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")

  /** The [[Timeline.signature]] a fresh listing of `dir` would give. */
  private[graft] def signature(dir: Path, conf: Configuration): String =
    signatureOf(list(dir, conf))

  /** Begin `action` at request timestamp `ts` on the timeline of the
    * table at `basePath`: writes `{ts}.{action}.requested` carrying `plan`,
    * then the empty `{ts}.{action}.inflight`. The returned handle
    * completes it. Needs no listing, so a new table's first commit can
    * call it before any `Timeline` exists.
    */
  def begin(
      basePath: String,
      config: HoodieConfig,
      conf: Configuration,
      action: String,
      ts: String,
      plan: String = ""): Pending = {
    val pending = new Pending(dir(basePath, config), config, Storage(conf), ts, action)
    pending.write(HoodieInstant(ts, None, action, HoodieInstant.Requested), plan)
    pending.write(HoodieInstant(ts, None, action, HoodieInstant.Inflight), "")
    pending
  }

  /** A begun instant, requested and inflight on the timeline. */
  final class Pending private[Timeline] (
      dir: Path,
      config: HoodieConfig,
      storage: Storage,
      timestamp: String,
      action: String) {

    private[Timeline] def write(instant: HoodieInstant, body: String): Unit =
      storage.writeFile(new Path(dir, instant.fileName), body.getBytes("UTF-8"),
        overwrite = true)

    /** Write the completed instant carrying `body` under the layout's
      * name — `{ts}.{action}` on v6, `{ts}_{completion}.{action}` on v8+,
      * the completion just an instant strictly after the request — where
      * a compaction completes as a `commit` (real Hudi's naming).
      */
    def complete(body: String): HoodieInstant = {
      val done = HoodieInstant(timestamp,
        if (config.tableVersion >= 8) Some(instantAfter(timestamp, config.timelineTimezone))
        else None,
        if (action == "compaction") "commit" else action, HoodieInstant.Completed)
      write(done, body)
      done
    }
  }

  /** Millisecond-resolution timeline instant (the 17-digit form),
    * strictly after `floor` — wall clock, bumped on collision like real
    * Hudi's instant generation — in the table's timeline timezone
    * (`hoodie.table.timeline.timezone`): readers interpret instants in
    * that zone, so a LOCAL-timezone table appended with UTC stamps would
    * skew CDC ts_ms by the offset.
    */
  def instantAfter(floor: String, timelineTimezone: String = "UTC"): String = {
    val now = Timestamps.normalize(System.currentTimeMillis().toString, timelineTimezone)
    if (now > floor) now else (Timestamps.normalize(floor).toLong + 1).toString
  }
}

/** LSM timeline-history manifest model (lsm_tree.rs:28-50): each entry is
  * a compacted timeline file covering an instant range at an LSM level.
  */
final case class TimelineManifest(version: Long, entries: Vector[ManifestEntry])

final case class ManifestEntry(
    fileName: String,
    minInstant: String,
    maxInstant: String,
    level: Int,
    fileSize: Long)
