package graft.fs

import scala.collection.immutable.TreeMap

/** A Hudi base file, named `[fileId]_[writeToken]_[commitTs].[ext]`
  * (reference: crates/core/src/file_group/base_file/mod.rs:62-93).
  *
  * `commitTimestamp` is the request instant timestamp; for v8+ tables the
  * completion timestamp is looked up from the timeline and `None` means the
  * commit is pending (excluded from queries under timeline layout v2).
  */
final case class BaseFile(
    fileId: String,
    writeToken: String,
    commitTimestamp: String,
    completionTimestamp: Option[String],
    extension: String,
    path: String,
    size: Long
) {
  def fileName: String = s"${fileId}_${writeToken}_$commitTimestamp.$extension"
}

object BaseFile {
  /** Parse a base file name; None when the name doesn't match the format. */
  def parse(name: String, path: String, size: Long): Option[BaseFile] = {
    val dot = name.lastIndexOf('.')
    if (dot <= 0) return None
    val stem = name.substring(0, dot)
    val ext = name.substring(dot + 1)
    val parts = stem.split('_')
    if (parts.length < 3) return None
    Some(BaseFile(parts(0), parts(1), parts(2), None, ext, path, size))
  }
}

/** A Hudi log (delta) file, named
  * `.[fileId]_[baseOrDeltaTs].[ext].[version]_[writeToken]`
  * (reference: crates/core/src/file_group/log_file/mod.rs:69-123).
  *
  * For v6 tables `timestamp` is the base commit's timestamp; for v8+ it is
  * the deltacommit's request timestamp and `completionTimestamp` is set
  * from the timeline (None = pending, excluded under layout v2).
  */
final case class LogFile(
    fileId: String,
    timestamp: String,
    completionTimestamp: Option[String],
    extension: String,
    version: Int,
    writeToken: String,
    path: String,
    size: Long
) {
  def fileName: String = s".${fileId}_$timestamp.$extension.${version}_$writeToken"
  /** Scan-order key: completion ts when known (v8+), else name ts (v6);
    * version breaks ties among rolled-over files of one commit.
    */
  def orderingKey: (String, Int) = (completionTimestamp.getOrElse(timestamp), version)
}

object LogFile {
  /** Suffix marking a CDC SIDECAR log file (upstream Hudi's
    * `HoodieCDCUtils.CDC_LOGFILE_SUFFIX`, written when
    * `hoodie.table.cdc.enabled=true`): `.fid_ts.log.1_0-0-0-cdc`. These
    * hold change images, NOT table data — merging them into file slices
    * would double-apply every change, so [[parse]] rejects them and the
    * data model never sees them (the reference skips them the same way,
    * listing.rs:143). CDC reads locate them via commit metadata
    * `cdcStats`, never by listing.
    */
  val CdcSuffix = "-cdc"

  /** The name of the log a delta at `instant` appends to `slice`: v6
    * tables name it after the slice's BASE instant (the association key
    * [[FileGroup]] assembly anchors on), v8+ after the delta's own
    * instant; the version follows the slice's newest log; the write
    * token is `0-0-0`.
    */
  def nextName(slice: FileSlice, instant: String, tableVersion: Int): String = {
    val nameTs = if (tableVersion >= 8) instant else slice.commitTimestamp
    val version = slice.logFiles.map(_.version).maxOption.getOrElse(0) + 1
    s".${slice.fileId}_$nameTs.log.${version}_0-0-0"
  }

  def parse(name: String, path: String, size: Long): Option[LogFile] = {
    if (!name.startsWith(".")) return None
    if (name.endsWith(CdcSuffix)) return None
    val stripped = name.substring(1)
    val us = stripped.indexOf('_')
    if (us <= 0) return None
    val fileId = stripped.substring(0, us)
    val rest = stripped.substring(us + 1)
    val lastUs = rest.lastIndexOf('_')
    if (lastUs <= 0 || lastUs == rest.length - 1) return None
    val middle = rest.substring(0, lastUs)
    val writeToken = rest.substring(lastUs + 1)
    val mid = middle.split('.')
    if (mid.length != 3) return None
    val Array(ts, ext, verStr) = mid
    if (ts.isEmpty || ext.isEmpty || verStr.isEmpty) return None
    verStr.toIntOption.map(v => LogFile(fileId, ts, None, ext, v, writeToken, path, size))
  }
}

/** One version of a file group: a base file plus the log files merged onto
  * it (crates/core/src/file_group/file_slice.rs:31-40). Becomes one unit of
  * scan work — at the DSv2 layer, one InputPartition element.
  */
final case class FileSlice(
    partitionPath: String,
    fileId: String,
    commitTimestamp: String,
    baseFile: Option[BaseFile],
    logFiles: Vector[LogFile]
) {
  def hasLogFiles: Boolean = logFiles.nonEmpty
  def withoutLogs: FileSlice = copy(logFiles = Vector.empty)
  /** Planned bytes: base (when present) plus logs. */
  def totalSize: Long = baseFile.map(_.size).getOrElse(0L) + logFiles.map(_.size).sum
}

/** All versions of one file id within a partition; slices keyed by base
  * commit timestamp (crates/core/src/file_group/mod.rs:47-51).
  */
final case class FileGroup(
    fileId: String,
    partitionPath: String,
    slices: TreeMap[String, FileSlice]
) {
  /** Closest slice created on or before `ts` (mod.rs:265-271). */
  def sliceAsOf(ts: String): Option[FileSlice] =
    slices.rangeTo(ts).lastOption.map(_._2)
}

object FileGroup {
  /** Assemble file groups for one partition from parsed base/log files.
    *
    * Log association (crates/core/src/file_group/mod.rs:184-248): a log file
    * joins the slice with the largest base commit ts <= its completion ts
    * (v8+) or <= its name ts (v6). Logs that precede every base file form a
    * BASE-LESS slice keyed at the first such log's request instant — the
    * log-only file groups a MOR writer produces before first compaction
    * (this goes beyond the reference, whose TODO at mod.rs:195 silently
    * drops them; a snapshot there under-reports freshly-written rows).
    */
  def assemble(
      partitionPath: String,
      baseFiles: Seq[BaseFile],
      logFiles: Seq[LogFile]
  ): Vector[FileGroup] = {
    val byId = baseFiles.groupBy(_.fileId)
    val logsById = logFiles.groupBy(_.fileId)
    (byId.keySet ++ logsById.keySet).toVector.sorted.map { fileId =>
      // Keep one base file per commit ts (retries share ts, differ by token;
      // the reference keeps the first added — any one is authoritative).
      val slices0 = TreeMap.newBuilder[String, FileSlice]
      byId.getOrElse(fileId, Nil).groupBy(_.commitTimestamp).foreach { case (ts, bs) =>
        slices0 += ts -> FileSlice(partitionPath, fileId, ts, Some(bs.minBy(_.writeToken)), Vector.empty)
      }
      var slices = slices0.result()
      val logs = logsById.getOrElse(fileId, Nil)
      for (lf <- logs.sortBy(_.orderingKey)) {
        val anchor = lf.completionTimestamp.getOrElse(lf.timestamp)
        slices.rangeTo(anchor).lastOption match {
          case Some((ts, slice)) =>
            slices = slices.updated(ts, slice.copy(logFiles = slice.logFiles :+ lf))
          case None =>
            // no slice precedes this log: the file group was created by a
            // deltacommit — seed the log-only slice at this log's request
            // instant. Logs processed later in ordering-key order anchor
            // at or after this key, so one seed slice per group suffices.
            slices = slices.updated(lf.timestamp,
              FileSlice(partitionPath, fileId, lf.timestamp, None, Vector(lf)))
        }
      }
      FileGroup(fileId, partitionPath, slices)
    }
  }
}
