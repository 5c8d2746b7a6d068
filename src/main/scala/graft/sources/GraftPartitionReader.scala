package graft.sources

import graft.log.{InstantRange, LogFileParser, LogFormat}
import graft.util.SerializableConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Executor-side slice reader: base parquet rows via Spark's delegated
  * parquet reader, plus — for MOR slices — a streaming per-slice merge:
  * log records are decoded into an in-memory map keyed by record key (the
  * small side; Hudi log files are bounded by the writer's roll size) and
  * the base file STREAMS against it, so memory is proportional to the
  * delta, not the file group, and the merge needs no shuffle at all. This
  * mirrors the reference's per-slice FileGroupReader execution
  * (crates/core/src/file_group/reader.rs:205-279); [[SliceMergeState]]
  * is the engine's only MOR merge implementation.
  */
class GraftReaderFactory(
    readFn: PartitionedFile => Iterator[InternalRow],
    widenedJson: String,
    requiredJson: String,
    orderingField: Option[String],
    mergeStrategy: String,
    conf: SerializableConf,
    endTs: Option[String],
    partitionSchemaJson: Option[String] = None,
    hiveStyle: Boolean = false,
    urlEncoded: Boolean = false,
    columnar: Boolean = false,
    populatesMetaFields: Boolean = true,
    limit: Option[Int] = None,
    rangeFilterColumnar: Boolean = false,
    emitDeletes: Boolean = false,
    mergeColumnar: Boolean = false,
    nullSentinels: Seq[String] = Nil
) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val counters = new ReaderCounters
    val chained = new ChainedPartitionReader[InternalRow](p.slices.map(sl => () =>
      new GraftPartitionReader(sl, readFn, widenedJson, requiredJson,
        orderingField, mergeStrategy, conf, p.commitEnd.orElse(endTs), p.commitStart,
        partitionSchemaJson, hiveStyle, urlEncoded, populatesMetaFields, counters,
        emitDeletes, nullSentinels)),
      () => counters.snapshot)
    limit.fold(chained: PartitionReader[InternalRow])(new LimitedPartitionReader(chained, _))
  }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val counters = new ReaderCounters
    // no batch truncation for a pushed limit: Spark's own limit stops
    // pulling batches, which bounds work without slicing vectors
    new ChainedPartitionReader(p.slices.map(sl => () =>
      // per-slice routing under a columnar MOR snapshot (mergeColumnar):
      // slices with logs merge in batch-land, log-free slices keep the
      // plain pass-through reader
      if (mergeColumnar && (sl.hasLogFiles || sl.baseFile.isEmpty))
        new GraftColumnarMergeReader(sl, readFn, widenedJson, requiredJson,
          orderingField, mergeStrategy, conf, p.commitEnd.orElse(endTs),
          partitionSchemaJson, hiveStyle, urlEncoded, counters,
          commitStart = p.commitStart, emitDeletes = emitDeletes,
          nullSentinels = nullSentinels)
      else {
        // under a ranged merge scan (mergeColumnar + a start bound) the
        // chunk's LOG-FREE slices need the same exact commit-range
        // selection the merge reader applies; a start-less scan applies
        // none (the row path's commitRangeFilter contract — planning
        // already bounds files as-of the end instant)
        val ranged = rangeFilterColumnar || (mergeColumnar && p.commitStart.isDefined)
        new GraftColumnarReader(sl, readFn, widenedJson, requiredJson,
          partitionSchemaJson, hiveStyle, urlEncoded,
          commitStart = if (ranged) p.commitStart else None,
          commitEnd = if (ranged) p.commitEnd.orElse(endTs) else None,
          counters = counters, nullSentinels = nullSentinels)
      }),
      () => counters.snapshot)
  }
}

/** Sequential composition of per-slice readers — one InputPartition holds
  * a CHUNK of slices (table/mod.rs:69-86 split_into_chunks), so task count
  * stays bounded on many-slice tables. Sub-readers are created lazily and
  * closed as soon as they drain.
  */
class ChainedPartitionReader[T](
    parts: Seq[() => PartitionReader[T]],
    metrics: () => Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      () => Array.empty
) extends PartitionReader[T] {
  private var idx = 0
  private var cur: PartitionReader[T] = _

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    metrics()

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (idx >= parts.size) return false
        cur = parts(idx)()
        idx += 1
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false
  }

  override def get(): T = cur.get()

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Pushed-limit row budget (L1, hudi_exec.rs:127-168): stop the partition
  * after `limit` rows — Spark's global limit still applies above (partial
  * pushdown contract).
  */
class LimitedPartitionReader(inner: PartitionReader[InternalRow], limit: Int)
    extends PartitionReader[InternalRow] {
  private var seen = 0
  override def next(): Boolean = seen < limit && inner.next() && { seen += 1; true }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.currentMetricsValues()
}

/** Typed partition-value parsing shared by the row and columnar readers:
  * dropped partition columns (P6) are re-derived from the slice's
  * partition path and travel through the parquet delegate's
  * partitionValues mechanism.
  */
private[sources] object PartitionValues {
  def forSlice(
      slice: graft.fs.FileSlice,
      partitionSchemaJson: Option[String],
      hiveStyle: Boolean,
      urlEncoded: Boolean,
      // version-gated null-sentinel renderings (HoodieConfig): a
      // STRING-typed dropped partition field's sentinel segment stands
      // for NULL, not its own rendering — without this filter the
      // literal '__HIVE_DEFAULT_PARTITION__' would surface as a row
      // value (typed fields were already safe: the sentinel fails their
      // strict parse and injects NULL via the orNull below)
      nullSentinels: Seq[String] = Nil): InternalRow = partitionSchemaJson match {
    case None => InternalRow.empty
    case Some(json) =>
      val ps = DataType.fromJson(json).asInstanceOf[StructType]
      val fieldTypes = ps.fields.map(f => f.name -> (f.dataType match {
        case IntegerType | ShortType | ByteType => "int"
        case LongType => "long"
        case DoubleType | FloatType => "double"
        case DateType => "date"
        case _ => "string"
      })).toSeq
      val parsed = new graft.fs.PartitionPruner(fieldTypes, hiveStyle, urlEncoded, Nil)
        .parseSegmentsLenient(slice.partitionPath).getOrElse(Map.empty)
        .filterNot { case (_, v) =>
          v.isInstanceOf[String] && nullSentinels.contains(v.asInstanceOf[String])
        }
      val vals = ps.fields.map { f =>
        val ext = parsed.get(f.name).map {
          case d: java.time.LocalDate => java.sql.Date.valueOf(d)
          case other => other
        }.orNull
        CatalystTypeConverters.createToCatalystConverter(f.dataType)(ext)
      }
      new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }
}

/** Columnar slice reader for log-free scans (COW / MOR read-optimized /
  * MOR snapshots whose planned slices carry no logs): Spark's vectorized
  * parquet reader yields `ColumnarBatch`es through the
  * `Iterator[InternalRow]` erasure contract (the same cast
  * `FileSourceScanExec` performs), and the only work here is permuting
  * columns when the delegate's output order (required-minus-dropped ++
  * partition cols) differs from the query's projection order. This is the
  * Spark analog of the reference routing COW scans to DataFusion's native
  * `ParquetSource` (crates/datafusion/src/lib.rs:399-417, 626-695).
  */
class GraftColumnarReader(
    slice: graft.fs.FileSlice,
    readFn: PartitionedFile => Iterator[InternalRow],
    widenedJson: String,
    requiredJson: String,
    partitionSchemaJson: Option[String],
    hiveStyle: Boolean,
    urlEncoded: Boolean,
    commitStart: Option[String] = None,
    commitEnd: Option[String] = None,
    counters: ReaderCounters = new ReaderCounters,
    nullSentinels: Seq[String] = Nil
) extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  counters.slicesRead += 1

  private val widened = DataType.fromJson(widenedJson).asInstanceOf[StructType]
  private val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
  private val outIdx: Array[Int] = required.fields.map(f => widened.fieldIndex(f.name))
  private val identityProjection = outIdx.sameElements(widened.fields.indices)

  // exact incremental range residual (general columnar incremental): the
  // pushed parquet range predicate only skips row groups/pages, so a
  // straddling file (a COW rewrite carrying pre-range rows) still emits
  // out-of-range rows — selected out here per batch, in batch-land
  private val startU = commitStart.map(UTF8String.fromString).orNull
  private val endU = commitEnd.map(UTF8String.fromString).orNull
  private val ctIdx: Int =
    if (startU != null || endU != null) widened.fieldIndex("_hoodie_commit_time") else -1

  private lazy val batches: Iterator[ColumnarBatch] = {
    // columnar routing requires a log-free slice, which always has a base
    val bf = slice.baseFile.getOrElse(
      throw new IllegalStateException(s"columnar reader on a base-less slice: $slice"))
    counters.baseFilesRead += 1
    val pf = PartitionedFile(
      PartitionValues.forSlice(slice, partitionSchemaJson, hiveStyle, urlEncoded, nullSentinels),
      SparkPath.fromPathString(bf.path),
      0L,
      bf.size)
    readFn(pf).asInstanceOf[Iterator[ColumnarBatch]]
  }

  private def project(b: ColumnarBatch): ColumnarBatch =
    if (identityProjection) b
    else new ColumnarBatch(outIdx.map(b.column): Array[ColumnVector], b.numRows())

  /** Project, applying the commit-range selection when configured. An
    * all-in-range batch (the overwhelmingly common case — most files are
    * single-commit) passes through untouched; a straddling batch gets a
    * zero-copy [[SelectedColumnVector]] view; an all-out batch returns
    * null and is skipped.
    */
  private def selectProject(b: ColumnarBatch): ColumnarBatch = {
    if (ctIdx < 0) return project(b)
    val ct = b.column(ctIdx)
    val n = b.numRows()
    val sel = new Array[Int](n)
    var m = 0
    var i = 0
    while (i < n) {
      val v = if (ct.isNullAt(i)) null else ct.getUTF8String(i)
      if (v != null &&
          (startU == null || v.compareTo(startU) > 0) &&
          (endU == null || v.compareTo(endU) <= 0)) { sel(m) = i; m += 1 }
      i += 1
    }
    if (m == n) project(b)
    else if (m == 0) null
    else new ColumnarBatch(
      outIdx.map(j => new SelectedColumnVector(b.column(j), sel, m): ColumnVector), m)
  }

  private var current: ColumnarBatch = _

  override def next(): Boolean = {
    while (batches.hasNext) {
      val out = selectProject(batches.next())
      if (out != null) { current = out; return true }
    }
    false
  }

  override def get(): ColumnarBatch = current

  // vector lifecycle belongs to the delegate's reader, which registers its
  // own task-completion close; the permuted wrapper shares those vectors
  override def close(): Unit = ()
}

class GraftPartitionReader(
    slice: graft.fs.FileSlice,
    readFn: PartitionedFile => Iterator[InternalRow],
    widenedJson: String,
    requiredJson: String,
    orderingField: Option[String],
    mergeStrategy: String,
    conf: SerializableConf,
    endTs: Option[String],
    commitStart: Option[String] = None,
    partitionSchemaJson: Option[String] = None,
    hiveStyle: Boolean = false,
    urlEncoded: Boolean = false,
    populatesMetaFields: Boolean = true,
    counters: ReaderCounters = new ReaderCounters,
    emitDeletes: Boolean = false,
    nullSentinels: Seq[String] = Nil
) extends PartitionReader[InternalRow] {

  counters.slicesRead += 1

  private val widened = DataType.fromJson(widenedJson).asInstanceOf[StructType]
  private val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
  private val outIdx: Array[Int] = required.fields.map(f => widened.fieldIndex(f.name))
  private val identityProjection = outIdx.sameElements(widened.fields.indices)

  /** Parsed typed partition values for dropped partition columns (P6). */
  private lazy val partitionValuesRow: InternalRow =
    PartitionValues.forSlice(slice, partitionSchemaJson, hiveStyle, urlEncoded, nullSentinels)

  private def baseIter: Iterator[InternalRow] = slice.baseFile match {
    case None => Iterator.empty // log-only slice: rows come from the merge map
    case Some(bf) =>
      counters.baseFilesRead += 1
      val pf = PartitionedFile(
        partitionValuesRow,
        SparkPath.fromPathString(bf.path),
        0L,
        bf.size)
      readFn(pf)
  }

  /** Incremental / streaming micro-batches carry a `(start, end]` commit
    * range: the P5 row filter applied to the widened rows pre-projection —
    * but only when the table populates meta fields; without them every
    * `_hoodie_commit_time` is null and the mask would drop all rows
    * (file_group/reader.rs:652-701 gates identically).
    */
  private def commitRangeFilter(it: Iterator[InternalRow]): Iterator[InternalRow] =
    commitStart match {
      case None => it
      case Some(_) if !populatesMetaFields => it
      case Some(start) =>
        val startU = UTF8String.fromString(start)
        val endU = endTs.map(UTF8String.fromString)
        it.filter { r =>
          !r.isNullAt(commitIdx) && {
            val c = r.getUTF8String(commitIdx)
            c.compareTo(startU) > 0 && endU.forall(c.compareTo(_) <= 0)
          }
        }
    }

  private val rows: Iterator[InternalRow] =
    if (!slice.hasLogFiles) commitRangeFilter(baseIter).map(project)
    else commitRangeFilter(mergedIter).map(project)

  private def project(row: InternalRow): InternalRow =
    if (identityProjection) row
    else {
      val vals = new Array[Any](outIdx.length)
      var i = 0
      while (i < outIdx.length) {
        vals(i) = row.get(outIdx(i), widened.fields(outIdx(i)).dataType)
        i += 1
      }
      new GenericInternalRow(vals)
    }

  // ---- merge machinery (shared with the columnar merge reader) -----------

  private lazy val ms = new SliceMergeState(
    slice, widened, orderingField, mergeStrategy, conf, endTs, commitStart, counters,
    partitionSchemaJson, hiveStyle, urlEncoded, nullSentinels)

  private lazy val commitIdx = widened.fieldIndex("_hoodie_commit_time")

  /** Streamed merge: base rows checked against the log map; survivors of
    * the log map (log-only inserts) appended at the end. With
    * `emitDeletes`, keys whose in-range delete is the slice's final
    * state additionally surface as tombstone rows AFTER the survivors
    * (the `++` operands are by-name, so the alive-key set is complete by
    * the time the tombstone iterator is consumed).
    */
  private def mergedIter: Iterator[InternalRow] =
    if (ms.appendOnly) baseIter ++ ms.logAll.iterator
    else {
      val consumed = mutable.HashSet.empty[String]
      val aliveDeleteKeys = mutable.HashSet.empty[String]
      def keep(key: String): Unit =
        if (emitDeletes && ms.deletes.contains(key)) aliveDeleteKeys += key
      val fromBase = baseIter.flatMap { row =>
        val key = ms.keyOf(row)
        val winner = ms.logLatest.get(key) match {
          case Some(logRow) =>
            consumed += key
            if (ms.newerThan(logRow, row)) logRow else row.copy()
          case None => row
        }
        if (ms.deleteWins(winner)) None else { keep(key); Some(winner) }
      }
      val fromLogOnly = ms.logLatest.iterator.collect {
        case (key, row) if !consumed.contains(key) && !ms.deleteWins(row) =>
          keep(key); row
      }
      if (!emitDeletes) fromBase ++ fromLogOnly
      else fromBase ++ fromLogOnly ++ tombstoneIter(aliveDeleteKeys)
    }

  /** Tombstone rows for `stream.emit.deletes` — shared synthesis in
    * [[SliceMergeState.tombstoneRows]].
    */
  private def tombstoneIter(alive: collection.Set[String]): Iterator[InternalRow] =
    ms.tombstoneRows(alive)

  // ---- PartitionReader contract ------------------------------------------

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = current

  override def close(): Unit = ()
}

/** Per-slice log-decode + merge-precedence state, shared by the
  * row-based [[GraftPartitionReader]] and the columnar
  * [[GraftColumnarMergeReader]]: decodes the slice's log files once
  * into latest-per-key / delete-ordering maps and exposes the
  * OVERWRITE_WITH_LATEST version pick (desc (ordering, seqno)) and the
  * delete-visibility rule (ordering.rs:41-51 incl. the integer-zero
  * special case). Memory is proportional to the DELTA (Hudi log files
  * are bounded by the writer's roll size), never the file group.
  */
private[sources] final class SliceMergeState(
    slice: graft.fs.FileSlice,
    widened: StructType,
    orderingField: Option[String],
    mergeStrategy: String,
    conf: SerializableConf,
    endTs: Option[String],
    commitStart: Option[String],
    counters: ReaderCounters,
    // P6 for LOG records: dropped partition columns are absent from the
    // writer schema too, so the decode re-injects the slice's parsed
    // typed values (the parquet delegate does the same for base rows
    // via partitionValues)
    partitionSchemaJson: Option[String] = None,
    hiveStyle: Boolean = false,
    urlEncoded: Boolean = false,
    nullSentinels: Seq[String] = Nil) {

  /** (widened index, Catalyst value) pairs to overwrite on every decoded
    * log row — empty unless the table drops partition columns from files.
    */
  private lazy val partInject: Array[(Int, Any)] = partitionSchemaJson match {
    case None => Array.empty
    case Some(json) =>
      val ps = DataType.fromJson(json).asInstanceOf[StructType]
      val values = PartitionValues.forSlice(slice, partitionSchemaJson, hiveStyle, urlEncoded, nullSentinels)
      ps.fields.zipWithIndex.flatMap { case (f, i) =>
        widened.fieldNames.indexOf(f.name) match {
          case -1 => None
          case wi => Some(wi -> (if (values.isNullAt(i)) null else values.get(i, f.dataType)))
        }
      }
  }

  // lazy: APPEND_ONLY tables may not populate meta fields, and their
  // decode path never touches the key/seqno columns
  lazy val keyIdx: Int = widened.fieldIndex("_hoodie_record_key")
  private lazy val seqIdx = widened.fieldIndex("_hoodie_commit_seqno")
  private lazy val commitIdx = widened.fieldIndex("_hoodie_commit_time")
  lazy val ordIdx: Option[Int] = orderingField.map(widened.fieldIndex)
  private lazy val ordType = ordIdx.map(i => widened.fields(i).dataType)

  def appendOnly: Boolean = mergeStrategy == "APPEND_ONLY"

  def keyOf(row: InternalRow): String =
    if (row.isNullAt(keyIdx)) "" else row.getString(keyIdx)

  /** Arrow-row-style comparison: null is lowest; same-type Comparables.
    * Mixed NUMERIC widths compare numerically — upstream delete blocks
    * carry a plain int 0 orderingVal regardless of the table's ordering
    * column type (DeleteRecord's default), so an Int-vs-Long comparison
    * must widen rather than ClassCastException.
    */
  private def cmpAny(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: java.lang.Number, y: java.lang.Number) if x.getClass != y.getClass =>
      def integral(n: java.lang.Number) = n match {
        case _: java.lang.Integer | _: java.lang.Long |
            _: java.lang.Short | _: java.lang.Byte => true
        case _ => false
      }
      if (integral(x) && integral(y)) java.lang.Long.compare(x.longValue(), y.longValue())
      else java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => 0
  }

  private def orderingOf(r: InternalRow): Any =
    ordIdx.map(i => if (r.isNullAt(i)) null else r.get(i, ordType.get)).orNull

  private def seqnoOf(r: InternalRow): Any =
    if (r.isNullAt(seqIdx)) null else r.getUTF8String(seqIdx)

  private def commitOf(r: InternalRow): Any =
    if (r.isNullAt(commitIdx)) null else r.getUTF8String(commitIdx)

  /** OVERWRITE_WITH_LATEST version pick: desc (ordering, seqno). */
  def newerThan(a: InternalRow, b: InternalRow): Boolean = {
    val c = cmpAny(orderingOf(a), orderingOf(b))
    if (c != 0) c > 0 else cmpAny(seqnoOf(a), seqnoOf(b)) > 0
  }

  /** A key's delete records, reduced exactly for [[winsOver]]: a row is
    * deleted when ANY of them beats it — a delete whose ordering is an
    * integral zero by commit time alone, any other by (ordering, commit
    * time) — so the reduction keeps the latest zero-ordering commit and
    * the greatest (ordering, commit) of the rest. `eventOrd` and
    * `commitOrd`, the greatest of each over all the key's deletes, stamp
    * its tombstone row.
    */
  final class DeleteInfo {
    var eventOrd: Any = null
    var commitOrd: Any = null
    private var zeroCommit: Any = null
    private var ord: Any = null
    private var ordCommit: Any = null

    def add(o: Any, commit: Any, zero: Boolean): Unit = {
      if (commitOrd == null || cmpAny(o, eventOrd) > 0) eventOrd = o
      if (commitOrd == null || cmpAny(commit, commitOrd) > 0) commitOrd = commit
      if (zero) {
        if (zeroCommit == null || cmpAny(commit, zeroCommit) > 0) zeroCommit = commit
      } else if (ordCommit == null || beats(o, commit, ord, ordCommit)) {
        ord = o
        ordCommit = commit
      }
    }

    private def beats(o: Any, commit: Any, recEvent: Any, recCommit: Any): Boolean = {
      val c = cmpAny(o, recEvent)
      c > 0 || (c == 0 && cmpAny(commit, recCommit) > 0)
    }

    /** ordering.rs:41-51 incl. the integer-zero special case. */
    def winsOver(recEvent: Any, recCommit: Any): Boolean =
      (zeroCommit != null && cmpAny(zeroCommit, recCommit) > 0) ||
        (ordCommit != null && beats(ord, ordCommit, recEvent, recCommit))
  }

  private def isIntegralZero(v: Any): Boolean = v match {
    case i: Int => i == 0
    case l: Long => l == 0L
    case s: Short => s == 0
    case b: Byte => b == 0
    case _ => false
  }

  /** Decode the slice's log files once. OVERWRITE_WITH_LATEST keys rows
    * to latest-per-record-key + delete max-orderings; APPEND_ONLY keeps
    * every version verbatim (record keys may not even be populated).
    * Rollback-aware, range-bounded.
    */
  lazy val (logLatest, deletes, logAll) = {
    val range = InstantRange(commitStart, endTs)
    val blocks = {
      val bs = slice.logFiles.sortBy(_.orderingKey).flatMap { lf =>
        val p = new Path(lf.path)
        // actual length, not the planned size: writers append to log
        // files and MDT-recorded sizes can lag the physical file
        val bytes = graft.util.ReadFully(p, conf.value)
        counters.logFilesRead += 1
        counters.logBytesDecoded += bytes.length
        LogFileParser.parse(bytes, range)
      }
      LogFileParser.applyRollbacks(bs.toVector)
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(widened)
    val latest = mutable.HashMap.empty[String, InternalRow]
    val dels = mutable.HashMap.empty[String, DeleteInfo]
    val all = mutable.ArrayBuffer.empty[InternalRow]
    for (b <- blocks) {
      if (b.blockType == LogFormat.AvroDataBlock || b.blockType == LogFormat.ParquetDataBlock ||
          b.blockType == LogFormat.CdcDataBlock) {
        for (ext <- graft.log.RowAlign.blockRows(b, widened)) {
          val row = toCatalyst(ext).asInstanceOf[InternalRow]
          if (partInject.nonEmpty) {
            val g = row.asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
            partInject.foreach { case (i, v) => g.update(i, v) }
          }
          counters.logRecordsBuffered += 1
          if (appendOnly) all += row
          else {
            val key = keyOf(row)
            latest.get(key) match {
              case Some(prev) if !newerThan(row, prev) => // keep prev
              case _ => latest(key) = row
            }
          }
        }
      } else if (b.blockType == LogFormat.DeleteBlock) {
        val commit = UTF8String.fromString(b.instantTime)
        for ((key, _, ordRaw) <- b.deleteRecords) {
          counters.deleteRecordsSeen += 1
          dels.getOrElseUpdate(key, new DeleteInfo)
            .add(toCatalystScalar(ordRaw), commit, isIntegralZero(ordRaw))
        }
      }
    }
    (latest, dels, all)
  }

  private def toCatalystScalar(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    // delete-record ordering values arrive as JVM types from the Avro
    // union codec; row-side values are Catalyst types — align the decimal
    // branch or cmpAny's compareTo throws ClassCastException mid-merge
    case d: java.math.BigDecimal => org.apache.spark.sql.types.Decimal(d)
    case d: BigDecimal => org.apache.spark.sql.types.Decimal(d)
    case other => other
  }

  def deleteWins(row: InternalRow): Boolean =
    deletes.get(keyOf(row)).exists(_.winsOver(orderingOf(row), commitOf(row)))

  /** Tombstone rows for `stream.emit.deletes` (shared by the row and
    * columnar merge readers): data columns null, meta columns carrying
    * (delete commit time, record key, partition path) plus the delete's
    * ordering value — the delete-visibility contract a per-commit
    * micro-batch consumer needs (a delete-only commit otherwise
    * surfaces NO rows and downstream latest-wins state keeps the
    * deleted keys forever). Only keys with no surviving in-range row
    * qualify: a later in-range upsert re-inserts the key, so no
    * tombstone.
    */
  def tombstoneRows(alive: collection.Set[String]): Iterator[InternalRow] = {
    // the partition-path column can be projection-pruned from the
    // widened schema — populate it only when present
    lazy val partIdx = widened.fieldNames.indexOf("_hoodie_partition_path") match {
      case -1 => None
      case i => Some(i)
    }
    deletes.iterator.collect { case (key, info) if !alive.contains(key) =>
      val vals = new Array[Any](widened.fields.length)
      vals(keyIdx) = UTF8String.fromString(key)
      vals(commitIdx) = info.commitOrd
      partIdx.foreach(i => vals(i) = UTF8String.fromString(slice.partitionPath))
      ordIdx.foreach(i => vals(i) = info.eventOrd)
      new GenericInternalRow(vals)
    }
  }

  /** The `(start, end]` commit-range predicate the ROW path applies to
    * every merged row post-merge ([[GraftPartitionReader]]'s
    * commitRangeFilter) — exposed so the columnar merge applies the
    * IDENTICAL rule to its base selections, overlay rows, and
    * tombstones. Vacuous without a start (snapshot / time travel: range
    * bounds live in the log decode's InstantRange instead).
    */
  private lazy val rangeStartU = commitStart.map(UTF8String.fromString).orNull
  private lazy val rangeEndU = endTs.map(UTF8String.fromString).orNull

  def rangeOk(row: InternalRow): Boolean =
    rangeStartU == null || (!row.isNullAt(commitIdx) && {
      val c = row.getUTF8String(commitIdx)
      c.compareTo(rangeStartU) > 0 && (rangeEndU == null || c.compareTo(rangeEndU) <= 0)
    })
}

/** COLUMNAR MOR merge for snapshot scans (D3/D4, the Spark analog of the
  * reference merging record batches in Arrow, record_merger.rs:104-186):
  * the base file rides Spark's VECTORIZED parquet reader and stays in
  * batch-land end-to-end — rows not superseded by the slice's logs pass
  * through as a zero-copy [[SelectedColumnVector]] selection view, and
  * only the log winners + log-only inserts (delta-sized, by the log-roll
  * bound) materialize into small on-heap overlay batches appended after
  * the base drains. For the dominant log-light MOR shape this keeps
  * whole-stage codegen's columnar path for ~all bytes where the row
  * reader previously de-vectorized the entire scan.
  *
  * Per base batch, the per-row work is ONE hash probe of the log map
  * (plus the delete map when non-empty); a batch whose keys miss both
  * maps passes through untouched. Semantics are EXACTLY the row merge's
  * ([[GraftPartitionReader.mergedIter]]): base-vs-log precedence via
  * [[SliceMergeState.newerThan]], delete visibility via
  * [[SliceMergeState.deleteWins]] applied to the winner, log-only
  * survivors appended; only row ORDER differs (winners surface in the
  * overlay instead of in base position), which no covered shape
  * guarantees. Commit-RANGED shapes (batch incremental, streaming
  * micro-batches) ride the same reader: the `(start, end]` filter
  * applies POST-merge to base selections, overlay rows, and — under
  * `emitDeletes` — the tombstones appended after the overlay winners
  * ([[SliceMergeState.rangeOk]], the row path's commitRangeFilter rule
  * and placement; survival bookkeeping stays PRE-filter so an
  * out-of-range survivor still suppresses its tombstone).
  */
class GraftColumnarMergeReader(
    slice: graft.fs.FileSlice,
    readFn: PartitionedFile => Iterator[InternalRow],
    widenedJson: String,
    requiredJson: String,
    orderingField: Option[String],
    mergeStrategy: String,
    conf: SerializableConf,
    endTs: Option[String],
    partitionSchemaJson: Option[String],
    hiveStyle: Boolean,
    urlEncoded: Boolean,
    counters: ReaderCounters = new ReaderCounters,
    // commit-ranged shapes (batch incremental / streaming micro-batches):
    // the (start, end] filter applies POST-merge to every surviving row
    // — base selections, overlay rows, and tombstones — exactly the row
    // path's commitRangeFilter placement
    commitStart: Option[String] = None,
    emitDeletes: Boolean = false,
    nullSentinels: Seq[String] = Nil
) extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
  import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}

  counters.slicesRead += 1

  private val widened = DataType.fromJson(widenedJson).asInstanceOf[StructType]
  private val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
  private val outIdx: Array[Int] = required.fields.map(f => widened.fieldIndex(f.name))
  private val identityProjection = outIdx.sameElements(widened.fields.indices)

  private val ms = new SliceMergeState(
    slice, widened, orderingField, mergeStrategy, conf, endTs, commitStart, counters,
    partitionSchemaJson, hiveStyle, urlEncoded, nullSentinels)

  private lazy val baseBatches: Iterator[ColumnarBatch] = slice.baseFile match {
    case None => Iterator.empty // log-only group: everything is overlay
    case Some(bf) =>
      counters.baseFilesRead += 1
      val pf = PartitionedFile(
        PartitionValues.forSlice(slice, partitionSchemaJson, hiveStyle, urlEncoded, nullSentinels),
        SparkPath.fromPathString(bf.path),
        0L,
        bf.size)
      readFn(pf).asInstanceOf[Iterator[ColumnarBatch]]
  }

  // keys seen in the base that have a log row; of those, the ones where
  // the log won (emitted in the overlay). Bounded by |logLatest| — only
  // keys present in the log map are ever added. aliveDeleteKeys mirrors
  // the row path's tombstone suppression: a key whose merge WINNER
  // survived (pre-range-filter, matching mergedIter's keep() placement)
  // emits no tombstone. Bounded by |deletes|.
  private val consumed = mutable.HashSet.empty[String]
  private val logWon = mutable.HashSet.empty[String]
  private val aliveDeleteKeys = mutable.HashSet.empty[String]
  private def keep(key: String): Unit =
    if (emitDeletes && ms.deletes.contains(key)) aliveDeleteKeys += key

  private def project(b: ColumnarBatch): ColumnarBatch =
    if (identityProjection) b
    else new ColumnarBatch(outIdx.map(b.column): Array[ColumnVector], b.numRows())

  /** Merge-select one base batch: survivors keep their vectors (all-kept
    * batches pass through untouched, the overwhelmingly common log-light
    * case); partial batches become a zero-copy selection view; all-gone
    * batches return null and are skipped.
    */
  private def mergeSelect(b: ColumnarBatch): ColumnarBatch = {
    // fast path: nothing to merge AND no range → the batch passes whole
    if (ms.logLatest.isEmpty && ms.deletes.isEmpty && commitStart.isEmpty)
      return project(b)
    val n = b.numRows()
    val sel = new Array[Int](n)
    var m = 0
    var i = 0
    if (ms.logLatest.isEmpty && ms.deletes.isEmpty) {
      // range-only selection (a ranged chunk whose slice's bounded log
      // decode came back empty): no merge bookkeeping, no key
      // materialization — just the commit-column predicate per row
      while (i < n) {
        if (ms.rangeOk(b.getRow(i))) { sel(m) = i; m += 1 }
        i += 1
      }
    } else while (i < n) {
      val row = b.getRow(i) // reused view; values read immediately
      val key = ms.keyOf(row)
      val logRow = if (ms.logLatest.isEmpty) null
        else ms.logLatest.getOrElse(key, null)
      // winner survival bookkeeping (keep) runs PRE-range-filter, the
      // row path's mergedIter placement: an out-of-range survivor still
      // suppresses its key's tombstone
      if (logRow != null) {
        consumed += key
        if (ms.newerThan(logRow, row)) logWon += key // surfaces via overlay
        else if (!ms.deleteWins(row)) {
          keep(key)
          if (ms.rangeOk(row)) { sel(m) = i; m += 1 }
        }
      } else if (!ms.deleteWins(row)) {
        keep(key)
        if (ms.rangeOk(row)) { sel(m) = i; m += 1 }
      }
      i += 1
    }
    if (m == n) project(b)
    else if (m == 0) null
    else new ColumnarBatch(
      outIdx.map(j => new SelectedColumnVector(b.column(j), sel, m): ColumnVector), m)
  }

  /** Log rows that survive the merge: winners over their base row plus
    * log-only inserts, minus deleted keys — the exact complement of the
    * base selection (APPEND_ONLY: every log row verbatim), range-filtered
    * POST-merge like the base selections; with `emitDeletes`, tombstones
    * for keys with no surviving row follow (the `++` operand is by-name,
    * so the alive-key set is complete by the time it is consumed).
    * Consumed only AFTER the base drains, so `consumed`/`logWon` are
    * complete.
    */
  private def overlayRows: Iterator[InternalRow] =
    if (ms.appendOnly) ms.logAll.iterator.filter(ms.rangeOk)
    else {
      val winners = ms.logLatest.iterator.collect {
        case (key, row) if (!consumed.contains(key) || logWon.contains(key)) &&
            !ms.deleteWins(row) =>
          keep(key); row
      }.filter(ms.rangeOk)
      if (!emitDeletes) winners
      else winners ++ ms.tombstoneRows(aliveDeleteKeys).filter(ms.rangeOk)
    }

  private val OverlayBatchRows = 4096

  /** Materialize buffered log rows into an on-heap batch, projected to
    * the required schema. Type coverage is exactly the vectorized parquet
    * reader's batch condition (atomic types only — `supportBatch` gates
    * scheme eligibility upstream), so an exotic type here is a routing
    * bug, thrown loudly.
    */
  private def buildOverlay(rows: Array[InternalRow]): ColumnarBatch = {
    val vecs = OnHeapColumnVector.allocateColumns(rows.length, required)
    var j = 0
    while (j < outIdx.length) {
      val dt = required.fields(j).dataType
      val src = outIdx(j)
      val v = vecs(j)
      var i = 0
      while (i < rows.length) {
        writeValue(v, i, dt, rows(i), src)
        i += 1
      }
      j += 1
    }
    new ColumnarBatch(vecs.asInstanceOf[Array[ColumnVector]], rows.length)
  }

  private def writeValue(
      v: WritableColumnVector, i: Int, dt: DataType, row: InternalRow, ord: Int): Unit =
    if (row.isNullAt(ord)) v.putNull(i)
    else dt match {
      case org.apache.spark.sql.types.BooleanType => v.putBoolean(i, row.getBoolean(ord))
      case ByteType => v.putByte(i, row.getByte(ord))
      case ShortType => v.putShort(i, row.getShort(ord))
      case IntegerType | DateType | _: org.apache.spark.sql.types.YearMonthIntervalType =>
        v.putInt(i, row.getInt(ord))
      case LongType | org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType |
          _: org.apache.spark.sql.types.DayTimeIntervalType =>
        v.putLong(i, row.getLong(ord))
      case FloatType => v.putFloat(i, row.getFloat(ord))
      case DoubleType => v.putDouble(i, row.getDouble(ord))
      case d: org.apache.spark.sql.types.DecimalType =>
        v.putDecimal(i, row.getDecimal(ord, d.precision, d.scale), d.precision)
      case org.apache.spark.sql.types.StringType =>
        val b = row.getUTF8String(ord).getBytes
        v.putByteArray(i, b, 0, b.length)
      case org.apache.spark.sql.types.BinaryType =>
        val b = row.getBinary(ord)
        v.putByteArray(i, b, 0, b.length)
      case other => throw new UnsupportedOperationException(
        s"columnar merge overlay: unsupported type $other (routing bug — " +
          "supportBatch should have kept this scan on the row path)")
    }

  private var overlayIter: Iterator[ColumnarBatch] = _
  private var current: ColumnarBatch = _
  private var lastOverlay: ColumnarBatch = _

  override def next(): Boolean = {
    while (baseBatches.hasNext) {
      val out = mergeSelect(baseBatches.next())
      if (out != null) { current = out; return true }
    }
    if (overlayIter == null)
      overlayIter = overlayRows.grouped(OverlayBatchRows).map(g => buildOverlay(g.toArray))
    // free the previous overlay's on-heap vectors before building the next
    if (lastOverlay != null) { lastOverlay.close(); lastOverlay = null }
    if (overlayIter.hasNext) {
      current = overlayIter.next(); lastOverlay = current; true
    } else false
  }

  override def get(): ColumnarBatch = current

  // base vectors belong to the delegate reader (task-completion close);
  // overlay vectors are ours
  override def close(): Unit =
    if (lastOverlay != null) { lastOverlay.close(); lastOverlay = null }
}
