package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** File-level min/max pruning from parquet footers (R2/C1 — reference:
  * crates/core/src/table/file_pruner.rs:38-273, statistics/mod.rs).
  *
  * Per-operator prune rules (a file is skipped only when its stats PROVE
  * no row can match): Eq: v<min or v>max; Ne: min=max=v; Lt: min>=v;
  * Lte: min>v; Gt: max<=v; Gte: max<v; In: no list value in [min,max];
  * NotIn: min=max and that value is listed; IsNull: zero nulls proven;
  * IsNotNull: all-null proven. Any error or missing statistic fails open
  * — row-level filtering stays authoritative, this only cuts tasks.
  *
  * Only safe when the scan is base-file-only (COW or read-optimized): a
  * MOR slice's log files can resurrect values outside the base file's
  * range (the reference's safety gate, table/mod.rs:486-491) — callers
  * enforce that.
  *
  * Footer reads happen at planning; cost is one small ranged read per
  * candidate file AFTER partition pruning, the same trade the reference
  * makes (fs_view.rs:154-223).
  *
  * `preStats` (fileName → columnName → (min, max)) short-circuits the
  * footer read for files it covers — fed from the metadata table's
  * `column_stats` partition ([[graft.table.ColumnStatsIndex]]) when the
  * table advertises it: ONE indexed metadata read replaces a footer
  * fetch per candidate file, the 100 TB data-skipping path. Files absent
  * from the map fall back to their footer.
  */
final class FilePruner(
    filters: Seq[PartitionFilter],
    schema: StructType,
    conf: Configuration,
    preStats: Map[String, Map[String, (Comparable[Any], Comparable[Any])]] = Map.empty,
    preZeroNulls: Map[String, Set[String]] = Map.empty) {

  private val relevant = filters.filter(f =>
    StatsRange.PrunableOps.contains(f.op) &&
      schema.fieldNames.contains(f.field) && f.values.nonEmpty)

  /** Null-predicate filters, pruned from null COUNTS rather than ranges:
    * `IS NULL` skips a file proven to have zero nulls in the column;
    * `IS NOT NULL` skips a file proven ALL-null (footer proof only — the
    * MDT's valueCount/nullCount pair can't distinguish all-null under
    * every writer interpretation, so the index never claims it). A
    * column ABSENT from a file's footer (pre-evolution file) is all-null
    * by re-injection and must fail open for IS NULL — absence proves
    * nothing here, both proofs demand the chunk be present in every row
    * group.
    */
  private val nullFilters = filters.filter(f =>
    (f.op == "isnull" || f.op == "isnotnull") && schema.fieldNames.contains(f.field))

  /** Only IS NULL justifies a footer fetch on its own: zero-null columns
    * are the common case, so the prune often removes EVERYTHING — the
    * same selectivity-for-IO trade R2 makes for range predicates. An
    * IS NOT NULL prune fires only against all-null columns (rare), so it
    * is applied opportunistically when a footer was read anyway — Spark
    * pushes IsNotNull alongside almost every predicate, and paying a
    * planning read per file for it alone would tax every filtered query.
    */
  private val isNullFilters = nullFilters.filter(_.op == "isnull")

  def isTrivial: Boolean = relevant.isEmpty && nullFilters.isEmpty

  /** Per-file footer facts: merged min/max ranges per column, columns
    * proven zero-null, and columns proven all-null (every row group's
    * chunk present with numNulls set).
    */
  private final case class FooterFacts(
      ranges: Map[String, (Comparable[Any], Comparable[Any])],
      zeroNulls: Set[String],
      allNulls: Set[String])

  private def fileStats(path: String): FooterFacts = {
    FilePruner.footerReads.incrementAndGet()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      // FP min/max ordering is writer policy: parquet-mr matches Spark's
      // NaN-greatest ordering (or drops stats on NaN pages); writers that
      // EXCLUDE NaN from bounds (parquet-cpp) would let `x > 5` prune a
      // file whose NaN rows match. Same gate as the aggregate pushdown's
      // readFacts — trust float/double chunk stats only from parquet-mr.
      val fpTrusted = Option(reader.getFooter.getFileMetaData.getCreatedBy)
        .exists(_.contains("parquet-mr"))
      val acc = scala.collection.mutable.Map.empty[String, (Comparable[Any], Comparable[Any])]
      val nulls = scala.collection.mutable.Map.empty[String, Long]    // total known nulls
      val values = scala.collection.mutable.Map.empty[String, Long]   // total values
      val chunksSeen = scala.collection.mutable.Map.empty[String, Int]
      val nullsKnown = scala.collection.mutable.Map.empty[String, Boolean]
      for (block <- blocks; col <- block.getColumns.asScala) {
        val name = col.getPath.toDotString
        chunksSeen(name) = chunksSeen.getOrElse(name, 0) + 1
        values(name) = values.getOrElse(name, 0L) + col.getValueCount
        val st = col.getStatistics
        val known = st != null && st.isNumNullsSet
        nullsKnown(name) = nullsKnown.getOrElse(name, true) && known
        if (known) nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
        if (st != null && st.hasNonNullValue) {
          val mn = normalize(st.genericGetMin(), col.getPrimitiveType)
          val mx = normalize(st.genericGetMax(), col.getPrimitiveType)
          val fp = mn.isInstanceOf[java.lang.Float] || mn.isInstanceOf[java.lang.Double]
          if (mn != null && mx != null && (!fp || fpTrusted)) {
            acc.get(name) match {
              case Some((m0, x0)) =>
                acc(name) = (if (mn.compareTo(m0) < 0) mn else m0,
                  if (mx.compareTo(x0) > 0) mx else x0)
              case None => acc(name) = (mn, mx)
            }
          }
        }
      }
      val complete = chunksSeen.keySet.toSet.filter(c =>
        blocks.nonEmpty && chunksSeen(c) == blocks.size && nullsKnown.getOrElse(c, false))
      FooterFacts(
        acc.toMap,
        complete.filter(c => nulls.getOrElse(c, -1L) == 0L),
        complete.filter(c => values.getOrElse(c, 0L) > 0L &&
          nulls.getOrElse(c, -1L) == values(c)))
    } finally reader.close()
  }

  private def normalize(v: Any, pt: org.apache.parquet.schema.PrimitiveType): Comparable[Any] =
    FilePruner.normalizeStat(v, pt)

  /** Concurrent footer pruning over many candidate files: one small ranged
    * read each, latency-bound on object stores — issue them on a bounded
    * pool instead of serially on the driver (the reference prunes footers
    * concurrently in its async fs-view; round-2's serial loop was a
    * planning bottleneck at 50k files).
    */
  def filterIncluded[A](items: Seq[A], parallelism: Int = 16)(fileOf: A => BaseFile): Seq[A] =
    if (isTrivial) items
    else graft.util.Parallel.map(items, parallelism)(a => (a, shouldInclude(fileOf(a))))
      .collect { case (a, true) => a }

  /** Whether `file` may contain matching rows (fail-open). The footer is
    * read only when the index maps don't already cover what the filters
    * need — an index-covered file prunes with ZERO per-file IO.
    */
  def shouldInclude(file: BaseFile): Boolean = {
    if (isTrivial) return true
    try {
      val needFooter =
        (relevant.nonEmpty && !preStats.contains(file.fileName)) ||
          (isNullFilters.nonEmpty && !preZeroNulls.contains(file.fileName))
      val footer =
        // Lance base files carry no footer stats — fail open (keep) unless
        // the MDT column_stats tier pre-supplied ranges for the file
        if (needFooter && !file.path.endsWith(".lance")) fileStats(file.path)
        else FooterFacts(Map.empty, Set.empty, Set.empty)
      val ranges = preStats.getOrElse(file.fileName, footer.ranges)
      val zero = preZeroNulls.getOrElse(file.fileName, footer.zeroNulls)
      relevant.forall(f => StatsRange.permits(schema, f, ranges)) &&
        nullFilters.forall(f =>
          if (f.op == "isnull") !zero.contains(f.field)
          else !footer.allNulls.contains(f.field))
    } catch { case _: Exception => true }
  }
}

object FilePruner {
  /** Parquet footers opened for pruning (driver-side, monotonic) — a file
    * the column_stats tier covers prunes without one.
    */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Map a raw footer statistic to the representation [[StatsRange.literal]]
    * produces for the column's Spark type, using the parquet LOGICAL type:
    * dates stay epoch-day Ints, timestamps normalize to epoch-micros Longs
    * across MILLIS/MICROS/NANOS units, decimals decode their unscaled
    * int/long/binary form to a java BigDecimal. Binaries without a
    * string/decimal annotation (raw bytes, INT96 timestamps) yield null —
    * fail open, there is no literal form to compare against. Shared with
    * the aggregate pushdown's footer tier, whose date/decimal/timestamp
    * MIN/MAX answers use the same representations (epoch-day Int and
    * epoch-micros Long are ALSO the catalyst-internal forms).
    */
  def normalizeStat(v: Any, pt: org.apache.parquet.schema.PrimitiveType): Comparable[Any] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val ann = pt.getLogicalTypeAnnotation
    ((ann, v) match {
      case (dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation, _) => v match {
        case i: java.lang.Integer => java.math.BigDecimal.valueOf(i.longValue(), dec.getScale)
        case l: java.lang.Long => java.math.BigDecimal.valueOf(l.longValue(), dec.getScale)
        case b: org.apache.parquet.io.api.Binary =>
          new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), dec.getScale)
        case _ => null
      }
      case (ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation, l: java.lang.Long) =>
        ts.getUnit match {
          case TimeUnit.MILLIS => Long.box(Math.multiplyExact(l.longValue(), 1000L))
          case TimeUnit.MICROS => l
          // NANOS: fail open. A micros normalization needs direction-aware
          // rounding (floor for min, ceil for max) to stay conservative,
          // and Spark may surface NANOS columns as LongType (nanosAsLong),
          // where the literal is raw nanos and a micros-normalized bound
          // would compare at the wrong scale — no safe literal form here.
          case TimeUnit.NANOS => null
        }
      case (_: LogicalTypeAnnotation.StringLogicalTypeAnnotation |
            _: LogicalTypeAnnotation.EnumLogicalTypeAnnotation,
            b: org.apache.parquet.io.api.Binary) => b.toStringUsingUTF8
      case (_, _: org.apache.parquet.io.api.Binary) => null
      case (_, other: Comparable[_]) => other
      case _ => null
    }).asInstanceOf[Comparable[Any]]
  }

}

/** The stats-vs-predicate prune rules shared by [[FilePruner]] (per-file
  * footer/index ranges) and [[StatsPartitionPruner]] (per-partition MDT
  * ranges): an extent is skipped only when its (min, max) PROVES no row
  * can match. Any uncastable literal or cross-type comparison fails open.
  */
object StatsRange {

  val PrunableOps: Set[String] = Set("=", "!=", "<", "<=", ">", ">=", "in", "not in")

  /** Whether a column extent map may contain a row satisfying `f` — the
    * shared dispatch for [[FilePruner]] (per-file ranges) and
    * [[StatsPartitionPruner]] (per-partition ranges), now covering the
    * multi-valued ops: IN prunes when NO list value lands inside the
    * extent (any uncastable value fails open — it might match); NOT IN
    * prunes only a constant extent (min == max) whose single value is in
    * the list (uncastable values are simply ignored — fewer prunes,
    * never more). Rows that are NULL match neither IN nor NOT IN, so
    * both proofs hold with nulls present. The reference models the same
    * list ops via arrow casts (expr/filter.rs:376-384).
    */
  def permits(
      schema: StructType, f: PartitionFilter,
      ranges: Map[String, (Comparable[Any], Comparable[Any])]): Boolean =
    ranges.get(f.field) match {
      case None => true
      case Some((mn, mx)) =>
        def lit(i: Int): Option[Comparable[Any]] =
          literal(schema, f.field, f.values(i), f.typed.lift(i))
        f.op match {
          case "in" =>
            val ls = f.values.indices.map(lit)
            ls.exists(_.isEmpty) || ls.flatten.exists(v => allows("=", v, mn, mx))
          case "not in" =>
            val ls = f.values.indices.flatMap(lit(_))
            try !(mn.compareTo(mx) == 0 && ls.exists(_.compareTo(mn) == 0))
            catch { case _: ClassCastException => true }
          case op => lit(0) match {
            case Some(v) => allows(op, v, mn, mx)
            case None => true
          }
        }
    }

  /** Cast a filter literal to the representation footer/MDT statistics
    * expose for the column's declared type: epoch-day Int for dates,
    * epoch-micros Long for timestamps, java BigDecimal for decimals
    * (compareTo is value-based across scales), primitives as-is.
    *
    * `typed` is the original Spark literal object when the filter came
    * through DSv2 pushdown — preferred because it is lossless: a
    * `java.sql.Timestamp`'s string form renders local wall time (DST
    * fold makes one hour a year ambiguous to re-parse), while the object
    * itself IS the instant. String-only timestamp literals therefore
    * fail open; date/decimal strings are unambiguous and parse fine.
    * The reference reaches the same end by arrow-casting literals to the
    * column type (crates/core/src/expr/filter.rs:345-357) and prunes
    * Date32 columns (file_pruner.rs:288-293).
    */
  def literal(
      schema: StructType, field: String, raw: String,
      typed: Option[Any] = None): Option[Comparable[Any]] = {
    val dt = schema.fields.find(_.name == field).map(_.dataType)
    val v: Any = dt match {
      case Some(IntegerType | ShortType | ByteType) => typed match {
        case Some(n: java.lang.Number) => Int.box(n.intValue())
        case _ => raw.toIntOption.orNull
      }
      case Some(LongType) => typed match {
        case Some(n: java.lang.Number) => Long.box(n.longValue())
        case _ => raw.toLongOption.orNull
      }
      case Some(DoubleType) => typed match {
        case Some(n: java.lang.Number) => Double.box(n.doubleValue())
        case _ => raw.toDoubleOption.orNull
      }
      case Some(FloatType) => typed match {
        case Some(n: java.lang.Number) => Float.box(n.floatValue())
        case _ => raw.toFloatOption.orNull
      }
      case Some(StringType) => raw
      case Some(BooleanType) => raw.toBooleanOption.orNull
      case Some(DateType) => typed match {
        case Some(d: java.sql.Date) => Int.box(d.toLocalDate.toEpochDay.toInt)
        case Some(ld: java.time.LocalDate) => Int.box(ld.toEpochDay.toInt)
        case _ =>
          try Int.box(java.time.LocalDate.parse(raw).toEpochDay.toInt)
          catch { case _: Exception => null }
      }
      case Some(TimestampType) => typed match {
        case Some(ts: java.sql.Timestamp) =>
          val i = ts.toInstant
          Long.box(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L))
        case Some(i: java.time.Instant) =>
          Long.box(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L))
        case _ => null // string wall-time is zone-ambiguous: fail open
      }
      case Some(TimestampNTZType) => typed match {
        case Some(ldt: java.time.LocalDateTime) =>
          Long.box(Math.addExact(
            Math.multiplyExact(ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
            ldt.getNano / 1000L))
        case _ => null
      }
      case Some(_: DecimalType) => typed match {
        case Some(bd: java.math.BigDecimal) => bd
        case Some(bd: scala.math.BigDecimal) => bd.bigDecimal
        case _ =>
          try new java.math.BigDecimal(raw) catch { case _: Exception => null }
      }
      case _ => null // binary/struct/...: fail open
    }
    Option(v).map(_.asInstanceOf[Comparable[Any]])
  }

  /** Whether a (min, max) extent may contain a row satisfying `op v`. */
  def allows(op: String, v: Comparable[Any], mn: Comparable[Any], mx: Comparable[Any]): Boolean =
    try {
      op match {
        case "=" => !(v.compareTo(mn) < 0 || v.compareTo(mx) > 0)
        case "!=" => !(mn.compareTo(mx) == 0 && mn.compareTo(v) == 0)
        case "<" => mn.compareTo(v) < 0
        case "<=" => mn.compareTo(v) <= 0
        case ">" => mx.compareTo(v) > 0
        case ">=" => mx.compareTo(v) >= 0
        case _ => true
      }
    } catch { case _: ClassCastException => true }
}

/** Footer-stats proof that an incremental commit range needs no row
  * filter: when EVERY planned base file's `_hoodie_commit_time` min/max
  * lie inside `(start, end]` (and the column has no nulls), every row the
  * vectorized scan emits is in range and the scan can stay columnar —
  * Spark's vectorized parquet reader only skips row groups/pages, it
  * never filters exact rows, so the proof must be total.
  *
  * Fail-CLOSED: missing stats, unknown null counts, or any read error
  * returns false and the caller keeps the exact row-filtering path.
  */
object CommitRangeStats {
  private val CommitCol = "_hoodie_commit_time"

  def fullyContained(
      files: Seq[BaseFile],
      start: Option[String],
      end: String,
      conf: Configuration,
      parallelism: Int = 16): Boolean =
    try {
      graft.util.Parallel.map(files, parallelism) { f =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f.path), conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala
          blocks.nonEmpty && blocks.forall { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == CommitCol).exists { col =>
              val st = col.getStatistics
              st != null && st.hasNonNullValue && st.getNumNulls == 0 && {
                (st.genericGetMin, st.genericGetMax) match {
                  case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary) =>
                    val mnS = mn.toStringUsingUTF8
                    val mxS = mx.toStringUsingUTF8
                    start.forall(mnS > _) && mxS <= end
                  case _ => false
                }
              }
            }
          }
        } finally reader.close()
      }.forall(identity)
    } catch { case _: Exception => false }
}

/** One-footer sampling estimator (C2 — statistics/estimator.rs:30-88):
  * derive rows-per-byte from a single file's footer and extrapolate row
  * counts for any file from its on-disk size.
  */
object FileStatsEstimator {
  /** (totalRows, rowsPerByte) from one sampled footer; None on failure. */
  def sample(path: String, conf: Configuration): Option[Double] =
    try {
      if (path.endsWith(".lance")) {
        val lf = graft.lance.LanceFormat.readMetadata(path, conf)
        val size = new Path(path).getFileSystem(conf).getFileStatus(new Path(path)).getLen
        return if (size > 0) Some(lf.numRows.toDouble / size) else None
      }
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
      try {
        val rows = reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        val size = reader.getFooter.getBlocks.asScala.map(_.getCompressedSize).sum
        if (size > 0) Some(rows.toDouble / size) else None
      } finally reader.close()
    } catch { case _: Exception => None }

  /** EXACT row count from one parquet footer (the COUNT(*) pushdown's
    * unit of work — one small ranged read per file, issued in parallel
    * by the caller). Throws on unreadable footers: an exact count must
    * never silently fall back to an estimate.
    */
  def exactRowCount(path: String, conf: Configuration): Long = {
    if (path.endsWith(".lance"))
      return graft.lance.LanceFormat.rowCount(path, conf)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally reader.close()
  }

  /** Estimated (rows, bytes) for a planned slice set — the single source
    * for `HudiTable.tableStats` (C3) and DSv2 `estimateStatistics` (C2).
    * Bytes = base + log sizes (what the scan reads); rows extrapolate the
    * sampled rows-per-byte over the SAME total, so a log-heavy (or
    * base-less log-only) table doesn't report near-zero rows to Spark's
    * join planner while emitting millions. Rows are None when no base
    * footer is available to sample.
    */
  def estimateRowsBytes(slices: Seq[FileSlice], conf: Configuration): (Option[Long], Long) = {
    val bytes = slices.map(_.totalSize).sum
    val rows = slices.flatMap(_.baseFile).headOption
      .flatMap(bf => sample(bf.path, conf))
      .map(ratio => (ratio * bytes).toLong)
    (rows, bytes)
  }
}
