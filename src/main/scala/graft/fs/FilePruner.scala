package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._

/** File-level pruning from [[FileStats]] (R2/C1 — reference:
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
  * `index` (fileName → stats) is the metadata table's `column_stats`
  * partition when the table advertises it: ONE indexed metadata read
  * replaces a footer fetch per candidate file, the 100 TB data-skipping
  * path. Only files it does not cover read their footer, one small
  * ranged read each AFTER partition pruning — the same trade the
  * reference makes (fs_view.rs:154-223).
  */
final class FilePruner(
    filters: Seq[PartitionFilter],
    schema: StructType,
    conf: Configuration,
    index: Map[String, FileStats] = Map.empty) {

  private val relevant = filters.filter(f =>
    StatsRange.PrunableOps.contains(f.op) &&
      schema.fieldNames.contains(f.field) && f.values.nonEmpty)

  /** Null-predicate filters, pruned from null COUNTS rather than ranges:
    * `IS NULL` skips a file proven to have zero nulls in the column;
    * `IS NOT NULL` skips a file proven ALL-null (footer proof only — the
    * MDT's valueCount/nullCount pair can't distinguish all-null under
    * every writer interpretation, so the index never claims it). A
    * column ABSENT from a file (pre-evolution file) is all-null by
    * re-injection and must fail open for IS NULL — absence proves
    * nothing here, both proofs demand the column be present.
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
  private val footerWorthy = relevant.nonEmpty || nullFilters.exists(_.op == "isnull")

  def isTrivial: Boolean = relevant.isEmpty && nullFilters.isEmpty

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

  /** Whether `file` may contain matching rows (fail-open). An
    * index-covered file prunes with ZERO per-file IO.
    */
  def shouldInclude(file: BaseFile): Boolean = {
    if (isTrivial) return true
    try {
      val stats = index.get(file.fileName).orElse(
        // Lance base files carry no min/max: fail open (keep)
        if (footerWorthy && !file.path.endsWith(".lance")) Some(FileStats.read(file.path, conf))
        else None)
      stats.forall { s =>
        relevant.forall(f => StatsRange.permits(schema, f, s.ranges)) &&
          nullFilters.forall { f =>
            val c = s.column(f.field).filter(_.present)
            if (f.op == "isnull") !c.exists(_.nullCount.contains(0L)) else !c.exists(_.allNull)
          }
      }
    } catch { case _: Exception => true }
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
  def fullyContained(
      files: Seq[BaseFile],
      start: Option[String],
      end: String,
      conf: Configuration,
      parallelism: Int = 16): Boolean =
    try {
      graft.util.Parallel.map(files, parallelism)(f => FileStats.read(f.path, conf)).forall {
        _.columns.get(graft.core.MetaField.CommitTime).exists(c =>
          c.nullCount.contains(0L) && c.range.exists { case (mn, mx) =>
            (mn: Any, mx: Any) match {
              case (a: String, b: String) => start.forall(a > _) && b <= end
              case _ => false
            }
          })
      }
    } catch { case _: Exception => false }
}

/** One-footer sampling estimator (C2 — statistics/estimator.rs:30-88):
  * derive rows-per-byte from a single file's footer and extrapolate row
  * counts for any file from its on-disk size.
  */
object FileStatsEstimator {
  /** Rows per stored byte from one file's footer; None on failure. */
  def sample(path: String, conf: Configuration): Option[Double] =
    try {
      val s = FileStats.read(path, conf)
      if (s.bytes > 0) s.rowCount.map(_.toDouble / s.bytes) else None
    } catch { case _: Exception => None }

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
