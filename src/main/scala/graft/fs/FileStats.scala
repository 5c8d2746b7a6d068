package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import scala.jdk.CollectionConverters._

/** What one file's statistics prove about one of its columns.
  *
  * @param range     (min, max) over every non-null value, in the
  *                  representation [[StatsRange.literal]] produces for the
  *                  column's Spark type
  * @param tight     the bounds are the exact extremes, so they may answer
  *                  MIN/MAX; loose bounds only prune
  * @param nullCount the proven number of nulls
  * @param allNull   proven to hold no non-null value
  * @param present   the column is stored in the file
  */
final case class ColumnStats(
    range: Option[(Comparable[Any], Comparable[Any])],
    tight: Boolean,
    nullCount: Option[Long],
    allNull: Boolean,
    present: Boolean)

/** One file's statistics (C1 — reference crates/core/src/statistics/
  * mod.rs:54-176), the one model file pruning, the aggregate pushdown,
  * the commit-range proof and the row estimate read. Two producers: the
  * file's own metadata ([[FileStats.read]]) and the metadata table's
  * `column_stats` index ([[graft.table.ColumnStatsLookup.files]]).
  *
  * @param rowCount the exact row count, when proven
  * @param bytes    the stored bytes the rows occupy: the row groups'
  *                 compressed size (parquet) or the file length (Lance);
  *                 0 from the index
  * @param columns  per column; keyed by dotted leaf path for parquet
  * @param complete every column of the file is listed, so an unlisted
  *                 one is absent from the file (true for file metadata,
  *                 false for the index, which lists the columns it tracks)
  */
final case class FileStats(
    rowCount: Option[Long],
    bytes: Long,
    columns: Map[String, ColumnStats],
    complete: Boolean) {

  /** `name`'s statistics. A column absent from a completely listed file
    * holds no value there (the widen contract reads it as null), so it
    * is all-null for COUNT(col) and MIN/MAX — but `present = false`, and
    * null-predicate pruning must not read absence as a proof.
    */
  def column(name: String): Option[ColumnStats] =
    columns.get(name).orElse(
      if (complete) Some(ColumnStats(None, tight = false, rowCount, allNull = true, present = false))
      else None)

  /** column → (min, max), loose bounds included: the pruning view. */
  lazy val ranges: Map[String, (Comparable[Any], Comparable[Any])] =
    columns.collect { case (c, ColumnStats(Some(r), _, _, _, _)) => c -> r }
}

object FileStats {

  /** Parquet footers and Lance metadata blocks read (driver-side,
    * monotonic) — a file the column_stats index covers is pruned and
    * aggregated without one.
    */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The one parquet footer open in graft. */
  def footer[A](path: String, conf: Configuration)(f: ParquetMetadata => A): A = {
    footerReads.incrementAndGet()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try f(reader.getFooter) finally reader.close()
  }

  /** The statistics stored with the file at `path`: its parquet footer,
    * or a Lance file's metadata. Lance files carry no min/max; a Lance
    * null count costs a validity-bitmap read, so only the `lanceNullCols`
    * columns get one (parquet footers prove every column's). Throws on an
    * unreadable file.
    */
  def read(path: String, conf: Configuration, lanceNullCols: Set[String] = Set.empty): FileStats =
    if (path.endsWith(".lance")) {
      footerReads.incrementAndGet()
      val (lf, nulls) = graft.lance.LanceFormat.fileNullCounts(path, conf, lanceNullCols)
      FileStats(Some(lf.numRows), lf.fileLen,
        lf.topLevel.map(c => c.field.name ->
          ColumnStats(None, tight = false, nulls.get(c.field.name), allNull = false, present = true)).toMap,
        complete = true)
    } else footer(path, conf)(fromFooter)

  private def fromFooter(footer: ParquetMetadata): FileStats = {
    val blocks = footer.getBlocks.asScala.toVector
    // FP min/max ordering is writer policy: parquet-mr orders NaN greatest
    // (Spark's order) or drops stats on NaN pages; writers that EXCLUDE
    // NaN from bounds (parquet-cpp) would let `x > 5` prune a file whose
    // NaN rows match, or answer MAX without the NaN a scan returns. Trust
    // float/double bounds only from parquet-mr.
    val fpTrusted = Option(footer.getFileMetaData.getCreatedBy).exists(_.contains("parquet-mr"))
    val leaves = (for (b <- blocks; c <- b.getColumns.asScala) yield (b.getRowCount, c))
      .groupBy(_._2.getPath.toDotString)
      .map { case (name, chunks) => name -> leaf(chunks, blocks.size, fpTrusted) }
    // a struct, list or map column is stored but has no chunk under its
    // own name: present, nothing proven
    val groups = footer.getFileMetaData.getSchema.getFields.asScala.collect {
      case t if !t.isPrimitive =>
        t.getName -> ColumnStats(None, tight = false, None, allNull = false, present = true)
    }
    FileStats(Some(blocks.map(_.getRowCount).sum), blocks.map(_.getCompressedSize).sum,
      leaves ++ groups, complete = true)
  }

  /** One leaf column over its (row-group rows, chunk) pairs. It has a
    * range only when EVERY row group's chunk has usable min/max or is
    * proven all-null: a chunk without statistics (parquet-mr leaves them
    * out for values over 4 KB) may hold any value.
    */
  private def leaf(
      chunks: Seq[(Long, ColumnChunkMetaData)], blocks: Int, fpTrusted: Boolean): ColumnStats = {
    val everyGroup = chunks.size == blocks
    val nullCount =
      if (everyGroup && chunks.forall { case (_, c) =>
            c.getStatistics != null && c.getStatistics.isNumNullsSet })
        Some(chunks.map(_._2.getStatistics.getNumNulls).sum)
      else None
    // per chunk: None = unusable, Some(None) = proven all-null,
    // Some(Some(bounds)) = usable bounds
    val perChunk = chunks.map { case (rows, c) =>
      val st = c.getStatistics
      val pt = c.getPrimitiveType
      if (st != null && st.hasNonNullValue) {
        val fp = pt.getPrimitiveTypeName == PrimitiveTypeName.FLOAT ||
          pt.getPrimitiveTypeName == PrimitiveTypeName.DOUBLE
        val mn = normalizeStat(st.genericGetMin(), pt)
        val mx = normalizeStat(st.genericGetMax(), pt)
        if (mn == null || mx == null || (fp && !fpTrusted)) None else Some(Some((mn, mx)))
      } else if (st != null && st.isNumNullsSet && st.getNumNulls == rows) Some(None)
      else None
    }
    val usable = everyGroup && perChunk.forall(_.isDefined)
    val bounds = perChunk.flatten.flatten
    val range = if (usable && bounds.nonEmpty) Some(bounds.reduce { (a, b) =>
      (if (b._1.compareTo(a._1) < 0) b._1 else a._1, if (b._2.compareTo(a._2) > 0) b._2 else a._2)
    }) else None
    // string chunk bounds may be writer-truncated renderings: they prune
    // but never answer
    ColumnStats(range, tight = !range.exists(_._1.isInstanceOf[String]), nullCount,
      allNull = usable && bounds.isEmpty, present = true)
  }

  /** Map a raw footer statistic to the representation [[StatsRange.literal]]
    * produces for the column's Spark type, using the parquet LOGICAL type:
    * dates stay epoch-day Ints, timestamps normalize to epoch-micros Longs
    * across MILLIS/MICROS units, decimals decode their unscaled
    * int/long/binary form to a java BigDecimal. Binaries without a
    * string/decimal annotation (raw bytes, INT96 timestamps) yield null —
    * fail open, there is no literal form to compare against. Epoch-day Int
    * and epoch-micros Long are ALSO the catalyst-internal forms the
    * aggregate pushdown answers in.
    */
  private def normalizeStat(v: Any, pt: org.apache.parquet.schema.PrimitiveType): Comparable[Any] = {
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
