package graft.write

import graft.core.MetaField
import graft.io.{ParquetFiles, Storage}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The one writer of Hudi base files: inserts, bulk inserts, insert
  * overwrites, COW rewrites, a MOR upsert's overflow into fresh groups,
  * clustering and compaction all hand it base-file rows — the five meta
  * columns, then the data columns — with each file group's rows together
  * in one task, grouped by `_hoodie_file_name`.
  *
  * Scale shape: ONE Spark job. Each task writes every group it reads to
  * its own parquet file under `.hoodie/.temp/<instant>`, through
  * [[graft.io.ParquetFiles]] (Spark's parquet write support over
  * [[graft.io.Storage]]), one open file at a time — no output committer,
  * no footer re-read — and returns the file's (partition, fileId, rows,
  * bytes), plus exact min/max/nullCount of its column_stats columns when
  * asked. The driver writes the schema-only base of each required group
  * that came back empty, renames every staged file into place and
  * deletes only this instant's staging directory: O(#files) namenode
  * ops, no data through the driver.
  */
object BaseFiles {

  /** One file a commit wrote — a base file, or a MOR log file — with
    * `stats` = (column, min, max, nullCount) of a base file's
    * column_stats columns.
    */
  final case class Written(
      partition: String,
      fileId: String,
      relPath: String,
      rows: Long,
      bytes: Long,
      stats: Seq[(String, Any, Any, Long)] = Nil) {
    def name: String = relPath.substring(relPath.lastIndexOf('/') + 1)
  }

  /** Routed rows — data columns plus `__key`, `__part`, `__fid` and
    * `_hoodie_commit_time` (other meta columns are dropped) — as
    * base-file rows at `instant`: the five meta columns, the sequence
    * number `{commit}_{fileId}_{key}`, then the data columns.
    */
  def rows(routed: DataFrame, instant: String): DataFrame = {
    val dataCols = routed.columns.filterNot(c => c.startsWith("__") || MetaField.all.contains(c))
    routed.select(
      col(MetaField.CommitTime) +:
        concat_ws("_", col(MetaField.CommitTime), col("__fid"), col("__key"))
          .as(MetaField.CommitSeqno) +:
        col("__key").as(MetaField.RecordKey) +:
        col("__part").as(MetaField.PartitionPath) +:
        concat(col("__fid"), lit(suffix(instant))).as(MetaField.FileName) +:
        dataCols.map(col).toSeq: _*)
  }

  /** [[rows]] with each file group's rows together in one task: one
    * shuffle by (partition, group) and a sort on the group within each
    * task — the sort Spark's own writer adds for a `partitionBy`.
    */
  def grouped(routed: DataFrame, instant: String): DataFrame =
    rows(routed, instant)
      .repartition(col(MetaField.PartitionPath), col(MetaField.FileName))
      .sortWithinPartitions(MetaField.FileName)

  /** Write base-file `rows` at `instant` under `basePath`; returns one
    * [[Written]] per file, by (partition, fileId). `required` (fileId →
    * partition) names groups that get a base-file version even when no
    * row arrives — a group its deletes emptied, whose old slice would
    * otherwise stay visible — and, when `onlyRequired`, the only groups
    * the rows may name. `stats` computes the column_stats bounds.
    */
  def write(
      rows: DataFrame,
      basePath: String,
      instant: String,
      required: Map[String, String] = Map.empty,
      onlyRequired: Boolean = false,
      stats: Boolean = false): Seq[Written] = {
    val schema = rows.schema
    val meta = schema.fieldNames.take(MetaField.all.size).toSeq
    require(meta == MetaField.all,
      s"hudi-graft: base-file rows start with the meta columns, not ${meta.mkString(",")}")
    val spark = rows.sparkSession
    val statColumns =
      if (!stats) Nil
      else statColumnsOf(schema).map(f => (f.name, schema.fieldIndex(f.name), f.dataType))
    val stage = new Stage(new Path(basePath, s".hoodie/.temp/$instant").toString, suffix(instant),
      required, onlyRequired, ParquetFiles.prepare(spark, schema), statColumns)
    val written = rows.queryExecution.toRdd.mapPartitions(writeGroups(_, stage)).collect()
    if (written.map(_.fid).distinct.length != written.length)
      throw new IllegalStateException(
        "hudi-graft: a file group's rows reached two staging tasks — it would be split over files")
    val emptied = required.keys.toSeq.sorted.filterNot(written.map(_.fid).toSet).map { f =>
      Staged(required(f), f, 0L, stage.parquet.open(stage.path(f)).close(), Nil)
    }
    val hadoopConf = spark.sessionState.newHadoopConf()
    val storage = Storage(hadoopConf)
    val fs = new Path(basePath).getFileSystem(hadoopConf)
    val staged = (written.toSeq ++ emptied).sortBy(s => (s.partition, s.fid))
    for (dir <- staged.map(_.partition).distinct)
      storage.mkdirs(if (dir.isEmpty) new Path(basePath) else new Path(basePath, dir))
    val files = staged.map { s =>
      val name = s"${s.fid}${suffix(instant)}"
      val rel = if (s.partition.isEmpty) name else s"${s.partition}/$name"
      val dest = new Path(basePath, rel)
      if (!fs.rename(stage.path(s.fid), dest))
        throw new java.io.IOException(s"hudi-graft: rename ${stage.path(s.fid)} -> $dest failed")
      Written(s.partition, s.fid, rel, s.rows, s.bytes, s.stats)
    }
    // only this instant's staging: a concurrent writer's stays untouched
    fs.delete(new Path(stage.dir), true)
    files
  }

  private def suffix(instant: String): String = s"_${HudiWriter.Token}_$instant.parquet"

  /** Columns eligible for column_stats maintenance: the wrapper types
    * the MDT-subset schema carries (LongWrapper/DateWrapper/
    * StringWrapper). Anything else is SKIPPED — every index tier keys by
    * (file, column) and falls open on a gap, so partial coverage costs a
    * footer read, never a wrong answer.
    */
  private[write] def statColumnsOf(schema: StructType): Seq[StructField] =
    schema.fields.filter(f =>
      !f.name.startsWith("__") && !MetaField.all.contains(f.name) &&
        (f.dataType == LongType || f.dataType == DateType || f.dataType == StringType)).toSeq

  /** [[ColumnStatsMaintenance.FileColStats]] entries of written base
    * files of `schema` (all-null columns skip — no bounds to record,
    * absence fails open).
    */
  private[write] def colStatsEntries(
      files: Seq[Written],
      schema: StructType): Seq[ColumnStatsMaintenance.FileColStats] =
    for {
      f <- files
      (colName, mn, mx, nc) <- f.stats
      if mn != null && mx != null
    } yield ColumnStatsMaintenance.FileColStats(f.partition, f.name, colName,
      statWrapper(schema(colName).dataType), statValue(mn), statValue(mx), f.rows, nc)

  private[write] def statWrapper(dt: DataType): String = dt match {
    case LongType => "LongWrapper"
    case DateType => "DateWrapper"
    case StringType => "StringWrapper"
    case other => throw new IllegalStateException(s"unexpected stat type $other")
  }

  /** Stats values as the MDT records them: dates as epoch days. */
  private[write] def statValue(v: Any): Any = v match {
    case d: java.sql.Date => Int.box(d.toLocalDate.toEpochDay.toInt)
    case ld: java.time.LocalDate => Int.box(ld.toEpochDay.toInt)
    case other => other
  }

  /** What the staging tasks need: the staging directory, the base-file
    * name suffix, the required groups' partitions (and whether rows may
    * name only those groups), the prepared parquet writes and the
    * column_stats columns as (name, ordinal, type).
    */
  private final class Stage(
      val dir: String,
      suffix: String,
      val required: Map[String, String],
      val onlyRequired: Boolean,
      val parquet: ParquetFiles,
      val statColumns: Seq[(String, Int, DataType)]) extends Serializable {
    def path(fid: String): Path = new Path(dir, s"$fid$suffix")
    def fidOf(fileName: String): String =
      if (fileName.endsWith(suffix)) fileName.stripSuffix(suffix)
      else throw new IllegalStateException(
        s"hudi-graft: rows name $fileName, not a base file of this commit ($suffix)")
  }

  /** One staged base file; `stats` = (column, min, max, nullCount). */
  private final case class Staged(
      partition: String, fid: String, rows: Long, bytes: Long,
      stats: Seq[(String, Any, Any, Long)])

  /** `_hoodie_partition_path`'s and `_hoodie_file_name`'s positions in a
    * base-file row.
    */
  private val PartitionOrdinal = 3
  private val FileNameOrdinal = 4

  /** Task side: write each group's rows to its staged file, one open
    * file at a time. A group seen twice in one task means its rows did
    * not arrive together, which fails the job rather than splitting the
    * group over two files (or keeping one of them).
    */
  private def writeGroups(rows: Iterator[InternalRow], stage: Stage): Iterator[Staged] = {
    val done = Vector.newBuilder[Staged]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var name: UTF8String = null
    var part, fid: String = null
    var out: ParquetFiles.Writer = null
    var n = 0L
    var bounds: Seq[Bounds] = Nil
    def finish(): Unit = if (out != null) {
      val bytes = out.close()
      out = null
      done += Staged(part, fid, n, bytes, bounds.map(_.result))
    }
    try {
      while (rows.hasNext) {
        val r = rows.next()
        val rowName = r.getUTF8String(FileNameOrdinal)
        if (name == null || rowName != name) {
          finish()
          name = rowName.clone()
          fid = stage.fidOf(name.toString)
          if (!seen.add(fid))
            throw new IllegalStateException(
              s"hudi-graft: the rows of file group $fid do not arrive together")
          if (stage.onlyRequired && !stage.required.contains(fid))
            throw new IllegalStateException(
              s"hudi-graft: rows name file group $fid, which this commit does not rewrite")
          part = stage.required.getOrElse(fid, r.getUTF8String(PartitionOrdinal).toString)
          out = stage.parquet.open(stage.path(fid))
          n = 0L
          bounds = stage.statColumns.map { case (c, i, dt) => new Bounds(c, i, dt) }
        }
        out.write(r)
        n += 1
        bounds.foreach(_.add(r))
      }
      finish()
    } catch {
      case e: Throwable =>
        if (out != null) scala.util.Try(out.close())
        throw e
    }
    done.result().iterator
  }

  /** Exact min/max/nullCount of one long, date or string column, valued
    * as the MDT records them (dates as epoch days).
    */
  private final class Bounds(column: String, ordinal: Int, dt: DataType) {
    private var nulls = 0L
    private var seen = false
    private var lo, hi = 0L
    private var slo, shi: UTF8String = null

    def add(r: InternalRow): Unit =
      if (r.isNullAt(ordinal)) nulls += 1
      else if (dt == StringType) {
        val v = r.getUTF8String(ordinal)
        if (slo == null || v.compareTo(slo) < 0) slo = v.clone()
        if (shi == null || v.compareTo(shi) > 0) shi = v.clone()
      } else {
        val v = if (dt == LongType) r.getLong(ordinal) else r.getInt(ordinal).toLong
        if (!seen || v < lo) lo = v
        if (!seen || v > hi) hi = v
        seen = true
      }

    def result: (String, Any, Any, Long) =
      if (dt == StringType)
        (column, Option(slo).map(_.toString).orNull, Option(shi).map(_.toString).orNull, nulls)
      else if (!seen) (column, null, null, nulls)
      else if (dt == LongType) (column, Long.box(lo), Long.box(hi), nulls)
      else (column, Int.box(lo.toInt), Int.box(hi.toInt), nulls)
  }
}
