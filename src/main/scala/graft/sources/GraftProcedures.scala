package graft.sources

import graft.table.{HudiTable, SecondaryIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalog stored procedures — the hudi-cli-style inspection surface as
  * SQL `CALL`s on [[GraftCatalog]]. Every procedure takes one `table`
  * path argument, runs DRIVER-SIDE planning only, and returns its result
  * as a [[LocalScan]] (rows materialize on the driver; counts are
  * slice/commit/index-sized, never data-sized — the right shape for ops
  * tooling at any table size).
  */
object GraftProcedures {

  val names: Array[String] =
    Array("show_commits", "show_archived_commits", "show_file_slices",
      "show_partitions", "show_indexes", "show_column_stats",
      "show_partition_stats", "show_bloom_filters", "show_table_properties",
      "run_clean", "run_compaction", "run_clustering",
      "create_savepoint", "delete_savepoint")

  /** Planned slices at `asOf` (normalized) or the latest commit. */
  private def slicesAt(t: HudiTable, asOf: Option[String]): Vector[graft.fs.FileSlice] =
    asOf.map(graft.core.Timestamps.normalize(_, t.config.timelineTimezone))
      .orElse(t.timeline.latestCommitTimestamp)
      .map(ts => t.fsView.slicesAsOf(ts)).getOrElse(Vector.empty)

  def load(name: String): Option[UnboundProcedure] = name.toLowerCase match {
    case "show_partitions" => Some(proc("show_partitions",
      "partitions of the snapshot (latest, or as_of a timestamp) with file-group counts and size",
      StructType(Seq(
        StructField("partition_path", StringType, nullable = false),
        StructField("num_file_groups", IntegerType, nullable = false),
        StructField("num_log_files", IntegerType, nullable = false),
        StructField("total_bytes", LongType, nullable = false))),
      (t, asOf) => slicesAt(t, asOf)
        .groupBy(_.partitionPath).toVector.sortBy(_._1)
        .map { case (p, ss) =>
          row(p, Int.box(ss.size), Int.box(ss.map(_.logFiles.size).sum),
            Long.box(ss.map(_.totalSize).sum))
        }))
    // The hudi-cli / Spark-Hudi `show_table_properties` shape: the
    // table's own hoodie.properties as sorted (key, value) rows — what
    // an ops user coming from another Hudi engine inspects first.
    case "show_table_properties" => Some(proc("show_table_properties",
      "hoodie.properties of the table as (key, value) rows",
      StructType(Seq(
        StructField("key", StringType, nullable = false),
        StructField("value", StringType, nullable = false))),
      (t, _) => t.config.props.toVector.sortBy(_._1).map { case (k, v) => row(k, v) }))
    case "show_commits" => Some(proc("show_commits",
      "completed instants of a hudi table's timeline",
      StructType(Seq(
        StructField("commit_ts", StringType, nullable = false),
        StructField("action", StringType, nullable = false),
        StructField("completion_ts", StringType, nullable = false))),
      (t, _) => t.timeline.completedInstants.map(i =>
        row(i.timestamp, i.action, i.completionTimestamp.getOrElse("")))))
    // The hudi-cli `commits showarchived` shape. Deliberately NOT gated
    // on hoodie.internal.timeline.archived.enabled: that flag guards
    // IMPLICIT read-path loads (T4's double gate in selectWithArchived),
    // while a CALL names the archive explicitly — an ops user asking to
    // see it should see it (empty when no archive exists).
    case "show_archived_commits" => Some(proc("show_archived_commits",
      "instants from the archived timeline (v6 archive folder, v8+ LSM history)",
      StructType(Seq(
        StructField("commit_ts", StringType, nullable = false),
        StructField("action", StringType, nullable = false),
        StructField("completion_ts", StringType, nullable = false))),
      (t, _) => t.timeline.archivedInstants.map(i =>
        row(i.timestamp, i.action, i.completionTimestamp.getOrElse("")))))
    case "show_file_slices" => Some(proc("show_file_slices",
      "planned file slices of the snapshot (latest, or as_of a timestamp)",
      StructType(Seq(
        StructField("partition_path", StringType, nullable = false),
        StructField("file_id", StringType, nullable = false),
        StructField("commit_ts", StringType, nullable = false),
        StructField("base_file", StringType, nullable = false),
        StructField("num_logs", IntegerType, nullable = false),
        StructField("total_bytes", LongType, nullable = false))),
      (t, asOf) => slicesAt(t, asOf)
        .map(sl => row(sl.partitionPath, sl.fileId, sl.commitTimestamp,
          sl.baseFile.map(_.fileName).getOrElse(""),
          Int.box(sl.logFiles.size), Long.box(sl.totalSize)))))
    case "show_indexes" => Some(proc("show_indexes",
      "advertised metadata-table partitions and declared index definitions",
      StructType(Seq(
        StructField("index_name", StringType, nullable = false),
        StructField("index_type", StringType, nullable = false),
        StructField("source_fields", StringType, nullable = false),
        StructField("advertised", BooleanType, nullable = false))),
      (t, _) => {
        val advertised = t.config.metadataPartitions
        val defs = SecondaryIndex.indexDefs(t.basePath, t.hadoopConf)
        val declared = defs.values.toVector.sortBy(_.indexName).map(d =>
          row(d.indexName, d.indexType, d.sourceFields.mkString(","),
            Boolean.box(advertised.contains(d.indexName))))
        val undeclared = advertised.filterNot(defs.contains).toVector.sorted.map(p =>
          row(p, "", "", Boolean.box(true)))
        declared ++ undeclared
      }))
    case "show_column_stats" => Some(proc("show_column_stats",
      "per-(file, column) ranges from the MDT column_stats index",
      StructType(Seq(
        StructField("file_name", StringType, nullable = false),
        StructField("column_name", StringType, nullable = false),
        StructField("min_value", StringType, nullable = false),
        StructField("max_value", StringType, nullable = false),
        StructField("value_count", LongType, nullable = true),
        StructField("null_count", LongType, nullable = true),
        StructField("tight", BooleanType, nullable = false))),
      (t, _) => {
        if (!graft.table.ColumnStatsIndex.isAvailable(t.config)) Seq.empty
        else graft.table.ColumnStatsIndex.load(t.basePath, t.hadoopConf).entries
          .sortBy(e => (e.fileName, e.columnName))
          .map(e => row(e.fileName, e.columnName,
            e.min.map(String.valueOf).getOrElse(""),
            e.max.map(String.valueOf).getOrElse(""),
            e.valueCount.map(Long.box).orNull,
            e.nullCount.map(Long.box).orNull,
            Boolean.box(e.isTightBound)))
      }))
    case "show_partition_stats" => Some(proc("show_partition_stats",
      "per-(partition, column) ranges from the MDT partition_stats index",
      StructType(Seq(
        StructField("partition_path", StringType, nullable = false),
        StructField("column_name", StringType, nullable = false),
        StructField("min_value", StringType, nullable = false),
        StructField("max_value", StringType, nullable = false))),
      (t, _) => t.partitionStatsForPruning.toVector
        .flatMap { case (p, cols) => cols.toVector.map { case (c, (mn, mx)) =>
          (p, c, String.valueOf(mn), String.valueOf(mx)) } }
        .sortBy(r => (r._1, r._2))
        .map(r => row(r._1, r._2, r._3, r._4))))
    case "show_bloom_filters" => Some(proc("show_bloom_filters",
      "bloom-filter coverage of the latest snapshot's base files (MDT bloom_filters index)",
      StructType(Seq(
        StructField("partition_path", StringType, nullable = false),
        StructField("base_file", StringType, nullable = false),
        StructField("has_bloom", BooleanType, nullable = false))),
      (t, asOf) => {
        val targets = slicesAt(t, asOf)
          .flatMap(sl => sl.baseFile.map(bf => (sl.partitionPath, bf.fileName)))
        val found: Set[(String, String)] =
          if (!graft.table.BloomFilterIndex.isAvailable(t.config)) Set.empty
          else graft.table.BloomFilterIndex
            .lookup(t.basePath, targets, t.hadoopConf).keySet
        targets.sortBy(identity).map { case (p, f) =>
          row(p, f, Boolean.box(found.contains((p, f))))
        }
      }))
    // the ONE mutating procedure (hudi-cli `cleans run`): KEEP_LATEST_
    // COMMITS cleaning via graft.write.HudiCleaner — driver-side metadata
    // plus O(deleted files) namenode deletes; returns the removed files.
    // Savepoints and pending instants refuse fail-closed inside.
    case "run_clean" => Some(new UnboundProcedure with BoundProcedure {
      override def name(): String = "run_clean"
      override def description(): String =
        "delete slice versions older than the last retain_commits commits " +
          "(KEEP_LATEST_COMMITS); completes a clean instant and tombstones a " +
          "files-partition MDT"
      override def bind(inputType: StructType): BoundProcedure = this
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] =
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("hudi table base path").build(),
          ProcedureParameter.in("retain_commits", IntegerType)
            .comment("how many latest commits stay fully servable (>= 1)").build())
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val retain = input.getInt(1)
        val stats = graft.write.HudiCleaner.clean(SparkSession.active, path, retain)
        val schema = StructType(Seq(
          StructField("clean_ts", StringType, nullable = true),
          StructField("earliest_retained", StringType, nullable = true),
          StructField("partition_path", StringType, nullable = false),
          StructField("deleted_file", StringType, nullable = false)))
        val out = stats.deleted.map { case (p, f) =>
          row(stats.instant.orNull, stats.earliestRetained.orNull, p, f)
        }.toArray
        java.util.List.of[Scan](new LocalScan {
          override def rows(): Array[InternalRow] = out
          override def readSchema(): StructType = schema
        }).iterator()
      }
    })
    // MOR compaction (hudi-cli `compactions run`): fold every log-carrying
    // group's slice into a fresh base-file version via
    // graft.write.HudiCompaction — the merged read is the ordinary
    // distributed MOR scan; row commit stamps are preserved so the
    // compaction is a logical no-op to incremental/CDC consumers.
    case "run_compaction" => Some(new UnboundProcedure with BoundProcedure {
      override def name(): String = "run_compaction"
      override def description(): String =
        "compact every file group whose latest slice carries log files into a new " +
          "base-file version (completed as a commit with compacted=true)"
      override def bind(inputType: StructType): BoundProcedure = this
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] =
        Array(ProcedureParameter.in("table", StringType)
          .comment("hudi table base path").build())
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val stats = graft.write.HudiCompaction.compact(SparkSession.active, path)
        val schema = StructType(Seq(
          StructField("compaction_ts", StringType, nullable = true),
          StructField("partition_path", StringType, nullable = false),
          StructField("file_id", StringType, nullable = false)))
        val out = stats.compacted.map { case (p, fid) =>
          row(stats.instant.orNull, p, fid)
        }.toArray
        java.util.List.of[Scan](new LocalScan {
          override def rows(): Array[InternalRow] = out
          override def readSchema(): StructType = schema
        }).iterator()
      }
    })
    // clustering (hudi-cli `clustering run`): rewrite the current file
    // groups into fresh hash-bucketed ones via graft.write.HudiClustering
    // — a REPLACECOMMIT with partitionToReplaceFileIds + CLUSTER
    // operation type, row commit stamps preserved (logical no-op to
    // incremental/CDC consumers).
    case "run_clustering" => Some(new UnboundProcedure with BoundProcedure {
      override def name(): String = "run_clustering"
      override def description(): String =
        "rewrite every partition's current file groups into fresh consolidated " +
          "groups (completed as a CLUSTER replacecommit; MOR logs fold in)"
      override def bind(inputType: StructType): BoundProcedure = this
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] =
        Array(ProcedureParameter.in("table", StringType)
          .comment("hudi table base path").build())
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val stats = graft.write.HudiClustering.cluster(SparkSession.active, path)
        val schema = StructType(Seq(
          StructField("clustering_ts", StringType, nullable = true),
          StructField("partition_path", StringType, nullable = false),
          StructField("new_file_id", StringType, nullable = false)))
        val out = stats.newGroups.map { case (p, fid) =>
          row(stats.instant.orNull, p, fid)
        }.toArray
        java.util.List.of[Scan](new LocalScan {
          override def rows(): Array[InternalRow] = out
          override def readSchema(): StructType = schema
        }).iterator()
      }
    })
    // upstream's savepoint CALL pair: pin / unpin a commit's view against
    // the cleaner (graft.write.HudiSavepoints + HudiCleaner's retention)
    case "create_savepoint" | "delete_savepoint" =>
      val creating = name.toLowerCase == "create_savepoint"
      Some(new UnboundProcedure with BoundProcedure {
        override def name(): String = if (creating) "create_savepoint" else "delete_savepoint"
        override def description(): String =
          if (creating) "pin a completed commit's view against cleaning"
          else "remove a savepoint (its pinned slices become cleanable)"
        override def bind(inputType: StructType): BoundProcedure = this
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          Array(
            ProcedureParameter.in("table", StringType)
              .comment("hudi table base path").build(),
            ProcedureParameter.in("commit_time", StringType)
              .comment("the commit to pin/unpin").build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val path = input.getUTF8String(0).toString
          val ts = input.getUTF8String(1).toString
          val schema = StructType(Seq(
            StructField("commit_time", StringType, nullable = false),
            StructField("done", BooleanType, nullable = false)))
          val out =
            if (creating)
              Array(row(graft.write.HudiSavepoints.create(SparkSession.active, path, ts),
                Boolean.box(true)))
            else Array(row(ts,
              Boolean.box(graft.write.HudiSavepoints.delete(SparkSession.active, path, ts))))
          java.util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = schema
          }).iterator()
        }
      })
    case _ => None
  }

  private def row(vs: Any*): InternalRow =
    InternalRow.fromSeq(vs.map {
      case s: String => UTF8String.fromString(s)
      case other => other
    })

  private def proc(
      procName: String,
      procDescription: String,
      schema: StructType,
      body: (HudiTable, Option[String]) => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = procDescription
      override def bind(inputType: StructType): BoundProcedure = this
      override def isDeterministic: Boolean = false // reads live table state
      override def parameters(): Array[ProcedureParameter] =
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("hudi table base path").build(),
          // optional time travel for the snapshot-shaped procedures
          // (ignored by timeline/index listings); '' = latest
          ProcedureParameter.in("as_of", StringType).defaultValue("''")
            .comment("optional snapshot timestamp, any supported format").build())
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val asOf = Option(input.getUTF8String(1)).map(_.toString).filter(_.nonEmpty)
        val table = HudiTable(SparkSession.active, path)
        val out = body(table, asOf).toArray
        java.util.List.of[Scan](new LocalScan {
          override def rows(): Array[InternalRow] = out
          override def readSchema(): StructType = schema
        }).iterator()
      }
    }
}
