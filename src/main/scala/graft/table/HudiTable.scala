package graft.table

import graft.core.{HoodieConfig, MetaField, Timeline, Timestamps}
import graft.fs.{FsView, PartitionFilter, PartitionPruner}
import graft.log.AvroConvert
import org.apache.avro.{Schema => AvroSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A Hudi table opened for reading — the Spark-native analog of the
  * reference's `Table` (crates/core/src/table/mod.rs:130-143).
  *
  * Steps 1-3 of the read lifecycle (configs, timeline, slice planning) run
  * on the driver over metadata only. Every data read — snapshot, time
  * travel, incremental, file-group restricted — is served by the
  * `hudi-graft` DSv2 relation, whose per-slice reader merges each file
  * group against its own logs (the one MOR merge implementation, as
  * hudi-rs serves its table API and DataFusion provider from one
  * file-group reader).
  */
final class HudiTable(
    val spark: SparkSession,
    val basePath: String,
    readOptions: Map[String, String] = Map.empty
) {

  val hadoopConf = spark.sessionState.newHadoopConf()

  /** hoodie.properties' status, taken BEFORE it is read: a config change
    * after this point makes the next open's [[fingerprint]] differ.
    */
  private val propsStatus = HudiTable.propsStatus(basePath, hadoopConf)
  private val storedConfig = HoodieConfig.load(basePath, hadoopConf)

  /** Call-scoped read options that supplement table configs — e.g. the
    * keygen settings Hudi writers don't persist (the reference's
    * OptionResolver merge). Stored configs are never overridden.
    */
  private val configSupplements: Map[String, String] = readOptions.filter { case (k, _) =>
    HudiTable.isConfigSupplement(k) && !storedConfig.props.contains(k)
  }

  val config: HoodieConfig =
    if (configSupplements.isEmpty) storedConfig
    else HoodieConfig(storedConfig.props ++ configSupplements)
  // Base-file format contract, checked at open so a wrong format fails
  // here instead of deep in a decode (the reference dispatches per format
  // in base_file/reader.rs:152-167; its Lance reader is
  // base_file/lance.rs — here graft.lance.LanceFormat, an independent
  // implementation of the subset Hudi writers emit). HFile data files
  // belong to the metadata table's dedicated reader path, as in the
  // reference.
  config.baseFileFormat.toUpperCase match {
    case "PARQUET" | "LANCE" => ()
    case "HFILE" => throw new UnsupportedOperationException(
      s"table $basePath declares HFile base files — HFile is only supported " +
        "through the metadata-table reader path, not as a data-table format")
    case other => throw new IllegalArgumentException(
      s"table $basePath declares unknown base file format '$other'")
  }

  /** True when data files are Lance (S7): the scan routes base reads
    * through [[graft.lance.LanceFormat]] and every parquet-footer-probing
    * optimization (footer min/max pruning, aggregate pushdown from
    * footers, per-file widen probing, columnar batches) stands down.
    * With the format key ABSENT, falls back to the sampled base file's
    * extension — the reference's behavior for tables whose writer didn't
    * persist the key (base_file/reader.rs extension dispatch, pinned by
    * its v9_lance_nonpartitioned_cow_read_uses_extension_fallback test).
    */
  lazy val isLance: Boolean =
    config.baseFileFormat.equalsIgnoreCase("LANCE") ||
      (config.get(graft.core.HoodieConfig.BaseFileFormat).isEmpty &&
        sampledBasePath.exists(_.endsWith(".lance")))

  /** One arbitrary latest base file — the schema-probe / format-fallback
    * sample.
    */
  private lazy val sampledBasePath: Option[String] =
    fsView.partitionPaths.iterator
      .flatMap(p => fsView.fileGroups(p))
      .flatMap(_.slices.values.lastOption)
      .flatMap(_.baseFile.map(_.path))
      .take(1).toList.headOption

  val timeline: Timeline = new Timeline(basePath, config, hadoopConf)
  val fsView: FsView = new FsView(basePath, config, timeline, hadoopConf)

  /** The open-table cache's key for this build: the props status taken
    * before loading them plus the very listing the timeline was built from.
    */
  private def fingerprint: String = s"${timeline.signature}|props=$propsStatus"

  /** Per-file statistics from the MDT `column_stats` partition when the
    * table advertises it (fileName → [[graft.fs.FileStats]]), loaded once
    * per table generation (the open-table cache keeps the instance while
    * the timeline is unchanged). Empty — footers serve instead — when
    * absent or unreadable.
    */
  lazy val columnStats: Map[String, graft.fs.FileStats] =
    if (!ColumnStatsIndex.isAvailable(config)) Map.empty
    else
      try ColumnStatsIndex.load(basePath, hadoopConf).files
      catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Partition-level ranges from the MDT `partition_stats` partition
    * (partitionPath → column → (min, max)) when advertised — feeds
    * [[graft.fs.StatsPartitionPruner]] so data-column predicates prune
    * partitions before listing. Empty (no stats pruning) when absent or
    * unreadable.
    */
  lazy val partitionStatsForPruning: Map[String, Map[String, (Comparable[Any], Comparable[Any])]] =
    if (!PartitionStatsIndex.isAvailable(config)) Map.empty
    else
      try PartitionStatsIndex.load(basePath, hadoopConf)
      catch { case scala.util.control.NonFatal(_) => Map.empty }

  def tableType: String = config.tableType
  def isMor: Boolean = config.isMor

  /** Resolved read schema, following the reference's resolution order
    * (schema/resolver.rs:41-47): (1) the latest commit metadata's
    * `extraMetadata.schema` Avro string — authoritative on schema-evolved
    * tables where a sampled file group may predate a column add; (2) the
    * newest base file's parquet footer; (3) `hoodie.table.create.schema`.
    * Avro schemas never carry the `_hoodie_*` meta fields (resolver.rs
    * note), so they're prepended when the table populates them.
    */
  private lazy val resolvedSchemas: (StructType, Seq[String]) = {
    // unconditional like the reference (resolver.rs:50-53): no-metafields
    // tables still expose the columns, null-valued
    def prependMeta(data: StructType): StructType = {
      val meta = MetaField.all.filterNot(data.fieldNames.contains)
        .map(StructField(_, StringType, nullable = true))
      StructType(meta ++ data.fields)
    }
    val fromCommit: Option[StructType] = timeline.latestSchemaAvro
      .map(json => prependMeta(AvroConvert.toStructType(new AvroSchema.Parser().parse(json))))
    // prependMeta here too (a no-op when the footer physically carries the
    // meta columns): the reference prepends AFTER resolution on every path
    // (resolver.rs resolve_schema), so a no-metafields table exposes the
    // same null-valued meta columns whichever branch fired
    def fromFooter: Option[StructType] = sampledBasePath
      .map(path => prependMeta(
        if (path.endsWith(".lance")) graft.lance.LanceFormat.readSchema(path, hadoopConf)
        else spark.read.parquet(path).schema))
    def fromCreate: StructType = {
      val avroJson = config.get("hoodie.table.create.schema").getOrElse(
        throw new IllegalStateException(s"Cannot resolve schema for empty table $basePath"))
      prependMeta(AvroConvert.toStructType(new AvroSchema.Parser().parse(avroJson)))
    }
    val resolved = fromCommit.orElse(fromFooter).getOrElse(fromCreate)
    // P6: with hoodie.datasource.write.drop.partition.columns=true the
    // partition fields are physically absent from the files — whether or
    // not the logical schema mentions them (the commit-metadata writer
    // schema does, a footer doesn't). Ensure they're in the schema (typed
    // from create.schema when available) and record them as dropped so
    // reads re-inject values from partition paths.
    val base: (StructType, Seq[String]) =
      if (!config.dropsPartitionFields) (resolved, Nil)
      else {
        val missing = config.partitionFields.filterNot(resolved.fieldNames.contains)
        val createTypes: Map[String, org.apache.spark.sql.types.DataType] =
          config.get("hoodie.table.create.schema")
            .map(j => AvroConvert.toStructType(new AvroSchema.Parser().parse(j)))
            .map(st => st.fields.map(f => f.name -> f.dataType).toMap)
            .getOrElse(Map.empty)
        val full = StructType(resolved.fields ++
          missing.map(f => StructField(f, createTypes.getOrElse(f, StringType), nullable = true)))
        (full, config.partitionFields.filter(full.fieldNames.contains))
      }
    base
  }

  /** NUMERIC timestamp-keygen source fields DECLARED string: the real
    * writer's commit schema records the formatted rendering's type while
    * the parquet files may still hold the ORIGINAL numeric column —
    * reading such a file under the resolved schema is a physical-type
    * crash. The real v9_timebasedkeygen_epochmillis bytes are MIXED:
    * two base files carry int64, one carries STRING holding the decimal
    * epoch rendering ("1705367700000"). That string file defines the
    * honest semantics — the column's value is the full-precision epoch
    * rendered in decimal, NOT the hour-bucket partition path (the r9
    * path-injection approach was value-lossy and is gone). int64 files
    * are therefore read PER-FILE with the column as LONG and cast to the
    * same decimal string ([[longWidenPaths]] probes footers to decide).
    * DATE_STRING keygens never qualify — their stored column is already
    * the string the schema declares.
    */
  lazy val longWidenFields: Seq[String] = graft.fs.TimestampKeyGen.fromConfig(config) match {
    case Some(kg) if Set("UNIX_TIMESTAMP", "EPOCHMILLISECONDS",
        "EPOCHMICROSECONDS", "SCALAR").contains(kg.timestampType.toUpperCase) =>
      // ONLY the keygen SOURCE field (the first partition field — the
      // same one fromConfig binds): a second, genuinely-string partition
      // column must not join the probe, or its BINARY footers would veto
      // widening for the numeric source and reintroduce the crash
      config.partitionFields.headOption.toSeq.filter(f =>
        tableSchema.fields.exists(tf => tf.name == f && tf.dataType == StringType) &&
          !droppedPartitionFields.contains(f))
    case _ => Nil
  }

  /** Memoized [[longWidenPaths]] verdicts: base-file paths are immutable
    * (a rewrite creates a new path), so a footer verdict never goes
    * stale — repeat queries and streaming micro-batches on a gated
    * table re-probe only paths they have not seen.
    */
  private val longWidenCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Of `paths`, those whose footer proves EVERY [[longWidenFields]]
    * column physically INT64 — the files the read widens long→string.
    * One parallel footer sweep, planning-time, gated tables only (zero
    * cost elsewhere). Unprobeable or non-INT64 files read normally: a
    * string-physical file is already correct, anything else fails
    * LOUDLY at read rather than silently substituting values.
    */
  def longWidenPaths(paths: Seq[String]): Set[String] =
    if (longWidenFields.isEmpty || paths.isEmpty) Set.empty
    else {
      // memoized per path: base files are immutable (a rewrite gets a new
      // path), so repeat queries / micro-batches probe only unseen paths
      val fresh = paths.filterNot(longWidenCache.containsKey)
      graft.util.Parallel.map(fresh, 16) { path =>
        val verdict: Boolean = try {
          graft.fs.FileStats.footer(path, hadoopConf) { footer =>
            val msg = footer.getFileMetaData.getSchema
            longWidenFields.forall(f => msg.containsField(f) && {
              val t = msg.getType(Seq(f): _*)
              t.isPrimitive && t.asPrimitiveType().getPrimitiveTypeName ==
                org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
            })
          }
        } catch { case scala.util.control.NonFatal(_) => false }
        longWidenCache.put(path, verdict)
      }
      paths.iterator.filter(p => longWidenCache.get(p) == java.lang.Boolean.TRUE).toSet
    }

  lazy val tableSchema: StructType = resolvedSchemas._1

  /** Partition fields physically absent from the data files (P6). */
  lazy val droppedPartitionFields: Seq[String] = resolvedSchemas._2

  /** P3: strict validation — filters naming unknown columns are an error
    * (reference validate_fields_against_schemas, expr/filter.rs:204-222).
    */
  private def requireKnownFields(filters: Seq[PartitionFilter]): Unit = {
    val known = tableSchema.fieldNames.toSet
    val bad = filters.map(_.field).filterNot(known.contains)
    require(bad.isEmpty, s"Filter fields not in table schema: ${bad.mkString(", ")}")
  }

  private[graft] def prunerFor(filters0: Seq[PartitionFilter]): PartitionPruner = {
    requireKnownFields(filters0)
    // R3: timestamp-keygen tables rewrite source-field filters into
    // partition-path filters (keygen/timestamp_based.rs)
    val filters = graft.fs.TimestampKeyGen.fromConfig(config) match {
      case Some(kg) => filters0.flatMap(kg.transformFilter)
      case None => filters0
    }
    new PartitionPruner(partitionFieldTypes, config.isHiveStylePartitioning,
      config.isPartitionPathUrlencoded, filters,
      // null-aware: IS [NOT] NULL filters prune exactly against the
      // writer's null-partition sentinels, and a sentinel under a typed
      // field no longer voids the rest of the parse
      nullSentinel = Some(config.isPartitionNullSentinel),
      // v4+ bare 'default' is maybe-null (a legacy pre-upgrade null dir
      // or a genuine value) — never exclusion power over null predicates
      ambiguousValue = Some(config.isPartitionAmbiguousValue))
  }

  /** The full planning pruner: path-value pruning (R1) layered with MDT
    * partition-stats pruning over the data-column filters when the index
    * is advertised. ONLY valid for latest-snapshot planning — the index
    * reflects the current table state, so time-travel and bounded
    * incremental reads must use [[prunerFor]] alone.
    */
  private[graft] def statsPrunerFor(
      partitionFilters: Seq[PartitionFilter],
      dataFilters: Seq[PartitionFilter]
  ): graft.fs.PartitionInclude = {
    val base = prunerFor(partitionFilters)
    if (dataFilters.isEmpty || partitionStatsForPruning.isEmpty) base
    else new graft.fs.StatsPartitionPruner(
      base, dataFilters, tableSchema, partitionStatsForPruning)
  }

  /** Time-travel variant of [[statsPrunerFor]]: loads partition stats as
    * of `ts` and applies them ONLY when the MDT view is at least as new
    * as the data instant the read resolves to — MDT commits mirror data
    * commits (plus MDT-internal compactions, which carry the same
    * logical state under a newer timestamp, e.g. the real trips
    * fixture's 30942 compaction above its 30911 data tip), so
    * `mdtAt >= dataAt` means the stats describe exactly the commits the
    * read sees. A LAGGING index (`mdtAt < dataAt`: stats missing a
    * visible commit whose rows could widen the ranges) fails open to
    * path-value pruning alone. `ts` must already be normalized.
    */
  private[graft] def statsPrunerAsOf(
      ts: String,
      partitionFilters: Seq[PartitionFilter],
      dataFilters: Seq[PartitionFilter]
  ): graft.fs.PartitionInclude = {
    val base = prunerFor(partitionFilters)
    if (dataFilters.isEmpty || !PartitionStatsIndex.isAvailable(config)) return base
    try {
      timeline.instantsAsOf(ts).lastOption.map(_.timestamp) match {
        case None => base
        case Some(dataAt) =>
          val lookup = ColumnStatsIndex.load(
            basePath, hadoopConf, PartitionStatsIndex.PartitionName, Some(ts))
          if (lookup.asOf < dataAt) base
          else new graft.fs.StatsPartitionPruner(
            base, dataFilters, tableSchema, PartitionStatsIndex.ranges(lookup))
      }
    } catch { case scala.util.control.NonFatal(_) => base }
  }

  /** Partition field → pruner type name, the single source of truth for
    * every pruning path (driver-side, DSv2 pushdown classification, and
    * runtime/DPP filtering) so a newly supported type can't drift between
    * them.
    */
  private[graft] lazy val partitionFieldTypes: Seq[(String, String)] =
    config.partitionFields.map { f =>
      val tpe = tableSchema.fields.find(_.name == f).map(_.dataType) match {
        case Some(IntegerType | ShortType | ByteType) => "int"
        case Some(LongType) => "long"
        case Some(DoubleType | FloatType) => "double"
        case Some(DateType) => "date"
        case _ => "string"
      }
      f -> tpe
    }

  /** Snapshot read at the latest commit, or time-travel via `asOf` (any
    * format accepted by [[Timestamps.normalize]]). `readOptimized` skips
    * log files (M6). S1/S2 of the inventory.
    */
  def snapshot(
      asOf: Option[String] = None,
      partitionFilters: Seq[PartitionFilter] = Nil,
      readOptimized: Boolean = false
  ): DataFrame = {
    val endOpt = asOf
      .map(Timestamps.normalize(_, config.timelineTimezone))
      .orElse(timeline.latestCommitTimestamp)
    endOpt match {
      case None => HudiTable.emptyDf(spark, tableSchema)
      case Some(end) =>
        val ro = if (readOptimized) Seq("read.optimized" -> "true") else Nil
        withFilters(load(("as.of.timestamp" -> end) +: ro: _*), partitionFilters)
    }
  }

  /** Snapshot restricted to the file groups in `groups` (partitionPath →
    * fileIds), the planning primitive behind record-index point reads:
    * callers that know WHICH groups hold their keys (via
    * [[RecordIndex.lookup]]) read just those slices as of `asOf` instead
    * of the whole table. Groups born after `asOf` simply plan no slice.
    * The restriction is by fileId alone (`cdc.file.groups`): file ids are
    * unique across a table's partitions.
    */
  private[graft] def snapshotForFileGroups(
      asOf: String,
      groups: Map[String, Set[String]]
  ): DataFrame =
    load(
      "as.of.timestamp" -> Timestamps.normalize(asOf, config.timelineTimezone),
      "cdc.file.groups" -> groups.values.flatten.toSeq.sorted.mkString(","))

  /** The `hudi-graft` relation over this table with this handle's config
    * supplements. The resolved end instant always rides along (an
    * `as.of.timestamp` pin even for latest reads): the relation re-opens
    * table state, and without the pin one handle could serve newer data
    * than its own fileSlicesDf/timelineDf report.
    */
  private def load(opts: (String, String)*): DataFrame =
    spark.read.format("hudi-graft").options(configSupplements).options(opts.toMap).load(basePath)

  /** `filters` as the equivalent Catalyst predicates, each literal cast
    * to its field's type. DSv2 pushdown turns them back into
    * [[prunerFor]] pruning and drops the residual where that pruning is
    * exact.
    */
  private def withFilters(df: DataFrame, filters: Seq[PartitionFilter]): DataFrame = {
    requireKnownFields(filters)
    filters.foldLeft(df) { (acc, f) =>
      val c = col(f.field)
      val vs = f.values.map(v => lit(v).cast(tableSchema(f.field).dataType))
      acc.filter(f.op match {
        case "=" => c === vs.head
        case "!=" => c =!= vs.head
        case "<" => c < vs.head
        case "<=" => c <= vs.head
        case ">" => c > vs.head
        case ">=" => c >= vs.head
        case "in" => c.isin(vs: _*)
        case "not in" => !c.isin(vs: _*)
        case "isnull" => c.isNull
        case "isnotnull" => c.isNotNull
        case op => throw new IllegalArgumentException(s"Unknown filter operator '$op'")
      })
    }
  }

  /** Inspection surface (the reference's public `get_file_slices`,
    * table/mod.rs:441): the planned file slices as a DataFrame —
    * partition, file group, slice commit, base-file presence/name and
    * log count — for tooling and ops queries. Driver-side planning only;
    * row count = slice count, never data-sized.
    */
  def fileSlicesDf(asOf: Option[String] = None): DataFrame = {
    import spark.implicits._
    val end = asOf.map(Timestamps.normalize(_, config.timelineTimezone))
      .orElse(timeline.latestCommitTimestamp)
    end.map(ts => fsView.slicesAsOf(ts))
      .getOrElse(Vector.empty)
      .map(sl => (sl.partitionPath, sl.fileId, sl.commitTimestamp,
        sl.baseFile.map(_.fileName).getOrElse(""), sl.logFiles.size))
      .toDF("partition_path", "file_id", "commit_ts", "base_file", "num_logs")
  }

  /** Inspection surface (the reference's `get_timeline`,
    * table/mod.rs:422): completed instants as a DataFrame.
    */
  def timelineDf: DataFrame = {
    import spark.implicits._
    timeline.completedInstants
      .map(i => (i.timestamp, i.action, i.completionTimestamp.getOrElse("")))
      .toDF("commit_ts", "action", "completion_ts")
  }

  /** C3: estimated (rows, bytes) for the latest snapshot — total planned
    * file size with rows extrapolated from one sampled footer
    * (table/mod.rs:902-952; snapshot only, like the reference).
    */
  def tableStats: (Long, Long) = {
    val slices = timeline.latestCommitTimestamp
      .map(fsView.slicesAsOf(_))
      .getOrElse(Vector.empty)
    val (rows, bytes) = graft.fs.FileStatsEstimator.estimateRowsBytes(slices, hadoopConf)
    (rows.getOrElse(0L), bytes)
  }

  /** Inferred CDC feed over `(start, end]`: upstream's `(op, ts_ms,
    * before, after)` image rows, computed per commit by file-group diffs
    * — see [[graft.sources.CdcRead]] for semantics, scale shape, and the
    * refusal set (non-clustering replaces, meta-field-less tables,
    * archived predecessors).
    */
  def cdc(start: Option[String], end: Option[String] = None): DataFrame =
    graft.sources.CdcRead.changes(spark, basePath, start, end, readOptions)

  /** Incremental read of records changed in `(start, end]` (S3): only file
    * groups touched by in-range commits, with the `_hoodie_commit_time` row
    * filter (P5, file_group/reader.rs:652-701) applied AFTER the merge — a
    * row is returned only when the version that wins the merge was
    * committed in range. Partition pruning applies; stats pruning does not
    * (read_options.rs:75-80).
    */
  def incremental(
      start: Option[String],
      end: Option[String] = None,
      partitionFilters: Seq[PartitionFilter] = Nil
  ): DataFrame = {
    val endTs = end
      .map(Timestamps.normalize(_, config.timelineTimezone))
      .orElse(timeline.latestCommitTimestamp)
    endTs match {
      case None => HudiTable.emptyDf(spark, tableSchema)
      case Some(e) =>
        val s = start.map(Timestamps.normalize(_, config.timelineTimezone))
        val opts = Seq("query.type" -> "incremental", "end.timestamp" -> e) ++
          s.map("start.timestamp" -> _)
        withFilters(load(opts: _*), partitionFilters)
    }
  }
}

object HudiTable {
  /** Read-option keys that supplement table configs: `hoodie.*` minus the
    * call-scoped read selectors (`hoodie.read.*` and
    * `hoodie.datasource.{query,read}.*`), which shape one read and never
    * describe the table.
    */
  private[graft] def isConfigSupplement(key: String): Boolean = {
    val k = key.toLowerCase(java.util.Locale.ROOT)
    k.startsWith("hoodie.") && !k.startsWith("hoodie.read.") &&
      !k.startsWith("hoodie.datasource.query.") && !k.startsWith("hoodie.datasource.read.")
  }

  /** A frame of `schema` with no rows, built without a Spark job. */
  def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def apply(spark: SparkSession, basePath: String): HudiTable =
    cached(spark, basePath, Map.empty)
  def apply(spark: SparkSession, basePath: String, readOptions: Map[String, String]): HudiTable =
    cached(spark, basePath, readOptions)

  /** Session-shared open-table cache, revalidated on EVERY open by a
    * timeline fingerprint — the analog of Hudi's FileSystemViewManager:
    * opening a table costs a hoodie.properties read, a timeline listing,
    * commit-metadata JSON reads and (first scan) partition listings and
    * footers, all repeated identically for every query against an
    * unchanged table. The fingerprint is the hoodie.properties status plus
    * one `listStatus` of the active timeline dir: any commit, rollback,
    * clean, archive or config change alters it, so a changed table is
    * re-opened fresh (which is also exactly what the streaming source's
    * `freshTable` wants — a new view only when there IS new data).
    *
    * A build's fingerprint comes from its own inputs — the props status
    * taken before loading them and the listing its [[Timeline]] parsed —
    * never from a second listing after the build: an instant completing
    * in between would otherwise pin a table that lacks it under a
    * fingerprint that includes it. So a changed table's open lists the
    * timeline twice (the check and the build), an unchanged one's once.
    * A fingerprint failure fails open to a fresh build.
    */
  private def cached(s: SparkSession, basePath: String, opts: Map[String, String]): HudiTable = {
    val reg = graft.queries.SessionRegistry.of(s)
    val key = s"huditable:$basePath:" +
      opts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    reg.synchronized {
      reg.get(key) match {
        case Some(t: HudiTable) if current(t) == t.fingerprint => t
        case _ =>
          val t = new HudiTable(s, basePath, opts)
          fingerprintListings.incrementAndGet()
          reg.put(key, t)
          t
      }
    }
  }

  /** Fingerprint listings taken (one `listStatus` of the timeline dir
    * each, the revalidation's or a build's) — the per-open cost.
    * Counter-asserted by specs that bound a streaming drain's planning IO.
    */
  val fingerprintListings = new java.util.concurrent.atomic.AtomicLong

  private def propsStatus(basePath: String, conf: org.apache.hadoop.conf.Configuration): String = {
    val props = new org.apache.hadoop.fs.Path(basePath, ".hoodie/hoodie.properties")
    val st = props.getFileSystem(conf).getFileStatus(props)
    s"${st.getLen}:${st.getModificationTime}"
  }

  /** `t`'s fingerprint as the table stands now, in build order (props
    * status, then the timeline listing); empty on any IO error, which
    * never matches a build's.
    */
  private def current(t: HudiTable): String =
    try {
      fingerprintListings.incrementAndGet()
      val props = propsStatus(t.basePath, t.hadoopConf)
      s"${Timeline.signature(t.timeline.dir, t.hadoopConf)}|props=$props"
    } catch { case scala.util.control.NonFatal(_) => "" }
}
