package graft.write

import graft.core.{HoodieConfig, MetaField, Timeline}
import graft.io.Storage
import graft.table.{HudiTable, RecordIndex}
import graft.util.SerializableConf
import org.apache.hadoop.fs.Path
import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Write path for `df.write.format("hudi-graft")` — the user-facing
  * surface the reference stops short of (docs/reader-spec.md:345 declares
  * the reference read-only; BASELINE's north star says read AND write).
  *
  * Supported: COPY_ON_WRITE (base-file rewrites) and MERGE_ON_READ
  * (deltacommit log appends) targets; single- and multi-field record
  * keys (bare Simple rendering, or ComplexKeyGenerator `f:v` rendering
  * with null/empty placeholders); multi-level partition paths incl.
  * hive-style; operations `insert` / `bulk_insert` / `upsert` / `delete`
  * (the input names keys to remove — key + partition columns suffice; a
  * COW group losing every row writes an EMPTY base-file version so the
  * deletion is visible) / `insert_overwrite_table`, SaveModes Append
  * (per the operation option), Overwrite (insert_overwrite_table as a
  * REPLACECOMMIT — history preserved, incremental/CDC readers see the
  * replacement), ErrorIfExists and Ignore. Partitioning comes from the
  * `hoodie.datasource.write.partitionpath.field` option or
  * `.partitionBy(...)`. Advertised `files` and `record_index` MDT
  * partitions are MAINTAINED on every commit (and the record index
  * serves the upsert probe); other index partitions, TimestampBased/
  * custom key generators, and non-parquet base formats refuse loudly.
  *
  * Layout written (the real-Hudi v6 invariants the readers and specs
  * pin): `hoodie.properties` with key/precombine/keygenerator fields;
  * base files named `{fileId}_{writeToken}_{instant}.parquet` holding the
  * five meta columns; a `requested` → `inflight` → completed instant
  * triple per commit; JSON commit metadata whose write stats carry
  * fileId/path/partitionPath/prevCommit/numWrites/numUpdateWrites/
  * fileSizeInBytes and `extraMetadata.schema` (the writer's data schema).
  *
  * Scale shape: base files stage in ONE Spark job with one shuffle —
  * rows route to their target file group, shuffle by (partition,
  * fileGroup), and each task writes each group it holds as exactly one
  * parquet file ([[BaseFiles]]), returning the file's row count, size
  * and column_stats bounds; the driver then RENAMES files into Hudi
  * names and writes metadata, O(#files) namenode ops (never data
  * movement). Inserts
  * hash-bucket into fresh groups with no probe. Every upsert and delete,
  * COW or MOR, starts from the same RDD probe pass ([[probe]]): on a
  * record_index table the batch partitions by its keys' index group and
  * each task probes its group's slice (GLOBAL matching); without one, a
  * key-column join against the current snapshot pruned to (key,
  * partition, file name) matches per partition. The probe result is
  * cached, and one counting job over it yields each partition's new keys
  * and each file group's matched keys. The table types differ only in
  * the last pass. MOR appends log blocks: updates onto the matched group,
  * new keys onto the partition's SMALL groups (latest slice below
  * `hoodie.parquet.max.file.size`; capacity = remaining bytes / the
  * latest commit's bytes per record) by key hash weighted by remaining
  * capacity, one log file per group from a pass partitioned by file
  * group — at most four Spark jobs per upsert, counting the incoming-row
  * dedup's shuffle, and three per delete. COW rewrites the matched
  * groups' base files: the stored rows minus the matched keys plus the
  * incoming rows, staged like inserts. New keys past small-group capacity
  * (all of them on COW) stage fresh groups sized by their count × the
  * bytes-per-record estimate; a commit with nothing to stage skips the
  * staging job. On a record_index table an index pass writes the created
  * keys' entries and the deleted keys' tombstones straight from the
  * probe's cached partitions, already laid out by index group — no
  * further shuffle. Driver collects are bounded by file groups or
  * partitions — table file count, never key count (the same bound
  * AggMaintenance documents).
  *
  * Incoming rows are deduplicated per (key, partition) — per key alone on
  * a record_index table, whose probe matches globally — by the precombine
  * field (greatest wins; ties and no-precombine keep one row
  * deterministically), then incoming ALWAYS wins over stored — upstream's
  * default OverwriteWithLatestAvroPayload. Carried stored rows keep their
  * original `_hoodie_commit_time` (the COW stamp-preservation every
  * incremental/CDC reader in this repo depends on) while their
  * `_hoodie_file_name` moves to the rewritten file, exactly like real
  * Hudi. Without a record_index the upsert index is NON-GLOBAL
  * (upstream's default): the probe keys on (record key, partition path),
  * so a row arriving with a CHANGED partition value inserts there and
  * leaves the old partition's copy in place — exactly upstream's
  * non-global bloom/simple index behavior.
  */
object HudiWriter {

  private[write] val Token = "0-0-0"

  /** Observability for specs: how many upsert/delete probes planned a
    * full-snapshot key join vs an MDT record-index lookup. The indexed
    * path must show snapshotProbes unchanged (zero snapshot scans).
    */
  val snapshotProbes = new java.util.concurrent.atomic.AtomicLong(0L)
  val indexProbes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** SQL `CREATE TABLE` support: write the `.hoodie` metadata for an
    * EMPTY table — no data commit — including
    * `hoodie.table.create.schema`, which is what serves reads (and the
    * first INSERT's schema check) before any commit exists.
    */
  def createTable(
      spark: SparkSession,
      basePath: String,
      dataSchema: org.apache.spark.sql.types.StructType,
      partitionColumns: Seq[String],
      options: Map[String, String]): Unit = {
    val opts = new Options(options)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = new Path(basePath).getFileSystem(hadoopConf)
    if (fs.exists(new Path(basePath, ".hoodie/hoodie.properties")))
      throw new IllegalArgumentException(s"hudi-graft: table already exists at $basePath")
    val keyFields = opts.recordKeyFields.getOrElse(throw new IllegalArgumentException(
      "hudi-graft: CREATE TABLE requires hoodie.datasource.write.recordkey.field " +
        "(or the primaryKey table property)"))
    val partFields =
      if (partitionColumns.nonEmpty) partitionColumns
      else opts.partitionPathFields.getOrElse(Nil)
    val precombine = opts.precombineField
    (keyFields ++ partFields ++ precombine.toSeq).foreach { f =>
      require(dataSchema.fieldNames.contains(f),
        s"hudi-graft: column '$f' absent from the declared schema")
    }
    val createSchema =
      try graft.log.SparkToAvro.toAvroSchema(dataSchema, "graft_create_record").toString
      catch {
        case e: IllegalArgumentException => throw new UnsupportedOperationException(
          s"hudi-graft: CREATE TABLE cannot record this schema (${e.getMessage}); " +
            "only flat column types are supported", e)
      }
    val tableType =
      if (opts.tableType.equalsIgnoreCase("MERGE_ON_READ")) "MERGE_ON_READ"
      else "COPY_ON_WRITE"
    writeTableProperties(Storage(hadoopConf), new Path(basePath), opts, keyFields, partFields,
      precombine, tableType, keyFields.size > 1 || partFields.size > 1, opts.hiveStylePartitioning,
      createSchema = Some(createSchema))
  }

  /** Write `df` and return the created commit instants (one element; empty
    * for Ignore-mode no-ops).
    */
  def write(
      spark: SparkSession,
      basePath: String,
      df: DataFrame,
      mode: SaveMode,
      options: Map[String, String]): Seq[String] = {
    val opts = new Options(options)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = new Path(basePath).getFileSystem(hadoopConf)
    val storage = Storage(hadoopConf)
    val propsPath = new Path(basePath, ".hoodie/hoodie.properties")
    val exists = fs.exists(propsPath)

    mode match {
      case SaveMode.Ignore if exists => return Nil
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"hudi-graft: table already exists at $basePath (SaveMode.ErrorIfExists); " +
            "use Append or Overwrite")
      case _ =>
    }

    val existing = if (exists) Some(HudiTable(spark, basePath)) else None
    existing.foreach { t =>
      if (!t.config.baseFileFormat.equalsIgnoreCase("PARQUET"))
        throw new UnsupportedOperationException(
          s"hudi-graft: base file format ${t.config.baseFileFormat} is not writable " +
            "(this writer produces parquet base files)")
      if (!t.config.populatesMetaFields)
        throw new UnsupportedOperationException(
          "hudi-graft: hoodie.populate.meta.fields=false tables are not writable here")
      // an advertised metadata table must stay FRESH under this writer.
      // The `files` partition is maintained (MdtMaintenance appends the
      // commit's file additions as an MDT deltacommit) and so is
      // `record_index` (RecordIndexMaintenance appends created-key
      // entries / deleted-key tombstones, and the upsert probe routes
      // through it); the remaining INDEX partitions (column_stats/
      // secondary/bloom) are not — a commit would leave them stale and
      // index-served reads silently wrong, so those tables refuse
      val mdtParts = t.config.metadataPartitions
      val unmaintained =
        mdtParts - "files" - "record_index" - "column_stats" - "partition_stats" -
          "bloom_filters" --
          mdtParts.filter(_.startsWith(graft.table.SecondaryIndex.PartitionPrefix))
      if (unmaintained.nonEmpty)
        throw new UnsupportedOperationException(
          s"hudi-graft: the table advertises metadata-table partitions " +
            s"(${unmaintained.toSeq.sorted.mkString(",")}) this writer does not maintain " +
            "— a commit would leave them stale and index-served reads silently wrong")
    }
    // secondary indexes: identity STRING indexes are maintained; anything
    // else (numeric/date renderings, expression indexes) throws here —
    // the refusal must land BEFORE any bytes are written
    val secondaryIndexes: Seq[(String, String)] = existing.map { t =>
      val parts = graft.table.SecondaryIndex.availablePartitions(t.config)
      if (parts.isEmpty) Nil
      else SecondaryIndexMaintenance.resolveWritable(basePath,
        spark.sessionState.newHadoopConf(), t.tableSchema, parts)
    }.getOrElse(Nil)

    val keyFields: Seq[String] = opts.recordKeyFields
      .orElse(existing.map(_.config.recordKeyFields).filter(_.nonEmpty))
      .getOrElse(throw new IllegalArgumentException(
        "hudi-graft: hoodie.datasource.write.recordkey.field is required"))
    val partFields: Seq[String] = opts.partitionPathFields
      .orElse(existing.map(_.config.partitionFields).filter(_.nonEmpty))
      .getOrElse(Nil)
    val precombine = opts.precombineField
      .orElse(existing.map(_.config).flatMap(_.orderingFields.headOption))

    // key/partition RENDERING must match what the table's generator wrote,
    // or the upsert probe joins on strings that can never match: bare
    // values for Simple/Nonpartitioned, `field:value` (null/empty
    // placeholders) for Complex; TimestampBased and custom generators
    // transform the partition value in ways this writer does not
    // implement — refuse rather than write rows into wrong directories
    val keygenSimpleName = existing.flatMap(_.config.keyGeneratorClass)
      .map(c => c.substring(c.lastIndexOf('.') + 1))
    keygenSimpleName.foreach { c =>
      val known = Set(
        "SimpleKeyGenerator", "SimpleAvroKeyGenerator",
        "NonpartitionedKeyGenerator", "NonpartitionedAvroKeyGenerator",
        "ComplexKeyGenerator", "ComplexAvroKeyGenerator")
      if (!known.contains(c))
        throw new UnsupportedOperationException(
          s"hudi-graft: key generator $c renders keys/partitions in ways this " +
            "writer does not reproduce; writing would corrupt the layout")
    }
    val renderComplex = keyFields.size > 1 ||
      keygenSimpleName.exists(_.startsWith("Complex")) ||
      (existing.isEmpty && partFields.size > 1)
    val hiveStyle = existing.map(_.config.isHiveStylePartitioning)
      .getOrElse(opts.hiveStylePartitioning)
    existing.foreach { t =>
      if (t.config.isPartitionPathUrlencoded)
        throw new UnsupportedOperationException(
          "hudi-graft: hoodie.datasource.write.partitionpath.urlencode=true tables " +
            "are not writable (URL-encoded segment rendering is not implemented)")
    }

    // MOR targets take every data write as a DELTACOMMIT (real Hudi's
    // convention): insert/bulk_insert still produce parquet base files
    // (new file groups), while upsert/delete land as avro-data/delete LOG
    // blocks on the matched group's latest slice (an upsert's new keys on
    // a small group's) — compaction stays a separate table service
    // (HudiCompaction), exactly like a real Hudi deltastreamer between
    // compactions
    val isMor = existing.map(_.config.isMor)
      .getOrElse(opts.tableType.equalsIgnoreCase("MERGE_ON_READ"))

    val operation =
      if (mode == SaveMode.Overwrite && exists) "insert_overwrite_table"
      else opts.operation
    val maintainsRecordIndex = existing.exists(t =>
      graft.table.RecordIndex.isAvailable(t.config))
    if ((maintainsRecordIndex || secondaryIndexes.nonEmpty) &&
        operation == "insert_overwrite_table")
      throw new UnsupportedOperationException(
        "hudi-graft: insert_overwrite_table on a record_index/secondary-index table is " +
          "not supported — the replacement invalidates every index entry and a rebuild " +
          "is not implemented")
    if (isMor && exists && precombine.isEmpty &&
        (operation == "upsert" || operation == "delete"))
      throw new UnsupportedOperationException(
        "hudi-graft: MOR upsert/delete merge log rows by the ordering (precombine) " +
          "field — a table without one reads APPEND_ONLY and the log append would " +
          "duplicate rather than overwrite; set hoodie.datasource.write.precombine.field")

    // meta columns in the input are writer-owned — recomputed, never trusted
    val data0 = df.drop((MetaField.all :+ MetaField.Operation): _*)
    // "__"-prefixed input columns would collide with the writer's internal
    // routing columns (__key/__part/__fid/__rn/__bucket) AND the staged-file
    // data-column filter — silent clobber/loss; refuse loudly instead
    val dunder = data0.columns.filter(_.startsWith("__"))
    if (dunder.nonEmpty)
      throw new IllegalArgumentException(
        s"hudi-graft: input columns may not start with '__' " +
          s"(${dunder.mkString(",")}) — the prefix is reserved for writer-internal routing")
    // delete inputs name KEYS to remove (key + partition columns suffice,
    // like upstream); every other operation writes full rows
    // a GLOBAL (record-index) delete matches on the key alone — the
    // partition columns are not required in the input (the index knows
    // each key's location)
    val globalDelete = operation == "delete" && maintainsRecordIndex
    val needed =
      if (operation == "delete") keyFields ++ (if (globalDelete) Nil else partFields)
      else keyFields ++ partFields ++ precombine.toSeq
    needed.foreach { f =>
      require(data0.columns.contains(f), s"hudi-graft: column '$f' absent from the input")
    }
    // SCHEMA EVOLUTION on write: every table data column must arrive with
    // the same or a WIDER type (int→long, float→double — the widenings
    // the read side already resolves commit-metadata-first,
    // `hudi_schema_widened`); extra input columns APPEND to the schema
    // (recorded in this commit's extraMetadata.schema; older files
    // null-fill on read). Missing columns and narrowings refuse —
    // silently dropping or truncating data is never an evolution.
    if (operation != "delete") existing.foreach { t =>
      val tableData = t.tableSchema.fields.filterNot(f => MetaField.all.contains(f.name))
      val inTypes = data0.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = tableData.map(_.name).filterNot(inTypes.contains)
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"hudi-graft: input is missing table columns ${missing.sorted.mkString(",")} — " +
            "column drops are not a supported schema evolution")
      tableData.foreach { f =>
        val in = inTypes(f.name)
        if (in != f.dataType && !widens(f.dataType, in))
          throw new IllegalArgumentException(
            s"hudi-graft: column '${f.name}' arrives as $in but the table records " +
              s"${f.dataType} — only identical types or widenings (int→long, " +
              "float→double) are supported")
      }
    }
    // reconcile to the TABLE's column order (upstream does the same): a
    // df.select("b","a") upsert must not flip the commit-recorded schema
    // — readers resolve the table schema commit-metadata-first and a
    // reordered commit would swap positional consumers' columns. ADDED
    // columns append after the table's, in input order.
    val data = existing match {
      case Some(t) if operation != "delete" =>
        val tableOrder = t.tableSchema.fieldNames.filterNot(MetaField.all.contains)
        val added = data0.columns.filterNot(tableOrder.contains)
        data0.select((tableOrder ++ added).map(col).toIndexedSeq: _*)
      case _ => data0
    }

    val timelineTz = existing.map(_.config.timelineTimezone).getOrElse("UTC")
    val instant = Timeline.instantAfter(
      existing.flatMap(_.timeline.latestCommitTimestamp).getOrElse("0"), timelineTz)
    val base = new Path(basePath)

    if (!exists)
      writeTableProperties(storage, base, opts, keyFields, partFields, precombine,
        if (isMor) "MERGE_ON_READ" else "COPY_ON_WRITE", renderComplex, hiveStyle)

    // supplemental CDC logging: sidecars are emitted for REWRITTEN groups
    // when the table carries hoodie.table.cdc.enabled with
    // data_before_after mode (create-time option or existing table
    // config); fresh groups need none (readers serve them one-sided),
    // and replacecommits follow upstream (inference diffs them)
    val cdcMode: Option[String] = existing.map(_.config)
      .map(c => if (c.cdcEnabled) Some(c.cdcSupplementalLoggingMode) else None)
      .getOrElse(if (opts.cdcEnabled) Some(opts.cdcLoggingMode) else None)

    // ---- key/partition assignment --------------------------------------
    // Simple rendering: the bare field value. Complex rendering (multi
    // field keys, or a Complex-keygen table): `f1:v1,f2:v2` with
    // KeyGenUtils' `__null__`/`__empty__` placeholders. Partition
    // segments render null-or-empty as the hive sentinel (Hudi 0.11+'s
    // rule on every layout), `f=v` per segment under hive-style, joined
    // by '/'
    val hiveSentinel = "__HIVE_DEFAULT_PARTITION__"
    val keyExpr =
      if (!renderComplex) col(keyFields.head).cast(StringType)
      else concat_ws(",", keyFields.map { f =>
        val s = col(f).cast(StringType)
        concat(lit(f + ":"),
          when(col(f).isNull, lit("__null__"))
            .when(s === "", lit("__empty__"))
            .otherwise(s))
      }: _*)
    val partExpr = partFields match {
      case Seq() => lit("")
      case fs => concat_ws("/", fs.map { f =>
        val s = col(f).cast(StringType)
        val v = when(col(f).isNull || s === "", lit(hiveSentinel)).otherwise(s)
        if (hiveStyle) concat(lit(f + "="), v) else v
      }: _*)
    }
    // a keys-only global delete may lack the partition columns — its
    // __part is never consulted (locations come from the index)
    val partExprSafe =
      if (globalDelete && partFields.exists(f => !data.columns.contains(f))) lit("")
      else partExpr
    val keyed0 = data
      .withColumn("__key", keyExpr)
      .withColumn("__part", partExprSafe)
    // dedupe incoming per (key, partition) — per key alone on a
    // record_index table, whose probe matches globally (upstream's
    // HoodieWriteHelper.deduplicateRecords under a global index): greatest
    // precombine wins; without one, an arbitrary-but-deterministic single
    // row survives
    val dedupKey =
      if (maintainsRecordIndex) Seq(col("__key")) else Seq(col("__key"), col("__part"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dedupKey: _*)
      .orderBy(precombine.filter(f => operation != "delete" && data.columns.contains(f))
        .map(f => col(f).desc_nulls_last).getOrElse(col("__key").asc))
    val deduped = keyed0
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // an upsert/delete reads the batch ONCE — its probe pass persists
    // what it routes — unless secondary-index maintenance reads it again;
    // every other route reads it several times. Persisting a frame read
    // once would only add a job that materializes the cache
    val readOnce = exists && secondaryIndexes.isEmpty &&
      (operation == "upsert" || operation == "delete")
    val c = new Commit(spark, basePath, instant, existing, maintainsRecordIndex)
    try {
      val keyed = if (readOnce) deduped else c.persist(deduped)
      val maintainsColStats = existing.exists(t =>
        graft.table.ColumnStatsIndex.isAvailable(t.config))
      val maintainsPartStats = existing.exists(t =>
        graft.table.PartitionStatsIndex.isAvailable(t.config))

      val routed = operation match {
        case "insert" | "bulk_insert" =>
          val staged = routeFresh(keyed, instant, opts)
          Routed(Some(staged), indexChanges = c.indexChanges(staged))
        case "insert_overwrite_table" =>
          val rep = existing.map(_ => c.slices
            .groupBy(_.partitionPath).view.mapValues(_.map(_.fileId).toSet).toMap)
            .getOrElse(Map.empty[String, Set[String]])
          Routed(Some(routeFresh(keyed, instant, opts)), replaced = rep)
        case "upsert" | "delete" =>
          val deletes = operation == "delete"
          existing match {
            case None if deletes => throw new IllegalArgumentException(
              "hudi-graft: operation 'delete' on a nonexistent table")
            case None => Routed(Some(routeFresh(keyed, instant, opts)))
            case Some(t) =>
              // delete inputs name keys only: no data columns are routed
              val dataSchema =
                if (deletes) StructType(Nil)
                else StructType(keyed.schema.filterNot(f => f.name == "__key" || f.name == "__part"))
              val (rows, byGroup) = probe(c, keyed, dataSchema, deletes)
              if (!t.config.isMor) routeCow(c, t, rows, byGroup, dataSchema, opts, deletes, cdcMode)
              else if (deletes) routeMorDelete(c, t, rows, byGroup)
              else routeMorUpsert(c, t, rows, byGroup, dataSchema, opts)
          }
        case other =>
          throw new IllegalArgumentException(
            s"hudi-graft: unknown hoodie.datasource.write.operation '$other' " +
              "(insert | bulk_insert | upsert | delete | insert_overwrite_table)")
      }

      // captured BEFORE staging writes any new partition dir (the fs
      // view lists lazily) — "was this partition new to this commit?"
      val priorPartitions: Set[String] =
        if (maintainsPartStats) existing.get.fsView.partitionPaths.toSet else Set.empty
      // routing already knows when nothing is left to stage (a MOR delete,
      // an upsert whose inserts all went to logs, a delete matching no
      // key): skip the staging job outright
      val baseRows = routed.staged.map(BaseFiles.grouped(_, instant))
      val files = baseRows.map(BaseFiles.write(_, basePath, instant, routed.requiredGroups,
        stats = maintainsColStats || maintainsPartStats)).getOrElse(Nil)
      // the commit's recorded schema is the TABLE's data schema — a
      // keys-only delete input must not shrink it (readers resolve the
      // table schema commit-metadata-first)
      val commitSchema: org.apache.spark.sql.types.StructType =
        if (operation == "delete")
          org.apache.spark.sql.types.StructType(existing.get.tableSchema.fields
            .filterNot(f => MetaField.all.contains(f.name)))
        else data.schema
      // MDT maintenance: every maintained partition hands its records
      // to the commit's one MDT handle, which completes the MDT
      // deltacommit (same instant) once, after the last partition's log
      // and BEFORE the data commit, so any reader that sees the data
      // instant sees an MDT at least as new
      if (existing.exists(_.config.metadataPartitions.contains("files")))
        MdtMaintenance.appendFiles(c.mdt,
          (files ++ routed.logWrites.map(_.file)).map(f => (f.partition, f.name, f.bytes)))
      // record-index maintenance: created-key entries + deleted-key
      // tombstones
      if (maintainsRecordIndex) routed.indexChanges.foreach(changes =>
        RecordIndexMaintenance.append(c.mdt, changes, timelineTz, c.conf))
      // column_stats maintenance: exact per-(file, column) bounds from
      // the staging pass
      lazy val statEntries = baseRows
        .map(rows => BaseFiles.colStatsEntries(files, rows.schema)).getOrElse(Nil)
      if (maintainsColStats && files.nonEmpty)
        ColumnStatsMaintenance.append(c.mdt, statEntries)
      // partition_stats maintenance: partition-level bounds of every row
      // this commit made visible — staged base files AND MOR log appends
      // (a log update can move a value past its partition's bound)
      if (maintainsPartStats)
        ColumnStatsMaintenance.appendPartitionStats(c.mdt,
          statEntries.map(e => (e.partition, e.column, e.wrapper, e.min, e.max)) ++
            routed.logRows.toSeq.flatMap(partitionBounds),
          priorPartitions)
      // bloom_filters maintenance: one distributed key-column scan of the
      // written files builds SIMPLE blooms (zero-row empty bases skip —
      // a missing bloom fails open at the probe)
      val maintainsBloom = existing.exists(t =>
        graft.table.BloomFilterIndex.isAvailable(t.config))
      if (maintainsBloom)
        BloomFilterMaintenance.append(spark, c.mdt,
          files.filter(_.rows > 0).map(f => (f.partition, f.name, f.rows)))
      // secondary-index maintenance: old values from the pre-commit
      // snapshot joined with the incoming batch
      if (secondaryIndexes.nonEmpty)
        SecondaryIndexMaintenance.append(c.mdt, secondaryIndexes, keyed, operation, c.conf)
      c.mdt.complete()
      val config = existing.map(_.config).getOrElse(HoodieConfig.load(basePath, hadoopConf))
      writeTimeline(basePath, config, hadoopConf, instant, operation, files, routed, commitSchema, isMor)
      Seq(instant)
    } finally c.release()
  }

  // ---- routing ------------------------------------------------------------

  /** One operation's routing outcome: the staged rows plus the metadata
    * the commit needs. `requiredGroups` (fid → partition) names rewritten
    * groups that must produce a base-file version even when ZERO rows
    * survive (a fully-deleted group — without the empty version, its old
    * slice would stay visible and the deleted rows resurrect).
    */
  private final case class Routed(
      // None = nothing to stage as base files (the staging job is skipped)
      staged: Option[DataFrame],
      updateCounts: Map[String, Long] = Map.empty,
      deleteCounts: Map[String, Long] = Map.empty,
      replaced: Map[String, Set[String]] = Map.empty,
      prevCommits: Map[String, String] = Map.empty,
      cdcFiles: Map[String, (String, Long)] = Map.empty,
      requiredGroups: Map[String, String] = Map.empty,
      logWrites: Seq[LogWrite] = Nil,
      // the rows the MOR upsert appended as log data, a [[located]] frame
      // (partition_stats maintenance widens bounds from them)
      logRows: Option[DataFrame] = None,
      // record-index maintenance input: locations of keys this commit
      // CREATED (fresh groups or log-routed inserts) and tombstones of
      // keys it REMOVED
      indexChanges: Option[RDD[RecordIndexMaintenance.Change]] = None)

  /** Per-commit shared state. The Hadoop conf is serialized once — one
    * broadcast shared by the probe, log and index passes; the metadata
    * table is opened at most once, by the commit's one [[MdtCommit]]
    * (the record_index probe and every maintainer read the same
    * slices); the latest file slices are
    * planned once; and every frame or RDD routing persists is registered
    * here and released in write()'s `finally`, also when the commit fails
    * partway through.
    */
  private final class Commit(
      val spark: SparkSession,
      val basePath: String,
      val instant: String,
      table: Option[HudiTable],
      val indexed: Boolean) {
    val hadoopConf: org.apache.hadoop.conf.Configuration = spark.sessionState.newHadoopConf()
    private var bc: Option[Broadcast[SerializableConf]] = None
    private val held = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

    def conf: Broadcast[SerializableConf] = bc.getOrElse {
      val b = spark.sparkContext.broadcast(new SerializableConf(hadoopConf))
      bc = Some(b)
      b
    }

    /** The target's latest file slices as of this commit's instant. */
    lazy val slices: Vector[graft.fs.FileSlice] = table.get.fsView.slicesAsOf(instant)

    /** This commit's metadata-table delta; the record-index probe reads
      * its groups.
      */
    val mdt = new MdtCommit(basePath, hadoopConf, instant)

    def persist(df: DataFrame): DataFrame = {
      val p = df.persist()
      held += (() => p.unpersist())
      p
    }

    // spill rather than drop: a recomputed partition could resolve the
    // dedup's precombine ties differently from the one already routed
    def persist[T](rdd: RDD[T]): RDD[T] = {
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      held += (() => rdd.unpersist())
      rdd
    }

    /** Record-index changes of an insert's staged frame of created-key
      * locations; None on a table without a record index.
      */
    def indexChanges(staged: DataFrame): Option[RDD[RecordIndexMaintenance.Change]] =
      if (!indexed) None
      else Some(RecordIndexMaintenance.changesOf(staged, mdt.recordIndex.n))

    /** prevCommit of each rewritten or appended-to group: the base
      * instant of its latest slice (the metadata CDC's savepoint guard
      * verifies).
      */
    def prevCommits(touched: Set[String]): Map[String, String] =
      slices.collect { case sl if touched.contains(sl.fileId) => sl.fileId -> sl.commitTimestamp }
        .toMap

    def release(): Unit = {
      held.foreach(f => scala.util.Try(f()))
      held.clear()
      bc.foreach(b => scala.util.Try(b.destroy()))
      bc = None
    }
  }

  /** One MOR log file this commit appended: becomes a write-stats entry
    * (numInserts = `inserts`, numUpdateWrites = the rest of `rows`, or
    * numDeletes = rows) alongside the base files.
    */
  private[write] final case class LogWrite(
      partition: String,
      fileId: String,
      relPath: String,
      rows: Long,
      bytes: Long,
      inserts: Long) {
    def file: BaseFiles.Written = BaseFiles.Written(partition, fileId, relPath, rows, bytes)
  }

  /** Fresh-group routing: hash-bucket keys into N new file groups per
    * partition, N from the PLANNED input size (Catalyst's estimate — no
    * extra job) over the target file size. Deterministic fileIds derive
    * from md5(instant/partition/bucket) — a codegen'd expression, no
    * per-row UDF in the insert hot path.
    */
  private def routeFresh(keyed: DataFrame, instant: String, opts: Options): DataFrame = {
    val groups = freshGroups(keyed, opts.maxFileBytes)
    keyed
      .withColumn("__fid", freshFid(instant, groups))
      .withColumn(MetaField.CommitTime, lit(instant))
  }

  /** The fresh group of a row by its `__key` and `__part`: one of
    * `groups` buckets by key hash, its fileId md5(instant/partition/
    * bucket) — the expression [[freshFileId]] computes on the driver.
    */
  private[write] def freshFid(instant: String, groups: Int): org.apache.spark.sql.Column = {
    val bucket = pmod(xxhash64(col("__key")), lit(groups)).cast("int")
    val h = md5(concat(lit(s"$instant/"), col("__part"), lit("/"), bucket.cast(StringType)))
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), concat(substring(h, 21, 12), lit("-0")))
  }

  /** Fresh groups per partition for the rows of `df`, by its planned
    * size (Catalyst's estimate — no extra job).
    */
  private[write] def freshGroups(df: DataFrame, maxFileBytes: Long): Int =
    freshGroups(df.sparkSession,
      BigInt(df.queryExecution.optimizedPlan.stats.sizeInBytes.toString), maxFileBytes)

  /** Fresh groups per partition for `bytes` of rows: one per
    * `maxFileBytes`, at most 4096. Stats-less leaves (RDD-backed frames,
    * JDBC) estimate at spark.sql.defaultSizeInBytes (≈ Long.Max) — an
    * absurd reading must not explode into 4096 tiny files; it falls back
    * to the cluster's parallelism as the group count.
    */
  private def freshGroups(spark: SparkSession, bytes: BigInt, maxFileBytes: Long): Int =
    if (bytes > BigInt(1L << 50)) spark.sparkContext.defaultParallelism.max(1)
    else (bytes / maxFileBytes).toLong.max(0L).min(4096L).toInt + 1

  /** The record_index probe every upsert/delete on an indexed table
    * plans: `rows` look up the MDT index DISTRIBUTED
    * ([[RecordIndex.probeDistributed]]: rows shuffle by Hudi's key-hash
    * group mapping; each index group's HFiles are read once
    * cluster-wide) — ZERO snapshot scans, IO proportional to batch keys
    * — and matching becomes GLOBAL
    * (key alone: upstream's record-index semantics with
    * `hoodie.record.index.update.partition.path=false`, so a row arriving
    * with a changed partition value updates the record at its CURRENT
    * location). An ADVERTISED index is trusted — the same contract every
    * writer of an index-advertising table must honor (this one does on
    * every commit); a structurally unreadable or hash-misaligned index
    * REFUSES the write loudly rather than falling back: the snapshot
    * probe has DIFFERENT (non-global) matching semantics, and a silent
    * downgrade would e.g. make a keys-only global delete match nothing.
    */
  private def indexProbe[T: scala.reflect.ClassTag](c: Commit, rows: RDD[T])(
      key: T => String): RDD[(Int, (T, Option[graft.table.RecordIndexEntry]))] = {
    val groups =
      try c.mdt.recordIndex
      catch {
        case e: IllegalStateException => throw new UnsupportedOperationException(
          "hudi-graft: the table advertises a record_index this writer cannot probe " +
            s"(${e.getMessage}) — refusing rather than silently downgrading to the " +
            "non-global snapshot probe (a keys-only delete would match nothing)", e)
      }
    indexProbes.incrementAndGet()
    RecordIndex.probeDistributed(rows, groups, c.conf)(key)
  }

  /** The non-indexed probe: the current snapshot pruned to (key,
    * partition, file name) as (__key, __part, __fid) — non-global,
    * column-pruned, shuffle bounded by table keys + batch keys.
    */
  private def snapshotLocations(c: Commit): DataFrame = {
    snapshotProbes.incrementAndGet()
    c.spark.read.format("hudi-graft").load(c.basePath).select(
      col(MetaField.RecordKey).as("__key"),
      col(MetaField.PartitionPath).as("__part"),
      fidOfFileName.as("__fid"))
  }

  /** Per-(partition, column) (wrapper, min, max) of `rows` — the
    * partition_stats input for rows that reach no staged base file (MOR
    * log appends). One aggregation over the persisted routing frame.
    */
  private def partitionBounds(rows: DataFrame): Seq[(String, String, String, Any, Any)] = {
    val cols = BaseFiles.statColumnsOf(rows.schema)
    if (cols.isEmpty) return Nil
    val aggs = cols.flatMap(f => Seq(min(col(f.name)), max(col(f.name))))
    rows.groupBy("__part").agg(aggs.head, aggs.tail: _*).collect().toSeq.flatMap { r =>
      cols.zipWithIndex.collect {
        case (f, i) if !r.isNullAt(1 + 2 * i) =>
          (r.getString(0), f.name, BaseFiles.statWrapper(f.dataType),
            BaseFiles.statValue(r.get(1 + 2 * i)), BaseFiles.statValue(r.get(2 + 2 * i)))
      }
    }
  }

  /** Supported type widenings on write (the pairs the read side upcasts
    * when resolving older files under a newer commit schema).
    */
  private def widens(table: org.apache.spark.sql.types.DataType,
      incoming: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (table, incoming) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Project `df` onto the (possibly evolved) target data columns:
    * existing columns upcast to the target type, ADDED columns
    * null-fill — how carried/before-image rows of an evolving upsert
    * reach the commit's new schema.
    */
  private def alignTo(
      df: DataFrame,
      target: Seq[org.apache.spark.sql.types.StructField]): Seq[org.apache.spark.sql.Column] =
    target.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }

  /** File-group id from a `_hoodie_file_name` value: base files are
    * `{fid}_{token}_{ts}.ext`, MOR log rows carry the log's own name
    * `.{fid}_{ts}.log.{v}_{token}` — strip the leading dot, take
    * everything before the first '_' (fileIds contain no underscore).
    */
  private[write] def fidOfFileName: org.apache.spark.sql.Column =
    substring_index(regexp_replace(col(MetaField.FileName), "^\\.", ""), "_", 1)

  /** Deterministic UUID-shaped fileId for a fresh group (the driver-side
    * twin of [[routeFresh]]'s md5 expression — kept bit-identical, spec-
    * asserted).
    */
  def freshFileId(instant: String, part: String, bucket: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$instant/$part/$bucket".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20, 32)}-0"
  }

  /** One batch row through the upsert/delete passes: record key,
    * partition path (the record's CURRENT one once a global probe
    * matched it), file group (null until the probe matches or
    * [[InsertRoute]] assigns one), the data columns (empty for deletes),
    * and whether it is an insert routed into a small group's log.
    */
  private[write] final case class Loc(
      key: String,
      part: String,
      fid: String,
      data: Row,
      ins: Boolean = false)

  /** Probe pass of every upsert and delete, COW or MOR: the batch as
    * persisted [[Loc]]s matched to their file groups (`dataSchema`'s
    * columns ride along). On a record_index table the rows partition by
    * their key's index group and each task probes its group's slice
    * ([[indexProbe]]) with GLOBAL matching: a matched row takes the
    * record's current partition, and a delete keeps one row per matched
    * key; the result is also returned keyed by group ordinal, still
    * partitioned by it, for the index pass ([[probedChanges]]). Without
    * an index the non-global snapshot join ([[snapshotLocations]]) feeds
    * the same passes, and a delete keeps matched keys only.
    */
  private def probe(
      c: Commit,
      keyed: DataFrame,
      dataSchema: StructType,
      deletes: Boolean): (RDD[Loc], Option[RDD[(Int, Loc)]]) = {
    def locs(df: DataFrame, fid: Boolean): RDD[Loc] =
      df.select(Seq(col("__key"), col("__part")) ++
        (if (fid) Seq(col("__fid")) else Seq(lit(null).cast(StringType))) ++
        (if (deletes) Nil else Seq(struct(dataSchema.fieldNames.map(col).toIndexedSeq: _*))): _*)
        .rdd.map(r => Loc(r.getString(0), r.getString(1), r.getString(2),
          if (deletes) Row.empty else r.getStruct(3)))
    if (c.indexed) {
      val probed = indexProbe(c, locs(keyed, fid = false))(_.key).mapPartitions({ it =>
        val seen = scala.collection.mutable.HashSet.empty[String]
        it.flatMap {
          case (g, (l, Some(e))) =>
            if (deletes && !seen.add(l.key)) None
            else Some(g -> l.copy(part = e.partitionPath, fid = e.fileId))
          case (g, (l, None)) => if (deletes) None else Some(g -> l)
        }
      }, preservesPartitioning = true)
      (c.persist(probed).values, Some(probed))
    } else {
      val index = snapshotLocations(c)
      val joined =
        if (deletes) keyed.select("__key", "__part").join(index, Seq("__key", "__part"), "inner")
        else keyed.join(index, Seq("__key", "__part"), "left")
      (c.persist(locs(joined, fid = true)), None)
    }
  }

  /** The one counting job over the cached probe result: (unmatched keys
    * per partition — the inserts, matched keys per file group). Driver
    * memory is bounded by partitions and groups, never keys.
    */
  private def probeCounts(rows: RDD[Loc]): (Map[String, Long], Map[String, Long]) = {
    val perTask = rows.mapPartitions { it =>
      val inserts = scala.collection.mutable.HashMap.empty[String, Long]
      val matched = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { l =>
        if (l.fid == null) inserts(l.part) = inserts.getOrElse(l.part, 0L) + 1L
        else matched(l.fid) = matched.getOrElse(l.fid, 0L) + 1L
      }
      Iterator.single((inserts.toMap, matched.toMap))
    }.collect()
    def sum(ms: Seq[Map[String, Long]]) = ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    (sum(perTask.map(_._1).toSeq), sum(perTask.map(_._2).toSeq))
  }

  /** Index pass input from the probe's group-keyed partitions, with no
    * shuffle: under an insert route the created keys' (partition, group)
    * entries, without one (a delete) a tombstone per matched key. None
    * on a table without a record index.
    */
  private def probedChanges(
      byGroup: Option[RDD[(Int, Loc)]],
      route: Option[InsertRoute]): Option[RDD[RecordIndexMaintenance.Change]] =
    byGroup.map(_.mapPartitions(it => route match {
      case Some(r) => it.collect { case (g, l) if l.fid == null => (g, (l.key, l.part, r.fid(l))) }
      case None => it.map { case (g, l) => (g, (l.key, null: String, null: String)) }
    }, preservesPartitioning = true))

  /** [[Loc]]s whose file group is set as a staging frame: `dataSchema`'s
    * columns, then __key, __part, __fid and the commit time stamped with
    * this commit's instant — the shape [[BaseFiles.grouped]] takes.
    */
  private def located(c: Commit, rows: RDD[Loc], dataSchema: StructType): DataFrame = {
    val instant = c.instant
    c.spark.createDataFrame(
      rows.map(l => Row.fromSeq(l.data.toSeq ++ Seq(l.key, l.part, l.fid, instant))),
      StructType(dataSchema.fields ++ Seq("__key", "__part", "__fid", MetaField.CommitTime)
        .map(StructField(_, StringType))))
  }

  /** Where an upsert's unmatched key goes: a SMALL group's log by its
    * Spark `xxhash64` (seed 42) against [[smallFileTargets]]'
    * cumulative capacity bounds, or — past capacity, in a partition with
    * no small group, or on a COW table, which passes no targets — fresh
    * group `floorMod(hash, freshGroups)` of its partition, named like
    * [[routeFresh]] names it.
    */
  private[write] final case class InsertRoute(
      instant: String,
      targets: Map[String, (Long, Vector[(Double, Option[String])])],
      freshGroups: Int) {
    private[write] def hash(key: String): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(key), 42L)

    def small(l: Loc): Option[String] = targets.get(l.part).flatMap { case (n, buckets) =>
      val slot = Math.floorMod(hash(l.key), n)
      buckets.find(_._1 > slot).flatMap(_._2)
    }

    def fresh(l: Loc): String =
      freshFileId(instant, l.part, Math.floorMod(hash(l.key), freshGroups.toLong).toInt)

    def fid(l: Loc): String = small(l).getOrElse(fresh(l))
  }

  /** COW upsert and delete routing (commit): after the [[probe]], the
    * counting job ([[probeCounts]]) names the touched groups and counts
    * each partition's new keys; the last pass rewrites each touched
    * group's base file as its stored rows minus the matched keys plus
    * the incoming rows (none for a delete). Carried rows keep their
    * commit stamps; incoming rows stamp the new instant. A group losing
    * every row still writes an EMPTY base-file version (`requiredGroups`)
    * so the deletion is visible. New keys stage fresh groups named by
    * [[InsertRoute]] with no small-file targets, as many per partition as
    * their count × the bytes-per-record estimate fills. With CDC enabled,
    * each rewritten group also gets a `-cdc` sidecar log file of its
    * updates' (before, after) or its deletes' (before, null) images
    * ([[writeCdcSidecars]]). On a record_index table the index pass
    * writes the created keys' entries or the deleted keys' tombstones
    * from the probe's partitions ([[probedChanges]]), as on MOR.
    */
  private def routeCow(
      c: Commit,
      t: HudiTable,
      rows: RDD[Loc],
      byGroup: Option[RDD[(Int, Loc)]],
      dataSchema: StructType,
      opts: Options,
      deletes: Boolean,
      cdcMode: Option[String]): Routed = {
    val (inserts, perFid) = probeCounts(rows)
    val route = InsertRoute(c.instant, Map.empty, freshGroups(c.spark,
      BigInt(inserts.values.sum) * averageBytesPerRecord(t), opts.maxFileBytes))
    val incoming = located(c, rows.map(l => if (l.fid == null) l.copy(fid = route.fresh(l)) else l),
      dataSchema)
    val created = if (inserts.isEmpty) None else probedChanges(byGroup, Some(route))
    val touched = perFid.keySet
    if (touched.isEmpty)
      return Routed(if (inserts.isEmpty) None else Some(incoming), indexChanges = created)

    // stored rows project onto the commit's (possibly EVOLVED) data
    // schema: widened columns upcast, added columns null-fill; a delete
    // keeps the table's data schema
    val targetFields =
      if (deletes) t.tableSchema.fields.filterNot(f => MetaField.all.contains(f.name)).toSeq
      else dataSchema.fields.toSeq
    val stored0 = c.spark.read.format("hudi-graft")
      .option("cdc.file.groups", touched.toSeq.sorted.mkString(","))
      .load(c.basePath)
      .withColumn("__key", col(MetaField.RecordKey))
      .withColumn("__part", col(MetaField.PartitionPath))
      .withColumn("__fid", fidOfFileName)
    val stored = stored0.select((alignTo(stored0, targetFields) ++ Seq(
      col("__key"), col("__part"), col("__fid"), col(MetaField.CommitTime))): _*)
    // incoming keys either matched a stored row of a touched group or
    // exist nowhere in the table
    val carried = stored.join(incoming.select("__key", "__part"), Seq("__key", "__part"), "left_anti")
    val sidecars = cdcMode match {
      case None => Map.empty[String, (String, Long)]
      case Some(m) => writeCdcSidecars(c, stored, located(c, rows.filter(_.fid != null), dataSchema),
        targetFields.map(_.name), t.config.timelineTimezone, deletes, m)
    }
    Routed(Some(if (deletes) carried else carried.unionByName(incoming)),
      updateCounts = if (deletes) Map.empty else perFid,
      deleteCounts = if (deletes) perFid else Map.empty,
      prevCommits = c.prevCommits(touched),
      cdcFiles = sidecars,
      requiredGroups = c.slices.collect {
        case sl if touched.contains(sl.fileId) => sl.fileId -> sl.partitionPath
      }.toMap,
      indexChanges = if (deletes) probedChanges(byGroup, None) else created)
  }

  /** MOR upsert routing (deltacommit): after the [[probe]], the counting
    * job ([[probeCounts]]) counts each partition's unmatched keys
    * (inserts). The log pass ([[writeMorLogs]]) appends matched keys as
    * ONE avro data block per touched file group onto the group's latest
    * slice — full meta-prefixed rows stamped with the new instant, so the
    * MOR merge's overwrite-with-latest picks them over the base rows — and
    * inserts go to SMALL existing groups first, riding the same log
    * files: upstream's small-file handling for an index that finds
    * records in log files. [[smallFileTargets]] spreads each partition's
    * count over its groups whose latest slice is below
    * `hoodie.parquet.max.file.size` by remaining capacity
    * ([[InsertRoute]]); the reader merges log-only keys. Only overflow
    * past capacity, and partitions with no small group, stage fresh
    * parquet base-file groups (sized by the overflow count × the
    * bytes-per-record estimate); when the count shows no overflow the
    * commit stages no base file at all. On a record_index table the
    * created keys' entries come from the probe's cached partitions
    * ([[probedChanges]]). Log naming follows the read side's association
    * rule: v6 names carry the target slice's BASE instant, v8+ the
    * delta's own instant (completion from the timeline). The driver
    * collects one insert count per partition and one (fileId → path,
    * rows, bytes) per log file.
    */
  private def routeMorUpsert(
      c: Commit,
      t: HudiTable,
      rows: RDD[Loc],
      byGroup: Option[RDD[(Int, Loc)]],
      dataSchema: StructType,
      opts: Options
  ): Routed = {
    val (inserts, _) = probeCounts(rows)
    val bytesPerRecord = averageBytesPerRecord(t)
    val targets = smallFileTargets(c.slices, inserts, opts.maxFileBytes, bytesPerRecord)
    val overflow = targets.valuesIterator.collect {
      case (n, buckets) if buckets.exists(_._2.isEmpty) =>
        n - buckets.collect { case (upTo, Some(_)) => upTo }.lastOption.getOrElse(0.0)
    }.sum
    val route = InsertRoute(c.instant, targets,
      freshGroups(c.spark, BigInt(math.ceil(overflow).toLong) * bytesPerRecord, opts.maxFileBytes))

    val logRows = rows.flatMap { l =>
      if (l.fid != null) Some(l) else route.small(l).map(f => l.copy(fid = f, ins = true))
    }
    val logs = writeMorLogs(c, t, logRows, dataSchema, deletes = false)
    val fresh =
      if (overflow <= 0) None
      else Some(located(c, rows.flatMap(l =>
        if (l.fid == null && route.small(l).isEmpty) Some(l.copy(fid = route.fresh(l))) else None),
        dataSchema))
    Routed(fresh,
      updateCounts = logs.map(l => l.fileId -> (l.rows - l.inserts)).toMap,
      prevCommits = c.prevCommits(logs.map(_.fileId).toSet),
      logWrites = logs,
      logRows = if (logs.isEmpty) None else Some(located(c, logRows, dataSchema)),
      indexChanges = if (inserts.isEmpty) None else probedChanges(byGroup, Some(route)))
  }

  /** Small-file insert plan per partition: `inserts` (partition → count
    * of unmatched keys) over the partition's latest slices whose
    * `totalSize` is below `maxFileBytes`. A group's capacity is
    * (maxFileBytes − totalSize) / bytesPerRecord records; a partition's
    * inserts spread over its small groups in proportion to remaining
    * capacity, and only the part past total capacity overflows. Returns
    * partition → (count, ascending exclusive upper bounds over
    * [0, count) with their target: Some(fileId), or None = overflow to
    * fresh groups). A key goes to the first bucket above
    * floorMod(hash(key), count) — upstream's weighted insert buckets.
    */
  private[write] def smallFileTargets(
      slices: Seq[graft.fs.FileSlice],
      inserts: Map[String, Long],
      maxFileBytes: Long,
      bytesPerRecord: Long): Map[String, (Long, Vector[(Double, Option[String])])] = {
    val byPart = slices.groupBy(_.partitionPath)
    inserts.map { case (part, n) =>
      val caps = byPart.getOrElse(part, Nil).sortBy(_.fileId)
        .map(sl => sl.fileId -> (maxFileBytes - sl.totalSize) / bytesPerRecord)
        .filter(_._2 > 0)
      val capacity = caps.map(_._2).sum
      // cumulative capacities, scaled down to `n` when the groups hold more
      val scale = if (capacity > n) n.toDouble / capacity else 1.0
      val buckets = caps.map(_._1).zip(caps.scanLeft(0L)(_ + _._2).tail)
        .map { case (fid, upTo) => (upTo * scale, Option(fid)) }.toVector
      part -> (n, if (capacity < n) buckets :+ (n.toDouble -> None) else buckets)
    }
  }

  /** Bytes per record of the latest commit whose write stats record
    * any (upstream's insert-sizing estimate); 1024 when none does.
    */
  private[write] def averageBytesPerRecord(t: HudiTable): Long = {
    import scala.jdk.CollectionConverters._
    t.timeline.completedInstants.reverseIterator.map { i =>
      val stats = t.timeline.commitMetadata(i).path("partitionToWriteStats")
      val ws = if (stats.isObject) stats.elements().asScala.flatMap(_.elements().asScala).toSeq
        else Nil
      (ws.map(_.path("fileSizeInBytes").asLong(0L)).sum,
        ws.map(_.path("numWrites").asLong(0L)).sum)
    }.collectFirst { case (bytes, rows) if bytes > 0 && rows > 0 => (bytes / rows).max(1L) }
      .getOrElse(1024L)
  }

  /** MOR delete routing (deltacommit): matched keys append as ONE delete
    * block per touched group — (key, partition, null-ordering) triples,
    * so the merge's commit-time tiebreak removes the row (M3's
    * event-time-zero semantics). Unmatched keys are no-ops; no base
    * files are written at all. The same passes as [[routeMorUpsert]]
    * minus the count: the log pass's job builds the probe's cache, and
    * on a record_index table the index pass writes the tombstones from
    * it.
    */
  private def routeMorDelete(
      c: Commit,
      t: HudiTable,
      rows: RDD[Loc],
      byGroup: Option[RDD[(Int, Loc)]]): Routed = {
    // delete blocks carry keys only — no data columns
    val logs = writeMorLogs(c, t, rows, StructType(Nil), deletes = true)
    if (logs.isEmpty) return Routed(None)
    Routed(None,
      deleteCounts = logs.map(l => l.fileId -> l.rows).toMap,
      prevCommits = c.prevCommits(logs.map(_.fileId).toSet),
      logWrites = logs,
      indexChanges = probedChanges(byGroup, None))
  }

  /** Log pass of every MOR commit: `rows` (with their file group set)
    * partition by file group; each task writes one log file per group it
    * holds — an avro data block of full meta-prefixed records sorted by
    * key (upserts) or a delete block of (key, partition, 0) triples —
    * and the driver collects only per-file stats. The per-group
    * name/version map is driver-computed from the commit's slices
    * (bounded by table file count).
    */
  private def writeMorLogs(
      c: Commit,
      t: HudiTable,
      rows: RDD[Loc],
      dataSchema: StructType,
      deletes: Boolean): Seq[LogWrite] = {
    // per touched group: (partition, log name)
    val instant = c.instant
    val naming = c.slices.map { sl =>
      sl.fileId ->
        ((sl.partitionPath, graft.fs.LogFile.nextName(sl, instant, t.config.tableVersion)))
    }.toMap
    val (basePath, conf) = (c.basePath, c.conf)
    // full meta-prefixed record rows, stamped with the NEW instant so the
    // MOR merge's (ordering, commit-time) comparison picks them
    val rowStruct = StructType(Seq(MetaField.CommitTime, MetaField.CommitSeqno,
      MetaField.RecordKey, MetaField.PartitionPath, MetaField.FileName)
      .map(StructField(_, StringType)) ++ dataSchema.fields)
    // fail on the DRIVER with a clear message — the avro log-block bridge
    // covers the flat type matrix only (nested struct/map columns would
    // otherwise throw per-task)
    if (!deletes)
      try graft.log.SparkToAvro.toAvroSchema(rowStruct, "graft_mor_record")
      catch {
        case e: IllegalArgumentException => throw new UnsupportedOperationException(
          s"hudi-graft: MOR log append cannot avro-encode this schema (${e.getMessage}); " +
            "only flat column types are supported for MOR upserts", e)
      }
    val parts = math.max(1, math.min(naming.size, c.spark.sparkContext.defaultParallelism))
    // the probe that named each row's file group, for the error below
    val prober = if (c.indexed) "the record index" else "the snapshot's _hoodie_file_name"

    // (fid, rel path, rows, bytes, inserts) per written log file
    val entries = rows.map(l => (l.fid, l)).partitionBy(new HashPartitioner(parts))
      .mapPartitions { it =>
        lazy val avro = graft.log.SparkToAvro.toAvroSchema(rowStruct, "graft_mor_record")
        val storage = Storage(conf.value.value)
        it.map(_._2).toVector.groupBy(_.fid).iterator.map { case (fid, rs0) =>
          val (part, name) = naming.getOrElse(fid,
            throw new IllegalStateException(
              s"hudi-graft: file group $fid (from $prober) has no slice as of " +
                s"this write — $prober points at uncommitted state"))
          val dir = if (part.isEmpty) new Path(basePath) else new Path(basePath, part)
          val rs = rs0.sortBy(_.key)
          val out = storage.create(new Path(dir, name), overwrite = false)
          try {
            if (deletes) {
              // orderingVal 0 = upstream DeleteRecord's default: the merge's
              // event-time-zero rule then compares on COMMIT TIME only, so
              // this delete beats every earlier row version regardless of
              // its precombine value (a null here would sort LOWEST and the
              // delete would never win)
              val header = org.apache.avro.SchemaBuilder.record("graft_delete_header")
                .fields().endRecord()
              graft.log.LogFileWriter.deleteBlock(out, instant, header,
                rs.map(l => (l.key, l.part, 0: Any)))
            } else {
              val recs = rs.map { l =>
                val seqno = Seq(instant, fid, l.key).filter(_ != null).mkString("_")
                val rec = graft.log.SparkToAvro.toRecord(
                  Row.fromSeq(Seq(instant, seqno, l.key, l.part, "") ++ l.data.toSeq),
                  rowStruct, avro)
                // real Hudi stamps log records with the LOG file's name
                // (HoodieAppendHandle) — also what keeps the writer's own
                // (key -> fileId) snapshot probe routable after a log merge
                rec.put(MetaField.FileName, name)
                rec
              }
              graft.log.LogFileWriter.avroDataBlock(out, instant, avro, recs)
            }
          } finally out.close()
          val rel = if (part.isEmpty) name else s"$part/$name"
          (fid, rel, rs.size.toLong, out.bytes, rs.count(_.ins).toLong)
        }
      }.collect()
    entries.toSeq.sortBy(_._1).map { case (fid, rel, n, bytes, inserts) =>
      LogWrite(naming(fid)._1, fid, rel, n, bytes, inserts)
    }
  }

  /** Distributed `-cdc` sidecar emission for a COW commit's rewritten
    * groups: (before = the stored row, after = the incoming winner, or
    * null for a delete) image pairs of the `matched` rows — the probe's
    * matched [[Loc]]s as a [[located]] frame — repartition by file group;
    * each task writes one log file per group it holds (buffering bounded
    * by the group's CHANGE volume, never table size) with a single
    * CdcData block, and the driver collects only (fileId → path, bytes)
    * for the commit metadata's cdcStats. Fresh-key inserts route to new
    * groups and need no images (readers serve them one-sided from the
    * base file).
    */
  private def writeCdcSidecars(
      c: Commit,
      stored: DataFrame,
      matched: DataFrame,
      dataCols: Seq[String],
      timelineTimezone: String,
      deletes: Boolean,
      mode: String): Map[String, (String, Long)] = {
    val (basePath, instant, conf) = (c.basePath, c.instant, c.conf)
    val b = stored.select(col("__key"), col("__part"), col("__fid"),
      struct(dataCols.map(col): _*).as("__before"))
    val images =
      if (deletes)
        // delete images: before = the stored row, after = null
        b.join(matched.select("__key", "__part"), Seq("__key", "__part"), "left_semi")
          .select(col("__fid"), col("__part"), col("__key"), col("__before"),
            lit(null).cast(b.schema("__before").dataType).as("__after"))
      else {
        val a = matched.select(col("__key"), col("__part"),
          struct(dataCols.map(col): _*).as("__after"))
        b.join(a, Seq("__key", "__part"), "inner")
          .select(col("__fid"), col("__part"), col("__key"), col("__before"), col("__after"))
      }
    val dataSchema = org.apache.spark.sql.types.StructType(
      images.schema("__before").dataType.asInstanceOf[org.apache.spark.sql.types.StructType])
    val schemaJson = dataSchema.json
    // the TABLE's timeline timezone, matching CdcRead's inference stamps —
    // persisted and inferred feeds must hash-identically on non-UTC tables
    val tsMs = graft.core.Timestamps.timelineToEpochMillis(instant, timelineTimezone).toString
    val token = Token
    val cdcMode = mode
    val entries = images.repartition(col("__fid")).rdd.mapPartitions { it =>
      val target = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      // block record shape per the table's supplemental logging mode
      // (upstream HoodieCDCUtils.schemaBySupplementalLoggingMode)
      val cdcAvro = cdcMode match {
        case "data_before_after" =>
          graft.log.SparkToAvro.cdcAvroSchema(target, "graft_write_record")
        case "data_before" =>
          graft.log.SparkToAvro.cdcAvroSchemaDataBefore(target, "graft_write_record")
        case "op_key_only" =>
          graft.log.SparkToAvro.cdcAvroSchemaOpKeyOnly("graft_write_record")
        case other => throw new IllegalArgumentException(
          s"hudi-graft: unknown cdc supplemental logging mode '$other'")
      }
      val byFid = it.toVector.groupBy(r => (r.getString(0), r.getString(1)))
      val storage = Storage(conf.value.value)
      val op = if (deletes) "d" else "u"
      byFid.iterator.map { case ((fid, part), rows) =>
        val recs = rows.sortBy(_.getString(2)).map { r =>
          cdcMode match {
            case "data_before_after" =>
              graft.log.SparkToAvro.cdcRecord(cdcAvro, target, op, tsMs,
                Some(r.getStruct(3)), Option(r.getStruct(4)))
            case "data_before" =>
              graft.log.SparkToAvro.cdcPartialRecord(cdcAvro, target, op,
                r.getString(2), Some(r.getStruct(3)))
            case _ =>
              graft.log.SparkToAvro.cdcPartialRecord(cdcAvro, target, op,
                r.getString(2), None)
          }
        }
        val name = s".${fid}_$instant.log.1_$token${graft.fs.LogFile.CdcSuffix}"
        val dir = if (part.isEmpty) new Path(basePath) else new Path(basePath, part)
        val out = storage.create(new Path(dir, name), overwrite = true)
        try graft.log.LogFileWriter.cdcDataBlock(out, instant, cdcAvro, recs)
        finally out.close()
        val rel = if (part.isEmpty) name else s"$part/$name"
        (fid, rel, out.bytes)
      }
    }.collect()
    entries.map { case (fid, rel, len) => fid -> (rel, len) }.toMap
  }

  // ---- metadata --------------------------------------------------------------

  private def writeTableProperties(
      storage: Storage,
      base: Path,
      opts: Options,
      keyFields: Seq[String],
      partFields: Seq[String],
      precombine: Option[String],
      tableType: String,
      renderComplex: Boolean,
      hiveStyle: Boolean,
      createSchema: Option[String] = None): Unit = {
    val keygen =
      if (renderComplex) "org.apache.hudi.keygen.ComplexKeyGenerator"
      else if (partFields.nonEmpty) "org.apache.hudi.keygen.SimpleKeyGenerator"
      else "org.apache.hudi.keygen.NonpartitionedKeyGenerator"
    val sb = new StringBuilder
    sb ++= s"hoodie.table.name=${opts.tableName(base.getName)}\n"
    sb ++= s"hoodie.table.type=$tableType\n"
    sb ++= "hoodie.table.version=6\n"
    sb ++= "hoodie.timeline.layout.version=1\n"
    sb ++= s"hoodie.table.recordkey.fields=${keyFields.mkString(",")}\n"
    precombine.foreach(f => sb ++= s"hoodie.table.precombine.field=$f\n")
    if (partFields.nonEmpty)
      sb ++= s"hoodie.table.partition.fields=${partFields.mkString(",")}\n"
    sb ++= s"hoodie.table.keygenerator.class=$keygen\n"
    sb ++= s"hoodie.datasource.write.hive_style_partitioning=$hiveStyle\n"
    sb ++= "hoodie.datasource.write.partitionpath.urlencode=false\n"
    sb ++= "hoodie.populate.meta.fields=true\n"
    if (opts.cdcEnabled) {
      sb ++= "hoodie.table.cdc.enabled=true\n"
      sb ++= s"hoodie.table.cdc.supplemental.logging.mode=${opts.cdcLoggingMode}\n"
    }
    // CREATE TABLE records the declared schema — what serves reads (and
    // the first INSERT's schema check) while the table has zero commits.
    // java.util.Properties values may contain ':'/'=' unescaped; the
    // avro JSON is single-line so no continuation escaping is needed
    createSchema.foreach(s => sb ++= s"hoodie.table.create.schema=$s\n")
    storage.writeFile(new Path(base, ".hoodie/hoodie.properties"),
      sb.result().getBytes("UTF-8"), overwrite = true)
  }

  private def writeTimeline(
      basePath: String,
      config: HoodieConfig,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      instant: String,
      operation: String,
      files: Seq[BaseFiles.Written],
      routed: Routed,
      commitSchema: org.apache.spark.sql.types.StructType,
      isMor: Boolean): Unit = {
    val updateCounts = routed.updateCounts
    val deleteCounts = routed.deleteCounts
    val replaced = routed.replaced
    val prevCommits = routed.prevCommits
    val cdcFiles = routed.cdcFiles
    val action = if (replaced.nonEmpty || operation == "insert_overwrite_table")
      "replacecommit" else if (isMor) "deltacommit" else "commit"
    val pending = Timeline.begin(basePath, config, hadoopConf, action, instant)
    // base-file entries plus (MOR) log-file entries, merged per partition;
    // rewritten groups receive no fresh keys under this routing, so their
    // non-update rows are CARRIED, not inserted
    val rewritten = updateCounts.keySet ++ deleteCounts.keySet
    val written = files.map(f => (f, if (rewritten.contains(f.fileId)) 0L else f.rows)) ++
      routed.logWrites.map(lw => (lw.file, lw.inserts))
    val stats = writeStatsJson(written.map { case (f, inserts) =>
      WriteStat(f, prevCommits.getOrElse(f.fileId, "null"),
        updates = updateCounts.getOrElse(f.fileId, 0L), inserts = inserts,
        deletes = deleteCounts.getOrElse(f.fileId, 0L), cdc = cdcFiles.get(f.fileId))
    })
    val rep =
      if (action != "replacecommit") ""
      else s""","partitionToReplaceFileIds":${fileIdsJson(replaced)}"""
    // the writer's DATA schema, like real Hudi — but only for the flat
    // type matrix the avro bridge covers; readers fall back to footers
    val schemaJson = scala.util.Try(
      graft.log.SparkToAvro.toAvroSchema(commitSchema, "graft_write_record").toString).toOption
    val extra = schemaJson.map(s =>
      s""","extraMetadata":{"schema":"${escapeJson(s)}"}""").getOrElse("")
    val opType = operation.toUpperCase(java.util.Locale.ROOT)
    val body =
      s"""{"partitionToWriteStats":$stats$rep$extra,"compacted":false,"operationType":"$opType"}"""
    pending.complete(body)
  }

  // ---- shared write-side primitives (one copy; HudiCleaner reuses) -------

  /** One file's entry in a commit's `partitionToWriteStats`: its counts,
    * the base instant it replaced or appended to (`"null"` for a fresh
    * group) and, for a COW rewrite with CDC, its `-cdc` sidecar's
    * (path, bytes).
    */
  private[write] final case class WriteStat(
      file: BaseFiles.Written,
      prevCommit: String = "null",
      updates: Long = 0L,
      inserts: Long = 0L,
      deletes: Long = 0L,
      cdc: Option[(String, Long)] = None)

  /** The `partitionToWriteStats` object of commit metadata: per
    * partition, its files' entries by fileId.
    */
  private[write] def writeStatsJson(stats: Seq[WriteStat]): String =
    stats.groupBy(_.file.partition).toSeq.sortBy(_._1).map { case (p, entries) =>
      entries.sortBy(_.file.fileId).map { st =>
        val f = st.file
        val cdc = st.cdc.map { case (rel, len) => s""","cdcStats":{"${escapeJson(rel)}":$len}""" }
        s"""{"fileId":"${f.fileId}","path":"${escapeJson(f.relPath)}",""" +
          s""""partitionPath":"${escapeJson(p)}","prevCommit":"${st.prevCommit}",""" +
          s""""numWrites":${f.rows},"numUpdateWrites":${st.updates},""" +
          s""""numInserts":${st.inserts},"numDeletes":${st.deletes},""" +
          s""""fileSizeInBytes":${f.bytes},"totalWriteBytes":${f.bytes}${cdc.getOrElse("")}}"""
      }.mkString(s""""${escapeJson(p)}":[""", ",", "]")
    }.mkString("{", ",", "}")

  /** A partition → fileIds map as a JSON object, both sorted. */
  private[write] def fileIdsJson(ids: Map[String, Set[String]]): String =
    ids.toSeq.sortBy(_._1).map { case (p, fids) =>
      s""""${escapeJson(p)}":${fids.toSeq.sorted.map(f => s""""$f"""").mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")

  /** JSON string escaping incl. control chars — a partition value (user
    * data) carrying a newline must not produce an unparseable commit file.
    */
  private[write] def escapeJson(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb ++= "\\\\"
      case '"' => sb ++= "\\\""
      case '\b' => sb ++= "\\b"
      case '\f' => sb ++= "\\f"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.result()
  }


  /** Option resolution: upstream `hoodie.datasource.write.*` spellings
    * with short aliases.
    */
  private final class Options(options: Map[String, String]) {
    private val lower = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    private def get(keys: String*): Option[String] =
      keys.iterator.flatMap(k => lower.get(k)).nextOption().map(_.trim).filter(_.nonEmpty)
    def recordKeyFields: Option[Seq[String]] =
      get("hoodie.datasource.write.recordkey.field", "recordkey.field", "primarykey")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    /** Spark passes a DataFrameWriter `partitionBy(...)` to a V1 provider as the
      * `__partition_columns` option (DataSourceUtils.PARTITIONING_COLUMNS_KEY,
      * a JSON string array) — silently ignoring it would write the table
      * unpartitioned; map it onto the hoodie partition-path spelling and
      * refuse a conflict with an explicit hoodie option.
      */
    private def partitionByColumns: Seq[String] =
      lower.get("__partition_columns").map { json =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        (0 until node.size()).map(node.get(_).asText()).toSeq
      }.getOrElse(Nil)
    def partitionPathFields: Option[Seq[String]] = {
      val explicit = get("hoodie.datasource.write.partitionpath.field", "partitionpath.field")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
      partitionByColumns match {
        case Nil => explicit
        case cols =>
          if (explicit.exists(_ != cols)) throw new IllegalArgumentException(
            s"hudi-graft: .partitionBy(${cols.mkString(",")}) conflicts with " +
              s"hoodie.datasource.write.partitionpath.field=${explicit.get.mkString(",")}")
          Some(cols)
      }
    }
    def hiveStylePartitioning: Boolean =
      get("hoodie.datasource.write.hive_style_partitioning")
        .exists(_.equalsIgnoreCase("true"))
    def precombineField: Option[String] =
      get("hoodie.datasource.write.precombine.field", "precombine.field", "precombinefield")
    def operation: String =
      get("hoodie.datasource.write.operation", "operation").getOrElse("upsert")
        .toLowerCase(java.util.Locale.ROOT)
    def tableType: String =
      get("hoodie.datasource.write.table.type", "hoodie.table.type")
        .getOrElse("COPY_ON_WRITE").toUpperCase(java.util.Locale.ROOT)
    def tableName(default: String): String =
      get("hoodie.table.name").getOrElse(default)
    def maxFileBytes: Long =
      get("hoodie.parquet.max.file.size").map(_.toLong).getOrElse(120L << 20)
    def cdcEnabled: Boolean =
      get("hoodie.table.cdc.enabled").exists(_.equalsIgnoreCase("true"))
    def cdcLoggingMode: String =
      get("hoodie.table.cdc.supplemental.logging.mode")
        .getOrElse("data_before_after").toLowerCase(java.util.Locale.ROOT)
  }
}
