package graft.sources

import graft.fs.{FileSlice, PartitionFilter, PartitionPruner}
import graft.table.HudiTable
import graft.core.{MetaField, Timestamps}
import graft.util.SerializableConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{aggregate, Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 entry point: `spark.read.format("hudi-graft").load(path)`
  * — the Spark analog of the reference's DataFusion `TableProvider`
  * (crates/datafusion/src/lib.rs:123-156).
  *
  * Read options (mirroring crates/core/src/config/read.rs):
  *  - `as.of.timestamp`: time-travel target (any format
  *    [[graft.core.Timestamps.normalize]] accepts)
  *  - `read.optimized`: base-files-only scan for MOR tables
  */
class HudiDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider {
  override def shortName(): String = "hudi-graft"

  // one provider instance serves one read operation: reuse the table handle
  // built for inferSchema when getTable follows (freshness is per-read, as
  // Spark instantiates a new provider per load)
  @volatile private var cached: Option[(String, HudiTable)] = None

  private def basePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("hudi-graft requires a path"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = basePath(options)
    // DataFrameWriter probes getTable BEFORE falling back to the V1 write
    // path (this class's CreatableRelationProvider) — a first write to a
    // fresh path must not die here. Only NONEXISTENT tables get the empty
    // schema (the table never advertises BATCH_WRITE, so Spark always
    // falls through to the V1 writer); a real open failure stays loud.
    val spark = SparkSession.active
    val props = new org.apache.hadoop.fs.Path(path, ".hoodie/hoodie.properties")
    if (!props.getFileSystem(spark.sessionState.newHadoopConf()).exists(props))
      return new StructType()
    val t = HudiTable(spark, path)
    cached = Some((path, t))
    t.tableSchema
  }

  // ---- V1 CreatableRelationProvider: the WRITE path ----------------------
  // `df.write.format("hudi-graft")` lands here because GraftTable never
  // advertises BATCH_WRITE: a Hudi commit is table-layout orchestration
  // (key assignment, group routing, timeline metadata) around ONE
  // distributed parquet job, which this V1 contract expresses directly —
  // the same structural choice upstream Hudi's Spark DataSource makes.
  override def createRelation(
      sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("hudi-graft requires a path"))
    graft.write.HudiWriter.write(sqlContext.sparkSession, path, data, mode, parameters)
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = sqlContext0
      override def schema: StructType = data.schema
    }
  }
  // createRelation's inner anonymous class shadows the param name
  private def sqlContext0: org.apache.spark.sql.SQLContext =
    SparkSession.active.sqlContext

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    new GraftTable(path, schema, cached.collect { case (p, t) if p == path => t },
      cdcStreaming = GraftCdcSource.cdcRequested(properties.asScala.toMap))
  }

  // ---- V1 StreamSourceProvider: the CDC streaming path ONLY -------------
  // `incremental.format=cdc` on readStream serves the (op, ts_ms, before,
  // after) image feed, whose schema differs from the table's and whose
  // batches are per-commit JOIN queries — both outside what a DSv2
  // MicroBatchStream's partition readers express. The table therefore
  // drops MICRO_BATCH_READ under that option and Spark falls back to this
  // V1 source (the same structure upstream Hudi/Delta use); every other
  // streaming read keeps the DSv2 GraftMicroBatchStream.

  override def sourceSchema(
      sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("hudi-graft requires a path"))
    val t = HudiTable(sqlContext.sparkSession, path,
      GraftCdcSource.stripSelectors(parameters))
    val cdc = GraftCdcSource.cdcRequested(parameters)
    val s = if (cdc) CdcRead.cdcSchema(t) else t.tableSchema
    // a user-specified readStream.schema(...) cannot re-shape this source
    // — silently serving OUR schema under THEIR declaration would be the
    // different-columns-no-error trap; refuse on mismatch
    schema.filter(_ != s).foreach { u =>
      throw new IllegalArgumentException(
        s"user-specified schema does not match the ${if (cdc) "CDC image" else "table"} " +
          s"schema this source serves; omit .schema(...) — declared: $u, served: $s")
    }
    (shortName(), s)
  }

  override def createSource(
      sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    if (!GraftCdcSource.cdcRequested(parameters))
      // unreachable via DataStreamReader (the table advertises
      // MICRO_BATCH_READ for every non-cdc read, so Spark picks DSv2);
      // fail loudly rather than half-serve if some path gets here
      throw new IllegalStateException(
        "the V1 source path serves only incremental.format=cdc; plain streaming " +
          "reads go through the DSv2 micro-batch stream")
    new GraftCdcSource(sqlContext.sparkSession, parameters("path"), parameters)
  }
}

object GraftTable {
  /** The reference's read-option keys (config/read.rs:115-122) → this
    * source's short spellings. `stream.batch_size` and
    * `file.slice.read.concurrency` are deliberately absent: pure tuning
    * hints for the reference's own arrow streaming/polling, with no
    * semantic to preserve under Spark's batching and scheduling.
    */
  val RefReadAliases: Map[String, String] = Map(
    "hoodie.read.query.type" -> "query.type",
    "hoodie.read.as.of.timestamp" -> "as.of.timestamp",
    "hoodie.read.start.timestamp" -> "start.timestamp",
    "hoodie.read.end.timestamp" -> "end.timestamp",
    "hoodie.read.input.partitions" -> "input.partitions",
    "hoodie.read.use.read_optimized.mode" -> "read.optimized")

  /** Upstream SPARK-Hudi's read-option spellings, so a ported Spark job
    * keeps its semantics too (the TVF parity story implies the option
    * parity): `hoodie.datasource.query.type` (whose enum ALSO has
    * `read_optimized`, mapped to this source's boolean), the
    * begin/end instant range (same exclusive-begin/inclusive-end
    * contract), and `as.of.instant` time travel. Value-dependent, hence
    * a translation, not a key map.
    */
  private val SparkHudiKeys = Seq(
    "hoodie.datasource.query.type",
    "hoodie.datasource.read.begin.instanttime",
    "hoodie.datasource.read.end.instanttime",
    "as.of.instant")

  /** Translate foreign option spellings onto the short forms; the short
    * form wins when both are present. Returns the input map untouched
    * when no foreign key is set.
    */
  def translateOptions(o: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    // upstream Spark-Hudi options that CHANGE THE ROW SET with no analog
    // here — swallowing them would return different data with no error
    // (the same trap the query-type validation refuses), so they refuse
    // loudly; their do-nothing values pass (they match this engine's
    // behavior). Other unrecognized hoodie.datasource.{query,read}.*
    // keys are ignored: the universe of ported tuning options cannot be
    // enumerated, and these three are the row-set-changing ones.
    Option(o.get("hoodie.datasource.read.incr.path.glob"))
      .filter(_.nonEmpty).foreach { g =>
        throw new UnsupportedOperationException(
          s"hoodie.datasource.read.incr.path.glob='$g' is not supported — an incremental " +
            "read here returns all partitions; filter on the partition columns instead " +
            "(consumed by pruning)")
      }
    Seq("hoodie.datasource.read.incr.fallback.fulltablescan.enable",
      "hoodie.datasource.read.schema.use.end.instanttime").foreach { k =>
      if (Option(o.get(k)).exists(_.equalsIgnoreCase("true")))
        throw new UnsupportedOperationException(
          s"$k=true is not supported (this engine neither full-scans on an archived " +
            "begin instant nor resolves the schema as of the end instant); unset it or " +
            "set it to false")
    }
    val foreign = RefReadAliases.keysIterator ++ SparkHudiKeys.iterator
    if (!foreign.exists(o.containsKey)) return o
    val m = new util.HashMap[String, String](o.asCaseSensitiveMap())
    // absence must consider keys WRITTEN by an earlier translation too,
    // not just the original map — else a later-processed foreign spelling
    // clobbers an earlier one (first processed wins: the reference's
    // spelling takes precedence over Spark-Hudi's when both are present)
    val written = scala.collection.mutable.Set.empty[String]
    def putIfAbsent(k: String, v: String): Unit =
      if (o.get(k) == null && !written.contains(k)) { m.put(k, v); written += k }
    RefReadAliases.foreach { case (ref, short) =>
      Option(o.get(ref)).foreach(putIfAbsent(short, _))
    }
    Option(o.get("hoodie.datasource.query.type")).foreach {
      _.toLowerCase(java.util.Locale.ROOT) match {
        case "snapshot" => ()
        case "incremental" => putIfAbsent("query.type", "incremental")
        case "read_optimized" => putIfAbsent("read.optimized", "true")
        case other => throw new IllegalArgumentException(
          s"unknown hoodie.datasource.query.type '$other' " +
            "(accepted: snapshot, incremental, read_optimized)")
      }
    }
    // Spark-Hudi's earliest-begin sentinels mean "no lower bound"
    Option(o.get("hoodie.datasource.read.begin.instanttime")).foreach { b =>
      if (!Set("earliest", "000", "0").contains(b.toLowerCase(java.util.Locale.ROOT)))
        putIfAbsent("start.timestamp", b)
    }
    Option(o.get("hoodie.datasource.read.end.instanttime"))
      .foreach(putIfAbsent("end.timestamp", _))
    Option(o.get("as.of.instant")).foreach(putIfAbsent("as.of.timestamp", _))
    new CaseInsensitiveStringMap(m)
  }
}

class GraftTable(
    path: String,
    declaredSchema: StructType,
    prebuilt: Option[HudiTable] = None,
    pinnedOptions: Map[String, String] = Map.empty,
    cdcStreaming: Boolean = false
) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  private lazy val hudi = prebuilt.getOrElse(HudiTable(SparkSession.active, path))

  override def name(): String = s"hudi-graft.`$path`"
  override def schema(): StructType =
    if (declaredSchema != null && declaredSchema.nonEmpty) declaredSchema else hudi.tableSchema
  override def capabilities(): util.Set[TableCapability] =
    // under incremental.format=cdc the streaming feed's schema is the CDC
    // image schema, not the table's — dropping MICRO_BATCH_READ makes
    // DataStreamReader fall back to the provider's V1 StreamSourceProvider
    // (GraftCdcSource); batch reads are unaffected
    if (cdcStreaming) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** SQL DML surface (`INSERT INTO` / `INSERT OVERWRITE` through the
    * catalog): a V1 write bridging to [[graft.write.HudiWriter]] — the
    * SAME path `df.write.format("hudi-graft")` takes, so key/partition/
    * precombine resolution comes from the table's own config. INSERT
    * OVERWRITE arrives as truncate() and maps to SaveMode.Overwrite
    * (insert_overwrite_table, a REPLACECOMMIT). The table schema is
    * always meta-prefixed (the five `_hoodie_*` columns), so inserts
    * name their columns — `INSERT INTO t (cols...) VALUES ...` or
    * `INSERT INTO t BY NAME SELECT ...` — and the writer recomputes the
    * meta columns, never trusting input values.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    import org.apache.spark.sql.connector.write.{V1Write, Write, WriteBuilder}
    import scala.jdk.CollectionConverters._
    val writeOptions = pinnedOptions ++ info.options().asScala
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, over: Boolean) => {
            val mode =
              if (overwrite || over) org.apache.spark.sql.SaveMode.Overwrite
              else org.apache.spark.sql.SaveMode.Append
            graft.write.HudiWriter.write(data.sparkSession, path,
              data.drop(graft.core.MetaField.all: _*), mode, writeOptions)
            ()
          }
      }
    }
  }

  /** Table properties for `DESCRIBE EXTENDED` / catalog tooling: the
    * table's own hoodie.properties, verbatim (the facts a user coming
    * from another Hudi engine inspects — table type/version, record key,
    * precombine field, keygenerator, advertised MDT partitions).
    * Read-only informational metadata; Spark never writes these back.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    hudi.config.props.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Identity transforms over the table's partition fields — the honest
    * metadata (Hudi's layout is value-per-directory) that lets Spark
    * resolve `SHOW PARTITIONS` against this table. Timestamp-keygen
    * tables report NO partitioning: their paths are a FORMATTED
    * rendering of the source column (date buckets), so identity would
    * be a lie and their path segments don't parse as field values.
    */
  override def partitioning(): Array[Transform] =
    if (graft.fs.TimestampKeyGen.fromConfig(hudi.config).isDefined) Array.empty
    else hudi.config.partitionFields.map(f => Expressions.identity(f)).toArray

  /** `SHOW PARTITIONS` support (read-only: every mutator refuses).
    * Identifiers are the PARSED partition-path values in partition-field
    * order; paths that don't parse (foreign layouts) are omitted rather
    * than guessed, and null-partition sentinels surface as NULLs — the
    * same reading the P6 re-injection gives the rows themselves.
    */
  override def partitionSchema(): StructType =
    if (partitioning().isEmpty) StructType(Nil)
    else StructType(hudi.config.partitionFields.flatMap(f => schema().fields.find(_.name == f)))

  override def listPartitionIdentifiers(
      names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val pf = partitionSchema()
    require(names.length == ident.numFields,
      s"prefix names (${names.length}) and values (${ident.numFields}) differ")
    val prefixIdx = names.map(n => pf.fieldIndex(n))
    val converters = pf.fields.map(f =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val pruner = hudi.prunerFor(Nil)
    val cfg = hudi.config
    val rows = hudi.fsView.partitionPaths.sorted.flatMap { p =>
      // nullable parse: the null partition of a TYPED column (e.g.
      // n_regionkey=__HIVE_DEFAULT_PARTITION__) must list as the NULL
      // partition, not vanish on the failed int cast
      pruner.parseSegmentsNullable(
          p, s => GraftScanBuilder.isPartitionNullSentinel(s, cfg)).flatMap { vals =>
        val cells = pf.fields.zip(converters).map { case (f, conv) =>
          vals.get(f.name) match {
            case Some(v) if !GraftScanBuilder.isPartitionNullSentinel(v, cfg) =>
              conv(v)
            case _ => null // sentinel (or absent) = the NULL partition
          }
        }
        if (cells.length == pf.length)
          Some(org.apache.spark.sql.catalyst.InternalRow.fromSeq(cells.toIndexedSeq))
        else None
      }
    }
    val pfTypes = pf.fields.map(_.dataType)
    rows.filter { r =>
      prefixIdx.indices.forall { i =>
        val col = prefixIdx(i)
        val a = if (r.isNullAt(col)) null else r.get(col, pfTypes(col))
        val b = if (ident.isNullAt(i)) null else ident.get(i, pfTypes(col))
        a == b
      }
    }.toArray
  }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("hudi-graft tables are read-only")
  override def dropPartition(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    throw new UnsupportedOperationException("hudi-graft tables are read-only")
  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("hudi-graft tables are read-only")
  override def loadPartitionMetadata(ident: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] = util.Collections.emptyMap()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // pinned options come from catalog-level time travel (FOR TIMESTAMP /
    // VERSION AS OF) and override per-read options
    val merged0 =
      if (pinnedOptions.isEmpty) options
      else {
        val m = new util.HashMap[String, String](options.asCaseSensitiveMap())
        pinnedOptions.foreach { case (k, v) => m.put(k, v) }
        new CaseInsensitiveStringMap(m)
      }
    // foreign option spellings select the SAME semantics here: the
    // reference's `hoodie.read.*` (config/read.rs:115-122 — its two pure
    // tuning hints, stream.batch_size and file.slice.read.concurrency,
    // are accepted and ignored since Spark owns batching and scheduling)
    // and upstream Spark-Hudi's `hoodie.datasource.*`/`as.of.instant`.
    // A ported job's `...query.type=incremental` must not silently read
    // a snapshot; the short form wins when both are present.
    val merged = GraftTable.translateOptions(merged0)
    // read options may supplement table configs (e.g. keygen settings the
    // writer didn't persist) — rebuild the table handle when present
    // (`hoodie.datasource.write.*` ARE legit supplements and keep flowing)
    val extra = merged.asCaseSensitiveMap().asScala
      .filter { case (k, _) => HudiTable.isConfigSupplement(k) }.toMap
    val table = if (extra.isEmpty) hudi else HudiTable(SparkSession.active, path, extra)
    // the reference's QueryType::from_str rejects unknown values
    // (config/read.rs InvalidValue); silently defaulting `query.type=
    // read_optimized` (or a typo) to a snapshot read would be the same
    // wrong-shape trap the TVF keywords refuse
    Option(merged.get("query.type")).foreach { qt =>
      if (!qt.equalsIgnoreCase("snapshot") && !qt.equalsIgnoreCase("incremental"))
        throw new IllegalArgumentException(
          s"unknown query.type '$qt' (accepted: snapshot, incremental; " +
            "read-optimized MOR reads use read.optimized=true)")
    }
    new GraftScanBuilder(table, schema(), merged)
  }
}

/** Pushdown surface (D2), matching the reference's Exact/Inexact contract
  * (lib.rs:426-578, 885-901): partition-equality conjuncts are classified
  * Exact — consumed by driver-side partition pruning and dropped from the
  * residuals so Spark plans no redundant re-filter — but ONLY when pruning
  * is provably authoritative (every listed partition path parses, the
  * literal casts, and no keygen transform rewrites filters). Everything
  * else stays residual (always-correct Inexact), while still driving
  * best-effort pruning and parquet row-group skipping.
  */
class GraftScanBuilder(hudi: HudiTable, schema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var footerAggScan: Option[GraftFooterAggScan] = None

  /** Metadata-only `COUNT(*)` / `MIN(col)` / `MAX(col)`, optionally
    * GROUPed BY partition columns: when the plan is provably
    * base-file-only (COW; MOR read-optimized; or a MOR plan none of
    * whose slices carry logs — insert-only and fully-compacted tables,
    * and as-of instants predating any log — log files change the
    * answers) with no unconsumed filters or limit, the aggregates are
    * served entirely from MDT-index / parquet-footer metadata — zero
    * data read, the ops queries every table gets hit with at 100 TB.
    * Snapshot and time-travel only (incremental applies a commit-range
    * row filter footers can't see). MIN/MAX from chunk stats are
    * numeric/date/timestamp/decimal-only (string chunk statistics can be
    * writer-truncated) and require usable stats in EVERY planned file
    * (an all-null file contributes nothing and is fine; a stats-less one
    * rejects the pushdown); partition FIELDS — including dropped ones
    * and strings — serve MIN/MAX/COUNT from parsed path values instead
    * (`SELECT MAX(dt)` = the freshest-partition query, zero data read;
    * sentinel/parse gates in GraftFooterAggScan.tryPlan). Complete pushdown:
    * Spark consumes the single driver-side row as the final answer. The
    * planning cost is one footer read per file — the same footers R2
    * pruning reads — issued in parallel at pushdown time.
    *
    * Filters compose when they are EXACTLY consumed by partition pruning
    * (the same classification [[pushFilters]] uses to drop them from the
    * residual): the slice set is pruned first, then the aggregates serve
    * over the surviving files — `SELECT COUNT(*) WHERE dt = X`, the most
    * frequent ops query on a partitioned lake, becomes a zero-task plan.
    * Any other pushed filter (non-partition column, range, unparseable
    * literal) rejects the pushdown; Spark then keeps the filter as a
    * post-scan residual and never offers the aggregate anyway.
    */
  private def tryFooterAgg(agg: aggregate.Aggregation): Option[GraftFooterAggScan] = {
    val exactFields = pushed.collect {
      case f @ sources.EqualTo(a, _) if isExactPartitionEquality(f) => a
      case f @ sources.In(a, _) if isExactPartitionEquality(f) => a
    }.toSet
    val filtersConsumed = pushed.isEmpty || (exactPruningReady && pushed.forall {
      case f if isExactPartitionEquality(f) => true
      case sources.IsNotNull(a) =>
        exactFields.contains(a) || isExactPartitionNullPredicate(a)
      // `COUNT(*) WHERE dt IS NULL` = the sentinel partitions' metadata
      case sources.IsNull(a) => isExactPartitionNullPredicate(a)
      case _ => false
    })
    // no MOR-wide reject here: tryPlan verifies the PLANNED slices are
    // log-free, which also admits insert-only / fully-compacted MOR
    // tables and as-of instants predating any log — the common append
    // pipelines that previously scanned for every COUNT(*)
    if (!filtersConsumed || limit.nonEmpty ||
        Option(options.get("query.type")).exists(_.equalsIgnoreCase("incremental")))
      return None
    val aggPartitionFilters: Seq[PartitionFilter] =
      pushed.toSeq.filter {
        case f if isExactPartitionEquality(f) => true
        case sources.IsNull(a) => isExactPartitionNullPredicate(a)
        case sources.IsNotNull(a) => isExactPartitionNullPredicate(a)
        case _ => false
      }.flatMap(toSimpleFilter)
    // GROUP BY is served ONLY when every grouping expression is a bare
    // partition column: the group values then come from parsed partition
    // paths and the plan stays metadata-only, one row per partition
    // tuple (`SELECT dt, COUNT(*) ... GROUP BY dt` on a date-partitioned
    // lake). Anything else falls back to a real scan.
    val groupBy: Seq[String] = {
      val names = agg.groupByExpressions().toSeq.map {
        case nr: NamedReference if nr.fieldNames().length == 1 => nr.fieldNames()(0)
        case _ => return None
      }
      val partFields = hudi.config.partitionFields.toSet
      if (names.distinct != names || !names.forall(partFields.contains)) return None
      names
    }
    // MIN/MAX servable: chunk-statistics types (GraftFooterAggScan
    // .statsMinMaxServable — strings excluded, chunk stats may be
    // writer-truncated), OR a partition field whose parsed path values
    // serve as the answers (partitionValueServable — covers DROPPED
    // partition columns, which have no chunks at all and would
    // otherwise misread as "provably all null", and string partition
    // columns, whose path rendering IS the exact value). tryPlan
    // applies the sentinel/parse gates.
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          hudi.tableSchema.fields.find(_.name == nr.fieldNames()(0)).filter { f =>
            val pv = GraftFooterAggScan.partitionValueServable(hudi, f)
            if (hudi.droppedPartitionFields.contains(f.name)) pv
            else GraftFooterAggScan.statsMinMaxServable(f.dataType) || pv ||
              // strings are INDEX-TIER-ONLY: a tight MDT column_stats
              // bound IS the exact extreme value, while footer chunk
              // stats may be writer-truncated — acceptance only needs
              // the index advertised; tryPlan demands tight typed
              // coverage of every planned file and never consults
              // footers for string MIN/MAX
              (f.dataType == org.apache.spark.sql.types.StringType &&
                graft.table.ColumnStatsIndex.isAvailable(hudi.config))
          }
        case _ => None
      }
    // COUNT(col) reads no values, so ANY type qualifies — but a dropped
    // partition column's nulls can't be proven from chunks (P6); it
    // serves from path values instead when eligible (sentinel-free ⇒
    // zero nulls), else falls back to a normal scan
    def countFieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        hudi.tableSchema.fields.find(_.name == nr.fieldNames()(0))
          .filterNot(f => hudi.droppedPartitionFields.contains(f.name) &&
            !GraftFooterAggScan.partitionValueServable(hudi, f))
      case _ => None
    }
    val specs = agg.aggregateExpressions().toSeq.map {
      case _: aggregate.CountStar => Some(GraftFooterAggScan.CountStarSpec)
      case c: aggregate.Count if !c.isDistinct =>
        countFieldOf(c.column()).map(GraftFooterAggScan.CountSpec)
      case m: aggregate.Min => fieldOf(m.column()).map(GraftFooterAggScan.MinSpec)
      case m: aggregate.Max => fieldOf(m.column()).map(GraftFooterAggScan.MaxSpec)
      case _ => None
    }
    if (specs.isEmpty || specs.exists(_.isEmpty)) None
    else GraftFooterAggScan.tryPlan(hudi, options, specs.flatten, groupBy, aggPartitionFilters)
  }

  override def supportCompletePushDown(agg: aggregate.Aggregation): Boolean = {
    footerAggScan = tryFooterAgg(agg)
    footerAggScan.isDefined
  }

  override def pushAggregation(agg: aggregate.Aggregation): Boolean = {
    if (footerAggScan.isEmpty) footerAggScan = tryFooterAgg(agg)
    footerAggScan.isDefined
  }

  /** Partition fields whose equality filters pruning handles EXACTLY:
    * requires no timestamp-keygen rewrite and that every partition path
    * parses with the field present (the pruner fails open on parse errors,
    * which would leak rows if the residual were dropped). The parse is
    * NULL-AWARE: a sentinel segment counts as parsed (the pruner gives
    * it exact null semantics), so a table WITH a null partition still
    * qualifies — both for equality consumption (the sentinel partition
    * is exactly excluded) and for IS [NOT] NULL consumption.
    */
  private lazy val exactPruningReady: Boolean =
    hudi.config.partitionFields.nonEmpty &&
      graft.fs.TimestampKeyGen.fromConfig(hudi.config).isEmpty && {
        val pruner = hudi.prunerFor(Nil)
        val fields = hudi.config.partitionFields.toSet
        // STRICT parse + raw sentinels — the same geometry shouldInclude
        // prunes with. The lenient parse would accept a multi-segment
        // single-string-field path (a '/' inside the value) that pruning
        // fails OPEN on, and a consumed filter over an unprunable
        // partition leaks rows.
        try hudi.fsView.partitionPaths.forall(p =>
          pruner.parseSegmentsSentinelRaw(p, hudi.config.isPartitionNullSentinel)
            .exists(m => fields.forall(m.contains)))
        catch { case _: Exception => false }
      }

  /** Whether `IS NULL` / `IS NOT NULL` on partition field `a` is
    * EXACTLY consumed by pruning: non-string types only — a sentinel
    * partition holds NULL rows for a typed column, but for a STRING
    * column it may also hold empty-string rows (Hudi renders both the
    * same), so string null predicates prune inclusively and keep the
    * residual.
    */
  private def isExactPartitionNullPredicate(a: String): Boolean =
    hudi.config.partitionFields.contains(a) && exactPruningReady &&
      partitionType(a) != "string"

  private def partitionType(field: String): String =
    hudi.partitionFieldTypes.collectFirst { case (`field`, t) => t }.getOrElse("string")

  private def literalParses(field: String, v: Any): Boolean =
    v != null && (partitionType(field) match {
      case "int" => String.valueOf(v).toIntOption.isDefined
      case "long" => String.valueOf(v).toLongOption.isDefined
      case "double" => String.valueOf(v).toDoubleOption.isDefined
      case "date" =>
        try { java.time.LocalDate.parse(String.valueOf(v)); true }
        catch { case _: Exception => false }
      // a literal equal to a null-partition sentinel OR to the v4+
      // ambiguous bare 'default' keeps the residual: the matching PATH
      // may hold rows whose column is NULL (written under the sentinel,
      // or by a pre-upgrade writer), which the equality must exclude
      case _ =>
        val s = String.valueOf(v)
        !GraftScanBuilder.isPartitionNullSentinel(s, hudi.config) &&
          !hudi.config.isPartitionAmbiguousValue(s)
    })

  private def isExactPartitionEquality(f: Filter): Boolean = {
    val partFields = hudi.config.partitionFields.toSet
    f match {
      case sources.EqualTo(a, v) =>
        partFields.contains(a) && literalParses(a, v)
      case sources.In(a, vs) =>
        partFields.contains(a) && vs.nonEmpty && vs.forall(literalParses(a, _))
      case _ => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    if (!exactPruningReady) filters
    else {
      val exactFields = filters.collect {
        case f @ sources.EqualTo(a, _) if isExactPartitionEquality(f) => a
        case f @ sources.In(a, _) if isExactPartitionEquality(f) => a
      }.toSet
      filters.filterNot {
        case f if isExactPartitionEquality(f) => true
        // the analyzer's companion null guard: implied by an exact
        // equality on the same field (surviving partitions parsed a
        // value) — and standalone on non-string partition fields, where
        // pruning excludes exactly the sentinel partitions
        case sources.IsNotNull(a) =>
          exactFields.contains(a) || isExactPartitionNullPredicate(a)
        // `WHERE dt IS NULL` maps exactly to the sentinel partitions on
        // non-string typed fields (a typed sentinel holds ONLY nulls)
        case sources.IsNull(a) => isExactPartitionNullPredicate(a)
        case _ => false
      }
    }
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** L1 (hudi_exec.rs:127-168): per-partition row-budget truncation; Spark
    * keeps its own global limit above (partial pushdown contract).
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  override def build(): Scan = {
    footerAggScan.foreach(s => return s)
    val partFields = hudi.config.partitionFields.toSet
    val simple = pushed.flatMap(toSimpleFilter).toSeq
    val partitionFilters = simple.filter(f => partFields.contains(f.field))
    new GraftScan(hudi, required, partitionFilters, simple, pushed, options, limit)
  }

  private def toSimpleFilter(f: Filter): Option[PartitionFilter] = {
    // `typed` keeps the original literal objects: stats pruning compares
    // date/timestamp/decimal predicates losslessly through them, while
    // the string renderings keep serving path-based partition pruning
    def mk(field: String, op: String, vs: Seq[Any]) =
      Some(PartitionFilter(field, op, vs.map(String.valueOf), typed = vs))
    f match {
      case sources.EqualTo(a, v) => mk(a, "=", Seq(v))
      case sources.GreaterThan(a, v) => mk(a, ">", Seq(v))
      case sources.GreaterThanOrEqual(a, v) => mk(a, ">=", Seq(v))
      case sources.LessThan(a, v) => mk(a, "<", Seq(v))
      case sources.LessThanOrEqual(a, v) => mk(a, "<=", Seq(v))
      case sources.In(a, vs) => mk(a, "in", vs.toSeq)
      // `!=`-heavy ops queries arrive as Not-wrapped pushdowns; stats
      // pruning proves exclusion for a constant extent (min == max).
      // The reference models NOT IN the same way (expr/filter.rs:376-384).
      case sources.Not(sources.EqualTo(a, v)) => mk(a, "!=", Seq(v))
      case sources.Not(sources.In(a, vs)) if vs.nonEmpty => mk(a, "not in", vs.toSeq)
      // Null predicates carry no literal; the pruner serves them from
      // null COUNTS (index nullCount / footer numNulls), never ranges.
      case sources.IsNull(a) => Some(PartitionFilter(a, "isnull", Nil))
      case sources.IsNotNull(a) => Some(PartitionFilter(a, "isnotnull", Nil))
      case _ => None
    }
  }
}

object GraftScanBuilder {
  /** Partition-path renderings that stand in for NULL (or empty) column
    * values rather than being values themselves: hive-style tables write
    * `__HIVE_DEFAULT_PARTITION__`, old writers Hudi's original
    * PartitionPathEncodeUtils.DEFAULT_PARTITION_PATH `"default"`, and an
    * empty segment is the degenerate case. Any plan that treats a path
    * value as a COLUMN value (grouped aggregate pushdown, exact filter
    * consumption) must refuse these. VERSION-aware, layout-blind: Hudi
    * 0.11+ (table version >= 4) switched the null-partition rendering to
    * the hive sentinel for ALL layouts, not just hive-style — so on any
    * v4+ table the bare string `default` is an ordinary value
    * (`category=default` is a real directory) and treating it as a
    * sentinel would misreport that partition as NULL in SHOW PARTITIONS
    * and needlessly reject sound pushdowns. PRE-v4 writers used
    * `default` for nulls, so older tables keep refusing it (fail-safe);
    * the hive sentinel itself stays refused everywhere.
    */
  def isPartitionNullSentinel(v: Any, cfg: graft.core.HoodieConfig): Boolean = v match {
    case s: String => cfg.isPartitionNullSentinel(s)
    case _ => false
  }

  /** A parsed path value path-as-value serving must NOT trust as a row
    * value: a null sentinel, or the v4+ ambiguous bare `default` (a
    * legacy pre-upgrade null dir is indistinguishable from a genuine
    * value without reading — HoodieConfig.isPartitionAmbiguousValue).
    */
  def isUntrustedPathValue(v: Any, cfg: graft.core.HoodieConfig): Boolean =
    isPartitionNullSentinel(v, cfg) || (v match {
      case s: String => cfg.isPartitionAmbiguousValue(s)
      case _ => false
    })
}

/** The pushed footer-aggregate scan: precomputed local rows built from
  * parquet footer / MDT index metadata over the planned base-only
  * slices — no tasks, no data read. One row for a global aggregate, one
  * row per group when the aggregation GROUPs BY partition columns. Only
  * built when [[GraftScanBuilder]] accepted the aggregation (gates
  * documented there).
  */
class GraftFooterAggScan(
    schema: StructType,
    precomputed: Array[org.apache.spark.sql.catalyst.InternalRow]
) extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = precomputed
  override def description(): String = "hudi-graft footer-aggregate (metadata only)"
}

object GraftFooterAggScan {
  /** MIN/MAX types the chunk-statistics tiers (MDT column_stats /
    * parquet footers) can answer EXACTLY (strings excluded — chunk
    * stats may be writer-truncated renderings, fine for pruning, wrong
    * as answers). Shared with [[GraftScanBuilder]] so acceptance and
    * planning can't drift.
    */
  private[sources] def statsMinMaxServable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType | LongType | FloatType | DoubleType => true
      case DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Partition fields whose PARSED PATH VALUES can stand in for column
    * values in aggregate answers — the P6 composition: a DROPPED
    * partition column has no chunks at all (today a full scan), and a
    * string partition column's chunk stats can be writer-truncated, but
    * the path rendering is the exact value by construction (the same
    * trust the grouped pushdown places in parsed paths). Requires no
    * timestamp keygen (those paths are FORMATTED renderings, not
    * values) and a type whose parse representation maps losslessly to
    * the catalyst internal form (string/int/long/date/double — the
    * pruner's own cast set; short/byte/float parse to a WIDER box and
    * are excluded).
    */
  private[sources] def partitionValueServable(
      hudi: HudiTable, f: StructField): Boolean = {
    import org.apache.spark.sql.types._
    hudi.config.partitionFields.contains(f.name) &&
      graft.fs.TimestampKeyGen.fromConfig(hudi.config).isEmpty &&
      (f.dataType match {
        case StringType | IntegerType | LongType | DateType | DoubleType => true
        case _ => false
      })
  }

  sealed trait AggSpec
  case object CountStarSpec extends AggSpec
  final case class MinSpec(field: StructField) extends AggSpec
  final case class MaxSpec(field: StructField) extends AggSpec
  /** `COUNT(col)` = Σ(rows − nulls) per file; any type (no value is
    * read), but every file must PROVE its null count — index nullCount,
    * footer numNulls across all row groups, or the column being absent
    * from the file's schema entirely (pre-evolution file → all rows
    * null there).
    */
  final case class CountSpec(field: StructField) extends AggSpec

  /** Plan + serve the aggregates from metadata; None (fall back to a
    * normal scan) on any gap: log-carrying slice, missing stats for a
    * needed column, unparseable partition path for a grouped plan, or
    * any read error.
    *
    * `groupBy` (possibly empty) names partition fields: a grouped plan
    * buckets the planned files by the parsed partition VALUES of those
    * fields and emits one row per group — `SELECT dt, COUNT(*) ... GROUP
    * BY dt` over a partitioned lake becomes a metadata-only LocalScan,
    * the daily ops query that otherwise scans everything. Per-group
    * values come from the same two tiers as the global plan: the MDT
    * column_stats index when it covers every file of the group (zero
    * footer reads), parquet footers otherwise.
    */
  def tryPlan(
      hudi: HudiTable,
      options: CaseInsensitiveStringMap,
      specs: Seq[AggSpec],
      groupBy: Seq[String] = Nil,
      partitionFilters: Seq[graft.fs.PartitionFilter] = Nil): Option[GraftFooterAggScan] =
    try {
      // a file-group-restricted read (the inferred-CDC plumbing) plans a
      // SUBSET of the snapshot's slices; this path plans its own full
      // slice set and would answer over the whole table — stand down
      if (options.containsKey("cdc.file.groups")) return None
      val asOf = Option(options.get("as.of.timestamp"))
        .map(Timestamps.normalize(_, hudi.config.timelineTimezone))
      val readOptimized = options.getBoolean("read.optimized", false)
      // exact partition-equality filters (the builder's consumed set)
      // prune the slice set FIRST; the aggregates then serve over the
      // surviving files only — the metadata plan for `COUNT(*) WHERE
      // dt = X`
      val pruner = hudi.prunerFor(partitionFilters)
      val slices = asOf.orElse(hudi.timeline.latestCommitTimestamp)
        .map(ts => hudi.fsView.slicesAsOf(ts, pruner)).getOrElse(Vector.empty)
        .map(sl => if (readOptimized) sl.withoutLogs else sl)
      if (slices.exists(_.hasLogFiles)) return None
      val countCols = specs.collect { case CountSpec(f) => f.name }.toSet
      val fieldType = specs.collect {
        case MinSpec(f) => f.name -> f.dataType
        case MaxSpec(f) => f.name -> f.dataType
      }.toMap

      // Partition-valued serving (P6 composition): MIN/MAX of fields the
      // chunk tiers cannot answer (dropped partition columns, string
      // partition columns) and COUNT of dropped partition columns come
      // from PARSED PATH VALUES. Gates: every planned path parses with
      // the field present, and NO planned path is a null-partition
      // sentinel for it — a sentinel stands for NULL or empty-string
      // (indistinguishable without reading), so its presence rejects the
      // whole pushdown and the scan stays authoritative. Sentinel-free,
      // the path value IS each row's value: MIN/MAX fold over per-file
      // (v, v) stats gated on PROVEN rows > 0 (an empty file's partition
      // value is not a value any row has), and COUNT sees zero nulls.
      val dropped = hudi.droppedPartitionFields.toSet
      def pvServable(name: String): Boolean =
        hudi.tableSchema.fields.find(_.name == name)
          .exists(f => partitionValueServable(hudi, f))
      val partitionValuedMinMax: Set[String] = specs.collect {
        case MinSpec(f) => f
        case MaxSpec(f) => f
      }.filter(f => pvServable(f.name) &&
        (dropped(f.name) || !statsMinMaxServable(f.dataType))).map(_.name).toSet
      val partitionValuedCount: Set[String] =
        countCols.filter(c => dropped(c) && pvServable(c))
      // stats tiers only ever see the chunk-served columns
      val needed = specs.collect {
        case MinSpec(f) => f.name
        case MaxSpec(f) => f.name
      }.toSet -- partitionValuedMinMax
      // string MIN/MAX are servable ONLY from tight index bounds (the
      // exact extremes); footer chunk stats can be writer-truncated, so
      // any plan needing a string extreme must never fall to the footer
      // tier — an index coverage gap rejects the whole pushdown instead
      val stringNeeded: Set[String] = needed.filter(c =>
        fieldType.get(c).contains(org.apache.spark.sql.types.StringType))
      val statCountCols = countCols -- partitionValuedCount
      val pvFields = partitionValuedMinMax ++ partitionValuedCount
      val partVals: Map[String, Map[String, Any]] =
        if (pvFields.isEmpty) Map.empty
        else slices.map(_.partitionPath).distinct.map { p =>
          val vals = pruner.parseSegments(p).getOrElse(return None)
          pvFields.foreach { f =>
            val v = vals.getOrElse(f, return None)
            if (GraftScanBuilder.isUntrustedPathValue(v, hudi.config)) return None
          }
          p -> vals
        }.toMap
      // parse representations → catalyst-internal, order-preserving
      // (UTF8String's binary comparison IS Spark's string order;
      // epoch-day Int IS DateType's internal form)
      def pathInternal(v: Any): Any = v match {
        case d: java.time.LocalDate => java.lang.Integer.valueOf(d.toEpochDay.toInt)
        case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case other => other
      }

      // MIN/MAX answers need tight bounds (loose ones only prune); an
      // all-null file contributes nothing. COUNT(*) needs exact row counts
      // — partition-valued MIN/MAX too, to skip empty files — and
      // COUNT(col) proven null counts.
      val needRows = specs.contains(CountStarSpec) || countCols.nonEmpty ||
        partitionValuedMinMax.nonEmpty
      def answers(s: graft.fs.FileStats): Boolean =
        (!needRows || s.rowCount.isDefined) &&
          statCountCols.forall(c => s.column(c).exists(_.nullCount.isDefined)) &&
          needed.forall(c => s.column(c).exists(cs => cs.allNull || cs.tight && cs.range.isDefined))

      // MIN/MAX values fold in the normalized stat representation and
      // convert to catalyst-internal at the end: epoch-day Int and
      // epoch-micros Long ARE internal already; BigDecimal wraps to a
      // Decimal at the column's declared precision/scale — a value that
      // doesn't fit (shouldn't happen for stats of stored values) throws.
      // The Literal checks the value's class against the column type:
      // stats of another type (an evolved column) throw too, and the
      // tier that produced them stands down.
      def toInternal(v: Any, dt: org.apache.spark.sql.types.DataType): Any = {
        val internal = (v, dt) match {
          case (bd: java.math.BigDecimal, d: org.apache.spark.sql.types.DecimalType) =>
            val dec = org.apache.spark.sql.types.Decimal(bd)
            if (!dec.changePrecision(d.precision, d.scale))
              throw new IllegalStateException(s"decimal stat $bd exceeds $d")
            dec
          case _ => v
        }
        if (internal != null) org.apache.spark.sql.catalyst.expressions.Literal(internal, dt)
        internal
      }
      def rowsOf(s: graft.fs.FileStats): Long = s.rowCount.getOrElse(0L)
      // (min, max) per file with a value; a partition-valued field's
      // path value is every row's value, so an empty file has none.
      // String bounds fold and answer as UTF8String (pathInternal), whose
      // byte-wise comparison IS Spark's string order (java
      // String.compareTo diverges on supplementary chars).
      def extremes(files: Seq[(String, graft.fs.FileStats)], c: String): Seq[(Any, Any)] =
        if (partitionValuedMinMax(c))
          files.collect { case (p, s) if rowsOf(s) > 0 =>
            val v = pathInternal(partVals(p)(c)); (v, v)
          }
        else files.flatMap { case (_, s) =>
          s.column(c).filterNot(_.allNull).flatMap(_.range)
            .map { case (mn, mx) => (pathInternal(mn), pathInternal(mx)) }
        }
      def foldValues(files: Seq[(String, graft.fs.FileStats)]): Seq[Any] = specs.map {
        case CountStarSpec => files.map(f => rowsOf(f._2)).sum
        case CountSpec(f) if partitionValuedCount(f.name) => files.map(f => rowsOf(f._2)).sum
        case CountSpec(f) =>
          files.map { case (_, s) => rowsOf(s) - s.column(f.name).flatMap(_.nullCount).get }.sum
        case MinSpec(f) => toInternal(fold(extremes(files, f.name).map(_._1), min = true), f.dataType)
        case MaxSpec(f) => toInternal(fold(extremes(files, f.name).map(_._2), min = false), f.dataType)
      }
      /** One group's aggregate values from one stats tier; None on any
        * coverage gap.
        */
      def values(
          files: Vector[(String, graft.fs.BaseFile)],
          tier: graft.fs.BaseFile => Option[graft.fs.FileStats]): Option[Seq[Any]] = {
        val got = files.map { case (p, bf) => tier(bf).filter(answers).map(p -> _) }
        if (got.forall(_.isDefined)) scala.util.Try(foldValues(got.flatten)).toOption else None
      }

      val aggFields = specs.zipWithIndex.map {
        case (CountStarSpec, i) =>
          StructField(s"agg_$i", org.apache.spark.sql.types.LongType, nullable = false)
        case (CountSpec(_), i) =>
          StructField(s"agg_$i", org.apache.spark.sql.types.LongType, nullable = false)
        case (MinSpec(f), i) => StructField(s"agg_$i", f.dataType, nullable = true)
        case (MaxSpec(f), i) => StructField(s"agg_$i", f.dataType, nullable = true)
      }

      // a global aggregate is one group keyed by no field
      val (groupSchema, groups): (Seq[StructField],
          Seq[(Seq[Any], Vector[(String, graft.fs.BaseFile)])]) =
        if (groupBy.isEmpty)
          (Nil, Seq(Nil -> slices.flatMap(sl => sl.baseFile.map(sl.partitionPath -> _))))
        else {
          // one row per distinct tuple of the grouped partition fields'
          // PARSED path values (grouping on a subset of a multi-field
          // partitioning merges the matching partitions' files); any
          // unparseable path or missing field rejects the whole plan.
          // Path values must equal COLUMN values for the rows to be
          // correct as final answers: a timestamp-keygen table's paths are
          // a FORMATTED rendering of the source column (date buckets, not
          // values), and the hive default-partition sentinel stands in for
          // NULL — both reject the pushdown.
          if (graft.fs.TimestampKeyGen.fromConfig(hudi.config).isDefined) return None
          val parsed: Vector[(Seq[Any], graft.fs.FileSlice)] = slices.map { sl =>
            val vals = pruner.parseSegments(sl.partitionPath).getOrElse(return None)
            (groupBy.map { g =>
              val v = vals.getOrElse(g, return None)
              // null-partition sentinels are NOT column values: hive-style
              // writes __HIVE_DEFAULT_PARTITION__, non-hive writes the
              // PartitionPathEncodeUtils DEFAULT_PARTITION_PATH "default"
              // (and older writers an empty segment) for null/empty values
              // — serving any of them, or the v4+ ambiguous 'default', as
              // a group literal under complete pushdown would be a
              // silently wrong final answer
              if (GraftScanBuilder.isUntrustedPathValue(v, hudi.config)) return None
              v
            }, sl)
          }
          (groupBy.map(g => hudi.tableSchema.fields.find(_.name == g).getOrElse(return None)),
            parsed.groupBy(_._1).toSeq.map { case (k, g) =>
              (k, g.map(_._2).flatMap(sl => sl.baseFile.map(sl.partitionPath -> _)))
            })
        }

      // Index tier first: a group the ONE MDT column_stats read answers
      // opens no footer. Footers serve the rest, batched into ONE
      // parallel sweep across every uncovered group — per-group sweeps
      // would serialize object-store round-trips by partition count at
      // pushdown time.
      val index = hudi.columnStats
      val fromIndex = groups.map { case (k, fs) => k -> values(fs, bf => index.get(bf.fileName)) }.toMap
      val uncovered = groups.filter { case (k, _) => fromIndex(k).isEmpty }
      if (stringNeeded.nonEmpty && uncovered.nonEmpty) return None
      val footers: Map[String, graft.fs.FileStats] =
        graft.util.Parallel.map(uncovered.flatMap(_._2.map(_._2)), 16) { bf =>
          bf.path -> graft.fs.FileStats.read(bf.path, hudi.hadoopConf, statCountCols)
        }.toMap
      val converters = groupSchema.map(f =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(f.dataType))
      val rows = groups.map { case (key, fs) =>
        val vs = fromIndex(key).orElse(values(fs, bf => footers.get(bf.path))).getOrElse(return None)
        // partition paths encode dates as LocalDate, which the converter
        // for DateType accepts directly
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          key.zip(converters).map { case (v, conv) => conv(v) } ++ vs)
      }
      // complete-pushdown row contract: group columns first, then the
      // aggregate columns, one row per group
      Some(new GraftFooterAggScan(
        StructType(groupSchema.map(f => f.copy(nullable = true)) ++ aggFields), rows.toArray))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def fold(vs: Seq[Any], min: Boolean): Any =
    if (vs.isEmpty) null // every file all-null -> SQL MIN/MAX = NULL
    else vs.reduce { (a, b) =>
      val c = a.asInstanceOf[Comparable[Any]].compareTo(b)
      if ((min && c <= 0) || (!min && c >= 0)) a else b
    }
}

object GraftScan {
  /** Secondary-index planning caps: more IN-values than this means the
    * predicate isn't a point lookup; more matched keys than this and the
    * driver-side key set (plus its record-index probe) stops being
    * planning-sized — both fall back to the full plan. Overridable via
    * sys.props for the regime-differential tests (the fallback branch
    * must produce the same rows as the indexed branch).
    */
  def SecondaryIndexMaxValues: Int =
    sys.props.get("graft.secondary.index.max.values").flatMap(_.toIntOption).getOrElse(32)
  def SecondaryIndexMaxKeys: Int =
    sys.props.get("graft.secondary.index.max.keys").flatMap(_.toIntOption).getOrElse(100000)

  /** Types the columnar-merge OVERLAY writer can materialize into
    * on-heap vectors — must match GraftColumnarMergeReader.writeValue's
    * cases exactly. Spark's own supportBatch is WIDER (the nested-column
    * vectorized reader reads arrays/structs/maps), so merge eligibility
    * checks this list too and nested-schema merges keep the row path.
    */
  def overlayWritable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType | ByteType | ShortType | IntegerType | DateType |
          LongType | TimestampType | TimestampNTZType |
          FloatType | DoubleType | StringType | BinaryType => true
      case _: DecimalType | _: YearMonthIntervalType | _: DayTimeIntervalType => true
      case _ => false
    }
  }

  /** Secondary-index planning covers exactly the types
    * [[graft.table.SecondaryIndex.renderLiteral]] canonicalizes
    * (string, integrals always; date, decimal, double, timestamp
    * behind per-index rendering detection): the index key is the
    * writer's string rendering of the indexed value, and a rendering
    * mismatch returns an EMPTY plan — not fail-open — so the detected
    * types require the index's OWN rendering DETECTED from sampled
    * entries first (ISO vs epoch-day dates, the decimal scale,
    * witness-backed Java-canonical doubles, magnitude-unambiguous
    * epoch-micros timestamps; SecondaryIndex.detect*) — undetectable
    * fails open. Floats/booleans stay on the full plan (no sound
    * detection scheme).
    */
  def secondaryIndexEligible(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | IntegerType | LongType | ShortType | ByteType | DateType => true
      case _: DecimalType => true
      // r12: doubles and timestamps qualify via per-index rendering
      // detection (witness-backed Java-canonical / magnitude-unambiguous
      // epoch-micros — SecondaryIndex.classify{Double,Timestamp}Keys);
      // an undetectable rendering drops the tier, never the rows.
      // r14: float32 joins via the two-axis witness scheme (float-
      // precision vs double-widened value families, then the double
      // format families — SecondaryIndex.classifyFloatKeys)
      case DoubleType | TimestampType | FloatType => true
      case _ => false
    }
  }

  /** Types whose RECORD-KEY rendering is unambiguous across writer paths
    * (row-writer `Row.get.toString` and avro `toString` agree): strings
    * are stored verbatim, integrals render as the same decimal digits
    * everywhere. DateType deliberately does NOT qualify — a date-typed
    * key renders `2024-01-31` through the row writer but the raw
    * epoch-day int through an unconverted avro path, and a record-index
    * or bloom probe has no per-index entry sample to detect which (the
    * record index stores keys hashed across file groups; blooms store no
    * keys at all), so a wrong guess would plan EMPTY / prune a matching
    * file. Used by the record-key point tier and the bloom tier;
    * [[secondaryIndexEligible]] stays wider because the secondary-index
    * tier CAN sample its own entries.
    */
  def keyRenderingTrusted(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | IntegerType | LongType | ShortType | ByteType => true
      case _ => false
    }
  }

  /** Bloom-tier planning cap: the tier probes the MDT once per planned
    * base file, so on a very wide plan (100k files and no record index)
    * the driver-side sweep dominates planning latency — above the cap
    * the tier stands down (no bloom pruning, never wrong). Overridable
    * for the regime tests.
    */
  def BloomIndexMaxFiles: Int =
    sys.props.get("graft.bloom.index.max.files").flatMap(_.toIntOption).getOrElse(10000)
}

class GraftScan(
    hudi: HudiTable,
    required: StructType,
    partitionFilters: Seq[PartitionFilter],
    simpleFilters: Seq[PartitionFilter],
    parquetFilters: Array[Filter],
    options: CaseInsensitiveStringMap,
    limit: Option[Int] = None
) extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private val spark = hudi.spark
  private val asOf = Option(options.get("as.of.timestamp"))
    .map(Timestamps.normalize(_, hudi.config.timelineTimezone))
  private val readOptimized = options.getBoolean("read.optimized", false)

  /** Streaming admission control (the maxFilesPerTrigger analog): bound
    * each micro-batch to N commits instead of draining everything in one.
    */
  private[sources] val streamCommitsPerBatch: Option[Int] =
    Option(options.get("stream.commits.per.batch")).map(_.toInt)

  /** Byte-based admission control (the Delta maxBytesPerTrigger analog):
    * bound each micro-batch's PLANNED bytes — the totalSize of the file
    * slices its commit range touches — so one giant commit (a
    * replacecommit rewriting the table, a bulk backfill) cannot glue an
    * unbounded batch together with its neighbors. A single commit larger
    * than the cap still forms its own batch (offsets are commit
    * timestamps; progress is guaranteed); composes with
    * `stream.commits.per.batch`, whichever cuts earlier.
    */
  private[sources] val streamMaxBytesPerBatch: Option[Long] =
    Option(options.get("stream.max.bytes.per.batch")).map(_.toLong)

  /** First-start offset (the Delta startingTimestamp analog): a fresh
    * stream (no checkpoint) begins AFTER this commit instead of replaying
    * the whole table history; restarts keep using the checkpoint.
    */
  private[sources] val streamStartTimestamp: Option[String] =
    Option(options.get("stream.start.timestamp"))
      .map(Timestamps.normalize(_, hudi.config.timelineTimezone))

  /** Surface in-range deletes as tombstone rows (data columns null, meta
    * columns populated) — without this, a delete-only commit yields an
    * EMPTY micro-batch and per-commit streaming consumers never learn
    * the keys died (beyond the reference: its streaming is Unsupported,
    * table/mod.rs:821-824; its incremental read likewise drops deletes).
    * Also honored by `query.type=incremental` batch reads for a CDC-ish
    * changes-with-deletes feed.
    */
  private[sources] val emitDeletes: Boolean = options.getBoolean("stream.emit.deletes", false)

  /** Incremental query (S3 through DSv2): `query.type=incremental` with
    * `start.timestamp` (exclusive) / `end.timestamp` (inclusive, default
    * latest) — the reference's QueryType::Incremental surface
    * (config/read.rs:35-44).
    */
  private val isIncremental =
    Option(options.get("query.type")).exists(_.equalsIgnoreCase("incremental"))
  // upstream's CDC-format selector must not be SILENTLY ignored: a query
  // ported with hoodie.datasource.query.incremental.format=cdc expects
  // (op, ts_ms, before, after) rows, and serving the plain row feed under
  // it would hand different columns with no error (the TVF-keyword trap
  // all over again). The CDC shape cannot ride ANY DSv2 relation (its
  // schema is the table's) — and this check must fire UNCONDITIONALLY,
  // not just under query.type=incremental: a CATALOG-route readStream
  // carries the option straight to this scan builder (the path route
  // never gets here — its table drops MICRO_BATCH_READ and Spark picks
  // the V1 GraftCdcSource), so gating on isIncremental would serve a
  // catalog stream plain rows under a cdc request with no error.
  locally {
    val fmt = Seq("incremental.format", "hoodie.datasource.query.incremental.format")
      .flatMap(k => Option(options.get(k))).headOption
    if (fmt.exists(_.equalsIgnoreCase("cdc")))
      throw new UnsupportedOperationException(
        "incremental.format=cdc: the CDC image schema cannot be served through this " +
          "DSv2 relation (its schema is the table schema); use the " +
          "hudi_table_changes(path, 'cdc', start[, end]) TVF or HudiTable.cdc(...) for " +
          "batch, or spark.readStream.format(\"hudi-graft\").load(path) with the same " +
          "option for the streaming feed (the catalog streaming route cannot fall back " +
          "to the V1 CDC source)")
    fmt.filterNot(_.equalsIgnoreCase("latest_state")).foreach { f =>
      throw new IllegalArgumentException(s"unknown incremental.format '$f'")
    }
  }
  private val startTs = Option(options.get("start.timestamp"))
    .map(Timestamps.normalize(_, hudi.config.timelineTimezone))
  private val endTs = Option(options.get("end.timestamp"))
    .map(Timestamps.normalize(_, hudi.config.timelineTimezone))

  /** Pruner over the pushed partition filters (keygen-transformed) —
    * delegates to the table's single pruner builder.
    */
  private def pruner: PartitionPruner = hudi.prunerFor(partitionFilters)

  /** Exact file-group restriction (`cdc.file.groups`, comma-joined
    * fileIds): the inferred-CDC reader plans each per-commit before/after
    * snapshot over ONLY the commit's touched file groups, so CDC work is
    * proportional to change volume, never table size. Over-inclusion is
    * harmless (an untouched group diffs to nothing); the option therefore
    * restricts, never extends, the plan.
    */
  private val cdcGroups: Option[Set[String]] =
    Option(options.get("cdc.file.groups"))
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSet)

  private lazy val slices: Vector[FileSlice] =
    cdcGroups.fold(slicesUnrestricted)(g => slicesUnrestricted.filter(s => g.contains(s.fileId)))

  /** Planned slices: the driver-side fs-view walk (S5), partition-pruned
    * — incremental too (the reference applies partition pruning, just not
    * stats pruning, to incremental reads; read_options.rs:75-80).
    */
  private lazy val slicesUnrestricted: Vector[FileSlice] = {
    if (isIncremental) {
      val endResolved = endTs.orElse(hudi.timeline.latestCommitTimestamp)
      val planned0 = endResolved
        .map(e => hudi.fsView.slicesBetween(startTs, e, pruner))
        .getOrElse(Vector.empty)
      // Index tiers on incremental plans — "what happened to key K since
      // T", the CDC debugging shape, plans only K's owning file group
      // instead of every in-range group. Sound because an incremental
      // plan's slices ARE per-group latest slices as of the read's END
      // instant, which is exactly the membership the indexes describe:
      // a latest-ended read uses the live indexes (the snapshot branch's
      // trust), a bounded read applies the tiers as of endTs behind the
      // same MDT-sync gate as time travel (a lagging MDT keeps the full
      // plan). The commit-range row filter stays intact either way.
      // emitDeletes vetoes all three tiers: a key DELETED in range has
      // no index entry as of end, so a restriction would plan away the
      // very tombstone the CDC feed exists to surface.
      val planned1 =
        if (planned0.isEmpty || emitDeletes) planned0
        else if (endTs.isEmpty)
          bloomRestricted(indexRestricted(keyRestricted(planned0)))
        else if (endResolved.exists(asOfIndexGate))
          bloomRestricted(indexRestricted(keyRestricted(planned0, endTs), endTs), endTs)
        else planned0
      // R2 applies to incremental plans too: footer/index stats describe
      // IMMUTABLE files, so a data-column predicate that disproves a
      // base file skips it at any commit range (the reference prunes
      // only snapshots, read_options.rs:75-80 — this is strictly more).
      filePruned(planned1)
    } else asOf.orElse(hudi.timeline.latestCommitTimestamp) match {
      case None => Vector.empty
      case Some(ts) =>
        // MDT partition-stats pruning: latest snapshots use the cached
        // latest index; time-travel reads load the index AS OF the
        // resolved instant, applied only when the MDT commit mirrors the
        // data commit exactly (HudiTable.statsPrunerAsOf's gate)
        val planPruner =
          if (asOf.isEmpty) hudi.statsPrunerFor(partitionFilters, simpleFilters)
          else hudi.statsPrunerAsOf(ts, partitionFilters, simpleFilters)
        val planned0 = hudi.fsView.slicesAsOf(ts, planPruner)
        // RO (and COW) strips logs; a base-less log-only slice then has
        // nothing left to read and drops out of the plan
        val planned1 =
          if (readOptimized || !hudi.isMor)
            planned0.map(_.withoutLogs).filter(_.baseFile.isDefined)
          else planned0
        // Index-planning tiers: record-key point planning first (exact
        // file group per key), then secondary-index planning, then the
        // bloom-filter tier. Latest snapshots use the live indexes;
        // as-of reads apply the SAME tiers reading the MDT as of the
        // target instant, gated on the MDT having caught up to the data
        // instant the read resolves to (mdtAt >= dataAt — the C5
        // partition-stats gate); a lagging or unopenable MDT keeps the
        // full plan.
        val planned =
          if (asOf.isEmpty) bloomRestricted(indexRestricted(keyRestricted(planned1)))
          else if (asOfIndexGate(ts))
            bloomRestricted(indexRestricted(keyRestricted(planned1, asOf), asOf), asOf)
          else planned1
        filePruned(planned)
    }
  }

  /** R2: file skipping from index or footer stats — only when every
    * planned slice is base-file-only (log files can resurrect
    * out-of-range values, the reference's safety gate at
    * table/mod.rs:486-491).
    */
  private def filePruned(planned: Vector[FileSlice]): Vector[FileSlice] =
    if (simpleFilters.nonEmpty && planned.forall(s => !s.hasLogFiles && s.baseFile.isDefined))
      new graft.fs.FilePruner(simpleFilters, hudi.tableSchema, hudi.hadoopConf, hudi.columnStats)
        .filterIncluded(planned)(_.baseFile.get).toVector
    else planned

  /** Needle-in-haystack planning from the MDT secondary index: an
    * equality/IN predicate on a secondary-indexed column resolves to
    * record keys (one bounded HFile prefix scan per value), the record
    * index maps those keys to file groups, and the plan keeps ONLY those
    * slices — at 100 TB a point query reads one file group instead of
    * the table. Requires BOTH indexes advertised (the writer maintains
    * them transactionally, the same trust as MDT file listings); any
    * index failure or an over-cap key set falls back to the full plan.
    * The reference enumerates the secondary-index partition
    * (records.rs:122-123) but never reads it.
    */
  /** Whether as-of index planning is sound at `ts`: some index is
    * advertised AND the MDT's newest commit at-or-before `ts` is at
    * least the data instant the read resolves to. Evaluated once per
    * plan (one MDT timeline listing); any failure keeps the full plan.
    */
  private def asOfIndexGate(ts: String): Boolean =
    (graft.table.RecordIndex.isAvailable(hudi.config) ||
      graft.table.BloomFilterIndex.isAvailable(hudi.config)) && {
      try {
        hudi.timeline.instantsAsOf(ts).lastOption.map(_.timestamp).exists { dataAt =>
          graft.table.MetadataTable
            .latestCommitAsOf(hudi.basePath, hudi.hadoopConf, Some(ts))
            .exists(_ >= dataAt)
        }
      } catch { case scala.util.control.NonFatal(_) => false }
    }

  private def indexRestricted(
      planned: Vector[FileSlice],
      tierAsOf: Option[String] = None): Vector[FileSlice] = {
    if (planned.isEmpty || !graft.table.RecordIndex.isAvailable(hudi.config)) return planned
    // Eligible source types are those with an EXACT canonical key
    // rendering (GraftScan.secondaryIndexEligible → SecondaryIndex
    // .renderLiteral): a representation mismatch would return an EMPTY
    // plan — not fail-open — so anything else never reaches the index.
    def fieldType(name: String) = hudi.tableSchema.fields.find(_.name == name).map(_.dataType)
    val candidates = simpleFilters.filter(f =>
      (f.op == "=" || f.op == "in") && f.values.nonEmpty &&
        f.values.size <= GraftScan.SecondaryIndexMaxValues &&
        fieldType(f.field).exists(GraftScan.secondaryIndexEligible))
    // EVERY matching indexed predicate restricts (conjunctive filters =
    // set intersection of the per-predicate file-group sets — strictly
    // tighter than any single index). Per-predicate failures (lookup
    // error, unrenderable literal, over-cap key set) drop only that
    // predicate's restriction, never the others'.
    val perPredicateKeys: List[Seq[String]] = candidates.iterator.flatMap { f =>
      graft.table.SecondaryIndex
        .indexForColumn(hudi.basePath, hudi.config, f.field, hudi.hadoopConf)
        .flatMap { idx =>
          try {
            val dt = fieldType(f.field).get
            // date keys are writer-dependent (ISO vs epoch-day): detect
            // the rendering from the index's own entries; undetectable
            // renders None below and this predicate's restriction drops
            val dateRendering =
              if (dt == org.apache.spark.sql.types.DateType)
                graft.table.SecondaryIndex.detectDateRendering(
                  hudi.basePath, idx, hudi.hadoopConf, tierAsOf)
              else None
            // decimal keys render at the writer's fixed scale — detect
            // it the same way (sample the index's own entries, demand
            // unanimity); undetectable drops this predicate's tier
            val decimalScale =
              if (dt.isInstanceOf[org.apache.spark.sql.types.DecimalType])
                graft.table.SecondaryIndex.detectDecimalScale(
                  hudi.basePath, idx, hudi.hadoopConf, tierAsOf)
              else None
            // double keys: Java-canonical rendering proven by a
            // discriminating witness among the sampled entries (overlap
            // values alone cannot distinguish writer families)
            val doubleRendering =
              if (dt == org.apache.spark.sql.types.DoubleType)
                graft.table.SecondaryIndex.detectDoubleRendering(
                  hudi.basePath, idx, hudi.hadoopConf, tierAsOf)
              else None
            // timestamp keys: epoch-micros only when every sample is
            // magnitude-unambiguous across micros/millis/seconds
            val tsRendering =
              if (dt == org.apache.spark.sql.types.TimestampType)
                graft.table.SecondaryIndex.detectTimestampRendering(
                  hudi.basePath, idx, hudi.hadoopConf, tierAsOf)
              else None
            // float32 keys: value-family witness (float-precision vs
            // double-widened) then format family — r14
            val floatRendering =
              if (dt == org.apache.spark.sql.types.FloatType)
                graft.table.SecondaryIndex.detectFloatRendering(
                  hudi.basePath, idx, hudi.hadoopConf, tierAsOf)
              else None
            val rendered = f.values.indices.map(i =>
              graft.table.SecondaryIndex.renderLiteral(
                dt, f.values(i), f.typed.lift(i), dateRendering, decimalScale,
                doubleRendering, tsRendering, floatRendering))
            if (rendered.exists(_.isEmpty)) None
            else {
              // ±0.0 compare equal under Spark but render differently:
              // a zero probe covers both index spellings (fail-open
              // direction — the union can only widen this predicate's
              // file-group set)
              val vals = rendered.flatten
                .flatMap(graft.table.SecondaryIndex.probeSpellings(dt, _)).distinct
              val byValue = graft.table.SecondaryIndex.lookup(
                hudi.basePath, idx, vals, hudi.hadoopConf, tierAsOf)
              val keys = vals.flatMap(v => byValue.getOrElse(v, Set.empty)).distinct
              if (keys.size > GraftScan.SecondaryIndexMaxKeys) None else Some(keys)
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        }
    }.toList
    if (perPredicateKeys.isEmpty) return planned
    try {
      // ONE record-index probe over the union; per-predicate group sets
      // derive from their own key subsets, then intersect
      val union = perPredicateKeys.flatten.distinct
      val looked = graft.table.RecordIndex.lookup(hudi.basePath, union, hudi.hadoopConf, tierAsOf)
      val restrictions = perPredicateKeys.map { keys =>
        keys.flatMap(k => looked.entries.get(k))
          .groupBy(_.partitionPath).view.mapValues(_.map(_.fileId).toSet).toMap
      }
      planned.filter(sl => restrictions.forall(groups =>
        groups.get(sl.partitionPath).exists(_.contains(sl.fileId))))
    } catch { case scala.util.control.NonFatal(_) => planned }
  }

  /** Record-index POINT planning — the primary use of the record_index
    * partition in Hudi: an equality/IN predicate whose literals ARE
    * record keys resolves directly to the owning file groups, and the
    * plan keeps only those slices (a key lookup at 100 TB reads one file
    * group, logs included, instead of the table). Eligible predicates:
    * the `_hoodie_record_key` meta column always (its value IS the key),
    * and the source key field only when its type has an EXACT canonical
    * rendering (GraftScan.keyRenderingTrusted — string, integrals; point
    * reads on a natural numeric key are the common shape; dates stay on
    * the full plan, their rendering is writer-dependent and the record
    * index has no entry sample to detect it from) — a rendering mismatch
    * would MISS the index and plan an empty result, which is not
    * fail-open. A key absent from the index means the key is not in the
    * table, so zero surviving slices is a correct plan; index errors
    * keep the full plan.
    */
  private def keyRestricted(
      planned: Vector[FileSlice],
      tierAsOf: Option[String] = None): Vector[FileSlice] = {
    if (planned.isEmpty || !graft.table.RecordIndex.isAvailable(hudi.config)) return planned
    val keyFields = hudi.config.recordKeyFields
    // the source-field branch additionally trusts the writer's KEY
    // RENDERING twice over: the keygenerator class must be bare-rendering
    // (ComplexKeyGenerator — Spark-SQL's default writer — renders even a
    // single-field key as `field:value`, so a bare-value probe would miss
    // the index and return a wrong empty plan), and the field's type must
    // render unambiguously WITHOUT an entry sample (keyRenderingTrusted:
    // strings/integrals only — unlike the secondary-index tier, the
    // record index stores keys hash-sharded and blooms store none, so
    // the detection that unlocks dates/decimals/doubles/timestamps
    // there has nothing to sample here). The
    // `_hoodie_record_key` branch needs no gate: its literal IS the
    // stored key, whatever generator produced it.
    def fieldType(name: String) = hudi.tableSchema.fields.find(_.name == name).map(_.dataType)
    val sourceKeyEligible = keyFields.size == 1 && hudi.config.bareKeyRendering &&
      fieldType(keyFields.head).exists(GraftScan.keyRenderingTrusted)
    val eligible: Set[String] = Set(graft.core.MetaField.RecordKey) ++
      (if (sourceKeyEligible) keyFields.toSet else Set.empty[String])
    val cand = simpleFilters.find(f => eligible.contains(f.field) &&
      (f.op == "=" || f.op == "in") && f.values.nonEmpty &&
      f.values.size <= GraftScan.SecondaryIndexMaxValues)
    cand match {
      case None => planned
      case Some(f) =>
        try {
          val probeKeys: Seq[String] =
            if (f.field == graft.core.MetaField.RecordKey) f.values
            else {
              val dt = fieldType(f.field).get
              val rendered = f.values.indices.map(i =>
                graft.table.SecondaryIndex.renderLiteral(dt, f.values(i), f.typed.lift(i)))
              if (rendered.exists(_.isEmpty)) return planned
              rendered.flatten
            }
          val looked = graft.table.RecordIndex.lookup(
            hudi.basePath, probeKeys, hudi.hadoopConf, tierAsOf)
          val groups = looked.entries.values.groupBy(_.partitionPath)
            .view.mapValues(_.map(_.fileId).toSet).toMap
          planned.filter(sl =>
            groups.get(sl.partitionPath).exists(_.contains(sl.fileId)))
        } catch { case scala.util.control.NonFatal(_) => planned }
    }
  }

  /** MDT bloom_filters tier (reference records.rs:115-116 — enumerated,
    * decoded by neither side): a record-KEY equality/IN predicate probes
    * each planned base file's bloom and drops files whose blooms prove
    * the keys DEFINITELY absent. This is the skipping tier range stats
    * cannot provide — on hash/modulo-distributed keys every file's
    * [min,max] spans the table, and on tables without a record index the
    * bloom is the only per-file key pruner. Gates, all fail-open:
    * literal rendering is trusted only for string/integral key columns
    * (String.valueOf matches the writer's SimpleKeyGenerator rendering);
    * log-carrying slices never prune (logs can add keys the base bloom
    * has not seen); a missing or undecodable bloom keeps its file; any
    * index error keeps the whole plan.
    */
  private def bloomRestricted(
      planned: Vector[FileSlice],
      tierAsOf: Option[String] = None): Vector[FileSlice] = {
    if (planned.isEmpty || !graft.table.BloomFilterIndex.isAvailable(hudi.config))
      return planned
    val keyFields = hudi.config.recordKeyFields
    // Eligible probe predicates: the `_hoodie_record_key` meta column
    // always (its literal IS the stored key, whatever generator wrote
    // it), and the single source key field behind the same two trust
    // gates as the record-index branch — blooms hash the WRITER's key
    // rendering, so a ComplexKeyGenerator `field:value` key probed with
    // the bare value gets a false "definitely absent" (silent row loss),
    // and only exactly-rendering types qualify.
    val sourceEligible = keyFields.size == 1 && hudi.config.bareKeyRendering &&
      hudi.tableSchema.fields.exists(tf =>
        tf.name == keyFields.head && GraftScan.keyRenderingTrusted(tf.dataType))
    val cand = simpleFilters.find(f =>
      (f.field == graft.core.MetaField.RecordKey ||
        (sourceEligible && f.field == keyFields.head)) &&
      (f.op == "=" || f.op == "in") && f.values.nonEmpty &&
      f.values.size <= GraftScan.SecondaryIndexMaxValues)
    cand match {
      case None => planned
      case Some(f) =>
        try {
          val targets = planned.filter(sl => !sl.hasLogFiles && sl.baseFile.isDefined)
            .map(sl => (sl.partitionPath, sl.baseFile.get.fileName))
          // planning-latency cap: one MDT probe per planned base file is
          // fine at thousands, not at 100k — above the cap the tier
          // stands down (fail-open) rather than serializing a driver
          // sweep proportional to plan width
          if (targets.size > GraftScan.BloomIndexMaxFiles) return planned
          val blooms = graft.table.BloomFilterIndex.lookup(
            hudi.basePath, targets, hudi.hadoopConf, tierAsOf)
          planned.filter { sl =>
            if (sl.hasLogFiles || sl.baseFile.isEmpty) true
            else blooms.get((sl.partitionPath, sl.baseFile.get.fileName)) match {
              case Some(bloom) =>
                f.values.exists(v => graft.table.BloomFilterIndex.mightContain(bloom, v))
              case None => true
            }
          }
        } catch { case scala.util.control.NonFatal(_) => planned }
    }
  }

  private def morMergeNeeded: Boolean = slices.exists(_.hasLogFiles)

  /** Columnar incremental gate: a batch incremental read can use the
    * vectorized columnar path when parquet footer stats PROVE every
    * planned base file's rows lie inside `(start, end]` — then the exact
    * commit-range row filter is a no-op and dropping down to the row
    * reader would only cost throughput. Typical for append-mostly tables,
    * where in-range commits wrote fresh files; any rewritten file carrying
    * pre-range rows fails the proof and keeps the row path. Fail-closed
    * (and meaningless without populated meta fields).
    */
  private lazy val incrementalContained: Boolean =
    isIncremental && !morMergeNeeded && hudi.config.populatesMetaFields &&
      endTs.orElse(hudi.timeline.latestCommitTimestamp).exists { e =>
        slices.forall(_.baseFile.isDefined) && graft.fs.CommitRangeStats.fullyContained(
          slices.flatMap(_.baseFile), startTs, e, hudi.hadoopConf)
      }

  /** Runtime (dynamic) partition pruning: Spark hands over join-key
    * filters materialized at execution time — e.g. the partition values
    * surviving a filtered dimension join — and the scan drops whole
    * partitions before tasks launch. At scale this is the difference
    * between scanning a fact table and scanning one day of it.
    */
  private var runtimeFiltered: Option[Vector[FileSlice]] = None

  // only attributes present in the scan OUTPUT: Spark's DPP rule
  // (PartitionPruning.getFilterableTableScan) resolves these against the
  // relation output and THROWS on a miss — advertising a pruned-away
  // partition column crashed any non-broadcast join against a projection
  // that dropped it (surfaced by SpjSpec's fail-closed test). A DPP
  // filter on a column absent from the join output can't exist anyway.
  override def filterAttributes(): Array[NamedReference] =
    hudi.config.partitionFields.filter(required.fieldNames.contains(_))
      .map(Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = {
    val partFields = hudi.config.partitionFields.toSet
    val simple = filters.flatMap {
      case sources.EqualTo(a, v) if partFields.contains(a) =>
        Some(PartitionFilter(a, "=", Seq(String.valueOf(v))))
      case sources.In(a, vs) if partFields.contains(a) && vs.nonEmpty =>
        Some(PartitionFilter(a, "in", vs.toSeq.map(String.valueOf)))
      case _ => None
    }.toSeq
    if (simple.nonEmpty) {
      val p = hudi.prunerFor(simple)
      runtimeFiltered = Some(slices.filter(s => p.shouldInclude(s.partitionPath)))
    }
  }

  override def readSchema(): StructType = required

  /** Plan-readability: `explain` shows what the scan planned. */
  override def description(): String = {
    val mode =
      if (isIncremental) s"incremental(${startTs.getOrElse("-inf")}, ${endTs.getOrElse("latest")}]"
      else if (readOptimized) "read-optimized"
      else asOf.map(ts => s"time-travel@$ts").getOrElse("snapshot")
    val merge =
      if (morMergeNeeded) "merge-on-read"
      else if (isIncremental && incrementalContained) "base-only, stats-contained"
      // reader choice (vectorized vs row) is decided later by
      // ParquetFileFormat.supportBatch over the widened schema — the
      // description must not claim columnar for schemas that fall back
      else if (isIncremental && hudi.config.populatesMetaFields) "base-only, range-filtered"
      else "base-only"
    val pushed = if (parquetFilters.isEmpty) "" else
      s", PushedFilters: [${parquetFilters.mkString(", ")}]"
    val lim = limit.map(l => s", PushedLimit: $l").getOrElse("")
    s"hudi-graft $mode ($merge, ${slices.size} slices$pushed$lim)"
  }

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(this, hudi)

  /** Chunk slices into ~`input.partitions` tasks (table/mod.rs:69-86
    * `split_into_chunks`; option per config/read.rs InputPartitions,
    * default = cluster default parallelism): a 100k-small-slice table must
    * not make 100k tasks. Greedy size-balanced binning — largest slice to
    * the least-loaded bin — keeps task skew bounded.
    */
  private def chunked: Vector[Seq[FileSlice]] = {
    val effective = runtimeFiltered.getOrElse(slices)
    val target = Option(options.get("input.partitions")).flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(math.max(spark.sparkContext.defaultParallelism, 1))
    if (effective.size <= target) effective.map(Seq(_))
    else {
      val bins = Vector.fill(target)(scala.collection.mutable.ArrayBuffer.empty[FileSlice])
      val loads = Array.fill(target)(0L)
      for (s <- effective.sortBy(sl => -sl.totalSize)) {
        val i = loads.indices.minBy(loads)
        bins(i) += s
        loads(i) += s.totalSize
      }
      bins.filter(_.nonEmpty).map(_.toSeq)
    }
  }

  // ---- storage-partitioned joins (SPJ) ------------------------------------
  // When the user opts in, report the table's honest layout — rows are
  // clustered by partition value, one directory per value — as
  // `KeyGroupedPartitioning` over identity transforms, and plan ONE
  // input partition per partition value carrying its typed key
  // (`HasPartitionKey`). Two Hudi tables partitioned on the join keys
  // then sort-merge/hash join with ZERO shuffle on either side — at
  // 100 TB the difference between a network-bound join and a local one.
  //
  // Opt-in is SOURCE-level (`preserve.data.grouping` read option or the
  // `spark.sql.graft.planning.preserveDataGrouping` session conf, both
  // default false — the Iceberg convention), because key grouping costs
  // plain scans their parallelism (one task per partition value); only
  // a partition-key join should pay that. Spark's own gate,
  // `spark.sql.sources.v2.bucketing.enabled`, is default-TRUE in Spark
  // 4 and is honored through its ConfigEntry (a raw getConfString with
  // a "false" fallback would silently ignore the entry default).
  //
  // Fail-closed: any unparseable path, a timestamp keygen (paths are
  // formatted renderings, not values), or a partition column pruned out
  // of the output drops back to UnknownPartitioning + size-balanced
  // chunking, never a wrong grouping. Non-string sentinel paths group
  // under a NULL key — the same reading SHOW PARTITIONS gives; string
  // sentinels fail closed (spjGroupsFor). Groups emit SIZE-BOUNDED
  // key-carrying splits (r12), so Spark's partially-clustered
  // distribution can keep a hot partition's chunks as parallel tasks
  // instead of the old one-task-per-partition-value ceiling.

  private lazy val spjEnabled: Boolean = {
    val sourceOptIn = options.getBoolean("preserve.data.grouping", false) ||
      scala.util.Try(spark.sessionState.conf
        .getConfString("spark.sql.graft.planning.preserveDataGrouping", "false")
        .toBoolean).getOrElse(false)
    val sparkGate = scala.util.Try(spark.sessionState.conf
      .getConf(org.apache.spark.sql.internal.SQLConf.V2_BUCKETING_ENABLED))
      .getOrElse(false)
    sourceOptIn && sparkGate &&
      hudi.config.partitionFields.nonEmpty &&
      graft.fs.TimestampKeyGen.fromConfig(hudi.config).isEmpty &&
      hudi.config.partitionFields.forall(f => required.fieldNames.contains(f))
  }

  /** Group `ss` by PARSED partition key (not raw path — url-encoding can
    * alias two spellings of one value); None iff any path fails the
    * strict parse. Deterministic group order for stable plan rendering.
    */
  private def spjGroupsFor(ss: Vector[FileSlice])
      : Option[Vector[(org.apache.spark.sql.catalyst.InternalRow, Seq[FileSlice])]] = {
    val pf = StructType(hudi.config.partitionFields.flatMap(f =>
      hudi.tableSchema.fields.find(_.name == f)))
    if (pf.length != hudi.config.partitionFields.length) return None
    val pruner = hudi.prunerFor(Nil)
    val cfg = hudi.config
    val converters = pf.fields.map(f =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val keyed: Vector[Option[(Seq[Any], FileSlice)]] = ss.map { sl =>
      pruner.parseSegmentsSentinelRaw(sl.partitionPath,
          s => GraftScanBuilder.isPartitionNullSentinel(s, cfg)).flatMap { vals =>
        // Per-field key extraction, where None poisons the WHOLE grouping
        // (fail closed to UnknownPartitioning). For a STRING-typed
        // partition field a sentinel or 'default'/empty directory is
        // ambiguous ACROSS table versions — pre-v4 writers put literal
        // 'default'/'' values under the sentinel dir (keyed NULL here)
        // while v4+ writes literal 'default' as a bare dir (keyed by
        // value), so a key-grouped join between mixed-version tables
        // could place rows with EQUAL join-key values under different
        // partition keys and silently miss matches. Non-string fields
        // keep the NULL reading: no integral/date value ever renders as
        // the sentinel, so it is unambiguous (the same caution
        // isExactPartitionNullPredicate applies).
        val fields: Seq[Option[Option[Any]]] = pf.fields.toSeq.map { f =>
          vals.get(f.name) match {
            case Some(v: String) if GraftScanBuilder.isPartitionNullSentinel(v, cfg) =>
              if (f.dataType == org.apache.spark.sql.types.StringType) None
              else Some(None) // unambiguous NULL partition
            // version-gated: the same classifier the null-predicate and
            // path-as-value gates use (v4+ bare 'default' may be legacy
            // null rows or a genuine value) — ONE source of truth, so
            // the SPJ rule cannot drift from IS NULL pruning's
            case Some(v: String) if f.dataType == org.apache.spark.sql.types.StringType &&
                GraftScanBuilder.isUntrustedPathValue(v, cfg) => None
            case Some(v) => Some(Some(v))
            case None => Some(None)
          }
        }
        if (fields.exists(_.isEmpty)) None
        else Some((fields.map(_.get.orNull): Seq[Any], sl))
      }
    }
    if (keyed.exists(_.isEmpty)) None
    else Some(keyed.flatten.groupBy(_._1).toVector
      .sortBy(_._1.map(String.valueOf).mkString("\u0000"))
      .map { case (k, slis) =>
        val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          k.zip(converters.toSeq).map { case (v, c) => if (v == null) null else c(v) })
        (row, slis.map(_._2): Seq[FileSlice])
      })
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val groups = if (spjEnabled) spjGroupsFor(slices) else None
    groups match {
      case Some(gs) if gs.nonEmpty =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          hudi.config.partitionFields.map(f =>
            org.apache.spark.sql.connector.expressions.Expressions.identity(f)).toArray,
          gs.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val spj =
      if (spjEnabled) spjGroupsFor(runtimeFiltered.getOrElse(slices)) else None
    val bounds: (Option[String], Option[String]) =
      if (isIncremental && !incrementalContained)
        (startTs, endTs.orElse(hudi.timeline.latestCommitTimestamp))
      else
        // stats-contained incremental: the containment proof makes the
        // per-row commit filter vacuous, so no bounds ride along — which
        // also keeps a row-reader fallback (supportBatch=false: nested
        // schema, vectorization disabled) from dereferencing the
        // _hoodie_commit_time column the contained widened schema omits
        (None, None)
    spj match {
      case Some(gs) =>
        // One input split PER SIZE-BOUNDED CHUNK of a group, each
        // carrying the group's key — not one monolithic split per
        // partition value. Spark's own grouping merges same-key splits
        // when it needs strict key grouping, and keeps them separate
        // under `spark.sql.sources.v2.bucketing.partiallyClustered
        // Distribution.enabled`, where the skewed side's chunks stay
        // parallel tasks and the other side's groups replicate — the
        // answer to the one-task-per-hot-partition ceiling that was
        // r11's documented SPJ tradeoff. Default chunk target 128 MiB
        // (a task-sized unit at 100 TB); `spj.split.target.bytes`
        // overrides (tests force tiny chunks).
        val target = Option(options.get("spj.split.target.bytes"))
          .flatMap(_.toLongOption).filter(_ > 0).getOrElse(128L << 20)
        gs.flatMap { case (row, ss) =>
          val chunks = Vector.newBuilder[Vector[FileSlice]]
          var cur = Vector.newBuilder[FileSlice]
          var curBytes = 0L
          var curN = 0
          for (sl <- ss) {
            if (curN > 0 && curBytes + sl.totalSize > target) {
              chunks += cur.result(); cur = Vector.newBuilder[FileSlice]
              curBytes = 0L; curN = 0
            }
            cur += sl; curBytes += sl.totalSize; curN += 1
          }
          if (curN > 0) chunks += cur.result()
          chunks.result().map(chunk =>
            GraftInputPartition(chunk, bounds._1, bounds._2, Some(row)): InputPartition)
        }.toArray
      case None =>
        chunked.map(ss =>
          GraftInputPartition(ss, bounds._1, bounds._2): InputPartition).toArray
    }
  }

  /** Factory shared by batch and streaming; `withCommitCol` forces the
    * commit-time column into the widened schema (streaming micro-batches
    * filter rows by commit range even on COW base files).
    */
  private[sources] def readerFactory(
      withCommitCol: Boolean, batchIncremental: Boolean = false): PartitionReaderFactory = {
    // D3 routing (the Spark analog of crates/datafusion/src/lib.rs:399-417):
    // log-free batch scans — COW, MOR read-optimized, or MOR whose planned
    // slices carry no logs — are eligible for Spark's vectorized columnar
    // parquet reader; merged MOR slices stay on the row-based path. Batch
    // incremental reads on log-free slices stay columnar in the GENERAL
    // case: the commit range is pushed as a parquet predicate (row-group/
    // page skipping) and the exact per-row residual is applied in batch-
    // land via a zero-copy selection view (SelectedColumnVector) — when
    // footer stats prove the range contains every row (incrementalContained)
    // even the residual disappears. Streaming micro-batches keep the row
    // path (per-partition ranges differ from the scan-level range). Batch
    // input partitions are exactly `slices`, so `!morMergeNeeded` proves
    // no partition needs the merge machinery.
    val rangeFilterNeeded = batchIncremental && !incrementalContained &&
      hudi.config.populatesMetaFields && !morMergeNeeded
    // S7: Lance base files read through graft.lance.LanceFormat.
    // Log-free Lance scans go COLUMNAR too (r12): LanceFormat.batches
    // slices the decoded columns into on-heap ColumnarBatches, the
    // vectorized-parquet analog (gated below on batch-buildable types,
    // no partition-append, and no range residual — those shapes keep
    // the proven row path). The columnar MERGE overlay and
    // parquet-footer probes (widen, pushed filters) still stand down.
    val isLance = hudi.isLance
    // the session vectorization switch doubles as the Lance columnar
    // kill-switch (parquet consults it inside supportBatch): disabling it
    // forces the proven row path, which is what the row-vs-columnar
    // differential sweeps rely on
    val vecEnabled = spark.sessionState.conf.parquetVectorizedReaderEnabled
    val lanceColumnarCandidate = isLance && vecEnabled && !morMergeNeeded &&
      (!withCommitCol || incrementalContained)
    val candidateColumnar =
      ((!withCommitCol || incrementalContained || rangeFilterNeeded) &&
        !morMergeNeeded && !isLance) || lanceColumnarCandidate

    // MOR merge needs the record key / ordering / seqno / commit columns
    // even when the query prunes them away: widen, merge, project back
    // (the reference's widen+project contract, reader.rs:430-487).
    val orderingField = hudi.config.orderingFields.headOption
    val mergeCols = {
      val forMerge =
        if (hudi.isMor && !readOptimized && !candidateColumnar)
          Seq(MetaField.RecordKey, MetaField.CommitSeqno, MetaField.CommitTime,
            MetaField.PartitionPath) ++ orderingField
        else Nil
      // contained columnar reads need no commit column (the stats proof
      // made the filter vacuous); range-filtered columnar reads DO — the
      // selection view evaluates it per batch
      val forStream =
        if (withCommitCol && (!candidateColumnar || rangeFilterNeeded)) Seq(MetaField.CommitTime)
        else Nil
      (forMerge ++ forStream).distinct
    }
    val widened = StructType(required.fields ++
      mergeCols.filterNot(c => required.fieldNames.contains(c)).flatMap(c =>
        hudi.tableSchema.fields.find(_.name == c)))

    // P6: partition fields dropped from the files travel through the
    // delegate's partitionSchema/partitionValues mechanism (the parquet
    // reader appends them AFTER the required columns — the effective
    // widened schema reflects that order)
    val dropped = hudi.droppedPartitionFields.filter(widened.fieldNames.contains)
    val partitionSchema = StructType(dropped.flatMap(f => hudi.tableSchema.fields.find(_.name == f)))
    val delegateRequired = StructType(widened.fields.filterNot(f => dropped.contains(f.name)))
    val widenedEffective = StructType(delegateRequired.fields ++ partitionSchema.fields)
    val dataSchema = StructType(
      hudi.tableSchema.fields.filterNot(f => hudi.droppedPartitionFields.contains(f.name)))

    // Per-file long→string widening for numeric-timestamp-keygen tables
    // (HudiTable.longWidenFields scaladoc): int64-physical files read
    // under a LONG-typed override and render decimal strings — the exact
    // string form the table's own string-physical files store. Probed
    // per planned base file (gated tables only); forces the row path.
    val widenCand = hudi.longWidenFields.filter(delegateRequired.fieldNames.contains)
    val widenPaths: Set[String] =
      if (widenCand.isEmpty || isLance) Set.empty // widen probe reads parquet footers
      else hudi.longWidenPaths(slices.flatMap(_.baseFile.map(_.path)))
        .map(p => org.apache.spark.paths.SparkPath.fromPathString(p).toString)

    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    // Lance vectorization gates on OUR batch builder's type coverage
    // (lists stay row-path) and on no partition-value append (the parquet
    // delegate's constant-vector machinery isn't reproduced — rare shape,
    // row path carries it).
    val lanceColumnar = lanceColumnarCandidate && partitionSchema.isEmpty &&
      widenedEffective.fields.forall(f => graft.lance.LanceFormat.vectorizable(f.dataType))
    val columnar =
      if (isLance) lanceColumnar
      else candidateColumnar && widenPaths.isEmpty && fmt.supportBatch(spark, widenedEffective)
    // COLUMNAR MOR merge (D3 upgrade, r12): a scan that needs the merge
    // no longer de-vectorizes the whole read — the base file keeps
    // Spark's vectorized parquet reader and each batch is
    // merge-SELECTED against the slice's log maps (zero-copy selection
    // view for survivors, small on-heap overlay batches for log winners
    // and inserts — GraftColumnarMergeReader). At 100 TB MOR the base
    // files are ~all the bytes, so keeping them columnar is the
    // dominant throughput lever (the reference merges in Arrow for the
    // same reason, record_merger.rs:104-186). Covers snapshots AND the
    // commit-ranged shapes (batch incremental, streaming micro-batches,
    // emit-deletes tombstones): the (start, end] filter applies
    // POST-merge inside the reader — SliceMergeState.rangeOk, the exact
    // rule the row path's commitRangeFilter applies — and tombstones
    // ride the overlay. Fail closed to the proven row merge for
    // OVERWRITE-less strategies, meta-field-less tables (the range
    // filter and merge both need meta columns), and per-file type
    // widening.
    // NOTE: supportBatch alone is NOT a sufficient gate here — Spark 4's
    // nested-column vectorized reader accepts array/struct/map schemas,
    // but the merge OVERLAY writer materializes log rows into on-heap
    // vectors and covers exactly the atomic types; nested-schema MOR
    // merges stay on the row path (caught by the row-vs-columnar
    // differential on the reference's v6 SampleTable fixture).
    // Lance MOR merge goes columnar too (r13): the base rides
    // LanceFormat.batches (the same on-heap ColumnarBatch shape the
    // parquet delegate returns) through the identical
    // GraftColumnarMergeReader machinery — gated on the Lance batch
    // builder's type coverage (lists row-path), no partition append, and
    // the overlay writer's types, mirroring the parquet gates.
    val lanceColumnarMerge = isLance && vecEnabled && morMergeNeeded &&
      hudi.config.recordMergeStrategy != "APPEND_ONLY" &&
      hudi.config.populatesMetaFields && partitionSchema.isEmpty &&
      widenedEffective.fields.forall(f => graft.lance.LanceFormat.vectorizable(f.dataType)) &&
      widenedEffective.fields.forall(f => GraftScan.overlayWritable(f.dataType))
    val columnarMerge = lanceColumnarMerge ||
      (!candidateColumnar && morMergeNeeded && !isLance &&
        hudi.config.recordMergeStrategy != "APPEND_ONLY" &&
        hudi.config.populatesMetaFields && widenPaths.isEmpty &&
        widenedEffective.fields.forall(f => GraftScan.overlayWritable(f.dataType)) &&
        fmt.supportBatch(spark, widenedEffective))
    val vectorized = columnar || columnarMerge
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map(
      "spark.sql.parquet.enableVectorizedReader" -> vectorized.toString))
    val readFn0 = fmt.buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = dataSchema,
      partitionSchema = partitionSchema,
      requiredSchema = delegateRequired,
      // filters must NOT reach the base scan of a merged read: a base row
      // can lose to a log update that matches the predicate. Log-free
      // scans get them for row-group/page skipping — but only filters
      // whose columns survive projection pruning: parquet-mr evaluates
      // predicates on unprojected columns as null and would drop every
      // row (an Exact partition filter prunes its column from `required`)
      filters = (if (hudi.isMor && !readOptimized && !candidateColumnar) Nil
                 else parquetFilters.toIndexedSeq ++ commitRangeFilters(rangeFilterNeeded))
        .filter(_.references.forall(delegateRequired.fieldNames.contains)),
      options = Map("returning_batch" -> vectorized.toString),
      hadoopConf = hadoopConf)

    // S7 dispatch: Lance base files bypass the parquet delegate entirely —
    // LanceFormat range-reads only the requested columns' buffers and the
    // delegate's partition-append contract is reproduced here (partition
    // values from the PartitionedFile, appended AFTER the required
    // columns, exactly the widenedEffective order). Pushed data filters
    // are row-group hints for parquet; Spark re-applies every Inexact
    // residual, so skipping them over Lance loses IO skipping, never rows.
    val lanceFn: org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] =
      if (!isLance) null
      else if (lanceColumnar || lanceColumnarMerge) {
        // vectorized branch: ColumnarBatch iterator behind the same
        // erased signature the parquet delegate uses (GraftColumnarReader
        // and GraftColumnarMergeReader cast it back) —
        // partitionSchema.isEmpty is part of both gates
        val reqJson = delegateRequired.json
        val confSer = new SerializableConf(hudi.hadoopConf)
        pf => {
          val req = org.apache.spark.sql.types.DataType.fromJson(reqJson)
            .asInstanceOf[StructType]
          graft.lance.LanceFormat.batches(pf.filePath.toString, confSer.value, req)
            .asInstanceOf[Iterator[org.apache.spark.sql.catalyst.InternalRow]]
        }
      }
      else {
        val reqJson = delegateRequired.json
        val nPart = partitionSchema.length
        val confSer = new SerializableConf(hudi.hadoopConf)
        pf => {
          val req = org.apache.spark.sql.types.DataType.fromJson(reqJson)
            .asInstanceOf[StructType]
          val base = graft.lance.LanceFormat.rows(
            pf.filePath.toString, confSer.value, req)
          if (nPart == 0) base
          else {
            val width = req.length + nPart
            base.map { r =>
              val vals = new Array[Any](width)
              var i = 0
              while (i < req.length) { vals(i) = r.get(i, req.fields(i).dataType); i += 1 }
              var j = 0
              while (j < nPart) {
                vals(req.length + j) = pf.partitionValues.get(j, partitionSchema.fields(j).dataType)
                j += 1
              }
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
            }
          }
        }
      }

    val readFn: org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] =
      if (isLance) lanceFn
      else if (widenPaths.isEmpty) readFn0
      else {
        val longRequired = StructType(delegateRequired.fields.map(f =>
          if (widenCand.contains(f.name))
            f.copy(dataType = org.apache.spark.sql.types.LongType) else f))
        val longData = StructType(dataSchema.fields.map(f =>
          if (widenCand.contains(f.name))
            f.copy(dataType = org.apache.spark.sql.types.LongType) else f))
        val longFn = fmt.buildReaderWithPartitionValues(
          sparkSession = spark,
          dataSchema = longData,
          partitionSchema = partitionSchema,
          requiredSchema = longRequired,
          // no data filters on the override read: a pushed STRING
          // predicate against a LONG column would mis-skip row groups
          filters = Nil,
          options = Map("returning_batch" -> "false"),
          // a FRESH conf: buildReaderWithPartitionValues writes the
          // requested schema INTO the conf it receives — sharing one
          // would clobber readFn0's schema with the long-typed override
          hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map(
            "spark.sql.parquet.enableVectorizedReader" -> "false")))
        val nFields = widenedEffective.length
        val readTypes: Array[org.apache.spark.sql.types.DataType] =
          widenedEffective.fields.map(_.dataType)
        val widenMask = new Array[Boolean](nFields)
        widenCand.foreach { f =>
          val i = delegateRequired.fieldIndex(f)
          widenMask(i) = true
          readTypes(i) = org.apache.spark.sql.types.LongType
        }
        pf =>
          if (!widenPaths.contains(pf.filePath.toString)) readFn0(pf)
          else longFn(pf).map { r =>
            val vals = new Array[Any](nFields)
            var i = 0
            while (i < nFields) {
              vals(i) =
                if (r.isNullAt(i)) null
                else if (widenMask(i))
                  org.apache.spark.unsafe.types.UTF8String.fromString(
                    java.lang.Long.toString(r.getLong(i)))
                else r.get(i, readTypes(i))
              i += 1
            }
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
          }
      }

    new GraftReaderFactory(
      readFn,
      widenedEffective.json,
      required.json,
      orderingField,
      hudi.config.recordMergeStrategy,
      new SerializableConf(hudi.hadoopConf),
      asOf.orElse(hudi.timeline.latestCommitTimestamp),
      if (partitionSchema.isEmpty) None else Some(partitionSchema.json),
      hudi.config.isHiveStylePartitioning,
      hudi.config.isPartitionPathUrlencoded,
      vectorized,
      hudi.config.populatesMetaFields,
      limit,
      rangeFilterColumnar = columnar && rangeFilterNeeded,
      // tombstones are a CHANGES-feed concept: honored only where a commit
      // range scopes them — streaming micro-batches and batch incremental
      // reads (both are exactly the withCommitCol callers). A snapshot
      // read must ignore the option, or every historically-deleted key
      // would surface as an unbounded null-data row.
      emitDeletes = emitDeletes && withCommitCol,
      mergeColumnar = columnarMerge,
      // version-gated sentinel renderings for P6 value injection
      // (string-typed dropped partition fields must surface NULL for a
      // sentinel dir, never the literal)
      nullSentinels = Seq("__HIVE_DEFAULT_PARTITION__", "", "default")
        .filter(hudi.config.isPartitionNullSentinel))
  }

  /** Commit-range parquet predicates for the general columnar incremental
    * path: `_hoodie_commit_time` is a string column with footer stats, so
    * pushing `(start, end]` skips whole out-of-range row groups/pages of
    * straddling files; the exact residual rides in the reader (row path:
    * commitRangeFilter; columnar path: the SelectedColumnVector view).
    */
  private def commitRangeFilters(enabled: Boolean): Seq[Filter] =
    if (!enabled) Nil
    else startTs.map(sources.GreaterThan(MetaField.CommitTime, _)).toSeq ++
      endTs.orElse(hudi.timeline.latestCommitTimestamp)
        .map(sources.LessThanOrEqual(MetaField.CommitTime, _))

  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory(withCommitCol = isIncremental, batchIncremental = isIncremental)

  /** C2/C3: size from the planned slices; row count extrapolated from ONE
    * sampled parquet footer's rows-per-byte ratio (estimator.rs:30-88) —
    * feeds Spark's join planning (broadcast decisions) without reading
    * every footer.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val (rows, bytes) =
      graft.fs.FileStatsEstimator.estimateRowsBytes(slices, hudi.hadoopConf)
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
    override def numRows(): util.OptionalLong =
      rows.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
  }

  /** Scan observability (see [[ScanMetrics]]): planning counts from the
    * driver, read counters from the partition readers — all rendered on
    * the scan node in the Spark UI's SQL tab.
    */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    ScanMetrics.supported

  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      GraftTaskMetric(ScanMetrics.SlicesPlanned, slices.size.toLong),
      GraftTaskMetric(ScanMetrics.SlicesRuntimeFiltered,
        runtimeFiltered.getOrElse(slices).size.toLong))
}

final case class GraftInputPartition(
    slices: Seq[FileSlice],
    commitStart: Option[String] = None,
    commitEnd: Option[String] = None,
    spjKey: Option[org.apache.spark.sql.catalyst.InternalRow] = None
) extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Non-null ONLY when the scan reported `KeyGroupedPartitioning`
    * (storage-partitioned joins) — Spark consults `partitionKey()` only
    * after seeing that report, and the scan sets the key on every
    * partition whenever it makes it.
    */
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = spjKey.orNull
}

/** Structured Streaming source (S4 re-expressed Spark-natively): offsets
  * are commit timestamps; each micro-batch is an incremental read of the
  * commit range `(start, end]` — file groups touched by in-range commits,
  * log scan bounded to the range, and the commit-time row filter applied
  * in the partition reader. `spark.readStream.format("hudi-graft")`.
  */
class GraftMicroBatchStream(scan: GraftScan, hudi: HudiTable)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private case class CommitOffset(ts: String) extends Offset {
    override def json(): String = ts
  }

  /** Before-everything sentinel (EARLIEST_START_TIMESTAMP analog). */
  private val earliest = "00000000000000000"

  private def freshTable: HudiTable = HudiTable(hudi.spark, hudi.basePath)

  private def timelineLatest: String =
    freshTable.timeline.latestCommitTimestamp.getOrElse(earliest)

  /** Trigger.AvailableNow contract: the drain target is pinned ONCE at
    * query start, so the stream processes exactly the commits visible
    * then and self-terminates — commits landing mid-drain belong to the
    * next run (Spark otherwise logs a fallback to single-batch mode).
    */
  @volatile private var availableNowTarget: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(timelineLatest)

  override def getDefaultReadLimit: ReadLimit =
    CommitAdmission.toReadLimit(scan.streamCommitsPerBatch, scan.streamMaxBytesPerBatch)

  /** Admission-controlled batch end: with `stream.commits.per.batch` set,
    * each micro-batch advances at most N commit timestamps toward the
    * target (the AvailableNow-pinned drain point, or the live timeline
    * tip) — the Kafka maxOffsetsPerTrigger / Delta maxFilesPerTrigger
    * shape, so a stream restarted against a long backlog catches up in
    * bounded batches instead of one giant one.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // one timeline load per micro-batch: the pinned AvailableNow target
    // needs no listing; otherwise the same freshTable serves both the
    // target and the admission-control instant scan
    lazy val t = freshTable
    val target = availableNowTarget.getOrElse(
      t.timeline.latestCommitTimestamp.getOrElse(earliest))
    val s = start.asInstanceOf[CommitOffset].ts
    // Never move the offset backwards: a configured stream.start.timestamp
    // ahead of the timeline tip (or a pinned AvailableNow target behind
    // the checkpoint) would otherwise regress the checkpoint to the tip,
    // later re-admitting commits the user asked to begin after.
    if (target <= s) return start
    val startOpt = if (s == earliest) None else Some(s)
    // honor the ENGINE-PASSED limit, not the configured caps: under
    // Trigger.Once the engine overrides the default with allAvailable()
    // and expects the whole backlog in one batch (KafkaSource's contract)
    val (countCap, byteCap) = CommitAdmission.fromReadLimit(limit)
    CommitOffset(CommitAdmission.boundedEnd(t, startOpt, target, countCap, byteCap))
  }

  override def reportLatestOffset(): Offset = CommitOffset(timelineLatest)

  override def initialOffset(): Offset =
    CommitOffset(scan.streamStartTimestamp.getOrElse(earliest))

  override def latestOffset(): Offset = CommitOffset(timelineLatest)

  override def deserializeOffset(json: String): Offset = CommitOffset(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CommitOffset].ts
    val e = end.asInstanceOf[CommitOffset].ts
    if (e <= s) return Array.empty
    val t = freshTable
    val startOpt = if (s == earliest) None else Some(s)
    // NOTE: no filter-based pruning here — Spark's V2ScanRelationPushDown
    // only applies to batch relations, so a streaming scan never receives
    // pushed filters (verified empirically); Catalyst filters rows above
    // the source instead
    val slices = t.fsView.slicesBetween(startOpt, e)
    lastBatchSlices = slices.size
    slices
      .map(sl => GraftInputPartition(Seq(sl), startOpt, Some(e)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.readerFactory(withCommitCol = true)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  @volatile private var lastBatchSlices: Int = 0

  /** Source-side progress metrics, surfaced per micro-batch under
    * `StreamingQueryProgress.sources[i].metrics` — the operator-facing
    * lag signal (how many completed commits the stream still has to
    * drain) plus the last batch's planned-slice count. One timeline
    * load per progress event, same metadata-bounded cost as
    * `reportLatestOffset`.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    // after a checkpoint restart Spark hands the offset recovered from the
    // offset log as a raw SerializedOffset, not our CommitOffset — match
    // on json() (Kafka's metrics path does the same)
    val consumed = if (latestConsumedOffset.isPresent)
      latestConsumedOffset.get match {
        case c: CommitOffset => c.ts
        case o => o.json()
      }
    else earliest
    val pending = freshTable.timeline.completedInstants
      .iterator.map(_.timestamp).distinct.count(_ > consumed)
    java.util.Map.of(
      "commitsBehind", pending.toString,
      "slicesInLastBatch", lastBatchSlices.toString)
  }
}
