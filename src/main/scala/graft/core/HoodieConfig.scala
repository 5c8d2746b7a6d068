package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Table configuration loaded from `<base>/.hoodie/hoodie.properties`,
  * mirroring the reference's table-config namespace
  * (crates/core/src/config/table.rs:153-177). Read configs
  * (`hoodie.read.*`) are call-scoped and never stored here, matching
  * docs/reader-spec.md:343.
  */
final case class HoodieConfig(props: Map[String, String]) {
  import HoodieConfig._

  def get(key: String): Option[String] = props.get(key)
  def getOrElse(key: String, default: String): String = props.getOrElse(key, default)

  def tableName: String = getOrElse(TableName, "")
  def tableType: String = getOrElse(TableType, "COPY_ON_WRITE")
  def isMor: Boolean = tableType.equalsIgnoreCase("MERGE_ON_READ")
  /** Required key — the reference refuses tables without it (loader.rs). */
  def tableVersion: Int =
    get(TableVersion)
      .getOrElse(throw new IllegalArgumentException(
        s"$TableVersion missing from hoodie.properties — not a valid Hudi table"))
      .toInt
  def timelineTimezone: String = getOrElse(TimelineTimezone, "UTC")

  /** Timeline dir relative to `.hoodie/`. Pre-v8 layouts always use
    * `.hoodie/` directly regardless of any stray `hoodie.timeline.path`
    * key (reference resolves by layout version only, loader.rs:106-112),
    * so the key is honored for v8+ only.
    */
  def timelinePath: String =
    if (tableVersion >= 8) getOrElse(TimelinePath, "timeline") else ""
  def baseFileFormat: String = getOrElse(BaseFileFormat, "PARQUET")

  def partitionFields: Seq[String] =
    get(PartitionFields).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
  def recordKeyFields: Seq[String] =
    get(RecordKeyFields).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Ordering (precombine) fields; reference key with deprecated alias
    * `hoodie.table.precombine.field` (config/table.rs:218).
    */
  def orderingFields: Seq[String] = {
    val raw = get(OrderingFields).orElse(get(PrecombineFieldDeprecated))
    raw.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
  }

  def isHiveStylePartitioning: Boolean =
    getOrElse(IsHiveStylePartitioning, "false").toBoolean
  def isPartitionPathUrlencoded: Boolean =
    getOrElse(IsPartitionPathUrlencoded, "false").toBoolean
  def populatesMetaFields: Boolean =
    getOrElse(PopulatesMetaFields, "true").toBoolean
  def dropsPartitionFields: Boolean =
    getOrElse(DropsPartitionFields, "false").toBoolean

  /** The writer's key-generator class when recorded
    * (`hoodie.table.keygenerator.class`). Decides how single-field record
    * keys RENDER: Simple/Nonpartitioned/Timestamp generators write the
    * bare field value, while ComplexKeyGenerator (what Spark-SQL writes
    * by default) renders `field:value` even for one field — so planners
    * that probe key-valued indexes with a bare source-column literal must
    * gate on this ([[bareKeyRendering]]).
    */
  def keyGeneratorClass: Option[String] = get(KeyGeneratorClass)

  /** Whether a single-field record key is trusted to render as the BARE
    * field value. True when the generator is unset (fixture/minimal
    * tables; Hudi defaults to SimpleKeyGenerator) or one of the
    * known bare-rendering generators. TimestampBased extends Simple in
    * Hudi — only the partition path rendering differs, the key is still
    * the bare value. Anything else (Complex, Custom, GlobalDelete,
    * AutoRecordGen wrappers, user classes) → false: a `field:value`
    * rendering probed with the bare value would MISS the index, and a
    * miss is an answer ("key absent"), not a fail-open. Newer writers may
    * record only `hoodie.table.keygenerator.type` (no `.class`) — a
    * non-bare TYPE (COMPLEX, CUSTOM, ...) must veto trust even when the
    * class key is absent, or a `field:value`-keyed table probes bare and
    * silently loses rows. When BOTH keys are absent the absence is
    * informative only if the writer was new enough to have recorded
    * them: Hudi began persisting the generator in table config around
    * 0.10 (table version 3; gated here at version >= 4, the 0.11 line,
    * to keep a margin over backported writers), so an OLDER table keyed
    * via ComplexKeyGenerator would otherwise be trusted as bare and the
    * key/bloom probe tiers would plan a silently wrong empty result —
    * pre-v4 tables with no recorded generator fail CLOSED (index tiers
    * stand down to the full plan, never wrong).
    */
  def bareKeyRendering: Boolean = {
    // incl. the *_AVRO enum variants (they map to the *AvroKeyGenerator
    // classes the class-name branch below already trusts)
    val bareTypes = Set("SIMPLE", "NON_PARTITION", "TIMESTAMP",
      "SIMPLE_AVRO", "NON_PARTITION_AVRO", "TIMESTAMP_AVRO")
    val typeKey = get("hoodie.table.keygenerator.type")
    if (typeKey.isEmpty && keyGeneratorClass.isEmpty) return tableVersion >= 4
    val typeOk = typeKey match {
      case None => true
      case Some(t) => bareTypes.contains(t.trim.toUpperCase)
    }
    typeOk && (keyGeneratorClass match {
      case None => true
      case Some(c) =>
        val simple = Set(
          "SimpleKeyGenerator", "SimpleAvroKeyGenerator",
          "NonpartitionedKeyGenerator", "NonpartitionedAvroKeyGenerator",
          "TimestampBasedKeyGenerator", "TimestampBasedAvroKeyGenerator")
        simple.contains(c.substring(c.lastIndexOf('.') + 1))
    })
  }

  /** Whether a partition-path segment rendering stands in for a NULL
    * (or, on string columns, empty) value rather than being a value:
    * the hive sentinel and an empty segment always, bare `default` only
    * for pre-0.11 writers (table version < 4 — Hudi 0.11+ renders null
    * partitions as the hive sentinel on EVERY layout, so `default` is
    * an ordinary value there). Shared by pruning, SHOW PARTITIONS, and
    * the aggregate pushdown's path-as-value gates.
    */
  def isPartitionNullSentinel(v: String): Boolean =
    v == "__HIVE_DEFAULT_PARTITION__" || v.isEmpty ||
      (v == "default" && tableVersion < 4)

  /** Bare `default` on a v4+ table is AMBIGUOUS, not a value: the table
    * may have been UPGRADED from a pre-0.11 writer whose null partition
    * rendered as `default`, and old partition dirs are not rewritten on
    * upgrade — so the dir may hold legacy NULL rows, or genuine
    * `'default'` string values written post-upgrade. Soundness gates
    * treat it as maybe-null: null-predicate pruning fails open over it,
    * exact filter consumption keeps the residual, and path-as-value
    * aggregate serving rejects the plan. (Pre-v4 it IS the sentinel —
    * [[isPartitionNullSentinel]] — and this returns false.)
    */
  def isPartitionAmbiguousValue(v: String): Boolean =
    v == "default" && tableVersion >= 4

  /** Whether the writer persists supplemental CDC data
    * (`hoodie.table.cdc.enabled`) — change images in `-cdc` sidecar log
    * files referenced from write stats' `cdcStats`.
    */
  def cdcEnabled: Boolean = getOrElse(CdcEnabled, "false").toBoolean

  /** The metadata-table partitions the table advertises
    * (`hoodie.table.metadata.partitions`, comma-separated).
    */
  lazy val metadataPartitions: Set[String] =
    getOrElse(MetadataPartitions, "").split(",").map(_.trim).filter(_.nonEmpty).toSet

  /** CDC supplemental logging mode (`op_key_only` | `data_before` |
    * `data_before_after`). Only `data_before_after` carries full
    * before/after images; the other modes cannot serve an image feed by
    * themselves, so readers fall back to inference for them. Upstream's
    * table-config default is `op_key_only`.
    */
  def cdcSupplementalLoggingMode: String =
    getOrElse(CdcLoggingMode, "op_key_only").toLowerCase(java.util.Locale.ROOT)

  /** Merge strategy with the reference's defaulting rules
    * (config/table.rs:318-340): APPEND_ONLY when meta fields are not
    * populated or no ordering field, else OVERWRITE_WITH_LATEST.
    */
  def recordMergeStrategy: String =
    get(RecordMergeStrategy).getOrElse {
      if (!populatesMetaFields || orderingFields.isEmpty) "APPEND_ONLY"
      else "OVERWRITE_WITH_LATEST"
    }
}

object HoodieConfig {
  val TableName = "hoodie.table.name"
  val TableType = "hoodie.table.type"
  val TableVersion = "hoodie.table.version"
  val TimelineTimezone = "hoodie.table.timeline.timezone"
  val TimelinePath = "hoodie.timeline.path"
  val BaseFileFormat = "hoodie.table.base.file.format"
  val PartitionFields = "hoodie.table.partition.fields"
  val RecordKeyFields = "hoodie.table.recordkey.fields"
  val OrderingFields = "hoodie.table.ordering.fields"
  val PrecombineFieldDeprecated = "hoodie.table.precombine.field"
  val IsHiveStylePartitioning = "hoodie.datasource.write.hive_style_partitioning"
  val IsPartitionPathUrlencoded = "hoodie.datasource.write.partitionpath.urlencode"
  val PopulatesMetaFields = "hoodie.populate.meta.fields"
  val DropsPartitionFields = "hoodie.datasource.write.drop.partition.columns"
  val RecordMergeStrategy = "hoodie.table.record.merge.strategy"
  val KeyGeneratorClass = "hoodie.table.keygenerator.class"
  val CdcEnabled = "hoodie.table.cdc.enabled"
  val CdcLoggingMode = "hoodie.table.cdc.supplemental.logging.mode"
  val MetadataPartitions = "hoodie.table.metadata.partitions"

  /** Load `<base>/.hoodie/hoodie.properties` — java.util.Properties
    * format, including its escape rules (Hudi writes `\:` inside the
    * embedded create-schema JSON).
    */
  def load(basePath: String, hadoopConf: Configuration): HoodieConfig = {
    val path = new Path(basePath, ".hoodie/hoodie.properties")
    val fs = path.getFileSystem(hadoopConf)
    val in = fs.open(path)
    try {
      val props = new java.util.Properties()
      props.load(new InputStreamReader(in, StandardCharsets.UTF_8))
      val m = mutable.LinkedHashMap.empty[String, String]
      props.stringPropertyNames().forEach(k => m(k) = props.getProperty(k))
      HoodieConfig(m.toMap)
    } finally in.close()
  }
}

/** The five (plus one optional) Hudi meta columns physically prepended to
  * every data schema — crates/core/src/metadata/meta_field.rs:28-48.
  */
object MetaField {
  val CommitTime = "_hoodie_commit_time"
  val CommitSeqno = "_hoodie_commit_seqno"
  val RecordKey = "_hoodie_record_key"
  val PartitionPath = "_hoodie_partition_path"
  val FileName = "_hoodie_file_name"
  val Operation = "_hoodie_operation"
  val all: Seq[String] = Seq(CommitTime, CommitSeqno, RecordKey, PartitionPath, FileName)
}
