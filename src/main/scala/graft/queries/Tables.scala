package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet test tables (TESTDATA.md). */
object Tables {

  /** A test table, its parquet schema inferred ONCE per session: every
    * inference is a Spark job (`SchemaMergeUtils.mergeSchemasInParallel`),
    * and an entry reading six tables paid six of them before its own
    * query started. The cached schema is keyed on the file's modification
    * time, so a rewritten table is inferred again, and on the session's
    * parquet confs, which decide what a column infers to
    * (`spark.sql.legacy.parquet.nanosAsLong` reads TIMESTAMP(NANOS) as a
    * long). Spark makes file-source data schemas nullable either way.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val version = (p.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(p).getModificationTime,
      spark.conf.getAll.filter(_._1.contains(".parquet.")))
    val reg = SessionRegistry.of(spark)
    val schema = reg.get(s"schema:$path").collect {
      case (v, st: StructType) if v == version => st
    }.getOrElse {
      val st = spark.read.parquet(path).schema
      reg.put(s"schema:$path", (version, st))
      st
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Register a base table as a temp view ONCE per (session, dir).
    *
    * `createOrReplaceTempView` on every query invocation is not a no-op
    * even when the view is identical: replacing a view cascades through
    * the CacheManager and uncaches every cached plan that references it,
    * which silently dropped the rotated dedup/ANN/simhash caches between
    * queries (measured: the "cached" simhash signature relation recomputed
    * its full token aggregation — 1.7s — on every reuse). Re-register only
    * when the session has never seen the view, the target dir changed, or
    * someone dropped the view.
    */
  def ensureView(s: SparkSession, d: String, name: String)(df: => DataFrame): Unit = {
    val reg = SessionRegistry.of(s)
    val key = s"view:$name"
    if (!reg.get(key).contains(d) || !s.catalog.tableExists(name)) {
      df.createOrReplaceTempView(name)
      reg.put(key, d)
    }
  }

  /** Normalize `events.ts` to a session-UTC instant TIMESTAMP whatever
    * the driver generated:
    *  - TIMESTAMP(NANOS) parquet reads as a long under
    *    spark.sql.legacy.parquet.nanosAsLong=true (set in the session
    *    builders); the data carries no sub-µs precision and DuckDB's
    *    ns→µs cast truncates, so `ts div 1000` µs is lossless and
    *    oracle-exact.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
    *    TIMESTAMP_NTZ; every session pins spark.sql.session.timeZone to
    *    UTC, so the NTZ→LTZ cast is the identity on the underlying
    *    micros — exactly how DuckDB (naive timestamps throughout) sees
    *    the same file. Without the cast, instant functions
    *    (unix_micros, range-frame windows) reject the NTZ type.
    */
  private def fixEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Canonical loader by table name: routes through the per-table
    * accessors so fixups (fixEventTs on `events`) apply on EVERY
    * registration path — registering a view from raw `t()` would
    * silently diverge from the accessor the other queries read.
    */
  def load(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "lineitem" => lineitem(s, d)
    case "orders" => orders(s, d)
    case "customer" => customer(s, d)
    case "supplier" => supplier(s, d)
    case "part" => part(s, d)
    case "nation" => nation(s, d)
    case "region" => region(s, d)
    case "events" => events(s, d)
    case "documents" => documents(s, d)
    case "embeddings" => embeddings(s, d)
    case other => throw new IllegalArgumentException(s"unknown test table '$other'")
  }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = fixEventTs(t(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
