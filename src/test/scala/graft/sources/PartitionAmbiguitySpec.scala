package graft.sources

import graft.SparkTestBase
import graft.log.SparkToAvro
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partition-path values the exact-consumption machinery must NOT trust:
  *
  *  - a '/' INSIDE a single string partition value renders as two path
  *    segments — the strict pruner parse fails OPEN on it, so the
  *    exact-consumption gate must refuse the whole table (lenient
  *    readiness would drop the residual while pruning can't exclude the
  *    partition: leaked rows);
  *  - bare `default` on a v4+ table is ambiguous — possibly a legacy
  *    pre-upgrade null dir (rows NULL), possibly a genuine value. Null
  *    predicates must fail open over it, equality to 'default' must keep
  *    the residual, and path-as-value aggregate serving must reject.
  */
class PartitionAmbiguitySpec extends SparkTestBase {

  private val T1 = "20240101000000000"

  /** One-commit hive-style COW over (k string, v long), one file per
    * given (dirName, kValue, vs) partition; k physically in the files
    * unless `dropK` (P6: drop.partition.columns=true, the column's
    * logical type then comes from hoodie.table.create.schema).
    */
  private def buildTable(
      name: String, parts: Seq[(String, Any, Seq[Long])], dropK: Boolean = false): String = {
    val base = new Path(graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val marker = new Path(base, "_READY_v1")
    if (fs.exists(marker)) return base.toString
    fs.delete(base, true)
    fs.mkdirs(new Path(base, ".hoodie"))
    def writeText(p: Path, s: String): Unit = {
      val out = fs.create(p, true); out.write(s.getBytes("UTF-8")); out.close()
    }
    val dataAvro = SparkToAvro.toAvroSchema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType,
          nullable = false))), s"${name}_record").toString
    writeText(new Path(base, ".hoodie/hoodie.properties"),
      s"""hoodie.table.name=$name
         |hoodie.table.type=COPY_ON_WRITE
         |hoodie.table.version=6
         |hoodie.timeline.layout.version=1
         |hoodie.table.recordkey.fields=v
         |hoodie.table.precombine.field=v
         |hoodie.table.partition.fields=k
         |hoodie.datasource.write.hive_style_partitioning=true
         |hoodie.datasource.write.partitionpath.urlencode=false
         |hoodie.populate.meta.fields=true
         |""".stripMargin + (if (dropK)
        s"""hoodie.datasource.write.drop.partition.columns=true
           |hoodie.table.create.schema=$dataAvro
           |""".stripMargin else ""))
    import spark.implicits._
    parts.zipWithIndex.foreach { case ((dir, kv, vs), i) =>
      val fname = f"00000000-0000-0000-0000-$i%012d-0_0-0-0_$T1.parquet"
      val cols = Seq("_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name") ++
        (if (dropK) Seq("v") else Seq("k", "v"))
      val df: DataFrame = vs.toDF("v")
        .withColumn("_hoodie_commit_time", lit(T1))
        .withColumn("_hoodie_commit_seqno", concat(lit(s"${T1}_0_"), col("v")))
        .withColumn("_hoodie_record_key", col("v").cast("string"))
        .withColumn("_hoodie_partition_path", lit(dir))
        .withColumn("_hoodie_file_name", lit(fname))
        .withColumn("k", lit(kv).cast("string"))
        .select(cols.map(col).toIndexedSeq: _*)
      val tmp = new Path(base, s".tmp_$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.mkdirs(new Path(base, dir))
      fs.rename(part, new Path(new Path(base, dir), fname))
      fs.delete(tmp, true)
    }
    val esc = dataAvro.replace("\\", "\\\\").replace("\"", "\\\"")
    writeText(new Path(base, s".hoodie/$T1.commit"),
      s"""{"partitionToWriteStats":{},"extraMetadata":{"schema":"$esc"},"compacted":false}""")
    fs.create(marker, true).close()
    base.toString
  }

  test("a '/' inside a partition value defeats exact consumption, not correctness") {
    // value 'a/b' renders as the two-segment path k=a/b: strict pruning
    // parses None (fails open, partition stays planned) — the equality
    // must therefore stay in the residual, not be consumed
    val p = buildTable("ambig_slash", Seq(
      ("k=x", "x", Seq(1L, 2L)),
      ("k=a/b", "a/b", Seq(3L, 4L))))
    val got = spark.read.format("hudi-graft").load(p)
      .filter(col("k") === "x").select("v").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(1L, 2L)),
      s"k='x' must not leak the k=a/b partition's rows, got ${got.toSeq}")
    // and the multi-segment value itself is still readable
    val slash = spark.read.format("hudi-graft").load(p)
      .filter(col("k") === "a/b").select("v").collect().map(_.getLong(0)).sorted
    assert(slash.sameElements(Array(3L, 4L)))
    // a COUNT with the same filter must not serve a consumed-filter
    // metadata plan either (readiness is refused table-wide)
    val agg = spark.read.format("hudi-graft").load(p)
      .filter(col("k") === "x").agg(count(col("*")).as("n"))
    assert(!agg.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"unparsable partition geometry must reject filtered pushdown: ${agg.queryExecution.executedPlan}")
    assert(agg.head.getLong(0) == 2L)
  }

  test("v4+ bare 'default' partition is maybe-null: no exclusion power, no consumption") {
    // the 'default' dir simulates a legacy pre-upgrade null partition:
    // its rows carry NULL k (typedLit[String](null))
    val p = buildTable("ambig_default", Seq(
      ("k=asia", "asia", Seq(1L, 2L)),
      ("k=default", null, Seq(3L, 4L))))
    def read() = spark.read.format("hudi-graft").load(p)
    // IS NULL must fail open over the ambiguous dir and return its rows
    val nulls = read().filter(col("k").isNull).select("v").collect().map(_.getLong(0)).sorted
    assert(nulls.sameElements(Array(3L, 4L)),
      s"IS NULL must include the legacy 'default' dir, got ${nulls.toSeq}")
    // IS NOT NULL keeps the residual authoritative: only genuine values
    val notNulls = read().filter(col("k").isNotNull).select("v")
      .collect().map(_.getLong(0)).sorted
    assert(notNulls.sameElements(Array(1L, 2L)))
    // equality to 'default' keeps the residual: the dir's NULL rows are
    // NOT k='default' rows
    assert(read().filter(col("k") === "default").count() == 0L)
    // equality to a real value excludes the ambiguous dir safely
    val asia = read().filter(col("k") === "asia").select("v").collect().map(_.getLong(0)).sorted
    assert(asia.sameElements(Array(1L, 2L)))
    // path-as-value serving must reject the plan: MIN/MAX(k) over a
    // plan containing the ambiguous dir cannot answer from paths
    val agg = read().agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    assert(!agg.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"ambiguous 'default' must reject path-as-value aggregates: ${agg.queryExecution.executedPlan}")
    val r = agg.head
    assert(r.getString(0) == "asia" && r.getString(1) == "asia")
  }

  test("dropped STRING partition column: sentinel dir injects NULL, not the literal") {
    // P6 value injection is the only reader that can surface a string
    // sentinel as data (typed columns fail the strict parse and inject
    // NULL anyway): without the version-gated filter, every row of the
    // sentinel partition would claim k='__HIVE_DEFAULT_PARTITION__'
    val p = buildTable("dropped_sentinel", Seq(
      ("k=x", "x", Seq(1L, 2L)),
      ("k=__HIVE_DEFAULT_PARTITION__", null, Seq(3L, 4L))), dropK = true)
    val byV = spark.read.format("hudi-graft").load(p).select("k", "v").collect()
      .map(r => r.getLong(1) -> Option(r.getString(0))).toMap
    assert(byV(1L).contains("x") && byV(2L).contains("x"),
      s"genuine partition value must re-inject, got $byV")
    assert(byV(3L).isEmpty && byV(4L).isEmpty,
      s"sentinel dir must inject NULL for the dropped string column, got $byV")
    // and the injected NULL is queryable as such
    val nulls = spark.read.format("hudi-graft").load(p)
      .filter(col("k").isNull).select("v").collect().map(_.getLong(0)).sorted
    assert(nulls.sameElements(Array(3L, 4L)), s"IS NULL over injected values, got ${nulls.toSeq}")
  }

  test("PartitionValues.forSlice drops sentinel renderings only when told to") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val ps = StructType(Seq(StructField("k", StringType)))
    val slice = graft.fs.FileSlice(
      "k=__HIVE_DEFAULT_PARTITION__", "fid", T1, None, Vector.empty)
    val filtered = PartitionValues.forSlice(slice, Some(ps.json),
      hiveStyle = true, urlEncoded = false,
      nullSentinels = Seq("__HIVE_DEFAULT_PARTITION__", ""))
    assert(filtered.isNullAt(0), "sentinel must surface NULL when listed")
    // an empty sentinel list preserves the literal — the pre-v4 'default'
    // gating lives in the CALLER's version-gated list, not here
    val raw = PartitionValues.forSlice(slice, Some(ps.json),
      hiveStyle = true, urlEncoded = false)
    assert(raw.getUTF8String(0).toString == "__HIVE_DEFAULT_PARTITION__")
  }
}
