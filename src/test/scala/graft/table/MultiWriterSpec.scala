package graft.table

import graft.SparkTestBase
import graft.log.{LogFileWriter, SparkToAvro}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.DataOutputStream

/** Multi-writer / concurrent-instant hardening (the reference's TODO at
  * timeline/mod.rs:317): a v8 (layout-2) MOR table whose timeline carries
  *
  *  - OUT-OF-ORDER completions: the base commit (request T1) completes
  *    at C1 AFTER the deltacommit (request T2) completed at C2 — the
  *    non-blocking-concurrency shape. Association must still put the log
  *    on the base slice (base slices key on REQUEST ts, logs anchor on
  *    COMPLETION ts).
  *  - a clean whose request timestamp EQUALS the base commit's — not a
  *    loading action, so it must not perturb the completion map.
  *  - an INFLIGHT base file on disk (requested+inflight, never
  *    completed) — invisible under the layout-2 uncommitted filter.
  *  - a log whose completion precedes its group's base REQUEST ts — it
  *    seeds a superseded log-only slice, so the latest slice is the base
  *    alone (file_group/mod.rs:184-248 association boundary).
  */
class MultiWriterSpec extends SparkTestBase {

  private val T1 = "20250101000000001" // base commit request
  private val C1 = "20250101000000111" // ...completes LAST
  private val T2 = "20250101000000002" // deltacommit request
  private val C2 = "20250101000000055" // ...completes FIRST (C2 < C1)
  private val T9 = "20250101000000009" // inflight-only commit
  private val C9 = "20250101000000222" // the same-request clean's completion
  private val T0 = "20250101000000000" // early log on group f2
  private val C0 = "20250101000000003" // completes before f2's base REQUEST
  private val T6 = "20250101000000006" // f2's base commit request
  private val C6 = "20250101000000099"

  private def writeOne(df: DataFrame, dir: Path, name: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val tmp = new Path(dir, s".tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.mkdirs(dir)
    fs.rename(part, new Path(dir, name))
    fs.delete(tmp, true)
  }

  private def metaRows(commit: String, fileName: String,
      rows: Seq[(Int, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "status", "ord").select(
      lit(commit).as("_hoodie_commit_time"),
      concat(lit(commit), lit("_0_"), col("id")).as("_hoodie_commit_seqno"),
      col("id").cast("string").as("_hoodie_record_key"),
      lit("").as("_hoodie_partition_path"),
      lit(fileName).as("_hoodie_file_name"),
      col("id"), col("status"), col("ord"))
  }

  private lazy val basePath: String = {
    val dir = graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/multiwriter_v8")
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val b = new Path(dir)
    fs.delete(b, true)
    fs.mkdirs(new Path(b, ".hoodie/timeline"))
    def writeText(p: Path, s: String): Unit = {
      val o = fs.create(p, true); o.write(s.getBytes("UTF-8")); o.close()
    }
    writeText(new Path(b, ".hoodie/hoodie.properties"),
      """hoodie.table.name=multiwriter_v8
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=8
        |hoodie.timeline.layout.version=2
        |hoodie.table.recordkey.fields=id
        |hoodie.table.precombine.field=ord
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    def commitJson(fileId: String, rel: String): String =
      s"""{"partitionToWriteStats":{"":[{"fileId":"$fileId","path":"$rel","partitionPath":""}]},"compacted":false,"operationType":"UPSERT"}"""

    // f0: slow base (T1→C1) + fast log (T2→C2), C2 < C1
    val f0Name = s"f0_0-0-0_$T1.parquet"
    writeOne(metaRows(T1, f0Name, Seq((1, "base", 1L), (2, "base", 1L), (3, "base", 1L))), b, f0Name)
    writeText(new Path(b, s".hoodie/timeline/${T1}_$C1.commit"), commitJson("f0", f0Name))
    val tableSchema = spark.read.parquet(new Path(b, f0Name).toString).schema
    val avroSchema = SparkToAvro.toAvroSchema(tableSchema, "multiwriter_record")
    val logName = s".f0_$T2.log.1_0-0-0"
    val out = new DataOutputStream(fs.create(new Path(b, logName), true))
    try LogFileWriter.avroDataBlock(out, T2, avroSchema,
      metaRows(T2, "", Seq((2, "upd", 2L))).collect().toIndexedSeq
        .map(SparkToAvro.toRecord(_, tableSchema, avroSchema)))
    finally out.close()
    writeText(new Path(b, s".hoodie/timeline/${T2}_$C2.deltacommit"), commitJson("f0", logName))

    // the same-request-timestamp clean: must be ignored entirely
    writeText(new Path(b, s".hoodie/timeline/${T1}_$C9.clean"), "{}")

    // the inflight base file: on disk, never completed
    val f9Name = s"f9_0-0-0_$T9.parquet"
    writeOne(metaRows(T9, f9Name, Seq((90, "ghost", 1L))), b, f9Name)
    writeText(new Path(b, s".hoodie/timeline/$T9.commit.requested"), "{}")
    writeText(new Path(b, s".hoodie/timeline/$T9.inflight"), "{}")

    // f2: a log completing BEFORE its group's base was even requested —
    // seeds a log-only slice superseded by the base slice
    val earlyLog = s".f2_$T0.log.1_0-0-0"
    val out2 = new DataOutputStream(fs.create(new Path(b, earlyLog), true))
    try LogFileWriter.avroDataBlock(out2, T0, avroSchema,
      metaRows(T0, "", Seq((10, "early-log", 9L))).collect().toIndexedSeq
        .map(SparkToAvro.toRecord(_, tableSchema, avroSchema)))
    finally out2.close()
    writeText(new Path(b, s".hoodie/timeline/${T0}_$C0.deltacommit"), commitJson("f2", earlyLog))
    val f2Name = s"f2_0-0-0_$T6.parquet"
    writeOne(metaRows(T6, f2Name, Seq((10, "late-base", 1L))), b, f2Name)
    writeText(new Path(b, s".hoodie/timeline/${T6}_$C6.commit"), commitJson("f2", f2Name))
    dir
  }

  private lazy val table = HudiTable(spark, basePath)

  test("out-of-order completion still associates the log to the earlier-requested base") {
    val rows = table.snapshot().select("id", "status").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // f0 merged (log wins on id 2 despite completing before the base),
    // inflight f9 invisible, f2's early log superseded by its base slice
    assert(rows == Set((1, "base"), (2, "upd"), (3, "base"), (10, "late-base")))
  }

  test("the same-request-timestamp clean does not perturb the completion map") {
    assert(table.timeline.completionTimeOf(T1) == Some(C1))
    // only the three data commits + f2's two instants are loaded
    assert(table.timeline.completedInstants.map(_.action).forall(
      a => a == "commit" || a == "deltacommit"))
    assert(!table.timeline.isCompletedCommit(T9))
  }

  test("slice assembly reflects completion-time anchoring") {
    val groups = table.fsView.fileGroups("").map(g => g.fileId -> g).toMap
    // f9 filtered as uncommitted
    assert(!groups.contains("f9"))
    // f0: one slice at T1 carrying the T2 log with completion C2
    val f0 = groups("f0")
    assert(f0.slices.keySet == Set(T1))
    val logs = f0.slices(T1).logFiles
    assert(logs.map(_.timestamp) == Vector(T2))
    assert(logs.head.completionTimestamp == Some(C2))
    // f2: the early log seeds a superseded log-only slice at T0; the
    // latest slice is the base alone
    val f2 = groups("f2")
    assert(f2.slices.keySet == Set(T0, T6))
    val latest = f2.sliceAsOf("99999999999999999").get
    assert(latest.baseFile.isDefined && latest.logFiles.isEmpty)
  }

  test("time travel before the slow base's completion hides it (request-ts visibility)") {
    // as-of selection is by REQUEST timestamp (instantsAsOf): as of T2
    // both commits are visible even though C1 > C2 — the reference's
    // get_completed_instants_at_or_before contract
    // (f2's T0 log-only slice is visible at both points: T0 < T1 < T2,
    // and its base slice only supersedes it from T6 on)
    val asOfT2 = table.snapshot(asOf = Some(T2)).select("id", "status").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(asOfT2 == Set((1, "base"), (2, "upd"), (3, "base"), (10, "early-log")))
    // as of T1: the T2 log block is range-excluded, so f0 is base-only
    val asOfT1 = table.snapshot(asOf = Some(T1)).select("id", "status").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(asOfT1 == Set((1, "base"), (2, "base"), (3, "base"), (10, "early-log")))
  }
}
