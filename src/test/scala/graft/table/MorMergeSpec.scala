package graft.table

import graft.SparkTestBase
import graft.fixtures.HudiFixtureBuilder
import graft.log.{LogFileWriter, SparkToAvro}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.io.DataOutputStream

/** Merge edge semantics of the per-slice MOR reader, mirroring the
  * reference's RecordMerger unit tests (record_merger.rs:192-462) and
  * ordering rules (ordering.rs:41-51): null-ordering loses, commit-seqno
  * tiebreak, delete event/commit comparison and the integer-zero special
  * case. Each case is a tiny hand-written one-group MOR table (a base
  * file plus one log file whose blocks are the later commits) read
  * through `hudi-graft`. Delete blocks are written directly because the
  * writer always records a zero delete ordering.
  */
class MorMergeSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("_hoodie_commit_time", StringType),
    StructField("_hoodie_commit_seqno", StringType),
    StructField("_hoodie_record_key", StringType),
    StructField("_hoodie_partition_path", StringType),
    StructField("_hoodie_file_name", StringType),
    StructField("ord", LongType),
    StructField("val", StringType)))

  private val fid = "00000000-0000-0000-0000-000000000000-0"
  private val Seq(t1, t2, t3, t4) = (1 to 4).map(i => s"2024010${i}000000000")

  /** One record version: seqno `<commit>_0_<n>`, non-partitioned. */
  private def rec(commit: String, n: Int, key: String, ord: java.lang.Long, v: String) =
    Row(commit, s"${commit}_0_$n", key, "", fid, ord, v)

  /** A log commit: data rows and/or (record key, delete ordering) pairs. */
  private case class LogCommit(
      instant: String, data: Seq[Row] = Nil, deletes: Seq[(String, Any)] = Nil)

  /** A one-group MOR table: `base` rows (all stamped `t1`) in the base
    * file, each `LogCommit` a deltacommit appending blocks to its log;
    * `props` are the table configs beyond name, type and version.
    */
  private def table(name: String, base: Seq[Row], logs: Seq[LogCommit],
      props: Seq[String] = Seq("hoodie.table.precombine.field=ord")): String = {
    val dir = new Path(HudiFixtureBuilder.targetPath(s"fixtures/mor_merge_$name"))
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(dir, true)
    fs.mkdirs(new Path(dir, ".hoodie"))
    def put(rel: String, text: String): Unit = {
      val out = fs.create(new Path(dir, rel), true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    put(".hoodie/hoodie.properties",
      s"""hoodie.table.name=mor_merge_$name
         |hoodie.table.type=MERGE_ON_READ
         |hoodie.table.version=6
         |""".stripMargin + props.map(_ + "\n").mkString)
    val tmp = new Path(dir, ".tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(base, 1), schema)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    val baseName = s"${fid}_0-0-0_$t1.parquet"
    fs.rename(part, new Path(dir, baseName))
    fs.delete(tmp, true)
    def stats(path: String) =
      s"""{"partitionToWriteStats":{"":[{"fileId":"$fid","path":"$path"}]}}"""
    put(s".hoodie/$t1.commit", stats(baseName))

    val avro = SparkToAvro.toAvroSchema(schema, "r")
    val logName = s".${fid}_$t1.log.1_0-0-0"
    val out = new DataOutputStream(fs.create(new Path(dir, logName), true))
    try logs.foreach { c =>
      if (c.data.nonEmpty)
        LogFileWriter.avroDataBlock(out, c.instant, avro,
          c.data.map(SparkToAvro.toRecord(_, schema, avro)))
      if (c.deletes.nonEmpty)
        LogFileWriter.deleteBlock(out, c.instant, avro,
          c.deletes.map { case (k, o) => (k, "", o) })
    } finally out.close()
    logs.foreach(c => put(s".hoodie/${c.instant}.deltacommit", stats(logName)))
    dir.toString
  }

  private def read(path: String) = spark.read.format("hudi-graft").load(path)

  private def values(path: String): Map[String, String] =
    read(path).collect()
      .map(r => r.getAs[String]("_hoodie_record_key") -> r.getAs[String]("val")).toMap

  test("latest ordering wins; seqno breaks ties") {
    val path = table("seqno",
      Seq(rec(t1, 1, "k1", 5L, "old"), rec(t1, 2, "k2", 5L, "a")),
      Seq(LogCommit(t2, data = Seq(
        rec(t2, 1, "k1", 9L, "new"),
        rec(t2, 2, "k2", 5L, "b"))))) // equal ord → seqno desc
    assert(values(path) == Map("k1" -> "new", "k2" -> "b"))
  }

  test("null ordering in newer version loses to older non-null") {
    val path = table("null_ord",
      Seq(rec(t1, 1, "k1", 5L, "keep")),
      Seq(LogCommit(t2, data = Seq(rec(t2, 1, "k1", null, "null-ord")))))
    assert(values(path) == Map("k1" -> "keep"))
  }

  test("delete wins on greater event time, loses on smaller") {
    val path = table("del_event",
      Seq(rec(t1, 1, "k1", 5L, "x"), rec(t1, 2, "k2", 5L, "y")),
      Seq(LogCommit(t2, deletes = Seq(
        "k1" -> 9L, // greater event time → delete
        "k2" -> 3L)))) // smaller → record survives
    assert(values(path) == Map("k2" -> "y"))
  }

  /** Records rewritten at t3 between a t2 delete of k2 and a t4 delete
    * of k1, both carrying `ord`: the delete's commit time lies on either
    * side of the record's.
    */
  private def commitTieTable(name: String, recOrd: Long, delOrd: Any): String =
    table(name,
      Seq(rec(t1, 1, "k1", recOrd, "x0"), rec(t1, 2, "k2", recOrd, "y0")),
      Seq(
        LogCommit(t2, deletes = Seq("k2" -> delOrd)), // earlier commit → survives
        LogCommit(t3, data = Seq(rec(t3, 1, "k1", recOrd, "x"), rec(t3, 2, "k2", recOrd, "y"))),
        LogCommit(t4, deletes = Seq("k1" -> delOrd)))) // later commit → delete

  test("equal event time: commit time breaks the tie") {
    assert(values(commitTieTable("del_commit_tie", 5L, 5L)) == Map("k2" -> "y"))
  }

  test("integer-zero delete ordering compares on commit time only") {
    // a plain int 0, the ordering upstream delete records default to
    assert(values(commitTieTable("del_zero", 7L, 0)) == Map("k2" -> "y"))
  }

  test("every delete of a key is weighed: a later zero delete beats a record an older delete lost to") {
    // k1: deleted at t2 (ord 5), re-sent at t3 with a greater ord, deleted
    // again at t4 with the zero ordering (commit time decides, t4 wins).
    // k2: two ordered deletes — the one with the greatest ord (t2) is
    // older than the record and the newer one (t4) has a smaller ord, so
    // neither beats the t3 record
    val path = table("del_mixed",
      Seq(rec(t1, 1, "k1", 5L, "x0"), rec(t1, 2, "k2", 5L, "y0")),
      Seq(
        LogCommit(t2, deletes = Seq("k1" -> 5L, "k2" -> 9L)),
        LogCommit(t3, data = Seq(rec(t3, 1, "k1", 50L, "x"), rec(t3, 2, "k2", 9L, "y"))),
        LogCommit(t4, deletes = Seq("k1" -> 0, "k2" -> 3L))))
    assert(values(path) == Map("k2" -> "y"))
  }

  test("append-only keeps every version") {
    val path = table("append_only",
      Seq(rec(t1, 1, "k1", 5L, "a")),
      Seq(LogCommit(t2, data = Seq(rec(t2, 1, "k1", 9L, "b")))),
      props = Seq("hoodie.table.precombine.field=ord",
        "hoodie.table.record.merge.strategy=APPEND_ONLY"))
    assert(read(path).count() == 2)
  }

  test("an ordering field supplied as a handle read option reaches the reader") {
    // no stored ordering field: the table alone is append-only
    val path = table("supplement",
      Seq(rec(t1, 1, "k1", 5L, "old")),
      Seq(LogCommit(t2, data = Seq(rec(t2, 1, "k1", 9L, "new")))),
      props = Nil)
    assert(read(path).count() == 2)
    val merged = HudiTable(spark, path, Map("hoodie.table.precombine.field" -> "ord")).snapshot()
    assert(merged.collect().map(_.getAs[String]("val")).toSeq == Seq("new"))
  }
}
