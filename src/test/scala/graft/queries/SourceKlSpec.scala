package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** `text_source_kl` is one tokenize pass plus two jobs over token-keyed
  * blocks ([[CurateOps.SourceKl]]). These tests pin it row for row to the
  * Spark SQL it replaced, on the fixture corpus and on a hand-built one
  * with every NULL and empty case, and bound its jobs and persisted RDDs.
  */
class SourceKlSpec extends SparkTestBase {

  private def run(d: String): DataFrame = SparkEntry.queries("text_source_kl")(spark, d)

  /** The Spark SQL the entry ran before (three aggregates over the inline
    * `sc` CTE, three joins), kept as the reference. Reads the `documents`
    * view, which the entry registers for its dir.
    */
  private val referenceSql: String = {
    val ps = "((CAST(sc.c AS DOUBLE) + 1.0) / (CAST(st.n AS DOUBLE) + CAST(tot.vocab AS DOUBLE)))"
    val pc = "((CAST(cc.c AS DOUBLE) + 1.0) / (CAST(tot.n AS DOUBLE) + CAST(tot.vocab AS DOUBLE)))"
    s"""WITH corpus AS (${TextOps.corpusSql}),
       |sc AS (SELECT source, tok, COUNT(1) AS c
       |  FROM (SELECT source, explode(split(text, ' ')) AS tok FROM corpus) GROUP BY source, tok),
       |st AS (SELECT source, SUM(c) AS n, COUNT(1) AS vocab_s FROM sc GROUP BY source),
       |cc AS (SELECT tok, SUM(c) AS c FROM sc GROUP BY tok),
       |tot AS (SELECT SUM(c) AS n, COUNT(1) AS vocab FROM cc),
       |terms AS (
       |  SELECT sc.source,
       |    CAST(round($ps * ln($ps / $pc), 12) AS DECIMAL(28, 12)) AS term
       |  FROM sc
       |  JOIN st ON sc.source = st.source
       |  JOIN cc ON sc.tok = cc.tok
       |  CROSS JOIN tot),
       |kl AS (SELECT source, SUM(term) AS kl_sum FROM terms GROUP BY source),
       |docs AS (SELECT source, COUNT(1) AS n_docs FROM corpus GROUP BY source)
       |SELECT d.source, d.n_docs, st.n AS n_tokens,
       |  CAST(st.vocab_s AS BIGINT) AS vocab_size,
       |  CAST(k.kl_sum AS DOUBLE) AS kl_unigram
       |FROM docs d
       |JOIN st ON d.source = st.source
       |JOIN kl k ON d.source = k.source
       |ORDER BY d.source""".stripMargin
  }

  private def assertMatchesReference(d: String): Unit = {
    val got = run(d)
    val want = spark.sql(referenceSql)
    assert(got.schema == want.schema)
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  /** Documents with a NULL source, NULL and empty text, repeated tokens,
    * a token seen only under the NULL source, a source whose only doc has
    * NULL text, and two sources that UTF-16 and UTF-8 order differently.
    * Doc ids 10 and 20 are injected twice by the corpus rule.
    */
  private lazy val handBuiltDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_source_kl").toString
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = Seq[(Long, String, String)](
      (1, "a b a a", "s1"), (2, null, "s1"), (3, "", "s2"), (4, "c only_null c", null),
      (5, "a c", "s2"), (6, null, "s3"), (7, "b  b", "s4"), (8, null, null),
      (10, "a b c", "s1"), (11, "z", "Ａ"), (12, "z a", "😀"), (20, "", "s4"))
    val rows = docs.map { case (id, text, source) =>
      Row(id, text, "en", source, Option(text).map(_.length.toLong).orNull) }
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("the fixture corpus matches the replaced Spark SQL row for row") {
    assertMatchesReference(sfDir)
  }

  test("a corpus with NULL and empty cases matches the replaced Spark SQL row for row") {
    assertMatchesReference(handBuiltDir)
    val sources = run(handBuiltDir).collect().map(_.getString(0)).toSeq
    // s3 has no token, and the NULL source never gets a row
    assert(sources == Seq("s1", "s2", "s4", "Ａ", "😀"))
  }

  // The SQL form ran 16 jobs here on a warm call (local[4], 4 shuffle
  // partitions).
  test("a warm call runs at most 5 Spark jobs") {
    run(sfDir).collect()
    val (_, jobs) = JobCount(spark)(run(sfDir).collect())
    assert(jobs <= 5, s"a warm text_source_kl ran $jobs Spark jobs")
  }

  test("invocations leave no persisted RDD behind") {
    run(sfDir).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run(sfDir).collect()
    run(sfDir).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
