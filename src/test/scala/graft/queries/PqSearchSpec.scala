package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.DataFrame

/** `embed_ann_pq` searches the way FAISS IndexPQ does: per-query lookup
  * tables over the prep's code blocks ([[AnnOps.PqPrep]]), one scoring
  * job, one fetch job, the rerank on the driver. These tests pin the
  * search to a brute-force ADC over the prep's own codes and codebook,
  * including an approx tie at the rerank cut, and bound its jobs and its
  * persisted RDDs across invocations and a data-directory switch.
  */
class PqSearchSpec extends SparkTestBase {

  private def run(d: String): DataFrame = SparkEntry.queries("embed_ann_pq")(spark, d)

  private def rows(d: String): Seq[String] = run(d).collect().map(_.toString).toSeq

  /** The sf dir's embeddings plus 30 copies of query vector 1 under ids
    * 1000–1029: identical vectors get identical codes, so for query 1
    * the copies tie on approx across the top-20 rerank cut, and tie
    * again on the exact score.
    */
  private lazy val tieDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_tie").toString
    val base = Tables.embeddings(spark, sfDir)
    val copies = base.where("vec_id = 1").crossJoin(spark.range(1000, 1030).toDF("copy_id"))
      .selectExpr("copy_id AS vec_id", "embedding", "label")
    base.unionByName(copies).coalesce(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** The brute-force search: ADC over every coded vector, top 20 by
    * (approx desc, id), exact cosine rerank, top 5 by (score desc, id).
    */
  private def bruteForce(d: String): Seq[String] = {
    val p = AnnOps.pqPrep(spark, d)
    val codes = p.blocks.collect().flatMap(b =>
      b.ids.indices.map(i => b.ids(i) -> b.codes.slice(i * 8, i * 8 + 8)))
    val vecs = spark.table("ann_qn").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1).toArray, r.getLong(2))).toMap
    def dot(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
    vecs.keys.filter(_ < 5).toSeq.sorted.flatMap { qid =>
      val (qq, qn) = vecs(qid)
      val approx = codes.collect { case (id, cs) if id != qid =>
        id -> cs.indices.filter(cs(_) >= 0)
          .map(m => dot(qq.slice(m * 8, m * 8 + 8).toSeq, p.codebook(m)(cs(m)).toSeq)).sum
      }
      val cand = approx.sortBy { case (id, a) => (-a, id) }.take(20)
      if (d == tieDir && qid == 1)
        assert(approx.sortBy { case (id, a) => (-a, id) }.slice(19, 21).map(_._2).distinct.length == 1,
          "the copies must tie on approx across the rerank cut")
      cand.map { case (id, _) =>
        val (bq, bn) = vecs(id)
        id -> dot(qq.toSeq, bq.toSeq).toDouble / math.sqrt(qn.toDouble * bn.toDouble)
      }.sortBy { case (id, score) => (-score, id) }.take(5).zipWithIndex
        .map { case ((id, score), i) => s"[$qid,$id,${i + 1},$score]" }
    }
  }

  test("the search equals a brute-force ADC over the prep's codes and codebook") {
    assert(rows(sfDir) == bruteForce(sfDir))
  }

  test("an approx tie at the rerank cut is broken by neighbor_id") {
    val got = rows(tieDir)
    assert(got == bruteForce(tieDir))
    val q1 = run(tieDir).where("query_id = 1").select("neighbor_id").collect().map(_.getLong(0))
    assert(q1.toSeq == (1000L to 1004L))
  }

  // The SQL form ran 13 jobs here on a warm call (local[4], 4 shuffle
  // partitions).
  test("a warm call runs at most 5 Spark jobs") {
    run(sfDir).collect()
    val (_, jobs) = JobCount(spark)(run(sfDir).collect())
    assert(jobs <= 5, s"a warm embed_ann_pq ran $jobs Spark jobs")
  }

  test("invocations persist nothing beyond the prep") {
    run(sfDir).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run(sfDir).collect()
    run(sfDir).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("a data-directory switch rebuilds the code blocks and frees the old ones") {
    val base = rows(sfDir)
    val old = AnnOps.pqPrep(spark, sfDir).blocks.id
    val alt = rows(tieDir)
    assert(alt != base)
    val fresh = AnnOps.pqPrep(spark, tieDir).blocks.id
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(fresh != old && persisted.contains(fresh) && !persisted.contains(old))
    assert(rows(sfDir) == base)
    val back = AnnOps.pqPrep(spark, sfDir).blocks.id
    assert(back != fresh && !spark.sparkContext.getPersistentRDDs.contains(fresh))
    AnnOps.dropCaches(spark)
    assert(!spark.sparkContext.getPersistentRDDs.contains(back))
  }
}
