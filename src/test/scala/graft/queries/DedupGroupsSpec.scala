package graft.queries

import graft.SparkTestBase

/** The two connected-component regimes must agree exactly: the driver
  * union-find (small pair graphs) and the distributed label-propagation
  * loop (the scale path, which the size gate keeps out of the oracle run)
  * are compared on graphs with the shapes that break naive propagation —
  * chains (diameter > rounds of a fixed-iteration scheme), cliques,
  * disjoint singles.
  */
class DedupGroupsSpec extends SparkTestBase {

  private def pairsDf(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("doc_a", "doc_b")
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("union-find and distributed propagation agree on chains + cliques") {
    // chain 1-2-3-4-5-6 (diameter 5), clique {10,11,12}, pair {20,21}
    val pairs = pairsDf(
      1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L,
      10L -> 11L, 10L -> 12L, 11L -> 12L,
      20L -> 21L)
    val local = labelsOf(TextOps.localUnionFind(spark, pairs))
    val dist = labelsOf(TextOps.distributedComponents(pairs))
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(local == expected)
    assert(dist == expected)
  }

  test("long chain converges (pointer jumping beats diameter)") {
    // 40-vertex path: min-label needs 39 plain rounds, path halving ~log
    val pairs = pairsDf((1L until 40L).map(i => i -> (i + 1)): _*)
    val dist = labelsOf(TextOps.distributedComponents(pairs))
    assert(dist == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("reversed and shuffled edges produce the same min roots") {
    val pairs = pairsDf(7L -> 3L, 9L -> 7L, 5L -> 9L) // one component, min 3
    val local = labelsOf(TextOps.localUnionFind(spark, pairs))
    assert(local.values.toSet == Set(3L) && local.keySet == Set(3L, 5L, 7L, 9L))
    assert(labelsOf(TextOps.distributedComponents(pairs)) == local)
  }

  test("loop conf region restores AQE and shuffle partitions exactly (r16)") {
    // the loop runs with AQE off + data-bounded shuffle partitions and
    // must put BOTH session confs back whatever they were before —
    // including the unset state
    val aqeKey = "spark.sql.adaptive.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val aqe0 = spark.conf.getOption(aqeKey)
    val parts0 = spark.conf.getOption(partsKey)
    try {
      spark.conf.set(aqeKey, "true")
      spark.conf.set(partsKey, "17")
      val pairs = pairsDf(1L -> 2L, 3L -> 4L)
      assert(labelsOf(TextOps.distributedComponents(pairs)) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
      assert(spark.conf.get(aqeKey) == "true")
      assert(spark.conf.get(partsKey) == "17")
      // and the lineage-keeping materialize mode, which keeps AQE on
      // inside the loop
      spark.conf.set("spark.graft.materialize.mode", "persist")
      assert(labelsOf(TextOps.distributedComponents(pairs)) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
      assert(spark.conf.get(aqeKey) == "true")
      assert(spark.conf.get(partsKey) == "17")
    } finally {
      spark.conf.unset("spark.graft.materialize.mode")
      def restore(k: String, v: Option[String]): Unit =
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore(aqeKey, aqe0); restore(partsKey, parts0)
    }
  }

  test("non-BIGINT ids fail loudly instead of returning unconverged labels") {
    // the convergence UDF takes primitive longs: string ids would reach
    // it through a cast, count no change and stop after one round
    import spark.implicits._
    val pairs = Seq("1" -> "2", "2" -> "3", "3" -> "4").toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](TextOps.distributedComponents(pairs))
    assert(e.getMessage.contains("connected components need BIGINT doc ids, got string"))
  }
}
