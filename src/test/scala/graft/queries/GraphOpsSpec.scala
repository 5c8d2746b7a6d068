package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.graftspec.JobCount

/** PageRank invariants plus the properties that make ten iterations
  * viable at scale: the final plan must NOT contain the 10-iteration join
  * chain, a warm call runs one Spark job per round, and repeat calls pin
  * nothing beyond the session's prep.
  */
class GraphOpsSpec extends SparkTestBase {

  private lazy val result = SparkEntry.queries("graph_pagerank")(spark, sfDir)

  test("ranks are positive, strictly ordered, and nodes distinct") {
    val rows = result.collect()
    assert(rows.length == 20)
    val prs = rows.map(_.getAs[Long]("pr"))
    assert(prs.forall(_ > 0))
    assert(prs.sameElements(prs.sorted.reverse))
    assert(rows.map(_.getAs[String]("node")).distinct.length == 20)
    // the bipartite graph's small side (100 suppliers vs ~1.5k customers)
    // concentrates degree, so suppliers must dominate the top ranks
    assert(rows.take(5).forall(_.getAs[String]("node").startsWith("s")))
  }

  test("the shuffle-hash regime (node set too big to broadcast) is bit-identical") {
    val viaBroadcast = result.collect()
    try {
      // gate 0 forces the co-partitioned shuffle-hash path
      val viaShuffle = GraphOps.sparkImpl(spark, sfDir, broadcastMaxBytes = 0L).collect()
      assert(viaShuffle.toSeq == viaBroadcast.toSeq)
    } finally {
      // the forced-gate prep must not stay pinned for the shared session
      GraphOps.dropPrep(spark, "pagerank_prep:0")
    }
  }

  test("checkpointing cut the iteration lineage out of the final plan") {
    val joins = result.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // without the per-iteration localCheckpoint the plan would carry ten
    // chained (edges ⋈ ranks) joins; after the cut (and the final-
    // generation free, which collects the TopK-bounded rows so the last
    // checkpoint can be released too) only a self-contained
    // LocalRelation of the top-k ranks remains
    assert(joins.isEmpty,
      s"final plan must read the materialized ranks, found ${joins.length} joins")
    val locals = result.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(locals.nonEmpty, "expected a self-contained LocalRelation of the top-k ranks")
  }

  // The DataFrame loop this one replaced ran 21 jobs on a warm call:
  // two per round (the rank broadcast's and the round's own) plus the
  // top-K's (local[4], 4 shuffle partitions).
  test("a warm call runs one Spark job per round") {
    GraphOps.sparkImpl(spark, sfDir) // builds or reuses the session's prep
    val (_, jobs) = JobCount(spark)(GraphOps.sparkImpl(spark, sfDir))
    assert(jobs <= 10, s"a warm PageRank ran $jobs Spark jobs")
  }

  test("the prep persists one RDD and invocations persist nothing more") {
    GraphOps.dropCaches(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("graph_pagerank")(spark, sfDir).collect()
    val afterFirst = spark.sparkContext.getPersistentRDDs.keySet
    assert((afterFirst -- before).size == 1 && (before -- afterFirst).isEmpty,
      s"the prep persisted ${afterFirst -- before} and released ${before -- afterFirst}")
    SparkEntry.queries("graph_pagerank")(spark, sfDir).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == afterFirst)
  }
}
