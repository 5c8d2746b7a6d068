package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Plan-shape regression tests (the Spark analog of the reference's
  * plan_tests.rs): the scale-critical properties of the dedup plans are
  * asserted structurally, so a silent regression — a global window
  * sneaking back into the MinHash signatures, or the exploded corpus
  * getting broadcast into the n-gram self-join — fails a test instead of
  * only showing up as a bench cliff at the next scale-up. The DSv2
  * routing shapes (columnar COW vs row MOR, zero-partition pruning,
  * chunking, stats-contained incremental) live in DataSourceV2Spec.
  */
class PlanShapeSpec extends SparkTestBase {

  private def df(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  /** All physical nodes of the STATIC plan (pre-AQE). The static plan is
    * where the shape decisions live — broadcast()/hint() resolution and
    * join-strategy choice; the post-AQE plan can't serve here because at
    * test scale AQE's empty-relation propagation legitimately deletes
    * whole operators (e.g. the anti-join against an empty hot set) that
    * the assertions are about.
    */
  private def allNodes(d: DataFrame): Seq[SparkPlan] = {
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        // inputPlan, not executedPlan: once another test materializes a
        // shared cached relation, the adaptive plan is FINAL and AQE's
        // empty-relation propagation has deleted the very operators under
        // audit (the anti-join against a test-scale-empty hot set) —
        // assertions must read the static shape, materialized or not
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case q: QueryStageExec => Seq(q.plan)
        // shared prep relations persist; the shape decisions under audit
        // (hot-set anti-join, signature aggregation) live in the cache
        // BUILD plan, so traverse into it
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case _ => Nil
      }
      p +: (p.children ++ nested).flatMap(flatten)
    }
    flatten(d.queryExecution.sparkPlan)
  }

  test("minhash signatures are windowless (no global ROW_NUMBER dictionary)") {
    val q = df("dedup_minhash_lsh")
    // the one-task scale-killer shape was 16 un-partitioned ROW_NUMBER
    // windows over the vocabulary; the binary-min path needs no window of
    // any kind, partitioned or not
    val windows = q.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(windows.isEmpty,
      s"minhash plan must not contain window operators, found: ${windows.map(_.windowExpressions)}")
  }

  test("ngram hot set is broadcast-anti-joined, never shuffled") {
    val nodes = allNodes(df("dedup_ngram_jaccard"))
    // hot-set removal: a broadcast LeftAnti hash join (map-side filter)
    assert(nodes.exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftAnti
      case _ => false
    }, "hot-set anti-join must broadcast the hot set")
    // candidate self-join: shuffled hash join of the rare relation — the
    // exploded corpus must NOT be a broadcast build side (the r2 size-
    // estimate pathology), nor sort-merge (pointless sort of shingles)
    assert(nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "candidate self-join must be a shuffled hash join")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no sort-merge join should appear in the ngram plan")
  }

  /** Broadcast hash joins whose BUILD side carries the per-doc shingle-set
    * array column — the object whose broadcast is 8 GB-hard-limit fatal at
    * corpus scale. The verify-phase gate decides whether these may exist.
    */
  private def arrayBroadcasts(nodes: Seq[SparkPlan]): Seq[BroadcastHashJoinExec] =
    nodes.collect {
      case j: BroadcastHashJoinExec if (j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }).output.exists(_.name == "shset") => j
    }

  test("minhash verify phase broadcasts the array relation below the gate") {
    val nodes = allNodes(df("dedup_minhash_lsh"))
    // at bench scale the docset relation is under the size gate: the
    // array-laden doc sets are joined to candidates via broadcast — a
    // sort-merge or shuffled join here moves duplicated arrays through a
    // shuffle for no reason
    assert(arrayBroadcasts(nodes).size >= 2,
      "verify joins against the doc-set relation must be broadcasts below the gate")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no sort-merge join should appear in the minhash plan")
  }

  /** Sort-merge joins that move the shset array column through a
    * sort — the shape that duplicated GBs of arrays through shuffles in
    * r2. Narrow-key sort-merge joins (ids, shingle keys) are acceptable
    * in the forced large regime, where the derived-relation broadcasts
    * are deliberately dropped and AQE owns the strategy at runtime.
    */
  private def arraySortMerges(nodes: Seq[SparkPlan]): Seq[SortMergeJoinExec] =
    nodes.collect {
      case j: SortMergeJoinExec if j.output.exists(_.name == "shset") => j
    }

  test("minhash scale regime never broadcasts or sort-merges the array relation") {
    // the forced large-corpus regime (dedup_minhash_lsh_scale passes
    // scale = true, every gate at 0): the corpus-sized docset relation
    // must NOT be a broadcast build side anywhere — the candidate-id
    // semi-join plus a shuffle-hash join replaces it
    val nodes = allNodes(df("dedup_minhash_lsh_scale"))
    assert(arrayBroadcasts(nodes).isEmpty,
      "above the gate the doc-set array relation must never be broadcast")
    assert(nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "scale-regime verify must shuffle-hash join the id-filtered arrays")
    assert(arraySortMerges(nodes).isEmpty,
      "the array relation must not move through a sort-merge join")
  }

  test("ngram scale regime never broadcasts or sort-merges the array relation") {
    val nodes = allNodes(df("dedup_ngram_jaccard_scale"))
    assert(arrayBroadcasts(nodes).isEmpty,
      "above the gate the doc-set array relation must never be broadcast")
    assert(arraySortMerges(nodes).isEmpty,
      "the array relation must not move through a sort-merge join")
  }

  /** Broadcast joins whose build side is the benchmark gram set (single
    * `gram` column) — small by nature (eval suites are MBs), but the gate
    * must still bound it: a pathological benchmark relation falls back to
    * shuffle-hash instead of hitting the broadcast hard limit.
    */
  private def gramBroadcasts(nodes: Seq[SparkPlan]): Seq[BroadcastHashJoinExec] =
    nodes.collect {
      case j: BroadcastHashJoinExec if (j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }).output.map(_.name) == Seq("gram") => j
    }

  test("decontaminate broadcasts the benchmark gram set below the gate") {
    val nodes = allNodes(df("text_decontaminate"))
    assert(gramBroadcasts(nodes).nonEmpty,
      "the benchmark gram set must be the broadcast side below the gate")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no sort-merge join should appear in the decontaminate plan")
  }

  test("decontaminate scale regime bloom-prefilters then shuffle-hash joins") {
    val nodes = allNodes(df("text_decontaminate_scale"))
    assert(gramBroadcasts(nodes).isEmpty,
      "above the gate the benchmark gram set must not be broadcast")
    assert(nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "scale-regime decontaminate must shuffle-hash join the gram sets")
    // the corpus gram stream must be prefiltered MAP-SIDE by the bench
    // bloom before any exchange: only probable hits shuffle
    assert(nodes.exists(_.toString.contains("graft_bloom_contains")),
      "scale-regime decontaminate must bloom-prefilter the corpus gram stream")
  }

  test("decontaminate giant-benchmark regime skips the bloom, keeps shuffle-hash") {
    val nodes = allNodes(df("text_decontaminate_shuffle"))
    assert(gramBroadcasts(nodes).isEmpty &&
      nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "forced-shuffle decontaminate must shuffle-hash join without broadcasting")
    assert(!nodes.exists(_.toString.contains("graft_bloom_contains")),
      "past the bloom item gate no bloom may be built")
  }

  test("ANN near-dup plan never sort-merges the embedding arrays") {
    val nodes = allNodes(df("embed_dedup_lsh"))
    // the quantized-vector relation carries 64-int arrays; a sort-merge
    // join would shuffle + sort duplicated arrays (the r2 pathology class)
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no sort-merge join should appear in the ANN near-dup plan")
    // the banded relation must come from the persisted prep cache: 8 band
    // branches each recompute a 96-dot signature otherwise (the un-gated
    // persist is a measured 3x on this query)
    assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "band self-join branches must scan the persisted prep relation")
  }

  test("sq8 top-R selection is two-phase (salted local window first)") {
    val q = df("embed_ann_sq8")
    // a single window partitioned by query_id alone would funnel the whole
    // scored corpus into Q tasks; the salted pre-window (partitioned by
    // query_id AND neighbor_id % 32) must exist so the per-query window
    // only sees Q x salt x R survivors
    val windows = q.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(windows.exists(_.partitionSpec.size == 2),
      "sq8 must pre-select candidates under a salted two-key window")
    val nodes = allNodes(q)
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no sort-merge join should appear in the sq8 plan (array relations)")
  }

  test("label-outlier centroids broadcast back onto the corpus") {
    // the (labels × dim) centroid relation is dictionary-sized: the join
    // back onto the vectors must be a broadcast with the centroid side as
    // the build side — a sort-merge here would shuffle+sort the
    // array-laden corpus rows on label
    val nodes = allNodes(df("embed_label_outliers"))
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "centroid join must be a broadcast hash join")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "outlier plan must not sort-merge the embedding arrays")
  }

  test("exact dedup aggregates with map-side partial combine") {
    val nodes = allNodes(df("dedup_exact"))
    assert(nodes.exists(n => n.nodeName.contains("HashAggregate") &&
      n.toString().contains("partial_")),
      "exact dedup must partial-aggregate before the shuffle")
  }

  test("covariance expands dim pairs within-row and combines map-side") {
    val q = df("embed_covariance")
    val nodes = allNodes(q)
    // pairs come from lateral explodes of the SAME row — a self-join on
    // vec_id would shuffle the corpus twice for data each row already has
    assert(!nodes.exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec] || n.isInstanceOf[BroadcastHashJoinExec]),
      s"covariance must not join: ${nodes.map(_.nodeName).mkString(",")}")
    // the (i, j) aggregate must partial-combine: the one shuffle then
    // carries <= 2080 moment rows per task regardless of corpus size
    assert(nodes.exists(n => n.nodeName.contains("HashAggregate") &&
      n.toString().contains("partial_")),
      "covariance moments must partial-aggregate before the shuffle")
    assert(q.count() == 64L * 65 / 2)
  }

  test("pca projection is a map-only pass over an inlined literal vector") {
    val q = df("embed_pca_project")
    // the eigensolve consumed only the 2080-row moment relation on the
    // driver; the projection itself must be scan → graft_dot(literal) →
    // sort — no join against a vector relation, no aggregate
    val nodes = allNodes(q)
    assert(!nodes.exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec] || n.isInstanceOf[BroadcastHashJoinExec]),
      s"projection must not join: ${nodes.map(_.nodeName).mkString(",")}")
    assert(!nodes.exists(_.nodeName.contains("HashAggregate")),
      "projection must not aggregate")
    val projs = q.collect().map(_.getAs[Long]("proj"))
    assert(projs.distinct.length > 1, "projection must separate the corpus")
  }
}
