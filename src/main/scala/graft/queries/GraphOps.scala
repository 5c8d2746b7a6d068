package graft.queries

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Iterative graph computation done Spark-right: PageRank over the
  * bipartite customer↔supplier graph (an edge where a customer's order
  * contains a supplier's line), 10 damped iterations.
  *
  * Determinism across engines is ALL-INTEGER fixed point: ranks live as
  * BIGINT units of 1e-12, per-edge contributions are `pr DIV deg`
  * (truncating integer division), the damping step is
  * `base + (sum * 85) DIV 100` — exact, order-independent BIGINT sums,
  * zero float ops, so ten chained iterations stay bit-identical in both
  * engines (float PageRank would drift by summation order on iteration
  * one). The tiny mass truncation loses is part of the operator's
  * definition, identically in both engines.
  *
  * Scale shape (100 TB): the edge relation is built once per session and
  * reused by every round; the rank relation is node-sized (orders of
  * magnitude below edges). Two regimes, chosen by whether the node set
  * fits the broadcast gate:
  *  - Broadcast (every bench and oracle run): the node ids live on the
  *    driver and the edges as one persisted RDD of primitive per-
  *    partition arrays, partitioned by dst. A round is ONE Spark job: the
  *    driver broadcasts its rank array, each task sums `pr DIV deg` per
  *    dst of its partition, and the driver applies the damping step to
  *    the collected sums. Top-K is picked on the driver. No Catalyst
  *    planning, no exchange, no checkpoint per round: on a scale-up box
  *    the fixed cost of a DataFrame round trip dominated the round
  *    (*Flare*, OSDI 2018).
  *  - Shuffle-hash (a node set past the gate): one node-sized rank
  *    shuffle into a shuffle-hash join with the src-partitioned edges,
  *    one combinable SUM shuffle by dst, and a `localCheckpoint` that
  *    cuts the lineage so the plan does not grow with iteration count
  *    (the dedup_groups pointer-jumping discipline).
  *
  * The DuckDB oracle is independently shaped: the same ten iterations
  * UNROLLED into chained CTEs (standard SQL forbids aggregation in a
  * recursive CTE term, and an unrolled chain is also a second
  * implementation rather than a transliteration).
  */
object GraphOps {

  private val Scale = 1000000000000L // 1e-12 fixed-point units
  private val Iters = 10
  private val TopK = 20

  /** Regime gate on the node-sized rank relation. Below it the ranks
    * live on the driver and ship to the tasks as a broadcast each round;
    * above it (a graph whose node set alone beats the broadcast limit)
    * the edge relation is hash-partitioned by src ONCE and each iteration
    * shuffles only the node-sized rank relation into a shuffle-hash join
    * — no edge re-shuffle, no sort. [[sparkImpl]] takes the gate as a
    * parameter so the regime-differential test can force the shuffle-
    * hash regime.
    */
  private val BroadcastMaxBytes = 64L << 20
  private val RankRowBytes = 48L // BIGINT node id + long rank + row overhead
  private val EdgeRowBytes = 64L // src, dst, deg BIGINTs + row overhead
  private val TargetPartitionBytes = 32L << 20

  /** Smallest per-partition edge slice that justifies occupying a core:
    * the parallelism floor on the iteration relation's partitioning stops
    * at `edgeBytes / MinPartitionBytes` partitions (swept at sf0.1 — see
    * OPTIMIZATION_r16.md, "graph_pagerank anti-scaling").
    */
  private val MinPartitionBytes = 8L << 20

  /** A node without a rank in the driver's rank array: it has no in-edge
    * from a ranked node, so it drops out of the next round — as the inner
    * join plus `groupBy(dst)` drops it in the shuffle-hash regime. Ranks
    * themselves are never negative.
    */
  private final val Absent = -1L

  private val ResultSchema = StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("node", StringType),
    StructField("pr", LongType)))

  /** Session-shared graph prep (the ANN/minhash prep contract): built
    * ONCE per (session, dir, regime) and kept — ten iterations plus
    * repeat invocations all read the same edges instead of re-deriving
    * the pair graph from the base tables. Nodes are BIGINT ids (customer
    * 2k, supplier 2k+1): integer keys shuffle a fraction of the string
    * bytes, and the display name is restored on the top-K at the end.
    */
  private sealed trait Prep {
    def dir: String
    def unpersistAll(): Unit
  }

  /** The broadcast regime's prep: the sorted node ids on the driver
    * (a node's position is its dense index) and the dst-partitioned
    * edges as [[EdgeBlock]]s over those indices. `ids` ships once, for
    * building the blocks, and stays alive with them: a lost block
    * recomputes from it.
    */
  private final case class LocalRanksPrep(dir: String, ids: Array[Long],
      idsB: Broadcast[Array[Long]], edges: RDD[EdgeBlock]) extends Prep {
    def unpersistAll(): Unit = {
      edges.unpersist(blocking = false)
      idsB.destroy()
    }
  }

  /** The shuffle-hash regime's prep: (edges ⋈ deg) partitioned by src,
    * and the node relation, both persisted.
    */
  private final case class ShufflePrep(dir: String, withDeg: DataFrame, nodes: DataFrame,
      n: Long) extends Prep {
    def unpersistAll(): Unit = {
      withDeg.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /** One partition of the broadcast regime's edges: edge `i` runs from
    * node index `src(i)` (out-degree `deg(i)`) to `dsts(slot(i))`; `dsts`
    * holds each of the partition's distinct dst indices once, and no
    * other partition holds them.
    */
  private final case class EdgeBlock(src: Array[Int], deg: Array[Long], slot: Array[Int],
      dsts: Array[Int]) {

    /** Per dst of this block, the sum of `pr DIV deg` over its edges from
      * ranked nodes; a dst with no such edge is left out.
      */
    def contribSums(ranks: Array[Long]): (Array[Int], Array[Long]) = {
      val sums = new Array[Long](dsts.length)
      val hit = new Array[Boolean](dsts.length)
      var i = 0
      while (i < src.length) {
        val pr = ranks(src(i))
        if (pr != Absent) {
          sums(slot(i)) += pr / deg(i)
          hit(slot(i)) = true
        }
        i += 1
      }
      val kept = dsts.indices.filter(hit(_))
      (kept.map(dsts(_)).toArray, kept.map(sums(_)).toArray)
    }
  }

  private object EdgeBlock {
    /** A block from (src, dst, deg) BIGINT rows, ids indexed by `ids`. */
    def apply(rows: Iterator[InternalRow], ids: Array[Long]): EdgeBlock = {
      def index(id: Long): Int = {
        val i = java.util.Arrays.binarySearch(ids, id)
        // the edge relation is symmetric, so every dst is also a src
        if (i < 0) throw new IllegalStateException(s"pagerank edge endpoint $id is not a node")
        i
      }
      val src, dst = Array.newBuilder[Int]
      val deg = Array.newBuilder[Long]
      rows.foreach { r =>
        src += index(r.getLong(0))
        dst += index(r.getLong(1))
        deg += r.getLong(2)
      }
      val d = dst.result()
      val dsts = d.distinct.sorted
      EdgeBlock(src.result(), deg.result(), d.map(java.util.Arrays.binarySearch(dsts, _)), dsts)
    }
  }

  /** Remove and unpersist cached preps (exposed for the regime test's
    * cleanup — a forced-gate prep must not stay pinned for the session).
    */
  private[queries] def dropPrep(s: SparkSession, key: String): Unit = {
    val reg = SessionRegistry.of(s)
    reg.synchronized {
      reg.remove(key).collect { case p: Prep => p }.foreach(_.unpersistAll())
    }
  }

  /** Unpersist and forget every graph prep — pagerank (all regime keys)
    * and the triangles edge cache (bench group-boundary hygiene).
    */
  private[graft] def dropCaches(s: SparkSession): Unit = {
    val reg = SessionRegistry.of(s)
    reg.synchronized {
      reg.keySet.filter(_.startsWith("pagerank_prep:")).foreach(k =>
        reg.remove(k).collect { case p: Prep => p }.foreach(_.unpersistAll()))
      reg.remove("triangles_prep").collect { case p: TriPrep => p }
        .foreach(_.edges.unpersist(false))
    }
  }

  private def prep(s: SparkSession, d: String, broadcastMaxBytes: Long): Prep = {
    val reg = SessionRegistry.of(s)
    reg.synchronized {
      // the regime gate is part of the prepared relation's SHAPE
      // (pre-partitioned or not), so a forced gate (the differential
      // test) builds its own prep instead of reusing the other regime's
      val key = s"pagerank_prep:$broadcastMaxBytes"
      reg.get(key).collect { case p: Prep if p.dir == d => p }.getOrElse {
        val pairs = Tables.orders(s, d)
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("cu"), (col("l_suppkey") * 2 + 1).as("su"))
          .distinct()
        // failure before registration must not pin caches for the session
        val edges = pairs.select(col("cu").as("src"), col("su").as("dst"))
          .unionAll(pairs.select(col("su").as("src"), col("cu").as("dst")))
          .persist()
        try {
          val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          val nodes = deg.select(col("src").as("node")).persist()
          val p =
            try {
              val n = nodes.count() // node-sized; materializes the edge cache too
              val joined = edges.join(deg, "src")
              // Size the iteration relation's partitioning by the MEASURED
              // edge count, floored at the cluster parallelism: neither a
              // cached plan nor an RDD gets AQE coalescing, and the fixed
              // session shuffle-partition count would undersplit a 100 TB
              // edge relation. The parallelism floor matters the other
              // way: per-iteration compute over every edge dominates task
              // overhead, so dropping below the core count serializes the
              // loop (measured 2x slower at sf0.1 with a single byte-sized
              // partition).
              val e = edges.count() // narrow job over the already-persisted edges
              // The parallelism floor is DATA-BOUNDED (r16): flooring at the
              // raw core count anti-scaled — at sf0.1 the 10-iteration loop
              // ran ~2x slower on 32 cores than on 8 (driver scaling ratio
              // 0.56), because each iteration schedules `parts` tasks over a
              // node-sized relation and per-task overhead dominates compute
              // on tiny partitions. Floor at the core count only while each
              // core still gets >= MinPartitionBytes of edges; below that,
              // fewer-but-meaningful partitions win (guide §2.6/§9: size
              // partitions to bytes, not cores). At 100 TB the data term
              // dominates and the floor is irrelevant.
              val coreFloor = math.min(s.sparkContext.defaultParallelism.toLong,
                e * EdgeRowBytes / MinPartitionBytes + 1)
              val parts = math.max(coreFloor,
                math.min(1L << 18, e * EdgeRowBytes / TargetPartitionBytes + 1)).toInt
              if (n * RankRowBytes <= broadcastMaxBytes) {
                // Broadcast regime: the node set is ≤ the gate BY
                // DEFINITION, so holding it on the driver has the same
                // bounded memory exposure the broadcast itself imposes.
                // Partitioning the edges by dst gives each dst's whole sum
                // to one task.
                val ids = nodes.collect().map(_.getLong(0)).sorted
                nodes.unpersist(blocking = false)
                val idsB = s.sparkContext.broadcast(ids)
                val blocks = joined.repartition(parts, col("dst"))
                  .select("src", "dst", "deg").queryExecution.toRdd
                  .mapPartitions(rows => Iterator(EdgeBlock(rows, idsB.value)))
                  .persist(StorageLevel.MEMORY_AND_DISK)
                val lp = LocalRanksPrep(d, ids, idsB, blocks)
                try blocks.count() // materialize from the edge cache
                catch { case t: Throwable => lp.unpersistAll(); throw t }
                lp
              } else {
                // partition by src so the shuffle-hash join co-locates with
                // the node-sized rank shuffle; the edge-sized contrib
                // shuffle by dst is inherent here
                val withDeg = joined.repartition(parts, col("src")).persist()
                try withDeg.count() // materialize from the edge cache
                catch {
                  case t: Throwable => withDeg.unpersist(blocking = false); throw t
                }
                ShufflePrep(d, withDeg, nodes, n)
              }
            } catch { case t: Throwable => nodes.unpersist(blocking = false); throw t }
          // a stale prep for ANOTHER dir under the same key must free its
          // caches (the TextOps.sharedPrep put-return discipline)
          reg.put(key, p).collect { case old: Prep if old.dir != d => old }
            .foreach(_.unpersistAll())
          p
        } finally edges.unpersist(blocking = false)
      }
    }
  }

  private[queries] def sparkImpl(s: SparkSession, d: String,
      broadcastMaxBytes: Long = BroadcastMaxBytes): DataFrame = {
    val top = prep(s, d, broadcastMaxBytes) match {
      case p: LocalRanksPrep => localRanksTopK(s, p)
      case p: ShufflePrep => shuffleTopK(p)
    }
    s.createDataFrame(top.zipWithIndex.map { case ((node, pr), i) => Row(i + 1, node, pr) }
      .asJava, ResultSchema)
  }

  /** Display name of a node id: customer 2k is `c<k>`, supplier 2k+1 `s<k>`. */
  private def nodeName(id: Long): String =
    if (id % 2 == 0) s"c${id / 2}" else s"s${(id - 1) / 2}"

  /** The broadcast regime's rounds, one Spark job each, then the top-K
    * (pr desc, node name asc) picked on the driver.
    */
  private def localRanksTopK(s: SparkSession, p: LocalRanksPrep): Seq[(String, Long)] = {
    val n = p.ids.length
    val baseQ = ((Scale / n) * 15) / 100
    var ranks = Array.fill(n)(Scale / n)
    for (_ <- 1 to Iters) {
      val ranksB = s.sparkContext.broadcast(ranks)
      val sums = try p.edges.map(_.contribSums(ranksB.value)).collect()
        finally ranksB.destroy()
      ranks = Array.fill(n)(Absent)
      for ((dsts, csums) <- sums; i <- dsts.indices) ranks(dsts(i)) = baseQ + (csums(i) * 85) / 100
    }
    // only nodes ranked at least the K-th highest rank can make the top K
    val ranked = (0 until n).filter(ranks(_) != Absent)
    val prs = ranked.map(ranks(_)).sorted
    val cut = if (prs.length > TopK) prs(prs.length - TopK) else Long.MinValue
    ranked.filter(ranks(_) >= cut).map(i => (nodeName(p.ids(i)), ranks(i)))
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      .take(TopK)
  }

  /** The shuffle-hash regime: DataFrame rounds over the src-partitioned
    * edges, each cut by an eager `localCheckpoint`, then a distributed
    * top-K of TopK rows to the driver.
    */
  private def shuffleTopK(p: ShufflePrep): Seq[(String, Long)] = {
    val baseQ = ((Scale / p.n) * 15) / 100
    var ranks = p.nodes.select(col("node"), lit(Scale / p.n).as("pr"))
    for (_ <- 1 to Iters) {
      // eager localCheckpoint: cuts lineage, materializes the iteration
      val next = p.withDeg.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst"), expr("pr DIV deg").as("contrib"))
        .groupBy("dst")
        .agg(sum(col("contrib")).as("csum"))
        .select(col("dst").as("node"), (lit(baseQ) + expr("(csum * 85) DIV 100")).as("pr"))
        .localCheckpoint()
      graft.util.Checkpoints.freeLocalCheckpoint(ranks) // superseded generation
      ranks = next
    }
    // collecting the TopK-bounded rows lets the FINAL generation be
    // freed right here, like its superseded predecessors: the returned
    // frame never reads the checkpoint
    val top = ranks.select(
        when(col("node") % 2 === 0, concat(lit("c"), expr("node DIV 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) DIV 2"))).as("node"),
        col("pr"))
      .orderBy(col("pr").desc, col("node")).limit(TopK)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.util.Checkpoints.freeLocalCheckpoint(ranks)
    top
  }

  private def duckSql: String = {
    val iters = (1 to Iters).map { k =>
      s"""pr$k AS (
         |  SELECT e.dst AS node,
         |    b.b + (CAST(SUM(p.pr // d.deg) AS BIGINT) * 85) // 100 AS pr
         |  FROM edges e
         |  JOIN pr${k - 1} p ON p.node = e.src
         |  JOIN deg d ON d.src = e.src
         |  CROSS JOIN base b
         |  GROUP BY e.dst, b.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(p AS VARCHAR) AS dst FROM pairs
       |  UNION ALL
       |  SELECT 's' || CAST(p AS VARCHAR), 'c' || CAST(c AS VARCHAR) FROM pairs),
       |deg AS (SELECT src, CAST(COUNT(1) AS BIGINT) AS deg FROM edges GROUP BY src),
       |nn AS (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM deg),
       |base AS (SELECT (($Scale // n) * 15) // 100 AS b FROM nn),
       |pr0 AS (SELECT src AS node, $Scale // n AS pr FROM deg CROSS JOIN nn),
       |$iters,
       |top AS (SELECT node, pr FROM pr$Iters ORDER BY pr DESC, node LIMIT $TopK)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS INT) AS rank, node, pr
       |FROM top
       |ORDER BY rank""".stripMargin
  }

  // --- Triangle counting over the co-supplier similarity graph ---------
  //
  // Graph: suppliers weighted by shared-part count, SPARSIFIED to the
  // strongest [[TriEdges]] edges (deterministic (shared DESC, u, v)
  // top-K — the standard similarity-graph step; the raw co-part graph is
  // complete and meaningless). Spark counts triangles the distributed
  // way: per-node sorted adjacency arrays, then ONE pass over edges
  // evaluating the codegen'd [[graft.functions.SortedIntersectCount]]
  // merge walk — c(u,v) = |N(u)∩N(v)| = triangles through that edge, and
  // t(v) = Σ_{e∋v} c(e) / 2 (each triangle at v is seen by both its
  // v-incident edges). No 3-way self-join, no cartesian: two node-keyed
  // hash joins + one combinable aggregate, each bounded by the K edges.
  // The DuckDB oracle is an independently-shaped 3-way relational join
  // enumerating each a<b<c triangle once.
  //
  // 100 TB shape: the (p, s) distinct and pair-count aggregates are
  // ordinary shuffles; top-K is Spark's sort-limit (per-partition top-K,
  // K rows to the driver-side take); everything downstream is bounded by
  // K, not by the quadratic pair space.
  private val TriEdges = 5000
  private val TriTopK = 50

  private case class TriPrep(dir: String, edges: DataFrame)

  private def trianglesImpl(s: SparkSession, d: String): DataFrame = {
    graft.functions.SortedIntersectCount.register(s)
    // persist, not checkpoint: the CacheManager keys on the logical plan,
    // so REPEAT invocations (every bench pass) reuse the built edge cache
    // — an eager localCheckpoint would rebuild the quadratic pair
    // aggregate per call (measured 2.8s vs sub-second at sf0.1). Tracked
    // in the session registry (the pagerank prep discipline) so
    // [[dropCaches]] can free it at the bench group boundary.
    val reg = SessionRegistry.of(s)
    val edges = reg.synchronized {
      reg.get("triangles_prep").collect { case p: TriPrep if p.dir == d => p.edges }
        .getOrElse {
          val ps = Tables.lineitem(s, d)
            .select(col("l_partkey").as("p"), col("l_suppkey").as("sup")).distinct()
          val w = ps.as("a").join(ps.as("b"),
              col("a.p") === col("b.p") && col("a.sup") < col("b.sup"))
            .groupBy(col("a.sup").as("u"), col("b.sup").as("v"))
            .agg(count(lit(1)).as("shared"))
          val e = w.orderBy(desc("shared"), col("u"), col("v")).limit(TriEdges)
            .select("u", "v").persist()
          reg.put("triangles_prep", TriPrep(d, e))
            .collect { case p: TriPrep if p.dir != d => p }
            .foreach(_.edges.unpersist(false))
          e
        }
    }
    val adj = edges.select(col("u").as("s"), col("v").as("o"))
      .union(edges.select(col("v").as("s"), col("u").as("o")))
      .groupBy("s").agg(array_sort(collect_set(col("o").cast("string"))).as("nbrs"))
    // `cnt` feeds BOTH sides of the final union — without materialization
    // the neighbor-intersection join (the heavy op) runs twice (r15-opt
    // plan audit). Edge-count-bounded rows; materializing is free.
    val cnt = graft.util.Materialize.once(edges
      .join(adj.select(col("s").as("u"), col("nbrs").as("nu")), "u")
      .join(adj.select(col("s").as("v"), col("nbrs").as("nv")), "v")
      .select(col("u"), col("v"),
        expr("CAST(graft_intersect_count(nu, nv) AS BIGINT)").as("c")))
    cnt.select(col("u").as("supp"), col("c"))
      .union(cnt.select(col("v").as("supp"), col("c")))
      .groupBy("supp").agg(expr("CAST(SUM(c) DIV 2 AS BIGINT)").as("tri"))
      .filter(col("tri") > 0)
      .orderBy(desc("tri"), col("supp"))
      .limit(TriTopK)
  }

  private val trianglesDuck: String =
    s"""WITH ps AS (SELECT DISTINCT l_partkey p, l_suppkey s FROM lineitem),
       |w AS (SELECT a.s u, b.s v, COUNT(*) shared
       |      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s GROUP BY a.s, b.s),
       |edges AS (SELECT u, v FROM w ORDER BY shared DESC, u, v LIMIT $TriEdges),
       |tri AS (SELECT e1.u a, e1.v b, e2.v c
       |        FROM edges e1 JOIN edges e2 ON e2.u = e1.v
       |        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
       |pernode AS (SELECT node, COUNT(*) t FROM (
       |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri) GROUP BY node)
       |SELECT CAST(node AS BIGINT) AS supp, CAST(t AS BIGINT) AS tri
       |FROM pernode ORDER BY tri DESC, supp LIMIT $TriTopK""".stripMargin

  def queries: Map[String, QueryDef] = Map(
    "graph_pagerank" -> QueryDef(sparkImpl(_, _), duckSql),
    "graph_triangles" -> QueryDef(trianglesImpl _, trianglesDuck)
  )
}
