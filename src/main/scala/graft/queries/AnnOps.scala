package graft.queries

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Approximate-nearest-neighbor scale path: random-hyperplane (SimHash)
  * LSH over the quantized embeddings. Candidate pairs come only from
  * band-bucket collisions — never all-pairs — then are exact-verified with
  * the true cosine score; the hyperplanes are deterministic integer
  * functions of (plane, dim), so DuckDB computes the identical pipeline
  * and the result is hash-match oracle-checked despite being "approximate".
  *
  * Scale shape (100 TB): signatures are one narrow map-side pass; the only
  * shuffle is the band-bucket join whose fan-out is bounded by bucket
  * collision counts, and the exact verification touches candidate pairs
  * only. This is the same skeleton as the text MinHash-LSH dedup.
  */
object AnnOps {

  // 96 planes in 8 bands of 12 bits: 4096 buckets per band. Band WIDTH
  // is the bucket-skew/scale lever (the simhash lesson, TextOps:~430) —
  // k-bit keys bound the self-join at ~bands*N^2/2^k pairs, and the
  // original 4-bit/16-bucket layout was quadratic at corpus scale
  // (~N^2/4 candidate pairs; this layout emits ~N^2/512, a 128x cut).
  // Band COUNT is the recall lever: per-band collision for angle theta
  // is (1-theta/pi)^12, so 8 bands catch cos>=0.9 pairs at ~75% and
  // cos~0.7 at ~20%; the low-similarity tail is deliberately out of
  // LSH's scope — IVF probes, the SQ8 quantized scan, and the exactness
  // baselines (embed_dedup_cosine / embed_knn_brute) own it.
  private val numPlanes = 96
  private val bandBits = 12
  private val numBands = numPlanes / bandBits // 8

  /** Deterministic pseudo-random hyperplane component for (plane j, dim i):
    * spreads over [-504, 504] via integer arithmetic both engines share.
    */
  private def planeComponent = "CAST(j AS BIGINT) * 73856093 + CAST(i AS BIGINT) * 19349663"

  /** The hyperplanes are CONSTANTS — the Spark side unrolls them to 96
    * literal 64-int arrays feeding codegen'd `graft_dot` calls, instead of
    * rebuilding the matrix per row through interpreted `transform`
    * closures (the round-2 constant-factor hot spot). DuckDB keeps the
    * closed-form `list_transform` text; both evaluate to the same matrix
    * (the Scala arithmetic below is the same non-negative BIGINT
    * expression).
    */
  private def planeLiteral(j: Int): String =
    (0 until 64)
      .map(i => s"${(j.toLong * 73856093L + i.toLong * 19349663L) % 1009L - 504L}L")
      .mkString("array(", ",", ")")

  private def sparkSigExpr(dot: String): String =
    (0 until numPlanes)
      .map(j => s"CASE WHEN ${dot.format("q", planeLiteral(j))} >= 0 THEN 1 ELSE 0 END")
      .mkString("array(", ",\n      ", ")")
  // Cold-path attribution (one-off timing of the prep sub-steps and of
  // codegen, sf-independent):
  // prep analyze+materialize ≈ 0.7s; ~1.5s is Janino codegen compile of the
  // main query's stages; the remaining ~2.5s is session-first-query
  // machinery (shuffle/cache-scan init), not plan cost. A DataFrame-API
  // literal rewrite of the 96-plane signature was measured and did NOT
  // move the cold number — the SQL-text form stays (one construction path).

  private def duckSigExpr(dot: String, seq64: String, seq16: String, listTransform: String): String =
    s"""$listTransform($seq16, j ->
       |      CASE WHEN ${dot.format("q", s"$listTransform($seq64, i -> ($planeComponent) % 1009 - 504)")} >= 0
       |      THEN 1 ELSE 0 END)""".stripMargin

  /** Shared CTE prefix: quantized vectors + norms + sign-bit signatures +
    * exploded band keys, per dialect.
    */
  private def lshPrefix(
      listTransform: String,
      dot: String,
      sigExpr: String,
      bandsFrom: String,
      elementAt: String
  ): String = {
    val selfDot = dot.format("q", "q")
    def bit(k: String) = s"$elementAt(bits, $k)"
    val bandKey = (0 until bandBits)
      .map(i => s"${bit(s"$bandBits*b+${i + 1}")} * ${1L << (bandBits - 1 - i)}")
      .mkString(" + ")
    s"""qe AS (
       |  SELECT vec_id, $listTransform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |qn AS (SELECT vec_id, q, $selfDot AS qnorm FROM qe),
       |sig AS (
       |  SELECT vec_id,
       |    $sigExpr AS bits
       |  FROM qn),
       |banded AS (
       |  SELECT vec_id, b,
       |    $bandKey AS band_key
       |  FROM sig $bandsFrom)""".stripMargin
  }

  /** ANN top-k: LSH bucket candidates for the 5 query vectors, exact
    * cosine rerank, dense ranks — approximate k-NN whose deterministic
    * pipeline both engines replay identically.
    */
  private def annTopkSql(
      listTransform: String,
      dot: String,
      sigExpr: String,
      bandsFrom: String,
      elementAt: String
  ): String = {
    val pairDot = dot.format("a.q", "b.q")
    s"""WITH ${lshPrefix(listTransform, dot, sigExpr, bandsFrom, elementAt)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM banded a JOIN banded b
       |    ON a.b = b.b AND a.band_key = b.band_key
       |    AND a.vec_id < 5 AND b.vec_id <> a.vec_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST($pairDot AS DOUBLE) / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)) AS score
       |  FROM cand c
       |  JOIN qn a ON a.vec_id = c.query_id
       |  JOIN qn b ON b.vec_id = c.neighbor_id),
       |pre AS (
       |  SELECT query_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id, neighbor_id % 32
       |      ORDER BY score DESC, neighbor_id) AS rk1
       |  FROM scored),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM pre WHERE rk1 <= 5)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Near-dup pipeline per dialect. `bandsFrom` yields one row per
    * (vec, band) with an integer band key from 4 sign bits.
    */
  private def lshSql(
      listTransform: String,
      dot: String,
      sigExpr: String,
      bandsFrom: String, // FROM-clause fragment yielding band index b per sig row
      elementAt: String
  ): String = {
    val pairDot = dot.format("a.q", "b.q")
    s"""WITH ${lshPrefix(listTransform, dot, sigExpr, bandsFrom, elementAt)},
       |candidates AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM banded a JOIN banded b
       |    ON a.b = b.b AND a.band_key = b.band_key AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT c.vec_a, c.vec_b,
       |    CAST($pairDot AS DOUBLE) / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)) AS score
       |  FROM candidates c
       |  JOIN qn a ON a.vec_id = c.vec_a
       |  JOIN qn b ON b.vec_id = c.vec_b)
       |SELECT vec_a, vec_b, score FROM scored
       |WHERE score >= 0.25
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  private val sparkDot = "graft_dot(%s, %s)"
  private val duckDot = "CAST(list_dot_product(%s, %s) AS BIGINT)"

  private val duckSql: String = lshSql(
    listTransform = "list_transform",
    dot = duckDot,
    sigExpr = duckSigExpr(duckDot, "range(0, 64)", "range(0, 96)", "list_transform"),
    bandsFrom = s", UNNEST(range(0, $numBands)) AS bt(b)",
    elementAt = "list_extract")

  private val duckAnnSql: String = annTopkSql(
    "list_transform", duckDot, duckSigExpr(duckDot, "range(0, 64)", "range(0, 96)", "list_transform"),
    s", UNNEST(range(0, $numBands)) AS bt(b)", "list_extract")

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path beside the
    * LSH one: vectors are assigned to their nearest of [[ivfNumLists]]
    * deterministic centroids (the lowest-id vectors serve as externally
    * supplied centroids, so both engines replay the identical pipeline);
    * each query probes its [[ivfNProbe]] closest lists and only those
    * lists' members are exactly reranked.
    *
    * Scale shape (100 TB): assignment is one broadcast-join map pass
    * (centroids are tiny), the inverted lists shuffle on `cid` only for
    * the probed lists, and the exact rerank touches candidates only —
    * the corpus is never compared all-pairs.
    */
  private val ivfNumLists = 8
  private val ivfNProbe = 2

  private def ivfSql(listTransform: String, dot: String): String = {
    val selfDot = dot.format("q", "q")
    val centDot = dot.format("v.q", "c.cq")
    val pairDot = dot.format("a.q", "b.q")
    s"""WITH qe AS (
       |  SELECT vec_id, $listTransform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |qn AS (SELECT vec_id, q, $selfDot AS qnorm FROM qe),
       |cent AS (
       |  SELECT vec_id AS cid, q AS cq, qnorm AS cnorm
       |  FROM qn WHERE vec_id < $ivfNumLists),
       |assign AS (
       |  SELECT v.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY CAST($centDot AS DOUBLE) / sqrt(CAST(c.cnorm AS DOUBLE)) DESC, c.cid) AS rk
       |  FROM qn v CROSS JOIN cent c),
       |lists AS (SELECT vec_id, cid FROM assign WHERE rk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM assign
       |  WHERE vec_id < 5 AND rk <= $ivfNProbe),
       |cand AS (
       |  SELECT DISTINCT p.query_id, l.vec_id AS neighbor_id
       |  FROM probes p JOIN lists l ON l.cid = p.cid AND l.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST($pairDot AS DOUBLE) / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)) AS score
       |  FROM cand c
       |  JOIN qn a ON a.vec_id = c.query_id
       |  JOIN qn b ON b.vec_id = c.neighbor_id),
       |pre AS (
       |  SELECT query_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id, neighbor_id % 32
       |      ORDER BY score DESC, neighbor_id) AS rk1
       |  FROM scored),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM pre WHERE rk1 <= 5)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Spark impls run against shared `ann_qn` / `ann_banded` views: Spark
    * inlines CTEs, so a single-statement formulation re-quantizes the
    * corpus and recomputes signatures once per self-join branch (2-4x).
    * The views are built ONCE per (session, sf dir) and reused by all
    * three ANN queries — the r3 per-invocation rotation rebuilt and
    * re-materialized them for every query, charging ~2s of redundant
    * cache builds to whichever ANN query the bench ran first.
    *
    * The shared views are ALWAYS persisted: with 8 band branches each
    * recomputing a 96-dot signature, the one-time cache build wins at
    * every scale (measured at sf0.1: embed_dedup_lsh 2.15s -> 0.67s;
    * the r5 size gate predated the 12-bit re-banding). DuckDB keeps the
    * single-statement CTE text.
    */
  private case class Prep(dir: String, dfs: Seq[DataFrame])

  private[queries] def sparkPrep(s: SparkSession, d: String): Unit = {
    graft.functions.LongArrayDot.register(s)
    val reg = SessionRegistry.of(s)
    // synchronized check-then-build (same contract as TextOps.sharedPrep):
    // concurrent first invocations must not double-persist the prep
    reg.synchronized { sparkPrepLocked(s, d, reg) }
  }

  private def sparkPrepLocked(s: SparkSession, d: String,
      reg: scala.collection.concurrent.TrieMap[String, Any]): Unit = {
    val cached = reg.get("annprep").collect { case p: Prep if p.dir == d => p }
    val Seq(qn, banded) = cached.map(_.dfs).getOrElse {
      Tables.ensureView(s, d, "embeddings")(Tables.embeddings(s, d))
      val selfDot = sparkDot.format("q", "q")
      val qn = s.sql(
        s"""SELECT vec_id, q, $selfDot AS qnorm FROM (
           |  SELECT vec_id, transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
           |  FROM embeddings)""".stripMargin)
      def bit(k: String) = s"element_at(bits, $k)"
      val bandKey = (0 until bandBits)
        .map(i => s"${bit(s"$bandBits*b+${i + 1}")} * ${1L << (bandBits - 1 - i)}")
        .mkString(" + ")
      val banded = qn
        .selectExpr("vec_id", s"${sparkSigExpr(sparkDot)} AS bits")
        .selectExpr("vec_id", "bits", s"explode(sequence(0, ${numBands - 1})) AS b")
        .selectExpr("vec_id", "b", s"$bandKey AS band_key")
      val dfs = Seq(qn, banded)
      // ALWAYS persist: the r5 gate skipped the persist at bench scale
      // (cache build > 2-4 recomputes of a 16-dot signature), but the
      // 12-bit re-banding flipped the math — 8 band branches each
      // recompute a 96-dot signature, so the one-time build wins at
      // every scale (and at 100 TB MEMORY_AND_DISK spills, it does not
      // fail)
      dfs.foreach(_.persist())
      reg.put("annprep", Prep(d, dfs))
        .collect { case p: Prep if p.dir != d => p }
        .foreach(_.dfs.foreach(_.unpersist(false)))
      dfs
    }
    // register only on first build (or if dropped): replacing a temp view
    // cascades cache invalidation through the CacheManager to every plan
    // that references it.
    if (cached.isEmpty || !s.catalog.tableExists("ann_qn") ||
        !s.catalog.tableExists("ann_banded")) {
      qn.createOrReplaceTempView("ann_qn")
      banded.createOrReplaceTempView("ann_banded")
    }
  }

  /** Unpersist and forget every ANN prep — the bench calls this at its
    * group boundary so the session never carries a drained group's
    * caches into the next group's measurements.
    */
  private[graft] def dropCaches(s: SparkSession): Unit = {
    val reg = SessionRegistry.of(s)
    reg.synchronized {
      Seq("annprep", "sq8prep").foreach { k =>
        reg.remove(k).collect { case p: Prep => p }
          .foreach(_.dfs.foreach(_.unpersist(false)))
      }
      reg.remove("pqprep").collect { case p: PqPrep => p }.foreach(_.release())
    }
  }

  private def sparkLshMain: String = {
    val pairDot = sparkDot.format("a.q", "b.q")
    s"""WITH candidates AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM ann_banded a JOIN ann_banded b
       |    ON a.b = b.b AND a.band_key = b.band_key AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT c.vec_a, c.vec_b,
       |    CAST($pairDot AS DOUBLE) / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)) AS score
       |  FROM candidates c
       |  JOIN ann_qn a ON a.vec_id = c.vec_a
       |  JOIN ann_qn b ON b.vec_id = c.vec_b)
       |SELECT vec_a, vec_b, score FROM scored
       |WHERE score >= 0.25
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  private def sparkAnnMain: String = {
    val pairDot = sparkDot.format("a.q", "b.q")
    s"""WITH cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM ann_banded a JOIN ann_banded b
       |    ON a.b = b.b AND a.band_key = b.band_key
       |    AND a.vec_id < 5 AND b.vec_id <> a.vec_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST($pairDot AS DOUBLE) / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)) AS score
       |  FROM cand c
       |  JOIN ann_qn a ON a.vec_id = c.query_id
       |  JOIN ann_qn b ON b.vec_id = c.neighbor_id),
       |pre AS (
       |  SELECT query_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id, neighbor_id % 32
       |      ORDER BY score DESC, neighbor_id) AS rk1
       |  FROM scored),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM pre WHERE rk1 <= 5)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // Inline `assign` CTE, deliberately: the r15-opt materialization of the
  // list-assignment window (referenced twice: inverted lists + query
  // probes) was A/B-adjudicated a REAL regression in r16 — isolated
  // min-of-5 on one box, r15-build inline 0.474 s vs materialized 0.703 s
  // (persist mode 0.684 s); embed_ann_recall, which shared the view,
  // 0.244 s inline vs 0.403 s materialized. Running the centroid
  // cross-join + window twice beats the materialize round-trip — the
  // assignment slice is corpus-row-sized.
  private def sparkIvfMain: String = {
    val centDot = sparkDot.format("v.q", "c.cq")
    val pairDot = sparkDot.format("a.q", "b.q")
    s"""WITH cent AS (
       |  SELECT vec_id AS cid, q AS cq, qnorm AS cnorm
       |  FROM ann_qn WHERE vec_id < $ivfNumLists),
       |assign AS (
       |  SELECT v.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY CAST($centDot AS DOUBLE) / sqrt(CAST(c.cnorm AS DOUBLE)) DESC, c.cid) AS rk
       |  FROM ann_qn v CROSS JOIN cent c),
       |lists AS (SELECT vec_id, cid FROM assign WHERE rk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM assign
       |  WHERE vec_id < 5 AND rk <= $ivfNProbe),
       |cand AS (
       |  SELECT DISTINCT p.query_id, l.vec_id AS neighbor_id
       |  FROM probes p JOIN lists l ON l.cid = p.cid AND l.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST($pairDot AS DOUBLE) / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)) AS score
       |  FROM cand c
       |  JOIN ann_qn a ON a.vec_id = c.query_id
       |  JOIN ann_qn b ON b.vec_id = c.neighbor_id),
       |pre AS (
       |  SELECT query_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id, neighbor_id % 32
       |      ORDER BY score DESC, neighbor_id) AS rk1
       |  FROM scored),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM pre WHERE rk1 <= 5)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  private def runSpark(main: => String)(s: SparkSession, d: String): DataFrame = {
    sparkPrep(s, d)
    s.sql(main)
  }

  // ---- SQ8 scalar-quantized exhaustive scan (FAISS IndexFlat+SQ8 shape) --
  //
  // The third ANN regime beside LSH and IVF: per-dimension min/max scalar
  // quantization to [0, 255] ints, an exhaustive scan over the QUANTIZED
  // vectors (4x less memory bandwidth than the float corpus — at 100 TB
  // the scan cost IS memory bandwidth), then an exact rerank of the
  // surviving candidates only. All quantized dot products are BIGINT
  // arithmetic, so both engines replay the pipeline bit-identically; the
  // only doubles are per-element quantization (no reduction order) and
  // the final scores.
  //
  // Scale shape: the stats pass is one map-side-combinable per-dim
  // aggregate (64 rows out); quantization is a map pass against the
  // broadcast single-row stats; the query side is tiny and broadcast into
  // a nested-loop scan; and per-query top-R selection is TWO-PHASE — a
  // ROW_NUMBER window salted by neighbor_id % 32 picks local top-R, then
  // the global window sees only Q x 32 x R survivors. A single window
  // partitioned by query_id alone would funnel the whole scored corpus
  // into Q tasks (the skew analog of the r3 global-window killer).
  private val sq8Rerank = 20
  private val sq8Salt = 32

  private def sq8TopkSql(
      quantRel: String, // relation yielding (vec_id, q8, n8)
      exactRel: String, // relation yielding (vec_id, q, qnorm)
      dot: String): String = {
    val qDot = dot.format("q.q8", "b.q8")
    val pairDot = dot.format("a.q", "b.q")
    s"""scored AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CASE WHEN q.n8 = 0 OR b.n8 = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST($qDot AS DOUBLE) / sqrt(CAST(q.n8 AS DOUBLE) * CAST(b.n8 AS DOUBLE)) END AS score8
       |  FROM (SELECT * FROM $quantRel WHERE vec_id < 5) q
       |  CROSS JOIN $quantRel b
       |  WHERE b.vec_id <> q.vec_id),
       |pre AS (
       |  SELECT query_id, neighbor_id, score8,
       |    ROW_NUMBER() OVER (PARTITION BY query_id, neighbor_id % $sq8Salt
       |      ORDER BY score8 DESC, neighbor_id) AS rk1
       |  FROM scored),
       |cand AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score8 DESC, neighbor_id) AS rk2
       |  FROM pre WHERE rk1 <= $sq8Rerank),
       |sel AS (SELECT query_id, neighbor_id FROM cand WHERE rk2 <= $sq8Rerank),
       |rescored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST($pairDot AS DOUBLE) / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)) AS score
       |  FROM sel c
       |  JOIN $exactRel a ON a.vec_id = c.query_id
       |  JOIN $exactRel b ON b.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM rescored)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  private val duckSq8Sql: String =
    s"""WITH pd AS (
       |  SELECT i, MIN(CAST(v AS DOUBLE)) AS mn, MAX(CAST(v AS DOUBLE)) AS mx
       |  FROM (SELECT UNNEST(embedding) AS v,
       |               UNNEST(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)
       |  GROUP BY i),
       |stats AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxes FROM pd),
       |q8 AS (
       |  SELECT vec_id, list_transform(range(1, len(embedding) + 1), i ->
       |    CAST(round((CAST(embedding[i] AS DOUBLE) - mins[i]) /
       |      (CASE WHEN maxes[i] > mins[i] THEN maxes[i] - mins[i] ELSE 1.0 END) * 255.0)
       |      AS BIGINT)) AS q8
       |  FROM embeddings CROSS JOIN stats),
       |sq8 AS (SELECT vec_id, q8, ${duckDot.format("q8", "q8")} AS n8 FROM q8),
       |qe AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |qn AS (SELECT vec_id, q, ${duckDot.format("q", "q")} AS qnorm FROM qe),
       |${sq8TopkSql("sq8", "qn", duckDot)}""".stripMargin

  /** The quantized relation is shared session state like ann_qn (built
    * once per session+dir, always persisted — quantized vectors are a
    * fraction of the raw embeddings' footprint, and every probe reuses
    * them, so the size gate was removed along with ann_qn's).
    */
  private def sq8Prep(s: SparkSession, d: String): Unit = {
    sparkPrep(s, d) // ann_qn (exact rerank side) + graft_dot + embeddings view
    val reg = SessionRegistry.of(s)
    reg.synchronized { sq8PrepLocked(s, d, reg) }
  }

  private def sq8PrepLocked(s: SparkSession, d: String,
      reg: scala.collection.concurrent.TrieMap[String, Any]): Unit = {
    val cached = reg.get("sq8prep").collect { case p: Prep if p.dir == d => p }
    val Seq(sq8) = cached.map(_.dfs).getOrElse {
      val q8 = s.sql(
        """WITH pd AS (
          |  SELECT pos + 1 AS i, MIN(CAST(v AS DOUBLE)) AS mn, MAX(CAST(v AS DOUBLE)) AS mx
          |  FROM (SELECT posexplode(embedding) AS (pos, v) FROM embeddings)
          |  GROUP BY pos),
          |stats AS (
          |  SELECT transform(array_sort(collect_list(struct(i, mn))), x -> x.mn) AS mins,
          |         transform(array_sort(collect_list(struct(i, mx))), x -> x.mx) AS maxes
          |  FROM pd)
          |SELECT vec_id, transform(sequence(1, size(embedding)), i ->
          |  CAST(round((CAST(element_at(embedding, i) AS DOUBLE) - element_at(mins, i)) /
          |    (CASE WHEN element_at(maxes, i) > element_at(mins, i)
          |          THEN element_at(maxes, i) - element_at(mins, i) ELSE CAST(1.0 AS DOUBLE) END) * 255.0)
          |    AS BIGINT)) AS q8
          |FROM embeddings CROSS JOIN stats""".stripMargin)
        .selectExpr("vec_id", "q8", s"${sparkDot.format("q8", "q8")} AS n8")
      val dfs = Seq(q8)
      // always persisted, like the ann prep: both sides of the quantized
      // cross join scan this relation
      dfs.foreach(_.persist())
      reg.put("sq8prep", Prep(d, dfs))
        .collect { case p: Prep if p.dir != d => p }
        .foreach(_.dfs.foreach(_.unpersist(false)))
      dfs
    }
    if (cached.isEmpty || !s.catalog.tableExists("ann_sq8"))
      sq8.createOrReplaceTempView("ann_sq8")
  }

  private def sparkSq8Main: String =
    s"WITH ${sq8TopkSql("ann_sq8", "ann_qn", sparkDot)}"

  // ---- Product quantization + ADC (FAISS IndexPQ shape) ----------------
  //
  // Train: [[pqM]] independent subspace codebooks ([[pqK]] codewords,
  // seeded with the lowest-id vectors' subvectors — the IVF seeding
  // convention) refined by [[pqIters]] L2 k-means iterations; integer
  // determinism follows [[ClusterOps]] exactly (BIGINT dots; assignment
  // minimizes the exact `‖c‖² − 2·x·c` BIGINT expansion, ties on cid;
  // centroid update is truncating `SUM DIV COUNT` per dimension).
  // Encode: every vector becomes [[pqM]] code ids — a 32× compression of
  // the quantized vectors. Query: asymmetric distance computation — the
  // query's EXACT subvectors dot the neighbors' codewords, summed across
  // subspaces (all BIGINT), top-[[pqRerank]] candidates then rerank with
  // exact full-precision cosine.
  //
  // Spark searches the way FAISS IndexPQ does: per query a lookup table
  // `LUT[m][k] = q_m · codeword(m, k)` built on the driver (M×K longs),
  // broadcast, and ONE map-only job that scores every vector as
  // Σ_m LUT[m][code_m] over primitive code blocks, each task keeping a
  // bounded top-[[pqRerank]] per query. The driver merges them, one more
  // job fetches the reranked handful of exact vectors by id, and the
  // cosine and top-5 run on the driver. At 100 TB the scan touches only
  // the codes, nothing shuffles, and the driver holds the codebook plus
  // Q × [[pqRerank]] candidates. The DuckDB oracle keeps the relational
  // ADC join ([[pqSearchSql]]), a second implementation.
  private val pqM = 8
  private val pqSubDim = 8
  private val pqK = 16
  private val pqIters = 2
  private val pqRerank = 20

  /** The `(vec_id, m, sq)` subvector relation body. */
  private def pqSubvSql(spark: Boolean): String = {
    val qnRel = if (spark) "ann_qn" else "qn"
    val mGrid =
      if (spark) s"SELECT explode(sequence(0, ${pqM - 1})) AS m"
      else s"SELECT UNNEST(range(0, $pqM)) AS m"
    val sub =
      if (spark) s"slice(q, m*$pqSubDim + 1, $pqSubDim)"
      else s"list_slice(q, m*$pqSubDim + 1, m*$pqSubDim + $pqSubDim)"
    s"SELECT vec_id, m, $sub AS sq FROM $qnRel CROSS JOIN ($mGrid)"
  }

  /** Per-(subspace, codeword, dimension) truncating integer mean of the
    * assigned subvectors — the codebook update fragment, shared by the
    * training chain and the prep's derive-centroids-from-codes pass.
    */
  private def pqPerDim(spark: Boolean, mem: String): String =
    if (spark)
      s"""
         |  SELECT m, cid, i, SUM(x) DIV COUNT(1) AS cx FROM (
         |    SELECT a.m, a.cid, pe.i, pe.x
         |    FROM $mem a JOIN subv s ON s.vec_id = a.vec_id AND s.m = a.m
         |    LATERAL VIEW posexplode(s.sq) pe AS i, x)
         |  GROUP BY m, cid, i""".stripMargin
    else
      s"""
         |  SELECT a.m, a.cid, di.i,
         |    CAST(SUM(list_extract(s.sq, di.i + 1)) AS BIGINT) // COUNT(1) AS cx
         |  FROM $mem a JOIN subv s ON s.vec_id = a.vec_id AND s.m = a.m,
         |    UNNEST(range(0, $pqSubDim)) AS di(i)
         |  GROUP BY a.m, a.cid, di.i""".stripMargin

  private def pqRebuild(spark: Boolean, cd: String): String = {
    val dot = if (spark) sparkDot else duckDot
    if (spark)
      s"""
         |  SELECT m, cid, cq, ${dot.format("cq", "cq")} AS cnorm FROM (
         |    SELECT m, cid, transform(array_sort(collect_list(struct(i, cx))), s -> s.cx) AS cq
         |    FROM $cd GROUP BY m, cid)""".stripMargin
    else
      s"""
         |  SELECT m, cid, cq, ${dot.format("cq", "cq")} AS cnorm FROM (
         |    SELECT m, cid, list(cx ORDER BY i) AS cq FROM $cd GROUP BY m, cid)""".stripMargin
  }

  /** CTE chain `subv, cent0, a1..centN` — training + encoding. */
  private def pqTrainSql(spark: Boolean): String = {
    val dot = if (spark) sparkDot else duckDot
    val iters = (1 to pqIters).map { t =>
      s"""a$t AS (
         |  SELECT s.vec_id, s.m, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |      ORDER BY c.cnorm - 2 * ${dot.format("s.sq", "c.cq")}, c.cid) AS rk
         |  FROM subv s JOIN cent${t - 1} c ON c.m = s.m),
         |m$t AS (SELECT vec_id, m, cid FROM a$t WHERE rk = 1),
         |cd$t AS (${pqPerDim(spark, s"m$t")}),
         |cent$t AS (${pqRebuild(spark, s"cd$t")})""".stripMargin
    }.mkString(",\n")
    s"""subv AS (${pqSubvSql(spark)}),
       |cent0 AS (
       |  SELECT m, vec_id AS cid, sq AS cq, ${dot.format("sq", "sq")} AS cnorm
       |  FROM subv WHERE vec_id < $pqK),
       |$iters""".stripMargin
  }

  /** The oracle's ADC scan + exact rerank over the trained codes and
    * centroid relations (expects `subv` and `qn` in scope).
    */
  private def pqSearchSql(codesRel: String, centRel: String): String = {
    val pairDot = duckDot.format("a.q", "b.q")
    s""", adc0 AS (
       |  SELECT qs.vec_id AS query_id, cv.vec_id AS neighbor_id,
       |    ${duckDot.format("qs.sq", "c.cq")} AS part
       |  FROM subv qs
       |  JOIN $codesRel cv ON cv.m = qs.m AND cv.vec_id <> qs.vec_id
       |  JOIN $centRel c ON c.m = cv.m AND c.cid = cv.cid
       |  WHERE qs.vec_id < 5),
       |adc AS (
       |  SELECT query_id, neighbor_id, SUM(part) AS approx
       |  FROM adc0 GROUP BY query_id, neighbor_id),
       |cand AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS rk
       |  FROM adc),
       |rescored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST($pairDot AS DOUBLE) / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)) AS score
       |  FROM (SELECT query_id, neighbor_id FROM cand WHERE rk <= $pqRerank) c
       |  JOIN qn a ON a.vec_id = c.query_id
       |  JOIN qn b ON b.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM rescored)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The PQ index, built once per (session, dir) and kept: the codebook
    * on the driver (`codebook(m)(k)`, subspace `m`'s codewords in cid
    * order), the codes as persisted [[PqBlock]]s, the query vectors
    * (`vec_id < 5`) on the driver, and `qn`, an RDD over the persisted
    * `ann_qn` rows for the rerank's by-id fetch.
    */
  private[queries] final case class PqPrep(dir: String, codebook: Array[Array[Array[Long]]],
      queries: Array[PqVec], blocks: RDD[PqBlock], qn: RDD[InternalRow]) {
    def release(): Unit = blocks.unpersist(blocking = false)
  }

  /** A quantized vector: `q` and `qnorm` are NULL together (a NULL
    * embedding).
    */
  private[queries] final case class PqVec(id: Long, q: Array[Long], qnorm: Long)

  private object PqVec {
    /** From an `ann_qn` row (vec_id, q, qnorm) with a non-NULL vec_id. */
    def apply(r: InternalRow): PqVec =
      if (r.isNullAt(1)) PqVec(r.getLong(0), null, 0L)
      else PqVec(r.getLong(0), r.getArray(1).toLongArray(), r.getLong(2))
  }

  /** One partition of the PQ codes: vector `ids(i)` has code
    * `codes(i * pqM + m)` in subspace `m`, an index into that subspace's
    * codebook, or -1 for a codeword the codebook lacks (a cluster whose
    * only members have NULL embeddings); that subspace then adds
    * nothing, as the oracle's inner join with the codebook drops it.
    */
  private[queries] final case class PqBlock(ids: Array[Long], codes: Array[Int]) {

    /** Per query `j`, this partition's top `k` (approx, id) pairs, best
      * first: approx is Σ_m `luts(j)(m)(code_m)`, ordered by approx desc
      * then id asc; the query itself is skipped.
      */
    def topK(queryIds: Array[Long], luts: Array[Array[Array[Long]]], k: Int): Array[Array[(Long, Long)]] =
      queryIds.indices.map { j =>
        val lut = luts(j)
        // head = the worst pair kept
        val heap = new java.util.PriorityQueue[(Long, Long)](k + 1, PqBlock.Worst)
        for (i <- ids.indices if ids(i) != queryIds(j)) {
          var approx = 0L
          var coded = false
          for (m <- 0 until pqM) {
            val code = codes(i * pqM + m)
            if (code >= 0) { approx += lut(m)(code); coded = true }
          }
          if (coded) {
            val pair = (approx, ids(i))
            if (heap.size < k) heap.add(pair)
            else if (PqBlock.Worst.compare(pair, heap.peek) > 0) { heap.poll(); heap.add(pair) }
          }
        }
        heap.asScala.toArray.sorted(PqBlock.Worst.reverse)
      }.toArray
  }

  private[queries] object PqBlock {
    /** Orders (approx, id) pairs worst first: lower approx, then higher id. */
    val Worst: Ordering[(Long, Long)] = new Ordering[(Long, Long)] {
      def compare(a: (Long, Long), b: (Long, Long)): Int =
        if (a._1 != b._1) java.lang.Long.compare(a._1, b._1) else java.lang.Long.compare(b._2, a._2)
    }

    /** A block from (vec_id, m, cid) rows, non-NULL vec_id. */
    def apply(rows: Iterator[(Long, (Int, Long))], cids: Array[Array[Long]]): PqBlock = {
      val all = rows.toArray
      val ids = all.map(_._1).distinct.sorted
      val codes = Array.fill(ids.length * pqM)(-1)
      all.foreach { case (id, (m, cid)) =>
        val k = java.util.Arrays.binarySearch(cids(m), cid)
        if (k >= 0) codes(java.util.Arrays.binarySearch(ids, id) * pqM + m) = k
      }
      PqBlock(ids, codes)
    }
  }

  /** `LUT[m][k]`: `graft_dot` of the query's subvector `m` with codeword
    * `k` (over the shorter length). A NULL query vector scores every
    * codeword 0, so its candidates tie and fall back to id order — as
    * the oracle's all-NULL approx does.
    */
  private def pqLut(q: Array[Long], codebook: Array[Array[Array[Long]]]): Array[Array[Long]] = {
    val qq = if (q == null) Array.emptyLongArray else q
    codebook.indices.toArray.map { m =>
      val sub = qq.slice(m * pqSubDim, m * pqSubDim + pqSubDim)
      codebook(m).map(cw => sub.indices.take(cw.length).map(i => sub(i) * cw(i)).sum)
    }
  }

  /** The rerank's exact cosine; NULL for a NULL vector or a zero norm. */
  private def pqCosine(a: PqVec, b: PqVec): Option[Double] =
    if (a.q == null || b.q == null) None
    else {
      val den = math.sqrt(a.qnorm.toDouble * b.qnorm.toDouble)
      if (den == 0.0) None
      else Some(a.q.indices.take(b.q.length).map(i => a.q(i) * b.q(i)).sum.toDouble / den)
    }

  private[queries] def pqPrep(s: SparkSession, d: String): PqPrep = {
    sparkPrep(s, d)
    val reg = SessionRegistry.of(s)
    reg.synchronized {
      reg.get("pqprep").collect { case p: PqPrep if p.dir == d => p }.getOrElse {
        // persisted for the two reads below (codebook, blocks) and
        // released once the blocks hold the codes
        val codes = s.sql(
          s"WITH ${pqTrainSql(spark = true)} SELECT vec_id, m, cid FROM m$pqIters").persist()
        val p =
          try {
            codes.createOrReplaceTempView("ann_pq_codes")
            // the final codebook is re-derived from the codes (`cent_N =
            // rebuild(perDim(m_N))` holds by construction of the last
            // training iteration — the ClusterOps.clusterPrep argument)
            // instead of a second full training run
            val cent = s.sql(s"WITH subv AS (${pqSubvSql(spark = true)}),\n" +
              s"cd AS (${pqPerDim(spark = true, "ann_pq_codes")})\n" +
              pqRebuild(spark = true, "cd").stripLeading()).collect()
              .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray))
              .groupBy(_._1)
            val entries = Array.tabulate(pqM)(m => cent.getOrElse(m, Array.empty).sortBy(_._2))
            val cids = entries.map(_.map(_._2))
            val codebook = entries.map(_.map(_._3))
            val qn = s.table("ann_qn").queryExecution.toRdd
            val queries = qn.filter(r => !r.isNullAt(0) && r.getLong(0) < 5).map(PqVec(_))
              .collect().sortBy(_.id)
            val coded = codes.queryExecution.toRdd
            val blocks = coded.filter(!_.isNullAt(0))
              .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
              .partitionBy(new HashPartitioner(coded.getNumPartitions))
              .mapPartitions(rows => Iterator(PqBlock(rows, cids)))
              .persist(StorageLevel.MEMORY_AND_DISK)
            try blocks.count() // materialize while the codes are cached
            catch { case t: Throwable => blocks.unpersist(blocking = false); throw t }
            PqPrep(d, codebook, queries, blocks, qn)
          } finally {
            s.catalog.dropTempView("ann_pq_codes")
            codes.unpersist(blocking = false)
          }
        reg.put("pqprep", p).collect { case old: PqPrep if old.dir != d => old }
          .foreach(_.release())
        p
      }
    }
  }

  private val PqSchema = StructType(Seq(
    StructField("query_id", LongType),
    StructField("neighbor_id", LongType),
    StructField("rank", IntegerType, nullable = false),
    StructField("score", DoubleType)))

  /** (neighbor_id, score): score desc with NULLs last, then neighbor_id. */
  private val PqRerankOrder: Ordering[(Long, Option[Double])] =
    Ordering.by[(Long, Option[Double]), (Boolean, Double, Long)] {
      case (id, score) => (score.isEmpty, score.fold(0.0)(-_), id)
    }(Ordering.Tuple3(Ordering.Boolean, Ordering.Double.TotalOrdering, Ordering.Long))

  /** The ADC search over the prep: one scoring job, one fetch job. */
  private def pqImpl(s: SparkSession, d: String): DataFrame = {
    val p = pqPrep(s, d)
    val queryIds = p.queries.map(_.id)
    val lutsB = s.sparkContext.broadcast(p.queries.map(q => pqLut(q.q, p.codebook)))
    val tops = try p.blocks.map(_.topK(queryIds, lutsB.value, pqRerank)).collect()
      finally lutsB.destroy()
    val cands = queryIds.indices.map(j =>
      tops.flatMap(_(j)).sorted(PqBlock.Worst.reverse).take(pqRerank).map(_._2))
    val need = cands.flatten.toSet
    val vecs = p.qn.filter(r => !r.isNullAt(0) && need.contains(r.getLong(0))).map(PqVec(_))
      .collect().map(v => v.id -> v).toMap
    val rows = p.queries.indices.flatMap { j =>
      val q = p.queries(j)
      cands(j).map(id => (id, pqCosine(q, vecs(id))))
        .sorted(PqRerankOrder)
        .take(5).zipWithIndex
        .map { case ((id, score), i) => Row(q.id, id, i + 1, score.map(Double.box).orNull) }
    }
    s.createDataFrame(rows.asJava, PqSchema)
  }

  private val duckPqSql: String =
    s"""WITH qe AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |qn AS (SELECT vec_id, q, ${duckDot.format("q", "q")} AS qnorm FROM qe),
       |${pqTrainSql(spark = false)}
       |${pqSearchSql(codesRel = s"m$pqIters", centRel = s"cent$pqIters")}""".stripMargin

  /** recall@5 of the IVF probe against the exhaustive top-5 — the
    * evaluation every ANN deployment runs before trusting an index
    * (nprobe/nlist tuning). Entirely COUNT-based: hits = |ivf ∩ brute|
    * per query, so the result is integer-exact cross-engine even though
    * the underlying scores are doubles (ties inside either ranking
    * resolve identically — score DESC, neighbor_id — on bit-identical
    * doubles). Scale shape: the IVF side probes [[ivfNProbe]] lists;
    * the brute side is per-QUERY linear, the standard OFFLINE eval over
    * a small sampled query set (5 here), never a corpus-wide pass.
    */
  /** `assignRel = Some(view)` points lists/probes at a pre-materialized
    * assignment slice (see [[sparkIvfAssignSql]] — Spark re-executes the
    * corpus×centroids window per CTE reference otherwise); None keeps
    * the self-contained CTE form the DuckDB oracle runs.
    */
  private def ivfRecallSql(
      qn: String, dot: String, prefix: String, assignRel: Option[String] = None): String = {
    val centDot = dot.format("v.q", "c.cq")
    val pairDot = dot.format("a.q", "b.q")
    val assignCtes = assignRel match {
      case Some(rel) =>
        s"""WITH lists AS (SELECT vec_id, cid FROM $rel WHERE rk = 1),
           |probes AS (
           |  SELECT vec_id AS query_id, cid FROM $rel
           |  WHERE vec_id < 5 AND rk <= $ivfNProbe),""".stripMargin
      case None =>
        s"""WITH ${prefix}cent AS (
           |  SELECT vec_id AS cid, q AS cq, qnorm AS cnorm
           |  FROM $qn WHERE vec_id < $ivfNumLists),
           |assign AS (
           |  SELECT v.vec_id, c.cid,
           |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
           |      ORDER BY CAST($centDot AS DOUBLE) / sqrt(CAST(c.cnorm AS DOUBLE)) DESC, c.cid) AS rk
           |  FROM $qn v CROSS JOIN cent c),
           |lists AS (SELECT vec_id, cid FROM assign WHERE rk = 1),
           |probes AS (
           |  SELECT vec_id AS query_id, cid FROM assign
           |  WHERE vec_id < 5 AND rk <= $ivfNProbe),""".stripMargin
    }
    s"""$assignCtes
       |cand AS (
       |  SELECT DISTINCT p.query_id, l.vec_id AS neighbor_id
       |  FROM probes p JOIN lists l ON l.cid = p.cid AND l.vec_id <> p.query_id),
       |iscored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST($pairDot AS DOUBLE) / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)) AS score
       |  FROM cand c
       |  JOIN $qn a ON a.vec_id = c.query_id
       |  JOIN $qn b ON b.vec_id = c.neighbor_id),
       |iranked AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM iscored),
       |bscored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST($pairDot AS DOUBLE) / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)) AS score
       |  FROM $qn a JOIN $qn b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
       |branked AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM bscored)
       |SELECT b.query_id,
       |  CAST(COUNT(i.neighbor_id) AS INT) AS hits,
       |  CAST(COUNT(i.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
       |FROM (SELECT query_id, neighbor_id FROM branked WHERE rank <= 5) b
       |LEFT JOIN (SELECT query_id, neighbor_id FROM iranked WHERE rank <= 5) i
       |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
       |GROUP BY b.query_id
       |ORDER BY b.query_id""".stripMargin
  }

  /** LSH near-dup recall against the exact all-pairs baseline — the
    * dedup-tuning twin of [[ivfRecallSql]]: how many true ≥0.25-cosine
    * pairs do the banded candidates catch? Since the LSH path exactly
    * rescoring its candidates can only MISS pairs (never invent them),
    * recall = |lsh| / |exact| tells the whole story, and band count is
    * the knob it tunes. Count-based, integer-exact cross-engine; the
    * exact side is the documented offline-eval pass (all-pairs on the
    * eval corpus, never the production path).
    */
  private def lshRecallTail(bandedRel: String, qn: String, dot: String): String = {
    val pairDot = dot.format("a.q", "b.q")
    val cos = s"CAST($pairDot AS DOUBLE) / " +
      "sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE))"
    s"""cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM $bandedRel a JOIN $bandedRel b
       |    ON a.b = b.b AND a.band_key = b.band_key AND a.vec_id < b.vec_id),
       |lsh AS (
       |  SELECT c.vec_a, c.vec_b
       |  FROM cand c JOIN $qn a ON a.vec_id = c.vec_a JOIN $qn b ON b.vec_id = c.vec_b
       |  WHERE $cos >= 0.25),
       |exact AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM $qn a JOIN $qn b ON a.vec_id < b.vec_id
       |  WHERE $cos >= 0.25)
       |SELECT CAST(COUNT(1) AS BIGINT) AS n_exact,
       |  CAST(COUNT(l.vec_a) AS BIGINT) AS n_caught,
       |  CAST(COUNT(l.vec_a) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS recall
       |FROM exact e LEFT JOIN lsh l ON l.vec_a = e.vec_a AND l.vec_b = e.vec_b""".stripMargin
  }

  private def sparkLshRecallSql: String =
    "WITH " + lshRecallTail("ann_banded", "ann_qn", sparkDot)

  private def duckLshRecallSql: String =
    s"""WITH ${lshPrefix(
      listTransform = "list_transform",
      dot = duckDot,
      sigExpr = duckSigExpr(duckDot, "range(0, 64)", "range(0, 96)", "list_transform"),
      bandsFrom = s", UNNEST(range(0, $numBands)) AS bt(b)",
      elementAt = "list_extract")},
       |${lshRecallTail("banded", "qn", duckDot)}""".stripMargin

  private val duckQnPrefix: String =
    s"""qe AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |qn AS (SELECT vec_id, q, ${duckDot.format("q", "q")} AS qnorm FROM qe),
       |""".stripMargin

  def queries: Map[String, QueryDef] = Map(
    "embed_dedup_lsh" -> QueryDef(runSpark(sparkLshMain) _, duckSql),
    "embed_ann_topk" -> QueryDef(runSpark(sparkAnnMain) _, duckAnnSql),
    "embed_ann_ivf" -> QueryDef(
      runSpark(sparkIvfMain) _,
      ivfSql("list_transform", duckDot)),
    "embed_ann_sq8" -> QueryDef(
      (s, d) => { sq8Prep(s, d); s.sql(sparkSq8Main) },
      Some(duckSq8Sql)),
    // The relational ADC join (the oracle's shape) run on Spark took,
    // per warm call inside interleaved pipeline passes (sf0.01, local[2],
    // 4-core box, median of 8): 13 jobs, 0.74 s and up to 51 Janino
    // compiles; the lookup-table scan: 2 jobs, 0.08 s, 0–4 compiles.
    "embed_ann_pq" -> QueryDef(pqImpl _, Some(duckPqSql)),
    "embed_ann_recall" -> QueryDef(
      runSpark(ivfRecallSql("ann_qn", sparkDot, "")) _,
      ivfRecallSql("qn", duckDot, duckQnPrefix)),
    "embed_lsh_recall" -> QueryDef(
      runSpark(sparkLshRecallSql) _,
      duckLshRecallSql)
  )
}
