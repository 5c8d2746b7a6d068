package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType

/** Text-analysis + deduplication operators over the `documents` table —
  * the LLM-training-pipeline surface (BASELINE.json north-star) layered on
  * the same engine. All operators are pure Catalyst plans (no UDFs): string
  * shingling via `sequence`/`transform`/`substring`, set ops via higher-order
  * array functions, hashing via `md5`. Each has a DuckDB oracle mirroring
  * the exact semantics.
  *
  * Scale notes (100 TB design):
  *  - exact dedup = hash-shuffle on md5(text): one shuffle, map-side combine;
  *  - MinHash LSH = candidates come only from band-bucket collisions
  *    (shuffle keyed by 16-byte band hash), exact Jaccard verified only for
  *    candidate pairs — never all-pairs;
  *  - blocked n-gram Jaccard = all-pairs restricted to (lang, source)
  *    blocks, the classic blocking strategy when metadata partitions the
  *    corpus.
  */
object TextOps {

  /** Register `documents` (and a dup-injected `corpus`) as temp views. */
  private def prep(s: SparkSession, d: String): Unit = {
    graft.functions.ShingleSet.register(s)
    graft.functions.SortedIntersectCount.register(s)
    Tables.ensureView(s, d, "documents")(Tables.documents(s, d))
  }

  /** Corpus with deterministic injected duplicates so exact-dedup output is
    * non-trivial: every doc_id % 10 == 0 doc is re-inserted with an id
    * offset past the real id range. The offset derives from max(doc_id)
    * (one scalar-subquery aggregate, map-side-combinable) — a constant
    * offset would collide with real ids once the corpus outgrows it,
    * breaking every doc_id-keyed semantics downstream.
    */
  private[queries] val corpusSql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |UNION ALL
      |SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
      |       text, lang, source, n_chars
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  // ---- MinHash SQL generation (shared shape, per-dialect functions) -----
  private val numSeeds = 16
  private val bandSize = 4
  private val numBands = numSeeds / bandSize

  /** Per-seed min-hash aggregates: lexicographic min over the md5 hex of
    * (seed ':' shingle) — a portable stand-in for integer min-hashing that
    * both engines compute identically. (Measured at sf0.1: direct per-row
    * hashing beats a distinct-shingle hash dictionary — the synthetic
    * vocabulary is tiny, so the dictionary join costs more than it saves;
    * revisit if the corpus/vocabulary ratio changes.)
    */
  private def minhashAggs: String =
    (0 until numSeeds)
      .map(i => s"MIN(md5(CONCAT('s$i:', shingle))) AS m$i")
      .mkString(",\n    ")

  private def bandExprs: String =
    (0 until numBands).map { b =>
      val cols = (0 until bandSize).map(j => s"m${b * bandSize + j}").mkString(", ")
      s"md5(CONCAT($cols)) AS band$b"
    }.mkString(",\n    ")

  private def bandCandidateUnion(sigsRef: String): String =
    (0 until numBands)
      .map(b => s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   |  FROM $sigsRef a JOIN $sigsRef b ON a.band$b = b.band$b AND a.doc_id < b.doc_id""".stripMargin)
      .mkString("\nUNION\n")

  // NOTE on shingle relations: deduplication happens per row with
  // array_distinct BEFORE any explode, so exploded relations are distinct
  // by construction — no DISTINCT shuffle over the exploded corpus
  // (measured ~5s of the round-1 runtime at sf0.1, and at 100 TB the
  // difference between a narrow map-side pass and a full-corpus shuffle).

  /** Per-document shingle SET as an array column — the base relation for
    * sizes, signatures, and the exploded shingle table. Keeping the set in
    * array-land means min-hashing is a pure per-row projection (array_min
    * over transformed arrays): zero shuffles until the band join.
    */
  private def docsetsSelect(listTransform: String, listDistinct: String, seqExpr: String): String =
    s"""SELECT doc_id, $listDistinct($listTransform($seqExpr,
       |    i -> substring(text, i, 5))) AS shset
       |FROM documents""".stripMargin

  // Spark side uses the native per-row expression (graft.functions.
  // ShingleSet); DuckDB keeps the portable list pipeline — same result.
  private val sparkDocsets: String =
    "SELECT doc_id, array_sort(graft_shingles(text, 5)) AS shset FROM documents"
  private val duckDocsets: String =
    docsetsSelect("list_transform", "list_distinct", "range(1, greatest(length(text) - 4, 1) + 1)")

  /** Signature select over the EXPLODED shingle relation: MIN(md5(...))
    * aggregates stay inside whole-stage codegen, which measures ~6x faster
    * than the equivalent per-row `array_min(transform(...))` (higher-order
    * functions evaluate interpreted, one closure call per element).
    */
  private def sigsSelect(shinglesRef: String): String =
    s"""SELECT doc_id,
       |    $bandExprs
       |  FROM (SELECT doc_id,
       |    $minhashAggs
       |  FROM $shinglesRef GROUP BY doc_id)""".stripMargin

  /** Candidate/verify phases over docset + sig relations. Verification is
    * a per-pair `array_intersect` on the two shingle-set arrays — no
    * exploded-corpus join, no aggregation; candidate pairs are the only
    * quadratic-ish object and they exist only where band buckets collide.
    */
  private def minhashMain(docsetsRef: String, sigsRef: String, sizeFn: String, intersectFn: String): String =
    s"""WITH candidates AS (
       |${bandCandidateUnion(sigsRef)}
       |),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |    $sizeFn($intersectFn(a.shset, b.shset)) AS n_inter,
       |    $sizeFn(a.shset) AS na, $sizeFn(b.shset) AS nb
       |  FROM candidates c
       |  JOIN $docsetsRef a ON a.doc_id = c.doc_a
       |  JOIN $docsetsRef b ON b.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
       |FROM pairs
       |WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Spark impl — windowless binary min-hashing. The final output exposes
    * only (doc_a, doc_b, jaccard), so band hashes never need to EQUAL the
    * oracle's: only the candidate SET must match, i.e. per-seed ARGMIN
    * structure and band-tuple equality. The oracle mins 32-char md5 HEX
    * strings; the engine mins the 16-byte `unhex(md5(...))` BINARY of the
    * same hash — lowercase hex digits are ascending in ASCII, so
    * lexicographic hex order IS unsigned byte order, and the per-seed
    * argmin (hence candidates, hence verified output) is provably
    * identical. Two windowless regimes, both yielding the same binaries
    * (an earlier rank-dictionary variant computed 16 global un-partitioned
    * ROW_NUMBER windows over the vocabulary — a single-task serial sort,
    * 16x, that cannot scale past one executor's sort throughput; removed):
    *
    *  - small corpus (fits comfortably in a broadcast): hash each DISTINCT
    *    shingle once into a 16-column binary dictionary (pure projection,
    *    no window) and broadcast-join it — md5 runs |vocab| x 16 times
    *    instead of |corpus| x 16 (measured ~1.7x end-to-end at sf0.1);
    *  - large corpus: hash per occurrence directly — one embarrassingly-
    *    parallel map pass + a map-side-combinable aggregate, no broadcast
    *    and no "vocabulary fits in memory" assumption. 16 extra md5s per
    *    occurrence beat shuffling the exploded corpus at 100 TB.
    *
    * The regime gate reads Catalyst's size estimate (driver-side, no job).
    *
    * Verification is regime-gated too — see [[verifyJoin]].
    */
  private val DictBroadcastMaxBytes = 256L << 20
  private val VerifyBroadcastMaxBytes = 256L << 20

  /** Gate for broadcasts of relations DERIVED from the corpus whose size
    * Catalyst cannot estimate (post-aggregate plans inherit child-sized
    * guesses): the candidate-id set (dup-density-bounded but O(dup docs))
    * and the df-capped hot-shingle set (vocabulary-bounded, but at 100 TB
    * "df > 64" admits most of the vocabulary). Below the corpus-size
    * threshold the static broadcast hint stays (deterministic bench
    * plans); above it the hint is dropped and AQE's RUNTIME stats decide —
    * broadcast when the relation is actually small, shuffle (with skew
    * split) when not — instead of a forced broadcast hard-failing at 8 GB.
    */
  private val DerivedBroadcastMaxBytes = 256L << 20

  /** A regime gate's threshold: the constant, or 0 when the caller forces
    * the scale regime. The `*_scale` query entries pass `scale = true` so
    * the large-corpus code paths run at oracle scale — both regimes are
    * then provably identical under the same DuckDB oracle, not just argued
    * so in a comment.
    */
  private def gate(max: Long, scale: Boolean): Long = if (scale) 0L else max

  private def corpusBytes(s: SparkSession): BigInt =
    s.table("documents").queryExecution.optimizedPlan.stats.sizeInBytes

  /** Apply `broadcast()` only below the derived-relation gate. */
  private def gatedBroadcast(s: SparkSession, df: DataFrame, scale: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    if (corpusBytes(s) <= gate(DerivedBroadcastMaxBytes, scale)) broadcast(df) else df
  }

  /** Verify-phase join of the candidate-pair relation against the per-doc
    * shingle-set array relation, gated on Catalyst's size estimate of the
    * array relation (driver-side, no job — the same gate pattern as the
    * signature dictionary):
    *
    *  - small regime: broadcast the array relation and stream the
    *    candidate pairs — array-laden rows never shuffle;
    *  - large regime (the 100 TB shape: the per-doc set relation is
    *    corpus-sized, far past Spark's 8 GB broadcast hard limit — an
    *    ungated broadcast here doesn't degrade, it kills the job): the
    *    candidate PAIRS are the small side (near-dup-density-bounded), so
    *    semi-join the array relation down to candidate doc_ids via a
    *    broadcast of the id set, then shuffle-hash join the filtered
    *    arrays — the only shuffled arrays belong to docs that actually
    *    have a candidate pair. The candidate subplan appears under both
    *    the id set and the final join; it ends in a distinct exchange, so
    *    ReuseExchange computes it once.
    */
  private def verifyJoin(s: SparkSession, cand: DataFrame, docsets: DataFrame,
      aliasA: String, aliasB: String, scale: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val bytes = docsets.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= gate(VerifyBroadcastMaxBytes, scale))
      cand.join(broadcast(docsets.as(aliasA)), col(s"$aliasA.doc_id") === col("doc_a"))
        .join(broadcast(docsets.as(aliasB)), col(s"$aliasB.doc_id") === col("doc_b"))
    else {
      val ids = cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))).distinct()
      // the id set is dup-density-bounded but still O(dup docs): its
      // broadcast is gated too (on a dup-dense corpus at scale it can
      // exceed the broadcast limit on its own) — above the gate the
      // semi-join shuffle-HASHES on doc_id with ids as the build side
      // (a sort-merge semi here would sort the array-laden docsets rows)
      val idsSide =
        if (corpusBytes(s) <= gate(DerivedBroadcastMaxBytes, scale)) broadcast(ids)
        else ids.hint("shuffle_hash")
      val filtered = docsets.join(idsSide, Seq("doc_id"), "left_semi")
        .hint("shuffle_hash")
      cand.join(filtered.as(aliasA), col(s"$aliasA.doc_id") === col("doc_a"))
        .join(filtered.as(aliasB), col(s"$aliasB.doc_id") === col("doc_b"))
    }
  }

  private def minhashImpl(s: SparkSession, d: String, scale: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    prep(s, d)
    // docsets + signatures are pure functions of the corpus — build and
    // persist ONCE per (session, dir) like the ANN/simhash prep views;
    // the per-invocation rotation re-materialized the shingling and the
    // 16-way md5 aggregation on every call (~2.5s of the steady state).
    val docBytes = s.table("documents").queryExecution.optimizedPlan.stats.sizeInBytes
    val useDict = docBytes <= gate(DictBroadcastMaxBytes, scale)
    // docsets is regime-independent; signatures are keyed by regime so the
    // forced-scale oracle entry builds (and caches) its own relation
    // instead of silently reusing the dictionary-regime one.
    val Seq(ds) = sharedPrep(s, d, "minhash_ds")(Seq(s.sql(sparkDocsets)))
    // signatures AND the band-collision candidate pairs are corpus-pure;
    // both are keyed by regime so the forced-scale oracle entry builds
    // (and caches) its own relations instead of silently reusing the
    // dictionary-regime ones. Candidate generation has no verify-phase
    // gate, so caching pairs leaves the forced verify branches exercised.
    val Seq(sigs, cand) = sharedPrep(s, d, if (useDict) "minhash_sigs_dict" else "minhash_sigs_occ") {
      val shingles = ds.selectExpr("doc_id", "explode(shset) AS shingle")
      def hashCols(src: org.apache.spark.sql.Column) = (0 until numSeeds)
        .map(i => unhex(md5(concat(lit(s"s$i:"), src))).as(s"h$i"))
      val minAggs = (0 until numSeeds).map(i => min(col(s"h$i")).as(s"m$i"))
      val hashed =
        if (useDict) {
          val dict = shingles.select("shingle").distinct()
            .select(col("shingle") +: hashCols(col("shingle")): _*)
          shingles.join(broadcast(dict), "shingle")
        } else shingles.select(col("doc_id") +: hashCols(col("shingle")): _*)
      val sigs = hashed.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
      val cand = (0 until numBands).map { b =>
        val cond = (0 until bandSize)
          .map(j => col(s"a.m${b * bandSize + j}") === col(s"b.m${b * bandSize + j}"))
          .reduce(_ && _) && col("a.doc_id") < col("b.doc_id")
        sigs.as("a").join(sigs.as("b"), cond)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      }.reduce(_ union _).distinct()
      Seq(sigs, cand)
    }
    val jaccard = col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter"))
    verifyJoin(s, cand, ds, "x", "y", scale)
      .select(col("doc_a"), col("doc_b"),
        expr("graft_intersect_count(x.shset, y.shset)").as("n_inter"),
        size(col("x.shset")).as("na"), size(col("y.shset")).as("nb"))
      .filter(jaccard >= 0.5)
      .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  private def minhashOracle: String =
    s"""WITH docsets AS ($duckDocsets),
       |shingles AS (SELECT doc_id, UNNEST(shset) AS shingle FROM docsets),
       |sigs AS (${sigsSelect("shingles")}),
       |${minhashMain("docsets", "sigs", "len", "list_intersect").replaceFirst("WITH ", "")}""".stripMargin

  /** Blocked exact n-gram Jaccard with an inverted-index document-frequency
    * cutoff: shingles seen in more than [[maxDf]] docs of a block generate
    * no candidate pairs (the classic hot-key guard — a shingle in k docs
    * otherwise yields k² pairs, quadratic on skew at scale). Candidates are
    * then exact-verified against the FULL shingle sets, in both engines.
    */
  private val maxDf = 64

  /** Main phase over (docsets, shingles) relation names, so the Spark side
    * can hand it PERSISTED temp views (the exploded corpus is scanned by
    * both the df aggregate and the self-join — Spark inlines CTEs, so an
    * un-cached formulation tokenizes the corpus 3x) while DuckDB inlines
    * the same text as CTEs.
    *
    * The hot set (df > [[maxDf]]) comes from a map-side-combinable GROUP BY
    * and is tiny by construction, so Spark's AQE broadcasts the anti-join:
    * the corpus is never shuffled just to learn document frequencies (the
    * round-2 `COUNT OVER (PARTITION BY ... shingle)` window shuffled the
    * whole exploded corpus and pinned each hot shingle on one task).
    */
  private def blockedJaccardMain(
      docsetsRef: String, shinglesRef: String, sizeFn: String, intersectFn: String): String =
    s"""WITH hot AS (
       |  SELECT lang, source, shingle
       |  FROM $shinglesRef GROUP BY lang, source, shingle
       |  HAVING COUNT(1) > $maxDf),
       |rare AS (
       |  SELECT s.doc_id, s.lang, s.source, s.shingle
       |  FROM $shinglesRef s
       |  WHERE NOT EXISTS (SELECT 1 FROM hot h
       |    WHERE h.lang = s.lang AND h.source = s.source
       |      AND h.shingle = s.shingle)),
       |candidates AS (
       |  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
       |  FROM rare sa
       |  JOIN rare sb ON sa.lang = sb.lang AND sa.source = sb.source
       |    AND sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |    $sizeFn($intersectFn(a.shset, b.shset)) AS n_inter,
       |    $sizeFn(a.shset) AS na, $sizeFn(b.shset) AS nb
       |  FROM candidates c
       |  JOIN $docsetsRef a ON a.doc_id = c.doc_a
       |  JOIN $docsetsRef b ON b.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
       |FROM pairs
       |WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.4
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Spark impl, procedural for explicit plan control (measured at sf0.1
    * against the round-2 window formulation — parity cold, and no
    * full-corpus window shuffle):
    *  - the hot set comes from ONE map-side-combinable GROUP BY (the
    *    exploded corpus partial-aggregates to vocabulary-sized state) and
    *    is removed with a broadcast anti-join — a narrow map-side filter,
    *    so a hot shingle never lands k² rows on one task;
    *  - the candidate self-join's two branches are identical subplans, so
    *    ReuseExchange shuffles the rare relation once;
    *  - verification is the regime-gated [[verifyJoin]]: below the size
    *    gate the array relation broadcasts and candidates stream (a plain
    *    shuffle here moved GBs of duplicated arrays and dominated wall
    *    time in a staged variant); above it the arrays are semi-joined to
    *    candidate ids and shuffle-hash joined — never an 8 GB-limit
    *    corpus-sized broadcast.
    * Only `docsets` persists, rotated via [[rotateCache]].
    */
  private def ngramImpl(s: SparkSession, d: String, scale: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    prep(s, d)
    // docsets AND the candidate-pair relation are both pure functions of
    // the corpus — the df-filtered inverted index and the pairs it
    // generates are exactly the artifacts a production dedup pipeline
    // materializes once and shares (the same sharing the simhash pair set
    // already gets). The build DOES read the derived-broadcast gate
    // (gatedBroadcast over the hot set), so the prep is keyed by that
    // regime like the minhash signatures: the forced-scale twin builds
    // (and caches) its own candidate relation instead of silently reusing
    // the broadcast-regime plan — and plan-shape assertions can't be
    // flipped by whichever twin ran first. The verify-phase gates remain
    // per-invocation.
    val ngramKey =
      if (corpusBytes(s) <= gate(DerivedBroadcastMaxBytes, scale)) "ngram_bc" else "ngram_aqe"
    val Seq(docsets, cand) = sharedPrep(s, d, ngramKey) {
      val docsets = s.sql(sparkDocsetsBlocked)
      val shingles = docsets.selectExpr("doc_id", "lang", "source", "explode(shset) AS shingle")
      val key = Seq("lang", "source", "shingle")
      val hot = shingles.groupBy(key.map(col): _*).count()
        .filter(col("count") > maxDf).drop("count")
      // hot is vocabulary-bounded, which is NOT small at every scale (an
      // absolute df cutoff admits most of a 100 TB corpus's vocabulary):
      // broadcast below the corpus gate, AQE-decided above it.
      // jk pre-concatenates the (lang, source, shingle) blocking key so
      // the self-join hashes ONE column per row per side instead of three
      val rare = shingles.join(gatedBroadcast(s, hot, scale), key, "left_anti")
        .withColumn("jk", concat_ws("\u0000", key.map(col): _*))
      // explode+anti-join wreck the size estimate: without the hint Spark
      // broadcasts the whole exploded corpus into the self-join build side
      // self-join on the precomputed jk key (one hashed column per row per
      // side instead of three; NUL-separated, so the concatenation is
      // injective and the candidate set is exactly the 3-column join's)
      val rareHinted = rare.select("doc_id", "jk").hint("shuffle_hash")
      Seq(docsets,
        rareHinted.as("sa").join(rareHinted.as("sb"),
          col("sa.jk") === col("sb.jk") && col("sa.doc_id") < col("sb.doc_id"))
          .select(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b")).distinct())
    }
    val jaccard = col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter"))
    verifyJoin(s, cand, docsets, "a", "b", scale)
      .select(col("doc_a"), col("doc_b"),
        expr("graft_intersect_count(a.shset, b.shset)").as("n_inter"),
        size(col("a.shset")).as("na"), size(col("b.shset")).as("nb"))
      .filter(jaccard >= 0.4)
      .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  private def ngramOracle: String =
    s"""WITH docsets AS ($duckDocsetsBlocked),
       |shingles AS ($duckExplodeBlocked),
       |${blockedJaccardMain("docsets", "shingles", "len", "list_intersect").replaceFirst("WITH ", "")}""".stripMargin

  private val sparkDocsetsBlocked: String =
    "SELECT doc_id, lang, source, array_sort(graft_shingles(text, 5)) AS shset FROM documents"

  private val duckDocsetsBlocked: String =
    """SELECT doc_id, lang, source, list_distinct(
      |    list_transform(range(1, greatest(length(text) - 4, 1) + 1),
      |                   i -> substring(text, i, 5))) AS shset
      |FROM documents""".stripMargin

  private val duckExplodeBlocked: String =
    "SELECT doc_id, lang, source, UNNEST(shset) AS shingle FROM docsets"

  /** Shared prep relations, built and persisted ONCE per (session, dir,
    * query key) — the same pattern as the ANN prep views. A dir change
    * unpersists the stale generation, so at most one generation per key
    * stays cached (the round-2 leak stays fixed), and repeat invocations
    * reuse the materialized relation instead of rebuilding it (the
    * per-invocation rotation this replaces re-ran the shingling/hash
    * aggregations on every call).
    */
  private case class TextPrep(dir: String, dfs: Seq[DataFrame])
  private def sharedPrep(s: SparkSession, d: String, key: String)(
      build: => Seq[DataFrame]): Seq[DataFrame] = {
    val reg = SessionRegistry.of(s)
    val k = s"textprep:$key"
    // synchronized check-then-build: two concurrent first invocations of
    // queries sharing a prep key would otherwise both build+persist, and
    // the overwritten generation's cached blocks (same dir, so the
    // dir-change cleanup never fires) would stay pinned for the session
    reg.synchronized {
      reg.get(k).collect { case p: TextPrep if p.dir == d => p.dfs }.getOrElse {
        val dfs = build
        dfs.foreach(_.persist())
        reg.put(k, TextPrep(d, dfs))
          .collect { case p: TextPrep if p.dir != d => p }
          .foreach(_.dfs.foreach(_.unpersist(false)))
        dfs
      }
    }
  }

  /** Unpersist and forget every shared text prep (bench group-boundary
    * hygiene — see [[AnnOps.dropCaches]]).
    */
  private[graft] def dropCaches(s: SparkSession): Unit = {
    val reg = SessionRegistry.of(s)
    reg.synchronized {
      reg.keySet.filter(_.startsWith("textprep:")).foreach { k =>
        reg.remove(k).collect { case p: TextPrep => p }
          .foreach(_.dfs.foreach(_.unpersist(false)))
      }
    }
  }

  /** SimHash near-dup (the classic Charikar scheme in token space): each
    * token projects onto 32 pseudo-random hyperplanes — bit j of its md5
    * hex (the high bit of nibble j, i.e. `substr(md5(tok), j, 1) >= '8'`)
    * votes +1/-1 — and the per-doc SIGN of each column of votes forms a
    * 32-bit fingerprint packed into one BIGINT. Candidates collide on one
    * of 3 bands of 11/11/10 bits (pigeonhole: a pair within Hamming
    * distance [[simhashMaxHamming]] = 2 flips bits in at most 2 bands, so
    * with 3 bands at least one matches — recall is exact); verification is
    * `bit_count(xor)` on the packed signatures. Pure portable SQL,
    * identical in both engines. One exploded-token aggregate (map-side
    * combinable), band self-joins on a narrow per-doc relation — never
    * all-pairs. Band width is the bucket-skew lever: 4-bit keys measured
    * 10x slower (16 buckets per band go quadratic), and the earlier 4x8
    * layout put 3.2k docs in one sf0.1 bucket (5.4M enumerated pairs in
    * one band); 11-bit keys split that 8x at the cost of zero recall.
    */
  private val simhashBits = 32
  private val simhashBandSizes = Seq(11, 11, 10)
  private val simhashMaxHamming = 2
  /** (start bit, width) of each band. */
  private def bandLayout: Seq[(Int, Int)] =
    simhashBandSizes.scanLeft((0, 0)) { case ((s, w), n) => (s + w, n) }.tail

  /** The signature CTE chain (toks → packed sigs + band keys), shared by
    * the pair query and the group-clustering query.
    */
  private def simhashSigCtes(explodeToks: String): String = {
    val bitAggs = (0 until simhashBits)
      .map(j => s"CASE WHEN SUM(CASE WHEN substring(md5(tok), ${j + 1}, 1) >= '8' THEN 1 ELSE -1 END) >= 0 THEN 1 ELSE 0 END AS bit$j")
      .mkString(",\n    ")
    val packed = (0 until simhashBits)
      .map(j => s"bit$j * CAST(${1L << (simhashBits - 1 - j)} AS BIGINT)")
      .mkString(" + ")
    val bandKeys = bandLayout.zipWithIndex.map { case ((start, width), b) =>
      (0 until width)
        .map(j => s"bit${start + j} * ${1 << (width - 1 - j)}")
        .mkString("", " + ", s" AS band$b")
    }.mkString(",\n    ")
    s"""toks AS (
       |  SELECT doc_id, $explodeToks FROM documents),
       |sigs0 AS (
       |  SELECT doc_id,
       |    $bitAggs
       |  FROM toks GROUP BY doc_id),
       |sigs AS (
       |  SELECT doc_id, $packed AS sig,
       |    $bandKeys
       |  FROM sigs0)""".stripMargin
  }

  /** Band-collision candidates over a named sigs relation, Hamming-
    * verified INSIDE each band branch: the filter is per-row, so
    * filter-before-union is provably identical to filter-after-union —
    * but it runs before the UNION's distinct exchange. On a skewed corpus
    * a hot band bucket (measured: one 3.2k-doc bucket at sf0.1) emits
    * O(bucket²) collision pairs; verifying in-branch shrinks the distinct
    * from millions of candidate rows to the near-dup set itself, and at
    * 100 TB keeps the only quadratic-ish object out of the shuffle.
    */
  private def simhashPairsFrom(sigsRef: String, xorFmt: String): String = {
    val hamming = s"bit_count(${xorFmt.format("a.sig", "b.sig")})"
    bandLayout.indices
      .map(b => s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $hamming AS hamming
                   |  FROM $sigsRef a JOIN $sigsRef b ON a.band$b = b.band$b AND a.doc_id < b.doc_id
                   |  WHERE $hamming <= $simhashMaxHamming""".stripMargin)
      .mkString("\nUNION\n")
  }

  private def simhashSql(explodeToks: String, xorFmt: String): String =
    s"""WITH ${simhashSigCtes(explodeToks)},
       |pairs AS (
       |${simhashPairsFrom("sigs", xorFmt)}
       |)
       |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
       |FROM pairs
       |WHERE hamming <= $simhashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared simhash signature relation, built ONCE per (session, sf dir)
    * and persisted: a single-statement formulation would inline the sigs
    * CTE into every band-join branch (one token-aggregate recompute per
    * branch), and `dedup_groups` reuses the same relation — the ANN
    * prep-view pattern. The relation is one narrow row per doc (sig +
    * band ints), so the cache build amortizes across both queries at any
    * scale.
    */
  private def simhashSigsView(s: SparkSession, d: String): DataFrame = {
    prep(s, d)
    sharedPrep(s, d, "simhash")(Seq(s.sql(
      s"""WITH ${simhashSigCtes("explode(split(text, ' ')) AS tok")}
         |SELECT * FROM sigs""".stripMargin))).head
  }

  /** Band-collision pairs over the shared cached sigs relation, Hamming-
    * verified inside each band branch (the SQL shape of
    * [[simhashPairsFrom]], expressed on the DataFrame directly: the
    * view-resolution path re-expanded the relation per branch and
    * measured ~2x slower than joining the cached DataFrame itself).
    */
  private def simhashPairsDf(sigs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    bandLayout.indices.map { b =>
      sigs.as("a").join(sigs.as("b"),
        col(s"a.band$b") === col(s"b.band$b") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.sig ^ b.sig)").as("hamming"))
        .filter(col("hamming") <= simhashMaxHamming)
    }.reduce(_ unionAll _).distinct()
  }

  /** The verified pair set itself is a shared prep relation: it feeds
    * BOTH the pair query and the group-clustering query (exactly how a
    * pipeline consumes it — pairs once, then cluster/report off them).
    */
  private def simhashPairs(s: SparkSession, d: String): DataFrame =
    sharedPrep(s, d, "simhash_pairs")(
      Seq(simhashPairsDf(simhashSigsView(s, d)))).head

  private def simhashImpl(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    simhashPairs(s, d)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  private def sq(s: SparkSession, d: String, sql: String): DataFrame = {
    prep(s, d); s.sql(sql)
  }

  /** Near-dup GROUP clustering — the stage a training-data pipeline runs
    * after pair generation: connected components over the simhash pair
    * graph, one keeper (min doc_id) per component.
    *
    * Two regimes on the PAIR graph (which after banding is a small
    * fraction of the corpus, but unbounded in absolute terms), the same
    * gate pattern as the minhash dictionary:
    *
    *  - pair graph fits a driver budget: collect the edge list and run
    *    min-root union-find with path compression — exact, microseconds,
    *    none of Spark's per-job latency (a 6-round distributed loop costs
    *    ~8s of pure scheduling/codegen overhead on a graph this size);
    *  - larger: distributed min-label propagation with pointer jumping
    *    (path halving), O(log diameter) rounds, each round ONE shuffle
    *    job — the convergence flag rides inside the `localCheckpoint`ed
    *    label relation. Checkpointing is load-bearing: persist alone
    *    leaves the logical plan growing a generation per round and
    *    planning/codegen compounds (measured 8s → 110s per round by
    *    round 6); checkpointed rounds stay constant.
    *
    * Members are exposed as an md5 over the sorted id list (portable
    * string, no array-typed oracle columns), plus the count.
    */
  private val CcLocalMaxEdges = 4L << 20

  /** (doc, lbl) component labels of the simhash near-dup graph —
    * regime-gated exactly like [[groupsImpl]] (`scale` forces the
    * distributed loop); shared with the canonical-selection entry.
    */
  private def componentLabels(s: SparkSession, d: String, scale: Boolean): DataFrame = {
    val pairs = simhashPairs(s, d).select("doc_a", "doc_b")
    val nEdges = pairs.count()
    if (nEdges <= gate(CcLocalMaxEdges, scale)) localUnionFind(s, pairs)
    else distributedComponents(pairs)
  }

  private def groupsImpl(s: SparkSession, d: String, scale: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val labels: DataFrame = componentLabels(s, d, scale)
    // membership digest: bit_xor of per-doc md5 prefixes — O(1) aggregate
    // state and map-side-combinable, where a sorted collect_list would put
    // a pathological dup cluster (the same boilerplate a million times)
    // on one task as one giant array
    labels
      .groupBy(col("lbl").as("keeper_doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(CAST(conv(substring(md5(CAST(doc AS STRING)), 1, 15), 16, 10) AS BIGINT))")
          .as("members_hash"))
      .orderBy("keeper_doc_id")
  }

  /** Driver-side exact union-find (min element as root, path-compressed);
    * the gate guarantees the edge list is driver-sized. Edges are
    * collected as primitive-long tuples, not Rows — GenericRow objects
    * cost ~100-150 bytes per edge and would put a worst-case (4M-edge)
    * collect at ~0.5 GB of driver heap for 64 MB of longs.
    */
  private[queries] def localUnionFind(s: SparkSession, pairs: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val edges = pairs.rdd.map(r => (r.getLong(0), r.getLong(1))).collect()
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    import s.implicits._
    parent.keys.toSeq.map(v => (v, find(v))).toDF("doc", "lbl")
  }

  /** See [[graft.util.Checkpoints.freeLocalCheckpoint]] — shared with the
    * PageRank loop in GraphOps.
    */
  private def freeLocalCheckpoint(df: DataFrame): Unit =
    graft.util.Checkpoints.freeLocalCheckpoint(df)

  /** Distributed min-label propagation + pointer jumping; the scale path.
    *
    * Known skew bound: the pointer-jump join keys on `lbl`, so a single
    * giant dup component concentrates its members on the task owning the
    * converged label each round — the loop's straggler bound is the
    * largest component divided by one task's throughput, for O(log n)
    * rounds. Acceptable because near-dup components are candidate-pair
    * bounded (the LSH/banding layers cap pair density long before a
    * 100M-member component can form); a general-graph CC would need
    * label salting or changed-only frontiers here.
    */
  private[queries] def distributedComponents(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val sc = pairs.sparkSession.sparkContext
    val both = pairs.union(pairs.select(col("doc_b"), col("doc_a"))).toDF("doc", "nbr")
    // labels are doc ids, and the convergence UDF below takes primitive
    // longs: any other id type would reach it through an implicit cast,
    // null-skip it, read 0 changes and stop after one round unconverged
    val idType = both.schema("doc").dataType
    require(idType == LongType,
      s"connected components need BIGINT doc ids, got ${idType.simpleString}")
    // pre-partitioned by the probe key ONCE: localCheckpoint preserves the
    // physical partitioning, so every round's propagation join reuses this
    // layout and only the (doc, lbl) labels — never the edge list, the big
    // side at 100 TB — cross an exchange again
    val edges0 = both.repartition(col("nbr")).localCheckpoint()
    // Data-bounded loop partitioning (the r16 pagerank rule applied here):
    // every round runs ~5 label exchanges, and at the session's core-count
    // shuffle partitioning that is ~160 tiny tasks/round of pure launch
    // overhead on node-sized labels (measured: ~1 s/round at sf0.1 with 32
    // partitions, whether the exchanges ran as 8 AQE jobs or 2 non-AQE
    // jobs — the tasks, not the jobs, are the floor). Size the loop's
    // partition count to the EDGE bytes (the biggest relation the loop
    // touches): core-count floor only while each core gets >= 8 MB of
    // edges, data-sized above (e*rowBytes/32MB), so a 100 TB edge list
    // keeps full parallelism while a node-sized one stops paying for it.
    // The count is one narrow job over the already-checkpointed blocks;
    // the re-layout shuffle below only fires in the small regime where it
    // is trivially cheap, and scale keeps the original layout untouched.
    val eCnt = edges0.count()
    val EdgeRowBytes = 48L
    val loopParts = math.max(
      math.min(sc.defaultParallelism.toLong, eCnt * EdgeRowBytes / (8L << 20) + 1),
      math.min(1L << 18, eCnt * EdgeRowBytes / (32L << 20) + 1)).toInt
    val edges =
      if (loopParts < edges0.rdd.getNumPartitions) {
        val re = edges0.repartition(loopParts, col("nbr")).localCheckpoint()
        freeLocalCheckpoint(edges0)
        re
      } else edges0
    // the per-round convergence count rides an ACCUMULATOR inside the
    // checkpoint-materialization job instead of a second count() job over
    // the checkpointed blocks: one fewer Spark job AND one fewer full
    // read of the label set per round. Correctness under task retries:
    // transformation-stage accumulator updates can only OVER-count (a
    // re-run partition re-adds), never turn a real change into zero —
    // and `changed` gates only on ==0 / >0. The UDF is nondeterministic
    // so the optimizer cannot duplicate or reorder the side-effecting call.
    val chgAcc = sc.longAccumulator("graft_cc_changed")
    val chgUdf = udf { (l: Long, o: Long) =>
      val c = l < o
      if (c) chgAcc.add(1L)
      c
    }.asNondeterministic()
    // AQE OFF inside the loop in the local checkpoint mode: each round's
    // checkpoint action is a ~5-exchange DAG and AQE materializes every
    // exchange as its OWN job — measured 7-8 jobs/round at sf0.1 against
    // a ~130 ms/job scheduling floor (OPTIMIZATION_r16.md,
    // BENCH_AB_r16.json); non-AQE runs the round as ONE job whose
    // exchanges use the loopParts sizing above (AQE coalescing cannot see
    // the checkpointed relations' stats anyway). The candidate-pair
    // subtree BEFORE the loop keeps the session's AQE. The lineage-keeping
    // cluster mode (`Materialize` mode `persist`) also keeps AQE's runtime
    // skew splitting inside the loop; the loop's own skew bound is
    // documented in the method scaladoc.
    val s = pairs.sparkSession
    val aqeKey = "spark.sql.adaptive.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val aqeBefore = s.conf.getOption(aqeKey)
    val partsBefore = s.conf.getOption(partsKey)
    val loopAqe = (graft.util.Materialize.mode(s) == "persist").toString
    var changed = 1L
    var rounds = 0
    var gen: DataFrame = null
    var labels: DataFrame = null
    try {
    s.conf.set(aqeKey, loopAqe)
    s.conf.set(partsKey, loopParts.toString)
    // label generation 0 is built INSIDE the loop's conf region so its
    // distinct (and every later label exchange) uses loopParts
    gen = edges.select(col("doc")).distinct()
      .withColumn("lbl", col("doc")).localCheckpoint()
    labels = gen
    while (changed > 0 && rounds < 50) {
      chgAcc.reset()
      val nbrLbl = edges
        .join(labels.select(col("doc").as("nbr"), col("lbl").as("cand")), "nbr")
        .select(col("doc"), col("cand"), lit(null).cast(LongType).as("old"))
      // each doc's PREVIOUS label rides through the aggregate on its own
      // labels row (exactly one per doc, so max() ignores the nbr rows'
      // nulls) — the post-jump re-join with the old generation disappears
      val propagated = labels
        .select(col("doc"), col("lbl").as("cand"), col("lbl").as("old"))
        .union(nbrLbl)
        .groupBy("doc").agg(min("cand").as("lbl"), max("old").as("old"))
      // pointer jump; the probe side keys on `doc` (aliased to lbl), which
      // the groupBy above already hash-partitioned — only the build side
      // re-shuffles, so a round is 3 exchanges where it was 7
      def jump(df: DataFrame): DataFrame = df
        .join(df.select(col("doc").as("lbl"), col("lbl").as("parent_lbl")),
          Seq("lbl"), "left")
        .select(col("doc"),
          least(col("lbl"), coalesce(col("parent_lbl"), col("lbl"))).as("lbl"), col("old"))
      // jump TWICE per round (path doubling): halves the round count for
      // deep label chains — at 100 TB every avoided round is one fewer
      // full shuffle of the label set, and the second jump reuses the
      // first's (doc-keyed) partitioning for its probe side
      val marked = jump(jump(propagated))
        .select(col("doc"), col("lbl"), chgUdf(col("lbl"), col("old")).as("chg"))
      // the change count exists only if the checkpoint computes `chg`: a
      // frame without it would read 0 and stop after one round unconverged
      require(marked.columns.contains("chg"), "the checkpointed round must carry chg")
      val next = marked.localCheckpoint()
      changed = chgAcc.value
      // `next` is materialized — the previous generation's blocks are dead
      freeLocalCheckpoint(gen)
      gen = next
      labels = next.select("doc", "lbl")
      rounds += 1
    }
    } finally {
      aqeBefore match {
        case Some(v) => s.conf.set(aqeKey, v)
        case None => s.conf.unset(aqeKey)
      }
      partsBefore match {
        case Some(v) => s.conf.set(partsKey, v)
        case None => s.conf.unset(partsKey)
      }
    }
    require(changed == 0, s"connected components did not converge in $rounds rounds")
    // the final labels are materialized checkpoint blocks; the edge list
    // is no longer an input to anything
    freeLocalCheckpoint(edges)
    labels
  }

  /** Canonical selection: the shared ranking SQL over a (doc, lbl)
    * labels relation joined to integer quality aggregates.
    */
  private def canonicalRankSql(labelsRel: String): String =
    s"""qt AS (SELECT doc_id, COUNT(1) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct
       |  FROM toks GROUP BY doc_id),
       |ranked AS (
       |  SELECT l.lbl AS group_id, l.doc AS doc_id, qt.n_distinct, qt.n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY l.lbl
       |      ORDER BY qt.n_distinct DESC, qt.n_tokens DESC, l.doc) AS rn,
       |    COUNT(1) OVER (PARTITION BY l.lbl) AS n_docs
       |  FROM $labelsRel l JOIN qt ON l.doc = qt.doc_id)
       |SELECT group_id, doc_id AS canonical_doc_id, n_docs, n_distinct, n_tokens
       |FROM ranked WHERE rn = 1
       |ORDER BY group_id""".stripMargin

  private def canonicalImpl(s: SparkSession, d: String, scale: Boolean): DataFrame = {
    componentLabels(s, d, scale).createOrReplaceTempView("dup_labels")
    s.sql(
      s"""WITH toks AS (
         |  SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents),
         |${canonicalRankSql("dup_labels")}""".stripMargin)
  }

  private def canonicalOracle: String =
    s"""WITH RECURSIVE ${simhashSigCtes("UNNEST(string_split(text, ' ')) AS tok")},
       |pairs AS (
       |${simhashPairsFrom("sigs", "xor(%s, %s)")}
       |),
       |dup_edges AS (
       |  SELECT doc_a, doc_b FROM pairs WHERE hamming <= $simhashMaxHamming
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs WHERE hamming <= $simhashMaxHamming),
       |reach(a, b) AS (
       |  SELECT doc_a, doc_a FROM dup_edges
       |  UNION
       |  SELECT r.a, e.doc_b FROM reach r JOIN dup_edges e ON r.b = e.doc_a),
       |labels AS (
       |  SELECT a AS doc, MIN(b) AS lbl FROM reach GROUP BY a),
       |${canonicalRankSql("labels")}""".stripMargin

  /** DuckDB oracle: transitive closure by recursive CTE (exact, fine at
    * oracle scale), then min-reachable as the component label.
    */
  private def groupsOracle: String =
    s"""WITH RECURSIVE ${simhashSigCtes("UNNEST(string_split(text, ' ')) AS tok")},
       |pairs AS (
       |${simhashPairsFrom("sigs", "xor(%s, %s)")}
       |),
       |dup_edges AS (
       |  SELECT doc_a, doc_b FROM pairs WHERE hamming <= $simhashMaxHamming
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs WHERE hamming <= $simhashMaxHamming),
       |reach(a, b) AS (
       |  SELECT doc_a, doc_a FROM dup_edges
       |  UNION
       |  SELECT r.a, e.doc_b FROM reach r JOIN dup_edges e ON r.b = e.doc_a),
       |labels AS (
       |  SELECT a AS doc, MIN(b) AS lbl FROM reach GROUP BY a)
       |SELECT lbl AS keeper_doc_id, COUNT(1) AS n_docs,
       |  bit_xor(CAST(('0x' || substring(md5(CAST(doc AS VARCHAR)), 1, 15)) AS BIGINT)) AS members_hash
       |FROM labels
       |GROUP BY lbl
       |ORDER BY keeper_doc_id""".stripMargin

  /** Shared langid-eval SQL (see the `text_langid_eval` entry): the
    * same hint-count detector as `text_langid`, rolled into a
    * (labeled, detected) confusion relation and per-class
    * precision/recall/F1 from its exact counts. Sums are cast BIGINT on
    * both engines (DuckDB alone widens SUM(BIGINT) to HUGEINT).
    */
  private def langidEvalSql(spark: Boolean): String = {
    def hits(words: String): String =
      if (spark) s"size(filter(split(text, ' '), t -> $words))"
      else s"len(list_filter(string_split(text, ' '), t -> $words))"
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    ${hits("t = 'the' OR t = 'a'")} AS h_en,
       |    ${hits("t = 'table' OR t = 'join'")} AS h_de,
       |    ${hits("t = 'data' OR t = 'query'")} AS h_es,
       |    ${hits("t = 'window' OR t = 'sort'")} AS h_fr
       |  FROM documents),
       |preds AS (
       |  SELECT lang AS labeled,
       |    CASE
       |      WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
       |      WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
       |      WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
       |      WHEN h_fr > 0 THEN 'fr'
       |      ELSE 'und' END AS detected
       |  FROM scored),
       |conf AS (SELECT labeled, detected, COUNT(1) AS n FROM preds GROUP BY 1, 2),
       |classes AS (SELECT labeled AS cls FROM conf UNION SELECT detected FROM conf),
       |m AS (
       |  SELECT c.cls,
       |    CAST(COALESCE(SUM(CASE WHEN f.labeled = c.cls THEN f.n END), 0) AS BIGINT) AS support,
       |    CAST(COALESCE(SUM(CASE WHEN f.labeled = c.cls AND f.detected = c.cls THEN f.n END), 0) AS BIGINT) AS tp,
       |    CAST(COALESCE(SUM(CASE WHEN f.detected = c.cls AND f.labeled <> c.cls THEN f.n END), 0) AS BIGINT) AS fp,
       |    CAST(COALESCE(SUM(CASE WHEN f.labeled = c.cls AND f.detected <> c.cls THEN f.n END), 0) AS BIGINT) AS fn
       |  FROM classes c CROSS JOIN conf f GROUP BY c.cls)
       |SELECT cls, support, tp, fp, fn,
       |  CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS prec,
       |  CASE WHEN tp + fn = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS rec,
       |  CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
       |FROM m ORDER BY cls""".stripMargin
  }

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme):
    * hash every k-gram (k=4), slide a w=5 window over the hash sequence,
    * keep each window's MINIMUM — guaranteeing any match of length
    * ≥ w+k−1 tokens shares a fingerprint, at expected density 2/(w+1).
    * Per-doc output: fingerprint count + an order-independent bit_xor
    * digest of the DISTINCT fingerprint set (exact integers end-to-end —
    * the 60-bit md5-prefix hash is the repo's cross-engine spelling).
    * Scale shape: k-grams derive map-side from the split array (no
    * shuffle), the min-window partitions by doc (corpus-many partitions,
    * doc-bounded), and the digest is a combinable aggregate.
    */
  private def winnowingSql(spark: Boolean): String = {
    val h = CrossEngine.hash60(spark, "gram")
    val grams =
      if (spark)
        """SELECT doc_id, e.i AS pos, concat_ws(' ', slice(a, e.i, 4)) AS gram
          |  FROM (SELECT doc_id, split(text, ' ') AS a FROM documents)
          |  LATERAL VIEW explode(transform(sequence(1, size(a) - 3), i -> struct(i AS i))) t AS e
          |  WHERE size(a) >= 4""".stripMargin
      else
        """SELECT doc_id, i AS pos, array_to_string(a[i:i+3], ' ') AS gram
          |  FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
          |       UNNEST(range(1, len(a) - 2)) AS t(i)
          |  WHERE len(a) >= 4""".stripMargin
    s"""WITH kg AS (
       |  SELECT doc_id, pos, $h AS hv FROM (
       |  $grams) g),
       |minw AS (
       |  SELECT doc_id, pos,
       |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS mh,
       |    COUNT(1) OVER (PARTITION BY doc_id) AS n_kgrams
       |  FROM kg),
       |fp AS (SELECT DISTINCT doc_id, mh FROM minw WHERE pos <= n_kgrams - 4),
       |agg AS (
       |  SELECT doc_id, COUNT(1) AS n_fingerprints,
       |    CAST(bit_xor(mh) AS BIGINT) AS fp_digest
       |  FROM fp GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
       |  CAST(COALESCE(a.fp_digest, 0) AS BIGINT) AS fp_digest
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  private val qs: Map[String, QueryDef] = Map(
    "text_winnowing" -> QueryDef(
      (s, d) => sq(s, d, winnowingSql(spark = true)),
      winnowingSql(spark = false)),

    // --- exact dedup: hash-groupBy, keep lowest doc_id ---------------------
    "dedup_exact" -> QueryDef(
      (s, d) => sq(s, d,
        s"""WITH corpus AS ($corpusSql)
           |SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id,
           |       COUNT(1) AS n_copies
           |FROM corpus
           |GROUP BY md5(text)
           |HAVING COUNT(1) > 1
           |ORDER BY text_hash""".stripMargin),
      s"""WITH corpus AS ($corpusSql)
         |SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id,
         |       COUNT(1) AS n_copies
         |FROM corpus
         |GROUP BY md5(text)
         |HAVING COUNT(1) > 1
         |ORDER BY text_hash""".stripMargin
    ),

    // --- exact-substring dedup signal: duplicated 13-token-gram coverage --
    // (the gram-space form of Lee et al. 2021's exact-substring dedup: a
    // gram occurring more than once across the corpus marks a duplicated
    // span; per-doc dup_fraction is the fraction of its grams so marked.)
    // Shape: explode grams once, one map-side-combinable global gram
    // count, one shuffle join of grams against the gram-count relation
    // keyed by gram — the standard inverted-index shape, no window and no
    // broadcast of a corpus-sized dictionary. Short docs (< 13 tokens)
    // keep a row with 0 grams and NULL fraction via the LEFT join.
    // dedup_substring stays inline: its 13-gram stream is a ~13x byte
    // expansion of the corpus, and the materialized form MEASURED 0.97s
    // in-suite vs 0.11s inline (r15-opt) — the sketch_profile lesson
    // (materialize reductions, never expansions) applied after the fact
    "dedup_substring" -> QueryDef(
      (s, d) => sq(s, d,
        s"""WITH corpus AS ($corpusSql),
           |toks AS (SELECT doc_id, split(text, ' ') AS a FROM corpus),
           |grams AS (
           |  SELECT doc_id, explode(CASE WHEN size(a) >= 13
           |    THEN transform(sequence(1, size(a) - 12), i -> concat_ws(' ', slice(a, i, 13)))
           |    ELSE array() END) AS gram
           |  FROM toks),
           |gc AS (SELECT gram, COUNT(1) AS n FROM grams GROUP BY gram),
           |per AS (
           |  SELECT g.doc_id, COUNT(1) AS n_grams,
           |         SUM(CASE WHEN gc.n > 1 THEN 1 ELSE 0 END) AS n_dup
           |  FROM grams g JOIN gc ON g.gram = gc.gram GROUP BY g.doc_id)
           |SELECT t.doc_id, COALESCE(p.n_grams, CAST(0 AS BIGINT)) AS n_grams,
           |  COALESCE(p.n_dup, CAST(0 AS BIGINT)) AS n_dup_grams,
           |  CAST(p.n_dup AS DOUBLE) / p.n_grams AS dup_fraction
           |FROM toks t LEFT JOIN per p ON t.doc_id = p.doc_id
           |ORDER BY t.doc_id""".stripMargin),
      s"""WITH corpus AS ($corpusSql),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM corpus),
         |grams AS (
         |  SELECT doc_id, UNNEST(CASE WHEN len(a) >= 13
         |    THEN list_transform(range(1, len(a) - 11), i -> array_to_string(a[i:i+12], ' '))
         |    ELSE [] END) AS gram
         |  FROM toks),
         |gc AS (SELECT gram, COUNT(1) AS n FROM grams GROUP BY gram),
         |per AS (
         |  SELECT g.doc_id, COUNT(1) AS n_grams,
         |         CAST(SUM(CASE WHEN gc.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM grams g JOIN gc ON g.gram = gc.gram GROUP BY g.doc_id)
         |SELECT t.doc_id, COALESCE(p.n_grams, 0) AS n_grams,
         |  COALESCE(p.n_dup, 0) AS n_dup_grams,
         |  CAST(p.n_dup AS DOUBLE) / p.n_grams AS dup_fraction
         |FROM toks t LEFT JOIN per p ON t.doc_id = p.doc_id
         |ORDER BY t.doc_id""".stripMargin
    ),

    // --- duplicated-span SCRUB accounting (the RefinedWeb/MassiveText
    // line-dedup pass re-expressed over span windows, since the corpus
    // has no newlines): an 8-token span occurring in >= 2 distinct docs
    // is boilerplate; every TOKEN POSITION covered by any hot-span
    // occurrence is dropped, and the entry reports the per-doc removal
    // accounting (n_tokens / n_dropped / n_kept) a scrub stage emits.
    // Distinct from dedup_substring, which scores a dup FRACTION signal
    // — this computes the positional coverage of the actual transform.
    // Scale shape: inverted span index (map-side-combinable distinct-doc
    // count), hot set bounded by the df cutoff, coverage join fans out
    // exactly 8 positions per hot-span OCCURRENCE (occurrence-bounded,
    // never corpus²), DISTINCT collapses overlaps per (doc, position) —
    // all doc-keyed combinable aggregates after one shuffle on the span
    // key. At 100 TB the hot set is the only broadcast-able side and the
    // df cutoff caps it exactly like decontaminate's benchmark grams.
    // text_span_scrub stays inline: its 8-gram stream is an ~8x byte
    // expansion of the corpus on a 0.2s entry — materializing repeated
    // subtrees only pays for REDUCTIONS (the sketch_profile lesson)
    "text_span_scrub" -> QueryDef(
      (s, d) => sq(s, d,
        s"""WITH corpus AS ($corpusSql),
           |docs AS (SELECT doc_id, split(text, ' ') AS a FROM corpus),
           |grams AS (
           |  SELECT doc_id, g.pos AS pos, g.gram AS gram FROM (
           |    SELECT doc_id, explode(CASE WHEN size(a) >= 8
           |      THEN transform(sequence(0, size(a) - 8),
           |        i -> struct(i AS pos, concat_ws(' ', slice(a, i + 1, 8)) AS gram))
           |      ELSE array() END) AS g
           |    FROM docs)),
           |df AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY gram),
           |hot AS (SELECT gram FROM df WHERE df >= 2),
           |cov AS (
           |  SELECT DISTINCT g.doc_id, g.pos + o.off AS cpos
           |  FROM grams g JOIN hot h ON g.gram = h.gram
           |  CROSS JOIN (SELECT explode(sequence(0, 7)) AS off) o),
           |cnt AS (SELECT doc_id, COUNT(1) AS n FROM cov GROUP BY doc_id)
           |SELECT d.doc_id, CAST(size(d.a) AS BIGINT) AS n_tokens,
           |  COALESCE(c.n, CAST(0 AS BIGINT)) AS n_dropped,
           |  CAST(size(d.a) AS BIGINT) - COALESCE(c.n, CAST(0 AS BIGINT)) AS n_kept
           |FROM docs d LEFT JOIN cnt c ON c.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin),
      s"""WITH corpus AS ($corpusSql),
         |docs AS (SELECT doc_id, string_split(text, ' ') AS a FROM corpus),
         |grams AS (
         |  SELECT doc_id, i AS pos, array_to_string(list_slice(a, i + 1, i + 8), ' ') AS gram
         |  FROM docs, UNNEST(range(0, len(a) - 7)) AS t(i)),
         |df AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY gram),
         |hot AS (SELECT gram FROM df WHERE df >= 2),
         |cov AS (
         |  SELECT DISTINCT g.doc_id, g.pos + o.off AS cpos
         |  FROM grams g JOIN hot h ON g.gram = h.gram, UNNEST(range(0, 8)) AS o(off)),
         |cnt AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n FROM cov GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.a) AS BIGINT) AS n_tokens,
         |  COALESCE(c.n, CAST(0 AS BIGINT)) AS n_dropped,
         |  CAST(len(d.a) AS BIGINT) - COALESCE(c.n, CAST(0 AS BIGINT)) AS n_kept
         |FROM docs d LEFT JOIN cnt c ON c.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    ),

    // --- token counting: tokenize ONCE via explode + one hash-agg ---------
    // (the round-1 shape re-evaluated split() per output column; higher-
    // order functions run interpreted, so Catalyst's subexpression
    // elimination never kicked in. explode + map-side-combinable aggregate
    // is also the right distributed shape at 100 TB.)
    "text_token_stats" -> QueryDef(
      (s, d) => sq(s, d,
        """WITH toks AS (
          |  SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents),
          |agg AS (
          |  SELECT doc_id, COUNT(1) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct_tokens,
          |         SUM(length(tok)) AS n_word_chars
          |  FROM toks GROUP BY doc_id)
          |SELECT doc_id, n_tokens, n_distinct_tokens, n_word_chars,
          |  CAST(n_word_chars AS DOUBLE) / n_tokens AS avg_token_len
          |FROM agg
          |ORDER BY doc_id""".stripMargin),
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |agg AS (
        |  SELECT doc_id, COUNT(1) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct_tokens,
        |         CAST(SUM(length(tok)) AS BIGINT) AS n_word_chars
        |  FROM toks GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct_tokens, n_word_chars,
        |  CAST(n_word_chars AS DOUBLE) / n_tokens AS avg_token_len
        |FROM agg
        |ORDER BY doc_id""".stripMargin
    ),

    // --- BPE-ish regex tokenization: letter-run / digit-run / punct-run
    // pre-tokenizer (the GPT-2 pre-split shape minus contractions — the
    // disjoint classes make Java-regex and RE2 counts provably identical)
    "text_token_regex" -> QueryDef(
      (s, d) => sq(s, d,
        """SELECT doc_id,
          |  size(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+', 0)) AS n_bpe_tokens,
          |  size(regexp_extract_all(text, '\\p{L}+', 0)) AS n_word_tokens,
          |  size(split(text, ' ')) AS n_ws_tokens
          |FROM documents
          |ORDER BY doc_id""".stripMargin),
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+')) AS n_bpe_tokens,
        |  len(regexp_extract_all(text, '\p{L}+')) AS n_word_tokens,
        |  len(string_split(text, ' ')) AS n_ws_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ),

    // --- quality scoring: same tokenize-once shape -------------------------
    "text_quality" -> QueryDef(
      (s, d) => sq(s, d,
        """WITH toks AS (
          |  SELECT doc_id, n_chars, explode(split(text, ' ')) AS tok FROM documents),
          |agg AS (
          |  SELECT doc_id, MAX(n_chars) AS n_chars, COUNT(1) AS n_tokens,
          |         COUNT(DISTINCT tok) AS n_distinct,
          |         SUM(CASE WHEN tok = 'the' OR tok = 'a' THEN 1 ELSE 0 END) AS n_stop
          |  FROM toks GROUP BY doc_id)
          |SELECT doc_id, n_chars, n_tokens,
          |  CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
          |  CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
          |  (n_tokens BETWEEN 10 AND 120)
          |    AND (CAST(n_distinct AS DOUBLE) / n_tokens > 0.2) AS is_quality
          |FROM agg
          |ORDER BY doc_id""".stripMargin),
      """WITH toks AS (
        |  SELECT doc_id, n_chars, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |agg AS (
        |  SELECT doc_id, MAX(n_chars) AS n_chars, COUNT(1) AS n_tokens,
        |         COUNT(DISTINCT tok) AS n_distinct,
        |         SUM(CASE WHEN tok = 'the' OR tok = 'a' THEN 1 ELSE 0 END) AS n_stop
        |  FROM toks GROUP BY doc_id)
        |SELECT doc_id, n_chars, n_tokens,
        |  CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
        |  CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
        |  (n_tokens BETWEEN 10 AND 120)
        |    AND (CAST(n_distinct AS DOUBLE) / n_tokens > 0.2) AS is_quality
        |FROM agg
        |ORDER BY doc_id""".stripMargin
    ),

    // --- language ID: marker-token scoring with deterministic argmax -------
    "text_langid" -> QueryDef(
      (s, d) => sq(s, d,
        """WITH scored AS (
          |  SELECT doc_id, lang,
          |    size(filter(split(text, ' '), t -> t = 'the' OR t = 'a')) AS h_en,
          |    size(filter(split(text, ' '), t -> t = 'table' OR t = 'join')) AS h_de,
          |    size(filter(split(text, ' '), t -> t = 'data' OR t = 'query')) AS h_es,
          |    size(filter(split(text, ' '), t -> t = 'window' OR t = 'sort')) AS h_fr
          |  FROM documents)
          |SELECT doc_id, lang AS labeled_lang, h_en, h_de, h_es, h_fr,
          |  CASE
          |    WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
          |    WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
          |    WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
          |    WHEN h_fr > 0 THEN 'fr'
          |    ELSE 'und' END AS detected_lang
          |FROM scored
          |ORDER BY doc_id""".stripMargin),
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS h_en,
        |    len(list_filter(string_split(text, ' '), t -> t = 'table' OR t = 'join')) AS h_de,
        |    len(list_filter(string_split(text, ' '), t -> t = 'data' OR t = 'query')) AS h_es,
        |    len(list_filter(string_split(text, ' '), t -> t = 'window' OR t = 'sort')) AS h_fr
        |  FROM documents)
        |SELECT doc_id, lang AS labeled_lang, h_en, h_de, h_es, h_fr,
        |  CASE
        |    WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
        |    WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
        |    WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
        |    WHEN h_fr > 0 THEN 'fr'
        |    ELSE 'und' END AS detected_lang
        |FROM scored
        |ORDER BY doc_id""".stripMargin
    ),

    // --- langid evaluation: per-class precision/recall/F1 vs the label ----
    // The classifier-eval step every langid deployment runs. Confusion
    // counts aggregate first ((labeled, detected) pairs — combinable,
    // class-count-sized regardless of corpus size); per-class metrics
    // derive from those exact counts, each a single correctly-rounded
    // division (F1 straight from counts: 2tp/(2tp+fp+fn)), so the
    // doubles are bit-identical cross-engine. Zero-denominator classes
    // report 0.0, not NULL/NaN.
    "text_langid_eval" -> QueryDef(
      (s, d) => sq(s, d, langidEvalSql(spark = true)),
      langidEvalSql(spark = false)),

    // --- document fingerprinting: hash of sorted distinct token set --------
    "text_fingerprint" -> QueryDef(
      (s, d) => sq(s, d,
        """SELECT md5(concat_ws(' ', array_sort(array_distinct(split(text, ' '))))) AS fingerprint,
          |  MIN(doc_id) AS keeper_doc_id, COUNT(1) AS n_docs
          |FROM documents
          |GROUP BY 1
          |ORDER BY fingerprint""".stripMargin),
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
        |  MIN(doc_id) AS keeper_doc_id, COUNT(1) AS n_docs
        |FROM documents
        |GROUP BY 1
        |ORDER BY fingerprint""".stripMargin
    ),

    // --- blocked exact n-gram Jaccard near-dup ------------------------------
    "dedup_ngram_jaccard" -> QueryDef(ngramImpl(_, _, scale = false), Some(ngramOracle)),

    // --- SimHash near-dup: 32-bit token-space fingerprints ------------------
    "dedup_simhash" -> QueryDef(
      simhashImpl _,
      simhashSql("UNNEST(string_split(text, ' ')) AS tok", "xor(%s, %s)")),

    // --- near-dup group clustering: components + keeper per group ----------
    "dedup_groups" -> QueryDef(groupsImpl(_, _, scale = false), Some(groupsOracle)),

    // --- canonical-document selection: production dedup keeps the BEST
    // group member, not the first — here argmax by integer-exact quality
    // (distinct-token count, then token count, then min doc_id), so the
    // pick is total and bit-identical cross-engine. One window over the
    // label relation (tiny next to the corpus), quality from one
    // tokenize pass of keyed combinable aggregates.
    "dedup_canonical" -> QueryDef(canonicalImpl(_, _, scale = false), Some(canonicalOracle)),

    // --- MinHash + LSH banding near-dup -------------------------------------
    "dedup_minhash_lsh" -> QueryDef(minhashImpl(_, _, scale = false), Some(minhashOracle)),

    // --- scale-regime twins: same oracles, large-corpus code paths ----------
    // The regime gates choose branches from Catalyst size estimates, so at
    // oracle scale the broadcast/driver branches always win and the 100 TB
    // branches would ship unexercised by the correctness gate. These
    // entries force the scale branches (per-occurrence minhash, semi-join
    // + shuffle-hash verify, distributed pointer-jumping components) by
    // passing `scale = true`, which sets every gate the impl reads to 0,
    // and check them against the SAME DuckDB oracles.
    "dedup_minhash_lsh_scale" -> QueryDef(
      minhashImpl(_, _, scale = true), Some(minhashOracle)),
    "dedup_ngram_jaccard_scale" -> QueryDef(
      ngramImpl(_, _, scale = true), Some(ngramOracle)),
    "dedup_groups_distributed" -> QueryDef(
      groupsImpl(_, _, scale = true), Some(groupsOracle)),

    // canonical selection over the FORCED distributed-components branch —
    // the same oracle hashes, so the pointer-jumping labels must agree
    // with the recursive-CTE closure exactly like the keeper entry does
    "dedup_canonical_distributed" -> QueryDef(
      canonicalImpl(_, _, scale = true), Some(canonicalOracle))
  )

  def queries: Map[String, QueryDef] = qs
}
