package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Per-invocation materialization of a multiply-referenced ONE-SHOT
  * subtree (the r15-opt CTE-dedup pattern: Spark inlines deterministic
  * CTEs at every reference site, so a `WITH x AS (...)` referenced 2-6x
  * re-executes its subtree that many times unless the shared relation is
  * materialized once and re-read).
  *
  * r16: one shared helper for every one-shot site, with the
  * materialization MODE parameterized (see [[mode]]): local default is
  * `localCheckpoint()` (bench-measured cheaper), production clusters opt
  * into lineage-preserving `persist(MEMORY_AND_DISK)` + eager count
  * (guide §5) so an executor loss mid-query recomputes instead of
  * killing the query. Iterative loops (connected components, PageRank,
  * the k-means/PQ training chains) use localCheckpoint directly — there
  * the lineage cut is the point (plan growth per round is what kills
  * iterative DataFrame jobs; measured in TextOps: 8s -> 110s/round).
  *
  * Lifecycle (why unpersist is NOT in a finally block here): cache
  * substitution happens at ACTION time, not at DataFrame-build time, so
  * unpersisting when the downstream DataFrame is built — before the
  * caller runs its action — would silently restore the N-fold re-execution
  * this helper exists to remove. Instead every persisted frame is parked
  * in a per-session pending list and freed by [[drain]], which
  * [[graft.SparkEntry]] calls at the START of the next query invocation —
  * by which point the sequential drivers (Bench / Verify / the oracle
  * harness) have fully consumed the previous result. Two invariants fall
  * out:
  *
  *  - per-invocation semantics hold: a repeat invocation of the same
  *    query drains (unpersists) its previous frame FIRST, so every bench
  *    pass re-computes the subtree from the parquet inputs — nothing is
  *    memoized across runs or passes;
  *  - block-manager pressure is bounded to one invocation's frames (the
  *    r15 lesson: session-accumulated pinned blocks measurably degrade
  *    later memory-hungry queries).
  *
  * The helper assumes the session runs queries sequentially (the driver
  * contract; see ADVICE r15 on SparkEntry.queries' sequential-session
  * contract). Concurrent invocations in ONE session would need the
  * pending list keyed per invocation instead.
  */
object Materialize {

  private val PendingKey = "graft_materialize_pending"
  private val viewNonce = new java.util.concurrent.atomic.AtomicLong()

  /** `checkpoint` (default) | `persist`.
    *
    * Measured (r16, isolated min-of-5 at sf0.1, 13 materializing entries,
    * 3 arms back-to-back on one box): persist(MEMORY_AND_DISK)+count is
    * SLOWER than localCheckpoint at 11 of 13 sites, by 6-45% of the whole
    * entry (the extra eager count() job plus the columnar InMemoryRelation
    * encode cost more than localCheckpoint's serialized block write; e.g.
    * hudi_agg_maintenance 1.22 s persist vs 0.92 s checkpoint,
    * text_dsir_select 2.20 vs 1.30, embed_knn_brute 0.39 vs 0.24). The
    * local default is therefore checkpoint — the bench-comparable setting.
    *
    * `persist` stays available as the PRODUCTION mode for real clusters
    * (set spark.graft.materialize.mode=persist): localCheckpoint stores
    * unreplicated executor-local blocks with truncated lineage, so one
    * executor loss mid-query kills the query unrecoverably, while persist
    * keeps recompute-on-loss lineage. That fault-tolerance premium is the
    * measured 6-45% above — a deliberate, parameterized trade (round rule:
    * scale-dependent settings ride conf with bench-comparable local
    * defaults).
    */
  private[graft] def mode(s: SparkSession): String =
    s.conf.getOption("spark.graft.materialize.mode").getOrElse("checkpoint")

  private def pending(s: SparkSession) = {
    val reg = graft.queries.SessionRegistry.of(s)
    reg
      .getOrElseUpdate(PendingKey, scala.collection.mutable.ArrayBuffer.empty[DataFrame])
      .asInstanceOf[scala.collection.mutable.ArrayBuffer[DataFrame]]
  }

  /** Materialize `df` exactly once for this invocation and return the
    * frame downstream references should read. Eager in both modes —
    * the subtree executes NOW, inside the caller's timed region.
    */
  def once(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (mode(s) == "checkpoint") df.localCheckpoint()
    else {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      // eager: any action over a persisted frame builds the full-row
      // column batches, so downstream references hit the cache; count()
      // is the cheapest such action
      df.count()
      val p = pending(s)
      p.synchronized { p += df }
      df
    }
  }

  /** Free every frame persisted by PREVIOUS invocations. Called by
    * [[graft.SparkEntry]] before each query fn runs (sequential-driver
    * contract: the previous result has been consumed by then).
    */
  def drain(s: SparkSession): Unit = {
    val p = pending(s)
    val toFree = p.synchronized { val c = p.toList; p.clear(); c }
    toFree.foreach(_.unpersist(blocking = false))
  }

  /** Materialize `df`, expose it under a fresh per-invocation view name
    * (nonce-suffixed: two concurrent invocations can no longer clobber a
    * shared session-global name, and no pre-existing user view is
    * silently replaced), hand the name to `f`, and ALWAYS drop the view
    * — a throwing `f` must not leak the view for the session.
    */
  def withView(base: String, df: DataFrame)(f: String => DataFrame): DataFrame = {
    val s = df.sparkSession
    val name = s"${base}_${viewNonce.incrementAndGet()}"
    once(df).createOrReplaceTempView(name)
    try f(name)
    finally s.catalog.dropTempView(name)
  }
}
