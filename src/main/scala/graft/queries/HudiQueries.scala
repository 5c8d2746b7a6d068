package graft.queries

import graft.fixtures.HudiFixtureBuilder
import graft.fs.PartitionFilter
import graft.table.HudiTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries over the Hudi engine (SURVEY.md §2 scan surface:
  * S1 snapshot, S2 time travel, S3 incremental, S5/S6 slice planning +
  * parquet scan, S9 log scan, M1-M6 MOR merge, R1 partition pruning, R4
  * replace exclusion is unit-tested, P5 commit-time filter).
  *
  * The fixtures are deterministic functions of the driver's `orders` /
  * `nation` parquet (see [[HudiFixtureBuilder]]), so DuckDB can compute
  * each expected result from those source tables directly — the engine's
  * full read path (timeline → fs-view → parquet+log scan → merge) is
  * covered by the driver's hash-match gate.
  */
object HudiQueries {

  private val ordersCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Source-table SQL for the merged state: updates %7→'U', deletes %97. */
  private def ordersSql(updated: Boolean, deletes: Boolean, onlyUpdated: Boolean): String = {
    val status =
      if (updated) "CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END"
      else "o_orderstatus"
    val conds = Seq(
      if (deletes) Some("o_orderkey % 97 <> 0") else None,
      if (onlyUpdated) Some("o_orderkey % 7 = 0") else None).flatten
    val where = if (conds.isEmpty) "" else conds.mkString("WHERE ", " AND ", "\n")
    s"""SELECT o_orderkey, o_custkey, $status AS o_orderstatus,
       |  o_totalprice, o_orderdate, o_orderpriority
       |FROM orders
       |$where ORDER BY o_orderkey""".stripMargin
  }

  private def cow(s: SparkSession, d: String): HudiTable = {
    HudiFixtureBuilder.ensure(s, d)
    HudiTable(s, HudiFixtureBuilder.cowPath(d))
  }

  private def mor(s: SparkSession, d: String): HudiTable = {
    HudiFixtureBuilder.ensure(s, d)
    HudiTable(s, HudiFixtureBuilder.morPath(d))
  }

  private def clustered(s: SparkSession, d: String): HudiTable = {
    HudiFixtureBuilder.ensure(s, d)
    HudiTable(s, HudiFixtureBuilder.clusteredPath(d))
  }

  private def selectOrders(df: DataFrame): DataFrame =
    df.select(ordersCols.map(col): _*).orderBy("o_orderkey")

  /** Expected merged state of the mor_log_only fixture: base group
    * (% 3 = 0) plus the log-only group (% 3 = 1) with T3 updates applied
    * and T3 deletes removed — unless the same key was also updated at T3
    * (equal ordering, equal commit → the delete does not win).
    */
  private val logOnlySnapshotSql: String =
    s"""SELECT o_orderkey, o_custkey,
       |  CASE WHEN o_orderkey % 3 = 1 AND o_orderkey % 5 = 0 THEN 'U'
       |       ELSE o_orderstatus END AS o_orderstatus,
       |  o_totalprice, o_orderdate, o_orderpriority
       |FROM orders
       |WHERE o_orderkey % 3 = 0
       |   OR (o_orderkey % 3 = 1
       |       AND NOT (o_orderkey % 11 = 0 AND o_orderkey % 5 <> 0))
       |ORDER BY o_orderkey""".stripMargin

  private val qs: Map[String, QueryDef] = Map(
    // --- S1: COW snapshot (latest commit wins per file group) ------------
    "hudi_cow_snapshot" -> QueryDef(
      (s, d) => selectOrders(cow(s, d).snapshot()),
      ordersSql(updated = true, deletes = false, onlyUpdated = false)),

    // --- S2: time travel to the insert commit ----------------------------
    "hudi_cow_time_travel" -> QueryDef(
      (s, d) => selectOrders(cow(s, d).snapshot(asOf = Some(HudiFixtureBuilder.T1))),
      ordersSql(updated = false, deletes = false, onlyUpdated = false)),

    // --- S3/P5: incremental (t1, t2] = rows written by the update commit -
    "hudi_cow_incremental" -> QueryDef(
      (s, d) => selectOrders(cow(s, d).incremental(
        Some(HudiFixtureBuilder.T1), Some(HudiFixtureBuilder.T2))),
      ordersSql(updated = true, deletes = false, onlyUpdated = true)),

    // --- R4 at oracle level: snapshot after a CLUSTER replacecommit reads
    // ONLY the clustered group (the replaced groups would duplicate every
    // row → hash fails loudly if exclusion regresses) ------------------
    "hudi_clustered_snapshot" -> QueryDef(
      (s, d) => selectOrders(clustered(s, d).snapshot()),
      ordersSql(updated = true, deletes = false, onlyUpdated = false)),

    // --- S3 across a replacecommit: the range (T1, T3] straddles the T3
    // clustering — planned groups are touched MINUS replaced (reference
    // get_file_groups_between set-difference, timeline/mod.rs:333-386),
    // so only the clustered group is read and the commit-time row filter
    // keeps the T2-updated rows. Without the difference, the T2 rewrites
    // of the replaced groups would double every updated row. -----------
    "hudi_incremental_replaced" -> QueryDef(
      (s, d) => selectOrders(clustered(s, d).incremental(
        Some(HudiFixtureBuilder.T1), Some(HudiFixtureBuilder.T3))),
      ordersSql(updated = true, deletes = false, onlyUpdated = true)),

    // --- S9/M2/M3: MOR snapshot (avro log updates + delete blocks) -------
    "hudi_mor_snapshot" -> QueryDef(
      (s, d) => selectOrders(mor(s, d).snapshot()),
      ordersSql(updated = true, deletes = true, onlyUpdated = false)),

    // --- S2 on MOR: as-of the update commit — deletes not yet visible ----
    "hudi_mor_time_travel" -> QueryDef(
      (s, d) => selectOrders(mor(s, d).snapshot(asOf = Some(HudiFixtureBuilder.T2))),
      ordersSql(updated = true, deletes = false, onlyUpdated = false)),

    // --- M6: read-optimized = base files only -----------------------------
    "hudi_mor_read_optimized" -> QueryDef(
      (s, d) => selectOrders(mor(s, d).snapshot(readOptimized = true)),
      ordersSql(updated = false, deletes = false, onlyUpdated = false)),

    // --- Log-only file groups (beyond the reference's mod.rs:195 TODO):
    // file group 1 exists only as log files — T2 inserts (% 3 = 1), T3
    // updates (% 5 = 0) and deletes (% 11 = 0, except ties with a T3
    // update, which the record survives). Snapshot = base group ∪ merged
    // base-less group; both surfaces (the Table API and the DSv2
    // format) feed the same oracle.
    "hudi_mor_log_only" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(HudiTable(s, HudiFixtureBuilder.morLogOnlyPath(d)).snapshot())
      },
      logOnlySnapshotSql),

    "hudi_dsv2_log_only" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft").load(HudiFixtureBuilder.morLogOnlyPath(d)))
      },
      logOnlySnapshotSql),

    // --- Incremental change classification (CDC building block) ----------
    // ChangeClassifier over the log-only fixture, both branches exercised
    // in one entry: (T1, T2] surfaces the base-less group's birth (every
    // row a fresh key -> insert, pre-update status as of T2), (T2, T3]
    // surfaces the T3 log updates (keys existed at T2 -> update, status
    // 'U'). Deleted-only keys are invisible to an incremental read by
    // definition (documented; the reference has no row-level change
    // events either — CDC blocks are plain data, scanner.rs:182).
    "hudi_incremental_classified" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val t = HudiTable(s, HudiFixtureBuilder.morLogOnlyPath(d))
        def part(start: String, end: String, label: String) =
          graft.table.ChangeClassifier.changes(t, start, end)
            .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              col("change_type"), lit(label).as("commit_range"))
        part(HudiFixtureBuilder.T1, HudiFixtureBuilder.T2, "r1")
          .unionAll(part(HudiFixtureBuilder.T2, HudiFixtureBuilder.T3, "r2"))
          .orderBy("commit_range", "o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, change_type, commit_range FROM (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    'insert' AS change_type, 'r1' AS commit_range
        |  FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    'update' AS change_type, 'r2' AS commit_range
        |  FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0)
        |ORDER BY commit_range, o_orderkey""".stripMargin),

    // --- Inferred CDC (upstream's 'cdc' incremental format): per-commit
    // (op, ts_ms, before, after) image rows from file-group diffs — the
    // COW rewrite infers exactly the %7 updates with the ORIGINAL status
    // as the before image (a wrong before-read placement, e.g. as-of the
    // commit itself, would hash-fail: before would read 'U' too) ---------
    "hudi_cdc_updates" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        graft.sources.CdcRead.changes(s, HudiFixtureBuilder.cowPath(d),
          Some(HudiFixtureBuilder.T1), Some(HudiFixtureBuilder.T2))
          .select(col("op"), col("ts_ms"),
            col("before.o_orderkey").as("o_orderkey"),
            col("before.o_orderstatus").as("before_status"),
            col("after.o_orderstatus").as("after_status"))
          .orderBy("o_orderkey")
      },
      """SELECT 'u' AS op,
        |  CAST(epoch_ms(TIMESTAMP '2024-01-02 00:00:00') AS VARCHAR) AS ts_ms,
        |  o_orderkey, o_orderstatus AS before_status, 'U' AS after_status
        |FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""".stripMargin),

    // --- Inferred CDC across two MOR commits: T2 updates ('u', before =
    // the ORIGINAL status) then T3 deletes ('d', before = the state AS OF
    // T2 — so a %7 key deleted at T3 carries 'U' in its before image, the
    // per-commit chaining the single-range diff would get wrong) ---------
    "hudi_cdc_mor" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        graft.sources.CdcRead.changes(s, HudiFixtureBuilder.morPath(d),
          Some(HudiFixtureBuilder.T1), Some(HudiFixtureBuilder.T3))
          .select(col("op"), col("ts_ms"),
            col("before.o_orderkey").as("o_orderkey"),
            col("before.o_orderstatus").as("before_status"),
            col("after.o_orderstatus").as("after_status"))
          .orderBy("op", "o_orderkey")
      },
      """SELECT op, ts_ms, o_orderkey, before_status, after_status FROM (
        |  SELECT 'u' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-02 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey, o_orderstatus AS before_status, 'U' AS after_status
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'd' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-03 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS before_status,
        |    CAST(NULL AS VARCHAR) AS after_status
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |ORDER BY op, o_orderkey""".stripMargin),

    // --- Inferred CDC across an INSERT_OVERWRITE replacecommit: the
    // before-image comes from the REPLACED groups as of T1, the
    // after-image from the new group — %3==0 keys (replaced, never
    // re-inserted) surface as 'd' with their T1 state, survivors as 'u'
    // with the overwrite's restatus ('V' on %7). A diff over only the
    // NEW groups (the pre-r13 refusal's rationale) would miss every one
    // of those deletes — this entry pins that they surface -------------
    "hudi_cdc_overwrite" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        graft.sources.CdcRead.changes(s, HudiFixtureBuilder.overwritePath(d),
          Some(HudiFixtureBuilder.T1), Some(HudiFixtureBuilder.T2))
          .select(col("op"), col("ts_ms"),
            coalesce(col("before.o_orderkey"), col("after.o_orderkey")).as("o_orderkey"),
            col("before.o_orderstatus").as("before_status"),
            col("after.o_orderstatus").as("after_status"))
          .orderBy("o_orderkey")
      },
      """SELECT op, ts_ms, o_orderkey, before_status, after_status FROM (
        |  SELECT 'd' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-02 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey, o_orderstatus AS before_status,
        |    CAST(NULL AS VARCHAR) AS after_status
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'u' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-02 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey, o_orderstatus AS before_status,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'V' ELSE o_orderstatus END AS after_status
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |ORDER BY o_orderkey""".stripMargin),

    // --- Inferred CDC over a BASE-LESS log-only group: T2 births group 1
    // as a LOG file (%3=1 inserts, no base — 'i' rows with NULL before
    // images), T3 logs updates (%5=0 → 'U') and deletes (%11=0), where a
    // same-commit equal-ordering delete does NOT win over the update so
    // %55 keys stay updates — the delete-vs-update tiebreak under the
    // oracle gate (previously unit-only) ------------------------------
    "hudi_cdc_log_only" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        graft.sources.CdcRead.changes(s, HudiFixtureBuilder.morLogOnlyPath(d),
          Some(HudiFixtureBuilder.T1), Some(HudiFixtureBuilder.T3))
          .select(col("op"), col("ts_ms"),
            coalesce(col("after.o_orderkey"), col("before.o_orderkey")).as("o_orderkey"),
            col("before.o_orderstatus").as("before_status"),
            col("after.o_orderstatus").as("after_status"))
          .orderBy("op", "o_orderkey")
      },
      """SELECT op, ts_ms, o_orderkey, before_status, after_status FROM (
        |  SELECT 'i' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-02 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey, CAST(NULL AS VARCHAR) AS before_status,
        |    o_orderstatus AS after_status
        |  FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT 'u' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-03 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey, o_orderstatus AS before_status, 'U' AS after_status
        |  FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT 'd' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-03 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey, o_orderstatus AS before_status,
        |    CAST(NULL AS VARCHAR) AS after_status
        |  FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 11 = 0
        |    AND o_orderkey % 5 <> 0)
        |ORDER BY op, o_orderkey""".stripMargin),

    // --- PERSISTED CDC: the (T1, T3] feed decodes the writer's `-cdc`
    // sidecar blocks (hoodie.table.cdc.enabled, data_before_after) — NOT
    // snapshot-diff joins. The fixture's T4 clean removed the T1 base
    // files, so the T2 diff is UNSERVABLE by inference (its before state
    // is gone — the inference path provably refuses this exact range, a
    // spec pins it); a green hash here means the block path alone
    // produced the exact images ------------------------------------------
    "hudi_cdc_persisted" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        graft.sources.CdcRead.changes(s, HudiFixtureBuilder.cdcPath(d),
          Some(HudiFixtureBuilder.T1), Some(HudiFixtureBuilder.T3))
          .select(col("op"), col("ts_ms"),
            coalesce(col("before.o_orderkey"), col("after.o_orderkey")).as("o_orderkey"),
            col("before.o_orderstatus").as("before_status"),
            col("after.o_orderstatus").as("after_status"))
          .orderBy("ts_ms", "op", "o_orderkey")
      },
      """SELECT op, ts_ms, o_orderkey, before_status, after_status FROM (
        |  SELECT 'd' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-02 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey, o_orderstatus AS before_status,
        |    CAST(NULL AS VARCHAR) AS after_status
        |  FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT 'u' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-02 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey, o_orderstatus AS before_status, 'U' AS after_status
        |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT 'u' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-03 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS before_status,
        |    'W' AS after_status
        |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 97 <> 0)
        |ORDER BY ts_ms, op, o_orderkey""".stripMargin),

    // --- PARTIAL CDC (`data_before` mode): the feed decodes exact
    // before images from the writer's blocks and joins ONE one-sided
    // after read — zero snapshot-diff joins (CdcPartialModeSpec
    // counter-asserts); a green hash means the partial decode alone
    // produced the exact change set -------------------------------------
    "hudi_cdc_data_before" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val t = HudiTable(s, HudiFixtureBuilder.writeCdcBeforePath(d))
        val ts = t.timeline.completedInstants.map(_.timestamp).distinct.sorted
        graft.sources.CdcRead.changes(s, HudiFixtureBuilder.writeCdcBeforePath(d),
          Some(ts(0)), Some(ts(2)))
          .select(col("op"),
            coalesce(col("before.o_orderkey"), col("after.o_orderkey")).as("o_orderkey"),
            col("before.o_orderstatus").as("before_status"),
            col("after.o_orderstatus").as("after_status"))
          .orderBy("op", "o_orderkey")
      },
      """SELECT op, o_orderkey, before_status, after_status FROM (
        |  SELECT 'u' AS op, o_orderkey, o_orderstatus AS before_status,
        |    'U' AS after_status
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'd' AS op, o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS before_status,
        |    CAST(NULL AS VARCHAR) AS after_status
        |  FROM orders WHERE o_orderkey % 13 = 0)
        |ORDER BY op, o_orderkey""".stripMargin),

    // --- WRITE path roundtrip: the writer_orders table is produced by
    // df.write.format("hudi-graft") (insert commit, %7→'U' upsert commit,
    // %97 keys-only DELETE commit — see HudiFixtureBuilder
    // .buildWriterOrders); a green hash means the CONNECTOR-written
    // layout (key assignment, group routing, meta columns, commit
    // metadata, delete rewrites) reads back exactly through the snapshot
    // path ----------------------------------------------------------------
    "hudi_write_roundtrip" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft").load(HudiFixtureBuilder.writePath(d)))
      },
      ordersSql(updated = true, deletes = true, onlyUpdated = false)),

    // --- and the upsert commit is visible via incremental read: (c1, c2]
    // yields exactly the %7 rows with their post-upsert status — carried
    // rows kept their c1 stamps, so a writer that re-stamped everything
    // would return the whole table here and hash-fail ---------------------
    "hudi_write_incremental" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val t = HudiTable(s, HudiFixtureBuilder.writePath(d))
        val ts = t.timeline.completedInstants.map(_.timestamp).distinct.sorted
        selectOrders(t.incremental(Some(ts(0)), Some(ts(1))))
      },
      ordersSql(updated = true, deletes = false, onlyUpdated = true)),

    // --- MOR WRITE path roundtrip: the writer_mor_orders table is the
    // SAME insert/%7-upsert/%97-delete sequence against a MERGE_ON_READ
    // target — every write a deltacommit, the upsert an avro-data log
    // block and the delete a delete block on the matched group's slice
    // (zero base rewrites; HudiMorWriterSpec pins the layout). A green
    // hash means connector-written MOR logs merge exactly ---------------
    "hudi_write_mor_roundtrip" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft").load(HudiFixtureBuilder.writeMorPath(d)))
      },
      ordersSql(updated = true, deletes = true, onlyUpdated = false)),

    // --- and (c1, c2] over the writer's MOR table yields exactly the
    // log-upserted rows (commit-ranged log merge over writer metadata) ---
    "hudi_write_mor_incremental" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val t = HudiTable(s, HudiFixtureBuilder.writeMorPath(d))
        val ts = t.timeline.completedInstants.map(_.timestamp).distinct.sorted
        selectOrders(t.incremental(Some(ts(0)), Some(ts(1))))
      },
      ordersSql(updated = true, deletes = false, onlyUpdated = true)),

    // --- COMPLEX-KEY write path: two-field record key rendered
    // `o_orderkey:K,o_custkey:C` + hive-style partitioning, written
    // through the public API (insert + %7 upsert). A probe/stored
    // rendering mismatch would duplicate every updated row; a green hash
    // means composite-key matching and hive-dir layout read back exactly -
    "hudi_write_complex_key" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft")
          .load(HudiFixtureBuilder.writeComplexPath(d)))
      },
      ordersSql(updated = true, deletes = false, onlyUpdated = false)),

    // --- RECORD-INDEX write path: a mor_orders copy upserted through the
    // public API (%7 -> 'X'), the probe served by the MDT record index
    // and the index maintained in the same commit. The snapshot oracle
    // includes the RESURRECTED %97∩%7 keys (delete-then-upsert = insert,
    // upstream semantics); the point entry reads the writer's commit
    // through the index point-lookup plan itself -------------------------
    "hudi_write_indexed_roundtrip" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft")
          .load(HudiFixtureBuilder.writeIndexedPath(d)))
      },
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |WHERE o_orderkey % 97 <> 0 OR o_orderkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin),

    "hudi_write_indexed_point" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.writeIndexedPath(d))
          .filter(col("_hoodie_record_key") === "7")
          .select("o_orderkey", "o_custkey", "o_orderstatus")
      },
      """SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus
        |FROM orders WHERE o_orderkey = 7""".stripMargin),

    // --- SQL-DML write path: CREATE TABLE + INSERT INTO BY NAME + an
    // upsert INSERT through GraftCatalog (upstream's primary write
    // surface) — a green hash means the SQL-written layout reads back
    // exactly --------------------------------------------------------------
    "hudi_write_sql_insert" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft")
          .load(HudiFixtureBuilder.writeSqlPath(d)))
      },
      ordersSql(updated = true, deletes = false, onlyUpdated = false)),

    // --- SCHEMA-EVOLUTION write path: the %7 upsert widened o_qty
    // int→long and added o_tag; the snapshot crosses the boundary (old
    // files upcast + null-fill, new files serve the evolved values) and
    // the incremental range reads back the evolved commit alone ----------
    "hudi_write_evolved" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.writeEvolvedPath(d))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_qty"), col("o_tag"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 7 = 0 THEN (o_orderkey % 50) * 1000
        |       ELSE o_orderkey % 50 END AS BIGINT) AS o_qty,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'EVOLVED' END AS o_tag
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    "hudi_write_evolved_incremental" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val t = HudiTable(s, HudiFixtureBuilder.writeEvolvedPath(d))
        val ts = t.timeline.completedInstants.map(_.timestamp).distinct.sorted
        t.incremental(Some(ts(0)), Some(ts(1)))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_qty"), col("o_tag"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |  CAST((o_orderkey % 50) * 1000 AS BIGINT) AS o_qty, 'EVOLVED' AS o_tag
        |FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""".stripMargin),

    // --- COMPACTION: the MOR writer table compacted via run_compaction's
    // engine — READ-OPTIMIZED mode against the FULL merged oracle (the
    // pre-compaction RO would miss every update and resurrect the
    // deletes), so a green hash proves logs really folded into bases ----
    "hudi_write_compacted" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft")
          .option("hoodie.datasource.query.type", "read_optimized")
          .load(HudiFixtureBuilder.writeCompactedPath(d)))
      },
      ordersSql(updated = true, deletes = true, onlyUpdated = false)),

    // --- S3 on MOR: log-scan bounded to (t1, t2] --------------------------
    "hudi_mor_incremental" -> QueryDef(
      (s, d) => selectOrders(mor(s, d).incremental(
        Some(HudiFixtureBuilder.T1), Some(HudiFixtureBuilder.T2))),
      ordersSql(updated = true, deletes = false, onlyUpdated = true)),

    // --- D1-D4: the same reads through the DSv2 connector ----------------
    "hudi_dsv2_cow_snapshot" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft").load(HudiFixtureBuilder.cowPath(d)))
      },
      ordersSql(updated = true, deletes = false, onlyUpdated = false)),

    "hudi_dsv2_mor_snapshot" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft").load(HudiFixtureBuilder.morPath(d)))
      },
      ordersSql(updated = true, deletes = true, onlyUpdated = false)),

    // --- S2/S3 through the connector: time travel + incremental ----------
    "hudi_dsv2_time_travel" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft")
          .option("as.of.timestamp", HudiFixtureBuilder.T1)
          .load(HudiFixtureBuilder.cowPath(d)))
      },
      ordersSql(updated = false, deletes = false, onlyUpdated = false)),

    "hudi_dsv2_incremental" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        selectOrders(s.read.format("hudi-graft")
          .option("query.type", "incremental")
          .option("start.timestamp", HudiFixtureBuilder.T1)
          .option("end.timestamp", HudiFixtureBuilder.T2)
          .load(HudiFixtureBuilder.morPath(d)))
      },
      ordersSql(updated = true, deletes = false, onlyUpdated = true)),

    // The SQL surface for incremental reads — the `hudi_table_changes`
    // TVF (Spark-Hudi's own surface), expanding to the SAME DSv2
    // incremental relation as the option-based read on the range
    // (HudiTableChanges.builder). Equality with the option surface plus
    // the 'earliest'/delete-tombstone variants are asserted in
    // GraftCatalogSpec.
    "hudi_sql_table_changes" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        graft.sources.HudiTableChanges.register(s)
        selectOrders(s.sql(
          s"""SELECT * FROM hudi_table_changes('${HudiFixtureBuilder.morPath(d)}',
             |  '${HudiFixtureBuilder.T1}', '${HudiFixtureBuilder.T2}')""".stripMargin))
      },
      ordersSql(updated = true, deletes = false, onlyUpdated = true)),

    // Upstream Spark-Hudi's hudi_query TVF (mode-selected read): the
    // read_optimized mode on the MOR fixture is load-bearing — it must
    // return the BASE-ONLY rows (no T2/T3 log merge), so a TVF that
    // ignored the mode and planned a snapshot would hash-mismatch
    // against the base-only oracle.
    "hudi_sql_query_ro" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        graft.sources.HudiQuery.register(s)
        selectOrders(s.sql(
          s"SELECT * FROM hudi_query('${HudiFixtureBuilder.morPath(d)}', 'read_optimized')"))
      },
      ordersSql(updated = false, deletes = false, onlyUpdated = false)),

    // Storage-partitioned join end-to-end: both sides opt in via the
    // preserve.data.grouping READ OPTION (scoped to these DataFrames —
    // a session conf would leak one-task-per-partition parallelism into
    // every later entry), join on the partition key, and aggregate.
    // The oracle recomputes the same join relationally; the Spark plan
    // carries no shuffle below the join (SpjSpec pins that shape).
    "hudi_spj_join" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        import org.apache.spark.sql.functions._
        val p = HudiFixtureBuilder.cowPath(d)
        def side = s.read.format("hudi-graft")
          .option("preserve.data.grouping", "true").load(p)
        val a = side.select("o_orderpriority", "o_orderkey")
          .where(col("o_orderkey") % 50 === 0)
        val b = side.select("o_orderpriority", "o_totalprice")
          .where(col("o_totalprice") > 150000)
        a.join(b, Seq("o_orderpriority"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n_pairs"))
          .orderBy("o_orderpriority")
      },
      """WITH t AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |)
        |SELECT a.o_orderpriority, COUNT(1) AS n_pairs
        |FROM t a JOIN t b ON a.o_orderpriority = b.o_orderpriority
        |WHERE a.o_orderkey % 50 = 0 AND b.o_totalprice > 150000
        |GROUP BY a.o_orderpriority
        |ORDER BY a.o_orderpriority""".stripMargin),

    // --- D5/S2 through the SQL catalog: FOR VERSION AS OF time travel --
    "hudi_catalog_time_travel" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.conf.set("spark.sql.catalog.hudi_graft", classOf[graft.sources.GraftCatalog].getName)
        selectOrders(s.sql(
          s"""SELECT * FROM hudi_graft.`${HudiFixtureBuilder.cowPath(d)}`
             |FOR VERSION AS OF '${HudiFixtureBuilder.T1}'""".stripMargin))
      },
      ordersSql(updated = false, deletes = false, onlyUpdated = false)),

    // --- S4 end-to-end: the hudi-graft streaming source driven through
    // the stateful latest-wins view (StreamOps.latestByKey). The memory
    // sink accumulates the emission log across micro-batches; the final
    // per-key max-ordering row equals the merged table state (the first
    // micro-batch is the merged snapshot, so deletes are already applied;
    // unchanged records keep their per-record T1 commit time).
    "hudi_stream_latest" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val stream = s.readStream.format("hudi-graft").load(HudiFixtureBuilder.morPath(d))
        val latest = graft.streaming.StreamOps.latestByKey(
          stream.withColumn("commit_ord", col("_hoodie_commit_time").cast("long"))
            .select("o_orderkey", "o_orderstatus", "commit_ord"),
          Seq("o_orderkey"), "commit_ord")
        val sink = "graft_stream_latest_sink"
        drainToMemory(s, latest, sink, "append")
          .groupBy("o_orderkey")
          .agg(max(struct(col("commit_ord"), col("o_orderstatus"))).as("m"))
          .select(col("o_orderkey"), col("m.o_orderstatus").as("o_orderstatus"),
            col("m.commit_ord").as("commit_ord"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 7 = 0 THEN 20240102000000000
        |            ELSE 20240101000000000 END AS BIGINT) AS commit_ord
        |FROM orders WHERE o_orderkey % 97 <> 0 ORDER BY o_orderkey""".stripMargin),

    // --- S4 streaming FIRST-SEEN dedup (StreamOps.dedupFirst): per-commit
    // micro-batches, dropDuplicatesWithinWatermark keyed on the order key
    // — the "process each key exactly once" stage (enrichment triggers,
    // side-effect-once pipelines). The %7 keys arrive again in the T2
    // update batch and the dedup state must swallow the re-arrival, so
    // every key surfaces at its T1 state (deletes land at T3 and are
    // invisible without emit.deletes — first-seen keeps the %97 keys,
    // unlike hudi_stream_latest's merged view). Event time derives from
    // the commit day; the 30-day watermark spans the 3-commit history so
    // no state expires mid-drain.
    "hudi_stream_dedup" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val stream = s.readStream.format("hudi-graft")
          .option("stream.commits.per.batch", "1")
          .load(HudiFixtureBuilder.morPath(d))
        val deduped = graft.streaming.StreamOps.dedupFirst(
          stream
            .withColumn("commit_ord", col("_hoodie_commit_time").cast("long"))
            .withColumn("commit_day",
              to_timestamp(substring(col("_hoodie_commit_time"), 1, 8), "yyyyMMdd"))
            .select("o_orderkey", "o_orderstatus", "commit_ord", "commit_day"),
          Seq("o_orderkey"), "commit_day", "30 days")
        val sink = "graft_stream_dedup_sink"
        drainToMemory(s, deduped, sink, "append")
          .select("o_orderkey", "o_orderstatus", "commit_ord")
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(20240101000000000 AS BIGINT) AS commit_ord
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // --- S4 streaming CDC (upstream's incremental.format=cdc on
    // readStream, via the V1 GraftCdcSource): the AvailableNow drain
    // emits the full inferred image feed — i@T1 for every row, u@T2 for
    // the %7 updates (before = original status), d@T3 for the %97
    // deletes (before = the state AS OF T2, so deleted %7 keys carry
    // 'U') — identical rows to the batch CDC feed, streamed with
    // checkpointed commit-timestamp offsets --------------------------
    "hudi_stream_cdc" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val stream = s.readStream.format("hudi-graft")
          .option("hoodie.datasource.query.incremental.format", "cdc")
          .load(HudiFixtureBuilder.morPath(d))
        val sink = "graft_stream_cdc_sink"
        drainToMemory(s, stream, sink, "append")
          .select(col("op"), col("ts_ms"),
            coalesce(col("before.o_orderkey"), col("after.o_orderkey")).as("o_orderkey"),
            col("before.o_orderstatus").as("before_status"),
            col("after.o_orderstatus").as("after_status"))
          .orderBy("op", "o_orderkey")
      },
      """SELECT op, ts_ms, o_orderkey, before_status, after_status FROM (
        |  SELECT 'i' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-01 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey, CAST(NULL AS VARCHAR) AS before_status,
        |    o_orderstatus AS after_status
        |  FROM orders
        |  UNION ALL
        |  SELECT 'u' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-02 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey, o_orderstatus AS before_status, 'U' AS after_status
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'd' AS op,
        |    CAST(epoch_ms(TIMESTAMP '2024-01-03 00:00:00') AS VARCHAR) AS ts_ms,
        |    o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS before_status,
        |    CAST(NULL AS VARCHAR) AS after_status
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |ORDER BY op, o_orderkey""".stripMargin),

    // --- S4 with a DELETE commit mid-drain: per-commit micro-batches
    // ((..T1], (T1,T2], (T2,T3]) + stream.emit.deletes. The T3 delete-only
    // batch surfaces TOMBSTONE rows (null data columns, meta key/commit
    // populated), so cross-batch latest-wins state genuinely drops the
    // %97 keys — without the option that batch is empty and the deleted
    // keys would linger at their T1/T2 values (the drift this entry pins
    // down; hudi_stream_latest can't see it because its single AvailableNow
    // batch merges the deletes away inside one incremental read).
    "hudi_stream_deletes" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val stream = s.readStream.format("hudi-graft")
          .option("stream.commits.per.batch", "1")
          .option("stream.emit.deletes", "true")
          .load(HudiFixtureBuilder.morPath(d))
        // key on the META record key: tombstones carry it while their
        // data columns are null
        val latest = graft.streaming.StreamOps.latestByKey(
          stream.withColumn("commit_ord", col("_hoodie_commit_time").cast("long"))
            .select(col("_hoodie_record_key").as("rk"), col("o_orderstatus"), col("commit_ord")),
          Seq("rk"), "commit_ord")
        val sink = "graft_stream_deletes_sink"
        drainToMemory(s, latest, sink, "append")
          .groupBy("rk")
          .agg(max(struct(col("commit_ord"), col("o_orderstatus"))).as("m"))
          .filter(col("m.o_orderstatus").isNotNull) // tombstone winner = deleted key
          .select(col("rk").cast("long").as("o_orderkey"),
            col("m.o_orderstatus").as("o_orderstatus"),
            col("m.commit_ord").as("commit_ord"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 7 = 0 THEN 20240102000000000
        |            ELSE 20240101000000000 END AS BIGINT) AS commit_ord
        |FROM orders WHERE o_orderkey % 97 <> 0 ORDER BY o_orderkey""".stripMargin),

    // --- Incremental aggregate maintenance (IVM over S3) ------------------
    // Roll the per-status (count, sum) aggregate forward through (T1, T2]
    // by deltas: +new rows, -pre-images of updated keys (T2 moves %7 keys
    // to status 'U') — never recomputing from the full snapshot. The
    // oracle IS the recomputed end-state aggregate: maintained == direct
    // is the IVM contract (also differential-tested in
    // AggMaintenanceSpec). Range stops at T2: T3 holds deletes, which an
    // incremental read cannot surface (documented ChangeClassifier
    // limitation).
    "hudi_agg_maintenance" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val t = HudiTable(s, HudiFixtureBuilder.morPath(d))
        graft.table.AggMaintenance.maintainCountSum(
          t, HudiFixtureBuilder.T1, HudiFixtureBuilder.T2, "o_orderstatus", "o_totalprice")
      },
      """SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  COUNT(1) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // --- IVM from the CDC feed (r13): every change row CARRIES its
    // before/after images, so the delta algebra needs no pre-image join
    // — and unlike the incremental strategies it maintains THROUGH the
    // T3 DELETE commit (a delete is a before-only retraction an
    // incremental read can never surface; the entries above must stop at
    // T2). The oracle is the recomputed end-state aggregate with the
    // deletes applied — maintained == recomputed is the IVM contract.
    "hudi_cdc_agg_maintenance" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val t = HudiTable(s, HudiFixtureBuilder.morPath(d))
        graft.table.AggMaintenance.maintainCountSumCdc(
          t, HudiFixtureBuilder.T1, HudiFixtureBuilder.T3, "o_orderstatus", "o_totalprice")
      },
      """SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  COUNT(1) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey % 97 <> 0
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // --- same maintenance, pre-images via the record_index MDT partition:
    // the batch's distinct keys are point-looked-up in the index's HFiles
    // and ONLY their file groups are read as of T1 — the plan the scan
    // path's full-table pre-image join becomes at 100 TB. Same oracle as
    // the scan twin: the two strategies must be bit-identical.
    "hudi_agg_maintenance_indexed" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val t = HudiTable(s, HudiFixtureBuilder.morPath(d))
        graft.table.AggMaintenance.maintainCountSumIndexed(
          t, HudiFixtureBuilder.T1, HudiFixtureBuilder.T2, "o_orderstatus", "o_totalprice")
      },
      """SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  COUNT(1) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // --- S4 + windowed aggregation: commit-time tumbling counts ----------
    // The OTHER streaming state path (built-in streaming aggregation,
    // complete mode) driven end-to-end through the hudi-graft source:
    // stream.commits.per.batch=1 forces one micro-batch per commit, so
    // the windowed count state genuinely accumulates ACROSS batches —
    // batch(T1] all rows, batch(T2] the update rows, batch(T3] empty
    // (delete-only commits surface no rows by incremental semantics).
    // Windows = commit days, so the expected counts are exact: day 1
    // counts every order at its original status, day 2 counts the %7
    // updates as 'U'. Complete mode needs no watermark contract and the
    // memory sink holds the final full result.
    "hudi_stream_windowed" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val stream = s.readStream.format("hudi-graft")
          .option("stream.commits.per.batch", "1")
          .load(HudiFixtureBuilder.morPath(d))
        val windowed = graft.streaming.StreamOps.windowedCounts(
          stream.withColumn("event_ts",
            to_timestamp(substring(col("_hoodie_commit_time"), 1, 14), "yyyyMMddHHmmss")),
          "event_ts", "1 day", "1 second",
          Seq("o_orderstatus"), Seq(count(lit(1)).as("n")))
        val sink = "graft_stream_windowed_sink"
        drainToMemory(s, windowed, sink, "complete")
          .select(col("window.start").cast("timestamp_ntz").as("w"),
            col("o_orderstatus"), col("n"))
          .orderBy("w", "o_orderstatus")
      },
      """SELECT w, o_orderstatus, n FROM (
        |  SELECT TIMESTAMP '2024-01-01 00:00:00' AS w, o_orderstatus,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM orders GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT TIMESTAMP '2024-01-02 00:00:00' AS w, 'U' AS o_orderstatus,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |ORDER BY w, o_orderstatus""".stripMargin),

    // --- Stream-static enrichment: the Hudi change stream broadcast-
    // joined to a static dimension inside the streaming plan, then a
    // stateful aggregate — the standard "enrich CDC with a dim table"
    // pipeline. Update rows surface under status 'U' (disjoint from the
    // insert statuses), so the drained complete-mode state is closed-form
    // SQL; the T3 delete commit emits nothing (tombstones are opt-in).
    // Floats go through the DECIMAL(18,4) exact-sum contract.
    "hudi_stream_enriched" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val stream = s.readStream.format("hudi-graft")
          .option("stream.commits.per.batch", "1")
          .load(HudiFixtureBuilder.morPath(d))
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        val enriched = stream
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey", "o_orderstatus")
          .agg(count(lit(1)).as("n"),
            graft.util.ExactAgg.dsum(col("o_totalprice")).as("total"))
        val sink = "graft_stream_enriched_sink"
        drainToMemory(s, enriched, sink, "complete")
          .select(col("c_nationkey"), col("o_orderstatus"), col("n"), col("total"))
          .orderBy("c_nationkey", "o_orderstatus")
      },
      """SELECT c_nationkey, o_orderstatus, CAST(COUNT(1) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM (
        |  SELECT o_custkey, o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_custkey, 'U' AS o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 7 = 0) o
        |JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_nationkey, o_orderstatus
        |ORDER BY c_nationkey, o_orderstatus""".stripMargin),

    // --- P6: dropped partition columns re-injected from partition paths --
    "hudi_dropped_partition_cols" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        HudiTable(s, HudiFixtureBuilder.droppedPath(d))
          .snapshot()
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin),

    // --- S7: LANCE base files — COW snapshot reads the latest rewrite of
    // the file group through graft.lance.LanceFormat (flat int32/double +
    // variable string pages; plan-level pruning/merging machinery is
    // format-agnostic). The reader's byte-level correctness is pinned on
    // the reference's golden fixtures (LanceTableSpec); this entry pins
    // the same path against the DuckDB oracle on deterministic data.
    "hudi_lance_snapshot" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.lancePath(d))
          .select("n_nationkey", "n_name", "n_regionkey", "score")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey,
        |  CASE WHEN n_nationkey % 5 = 0 THEN n_name || '-v2' ELSE n_name END AS n_name,
        |  n_regionkey,
        |  CAST(n_nationkey AS DOUBLE)/4 AS score
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // incremental (T1, T2] over LANCE: exactly the rewrite's updated rows
    // (the P5 commit-time row filter applied to lance-decoded rows)
    "hudi_lance_incremental" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft")
          .option("query.type", "incremental")
          .option("start.timestamp", HudiFixtureBuilder.T1)
          .option("end.timestamp", HudiFixtureBuilder.T2)
          .load(HudiFixtureBuilder.lancePath(d))
          .select("n_nationkey", "n_name", "score")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name || '-v2' AS n_name,
        |  CAST(n_nationkey AS DOUBLE)/4 AS score
        |FROM nation WHERE n_nationkey % 5 = 0
        |ORDER BY n_nationkey""".stripMargin),

    // MOR over LANCE (S7 × S9): avro update log + delete tombstones
    // merged onto the lance-decoded base by the per-slice merge
    "hudi_lance_mor" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.morLancePath(d))
          .select("n_nationkey", "n_name", "n_regionkey", "score")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey,
        |  CASE WHEN n_nationkey % 5 = 0 THEN n_name || '-v2' ELSE n_name END AS n_name,
        |  n_regionkey,
        |  CAST(n_nationkey AS DOUBLE)/4
        |    + CASE WHEN n_nationkey % 5 = 0 THEN 100 ELSE 0 END AS score
        |FROM nation WHERE n_nationkey % 7 <> 3
        |ORDER BY n_nationkey""".stripMargin),

    // COUNT(*) over LANCE is metadata-only: the footer-agg tier serves
    // row counts from the Lance file descriptor (`FileStats.read`)
    "hudi_lance_count_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val df = s.read.format("hudi-graft").load(HudiFixtureBuilder.lancePath(d))
          .groupBy().count()
        // plan-shape guard: the pushdown must actually serve (LocalScan),
        // not silently fall back to a row scan
        val plan = df.queryExecution.optimizedPlan.toString
        require(!plan.contains("GraftScan"),
          s"lance COUNT must serve from metadata:\n$plan")
        df
      },
      "SELECT COUNT(*) AS count FROM nation"),

    // MOR read-optimized over LANCE: base only — no '-v2', no +100 score,
    // tombstoned rows still present
    "hudi_lance_read_optimized" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").option("read.optimized", "true")
          .load(HudiFixtureBuilder.morLancePath(d))
          .select("n_nationkey", "n_name", "score")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name, CAST(n_nationkey AS DOUBLE)/4 AS score
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // time travel to the insert commit over LANCE: the T1 file serves and
    // no '-v2' row exists yet
    "hudi_lance_time_travel" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft")
          .option("as.of.timestamp", HudiFixtureBuilder.T1)
          .load(HudiFixtureBuilder.lancePath(d))
          .select("n_nationkey", "n_name", "score")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name, CAST(n_nationkey AS DOUBLE)/4 AS score
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // NULLABLE columns over LANCE (r12): some_nulls validity bitmaps
    // across multi-row pages, plus an all_nulls column — the nullable
    // branches of the public encodings.proto, round-trip-pinned in
    // LanceWriterSpec and oracle-checked here
    "hudi_lance_nulls" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.lanceNullsPath(d))
          .select("n_nationkey", "comment_opt", "weight", "flag_null")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey,
        |  CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_name END AS comment_opt,
        |  CASE WHEN n_nationkey % 4 = 1 THEN NULL
        |       ELSE CAST(n_nationkey AS DOUBLE)/2 END AS weight,
        |  CAST(NULL AS INTEGER) AS flag_null
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // COUNT(col) over nullable LANCE serves from metadata + validity
    // bitmap popcounts (`FileStats.read`'s exact per-column null counts) — the
    // plan-shape guard proves no row scan ran
    "hudi_lance_null_counts" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        import org.apache.spark.sql.functions.count
        val df = s.read.format("hudi-graft").load(HudiFixtureBuilder.lanceNullsPath(d))
          .agg(count("*").as("c_all"), count("comment_opt").as("c_comment"),
            count("weight").as("c_weight"), count("flag_null").as("c_flag"))
        val plan = df.queryExecution.optimizedPlan.toString
        require(!plan.contains("GraftScan"),
          s"lance COUNT(col) must serve from metadata + validity bitmaps:\n$plan")
        df
      },
      """SELECT COUNT(*) AS c_all,
        |  COUNT(CASE WHEN n_nationkey % 3 <> 0 THEN 1 END) AS c_comment,
        |  COUNT(CASE WHEN n_nationkey % 4 <> 1 THEN 1 END) AS c_weight,
        |  CAST(0 AS BIGINT) AS c_flag
        |FROM nation""".stripMargin),

    // NULLABLE LIST rows over LANCE (r13): some_nulls validity over
    // list-offsets pages — NULL embeddings (missing vectors) stay
    // distinguishable from EMPTY lists, and the first/last element
    // probes pin that valid rows' element slicing survives the
    // zero-width null slots between them (an off-by-one in the offsets
    // walk would shift every post-null vector)
    "hudi_lance_null_list" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.lanceNullListPath(d))
          .select(col("vec_id"), col("label"),
            size(col("embedding")).as("dim"),
            try_element_at(col("embedding"), lit(1)).cast("double").as("e_first"),
            try_element_at(col("embedding"), lit(-1)).cast("double").as("e_last"))
          .orderBy("vec_id")
      },
      """SELECT vec_id, label,
        |  CASE WHEN vec_id % 5 = 0 THEN NULL
        |       WHEN vec_id % 7 = 3 THEN 0
        |       ELSE CAST(len(embedding) AS INTEGER) END AS dim,
        |  CASE WHEN vec_id % 5 = 0 OR vec_id % 7 = 3 THEN NULL
        |       ELSE CAST(embedding[1] AS DOUBLE) END AS e_first,
        |  CASE WHEN vec_id % 5 = 0 OR vec_id % 7 = 3 THEN NULL
        |       ELSE CAST(embedding[-1] AS DOUBLE) END AS e_last
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // EMBEDDINGS over LANCE (r12): list<float> vectors through the
    // list-offsets + float32-child decode, then the exact integer-
    // quantized brute-force cosine top-k — the same oracle pair
    // embed_knn_brute runs over parquet, here over the Lance-decoded
    // Hudi table (S7 × the ANN surface). At scale the corpus scan is
    // columnar Lance IO of exactly (vec_id, embedding, label).
    "hudi_lance_embed_knn" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        EmbedOps.registerDot(s)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.lanceEmbedPath(d))
          .select("vec_id", "embedding", "label")
          .createOrReplaceTempView("embeddings_lance")
        s.sql(EmbedOps.knnSqlOver("embeddings_lance", spark = true))
      },
      EmbedOps.knnSqlOver("embeddings", spark = false)),

    // BINARY blobs over LANCE (r12): the media-lake shape — opaque
    // binary columns next to typed metadata. The entry re-sniffs each
    // container's magic bytes from the READ-BACK blob (never trusting
    // the stored mime), so the variable-width binary decode is proven
    // byte-exact end-to-end; n_bytes pins the lengths.
    "hudi_lance_media_sniff" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        import s.implicits._
        s.read.format("hudi-graft").load(HudiFixtureBuilder.lanceMediaPath(d))
          .select("doc_id", "mime", "data")
          .as[(Long, String, Array[Byte])]
          .map { case (id, storedMime, data) =>
            val sniffed = graft.operators.MultimodalOps.sniffMime(data)
            (id, sniffed, data.length.toLong, storedMime == sniffed)
          }
          .toDF("doc_id", "mime", "n_bytes", "mime_consistent")
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |    WHEN 2 THEN 'image/gif' WHEN 3 THEN 'audio/wav'
        |    ELSE 'video/mp4' END AS mime,
        |  CAST(CASE WHEN doc_id % 5 IN (3, 4) THEN
        |      (CASE WHEN doc_id % 5 = 3 THEN 12 ELSE 8 END)
        |    ELSE 4 END + octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  TRUE AS mime_consistent
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- schema evolution: column added at commit 2 resolves from the
    // latest commit metadata (resolver.rs:41-47) — rows written before the
    // add read back with the new column null
    "hudi_schema_evolution" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        HudiTable(s, HudiFixtureBuilder.evolvedPath(d))
          .snapshot()
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name,
        |  CASE WHEN n_nationkey % 2 = 1 THEN n_regionkey END AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // Type WIDENING across commits (int→long, float→double): the latest
    // commit-metadata schema declares the wide types; commit-1 files'
    // physical int32/float columns must upcast on read — through the DSv2
    // vectorized columnar path here (commit-2 values exceed Int range, so
    // a reader that silently kept the narrow type would overflow, and the
    // hash would diverge if any row skipped the upcast).
    "hudi_schema_widened" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.widenedPath(d))
          .select("n_nationkey", "n_name", "pop", "score")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name,
        |  CASE WHEN n_nationkey % 2 = 0 THEN CAST(n_nationkey*1000+7 AS BIGINT)
        |       ELSE 5000000000 + n_nationkey END AS pop,
        |  CAST(n_nationkey AS DOUBLE)/4 AS score
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // The MOR variant: the base file is NARROW (int32/float) and the
    // update log block's writer schema already declares the widened
    // long/double types with values past Int range — the merge must
    // upcast base rows to the resolved wide schema and align the wide
    // log records, through the DSv2 merged-slice reader here.
    "hudi_mor_widened" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.morWidenedPath(d))
          .select("n_nationkey", "n_name", "pop", "score")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name,
        |  CASE WHEN n_nationkey % 5 = 0 THEN 6000000000 + n_nationkey
        |       ELSE CAST(n_nationkey*1000+7 AS BIGINT) END AS pop,
        |  CASE WHEN n_nationkey % 5 = 0 THEN CAST(n_nationkey AS DOUBLE)/2
        |       ELSE CAST(n_nationkey AS DOUBLE)/4 END AS score
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // --- S8/S11/M7 end-to-end: snapshot planned through the metadata
    // table's files partition (HFile base). The fixture plants an orphan
    // base file that only a raw storage listing would surface — the hash
    // match therefore FAILS if the MDT path silently falls back to listing.
    "hudi_mdt_snapshot" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        HudiTable(s, HudiFixtureBuilder.mdtPath(d))
          .snapshot()
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin),

    // --- R1: partition pruning on a hive-style partitioned table ---------
    // --- R2 via the MDT column_stats partition at oracle level: a
    // key-range filter over the range-split COW fixture prunes file
    // groups from ONE indexed metadata read (HudiTable
    // .columnStats short-circuits every footer fetch; the
    // quartile split makes the skipped groups carry most of the rows, so
    // a pruning regression that reads a wrong group duplicates/loses
    // rows and fails the hash loudly). ------------------------------------
    "hudi_colstats_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val boundary = Tables.orders(s, d)
          .agg(max(col("o_orderkey"))).head.getLong(0) / 4
        s.read.format("hudi-graft").load(HudiFixtureBuilder.rangePath(d))
          .filter(col("o_orderkey") <= boundary)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey <= (SELECT MAX(o_orderkey) // 4 FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // --- the WRITER-MAINTAINED column_stats index: the %7 upsert rewrote
    // groups into new files whose index entries came from the write
    // path's staging aggregates; the key-range plan mixes old fixture
    // entries with maintained ones (a wrong maintained bound would prune
    // live rows out or miss the 'X' statuses) --------------------------
    "hudi_write_colstats_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val boundary = Tables.orders(s, d)
          .agg(max(col("o_orderkey"))).head.getLong(0) / 4
        s.read.format("hudi-graft").load(HudiFixtureBuilder.writeColStatsPath(d))
          .filter(col("o_orderkey") <= boundary)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice FROM orders
        |WHERE o_orderkey <= (SELECT MAX(o_orderkey) // 4 FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // --- Typed (DateType) stats pruning at oracle level: a date-range
    // predicate over the date-quartile-split COW fixture prunes file
    // groups through DateWrapper epoch-day index bounds and typed
    // literals (StatsRange.literal DateType arm — the reference
    // arrow-casts date literals, expr/filter.rs:345-357, and tests
    // Date32 pruning, file_pruner.rs:288-293). The cut lands inside the
    // first quartile, so a wrong cast direction loses/keeps most of the
    // table and breaks the hash loudly.
    "hudi_date_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val b = Tables.orders(s, d).select(to_date(col("o_orderdate")).as("o_date"))
          .agg(min(col("o_date")), max(col("o_date"))).head
        val (mn, mx) = (b.getDate(0).toLocalDate, b.getDate(1).toLocalDate)
        val span = math.max(1L, mx.toEpochDay - mn.toEpochDay + 1)
        val cut = java.sql.Date.valueOf(mn.plusDays(math.max(0L, span / 4 - 1)))
        // the date stays in the PREDICATE only: DuckDB DATE surfaces as
        // a pandas datetime64 while Spark's stays a date, so a date-typed
        // output column can never hash-match across the engines
        s.read.format("hudi-graft").load(HudiFixtureBuilder.datePath(d))
          .filter(col("o_date") <= lit(cut))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS o_date, o_orderkey, o_custkey,
        |                  o_totalprice FROM orders),
        |b AS (SELECT MIN(o_date) AS mn, MAX(o_date) AS mx FROM d)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM d, b
        |WHERE o_date <= mn + CAST(GREATEST(0, (mx - mn + 1) // 4 - 1) AS INTEGER)
        |ORDER BY o_orderkey""".stripMargin),

    // --- MDT partition_stats at oracle level: a key-range filter over
    // the quartile-PARTITIONED COW fixture prunes whole partitions from
    // the plan BEFORE listing (StatsPartitionPruner over the
    // partition_stats index — the enhancement the reference declares at
    // fs_view.rs:80). The contiguous split makes the pruned partitions
    // carry most rows, so a wrong prune decision breaks the hash loudly.
    "hudi_pstats_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val boundary = Tables.orders(s, d)
          .agg(max(col("o_orderkey"))).head.getLong(0) * 3 / 4
        s.read.format("hudi-graft").load(HudiFixtureBuilder.pstatsPath(d))
          .filter(col("o_orderkey") > boundary)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey > (SELECT 3 * MAX(o_orderkey) // 4 FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // --- MDT secondary index at oracle level: an equality read on the
    // indexed NON-key column resolves record keys through the
    // secondary_index_status_idx partition, maps them to file groups
    // through record_index, and plans exactly the one status-split group
    // (GraftScan.indexRestricted). A wrong key decode or group mapping
    // loses/duplicates a third of the table and fails the hash loudly.
    "hudi_secondary_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.sidxPath(d))
          .filter(col("o_orderstatus") === "P")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus = 'P' ORDER BY o_orderkey""".stripMargin),

    // Numeric (LongType) secondary index at oracle level: the canonical
    // decimal rendering of the o_custkey literal resolves through
    // secondary_index_cust_idx, then record_index, and plans only the
    // file groups of that customer's statuses (plan-shape + regime
    // differential in SecondaryIndexSpec).
    "hudi_secondary_numeric_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val k = Tables.orders(s, d).agg(min(col("o_custkey"))).head.getLong(0)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.sidxPath(d))
          .filter(col("o_custkey") === k)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_custkey = (SELECT MIN(o_custkey) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // DATE-typed secondary index at oracle level: the fixture's
    // secondary_index_date_idx stores EPOCH-DAY-rendered keys (the
    // unconverted-avro writer shape), so the planner must detect that
    // rendering from sampled entries (SecondaryIndex.detectDateRendering)
    // and probe with epoch-day literals — an ISO guess would plan EMPTY
    // and lose every row of this result. Groups are date quartiles, so
    // the min date's predicate also PRUNES to one group (plan-shape in
    // SecondaryIndexSpec).
    "hudi_secondary_date_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val dt = Tables.orders(s, d).agg(min(to_date(col("o_orderdate")))).head.getDate(0)
        // date in the PREDICATE only (same engine-hash caveat as
        // hudi_date_pruned: DuckDB DATE output surfaces as datetime64)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.datePath(d))
          .filter(col("o_date") === dt)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE CAST(o_orderdate AS DATE) = (SELECT MIN(CAST(o_orderdate AS DATE)) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // DECIMAL-typed secondary index at oracle level: the fixture's
    // secondary_index_dec_idx keys are the converted-avro BigDecimal
    // rendering at the column's fixed scale ("7.07", trailing zeros),
    // so the planner must detect the SCALE from sampled entries
    // (SecondaryIndex.detectDecimalScale — the date-detection pattern
    // generalized) and rescale the literal exactly before probing; a
    // wrong scale would plan EMPTY and lose the row. o_decprice is
    // derived integer-exactly from o_orderkey (key + key%97 cents), so
    // the oracle selects the same row through the key.
    "hudi_secondary_decimal_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val k = Tables.orders(s, d).agg(min(col("o_orderkey"))).head.getLong(0)
        val dec = new java.math.BigDecimal(f"$k%d.${k % 97}%02d")
        s.read.format("hudi-graft").load(HudiFixtureBuilder.sidxPath(d))
          .filter(col("o_decprice") === dec)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // DOUBLE-typed secondary index at oracle level (r12): the fixture's
    // secondary_index_dbl_idx keys are Java-canonical Double.toString
    // renderings ("7.5", "8.0") — the planner must first PROVE the
    // family from sampled entries (classifyDoubleKeys demands a
    // discriminating ".0"/exponent witness, since a shortest-decimal
    // writer renders whole numbers bare and a blind probe of 8.0 as
    // "8.0" against stored "8" would plan EMPTY). o_dblrate = key/2 is
    // exact in binary, so the literal below matches bit-for-bit.
    "hudi_secondary_double_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val k = Tables.orders(s, d).agg(min(col("o_orderkey"))).head.getLong(0)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.sidxPath(d))
          .filter(col("o_dblrate") === k.toDouble / 2.0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // TIMESTAMP-typed secondary index at oracle level (r12): the
    // fixture's secondary_index_ts_idx keys are the unconverted avro
    // timestamp-micros long's toString — the planner must prove every
    // sampled key magnitude-UNAMBIGUOUS (micros-plausible while its
    // millis/seconds readings are not, classifyTimestampKeys) before
    // converting the typed literal to epoch micros and probing.
    "hudi_secondary_ts_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val k = Tables.orders(s, d).agg(min(col("o_orderkey"))).head.getLong(0)
        val micros = 1704067200000000L + k * 1000000L
        val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(micros / 1000000L))
        s.read.format("hudi-graft").load(HudiFixtureBuilder.sidxPath(d))
          .filter(col("o_tsmicros") === ts)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // FLOAT32-typed secondary index at oracle level (r14 — the tier r13
    // left fail-open): the fixture's secondary_index_flt_idx keys are
    // Java `Float.toString` at FLOAT precision; the planner must pin the
    // value family from witnesses among the sampled entries ("0.1" is a
    // float-precision rendering — the widened double would store
    // "0.10000000149011612") before rendering the literal. The probed
    // value 0.1f is itself the discriminating kind: a planner that
    // widened it before rendering would probe the wrong digits, plan
    // EMPTY, and hash-fail here.
    "hudi_secondary_float_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val k = Tables.orders(s, d).agg(min(col("o_orderkey"))).head.getLong(0) + 1
        s.read.format("hudi-graft").load(HudiFixtureBuilder.sidxPath(d))
          .filter(col("o_fltrate") === lit((k / 10.0d).toFloat))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey = (SELECT MIN(o_orderkey) + 1 FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // --- Inspection surface (the reference's get_file_slices /
    // get_timeline, table/mod.rs:441/422) at oracle level: the planned
    // slices and completed instants of the deterministic fixtures match
    // closed-form literals — a planner regression (wrong slice set,
    // missed commit, wrong base-file association) diverges loudly.
    "hudi_file_slices" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        HudiTable(s, HudiFixtureBuilder.rangePath(d)).fileSlicesDf().orderBy("file_id")
      }, {
        val rows = (0 until 4).map { g =>
          val fid = f"00000000-0000-0000-0000-${g}%012d-0"
          s"('', '$fid', '20240101000000000', '${fid}_0-0-0_20240101000000000.parquet', 0)"
        }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows)
           |AS t(partition_path, file_id, commit_ts, base_file, num_logs)
           |ORDER BY file_id""".stripMargin
      }),

    // Metadata-only COUNT(*): the aggregate pushes down to parquet
    // footer row counts over the planned base-only slices — zero data
    // read (DataSourceV2Spec asserts the LocalTableScan plan shape; this
    // entry hash-checks the value).
    "hudi_count_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.rangePath(d))
          .agg(count(col("*")).as("n"))
      },
      "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders"),

    // Partition-FILTERED metadata COUNT(*): the exact partition-equality
    // filter is consumed by pruning, then the count serves from the
    // surviving partition's footer metadata — `SELECT COUNT(*) WHERE
    // dt = X`, the single most frequent ops query on a partitioned lake,
    // as a zero-task plan (plan shape + single-footer-read asserted in
    // DataSourceV2Spec; this entry hash-checks the value).
    "hudi_count_filtered_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.partPath(d))
          .filter(col("n_regionkey") === 2)
          .agg(count(col("*")).as("n"), min(col("n_nationkey")).as("mn"),
            max(col("n_nationkey")).as("mx"))
      },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(n_nationkey) AS mn,
        |  MAX(n_nationkey) AS mx FROM nation WHERE n_regionkey = 2""".stripMargin),

    // MOR aggregates push exactly when the PLANNED slices are log-free:
    // the insert-only fixture (table type MERGE_ON_READ, one deltacommit
    // of base files, zero logs — the append-pipeline shape) serves
    // COUNT/MIN/MAX from metadata like COW; a log-carrying MOR plan must
    // fall back (plan shapes asserted in DataSourceV2Spec; v6 log files
    // attach to the base instant's slice, so even an as-of plan cannot
    // prove log-freedom from names alone and stays conservative).
    "hudi_mor_insert_only_agg" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft")
          .load(HudiFixtureBuilder.morInsertOnlyPath(d))
          .agg(count(col("*")).as("n"), min(col("r_regionkey")).as("mn"),
            max(col("r_regionkey")).as("mx"))
      },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(r_regionkey) AS mn,
        |  MAX(r_regionkey) AS mx FROM region""".stripMargin),

    // Partition-valued aggregates over a DROPPED partition column (P6
    // composition): the files carry NO chunks for n_regionkey, so chunk
    // tiers can't serve it — COUNT/MIN/MAX come from the PARSED
    // partition path values (sentinel-free plan => path value IS each
    // row's value), where the pre-r10 engine ran a full scan.
    "hudi_agg_dropped_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.droppedPath(d))
          .agg(count(col("n_regionkey")).as("n"), min(col("n_regionkey")).as("mn"),
            max(col("n_regionkey")).as("mx"))
      },
      """SELECT CAST(COUNT(n_regionkey) AS BIGINT) AS n, MIN(n_regionkey) AS mn,
        |  MAX(n_regionkey) AS mx FROM nation""".stripMargin),

    // Partition-valued MIN/MAX of a STRING partition column — never
    // servable from chunk stats (writer truncation) — from parsed path
    // values. The fixture has a NULL-sentinel partition, so the exact
    // r_name filter is what makes the plan sentinel-free and pushable;
    // the unfiltered shape must fall back (DataSourceV2Spec asserts
    // both plan shapes).
    "hudi_strpart_agg_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        val nm = Tables.region(s, d).agg(min(col("r_name"))).head.getString(0)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.strpartPath(d))
          .filter(col("r_name") === nm)
          .agg(count(col("*")).as("n"), min(col("r_name")).as("mn"),
            max(col("r_name")).as("mx"))
      },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(r_name) AS mn, MAX(r_name) AS mx
        |FROM region WHERE r_name = (SELECT MIN(r_name) FROM region)""".stripMargin),

    // Null-aware exact pruning (the IS NULL surface): the nullpart
    // fixture renders its two NULL-n_regionkey rows under the hive
    // sentinel directory, and `WHERE n_regionkey IS NULL` plans exactly
    // that partition. On an INT partition column the sentinel holds
    // ONLY nulls, so the predicate is consumed EXACTLY (no residual —
    // plan-shape + zero-task aggregate twins in DataSourceV2Spec). The
    // synthetic rows are deterministic, so the oracle is a VALUES
    // literal at any scale factor.
    "hudi_isnull_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.nullpartPath(d))
          .filter(col("n_regionkey").isNull)
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      },
      """SELECT * FROM (VALUES
        |  (998, 'NULLPART-0', CAST(NULL AS INTEGER)),
        |  (999, 'NULLPART-1', CAST(NULL AS INTEGER)))
        |AS t(n_nationkey, n_name, n_regionkey) ORDER BY n_nationkey""".stripMargin),

    // ...and the zero-task aggregate over the null partition:
    // `COUNT(*) WHERE dt IS NULL` is pure metadata (the sentinel
    // partition's footer row counts; COUNT(n_regionkey) proves 0 from
    // per-chunk null counts), the IS NOT NULL twin the complement.
    "hudi_isnull_count_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.nullpartPath(d))
          .filter(col("n_regionkey").isNull)
          .agg(count(col("*")).as("n"), count(col("n_regionkey")).as("nc"))
      },
      "SELECT CAST(2 AS BIGINT) AS n, CAST(0 AS BIGINT) AS nc"),

    "hudi_isnotnull_count_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.nullpartPath(d))
          .filter(col("n_regionkey").isNotNull)
          .agg(count(col("*")).as("n"), min(col("n_regionkey")).as("mn"),
            max(col("n_regionkey")).as("mx"))
      },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(n_regionkey) AS mn,
        |  MAX(n_regionkey) AS mx FROM nation""".stripMargin),

    // Record-index POINT read: `_hoodie_record_key = '7'` resolves to
    // the ONE owning file group through the record index (key 7 is
    // log-updated, so the restricted plan still merges); plan-shape
    // asserted in DataSourceV2Spec.
    "hudi_record_key_point" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.morPath(d))
          .filter(col("_hoodie_record_key") === "7")
          .select("o_orderkey", "o_custkey", "o_orderstatus")
      },
      """SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus
        |FROM orders WHERE o_orderkey = 7""".stripMargin),

    // The NATURAL-KEY twin: the same point read through the LongType
    // source key field — the canonical decimal rendering probes the
    // record index directly (keyRestricted's widened source-field
    // branch; the everyday `WHERE id = 7` shape). Plan-shape + keygen
    // gate asserted in DataSourceV2Spec.
    "hudi_natural_key_point" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.morPath(d))
          .filter(col("o_orderkey") === 7)
          .select("o_orderkey", "o_custkey", "o_orderstatus")
      },
      """SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus
        |FROM orders WHERE o_orderkey = 7""".stripMargin),

    // The TIME-TRAVEL twin: as-of T1 the MDT record_index commit mirrors
    // the data instant (mdtAt == dataAt), so the point plan still keeps
    // only the owning file group — and the row shows the PRE-update
    // status (the T2 'U' update is not visible). Gate-miss fallback
    // (as-of T2, MDT lagging) asserted in DataSourceV2Spec.
    "hudi_record_key_point_asof" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft")
          .option("as.of.timestamp", "20240101000000000")
          .load(HudiFixtureBuilder.morPath(d))
          .filter(col("_hoodie_record_key") === "7")
          .select("o_orderkey", "o_custkey", "o_orderstatus")
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE o_orderkey = 7""".stripMargin),

    // The INCREMENTAL twin — "what happened to key K since T", the CDC
    // debugging shape: a key-equality filter on an incremental read now
    // plans only K's owning file group (index tiers applied to the
    // in-range slice set; previously every touched group was read). A
    // latest-ended range uses the LIVE indexes — the snapshot branch's
    // trust; a bounded end applies them as of endTs behind the MDT-sync
    // gate (this fixture's MDT tip is T1, so end=T3 gate-misses to the
    // full plan — DataSourceV2Spec pins that fallback plus the
    // emitDeletes veto). Key 7 is updated at T2, so "since T1" surfaces
    // exactly its updated row.
    "hudi_incremental_key_point" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft")
          .option("query.type", "incremental")
          .option("start.timestamp", HudiFixtureBuilder.T1)
          .load(HudiFixtureBuilder.morPath(d))
          .filter(col("o_orderkey") === 7)
          .select("o_orderkey", "o_custkey", "o_orderstatus")
      },
      """SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus
        |FROM orders WHERE o_orderkey = 7""".stripMargin),

    // Bloom-filter data skipping (MDT bloom_filters — enumerated by the
    // reference, records.rs:115-116, decoded by neither side): the
    // fixture's file groups hold o_orderkey % 4 residue classes, so every
    // group's key RANGE spans the table and min/max stats can never serve
    // an equality probe — only the per-file bloom prunes (the plan-shape
    // test asserts exactly one slice survives).
    "hudi_bloom_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.bloomPath(d))
          .filter(col("o_orderkey") === 8)
          .select("o_orderkey", "o_custkey", "o_orderstatus")
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderkey = 8""".stripMargin),

    // GROUP BY partition column served entirely from metadata: one row
    // per partition from parsed path values + per-partition footer/index
    // aggregates (LocalTableScan plan shape asserted in DataSourceV2Spec)
    // — `SELECT dt, COUNT(*) ... GROUP BY dt` at 100 TB without reading
    // a data byte.
    "hudi_group_agg_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.partPath(d))
          .groupBy("n_regionkey")
          .agg(count(col("*")).as("n"), min(col("n_nationkey")).as("mn"),
            max(col("n_nationkey")).as("mx"))
          .orderBy("n_regionkey")
      },
      """SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(n_nationkey) AS mn, MAX(n_nationkey) AS mx
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // COUNT(col) pushdown = Σ(rows − proven nulls) per file: the
    // schema-evolved fixture's commit-1 file lacks n_regionkey entirely
    // (all-null by definition), so the answer counts only commit-2 rows
    // — served without reading a data byte.
    "hudi_count_column_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.evolvedPath(d))
          .agg(count(col("n_regionkey")).as("n"))
      },
      """SELECT CAST(SUM(CASE WHEN n_nationkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n FROM nation""".stripMargin),

    "hudi_minmax_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.rangePath(d))
          .agg(count(col("*")).as("n"), min(col("o_orderkey")).as("mn"),
            max(col("o_orderkey")).as("mx"), max(col("o_totalprice")).as("mxp"))
      },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(o_orderkey) AS mn,
        |  MAX(o_orderkey) AS mx, MAX(o_totalprice) AS mxp FROM orders""".stripMargin),

    // String MIN/MAX metadata pushdown — INDEX-TIER-ONLY: served from
    // the column_stats index's TIGHT StringWrapper bounds (exact extreme
    // values by the isTightBound contract) over every planned file —
    // zero data read, zero footer reads. Footer chunk statistics and
    // loose index bounds never serve string extremes (writer truncation
    // would be a silently wrong answer); DataSourceV2Spec pins both the
    // LocalScan shape here and the fall-back-to-real-scan on the
    // loose-bound column of the same fixture.
    "hudi_minmax_string_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.rangePath(d))
          .agg(min(col("o_orderpriority")).as("mn_s"),
            max(col("o_orderpriority")).as("mx_s"), count(col("*")).as("n"))
      },
      """SELECT MIN(o_orderpriority) AS mn_s, MAX(o_orderpriority) AS mx_s,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM orders""".stripMargin),

    // Date MIN/MAX metadata pushdown: served from the column_stats
    // index's tight DateWrapper (epoch-day) bounds — zero data read,
    // zero footer reads when the index covers every planned file
    // (DataSourceV2Spec asserts both). Output casts to string: a
    // date-typed column can never hash-match across Spark/DuckDB (the
    // hudi_date_pruned caveat), the VARCHAR rendering is identical.
    "hudi_minmax_date_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.datePath(d))
          .agg(min(col("o_date")).as("mn_d"), max(col("o_date")).as("mx_d"))
          .select(col("mn_d").cast("string").as("mn_d"),
            col("mx_d").cast("string").as("mx_d"))
      },
      """SELECT CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mn_d,
        |  CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mx_d FROM orders""".stripMargin),

    // Decimal MIN/MAX metadata pushdown: the sidx fixture's
    // DECIMAL(14,2) o_decprice is written INT64-decimal by Spark's
    // non-legacy writer; the footer tier normalizes the chunk stats to
    // BigDecimal (FileStats.normalizeStat) and serves the extremes
    // without reading data. The oracle re-derives the same decimal from
    // o_orderkey, so values must match bit-exactly at the fixed scale.
    "hudi_minmax_decimal_pushdown" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft").load(HudiFixtureBuilder.sidxPath(d))
          .agg(min(col("o_decprice")).as("mn_dec"),
            max(col("o_decprice")).as("mx_dec"), count(col("*")).as("n"))
          // VARCHAR rendering: a decimal-typed result column hashes as a
          // different dtype across Spark/DuckDB even when the values are
          // identical (the hudi_minmax_date_pushdown caveat); the fixed
          // scale-2 string form is engine-independent
          .select(col("mn_dec").cast("string").as("mn_dec"),
            col("mx_dec").cast("string").as("mx_dec"), col("n"))
      },
      """SELECT
        |  CAST(MIN(CAST(CONCAT(CAST(o_orderkey AS VARCHAR), '.',
        |    LPAD(CAST(o_orderkey % 97 AS VARCHAR), 2, '0')) AS DECIMAL(14,2))) AS VARCHAR) AS mn_dec,
        |  CAST(MAX(CAST(CONCAT(CAST(o_orderkey AS VARCHAR), '.',
        |    LPAD(CAST(o_orderkey % 97 AS VARCHAR), 2, '0')) AS DECIMAL(14,2))) AS VARCHAR) AS mx_dec,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM orders""".stripMargin),

    // Time-travel aggregates, LOAD-BEARING values: the MOR fixture's T3
    // delete log removes %97 keys, so COUNT(*) as of T1 (the full
    // insert) DIFFERS from the latest snapshot's — an engine that
    // ignored the as-of point would return the post-delete count and
    // hash-mismatch. On this v6 table the T2/T3 logs are NAMED with the
    // base instant (v6 log naming), so they stay attached to the as-of
    // plan and the aggregate correctly REJECTS pushdown and scans —
    // the v8+ plan-time log prune that turns the same shape into a
    // metadata-only LocalScan is pinned in AsOfLogPruneSpec on the
    // reference's real v8 trips bytes.
    "hudi_asof_agg" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.read.format("hudi-graft")
          .option("as.of.timestamp", HudiFixtureBuilder.T1)
          .load(HudiFixtureBuilder.morPath(d))
          .agg(count(col("*")).as("n"), min(col("o_orderkey")).as("mn"),
            max(col("o_orderkey")).as("mx"))
      },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(o_orderkey) AS mn,
        |  MAX(o_orderkey) AS mx FROM orders""".stripMargin),

    // SAME inventory through the SQL `CALL` surface — driver-graded
    // evidence that the procedure catalog resolves, binds by name, and
    // returns planning metadata as rows.
    "hudi_proc_file_slices" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.conf.set("spark.sql.catalog.hudi_graft", classOf[graft.sources.GraftCatalog].getName)
        s.sql(s"CALL hudi_graft.show_file_slices(table => '${HudiFixtureBuilder.rangePath(d)}')")
          .select("partition_path", "file_id", "commit_ts", "base_file", "num_logs")
          .orderBy("file_id")
      }, {
        val rows = (0 until 4).map { g =>
          val fid = f"00000000-0000-0000-0000-${g}%012d-0"
          s"('', '$fid', '20240101000000000', '${fid}_0-0-0_20240101000000000.parquet', 0)"
        }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows)
           |AS t(partition_path, file_id, commit_ts, base_file, num_logs)
           |ORDER BY file_id""".stripMargin
      }),

    // The procedure's as_of TIME TRAVEL at oracle level: the COW fixture
    // rewrites every file group at T2, so as_of T1 must list exactly the
    // T1-committed bucketed bases — the oracle re-derives the bucketed
    // layout (partition index by sorted o_orderpriority, bucket =
    // o_orderkey % 3) from the orders table. A plan that ignored as_of
    // would name T2 files and hash-mismatch.
    "hudi_proc_slices_asof" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.conf.set("spark.sql.catalog.hudi_graft", classOf[graft.sources.GraftCatalog].getName)
        s.sql(s"CALL hudi_graft.show_file_slices(table => '${HudiFixtureBuilder.cowPath(d)}', " +
          s"as_of => '${HudiFixtureBuilder.T1}')")
          .select("partition_path", "file_id", "commit_ts", "base_file", "num_logs")
          .orderBy("file_id")
      },
      """WITH parts AS (
        |  SELECT p, ROW_NUMBER() OVER (ORDER BY p) - 1 AS pidx
        |  FROM (SELECT DISTINCT o_orderpriority AS p FROM orders)
        |), pb AS (
        |  SELECT DISTINCT parts.p, parts.pidx, (o.o_orderkey % 3) AS b
        |  FROM orders o JOIN parts ON o.o_orderpriority = parts.p
        |)
        |SELECT p AS partition_path,
        |  printf('00000000-0000-0000-%04d-%012d-0', pidx, b) AS file_id,
        |  '20240101000000000' AS commit_ts,
        |  printf('00000000-0000-0000-%04d-%012d-0_0-0-0_20240101000000000.parquet',
        |    pidx, b) AS base_file,
        |  CAST(0 AS INTEGER) AS num_logs
        |FROM pb ORDER BY file_id""".stripMargin),

    // SHOW PARTITIONS-shaped ops surface at oracle level: the procedure
    // aggregates the planned snapshot by partition (hive-style int
    // partitions parse to `n_regionkey=<r>` dirs, one file group each);
    // the oracle derives the same relation from the nation table.
    "hudi_proc_partitions" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        s.conf.set("spark.sql.catalog.hudi_graft", classOf[graft.sources.GraftCatalog].getName)
        s.sql(s"CALL hudi_graft.show_partitions(table => '${HudiFixtureBuilder.partPath(d)}')")
          .select("partition_path", "num_file_groups", "num_log_files")
          .orderBy("partition_path")
      },
      """SELECT CONCAT('n_regionkey=', n_regionkey) AS partition_path,
        |  1 AS num_file_groups, 0 AS num_log_files
        |FROM (SELECT DISTINCT n_regionkey FROM nation)
        |ORDER BY partition_path""".stripMargin),

    "hudi_timeline" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        HudiTable(s, HudiFixtureBuilder.morPath(d)).timelineDf.orderBy("commit_ts")
      },
      """SELECT * FROM (VALUES
        |  ('20240101000000000', 'commit', ''),
        |  ('20240102000000000', 'deltacommit', ''),
        |  ('20240103000000000', 'deltacommit', ''))
        |AS t(commit_ts, action, completion_ts)
        |ORDER BY commit_ts""".stripMargin),

    "hudi_partition_pruned" -> QueryDef(
      (s, d) => {
        HudiFixtureBuilder.ensure(s, d)
        HudiTable(s, HudiFixtureBuilder.partPath(d))
          .snapshot(partitionFilters = Seq(PartitionFilter("n_regionkey", "=", Seq("2"))))
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey = 2 ORDER BY n_nationkey""".stripMargin)
  )


  /** One AvailableNow drain into a memory sink with the fixture-sized
    * streaming harness confs pinned for its WHOLE duration (8 shuffle
    * partitions -> 8 state stores instead of 32 pure-overhead tasks;
    * retain 1 checkpoint batch, ~0.6s/entry of snapshot-retention IO
    * saved -- measured in BASELINE.md "Streaming bench floor"). Confs
    * restore AFTER termination: the stream thread clones the session
    * asynchronously, so restoring right after start() raced the clone and the
    * state-store count nondeterministically followed the restored
    * value. AvailableNow self-terminates instead of idling through an
    * empty trailing micro-batch.
    */
  private def drainToMemory(s: SparkSession, stream: DataFrame, sink: String,
      outputMode: String): DataFrame = {
    s.catalog.dropTempView(sink)
    val savedShuffle = s.conf.get("spark.sql.shuffle.partitions")
    val savedRetain = s.conf.getOption("spark.sql.streaming.minBatchesToRetain")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.streaming.minBatchesToRetain", "1")
    try {
      val q = stream.writeStream.outputMode(outputMode).format("memory")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .queryName(sink).start()
      try q.awaitTermination() finally q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", savedShuffle)
      // restore: other streams in this session keep the default
      // retention (a restarted stream may need older batch state)
      savedRetain match {
        case Some(v) => s.conf.set("spark.sql.streaming.minBatchesToRetain", v)
        case None => s.conf.unset("spark.sql.streaming.minBatchesToRetain")
      }
    }
    s.table(sink)
  }

  def queries: Map[String, QueryDef] = qs
}
