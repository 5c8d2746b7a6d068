package graft.sources

import graft.core.{MetaField, Timestamps}
import graft.core.HoodieInstant
import graft.log.{InstantRange, LogFileParser, LogFormat, RowAlign}
import graft.table.HudiTable
import graft.util.SerializableConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, StringType}

/** Serving counters for [[CdcRead]], by per-commit strategy — what lets a
  * spec assert that a table with persisted CDC blocks was served with
  * ZERO snapshot-diff joins (the whole point of supplemental logging).
  * JVM-global like the other counter-asserted caches (IndexIoCache).
  */
object CdcMetrics {
  /** Commits served by decoding persisted `-cdc` sidecar blocks. */
  val persistedCommits = new java.util.concurrent.atomic.AtomicLong
  /** Commits served by the two-snapshot-reads + full-outer-join inference. */
  val inferredCommitJoins = new java.util.concurrent.atomic.AtomicLong
  /** Insert-only commits (every touched group fresh) served by a single
    * one-sided read — no join, no before state needed.
    */
  val insertOnlyCommits = new java.util.concurrent.atomic.AtomicLong
  /** Commits served PARTIALLY from sidecars: `data_before` blocks (exact
    * before images + a one-sided after read — no predecessor snapshot at
    * all), or `op_key_only` blocks (the inference join narrowed to the
    * changed keys).
    */
  val partialCommits = new java.util.concurrent.atomic.AtomicLong
  def reset(): Unit = {
    persistedCommits.set(0); inferredCommitJoins.set(0); insertOnlyCommits.set(0)
    partialCommits.set(0)
  }
}

/** Change-data-capture over a Hudi table: upstream Spark-Hudi's `cdc`
  * incremental format — one `(op, ts_ms, before, after)` row per record
  * CHANGED by each commit in `(start, end]`, with full before/after
  * images. Two serving strategies, decided PER COMMIT:
  *
  * '''Persisted blocks''' (beyond reference parity — the reference parses
  * `BlockType::CdcData` but treats it as plain data,
  * crates/core/src/file_group/log_file/scanner.rs:182): when the table
  * was written with `hoodie.table.cdc.enabled=true` and supplemental
  * logging mode `data_before_after`, each commit's write stats carry
  * `cdcStats` naming `-cdc` sidecar log files that hold the EXACT
  * before/after images the writer observed. Decoding them costs IO
  * proportional to the cdc bytes — no snapshot reads, no join, and no
  * dependency on the previous file slices still existing (so changes
  * beyond the CLEANER horizon stay servable). Touched groups without a
  * sidecar must be FRESH (no `prevCommit`): their rows are read
  * one-sided as `i` with null before images, exactly upstream's
  * add-base-file case.
  *
  * '''Inference''' (reference parity with upstream's infer path) for
  * everything else — per commit `c` with predecessor `p`, over only the
  * file groups `c` touched (from its commit metadata's
  * partitionToWriteStats):
  *
  *  - `u`: key present in both the as-of-`p` and as-of-`c` reads with the
  *    after-image's `_hoodie_commit_time == c` (rows merely CARRIED into a
  *    rewritten/merged file keep their old commit stamp — Hudi preserves
  *    per-record commit times on COW copy — and drop out, exactly the
  *    unchanged-row exclusion upstream's CDC infer path applies);
  *  - `i`: key absent as of `p` (its commit stamp is `c` by construction);
  *  - `d`: key present as of `p`, absent as of `c` — a MOR delete block or
  *    a COW rewrite that dropped the row;
  *  - `ts_ms`: the commit instant as epoch millis (upstream's column), a
  *    STRING like upstream's schema.
  *
  * The join key is `(_hoodie_record_key, _hoodie_partition_path)`: with a
  * NON-global index the same record key legally lives in several
  * partitions, and a commit touching both copies must diff each against
  * its own partition's before image, never cross-pair them.
  *
  * Images are structs of the DATA columns — the exact writer meta columns
  * ([[MetaField.all]]) excluded, so a user column that merely shares the
  * prefix (the conventional `_hoodie_is_deleted` soft-delete flag) stays
  * in the images.
  *
  * Scale shape: persisted commits batch into ONE distributed decode over
  * all their sidecar files. Each inferred commit plans TWO snapshot reads
  * restricted to its touched file groups (`cdc.file.groups` — slice-level,
  * so IO is proportional to changed groups), joined on the record key.
  * The join is FULL OUTER — semantically required (inserts are after-only
  * rows, deletes before-only) — which Spark cannot broadcast; AQE picks a
  * shuffled-hash join whose shuffle is bounded by the commit's change
  * volume, never table size. Diffs union across the bounded commit range
  * (balanced, log-depth). Table-service instants that change no logical
  * rows — pure clustering, MOR compaction — are skipped outright.
  *
  * Insert-overwrite (a NON-clustering replacecommit): always inferred —
  * upstream writers do not emit sidecars for replacecommits. The
  * before-image is the REPLACED groups read as of the predecessor (from
  * the instant's `partitionToReplaceFileIds`, reference replace handling:
  * timeline/mod.rs:302-320) unioned with any rewritten pre-existing
  * groups; the after-image is the NEW groups from its write stats. A key
  * present only in the replaced groups surfaces as `d`, a fresh key as
  * `i`, a re-written key as `u`. NOTE a deliberate feed-shape divergence
  * from upstream: upstream's replacecommit inference emits every replaced
  * row as `d` plus every new row as `i`; this engine JOINS the two sides,
  * so a surviving key surfaces as one `u` instead of a `d`+`i` pair. The
  * net state after applying either feed is identical, but consumers that
  * assert on op labels or row counts will see the joined shape.
  *
  * Refusals (loud, never a silently wrong feed) — all on the INFERENCE
  * path only (persisted blocks carry their own images):
  *  - `populate.meta.fields=false` tables: the inference keys and stamps
  *    on meta columns, which such tables null out;
  *  - a non-clustering replacecommit whose metadata LACKS the
  *    `partitionToReplaceFileIds` field entirely (corruption / unknown
  *    writer): treating it as replacing nothing would drop its deletes;
  *  - a first in-range commit whose predecessor has been ARCHIVED off the
  *    active timeline when older instants exist (an unreadable archive
  *    counts: the guard fails closed): its before state is not
  *    resolvable — narrow the range instead;
  *  - a commit that rewrote a PRE-EXISTING group (its write stat records
  *    a prevCommit) — or a replacecommit whose REPLACED groups — whose
  *    previous slice no longer exists as of the predecessor: the CLEANER
  *    horizon; inferring from a half-cleaned view would misreport those
  *    updates (or overwrite-deletes) as inserts;
  *  - a pre-existing group whose visible-as-of-`p` slice is an OLDER
  *    version than the one the commit built on (slice base instant ≠ the
  *    stat's recorded `prevCommit`, or — for replaced groups — ≠ the
  *    latest active base write): a SAVEPOINT retained an old slice while
  *    the cleaner removed the intermediate ones, and reading it would
  *    serve a silently stale before image.
  */
object CdcRead {

  /** Upstream Spark-Hudi CDC column names. */
  private val OpCol = "op"
  private val TsCol = "ts_ms"

  /** Read option forcing the inference path even when persisted CDC
    * blocks exist — the differential-testing hook (persisted and inferred
    * feeds must hash-match on the same commits).
    */
  val InferenceOnlyOption = "graft.cdc.inference.only"

  /** The `(op, ts_ms, before, after)` schema for a table's data columns —
    * computable from metadata alone (no data read), which is what the
    * streaming source needs at source-construction time.
    */
  def cdcSchema(hudi: HudiTable): StructType = {
    val metaCols = (MetaField.all :+ MetaField.Operation).toSet
    val imageType = StructType(
      hudi.tableSchema.fields.filterNot(f => metaCols.contains(f.name)).toIndexedSeq)
    StructType(Seq(
      StructField(OpCol, StringType, nullable = false),
      StructField(TsCol, StringType, nullable = false),
      StructField("before", imageType, nullable = true),
      StructField("after", imageType, nullable = true)))
  }

  /** Table-service instants that change no logical rows: pure clustering
    * replacecommits, MOR compaction commits, and log-compaction
    * deltacommits (all rewrite bytes while preserving per-record commit
    * stamps — their inferred diff is empty by construction, and their
    * touched set spans every serviced group, so diffing would be
    * table-sized IO for zero rows).
    */
  private def isLogicalNoOp(hudi: HudiTable)(i: HoodieInstant): Boolean = {
    lazy val op = hudi.timeline.commitMetadata(i).path("operationType").asText("")
    (i.action == "replacecommit" &&
      (op.equalsIgnoreCase("cluster") || op.equalsIgnoreCase("clustering"))) ||
      (i.action == "commit" &&
        (op.equalsIgnoreCase("compact") || op.equalsIgnoreCase("compaction"))) ||
      (i.action == "deltacommit" &&
        (op.equalsIgnoreCase("log_compact") || op.equalsIgnoreCase("logcompaction") ||
          op.equalsIgnoreCase("log_compaction")))
  }

  def changes(
      spark: SparkSession,
      basePath: String,
      start: Option[String],
      end: Option[String],
      // read options of the issuing handle (timestamp-keygen type,
      // ordering field, ... — configs Hudi writers do not persist); they
      // ride every delegated DSv2 read so an optioned HudiTable handle's
      // cdc() merges with the SAME semantics as its snapshot()
      readOptions: Map[String, String] = Map.empty,
      // a pre-opened handle (the streaming source's memoized table): the
      // caller guarantees it has seen every commit ≤ `end`, so planning
      // skips the re-open (and its timeline-listing revalidation)
      preOpened: Option[HudiTable] = None): DataFrame = {
    val hudi = preOpened.getOrElse(
      if (readOptions.isEmpty) HudiTable(spark, basePath)
      else HudiTable(spark, basePath, readOptions))
    if (!hudi.config.populatesMetaFields)
      throw new UnsupportedOperationException(
        "cdc: inference keys on _hoodie_record_key and stamps on _hoodie_commit_time, " +
          "which hoodie.populate.meta.fields=false tables null out — a diff would " +
          "misreport every row; CDC is unavailable on such tables")
    val tz = hudi.config.timelineTimezone
    val s = start.map(Timestamps.normalize(_, tz))
    val e = end.map(Timestamps.normalize(_, tz))
      .orElse(hudi.timeline.latestCommitTimestamp)

    val noOp = isLogicalNoOp(hudi) _
    val inRange = hudi.timeline.instantsBetween(s, e)

    // the optional writer meta column (_hoodie_operation, behind
    // hoodie.allow.operation.metadata.field) is physical-write metadata
    // too — images carry DATA columns only
    val metaCols = (MetaField.all :+ MetaField.Operation).toSet
    val dataFields = hudi.tableSchema.fields.filterNot(f => metaCols.contains(f.name))
    val dataCols = dataFields.map(f => col(f.name))
    val schema = cdcSchema(hudi)

    // predecessor lookup over the ACTIVE timeline; a first in-range commit
    // with archived older instants has no resolvable before state (the
    // archive records metadata, not the cleaned file slices) — refuse
    // rather than misreport its updates as inserts
    val allTs = hudi.timeline.completedInstants.map(_.timestamp).distinct.sorted

    // persisted serving requires table-level supplemental logging with
    // full images; the inference-only option is the differential hook.
    // The PARTIAL modes decode what their blocks do carry: `data_before`
    // blocks hold exact before images (after = one one-sided read at c —
    // no predecessor snapshot, no prev guards, serves past the cleaner
    // horizon for the before state), `op_key_only` blocks narrow the
    // inference join's before side to the changed keys
    val sidecarCapable = hudi.config.cdcEnabled &&
      !readOptions.get(InferenceOnlyOption).exists(_.equalsIgnoreCase("true"))
    val loggingMode = hudi.config.cdcSupplementalLoggingMode
    val persistedCapable = sidecarCapable && loggingMode == "data_before_after"
    val partialBeforeCapable = sidecarCapable && loggingMode == "data_before"
    val keyOnlyCapable = sidecarCapable && loggingMode == "op_key_only"

    // one diff per distinct in-range commit timestamp (multi-writer: a
    // same-instant commit+deltacommit pair merges its touched groups; a
    // same-instant table-service sibling drops out WITHOUT taking the
    // data instants with it)
    val commits = inRange.filterNot(noOp)
      .groupBy(_.timestamp).toSeq.sortBy(_._1)
    if (commits.isEmpty)
      return HudiTable.emptyDf(spark, schema)

    def readAsOf(ts: String, groups: Seq[String]): DataFrame =
      spark.read.format("hudi-graft")
        .options(readOptions)
        .option("as.of.timestamp", ts)
        .option("cdc.file.groups", groups.mkString(","))
        .load(basePath)

    /** One-sided read of FRESH groups at `c`: every row the commit
      * stamped surfaces as `i` with a null before image (no join — a
      * group with no previous version has no before state by
      * construction). Shared by the persisted path (uncovered new
      * groups) and the insert-only fast path. Refuses when a group's
      * version at `c` has been CLEANED — the as-of read would silently
      * return nothing and the feed would drop the commit's inserts.
      */
    def insertOnlyDf(c: String, groups: Seq[String]): DataFrame = {
      val visibleAtC = hudi.fsView.slicesAsOf(c).map(_.fileId).toSet
      val gone = groups.filterNot(visibleAtC.contains)
      if (gone.nonEmpty)
        throw new UnsupportedOperationException(
          s"cdc: commit $c created file groups ${gone.mkString(", ")} whose files as of $c " +
            "no longer exist (cleaned) — its insert images are not resolvable; start the " +
            "range at or after the cleaner horizon")
      val tsMs = Timestamps.timelineToEpochMillis(c, tz).toString
      readAsOf(c, groups)
        .filter(col(MetaField.CommitTime) === lit(c))
        .select(
          lit("i").as(OpCol),
          lit(tsMs).as(TsCol),
          lit(null).cast(schema("before").dataType).as("before"),
          struct(dataCols.toIndexedSeq: _*).as("after"))
    }

    // persisted sidecar files accumulate across commits into ONE
    // distributed decode (a 1000-commit drain is one job, not 1000)
    val persistedPaths = Vector.newBuilder[String]
    val persistedTs = Set.newBuilder[String]

    val perCommit = commits.flatMap { case (c, instants) =>
      val written = instants.flatMap(i =>
        hudi.timeline.touchedFileGroups(i).valuesIterator.flatten).distinct.sorted
      // insert-overwrite / delete_partition: the groups this commit
      // REPLACED hold its before-image (and its logical deletes). A
      // non-clustering replacecommit whose metadata LACKS the
      // partitionToReplaceFileIds field entirely (corruption, or a writer
      // this inference doesn't know) would silently drop every logical
      // delete — fail closed; real writers record the field even when
      // the overwritten partition was empty (an empty map)
      for (i <- instants if i.action == "replacecommit")
        if (!hudi.timeline.commitMetadata(i).path("partitionToReplaceFileIds").isObject)
          throw new UnsupportedOperationException(
            s"cdc: replacecommit $c carries no partitionToReplaceFileIds in its metadata — " +
              "the groups it logically deleted cannot be resolved, so an inferred diff " +
              "would silently miss them; narrow the range to end before it")
      val replaced = instants.flatMap(i =>
        hudi.timeline.replacedFileGroups(i).valuesIterator.flatten).distinct.sorted
      if (written.isEmpty && replaced.isEmpty) None
      else {
        // fileId → recorded prevCommit (Some = the group pre-existed and
        // the value names the exact slice version the write built on)
        val prevByGroup = instants
          .flatMap(i => hudi.timeline.touchedGroupsPrevCommit(i))
          .groupMapReduce(_._1)(_._2)((a, b) => if (a.isDefined) a else b)
        val cdcByGroup: Map[String, Seq[String]] =
          if (!sidecarCapable) Map.empty
          else instants.flatMap(i => hudi.timeline.cdcFiles(i).toSeq)
            .groupMapReduce(_._1)(_._2)(_ ++ _)
        val prev = allTs.takeWhile(_ < c).lastOption
        // fileId → its visible slice as of the predecessor (driver
        // metadata, the fs view) — computed lazily: a fully-sidecar-
        // covered commit never consults it
        lazy val visiblePrev: Map[String, graft.fs.FileSlice] = prev
          .map(p => hudi.fsView.slicesAsOf(p).map(sl => sl.fileId -> sl).toMap)
          .getOrElse(Map.empty)
        // FRESH = no recorded prevCommit AND no slice visible as of the
        // predecessor AND the predecessor is actually KNOWABLE. All three
        // legs matter: fixture-grade metadata writes prevCommit "null" on
        // rewrites (absence proves nothing), a CLEANED pre-existing group
        // vanishes from the fs view (absence there proves nothing
        // either), and the oldest ACTIVE commit of an archived timeline
        // has an empty visiblePrev VACUOUSLY — treating its groups as
        // fresh would serve a rewrite's updates as inserts, the exact
        // silent feed the archived-predecessor refusal exists to prevent
        // (the inference branch below throws it loudly)
        lazy val predecessorUnknowable = prev.isEmpty &&
          scala.util.Try(hudi.timeline.archivedInstants.nonEmpty).getOrElse(true)
        def isFresh(fid: String): Boolean =
          prevByGroup.getOrElse(fid, None).isEmpty && !visiblePrev.contains(fid) &&
            !predecessorUnknowable
        // persisted serves when every touched group has a sidecar or is
        // provably fresh (read one-sided); replacecommits stay on
        // inference — upstream writers don't emit sidecars for them
        val persistedServes = persistedCapable && replaced.isEmpty &&
          cdcByGroup.nonEmpty &&
          written.forall(fid => cdcByGroup.contains(fid) || isFresh(fid))
        if (persistedServes) {
          CdcMetrics.persistedCommits.incrementAndGet()
          persistedTs += c
          persistedPaths ++= cdcByGroup.valuesIterator.flatten.toVector.sorted
          val uncovered = written.filterNot(cdcByGroup.contains)
          if (uncovered.isEmpty) None else Some(insertOnlyDf(c, uncovered))
        } else if (partialBeforeCapable && replaced.isEmpty && cdcByGroup.nonEmpty &&
            written.forall(fid => cdcByGroup.contains(fid) || isFresh(fid))) {
          // PARTIAL `data_before` serving: before images are EXACT from
          // the sidecar blocks; the after side is ONE one-sided read of
          // the covered groups at c (commit-stamped rows only) — no
          // predecessor snapshot, no full-outer join, no prev guards.
          // Serves even when the previous slice versions are cleaned.
          CdcMetrics.partialCommits.incrementAndGet()
          val covered = written.filter(cdcByGroup.contains)
          val uncovered = written.filterNot(cdcByGroup.contains)
          val visibleAtC = hudi.fsView.slicesAsOf(c).map(_.fileId).toSet
          val gone = covered.filterNot(visibleAtC.contains)
          if (gone.nonEmpty)
            throw new UnsupportedOperationException(
              s"cdc: commit $c touched file groups ${gone.mkString(", ")} whose files " +
                s"as of $c no longer exist (cleaned) — their after images are not " +
                "resolvable; start the range at or after the cleaner horizon")
          val decSchema = StructType(Seq(
            StructField("op", StringType),
            StructField("record_key", StringType),
            StructField("before", schema("before").dataType)))
          val dec = persistedBlocksDf(spark, basePath,
            cdcByGroup.valuesIterator.flatten.toVector.sorted, Set(c), decSchema,
            withPartition = true)
          val tsMs = Timestamps.timelineToEpochMillis(c, tz).toString
          val after = readAsOf(c, covered)
            .filter(col(MetaField.CommitTime) === lit(c))
            .select(col(MetaField.RecordKey).as("__ak"),
              col(MetaField.PartitionPath).as("__ap"),
              struct(dataCols.toIndexedSeq: _*).as("after"))
          // join qualified on (key, PARTITION): a key present in two
          // covered partitions must not cross-pair its images
          val feed = dec.join(after,
            col("record_key") === col("__ak") && col("__cdcpart") === col("__ap"), "left")
            .select(col("op").as(OpCol), lit(tsMs).as(TsCol), col("before"),
              when(col("op") === "d", lit(null).cast(schema("after").dataType))
                .otherwise(col("after")).as("after"))
          Some(if (uncovered.isEmpty) feed
          else feed.unionByName(insertOnlyDf(c, uncovered)))
        } else if (replaced.isEmpty && written.nonEmpty && written.forall(isFresh)) {
          // insert-only commit: every touched group is fresh — no before
          // state exists, so no predecessor, no guards, no join
          CdcMetrics.insertOnlyCommits.incrementAndGet()
          Some(insertOnlyDf(c, written))
        } else {
          // `op_key_only` blocks (when they cover every pre-existing
          // group) narrow the inference join's BEFORE side to the
          // changed keys — deletes and updates are in the block by
          // construction, so dropping the other stored keys loses only
          // carried rows the post-join filter discards anyway. The after
          // side stays full: fresh-group inserts carry no block records
          val keyOnlyKeys: Option[DataFrame] =
            if (keyOnlyCapable && replaced.isEmpty && cdcByGroup.nonEmpty &&
                written.forall(fid => cdcByGroup.contains(fid) || isFresh(fid))) {
              CdcMetrics.partialCommits.incrementAndGet()
              val decSchema = StructType(Seq(
                StructField("op", StringType), StructField("record_key", StringType)))
              Some(persistedBlocksDf(spark, basePath,
                cdcByGroup.valuesIterator.flatten.toVector.sorted, Set(c), decSchema)
                .select(col("record_key")).distinct())
            } else { CdcMetrics.inferredCommitJoins.incrementAndGet(); None }
          // an unreadable archive fails CLOSED (treated as "older instants
          // exist"): the guard exists to prevent a silently wrong feed, so
          // an IO error must not disarm it
          if (prev.isEmpty &&
            scala.util.Try(hudi.timeline.archivedInstants.nonEmpty).getOrElse(true))
            throw new UnsupportedOperationException(
              s"cdc: commit $c is the oldest ACTIVE instant but older instants exist in the " +
                "archived timeline (or it is unreadable) — its before state is not resolvable, " +
                "so its updates would misreport as inserts and its deletes vanish; start the " +
                "range at or after it")
          // cleaner-horizon guard: any group that PRE-EXISTED (write stat
          // prevCommit, or membership in the replaced set) must still
          // have a slice as of `prev`, or the cleaner has removed the
          // before state and the diff would misreport its updates (or
          // overwrite-deletes) as inserts — refuse, never infer from a
          // half-cleaned view
          val preExisting = prevByGroup.collect { case (fid, Some(_)) => fid }.toSet ++ replaced
          if (preExisting.nonEmpty) {
            val missing = (preExisting -- visiblePrev.keySet).toSeq.sorted
            if (missing.nonEmpty)
              throw new UnsupportedOperationException(
                s"cdc: commit $c rewrote or replaced file groups ${missing.mkString(", ")} " +
                  s"whose previous versions no longer exist as of ${prev.getOrElse("<none>")} " +
                  "(cleaned, or metadata inconsistency) — their before images are not " +
                  "resolvable; start the range at or after this commit")
            // savepoint-staleness guard: existing is not enough — the
            // visible slice must be the VERSION the commit built on. A
            // savepoint can retain an OLD slice while the cleaner removes
            // the intermediate ones; its fileId would pass the existence
            // check and the before read would silently serve stale rows.
            // Stat-backed groups pin the expected version exactly
            // (prevCommit); replaced groups pin it to the latest ACTIVE
            // base write ≤ prev when one is on the timeline (none being
            // active means the history is archived — the archived-
            // predecessor guard owns that horizon at range start).
            val stale = preExisting.toSeq.sorted.flatMap { fid =>
              val expected = prevByGroup.getOrElse(fid, None)
                // v8 MOR appends name their log after the delta's OWN
                // instant and record that as prevCommit — a
                // self-reference, not a version pin; resolve those (and
                // replaced groups, which record nothing) from the latest
                // ACTIVE base write instead. A group with no active base
                // write (log-only, or history archived) stays on the
                // existence check — the archived-predecessor guard owns
                // that horizon at range start.
                .filter(_ != c)
                .orElse(prev.flatMap(p => latestActiveBaseWrite(hudi, fid, p)))
              expected.collect {
                case want if visiblePrev(fid).commitTimestamp != want =>
                  (fid, want, visiblePrev(fid).commitTimestamp)
              }
            }
            if (stale.nonEmpty) {
              val detail = stale.map { case (fid, want, got) =>
                s"$fid (built on $want, visible slice is $got)" }.mkString(", ")
              throw new UnsupportedOperationException(
                s"cdc: commit $c rewrote or replaced file groups whose visible slices as of " +
                  s"${prev.getOrElse("<none>")} are OLDER versions than the ones it built on " +
                  s"— $detail. A savepoint retained an old slice while the cleaner removed " +
                  "the intermediate versions; inferring from it would serve stale before " +
                  "images. Start the range at or after this commit")
            }
          }
          // after-image: the new groups only (a replacecommit's replaced
          // groups are R4-excluded from the as-of-c view anyway); a
          // delete_partition writes none, so its after side is empty.
          // before-image: new ∪ replaced — groups born at c simply don't
          // resolve as of prev, so over-inclusion costs nothing
          val after =
            if (written.nonEmpty) readAsOf(c, written)
            else HudiTable.emptyDf(spark, hudi.tableSchema)
          val beforeGroups = (written ++ replaced).distinct.sorted
          val before = prev.map(readAsOf(_, beforeGroups))
            .getOrElse(HudiTable.emptyDf(spark, after.schema))
          val bAll = before.select(col(MetaField.RecordKey).as("__bk"),
            col(MetaField.PartitionPath).as("__bp"),
            struct(dataCols.toIndexedSeq: _*).as("before"))
          val b = keyOnlyKeys.map(k =>
            bAll.join(k, col("__bk") === col("record_key"), "left_semi")).getOrElse(bAll)
          val a = after.select(col(MetaField.RecordKey).as("__ak"),
            col(MetaField.PartitionPath).as("__ap"),
            col(MetaField.CommitTime).as("__ac"),
            struct(dataCols.toIndexedSeq: _*).as("after"))
          val tsMs = Timestamps.timelineToEpochMillis(c, tz).toString
          Some(b.join(a, col("__bk") === col("__ak") && col("__bp") === col("__ap"), "full_outer")
            // keep: deletes (no after row) + rows the commit actually
            // stamped; carried-over rows with older stamps are unchanged
            .filter(col("__ak").isNull || col("__ac") === lit(c))
            .select(
              when(col("__bk").isNull, lit("i"))
                .when(col("__ak").isNull, lit("d"))
                .otherwise(lit("u")).as(OpCol),
              lit(tsMs).as(TsCol),
              col("before"),
              col("after")))
        }
      }
    }
    val sidecars = persistedPaths.result()
    val persisted =
      if (sidecars.isEmpty) Nil
      else Seq(persistedBlocksDf(spark, basePath, sidecars, persistedTs.result(), schema))
    val parts = persisted ++ perCommit
    if (parts.isEmpty) HudiTable.emptyDf(spark, schema)
    // balanced tree, not a left-deep reduce: a long commit range (backfill
    // replay) must not hand the analyzer an O(commits)-deep plan
    else graft.util.BalancedUnion(parts)
  }

  /** Latest ACTIVE commit ≤ `upTo` that wrote a BASE file for `fid`
    * (write stat path without the `.log.` infix) — the expected visible
    * slice version of a replaced group. Metadata-only: memoized commit
    * metadata, O(active timeline) per call, consulted only for
    * replacecommits.
    */
  private def latestActiveBaseWrite(hudi: HudiTable, fid: String, upTo: String): Option[String] = {
    import scala.jdk.CollectionConverters._
    hudi.timeline.completedInstants.reverseIterator
      .filter(i => i.timestamp <= upTo)
      .find { i =>
        val stats = hudi.timeline.commitMetadata(i).path("partitionToWriteStats")
        stats.isObject && stats.properties().asScala.exists(_.getValue.elements().asScala.exists {
          ws =>
            ws.path("fileId").asText("") == fid &&
              !ws.path("path").asText("").contains(".log.")
        })
      }
      .map(_.timestamp)
  }

  /** ONE distributed decode over every persisted `-cdc` sidecar the range
    * needs: one task per file, blocks filtered to the served commit set,
    * avro images aligned to the cdc schema by field name. No sidecar
    * bytes ever move through the driver, and IO is exactly the cdc bytes.
    */
  private def persistedBlocksDf(
      spark: SparkSession,
      basePath: String,
      relPaths: Vector[String],
      commits: Set[String],
      schema: StructType,
      // true → append a `__cdcpart` column holding each sidecar's
      // PARTITION PATH (its parent dir): the partial data_before join
      // must qualify on it, or a record key living in two covered
      // partitions would cross-pair before/after images
      withPartition: Boolean = false): DataFrame = {
    val conf = new SerializableConf(spark.sessionState.newHadoopConf())
    val rels = relPaths.distinct
    val parallelism = math.min(rels.size, spark.sparkContext.defaultParallelism * 2)
    val schemaJson = schema.json
    val base = basePath
    val rdd = spark.sparkContext.parallelize(rels, math.max(parallelism, 1)).flatMap { rel =>
      val target =
        org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val part = rel.lastIndexOf('/') match {
        case -1 => ""
        case i => rel.substring(0, i)
      }
      val bytes = graft.util.ReadFully(new Path(s"$base/$rel"), conf.value)
      LogFileParser.parse(bytes, InstantRange.all).iterator
        .filter(b => b.blockType == LogFormat.CdcDataBlock && commits.contains(b.instantTime))
        .flatMap(RowAlign.blockRows(_, target))
        .map(r => if (withPartition) Row.fromSeq(r.toSeq :+ part) else r)
    }
    val outSchema =
      if (withPartition) StructType(schema.fields :+ StructField("__cdcpart", StringType))
      else schema
    spark.createDataFrame(rdd, outSchema)
  }
}
