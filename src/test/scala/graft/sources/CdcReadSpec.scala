package graft.sources

import graft.SparkTestBase
import graft.core.Timestamps
import graft.fixtures.HudiFixtureBuilder
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Inferred CDC (upstream's `cdc` incremental format): per-commit
  * (op, ts_ms, before, after) image rows from file-group diffs, checked
  * against the fixtures' known transformations of the source orders
  * table (updates %7 → status 'U' at T2, deletes %97 at T3).
  */
class CdcReadSpec extends SparkTestBase {

  import HudiFixtureBuilder.{T1, T2, T3}

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  /** Fresh metadata-only fixture dir under target/hudi-fixtures plus a
    * text writer bound to it — the shared scaffolding of the refusal and
    * planning tests.
    */
  private def freshMetaTable(name: String): (org.apache.hadoop.fs.Path,
      org.apache.hadoop.fs.FileSystem, (String, String) => Unit) = {
    val base = new org.apache.hadoop.fs.Path(
      graft.fixtures.HudiFixtureBuilder.targetPath(s"hudi-fixtures/$name"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(base, true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(base, ".hoodie"))
    val writeText = (n: String, body: String) => {
      val out = fs.create(new org.apache.hadoop.fs.Path(base, n), true)
      out.write(body.getBytes("UTF-8")); out.close()
    }
    (base, fs, writeText)
  }

  test("COW rewrite commit infers exactly the updated rows as 'u'") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val cdc = CdcRead.changes(spark, HudiFixtureBuilder.cowPath(sfDir), Some(T1), Some(T2))
      .select(col("op"), col("ts_ms"),
        col("before.o_orderkey").as("k"),
        col("before.o_orderstatus").as("bs"), col("after.o_orderstatus").as("as"))
      .collect()
    val expected = orders().filter(col("o_orderkey") % 7 === 0)
      .select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cdc.length == expected.size, s"one 'u' per %7 key, got ${cdc.length}")
    val tsMs = Timestamps.timelineToEpochMillis(T2).toString
    cdc.foreach { r =>
      assert(r.getString(0) == "u" && r.getString(1) == tsMs)
      assert(r.getString(3) == expected(r.getLong(2)), s"before image wrong for $r")
      assert(r.getString(4) == "U", s"after image wrong for $r")
    }
  }

  test("MOR range (T1, T3] infers per-commit updates then deletes") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val cdc = CdcRead.changes(spark, HudiFixtureBuilder.morPath(sfDir), Some(T1), Some(T3))
    val byOp = cdc.groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nUpd = orders().filter(col("o_orderkey") % 7 === 0).count()
    val nDel = orders().filter(col("o_orderkey") % 97 === 0).count()
    assert(byOp.getOrElse("u", 0L) == nUpd && byOp.getOrElse("d", 0L) == nDel &&
      !byOp.contains("i"), s"ops: $byOp, expected u=$nUpd d=$nDel")
    // delete rows: before image is the state AS OF T2 (so a %7 key
    // deleted at T3 shows the T2 update in its before image), after null
    val dels = cdc.filter(col("op") === "d")
      .select(col("ts_ms"), col("before.o_orderkey").as("k"),
        col("before.o_orderstatus").as("bs"), col("after"))
      .collect()
    val t3Ms = Timestamps.timelineToEpochMillis(T3).toString
    dels.foreach { r =>
      assert(r.getString(0) == t3Ms)
      assert(r.isNullAt(3), s"delete must carry no after image: $r")
      val k = r.getLong(1)
      val origStatus = orders().filter(col("o_orderkey") === k)
        .head.getAs[String]("o_orderstatus")
      val exp = if (k % 7 == 0) "U" else origStatus
      assert(r.getString(2) == exp, s"before image of deleted key $k: $r, expected $exp")
    }
  }

  test("earliest start: the insert commit emits every row as 'i'") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val cdc = CdcRead.changes(spark, HudiFixtureBuilder.cowPath(sfDir), None, Some(T1))
    val n = orders().count()
    val rows = cdc.groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("i" -> n), s"T1 must be all-inserts: $rows")
    // insert images: before null, after populated
    val one = cdc.limit(1).collect()(0)
    assert(one.isNullAt(2) && !one.isNullAt(3))
  }

  test("base-less log-only group: births, updates, and the delete-vs-update tiebreak") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    // mor_log_only: T1 base group (%3=0); T2 births group 1 as a LOG file
    // (%3=1 inserts, no base); T3 logs updates (%5=0 → 'U') and deletes
    // (%11=0) on it — a same-commit equal-ordering delete does NOT win
    // over the update, so %55 keys stay updates
    val cdc = CdcRead.changes(spark, HudiFixtureBuilder.morLogOnlyPath(sfDir),
      Some(T1), Some(T3)).collect()
    val g1 = orders().filter(col("o_orderkey") % 3 === 1)
    val nIns = g1.count().toInt
    val nUpd = g1.filter(col("o_orderkey") % 5 === 0).count().toInt
    val nDel = g1.filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") % 5 =!= 0)
      .count().toInt
    val t2 = Timestamps.timelineToEpochMillis(T2).toString
    val t3 = Timestamps.timelineToEpochMillis(T3).toString
    val byOpTs = cdc.groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, v) => k -> v.length }
    assert(byOpTs == Map(("i", t2) -> nIns, ("u", t3) -> nUpd, ("d", t3) -> nDel),
      s"got $byOpTs, expected i@T2=$nIns u@T3=$nUpd d@T3=$nDel")
    // the births carry no before image (the group did not exist at T1)
    assert(cdc.filter(_.getString(0) == "i").forall(_.isNullAt(2)))
  }

  test("the TVF 'cdc' mode expands to the inferred feed") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    HudiTableChanges.register(spark)
    val p = HudiFixtureBuilder.cowPath(sfDir)
    val viaSql = spark.sql(
      s"SELECT op, before.o_orderkey AS k, after.o_orderstatus AS s " +
        s"FROM hudi_table_changes('$p', 'cdc', '$T1', '$T2') ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val direct = CdcRead.changes(spark, p, Some(T1), Some(T2))
      .select(col("op"), col("before.o_orderkey").as("k"), col("after.o_orderstatus").as("s"))
      .orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(viaSql.nonEmpty && viaSql.sameElements(direct))
  }

  test("differential: per-commit CDC equals the table-wide snapshot diff") {
    // an INDEPENDENT formulation: for every adjacent commit pair of every
    // orders fixture, the group-restricted per-commit diff must equal the
    // diff of two UNRESTRICTED snapshots — i = new keys, d = vanished
    // keys, u = surviving keys stamped by the commit. Catches a
    // restriction that silently drops touched groups, join-key bugs, and
    // stamp-filter regressions in one sweep. (The clustered fixture's
    // CLUSTER replace is skipped by CDC and changes no keys or stamps, so
    // both sides agree on empty.)
    HudiFixtureBuilder.ensure(spark, sfDir)
    val paths = Seq(HudiFixtureBuilder.cowPath(sfDir), HudiFixtureBuilder.morPath(sfDir),
      HudiFixtureBuilder.morLogOnlyPath(sfDir), HudiFixtureBuilder.clusteredPath(sfDir),
      HudiFixtureBuilder.overwritePath(sfDir))
    for (path <- paths) {
      val t = graft.table.HudiTable(spark, path)
      val ts = t.timeline.completedInstants.map(_.timestamp).distinct.sorted
      for ((p, c) <- ts.zip(ts.tail)) {
        val cdc = CdcRead.changes(spark, path, Some(p), Some(c))
          .select(col("op"),
            coalesce(col("after.o_orderkey"), col("before.o_orderkey")).as("k"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        val before = t.snapshot(asOf = Some(p))
          .select("_hoodie_record_key").collect().map(_.getString(0)).toSet
        val afterRows = t.snapshot(asOf = Some(c))
          .select("_hoodie_record_key", "_hoodie_commit_time").collect()
        val after = afterRows.map(_.getString(0)).toSet
        val expected: Set[(String, Long)] =
          (after -- before).map(k => ("i", k.toLong)) ++
            (before -- after).map(k => ("d", k.toLong)) ++
            afterRows.filter(r => r.getString(1) == c && before.contains(r.getString(0)))
              .map(r => ("u", r.getString(0).toLong)).toSet
        assert(cdc == expected,
          s"$path ($p, $c]: cdc-only=${(cdc -- expected).take(5)} " +
            s"diff-only=${(expected -- cdc).take(5)}")
      }
    }
  }

  /** Per-commit CDC vs the table-wide snapshot diff over real golden
    * bytes; returns the union of ops the table exercised.
    */
  private def realBytesDifferential(path: String, keyCol: String = "uuid"): Set[String] = {
    val t = graft.table.HudiTable(spark, path)
    val ts = t.timeline.completedInstants.map(_.timestamp).distinct.sorted
    assert(ts.size >= 2, s"multi-commit fixture expected at $path, got $ts")
    val ops = scala.collection.mutable.Set.empty[String]
    for ((p, c) <- ts.zip(ts.tail)) {
      val cdc = CdcRead.changes(spark, path, Some(p), Some(c))
        .select(col("op"),
          coalesce(col(s"after.$keyCol"), col(s"before.$keyCol")).cast("string").as("k"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val before = t.snapshot(asOf = Some(p))
        .select("_hoodie_record_key").collect().map(_.getString(0)).toSet
      val afterRows = t.snapshot(asOf = Some(c))
        .select("_hoodie_record_key", "_hoodie_commit_time").collect()
      val after = afterRows.map(_.getString(0)).toSet
      val expected: Set[(String, String)] =
        (after -- before).map(("i", _)) ++
          (before -- after).map(("d", _)) ++
          afterRows.filter(r => r.getString(1) == c && before.contains(r.getString(0)))
            .map(r => ("u", r.getString(0))).toSet
      assert(cdc == expected,
        s"$path ($p, $c]: cdc-only=${(cdc -- expected).take(5)} " +
          s"diff-only=${(expected -- cdc).take(5)}")
      ops ++= expected.map(_._1)
    }
    ops.toSet
  }

  test("real v8 MOR bytes: per-commit CDC equals the snapshot diff") {
    // the reference's golden v8 trips table (completion-time timeline,
    // avro update log blocks, a real delete block, write stats carrying
    // REAL prevCommit values — so the cleaner-horizon guard exercises
    // its covered path on real metadata, not the fixtures' 'null')
    val pOpt = graft.table.Fixtures.table(
      "quickstart_trips_table/mor/avro/v8_trips_8i3u1d.zip", "v8_trips_8i3u1d")
    assume(pOpt.isDefined)
    val ops = realBytesDifferential(pOpt.get)
    assert(ops.contains("u") && ops.contains("d"),
      s"the 8i3u1d fixture must exercise updates AND deletes, got $ops")
  }

  test("real v6 MOR bytes: per-commit CDC equals the snapshot diff") {
    // v6 request-time timeline: the update-only and delete-bearing trips
    // tables through the same differential
    val zips = Seq(
      ("quickstart_trips_table/mor/avro/v6_trips_8i1u.zip", "v6_trips_8i1u", Set("u")),
      ("quickstart_trips_table/mor/avro/v6_trips_8i3d.zip", "v6_trips_8i3d", Set("d")))
    var ran = false
    for ((zip, name, mustSee) <- zips) {
      graft.table.Fixtures.table(zip, name, s"cdc_$name").foreach { p =>
        ran = true
        val ops = realBytesDifferential(p)
        assert(mustSee.subsetOf(ops), s"$name must exercise $mustSee, got $ops")
      }
    }
    assume(ran)
  }

  test("real v9 overwrite bytes: the replace diff equals the snapshot diff") {
    // a REAL writer's full-table-overwrite replacecommit (v9 golden
    // fixture, avro commit metadata): the r13 replace path diffs the
    // REPLACED groups (before-image as of the predecessor) against the
    // new groups — the old keys surface as 'd', the overwrite's keys as
    // 'i', verified against the unrestricted snapshot diff per commit
    val zips = Seq(
      ("sample_table/cow/v9_txns_simple_overwrite.zip", "v9_overwrite_cdc"),
      // MOR variant: the replaced groups carry avro LOG files, so the
      // before-image read as of the predecessor exercises the merge
      ("sample_table/mor/avro/v9_txns_simple_overwrite.zip", "v9_overwrite_cdc_mor"))
    var ran = false
    for ((zip, dir) <- zips) {
      graft.table.Fixtures.table(zip, "v9_txns_simple_overwrite", dir).foreach { path =>
        ran = true
        val t = graft.table.HudiTable(spark, path)
        assume(t.timeline.completedInstants.exists(_.action == "replacecommit"))
        val ops = realBytesDifferential(path, keyCol = "txn_id")
        assert(ops.contains("d") && ops.contains("i"),
          s"$zip: a full-table overwrite must surface deletes of the replaced keys " +
            s"AND the new inserts, got $ops")
      }
    }
    assume(ran)
  }

  test("CDC over a LANCE MOR table: per-commit diffs equal the snapshot diff") {
    // the S7 × CDC composition: the per-commit before/after snapshot
    // reads ride the Lance reader (and its MOR merge) — the same
    // differential formulation as the parquet fixtures
    HudiFixtureBuilder.ensure(spark, sfDir)
    val ops = realBytesDifferential(
      HudiFixtureBuilder.morLancePath(sfDir), keyCol = "n_nationkey")
    assert(ops.nonEmpty, s"the lance MOR fixture must exercise changes, got $ops")
  }

  test("the option-route cdc format selector refuses with a pointer, never silently") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.cowPath(sfDir)
    // upstream's option spelling and the short one both refuse; serving
    // the plain row feed under them would hand ported queries different
    // columns with no error
    Seq("hoodie.datasource.query.incremental.format", "incremental.format").foreach { k =>
      val ex = intercept[Exception] {
        spark.read.format("hudi-graft").option("query.type", "incremental")
          .option(k, "cdc").load(p).collect()
      }
      assert(ex.getMessage.contains("hudi_table_changes"), s"$k: ${ex.getMessage}")
    }
    // latest_state (upstream's default) passes through; junk throws
    assert(spark.read.format("hudi-graft").option("query.type", "incremental")
      .option("incremental.format", "latest_state")
      .option("start.timestamp", T1).load(p).count() > 0)
    val bad = intercept[Exception] {
      spark.read.format("hudi-graft").option("query.type", "incremental")
        .option("incremental.format", "nonsense").load(p).collect()
    }
    assert(bad.getMessage.contains("unknown incremental.format"), bad.getMessage)
  }

  test("the Table API cdc() serves the same feed") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val t = graft.table.HudiTable(spark, HudiFixtureBuilder.cowPath(sfDir))
    val viaTable = t.cdc(Some(T1), Some(T2))
      .select(col("op"), col("before.o_orderkey").as("k")).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val direct = CdcRead.changes(spark, HudiFixtureBuilder.cowPath(sfDir), Some(T1), Some(T2))
      .select(col("op"), col("before.o_orderkey").as("k")).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(viaTable.nonEmpty && viaTable.sameElements(direct))
  }

  test("insert-overwrite: replaced-only keys are deletes with T1 before images") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val cdc = CdcRead.changes(spark, HudiFixtureBuilder.overwritePath(sfDir),
      Some(T1), Some(T2))
      .select(col("op"),
        coalesce(col("before.o_orderkey"), col("after.o_orderkey")).as("k"),
        col("before.o_orderstatus").as("bs"), col("after.o_orderstatus").as("as"))
      .collect()
    val src = orders().select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expDel = src.keySet.filter(_ % 3 == 0)
    val dels = cdc.filter(_.getString(0) == "d")
    val upds = cdc.filter(_.getString(0) == "u")
    assert(cdc.length == src.size && dels.map(_.getLong(1)).toSet == expDel,
      s"every key must surface: ${cdc.length} rows, ${dels.length} deletes")
    dels.foreach { r =>
      assert(r.getString(2) == src(r.getLong(1)) && r.isNullAt(3),
        s"delete before-image must be the T1 state: $r")
    }
    upds.foreach { r =>
      val k = r.getLong(1)
      val expAfter = if (k % 7 == 0) "V" else src(k)
      assert(r.getString(2) == src(k) && r.getString(3) == expAfter,
        s"update images wrong for $k: $r")
    }
  }

  test("delete_partition: the replaced group's keys surface as all-deletes") {
    // a replacecommit with EMPTY write stats and replaceFileIds naming one
    // of two groups — the degenerate overwrite (no after side): every key
    // of the replaced group is a 'd' with its T1 before-image, the other
    // group's keys are untouched
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.spark.sql.types._
    val (base, fs, writeText) = freshMetaTable("cdc_delpart")
    writeText(".hoodie/hoodie.properties",
      """hoodie.table.name=cdc_delpart
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=id
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val fileSchema = StructType(Seq(
      StructField("_hoodie_commit_time", StringType),
      StructField("_hoodie_commit_seqno", StringType),
      StructField("_hoodie_record_key", StringType),
      StructField("_hoodie_partition_path", StringType),
      StructField("_hoodie_file_name", StringType),
      StructField("id", IntegerType), StructField("v", StringType)))
    def writeGroup(fid: String, ids: Seq[Int]): String = {
      val name = s"${fid}_0-0-0_$T1.parquet"
      val rows = ids.map(i =>
        org.apache.spark.sql.Row(T1, s"${T1}_0_$i", i.toString, "", name, i, s"v$i"))
      val df = spark.createDataFrame(java.util.List.of(rows: _*), fileSchema)
      val tmp = new Path(base, s".tmp_$fid")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new Path(base, name)); fs.delete(tmp, true)
      name
    }
    val n0 = writeGroup("f0-0000", Seq(1, 2, 3))
    val n1 = writeGroup("f1-0000", Seq(10, 11))
    val avro = graft.log.SparkToAvro.toAvroSchema(
      StructType(Seq(StructField("id", IntegerType), StructField("v", StringType))), "r").toString
    val esc = avro.replace("\\", "\\\\").replace("\"", "\\\"")
    writeText(s".hoodie/$T1.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0-0000","path":"$n0","partitionPath":""},""" +
        s"""{"fileId":"f1-0000","path":"$n1","partitionPath":""}]},""" +
        s""""extraMetadata":{"schema":"$esc"},"compacted":false,"operationType":"UPSERT"}""")
    writeText(s".hoodie/$T2.replacecommit",
      s"""{"partitionToWriteStats":{},"partitionToReplaceFileIds":{"":["f0-0000"]},""" +
        """"compacted":false,"operationType":"DELETE_PARTITION"}""")

    val cdc = CdcRead.changes(spark, base.toString, Some(T1), Some(T2))
      .select(col("op"), col("before.id").as("id"), col("before.v").as("bv"), col("after"))
      .collect()
    assert(cdc.length == 3 && cdc.forall(_.getString(0) == "d"),
      s"exactly the replaced group's 3 keys as deletes: ${cdc.mkString(", ")}")
    assert(cdc.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
    cdc.foreach { r =>
      assert(r.getString(2) == s"v${r.getInt(1)}" && r.isNullAt(3),
        s"before-image must be the T1 state, after null: $r")
    }
    // and the post-replace snapshot serves only the surviving group (R4)
    val snap = spark.read.format("hudi-graft").load(base.toString)
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(snap == Seq(10, 11))
  }

  test("a 200-commit CDC range PLANS without analyzer blowup (backfill replay)") {
    // metadata-only table (no data files — planning never reads them):
    // 200 fresh-group commits, one changes() call over the whole range.
    // The per-commit diffs union through BalancedUnion, so the analyzed
    // plan's depth stays logarithmic and the driver neither stack-
    // overflows nor quadratically re-analyzes a left-deep chain. This is
    // the end-to-end form of BalancedUnionSpec's bound.
    import org.apache.hadoop.fs.{FileSystem, Path}
    val (base, fs, writeText) = freshMetaTable("cdc_manycommits")
    writeText(".hoodie/hoodie.properties",
      """hoodie.table.name=cdc_manycommits
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=v
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"v","type":["long","null"]}]}"""
        .replace("\"", "\\\"")
    val nCommits = 200
    for (i <- 1 to nCommits) {
      val ts = f"20240101${i}%09d"
      // empty placeholder base file: fresh-group commits serve one-sided
      // and their guard verifies the file EXISTS as of the commit
      // (planning never reads its bytes)
      fs.create(new Path(base, s"g$i-0_0-0-0_$ts.parquet"), true).close()
      writeText(s".hoodie/$ts.commit",
        s"""{"partitionToWriteStats":{"":[{"fileId":"g$i-0","path":"g$i-0_0-0-0_$ts.parquet","partitionPath":"","prevCommit":"null"}]},""" +
          s""""extraMetadata":{"schema":"$schema"},"compacted":false,"operationType":"UPSERT"}""")
    }
    val t0 = System.nanoTime()
    val feed = CdcRead.changes(spark, base.toString, None, None)
    val analyzed = feed.queryExecution.analyzed // forces full analysis
    val secs = (System.nanoTime() - t0) / 1e9
    assert(analyzed != null && feed.schema.fieldNames.toSeq ==
      Seq("op", "ts_ms", "before", "after"))
    // depth bound: ceil(log2(200)) union levels over per-commit subtrees,
    // nowhere near the 200-deep left chain the old reduce built
    def depth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      if (p.children.isEmpty) 1 else 1 + p.children.map(depth).max
    val d = depth(analyzed)
    assert(d < 80, s"analyzed plan depth $d — the union tree must stay logarithmic")
    assert(secs < 120, s"planning a 200-commit range took ${secs}s — pathological")
  }

  test("CHAINED insert-overwrites: each diff resolves against the previous overwrite") {
    // the daily-backfill pattern — a partition overwritten at T2 and
    // AGAIN at T3: T3's before-image must be T2's NEW group (not T1's
    // original), so per-commit predecessor resolution works when the
    // replaced groups are themselves a previous replace's output
    import org.apache.spark.sql.types._
    val (base, fs, writeText) = freshMetaTable("cdc_chained_ow")
    writeText(".hoodie/hoodie.properties",
      """hoodie.table.name=cdc_chained_ow
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=id
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val fileSchema = StructType(Seq(
      StructField("_hoodie_commit_time", StringType),
      StructField("_hoodie_commit_seqno", StringType),
      StructField("_hoodie_record_key", StringType),
      StructField("_hoodie_partition_path", StringType),
      StructField("_hoodie_file_name", StringType),
      StructField("id", IntegerType), StructField("v", StringType)))
    def writeGroup(fid: String, ts: String, rowsSpec: Seq[(Int, String)]): String = {
      val name = s"${fid}_0-0-0_$ts.parquet"
      val rows = rowsSpec.map { case (i, v) =>
        org.apache.spark.sql.Row(ts, s"${ts}_0_$i", i.toString, "", name, i, v)
      }
      val df = spark.createDataFrame(java.util.List.of(rows: _*), fileSchema)
      val tmp = new org.apache.hadoop.fs.Path(base, s".tmp_$fid")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(base, name)); fs.delete(tmp, true)
      name
    }
    val avro = graft.log.SparkToAvro.toAvroSchema(
      StructType(Seq(StructField("id", IntegerType), StructField("v", StringType))), "r").toString
    val esc = avro.replace("\\", "\\\\").replace("\"", "\\\"")
    val n0 = writeGroup("f0-0000", T1, Seq(1 -> "A", 2 -> "A", 3 -> "A", 4 -> "A"))
    writeText(s".hoodie/$T1.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0-0000","path":"$n0","partitionPath":""}]},""" +
        s""""extraMetadata":{"schema":"$esc"},"compacted":false,"operationType":"UPSERT"}""")
    val n1 = writeGroup("f1-0000", T2, Seq(1 -> "B", 2 -> "B", 3 -> "B")) // key 4 dropped
    writeText(s".hoodie/$T2.replacecommit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f1-0000","path":"$n1","partitionPath":"","prevCommit":"null"}]},""" +
        s""""partitionToReplaceFileIds":{"":["f0-0000"]},""" +
        """"compacted":false,"operationType":"INSERT_OVERWRITE"}""")
    val n2 = writeGroup("f2-0000", T3, Seq(1 -> "C", 2 -> "C", 5 -> "C")) // key 3 dropped, 5 born
    writeText(s".hoodie/$T3.replacecommit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f2-0000","path":"$n2","partitionPath":"","prevCommit":"null"}]},""" +
        s""""partitionToReplaceFileIds":{"":["f1-0000"]},""" +
        """"compacted":false,"operationType":"INSERT_OVERWRITE"}""")

    val cdc = CdcRead.changes(spark, base.toString, Some(T1), Some(T3))
      .select(col("op"), col("ts_ms"),
        coalesce(col("after.id"), col("before.id")).as("id"),
        col("before.v").as("bv"), col("after.v").as("av"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        Option(r.getString(3)), Option(r.getString(4)))).toSet
    val t2ms = Timestamps.timelineToEpochMillis(T2).toString
    val t3ms = Timestamps.timelineToEpochMillis(T3).toString
    val expected = Set(
      ("u", t2ms, 1, Some("A"), Some("B")),
      ("u", t2ms, 2, Some("A"), Some("B")),
      ("u", t2ms, 3, Some("A"), Some("B")),
      ("d", t2ms, 4, Some("A"), None),
      // T3's before-images are T2's 'B' state — an implementation that
      // resolved against T1 would read 'A' here and hash-differ
      ("u", t3ms, 1, Some("B"), Some("C")),
      ("u", t3ms, 2, Some("B"), Some("C")),
      ("d", t3ms, 3, Some("B"), None),
      ("i", t3ms, 5, None, Some("C")))
    assert(cdc == expected,
      s"cdc-only=${(cdc -- expected).toSeq.sortBy(_._3)} missing=${(expected -- cdc).toSeq.sortBy(_._3)}")
  }

  test("a pure-clustering replacecommit is skipped: no logical change") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.clusteredPath(sfDir)
    // (T2, T3] holds ONLY the CLUSTER replacecommit — an empty feed, not
    // a wall of spurious 'i' rows from the rewritten group
    val t2t3 = CdcRead.changes(spark, p,
      Some(HudiFixtureBuilder.T2), Some(HudiFixtureBuilder.T3))
    assert(t2t3.count() == 0, "clustering changes no logical rows")
    // and the update commit before it still infers normally
    val t1t2 = CdcRead.changes(spark, p, Some(T1), Some(T2))
      .groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nUpd = orders().filter(col("o_orderkey") % 7 === 0).count()
    assert(t1t2 == Map("u" -> nUpd), s"clustered fixture T2 updates: $t1t2 vs u=$nUpd")
  }

  test("an insert-overwrite whose replaced groups are cleaned refuses loudly") {
    // metadata-only table: T2's replacecommit names f0 as replaced, but
    // no T1 base file for f0 exists on disk (the cleaner took it) — the
    // before-image of the overwrite's logical deletes is unresolvable,
    // so changes() must refuse at PLANNING, before any data read
    val (base, fs, writeText) = freshMetaTable("cdc_iow")
    writeText(".hoodie/hoodie.properties",
      """hoodie.table.name=cdc_iow
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=v
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"v","type":["long","null"]}]}"""
        .replace("\"", "\\\"")
    writeText(s".hoodie/$T1.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"x.parquet","partitionPath":""}]},"extraMetadata":{"schema":"$schema"},"compacted":false,"operationType":"UPSERT"}""")
    writeText(s".hoodie/$T2.replacecommit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f1","path":"y.parquet","partitionPath":""}]},"partitionToReplaceFileIds":{"":["f0"]},"compacted":false,"operationType":"INSERT_OVERWRITE"}""")
    // range starts AT T1 so the replacecommit's own guard is what fires
    // (a None start would trip the insert-only cleaned-files guard on T1
    // first — also correct, but not what this test pins)
    val ex = intercept[UnsupportedOperationException] {
      CdcRead.changes(spark, base.toString, Some(T1), None)
    }
    assert(ex.getMessage.contains("f0") && ex.getMessage.contains("no longer exist"),
      ex.getMessage)
  }

  test("a replacecommit with NO partitionToReplaceFileIds field refuses loudly") {
    // corrupt/unknown-writer metadata: treating a field-less non-clustering
    // replacecommit as replacing nothing would silently drop its logical
    // deletes — must refuse at planning
    val (base, fs, writeText) = freshMetaTable("cdc_norep")
    writeText(".hoodie/hoodie.properties",
      """hoodie.table.name=cdc_norep
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=v
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"v","type":["long","null"]}]}"""
        .replace("\"", "\\\"")
    writeText(s".hoodie/$T1.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"x.parquet","partitionPath":""}]},"extraMetadata":{"schema":"$schema"},"compacted":false,"operationType":"UPSERT"}""")
    writeText(s".hoodie/$T2.replacecommit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f1","path":"y.parquet","partitionPath":""}]},"compacted":false,"operationType":"INSERT_OVERWRITE"}""")
    val ex = intercept[UnsupportedOperationException] {
      CdcRead.changes(spark, base.toString, Some(T1), Some(T2))
    }
    assert(ex.getMessage.contains("partitionToReplaceFileIds"), ex.getMessage)
  }

  test("cleaner-horizon guard: a rewritten group with no before slice refuses") {
    // metadata-only table: T1 creates group f0, T2 rewrites it with
    // prevCommit=T1 recorded — but no T1 file survives on disk (the
    // cleaner took it), so the before image is unresolvable and the diff
    // would misreport T2's updates as inserts. Must refuse at planning.
    val (base, fs, writeText) = freshMetaTable("cdc_cleaned")
    writeText(".hoodie/hoodie.properties",
      """hoodie.table.name=cdc_cleaned
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=v
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"v","type":["long","null"]}]}"""
        .replace("\"", "\\\"")
    writeText(s".hoodie/$T1.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"a.parquet","partitionPath":"","prevCommit":"null"}]},"extraMetadata":{"schema":"$schema"},"compacted":false,"operationType":"UPSERT"}""")
    writeText(s".hoodie/$T2.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"b.parquet","partitionPath":"","prevCommit":"$T1"}]},"compacted":false,"operationType":"UPSERT"}""")
    val ex = intercept[UnsupportedOperationException] {
      CdcRead.changes(spark, base.toString, Some(T1), Some(T2))
    }
    assert(ex.getMessage.contains("f0") && ex.getMessage.contains("no longer exist"),
      ex.getMessage)
  }

  test("savepoint-stale guard: a retained OLD slice must not serve as a before image") {
    // T1 writes f0 (file RETAINED by a savepoint), T2 rewrites it (file
    // CLEANED), T3 rewrites again (file present, prevCommit=T2). As of
    // T3's predecessor the fs view still SHOWS f0 — at version T1, two
    // generations stale. An existence-only check would pass and the
    // before read would silently serve T1 rows as the T2 state; the
    // guard must compare the visible slice VERSION against the recorded
    // prevCommit and refuse.
    val (base, fs, writeText) = freshMetaTable("cdc_savepoint")
    writeText(".hoodie/hoodie.properties",
      """hoodie.table.name=cdc_savepoint
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=v
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"v","type":["long","null"]}]}"""
        .replace("\"", "\\\"")
    // guard fires at PLANNING, before any data read — empty placeholder
    // files give the fs view real names/sizes to list
    fs.create(new org.apache.hadoop.fs.Path(base, s"f0_0-0-0_$T1.parquet"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(base, s"f0_0-0-0_$T3.parquet"), true).close()
    writeText(s".hoodie/$T1.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"f0_0-0-0_$T1.parquet","partitionPath":"","prevCommit":"null"}]},"extraMetadata":{"schema":"$schema"},"compacted":false,"operationType":"UPSERT"}""")
    writeText(s".hoodie/$T2.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"f0_0-0-0_$T2.parquet","partitionPath":"","prevCommit":"$T1"}]},"compacted":false,"operationType":"UPSERT"}""")
    writeText(s".hoodie/$T3.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"f0_0-0-0_$T3.parquet","partitionPath":"","prevCommit":"$T2"}]},"compacted":false,"operationType":"UPSERT"}""")
    val ex = intercept[UnsupportedOperationException] {
      CdcRead.changes(spark, base.toString, Some(T2), Some(T3))
    }
    assert(ex.getMessage.contains("OLDER versions") && ex.getMessage.contains("f0"),
      ex.getMessage)
    assert(ex.getMessage.contains(T2) && ex.getMessage.contains(T1),
      s"the refusal must name both the expected and the visible version: ${ex.getMessage}")
  }

  test("savepoint-stale guard also covers REPLACED groups (no recorded prevCommit)") {
    // Same layout, but the final commit is an insert-overwrite REPLACING
    // f0: replace metadata records no prevCommit, so the expected
    // version comes from the latest ACTIVE base write ≤ the predecessor
    // (T2) — the visible T1 slice is stale and must refuse.
    val (base, fs, writeText) = freshMetaTable("cdc_savepoint_rep")
    writeText(".hoodie/hoodie.properties",
      """hoodie.table.name=cdc_savepoint_rep
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=v
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"v","type":["long","null"]}]}"""
        .replace("\"", "\\\"")
    fs.create(new org.apache.hadoop.fs.Path(base, s"f0_0-0-0_$T1.parquet"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(base, s"f1_0-0-0_$T3.parquet"), true).close()
    writeText(s".hoodie/$T1.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"f0_0-0-0_$T1.parquet","partitionPath":"","prevCommit":"null"}]},"extraMetadata":{"schema":"$schema"},"compacted":false,"operationType":"UPSERT"}""")
    writeText(s".hoodie/$T2.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"f0_0-0-0_$T2.parquet","partitionPath":"","prevCommit":"$T1"}]},"compacted":false,"operationType":"UPSERT"}""")
    writeText(s".hoodie/$T3.replacecommit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f1","path":"f1_0-0-0_$T3.parquet","partitionPath":"","prevCommit":"null"}]},"partitionToReplaceFileIds":{"":["f0"]},"compacted":false,"operationType":"INSERT_OVERWRITE"}""")
    val ex = intercept[UnsupportedOperationException] {
      CdcRead.changes(spark, base.toString, Some(T2), Some(T3))
    }
    assert(ex.getMessage.contains("OLDER versions") && ex.getMessage.contains("f0"),
      ex.getMessage)
  }

  test("a prevCommit-less oldest commit with ARCHIVED history must not serve as inserts") {
    // degenerate metadata (prevCommit "null" on a rewrite) plus an
    // archived predecessor: the fs view as of the (nonexistent) active
    // predecessor is VACUOUSLY empty, so a naive freshness test would
    // route the commit through the one-sided 'i' path — updates would
    // surface as inserts and deletes vanish. The archived-predecessor
    // refusal must fire instead.
    val (base, fs, writeText) = freshMetaTable("cdc_archived_fresh")
    writeText(".hoodie/hoodie.properties",
      """hoodie.table.name=cdc_archived_fresh
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=v
        |hoodie.internal.timeline.archived.enabled=true
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"v","type":["long","null"]}]}"""
        .replace("\"", "\\\"")
    fs.create(new org.apache.hadoop.fs.Path(base, s"f0_0-0-0_$T2.parquet"), true).close()
    writeText(s".hoodie/$T2.commit",
      s"""{"partitionToWriteStats":{"":[{"fileId":"f0","path":"f0_0-0-0_$T2.parquet","partitionPath":"","prevCommit":"null"}]},"extraMetadata":{"schema":"$schema"},"compacted":false,"operationType":"UPSERT"}""")
    fs.mkdirs(new org.apache.hadoop.fs.Path(base, ".hoodie/archived"))
    writeText(s".hoodie/archived/$T1.commit", "{}")
    val ex = intercept[UnsupportedOperationException] {
      CdcRead.changes(spark, base.toString, None, Some(T2))
    }
    assert(ex.getMessage.contains("archived"), ex.getMessage)
  }

  test("populate.meta.fields=false refuses: the inference keys on meta columns") {
    val base = new org.apache.hadoop.fs.Path(
      graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/cdc_nometa"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(base, true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(base, ".hoodie"))
    val out = fs.create(new org.apache.hadoop.fs.Path(base, ".hoodie/hoodie.properties"), true)
    out.write(
      """hoodie.table.name=cdc_nometa
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.populate.meta.fields=false
        |""".stripMargin.getBytes("UTF-8"))
    out.close()
    val ex = intercept[UnsupportedOperationException] {
      CdcRead.changes(spark, base.toString, None, None)
    }
    assert(ex.getMessage.contains("populate.meta.fields"))
  }

  test("cdc.file.groups restricts the plan and stands down aggregate pushdown") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.cowPath(sfDir)
    val all = spark.read.format("hudi-graft").load(p)
    // every fileId, via the planned-slices debug surface: read one group
    val t = graft.table.HudiTable(spark, p)
    val oneGroup = t.fileSlicesDf().select("file_id").distinct().head.getString(0)
    val restricted = spark.read.format("hudi-graft")
      .option("cdc.file.groups", oneGroup).load(p)
    assert(restricted.count() < all.count() && restricted.count() > 0)
    // the restriction bounds PLANNED IO, not just returned rows: exactly
    // the one group's slice survives planning (leading space so "11
    // slices" can never satisfy the assertion)
    assert(restricted.queryExecution.executedPlan.toString().contains(" 1 slices"),
      s"one-group restriction must plan 1 slice: ${restricted.queryExecution.executedPlan}")
    // aggregate pushdown must NOT serve a metadata answer over a
    // restricted plan (it plans the full slice set)
    val agg = restricted.agg(count(col("*")).as("n"))
    assert(!agg.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"restricted plan must not push aggregates: ${agg.queryExecution.executedPlan}")
    assert(agg.head.getLong(0) == restricted.count())
  }
}
