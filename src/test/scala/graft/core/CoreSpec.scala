package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Unit matrix for the driver-side metadata layer: instant filename
  * parsing (reference cases: crates/core/src/timeline/instant.rs:315+),
  * timestamp normalization (docs/reader-spec.md:311-319,
  * timeline/util.rs:86-98), hoodie.properties accessors.
  */
class CoreSpec extends AnyFunSuite {

  // --- HoodieInstant.parse -----------------------------------------------
  test("parse v6 completed commit") {
    val i = HoodieInstant.parse("20240418172802262.commit").get
    assert(i.timestamp == "20240418172802262")
    assert(i.action == "commit" && i.isCompleted)
    assert(i.completionTimestamp.isEmpty)
  }

  test("parse v6 14-digit second-precision timestamp") {
    val i = HoodieInstant.parse("20240418172802.commit").get
    assert(i.timestamp == "20240418172802" && i.isCompleted)
  }

  test("parse v8 completed deltacommit with completion ts") {
    val i = HoodieInstant.parse("20251220210108078_20251220210109593.deltacommit").get
    assert(i.timestamp == "20251220210108078")
    assert(i.completionTimestamp.contains("20251220210109593"))
    assert(i.action == "deltacommit" && i.isCompleted)
  }

  test("parse states: requested / inflight are not completed") {
    val req = HoodieInstant.parse("20240418172802262.commit.requested").get
    assert(req.state == HoodieInstant.Requested && !req.isCompleted)
    val inf = HoodieInstant.parse("20240418172802262.inflight").get
    assert(inf.state == HoodieInstant.Inflight && inf.action == "commit")
    val dcInf = HoodieInstant.parse("20240418172802262.deltacommit.inflight").get
    assert(dcInf.state == HoodieInstant.Inflight && dcInf.action == "deltacommit")
  }

  test("non-loadable actions and junk are rejected") {
    assert(HoodieInstant.parse("20251220210117766_20251220210118628.indexing").isEmpty)
    assert(HoodieInstant.parse("20251220210129235.compaction.requested").isEmpty)
    assert(HoodieInstant.parse("hoodie.properties").isEmpty)
    assert(HoodieInstant.parse("archived").isEmpty)
    assert(HoodieInstant.parse(".commit").isEmpty)
    assert(HoodieInstant.parse("notatimestamp.commit").isEmpty)
  }

  test("replacecommit parses") {
    val i = HoodieInstant.parse("20240418172802262.replacecommit").get
    assert(i.action == "replacecommit" && i.isCompleted)
  }

  test("instant fileName round-trips") {
    val names = Seq(
      "20240418172802262.commit",
      "20251220210108078_20251220210109593.deltacommit",
      "20240418172802262.commit.requested",
      "20240418172802262.deltacommit.inflight")
    for (n <- names) assert(HoodieInstant.parse(n).get.fileName == n)
  }

  test("parseAny reads every action and state; parse keeps only loadable ones") {
    val c = HoodieInstant.parseAny("20251220210129235.compaction.requested").get
    assert(c.action == "compaction" && c.state == HoodieInstant.Requested)
    val rb = HoodieInstant.parseAny("20251220210117766_20251220210118628.rollback").get
    assert(rb.action == "rollback" && rb.isCompleted &&
      rb.completionTimestamp.contains("20251220210118628"))
    for (junk <- Seq("hoodie.properties", ".20240418172802262.commit.crc",
        "20240418172802262.commit.crc", "20240418172802262..inflight",
        "20240418172802262_20240418172802263.commit.inflight"))
      assert(HoodieInstant.parseAny(junk).isEmpty, junk)
  }

  // --- the write side: Timeline.begin / Pending.complete -------------------

  private def emptyTable(name: String, props: String): (String, java.nio.file.Path) = {
    val base = graft.fixtures.HudiFixtureBuilder.targetPath(s"fixtures/$name")
    val b = new org.apache.hadoop.fs.Path(base)
    val fs = b.getFileSystem(conf)
    fs.delete(b, true)
    val o = fs.create(new org.apache.hadoop.fs.Path(b, ".hoodie/hoodie.properties"), true)
    o.write(s"hoodie.table.name=t\nhoodie.table.type=MERGE_ON_READ\n$props".getBytes("UTF-8"))
    o.close()
    (base, java.nio.file.Paths.get(base))
  }

  test("every (action, state) the writers emit round-trips through fileName and the parse") {
    val actions = Seq("commit", "deltacommit", "replacecommit", "compaction", "clean", "savepoint")
    for ((version, dir) <- Seq(6 -> ".hoodie", 8 -> ".hoodie/timeline")) {
      val (base, local) = emptyTable(s"codec_v$version", s"hoodie.table.version=$version\n")
      val cfg = HoodieConfig.load(base, conf)
      val t0 = new Timeline(base, cfg, conf)
      val stamps = actions.zipWithIndex.map { case (a, i) => a -> f"20240101000000$i%03d" }.toMap
      val done = actions.map(a => a -> t0.begin(a, stamps(a), s"plan-$a").complete(s"body-$a")).toMap
      def read(n: String) = new String(java.nio.file.Files.readAllBytes(local.resolve(s"$dir/$n")))
      val t = new Timeline(base, cfg, conf)
      assert(t.instants.size == 3 * actions.size, t.instants.mkString("\n"))
      for (a <- actions; ts = stamps(a)) {
        val completedAs = if (a == "compaction") "commit" else a
        val names = Seq(s"$ts.$a.requested", s"$ts.$a.inflight", done(a).fileName)
        if (version == 6) assert(done(a).fileName == s"$ts.$completedAs", done(a))
        else assert(done(a).fileName.matches(s"${ts}_\\d{17}\\.$completedAs"), done(a))
        for (n <- names) {
          val i = HoodieInstant.parseAny(n).get
          assert(i.fileName == n && i.timestamp == ts, n)
          assert(t.instants.contains(i), s"$n not listed")
        }
        assert(read(names(0)) == s"plan-$a" && read(names(1)).isEmpty && read(names(2)) == s"body-$a")
      }
      assert(t.completedInstants.map(_.action) ==
        Vector("commit", "deltacommit", "replacecommit", "commit"))
      assert(t.pendingInstants.isEmpty && t.savepointTimestamps == Vector(stamps("savepoint")))
    }
  }

  test("pending instants match on (ts, action); a commit discharges compaction markers") {
    val (base, local) = emptyTable("codec_pending", "hoodie.table.version=6\n")
    val names = Seq(
      // a completed deltacommit at ts does not excuse an inflight commit at ts
      "20240101000000001.deltacommit", "20240101000000001.commit.inflight",
      // compaction markers are discharged by the `commit` it completes as
      "20240101000000002.compaction.requested", "20240101000000002.compaction.inflight",
      "20240101000000002.commit",
      // the bare v6 `{ts}.inflight` is a pending commit
      "20240101000000003.inflight",
      "20240101000000004.clean.requested", "20240101000000004.clean.inflight",
      "20240101000000004.clean",
      "20240101000000005.compaction.requested",
      "20240101000000006.rollback.requested", "20240101000000006.rollback.inflight")
    names.foreach(n => java.nio.file.Files.write(local.resolve(s".hoodie/$n"), Array.emptyByteArray))
    val t = new Timeline(base, HoodieConfig.load(base, conf), conf)
    assert(t.pendingInstants.map(i => s"${i.timestamp}.${i.action}") == Vector(
      "20240101000000001.commit", "20240101000000003.commit",
      "20240101000000005.compaction", "20240101000000006.rollback"))
    assert(t.rollbackLikeTimestamps == Vector("20240101000000006"))
    assert(t.completedInstants.map(_.timestamp) ==
      Vector("20240101000000001", "20240101000000002"))
  }

  // --- Timestamps --------------------------------------------------------
  test("normalize timeline formats") {
    assert(Timestamps.normalize("20240418172802") == "20240418172802000")
    assert(Timestamps.normalize("20240418172802262") == "20240418172802262")
  }

  test("normalize epoch by digit length (reference unit detection)") {
    // 10 digits: seconds
    assert(Timestamps.normalize("1713461282") == "20240418172802000")
    // 11 digits: millis (magnitude-based detection would say seconds)
    assert(Timestamps.normalize("17134612820") == "19700718073652820")
    // 13 digits: millis
    assert(Timestamps.normalize("1713461282262") == "20240418172802262")
    // 16 digits: micros
    assert(Timestamps.normalize("1713461282262123") == "20240418172802262")
    // 19 digits: nanos
    assert(Timestamps.normalize("1713461282262123456") == "20240418172802262")
  }

  test("normalize RFC3339 with offset; naive rejected") {
    assert(Timestamps.normalize("2024-04-18T17:28:02.262Z") == "20240418172802262")
    assert(Timestamps.normalize("2024-04-18T19:28:02.262+02:00") == "20240418172802262")
    intercept[Exception](Timestamps.normalize("2024-04-18T17:28:02"))
    intercept[Exception](Timestamps.normalize("2024-04-18"))
  }

  test("timelineToEpochMillis with epoch-millis fallback") {
    assert(Timestamps.timelineToEpochMillis("20240418172802262") == 1713461282262L)
    assert(Timestamps.timelineToEpochMillis("20240418172802") == 1713461282000L)
    // metadata-table bootstrap instant: not a datetime, read as epoch millis
    assert(Timestamps.timelineToEpochMillis("00000000000000000") == 0L)
  }

  // --- HoodieConfig ------------------------------------------------------
  private val v6Props = Map(
    "hoodie.table.name" -> "t",
    "hoodie.table.version" -> "6",
    "hoodie.table.type" -> "COPY_ON_WRITE",
    "hoodie.table.precombine.field" -> "longField",
    "hoodie.table.partition.fields" -> "byteField",
    "hoodie.table.recordkey.fields" -> "id",
    // stray key that must be ignored pre-v8:
    "hoodie.timeline.path" -> "timeline")

  test("timelinePath ignored for pre-v8, honored for v8+") {
    assert(HoodieConfig(v6Props).timelinePath == "")
    val v8 = HoodieConfig(v6Props + ("hoodie.table.version" -> "8"))
    assert(v8.timelinePath == "timeline")
    val v8default = HoodieConfig(v6Props + ("hoodie.table.version" -> "8") - "hoodie.timeline.path")
    assert(v8default.timelinePath == "timeline")
  }

  test("tableVersion is required") {
    intercept[IllegalArgumentException](HoodieConfig(Map("hoodie.table.name" -> "x")).tableVersion)
  }

  test("ordering fields fall back to deprecated precombine key") {
    assert(HoodieConfig(v6Props).orderingFields == Seq("longField"))
  }

  test("merge strategy defaulting rules") {
    assert(HoodieConfig(v6Props).recordMergeStrategy == "OVERWRITE_WITH_LATEST")
    val noOrdering = HoodieConfig(v6Props - "hoodie.table.precombine.field")
    assert(noOrdering.recordMergeStrategy == "APPEND_ONLY")
    val noMeta = HoodieConfig(v6Props + ("hoodie.populate.meta.fields" -> "false"))
    assert(noMeta.recordMergeStrategy == "APPEND_ONLY")
  }

  // ---- T4: archived timeline --------------------------------------------

  private val conf = new org.apache.hadoop.conf.Configuration()

  private def mkTimeline(base: String, props: String, archiveFiles: Seq[String] = Nil,
      manifest: Option[(Long, String)] = None): graft.core.Timeline = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val fs = FileSystem.get(conf)
    val b = new Path(base)
    fs.delete(b, true)
    fs.mkdirs(new Path(b, ".hoodie"))
    val o = fs.create(new Path(b, ".hoodie/hoodie.properties"), true)
    o.write(props.getBytes("UTF-8")); o.close()
    for (f <- archiveFiles) {
      val p = new Path(b, s".hoodie/archived/$f")
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true); out.write("{}".getBytes); out.close()
    }
    manifest.foreach { case (v, json) =>
      val dir = new Path(b, ".hoodie/timeline/history")
      fs.mkdirs(dir)
      val vf = fs.create(new Path(dir, "_version_"), true); vf.write(v.toString.getBytes); vf.close()
      val mf = fs.create(new Path(dir, s"manifest_$v"), true); mf.write(json.getBytes); mf.close()
    }
    val cfg = graft.core.HoodieConfig.load(base, conf)
    new graft.core.Timeline(base, cfg, conf)
  }

  test("archived instants load from the archive folder, double-gated (timeline/mod.rs:100-135)") {
    val base = graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/archived_v6")
    val props =
      """hoodie.table.name=a
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.internal.timeline.archived.enabled=true
        |""".stripMargin
    val t = mkTimeline(base, props,
      archiveFiles = Seq("20230101000000000.commit", "20230102000000000.commit", "junk.txt"))
    assert(t.archivedInstants.map(_.timestamp) ==
      Vector("20230101000000000", "20230102000000000"))
    // time-filtered selection includes archived history
    val sel = t.selectWithArchived(Set("commit"), start = Some("20230101000000000"))
    assert(sel.map(_.timestamp).contains("20230101000000000"))
    // no time filter -> active only (gate 1)
    assert(t.selectWithArchived(Set("commit")).isEmpty)
  }

  test("archived read disabled by default (gate 2, config/internal.rs:84)") {
    val base = graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/archived_v6_off")
    val props =
      """hoodie.table.name=a
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |""".stripMargin
    val t = mkTimeline(base, props, archiveFiles = Seq("20230101000000000.commit"))
    assert(!t.archivedReadEnabled)
    assert(t.selectWithArchived(Set("commit"), start = Some("20230101000000000")).isEmpty)
  }

  test("LSM history manifest reads _version_ then manifest_<v> (lsm_tree.rs:93-109)") {
    val base = graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/lsm_manifest")
    val props =
      """hoodie.table.name=a
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=8
        |""".stripMargin
    val json =
      """{"version": 3, "entries": [
        |  {"file_name": "0_1.parquet", "min_instant": "20230101000000000",
        |   "max_instant": "20230105000000000", "level": 0, "file_size": 1234}]}""".stripMargin
    val t = mkTimeline(base, props, manifest = Some((3L, json)))
    val m = t.readHistoryManifest().get
    assert(m.version == 3 && m.entries.size == 1)
    val e = m.entries.head
    assert(e.fileName == "0_1.parquet" && e.minInstant == "20230101000000000" &&
      e.maxInstant == "20230105000000000" && e.level == 0 && e.fileSize == 1234L)
    // manifest names a file that does not exist -> no instants, no error
    assert(t.archivedInstants.isEmpty)
  }

  /** Write one LSM history parquet data file with apache/hudi's
    * HoodieLSMTimelineInstant column layout.
    */
  private def writeLsmFile(dir: String, name: String, rows: Seq[(String, String, String)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message HoodieLSMTimelineInstant {
        |  optional binary instantTime (UTF8);
        |  optional binary completionTime (UTF8);
        |  optional binary action (UTF8);
        |  optional binary metadata;
        |  optional binary plan;
        |}""".stripMargin)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/$name"))
      .withConf(conf).withType(schema).build()
    try rows.foreach { case (ts, ct, act) =>
      val g = new SimpleGroup(schema)
      g.add("instantTime", ts); g.add("completionTime", ct); g.add("action", act)
      w.write(g)
    } finally w.close()
  }

  test("v8 LSM archived instants load from manifest data files (beyond loader.rs:256)") {
    val base = graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/lsm_data")
    val props =
      """hoodie.table.name=a
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=8
        |hoodie.internal.timeline.archived.enabled=true
        |""".stripMargin
    val json =
      """{"version": 1, "entries": [
        |  {"file_name": "0_1.parquet", "min_instant": "20230101000000000",
        |   "max_instant": "20230102000000000", "level": 0, "file_size": 1},
        |  {"file_name": "0_2.parquet", "min_instant": "20230201000000000",
        |   "max_instant": "20230202000000000", "level": 0, "file_size": 1}]}""".stripMargin
    val t = mkTimeline(base, props, manifest = Some((1L, json)))
    val hist = s"$base/.hoodie/timeline/history"
    writeLsmFile(hist, "0_1.parquet", Seq(
      ("20230101000000000", "20230101000001000", "commit"),
      ("20230102000000000", "20230102000001000", "commit")))
    writeLsmFile(hist, "0_2.parquet", Seq(
      ("20230201000000000", "20230201000001000", "commit")))
    // all archived instants decode, completed, with completion timestamps
    val all = t.archivedInstants
    assert(all.map(_.timestamp) ==
      Vector("20230101000000000", "20230102000000000", "20230201000000000"))
    assert(all.forall(i => i.isCompleted && i.completionTimestamp.isDefined))
    // double-gated selection merges archived history into the range
    val sel = t.selectWithArchived(Set("commit"),
      start = Some("20230101000000000"), end = Some("20230102000000000"))
    assert(sel.map(_.timestamp) ==
      Vector("20230101000000000", "20230102000000000"))
    // manifest min/max pruning: a range touching only the second file
    // must not need the first (delete it to prove the file is skipped)
    val fs = new org.apache.hadoop.fs.Path(hist).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(s"$hist/0_1.parquet"), false)
    val sel2 = t.selectWithArchived(Set("commit"),
      start = Some("20230201000000000"), end = None)
    assert(sel2.map(_.timestamp) == Vector("20230201000000000"))
  }

  test("completionTimeOf is first-wins for duplicate request timestamps") {
    // two completed instants sharing a request timestamp (commit +
    // replacecommit requested at the same instant time): the memoized map
    // must return the FIRST match in (timestamp, action) order — the
    // pre-memoization `completedInstants.find(...)` behavior — not the
    // last entry a plain .toMap would keep
    import org.apache.hadoop.fs.{FileSystem, Path}
    val base = graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/dup_request_ts")
    val fs = FileSystem.get(conf)
    val b = new Path(base)
    fs.delete(b, true)
    fs.mkdirs(new Path(b, ".hoodie"))
    val props =
      """hoodie.table.name=a
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=8
        |""".stripMargin
    val o = fs.create(new Path(b, ".hoodie/hoodie.properties"), true)
    o.write(props.getBytes("UTF-8")); o.close()
    fs.mkdirs(new Path(b, ".hoodie/timeline"))
    for (f <- Seq("20230101000000000_20230101000000111.commit",
        "20230101000000000_20230101000000222.replacecommit"))
      fs.create(new Path(b, s".hoodie/timeline/$f"), true).close()
    val cfg = graft.core.HoodieConfig.load(base, conf)
    val t = new graft.core.Timeline(base, cfg, conf)
    assert(t.completedInstants.size == 2)
    assert(t.completionTimeOf("20230101000000000") == Some("20230101000000111"))
  }

  test("bareKeyRendering gates on the recorded keygenerator class") {
    def cfg(kg: Option[String]) = HoodieConfig(
      Map("hoodie.table.name" -> "t", "hoodie.table.version" -> "6") ++
        kg.map("hoodie.table.keygenerator.class" -> _))
    // unset -> Hudi defaults to SimpleKeyGenerator: bare value trusted
    assert(cfg(None).bareKeyRendering)
    for (c <- Seq("org.apache.hudi.keygen.SimpleKeyGenerator",
        "org.apache.hudi.keygen.SimpleAvroKeyGenerator",
        "org.apache.hudi.keygen.NonpartitionedKeyGenerator",
        "org.apache.hudi.keygen.TimestampBasedKeyGenerator"))
      assert(cfg(Some(c)).bareKeyRendering, c)
    // ComplexKeyGenerator renders `field:value` even for one field —
    // and anything unknown must not be trusted either
    for (c <- Seq("org.apache.hudi.keygen.ComplexKeyGenerator",
        "org.apache.hudi.keygen.CustomKeyGenerator",
        "org.apache.hudi.keygen.GlobalDeleteKeyGenerator",
        "com.example.MyKeyGen"))
      assert(!cfg(Some(c)).bareKeyRendering, c)
    // newer writers record only hoodie.table.keygenerator.type — a
    // non-bare TYPE must veto trust even with no .class key at all
    def cfgT(t: String) = HoodieConfig(Map(
      "hoodie.table.name" -> "t", "hoodie.table.version" -> "8",
      "hoodie.table.keygenerator.type" -> t))
    for (t <- Seq("COMPLEX", "CUSTOM", "complex", "GLOBAL_DELETE"))
      assert(!cfgT(t).bareKeyRendering, t)
    for (t <- Seq("SIMPLE", "NON_PARTITION", "TIMESTAMP", "simple"))
      assert(cfgT(t).bareKeyRendering, t)
    // and a non-bare type vetoes even when the class key says Simple
    assert(!HoodieConfig(Map(
      "hoodie.table.name" -> "t", "hoodie.table.version" -> "8",
      "hoodie.table.keygenerator.class" -> "org.apache.hudi.keygen.SimpleKeyGenerator",
      "hoodie.table.keygenerator.type" -> "COMPLEX")).bareKeyRendering)
    // BOTH keys absent: informative only for writers new enough to have
    // recorded them (>= v4) — an old ComplexKeyGenerator table would
    // otherwise be trusted as bare and plan a wrong EMPTY point read
    def cfgV(v: String) = HoodieConfig(
      Map("hoodie.table.name" -> "t", "hoodie.table.version" -> v))
    for (v <- Seq("1", "2", "3")) assert(!cfgV(v).bareKeyRendering, v)
    for (v <- Seq("4", "5", "6", "8")) assert(cfgV(v).bareKeyRendering, v)
    // a recorded bare CLASS is trusted even on an old table (the key
    // itself proves the rendering; only ABSENCE is version-gated)
    assert(HoodieConfig(Map(
      "hoodie.table.name" -> "t", "hoodie.table.version" -> "2",
      "hoodie.table.keygenerator.class" ->
        "org.apache.hudi.keygen.SimpleKeyGenerator")).bareKeyRendering)
  }
}
