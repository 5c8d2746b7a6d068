package graft.fs

import graft.core.{HoodieConfig, Timeline}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Parallel planning-I/O coverage: the level-parallel partition walk and
  * concurrent per-partition listing must produce the same view as a
  * sequential walk (order included — `collect` emits deterministic
  * partition order regardless of listing concurrency).
  */
class FsViewSpec extends AnyFunSuite {

  private val conf = new Configuration()

  test("parallel walk discovers a two-level partition tree deterministically") {
    val base = new Path(graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/fsview_parallel"))
    val fs = FileSystem.get(conf)
    fs.delete(base, true)
    fs.mkdirs(new Path(base, ".hoodie"))
    val ts = "20240101000000000"
    val props =
      """hoodie.table.name=fsview_parallel
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.plan.listing.parallelism=8
        |""".stripMargin
    val o = fs.create(new Path(base, ".hoodie/hoodie.properties"), true)
    o.write(props.getBytes("UTF-8")); o.close()
    val c = fs.create(new Path(base, s".hoodie/$ts.commit"), true)
    c.write("{}".getBytes("UTF-8")); c.close()

    val expected = (for (a <- 1 to 5; b <- 1 to 4) yield s"a=$a/b=$b").sorted
    for ((p, i) <- expected.zipWithIndex) {
      val dir = new Path(base, p)
      fs.mkdirs(dir)
      val name = f"00000000-0000-0000-0000-$i%012d-0_0-0-0_$ts.parquet"
      val f = fs.create(new Path(dir, name), true)
      f.write(Array[Byte](1, 2, 3)); f.close()
    }

    val config = HoodieConfig.load(base.toString, conf)
    val timeline = new Timeline(base.toString, config, conf)
    val view = new FsView(base.toString, config, timeline, conf)
    assert(view.partitionPaths.sorted == expected.toVector)
    val slices = view.slicesAsOf(ts)
    assert(slices.size == 20)
    assert(slices.map(_.partitionPath) == slices.map(_.partitionPath).sorted,
      "collect must emit deterministic partition order")
  }

  test("LogFile.nextName: parse recovers the file id, instant and version") {
    val base = "20240101000000000"
    val delta = "20240102000000000"
    def log(v: Int) = LogFile("fg1", base, None, "log", v, "0-0-0", "", 0L)
    val slice = FileSlice("p", "fg1", base, None, Vector(log(1), log(3)))
    def parsed(name: String) = {
      val l = LogFile.parse(name, "", 0L).getOrElse(fail(s"unparseable $name"))
      (l.fileId, l.timestamp, l.version, l.writeToken)
    }
    // v6 names the slice's base instant, v8+ the delta's own
    assert(parsed(LogFile.nextName(slice, delta, 6)) == (("fg1", base, 4, "0-0-0")))
    assert(parsed(LogFile.nextName(slice, delta, 8)) == (("fg1", delta, 4, "0-0-0")))
    assert(parsed(LogFile.nextName(slice.withoutLogs, delta, 8)) == (("fg1", delta, 1, "0-0-0")))
  }

  test("nullable segment parse surfaces sentinel partitions of typed columns") {
    val sentinel = Set("__HIVE_DEFAULT_PARTITION__", "default")
    val p = new PartitionPruner(
      Seq("k" -> "int"), hiveStyle = true, urlEncoded = false, Nil)
    // strict parse fails the int cast on the sentinel → listing would
    // silently omit the NULL partition without the nullable variant
    assert(p.parseSegments("k=__HIVE_DEFAULT_PARTITION__").isEmpty)
    assert(p.parseSegmentsNullable("k=__HIVE_DEFAULT_PARTITION__", sentinel)
      == Some(Map("k" -> "__HIVE_DEFAULT_PARTITION__")))
    assert(p.parseSegmentsNullable("k=7", sentinel) == Some(Map("k" -> 7)))
    // a non-sentinel unparseable value stays omitted (foreign layout)
    assert(p.parseSegmentsNullable("k=abc", sentinel).isEmpty)
    val np = new PartitionPruner(
      Seq("d" -> "date"), hiveStyle = false, urlEncoded = false, Nil)
    assert(np.parseSegmentsNullable("default", sentinel) == Some(Map("d" -> "default")))
  }

  test("null-aware pruning: sentinel semantics by op and type") {
    val sentinel: String => Boolean = s => s == "__HIVE_DEFAULT_PARTITION__"
    def pruner(tpe: String, f: PartitionFilter) = new PartitionPruner(
      Seq("k" -> tpe), hiveStyle = true, urlEncoded = false, Seq(f),
      nullSentinel = Some(sentinel))
    val sent = "k=__HIVE_DEFAULT_PARTITION__"
    // TYPED field: the sentinel partition holds ONLY nulls — kept for
    // IS NULL, excluded for IS NOT NULL and every comparison
    assert(pruner("int", PartitionFilter("k", "isnull", Nil)).shouldInclude(sent))
    assert(!pruner("int", PartitionFilter("k", "isnull", Nil)).shouldInclude("k=3"))
    assert(!pruner("int", PartitionFilter("k", "isnotnull", Nil)).shouldInclude(sent))
    assert(pruner("int", PartitionFilter("k", "isnotnull", Nil)).shouldInclude("k=3"))
    assert(!pruner("int", PartitionFilter("k", "=", Seq("3"))).shouldInclude(sent))
    assert(!pruner("int", PartitionFilter("k", "<", Seq("3"))).shouldInclude(sent))
    // STRING field: the sentinel may also hold EMPTY-string rows —
    // IS NOT NULL keeps it, and comparisons evaluate against "" (the
    // `col = ''` partition must stay planned; `col = 'x'` prunes it)
    assert(pruner("string", PartitionFilter("k", "isnull", Nil)).shouldInclude(sent))
    assert(pruner("string", PartitionFilter("k", "isnotnull", Nil)).shouldInclude(sent))
    assert(pruner("string", PartitionFilter("k", "=", Seq(""))).shouldInclude(sent))
    assert(!pruner("string", PartitionFilter("k", "=", Seq("x"))).shouldInclude(sent))
    assert(pruner("string", PartitionFilter("k", "<", Seq("x"))).shouldInclude(sent))
    // version semantics: for a v4+ table 'default' is NOT a sentinel —
    // a real `k=default` partition is excluded by IS NULL (its rows all
    // carry the value 'default'); pre-v4 classifiers include it
    val v6Like: String => Boolean = s => s == "__HIVE_DEFAULT_PARTITION__" || s.isEmpty
    val v3Like: String => Boolean = s => v6Like(s) || s == "default"
    def strPruner(cls: String => Boolean) = new PartitionPruner(
      Seq("k" -> "string"), hiveStyle = true, urlEncoded = false,
      Seq(PartitionFilter("k", "isnull", Nil)), nullSentinel = Some(cls))
    assert(!strPruner(v6Like).shouldInclude("k=default"))
    assert(strPruner(v3Like).shouldInclude("k=default"))
    // without a classifier, IS NULL fails open (legacy callers)
    val legacy = new PartitionPruner(Seq("k" -> "string"), hiveStyle = true,
      urlEncoded = false, Seq(PartitionFilter("k", "isnull", Nil)))
    assert(legacy.shouldInclude("k=anything"))
  }
}
