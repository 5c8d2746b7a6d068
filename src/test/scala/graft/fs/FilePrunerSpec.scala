package graft.fs

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Typed stats-pruning literals (R2/C5): dates, timestamps, and decimals
  * must cast to the representations footer/MDT statistics expose —
  * epoch-day Int, epoch-micros Long, java BigDecimal — so range
  * predicates on the most common fact-table columns actually skip files
  * (the reference arrow-casts literals to any column type,
  * expr/filter.rs:345-357, and prunes Date32, file_pruner.rs:288-293).
  */
class FilePrunerSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("d", DateType),
    StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType),
    StructField("dec", DecimalType(12, 2)),
    StructField("i", IntegerType),
    StructField("s", StringType)))

  test("date literals cast to epoch-day ints (typed and string forms)") {
    val day = java.time.LocalDate.of(2024, 3, 15)
    val typed = StatsRange.literal(schema, "d", "2024-03-15",
      Some(java.sql.Date.valueOf(day)))
    assert(typed.contains(Int.box(day.toEpochDay.toInt)))
    val viaLocal = StatsRange.literal(schema, "d", "2024-03-15", Some(day))
    assert(viaLocal.contains(Int.box(day.toEpochDay.toInt)))
    // string form is unambiguous for dates: parses without a typed value
    val parsed = StatsRange.literal(schema, "d", "2024-03-15")
    assert(parsed.contains(Int.box(day.toEpochDay.toInt)))
    assert(StatsRange.literal(schema, "d", "not-a-date").isEmpty)
  }

  test("timestamp literals use the typed instant; strings fail open") {
    val instant = java.time.Instant.parse("2024-03-15T10:30:00.123456Z")
    val micros = instant.getEpochSecond * 1000000L + instant.getNano / 1000L
    val viaTs = StatsRange.literal(schema, "ts", "ignored",
      Some(java.sql.Timestamp.from(instant)))
    assert(viaTs.contains(Long.box(micros)))
    val viaInstant = StatsRange.literal(schema, "ts", "ignored", Some(instant))
    assert(viaInstant.contains(Long.box(micros)))
    // wall-time strings are zone-ambiguous (DST fold) -> fail open
    assert(StatsRange.literal(schema, "ts", "2024-03-15 10:30:00").isEmpty)
    // NTZ: LocalDateTime at UTC
    val ldt = java.time.LocalDateTime.of(2024, 3, 15, 10, 30, 0)
    val ntzMicros = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(StatsRange.literal(schema, "ntz", "ignored", Some(ldt))
      .contains(Long.box(ntzMicros)))
  }

  test("decimal literals compare value-based across scales") {
    val lit = StatsRange.literal(schema, "dec", "123.45").get
    // footer stats may carry a different scale; compareTo must still match
    assert(lit.compareTo(new java.math.BigDecimal("123.4500")) == 0)
    val typed = StatsRange.literal(schema, "dec", "ignored",
      Some(new java.math.BigDecimal("99.9"))).get
    assert(typed.compareTo(new java.math.BigDecimal("99.90")) == 0)
    assert(StatsRange.literal(schema, "dec", "abc").isEmpty)
  }

  test("typed ranges drive the shared prune rules") {
    val d0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay.toInt
    val d1 = java.time.LocalDate.of(2024, 6, 30).toEpochDay.toInt
    def c(v: Any) = v.asInstanceOf[Comparable[Any]]
    val v = StatsRange.literal(schema, "d", "2023-12-31").get
    // predicate d <= 2023-12-31 vs extent [2024-01-01, 2024-06-30]: prune
    assert(!StatsRange.allows("<=", v, c(Int.box(d0)), c(Int.box(d1))))
    val in = StatsRange.literal(schema, "d", "2024-02-01").get
    assert(StatsRange.allows("<=", in, c(Int.box(d0)), c(Int.box(d1))))
    // decimal extents
    val dv = StatsRange.literal(schema, "dec", "10.00").get
    assert(!StatsRange.allows(">", dv,
      c(new java.math.BigDecimal("1.00")), c(new java.math.BigDecimal("9.99"))))
    assert(StatsRange.allows(">=", StatsRange.literal(schema, "dec", "9.99").get,
      c(new java.math.BigDecimal("1.00")), c(new java.math.BigDecimal("9.99"))))
  }

  test("permits: IN prunes when no list value lands in the extent") {
    def c(x: Any) = x.asInstanceOf[Comparable[Any]]
    val ranges = Map("i" -> (c(Int.box(10)), c(Int.box(20))))
    // all values outside -> prune
    assert(!StatsRange.permits(schema,
      PartitionFilter("i", "in", Seq("1", "5", "30")), ranges))
    // one value inside -> keep
    assert(StatsRange.permits(schema,
      PartitionFilter("i", "in", Seq("1", "15")), ranges))
    // an uncastable value might match -> fail open
    assert(StatsRange.permits(schema,
      PartitionFilter("i", "in", Seq("1", "abc")), ranges))
  }

  test("permits: NOT IN prunes only a constant extent whose value is listed") {
    def c(x: Any) = x.asInstanceOf[Comparable[Any]]
    val const = Map("i" -> (c(Int.box(7)), c(Int.box(7))))
    val range = Map("i" -> (c(Int.box(7)), c(Int.box(9))))
    assert(!StatsRange.permits(schema,
      PartitionFilter("i", "not in", Seq("7", "8")), const))
    assert(StatsRange.permits(schema,
      PartitionFilter("i", "not in", Seq("8")), const))
    // non-constant extent: other values may survive the NOT IN
    assert(StatsRange.permits(schema,
      PartitionFilter("i", "not in", Seq("7", "8", "9")), range))
    // uncastable values are ignored (fewer prunes, never more)
    assert(!StatsRange.permits(schema,
      PartitionFilter("i", "not in", Seq("abc", "7")), const))
    // != is the single-value form
    assert(!StatsRange.permits(schema, PartitionFilter("i", "!=", Seq("7")), const))
    assert(StatsRange.permits(schema, PartitionFilter("i", "!=", Seq("7")), range))
  }

  test("FilePruner: IS NULL prunes zero-null files; IS NOT NULL prunes all-null (footer)") {
    val dir = java.nio.file.Files.createTempDirectory("nullprune").toFile
    dir.deleteOnExit()
    val conf = new org.apache.hadoop.conf.Configuration()
    // write one parquet with a zero-null column and an all-null column
    val sch = new org.apache.parquet.schema.MessageType("r",
      org.apache.parquet.schema.Types.optional(
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64).named("full"),
      org.apache.parquet.schema.Types.optional(
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64).named("empty"))
    val path = new org.apache.hadoop.fs.Path(dir.getAbsolutePath, "f1_0-0-0_t1.parquet")
    val gc = new org.apache.parquet.example.data.simple.SimpleGroupFactory(sch)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(path, conf))
      .withType(sch).build()
    (1L to 10L).foreach(i => w.write(gc.newGroup().append("full", i)))
    w.close()
    val pruneSchema = StructType(Seq(
      StructField("full", LongType), StructField("empty", LongType)))
    val bf = BaseFile("f1", "0-0-0", "t1", None, "parquet", path.toString, 0L)
    // IS NULL on the zero-null column -> prune
    assert(!new FilePruner(Seq(PartitionFilter("full", "isnull", Nil)),
      pruneSchema, conf).shouldInclude(bf))
    // IS NULL on the all-null column -> keep
    assert(new FilePruner(Seq(PartitionFilter("empty", "isnull", Nil)),
      pruneSchema, conf).shouldInclude(bf))
    // IS NOT NULL alone never reads a footer -> fail open (include)
    assert(new FilePruner(Seq(PartitionFilter("empty", "isnotnull", Nil)),
      pruneSchema, conf).shouldInclude(bf))
    // ... but prunes opportunistically when a range filter read it anyway
    assert(!new FilePruner(Seq(
      PartitionFilter("empty", "isnotnull", Nil),
      PartitionFilter("full", ">", Seq("0"), typed = Seq(Long.box(0L)))),
      pruneSchema, conf).shouldInclude(bf))
    // index-covered IS NULL decides without touching the (nonexistent) file
    val ghost = BaseFile("g1", "0-0-0", "t1", None, "parquet", "/nonexistent/g.parquet", 0L)
    val index = Map(ghost.fileName -> FileStats(None, 0L, Map("full" ->
      ColumnStats(None, tight = false, Some(0L), allNull = false, present = true)), complete = false))
    assert(!new FilePruner(Seq(PartitionFilter("full", "isnull", Nil)),
      pruneSchema, conf, index).shouldInclude(ghost))
    assert(new FilePruner(Seq(PartitionFilter("empty", "isnull", Nil)),
      pruneSchema, conf, index).shouldInclude(ghost))
  }

  test("FilePruner: a row group without min/max keeps the file for every range") {
    val dir = java.nio.file.Files.createTempDirectory("statgap").toFile
    dir.deleteOnExit()
    val conf = new org.apache.hadoop.conf.Configuration()
    val sch = new org.apache.parquet.schema.MessageType("r",
      org.apache.parquet.schema.Types.optional(
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY)
        .as(org.apache.parquet.schema.LogicalTypeAnnotation.stringType()).named("s"))
    val path = new org.apache.hadoop.fs.Path(dir.getAbsolutePath, "f1_0-0-0_t1.parquet")
    val gc = new org.apache.parquet.example.data.simple.SimpleGroupFactory(sch)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(path, conf))
      .withType(sch).withRowGroupSize(1024L).build()
    (0 until 2000).foreach(i => w.write(gc.newGroup().append("s", f"a$i%05d")))
    // parquet-mr leaves min/max out of a chunk whose values pass 4 KB
    val big = "z" * 5000
    w.write(gc.newGroup().append("s", big))
    w.close()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    val blocks = try reader.getFooter.getBlocks finally reader.close()
    assert(blocks.size > 1, s"${blocks.size} row groups")
    assert(!blocks.get(blocks.size - 1).getColumns.get(0).getStatistics.hasNonNullValue)
    assert(blocks.get(0).getColumns.get(0).getStatistics.hasNonNullValue)
    val bf = BaseFile("f1", "0-0-0", "t1", None, "parquet", path.toString, 0L)
    val strSchema = StructType(Seq(StructField("s", StringType)))
    assert(new FilePruner(Seq(PartitionFilter("s", "=", Seq(big))), strSchema, conf)
      .shouldInclude(bf))
    assert(new FilePruner(Seq(PartitionFilter("s", ">", Seq("m"))), strSchema, conf)
      .shouldInclude(bf))
  }

  test("cross-type comparisons fail open, never throw") {
    // an Integer literal against (Long, Long) stats: ClassCastException
    // inside allows must surface as "may match"
    val v = StatsRange.literal(schema, "i", "5").get
    def c(x: Any) = x.asInstanceOf[Comparable[Any]]
    assert(StatsRange.allows("=", v, c(Long.box(10L)), c(Long.box(20L))))
  }
}
