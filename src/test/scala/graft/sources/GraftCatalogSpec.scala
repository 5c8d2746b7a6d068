package graft.sources

import graft.SparkTestBase
import graft.fixtures.HudiFixtureBuilder

/** SQL surface through the GraftCatalog plugin: plain reads, VERSION AS
  * OF (commit timestamp) and TIMESTAMP AS OF (wall-clock) time travel,
  * warehouse-relative identifiers, and read-only enforcement.
  */
class GraftCatalogSpec extends SparkTestBase {

  private lazy val cowPath: String = {
    HudiFixtureBuilder.ensure(spark, sfDir)
    spark.conf.set("spark.sql.catalog.hudi_graft", classOf[GraftCatalog].getName)
    HudiFixtureBuilder.cowPath(sfDir)
  }

  private def count(sql: String): Long = spark.sql(sql).count()

  test("catalog resolves a backquoted absolute path") {
    val n = count(s"SELECT * FROM hudi_graft.`$cowPath`")
    assert(n == spark.read.parquet(s"$sfDir/orders.parquet").count())
  }

  test("FOR VERSION AS OF pins a commit timestamp") {
    // at T1 nothing is updated yet
    val updated = count(
      s"""SELECT * FROM hudi_graft.`$cowPath`
         |FOR VERSION AS OF '${HudiFixtureBuilder.T1}'
         |WHERE o_orderstatus = 'U'""".stripMargin)
    assert(updated == 0)
    val latest = count(
      s"SELECT * FROM hudi_graft.`$cowPath` WHERE o_orderstatus = 'U'")
    assert(latest > 0)
  }

  test("FOR TIMESTAMP AS OF converts wall-clock time to the timeline") {
    // fixture commits are 2024-01-01/02 (UTC timeline): midday Jan 1 sees
    // only the insert commit
    val asOf = count(
      s"""SELECT * FROM hudi_graft.`$cowPath`
         |FOR TIMESTAMP AS OF '2024-01-01 12:00:00'
         |WHERE o_orderstatus = 'U'""".stripMargin)
    assert(asOf == 0)
    val later = count(
      s"""SELECT * FROM hudi_graft.`$cowPath`
         |FOR TIMESTAMP AS OF '2024-01-03 00:00:00'
         |WHERE o_orderstatus = 'U'""".stripMargin)
    assert(later > 0)
  }

  test("warehouse option resolves relative identifiers") {
    val parent = new java.io.File(cowPath).getParent
    spark.conf.set("spark.sql.catalog.wh_graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wh_graft.warehouse", parent)
    val n = spark.sql("SELECT * FROM wh_graft.cow_orders").count()
    assert(n == spark.read.parquet(s"$sfDir/orders.parquet").count())
  }

  test("unknown paths surface as missing tables; writes are rejected") {
    val missing = intercept[Exception](
      spark.sql("SELECT * FROM hudi_graft.`/no/such/table`").collect())
    assert(missing.getMessage.toLowerCase.contains("table"))
    val readOnly = intercept[Exception](
      spark.sql(s"DROP TABLE hudi_graft.`$cowPath`"))
    assert(readOnly.getMessage.contains("read-only"))
  }

  test("CALL show_commits returns the timeline") {
    val rows = spark.sql(s"CALL hudi_graft.show_commits(table => '$cowPath')").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq(HudiFixtureBuilder.T1, HudiFixtureBuilder.T2))
    assert(rows.forall(_.getString(1) == "commit"))
  }

  test("CALL show_file_slices returns the planned snapshot slices") {
    val df = spark.sql(s"CALL hudi_graft.show_file_slices(table => '$cowPath')")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(3).endsWith(".parquet") && r.getLong(5) > 0))
    // COW: latest slices all carry base files, no logs
    assert(rows.forall(_.getInt(4) == 0))
  }

  test("CALL show_file_slices/show_partitions time-travel via as_of") {
    // the COW fixture rewrites every file group at T2 — as_of T1 must
    // list only T1-committed base files, latest only T2's
    val t1 = spark.sql(s"CALL hudi_graft.show_file_slices(table => '$cowPath', " +
      s"as_of => '${HudiFixtureBuilder.T1}')").collect()
    assert(t1.nonEmpty && t1.forall(_.getString(2) == HudiFixtureBuilder.T1),
      s"as_of T1 must plan T1 slices, got ${t1.map(_.getString(2)).distinct.toSeq}")
    val latest = spark.sql(s"CALL hudi_graft.show_file_slices(table => '$cowPath')").collect()
    assert(latest.forall(_.getString(2) == HudiFixtureBuilder.T2))
    // same partitions either way, sizes from the as-of generation
    val p1 = spark.sql(s"CALL hudi_graft.show_partitions(table => '$cowPath', " +
      s"as_of => '${HudiFixtureBuilder.T1}')").collect().map(_.getString(0)).toSet
    val pL = spark.sql(s"CALL hudi_graft.show_partitions(table => '$cowPath')")
      .collect().map(_.getString(0)).toSet
    assert(p1 == pL && p1.nonEmpty)
  }

  test("CALL show_indexes reports declared and advertised indexes") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val sidx = HudiFixtureBuilder.sidxPath(sfDir)
    val rows = spark.sql(s"CALL hudi_graft.show_indexes(table => '$sidx')").collect()
    val byName = rows.map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getBoolean(3))).toMap
    assert(byName("secondary_index_status_idx") == (("secondary_index", "o_orderstatus", true)))
    assert(byName("record_index")._3) // advertised, not declared in index.json
  }

  test("CALL show_column_stats reads the column_stats index") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val rp = HudiFixtureBuilder.rangePath(sfDir)
    val rows = spark.sql(s"CALL hudi_graft.show_column_stats(table => '$rp')").collect()
    // per file group: o_orderkey (tight), o_orderpriority (tight string),
    // o_orderstatus (LOOSE string — the MIN/MAX-fallback negative)
    assert(rows.length == 12)
    val keyRows = rows.filter(_.getString(1) == "o_orderkey")
    assert(keyRows.length == 4 && keyRows.forall(r =>
      r.getString(2).toLong <= r.getString(3).toLong && r.getBoolean(6)))
    assert(rows.filter(_.getString(1) == "o_orderpriority").forall(_.getBoolean(6)))
    assert(rows.filter(_.getString(1) == "o_orderstatus").forall(!_.getBoolean(6)))
    // a table without the index returns an empty result, not an error
    val cow = HudiFixtureBuilder.cowPath(sfDir)
    assert(spark.sql(s"CALL hudi_graft.show_column_stats(table => '$cow')").count() == 0)
  }

  test("CALL show_partition_stats reads the partition_stats index") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val pp = HudiFixtureBuilder.pstatsPath(sfDir)
    val rows = spark.sql(s"CALL hudi_graft.show_partition_stats(table => '$pp')").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(0)).toSet == (0 until 4).map(g => s"g=$g").toSet)
    assert(rows.forall(r => r.getString(1) == "o_orderkey"))
  }

  test("CALL show_bloom_filters reports per-file bloom coverage") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val bp = HudiFixtureBuilder.bloomPath(sfDir)
    val rows = spark.sql(s"CALL hudi_graft.show_bloom_filters(table => '$bp')").collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getBoolean(2)), s"every fixture file carries a bloom: ${rows.toSeq}")
    // a table without the index reports its files as uncovered
    val cow = HudiFixtureBuilder.cowPath(sfDir)
    val none = spark.sql(s"CALL hudi_graft.show_bloom_filters(table => '$cow')").collect()
    assert(none.nonEmpty && none.forall(!_.getBoolean(2)))
  }

  test("SHOW PROCEDURES lists the catalog's procedures") {
    val names = spark.sql("SHOW PROCEDURES IN hudi_graft").collect()
      .map(_.toString).mkString(",")
    for (p <- Seq("show_commits", "show_file_slices", "show_partitions", "show_indexes",
        "show_column_stats", "show_partition_stats", "show_bloom_filters"))
      assert(names.contains(p), s"$p missing from $names")
  }

  test("SHOW PARTITIONS resolves against the table's parsed partition values") {
    cowPath // registers the hudi_graft catalog
    val part = HudiFixtureBuilder.partPath(sfDir)
    val rows = spark.sql(s"SHOW PARTITIONS hudi_graft.`$part`")
      .collect().map(_.getString(0)).sorted
    val exp = spark.read.parquet(s"$sfDir/nation.parquet")
      .select("n_regionkey").distinct()
      .collect().map(r => s"n_regionkey=${r.getInt(0)}").sorted
    assert(rows.toSeq == exp.toSeq, s"got ${rows.mkString(",")}")
    // partition-spec filtering goes through listPartitionIdentifiers'
    // prefix match
    val one = spark.sql(
      s"SHOW PARTITIONS hudi_graft.`$part` PARTITION (n_regionkey = 2)").collect()
    assert(one.length == 1 && one.head.getString(0) == "n_regionkey=2")
    // string-partitioned table incl. the NULL-sentinel partition — it
    // surfaces as the NULL partition value (same reading the P6
    // re-injection gives the rows), rendered `r_name=null`
    val sp = HudiFixtureBuilder.strpartPath(sfDir)
    val spRows = spark.sql(s"SHOW PARTITIONS hudi_graft.`$sp`")
      .collect().map(_.getString(0))
    val regions = spark.read.parquet(s"$sfDir/region.parquet").count()
    assert(spRows.length == regions + 1, s"got ${spRows.mkString(",")}")
    assert(spRows.count(_ == "r_name=null") == 1, s"got ${spRows.mkString("|")}")
  }

  test("SHOW PARTITIONS refuses timestamp-keygen tables (paths are renderings)") {
    // a timebasedkeygen path segment is a FORMATTED date bucket of the
    // source column, not a field value — reporting identity partitioning
    // would surface `yyyy/MM/dd/HH` strings as column values
    cowPath // registers the hudi_graft catalog
    val p = graft.table.Fixtures.table(
      "sample_table/cow/v9_timebasedkeygen_epochmillis.zip",
      "v9_timebasedkeygen_epochmillis", "v9_tbk_showpart")
    assume(p.isDefined)
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SHOW PARTITIONS hudi_graft.`${p.get}`").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("partition"), ex.getMessage)
  }

  test("CALL show_partitions aggregates the snapshot by partition") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val part = HudiFixtureBuilder.partPath(sfDir)
    val rows = spark.sql(s"CALL hudi_graft.show_partitions(table => '$part')").collect()
    val regions = spark.read.parquet(s"$sfDir/nation.parquet")
      .select("n_regionkey").distinct().count()
    assert(rows.length == regions)
    assert(rows.forall(r => r.getString(0).startsWith("n_regionkey=") &&
      r.getInt(1) == 1 && r.getInt(2) == 0 && r.getLong(3) > 0))
    // sorted by partition path — deterministic ops output
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0)).toSeq.sorted)
  }

  test("hudi_table_changes TVF equals the option-based incremental read") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import graft.fixtures.HudiFixtureBuilder.{T1, T2, T3, morPath}
    graft.sources.HudiTableChanges.register(spark)
    val path = morPath(sfDir)
    def viaOptions(start: Option[String], end: Option[String], deletes: Boolean = false) = {
      var r = spark.read.format("hudi-graft").option("query.type", "incremental")
      start.foreach(s => r = r.option("start.timestamp", s))
      end.foreach(e => r = r.option("end.timestamp", e))
      if (deletes) r = r.option("stream.emit.deletes", "true")
      r.load(path)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("_hoodie_record_key", "o_orderstatus")
        .collect().map(r => (r.getString(0), Option(r.get(1)))).toSet
    // bounded range
    val sql1 = spark.sql(s"SELECT * FROM hudi_table_changes('$path', '$T1', '$T2')")
    assert(rows(sql1) == rows(viaOptions(Some(T1), Some(T2))) && sql1.count() > 0)
    // 'earliest' start sentinel = full history
    val sql2 = spark.sql(s"SELECT * FROM hudi_table_changes('$path', 'earliest')")
    assert(rows(sql2) == rows(viaOptions(None, None)))
    // delete tombstones (the 4th arg): a delete-only range surfaces the
    // dead keys instead of an empty result
    val sql3 = spark.sql(s"SELECT * FROM hudi_table_changes('$path', '$T2', '$T3', true)")
    assert(rows(sql3) == rows(viaOptions(Some(T2), Some(T3), deletes = true)))
    assert(sql3.count() > 0, "delete-only range must surface tombstones")
    // upstream Spark-Hudi's positional signature (table, changeType,
    // start[, end]) must be portable verbatim: 'latest_state' selects
    // the plain feed, 'cdc' the delete-emitting one — the mode string in
    // slot 2 shifts start/end right, never parses as a timestamp
    val up1 = spark.sql(
      s"SELECT * FROM hudi_table_changes('$path', 'latest_state', '$T1', '$T2')")
    assert(rows(up1) == rows(viaOptions(Some(T1), Some(T2))))
    val up2 = spark.sql(s"SELECT * FROM hudi_table_changes('$path', 'latest_state', 'earliest')")
    assert(rows(up2) == rows(viaOptions(None, None)))
    // 'cdc' serves upstream's (op, ts_ms, before, after) image schema
    // (r12, inferred per commit — see CdcReadSpec for the semantics);
    // the delete-only range (T2, T3] must be all-'d' rows whose keys are
    // exactly the tombstoned ones the boolean form surfaces
    val cdcDf = spark.sql(s"SELECT * FROM hudi_table_changes('$path', 'cdc', '$T2', '$T3')")
    assert(cdcDf.columns.toSeq == Seq("op", "ts_ms", "before", "after"), cdcDf.columns.toSeq)
    val cdcKeys = cdcDf.collect().map { r =>
      assert(r.getString(0) == "d" && r.isNullAt(3), s"delete-only range: $r")
      r.getStruct(2).getAs[Long]("o_orderkey").toString
    }.toSet
    assert(cdcKeys == rows(sql3).map(_._1) && cdcKeys.nonEmpty)
    val up3 = spark.sql(s"SELECT * FROM hudi_table_changes('$path', '$T2', '$T3', true)")
    assert(rows(up3) == rows(viaOptions(Some(T2), Some(T3), deletes = true)))
    assert(up3.count() > 0, "emit_deletes form must surface tombstones")
    // a mode string with no start must throw (upstream requires start)
    val errMode = intercept[Exception] {
      spark.sql(s"SELECT * FROM hudi_table_changes('$path', 'latest_state')").collect()
    }
    assert(errMode.getMessage.contains("requires a start timestamp"), errMode.getMessage)
    // non-literal args are rejected loudly
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM hudi_table_changes(upper('$path'), '$T1')").collect()
    }
    assert(err.getMessage.contains("string literal") ||
      err.getMessage.contains("hudi_table_changes"))
    // mistyped optional args must THROW, never silently drop: an
    // unquoted numeric end would otherwise quietly extend the range to
    // latest, and a string 'true' would quietly drop the tombstones
    val errNum = intercept[Exception] {
      spark.sql(s"SELECT * FROM hudi_table_changes('$path', '$T1', ${T2}000)").collect()
    }
    assert(errNum.getMessage.contains("end must be a string literal"), errNum.getMessage)
    val errBool = intercept[Exception] {
      spark.sql(s"SELECT * FROM hudi_table_changes('$path', '$T2', '$T3', 'true')").collect()
    }
    assert(errBool.getMessage.contains("emit_deletes must be a boolean literal"),
      errBool.getMessage)
    // the TVF expands to the DSv2 relation, so a WHERE partition filter
    // composes with incremental partition pruning exactly like the
    // option surface (fewer slices than the unfiltered range)
    val p0 = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderpriority").orderBy("o_orderpriority").head.getString(0)
    val prunedDf = spark.sql(
      s"SELECT * FROM hudi_table_changes('$path', '$T1', '$T2') WHERE o_orderpriority = '$p0'")
    def sliceCount(df: org.apache.spark.sql.DataFrame): Int = {
      val s = df.queryExecution.executedPlan.toString()
      val m = java.util.regex.Pattern.compile("(\\d+) slices").matcher(s)
      assert(m.find(), s"no slice count in plan: $s"); m.group(1).toInt
    }
    assert(sliceCount(prunedDf) < sliceCount(sql1),
      "partition filter through the TVF must prune incremental slices")
    assert(prunedDf.count() == viaOptions(Some(T1), Some(T2))
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === p0).count())
  }

  test("DESCRIBE EXTENDED surfaces hoodie.properties as table properties") {
    spark.conf.set("spark.sql.catalog.hudi_graft", classOf[GraftCatalog].getName)
    val rows = spark.sql(s"DESCRIBE EXTENDED hudi_graft.`$cowPath`").collect()
    val props = rows.find(_.getString(0) == "Table Properties")
      .map(_.getString(1)).getOrElse("")
    assert(props.contains("hoodie.table.type=COPY_ON_WRITE"), s"props: $props")
    assert(props.contains("hoodie.table.version="), s"props: $props")
    // the partition columns section reflects partitioning() (D9)
    assert(rows.exists(r => r.getString(0).contains("Part 0") ||
      r.getString(0) == "# Partition Information" || props.contains("o_orderpriority")),
      rows.map(_.getString(0)).mkString(", "))
  }

  test("SHOW TBLPROPERTIES surfaces hoodie table config") {
    spark.conf.set("spark.sql.catalog.hudi_graft", classOf[GraftCatalog].getName)
    val props = spark.sql(s"SHOW TBLPROPERTIES hudi_graft.`$cowPath`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("hoodie.table.type").contains("COPY_ON_WRITE"), props.toString)
    assert(props.contains("hoodie.table.version"), props.keys.toString)
  }

  test("show_table_properties returns hoodie.properties as sorted rows") {
    spark.conf.set("spark.sql.catalog.hudi_graft", classOf[GraftCatalog].getName)
    val rows = spark.sql(
      s"CALL hudi_graft.show_table_properties(table => '$cowPath')").collect()
    val props = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("hoodie.table.type").contains("COPY_ON_WRITE"), props.toString)
    assert(props.contains("hoodie.table.name"))
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0)).toSeq.sorted,
      "rows must come back key-sorted")
  }

  test("show_archived_commits lists the archive folder, ungated") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val base = graft.fixtures.HudiFixtureBuilder.targetPath("fixtures/proc_archived_v6")
    val fs = FileSystem.get(new org.apache.hadoop.conf.Configuration())
    val b = new Path(base)
    fs.delete(b, true)
    fs.mkdirs(new Path(b, ".hoodie/archived"))
    val props =
      """hoodie.table.name=a
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |""".stripMargin // note: archived.enabled NOT set — CALL is explicit
    val o = fs.create(new Path(b, ".hoodie/hoodie.properties"), true)
    o.write(props.getBytes("UTF-8")); o.close()
    for (f <- Seq("20230101000000000.commit", "20230102000000000.commit", "junk.txt")) {
      val out = fs.create(new Path(b, s".hoodie/archived/$f"), true)
      out.write("{}".getBytes); out.close()
    }
    spark.conf.set("spark.sql.catalog.hudi_graft", classOf[GraftCatalog].getName)
    val rows = spark.sql(s"CALL hudi_graft.show_archived_commits(table => '$base')")
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("20230101000000000", "20230102000000000"))
    assert(rows.forall(_.getString(1) == "commit"))
    // an un-archived table returns empty, not an error
    val none = spark.sql(
      s"CALL hudi_graft.show_archived_commits(table => '$cowPath')").collect()
    assert(none.isEmpty)
  }

  test("hudi_query TVF equals the option-based mode-selected read") {
    graft.fixtures.HudiFixtureBuilder.ensure(spark, sfDir)
    import graft.fixtures.HudiFixtureBuilder.{T1, morPath}
    graft.sources.HudiQuery.register(spark)
    val path = morPath(sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("_hoodie_record_key", "o_orderstatus")
        .collect().map(r => (r.getString(0), Option(r.get(1)))).toSet
    // snapshot mode = the plain merged read
    val snap = spark.sql(s"SELECT * FROM hudi_query('$path', 'snapshot')")
    assert(rows(snap) == rows(spark.read.format("hudi-graft").load(path)) &&
      snap.count() > 0)
    // read_optimized mode is LOAD-BEARING on MOR: base-only rows differ
    // from the snapshot (T2/T3 logs unmerged), matching the option read
    val ro = spark.sql(s"SELECT * FROM hudi_query('$path', 'read_optimized')")
    val roOpt = spark.read.format("hudi-graft")
      .option("read.optimized", "true").load(path)
    assert(rows(ro) == rows(roOpt))
    assert(rows(ro) != rows(snap), "read_optimized must differ from snapshot on MOR")
    // the as-of extension composes: snapshot pinned at T1 = base-only
    // view here (no logs existed yet)
    val asOf = spark.sql(s"SELECT * FROM hudi_query('$path', 'snapshot', '$T1')")
    val asOfOpt = spark.read.format("hudi-graft")
      .option("as.of.timestamp", T1).load(path)
    assert(rows(asOf) == rows(asOfOpt))
    // read_optimized composes with as_of: the as-of plan's base files only
    val roAsOf = spark.sql(s"SELECT * FROM hudi_query('$path', 'read_optimized', '$T1')")
    val roAsOfOpt = spark.read.format("hudi-graft")
      .option("read.optimized", "true").option("as.of.timestamp", T1).load(path)
    assert(rows(roAsOf) == rows(roAsOfOpt))
    // an unknown mode must THROW, not silently read a snapshot (a typo'd
    // mode changing which rows a MOR query returns would be silent wrong)
    val errMode = intercept[Exception] {
      spark.sql(s"SELECT * FROM hudi_query('$path', 'read_optimised')").collect()
    }
    assert(errMode.getMessage.contains("unknown query type"), errMode.getMessage)
    // non-literal path rejected loudly (schema needed at analysis)
    val errLit = intercept[Exception] {
      spark.sql(s"SELECT * FROM hudi_query(upper('$path'), 'snapshot')").collect()
    }
    assert(errLit.getMessage.contains("string literal") ||
      errLit.getMessage.contains("hudi_query"))
    // the TVF expands to the DSv2 relation: aggregate pushdown plans the
    // same LocalScan a direct read would (COUNT(*) on the COW fixture)
    val cow = graft.fixtures.HudiFixtureBuilder.cowPath(sfDir)
    val cnt = spark.sql(s"SELECT COUNT(*) AS c FROM hudi_query('$cow', 'snapshot')")
    assert(cnt.queryExecution.executedPlan.toString().contains("LocalTableScan"),
      s"COUNT(*) through hudi_query must stay metadata-only:\n" +
        cnt.queryExecution.executedPlan.toString())
    assert(cnt.head.getLong(0) ==
      spark.read.format("hudi-graft").load(cow).count())
  }
}
