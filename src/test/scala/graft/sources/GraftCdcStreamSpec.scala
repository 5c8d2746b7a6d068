package graft.sources

import graft.SparkTestBase
import graft.fixtures.HudiFixtureBuilder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming CDC: `readStream` with upstream's
  * `hoodie.datasource.query.incremental.format=cdc` serves the inferred
  * (op, ts_ms, before, after) feed through the V1 GraftCdcSource, with
  * offsets (commit timestamps) checkpointed like any other stream.
  */
class GraftCdcStreamSpec extends SparkTestBase {

  import HudiFixtureBuilder.{T1, T2, T3}

  private def orders() = spark.read.parquet(s"$sfDir/orders.parquet")

  private def drain(stream: DataFrame, sink: String, checkpoint: Option[String] = None): DataFrame = {
    spark.catalog.dropTempView(sink)
    val w = stream.writeStream.outputMode("append").format("memory")
      .trigger(Trigger.AvailableNow()).queryName(sink)
    val q = checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
    try q.awaitTermination() finally q.stop()
    spark.table(sink)
  }

  private def flat(df: DataFrame) = df
    .select(col("op"), col("ts_ms"),
      coalesce(col("before.o_orderkey"), col("after.o_orderkey")).as("k"),
      col("before.o_orderstatus").as("bs"), col("after.o_orderstatus").as("as"))
    .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
      Option(r.getString(3)), Option(r.getString(4)))).toSet

  test("the streamed feed equals the batch CDC feed over the full history") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.morPath(sfDir)
    val streamed = flat(drain(
      spark.readStream.format("hudi-graft")
        .option("hoodie.datasource.query.incremental.format", "cdc")
        .load(p),
      "graft_cdc_stream_full"))
    val batch = flat(CdcRead.changes(spark, p, None, Some(T3)))
    assert(streamed == batch && streamed.nonEmpty,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
    // sanity on shape: inserts at T1, updates at T2, deletes at T3
    val ops = streamed.groupBy(_._1).view.mapValues(_.size).toMap
    assert(ops.keySet == Set("i", "u", "d"), s"ops: $ops")
  }

  test("checkpoint replay: a restarted drain emits nothing new") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.morPath(sfDir)
    val ckpt = graft.fixtures.HudiFixtureBuilder.targetPath(s"cdc_stream_ckpt_${System.nanoTime()}")
    // foreachBatch, not the memory sink: memory refuses checkpoint
    // recovery (not fault-tolerant), and recovery is exactly what this
    // test drives
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    def run(): Long = {
      seen.set(0)
      val q = spark.readStream.format("hudi-graft")
        .option("incremental.format", "cdc").load(p)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          seen.addAndGet(batch.count()); ()
        }.start()
      try q.awaitTermination() finally q.stop()
      seen.get()
    }
    val first = run()
    assert(first > 0)
    // same checkpoint, fresh query: offsets are at the tip, nothing admits
    val second = run()
    assert(second == 0, s"replay must admit nothing, got $second rows")
  }

  test("stream.start.timestamp: a fresh stream begins after the given commit") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.morPath(sfDir)
    val streamed = flat(drain(
      spark.readStream.format("hudi-graft")
        .option("incremental.format", "cdc")
        .option("stream.start.timestamp", T1)
        .load(p),
      "graft_cdc_stream_after_t1"))
    val batch = flat(CdcRead.changes(spark, p, Some(T1), Some(T3)))
    assert(streamed == batch && streamed.nonEmpty)
    assert(!streamed.exists(_._1 == "i"), "T1 inserts must be excluded")
  }

  test("V1 source offset math: restart-correct per-commit admission") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.morPath(sfDir)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    case class TestOffset(ts: String)
        extends org.apache.spark.sql.execution.streaming.Offset {
      override def json(): String = ts
    }
    val src = new GraftCdcSource(spark, p, Map("stream.commits.per.batch" -> "1"))
    // the engine normally passes the source's OWN default limit back
    val lim = src.getDefaultReadLimit
    // SupportsAdmissionControl: the engine hands the TRUE start offset,
    // so pacing is position-correct from the first call — including after
    // a restart (the checkpointed offset arrives as `start`)
    assert(src.latestOffset(src.initialOffset(), lim).json() == T1)
    assert(src.latestOffset(TestOffset(T1), lim).json() == T2)
    assert(src.latestOffset(TestOffset(T2), lim).json() == T3)
    // drained: never regress past the tip
    assert(src.latestOffset(TestOffset(T3), lim).json() == T3)
    // Trigger.Once override: the engine passes allAvailable() expecting
    // the WHOLE backlog in one batch — the configured cap must stand down
    // (re-capping would strand commits until the next manual run)
    assert(src.latestOffset(src.initialOffset(), ReadLimit.allAvailable()).json() == T3)
    // the batch itself is a streaming frame of the CDC schema (content
    // equality with the batch feed is the drain tests' job — a streaming
    // frame cannot be collected outside a streaming query)
    val b1 = src.getBatch(None, TestOffset(T1))
    assert(b1.isStreaming, "getBatch must return an isStreaming frame")
    assert(b1.schema.fieldNames.toSeq == Seq("op", "ts_ms", "before", "after"))
    // without a cap the tip is offered immediately
    val unbounded = new GraftCdcSource(spark, p, Map.empty)
    assert(unbounded.latestOffset(
      unbounded.initialOffset(), unbounded.getDefaultReadLimit).json() == T3)
    // stream.start.timestamp positions the initial offset
    val fromT1 = new GraftCdcSource(spark, p, Map("stream.start.timestamp" -> T1))
    assert(fromT1.initialOffset().json() == T1)
    // byte cap (CommitAdmission shared with the DSv2 stream): a 1-byte
    // ceiling still admits exactly ONE commit per offer (the first always
    // admits — progress guaranteed)
    val byteSrc = new GraftCdcSource(spark, p,
      Map("stream.max.bytes.per.batch" -> "1"))
    assert(byteSrc.latestOffset(TestOffset(T1), byteSrc.getDefaultReadLimit).json() == T2,
      "an over-cap commit must still admit as its own batch")
  }

  test("AvailableNow + commits.per.batch drains in bounded PER-COMMIT batches") {
    // the SupportsAdmissionControl payoff: the AvailableNow wrapper
    // delegates latestOffset per batch capped at its pinned target, so a
    // capped drain marches one commit per micro-batch — three non-empty
    // batches (i@T1, u@T2, d@T3), never one backlog-sized batch
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.morPath(sfDir)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    val q = spark.readStream.format("hudi-graft")
      .option("incremental.format", "cdc")
      .option("stream.commits.per.batch", "1")
      .load(p)
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ops = b.select("op").distinct().collect().map(_.getString(0)).toSet
        if (ops.nonEmpty) batches.add(ops); ()
      }.start()
    try q.awaitTermination() finally q.stop()
    import scala.jdk.CollectionConverters._
    val seq = batches.asScala.toSeq
    assert(seq == Seq(Set("i"), Set("u"), Set("d")),
      s"expected three homogeneous per-commit batches, got $seq")
  }

  test("AvailableNow drains plan latestOffset with ZERO timeline relistings") {
    // the pin's handle saw every commit <= the pinned target, so a long
    // backlog drain must not pay one timeline listing per micro-batch in
    // latestOffset (VERDICT r13 item 3): after prepare, the marching
    // offers reuse the memoized table — counter-asserted on the
    // open-table cache's fingerprint listings
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.morPath(sfDir)
    case class TestOffset(ts: String)
        extends org.apache.spark.sql.execution.streaming.Offset {
      override def json(): String = ts
    }
    val src = new GraftCdcSource(spark, p, Map("stream.commits.per.batch" -> "1"))
    val lim = src.getDefaultReadLimit
    src.prepareForTriggerAvailableNow()
    val before = graft.table.HudiTable.fingerprintListings.get()
    assert(src.latestOffset(src.initialOffset(), lim).json() == T1)
    assert(src.latestOffset(TestOffset(T1), lim).json() == T2)
    assert(src.latestOffset(TestOffset(T2), lim).json() == T3)
    assert(src.latestOffset(TestOffset(T3), lim).json() == T3)
    val listings = graft.table.HudiTable.fingerprintListings.get() - before
    assert(listings == 0,
      s"a pinned drain's latestOffset calls must not relist the timeline: $listings")
    // continuous mode still polls: an unpinned offer pays exactly one
    val src2 = new GraftCdcSource(spark, p, Map.empty)
    val b2 = graft.table.HudiTable.fingerprintListings.get()
    src2.latestOffset(src2.initialOffset(), src2.getDefaultReadLimit)
    assert(graft.table.HudiTable.fingerprintListings.get() - b2 == 1,
      "a continuous trigger pays one listing — the poll that sees new commits")
  }

  test("streaming CDC over a cdc-enabled WRITER table serves from sidecars, zero joins") {
    // end-to-end composition: the write path's supplemental logging feeds
    // the streaming CDC source through the persisted reader — no
    // per-commit snapshot-diff joins anywhere in the drain
    val dir = graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/stream_cdc_persisted")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    import org.apache.spark.sql.functions._
    def w(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("hudi-graft")
        .option("hoodie.datasource.write.recordkey.field", "id")
        .option("hoodie.table.cdc.enabled", "true")
        .mode("append").save(dir)
    w(spark.range(1, 100).select(col("id"), lit("a").as("v")))
    w(spark.range(1, 100).filter(col("id") % 7 === 0)
      .select(col("id"), lit("b").as("v")))
    CdcMetrics.reset()
    val stream = spark.readStream.format("hudi-graft")
      .option("incremental.format", "cdc").load(dir)
    val got = drain(stream, "sink_cdc_persisted_stream")
      .groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("i" -> 99L, "u" -> 14L), got.toString)
    assert(CdcMetrics.inferredCommitJoins.get() == 0,
      "the drain must plan no snapshot-diff joins")
    assert(CdcMetrics.persistedCommits.get() >= 1 &&
      CdcMetrics.insertOnlyCommits.get() >= 1)
  }

  test("a mid-stream schema change refuses descriptively, not as an opaque assert") {
    val dir = graft.fixtures.HudiFixtureBuilder.targetPath("hudi-fixtures/cdc_schema_change")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    import org.apache.spark.sql.functions._
    def gen(extra: Boolean) = {
      val base = spark.range(1, 50).select(col("id"), lit("x").as("v"))
      if (extra) base.withColumn("added", lit(1L)) else base
    }
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("hudi-graft")
        .option("hoodie.datasource.write.recordkey.field", "id")
        .mode("append").save(dir)
    write(gen(extra = false))
    val src = new GraftCdcSource(spark, dir, Map.empty)
    val end = src.latestOffset(src.initialOffset(), src.getDefaultReadLimit)
    // the table evolves UNDER the running stream
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    write(gen(extra = true))
    val endAfter = src.latestOffset(src.initialOffset(), src.getDefaultReadLimit)
    val ex = intercept[IllegalStateException] {
      src.getBatch(None, endAfter.asInstanceOf[org.apache.spark.sql.execution.streaming.Offset])
    }
    assert(ex.getMessage.contains("schema changed mid-stream"), ex.getMessage)
  }

  test("the CATALOG routes refuse the cdc option loudly — never plain rows") {
    // the catalog path builds GraftTable without the option map, so
    // MICRO_BATCH_READ stays advertised and the DSv2 scan is chosen —
    // the scan-level check must fire UNCONDITIONALLY (not just under
    // query.type=incremental) or a catalog cdc stream would silently
    // serve table-schema rows
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.morPath(sfDir)
    spark.conf.set("spark.sql.catalog.hudi_graft",
      classOf[graft.sources.GraftCatalog].getName)
    // catalog STREAMING route
    val exStream = intercept[Exception] {
      val q = spark.readStream
        .option("hoodie.datasource.query.incremental.format", "cdc")
        .table(s"hudi_graft.`$p`")
        .writeStream.format("memory").queryName("graft_cdc_catalog_refuse")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(exStream).exists(_.contains("incremental.format=cdc")),
      s"catalog cdc stream must refuse, got: ${messages(exStream)}")
    // catalog BATCH route (no query.type set — previously silently ignored)
    val exBatch = intercept[Exception] {
      spark.read.option("incremental.format", "cdc")
        .table(s"hudi_graft.`$p`").collect()
    }
    assert(messages(exBatch).exists(_.contains("incremental.format=cdc")),
      s"catalog cdc batch must refuse, got: ${messages(exBatch)}")
  }

  test("a user-specified schema on the V1 path refuses on mismatch") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.morPath(sfDir)
    val ex = intercept[Exception] {
      spark.readStream.format("hudi-graft")
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "not_a_cdc_column", org.apache.spark.sql.types.StringType))))
        .option("incremental.format", "cdc")
        .load(p)
    }
    assert(ex.getMessage.contains("does not match"), ex.getMessage)
  }

  test("the streamed schema is the CDC image schema") {
    HudiFixtureBuilder.ensure(spark, sfDir)
    val p = HudiFixtureBuilder.morPath(sfDir)
    val s = spark.readStream.format("hudi-graft")
      .option("incremental.format", "cdc").load(p)
    assert(s.isStreaming)
    assert(s.schema.fieldNames.toSeq == Seq("op", "ts_ms", "before", "after"))
    // and without the option the plain row stream is untouched
    val plain = spark.readStream.format("hudi-graft").load(p)
    assert(plain.isStreaming && plain.schema.fieldNames.contains("o_orderkey"))
  }
}
