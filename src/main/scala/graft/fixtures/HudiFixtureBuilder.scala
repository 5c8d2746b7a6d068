package graft.fixtures

import graft.log.{LogFileWriter, SparkToAvro}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.DataOutputStream

import scala.jdk.CollectionConverters._

/** Deterministic Hudi tables derived from the driver's parquet testdata,
  * so every engine read path gets a DuckDB-checkable oracle: the fixture
  * content is a pure function of `orders`/`nation`, and each query's
  * expected result is plain SQL over those source tables.
  *
  * Layout mirrors the reference's golden tables (v6 layout, JSON commit
  * metadata, avro log blocks): one file group per partition, COW rewrites
  * carrying original commit times for unchanged records, MOR deltacommits
  * as avro data blocks (updates) and delete blocks (deletes).
  *
  * Instants: t1 inserts, t2 updates (o_orderkey % 7 = 0 → o_orderstatus
  * 'U'), t3 deletes (o_orderkey % 97 = 0).
  */
object HudiFixtureBuilder {
  val T1 = "20240101000000000"
  val T2 = "20240102000000000"
  val T3 = "20240103000000000"
  val T4 = "20240104000000000"
  val Token = "0-0-0"

  private val meta = Seq("_hoodie_commit_time", "_hoodie_commit_seqno",
    "_hoodie_record_key", "_hoodie_partition_path", "_hoodie_file_name")

  /** Absolute path of `rel` under the build's `target/` directory,
    * resolved against the working directory (sbt runs tests and mains
    * from the checkout root), so each checkout writes its fixtures into
    * its own tree.
    */
  def targetPath(rel: String): String = new java.io.File("target", rel).getAbsolutePath

  def root(sfDir: String): String = {
    val abs = new java.io.File(sfDir).getAbsolutePath
    val sf = new java.io.File(sfDir).getName
    // basename + abs-path hash: two different dirs sharing a leaf name
    // (e.g. /a/sf0.1 and /b/sf0.1) must NOT share one marker-guarded
    // fixture tree, or the second run reads fixtures derived from the
    // first dir's data while its oracle reads the second's
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    targetPath(s"hudi-fixtures/$sf-$h")
  }

  def cowPath(sfDir: String): String = s"${root(sfDir)}/cow_orders"
  def morPath(sfDir: String): String = s"${root(sfDir)}/mor_orders"
  def morLogOnlyPath(sfDir: String): String = s"${root(sfDir)}/mor_log_only"
  def partPath(sfDir: String): String = s"${root(sfDir)}/cow_part_nation"
  def nullpartPath(sfDir: String): String = s"${root(sfDir)}/cow_nullpart_nation"
  def strpartPath(sfDir: String): String = s"${root(sfDir)}/cow_strpart_region"
  def morInsertOnlyPath(sfDir: String): String = s"${root(sfDir)}/mor_insert_only"
  def droppedPath(sfDir: String): String = s"${root(sfDir)}/cow_dropped_nation"
  def evolvedPath(sfDir: String): String = s"${root(sfDir)}/cow_evolved_nation"
  def lancePath(sfDir: String): String = s"${root(sfDir)}/cow_lance_nation"
  def morLancePath(sfDir: String): String = s"${root(sfDir)}/mor_lance_nation"
  def lanceNullsPath(sfDir: String): String = s"${root(sfDir)}/cow_lance_nulls"
  def lanceEmbedPath(sfDir: String): String = s"${root(sfDir)}/cow_lance_embed"
  def lanceNullListPath(sfDir: String): String = s"${root(sfDir)}/cow_lance_nulllist"
  def lanceMediaPath(sfDir: String): String = s"${root(sfDir)}/cow_lance_media"
  def widenedPath(sfDir: String): String = s"${root(sfDir)}/cow_widened_nation"
  def morWidenedPath(sfDir: String): String = s"${root(sfDir)}/mor_widened_nation"
  def mdtPath(sfDir: String): String = s"${root(sfDir)}/cow_mdt_nation"
  def clusteredPath(sfDir: String): String = s"${root(sfDir)}/cow_clustered"
  def overwritePath(sfDir: String): String = s"${root(sfDir)}/cow_overwrite"
  def cdcPath(sfDir: String): String = s"${root(sfDir)}/cow_cdc_orders"
  def writePath(sfDir: String): String = s"${root(sfDir)}/writer_orders"
  def writeMorPath(sfDir: String): String = s"${root(sfDir)}/writer_mor_orders"
  def writeComplexPath(sfDir: String): String = s"${root(sfDir)}/writer_complex_orders"
  def writeIndexedPath(sfDir: String): String = s"${root(sfDir)}/writer_indexed_orders"
  def writeSqlPath(sfDir: String): String = s"${root(sfDir)}/writer_sql_orders"
  def writeEvolvedPath(sfDir: String): String = s"${root(sfDir)}/writer_evolved_orders"
  def writeCdcBeforePath(sfDir: String): String = s"${root(sfDir)}/writer_cdc_before_orders"
  def writeCompactedPath(sfDir: String): String = s"${root(sfDir)}/writer_compacted_orders"
  def writeColStatsPath(sfDir: String): String = s"${root(sfDir)}/writer_colstats_orders"
  def rangePath(sfDir: String): String = s"${root(sfDir)}/cow_range_orders"
  def datePath(sfDir: String): String = s"${root(sfDir)}/cow_date_orders"
  def pstatsPath(sfDir: String): String = s"${root(sfDir)}/cow_pstats_orders"
  def bloomPath(sfDir: String): String = s"${root(sfDir)}/cow_bloom_orders"
  def sidxPath(sfDir: String): String = s"${root(sfDir)}/cow_sidx_orders"

  /** File groups per partition — multiple slices per partition is the
    * realistic shape (and the unit of scan parallelism).
    */
  val Buckets = 3

  /** Once the versioned READY marker has been SEEN for an sf dir, skip
    * the per-call Configuration copy + FileSystem stat: every hudi_*
    * query invocation calls [[ensure]], so the bench pays this check
    * 650+ times per run (r15-opt). Fixtures are never unbuilt inside a
    * process, and the memo records only "marker observed" — metadata,
    * never query results.
    */
  private val readySeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Build all fixture tables once per sf dir (marker-guarded; the marker
    * is versioned so builder changes invalidate stale fixtures).
    */
  def ensure(spark: SparkSession, sfDir: String): Unit = {
    if (readySeen.contains(root(sfDir))) return
    ensureLocked(spark, sfDir)
  }

  private def ensureLocked(spark: SparkSession, sfDir: String): Unit = synchronized {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val marker = new Path(root(sfDir), "_GRAFT_FIXTURES_READY_v44")
    if (fs.exists(marker)) { readySeen.add(root(sfDir)); return }
    // cross-PROCESS exclusion (synchronized only guards this JVM):
    // create-exclusive a lock file holding a unique token. Losers poll
    // for the winner's marker, then RE-ATTEMPT acquisition (never build
    // lock-free); a holder only ever deletes the lock it created (token
    // compare), so a crashed build can't cascade into a waiter deleting
    // a lock a third process just acquired.
    val lock = new Path(targetPath("hudi-fixtures"), s"${new Path(root(sfDir)).getName}.lock")
    fs.mkdirs(lock.getParent)
    val token = java.util.UUID.randomUUID().toString
    def lockContent(): Option[String] =
      try Some(new String(graft.util.ReadFully(fs, lock), "UTF-8"))
      catch { case _: java.io.IOException => None }
    def deleteOwnLock(): Unit =
      try { if (lockContent().exists(_.startsWith(token))) fs.delete(lock, false) }
      catch { case _: java.io.IOException => }
    var hardDeadline = System.nanoTime() + 1200L * 1000000000L
    while (System.nanoTime() < hardDeadline) {
      if (fs.exists(marker)) return
      val acquired =
        try {
          val out = fs.create(lock, false)
          out.write(s"$token:0".getBytes("UTF-8")); out.close(); true
        } catch { case _: java.io.IOException => false }
      if (acquired) {
        // heartbeat: rewrite the lock every 30s so a LIVE-but-slow holder
        // is distinguishable from a dead one — waiters only break a lock
        // whose content stayed identical for their whole wait window
        val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
        val heartbeat = new Thread(() => {
          var n = 0L
          var mine = true
          try while (mine) {
            Thread.sleep(30000)
            n += 1
            try {
              // read-compare-write: if the lock no longer carries OUR
              // token, a waiter judged us dead (e.g. our heartbeat writes
              // were swallowed by IO errors for its full wait window) and
              // took over — stop heartbeating AND flag the build to abort
              // at its next step, so we can't keep writing into a tree
              // the new holder is rebuilding (deleteOwnLock() is
              // token-compared, so it degrades to a no-op too). The
              // compare and the overwrite are NOT atomic — a takeover
              // landing between them is still clobbered for one beat —
              // so this narrows the race rather than closing it:
              // best-effort test scaffolding, not a lock service.
              if (lockContent().exists(_.startsWith(s"$token:"))) {
                val out = fs.create(lock, true)
                out.write(s"$token:$n".getBytes("UTF-8")); out.close()
              } else { mine = false; lost.set(true) }
            } catch { case _: java.io.IOException => }
          } catch { case _: InterruptedException => }
        }, "fixture-lock-heartbeat")
        heartbeat.setDaemon(true)
        heartbeat.start()
        def own(): Unit = if (lost.get())
          throw new IllegalStateException(
            "fixture lock lost to another process — aborting this build; " +
              "the new holder rebuilds the tree from scratch")
        try {
          if (fs.exists(marker)) return
          fs.delete(new Path(root(sfDir)), true)
          buildCowOrders(spark, sfDir); own()
          buildMorOrders(spark, sfDir); own()
          buildMorLogOnly(spark, sfDir); own()
          buildCowClustered(spark, sfDir); own()
          buildCowOverwrite(spark, sfDir); own()
          buildCowCdcOrders(spark, sfDir); own()
          buildWriterOrders(spark, sfDir); own()
          buildWriterMorOrders(spark, sfDir); own()
          buildWriterComplexOrders(spark, sfDir); own()
          buildWriterIndexedOrders(spark, sfDir); own()
          buildWriterSqlOrders(spark, sfDir); own()
          buildWriterEvolvedOrders(spark, sfDir); own()
          buildWriterCdcBeforeOrders(spark, sfDir); own()
          buildWriterCompactedOrders(spark, sfDir); own()
          buildCowRangeOrders(spark, sfDir); own()
          buildWriterColStatsOrders(spark, sfDir); own()
          buildCowBloomOrders(spark, sfDir); own()
          buildCowDateOrders(spark, sfDir); own()
          buildCowPartStatsOrders(spark, sfDir); own()
          buildCowSecondaryIndexOrders(spark, sfDir); own()
          buildCowPartNation(spark, sfDir); own()
          buildCowNullpartNation(spark, sfDir); own()
          buildCowStrpartRegion(spark, sfDir); own()
          buildMorInsertOnly(spark, sfDir); own()
          buildCowDroppedNation(spark, sfDir); own()
          buildCowEvolvedNation(spark, sfDir); own()
          buildCowLanceNation(spark, sfDir); own()
          buildMorLanceNation(spark, sfDir); own()
          buildCowLanceNulls(spark, sfDir); own()
          buildCowLanceEmbed(spark, sfDir); own()
          buildCowLanceNullList(spark, sfDir); own()
          buildCowLanceMedia(spark, sfDir); own()
          buildCowWidenedNation(spark, sfDir); own()
          buildMorWidenedNation(spark, sfDir); own()
          buildCowMdtNation(spark, sfDir); own()
          fs.create(marker, true).close()
          return
        } finally {
          heartbeat.interrupt()
          heartbeat.join(5000)
          deleteOwnLock()
        }
      } else {
        // holder active: wait for its marker or lock release, bounded
        val observed = lockContent()
        val waitDeadline = System.nanoTime() + 600L * 1000000000L
        while (!fs.exists(marker) && fs.exists(lock) && System.nanoTime() < waitDeadline)
          Thread.sleep(500)
        if (fs.exists(marker)) return
        if (fs.exists(lock) && lockContent() == observed && observed.isDefined) {
          // identical content (token AND heartbeat counter) for the full
          // 600s wait: a live holder's heartbeat would have advanced the
          // counter, so the holder died — break exactly the lock we
          // observed, then re-acquire. The break must buy a fresh
          // acquisition window: a waiter whose second wait window ends at
          // the hard deadline would otherwise break the dead lock and
          // then throw instead of rebuilding.
          try { if (lockContent() == observed) fs.delete(lock, false) }
          catch { case _: java.io.IOException => }
          hardDeadline = math.max(hardDeadline,
            System.nanoTime() + 600L * 1000000000L)
        }
        // loop: re-attempt create-exclusive acquisition
      }
    }
    throw new IllegalStateException(s"fixture lock never released: $lock")
  }

  // ----------------------------------------------------------------------

  private def orders(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/orders.parquet")

  private def fileId(n: Int): String = f"00000000-0000-0000-0000-${n}%012d-0"

  /** Bucketed file id: partition index + bucket → one file group each. */
  private def fileIdB(partIdx: Int, bucket: Int): String =
    f"00000000-0000-0000-$partIdx%04d-$bucket%012d-0"

  private def bucketExpr: org.apache.spark.sql.Column =
    pmod(col("o_orderkey"), lit(Buckets)).cast("int")

  /** `_hoodie_commit_time` is row-driven (the per-row `__commit` column),
    * deliberately: a COW rewrite carries a mix of original and rewrite
    * commit times.
    */
  private def withMeta(df: DataFrame, partCol: String,
      fileName: org.apache.spark.sql.Column): DataFrame =
    df.select(
      col("__commit").as("_hoodie_commit_time") +:
        concat(col("__commit"), lit("_0_"), col("o_orderkey")).as("_hoodie_commit_seqno") +:
        col("o_orderkey").cast(StringType).as("_hoodie_record_key") +:
        col(partCol).as("_hoodie_partition_path") +:
        fileName.as("_hoodie_file_name") +:
        df.columns.filterNot(c => c.startsWith("__")).map(col).toSeq: _*)

  /** Per-row base file name for the bucketed layout. */
  private def bucketedFileName(partIdx: Int, commitTs: String): org.apache.spark.sql.Column =
    concat(
      format_string("00000000-0000-0000-%04d-%012d-0", lit(partIdx), bucketExpr),
      lit(s"_${Token}_$commitTs.parquet"))

  /** Write `df` (already meta-prefixed) as a single parquet base file. */
  private def writeBaseFile(spark: SparkSession, df: DataFrame, dir: Path, name: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val tmp = new Path(dir, s".tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.mkdirs(dir)
    fs.rename(part, new Path(dir, name))
    fs.delete(tmp, true)
  }

  /** Write one partition's rows as [[Buckets]] base files (one per file
    * group) in a single Spark job via partitionBy on the bucket, then
    * rename into Hudi base-file names. Returns (partition, fileId, relPath)
    * for the commit metadata; empty buckets yield no file.
    */
  private def writeBucketedBase(
      spark: SparkSession,
      base: Path,
      partDir: String,
      partIdx: Int,
      metaDf: DataFrame,
      commitTs: String
  ): Seq[(String, String, String)] = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val dir = new Path(base, partDir)
    val tmp = new Path(base, s".tmp_${partDir.replace('/', '_')}_$commitTs")
    metaDf
      .withColumn("__bucket", pmod(col("_hoodie_record_key").cast("long"), lit(Buckets)).cast("int"))
      .repartition(col("__bucket"))
      .write.partitionBy("__bucket").mode("overwrite").parquet(tmp.toString)
    fs.mkdirs(dir)
    val out = (0 until Buckets).flatMap { b =>
      val bucketDir = new Path(tmp, s"__bucket=$b")
      if (!fs.exists(bucketDir)) None
      else fs.listStatus(bucketDir).map(_.getPath).find(_.getName.startsWith("part-")).map { part =>
        val name = s"${fileIdB(partIdx, b)}_${Token}_$commitTs.parquet"
        fs.rename(part, new Path(dir, name))
        (partDir, fileIdB(partIdx, b), s"$partDir/$name")
      }
    }
    fs.delete(tmp, true)
    out
  }

  private def writeText(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    out.write(content.getBytes("UTF-8"))
    out.close()
  }

  private def writeProperties(fs: FileSystem, base: Path, name: String, tableType: String,
      partitionFields: Option[String], hiveStyle: Boolean, extraProps: String = ""): Unit = {
    val partLine = partitionFields.map(f => s"hoodie.table.partition.fields=$f\n").getOrElse("")
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      s"""hoodie.table.name=$name
         |hoodie.table.type=$tableType
         |hoodie.table.version=6
         |hoodie.timeline.layout.version=1
         |hoodie.table.recordkey.fields=o_orderkey
         |hoodie.table.precombine.field=o_custkey
         |$partLine""".stripMargin +
        s"hoodie.datasource.write.hive_style_partitioning=$hiveStyle\n" +
        "hoodie.datasource.write.partitionpath.urlencode=false\n" +
        "hoodie.populate.meta.fields=true\n" + extraProps)
  }

  /** v6 JSON commit metadata with enough structure for incremental
    * planning (`partitionToWriteStats` → fileId per partition).
    */
  private def writeCommit(fs: FileSystem, base: Path, ts: String, action: String,
      files: Seq[(String, String, String)], // (partition, fileId, relPath)
      schemaAvro: Option[String] = None): Unit = {
    val stats = files.groupBy(_._1).map { case (p, fsz) =>
      val entries = fsz.map { case (_, fid, rel) =>
        s"""{"fileId":"$fid","path":"$rel","partitionPath":"$p","prevCommit":"null"}"""
      }.mkString("[", ",", "]")
      s""""$p":$entries"""
    }.mkString("{", ",", "}")
    // extraMetadata.schema = the writer's DATA schema (no meta fields),
    // exactly as real Hudi records it — exercises the resolver's
    // commit-metadata-first path on every fixture read
    val extra = schemaAvro.map { s =>
      val esc = s.replace("\\", "\\\\").replace("\"", "\\\"")
      s""","extraMetadata":{"schema":"$esc"}"""
    }.getOrElse("")
    writeText(fs, new Path(base, s".hoodie/$ts.$action"),
      s"""{"partitionToWriteStats":$stats$extra,"compacted":false,"operationType":"UPSERT"}""")
  }

  // --- COW over orders, partitioned by o_orderpriority -------------------
  private def buildCowOrders(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(cowPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProperties(fs, base, "cow_orders", "COPY_ON_WRITE", Some("o_orderpriority"), hiveStyle = false)

    val src = orders(spark, sfDir)
    val parts = src.select("o_orderpriority").distinct().collect().map(_.getString(0)).sorted
    // commit 1: raw inserts, [[Buckets]] file groups per partition
    val files1 = parts.zipWithIndex.flatMap { case (p, i) =>
      val df = src.filter(col("o_orderpriority") === p).withColumn("__commit", lit(T1))
      writeBucketedBase(spark, base, p, i, withMeta(df, "o_orderpriority", bucketedFileName(i, T1)), T1)
    }
    val dataAvro = Some(SparkToAvro.toAvroSchema(src.schema, "orders_record").toString)
    writeCommit(fs, base, T1, "commit", files1.toSeq, dataAvro)

    // commit 2: COW rewrite — updated rows (%7=0 → status 'U') stamped T2,
    // unchanged rows keep T1 (Hudi preserves per-record commit times on copy)
    val files2 = parts.zipWithIndex.flatMap { case (p, i) =>
      val df = src.filter(col("o_orderpriority") === p)
        .withColumn("__upd", col("o_orderkey") % 7 === 0)
        .withColumn("o_orderstatus", when(col("__upd"), lit("U")).otherwise(col("o_orderstatus")))
        .withColumn("__commit", when(col("__upd"), lit(T2)).otherwise(lit(T1)))
        .drop("__upd")
      writeBucketedBase(spark, base, p, i, withMeta(df, "o_orderpriority", bucketedFileName(i, T2)), T2)
    }
    writeCommit(fs, base, T2, "commit", files2.toSeq, dataAvro)
  }

  // --- MOR over orders: base inserts + update log + delete log -----------
  private def buildMorOrders(spark: SparkSession, sfDir: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(hconf)
    val base = new Path(morPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProperties(fs, base, "mor_orders", "MERGE_ON_READ", Some("o_orderpriority"),
      hiveStyle = false,
      // advertises the record_index MDT partition built below; `files` is
      // deliberately absent so listing stays FS-based for this v6 table
      extraProps = "hoodie.table.metadata.partitions=record_index\n")

    val src = orders(spark, sfDir)
    val parts = src.select("o_orderpriority").distinct().collect().map(_.getString(0)).sorted
    val files1 = parts.zipWithIndex.flatMap { case (p, i) =>
      val df = src.filter(col("o_orderpriority") === p).withColumn("__commit", lit(T1))
      writeBucketedBase(spark, base, p, i, withMeta(df, "o_orderpriority", bucketedFileName(i, T1)), T1)
    }
    writeCommit(fs, base, T1, "commit", files1.toSeq,
      Some(SparkToAvro.toAvroSchema(src.schema, "orders_record").toString))

    // metadata-prefixed schema for log records = base file footer schema
    val tableSchema = spark.read
      .parquet(new Path(base, files1.head._3).toString).schema
    val avroSchema = SparkToAvro.toAvroSchema(tableSchema, "mor_orders_record")

    // deltacommit T2: per-file-group update log blocks — avro data blocks
    // everywhere except one parquet data block (both formats are covered
    // by the same oracle-checked snapshot/incremental queries)
    val updates = src.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("__commit", lit(T2))
    // _hoodie_file_name is stamped per log file below: real Hudi (and
    // this repo's writer) name a log record's file as the log's own name
    val updMeta = withMeta(updates, "o_orderpriority", lit(""))
      .withColumn("__bucket", pmod(col("_hoodie_record_key").cast("long"), lit(Buckets)).cast("int"))
    val updRows = updMeta.collect()
    val partIdx = parts.zipWithIndex.toMap
    val files2 = updRows
      .groupBy(r => (r.getAs[String]("_hoodie_partition_path"), r.getAs[Int]("__bucket")))
      .toSeq.sortBy(_._1)
      .map { case ((p, b), rows) =>
        val i = partIdx(p)
        val logName = s".${fileIdB(i, b)}_$T1.log.1_$Token"
        val out = new DataOutputStream(fs.create(new Path(new Path(base, p), logName), true))
        val dataRows = rows.map(r =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1).updated(4, logName)))
        try {
          if (i == 0 && b == 0) {
            // parquet-format block: spill the rows through a parquet write
            val tmp = new Path(base, ".tmp_logpq")
            spark.createDataFrame(
              spark.sparkContext.parallelize(dataRows.toIndexedSeq, 1), tableSchema)
              .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
            val bytes = graft.util.ReadFully(fs, part)
            fs.delete(tmp, true)
            LogFileWriter.parquetDataBlock(out, T2, avroSchema, bytes)
          } else {
            LogFileWriter.avroDataBlock(out, T2, avroSchema,
              dataRows.map(SparkToAvro.toRecord(_, tableSchema, avroSchema)).toSeq)
          }
        } finally out.close()
        (p, fileIdB(i, b), s"$p/$logName")
      }
    writeCommit(fs, base, T2, "deltacommit", files2)

    // deltacommit T3: delete blocks (orderingVal = o_custkey, equal to the
    // record's → commit-time tiebreak decides, T3 wins)
    val delRows = src.filter(col("o_orderkey") % 97 === 0)
      .select("o_orderpriority", "o_orderkey", "o_custkey").collect()
    val files3 = delRows
      .groupBy(r => (r.getString(0), (r.getLong(1) % Buckets).toInt))
      .toSeq.sortBy(_._1)
      .map { case ((p, b), rows) =>
        val i = partIdx(p)
        val logName = s".${fileIdB(i, b)}_$T1.log.2_$Token"
        val out = new DataOutputStream(fs.create(new Path(new Path(base, p), logName), true))
        try LogFileWriter.deleteBlock(out, T3, avroSchema,
          rows.map(r => (r.getLong(1).toString, p, r.getLong(2))).toSeq)
        finally out.close()
        (p, fileIdB(i, b), s"$p/$logName")
      }
    writeCommit(fs, base, T3, "deltacommit", files3)

    // --- record_index MDT partition: every record key → its (partition,
    // fileId) location, split over TWO index file groups by Hudi's real
    // key-hash mapping (HoodieTableMetadataUtil.mapRecordKeyToFileGroupIndex
    // — validated against the reference's real trips bytes) so mapped
    // point lookups and the distributed group-shuffled lookup find every
    // key. Partition 0's entries use fileIdEncoding=1 (raw string), the
    // rest encoding=0 (UUID high/low bits + fileIndex) — both public
    // Hudi encodings.
    val mdt = new Path(base, ".hoodie/metadata")
    fs.mkdirs(new Path(mdt, ".hoodie"))
    writeText(fs, new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=mor_orders_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    writeText(fs, new Path(mdt, s".hoodie/$T1.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    val keyLoc = src.select("o_orderkey", "o_orderpriority").collect().map { r =>
      val k = r.getLong(0)
      val p = r.getString(1)
      (k, p, fileIdB(partIdx(p), (k % Buckets).toInt))
    }
    val riDir = new Path(mdt, "record_index")
    fs.mkdirs(riDir)
    for (g <- 0 until 2) {
      val records = keyLoc
        .filter(kl => graft.table.RecordIndex.fileGroupIndex(kl._1.toString, 2) == g)
        .map { case (k, p, fid) =>
          k.toString -> recordIndexBytes(k.toString, p, fid, T1.toLong,
            rawEncoding = partIdx(p) == 0)
        }
        .sortBy(_._1)
      val bytes = graft.hfile.HFileWriter.write(
        records.toIndexedSeq,
        Map("schema" -> recordIndexAvroSchema.toString.getBytes("UTF-8")),
        recordsPerBlock = 64)
      val out = fs.create(new Path(riDir, s"record-index-000$g-0_${Token}_$T1.hfile"), true)
      out.write(bytes)
      out.close()
    }
  }

  // --- COW, non-partitioned, with a CLUSTER replacecommit -----------------
  // T1 commit: inserts split over TWO file groups by key parity. T2
  // commit: COW rewrite of both groups (%7==0 → status 'U', commit T2;
  // unchanged rows keep T1). T3 replacecommit (operationType CLUSTER):
  // rewrites BOTH groups into ONE new file group, PRESERVING per-row
  // commit times — the write stats advertise the new group, the
  // partitionToReplaceFileIds exclude the old ones (R4), so a snapshot
  // as of >= T3 reads only the clustered group and an incremental range
  // straddling T3 plans touched-minus-replaced (the reference's
  // get_file_groups_between set-difference, timeline/mod.rs:333-386).
  private def buildCowClustered(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(clusteredPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProperties(fs, base, "cow_clustered", "COPY_ON_WRITE", None, hiveStyle = false)
    val src = orders(spark, sfDir).withColumn("__part", lit(""))
    val dataAvro = Some(SparkToAvro.toAvroSchema(
      orders(spark, sfDir).schema, "orders_record").toString)

    def grp(df: DataFrame, g: Int): DataFrame =
      df.filter(pmod(col("o_orderkey"), lit(2)) === g)

    val files1 = (0 until 2).map { g =>
      val name = s"${fileId(g)}_${Token}_$T1.parquet"
      writeBaseFile(spark,
        withMeta(grp(src, g).withColumn("__commit", lit(T1)), "__part", lit(name)), base, name)
      ("", fileId(g), name)
    }
    writeCommit(fs, base, T1, "commit", files1, dataAvro)

    val upd = src
      .withColumn("__upd", col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", when(col("__upd"), lit("U")).otherwise(col("o_orderstatus")))
      .withColumn("__commit", when(col("__upd"), lit(T2)).otherwise(lit(T1)))
      .drop("__upd")
    val files2 = (0 until 2).map { g =>
      val name = s"${fileId(g)}_${Token}_$T2.parquet"
      writeBaseFile(spark, withMeta(grp(upd, g), "__part", lit(name)), base, name)
      ("", fileId(g), name)
    }
    writeCommit(fs, base, T2, "commit", files2, dataAvro)

    // T3: the clustered group — same rows, same per-row commit times
    val cname = s"${fileId(9)}_${Token}_$T3.parquet"
    writeBaseFile(spark, withMeta(upd, "__part", lit(cname)), base, cname)
    writeText(fs, new Path(base, s".hoodie/$T3.replacecommit"),
      s"""{"partitionToWriteStats":{"":[{"fileId":"${fileId(9)}","path":"$cname","partitionPath":""}]},""" +
        s""""partitionToReplaceFileIds":{"":["${fileId(0)}","${fileId(1)}"]},""" +
        """"compacted":false,"operationType":"CLUSTER"}""")
  }

  // --- COW, non-partitioned, with an INSERT_OVERWRITE replacecommit ------
  // T1 commit: inserts split over TWO file groups by key parity, all
  // stamped T1. T2 replacecommit (operationType INSERT_OVERWRITE): ONE
  // new file group holding only the %3!=0 keys (the %3==0 keys are
  // logically DELETED by the overwrite), %7==0 survivors restatused to
  // 'V', every surviving row stamped T2 (real Hudi writes overwrite rows
  // as fresh inserts with the new commit time — unlike clustering, which
  // preserves stamps). Drives the inferred-CDC replace path: before-image
  // from the REPLACED groups as of T1, after-image from the new group,
  // 'd' for replaced-only keys.
  private def buildCowOverwrite(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(overwritePath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProperties(fs, base, "cow_overwrite", "COPY_ON_WRITE", None, hiveStyle = false)
    val src0 = orders(spark, sfDir)
    val src = src0.withColumn("__part", lit(""))
    val dataAvro = Some(SparkToAvro.toAvroSchema(src0.schema, "orders_record").toString)

    val files1 = (0 until 2).map { g =>
      val name = s"${fileId(g)}_${Token}_$T1.parquet"
      writeBaseFile(spark,
        withMeta(src.filter(pmod(col("o_orderkey"), lit(2)) === g)
          .withColumn("__commit", lit(T1)), "__part", lit(name)),
        base, name)
      ("", fileId(g), name)
    }
    writeCommit(fs, base, T1, "commit", files1, dataAvro)

    // T2: the overwrite group — survivors only, all stamped T2
    val surv = src.filter(col("o_orderkey") % 3 =!= 0)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 7 === 0, lit("V")).otherwise(col("o_orderstatus")))
      .withColumn("__commit", lit(T2))
    val oname = s"${fileId(9)}_${Token}_$T2.parquet"
    writeBaseFile(spark, withMeta(surv, "__part", lit(oname)), base, oname)
    writeText(fs, new Path(base, s".hoodie/$T2.replacecommit"),
      s"""{"partitionToWriteStats":{"":[{"fileId":"${fileId(9)}","path":"$oname","partitionPath":"","prevCommit":"null"}]},""" +
        s""""partitionToReplaceFileIds":{"":["${fileId(0)}","${fileId(1)}"]},""" +
        """"compacted":false,"operationType":"INSERT_OVERWRITE"}""")
  }

  // --- COW, non-partitioned, with PERSISTED CDC sidecar log files --------
  // hoodie.table.cdc.enabled=true + supplemental logging data_before_after.
  // T1 inserts TWO file groups by key parity with NO sidecars (fresh
  // groups are upstream's add-base-file case — CDC readers serve them
  // one-sided). T2 COW-rewrites both groups: %97 keys DELETED, surviving
  // %7 keys restatused 'U' — one `-cdc` sidecar per group holding the
  // exact before/after images, write stats carrying prevCommit=T1 and
  // cdcStats. T3 rewrites again: surviving %5 keys → 'W' (before images
  // reflect the T2 state, 'U' on %7∩%5 keys). T4 CLEANS the T1 base
  // files (clean instant + file removal): the T2 before state is gone,
  // so the INFERENCE path must refuse (T1, T2] while the sidecar path
  // still serves it — the cleaner-horizon shrink persisted CDC buys.
  private def buildCowCdcOrders(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(cdcPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProperties(fs, base, "cow_cdc_orders", "COPY_ON_WRITE", None, hiveStyle = false,
      extraProps = "hoodie.table.cdc.enabled=true\n" +
        "hoodie.table.cdc.supplemental.logging.mode=data_before_after\n")
    val src0 = orders(spark, sfDir)
    val dataSchema = src0.schema
    val dataAvro = Some(SparkToAvro.toAvroSchema(dataSchema, "orders_record").toString)
    val cdcAvro = SparkToAvro.cdcAvroSchema(dataSchema, "orders_record")
    val src = src0.withColumn("__part", lit(""))
    def grp(df: DataFrame, g: Int): DataFrame =
      df.filter(pmod(col("o_orderkey"), lit(2)) === g)
    val statusIdx = dataSchema.fieldIndex("o_orderstatus")
    def restatus(r: org.apache.spark.sql.Row, st: String): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(statusIdx, st))
    def tsMs(ts: String): String = graft.core.Timestamps.timelineToEpochMillis(ts).toString

    /** One sidecar per (group, commit): upstream's `-cdc` log-file name
      * (CDC_LOGFILE_SUFFIX on the write token) with one CdcData block.
      * Returns (relPath, bytes) for the write stat's cdcStats.
      */
    def writeCdc(g: Int, ts: String,
        recs: Seq[org.apache.avro.generic.GenericRecord]): (String, Long) = {
      val name = s".${fileId(g)}_$ts.log.1_$Token-cdc"
      val out = new DataOutputStream(fs.create(new Path(base, name), true))
      try LogFileWriter.cdcDataBlock(out, ts, cdcAvro, recs) finally out.close()
      (name, fs.getFileStatus(new Path(base, name)).getLen)
    }

    /** v6 JSON commit with per-stat prevCommit + cdcStats. */
    def writeCdcCommit(ts: String,
        entries: Seq[(String, String, String, (String, Long))]): Unit = {
      val stats = entries.map { case (fid, rel, prevCommit, (cdcRel, cdcLen)) =>
        s"""{"fileId":"$fid","path":"$rel","partitionPath":"","prevCommit":"$prevCommit",""" +
          s""""cdcStats":{"$cdcRel":$cdcLen}}"""
      }.mkString("[", ",", "]")
      val esc = dataAvro.get.replace("\\", "\\\\").replace("\"", "\\\"")
      writeText(fs, new Path(base, s".hoodie/$ts.commit"),
        s"""{"partitionToWriteStats":{"":$stats},"extraMetadata":{"schema":"$esc"},""" +
          """"compacted":false,"operationType":"UPSERT"}""")
    }

    // T1: inserts, no sidecars
    val files1 = (0 until 2).map { g =>
      val name = s"${fileId(g)}_${Token}_$T1.parquet"
      writeBaseFile(spark,
        withMeta(grp(src, g).withColumn("__commit", lit(T1)), "__part", lit(name)), base, name)
      ("", fileId(g), name)
    }
    writeCommit(fs, base, T1, "commit", files1, dataAvro)

    // T2: rewrite — %97 deleted, surviving %7 → 'U'
    val st2 = src.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("__upd", col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", when(col("__upd"), lit("U")).otherwise(col("o_orderstatus")))
      .withColumn("__commit", when(col("__upd"), lit(T2)).otherwise(lit(T1)))
      .drop("__upd")
    val entries2 = (0 until 2).map { g =>
      val name = s"${fileId(g)}_${Token}_$T2.parquet"
      writeBaseFile(spark, withMeta(grp(st2, g), "__part", lit(name)), base, name)
      val dels = grp(src0, g).filter(col("o_orderkey") % 97 === 0)
        .collect().toSeq.sortBy(_.getLong(0))
        .map(r => SparkToAvro.cdcRecord(cdcAvro, dataSchema, "d", tsMs(T2), Some(r), None))
      val upds = grp(src0, g)
        .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 97 =!= 0)
        .collect().toSeq.sortBy(_.getLong(0))
        .map(r => SparkToAvro.cdcRecord(cdcAvro, dataSchema, "u", tsMs(T2),
          Some(r), Some(restatus(r, "U"))))
      (fileId(g), name, T1, writeCdc(g, T2, dels ++ upds))
    }
    writeCdcCommit(T2, entries2)

    // T3: rewrite — surviving %5 → 'W' (before = T2 state)
    val st3 = st2
      .withColumn("__u3", col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", when(col("__u3"), lit("W")).otherwise(col("o_orderstatus")))
      .withColumn("__commit", when(col("__u3"), lit(T3)).otherwise(col("__commit")))
      .drop("__u3")
    val entries3 = (0 until 2).map { g =>
      val name = s"${fileId(g)}_${Token}_$T3.parquet"
      writeBaseFile(spark, withMeta(grp(st3, g), "__part", lit(name)), base, name)
      val upds = grp(src0, g)
        .filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 97 =!= 0)
        .collect().toSeq.sortBy(_.getLong(0))
        .map { r =>
          val before = if (r.getLong(0) % 7 == 0) restatus(r, "U") else r
          SparkToAvro.cdcRecord(cdcAvro, dataSchema, "u", tsMs(T3),
            Some(before), Some(restatus(r, "W")))
        }
      (fileId(g), name, T2, writeCdc(g, T3, upds))
    }
    writeCdcCommit(T3, entries3)

    // T4: clean the T1 base files — the T2 before state is now gone
    (0 until 2).foreach { g =>
      fs.delete(new Path(base, s"${fileId(g)}_${Token}_$T1.parquet"), false)
    }
    writeText(fs, new Path(base, s".hoodie/$T4.clean"),
      s"""{"startCleanTime":"$T4","earliestCommitToRetain":"$T2"}""")
  }

  // --- writer dogfood: built through the PUBLIC df.write.format API ------
  // c1 inserts orders partitioned by o_orderpriority, c2 upserts the %7
  // keys to status 'U', c3 DELETEs the %97 keys (a keys-only input) — the
  // same transformations as cow_orders/mor_orders, but produced by
  // graft.write.HudiWriter instead of this builder, so the oracle gate
  // verifies the WRITE path (insert, upsert, delete) end-to-end through
  // every reader.
  private def buildWriterOrders(spark: SparkSession, sfDir: String): Unit = {
    val path = writePath(sfDir)
    val src = orders(spark, sfDir)
    def w(df: DataFrame, operation: String) = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.datasource.write.operation", operation)
      .option("hoodie.table.name", "writer_orders")
      .mode("append").save(path)
    w(src, "insert")
    w(src.filter(col("o_orderkey") % 7 === 0).withColumn("o_orderstatus", lit("U")),
      "upsert")
    w(src.filter(col("o_orderkey") % 97 === 0).select("o_orderkey", "o_orderpriority"),
      "delete")
    // run the CLEANER (retain the last two commits): the c1 slice versions
    // delete, so hudi_write_roundtrip/_incremental hash-verify that
    // snapshots and in-horizon incremental reads survive cleaning
    graft.write.HudiCleaner.clean(spark, path, retainCommits = 2)
  }

  // --- MOR writer dogfood: the SAME insert/%7-upsert/%97-delete sequence,
  // but against a MERGE_ON_READ target — c1 writes parquet base files, c2
  // appends avro-data log blocks, c3 appends delete blocks (all
  // deltacommits, no base rewrites), so the oracle gate verifies the MOR
  // write path (log emission, naming, merge-visible semantics) through
  // the snapshot and incremental readers.
  private def buildWriterMorOrders(spark: SparkSession, sfDir: String): Unit = {
    val path = writeMorPath(sfDir)
    val src = orders(spark, sfDir)
    def w(df: DataFrame, operation: String) = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.table.type", "MERGE_ON_READ")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.datasource.write.operation", operation)
      .option("hoodie.table.name", "writer_mor_orders")
      .mode("append").save(path)
    w(src, "insert")
    w(src.filter(col("o_orderkey") % 7 === 0).withColumn("o_orderstatus", lit("U")),
      "upsert")
    w(src.filter(col("o_orderkey") % 97 === 0).select("o_orderkey", "o_orderpriority"),
      "delete")
  }

  // --- complex-key writer dogfood: TWO-field record key (o_orderkey,
  // o_custkey) rendered ComplexKeyGenerator-style plus hive-style
  // partitioning, built through the public API — insert then the %7
  // upsert, so the oracle verifies composite-key matching end-to-end
  // (a rendering mismatch between the probe and the stored keys would
  // duplicate every updated row and hash-fail).
  private def buildWriterComplexOrders(spark: SparkSession, sfDir: String): Unit = {
    val path = writeComplexPath(sfDir)
    val src = orders(spark, sfDir)
    def w(df: DataFrame, operation: String) = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey,o_custkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_totalprice")
      .option("hoodie.datasource.write.hive_style_partitioning", "true")
      .option("hoodie.datasource.write.operation", operation)
      .option("hoodie.table.name", "writer_complex_orders")
      .mode("append").save(path)
    w(src, "insert")
    w(src.filter(col("o_orderkey") % 7 === 0).withColumn("o_orderstatus", lit("U")),
      "upsert")
  }

  // --- record-index writer dogfood: a COPY of mor_orders (v6 MOR + a
  // real two-group record_index MDT) upserted through the public API —
  // the probe routes through the index (zero snapshot scans,
  // HudiIndexedWriterSpec counter-asserts) and the index is MAINTAINED,
  // so the point-lookup entry reads the writer's commit through the
  // index plan itself.
  private def buildWriterIndexedOrders(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val dst = new Path(writeIndexedPath(sfDir))
    fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(morPath(sfDir)), fs, dst, false,
      spark.sessionState.newHadoopConf())
    orders(spark, sfDir).filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("X"))
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.table.name", "writer_indexed_orders")
      .mode("append").save(dst.toString)
  }

  // --- SQL-DML writer dogfood: the table is CREATEd and populated
  // entirely through the SQL surface (GraftCatalog createTable +
  // INSERT INTO BY NAME + an upsert INSERT), so the oracle verifies
  // upstream's primary write interface end-to-end.
  private def buildWriterSqlOrders(spark: SparkSession, sfDir: String): Unit = {
    val path = writeSqlPath(sfDir)
    spark.conf.set("spark.sql.catalog.graft_fixture_cat", "graft.sources.GraftCatalog")
    val src = orders(spark, sfDir)
    spark.sql(
      s"""CREATE TABLE graft_fixture_cat.`$path` (${src.schema.toDDL})
         |USING `hudi-graft`
         |PARTITIONED BY (o_orderpriority)
         |TBLPROPERTIES ('primaryKey' = 'o_orderkey', 'preCombineField' = 'o_custkey')
         |""".stripMargin)
    src.createOrReplaceTempView("graft_sql_src")
    spark.sql(
      s"INSERT INTO graft_fixture_cat.`$path` BY NAME SELECT * FROM graft_sql_src")
    spark.sql(
      s"""INSERT INTO graft_fixture_cat.`$path` BY NAME
         |SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
         |       o_orderdate, o_orderpriority
         |FROM graft_sql_src WHERE o_orderkey % 7 = 0""".stripMargin)
  }

  // --- schema-evolution writer dogfood: c1 inserts with an INT o_qty;
  // the %7 upsert WIDENS it to LONG and ADDS o_tag — the commit records
  // the evolved schema, older files upcast/null-fill on read, and the
  // oracle hash-checks the whole boundary.
  private def buildWriterEvolvedOrders(spark: SparkSession, sfDir: String): Unit = {
    val path = writeEvolvedPath(sfDir)
    val src = orders(spark, sfDir)
      .withColumn("o_qty", (col("o_orderkey") % 50).cast(IntegerType))
    def w(df: DataFrame) = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.table.name", "writer_evolved_orders")
      .mode("append").save(path)
    w(src)
    w(src.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_qty", (col("o_qty") * 1000L).cast(LongType))
      .withColumn("o_tag", lit("EVOLVED")))
  }

  // --- data_before CDC writer dogfood: supplemental logging mode
  // `data_before` — blocks carry exact before images only; the feed's
  // after side is a one-sided read, no snapshot-diff joins
  // (CdcPartialModeSpec counter-asserts; this fixture puts the whole
  // mode under the oracle hash).
  private def buildWriterCdcBeforeOrders(spark: SparkSession, sfDir: String): Unit = {
    val path = writeCdcBeforePath(sfDir)
    val src = orders(spark, sfDir)
    def w(df: DataFrame, operation: String) = df.write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.partitionpath.field", "o_orderpriority")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .option("hoodie.table.cdc.enabled", "true")
      .option("hoodie.table.cdc.supplemental.logging.mode", "data_before")
      .option("hoodie.datasource.write.operation", operation)
      .mode("append").save(path)
    w(src, "insert")
    w(src.filter(col("o_orderkey") % 7 === 0).withColumn("o_orderstatus", lit("U")),
      "upsert")
    w(src.filter(col("o_orderkey") % 13 === 0).select("o_orderkey", "o_orderpriority"),
      "delete")
  }

  // --- compaction dogfood: a COPY of writer_mor_orders compacted via
  // graft.write.HudiCompaction — every log-carrying slice folds into a
  // fresh base at the compaction instant. The oracle entry reads
  // READ-OPTIMIZED mode against the FULL merged oracle: before
  // compaction RO would show no updates and resurrect the deletes
  // (hash-fail), so a green hash proves the fold is real.
  private def buildWriterCompactedOrders(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val dst = new Path(writeCompactedPath(sfDir))
    fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(writeMorPath(sfDir)), fs, dst, false,
      spark.sessionState.newHadoopConf())
    graft.write.HudiCompaction.compact(spark, dst.toString)
  }

  // --- column_stats writer dogfood: a COPY of cow_range_orders (the
  // column_stats MDT fixture) upserted through the public API — the
  // rewritten groups' NEW files get exact maintained index entries, and
  // the key-range oracle query plans over the mixed old/new index (a
  // wrong maintained bound would either prune live rows out or
  // hash-fail on the updated statuses).
  private def buildWriterColStatsOrders(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val dst = new Path(writeColStatsPath(sfDir))
    fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(rangePath(sfDir)), fs, dst, false,
      spark.sessionState.newHadoopConf())
    orders(spark, sfDir).filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("X"))
      .write.format("hudi-graft")
      .option("hoodie.datasource.write.recordkey.field", "o_orderkey")
      .option("hoodie.datasource.write.precombine.field", "o_custkey")
      .mode("append").save(dst.toString)
  }

  // --- COW, non-partitioned, RANGE-split file groups + column_stats MDT --
  // T1 commit: 4 file groups holding contiguous o_orderkey quartiles; the
  // MDT column_stats partition carries each group's TRUE (min, max) of
  // o_orderkey (public HoodieMetadataColumnStats shape, LongWrapper
  // bounds), advertised via hoodie.table.metadata.partitions — so a
  // key-range DSv2 read prunes file groups from ONE indexed metadata
  // read with zero footer fetches (`hudi_colstats_pruned`).
  private def buildCowRangeOrders(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(rangePath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProperties(fs, base, "cow_range_orders", "COPY_ON_WRITE", None, hiveStyle = false,
      extraProps = "hoodie.table.metadata.partitions=column_stats\n")
    val src0 = orders(spark, sfDir)
    val src = src0.withColumn("__part", lit(""))
    val dataAvro = Some(SparkToAvro.toAvroSchema(src0.schema, "orders_record").toString)
    val maxKey = src0.agg(max(col("o_orderkey"))).head.getLong(0)
    val grpExpr = least(lit(3), ((col("o_orderkey") - 1) * 4 / lit(maxKey)).cast("int"))

    val files1 = (0 until 4).map { g =>
      val name = s"${fileId(g)}_${Token}_$T1.parquet"
      writeBaseFile(spark,
        withMeta(src.filter(grpExpr === g).withColumn("__commit", lit(T1)), "__part", lit(name)),
        base, name)
      ("", fileId(g), name)
    }
    writeCommit(fs, base, T1, "commit", files1, dataAvro)

    // per-group TRUE key ranges + row counts for the index (valueCount +
    // nullCount=0 sums to the exact file row count — the COUNT(*) path)
    val ranges = src0.withColumn("__g", grpExpr).groupBy("__g")
      .agg(min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"),
        count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // per-group TRUE string extremes: o_orderpriority entries are TIGHT
    // (exact extreme values — the index-only MIN/MAX(string) serving
    // tier), o_orderstatus entries are LOOSE (correct ranges, so they
    // still prune, but writer-truncation-possible — MIN/MAX must fall
    // back to a real scan; the negative test pins that)
    val strRanges = src0.withColumn("__g", grpExpr).groupBy("__g")
      .agg(min(col("o_orderpriority")).as("pmn"), max(col("o_orderpriority")).as("pmx"),
        min(col("o_orderstatus")).as("smn"), max(col("o_orderstatus")).as("smx"))
      .collect().map(r => r.getInt(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toMap

    val mdt = new Path(base, ".hoodie/metadata")
    fs.mkdirs(new Path(mdt, ".hoodie"))
    writeText(fs, new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_range_orders_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    writeText(fs, new Path(mdt, s".hoodie/$T1.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    val csDir = new Path(mdt, "column_stats")
    fs.mkdirs(csDir)
    val records = (0 until 4).flatMap { g =>
      val name = s"${fileId(g)}_${Token}_$T1.parquet"
      val (mn, mx, cnt) = ranges(g)
      val (pmn, pmx, smn, smx) = strRanges(g)
      Seq(
        f"csa$g%04d" -> columnStatsBytes(f"csa$g%04d", name, "o_orderkey", mn, mx,
          valueCount = cnt),
        f"csb$g%04d" -> columnStatsBytes(f"csb$g%04d", name, "o_orderpriority", pmn, pmx,
          wrapper = "StringWrapper", valueCount = cnt, tight = true),
        f"csc$g%04d" -> columnStatsBytes(f"csc$g%04d", name, "o_orderstatus", smn, smx,
          wrapper = "StringWrapper", valueCount = cnt, tight = false))
    }
    val bytes = graft.hfile.HFileWriter.write(
      records.sortBy(_._1).toIndexedSeq,
      Map("schema" -> columnStatsAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val out = fs.create(new Path(csDir, s"col-stats-0000-0_${Token}_$T1.hfile"), true)
    out.write(bytes)
    out.close()
  }

  // --- COW, non-partitioned, MODULO-split groups + bloom_filters MDT -----
  // T1 commit: 4 file groups holding o_orderkey % 4 residue classes —
  // every group's key RANGE spans the whole table, so min/max stats can
  // never prune an equality probe; only the per-file BLOOM can (the
  // data-skipping tier column_stats cannot replace). The MDT
  // bloom_filters partition carries one real hadoop murmur bloom per
  // file (Hudi's SIMPLE type serialization) over the group's record-key
  // strings, keyed by the hashed (partition, file) index key.
  private def buildCowBloomOrders(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(bloomPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProperties(fs, base, "cow_bloom_orders", "COPY_ON_WRITE", None, hiveStyle = false,
      extraProps = "hoodie.table.metadata.partitions=bloom_filters\n")
    val src0 = orders(spark, sfDir)
    val src = src0.withColumn("__part", lit(""))
    val dataAvro = Some(SparkToAvro.toAvroSchema(src0.schema, "orders_record").toString)
    val grpExpr = (col("o_orderkey") % 4).cast("int")
    val files1 = (0 until 4).map { g =>
      val name = s"${fileId(g)}_${Token}_$T1.parquet"
      writeBaseFile(spark,
        withMeta(src.filter(grpExpr === g).withColumn("__commit", lit(T1)), "__part", lit(name)),
        base, name)
      ("", fileId(g), name)
    }
    writeCommit(fs, base, T1, "commit", files1, dataAvro)

    val keysByGroup = src0.select((col("o_orderkey") % 4).cast("int").as("g"),
        col("o_orderkey").cast(StringType).as("k"))
      .collect().groupBy(_.getInt(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap

    val mdt = new Path(base, ".hoodie/metadata")
    fs.mkdirs(new Path(mdt, ".hoodie"))
    writeText(fs, new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_bloom_orders_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    writeText(fs, new Path(mdt, s".hoodie/$T1.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    val bfDir = new Path(mdt, "bloom_filters")
    fs.mkdirs(bfDir)
    val records = (0 until 4).map { g =>
      val name = s"${fileId(g)}_${Token}_$T1.parquet"
      val key = graft.table.BloomFilterIndex.indexKey("", name)
      key -> bloomFilterBytes(key,
        graft.table.BloomFilterIndex.serializeBloom(keysByGroup.getOrElse(g, Nil)))
    }.sortBy(_._1)
    val bytes = graft.hfile.HFileWriter.write(
      records.toIndexedSeq,
      Map("schema" -> bloomFilterAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val out = fs.create(new Path(bfDir, s"bloom-filters-0000-0_${Token}_$T1.hfile"), true)
    out.write(bytes)
    out.close()
  }

  private val bloomFilterAvroSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"HoodieMetadataRecord","fields":[
        |{"name":"key","type":"string"},
        |{"name":"type","type":"int"},
        |{"name":"BloomFilterMetadata","type":["null",
        |  {"type":"record","name":"HoodieMetadataBloomFilter","fields":[
        |    {"name":"type","type":"string"},
        |    {"name":"timestamp","type":"string"},
        |    {"name":"bloomFilter","type":"bytes"},
        |    {"name":"isDeleted","type":"boolean"}]}],"default":null}
        |]}""".stripMargin.replaceAll("\n", ""))

  /** One serialized HoodieMetadataRecord in the BloomFilterMetadata
    * shape (`recType` 4 = bloom_filters, records.rs:115-116).
    */
  private def bloomFilterBytes(key: String, bloomBytes: Array[Byte]): Array[Byte] = {
    import org.apache.avro.generic.GenericData
    val bmSchema = bloomFilterAvroSchema.getField("BloomFilterMetadata").schema().getTypes.get(1)
    val rec = new GenericData.Record(bloomFilterAvroSchema)
    rec.put("key", key)
    rec.put("type", 4)
    val bm = new GenericData.Record(bmSchema)
    bm.put("type", "SIMPLE")
    bm.put("timestamp", T1)
    bm.put("bloomFilter", java.nio.ByteBuffer.wrap(bloomBytes))
    bm.put("isDeleted", false)
    rec.put("BloomFilterMetadata", bm)
    graft.write.MdtCommit.encode(rec)
  }

  // --- COW, non-partitioned, DATE-split file groups + column_stats MDT --
  // Like cow_range_orders but split on a DateType column `o_date`
  // (= DATE(o_orderdate)): 4 file groups of contiguous date quartiles,
  // with the MDT column_stats carrying DateWrapper (epoch-day int)
  // bounds — a date-range predicate must prune file groups through
  // typed stats literals (`hudi_date_pruned`; the reference arrow-casts
  // date literals, expr/filter.rs:345-357, and prunes Date32 columns,
  // file_pruner.rs:288-293).
  private def buildCowDateOrders(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(datePath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProperties(fs, base, "cow_date_orders", "COPY_ON_WRITE", None, hiveStyle = false,
      extraProps = "hoodie.table.metadata.partitions=" +
        "column_stats,record_index,secondary_index_date_idx\n")
    // a DATE-indexed secondary index whose keys use the EPOCH-DAY
    // rendering (the unconverted-avro writer shape, `19753$key`) — the
    // planner must DETECT this from sampled entries and render its
    // o_date literals as epoch days, or fail open (never guess ISO and
    // plan empty): graft.table.SecondaryIndex.detectDateRendering
    writeText(fs, new Path(base, ".hoodie/.index_defs/index.json"),
      """{"indexDefinitions":{"secondary_index_date_idx":{
        |"indexName":"secondary_index_date_idx","indexType":"secondary_index",
        |"indexFunction":"identity","sourceFields":["o_date"],"indexOptions":{}}}}
        |""".stripMargin.replaceAll("\n", ""))
    val src0 = orders(spark, sfDir).withColumn("o_date", to_date(col("o_orderdate")))
    val src = src0.withColumn("__part", lit(""))
    val dataAvro = Some(SparkToAvro.toAvroSchema(src0.schema, "orders_record").toString)
    val bounds = src0.agg(min(col("o_date")), max(col("o_date"))).head
    val (minD, maxD) = (bounds.getDate(0).toLocalDate, bounds.getDate(1).toLocalDate)
    val span = math.max(1L, maxD.toEpochDay - minD.toEpochDay + 1)
    val grpExpr = least(lit(3),
      (datediff(col("o_date"), lit(java.sql.Date.valueOf(minD))) * 4 / lit(span)).cast("int"))

    val files1 = (0 until 4).map { g =>
      val name = s"${fileId(g)}_${Token}_$T1.parquet"
      writeBaseFile(spark,
        withMeta(src.filter(grpExpr === g).withColumn("__commit", lit(T1)), "__part", lit(name)),
        base, name)
      ("", fileId(g), name)
    }
    writeCommit(fs, base, T1, "commit", files1, dataAvro)

    // per-group TRUE date ranges (epoch days) + row counts for the index
    val ranges = src0.withColumn("__g", grpExpr).groupBy("__g")
      .agg(min(col("o_date")).as("mn"), max(col("o_date")).as("mx"), count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) ->
        (r.getDate(1).toLocalDate.toEpochDay, r.getDate(2).toLocalDate.toEpochDay,
          r.getLong(3))).toMap

    val mdt = new Path(base, ".hoodie/metadata")
    fs.mkdirs(new Path(mdt, ".hoodie"))
    writeText(fs, new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_date_orders_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    writeText(fs, new Path(mdt, s".hoodie/$T1.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    val csDir = new Path(mdt, "column_stats")
    fs.mkdirs(csDir)
    // a quartile with no rows (sparse dates at tiny SF) simply has no
    // stats entry — the pruner fails open on its empty file, which is
    // correct and costless
    val records = (0 until 4).flatMap { g =>
      val name = s"${fileId(g)}_${Token}_$T1.parquet"
      ranges.get(g).map { case (mn, mx, cnt) =>
        f"cs$g%04d" -> columnStatsBytes(f"cs$g%04d", name, "o_date", mn, mx,
          wrapper = "DateWrapper", valueCount = cnt)
      }
    }
    val bytes = graft.hfile.HFileWriter.write(
      records.toIndexedSeq,
      Map("schema" -> columnStatsAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val out = fs.create(new Path(csDir, s"col-stats-0000-0_${Token}_$T1.hfile"), true)
    out.write(bytes)
    out.close()

    // record_index (key → date-quartile group) + the EPOCH-DAY-rendered
    // date secondary index declared above
    val keyDateGroup = src0.withColumn("__g", grpExpr)
      .select(col("o_orderkey"), col("__g"), col("o_date")).collect()
      .map(r => (r.getLong(0).toString, r.getInt(1), r.getDate(2).toLocalDate.toEpochDay))
    val riDir = new Path(mdt, "record_index")
    fs.mkdirs(riDir)
    val riBytes = graft.hfile.HFileWriter.write(
      keyDateGroup.map { case (k, g, _) =>
        k -> recordIndexBytes(k, ".", fileId(g), T1.toLong, rawEncoding = true)
      }.sortBy(_._1).toIndexedSeq,
      Map("schema" -> recordIndexAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val riOut = fs.create(new Path(riDir, s"record-index-0000-0_${Token}_$T1.hfile"), true)
    riOut.write(riBytes)
    riOut.close()
    val esc = graft.table.SecondaryIndex.escape _
    val diDir = new Path(mdt, "secondary_index_date_idx")
    fs.mkdirs(diDir)
    val diBytes = graft.hfile.HFileWriter.write(
      keyDateGroup.map { case (k, _, epochDay) =>
        val key = s"${esc(epochDay.toString)}$$${esc(k)}"
        key -> secondaryIndexBytes(key)
      }.sortBy(_._1).toIndexedSeq,
      Map("schema" -> secondaryIndexAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val diOut = fs.create(
      new Path(diDir, s"secondary-index-date-idx-0000-0_${Token}_$T1.hfile"), true)
    diOut.write(diBytes)
    diOut.close()
  }

  // --- COW, non-partitioned, STATUS-split file groups + secondary index
  // Three file groups, one per o_orderstatus value; the MDT carries a
  // record_index (key → group) AND a secondary_index_status_idx
  // (`escape(status)$escape(key)` records, the real v8 trips fixture's
  // key shape) declared in .hoodie/.index_defs/index.json — so an
  // equality read on o_orderstatus plans exactly ONE file group via two
  // indexed metadata reads (`hudi_secondary_pruned`).
  private def buildCowSecondaryIndexOrders(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(sidxPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProperties(fs, base, "cow_sidx_orders", "COPY_ON_WRITE", None, hiveStyle = false,
      extraProps = "hoodie.table.metadata.partitions=" +
        "record_index,secondary_index_status_idx,secondary_index_cust_idx," +
        "secondary_index_dec_idx,secondary_index_dbl_idx,secondary_index_ts_idx," +
        "secondary_index_flt_idx\n")
    writeText(fs, new Path(base, ".hoodie/.index_defs/index.json"),
      """{"indexDefinitions":{"secondary_index_status_idx":{
        |"indexName":"secondary_index_status_idx","indexType":"secondary_index",
        |"indexFunction":"identity","sourceFields":["o_orderstatus"],"indexOptions":{}},
        |"secondary_index_cust_idx":{
        |"indexName":"secondary_index_cust_idx","indexType":"secondary_index",
        |"indexFunction":"identity","sourceFields":["o_custkey"],"indexOptions":{}},
        |"secondary_index_dec_idx":{
        |"indexName":"secondary_index_dec_idx","indexType":"secondary_index",
        |"indexFunction":"identity","sourceFields":["o_decprice"],"indexOptions":{}},
        |"secondary_index_dbl_idx":{
        |"indexName":"secondary_index_dbl_idx","indexType":"secondary_index",
        |"indexFunction":"identity","sourceFields":["o_dblrate"],"indexOptions":{}},
        |"secondary_index_ts_idx":{
        |"indexName":"secondary_index_ts_idx","indexType":"secondary_index",
        |"indexFunction":"identity","sourceFields":["o_tsmicros"],"indexOptions":{}},
        |"secondary_index_flt_idx":{
        |"indexName":"secondary_index_flt_idx","indexType":"secondary_index",
        |"indexFunction":"identity","sourceFields":["o_fltrate"],"indexOptions":{}}}}
        |""".stripMargin.replaceAll("\n", ""))
    // a DECIMAL(14,2) column derived integer-exactly from the key (a
    // string-parse cast, no float rounding — the same value is
    // reproducible in DuckDB for the oracle): carries real cents, so
    // the scale-2 rendering 'X.YZ' with trailing zeros is exercised
    val src0 = orders(spark, sfDir).withColumn("o_decprice",
      concat(col("o_orderkey"), lit("."),
        lpad((col("o_orderkey") % 97).cast("string"), 2, "0"))
        .cast(org.apache.spark.sql.types.DecimalType(14, 2)))
      // a DOUBLE column exact in binary (halves) whose Java renderings
      // include BOTH overlap values ("7.5") and witnesses ("8.0") — the
      // shape classifyDoubleKeys needs to pin the writer family
      .withColumn("o_dblrate", col("o_orderkey").cast("double") / lit(2.0d))
      // a TIMESTAMP(micros) column derived integer-exactly from the key:
      // 2024-01-01T00:00:00Z + key seconds — every epoch-micros key is
      // magnitude-unambiguous for classifyTimestampKeys
      .withColumn("o_tsmicros",
        timestamp_micros(lit(1704067200000000L) + col("o_orderkey") * lit(1000000L)))
      // a FLOAT32 column (key/10 at float precision) whose renderings
      // include BOTH a value-family witness ("0.1" — not the widened
      // double's digits) and a ".0" whole number — the evidence
      // classifyFloatKeys needs to pin float-precision rendering
      .withColumn("o_fltrate",
        (col("o_orderkey") / lit(10.0d)).cast(org.apache.spark.sql.types.FloatType))
    val src = src0.withColumn("__part", lit(""))
    val statuses = src0.select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).sorted
    val statusFid = statuses.zipWithIndex.map { case (st, i) => st -> fileId(i) }.toMap
    val files1 = statuses.zipWithIndex.map { case (st, i) =>
      val name = s"${fileId(i)}_${Token}_$T1.parquet"
      writeBaseFile(spark,
        withMeta(src.filter(col("o_orderstatus") === st).withColumn("__commit", lit(T1)),
          "__part", lit(name)),
        base, name)
      ("", fileId(i), name)
    }
    writeCommit(fs, base, T1, "commit", files1,
      Some(SparkToAvro.toAvroSchema(src0.schema, "orders_record").toString))

    val mdt = new Path(base, ".hoodie/metadata")
    fs.mkdirs(new Path(mdt, ".hoodie"))
    writeText(fs, new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_sidx_orders_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    writeText(fs, new Path(mdt, s".hoodie/$T1.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    val keyStatus = src0.select("o_orderkey", "o_orderstatus").collect()
      .map(r => (r.getLong(0).toString, r.getString(1)))

    val riDir = new Path(mdt, "record_index")
    fs.mkdirs(riDir)
    val riRecords = keyStatus
      .map { case (k, st) =>
        k -> recordIndexBytes(k, ".", statusFid(st), T1.toLong, rawEncoding = true)
      }
      .sortBy(_._1).toIndexedSeq
    val riBytes = graft.hfile.HFileWriter.write(
      riRecords,
      Map("schema" -> recordIndexAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val riOut = fs.create(new Path(riDir, s"record-index-0000-0_${Token}_$T1.hfile"), true)
    riOut.write(riBytes)
    riOut.close()

    val siDir = new Path(mdt, "secondary_index_status_idx")
    fs.mkdirs(siDir)
    val esc = graft.table.SecondaryIndex.escape _
    val siRecords = keyStatus
      .map { case (k, st) =>
        val key = s"${esc(st)}$$${esc(k)}"
        key -> secondaryIndexBytes(key)
      }
      .sortBy(_._1).toIndexedSeq
    val siBytes = graft.hfile.HFileWriter.write(
      siRecords,
      Map("schema" -> secondaryIndexAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val siOut = fs.create(
      new Path(siDir, s"secondary-index-status-idx-0000-0_${Token}_$T1.hfile"), true)
    siOut.write(siBytes)
    siOut.close()

    // a SECOND index on the LongType o_custkey — numeric index keys are
    // the writer's decimal rendering of the avro long (`toString`), the
    // shape the non-string canonicalizer must reproduce exactly
    val keyCust = src0.select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0).toString, r.getLong(1)))
    val ciDir = new Path(mdt, "secondary_index_cust_idx")
    fs.mkdirs(ciDir)
    val ciRecords = keyCust
      .map { case (k, ck) =>
        val key = s"${esc(ck.toString)}$$${esc(k)}"
        key -> secondaryIndexBytes(key)
      }
      .sortBy(_._1).toIndexedSeq
    val ciBytes = graft.hfile.HFileWriter.write(
      ciRecords,
      Map("schema" -> secondaryIndexAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val ciOut = fs.create(
      new Path(ciDir, s"secondary-index-cust-idx-0000-0_${Token}_$T1.hfile"), true)
    ciOut.write(ciBytes)
    ciOut.close()

    // a THIRD index on the DECIMAL(14,2) o_decprice — keys are the
    // converted-avro BigDecimal `toString` at the column's fixed scale
    // ("7.07", trailing zeros kept), the rendering detectDecimalScale
    // must recover from the entries before any probe
    val keyDec = src0.select("o_orderkey", "o_decprice").collect()
      .map(r => (r.getLong(0).toString, r.getDecimal(1)))
    val dcDir = new Path(mdt, "secondary_index_dec_idx")
    fs.mkdirs(dcDir)
    val dcRecords = keyDec
      .map { case (k, bd) =>
        val key = s"${esc(bd.toPlainString)}$$${esc(k)}"
        key -> secondaryIndexBytes(key)
      }
      .sortBy(_._1).toIndexedSeq
    val dcBytes = graft.hfile.HFileWriter.write(
      dcRecords,
      Map("schema" -> secondaryIndexAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val dcOut = fs.create(
      new Path(dcDir, s"secondary-index-dec-idx-0000-0_${Token}_$T1.hfile"), true)
    dcOut.write(dcBytes)
    dcOut.close()

    // a FOURTH index on the DOUBLE o_dblrate — keys are the writer's
    // Java-canonical `Double.toString` (the avro double datum's
    // String.valueOf), so whole numbers keep their ".0" suffix: the
    // witnesses detectDoubleRendering demands before any probe
    val keyDbl = src0.select("o_orderkey", "o_dblrate").collect()
      .map(r => (r.getLong(0).toString, r.getDouble(1)))
    val dbDir = new Path(mdt, "secondary_index_dbl_idx")
    fs.mkdirs(dbDir)
    val dbRecords = keyDbl
      .map { case (k, dv) =>
        val key = s"${esc(java.lang.Double.toString(dv))}$$${esc(k)}"
        key -> secondaryIndexBytes(key)
      }
      .sortBy(_._1).toIndexedSeq
    val dbBytes = graft.hfile.HFileWriter.write(
      dbRecords,
      Map("schema" -> secondaryIndexAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val dbOut = fs.create(
      new Path(dbDir, s"secondary-index-dbl-idx-0000-0_${Token}_$T1.hfile"), true)
    dbOut.write(dbBytes)
    dbOut.close()

    // a FIFTH index on the TIMESTAMP o_tsmicros — keys are the
    // unconverted avro timestamp-micros long's `toString` (epoch
    // micros), the rendering detectTimestampRendering must prove
    // magnitude-unambiguous before probing
    val keyTs = src0.select("o_orderkey").collect()
      .map { r =>
        val k = r.getLong(0)
        (k.toString, 1704067200000000L + k * 1000000L)
      }
    val tsDir = new Path(mdt, "secondary_index_ts_idx")
    fs.mkdirs(tsDir)
    val tsRecords = keyTs
      .map { case (k, micros) =>
        val key = s"${esc(micros.toString)}$$${esc(k)}"
        key -> secondaryIndexBytes(key)
      }
      .sortBy(_._1).toIndexedSeq
    val tsBytes = graft.hfile.HFileWriter.write(
      tsRecords,
      Map("schema" -> secondaryIndexAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val tsOut = fs.create(
      new Path(tsDir, s"secondary-index-ts-idx-0000-0_${Token}_$T1.hfile"), true)
    tsOut.write(tsBytes)
    tsOut.close()

    // a SIXTH index on the FLOAT32 o_fltrate — keys are the writer's
    // Java-canonical `Float.toString` (float PRECISION, not the widened
    // double): fractional entries like "0.1" are the value-family
    // witness and whole numbers keep ".0", the evidence
    // detectFloatRendering demands before any probe
    val keyFlt = src0.select("o_orderkey", "o_fltrate").collect()
      .map(r => (r.getLong(0).toString, r.getFloat(1)))
    val flDir = new Path(mdt, "secondary_index_flt_idx")
    fs.mkdirs(flDir)
    val flRecords = keyFlt
      .map { case (k, fv) =>
        val key = s"${esc(java.lang.Float.toString(fv))}$$${esc(k)}"
        key -> secondaryIndexBytes(key)
      }
      .sortBy(_._1).toIndexedSeq
    val flBytes = graft.hfile.HFileWriter.write(
      flRecords,
      Map("schema" -> secondaryIndexAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val flOut = fs.create(
      new Path(flDir, s"secondary-index-flt-idx-0000-0_${Token}_$T1.hfile"), true)
    flOut.write(flBytes)
    flOut.close()
  }

  /** HoodieMetadataRecord with the `SecondaryIndexMetadata` branch (type
    * 7; the real fixture's records carry exactly this shape).
    */
  private val secondaryIndexAvroSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"HoodieMetadataRecord","fields":[
        |{"name":"key","type":"string"},
        |{"name":"type","type":"int"},
        |{"name":"SecondaryIndexMetadata","type":["null",
        |  {"type":"record","name":"HoodieSecondaryIndexInfo","fields":[
        |    {"name":"isDeleted","type":"boolean"}]}],"default":null}
        |]}""".stripMargin.replaceAll("\n", ""))

  private def secondaryIndexBytes(key: String): Array[Byte] = {
    import org.apache.avro.generic.GenericData
    val siSchema = secondaryIndexAvroSchema.getField("SecondaryIndexMetadata").schema()
      .getTypes.get(1)
    val rec = new GenericData.Record(secondaryIndexAvroSchema)
    rec.put("key", key)
    rec.put("type", 7)
    val si = new GenericData.Record(siSchema)
    si.put("isDeleted", false)
    rec.put("SecondaryIndexMetadata", si)
    graft.write.MdtCommit.encode(rec)
  }

  // --- COW, hive-partitioned by o_orderkey quartile + partition_stats MDT
  // Four `g=<0..3>` partitions holding contiguous o_orderkey ranges; the
  // MDT partition_stats partition carries each PARTITION's TRUE (min,
  // max) of o_orderkey (type=6 records, fileName = partition path — the
  // real v8 trips fixture's convention). A key-range read prunes whole
  // partitions BEFORE listing (`hudi_pstats_pruned`), the enhancement the
  // reference declares at fs_view.rs:80 but does not implement.
  private def buildCowPartStatsOrders(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(pstatsPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_pstats_orders
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=o_orderkey
        |hoodie.table.precombine.field=o_orderkey
        |hoodie.table.partition.fields=g
        |hoodie.datasource.write.hive_style_partitioning=true
        |hoodie.datasource.write.partitionpath.urlencode=false
        |hoodie.populate.meta.fields=true
        |hoodie.table.metadata.partitions=partition_stats
        |""".stripMargin)
    val src0 = orders(spark, sfDir)
    val maxKey = src0.agg(max(col("o_orderkey"))).head.getLong(0)
    val src = src0.withColumn("g",
      least(lit(3), ((col("o_orderkey") - 1) * 4 / lit(maxKey)).cast("int")))
    val files = (0 until 4).map { gv =>
      val partDir = s"g=$gv"
      val name = s"${fileId(gv)}_${Token}_$T1.parquet"
      writeBaseFile(spark,
        withMeta(src.filter(col("g") === gv)
          .withColumn("__commit", lit(T1)).withColumn("__part", lit(partDir)),
          "__part", lit(name)),
        new Path(base, partDir), name)
      (partDir, fileId(gv), s"$partDir/$name")
    }
    writeCommit(fs, base, T1, "commit", files,
      Some(SparkToAvro.toAvroSchema(src.schema, "orders_g_record").toString))

    // per-PARTITION true key ranges for the index
    val ranges = src.groupBy("g")
      .agg(min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

    val mdt = new Path(base, ".hoodie/metadata")
    fs.mkdirs(new Path(mdt, ".hoodie"))
    writeText(fs, new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_pstats_orders_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    writeText(fs, new Path(mdt, s".hoodie/$T1.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    writePartitionStatsFile(fs, base,
      (0 until 4).map { gv => val (mn, mx) = ranges(gv); (s"g=$gv", "o_orderkey", mn, mx) }, T1)
  }

  /** Write (or REPLACE — also a test hook for stats-divergence scenarios)
    * a table's MDT `partition_stats` HFile with the given per-(partition,
    * column) BIGINT ranges at commit `ts`.
    */
  private[graft] def writePartitionStatsFile(
      fs: FileSystem,
      tableBase: Path,
      entries: Seq[(String, String, Long, Long)],
      ts: String): Unit = {
    val psDir = new Path(tableBase, ".hoodie/metadata/partition_stats")
    if (fs.exists(psDir)) fs.delete(psDir, true)
    fs.mkdirs(psDir)
    val records = entries.zipWithIndex.map { case ((part, colName, mn, mx), i) =>
      f"ps$i%04d" -> columnStatsBytes(f"ps$i%04d", part, colName, mn, mx, recType = 6)
    }
    val bytes = graft.hfile.HFileWriter.write(
      records.toIndexedSeq,
      Map("schema" -> columnStatsAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 64)
    val out = fs.create(new Path(psDir, s"partition-stats-0000-0_${Token}_$ts.hfile"), true)
    out.write(bytes)
    out.close()
  }

  private[graft] val columnStatsAvroSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"HoodieMetadataRecord","fields":[
        |{"name":"key","type":"string"},
        |{"name":"type","type":"int"},
        |{"name":"ColumnStatsMetadata","type":["null",
        |  {"type":"record","name":"HoodieMetadataColumnStats","fields":[
        |    {"name":"fileName","type":["null","string"],"default":null},
        |    {"name":"columnName","type":["null","string"],"default":null},
        |    {"name":"minValue","type":["null",
        |      {"type":"record","name":"LongWrapper","fields":[
        |        {"name":"value","type":"long"}]},
        |      {"type":"record","name":"DateWrapper","fields":[
        |        {"name":"value","type":{"type":"int","logicalType":"date"}}]},
        |      {"type":"record","name":"StringWrapper","fields":[
        |        {"name":"value","type":"string"}]}],"default":null},
        |    {"name":"maxValue","type":["null","LongWrapper","DateWrapper","StringWrapper"],"default":null},
        |    {"name":"valueCount","type":["null","long"],"default":null},
        |    {"name":"nullCount","type":["null","long"],"default":null},
        |    {"name":"isDeleted","type":"boolean"},
        |    {"name":"isTightBound","type":"boolean","default":false}]}]}
        |]}""".stripMargin.replaceAll("\n", ""))

  /** One serialized HoodieMetadataRecord in the ColumnStatsMetadata
    * shape. `recType` 3 = column_stats (fileName = data file name);
    * 6 = partition_stats (fileName = partition path, the real-fixture
    * convention — see PartitionStatsIndex).
    */
  private[graft] def columnStatsBytes(
      key: String, fileName: String, columnName: String, mn: Any, mx: Any,
      recType: Int = 3, wrapper: String = "LongWrapper",
      valueCount: java.lang.Long = null, tight: Boolean = true): Array[Byte] = {
    import org.apache.avro.generic.GenericData
    val csSchema = columnStatsAvroSchema.getField("ColumnStatsMetadata").schema().getTypes.get(1)
    val wrapSchema = csSchema.getField("minValue").schema().getTypes.asScala
      .find(_.getName == wrapper).get
    def wrap(v: Any): GenericData.Record = {
      val w = new GenericData.Record(wrapSchema)
      // DateWrapper stores epoch-day as avro int; LongWrapper as long;
      // StringWrapper the value verbatim
      w.put("value", (wrapper, v) match {
        case ("DateWrapper", l: Long) => Int.box(l.toInt)
        case ("StringWrapper", s: String) => s
        case (_, l: Long) => Long.box(l)
        case (_, other) => other.asInstanceOf[AnyRef]
      })
      w
    }
    val rec = new GenericData.Record(columnStatsAvroSchema)
    rec.put("key", key)
    rec.put("type", recType)
    val cs = new GenericData.Record(csSchema)
    cs.put("fileName", fileName)
    cs.put("columnName", columnName)
    cs.put("minValue", wrap(mn))
    cs.put("maxValue", wrap(mx))
    cs.put("valueCount", valueCount)
    cs.put("nullCount", 0L)
    cs.put("isDeleted", false)
    cs.put("isTightBound", tight)
    rec.put("ColumnStatsMetadata", cs)
    graft.write.MdtCommit.encode(rec)
  }

  // --- MOR, non-partitioned, with a LOG-ONLY file group -------------------
  // T1 commit: base file group 0 (o_orderkey % 3 = 0). T2 deltacommit
  // CREATES file group 1 as a log file only (% 3 = 1) — no base file, the
  // shape a MOR writer produces before first compaction (the reference's
  // mod.rs:195 TODO silently drops these; this engine reads them). T3
  // deltacommit appends a second log with updates (% 5 = 0 → status 'U')
  // and a delete block (% 11 = 0); a key both updated and deleted at T3
  // keeps the record (equal ordering + equal commit → delete does not
  // win, record_merger.rs tie semantics).
  private def buildMorLogOnly(spark: SparkSession, sfDir: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(hconf)
    val base = new Path(morLogOnlyPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeProperties(fs, base, "mor_log_only", "MERGE_ON_READ", None, hiveStyle = false)

    val src = orders(spark, sfDir).withColumn("__part", lit(""))

    // T1: base file group 0
    val name1 = s"${fileId(0)}_${Token}_$T1.parquet"
    val baseRows = src.filter(col("o_orderkey") % 3 === 0).withColumn("__commit", lit(T1))
    writeBaseFile(spark, withMeta(baseRows, "__part", lit(name1)), base, name1)
    writeCommit(fs, base, T1, "commit", Seq(("", fileId(0), name1)),
      Some(SparkToAvro.toAvroSchema(orders(spark, sfDir).schema, "orders_record").toString))

    val tableSchema = spark.read.parquet(new Path(base, name1).toString).schema
    val avroSchema = SparkToAvro.toAvroSchema(tableSchema, "mor_log_only_record")
    def collectMeta(df: org.apache.spark.sql.DataFrame, commit: String) =
      withMeta(df.withColumn("__commit", lit(commit)), "__part", lit(""))
        .collect().toIndexedSeq

    // T2: file group 1 born as a log file (no base) — log name carries the
    // group's base instant = the creating deltacommit's timestamp
    val log1 = s".${fileId(1)}_$T2.log.1_$Token"
    val inserts = collectMeta(src.filter(col("o_orderkey") % 3 === 1), T2)
    val out1 = new DataOutputStream(fs.create(new Path(base, log1), true))
    try LogFileWriter.avroDataBlock(out1, T2, avroSchema,
      inserts.map(SparkToAvro.toRecord(_, tableSchema, avroSchema)))
    finally out1.close()
    writeCommit(fs, base, T2, "deltacommit", Seq(("", fileId(1), log1)))

    // T3: second log on the same base-less group — updates + deletes
    val log2 = s".${fileId(1)}_$T2.log.2_$Token"
    val updates = collectMeta(
      src.filter(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("U")), T3)
    val delRows = orders(spark, sfDir)
      .filter(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 11 === 0)
      .select("o_orderkey", "o_custkey").collect()
    val out2 = new DataOutputStream(fs.create(new Path(base, log2), true))
    try {
      LogFileWriter.avroDataBlock(out2, T3, avroSchema,
        updates.map(SparkToAvro.toRecord(_, tableSchema, avroSchema)))
      LogFileWriter.deleteBlock(out2, T3, avroSchema,
        delRows.map(r => (r.getLong(0).toString, "", r.getLong(1))).toIndexedSeq)
    } finally out2.close()
    writeCommit(fs, base, T3, "deltacommit", Seq(("", fileId(1), log2)))
  }

  // --- COW over nation with LANCE base files (S7) -------------------------
  // Two commits on ONE file group: T1 inserts every nation row; T2 is the
  // COW rewrite applying an update (n_name + '-v2' for key % 5 == 0) with
  // per-row commit times (updated rows T2, carried rows keep T1 — the
  // real COW rewrite shape). Base files are written by graft.lance
  // .LanceWriter, whose byte layout the READER proved against the
  // reference's own golden fixtures — so the oracle gate exercises the
  // full lance plan+decode path on deterministic data.
  private def buildCowLanceNation(spark: SparkSession, sfDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(conf)
    val base = new Path(lancePath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_lance_nation
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.base.file.format=LANCE
        |hoodie.table.recordkey.fields=n_nationkey
        |hoodie.table.precombine.field=n_nationkey
        |hoodie.populate.meta.fields=true
        |""".stripMargin)

    val src = spark.read.parquet(s"$sfDir/nation.parquet")
      .orderBy("n_nationkey").collect() // nation is fixed-size (25 rows)
    val dataSchema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType), StructField("score", DoubleType)))
    val fileSchema = StructType(
      Seq("_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name")
        .map(StructField(_, StringType)) ++ dataSchema.fields)
    def rows(name: String, commitFor: Int => String, mutated: Boolean): Seq[Seq[Any]] =
      src.toSeq.map { r =>
        val k = r.getInt(0)
        val c = commitFor(k)
        val nm = if (mutated && k % 5 == 0) r.getString(1) + "-v2" else r.getString(1)
        Seq(c, s"${c}_0_$k", k.toString, "", name,
          k, nm, r.getInt(2), k / 4.0)
      }
    def commitJson(fid: String, rel: String): String = {
      val avro = SparkToAvro.toAvroSchema(dataSchema, "nation_record").toString
      val esc = avro.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"partitionToWriteStats":{"":[{"fileId":"$fid","path":"$rel","partitionPath":""}]},""" +
        s""""extraMetadata":{"schema":"$esc"},"compacted":false}"""
    }
    val name1 = s"${fileId(0)}_${Token}_$T1.lance"
    graft.lance.LanceWriter.write(
      new Path(base, name1).toString, conf, fileSchema, rows(name1, _ => T1, mutated = false))
    writeText(fs, new Path(base, s".hoodie/$T1.commit"), commitJson(fileId(0), name1))
    val name2 = s"${fileId(0)}_${Token}_$T2.lance"
    graft.lance.LanceWriter.write(
      new Path(base, name2).toString, conf, fileSchema,
      rows(name2, k => if (k % 5 == 0) T2 else T1, mutated = true))
    writeText(fs, new Path(base, s".hoodie/$T2.commit"), commitJson(fileId(0), name2))
  }

  // --- COW over nation: LANCE base with NULLABLE columns ------------------
  // (S7, r12): real tables have nulls; this fixture drives the reader's
  // Nullable branches end-to-end — some_nulls validity bitmaps across
  // multiple small pages (pageRows=7 over 25 rows), an ALL-null column
  // (bufferless all_nulls pages), and exact COUNT(col) null proofs from
  // the bitmap popcounts (`FileStats.read`'s Lance branch).
  private def buildCowLanceNulls(spark: SparkSession, sfDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(conf)
    val base = new Path(lanceNullsPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_lance_nulls
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.base.file.format=LANCE
        |hoodie.table.recordkey.fields=n_nationkey
        |hoodie.table.precombine.field=n_nationkey
        |hoodie.populate.meta.fields=true
        |""".stripMargin)

    val src = spark.read.parquet(s"$sfDir/nation.parquet")
      .orderBy("n_nationkey").collect()
    val dataSchema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("comment_opt", StringType),
      StructField("weight", DoubleType),
      StructField("flag_null", IntegerType)))
    val fileSchema = StructType(
      Seq("_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name")
        .map(StructField(_, StringType)) ++ dataSchema.fields)
    val name1 = s"${fileId(0)}_${Token}_$T1.lance"
    val rows: Seq[Seq[Any]] = src.toSeq.map { r =>
      val k = r.getInt(0)
      Seq(T1, s"${T1}_0_$k", k.toString, "", name1,
        k,
        if (k % 3 == 0) null else r.getString(1),
        if (k % 4 == 1) null else k / 2.0,
        null) // flag_null: every row null
    }
    val avro = SparkToAvro.toAvroSchema(dataSchema, "nation_nulls_record").toString
    val esc = avro.replace("\\", "\\\\").replace("\"", "\\\"")
    val commitJson =
      s"""{"partitionToWriteStats":{"":[{"fileId":"${fileId(0)}","path":"$name1","partitionPath":""}]},""" +
        s""""extraMetadata":{"schema":"$esc"},"compacted":false}"""
    graft.lance.LanceWriter.write(
      new Path(base, name1).toString, conf, fileSchema, rows, pageRows = 7)
    writeText(fs, new Path(base, s".hoodie/$T1.commit"), commitJson)
  }

  // --- COW over embeddings: LANCE list<float> vectors ---------------------
  // (S7, r12): the ML shape Lance exists for — an embedding column stored
  // as a list-offsets column + float32 child pages. Rows page at 257 (a
  // non-aligned boundary) so the reader stitches parent offset pages and
  // child element pages independently; ANN entries then run over the
  // Lance-decoded table and must match DuckDB over the source parquet.
  private def buildCowLanceEmbed(spark: SparkSession, sfDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(conf)
    val base = new Path(lanceEmbedPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_lance_embed
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.base.file.format=LANCE
        |hoodie.table.recordkey.fields=vec_id
        |hoodie.table.precombine.field=vec_id
        |hoodie.populate.meta.fields=true
        |""".stripMargin)

    val src = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .orderBy("vec_id").collect()
    val dataSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val fileSchema = StructType(
      Seq("_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name")
        .map(StructField(_, StringType)) ++ dataSchema.fields)
    val name1 = s"${fileId(0)}_${Token}_$T1.lance"
    val rows: Seq[Seq[Any]] = src.toSeq.map { r =>
      val k = r.getLong(0)
      Seq(T1, s"${T1}_0_$k", k.toString, "", name1,
        k, r.getSeq[Float](1), r.getInt(2))
    }
    val avro = SparkToAvro.toAvroSchema(dataSchema, "embed_record").toString
    val esc = avro.replace("\\", "\\\\").replace("\"", "\\\"")
    val commitJson =
      s"""{"partitionToWriteStats":{"":[{"fileId":"${fileId(0)}","path":"$name1","partitionPath":""}]},""" +
        s""""extraMetadata":{"schema":"$esc"},"compacted":false}"""
    graft.lance.LanceWriter.write(
      new Path(base, name1).toString, conf, fileSchema, rows, pageRows = 257)
    writeText(fs, new Path(base, s".hoodie/$T1.commit"), commitJson)
  }

  // --- COW over embeddings: LANCE with NULLABLE list rows (r13) -----------
  // The corpus-with-missing-vectors shape: vec_id % 5 == 0 rows carry a
  // NULL embedding (some_nulls validity over the list-offsets page,
  // zero-width slots), vec_id % 7 == 3 rows an EMPTY-but-valid list —
  // the oracle pins that the two stay distinguishable end-to-end and
  // that the valid rows' element slicing survives the null gaps.
  private def buildCowLanceNullList(spark: SparkSession, sfDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(conf)
    val base = new Path(lanceNullListPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_lance_nulllist
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.base.file.format=LANCE
        |hoodie.table.recordkey.fields=vec_id
        |hoodie.table.precombine.field=vec_id
        |hoodie.populate.meta.fields=true
        |""".stripMargin)

    val src = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .orderBy("vec_id").collect()
    val dataSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val fileSchema = StructType(
      Seq("_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name")
        .map(StructField(_, StringType)) ++ dataSchema.fields)
    val name1 = s"${fileId(0)}_${Token}_$T1.lance"
    val rows: Seq[Seq[Any]] = src.toSeq.map { r =>
      val k = r.getLong(0)
      val emb: Seq[Float] =
        if (k % 5 == 0) null
        else if (k % 7 == 3) Seq.empty[Float]
        else r.getSeq[Float](1)
      Seq(T1, s"${T1}_0_$k", k.toString, "", name1, k, emb, r.getInt(2))
    }
    val avro = SparkToAvro.toAvroSchema(dataSchema, "embed_record").toString
    val esc = avro.replace("\\", "\\\\").replace("\"", "\\\"")
    val commitJson =
      s"""{"partitionToWriteStats":{"":[{"fileId":"${fileId(0)}","path":"$name1","partitionPath":""}]},""" +
        s""""extraMetadata":{"schema":"$esc"},"compacted":false}"""
    // 101-row pages: every page mixes null and valid rows (some_nulls)
    graft.lance.LanceWriter.write(
      new Path(base, name1).toString, conf, fileSchema, rows, pageRows = 101)
    writeText(fs, new Path(base, s".hoodie/$T1.commit"), commitJson)
  }

  // --- COW over documents: LANCE binary blob column -----------------------
  // (S7 × multimodal, r12): media lakes store blobs as opaque binary
  // columns; this fixture writes MultimodalOps' deterministic mixed-header
  // blobs (PNG/JPEG/GIF/WAV/MP4 magic bytes ++ utf-8 text) into a Lance
  // binary column. The oracle entry re-sniffs the container from the
  // READ-BACK bytes, so any corruption in the variable-width binary
  // decode breaks the mime recovery or the byte length.
  private def buildCowLanceMedia(spark: SparkSession, sfDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(conf)
    val base = new Path(lanceMediaPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_lance_media
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.base.file.format=LANCE
        |hoodie.table.recordkey.fields=doc_id
        |hoodie.table.precombine.field=doc_id
        |hoodie.populate.meta.fields=true
        |""".stripMargin)

    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("CAST(doc_id AS LONG) AS doc_id", "text")
      .orderBy("doc_id").collect()
    val dataSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("mime", StringType),
      StructField("data", BinaryType)))
    val fileSchema = StructType(
      Seq("_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name")
        .map(StructField(_, StringType)) ++ dataSchema.fields)
    val name1 = s"${fileId(0)}_${Token}_$T1.lance"
    val rows: Seq[Seq[Any]] = src.toSeq.map { r =>
      val id = r.getLong(0)
      val bytes = graft.operators.MultimodalOps.mixedHeader(id) ++
        r.getString(1).getBytes("UTF-8")
      Seq(T1, s"${T1}_0_$id", id.toString, "", name1,
        id, graft.operators.MultimodalOps.sniffMime(bytes), bytes)
    }
    val avro = SparkToAvro.toAvroSchema(dataSchema, "media_record").toString
    val esc = avro.replace("\\", "\\\\").replace("\"", "\\\"")
    val commitJson =
      s"""{"partitionToWriteStats":{"":[{"fileId":"${fileId(0)}","path":"$name1","partitionPath":""}]},""" +
        s""""extraMetadata":{"schema":"$esc"},"compacted":false}"""
    graft.lance.LanceWriter.write(
      new Path(base, name1).toString, conf, fileSchema, rows, pageRows = 61)
    writeText(fs, new Path(base, s".hoodie/$T1.commit"), commitJson)
  }

  // --- MOR over nation: LANCE base + avro update log + delete block -------
  // (S7 × S9): the per-slice merge must overlay avro log records and
  // delete tombstones onto a Lance-decoded base — the cross-format MOR
  // shape the reference reads via record_merger over its lance scan.
  private def buildMorLanceNation(spark: SparkSession, sfDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(conf)
    val base = new Path(morLancePath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=mor_lance_nation
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.base.file.format=LANCE
        |hoodie.table.recordkey.fields=n_nationkey
        |hoodie.table.precombine.field=n_nationkey
        |hoodie.populate.meta.fields=true
        |""".stripMargin)

    val src = spark.read.parquet(s"$sfDir/nation.parquet")
      .orderBy("n_nationkey").collect()
    val dataSchema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType), StructField("score", DoubleType)))
    val fileSchema = StructType(
      Seq("_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name")
        .map(StructField(_, StringType)) ++ dataSchema.fields)
    val name1 = s"${fileId(0)}_${Token}_$T1.lance"
    graft.lance.LanceWriter.write(
      new Path(base, name1).toString, conf, fileSchema,
      src.toSeq.map { r =>
        val k = r.getInt(0)
        Seq(T1, s"${T1}_0_$k", k.toString, "", name1,
          k, r.getString(1), r.getInt(2), k / 4.0)
      })
    writeCommit(fs, base, T1, "commit", Seq(("", fileId(0), name1)),
      Some(SparkToAvro.toAvroSchema(dataSchema, "nation_record").toString))

    // deltacommit T2: avro update block (n_name + '-v2', score + 100)
    val avroSchema = SparkToAvro.toAvroSchema(fileSchema, "mor_lance_record")
    val logName1 = s".${fileId(0)}_$T1.log.1_$Token"
    val out1 = new DataOutputStream(fs.create(new Path(base, logName1), true))
    try LogFileWriter.avroDataBlock(out1, T2, avroSchema,
      src.toSeq.filter(_.getInt(0) % 5 == 0).map { r =>
        val k = r.getInt(0)
        SparkToAvro.toRecord(
          org.apache.spark.sql.Row(T2, s"${T2}_0_$k", k.toString, "", "",
            k, r.getString(1) + "-v2", r.getInt(2), k / 4.0 + 100.0),
          fileSchema, avroSchema)
      })
    finally out1.close()
    writeCommit(fs, base, T2, "deltacommit", Seq(("", fileId(0), logName1)))

    // deltacommit T3: delete tombstones for n_nationkey % 7 == 3
    val logName2 = s".${fileId(0)}_$T1.log.2_$Token"
    val out2 = new DataOutputStream(fs.create(new Path(base, logName2), true))
    try LogFileWriter.deleteBlock(out2, T3, avroSchema,
      src.toSeq.filter(_.getInt(0) % 7 == 3)
        .map(r => (r.getInt(0).toString, "", r.getInt(0).asInstanceOf[Any])))
    finally out2.close()
    writeCommit(fs, base, T3, "deltacommit", Seq(("", fileId(0), logName2)))
  }

  // --- COW over nation, non-partitioned, schema EVOLVED at commit 2 ------
  // (resolver.rs:41-47: the commit-metadata schema is authoritative — a
  // reader sampling file group 0's footer would miss n_regionkey entirely)
  private def buildCowEvolvedNation(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(evolvedPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_evolved_nation
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=n_nationkey
        |hoodie.table.precombine.field=n_nationkey
        |hoodie.populate.meta.fields=true
        |""".stripMargin)

    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    def metaCols(name: String) = Seq(
      lit(T1).as("_hoodie_commit_time"),
      concat(lit(T1), lit("_0_"), col("n_nationkey")).as("_hoodie_commit_seqno"),
      col("n_nationkey").cast(StringType).as("_hoodie_record_key"),
      lit("").as("_hoodie_partition_path"),
      lit(name).as("_hoodie_file_name"))
    def commitJson(files: Seq[(String, String)], avroSchema: String): String = {
      val stats = files.map { case (fid, rel) =>
        s"""{"fileId":"$fid","path":"$rel","partitionPath":""}"""
      }.mkString("[", ",", "]")
      val esc = avroSchema.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"partitionToWriteStats":{"":$stats},"extraMetadata":{"schema":"$esc"},"compacted":false}"""
    }
    // commit 1: file group 0, OLD schema (no n_regionkey)
    val name1 = s"${fileId(0)}_${Token}_$T1.parquet"
    val old = src.filter(col("n_nationkey") % 2 === 0)
      .select(metaCols(name1) ++ Seq(col("n_nationkey"), col("n_name")): _*)
    writeBaseFile(spark, old, base, name1)
    val oldAvro = SparkToAvro.toAvroSchema(
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType))),
      "nation_record").toString
    writeText(fs, new Path(base, s".hoodie/$T1.commit"),
      commitJson(Seq((fileId(0), name1)), oldAvro))
    // commit 2: file group 1, NEW schema (n_regionkey added)
    val name2 = s"${fileId(1)}_${Token}_$T2.parquet"
    val neu = src.filter(col("n_nationkey") % 2 === 1)
      .select(metaCols(name2) ++ Seq(col("n_nationkey"), col("n_name"), col("n_regionkey")): _*)
    writeBaseFile(spark, neu, base, name2)
    val newAvro = SparkToAvro.toAvroSchema(
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      "nation_record").toString
    writeText(fs, new Path(base, s".hoodie/$T2.commit"),
      commitJson(Seq((fileId(1), name2)), newAvro))
  }

  // --- COW over nation, TYPE-WIDENED at commit 2 --------------------------
  // Hudi permits int→long and float→double widening across commits
  // (public schema-evolution rules); the latest commit-metadata schema is
  // authoritative (resolver.rs:41-47) and declares the WIDE types, so
  // readers must upcast commit-1 files whose physical parquet types are
  // still int32/float — on both the DataFrame path and the DSv2
  // vectorized columnar delegate.
  private def buildCowWidenedNation(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(widenedPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_widened_nation
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=n_nationkey
        |hoodie.table.precombine.field=n_nationkey
        |hoodie.populate.meta.fields=true
        |""".stripMargin)

    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    def metaCols(commit: String, name: String) = Seq(
      lit(commit).as("_hoodie_commit_time"),
      concat(lit(commit), lit("_0_"), col("n_nationkey")).as("_hoodie_commit_seqno"),
      col("n_nationkey").cast(StringType).as("_hoodie_record_key"),
      lit("").as("_hoodie_partition_path"),
      lit(name).as("_hoodie_file_name"))
    def commitJson(files: Seq[(String, String)], avroSchema: String): String = {
      val stats = files.map { case (fid, rel) =>
        s"""{"fileId":"$fid","path":"$rel","partitionPath":""}"""
      }.mkString("[", ",", "]")
      val esc = avroSchema.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"partitionToWriteStats":{"":$stats},"extraMetadata":{"schema":"$esc"},"compacted":false}"""
    }
    // commit 1: file group 0 — NARROW physical types (pop int, score float)
    val name1 = s"${fileId(0)}_${Token}_$T1.parquet"
    val narrow = src.filter(col("n_nationkey") % 2 === 0)
      .select(metaCols(T1, name1) ++ Seq(
        col("n_nationkey"), col("n_name"),
        (col("n_nationkey") * 1000 + 7).cast(IntegerType).as("pop"),
        (col("n_nationkey") * 0.25).cast(FloatType).as("score")): _*)
    writeBaseFile(spark, narrow, base, name1)
    val narrowAvro = SparkToAvro.toAvroSchema(
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("pop", IntegerType), StructField("score", FloatType))),
      "nation_record").toString
    writeText(fs, new Path(base, s".hoodie/$T1.commit"),
      commitJson(Seq((fileId(0), name1)), narrowAvro))
    // commit 2: file group 1 — WIDE physical types, values past int range
    val name2 = s"${fileId(1)}_${Token}_$T2.parquet"
    val wide = src.filter(col("n_nationkey") % 2 === 1)
      .select(metaCols(T2, name2) ++ Seq(
        col("n_nationkey"), col("n_name"),
        (lit(5000000000L) + col("n_nationkey")).cast(LongType).as("pop"),
        (col("n_nationkey") * 0.25).cast(DoubleType).as("score")): _*)
    writeBaseFile(spark, wide, base, name2)
    val wideAvro = SparkToAvro.toAvroSchema(
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("pop", LongType), StructField("score", DoubleType))),
      "nation_record").toString
    writeText(fs, new Path(base, s".hoodie/$T2.commit"),
      commitJson(Seq((fileId(1), name2)), wideAvro))
  }

  // --- MOR over nation, TYPE-WIDENED at the log commit --------------------
  // Commit 1 writes the base file with NARROW physical types (int32 pop,
  // float score); commit 2 appends an avro LOG block whose writer schema
  // already declares the widened long/double types with values past Int
  // range, and records the wide schema in its commit metadata. The MOR
  // merge must read narrow base rows upcast to the resolved wide schema
  // AND align the wide log records — the cross-commit widening case the
  // COW fixture cannot reach.
  private def buildMorWidenedNation(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(morWidenedPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=mor_widened_nation
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=n_nationkey
        |hoodie.table.precombine.field=n_nationkey
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    def metaCols(commit: String, name: String) = Seq(
      lit(commit).as("_hoodie_commit_time"),
      concat(lit(commit), lit("_0_"), col("n_nationkey")).as("_hoodie_commit_seqno"),
      col("n_nationkey").cast(StringType).as("_hoodie_record_key"),
      lit("").as("_hoodie_partition_path"),
      lit(name).as("_hoodie_file_name"))
    // T1: one base group, narrow physical types
    val name1 = s"${fileId(0)}_${Token}_$T1.parquet"
    val narrow = src.select(metaCols(T1, name1) ++ Seq(
      col("n_nationkey"), col("n_name"),
      (col("n_nationkey") * 1000 + 7).cast(IntegerType).as("pop"),
      (col("n_nationkey") * 0.25).cast(FloatType).as("score")): _*)
    writeBaseFile(spark, narrow, base, name1)
    writeCommit(fs, base, T1, "deltacommit", Seq(("", fileId(0), name1)),
      Some(SparkToAvro.toAvroSchema(
        StructType(Seq(StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType), StructField("pop", IntegerType),
          StructField("score", FloatType))), "nation_record").toString))
    // T2: avro log block under the WIDE writer schema, values past Int
    val wideRows = src.filter(col("n_nationkey") % 5 === 0)
      .select(metaCols(T2, "") ++ Seq(
        col("n_nationkey"), col("n_name"),
        (lit(6000000000L) + col("n_nationkey")).as("pop"),
        (col("n_nationkey") * 0.5).cast(DoubleType).as("score")): _*)
    val wideTableSchema = wideRows.schema
    val wideAvro = SparkToAvro.toAvroSchema(wideTableSchema, "nation_record_wide")
    val logName = s".${fileId(0)}_$T1.log.1_$Token"
    val out = new DataOutputStream(fs.create(new Path(base, logName), true))
    try LogFileWriter.avroDataBlock(out, T2, wideAvro,
      wideRows.collect().toIndexedSeq.map(SparkToAvro.toRecord(_, wideTableSchema, wideAvro)))
    finally out.close()
    writeCommit(fs, base, T2, "deltacommit", Seq(("", fileId(0), logName)),
      Some(SparkToAvro.toAvroSchema(
        StructType(Seq(StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType), StructField("pop", LongType),
          StructField("score", DoubleType))), "nation_record").toString))
  }

  // --- COW over nation, v8 + metadata-table `files` partition ------------
  // (S8/S11/M7 end-to-end: the read plans its listing through the MDT's
  // HFile base file. An ORPHAN base file — written under a completed
  // instant's timestamp but absent from the MDT, the shape task retries
  // leave behind — sits in partition 0: the MDT-served listing excludes
  // it, a raw storage listing would include it and duplicate rows, so the
  // oracle hash fails loudly if the MDT path silently regresses to
  // listing.)
  val T1C = "20240101000000001"

  // one MDT record encoding, shared with the WRITE path's maintenance
  // (graft.write.MdtMaintenance) — the fixture and the writer must stay
  // byte-compatible with the same reader
  private[graft] val mdtAvroSchema: org.apache.avro.Schema =
    graft.write.MdtMaintenance.mdtAvroSchema

  private[graft] def mdtRecordBytes(key: String, recType: Int,
      files: Seq[(String, Long)]): Array[Byte] =
    graft.write.MdtMaintenance.recordBytes(key, recType, files)

  /** HoodieMetadataRecord with the `recordIndexMetadata` branch (public
    * Apache Hudi HoodieMetadata.avsc HoodieRecordIndexInfo).
    */
  private val recordIndexAvroSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"HoodieMetadataRecord","fields":[
        |{"name":"key","type":"string"},
        |{"name":"type","type":"int"},
        |{"name":"filesystemMetadata","type":["null",{"type":"map","values":
        |  {"type":"record","name":"HoodieMetadataFileInfo","fields":[
        |    {"name":"size","type":"long"},{"name":"isDeleted","type":"boolean"}]}}]},
        |{"name":"recordIndexMetadata","type":["null",
        |  {"type":"record","name":"HoodieRecordIndexInfo","fields":[
        |    {"name":"partitionName","type":["null","string"],"default":null},
        |    {"name":"fileIdHighBits","type":["null","long"],"default":null},
        |    {"name":"fileIdLowBits","type":["null","long"],"default":null},
        |    {"name":"fileIndex","type":["null","int"],"default":null},
        |    {"name":"fileId","type":["null","string"],"default":null},
        |    {"name":"instantTime","type":["null","long"],"default":null},
        |    {"name":"fileIdEncoding","type":["null","int"],"default":null}]}]}
        |]}""".stripMargin.replaceAll("\n", ""))

  private def recordIndexBytes(key: String, partition: String, fid: String,
      instantTime: Long, rawEncoding: Boolean): Array[Byte] = {
    import org.apache.avro.generic.GenericData
    val riSchema = recordIndexAvroSchema.getField("recordIndexMetadata").schema()
      .getTypes.get(1)
    val rec = new GenericData.Record(recordIndexAvroSchema)
    rec.put("key", key)
    rec.put("type", 5)
    rec.put("filesystemMetadata", null)
    val ri = new GenericData.Record(riSchema)
    ri.put("partitionName", partition)
    ri.put("instantTime", instantTime)
    if (rawEncoding) {
      ri.put("fileId", fid)
      ri.put("fileIdEncoding", 1)
      ri.put("fileIdHighBits", 0L)
      ri.put("fileIdLowBits", 0L)
      ri.put("fileIndex", -1)
    } else {
      val uuid = java.util.UUID.fromString(fid.substring(0, 36))
      ri.put("fileIdHighBits", uuid.getMostSignificantBits)
      ri.put("fileIdLowBits", uuid.getLeastSignificantBits)
      ri.put("fileIndex", fid.substring(37).toInt)
      ri.put("fileId", null)
      ri.put("fileIdEncoding", 0)
    }
    rec.put("recordIndexMetadata", ri)
    graft.write.MdtCommit.encode(rec)
  }

  private def buildCowMdtNation(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(mdtPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie/timeline"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_mdt_nation
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=8
        |hoodie.timeline.layout.version=2
        |hoodie.table.recordkey.fields=n_nationkey
        |hoodie.table.precombine.field=n_nationkey
        |hoodie.table.partition.fields=n_regionkey
        |hoodie.datasource.write.hive_style_partitioning=false
        |hoodie.datasource.write.partitionpath.urlencode=false
        |hoodie.populate.meta.fields=true
        |hoodie.table.metadata.partitions=files
        |""".stripMargin)

    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val regions = src.select("n_regionkey").distinct().collect().map(_.getInt(0)).sorted
    val files = regions.zipWithIndex.map { case (r, i) =>
      val partDir = r.toString
      val name = s"${fileId(i)}_${Token}_$T1.parquet"
      val df = src.filter(col("n_regionkey") === r)
      val metaDf = df.select(
        lit(T1).as("_hoodie_commit_time"),
        concat(lit(T1), lit("_0_"), col("n_nationkey")).as("_hoodie_commit_seqno"),
        col("n_nationkey").cast(StringType).as("_hoodie_record_key"),
        lit(partDir).as("_hoodie_partition_path"),
        lit(name).as("_hoodie_file_name"),
        col("n_nationkey"), col("n_name"), col("n_regionkey"))
      writeBaseFile(spark, metaDf, new Path(base, partDir), name)
      (partDir, fileId(i), s"$partDir/$name")
    }
    // v8 completed instant: {requestTs}_{completionTs}.commit under
    // .hoodie/timeline (commit metadata stays plain JSON — the loader is
    // content-detected)
    val dataAvro = SparkToAvro.toAvroSchema(src.schema, "nation_record").toString
    val stats = files.groupBy(_._1).map { case (p, fsz) =>
      s""""$p":[${fsz.map { case (_, fid, rel) => s"""{"fileId":"$fid","path":"$rel","partitionPath":"$p"}""" }.mkString(",")}]"""
    }.mkString("{", ",", "}")
    val esc = dataAvro.replace("\\", "\\\\").replace("\"", "\\\"")
    writeText(fs, new Path(base, s".hoodie/timeline/${T1}_$T1C.commit"),
      s"""{"partitionToWriteStats":$stats,"extraMetadata":{"schema":"$esc"},"compacted":false}""")

    // the orphan: duplicate of partition 0's rows under a DIFFERENT file
    // group, stamped with the completed instant's ts — visible to a raw
    // listing, absent from the MDT
    val orphanPart = regions.head.toString
    val orphanName = s"${fileId(99)}_${Token}_$T1.parquet"
    val orphanDf = src.filter(col("n_regionkey") === regions.head)
    writeBaseFile(spark,
      orphanDf.select(
        lit(T1).as("_hoodie_commit_time"),
        concat(lit(T1), lit("_9_"), col("n_nationkey")).as("_hoodie_commit_seqno"),
        col("n_nationkey").cast(StringType).as("_hoodie_record_key"),
        lit(orphanPart).as("_hoodie_partition_path"),
        lit(orphanName).as("_hoodie_file_name"),
        col("n_nationkey"), col("n_name"), col("n_regionkey")),
      new Path(base, orphanPart), orphanName)

    // --- the metadata table itself (v6-layout MOR with an HFILE base) ----
    val mdt = new Path(base, ".hoodie/metadata")
    fs.mkdirs(new Path(mdt, ".hoodie"))
    writeText(fs, new Path(mdt, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_mdt_nation_metadata
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=key
        |hoodie.table.base.file.format=HFILE
        |hoodie.populate.meta.fields=false
        |""".stripMargin)
    writeText(fs, new Path(mdt, s".hoodie/$T1.deltacommit"),
      """{"partitionToWriteStats":{},"compacted":false}""")
    val sizes = files.map { case (p, _, rel) =>
      p -> (new Path(base, rel).getName, fs.getFileStatus(new Path(base, rel)).getLen)
    }
    val records =
      (sizes.map { case (p, (name, len)) =>
        p -> mdtRecordBytes(p, graft.table.FilesPartitionRecord.TypeFiles, Seq(name -> len))
      } :+ (graft.table.FilesPartitionRecord.AllPartitionsKey ->
        mdtRecordBytes(graft.table.FilesPartitionRecord.AllPartitionsKey,
          graft.table.FilesPartitionRecord.TypeAllPartitions,
          regions.map(r => r.toString -> 0L))))
        .sortBy(_._1)
    val hfileBytes = graft.hfile.HFileWriter.write(
      records,
      Map("schema" -> mdtAvroSchema.toString.getBytes("UTF-8")),
      recordsPerBlock = 2) // multiple data blocks → the index path is real
    val filesDir = new Path(mdt, "files")
    fs.mkdirs(filesDir)
    val out = fs.create(new Path(filesDir, s"files-0000-0_${Token}_$T1.hfile"), true)
    out.write(hfileBytes)
    out.close()
  }

  // --- COW over nation, hive-style partitioned by n_regionkey ------------
  private def buildCowPartNation(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(partPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_part_nation
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=n_nationkey
        |hoodie.table.precombine.field=n_nationkey
        |hoodie.table.partition.fields=n_regionkey
        |hoodie.datasource.write.hive_style_partitioning=true
        |hoodie.datasource.write.partitionpath.urlencode=false
        |hoodie.populate.meta.fields=true
        |""".stripMargin)

    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val regions = src.select("n_regionkey").distinct().collect().map(_.getInt(0)).sorted
    val files = regions.zipWithIndex.map { case (r, i) =>
      val partDir = s"n_regionkey=$r"
      val name = s"${fileId(i)}_${Token}_$T1.parquet"
      val df = src.filter(col("n_regionkey") === r).withColumn("__commit", lit(T1))
      val metaDf = df.select(
        col("__commit").as("_hoodie_commit_time"),
        concat(col("__commit"), lit("_0_"), col("n_nationkey")).as("_hoodie_commit_seqno"),
        col("n_nationkey").cast(StringType).as("_hoodie_record_key"),
        lit(partDir).as("_hoodie_partition_path"),
        lit(name).as("_hoodie_file_name"),
        col("n_nationkey"), col("n_name"), col("n_regionkey"))
      writeBaseFile(spark, metaDf, new Path(base, partDir), name)
      (partDir, fileId(i), s"$partDir/$name")
    }
    val stats = files.groupBy(_._1).map { case (p, fsz) =>
      s""""$p":[${fsz.map { case (_, fid, rel) => s"""{"fileId":"$fid","path":"$rel","partitionPath":"$p"}""" }.mkString(",")}]"""
    }.mkString("{", ",", "}")
    writeText(fs, new Path(base, s".hoodie/$T1.commit"),
      s"""{"partitionToWriteStats":$stats,"compacted":false}""")
  }

  // --- COW over nation, hive-style partitioned by the INT n_regionkey,
  // WITH a null partition: two synthetic rows carry NULL n_regionkey and
  // land under `n_regionkey=__HIVE_DEFAULT_PARTITION__` (the v4+
  // rendering on every layout). Exercises null-aware exact pruning:
  // `WHERE n_regionkey IS NULL` plans exactly the sentinel partition
  // (and, being an INT column, consumes EXACTLY — a typed sentinel
  // holds only nulls), `IS NOT NULL` excludes it, and the filtered
  // aggregate pushdown serves both as zero-task plans.
  private def buildCowNullpartNation(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(nullpartPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_nullpart_nation
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=n_nationkey
        |hoodie.table.precombine.field=n_nationkey
        |hoodie.table.partition.fields=n_regionkey
        |hoodie.datasource.write.hive_style_partitioning=true
        |hoodie.datasource.write.partitionpath.urlencode=false
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
      .unionByName(spark.range(2).select(
        (col("id") + 998).cast(IntegerType).as("n_nationkey"),
        concat(lit("NULLPART-"), col("id")).as("n_name"),
        lit(null).cast(IntegerType).as("n_regionkey")))
    val parts = src.select("n_regionkey").distinct().collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
      .sortBy(_.getOrElse(Int.MinValue))
    val files = parts.zipWithIndex.map { case (rOpt, i) =>
      val partDir = s"n_regionkey=${rOpt.map(_.toString).getOrElse("__HIVE_DEFAULT_PARTITION__")}"
      val name = s"${fileId(i)}_${Token}_$T1.parquet"
      val df = (rOpt match {
        case Some(r) => src.filter(col("n_regionkey") === r)
        case None => src.filter(col("n_regionkey").isNull)
      }).withColumn("__commit", lit(T1))
      val metaDf = df.select(
        col("__commit").as("_hoodie_commit_time"),
        concat(col("__commit"), lit("_0_"), col("n_nationkey")).as("_hoodie_commit_seqno"),
        col("n_nationkey").cast(StringType).as("_hoodie_record_key"),
        lit(partDir).as("_hoodie_partition_path"),
        lit(name).as("_hoodie_file_name"),
        col("n_nationkey"), col("n_name"), col("n_regionkey"))
      writeBaseFile(spark, metaDf, new Path(base, partDir), name)
      (partDir, fileId(i), s"$partDir/$name")
    }
    val stats = files.groupBy(_._1).map { case (p, fsz) =>
      s""""$p":[${fsz.map { case (_, fid, rel) => s"""{"fileId":"$fid","path":"$rel","partitionPath":"$p"}""" }.mkString(",")}]"""
    }.mkString("{", ",", "}")
    writeText(fs, new Path(base, s".hoodie/$T1.commit"),
      s"""{"partitionToWriteStats":$stats,"compacted":false}""")
  }

  // --- MOR, insert-only: one deltacommit of base files, ZERO log files --
  // The append-pipeline shape: table type MERGE_ON_READ but every slice
  // is base-only, so metadata aggregates push exactly as on COW — the
  // pushdown's gate is per-PLAN log-freedom, not table type
  // (`hudi_mor_insert_only_agg`).
  private def buildMorInsertOnly(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(morInsertOnlyPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=mor_insert_only
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=r_regionkey
        |hoodie.table.precombine.field=r_regionkey
        |hoodie.datasource.write.hive_style_partitioning=false
        |hoodie.datasource.write.partitionpath.urlencode=false
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val files = (0 until 2).map { g =>
      val name = s"${fileId(g)}_${Token}_$T1.parquet"
      val df = src.filter(pmod(col("r_regionkey"), lit(2)) === g).withColumn("__commit", lit(T1))
      val metaDf = df.select(
        col("__commit").as("_hoodie_commit_time"),
        concat(col("__commit"), lit("_0_"), col("r_regionkey")).as("_hoodie_commit_seqno"),
        col("r_regionkey").cast(StringType).as("_hoodie_record_key"),
        lit("").as("_hoodie_partition_path"),
        lit(name).as("_hoodie_file_name"),
        col("r_regionkey"), col("r_name"))
      writeBaseFile(spark, metaDf, base, name)
      ("", fileId(g), name)
    }
    writeCommit(fs, base, T1, "deltacommit", files,
      Some(SparkToAvro.toAvroSchema(src.schema, "region_record").toString))
  }

  // --- COW over region, hive-style, STRING partition column + a null row -
  // Partitioned by r_name (string) with one synthetic row whose r_name is
  // NULL, landing in the `__HIVE_DEFAULT_PARTITION__` sentinel dir. String
  // partition columns can never serve MIN/MAX from chunk stats
  // (writer-truncation), so the aggregate pushdown serves them from PARSED
  // PATH VALUES — but only on sentinel-free plans: the unfiltered plan here
  // must REJECT (the sentinel partition's stored values are unreadable-
  // without-IO), while an exact r_name filter prunes the sentinel away and
  // pushes (`hudi_strpart_agg_pushdown`).
  private def buildCowStrpartRegion(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(strpartPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    writeText(fs, new Path(base, ".hoodie/hoodie.properties"),
      """hoodie.table.name=cow_strpart_region
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.timeline.layout.version=1
        |hoodie.table.recordkey.fields=r_regionkey
        |hoodie.table.precombine.field=r_regionkey
        |hoodie.table.partition.fields=r_name
        |hoodie.datasource.write.hive_style_partitioning=true
        |hoodie.datasource.write.partitionpath.urlencode=false
        |hoodie.populate.meta.fields=true
        |""".stripMargin)
    val src = spark.read.parquet(s"$sfDir/region.parquet")
      .unionByName(spark.range(1).select(
        lit(99).cast(IntegerType).as("r_regionkey"),
        lit(null).cast(StringType).as("r_name")))
    val parts = src.select("r_name").distinct().collect()
      .map(r => Option(r.getString(0))).sortBy(_.getOrElse(""))
    val files = parts.zipWithIndex.map { case (nameOpt, i) =>
      val partDir = s"r_name=${nameOpt.getOrElse("__HIVE_DEFAULT_PARTITION__")}"
      val name = s"${fileId(i)}_${Token}_$T1.parquet"
      val df = (nameOpt match {
        case Some(n) => src.filter(col("r_name") === n)
        case None => src.filter(col("r_name").isNull)
      }).withColumn("__commit", lit(T1))
      val metaDf = df.select(
        col("__commit").as("_hoodie_commit_time"),
        concat(col("__commit"), lit("_0_"), col("r_regionkey")).as("_hoodie_commit_seqno"),
        col("r_regionkey").cast(StringType).as("_hoodie_record_key"),
        lit(partDir).as("_hoodie_partition_path"),
        lit(name).as("_hoodie_file_name"),
        col("r_regionkey"), col("r_name"))
      writeBaseFile(spark, metaDf, new Path(base, partDir), name)
      (partDir, fileId(i), s"$partDir/$name")
    }
    val stats = files.groupBy(_._1).map { case (p, fsz) =>
      s""""$p":[${fsz.map { case (_, fid, rel) => s"""{"fileId":"$fid","path":"$rel","partitionPath":"$p"}""" }.mkString(",")}]"""
    }.mkString("{", ",", "}")
    writeText(fs, new Path(base, s".hoodie/$T1.commit"),
      s"""{"partitionToWriteStats":$stats,"compacted":false}""")
  }

  // --- COW over nation, hive-style, partition column DROPPED from files --
  // (P6: hoodie.datasource.write.drop.partition.columns=true; the logical
  // type of the dropped column comes from hoodie.table.create.schema)
  private def buildCowDroppedNation(spark: SparkSession, sfDir: String): Unit = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val base = new Path(droppedPath(sfDir))
    fs.mkdirs(new Path(base, ".hoodie"))
    val createSchema =
      """{"type":"record","name":"nation_record","fields":[
        |{"name":"n_nationkey","type":["int","null"]},
        |{"name":"n_name","type":["string","null"]},
        |{"name":"n_regionkey","type":["int","null"]}]}""".stripMargin.replaceAll("\n", "")
    val props = new java.util.Properties()
    props.setProperty("hoodie.table.name", "cow_dropped_nation")
    props.setProperty("hoodie.table.type", "COPY_ON_WRITE")
    props.setProperty("hoodie.table.version", "6")
    props.setProperty("hoodie.timeline.layout.version", "1")
    props.setProperty("hoodie.table.recordkey.fields", "n_nationkey")
    props.setProperty("hoodie.table.precombine.field", "n_nationkey")
    props.setProperty("hoodie.table.partition.fields", "n_regionkey")
    props.setProperty("hoodie.datasource.write.hive_style_partitioning", "true")
    props.setProperty("hoodie.datasource.write.drop.partition.columns", "true")
    props.setProperty("hoodie.populate.meta.fields", "true")
    props.setProperty("hoodie.table.create.schema", createSchema)
    val out = fs.create(new Path(base, ".hoodie/hoodie.properties"), true)
    props.store(out, null)
    out.close()

    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val regions = src.select("n_regionkey").distinct().collect().map(_.getInt(0)).sorted
    val files = regions.zipWithIndex.map { case (r, i) =>
      val partDir = s"n_regionkey=$r"
      val name = s"${fileId(i)}_${Token}_$T1.parquet"
      val metaDf = src.filter(col("n_regionkey") === r)
        .select(
          lit(T1).as("_hoodie_commit_time"),
          concat(lit(T1), lit("_0_"), col("n_nationkey")).as("_hoodie_commit_seqno"),
          col("n_nationkey").cast(StringType).as("_hoodie_record_key"),
          lit(partDir).as("_hoodie_partition_path"),
          lit(name).as("_hoodie_file_name"),
          col("n_nationkey"), col("n_name")) // n_regionkey deliberately absent
      writeBaseFile(spark, metaDf, new Path(base, partDir), name)
      (partDir, fileId(i), s"$partDir/$name")
    }
    val stats = files.groupBy(_._1).map { case (p, fsz) =>
      s""""$p":[${fsz.map { case (_, fid, rel) => s"""{"fileId":"$fid","path":"$rel","partitionPath":"$p"}""" }.mkString(",")}]"""
    }.mkString("{", ",", "}")
    writeText(fs, new Path(base, s".hoodie/$T1.commit"),
      s"""{"partitionToWriteStats":$stats,"compacted":false}""")
  }
}
