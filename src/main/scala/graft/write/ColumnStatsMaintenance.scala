package graft.write

/** Metadata-table `column_stats`- and `partition_stats`-partition
  * maintenance for the write path: each commit hands the action's
  * [[MdtCommit]] one HFile block of `HoodieMetadataColumnStats` records
  * per partition — EXACT per-(file, column) min/max/valueCount/nullCount
  * computed from the staged data itself (one aggregation over the
  * staging scan the writer already runs), so the index keeps pruning AND
  * answering (tight bounds) over connector-written files with zero
  * footer reads. The handle completes the MDT deltacommit once.
  *
  * Records are encoded against the partition's OWN base-HFile schema
  * (read once per action by the handle): [[graft.table.ColumnStatsIndex]]
  * decodes log overlays with the base's embedded schema, so a real-Hudi
  * MDT (full HoodieMetadata.avsc) and this repo's fixture subset both
  * round-trip — and a base schema this encoder cannot satisfy (an
  * unknown non-nullable field) refuses loudly instead of appending
  * bytes the reader would mis-decode.
  *
  * Scale shape: driver-side metadata — entries are one per
  * (written file × eligible column), bounded by file count, never rows;
  * the stats themselves ride the staging pass. Coverage is deliberately
  * partial (long/date/string columns; base files only): every index
  * tier keys by planned file + column and falls open on a gap, so a
  * skipped column costs a footer read, never a wrong answer.
  */
object ColumnStatsMaintenance {

  final case class FileColStats(
      partition: String,
      fileName: String,
      column: String,
      wrapper: String, // LongWrapper | DateWrapper | StringWrapper
      min: Any,
      max: Any,
      valueCount: Long,
      nullCount: Long)

  def append(mdt: MdtCommit, stats: Seq[FileColStats]): Unit = {
    if (stats.isEmpty) return
    val partition = graft.table.ColumnStatsIndex.PartitionName
    val (schema, csSchema) = targetSchema(mdt, partition)
    val records = stats
      .map(s => s"${s.column}//${s.partition}//${s.fileName}" -> encode(
        schema, csSchema, s"${s.column}//${s.partition}//${s.fileName}", recType = 3,
        fileName = s.fileName, column = s.column, wrapper = s.wrapper,
        mn = s.min, mx = s.max, valueCount = Some(s.valueCount),
        nullCount = Some(s.nullCount), tight = true))
      .sortBy(_._1)
    mdt.append(partition, schema, records)
  }

  /** Append partition-level bounds to the `partition_stats` partition:
    * `bounds` = (partition, column, wrapper, min, max) of every row this
    * commit made visible, UNIONED here with the existing entry (read
    * through `mdt`) so the record stays a SUPERSET of the truth. A
    * partition in `priorPartitions` (it existed before this commit) with
    * NO entry stays uncovered (fail-open at the pruner) rather than
    * getting a bound that excludes its old files; brand-new partitions
    * get fresh bounds. An existing entry of another value type refuses
    * the write. Written LOOSE (isTightBound=false): partition stats
    * prune, they never answer. The record key is stable
    * (`column//partition`), so repeat commits overlay in place;
    * [[graft.table.ColumnStatsIndex]]'s last-wins map build makes the
    * newest overlay authoritative over a fixture entry under a different
    * key.
    */
  def appendPartitionStats(
      mdt: MdtCommit,
      bounds: Seq[(String, String, String, Any, Any)],
      priorPartitions: Set[String]): Unit = {
    if (bounds.isEmpty) return
    val existing = mdt.partitionStats
    def lo(a: Any, b: Any) =
      if (a.asInstanceOf[Comparable[Any]].compareTo(b) <= 0) a else b
    def hi(a: Any, b: Any) =
      if (a.asInstanceOf[Comparable[Any]].compareTo(b) >= 0) a else b
    val merged = bounds.groupBy(e => (e._1, e._2)).toSeq
      .sortBy(_._1).flatMap { case ((p, c), es) =>
        val newMn = es.map(_._4).reduce(lo)
        val newMx = es.map(_._5).reduce(hi)
        existing.get(p).flatMap(_.get(c)) match {
          case Some((omn, omx)) if omn.getClass == newMn.getClass =>
            Some((p, c, es.head._3, lo(omn, newMn), hi(omx, newMx)))
          case Some(_) =>
            throw new UnsupportedOperationException(
              s"hudi-graft: partition_stats entry for ($p, $c) carries a different " +
                "value type than this write — merging would corrupt the bound")
          case None if !priorPartitions.contains(p) =>
            Some((p, c, es.head._3, newMn, newMx))
          case None => None
        }
      }
    if (merged.isEmpty) return
    val partition = graft.table.PartitionStatsIndex.PartitionName
    val (schema, csSchema) = targetSchema(mdt, partition)
    val records = merged
      .map { case (p, c, wrapper, mn, mx) =>
        s"$c//$p" -> encode(schema, csSchema, s"$c//$p", recType = 6,
          fileName = p, column = c, wrapper = wrapper, mn = mn, mx = mx,
          valueCount = None, nullCount = None, tight = false)
      }
      .sortBy(_._1)
    mdt.append(partition, schema, records)
  }

  /** The target partition's base-HFile schema + its validated
    * ColumnStatsMetadata branch.
    */
  private def targetSchema(
      mdt: MdtCommit,
      partitionName: String): (org.apache.avro.Schema, org.apache.avro.Schema) = {
    val schema = mdt.baseSchema(partitionName)
    val csField = Option(schema.getField("ColumnStatsMetadata")).getOrElse(
      throw new UnsupportedOperationException(
        s"$partitionName schema lacks ColumnStatsMetadata — not maintainable"))
    val csSchema = csField.schema().getTypes.get(1)
    val known = Set("fileName", "columnName", "minValue", "maxValue",
      "valueCount", "nullCount", "isDeleted", "isTightBound")
    csSchema.getFields.forEach { f =>
      val nullable = f.schema().getType == org.apache.avro.Schema.Type.UNION &&
        f.schema().getTypes.stream().anyMatch(_.getType == org.apache.avro.Schema.Type.NULL)
      if (!known.contains(f.name) && !nullable)
        throw new UnsupportedOperationException(
          s"$partitionName schema field '${f.name}' is non-nullable and unknown to this " +
            "writer — refusing to append records the reader would mis-decode")
    }
    (schema, csSchema)
  }

  private def encode(
      schema: org.apache.avro.Schema,
      csSchema: org.apache.avro.Schema,
      key: String,
      recType: Int,
      fileName: String,
      column: String,
      wrapper: String,
      mn: Any,
      mx: Any,
      valueCount: Option[Long],
      nullCount: Option[Long],
      tight: Boolean): Array[Byte] = {
    import org.apache.avro.generic.GenericData
    import scala.jdk.CollectionConverters._
    val wrapSchema = csSchema.getField("minValue").schema().getTypes.asScala
      .find(_.getName == wrapper).getOrElse(
        throw new UnsupportedOperationException(
          s"stats schema has no $wrapper branch — refusing to mis-encode"))
    def wrap(v: Any): GenericData.Record = {
      val w = new GenericData.Record(wrapSchema)
      w.put("value", v.asInstanceOf[AnyRef])
      w
    }
    val rec = new GenericData.Record(schema)
    rec.put("key", key)
    rec.put("type", recType)
    val cs = new GenericData.Record(csSchema)
    cs.put("fileName", fileName)
    cs.put("columnName", column)
    cs.put("minValue", wrap(mn))
    cs.put("maxValue", wrap(mx))
    cs.put("valueCount", valueCount.map(Long.box).orNull)
    cs.put("nullCount", nullCount.map(Long.box).orNull)
    cs.put("isDeleted", false)
    if (csSchema.getField("isTightBound") != null) cs.put("isTightBound", tight)
    rec.put("ColumnStatsMetadata", cs)
    MdtCommit.encode(rec)
  }
}
