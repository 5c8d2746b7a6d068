package graft.write

import graft.core.MetaField
import graft.table.BloomFilterIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Metadata-table `bloom_filters`-partition maintenance for the write
  * path: each commit hands the action's [[MdtCommit]] one HFile block
  * holding a SIMPLE (hadoop murmur) bloom per written base file — the
  * exact serialization [[BloomFilterIndex]] (and real Hudi) probes, so
  * the bloom point-lookup tier keeps pruning over connector-written
  * files. The handle completes the MDT deltacommit once.
  *
  * Scale shape: the blooms build DISTRIBUTED — one record-key column
  * scan of the written files, per-task PARTIAL blooms (sized from the
  * commit's known per-file row counts so partials are OR-combinable),
  * one reduceByKey OR-merge — and the driver collects only the final
  * serialized bitmaps (the same bytes the single MDT block is about to
  * hold). Files a probe finds no bloom for fail OPEN at the reader, so
  * partial coverage (zero-row empty bases are skipped) costs a probe,
  * never a wrong prune.
  */
object BloomFilterMaintenance {

  private val BitsPerKey = 20
  private val Hashes = 5

  /** Append blooms for `newFiles` ((partition, fileName, rows) of this
    * commit's non-empty base files) through `mdt`.
    */
  def append(
      spark: SparkSession,
      mdt: MdtCommit,
      newFiles: Seq[(String, String, Long)]): Unit = {
    if (newFiles.isEmpty) return
    val schema = mdt.baseSchema(BloomFilterIndex.PartitionName)
    if (schema.getField("BloomFilterMetadata") == null)
      throw new UnsupportedOperationException(
        "bloom_filters schema lacks BloomFilterMetadata — not maintainable")
    val dataTableBase = mdt.dataTableBase

    val byName = newFiles.map { case (p, name, rows) => name -> ((p, rows)) }.toMap
    require(byName.size == newFiles.size,
      s"bloom maintenance: duplicate file names across partitions: $newFiles")
    val paths = newFiles.map { case (p, name, _) =>
      if (p.isEmpty) s"$dataTableBase/$name" else s"$dataTableBase/$p/$name"
    }
    val bc = spark.sparkContext.broadcast(byName)
    val partials = spark.read.parquet(paths: _*)
      .select(input_file_name().as("__p"), col(MetaField.RecordKey).as("__k"))
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[
          String, org.apache.hadoop.util.bloom.BloomFilter]
        for (r <- it) {
          val name = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
          val bf = acc.getOrElseUpdate(name, newBloom(bc.value(name)._2))
          bf.add(new org.apache.hadoop.util.bloom.Key(r.getString(1).getBytes("UTF-8")))
        }
        acc.iterator.map { case (name, bf) => name -> rawBytes(bf) }
      }
      .reduceByKey { (a, b) =>
        val ba = readBloom(a); ba.or(readBloom(b)); rawBytes(ba)
      }
      .collect()

    val records = partials.toSeq.map { case (name, raw) =>
      val (partition, _) = byName(name)
      val key = BloomFilterIndex.indexKey(partition, name)
      key -> recordBytes(schema, key, mdt.instant,
        java.util.Base64.getEncoder.encodeToString(raw).getBytes("UTF-8"))
    }.sortBy(_._1)
    mdt.append(BloomFilterIndex.PartitionName, schema, records)
  }

  private def newBloom(rows: Long): org.apache.hadoop.util.bloom.BloomFilter =
    new org.apache.hadoop.util.bloom.BloomFilter(
      math.max(64, (rows * BitsPerKey).min(Int.MaxValue.toLong).toInt), Hashes,
      org.apache.hadoop.util.hash.Hash.MURMUR_HASH)

  private def rawBytes(bf: org.apache.hadoop.util.bloom.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.write(new java.io.DataOutputStream(bos))
    bos.toByteArray
  }

  private def readBloom(raw: Array[Byte]): org.apache.hadoop.util.bloom.BloomFilter = {
    val bf = new org.apache.hadoop.util.bloom.BloomFilter()
    bf.readFields(new java.io.DataInputStream(new java.io.ByteArrayInputStream(raw)))
    bf
  }

  private def recordBytes(
      schema: org.apache.avro.Schema,
      key: String,
      instant: String,
      bloomBase64: Array[Byte]): Array[Byte] = {
    import org.apache.avro.generic.GenericData
    val bmSchema = schema.getField("BloomFilterMetadata").schema().getTypes.get(1)
    val rec = new GenericData.Record(schema)
    rec.put("key", key)
    rec.put("type", 4)
    val bm = new GenericData.Record(bmSchema)
    bm.put("type", "SIMPLE")
    bm.put("timestamp", instant)
    bm.put("bloomFilter", java.nio.ByteBuffer.wrap(bloomBase64))
    bm.put("isDeleted", false)
    rec.put("BloomFilterMetadata", bm)
    MdtCommit.encode(rec)
  }
}
