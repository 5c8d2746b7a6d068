package graft.table

import graft.core.HoodieConfig
import graft.hfile.HFileReader
import graft.log.{InstantRange, LogFileParser, LogFormat}
import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import scala.collection.mutable

/** Reader for the metadata table's `bloom_filters` partition — the
  * remaining Hudi data-skipping index after files/column_stats/
  * partition_stats/record_index/secondary_index (the reference
  * enumerates it, records.rs:115-116 `BloomFilters = 4`, and decodes it
  * on neither side). It serves record-KEY equality pruning on tables
  * WITHOUT a record index, and as a second-level filter after
  * column-stats range pruning: a bloom's "definitely absent" drops a
  * file group that key-range stats alone could not.
  *
  * Record model (public HoodieMetadata.avsc `HoodieMetadataBloomFilter`):
  * {type, timestamp, bloomFilter: bytes, isDeleted}, where the bytes are
  * the UTF-8 of a base64-encoded `org.apache.hadoop.util.bloom
  * .BloomFilter` serialization with murmur hashing — the exact classes
  * Hudi's SIMPLE bloom type wraps, reused here verbatim (hadoop-common
  * is already on every Spark classpath), so membership semantics match
  * the writer bit-for-bit.
  *
  * Keys are `base64(xxhash64(partitionIdentifier)) ++
  * base64(xxhash64(fileName))` (Hudi's HoodieMetadataPayload
  * .getBloomFilterIndexKey over PartitionIndexID/FileIndexID). ASSUMED
  * DETAIL, stated openly: the xxhash seed (0 here) has no real fixture
  * to validate against — the reference ships no bloom_filters partition.
  * A seed divergence from a real writer makes every lookup MISS, which
  * fails open (no pruning, never a wrong answer); the round-trip against
  * tables this repo's fixture builder writes is exact either way.
  */
object BloomFilterIndex {

  val PartitionName = "bloom_filters"

  def isAvailable(config: HoodieConfig): Boolean =
    config.metadataPartitions.contains(PartitionName)

  /** base64 of the big-endian xxhash64 of `s` — one ID half of a bloom
    * index key.
    */
  private def idHash(s: String): String = {
    val bytes = s.getBytes("UTF-8")
    val h = net.jpountz.xxhash.XXHashFactory.fastestInstance()
      .hash64().hash(bytes, 0, bytes.length, 0L)
    val out = java.nio.ByteBuffer.allocate(8).putLong(h).array()
    java.util.Base64.getEncoder.encodeToString(out)
  }

  /** The index key for one (partitionPath, fileName). The empty
    * partition uses the same "." identifier as the files partition.
    */
  def indexKey(partitionPath: String, fileName: String): String = {
    val pid = if (partitionPath.isEmpty) FilesPartitionRecord.NonPartitionedName
      else partitionPath
    idHash(pid) + idHash(fileName)
  }

  /** Point-look-up blooms for `targets` ((partitionPath, fileName)
    * pairs) as of the MDT's latest commit, log blocks overlaid in commit
    * order. Returns only the targets found with a decodable bloom;
    * anything else is simply absent (callers fail open per file). Throws
    * on structural problems — advertised-but-unreadable must surface.
    */
  def lookup(
      dataTableBase: String,
      targets: Seq[(String, String)],
      hadoopConf: Configuration,
      asOf: Option[String] = None
  ): Map[(String, String), org.apache.hadoop.util.bloom.BloomFilter] = {
    if (targets.isEmpty) return Map.empty
    val (latest, slices) =
      MetadataTable.openPartition(dataTableBase, PartitionName, hadoopConf, asOf)
    val byKey = targets.map(t => indexKey(t._1, t._2) -> t).toMap
    val keys = byKey.keys.toSeq.sorted
    val raw = mutable.Map.empty[String, Option[Array[Byte]]]
    for (slice <- slices) {
      val kvs = MdtSliceProbe.probe(
        slice.baseFile.map(_.path),
        slice.logFiles.sortBy(_.orderingKey).map(_.path),
        latest, keys, hadoopConf) { (dr, _, v, del) => decode(v, del, dr) }
      for (kv <- kvs) raw += kv
    }
    raw.iterator.collect { case (k, Some(bytes)) =>
      deserialize(bytes).map(byKey(k) -> _)
    }.flatten.toMap
  }

  /** Decode one HoodieMetadataRecord's `BloomFilterMetadata` branch to
    * the raw serialized-bloom bytes; None for tombstones/deletes.
    */
  private def decode(
      value: Array[Byte], deleted: Boolean,
      reader: GenericDatumReader[GenericRecord]): Option[Array[Byte]] = {
    if (deleted || value.isEmpty) return None
    val rec = reader.read(null, DecoderFactory.get().binaryDecoder(value, null))
    Option(rec.get("BloomFilterMetadata")).collect { case bm: GenericRecord =>
      val isDel = bm.get("isDeleted") match {
        case b: java.lang.Boolean => b.booleanValue()
        case _ => false
      }
      if (isDel) None
      else bm.get("bloomFilter") match {
        case bb: java.nio.ByteBuffer =>
          val out = new Array[Byte](bb.remaining())
          bb.duplicate().get(out)
          Some(out)
        case _ => None
      }
    }.flatten
  }

  /** UTF-8 base64 → hadoop bloom (the writer's serializeToString
    * inverse). None on any malformed input — fail open.
    */
  private[table] def deserialize(bytes: Array[Byte])
      : Option[org.apache.hadoop.util.bloom.BloomFilter] =
    try {
      val raw = java.util.Base64.getDecoder.decode(new String(bytes, "UTF-8"))
      val bloom = new org.apache.hadoop.util.bloom.BloomFilter()
      bloom.readFields(new java.io.DataInputStream(new java.io.ByteArrayInputStream(raw)))
      Some(bloom)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The writer half of the round-trip (fixture builder + tests): a
    * murmur-hashed hadoop bloom over `keys`, serialized exactly as
    * Hudi's SIMPLE bloom type stores it (base64 of the hadoop write
    * format, as UTF-8 bytes). Sized at 20 bits/key, 5 hashes —
    * ~0.05% false-positive rate at any key count, so a fixture's
    * plan-shape assertions stay deterministic across scale factors.
    */
  def serializeBloom(keys: Seq[String], bitsPerKey: Int = 20, hashes: Int = 5): Array[Byte] = {
    val bloom = new org.apache.hadoop.util.bloom.BloomFilter(
      math.max(64, keys.size * bitsPerKey), hashes,
      org.apache.hadoop.util.hash.Hash.MURMUR_HASH)
    keys.foreach(k => bloom.add(new org.apache.hadoop.util.bloom.Key(k.getBytes("UTF-8"))))
    val bos = new java.io.ByteArrayOutputStream()
    bloom.write(new java.io.DataOutputStream(bos))
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray).getBytes("UTF-8")
  }

  /** Membership probe: false = DEFINITELY absent (prunable), true =
    * maybe present.
    */
  def mightContain(bloom: org.apache.hadoop.util.bloom.BloomFilter, key: String): Boolean =
    bloom.membershipTest(new org.apache.hadoop.util.bloom.Key(key.getBytes("UTF-8")))
}
