package graft.table

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.HoodieConfig
import graft.hfile.HFileReader
import graft.log.{InstantRange, LogFileParser, LogFormat}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One functional/secondary index definition from
  * `.hoodie/.index_defs/index.json` (the public Hudi 1.0 index-metadata
  * file, present in the reference's real v8 trips fixture next to its
  * `secondary_index_rider_idx` MDT partition).
  */
final case class IndexDef(
    indexName: String,
    indexType: String,
    sourceFields: Seq[String],
    // "identity" for plain secondary indexes (what real writers record);
    // expression indexes store TRANSFORMED keys a raw-literal probe
    // would miss, so planning refuses any non-identity function
    indexFunction: String = "identity"
)

/** Reader for MDT `secondary_index_*` partitions: secondary column value
  * → record keys (MetadataRecordType::SecondaryIndex = 7 — the reference
  * enumerates the partition, records.rs:122-123, but never decodes it;
  * this is a beyond-reference read surface like the record index).
  *
  * Record shape, verified against the reference's real v8 trips fixture
  * bytes: HFile key = `escape(secondaryValue)\$escape(recordKey)` (`\$`
  * and `\` are backslash-escaped inside either part), value =
  * HoodieMetadataRecord with `SecondaryIndexMetadata{isDeleted}`.
  *
  * The 100 TB read path this unlocks: an equality predicate on an
  * indexed NON-key column resolves to record keys with one bounded
  * prefix scan per index file group (HFile floor-block seek — no full
  * index read), then [[RecordIndex.lookup]] maps those keys to file
  * groups, and the scan plans ONLY those slices. A needle-in-haystack
  * query reads one file group instead of the table.
  */
object SecondaryIndex {

  val PartitionPrefix = "secondary_index_"

  /** The `secondary_index_*` partitions the table advertises. */
  def availablePartitions(config: HoodieConfig): Seq[String] =
    config.metadataPartitions.filter(_.startsWith(PartitionPrefix)).toSeq.sorted

  /** Parse `.hoodie/.index_defs/index.json`. Missing file → empty.
    * Memoized per (path, mtime, length): unlike MDT files the defs file
    * is REWRITTEN in place on index create/drop, so the memo keys on
    * the file status (one getFileStatus per planning pass instead of an
    * open+read+parse) and a rewrite naturally invalidates.
    */
  def indexDefs(dataTableBase: String, hadoopConf: Configuration): Map[String, IndexDef] = {
    val p = new Path(dataTableBase, ".hoodie/.index_defs/index.json")
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) return Map.empty
    val st = fs.getFileStatus(p)
    val memoKey = (p.toString, st.getModificationTime, st.getLen)
    defsMemo.get(memoKey).getOrElse {
      val parsed = parseDefs(graft.util.ReadFully(fs, p))
      defsMemo.put(memoKey, parsed)
      parsed
    }
  }

  private val defsMemo = new BoundedMemo[(String, Long, Long), Map[String, IndexDef]](64)

  private def parseDefs(bytes: Array[Byte]): Map[String, IndexDef] = {
    val root = new ObjectMapper().readTree(bytes)
    Option(root.get("indexDefinitions")).map { defs =>
      defs.properties().asScala.map { e =>
        val d = e.getValue
        val fields = Option(d.get("sourceFields"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        e.getKey -> IndexDef(
          Option(d.get("indexName")).map(_.asText()).getOrElse(e.getKey),
          Option(d.get("indexType")).map(_.asText()).getOrElse(""),
          fields,
          Option(d.get("indexFunction")).map(_.asText()).getOrElse("identity"))
      }.toMap
    }.getOrElse(Map.empty)
  }

  /** The advertised secondary-index partition covering exactly `column`,
    * if any: the index must be declared in index.json with type
    * `secondary_index`, a single source field equal to the column, and
    * an IDENTITY index function — an expression index (Hudi 1.0
    * functional indexes record e.g. `lower`/`from_unixtime` here) stores
    * the TRANSFORMED rendering, so probing it with a raw literal would
    * miss every entry and plan a wrong EMPTY result. Empty/absent counts
    * as identity (pre-expression-index writers); anything else refuses
    * the index and keeps the full plan.
    */
  def indexForColumn(
      dataTableBase: String,
      config: HoodieConfig,
      column: String,
      hadoopConf: Configuration): Option[String] = {
    val advertised = availablePartitions(config).toSet
    if (advertised.isEmpty) None
    else indexDefs(dataTableBase, hadoopConf).values.collectFirst {
      case d if d.indexType == "secondary_index" && d.sourceFields == Seq(column) &&
        (d.indexFunction.isEmpty || d.indexFunction == "identity") &&
        advertised.contains(d.indexName) => d.indexName
    }
  }

  /** Rendering of date-typed secondary keys in a concrete index. Hudi
    * renders the indexed avro value via `toString`, and a DATE logical
    * type surfaces either as a converted `java.time.LocalDate` (ISO
    * `2024-01-31`) or as the unconverted epoch-day integer (`19753`)
    * depending on the writer's datum model — with no real-bytes fixture
    * to pin one, guessing wrong would plan EMPTY (silent row loss), so
    * the rendering is DETECTED per index by sampling live entries and
    * anything ambiguous fails open to the full plan.
    */
  sealed trait DateRendering
  case object IsoDateRendering extends DateRendering
  case object EpochDayRendering extends DateRendering

  /** Classify sampled secondary-key parts of a date-indexed column:
    * unanimous ISO-8601 dates → [[IsoDateRendering]], unanimous decimal
    * integers → [[EpochDayRendering]], empty/mixed/anything-else → None
    * (callers keep the full plan). The two shapes are disjoint — an ISO
    * date never parses as a long and vice versa — so one conforming
    * sample would suffice; unanimity over up to `maxSample` is demanded
    * anyway to catch a writer that mixes renderings across commits.
    */
  def classifyDateKeys(parts: Iterator[String], maxSample: Int = 16): Option[DateRendering] = {
    def isIso(s: String): Boolean =
      try { java.time.LocalDate.parse(s); true } catch { case _: Exception => false }
    val sampled = parts.filter(_.nonEmpty).take(maxSample).toVector
    if (sampled.isEmpty) None
    else if (sampled.forall(isIso)) Some(IsoDateRendering)
    else if (sampled.forall(_.toLongOption.isDefined)) Some(EpochDayRendering)
    else None
  }

  /** Sample the SECONDARY-VALUE parts of `indexPartition`'s entry keys
    * (base HFiles, then HFile log blocks for base-less slices) and
    * classify them — the shared walk behind the per-type rendering
    * detectors. One bounded MDT file read (byte-cached) on the rare
    * detection path; verdicts memoized per (table, index, MDT commit),
    * so an MDT commit advance naturally re-detects while repeat plans
    * pay nothing. Throws on structural problems; callers catch and keep
    * the full plan.
    */
  private def detectRendering[T](
      dataTableBase: String,
      indexPartition: String,
      hadoopConf: Configuration,
      asOf: Option[String],
      memo: BoundedMemo[(String, String, String), Option[T]])(
      classify: Iterator[String] => Option[T]): Option[T] = {
    val (latest, slices) =
      MetadataTable.openPartition(dataTableBase, indexPartition, hadoopConf, asOf)
    val memoKey = (dataTableBase, indexPartition, latest)
    memo.get(memoKey).foreach(v => return v)
    val range = InstantRange.upTo(latest)
    def readFully(p: Path): Array[Byte] = IndexIoCache.bytes(p, hadoopConf)
    val keys: Iterator[String] = slices.iterator.flatMap { slice =>
      slice.baseFile.iterator.flatMap(bf =>
        new HFileReader(readFully(new Path(bf.path))).records.map(_.key)) ++
        slice.logFiles.sortBy(_.orderingKey).iterator.flatMap { lf =>
          LogFileParser.applyRollbacks(
            LogFileParser.parse(readFully(new Path(lf.path)), range)).iterator
            .filter(b => b.blockType == LogFormat.HfileDataBlock && b.rawContent.nonEmpty)
            .flatMap(b => new HFileReader(b.rawContent).records.map(_.key))
        }
    }
    val verdict = classify(keys.flatMap(k => splitKey(k).map(_._1)))
    memo.put(memoKey, verdict)
    verdict
  }

  /** Detect the date-key rendering of `indexPartition` from its own
    * entries (see [[DateRendering]]).
    */
  def detectDateRendering(
      dataTableBase: String,
      indexPartition: String,
      hadoopConf: Configuration,
      asOf: Option[String] = None): Option[DateRendering] =
    detectRendering(dataTableBase, indexPartition, hadoopConf, asOf, dateMemo)(
      classifyDateKeys(_))

  /** [[detectDateRendering]] verdicts per (table, index, MDT commit). */
  private val dateMemo = new BoundedMemo[(String, String, String), Option[DateRendering]](64)

  /** Detect the SCALE of a decimal-indexed column's key rendering from
    * the index's own entries — the [[detectDateRendering]] pattern
    * generalized: an avro decimal logical type surfaces as a converted
    * `java.math.BigDecimal` (rendering `toString` at the column's fixed
    * scale, e.g. `123.40`) or as raw unconverted bytes (an unusable
    * ByteBuffer rendering) depending on the writer's datum model, and a
    * wrong scale guess (`123.4` probing an index of `123.40` keys)
    * would plan EMPTY — silent row loss. Unanimity over the sample is
    * demanded; anything unparseable, scientific-notation, negative-
    * scale, or mixed-scale fails open to the full plan.
    */
  def detectDecimalScale(
      dataTableBase: String,
      indexPartition: String,
      hadoopConf: Configuration,
      asOf: Option[String] = None): Option[Int] =
    detectRendering(dataTableBase, indexPartition, hadoopConf, asOf, decimalMemo)(
      classifyDecimalKeys(_))

  /** [[detectDecimalScale]] verdicts per (table, index, MDT commit). */
  private val decimalMemo = new BoundedMemo[(String, String, String), Option[Int]](64)

  /** Classify sampled decimal key parts: every sample must round-trip
    * through BigDecimal EXACTLY (`toString == toPlainString == sample` —
    * excludes scientific notation and any rendering surprise) with one
    * unanimous non-negative scale; empty/mixed/unparseable → None.
    */
  def classifyDecimalKeys(parts: Iterator[String], maxSample: Int = 16): Option[Int] = {
    val sampled = parts.filter(_.nonEmpty).take(maxSample).toVector
    if (sampled.isEmpty) return None
    val scales = sampled.map { s =>
      try {
        val bd = new java.math.BigDecimal(s)
        if (bd.scale >= 0 && bd.toString == s && bd.toPlainString == s) Some(bd.scale)
        else None
      } catch { case _: NumberFormatException => None }
    }
    if (scales.exists(_.isEmpty)) None
    else scales.flatten.distinct match {
      case Vector(one) => Some(one)
      case _ => None
    }
  }

  /** Double-key rendering verdicts. Unlike dates (ISO vs epoch-day are
    * DISJOINT — no value renders the same in both), double rendering
    * families OVERLAP: Java's canonical `Double.toString`, Python's
    * `str`, and Rust's `{:?}` all emit "0.5" AND "8.0" in the plain
    * decimal region, splitting only at the exponent thresholds (Java
    * switches to `1.0E8` at 1e7 and to `1.0E-4` below 1e-3; the others
    * keep plain or use lowercase-e forms), while bare shortest-decimal
    * writers (Rust `{}`) drop the ".0" entirely. So the evidence comes
    * in two strengths:
    *  - [[JavaDoubleProven]]: a sampled key contains an `E`-exponent
    *    mantissa form ONLY Java produces ("1.0E20" — Python renders
    *    "1e+20", Rust debug "1e20") → the family is pinned and any
    *    literal may probe;
    *  - [[JavaDoublePlain]]: the witnesses are ".0" whole numbers,
    *    which prove the writer is NOT a bare shortest-decimal one but
    *    cannot separate Java from Python/Rust-debug. Those families
    *    AGREE throughout the plain decimal region on shortest digit
    *    strings, so probing stays sound only for literals whose Java
    *    rendering is plain (no `E`) and digit-minimal —
    *    [[renderLiteral]] enforces that envelope and refuses the rest.
    */
  sealed trait DoubleRendering
  case object JavaDoubleProven extends DoubleRendering
  case object JavaDoublePlain extends DoubleRendering

  /** Classify sampled double key parts: every sample must round-trip
    * Java-canonically (`Double.toString(parseDouble(s)) == s`); the
    * verdict strength follows the best witness present (`E` form →
    * proven; ".0" form → plain-region agreement). No witness, any
    * roundtrip failure (including NaN spellings other than Java's, or
    * a bare "8"), → fail open.
    */
  def classifyDoubleKeys(parts: Iterator[String], maxSample: Int = 16): Option[DoubleRendering] = {
    def javaCanonical(s: String): Boolean =
      try java.lang.Double.toString(java.lang.Double.parseDouble(s)) == s
      catch { case _: NumberFormatException => false }
    val sampled = parts.filter(_.nonEmpty).take(maxSample).toVector
    if (sampled.isEmpty || !sampled.forall(javaCanonical)) None
    else if (sampled.exists(_.contains("E"))) Some(JavaDoubleProven)
    else if (sampled.exists(_.endsWith(".0"))) Some(JavaDoublePlain)
    else None
  }

  /** Is `rendered` (Java's plain-region `Double.toString` of `v`) the
    * SHORTEST digit string that round-trips to `v`? Java before JDK 19
    * occasionally emits one excess digit (JDK-4511638); on such a value
    * a shortest-decimal writer's stored key differs even in the plain
    * region, so [[renderLiteral]] refuses the probe under a
    * [[JavaDoublePlain]] verdict. Significant digits = the rendering's
    * digit run without leading/trailing zeros (trailing zeros are
    * placement, not precision: "80.0" carries one significant digit).
    */
  private[table] def isShortestPlainDouble(v: Double, rendered: String): Boolean = {
    val digits = rendered.replace("-", "").replace(".", "")
      .dropWhile(_ == '0').reverse.dropWhile(_ == '0').reverse
    val n = math.max(digits.length, 1)
    n == 1 || {
      // if n-1 significant digits already round-trip, Java emitted excess
      val shorter = String.format(java.util.Locale.ROOT, s"%.${n - 2}e", Double.box(v))
      java.lang.Double.parseDouble(shorter) != v
    }
  }

  /** The index-key spellings a probe literal must cover: IEEE signed
    * zero renders as exactly one of "0.0"/"-0.0" but Spark's equality
    * treats -0.0 = 0.0 as TRUE, so a zero probe must look up BOTH
    * spellings or rows stored under the other one are silently lost.
    * Everything else probes its single rendering.
    */
  def probeSpellings(dt: org.apache.spark.sql.types.DataType, rendered: String): Seq[String] =
    dt match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType
          if rendered == "0.0" || rendered == "-0.0" => Seq("0.0", "-0.0")
      case _ => Seq(rendered)
    }

  /** Float32-key rendering verdicts (r14 — the tier r13 left fail-open).
    * A FloatType column's stored key splits across writer families on a
    * VALUE axis before any format question: FLOAT-precision renderers
    * emit the 24-bit value's shortest digits (Java `Float.toString`,
    * Rust f32 `{}`/`{:?}`: "0.1"), while WIDENED renderers pass the
    * float through a double first (Python `str`, engines with
    * double-only row models: "0.10000000149011612"). The two value
    * families are separable by witness exactly like the double FORMAT
    * families were: a sample that round-trips `Float.toString` but not
    * the widened `Double.toString` pins float precision ("0.1"); the
    * reverse pins widening ("0.10000000149011612" — not a canonical
    * float rendering); both present → inconsistent index, fail open.
    *
    *  - [[JavaFloatProven]]: float-precision pinned AND an uppercase-`E`
    *    sample (only Java's float renderer produces "1.4E-45"; Rust
    *    emits lowercase) → any literal probes via `Float.toString`;
    *  - [[FloatPlain]]: float-precision pinned by a fractional witness
    *    and a ".0" whole-number sample (excluding bare shortest-decimal
    *    writers that store "8" for 8.0f) — Java and Rust agree on
    *    shortest digits throughout the plain region, so plain
    *    digit-minimal literals probe;
    *  - [[WidenedFloat]]: widening pinned; the remaining question IS the
    *    double-rendering family question, so the inner verdict reuses
    *    [[classifyDoubleKeys]]'s evidence over the same samples and the
    *    probe renders `Double.toString(f.toDouble)` inside the inner
    *    verdict's envelope;
    *  - [[FloatAgreementPlain]]: no value witness (every sample sits in
    *    the region where float and widened digits coincide) but a ".0"
    *    sample excludes bare writers — only literals whose OWN float and
    *    widened renderings agree may probe (both families store the same
    *    key for them); anything else fails open.
    */
  sealed trait FloatRendering
  case object JavaFloatProven extends FloatRendering
  case object FloatPlain extends FloatRendering
  final case class WidenedFloat(inner: DoubleRendering) extends FloatRendering
  case object FloatAgreementPlain extends FloatRendering

  /** Classify sampled float32 key parts per [[FloatRendering]]. Every
    * sample must be canonical under at least one family; the verdict
    * follows the witnesses present. No ".0" witness in the unproven
    * tiers, a mixed-witness sample set, or any non-canonical sample
    * (bare "8", foreign NaN spellings) → fail open.
    */
  def classifyFloatKeys(parts: Iterator[String], maxSample: Int = 16): Option[FloatRendering] = {
    def floatCanonical(s: String): Boolean =
      try java.lang.Float.toString(java.lang.Float.parseFloat(s)) == s
      catch { case _: NumberFormatException => false }
    def widenedCanonical(s: String): Boolean =
      try {
        val d = java.lang.Double.parseDouble(s)
        // the digits must be double-canonical AND name a value a float
        // column can hold (the widening of some float32)
        java.lang.Double.toString(d) == s && d == java.lang.Float.parseFloat(s).toDouble
      } catch { case _: NumberFormatException => false }
    val sampled = parts.filter(_.nonEmpty).take(maxSample).toVector
    if (sampled.isEmpty ||
      !sampled.forall(s => floatCanonical(s) || widenedCanonical(s))) return None
    val wF = sampled.exists(s => floatCanonical(s) && !widenedCanonical(s))
    val wD = sampled.exists(s => widenedCanonical(s) && !floatCanonical(s))
    val dotZero = sampled.exists(_.endsWith(".0"))
    (wF, wD) match {
      case (true, true) => None
      case (true, false) =>
        if (sampled.exists(_.contains("E"))) Some(JavaFloatProven)
        else if (dotZero) Some(FloatPlain)
        else None
      case (false, true) => classifyDoubleKeys(sampled.iterator).map(WidenedFloat)
      case (false, false) => if (dotZero) Some(FloatAgreementPlain) else None
    }
  }

  /** [[isShortestPlainDouble]] one tier down: is `rendered` the shortest
    * digit string that round-trips to float `v`? (Java before 19 can
    * emit one excess digit for floats too — same JDK-4511638 family.)
    */
  private[table] def isShortestPlainFloat(v: Float, rendered: String): Boolean = {
    val digits = rendered.replace("-", "").replace(".", "")
      .dropWhile(_ == '0').reverse.dropWhile(_ == '0').reverse
    val n = math.max(digits.length, 1)
    n == 1 || {
      val shorter = String.format(java.util.Locale.ROOT, s"%.${n - 2}e", Float.box(v))
      java.lang.Float.parseFloat(shorter) != v
    }
  }

  def detectFloatRendering(
      dataTableBase: String,
      indexPartition: String,
      hadoopConf: Configuration,
      asOf: Option[String] = None): Option[FloatRendering] =
    detectRendering(dataTableBase, indexPartition, hadoopConf, asOf, floatMemo)(
      classifyFloatKeys(_))

  private val floatMemo = new BoundedMemo[(String, String, String), Option[FloatRendering]](64)

  def detectDoubleRendering(
      dataTableBase: String,
      indexPartition: String,
      hadoopConf: Configuration,
      asOf: Option[String] = None): Option[DoubleRendering] =
    detectRendering(dataTableBase, indexPartition, hadoopConf, asOf, doubleMemo)(
      classifyDoubleKeys(_))

  private val doubleMemo = new BoundedMemo[(String, String, String), Option[DoubleRendering]](64)

  /** Timestamp-key rendering family: the unconverted-avro writer path
    * renders the `timestamp-micros` long via `toString` (epoch micros,
    * decimal digits). The hazard is UNIT ambiguity, not format — a pure
    * digit string could be micros, MILLIS, or seconds, and the three
    * windows overlap for early-epoch instants (1970-01-02 in micros is
    * a plausible 1972 in millis). Zone-formatted renderings vary too
    * widely to detect and always fail open (they never parse as longs).
    */
  sealed trait TimestampRendering
  case object EpochMicrosRendering extends TimestampRendering

  /** Classify sampled timestamp key parts: every sample must parse as a
    * long whose MICROS interpretation lands in the plausible-instant
    * window [1900, 2200) while its millis and seconds interpretations
    * land OUTSIDE it — i.e. every sample is magnitude-unambiguous. One
    * ambiguous sample (early-epoch micros, a formatted string, a
    * mixed-unit writer) fails the whole classification open.
    */
  def classifyTimestampKeys(
      parts: Iterator[String], maxSample: Int = 16): Option[TimestampRendering] = {
    val loMicros = -2208988800000000L // 1900-01-01T00:00:00Z
    val hiMicros = 7258118400000000L  // 2200-01-01T00:00:00Z
    def unambiguousMicros(v: Long): Boolean =
      (v >= loMicros && v < hiMicros) &&
        !(v >= loMicros / 1000 && v < hiMicros / 1000) &&
        !(v >= loMicros / 1000000 && v < hiMicros / 1000000)
    val sampled = parts.filter(_.nonEmpty).take(maxSample).toVector
    if (sampled.nonEmpty && sampled.forall(_.toLongOption.exists(unambiguousMicros)))
      Some(EpochMicrosRendering)
    else None
  }

  def detectTimestampRendering(
      dataTableBase: String,
      indexPartition: String,
      hadoopConf: Configuration,
      asOf: Option[String] = None): Option[TimestampRendering] =
    detectRendering(dataTableBase, indexPartition, hadoopConf, asOf, tsMemo)(
      classifyTimestampKeys(_))

  private val tsMemo = new BoundedMemo[(String, String, String), Option[TimestampRendering]](64)

  /** Canonical index-key rendering of a filter literal for an indexed
    * column of `dt` — the writer's string form of the avro column value
    * (Hudi's SecondaryIndexKeyUtils renders the extracted field value via
    * `toString`). Supported, with the exactness argument per type:
    *  - string: the value IS the rendering;
    *  - int/long/short/byte: avro integral `toString` = decimal digits,
    *    and the DSv2 typed literal renders identically (no fractional or
    *    scientific forms exist for integrals);
    *  - date: writer-dependent (ISO LocalDate vs raw epoch-day int — see
    *    [[DateRendering]]), so the caller must pass the rendering it
    *    DETECTED from the index's own entries; None without one;
    *  - decimal: the scale is detected from the index's own entries
    *    ([[detectDecimalScale]]) — the literal rescales EXACTLY to it
    *    and renders `toPlainString`; a lossy rescale (more precision
    *    than the index carries) or no detected scale → None;
    *  - double: requires a [[DoubleRendering]] verdict
    *    ([[classifyDoubleKeys]]) — the literal renders
    *    `Double.toString`, gated to the verdict's proven envelope
    *    (an `E`-witness verdict probes anything; a ".0"-witness one
    *    probes only plain digit-minimal renderings); callers must
    *    expand zero probes via [[probeSpellings]] (±0.0 compare equal
    *    but render differently); no verdict → None;
    *  - timestamp: requires a [[TimestampRendering]] verdict
    *    (magnitude-unambiguous epoch-micros detection,
    *    [[classifyTimestampKeys]]) — the typed literal converts to epoch
    *    micros and renders as decimal digits; no verdict or no typed
    *    value → None.
    * None for anything else (float `Float.toString` digit sequences
    * differ from the double widening and have no witness scheme;
    * zone-formatted timestamps) — a rendering mismatch would plan
    * EMPTY, which is not fail-open, so unsupported types never reach
    * the index.
    */
  def renderLiteral(
      dt: org.apache.spark.sql.types.DataType,
      raw: String,
      typed: Option[Any],
      dateRendering: Option[DateRendering] = None,
      decimalScale: Option[Int] = None,
      doubleRendering: Option[DoubleRendering] = None,
      timestampRendering: Option[TimestampRendering] = None,
      floatRendering: Option[FloatRendering] = None): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some(raw)
      case IntegerType | LongType | ShortType | ByteType => typed match {
        case Some(n: java.lang.Number) => Some(String.valueOf(n.longValue()))
        case _ => raw.toLongOption.map(String.valueOf)
      }
      case DateType =>
        val localDate: Option[java.time.LocalDate] = typed match {
          case Some(d: java.sql.Date) => Some(d.toLocalDate)
          case Some(ld: java.time.LocalDate) => Some(ld)
          case _ =>
            try Some(java.time.LocalDate.parse(raw))
            catch { case _: Exception => None }
        }
        dateRendering.flatMap {
          case IsoDateRendering => localDate.map(_.toString)
          case EpochDayRendering => localDate.map(d => String.valueOf(d.toEpochDay))
        }
      case _: DecimalType =>
        val bd: Option[java.math.BigDecimal] = typed match {
          case Some(b: java.math.BigDecimal) => Some(b)
          case Some(d: org.apache.spark.sql.types.Decimal) => Some(d.toJavaBigDecimal)
          case _ =>
            try Some(new java.math.BigDecimal(raw))
            catch { case _: NumberFormatException => None }
        }
        decimalScale.flatMap(sc => bd.flatMap { b =>
          try {
            val rendered = b.setScale(sc).toPlainString
            // the rendering must be one classifyDecimalKeys would have
            // accepted, or it provably differs from every stored key
            if (classifyDecimalKeys(Iterator(rendered)).contains(sc)) Some(rendered) else None
          } catch { case _: ArithmeticException => None } // lossy rescale
        })
      case DoubleType =>
        doubleRendering.flatMap { verdict =>
          // canonicalize first; parse-then-render is the point (the
          // probe must match the WRITER's digits, not the query text)
          val v: Option[Double] = typed match {
            case Some(d: java.lang.Double) => Some(d.doubleValue)
            case _ => raw.toDoubleOption
          }
          v.map(d => (d, java.lang.Double.toString(d))).collect {
            // proven family: any literal probes
            case (_, r) if verdict == JavaDoubleProven => r
            // plain-region agreement only: the literal must stay inside
            // the envelope the ".0" witnesses actually proved — FINITE
            // (NaN/Infinity spellings are family-specific: Python stores
            // "nan"/"inf" where Java stores "NaN"/"Infinity", and neither
            // contains an 'E' to trip the exponent refusal), plain form
            // (no exponent), and digit-minimal (isShortestPlainDouble);
            // anything else fails open
            case (d, r) if java.lang.Double.isFinite(d) && !r.contains("E") &&
                isShortestPlainDouble(d, r) => r
          }
        }
      case FloatType =>
        floatRendering.flatMap { verdict =>
          val v: Option[Float] = typed match {
            case Some(f: java.lang.Float) => Some(f.floatValue)
            case _ => raw.toFloatOption
          }
          v.flatMap { f =>
            val rf = java.lang.Float.toString(f)
            verdict match {
              case JavaFloatProven => Some(rf)
              case FloatPlain if java.lang.Float.isFinite(f) && !rf.contains("E") &&
                  isShortestPlainFloat(f, rf) => Some(rf)
              case WidenedFloat(inner) =>
                val d = f.toDouble
                val rd = java.lang.Double.toString(d)
                inner match {
                  case JavaDoubleProven => Some(rd)
                  case JavaDoublePlain if java.lang.Double.isFinite(d) &&
                      !rd.contains("E") && isShortestPlainDouble(d, rd) => Some(rd)
                  case _ => None
                }
              // agreement tier: both families store the SAME key for this
              // literal, so the probe is family-independent
              case FloatAgreementPlain if java.lang.Float.isFinite(f) &&
                  !rf.contains("E") && rf == java.lang.Double.toString(f.toDouble) &&
                  isShortestPlainFloat(f, rf) => Some(rf)
              case _ => None
            }
          }
        }
      case TimestampType =>
        timestampRendering.flatMap { case EpochMicrosRendering =>
          typed match {
            case Some(t: java.sql.Timestamp) => Some(String.valueOf(
              org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
            case Some(i: java.time.Instant) => Some(String.valueOf(
              org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
            case _ => None // no textual form is zone-unambiguous
          }
        }
      case _ => None
    }
  }

  /** Escape a key part the way Hudi's SecondaryIndexKeyUtils does:
    * backslash-escape `\` and the `\$` separator.
    */
  def escape(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '$' => "\\$"
      case c => c.toString
    }

  /** Split an index record key at the first UNescaped `\$` and unescape
    * both parts. None for structurally invalid keys (fail-open callers
    * treat the index as unusable for that record).
    */
  def splitKey(key: String): Option[(String, String)] = {
    val sb = new StringBuilder
    var i = 0
    while (i < key.length) {
      key.charAt(i) match {
        case '\\' if i + 1 < key.length =>
          sb.append(key.charAt(i + 1)); i += 2
        case '$' =>
          return Some((sb.toString, unescape(key.substring(i + 1))))
        case c =>
          sb.append(c); i += 1
      }
    }
    None
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
      else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Record keys whose indexed column equals any of `values`, as of the
    * MDT's latest commit: per index file group, a bounded HFile prefix
    * scan per value over the base file plus a log overlay (newer wins
    * per full key; `SecondaryIndexMetadata.isDeleted` and tombstones
    * drop the mapping — how the index unmaps a row whose column value
    * changed). Throws on structural problems; callers catch and fall
    * back to a full scan plan.
    */
  def lookup(
      dataTableBase: String,
      indexPartition: String,
      values: Seq[String],
      hadoopConf: Configuration,
      asOf: Option[String] = None
  ): Map[String, Set[String]] = {
    val (latest, slices) =
      MetadataTable.openPartition(dataTableBase, indexPartition, hadoopConf, asOf)
    if (values.isEmpty) return Map.empty
    def readFully(p: Path): Array[Byte] = IndexIoCache.bytes(p, hadoopConf)
    val range = InstantRange.upTo(latest)
    val prefixes = values.map(v => escape(v) + "$")
    // full index key -> live?
    val state = mutable.LinkedHashMap.empty[String, Boolean]
    // Index file groups may be base-less (a log-only slice before first
    // compaction — the real trips fixture ships one): every HFile embeds
    // its own avro schema, so each reader decodes with its own; the last
    // seen schema covers the rare schema-less log block.
    var lastReader: Option[org.apache.avro.generic.GenericDatumReader[
      org.apache.avro.generic.GenericRecord]] = None
    def datumReaderOf(h: HFileReader) = {
      val own = h.avroSchemaJson.map { json =>
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord](
          new org.apache.avro.Schema.Parser().parse(json))
      }
      if (own.isDefined) lastReader = own
      own.orElse(lastReader)
    }
    for (slice <- slices) {
      for (baseFile <- slice.baseFile) {
        val baseReader = new HFileReader(readFully(new Path(baseFile.path)))
        val dr = datumReaderOf(baseReader)
        for (prefix <- prefixes; rec <- baseReader.recordsByPrefix(prefix))
          state(rec.key) = !rec.isDeleted && rec.value.nonEmpty && !decodeDeleted(rec.value, dr)
      }
      for (lf <- slice.logFiles.sortBy(_.orderingKey)) {
        val blocks = LogFileParser.applyRollbacks(
          LogFileParser.parse(readFully(new Path(lf.path)), range))
        for (b <- blocks if b.blockType == LogFormat.HfileDataBlock && b.rawContent.nonEmpty) {
          val logReader = new HFileReader(b.rawContent)
          val dr = datumReaderOf(logReader)
          for (rec <- logReader.records if prefixes.exists(rec.key.startsWith))
            state(rec.key) = !rec.isDeleted && rec.value.nonEmpty && !decodeDeleted(rec.value, dr)
        }
      }
    }
    val out = mutable.Map.empty[String, Set[String]]
    for ((key, live) <- state if live; (v, rk) <- splitKey(key))
      out(v) = out.getOrElse(v, Set.empty) + rk
    out.toMap
  }

  /** Whether a value payload carries SecondaryIndexMetadata.isDeleted =
    * true (an explicit unmap written as a data record rather than an
    * HFile tombstone — how a changed column value drops its old
    * mapping). Undecodable values fail open (live) — the scan's row
    * filter stays authoritative.
    */
  private def decodeDeleted(
      value: Array[Byte],
      datumReader: Option[org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]]): Boolean =
    try {
      datumReader.exists { reader =>
        val rec = reader.read(null,
          org.apache.avro.io.DecoderFactory.get().binaryDecoder(value, null))
        Option(rec.get("SecondaryIndexMetadata")).exists {
          case g: org.apache.avro.generic.GenericRecord =>
            g.get("isDeleted") match {
              case b: java.lang.Boolean => b.booleanValue()
              case _ => false
            }
          case _ => false
        }
      }
    } catch { case scala.util.control.NonFatal(_) => false }
}
