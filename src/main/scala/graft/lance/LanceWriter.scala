package graft.lance

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

/** Minimal Lance v2 writer — the fixture-side counterpart of
  * [[LanceFormat]]: emits exactly the plain-page subset the reader
  * supports (flat fixed-width little-endian values and variable binary
  * with u64 end-offsets; one page per column; schema + row count in
  * global buffer 0; LANC v0.3 footer). Used by the deterministic fixture
  * builder to produce Lance-based Hudi tables for the oracle gate — the
  * READ path is additionally pinned against the reference's own golden
  * fixture bytes (LanceFormatSpec/LanceTableSpec), so the writer can
  * never mask a format misunderstanding: a writer bug breaks the
  * round-trip spec against values the reader proved on foreign bytes.
  */
object LanceWriter {

  private final class Buf {
    val out = new java.io.ByteArrayOutputStream()
    def pos: Int = out.size()
    def bytes(b: Array[Byte]): Unit = out.write(b)
    def u64(v: Long): Unit = {
      val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putLong(v); out.write(bb.array())
    }
    def u32(v: Int): Unit = {
      val bb = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(v); out.write(bb.array())
    }
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
  }

  // -- protobuf encoding helpers ----------------------------------------
  private def varint(v: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var x = v
    do {
      val b = (x & 0x7f).toInt
      x = x >>> 7
      out.write(if (x != 0) b | 0x80 else b)
    } while (x != 0)
    out.toByteArray
  }
  private def field(num: Int, wire: Int): Array[Byte] = varint((num.toLong << 3) | wire)
  private def vfield(num: Int, v: Long): Array[Byte] = field(num, 0) ++ varint(v)
  private def mfield(num: Int, body: Array[Byte]): Array[Byte] =
    field(num, 2) ++ varint(body.length) ++ body
  private def sfield(num: Int, s: String): Array[Byte] = mfield(num, s.getBytes("UTF-8"))

  private def logicalType(dt: DataType): String = dt match {
    case StringType => "string"
    case BinaryType => "binary"
    case IntegerType => "int32"
    case LongType => "int64"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "bool"
    case DateType => "date32:day"
    case TimestampType => "timestamp:us:UTC"
    case d: DecimalType => s"decimal:128:${d.precision}:${d.scale}"
    case ArrayType(_, false) => "list"
    case other => throw new UnsupportedOperationException(s"lance writer: $other")
  }

  /** ArrayEncoding bytes for a flat fixed-width column (the reference
    * writer's structure, byte-compatible with LanceFormat.parseEncoding).
    */
  private def flatWrapper(bits: Long): Array[Byte] =
    mfield(1, mfield(1, mfield(1, vfield(1, bits) ++ mfield(2, Array.emptyByteArray))))
  private def flatArrayEncoding(bits: Long): Array[Byte] = mfield(2, flatWrapper(bits))
  private def variableArrayEncoding(totalBytes: Long): Array[Byte] =
    mfield(6,
      mfield(1, mfield(2, flatWrapper(64))) ++
        mfield(2, mfield(1, vfield(1, 8) ++ mfield(2, vfield(1, 1)))) ++
        vfield(3, totalBytes))

  // --- nullable-page encodings (encodings.proto Nullable oneof) ---------
  // Flat message with an explicit page-buffer index (0 elides the index,
  // matching the golden fixtures' empty Buffer message).
  private def bareFlatArray(bits: Long, bufIdx: Int): Array[Byte] =
    mfield(1, vfield(1, bits) ++
      mfield(2, if (bufIdx == 0) Array.emptyByteArray else vfield(1, bufIdx.toLong)))
  /** ArrayEncoding{nullable{all_nulls{}}} — a bufferless page of nulls. */
  private val allNullArrayEncoding: Array[Byte] = mfield(2, mfield(2, Array.emptyByteArray))
  /** ArrayEncoding{nullable{some_nulls{validity: flat1@buf0, values}}}. */
  private def someNullEncoding(valuesArray: Array[Byte]): Array[Byte] =
    mfield(2, mfield(3, mfield(1, bareFlatArray(1, 0)) ++ mfield(2, valuesArray)))
  /** ArrayEncoding{binary{indices: flat64@offBuf, bytes: flat8@bytesBuf}}. */
  private def binaryArray(offBuf: Int, bytesBuf: Int, totalBytes: Long): Array[Byte] =
    mfield(6, mfield(1, bareFlatArray(64, offBuf)) ++
      mfield(2, bareFlatArray(8, bytesBuf)) ++ vfield(3, totalBytes))

  private def anyEncoding(arrayEncoding: Array[Byte]): Array[Byte] =
    mfield(2, mfield(1,
      sfield(1, "/lance.encodings.ArrayEncoding") ++ mfield(2, arrayEncoding)))

  private def bitsOf(dt: DataType): Int = dt match {
    case BooleanType => 1
    case IntegerType | DateType | FloatType => 32
    case LongType | DoubleType | TimestampType => 64
    case _: DecimalType => 128
    case other => throw new UnsupportedOperationException(s"lance writer: $other")
  }

  /** Write `rows` (JVM values: String / Int / Long / Double / Boolean /
    * java.math.BigDecimal; Int days for DateType, Long micros for
    * TimestampType; null allowed anywhere — a page with nulls gets a
    * some_nulls validity bitmap (all-null pages a bufferless all_nulls
    * marker), an all-valid page stays byte-identical to the golden
    * layout) as one Lance file. `pageRows` bounds rows per page —
    * production Lance files are multi-page (the writer targets ~8 MB
    * pages), so the round-trip spec drives the reader's page-concat path
    * (per-page string offsets restart at zero) with small page sizes.
    */
  def write(path: String, conf: Configuration, schema: StructType, rows: Seq[Seq[Any]],
      pageRows: Int = Int.MaxValue,
      pageRowsByCol: Map[String, Int] = Map.empty): Unit = {
    require(rows.forall(_.length == schema.length), "row arity mismatch")
    require(pageRows > 0 && pageRowsByCol.values.forall(_ > 0), "pageRows must be positive")
    val buf = new Buf

    // Expand the Spark schema into PHYSICAL lance columns: a top-level
    // ArrayType field becomes a list-offsets column immediately followed
    // by its child element column (parentId-linked — the golden
    // fixtures' layout). (name, id, parentId, logicalType, payload):
    // Left = primitive values, Right = per-row element counts of a list.
    // list payloads carry per-row element counts, None = a NULL row
    // (zero-width offset slot + validity bit, the Arrow convention)
    val physB = Seq.newBuilder[(String, Long, Long, String,
      Either[(DataType, Seq[Any]), Seq[Option[Int]]])]
    var nid = 0L
    schema.fields.zipWithIndex.foreach { case (f, ci) =>
      val colVals = rows.map(_(ci))
      f.dataType match {
        case ArrayType(et, false) =>
          require(!et.isInstanceOf[ArrayType], "lance writer: nested lists unsupported")
          val seqs = colVals.map(v => Option(v).map(_.asInstanceOf[Seq[Any]]))
          physB += ((f.name, nid, -1L, "list", Right(seqs.map(_.map(_.length)))))
          physB += (("item", nid + 1, nid, logicalType(et),
            Left((et, seqs.flatMap(_.getOrElse(Seq.empty))))))
          nid += 2
        case dt =>
          physB += ((f.name, nid, -1L, logicalType(dt), Left((dt, colVals))))
          nid += 1
      }
    }
    val physCols = physB.result()
    // typo-proof the test hook: a key matching no physical column would
    // silently fall back to uniform paging and void the intended coverage
    require(pageRowsByCol.keySet.subsetOf(physCols.map(_._1).toSet),
      s"pageRowsByCol names unknown columns: " +
        (pageRowsByCol.keySet -- physCols.map(_._1)).mkString(", "))

    /** ArrayEncoding{list{offsets: nullable(no_nulls(flat64))}} — the
      * golden fixtures' list-offsets structure.
      */
    val listArrayEncoding: Array[Byte] = mfield(4, mfield(1, mfield(2, flatWrapper(64))))

    /** ArrayEncoding{list{offsets: flat64@bufIdx}} — the values branch a
      * some_nulls list page wraps (validity rides buffer 0).
      */
    def listArray(bufIdx: Int): Array[Byte] = mfield(4, mfield(1, bareFlatArray(64, bufIdx)))

    // data pages first; remember per physical column the page list
    // (offsets, sizes, rows, encoding)
    def primPages(dataType: DataType, colVals: Seq[Any],
        perPage: Int): Seq[(Array[Long], Array[Long], Int, Array[Byte])] =
      (if (colVals.isEmpty) Seq(Seq.empty[Any]) else colVals.grouped(perPage).toSeq).map { vals =>
        val n = vals.length
        val hasNull = vals.exists(_ == null)
        if (n > 0 && vals.forall(_ == null)) {
            // all_nulls: no buffers at all
            (Array.empty[Long], Array.empty[Long], n, allNullArrayEncoding)
          } else {
            // validity bitmap first (page buffer 0) when any null; value
            // buffers follow with explicitly-indexed encodings
            val validity: Option[(Long, Long)] = if (!hasNull) None else {
              val pos = buf.pos.toLong
              val bm = new Array[Byte]((n + 7) / 8)
              vals.zipWithIndex.foreach { case (v, i) =>
                if (v != null) bm(i >> 3) = (bm(i >> 3) | (1 << (i & 7))).toByte
              }
              buf.bytes(bm)
              Some((pos, bm.length.toLong))
            }
            val shift = if (hasNull) 1 else 0
            dataType match {
              case StringType | BinaryType =>
                val bytes = vals.map {
                  case null => Array.emptyByteArray
                  case s: String => s.getBytes("UTF-8")
                  case b: Array[Byte] => b
                  case other => throw new UnsupportedOperationException(
                    s"lance writer: ${other.getClass} for variable-width column")
                }
                val offPos = buf.pos.toLong
                var acc = 0L
                bytes.foreach { b => acc += b.length; buf.u64(acc) }
                val bytesPos = buf.pos.toLong
                bytes.foreach(buf.bytes)
                val enc =
                  if (hasNull) someNullEncoding(binaryArray(1, 2, acc))
                  else variableArrayEncoding(acc)
                (validity.map(_._1).toArray ++ Array(offPos, bytesPos),
                  validity.map(_._2).toArray ++ Array(8L * n, acc), n, enc)
              case dt =>
                val pos = buf.pos.toLong
                dt match {
                  case IntegerType | DateType =>
                    vals.foreach(v => buf.u32(if (v == null) 0 else v.asInstanceOf[Int]))
                  case LongType | TimestampType =>
                    vals.foreach(v => buf.u64(if (v == null) 0L else v.asInstanceOf[Long]))
                  case DoubleType => vals.foreach(v => buf.u64(
                    if (v == null) 0L
                    else java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])))
                  case FloatType => vals.foreach(v => buf.u32(
                    if (v == null) 0
                    else java.lang.Float.floatToIntBits(v.asInstanceOf[Float])))
                  case BooleanType =>
                    val bb = new Array[Byte]((n + 7) / 8)
                    vals.zipWithIndex.foreach { case (v, i) =>
                      if (v != null && v.asInstanceOf[Boolean])
                        bb(i >> 3) = (bb(i >> 3) | (1 << (i & 7))).toByte
                    }
                    buf.bytes(bb)
                  case d: DecimalType =>
                    vals.foreach { v =>
                      val le = new Array[Byte](16)
                      if (v != null) {
                        val unscaled = v.asInstanceOf[java.math.BigDecimal]
                          .setScale(d.scale).unscaledValue()
                        val be = unscaled.toByteArray // big-endian, minimal
                        val sign: Byte = if (unscaled.signum() < 0) -1 else 0
                        java.util.Arrays.fill(le, sign)
                        var i = 0
                        while (i < be.length) { le(i) = be(be.length - 1 - i); i += 1 }
                      }
                      buf.bytes(le)
                    }
                  case other => throw new UnsupportedOperationException(s"lance writer: $other")
                }
                val size = buf.pos - pos
                val enc =
                  if (hasNull) someNullEncoding(bareFlatArray(bitsOf(dt), shift))
                  else flatArrayEncoding(bitsOf(dt))
                (validity.map(_._1).toArray ++ Array(pos),
                  validity.map(_._2).toArray ++ Array(size.toLong), n, enc)
            }
          }
      }

    val pages: Seq[Seq[(Array[Long], Array[Long], Int, Array[Byte])]] =
      physCols.map {
        case (name, _, _, _, Left((dt, vals))) =>
          primPages(dt, vals, pageRowsByCol.getOrElse(name, pageRows))
        case (name, _, _, _, Right(counts)) =>
          // list-offsets pages: running u64 element-count ends, restarting
          // at zero per page (the reader accumulates across pages); a NULL
          // row repeats the running end (zero-width) and sets its validity
          // bit to 0 — all-null pages carry no buffers at all
          (if (counts.isEmpty) Seq(Seq.empty[Option[Int]])
           else counts.grouped(pageRowsByCol.getOrElse(name, pageRows)).toSeq).map { cs =>
            val n = cs.length
            val hasNull = cs.exists(_.isEmpty)
            if (n > 0 && cs.forall(_.isEmpty)) {
              (Array.empty[Long], Array.empty[Long], n, allNullArrayEncoding)
            } else {
              val validity: Option[(Long, Long)] = if (!hasNull) None else {
                val pos = buf.pos.toLong
                val bm = new Array[Byte]((n + 7) / 8)
                cs.zipWithIndex.foreach { case (c, i) =>
                  if (c.isDefined) bm(i >> 3) = (bm(i >> 3) | (1 << (i & 7))).toByte
                }
                buf.bytes(bm)
                Some((pos, bm.length.toLong))
              }
              val pos = buf.pos.toLong
              var acc = 0L
              cs.foreach { c => acc += c.getOrElse(0); buf.u64(acc) }
              val enc =
                if (hasNull) someNullEncoding(listArray(1))
                else listArrayEncoding
              (validity.map(_._1).toArray ++ Array(pos),
                validity.map(_._2).toArray ++ Array(8L * n), n, enc)
            }
          }
      }

    // global buffer 0: file descriptor (schema + row count)
    val fieldMsgs = physCols.map { case (name, id, parentId, lt, _) =>
      mfield(1,
        sfield(2, name) ++
          (if (id != 0L) vfield(3, id) else Array.emptyByteArray) ++
          vfield(4, parentId) ++ // -1 is a 10-byte varint like the reference
          sfield(5, lt))
    }
    val descriptor = mfield(1, fieldMsgs.flatten.toArray) ++ vfield(2, rows.length)
    val gb0Pos = buf.pos.toLong
    buf.bytes(descriptor)
    val gb0Size = descriptor.length.toLong

    // column metadatas (one Page message per written page)
    val cmStart = buf.pos.toLong
    val cmEntries = pages.map { colPages =>
      val meta = colPages.flatMap { case (offs, sizes, n, enc) =>
        mfield(2,
          offs.flatMap(o => vfield(1, o)) ++
            sizes.flatMap(s => vfield(2, s)) ++
            vfield(3, n) ++
            mfield(4, anyEncoding(enc)))
      }.toArray
      val pos = buf.pos.toLong
      buf.bytes(meta)
      (pos, meta.length.toLong)
    }

    // column metadata offset table, global buffer offset table, footer
    val cmoStart = buf.pos.toLong
    cmEntries.foreach { case (p, s) => buf.u64(p); buf.u64(s) }
    val gboStart = buf.pos.toLong
    buf.u64(gb0Pos); buf.u64(gb0Size)
    buf.u64(cmStart); buf.u64(cmoStart); buf.u64(gboStart)
    buf.u32(1); buf.u32(physCols.length)
    buf.u16(0); buf.u16(3)
    buf.bytes("LANC".getBytes("UTF-8"))

    graft.io.Storage(conf).writeFile(new Path(path), buf.out.toByteArray, overwrite = true)
  }
}
