package graft.lance

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Minimal Lance v2 (file format 2.0, "LANC" footer v0.3) reader for
  * Hudi base files — closes SURVEY.md §2 S7 (reference:
  * crates/core/src/file_group/base_file/lance.rs, dispatch
  * reader.rs:152-167; the reference delegates to the lance crate, this
  * is an independent implementation of the subset Hudi writers emit).
  *
  * Layout (public Lance format spec, verified against the reference's
  * golden v9 fixtures byte-by-byte):
  *
  * {{{
  *   [data pages][global buffers][column metadatas]
  *   [column metadata offset table: (pos,size) u64 pairs per column]
  *   [global buffer offset table:   (pos,size) u64 pairs]
  *   footer(40B): u64 columnMetaStart, u64 columnMetaOffsetsStart,
  *                u64 globalBuffOffsetsStart, u32 numGlobalBuffers,
  *                u32 numColumns, u16 major, u16 minor, "LANC"
  * }}}
  *
  * Global buffer 0 is the FileDescriptor protobuf: the schema (field
  * name / id / parent-id / logical type — plus schema metadata, where
  * Hudi parks its bloom filter) and the row count. Each column metadata
  * is a protobuf of pages; each page carries buffer (pos,size) pairs,
  * a row count, and an Any-wrapped `/lance.encodings.ArrayEncoding`.
  *
  * Scope — exactly the encodings Hudi's Lance writer produces, verified
  * exhaustively across all 45 reference fixture files (cow + mor, trips
  * + sample + txns tables): FLAT fixed-width little-endian values
  * (1-bit bool bitmap, 32/64-bit ints, doubles, 128-bit decimals),
  * VARIABLE binary (u64 end-offset buffer + bytes buffer), and LIST
  * u64 end-offsets over a child column. No compression, no bitpacking,
  * single- or multi-page. Anything else — a compressed page, an unknown
  * ArrayEncoding branch — fails CLOSED with the offending structure in
  * the message rather than decoding garbage.
  *
  * NULLABILITY (r12): the `lance.encodings.Nullable` wrapper's three
  * oneof branches from the public encodings.proto are all handled —
  * `no_nulls{values}` (the wrapper every golden fixture page uses, the
  * old f1/f1/f1 descent), `all_nulls{}` (a bufferless page of N nulls),
  * and `some_nulls{validity, values}` (an Arrow-convention 1-bit
  * validity bitmap — bit set = valid — alongside per-row values, nulls
  * occupying zero-width/zeroed slots). Buffer INDICES are read from
  * each Flat encoding's `buffer.buffer_index` rather than assumed
  * positional, so validity/values buffers may appear in any order. The
  * golden reference fixtures are all-valid, so the some_nulls/all_nulls
  * layout derives from the public proto + Arrow conventions and is
  * pinned by writer round-trip (LanceWriterSpec) — size invariants
  * (bitmap = ceil(n/8) bytes, fixed-width = n·bits/8) fail closed on
  * any layout mismatch instead of decoding garbage. Nullable LIST
  * pages (r13): `some_nulls{validity, list{offsets}}` decodes with the
  * Arrow offsets convention — a null row repeats the previous end
  * offset (zero-width slot), so offsets stay monotone and the child
  * element stream is unambiguous; `all_nulls` list pages consume no
  * child elements.
  *
  * Scale shape: the reader is COLUMNAR — it range-reads only the
  * metadata tail, the schema buffer, and the page buffers of the
  * REQUESTED columns (projection pushdown at the IO level, exactly the
  * reason Hudi offers Lance for wide ML feature tables). Rows
  * materialize per page, so executor memory is bounded by page size ×
  * projected width, never file size.
  */
object LanceFormat {

  private val Magic = "LANC".getBytes("UTF-8")

  // ------------------------------------------------------------------
  // Minimal protobuf wire decoding (varint + length-delimited only —
  // the lance metadata uses no fixed32/64 fields; they are still
  // consumed correctly for forward compatibility).
  // ------------------------------------------------------------------
  final case class PbField(num: Int, wire: Int, varint: Long, bytes: Array[Byte])

  private def readVarint(b: Array[Byte], from: Int): (Long, Int) = {
    var x = 0L; var s = 0; var i = from
    while (i < b.length) {
      val c = b(i) & 0xff; i += 1
      x |= (c & 0x7fL) << s; s += 7
      if ((c & 0x80) == 0) return (x, i)
    }
    throw new UnsupportedOperationException("lance metadata: truncated varint")
  }

  def pbFields(b: Array[Byte]): Seq[PbField] = {
    val out = Seq.newBuilder[PbField]
    var i = 0
    // every length is validated against the remaining buffer BEFORE any
    // allocation — corrupt metadata declaring a multi-GB field must fail
    // closed, not attempt the allocation (copyOfRange would zero-pad past
    // the source end rather than throw)
    def sliceEnd(from: Int, len: Long): Int = {
      if (len < 0 || from + len > b.length)
        throw new UnsupportedOperationException(
          s"lance metadata: field length $len exceeds remaining ${b.length - from} bytes")
      (from + len).toInt
    }
    while (i < b.length) {
      val (tag, i1) = readVarint(b, i)
      val num = (tag >> 3).toInt
      val wire = (tag & 7).toInt
      wire match {
        case 0 =>
          val (v, i2) = readVarint(b, i1)
          out += PbField(num, wire, v, Array.emptyByteArray); i = i2
        case 2 =>
          val (ln, i2) = readVarint(b, i1)
          val end = sliceEnd(i2, ln)
          out += PbField(num, wire, 0L, java.util.Arrays.copyOfRange(b, i2, end))
          i = end
        case 1 =>
          val end = sliceEnd(i1, 8)
          out += PbField(num, wire, 0L, java.util.Arrays.copyOfRange(b, i1, end)); i = end
        case 5 =>
          val end = sliceEnd(i1, 4)
          out += PbField(num, wire, 0L, java.util.Arrays.copyOfRange(b, i1, end)); i = end
        case w => throw new UnsupportedOperationException(s"lance metadata: protobuf wire type $w")
      }
    }
    out.result()
  }

  private def packedVarints(b: Array[Byte]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    while (i < b.length) {
      val (v, i2) = readVarint(b, i); out += v; i = i2
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // Parsed structures
  // ------------------------------------------------------------------
  final case class LanceField(name: String, id: Long, parentId: Long, logicalType: String) {
    def sparkType(childType: => DataType): DataType = logicalType match {
      case "string" => StringType
      case "binary" => BinaryType
      case "int32" => IntegerType
      case "int64" => LongType
      case "double" => DoubleType
      case "float" => FloatType
      case "bool" => BooleanType
      case "date32:day" => DateType
      case t if t.startsWith("timestamp:us") => TimestampType
      case t if t.startsWith("decimal:128:") =>
        val Array(_, _, p, s) = t.split(":")
        DecimalType(p.toInt, s.toInt)
      case "list" => ArrayType(childType, containsNull = false)
      case other => throw new UnsupportedOperationException(
        s"lance: unsupported logical type '$other' for field $name")
    }
  }

  /** Physical value layout of a page, with explicit page-buffer indices. */
  sealed trait Values
  final case class Flat(bitsPerValue: Long, buf: Int) extends Values
  final case class VariableBinary(offBuf: Int, bytesBuf: Int) extends Values
  final case class ListOffsets(offBuf: Int) extends Values

  /** Page-level encoding: values plus the nullability wrapper branch. */
  sealed trait Encoding
  final case class AllValid(values: Values) extends Encoding
  final case class SomeNulls(validityBuf: Int, values: Values) extends Encoding
  case object AllNullPage extends Encoding

  final case class Page(bufOffsets: Array[Long], bufSizes: Array[Long], rows: Long, encoding: Encoding)
  final case class Column(field: LanceField, pages: Seq[Page]) {
    def rows: Long = pages.map(_.rows).sum
  }

  final case class LanceFile(columns: Seq[Column], numRows: Long, fileLen: Long) {
    def topLevel: Seq[Column] = columns.filter(_.field.parentId == -1L)
    def childOf(parent: Column): Column =
      columns.find(_.field.parentId == parent.field.id).getOrElse(
        throw new UnsupportedOperationException(
          s"lance: list field ${parent.field.name} has no child column"))
  }

  // ------------------------------------------------------------------
  // Metadata parsing
  // ------------------------------------------------------------------
  private def parseEncoding(pageEnc: Array[Byte], ctx: String): Encoding = {
    // page.encoding -> oneof wrapper (f2) -> pb.Any {f1 type_url, f2 value}
    def anyValue(b: Array[Byte]): Array[Byte] = {
      val any = pbFields(b).collectFirst { case PbField(1, 2, _, inner) => inner }
        .getOrElse(fail(b))
      val fs = pbFields(any)
      val url = fs.collectFirst { case PbField(1, 2, _, u) => new String(u, "UTF-8") }.getOrElse("")
      if (!url.endsWith("lance.encodings.ArrayEncoding")) fail(any)
      fs.collectFirst { case PbField(2, 2, _, v) => v }.getOrElse(fail(any))
    }
    def fail(b: Array[Byte]): Nothing = throw new UnsupportedOperationException(
      s"lance: unsupported page encoding structure in $ctx: ${b.map("%02x".format(_)).mkString}")

    // Flat message {f1 bits, f2 Buffer{f1 buffer_index}}; anything beyond
    // a buffer index in f2 (a buffer_type, a compression marker) fails.
    def parseFlat(flat: Array[Byte], whole: Array[Byte]): Flat =
      pbFields(flat) match {
        case Seq(PbField(1, 0, bits, _)) => Flat(bits, 0)
        case Seq(PbField(1, 0, bits, _), PbField(2, 2, _, bufMsg)) =>
          val fs = pbFields(bufMsg)
          if (fs.exists(f => !(f.num == 1 && f.wire == 0))) fail(whole)
          Flat(bits, fs.collectFirst { case PbField(1, 0, v, _) => v.toInt }.getOrElse(0))
        case _ => fail(whole)
      }

    // ArrayEncoding restricted to VALUE branches (no nullable nesting):
    //   f1 = flat fixed-width (bare, used for validity / binary bytes)
    //   f6 = variable binary   (offsets flat u64 + bytes flat u8)
    //   f4 = list              (offsets flat u64 over the child column)
    def parseValues(arr: Array[Byte]): Values = pbFields(arr) match {
      case Seq(PbField(1, 2, _, flat)) => parseFlat(flat, arr)
      case Seq(PbField(6, 2, _, variable)) =>
        val fs = pbFields(variable)
        val offs = fs.collectFirst { case PbField(1, 2, _, o) =>
          parseValues(o) match {
            case f: Flat if f.bitsPerValue == 64 => f
            case _ => fail(arr)
          }
        }.getOrElse(fail(arr))
        // no positional guessing: a Binary encoding without an explicit
        // bytes branch fails closed like every other unknown structure
        val bytesBuf = fs.collectFirst { case PbField(2, 2, _, b) =>
          parseValues(b) match {
            case Flat(8, idx) => idx
            case _ => fail(arr)
          }
        }.getOrElse(fail(arr))
        VariableBinary(offs.buf, bytesBuf)
      case Seq(PbField(4, 2, _, list)) =>
        val offs = pbFields(list).collectFirst { case PbField(1, 2, _, o) =>
          parseValues(o) match {
            case f: Flat if f.bitsPerValue == 64 => f
            case _ => fail(arr)
          }
        }.getOrElse(fail(arr))
        ListOffsets(offs.buf)
      // f2 = Nullable wrapper around a value branch (the shape golden
      // binary-offset encodings use: nullable(no_nulls(flat)))
      case Seq(PbField(2, 2, _, nul)) =>
        pbFields(nul) match {
          case Seq(PbField(1, 2, _, noNull)) =>
            parseValues(pbFields(noNull).collectFirst { case PbField(1, 2, _, v) => v }
              .getOrElse(fail(arr)))
          case _ => fail(arr)
        }
      case _ => fail(arr)
    }

    // Top-level ArrayEncoding of a page: value branches are all-valid;
    // f2 = Nullable{no_nulls | all_nulls | some_nulls}.
    def parseArray(arr: Array[Byte]): Encoding = pbFields(arr) match {
      case Seq(PbField(2, 2, _, nul)) =>
        pbFields(nul) match {
          case Seq(PbField(1, 2, _, noNull)) =>
            AllValid(parseValues(pbFields(noNull)
              .collectFirst { case PbField(1, 2, _, v) => v }.getOrElse(fail(arr))))
          case Seq(PbField(2, 2, _, _)) => AllNullPage
          case Seq(PbField(3, 2, _, some)) =>
            val fs = pbFields(some)
            val validity = fs.collectFirst { case PbField(1, 2, _, v) => parseValues(v) }
              .getOrElse(fail(arr))
            val values = fs.collectFirst { case PbField(2, 2, _, v) => parseValues(v) }
              .getOrElse(fail(arr))
            val vBuf = validity match {
              case Flat(1, idx) => idx
              case _ => fail(arr) // validity must be a 1-bit bitmap
            }
            SomeNulls(vBuf, values)
          case _ => fail(arr)
        }
      case _ => AllValid(parseValues(arr))
    }

    val wrapper = pbFields(pageEnc).collectFirst { case PbField(2, 2, _, inner) => inner }
      .getOrElse(fail(pageEnc))
    parseArray(anyValue(wrapper))
  }

  private def parseSchema(desc: Array[Byte]): (Seq[LanceField], Long) = {
    val top = pbFields(desc)
    val schema = top.collectFirst { case PbField(1, 2, _, s) => s }.getOrElse(
      throw new UnsupportedOperationException("lance: missing schema in file descriptor"))
    val numRows = top.collectFirst { case PbField(2, 0, v, _) => v }.getOrElse(0L)
    val fields = pbFields(schema).collect { case PbField(1, 2, _, fb) =>
      var name = ""; var id = 0L; var parent = -1L; var lt = ""
      pbFields(fb).foreach {
        case PbField(2, 2, _, b) => name = new String(b, "UTF-8")
        case PbField(3, 0, v, _) => id = v
        case PbField(4, 0, v, _) => parent = v // -1 varint-encoded for top level
        case PbField(5, 2, _, b) => lt = new String(b, "UTF-8")
        case _ => ()
      }
      LanceField(name, id, parent, lt)
    }
    (fields, numRows)
  }

  /** Parse footer + column metadata + schema. `readAt` is a positioned
    * range read — the only IO primitive required, so callers choose the
    * transport (Hadoop FS here, a byte array in tests).
    */
  def parse(fileLen: Long, readAt: (Long, Int) => Array[Byte]): LanceFile = {
    require(fileLen >= 40, s"lance: file too small ($fileLen bytes)")
    val footer = readAt(fileLen - 40, 40)
    val bb = java.nio.ByteBuffer.wrap(footer).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val cmStart = bb.getLong(0)
    val cmoStart = bb.getLong(8)
    val gboStart = bb.getLong(16)
    val ngb = bb.getInt(24)
    val ncol = bb.getInt(28)
    val major = bb.getShort(32)
    val minor = bb.getShort(34)
    if (!footer.takeRight(4).sameElements(Magic))
      throw new UnsupportedOperationException("lance: bad magic (not a Lance file)")
    if (major != 0 || minor != 3)
      throw new UnsupportedOperationException(
        s"lance: unsupported file version $major.$minor (this reader targets 0.3 / format 2.0)")
    require(ngb >= 1, "lance: missing file descriptor global buffer")

    // one ranged read covers column metas + both offset tables
    val tail = readAt(cmStart, (fileLen - 40 - cmStart).toInt)
    def tailLong(pos: Long): Long =
      java.nio.ByteBuffer.wrap(tail, (pos - cmStart).toInt, 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    val gb0Pos = tailLong(gboStart)
    val gb0Size = tailLong(gboStart + 8)
    val (fields, numRows) = parseSchema(readAt(gb0Pos, gb0Size.toInt))
    require(fields.length == ncol,
      s"lance: schema has ${fields.length} fields but footer declares $ncol columns")

    val columns = (0 until ncol).map { ci =>
      val pos = tailLong(cmoStart + 16L * ci)
      val size = tailLong(cmoStart + 16L * ci + 8)
      val meta = java.util.Arrays.copyOfRange(tail, (pos - cmStart).toInt, (pos - cmStart + size).toInt)
      val pages = pbFields(meta).collect { case PbField(2, 2, _, p) =>
        var offs = Array.empty[Long]; var sizes = Array.empty[Long]; var rows = 0L
        var enc: Array[Byte] = null
        pbFields(p).foreach {
          case PbField(1, 2, _, b) => offs ++= packedVarints(b)
          case PbField(1, 0, v, _) => offs :+= v
          case PbField(2, 2, _, b) => sizes ++= packedVarints(b)
          case PbField(2, 0, v, _) => sizes :+= v
          case PbField(3, 0, v, _) => rows = v
          case PbField(4, 2, _, b) => enc = b
          case _ => ()
        }
        if (enc == null) throw new UnsupportedOperationException(
          s"lance: page without encoding in column ${fields(ci).name}")
        Page(offs, sizes, rows, parseEncoding(enc, fields(ci).name))
      }
      Column(fields(ci), pages)
    }
    val fileRows =
      if (numRows > 0) numRows
      else columns.find(_.field.parentId == -1L).map(_.rows).getOrElse(0L)
    LanceFile(columns, fileRows, fileLen)
  }

  // ------------------------------------------------------------------
  // Value decoding
  // ------------------------------------------------------------------
  /** Decode one page's values for a NON-LIST column (lists need the
    * whole child column and stay on the materialized path in [[decode]]).
    */
  private def decodePageValues(col: Column, page: Page, values: Values,
      readAt: (Long, Int) => Array[Byte]): Array[Any] = {
    val lt = col.field.logicalType
    val n = page.rows.toInt
    val vals = new Array[Any](n)
      values match {
        case Flat(bits, bufIdx) =>
          val buf = readAt(page.bufOffsets(bufIdx), page.bufSizes(bufIdx).toInt)
          val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          def fixed(width: Int): Unit = require(buf.length == width * n,
            s"lance: ${col.field.name} page buffer ${buf.length}B != $n rows × ${width}B")
          lt match {
            case "bool" =>
              require(bits == 1, s"lance: bool with $bits bits")
              require(buf.length == (n + 7) / 8, s"lance: bool bitmap size ${buf.length} for $n rows")
              var i = 0
              while (i < n) { vals(i) = ((buf(i >> 3) >> (i & 7)) & 1) == 1; i += 1 }
            case "int32" | "date32:day" =>
              require(bits == 32, s"lance: $lt with $bits bits"); fixed(4)
              var i = 0
              while (i < n) { vals(i) = bb.getInt(4 * i); i += 1 }
            case "int64" =>
              require(bits == 64, s"lance: $lt with $bits bits"); fixed(8)
              var i = 0
              while (i < n) { vals(i) = bb.getLong(8 * i); i += 1 }
            case t if t.startsWith("timestamp:us") =>
              require(bits == 64, s"lance: $lt with $bits bits"); fixed(8)
              var i = 0
              while (i < n) { vals(i) = bb.getLong(8 * i); i += 1 }
            case "double" =>
              require(bits == 64, s"lance: double with $bits bits"); fixed(8)
              var i = 0
              while (i < n) { vals(i) = bb.getDouble(8 * i); i += 1 }
            case "float" =>
              require(bits == 32, s"lance: float with $bits bits"); fixed(4)
              var i = 0
              while (i < n) { vals(i) = bb.getFloat(4 * i); i += 1 }
            case t if t.startsWith("decimal:128:") =>
              require(bits == 128, s"lance: $lt with $bits bits"); fixed(16)
              val Array(_, _, p, s) = t.split(":")
              var i = 0
              while (i < n) {
                val le = java.util.Arrays.copyOfRange(buf, 16 * i, 16 * (i + 1))
                val be = le.reverse
                val unscaled = new java.math.BigInteger(be)
                vals(i) = org.apache.spark.sql.types.Decimal(
                  new java.math.BigDecimal(unscaled, s.toInt), p.toInt, s.toInt)
                i += 1
              }
            case other => throw new UnsupportedOperationException(
              s"lance: flat encoding for unsupported type '$other' (${col.field.name})")
          }
        case VariableBinary(offBuf, bytesBuf) =>
          require(lt == "string" || lt == "binary",
            s"lance: variable encoding for non-variable-width '$lt'")
          val offs = readAt(page.bufOffsets(offBuf), page.bufSizes(offBuf).toInt)
          val bytes = readAt(page.bufOffsets(bytesBuf), page.bufSizes(bytesBuf).toInt)
          require(offs.length == 8 * n, s"lance: string offsets ${offs.length}B for $n rows")
          val ob = java.nio.ByteBuffer.wrap(offs).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var prev = 0L
          var i = 0
          while (i < n) {
            val end = ob.getLong(8 * i)
            // fail CLOSED on corrupt offsets: non-monotonic or past the
            // bytes buffer would otherwise zero-pad (copyOfRange) or
            // Int-wrap into silently-wrong values
            require(end >= prev && end <= bytes.length,
              s"lance: ${col.field.name} corrupt variable offset $end " +
                s"(prev $prev, bytes ${bytes.length})")
            vals(i) =
              if (lt == "binary")
                java.util.Arrays.copyOfRange(bytes, prev.toInt, end.toInt)
              else UTF8String.fromBytes(bytes, prev.toInt, (end - prev).toInt)
            prev = end; i += 1
          }
        case ListOffsets(_) =>
          throw new UnsupportedOperationException(
            s"lance: page-streamed decode of list column ${col.field.name} (materialized path only)")
      }
    vals
  }

  /** One page of a NON-LIST column with nullability applied. */
  private def decodePageNonList(col: Column, page: Page,
      readAt: (Long, Int) => Array[Byte]): Array[Any] = {
    val n = page.rows.toInt
    page.encoding match {
      case AllValid(values) => decodePageValues(col, page, values, readAt)
      case AllNullPage => new Array[Any](n) // null-initialized
      case SomeNulls(vBuf, values) =>
        val bitmap = readAt(page.bufOffsets(vBuf), page.bufSizes(vBuf).toInt)
        require(bitmap.length == (n + 7) / 8,
          s"lance: ${col.field.name} validity bitmap ${bitmap.length}B for $n rows")
        val vals = decodePageValues(col, page, values, readAt)
        var i = 0
        while (i < n) {
          if (((bitmap(i >> 3) >> (i & 7)) & 1) == 0) vals(i) = null
          i += 1
        }
        vals
    }
  }

  def decode(col: Column, readAt: (Long, Int) => Array[Byte], child: => Array[Any]): Array[Any] = {
    val lt = col.field.logicalType
    if (lt != "list")
      return col.pages.iterator.flatMap(p => decodePageNonList(col, p, readAt)).toArray

    // list columns: offsets pages over the fully-decoded child elements
    // (materialized — lists are excluded from the streaming/columnar
    // paths, so this is the row path's shape)
    val out = Array.newBuilder[Any]
    var childBase = 0L // running element offset across pages of the PARENT
    val elems = child
    col.pages.foreach { page =>
      val n = page.rows.toInt
      // decode one offsets buffer; `valid(i)` gates null emission — a null
      // row repeats the previous end offset (Arrow zero-width convention),
      // and either way `prev` advances to keep the running child position
      // consistent with whatever the writer recorded
      def offsetsPage(offBuf: Int, valid: Int => Boolean): Unit = {
        val offs = readAt(page.bufOffsets(offBuf), page.bufSizes(offBuf).toInt)
        require(offs.length == 8 * n, s"lance: list offsets ${offs.length}B for $n rows")
        val ob = java.nio.ByteBuffer.wrap(offs).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var prev = childBase
        var i = 0
        while (i < n) {
          val end = childBase + ob.getLong(8 * i)
          require(end >= prev && end <= elems.length,
            s"lance: ${col.field.name} corrupt list offset $end " +
              s"(prev $prev, elements ${elems.length})")
          out += (if (valid(i))
            new GenericArrayData(java.util.Arrays.copyOfRange(
              elems.asInstanceOf[Array[AnyRef]], prev.toInt, end.toInt))
          else null)
          prev = end; i += 1
        }
        if (n > 0) childBase = prev
      }
      page.encoding match {
        case AllValid(ListOffsets(offBuf)) => offsetsPage(offBuf, _ => true)
        case AllNullPage =>
          // bufferless: n null rows, no child elements consumed
          var i = 0
          while (i < n) { out += null; i += 1 }
        case SomeNulls(vBuf, ListOffsets(offBuf)) =>
          val bitmap = readAt(page.bufOffsets(vBuf), page.bufSizes(vBuf).toInt)
          require(bitmap.length == (n + 7) / 8,
            s"lance: ${col.field.name} validity bitmap ${bitmap.length}B for $n rows")
          offsetsPage(offBuf, i => ((bitmap(i >> 3) >> (i & 7)) & 1) != 0)
        case other => throw new UnsupportedOperationException(
          s"lance: unsupported list-page encoding $other for ${col.field.name}")
      }
    }
    out.result()
  }

  /** Page-at-a-time cursor over a non-list column: at most ONE decoded
    * page held at a time — the bounded-memory unit the streaming read
    * paths are built from (a production Lance file pages at ~8 MB, so
    * executor memory is page × projected-width, never file size).
    */
  private final class PageCursor(col: Column, readAt: (Long, Int) => Array[Byte]) {
    private val pages = col.pages.iterator
    private var cur: Array[Any] = Array.empty
    private var off = 0
    /** Copy `n` values into `out` starting at 0; throws if the column
      * runs out of pages before `n` values (row-count mismatch).
      */
    def take(n: Int, out: Array[Any]): Unit = {
      var filled = 0
      while (filled < n) {
        if (off == cur.length) {
          require(pages.hasNext,
            s"lance: column ${col.field.name} exhausted before the declared row count")
          cur = decodePageNonList(col, pages.next(), readAt)
          off = 0
        }
        val take = math.min(n - filled, cur.length - off)
        System.arraycopy(cur, off, out, filled, take)
        off += take; filled += take
      }
    }
    def exhausted: Boolean = off == cur.length && !pages.hasNext
  }

  /** Exact null count of one column from its page encodings: all-valid
    * pages contribute 0, all-null pages their row count, some-null pages
    * the zero bits of their validity bitmap (a ceil(n/8)-byte ranged
    * read — still metadata-scale IO). Powers COUNT(col) pushdown over
    * Lance base files.
    */
  def columnNullCount(col: Column, readAt: (Long, Int) => Array[Byte]): Long =
    col.pages.map { page =>
      val n = page.rows.toInt
      page.encoding match {
        case AllValid(_) => 0L
        case AllNullPage => page.rows
        case SomeNulls(vBuf, _) =>
          val bitmap = readAt(page.bufOffsets(vBuf), page.bufSizes(vBuf).toInt)
          require(bitmap.length == (n + 7) / 8,
            s"lance: ${col.field.name} validity bitmap ${bitmap.length}B for $n rows")
          // per-byte popcount; mask the final partial byte's padding bits
          var valid = 0L
          var b = 0
          while (b < bitmap.length) {
            val mask = if (b == n / 8 && (n & 7) != 0) (1 << (n & 7)) - 1 else 0xff
            valid += Integer.bitCount(bitmap(b) & mask)
            b += 1
          }
          n - valid
      }
    }.sum

  // ------------------------------------------------------------------
  // Hadoop-FS entry points
  // ------------------------------------------------------------------
  private def openReadAt(path: String, conf: Configuration): (Long, (Long, Int) => Array[Byte], () => Unit) = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val readAt = (pos: Long, n: Int) => {
      // bound BEFORE allocating: corrupt metadata declaring a multi-GB
      // buffer must fail closed, not attempt the allocation
      if (pos < 0 || n < 0 || pos + n > len)
        throw new UnsupportedOperationException(
          s"lance: buffer range [$pos, ${pos + n}) outside file of $len bytes in $path")
      val b = new Array[Byte](n)
      in.readFully(pos, b)
      b
    }
    (len, readAt, () => in.close())
  }

  def readMetadata(path: String, conf: Configuration): LanceFile = {
    val (len, readAt, close) = openReadAt(path, conf)
    try parse(len, readAt) finally close()
  }

  /** Exact row count from metadata only (COUNT pushdown unit). */
  def rowCount(path: String, conf: Configuration): Long =
    readMetadata(path, conf).numRows

  /** (parsed file, per-column exact null counts) for the requested
    * top-level columns that exist in the file — one open, metadata +
    * validity bitmaps only. Columns absent from the file are NOT in the
    * map (the caller proves those all-null from the widen contract).
    */
  def fileNullCounts(path: String, conf: Configuration,
      cols: Set[String]): (LanceFile, Map[String, Long]) = {
    val (len, readAt, close) = openReadAt(path, conf)
    try {
      val lf = parse(len, readAt)
      val counts = lf.topLevel.filter(c => cols.contains(c.field.name))
        .map(c => c.field.name -> columnNullCount(c, readAt)).toMap
      (lf, counts)
    } finally close()
  }

  /** The file's Spark schema (top-level fields). */
  def readSchema(path: String, conf: Configuration): StructType = {
    val lf = readMetadata(path, conf)
    StructType(lf.topLevel.map { c =>
      StructField(c.field.name,
        c.field.sparkType(lf.childOf(c).field.sparkType(
          throw new UnsupportedOperationException("lance: nested lists unsupported"))),
        nullable = true)
    })
  }

  /** Decode the `required` columns fully (one Array[Any] per field, null
    * for fields absent from the file — the widen contract parquet reads
    * follow); a present field whose lance type maps to a DIFFERENT Spark
    * type fails closed (no schema evolution over Lance base files).
    */
  private def decodeColumns(path: String, conf: Configuration,
      required: StructType): (Array[Array[Any]], Int) = {
    val (len, readAt, close) = openReadAt(path, conf)
    try {
      val lf = parse(len, readAt)
      val byName = lf.topLevel.map(c => c.field.name -> c).toMap
      val nRows = lf.numRows.toInt
      val cols: Array[Array[Any]] = required.fields.map { f =>
        resolveColumn(lf, byName, f, path) match {
          case None => null // absent: null column
          case Some(c) =>
            val vals = decode(c, readAt,
              decode(lf.childOf(c), readAt,
                throw new UnsupportedOperationException("lance: nested lists unsupported")))
            require(vals.length == nRows,
              s"lance: column ${f.name} decoded ${vals.length} rows, file declares $nRows")
            vals
        }
      }
      (cols, nRows)
    } finally close()
  }

  /** Type-check a required field against the file; Some(column) when
    * present, None when absent (reads back null — the widen contract).
    */
  private def resolveColumn(lf: LanceFile, byName: Map[String, Column],
      f: StructField, path: String): Option[Column] =
    byName.get(f.name).map { c =>
      val sparkT = c.field.sparkType(
        lf.childOf(c).field.sparkType(
          throw new UnsupportedOperationException("lance: nested lists unsupported")))
      def erase(dt: DataType): DataType = dt match {
        case ArrayType(et, _) => ArrayType(erase(et), containsNull = true)
        case MapType(k, v, _) => MapType(erase(k), erase(v), valueContainsNull = true)
        case StructType(fs) => StructType(fs.map(x =>
          x.copy(dataType = erase(x.dataType), nullable = true)))
        case other => other
      }
      if (erase(sparkT) != erase(f.dataType))
        throw new UnsupportedOperationException(
          s"lance: field ${f.name} is $sparkT in $path but the table schema wants ${f.dataType}")
      c
    }

  /** STREAMING read unit: row-aligned chunks of up to `batchRows` values
    * per projected column, decoded page-at-a-time through [[PageCursor]]
    * — executor memory is bounded by page size × projected width, never
    * file size (production Lance files page at ~8 MB). The stream closes
    * at exhaustion; early termination (LIMIT) is covered by a
    * task-completion listener when running inside a Spark task.
    */
  private def chunkIterator(path: String, conf: Configuration, required: StructType,
      batchRows: Int): Iterator[(Array[Array[Any]], Int)] = {
    val (len, readAt, close) = openReadAt(path, conf)
    var closed = false
    def closeOnce(): Unit = if (!closed) { closed = true; close() }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
    try {
      val lf = parse(len, readAt)
      val byName = lf.topLevel.map(c => c.field.name -> c).toMap
      val nRows = lf.numRows.toInt
      val cursors: Array[PageCursor] = required.fields.map(f =>
        resolveColumn(lf, byName, f, path).map(new PageCursor(_, readAt)).orNull)
      if (nRows == 0) { closeOnce(); return Iterator.empty }
      new Iterator[(Array[Array[Any]], Int)] {
        private var produced = 0
        override def hasNext: Boolean = produced < nRows
        override def next(): (Array[Array[Any]], Int) = {
          try {
            val n = math.min(batchRows, nRows - produced)
            val out: Array[Array[Any]] = cursors.map { c =>
              if (c == null) null
              else { val a = new Array[Any](n); c.take(n, a); a }
            }
            produced += n
            if (produced == nRows) {
              cursors.foreach(c => if (c != null) require(c.exhausted,
                s"lance: a column in $path decoded more rows than the file declares"))
              closeOnce()
            }
            (out, n)
          } catch { case e: Throwable => closeOnce(); throw e }
        }
      }
    } catch { case e: Throwable => closeOnce(); throw e }
  }

  /** Projected row read. List projections take the materialized path
    * (the child column must be whole); everything else streams
    * page-at-a-time with bounded memory.
    */
  def rows(path: String, conf: Configuration, required: StructType): Iterator[InternalRow] = {
    val width = required.fields.length
    if (required.fields.exists(_.dataType.isInstanceOf[ArrayType])) {
      val (cols, nRows) = decodeColumns(path, conf, required)
      (0 until nRows).iterator.map { r =>
        val vals = new Array[Any](width)
        var i = 0
        while (i < width) {
          vals(i) = if (cols(i) == null) null else cols(i)(r)
          i += 1
        }
        new GenericInternalRow(vals)
      }
    } else chunkIterator(path, conf, required, 4096).flatMap { case (cols, n) =>
      (0 until n).iterator.map { r =>
        val vals = new Array[Any](width)
        var i = 0
        while (i < width) {
          vals(i) = if (cols(i) == null) null else cols(i)(r)
          i += 1
        }
        new GenericInternalRow(vals)
      }
    }
  }

  /** Types the columnar batch builder can materialize — the gate the
    * scan routing checks before claiming a vectorized Lance read.
    */
  def vectorizable(dt: DataType): Boolean = dt match {
    case IntegerType | DateType | LongType | TimestampType | DoubleType |
         FloatType | BooleanType | StringType | BinaryType => true
    case _: DecimalType => true
    case _ => false // lists stay on the row path
  }

  /** COLUMNAR read: streamed chunks materialized as on-heap
    * `ColumnarBatch`es, so log-free Lance scans ride whole-stage codegen
    * batch-at-a-time exactly like the vectorized parquet path (D3), with
    * memory bounded by page × projected width (the [[chunkIterator]]
    * contract). Caller must have checked [[vectorizable]] per field.
    */
  def batches(path: String, conf: Configuration, required: StructType,
      batchRows: Int = 4096): Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
    chunkIterator(path, conf, required, math.max(1, batchRows)).map { case (cols, n) =>
      val vectors = OnHeapColumnVector.allocateColumns(n, required)
      var ci = 0
      while (ci < required.length) {
        val vec = vectors(ci)
        val col = cols(ci)
        val dt = required.fields(ci).dataType
        if (col == null) vec.putNulls(0, n)
        else {
          var i = 0
          while (i < n) {
            val v = col(i)
            if (v == null) vec.putNull(i)
            else dt match {
              case IntegerType | DateType => vec.putInt(i, v.asInstanceOf[Int])
              case LongType | TimestampType => vec.putLong(i, v.asInstanceOf[Long])
              case DoubleType => vec.putDouble(i, v.asInstanceOf[Double])
              case FloatType => vec.putFloat(i, v.asInstanceOf[Float])
              case BooleanType => vec.putBoolean(i, v.asInstanceOf[Boolean])
              case d: DecimalType =>
                vec.putDecimal(i, v.asInstanceOf[org.apache.spark.sql.types.Decimal], d.precision)
              case StringType =>
                val b = v.asInstanceOf[UTF8String].getBytes
                vec.putByteArray(i, b, 0, b.length)
              case BinaryType =>
                val b = v.asInstanceOf[Array[Byte]]
                vec.putByteArray(i, b, 0, b.length)
              case other => throw new UnsupportedOperationException(
                s"lance: non-vectorizable type $other reached the batch builder")
            }
            i += 1
          }
        }
        ci += 1
      }
      new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]], n)
    }
  }
}
