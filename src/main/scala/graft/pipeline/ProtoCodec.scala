package graft.pipeline

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NativeExpression

/** The nested `Site` message of [[ProtoRecord]]: field 2 (`site`) and
  * each element of field 8 (`stores`). */
final case class WireSite(id: String, kind: String)

/** The demo record for the protobuf ingest path — (id, site{id,kind},
  * score, flag) plus a signed `ts` delta so every proto3 scalar
  * encoding is on the wire, plus the two
  * non-scalar cardinalities the reference's type surface carries
  * (`Repeated`, /root/reference/custom.go:15; proto map,
  * /root/reference/README.md:10-11):
  * ```proto
  *   message ProtoRecord {            // field · wire type
  *     int64  id    = 1;              // varint
  *     Site   site  = 2;              // length-delimited, nested
  *     double score = 3;              // fixed64 (little-endian)
  *     bool   flag  = 4;              // varint
  *     sint64 ts    = 5;              // zigzag varint
  *     repeated sint64 tags = 6;      // packed (proto3 default);
  *                                    // reader also accepts unpacked
  *     map<string, int64> attrs = 7;  // repeated entry messages
  *     repeated Site stores = 8;      // repeated NESTED MESSAGE: one
  *                                    // length-delimited occurrence
  *                                    // per element, never packed
  *   }
  *   message Site { string id = 1; string kind = 2; }
  * ```
  * `site == null` models an absent message field (proto3 presence);
  * absent scalars decode to their defaults (0 / 0.0 / false / "");
  * an absent repeated/map field decodes to empty.
  *
  * Reader distinction that `stores` exists to carry (the reference
  * normalizer's un-indexed `stores[0].gallery.deals.id` README shape,
  * /root/reference/README.md:45,113-130): duplicate occurrences of the
  * NON-repeated message field 2 MERGE (fragment concatenation), while
  * each occurrence of the REPEATED message field 8 APPENDS a separate
  * element — no cross-element merge, order preserved. */
final case class ProtoRecord(id: Long, site: WireSite, score: Double,
    flag: Boolean, ts: Long, tags: Seq[Long] = Nil,
    attrs: Map[String, Long] = Map.empty,
    stores: Seq[WireSite] = Nil)

/** Protocol-buffers wire-format primitives (public knowledge: the
  * format is varint keys `(field << 3) | wireType` with wire types
  * 0 = varint, 1 = fixed64, 2 = length-delimited, 5 = fixed32;
  * sint64 maps negatives via zigzag `(n << 1) ^ (n >> 63)`; fixed
  * widths are little-endian). No protobuf jar involved — this is the
  * format itself, hand-rolled, so the reference's canonical decode
  * path (generated-protobuf `unmarshalFunc`,
  * /root/reference/proto.go:33,106-172) has a REAL stand-in instead
  * of an invented wire format. */
object ProtoWire {
  final class Malformed(val msg: String)
    extends Exception(msg, null, false, false)

  /** Strict UTF-8 slice validation for `string` fields — proto3
    * conformance: invalid UTF-8 in a string field is MALFORMED wire
    * data, rejected like any truncation (parsers must not silently
    * repair it). This is also what keeps the typed and columnar
    * readers byte-agreed: `new String` would smuggle U+FFFD
    * replacements in where `UTF8String` preserves the raw slice —
    * the round-13 differential fuzz caught exactly that divergence on
    * bit-flipped payloads. The wrap is zero-copy; `isValid` is one
    * linear scan of an already-touched slice. */
  def utf8Slice(bytes: Array[Byte], pos: Int,
      len: Int): org.apache.spark.unsafe.types.UTF8String = {
    val s = org.apache.spark.unsafe.types.UTF8String
      .fromBytes(bytes, pos, len)
    if (!s.isValid) throw new Malformed("invalid UTF-8 in string field")
    s
  }

  /** [[utf8Slice]] materialized for the typed reader. */
  def utf8Strict(bytes: Array[Byte], pos: Int, len: Int): String =
    utf8Slice(bytes, pos, len).toString

  /** Mutable read cursor; every read throws [[Malformed]] rather than
    * over-running `end` (which doubles as the nested-message limit). */
  final class Cursor(val bytes: Array[Byte], var pos: Int, val end: Int) {
    def hasRemaining: Boolean = pos < end

    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      while (shift < 70) {
        if (pos >= end) throw new Malformed("truncated varint")
        val b = bytes(pos)
        pos += 1
        result |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new Malformed("varint over 10 bytes")
    }

    def readFixed64(): Long = {
      if (pos + 8 > end) throw new Malformed("truncated fixed64")
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | (bytes(pos + i) & 0xFFL); i -= 1 }
      pos += 8
      v
    }

    /** Length prefix of a length-delimited field, bounds-checked. */
    def readLen(): Int = {
      val l = readVarint()
      if (l < 0 || l > end - pos)
        throw new Malformed(s"bad length $l (${end - pos} bytes left)")
      l.toInt
    }

    /** Skip an unknown field by its wire type (groups, wire types 3/4,
      * are pre-proto3 relics — rejected as malformed). */
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 =>
        if (pos + 8 > end) throw new Malformed("truncated fixed64")
        pos += 8
      // NOT `pos += readLen()`: that desugars to `pos = pos + readLen()`
      // and reads the OLD pos before readLen() advances it past the
      // length byte — silently rewinding the cursor into the payload
      case 2 => val l = readLen(); pos += l
      case 5 =>
        if (pos + 4 > end) throw new Malformed("truncated fixed32")
        pos += 4
      case w => throw new Malformed(s"unsupported wire type $w")
    }
  }

  def zigzagEncode(n: Long): Long = (n << 1) ^ (n >> 63)
  def zigzagDecode(z: Long): Long = (z >>> 1) ^ -(z & 1L)

  def writeVarint(out: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7FL) != 0) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  def writeTag(out: ByteArrayOutputStream, field: Int, wireType: Int): Unit =
    writeVarint(out, (field.toLong << 3) | wireType)

  def writeFixed64(out: ByteArrayOutputStream, value: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((value >>> (8 * i)) & 0xFF).toInt); i += 1 }
  }
}

/** Real proto wire-format codec for [[ProtoRecord]] at the pluggable
  * `unmarshalFunc` boundary
  * (/root/reference/proto.go:33,106-172). Encoder follows generated
  * proto3 writer semantics (default-valued scalars omitted, judged on
  * raw double BITS so -0.0/NaN still serialize, and WRITTEN as raw
  * bits so non-canonical NaN payloads round-trip bit-exactly, like
  * protobuf-java's writeDoubleNoTag; empty strings
  * omitted; a null `site` omits the field, a non-null empty one
  * emits `tag, len 0`). Decoder follows proto reader semantics:
  * fields in ANY order, unknown fields skipped by wire type,
  * last-one-wins on duplicate scalars, duplicate embedded MESSAGE
  * fields MERGE (fragments concatenate — a conformant writer may
  * split `site` across occurrences), absent scalars default.
  * Malformed input (truncated varint/fixed, length past the buffer,
  * wire types 3/4, field number 0 — rejecting the latter keeps
  * zeroed buffers out of the good-rows path) routes to the dead
  * letter frame, not an exception.
  *
  * Two decoders, same semantics:
  * [[decode]] through `Decoders.typed` (reference-parity boundary;
  * pays the object round-trip of the typed mapPartitions),
  * [[decodeColumnar]] as ONE native codegen'd [[ProtoParseExpr]]
  * fused into the scan's whole-stage-codegen span, reading fields
  * straight off the byte array (UTF8String slices, no intermediate
  * objects). The field extractions over the one parse struct are
  * deduplicated by codegen subexpression elimination (top-level
  * projection — not the HOF lambda trap from SCALE.md). */
object ProtoCodec {
  import ProtoWire._

  /** Unsigned lexicographic UTF-8 byte comparison — the same total
    * order as `UTF8String.compareTo`. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val ab = a.getBytes(UTF_8)
    val bb = b.getBytes(UTF_8)
    val n = math.min(ab.length, bb.length)
    var i = 0
    while (i < n) {
      val c = (ab(i) & 0xFF) - (bb(i) & 0xFF)
      if (c != 0) return c < 0
      i += 1
    }
    ab.length < bb.length
  }

  def encodeSite(s: WireSite): Array[Byte] = {
    val out = new ByteArrayOutputStream(32)
    if (s.id != null && s.id.nonEmpty) {
      val b = s.id.getBytes(UTF_8)
      writeTag(out, 1, 2); writeVarint(out, b.length.toLong); out.write(b)
    }
    if (s.kind != null && s.kind.nonEmpty) {
      val b = s.kind.getBytes(UTF_8)
      writeTag(out, 2, 2); writeVarint(out, b.length.toLong); out.write(b)
    }
    out.toByteArray
  }

  def encode(r: ProtoRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    if (r.id != 0L) { writeTag(out, 1, 0); writeVarint(out, r.id) }
    if (r.site != null) {
      val body = encodeSite(r.site)
      writeTag(out, 2, 2); writeVarint(out, body.length.toLong)
      out.write(body)
    }
    if (java.lang.Double.doubleToRawLongBits(r.score) != 0L) {
      writeTag(out, 3, 1)
      writeFixed64(out, java.lang.Double.doubleToRawLongBits(r.score))
    }
    if (r.flag) { writeTag(out, 4, 0); writeVarint(out, 1L) }
    if (r.ts != 0L) { writeTag(out, 5, 0); writeVarint(out, zigzagEncode(r.ts)) }
    // Repeated scalar → ONE packed length-delimited run (the proto3
    // writer default). Every element is written — packed runs have no
    // per-element default omission; an empty list omits the field.
    if (r.tags.nonEmpty) {
      val body = new ByteArrayOutputStream(16)
      r.tags.foreach(t => writeVarint(body, zigzagEncode(t)))
      writeTag(out, 6, 2); writeVarint(out, body.size.toLong)
      body.writeTo(out)
    }
    // Map → one entry message per key, keys in UTF-8 BYTE order (a
    // canonical-writer choice — readers must accept any order, and
    // [[decode]] does); default-valued key/value are omitted inside
    // the entry per proto3 writer semantics (reader defaults them).
    // Byte order, not String order: java.lang.String compares UTF-16
    // code units, which diverges from UTF8String.compareTo (the
    // columnar [[ProtoEncodeExpr]] sort) when supplementary characters
    // mix with U+E000..U+FFFF — byte order keeps typed and columnar
    // wire bytes identical for every key set.
    r.attrs.toSeq.sortWith((a, b) => utf8Lt(a._1, b._1)).foreach { case (k, v) =>
      val body = new ByteArrayOutputStream(16)
      if (k.nonEmpty) {
        val kb = k.getBytes(UTF_8)
        writeTag(body, 1, 2); writeVarint(body, kb.length.toLong)
        body.write(kb)
      }
      if (v != 0L) { writeTag(body, 2, 0); writeVarint(body, v) }
      writeTag(out, 7, 2); writeVarint(out, body.size.toLong)
      body.writeTo(out)
    }
    // Repeated MESSAGE → one length-delimited occurrence per element,
    // in order (message fields are never packed). Every element is
    // written — even an all-default Site emits `tag, len 0` (element
    // COUNT is data; proto3 default omission applies inside the
    // element body, not to the element itself). A null element is
    // written as the empty message.
    r.stores.foreach { s =>
      val body = if (s == null) Array.emptyByteArray else encodeSite(s)
      writeTag(out, 8, 2); writeVarint(out, body.length.toLong)
      out.write(body)
    }
    out.toByteArray
  }

  /** Parses one `Site` fragment, MERGING into `base`: a duplicated
    * non-repeated message field concatenates its fragments per the
    * proto merge rule (scalars last-one-wins, so a fragment's set
    * fields overwrite; unset fields keep the earlier value). */
  private def parseSite(c: Cursor, base: WireSite): WireSite = {
    var id = base.id
    var kind = base.kind
    while (c.hasRemaining) {
      val tag = c.readVarint()
      val field = (tag >>> 3).toInt
      val wt = (tag & 7).toInt
      if (field == 0) throw new Malformed("field number 0")
      if (field == 1 && wt == 2) {
        val l = c.readLen()
        id = ProtoWire.utf8Strict(c.bytes, c.pos, l); c.pos += l
      } else if (field == 2 && wt == 2) {
        val l = c.readLen()
        kind = ProtoWire.utf8Strict(c.bytes, c.pos, l); c.pos += l
      } else c.skip(wt)
    }
    WireSite(id, kind)
  }

  /** Typed decoder: malformed payloads route to the dead letter frame
    * (decode-error parity, /root/reference/proto.go:133-145). */
  val decode: Array[Byte] => DecodeResult[ProtoRecord] = { bytes =>
    if (bytes == null) DecodeResult.Failed("null message value")
    else try {
      val c = new Cursor(bytes, 0, bytes.length)
      var id = 0L
      var site: WireSite = null
      var score = 0.0
      var flag = false
      var ts = 0L
      val tags = scala.collection.mutable.ArrayBuffer[Long]()
      val attrs = scala.collection.mutable.LinkedHashMap[String, Long]()
      val stores = scala.collection.mutable.ArrayBuffer[WireSite]()
      while (c.hasRemaining) {
        val tag = c.readVarint()
        val field = (tag >>> 3).toInt
        val wt = (tag & 7).toInt
        // field number 0 is invalid wire data (protobuf reserves it);
        // skipping it would decode zeroed buffers as default records
        if (field == 0) throw new Malformed("field number 0")
        if (field == 1 && wt == 0) id = c.readVarint()
        else if (field == 2 && wt == 2) {
          val l = c.readLen()
          val sub = new Cursor(c.bytes, c.pos, c.pos + l)
          site = parseSite(sub,
            if (site == null) WireSite("", "") else site)
          c.pos += l
        } else if (field == 3 && wt == 1)
          score = java.lang.Double.longBitsToDouble(c.readFixed64())
        else if (field == 4 && wt == 0) flag = c.readVarint() != 0L
        else if (field == 5 && wt == 0) ts = zigzagDecode(c.readVarint())
        // Repeated field, reader side: occurrences CONCATENATE — a
        // packed run (wt 2) appends its whole payload, an unpacked
        // element (wt 0) appends one value; any interleaving of the
        // two is conformant input and order is preserved.
        else if (field == 6 && wt == 2) {
          val l = c.readLen()
          val sub = new Cursor(c.bytes, c.pos, c.pos + l)
          while (sub.hasRemaining) tags += zigzagDecode(sub.readVarint())
          c.pos += l
        } else if (field == 6 && wt == 0)
          tags += zigzagDecode(c.readVarint())
        // Map entry: one message per occurrence; duplicate keys merge
        // LAST-one-wins (the map<k,v> reader rule); absent key/value
        // inside an entry default to "" / 0.
        else if (field == 7 && wt == 2) {
          val l = c.readLen()
          val sub = new Cursor(c.bytes, c.pos, c.pos + l)
          var k = ""
          var v = 0L
          while (sub.hasRemaining) {
            val t2 = sub.readVarint()
            val f2 = (t2 >>> 3).toInt
            val w2 = (t2 & 7).toInt
            if (f2 == 0) throw new Malformed("field number 0")
            if (f2 == 1 && w2 == 2) {
              val kl = sub.readLen()
              k = ProtoWire.utf8Strict(sub.bytes, sub.pos, kl); sub.pos += kl
            } else if (f2 == 2 && w2 == 0) v = sub.readVarint()
            else sub.skip(w2)
          }
          attrs(k) = v
          c.pos += l
        }
        // Repeated message, reader side: each occurrence APPENDS one
        // fresh element — the fragment-merge rule is for NON-repeated
        // message fields only (a merged read here would collapse the
        // element count).
        else if (field == 8 && wt == 2) {
          val l = c.readLen()
          val sub = new Cursor(c.bytes, c.pos, c.pos + l)
          stores += parseSite(sub, WireSite("", ""))
          c.pos += l
        } else c.skip(wt)
      }
      DecodeResult.Ok(ProtoRecord(id, site, score, flag, ts,
        tags.toSeq, attrs.toMap, stores.toSeq))
    } catch {
      case m: Malformed =>
        DecodeResult.Failed(s"malformed protobuf: ${m.msg}")
    }
  }

  /** Columnar decoder: same output shape as
    * `Decoders.typed(ProtoCodec.decode)` — (id, site struct, score,
    * flag, ts, timestamp, _corrupt) — with malformed payloads flagged
    * via `_corrupt` instead of dropped rows. A NULL value nulls the
    * whole parse struct; the coalesce routes it to the dead-letter
    * frame like the typed decoder, instead of a "good" all-null row. */
  val decodeColumnar: DataFrame => DataFrame = { df =>
    val r = ColumnBridge.column(
      ProtoParseExpr(ColumnBridge.expression(col("value"))))
    df.select(
      r.getField("id").as("id"),
      r.getField("site").as("site"),
      r.getField("score").as("score"),
      r.getField("flag").as("flag"),
      r.getField("ts").as("ts"),
      r.getField("tags").as("tags"),
      r.getField("attrs").as("attrs"),
      r.getField("stores").as("stores"),
      col("timestamp"),
      coalesce(r.getField("_corrupt"),
        when(col("value").isNull, lit("null message value")))
        .as("_corrupt"))
  }
}

/** Native one-pass protobuf parse: `binary` → struct<id, site<id,kind>,
  * score, flag, ts, _corrupt>. Good rows carry null `_corrupt`;
  * malformed rows carry the error text with every data field null —
  * decode-error routing parity (/root/reference/proto.go:133-145).
  * Strings land as `UTF8String` slices straight off the record bytes
  * (no intermediate java.lang.String); codegen'd via a direct
  * `compute` call. */
case class ProtoParseExpr(child: Expression)
    extends UnaryExpression with NativeExpression {
  import ProtoWire._

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ProtoParseExpr.Schema
  override def nullable: Boolean = true

  /** Parses one `Site` fragment, MERGING into `base` (null base =
    * fresh defaults) — the proto merge rule for duplicated
    * non-repeated message fields, matching [[ProtoCodec.parseSite]]. */
  private def parseSiteRow(bytes: Array[Byte], start: Int, end: Int,
      base: InternalRow): InternalRow = {
    val c = new Cursor(bytes, start, end)
    var id = if (base == null) UTF8String.EMPTY_UTF8
      else base.getUTF8String(0)
    var kind = if (base == null) UTF8String.EMPTY_UTF8
      else base.getUTF8String(1)
    while (c.hasRemaining) {
      val tag = c.readVarint()
      val field = (tag >>> 3).toInt
      val wt = (tag & 7).toInt
      if (field == 0) throw new Malformed("field number 0")
      if (field == 1 && wt == 2) {
        val l = c.readLen()
        id = ProtoWire.utf8Slice(bytes, c.pos, l); c.pos += l
      } else if (field == 2 && wt == 2) {
        val l = c.readLen()
        kind = ProtoWire.utf8Slice(bytes, c.pos, l); c.pos += l
      } else c.skip(wt)
    }
    new GenericInternalRow(Array[Any](id, kind))
  }

  def compute(bytes: Array[Byte]): InternalRow = try {
    val c = new Cursor(bytes, 0, bytes.length)
    var id = 0L
    var site: InternalRow = null
    var score = 0.0
    var flag = false
    var ts = 0L
    // lazily allocated: most messages carry no repeated/map fields and
    // the decode path is hot (4 M rec/run in ThroughputBench) — absent
    // fields emit the SHARED empty singletons below, zero allocation
    var tags: scala.collection.mutable.ArrayBuffer[Any] = null
    // insertion-ordered with last-one-wins overwrite, then key-sorted
    // for a deterministic columnar map regardless of wire entry order
    var attrs: scala.collection.mutable.LinkedHashMap[UTF8String, Long] =
      null
    var stores: scala.collection.mutable.ArrayBuffer[Any] = null
    while (c.hasRemaining) {
      val tag = c.readVarint()
      val field = (tag >>> 3).toInt
      val wt = (tag & 7).toInt
      if (field == 0) throw new Malformed("field number 0")
      if (field == 1 && wt == 0) id = c.readVarint()
      else if (field == 2 && wt == 2) {
        val l = c.readLen()
        site = parseSiteRow(bytes, c.pos, c.pos + l, site)
        c.pos += l
      } else if (field == 3 && wt == 1)
        score = java.lang.Double.longBitsToDouble(c.readFixed64())
      else if (field == 4 && wt == 0) flag = c.readVarint() != 0L
      else if (field == 5 && wt == 0) ts = zigzagDecode(c.readVarint())
      else if (field == 6 && wt == 2) { // packed run: append whole payload
        val l = c.readLen()
        val sub = new Cursor(bytes, c.pos, c.pos + l)
        if (tags == null) tags = scala.collection.mutable.ArrayBuffer()
        while (sub.hasRemaining) tags += zigzagDecode(sub.readVarint())
        c.pos += l
      } else if (field == 6 && wt == 0) { // unpacked element: append one
        if (tags == null) tags = scala.collection.mutable.ArrayBuffer()
        tags += zigzagDecode(c.readVarint())
      } else if (field == 7 && wt == 2) { // map entry: last-one-wins
        val l = c.readLen()
        val sub = new Cursor(bytes, c.pos, c.pos + l)
        var k = UTF8String.EMPTY_UTF8
        var v = 0L
        while (sub.hasRemaining) {
          val t2 = sub.readVarint()
          val f2 = (t2 >>> 3).toInt
          val w2 = (t2 & 7).toInt
          if (f2 == 0) throw new Malformed("field number 0")
          if (f2 == 1 && w2 == 2) {
            val kl = sub.readLen()
            k = ProtoWire.utf8Slice(bytes, sub.pos, kl); sub.pos += kl
          } else if (f2 == 2 && w2 == 0) v = sub.readVarint()
          else sub.skip(w2)
        }
        if (attrs == null)
          attrs = scala.collection.mutable.LinkedHashMap()
        attrs(k) = v
        c.pos += l
      } else if (field == 8 && wt == 2) { // repeated message: append,
        val l = c.readLen()               // never merge across elements
        if (stores == null)
          stores = scala.collection.mutable.ArrayBuffer()
        stores += parseSiteRow(bytes, c.pos, c.pos + l, null)
        c.pos += l
      } else c.skip(wt)
    }
    val tagsData =
      if (tags == null) ProtoParseExpr.EmptyArray
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(
        tags.toArray)
    val attrMap =
      if (attrs == null) ProtoParseExpr.EmptyMap
      else {
        val sorted = attrs.toSeq
          .sortWith((a, b) => a._1.compareTo(b._1) < 0)
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            sorted.map(_._1.asInstanceOf[Any]).toArray),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            sorted.map(_._2.asInstanceOf[Any]).toArray))
      }
    val storesData =
      if (stores == null) ProtoParseExpr.EmptyArray
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(
        stores.toArray)
    new GenericInternalRow(Array[Any](id, site, score, flag, ts,
      tagsData, attrMap, storesData, null))
  } catch {
    case m: Malformed => new GenericInternalRow(Array[Any](
      null, null, null, null, null, null, null, null,
      UTF8String.fromString(s"malformed protobuf: ${m.msg}")))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(c: Expression): ProtoParseExpr =
    copy(child = c)
  override def prettyName: String = "proto_parse"
}

object ProtoParseExpr {
  /** The parsed record; every field but `_corrupt` is also a field of
    * [[ProtoEncodeExpr]]'s input. */
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("site", StructType(Seq(
      StructField("id", StringType), StructField("kind", StringType)))),
    StructField("score", DoubleType),
    StructField("flag", BooleanType),
    StructField("ts", LongType),
    StructField("tags", org.apache.spark.sql.types.ArrayType(LongType)),
    StructField("attrs",
      org.apache.spark.sql.types.MapType(StringType, LongType)),
    StructField("stores", org.apache.spark.sql.types.ArrayType(
      StructType(Seq(StructField("id", StringType),
        StructField("kind", StringType))))),
    StructField("_corrupt", StringType)))

  /** Shared read-only empties for the absent-repeated/map common case
    * (UnsafeProjection COPIES values out, so cross-row sharing is
    * safe); keeps the hot decode path allocation-free for messages
    * without fields 6/7. */
  private[pipeline] val EmptyArray =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.empty[Any])
  private[pipeline] val EmptyMap =
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      EmptyArray, EmptyArray)
}

/** Native protobuf ENCODE: struct<id, site<id,kind>, score, flag, ts>
  * → `binary`, proto3 writer semantics (see [[ProtoCodec]]). Lets a
  * whole encode→wire→decode round trip run columnar with no typed
  * boundary — used by the oracled query (the fixture generator side)
  * and the throughput A/B. Null input struct → null bytes; a null
  * `site` field omits field 2; null strings inside site encode as
  * absent (decode to ""). */
case class ProtoEncodeExpr(child: Expression)
    extends UnaryExpression with NativeExpression {
  import ProtoWire._

  /** The first 5 to 8 fields of [[ProtoParseExpr.Schema]], names and
    * types included: the trailing repeated, map and repeated-message
    * fields are optional (see `compute`). */
  override def inputTypes: Seq[DataType] = {
    val width = child.dataType match {
      case s: StructType => math.min(math.max(s.length, 5), 8)
      case _ => 8
    }
    Seq(StructType(ProtoParseExpr.Schema.take(width)))
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  /** Site message body from a (id, kind) struct row — proto3 writer
    * semantics (empty/null strings omitted). Null struct → empty
    * body (the empty message). */
  private def siteBody(s: InternalRow): ByteArrayOutputStream = {
    val body = new ByteArrayOutputStream(32)
    if (s != null) {
      if (!s.isNullAt(0)) {
        val b = s.getUTF8String(0).getBytes
        if (b.length > 0) {
          writeTag(body, 1, 2); writeVarint(body, b.length.toLong)
          body.write(b)
        }
      }
      if (!s.isNullAt(1)) {
        val b = s.getUTF8String(1).getBytes
        if (b.length > 0) {
          writeTag(body, 2, 2); writeVarint(body, b.length.toLong)
          body.write(b)
        }
      }
    }
    body
  }

  def compute(row: InternalRow): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    val id = if (row.isNullAt(0)) 0L else row.getLong(0)
    if (id != 0L) { writeTag(out, 1, 0); writeVarint(out, id) }
    if (!row.isNullAt(1)) {
      val body = siteBody(row.getStruct(1, 2))
      writeTag(out, 2, 2); writeVarint(out, body.size.toLong)
      body.writeTo(out)
    }
    val score = if (row.isNullAt(2)) 0.0 else row.getDouble(2)
    if (java.lang.Double.doubleToRawLongBits(score) != 0L) {
      writeTag(out, 3, 1)
      writeFixed64(out, java.lang.Double.doubleToRawLongBits(score))
    }
    if (!row.isNullAt(3) && row.getBoolean(3)) {
      writeTag(out, 4, 0); writeVarint(out, 1L)
    }
    val ts = if (row.isNullAt(4)) 0L else row.getLong(4)
    if (ts != 0L) { writeTag(out, 5, 0); writeVarint(out, zigzagEncode(ts)) }
    // Optional trailing fields — a 5-field struct (the original shape)
    // still encodes; numFields-guarded so both input shapes stay valid.
    if (row.numFields > 5 && !row.isNullAt(5)) { // repeated → packed
      val arr = row.getArray(5)
      val n = arr.numElements()
      if (n > 0) {
        val body = new ByteArrayOutputStream(16)
        var i = 0
        while (i < n) {
          writeVarint(body,
            zigzagEncode(if (arr.isNullAt(i)) 0L else arr.getLong(i)))
          i += 1
        }
        writeTag(out, 6, 2); writeVarint(out, body.size.toLong)
        body.writeTo(out)
      }
    }
    if (row.numFields > 6 && !row.isNullAt(6)) { // map → sorted entries
      val m = row.getMap(6)
      val keys = m.keyArray()
      val vals = m.valueArray()
      val idx = Array.range(0, m.numElements()).sortWith((a, b) =>
        keys.getUTF8String(a).compareTo(keys.getUTF8String(b)) < 0)
      idx.foreach { i =>
        val body = new ByteArrayOutputStream(16)
        val kb = keys.getUTF8String(i).getBytes
        if (kb.length > 0) {
          writeTag(body, 1, 2); writeVarint(body, kb.length.toLong)
          body.write(kb)
        }
        val v = if (vals.isNullAt(i)) 0L else vals.getLong(i)
        if (v != 0L) { writeTag(body, 2, 0); writeVarint(body, v) }
        writeTag(out, 7, 2); writeVarint(out, body.size.toLong)
        body.writeTo(out)
      }
    }
    if (row.numFields > 7 && !row.isNullAt(7)) { // repeated message
      val arr = row.getArray(7)
      var i = 0
      while (i < arr.numElements()) {
        // every element is an occurrence — a null/empty element still
        // emits `tag, len 0` (element count is data)
        val body = siteBody(
          if (arr.isNullAt(i)) null else arr.getStruct(i, 2))
        writeTag(out, 8, 2); writeVarint(out, body.size.toLong)
        body.writeTo(out)
        i += 1
      }
    }
    out.toByteArray
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[InternalRow])

  override protected def withNewChildInternal(c: Expression): ProtoEncodeExpr =
    copy(child = c)
  override def prettyName: String = "proto_encode"
}
