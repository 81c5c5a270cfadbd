package graft.pipeline

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.normalize.NormalizerSpec
import graft.ops.Stages
import graft.sources.{DataFrameSource, FileBinarySource}

class ProtoCodecSuite extends SparkSpec {
  import spark.implicits._

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // ---- wire primitives --------------------------------------------------

  test("varint round-trips boundary values, rejects truncation/overlength") {
    val cases = Seq(0L, 1L, 127L, 128L, 300L, 16383L, 16384L,
      Long.MaxValue, -1L, Long.MinValue)
    cases.foreach { v =>
      val out = new ByteArrayOutputStream()
      ProtoWire.writeVarint(out, v)
      val b = out.toByteArray
      // negatives always serialize as 10 bytes (two's complement)
      if (v < 0) assert(b.length == 10, s"$v")
      val c = new ProtoWire.Cursor(b, 0, b.length)
      assert(c.readVarint() == v, s"$v")
      assert(!c.hasRemaining, s"$v")
      // every strict prefix with the continuation bit still set fails
      if (b.length > 1) {
        val cut = new ProtoWire.Cursor(b, 0, b.length - 1)
        intercept[ProtoWire.Malformed](cut.readVarint())
      }
    }
    // 11 continuation bytes = over the 10-byte int64 maximum
    val over = Array.fill[Byte](11)(0x80.toByte)
    intercept[ProtoWire.Malformed](
      new ProtoWire.Cursor(over, 0, over.length).readVarint())
  }

  test("zigzag maps signed to unsigned per the spec table") {
    val table = Seq(0L -> 0L, -1L -> 1L, 1L -> 2L, -2L -> 3L, 2L -> 4L,
      Long.MaxValue -> -2L, Long.MinValue -> -1L)
    table.foreach { case (n, z) =>
      assert(ProtoWire.zigzagEncode(n) == z, s"encode $n")
      assert(ProtoWire.zigzagDecode(z) == n, s"decode $z")
    }
  }

  // ---- golden bytes -----------------------------------------------------

  private val golden = ProtoRecord(150L, WireSite("ab", "x"), 1.5,
    flag = true, ts = -2L)
  /** Hand-computed wire image of `golden` (what protoc would emit):
    * id: 08 96 01 | site: 12 07 (0A 02 'a' 'b', 12 01 'x') |
    * score: 19 + 1.5-bits LE | flag: 20 01 | ts: 28 03 (zigzag -2). */
  private val goldenBytes = bytes(
    0x08, 0x96, 0x01,
    0x12, 0x07, 0x0A, 0x02, 0x61, 0x62, 0x12, 0x01, 0x78,
    0x19, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xF8, 0x3F,
    0x20, 0x01,
    0x28, 0x03)

  test("encoder emits the exact golden wire bytes") {
    assert(ProtoCodec.encode(golden).toSeq == goldenBytes.toSeq)
  }

  test("decoder parses the hand-written golden bytes (independent of " +
      "the encoder)") {
    assert(ProtoCodec.decode(goldenBytes) == DecodeResult.Ok(golden))
  }

  test("proto3 defaults: zero/empty/absent fields round-trip; empty " +
      "message encodes to zero bytes") {
    assert(ProtoCodec.encode(
      ProtoRecord(0L, null, 0.0, flag = false, ts = 0L)).isEmpty)
    // zero bytes decode back to all defaults with an ABSENT site
    assert(ProtoCodec.decode(Array.emptyByteArray) ==
      DecodeResult.Ok(ProtoRecord(0L, null, 0.0, flag = false, ts = 0L)))
    // present-but-empty site = tag + len 0, distinct from absent
    val withEmptySite = ProtoRecord(0L, WireSite("", ""), 0.0,
      flag = false, ts = 0L)
    assert(ProtoCodec.encode(withEmptySite).toSeq == Seq[Byte](0x12, 0x00))
    assert(ProtoCodec.decode(bytes(0x12, 0x00)) ==
      DecodeResult.Ok(withEmptySite))
  }

  test("reader semantics: any field order, unknown fields skipped, " +
      "duplicates last-one-wins") {
    // golden's fields reordered: ts, score, site, flag, id
    val reordered = bytes(0x28, 0x03) ++
      bytes(0x19, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xF8, 0x3F) ++
      bytes(0x12, 0x07, 0x0A, 0x02, 0x61, 0x62, 0x12, 0x01, 0x78) ++
      bytes(0x20, 0x01) ++ bytes(0x08, 0x96, 0x01)
    assert(ProtoCodec.decode(reordered) == DecodeResult.Ok(golden))
    // unknown fields: 15/varint, 10/length-delimited, 9/fixed32 — all
    // skipped, including inside the nested site message (field 9);
    // fields 6/7/8 are now KNOWN (tags/attrs/stores — see the
    // repeated/map tests), so the unknowns use numbers past the schema
    val unknowns = goldenBytes ++
      bytes(0x78, 0x01) ++                   // field 15, varint 1
      bytes(0x52, 0x03, 0x08, 0x01, 0x07) ++ // field 10, 3-byte blob
      bytes(0x4D, 0x01, 0x02, 0x03, 0x04)    // field 9, fixed32
    assert(ProtoCodec.decode(unknowns) == DecodeResult.Ok(golden))
    val siteWithUnknown = bytes(0x12, 0x0A,
      0x0A, 0x02, 0x61, 0x62, 0x4A, 0x01, 0x07, 0x12, 0x01, 0x78)
    assert(ProtoCodec.decode(siteWithUnknown) == DecodeResult.Ok(
      ProtoRecord(0L, WireSite("ab", "x"), 0.0, flag = false, ts = 0L)))
    // duplicate scalar: last occurrence wins (proto merge rule)
    val dupId = bytes(0x08, 0x01) ++ goldenBytes
    assert(ProtoCodec.decode(dupId) == DecodeResult.Ok(golden))
    // duplicate embedded MESSAGE fields MERGE: a conformant writer may
    // split site across occurrences — {id:"ab"} then {kind:"x"}
    val splitSite = bytes(0x12, 0x04, 0x0A, 0x02, 0x61, 0x62) ++
      bytes(0x12, 0x03, 0x12, 0x01, 0x78)
    assert(ProtoCodec.decode(splitSite) == DecodeResult.Ok(
      ProtoRecord(0L, WireSite("ab", "x"), 0.0, flag = false, ts = 0L)))
    // ...and a later fragment's SET fields overwrite
    val overwrite = splitSite ++ bytes(0x12, 0x04, 0x0A, 0x02, 0x63, 0x64)
    assert(ProtoCodec.decode(overwrite) == DecodeResult.Ok(
      ProtoRecord(0L, WireSite("cd", "x"), 0.0, flag = false, ts = 0L)))
  }

  test("repeated + map golden bytes: packed run and sorted entry " +
      "messages, hand-derived") {
    val rec = ProtoRecord(1L, null, 0.0, flag = false, ts = 0L,
      tags = Seq(3L, -2L, 0L), attrs = Map("b" -> 7L, "a" -> 5L))
    // id=1 · field 6 packed [zz(3)=6, zz(-2)=3, zz(0)=0] · entries
    // key-sorted: {key:"a", value:5}, {key:"b", value:7}
    val expected =
      bytes(0x08, 0x01) ++
      bytes(0x32, 0x03, 0x06, 0x03, 0x00) ++
      bytes(0x3A, 0x05, 0x0A, 0x01, 0x61, 0x10, 0x05) ++
      bytes(0x3A, 0x05, 0x0A, 0x01, 0x62, 0x10, 0x07)
    assert(ProtoCodec.encode(rec).toSeq == expected.toSeq)
    assert(ProtoCodec.decode(expected) == DecodeResult.Ok(rec))
  }

  test("repeated field reader: unpacked elements, packed/unpacked " +
      "interleaving, and empty packed runs all concatenate") {
    val packed = bytes(0x08, 0x01, 0x32, 0x03, 0x06, 0x03, 0x00)
    // the same three values as unpacked occurrences (field 6, wt 0)
    val unpacked = bytes(0x08, 0x01,
      0x30, 0x06, 0x30, 0x03, 0x30, 0x00)
    assert(ProtoCodec.decode(unpacked) == ProtoCodec.decode(packed))
    // interleaved: packed [3] · unpacked -2 · packed [0] → [3, -2, 0]
    val mixed = bytes(0x08, 0x01,
      0x32, 0x01, 0x06, 0x30, 0x03, 0x32, 0x01, 0x00)
    assert(ProtoCodec.decode(mixed) == ProtoCodec.decode(packed))
    // an empty packed run contributes nothing (still valid wire data)
    val withEmpty = bytes(0x08, 0x01, 0x32, 0x00) ++
      bytes(0x32, 0x03, 0x06, 0x03, 0x00)
    assert(ProtoCodec.decode(withEmpty) == ProtoCodec.decode(packed))
    // truncated varint INSIDE a packed run is malformed, not silent
    assert(ProtoCodec.decode(bytes(0x32, 0x01, 0x86))
      .isInstanceOf[DecodeResult.Failed])
  }

  test("map reader: duplicate keys last-one-wins; absent entry " +
      "key/value default; entry unknown fields skipped") {
    def rec(attrs: Map[String, Long]) =
      DecodeResult.Ok(ProtoRecord(0L, null, 0.0, flag = false, ts = 0L,
        attrs = attrs))
    val aTo5 = bytes(0x3A, 0x05, 0x0A, 0x01, 0x61, 0x10, 0x05)
    val aTo9 = bytes(0x3A, 0x05, 0x0A, 0x01, 0x61, 0x10, 0x09)
    assert(ProtoCodec.decode(aTo5 ++ aTo9) == rec(Map("a" -> 9L)))
    // value omitted → 0; key omitted → ""
    assert(ProtoCodec.decode(bytes(0x3A, 0x03, 0x0A, 0x01, 0x61)) ==
      rec(Map("a" -> 0L)))
    assert(ProtoCodec.decode(bytes(0x3A, 0x02, 0x10, 0x05)) ==
      rec(Map("" -> 5L)))
    // unknown field 3 inside the entry is skipped
    assert(ProtoCodec.decode(bytes(0x3A, 0x07, 0x0A, 0x01, 0x61,
      0x18, 0x2A, 0x10, 0x05)) == rec(Map("a" -> 5L)))
    // field 0 inside an entry is malformed like everywhere else
    assert(ProtoCodec.decode(bytes(0x3A, 0x02, 0x00, 0x00))
      .isInstanceOf[DecodeResult.Failed])
  }

  test("field number 0 is malformed — zeroed buffers never decode Ok") {
    // tag byte 0x00 = field 0, wire type 0; protobuf reserves field 0
    // and conformant parsers reject it. Accepting it would decode an
    // all-zero buffer (an upstream framing bug) as a fabricated
    // default record in the good-rows table.
    Seq(bytes(0x00), bytes(0x00, 0x00), Array.fill[Byte](16)(0),
      bytes(0x12, 0x02, 0x00, 0x00)). // field 0 inside nested site
      foreach { b =>
        assert(ProtoCodec.decode(b).isInstanceOf[DecodeResult.Failed],
          b.mkString(","))
      }
  }

  test("malformed payloads fail cleanly: truncated varint/fixed64, " +
      "length past buffer, group wire types") {
    val cases = Seq(
      "truncated varint" -> bytes(0x96),
      "tag then EOF varint" -> bytes(0x08, 0x80),
      "truncated fixed64" -> bytes(0x19, 0x00, 0x01),
      "length past buffer" -> bytes(0x12, 0x05, 0x0A),
      "group start" -> bytes(0x0B),
      "nested length past nested end" -> bytes(0x12, 0x02, 0x0A, 0x05))
    cases.foreach { case (name, b) =>
      assert(ProtoCodec.decode(b).isInstanceOf[DecodeResult.Failed], name)
    }
    // a strict prefix of the golden bytes must never decode to golden
    // (it may decode to a VALID shorter record — proto has no length
    // header — but silent truncation into the same record is a bug)
    (1 until goldenBytes.length).foreach { cut =>
      ProtoCodec.decode(goldenBytes.take(cut)) match {
        case DecodeResult.Ok(r) => assert(r != golden, s"cut $cut")
        case _ => ()
      }
    }
  }

  test("property: round-trip holds for arbitrary records") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val recGen = for {
      id <- Gen.choose(Long.MinValue, Long.MaxValue)
      hasSite <- Gen.oneOf(true, false)
      sid <- Gen.stringOf(Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf('é', '中', ' '))).map(_.take(400))
      kind <- Gen.stringOf(Gen.alphaNumChar).map(_.take(100))
      score <- Gen.oneOf(Gen.choose(-1e308, 1e308), Gen.oneOf(
        0.0, -0.0, Double.PositiveInfinity, Double.MinPositiveValue))
      flag <- Gen.oneOf(true, false)
      ts <- Gen.choose(Long.MinValue, Long.MaxValue)
      tags <- Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
        .map(_.take(20))
      attrs <- Gen.mapOf(Gen.zip(
        Gen.stringOf(Gen.alphaNumChar).map(_.take(10)),
        Gen.choose(Long.MinValue, Long.MaxValue))).map(_.take(8))
      stores <- Gen.listOf(Gen.zip(
        Gen.stringOf(Gen.alphaNumChar).map(_.take(20)),
        Gen.stringOf(Gen.alphaNumChar).map(_.take(10)))
        .map(p => WireSite(p._1, p._2))).map(_.take(6))
    } yield ProtoRecord(id, if (hasSite) WireSite(sid, kind) else null,
      score, flag, ts, tags, attrs, stores)
    (0 until 200).foreach { i =>
      val r = recGen.apply(Gen.Parameters.default, Seed(11L + i)).get
      assert(ProtoCodec.decode(ProtoCodec.encode(r)) == DecodeResult.Ok(r),
        s"seed $i")
    }
  }

  test("repeated nested message: golden bytes, element order/count " +
      "preserved, NO cross-element merge") {
    // two stores: {id:"ab", kind:"x"} and the EMPTY message — golden:
    // 08 01 · 42 07 (0A 02 'a' 'b', 12 01 'x') · 42 00
    val rec = ProtoRecord(1L, null, 0.0, flag = false, ts = 0L,
      stores = Seq(WireSite("ab", "x"), WireSite("", "")))
    val expected = bytes(0x08, 0x01) ++
      bytes(0x42, 0x07, 0x0A, 0x02, 0x61, 0x62, 0x12, 0x01, 0x78) ++
      bytes(0x42, 0x00)
    assert(ProtoCodec.encode(rec).toSeq == expected.toSeq)
    assert(ProtoCodec.decode(expected) == DecodeResult.Ok(rec))
    // THE distinction from field 2: the same two fragments that MERGE
    // as a non-repeated site ({id:"ab"} then {kind:"x"} → one merged
    // message) are TWO SEPARATE ELEMENTS as repeated occurrences
    val twoFragments = bytes(0x42, 0x04, 0x0A, 0x02, 0x61, 0x62) ++
      bytes(0x42, 0x03, 0x12, 0x01, 0x78)
    assert(ProtoCodec.decode(twoFragments) == DecodeResult.Ok(
      ProtoRecord(0L, null, 0.0, flag = false, ts = 0L,
        stores = Seq(WireSite("ab", ""), WireSite("", "x")))),
      "repeated message occurrences must append, not merge")
    // interleaving with other fields preserves element order
    val interleaved = bytes(0x42, 0x02, 0x0A, 0x00) ++ bytes(0x08, 0x05) ++
      bytes(0x42, 0x03, 0x12, 0x01, 0x77)
    assert(ProtoCodec.decode(interleaved) == DecodeResult.Ok(
      ProtoRecord(5L, null, 0.0, flag = false, ts = 0L,
        stores = Seq(WireSite("", ""), WireSite("", "w")))))
    // truncated element body is malformed, not silently dropped
    assert(ProtoCodec.decode(bytes(0x42, 0x03, 0x0A, 0x05, 0x61))
      .isInstanceOf[DecodeResult.Failed])
  }

  test("NaN score round-trips bit-exactly (raw-bits fixed64 branch)") {
    // case-class == fails on NaN (NaN != NaN), so the assertion must
    // compare raw bits; covers both the canonical NaN and a non-
    // canonical payload the IEEE-754 bit pattern must preserve.
    val nans = Seq(Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff8dead
        .toLong << 32 | 0xbeefL))
    nans.foreach { d =>
      val r = ProtoRecord(1L, WireSite("s", "k"), d, flag = false, 0L)
      ProtoCodec.decode(ProtoCodec.encode(r)) match {
        case DecodeResult.Ok(back) =>
          assert(java.lang.Double.doubleToRawLongBits(back.score) ==
            java.lang.Double.doubleToRawLongBits(d))
          assert(back.copy(score = 0.0) == r.copy(score = 0.0))
        case other => fail(s"NaN record failed to decode: $other")
      }
    }
  }

  // ---- native expressions ----------------------------------------------

  test("ProtoParseExpr doGenCode compiles and matches eval (no fallback)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.BinaryType
    val expr = ProtoParseExpr(BoundReference(0, BinaryType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws on bad code
    val out = proj(InternalRow(goldenBytes)).getStruct(0, 9)
    assert(out.getLong(0) == 150L)
    assert(out.getStruct(1, 2).getUTF8String(0).toString == "ab")
    assert(out.getStruct(1, 2).getUTF8String(1).toString == "x")
    assert(out.getDouble(2) == 1.5)
    assert(out.getBoolean(3))
    assert(out.getLong(4) == -2L)
    assert(out.getArray(5).numElements() == 0) // absent repeated → empty
    assert(out.getMap(6).numElements() == 0)   // absent map → empty
    assert(out.getArray(7).numElements() == 0) // absent rep. msg → empty
    assert(out.isNullAt(8))
    // tags + attrs + stores through the generated projection
    val rich = proj(InternalRow(ProtoCodec.encode(ProtoRecord(1L, null,
      0.0, flag = false, ts = 0L, tags = Seq(3L, -2L, 0L),
      attrs = Map("b" -> 7L, "a" -> 5L),
      stores = Seq(WireSite("s1", "web"), WireSite("", "")))))).getStruct(0, 9)
    assert(rich.getArray(5).toLongArray.toSeq == Seq(3L, -2L, 0L))
    val m = rich.getMap(6)
    assert(m.numElements() == 2) // key-sorted deterministic order
    assert(m.keyArray.getUTF8String(0).toString == "a" &&
      m.valueArray.getLong(0) == 5L)
    assert(m.keyArray.getUTF8String(1).toString == "b" &&
      m.valueArray.getLong(1) == 7L)
    val st = rich.getArray(7)
    assert(st.numElements() == 2) // element COUNT preserved, in order
    assert(st.getStruct(0, 2).getUTF8String(0).toString == "s1" &&
      st.getStruct(0, 2).getUTF8String(1).toString == "web")
    assert(st.getStruct(1, 2).getUTF8String(0).toString == "" &&
      st.getStruct(1, 2).getUTF8String(1).toString == "")
    val bad = proj(InternalRow(bytes(0x96))).getStruct(0, 9)
    assert(bad.isNullAt(0) && !bad.isNullAt(8))
    assert(proj(InternalRow(null)).isNullAt(0))
  }

  test("ProtoEncodeExpr doGenCode compiles and emits the golden bytes") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType,
      StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val inType = StructType(Seq(
      StructField("id", LongType),
      StructField("site", StructType(Seq(
        StructField("id", StringType), StructField("kind", StringType)))),
      StructField("score", DoubleType),
      StructField("flag", BooleanType),
      StructField("ts", LongType)))
    val expr = ProtoEncodeExpr(BoundReference(0, inType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val in = new GenericInternalRow(Array[Any](150L,
      new GenericInternalRow(Array[Any](
        UTF8String.fromString("ab"), UTF8String.fromString("x"))),
      1.5, true, -2L))
    assert(proj(InternalRow(in)).getBinary(0).toSeq == goldenBytes.toSeq)
    assert(proj(InternalRow(null)).isNullAt(0))
    // input types: the first 5 to 8 parsed fields, names and types
    def typeChecks(t: org.apache.spark.sql.types.DataType): Boolean =
      ProtoEncodeExpr(BoundReference(0, t, nullable = true))
        .checkInputDataTypes().isSuccess
    val parsed = ProtoParseExpr.Schema.dropRight(1)
    assert((5 to 8).forall(n => typeChecks(StructType(parsed.take(n)))))
    assert(!typeChecks(StructType(parsed.take(4))))
    assert(!typeChecks(StructType(StructField("id", StringType) +:
      parsed.tail.take(4))))
    assert(!typeChecks(StringType))
  }

  test("typed and columnar encoders agree on map key order beyond the " +
      "BMP (UTF-8 byte order, not UTF-16 code units)") {
    // U+E000 (UTF-8 EE 80 80) vs U+1F600 (F0 9F 98 80, surrogate pair
    // D83D DE00 in UTF-16): Java String order puts the emoji FIRST
    // (D83D < E000), UTF-8 byte order puts it LAST (F0 > EE) — the
    // canonical wire bytes must agree across both encoders
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val privateUse = "\uE000"
    val emoji = new String(Character.toChars(0x1F600))
    val rec = ProtoRecord(1L, null, 0.0, flag = false, 0L,
      attrs = Map(emoji -> 2L, privateUse -> 1L))
    val typedBytes = ProtoCodec.encode(rec)
    val row = new GenericInternalRow(Array[Any](1L, null, 0.0, false, 0L,
      new GenericArrayData(Array.empty[Any]),
      new ArrayBasedMapData(
        new GenericArrayData(Array[Any](UTF8String.fromString(emoji),
          UTF8String.fromString(privateUse))),
        new GenericArrayData(Array[Any](2L, 1L)))))
    val columnarBytes = ProtoEncodeExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(
        Array.empty[Byte])).compute(row)
    assert(typedBytes.toSeq == columnarBytes.toSeq,
      "typed and columnar canonical map order diverge")
    // and the private-use key's entry must come first on the wire
    ProtoCodec.decode(typedBytes) match {
      case DecodeResult.Ok(r) => assert(r.attrs == rec.attrs)
      case other => fail(s"round trip failed: $other")
    }
  }

  test("columnar encode → decode round trip equals the typed path on a " +
      "mixed batch") {
    implicit val benc = ExpressionEncoder[Array[Byte]]()
    val good = (0 until 100).map { i =>
      ProtoCodec.encode(ProtoRecord(i.toLong,
        if (i % 9 == 0) null else WireSite(s"s$i", if (i % 2 == 0) "web" else "app"),
        i * 0.25, i % 3 == 0, i.toLong - 50L,
        tags = if (i % 4 == 0) Nil else Seq(i.toLong - 50L, -i.toLong, 0L),
        attrs = if (i % 5 == 0) Map.empty
          else Map("a" -> i.toLong, "b" -> (i % 3).toLong),
        stores = if (i % 6 == 0) Nil
          else Seq(WireSite(s"st$i", "w"), WireSite("", s"k${i % 4}"))))
    }
    val bad = Seq(bytes(0x96), bytes(0x12, 0x05, 0x01), bytes(0x0B))
    val df = (good ++ bad).toDF("value")
      .withColumn("timestamp", lit("2026-01-01 00:00:00").cast("timestamp"))
    val typed = Decoders.typed[ProtoRecord](ProtoCodec.decode).apply(df)
    val columnar = ProtoCodec.decodeColumnar(df)
    assert(columnar.columns.toSeq == typed.columns.toSeq)
    // maps can't ride set operations — compare SORTED entry arrays
    // (the typed path's map order is Scala-insertion, the columnar
    // one key-sorted; entry-set equality is the map contract)
    val key = Seq(col("id"), col("site"), col("score"), col("flag"),
      col("ts"), col("tags"),
      array_sort(map_entries(col("attrs"))).as("attrs_e"),
      col("stores"))
    val tGood = typed.where(col("_corrupt").isNull).select(key: _*)
    val cGood = columnar.where(col("_corrupt").isNull).select(key: _*)
    assert(cGood.exceptAll(tGood).count() == 0)
    assert(tGood.exceptAll(cGood).count() == 0)
    assert(typed.where(col("_corrupt").isNotNull).count() == bad.size)
    assert(columnar.where(col("_corrupt").isNotNull).count() == bad.size)
  }

  test("differential fuzz: arbitrary garbage never crashes either " +
      "reader, and typed/columnar agree on every verdict") {
    // 1,500 seeded random buffers (plus truncations of VALID wire
    // bytes — the adversarial middle ground): the typed reader must
    // return Ok/Failed without throwing, and the columnar
    // ProtoParseExpr must reach the same corrupt/ok verdict on every
    // buffer AND the same decoded row wherever both say ok.
    implicit val benc = ExpressionEncoder[Array[Byte]]()
    val rnd = new scala.util.Random(20260815L)
    val random = (1 to 1000).map { _ =>
      Array.fill[Byte](rnd.nextInt(48))(rnd.nextInt().toByte)
    }
    val valid = ProtoCodec.encode(ProtoRecord(7L, WireSite("s", "web"),
      1.5, flag = true, -3L, tags = Seq(1L, -2L),
      attrs = Map("a" -> 1L), stores = Seq(WireSite("x", "y"))))
    val truncs = (0 until valid.length).map(valid.take)
    val flips = (1 to 500).map { _ =>
      val b = valid.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt().toByte
      b
    }
    val corpus = random ++ truncs ++ flips
    val typedVerdicts = corpus.map { b =>
      ProtoCodec.decode(b) match { // must never throw
        case graft.pipeline.DecodeResult.Ok(_) => true
        case _ => false
      }
    }
    val df = corpus.toDF("value")
      .withColumn("timestamp", lit("2026-01-01 00:00:00").cast("timestamp"))
    val columnar = ProtoCodec.decodeColumnar(df)
    val colVerdicts = columnar.select(col("_corrupt").isNull)
      .as[Boolean].collect()
    assert(colVerdicts.length == corpus.length)
    val disagreements = typedVerdicts.zip(colVerdicts).zipWithIndex
      .collect { case ((t, c), i) if t != c => (i, t, c) }
    assert(disagreements.isEmpty,
      s"typed/columnar verdicts diverge at ${disagreements.take(5)} " +
        s"(buffer hex: ${disagreements.take(1).map { case (i, _, _) =>
          corpus(i).map("%02x".format(_)).mkString }})")
    // some garbage MUST decode Ok (empty buffer = all-defaults proto3)
    // and most must fail — both verdict classes exercised
    assert(typedVerdicts.exists(identity) && typedVerdicts.exists(!_))
    // row agreement where both decode: reuse the sorted-entry compare
    val key = Seq(col("id"), col("site"), col("score"), col("flag"),
      col("ts"), col("tags"),
      array_sort(map_entries(col("attrs"))).as("attrs_e"),
      col("stores"))
    val typed = Decoders.typed[ProtoRecord](ProtoCodec.decode).apply(df)
    val tOk = typed.where(col("_corrupt").isNull).select(key: _*)
    val cOk = columnar.where(col("_corrupt").isNull).select(key: _*)
    assert(cOk.exceptAll(tOk).count() == 0 &&
      tOk.exceptAll(cOk).count() == 0,
      "decoded rows diverge on fuzz-surviving buffers")
  }

  test("invalid UTF-8 in any string field is malformed for both readers") {
    // 0xC3 opens a 2-byte sequence; 0x28 cannot continue it. Proto3
    // string fields must be valid UTF-8 — a reader that repaired the
    // bytes would also split the typed and columnar verdicts.
    implicit val benc = ExpressionEncoder[Array[Byte]]()
    val cases = Seq(
      "site.id" -> bytes(0x12, 0x04, 0x0A, 0x02, 0xC3, 0x28),
      "site.kind" -> bytes(0x12, 0x04, 0x12, 0x02, 0xC3, 0x28),
      "stores[0].id" -> bytes(0x42, 0x04, 0x0A, 0x02, 0xC3, 0x28),
      "map key" -> bytes(0x3A, 0x04, 0x0A, 0x02, 0xC3, 0x28))
    cases.foreach { case (name, b) =>
      assert(ProtoCodec.decode(b).isInstanceOf[DecodeResult.Failed], name)
    }
    val out = ProtoCodec.decodeColumnar(cases.map(_._2).toDF("value")
      .withColumn("timestamp", current_timestamp()))
    assert(out.where(col("_corrupt").isNull).isEmpty)
    // the same bytes with a valid 2-byte sequence decode in both
    val ok = bytes(0x12, 0x04, 0x0A, 0x02, 0xC3, 0xA9)
    assert(ProtoCodec.decode(ok) == DecodeResult.Ok(
      ProtoRecord(0L, WireSite("é", ""), 0.0, flag = false, ts = 0L)))
    assert(ProtoCodec.decodeColumnar(Seq(ok).toDF("value")
      .withColumn("timestamp", current_timestamp()))
      .select(col("site.id"), col("_corrupt")).head() == Row("é", null))
  }

  // ---- through the Pipeline ---------------------------------------------

  private def typedAndColumnar: Seq[(String, DataFrame => DataFrame)] = Seq(
    "typed" -> Decoders.typed(ProtoCodec.decode),
    "columnar" -> ProtoCodec.decodeColumnar)

  /** Table `name` unioned over segment dirs (closedSegments drains). */
  private def segmentTable(segs: Seq[String], name: String): DataFrame =
    spark.read.parquet(segs.map(_ + "/" + name)
      .filter(new java.io.File(_).exists()): _*)

  test("null message value routes to dead letters in BOTH decoders") {
    assert(ProtoCodec.decode(null).isInstanceOf[DecodeResult.Failed])
    implicit val benc = ExpressionEncoder[Array[Byte]]()
    val root = Files.createTempDirectory("graft-proto-null").toString
    val batch = Seq(goldenBytes, null).toDF("value")
      .withColumn("timestamp", lit("2026-01-01 00:00:00").cast("timestamp"))
    for ((name, decode) <- typedAndColumnar) {
      val out = decode(batch)
      assert(out.where(col("_corrupt").isNotNull).count() == 1, name)
      assert(out.where(col("_corrupt").isNull).count() == 1, name)
      val pipe = Pipeline(spark, PipelineConfig(
        source = DataFrameSource(batch),
        outputDir = s"$root/out_$name",
        destTable = "proto",
        decode = decode,
        deadLetterTable = Some("dead")))
      pipe.processBatch(batch, 0L)
      pipe.close()
      assert(pipe.metrics.recordsProcessed.get == 1, name)
      assert(pipe.metrics.decodeErrors.get == 1, name)
      val segs = pipe.closedSegments().map(_.path)
      assert(segmentTable(segs, "dead").count() == 1, name)
      assert(segmentTable(segs, "proto").select("id").as[Long].collect()
        .toSeq == Seq(150L), name)
    }
  }

  test("columnar decoder under checkpointed streaming: restart resumes offsets") {
    // The all-codegen decode path through a REAL streaming query with a
    // checkpoint: close mid-stream, land more frames, restart — the
    // query must resume from the committed offset (no re-read, no
    // double-count) and conservation must hold across the restart.
    implicit val benc = ExpressionEncoder[Array[Byte]]()
    val root = Files.createTempDirectory("graft-proto-ckpt").toString
    def land(lo: Long, hi: Long, bad: Int): Unit = {
      val msgs = (lo until hi).map(i => ProtoCodec.encode(
        ProtoRecord(i, WireSite(s"s$i", "web"), i * 0.5, i % 2 == 0,
          ts = -i))) ++
        Seq.fill(bad)(Array[Byte](9, 9, 9)) // field 1, truncated fixed64
      msgs.toDF("value").withColumn("timestamp", current_timestamp())
        .write.mode("append").parquet(s"$root/messages")
    }
    land(0L, 100L, bad = 3)
    val pipe = Pipeline(spark, PipelineConfig(
      source = FileBinarySource(s"$root/messages"),
      outputDir = s"$root/out",
      destTable = "proto",
      decode = ProtoCodec.decodeColumnar,
      deadLetterTable = Some("dead"),
      checkpointDir = Some(s"$root/ckpt")))
    pipe.run().processAllAvailable()
    pipe.close()
    assert(pipe.metrics.messagesConsumed.get == 103)
    assert(pipe.metrics.recordsProcessed.get == 100)
    assert(pipe.metrics.decodeErrors.get == 3)

    land(100L, 150L, bad = 2) // lands while closed
    pipe.restart().processAllAvailable()
    pipe.close()
    val m = pipe.metrics
    assert(m.messagesConsumed.get == 155, "restart must resume, not re-read")
    assert(m.recordsProcessed.get == 150)
    assert(m.decodeErrors.get == 5)
    assert(m.conservationHolds)
    val raw = segmentTable(pipe.closedSegments().map(_.path), "proto")
    assert(raw.count() == 150 && raw.select("id").distinct().count() == 150)
  }

  test("protobuf pipeline end-to-end: envelope strip, dead letters, " +
      "repeated-message normalizer fan-out") {
    // The ingest benchmark's normalizer shape: one norm row per
    // `stores` element, one for a record with none.
    implicit val benc = ExpressionEncoder[Array[Byte]]()
    val root = Files.createTempDirectory("graft-proto-e2e").toString
    val envelope = Array.fill[Byte](6)(0)
    val recs = (0L until 200L).map(i => ProtoRecord(i,
      WireSite(s"site_$i", if (i % 2 == 0) "web" else "app"), i / 10.0,
      i % 3 == 0, ts = i - 100L,
      stores = (0 until (i % 4).toInt).map(j => WireSite(s"st${i}_$j", "w"))))
    val goodMsgs = recs.map(r => envelope ++ ProtoCodec.encode(r))
    val badMsgs = Seq.fill(7)(envelope ++ Array[Byte](1, 2, 3)) // field 0
    (goodMsgs ++ badMsgs).toDF("value")
      .withColumn("timestamp", current_timestamp())
      .repartition(4)
      .write.mode("overwrite").parquet(s"$root/messages")
    val normRows = recs.map(r => math.max(1, r.stores.size)).sum.toLong

    for ((name, decode) <- typedAndColumnar) {
      val pipe = Pipeline(spark, PipelineConfig(
        source = FileBinarySource(s"$root/messages"),
        outputDir = s"$root/out_$name",
        destTable = "proto",
        munger = Some(Stages.confluentStrip),
        decode = decode,
        deadLetterTable = Some("dead"),
        normalizer = Some(NormalizerSpec(
          Seq("id", "site.id", "stores.id", "score"),
          Seq("id", "site", "store", "score")))))
      pipe.run().processAllAvailable()
      pipe.close()
      val m = pipe.metrics
      assert(m.messagesConsumed.get == 207, name)
      assert(m.recordsProcessed.get == 200, name)
      assert(m.decodeErrors.get == 7, name)
      assert(m.conservationHolds, name)
      val segs = pipe.closedSegments().map(_.path)
      assert(segmentTable(segs, "dead").count() == 7, name)

      val raw = segmentTable(segs, "proto")
      assert(raw.count() == 200, name)
      val row = raw.where(col("id") === 42L).head()
      assert(row.getAs[Row]("site").getAs[String]("id") == "site_42", name)
      assert(row.getAs[Double]("score") == 4.2, name)
      assert(row.getAs[Boolean]("flag"), name)
      assert(row.getAs[Long]("ts") == -58L, name)
      assert(row.getSeq[Row](row.fieldIndex("stores"))
        .map(_.getAs[String]("id")) ==
        Seq("st42_0", "st42_1"), name)
      val norm = segmentTable(segs, "proto_norm")
      assert(norm.columns.toSeq == Seq("id", "site", "store", "score"), name)
      assert(m.normRecordsInserted.get == normRows, name)
      assert(norm.count() == normRows, name)
      assert(norm.where(col("id") === 43L).select("store").as[String]
        .collect().sorted.toSeq == Seq("st43_0", "st43_1", "st43_2"), name)
      assert(norm.where(col("id") === 40L).select("store").as[String]
        .collect().toSeq == Seq(null), name)
    }
  }
}
