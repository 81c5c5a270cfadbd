package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Pre-decode / decode batch stages (S5, S6, P1, P2, N2, T1 in
  * SURVEY.md §2.1), each a `DataFrame => DataFrame` so Catalyst fuses
  * them into the scan stage — no extra shuffle, full codegen.
  */
object Stages {

  /** S5 — byte munger: user fn applied to every message before decode
    * (parity: `Munger func([]byte) []byte`,
    * /root/reference/kafka.go:45-49). Column-level, codegen'd. */
  def munge(fn: Column => Column)(df: DataFrame): DataFrame =
    df.withColumn("value", fn(col("value")))

  /** Drop a fixed prefix of `n` bytes. A frame shorter than the
    * prefix carries no payload and becomes NULL, so every decoder
    * dead-letters it (an empty payload is a valid protobuf message). */
  def stripPrefix(n: Int): Column => Column = v =>
    when(length(v) >= n, substring(v, n + 1, Int.MaxValue - 8))

  /** The canonical munger: strip the 6-byte Confluent envelope
    * (parity: `WithMessageCutConfluencePrefix`,
    * /root/reference/kafka.go:86-88). Zero-copy slice there; a
    * codegen'd binary substring here. */
  val confluentStrip: Column => Column = stripPrefix(6)

  /** S6 — the reference appends the Kafka message timestamp as 8 LE
    * bytes to the payload (`MsgTimeAppend`,
    * /root/reference/kafka.go:40-44,150-157). Spark's source already
    * carries `timestamp` as a column, so the parity op is simply the
    * projection keeping it; this helper DECODES payloads produced by
    * the reference's byte-append scheme: strips the suffix and
    * surfaces it as a proper timestamp column. A payload under 8
    * bytes has no suffix: both columns are NULL. */
  def extractAppendedMillis(df: DataFrame): DataFrame = {
    val len = length(col("value"))
    val hasSuffix = len >= 8
    // little-endian uint64 from the last 8 bytes → epoch millis
    val tsBytes = substring(col("value"), (len - 7).cast("int"), lit(8))
    val millis = (0 until 8).map { i =>
      // byte i (1-based substring), unsigned, shifted i*8
      shiftleft(
        conv(hex(substring(tsBytes, i + 1, 1)), 16, 10).cast("long"),
        i * 8)
    }.reduce(_ + _)
    df.withColumn("msg_ts", when(hasSuffix, timestamp_millis(millis)))
      .withColumn("value", when(hasSuffix,
        substring(col("value"), lit(1), (len - 8).cast("int"))))
  }

  /** P1 (untyped convenience) — JSON payload decode with P2 routing:
    * PERMISSIVE parse; rows whose payload fails to parse carry a
    * non-null `_corrupt` column, and so do NULL and empty payloads,
    * which `from_json` parses to a NULL struct. `decoded` keeps parsed
    * rows, `deadLetter` the corrupt originals (parity: decode errors are
    * recorded and the message dropped, pipeline continues —
    * /root/reference/proto.go:133-145). */
  def decodeJson(schema: StructType, extra: Map[String, Column] = Map.empty)(
      df: DataFrame): DataFrame = {
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_corrupt",
        org.apache.spark.sql.types.StringType))
    val parsed = df.withColumn("__parsed",
      from_json(col("value").cast("string"), withCorrupt,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt")))
    val base = parsed.select(
      (schema.fieldNames.map(f => col(s"__parsed.$f")) :+
        coalesce(col("__parsed._corrupt"),
          when(col("__parsed").isNull, lit("no JSON record in payload")))
          .as("_corrupt") :+
        col("timestamp")).toIndexedSeq: _*)
    extra.foldLeft(base) { case (d, (name, c)) => d.withColumn(name, c) }
  }

  /** N2 — custom fields: extend the decoded frame with user-declared
    * columns (parity: `WithCustomFields`,
    * /root/reference/custom.go:57-75). Cardinality/packedness are
    * carried by the Spark type (`ArrayType`, nullability). */
  final case class CustomField(name: String, dataType: DataType,
      nullable: Boolean = true, value: Column)

  def customFields(fields: Seq[CustomField])(df: DataFrame): DataFrame =
    fields.foldLeft(df)((d, f) =>
      d.withColumn(f.name, f.value.cast(f.dataType)))
}

/** T1 — per-batch transform feeding an extra sink table (parity:
  * `CustomArrow{CustomFunc, DestinationTable}`,
  * /root/reference/quacfka.go:21-24; applied per record batch at
  * duck.go:353-371). Here the hook is `DataFrame => DataFrame` over
  * each micro-batch; the result is appended to its own table. */
final case class CustomTransform(destinationTable: String,
    fn: DataFrame => DataFrame)
