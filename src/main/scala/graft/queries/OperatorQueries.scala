package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.normalize.{Normalizer, NormalizerSpec}
import graft.ops.Stages

/** Pipeline-operator queries (SURVEY.md §2.1) expressed as batch
  * DataFrame programs over the fixture tables, each with a DuckDB
  * oracle. The streaming wiring of the same operators lives in
  * graft.pipeline and is exercised by ScalaTest.
  */
object OperatorQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Build a deterministic nested frame from `events`: struct columns +
    * a list column that is EMPTY for every 5th event — exercising all
    * normalizer semantics (dotted path, aliased rename, per-element
    * fan-out, empty-list⇒NULL-row, indexed access). */
  private[graft] def nestedEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.select(
      col("event_id"),
      struct(col("user_id").as("id"), col("event_type").as("kind"))
        .as("site"),
      struct(floor(col("value") * 1000).cast("long").as("seconds"))
        .as("ts"),
      when(col("event_id") % 5 === 0,
          array().cast("array<struct<id:string,price:double>>"))
        .otherwise(array(
          struct(concat(lit("d"), col("event_id")).as("id"),
            col("value").as("price")),
          struct(concat(lit("e"), col("event_id")).as("id"),
            (col("value") * 2).as("price"))))
        .as("deals"))
  }

  /** N1 — normalizer flatten/unnest projection
    * (/root/reference/quacfka.go:106-120, README.md:111-131). */
  def normalize(s: SparkSession, dir: String): DataFrame =
    Normalizer.normalize(nestedEvents(s, dir), NormalizerSpec(
      Seq("event_id", "site.id", "site.kind", "ts.seconds",
        "deals.id", "deals.price", "deals[0].id"),
      Seq("event_id", "site", "kind", "event_time",
        "deal", "deal_price", "first_deal")))

  val normalizeSql: String =
    """WITH nested AS (
      |  SELECT event_id, user_id, event_type,
      |    CAST(floor(value*1000) AS BIGINT) AS seconds,
      |    CASE WHEN event_id % 5 = 0
      |      THEN CAST([] AS STRUCT(id VARCHAR, price DOUBLE)[])
      |      ELSE [{'id': 'd' || CAST(event_id AS VARCHAR), 'price': value},
      |            {'id': 'e' || CAST(event_id AS VARCHAR), 'price': value * 2}]
      |    END AS deals
      |  FROM events)
      |SELECT event_id, user_id AS site, event_type AS kind,
      |  seconds AS event_time, d.u.id AS deal, d.u.price AS deal_price,
      |  deals[1].id AS first_deal
      |FROM nested LEFT JOIN LATERAL unnest(deals) AS d(u) ON true""".stripMargin

  /** S5+P1+P2 — munge (strip 6-byte Confluent prefix from binary) then
    * JSON-decode with dead-letter routing; every 7th payload is
    * corrupted to exercise the corrupt path. */
  def mungeDecode(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val msgs = ev.select(
      concat(unhex(lit("0" * 12)),
        when(col("event_id") % 7 === 0, lit("garbage{"))
          .otherwise(col("props")).cast("binary")).as("value"),
      current_timestamp().as("timestamp"))
    val munged = Stages.munge(Stages.confluentStrip)(msgs)
    val decoded = Stages.decodeJson(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))))(munged)
    decoded
      .select(when(col("_corrupt").isNull, lit("ok"))
        .otherwise(lit("__corrupt")).as("status"), col("k"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
  }

  val mungeDecodeSql: String =
    """WITH msg AS (
      |  SELECT CASE WHEN event_id % 7 = 0 THEN 'garbage{' ELSE props END
      |    AS payload FROM events),
      |dec AS (
      |  SELECT CASE WHEN json_valid(payload)
      |      THEN CAST(json_extract_string(payload, '$.k') AS BIGINT) END AS k,
      |    CASE WHEN json_valid(payload) THEN 'ok' ELSE '__corrupt' END
      |      AS status
      |  FROM msg)
      |SELECT status, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
      |FROM dec GROUP BY status""".stripMargin

  /** P1 — REAL protobuf wire-format decode, no jar involved
    * (graft.pipeline.ProtoCodec: hand-rolled varint / zigzag /
    * fixed64 / length-delimited / nested-message codec — the
    * reference's canonical generated-protobuf `unmarshalFunc`
    * boundary, /root/reference/proto.go:33,106-172, with the actual
    * wire format instead of the length-prefixed stand-in). The whole
    * round trip is columnar: events → `ProtoEncodeExpr` → inject an
    * unknown field (15, varint) on every 5th payload — a proto reader
    * MUST skip it — corrupt every 7th to a truncated varint →
    * `ProtoParseExpr` decode with dead-letter routing. The oracle
    * predicts the decoded values straight from the source columns, so
    * any varint/zigzag/nesting/skip misparse breaks the hash match;
    * `ts = event_id − 500` puts NEGATIVE zigzag values on the wire. */
  def protoDecode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.pipeline.{ProtoCodec, ProtoEncodeExpr}
    val ev = Tables.load(s, dir, "events")
    val rec = struct(
      col("event_id").as("id"),
      struct(concat(lit("u"), col("user_id").cast("string")).as("id"),
        col("event_type").as("kind")).as("site"),
      col("value").as("score"),
      (col("event_id") % 2 === 0).as("flag"),
      (col("event_id") - 500).as("ts"))
    val payload = ColumnBridge.column(
      ProtoEncodeExpr(ColumnBridge.expression(rec)))
    // bindOnce: the encode rides two branches of the CASE — without
    // the pin it would re-encode per reference (SCALE.md CSE lesson)
    val wire = graft.functions.ExprUtils.bindOnce(payload) { p =>
      when(col("event_id") % 7 === 0, unhex(lit("FFFF")))
        .when(col("event_id") % 5 === 0, concat(p, unhex(lit("7801"))))
        .otherwise(p)
    }
    val msgs = ev.select(wire.as("value"),
      current_timestamp().as("timestamp"))
    ProtoCodec.decodeColumnar(msgs)
      .select(col("id"), col("site.id").as("site_id"),
        col("site.kind").as("site_kind"), col("score"), col("flag"),
        col("ts"),
        when(col("_corrupt").isNull, lit("ok"))
          .otherwise(lit("__corrupt")).as("status"))
  }

  // COALESCEs mirror proto3 default semantics: a NULL source column
  // encodes as an ABSENT field on the wire and decodes to ""/0.0 on
  // the Spark side, while bare SQL would propagate NULL ('u'||NULL =
  // NULL) — a silent hash mismatch if the events fixture ever gains
  // nulls (ADVICE r6). flag/ts derive from event_id, the row key.
  val protoDecodeSql: String =
    """SELECT
      |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_id END AS id,
      |  CASE WHEN event_id % 7 = 0 THEN NULL
      |       ELSE COALESCE('u' || CAST(user_id AS VARCHAR), '') END
      |    AS site_id,
      |  CASE WHEN event_id % 7 = 0 THEN NULL
      |       ELSE COALESCE(event_type, '') END
      |    AS site_kind,
      |  CASE WHEN event_id % 7 = 0 THEN NULL
      |       ELSE COALESCE(value, 0.0) END AS score,
      |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE (event_id % 2 = 0) END
      |    AS flag,
      |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_id - 500 END AS ts,
      |  CASE WHEN event_id % 7 = 0 THEN '__corrupt' ELSE 'ok' END AS status
      |FROM events""".stripMargin

  /** P1+N1 on the REAL wire format: repeated (packed sint64, field 6),
    * map<string,int64> (field 7) and repeated NESTED MESSAGE (field 8)
    * cross the proto path into ArrayType/MapType/array<struct>
    * columns, then the normalizer fans out BOTH un-indexed list paths
    * (`tags` and `stores.kind` — distinct lists chain explodes; empty
    * list ⇒ one NULL row — the reference's unnest semantics and its
    * README's own repeated-nested-message path shape,
    * /root/reference/custom.go:15, README.md:45,113-130), plus the
    * indexed `stores[0].id` element access. The wire also carries
    * UNPACKED repeated occurrences (a suffix on every 5th payload —
    * the reader must CONCATENATE them after the packed run), a
    * duplicate map entry (every 6th — last-one-wins overwrites
    * `region`), and an extra field-8 occurrence (every 8th — the
    * reader must APPEND a separate element, never merge fragments
    * across repeated-message occurrences). The oracle predicts the
    * final per-element rows straight from the source columns, so a
    * packed/unpacked/merge/append misparse breaks the hash match. */
  def protoRepeated(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.pipeline.{ProtoCodec, ProtoEncodeExpr}
    val ev = Tables.load(s, dir, "events")
    val store1 = struct(
      concat(lit("a"), (col("event_id") % 100).cast("string")).as("id"),
      col("event_type").as("kind"))
    val store2 = struct(
      concat(lit("b"), (col("user_id") % 10).cast("string")).as("id"),
      lit("alt").as("kind"))
    val rec = struct(
      col("event_id").as("id"),
      struct(concat(lit("u"), col("user_id").cast("string")).as("id"),
        col("event_type").as("kind")).as("site"),
      col("value").as("score"),
      (col("event_id") % 2 === 0).as("flag"),
      (col("event_id") - 500).as("ts"),
      when(col("event_id") % 4 === 0, array().cast("array<bigint>"))
        .otherwise(array(col("event_id") % 7 - 3, col("event_id") % 5,
          -(col("event_id") % 11))).as("tags"),
      map(lit("region"), col("user_id") % 10,
        lit("site"), col("event_id") % 3).as("attrs"),
      when(col("event_id") % 3 === 0, array(store1))
        .otherwise(array(store1, store2)).as("stores"))
    val payload = ColumnBridge.column(
      ProtoEncodeExpr(ColumnBridge.expression(rec)))
    // Suffixes are hand-assembled wire bytes: "300E" = field 6/varint,
    // zigzag(7) — an UNPACKED repeated element after the packed run;
    // "3A…63" = a field-7 entry {key:"region", value:99} duplicating
    // an earlier key; "42…77" = a field-8 occurrence {id:"x9",
    // kind:"w"} — an APPENDED repeated-message element. bindOnce: the
    // encode rides four CASE branches.
    val wire = graft.functions.ExprUtils.bindOnce(payload) { p =>
      when(col("event_id") % 5 === 0, concat(p, unhex(lit("300E"))))
        .when(col("event_id") % 6 === 0,
          concat(p, unhex(lit("3A0A0A06726567696F6E1063"))))
        .when(col("event_id") % 8 === 0,
          concat(p, unhex(lit("42070A027839120177"))))
        .otherwise(p)
    }
    val msgs = ev.select(wire.as("value"),
      current_timestamp().as("timestamp"))
    // NO `_corrupt` filter: every payload here is well-formed by
    // construction, and a WHERE on a parse-derived column pushes below
    // the projection and re-runs encode+parse inside a Filter node
    // (the round-6 re-inline mechanism — measured 3× per-row work;
    // plan-guarded). A corrupt row would surface as null fields and
    // break the oracle hash, so nothing is silently lost.
    val dec = ProtoCodec.decodeColumnar(msgs)
      .select(col("id"), col("site.kind").as("site_kind"), col("tags"),
        element_at(col("attrs"), "region").as("region"),
        element_at(col("attrs"), "site").as("site_attr"),
        col("stores"))
    Normalizer.normalize(dec, NormalizerSpec(
      fields = Seq("id", "site_kind", "tags", "region", "site_attr",
        "stores.kind", "stores[0].id"),
      aliases = Seq("id", "site_kind", "tag", "region", "site_attr",
        "store_kind", "store0_id")))
  }

  // COALESCEs mirror proto3 defaults (the protoDecodeSql stance); the
  // region/store CASEs mirror the when-chain: %5 wins over %6 wins
  // over %8, so the duplicate-entry overwrite applies only where %6
  // and NOT %5, and the appended store element only where %8 and
  // neither %5 nor %6. The two unnests sit in SEPARATE select layers:
  // DuckDB zips same-layer unnests, while the normalizer CHAINS
  // distinct un-indexed lists into a cross product.
  val protoRepeatedSql: String =
    """WITH base AS (
      |  SELECT event_id, user_id, event_type,
      |    CASE WHEN event_id % 4 = 0 THEN CAST([] AS BIGINT[])
      |         ELSE [event_id % 7 - 3, event_id % 5,
      |               -(event_id % 11)] END AS tags0,
      |    CASE WHEN event_id % 3 = 0
      |         THEN [{'id': 'a' || CAST(event_id % 100 AS VARCHAR),
      |                'kind': COALESCE(event_type, '')}]
      |         ELSE [{'id': 'a' || CAST(event_id % 100 AS VARCHAR),
      |                'kind': COALESCE(event_type, '')},
      |               {'id': COALESCE('b' ||
      |                  CAST(user_id % 10 AS VARCHAR), ''),
      |                'kind': 'alt'}] END AS stores0
      |  FROM events),
      |tagged AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 5 = 0 THEN list_append(tags0, 7)
      |         ELSE tags0 END AS tags,
      |    CASE WHEN event_id % 6 = 0 AND event_id % 5 <> 0 THEN 99
      |         ELSE COALESCE(user_id % 10, 0) END AS region,
      |    CASE WHEN event_id % 8 = 0 AND event_id % 5 <> 0
      |              AND event_id % 6 <> 0
      |         THEN list_append(stores0, {'id': 'x9', 'kind': 'w'})
      |         ELSE stores0 END AS stores
      |  FROM base),
      |l1 AS (
      |  SELECT event_id, event_type, region, stores,
      |    unnest(CASE WHEN len(tags) = 0 THEN [NULL] ELSE tags END) AS tag
      |  FROM tagged),
      |l2 AS (
      |  SELECT event_id, event_type, region, tag, stores,
      |    unnest(stores) AS store
      |  FROM l1)
      |SELECT event_id AS id, COALESCE(event_type, '') AS site_kind,
      |  tag, region, event_id % 3 AS site_attr,
      |  store['kind'] AS store_kind, stores[1]['id'] AS store0_id
      |FROM l2""".stripMargin

  /** K1/K2/K4+Q1 — whole-pipeline smoke as a batch query: messages →
    * pipeline (munge, decode, rotate-per-batch, runner) → returns the
    * segment manifest. Not SQL-expressible → rows-only check. */
  // --- op_vec_index_stream (rows-only: the STREAMING IVF vector
  // index — embeddings ingested in three chunks through
  // streaming.StreamingVectorIndex (cell-assigned map-only at ingest,
  // stored PARTITIONED BY cid so top-k probes file-prune unprobed
  // cells), then searched with the SAME ivfTopKOnAssigned core the
  // batch family uses. StreamingVectorIndexSuite pins store search ≡
  // Similarity.ivfTopKFrom on the batch union, replay idempotency,
  // MemoryStream attach parity, and the cid partition filter in the
  // executed scan. Construction builds a temp store per call — the
  // op_pipeline_sink contract.) ------------------------------------------
  def vecIndexStream(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-vidx").toString
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val cents = graft.llm.Similarity.lowestIdCentroids(e, 16)
    val idx = graft.streaming.StreamingVectorIndex(s"$root/store", cents)
    (0 until 3).foreach { c =>
      idx.processBatch(e.where(col("vec_id") % 3 === c), batchId = c.toLong)
    }
    idx.topK(s, col("neighbor_id") < 10, k = 5, nProbe = 4)
  }

  def pipelineSink(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Decoders, Pipeline, PipelineConfig}
    import graft.sink.RotationPolicy
    import graft.sources.DataFrameSource
    val root = java.nio.file.Files.createTempDirectory("graft-op").toString
    val ev = Tables.load(s, dir, "events")
    val msgs = ev.select(
      concat(unhex(lit("0" * 12)), col("props").cast("binary")).as("value"),
      current_timestamp().as("timestamp"))
    val pipe = Pipeline(s, PipelineConfig(
      source = DataFrameSource(msgs), // batch-fed below
      outputDir = s"$root/out",
      destTable = "events_raw",
      munger = Some(Stages.confluentStrip),
      decode = Decoders.json(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))),
      rotation = RotationPolicy(thresholdMB = 0, durationSec = 100000,
        clamp = false)))
    pipe.processBatch(msgs, 0L)
    pipe.close()
    s.read.parquet(s"$root/out/_manifest/*.parquet")
      .select("seg_index", "size_mb", "tables")
  }

  /** S4 — deterministic mock source: generated rows for a nested
    * schema, marshalled and decoded back (round-trip). Rows-only. */
  def mockSource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("site", StructType(Seq(StructField("name", StringType)))),
      StructField("score", DoubleType),
      StructField("tags", ArrayType(StringType))))
    val gen = graft.mock.MockGen.batch(s, schema, 1000, seed = 42)
    val msgs = graft.mock.MockGen.asMessages(gen, prefixBytes = 6)
    val munged = Stages.munge(Stages.confluentStrip)(msgs)
    Stages.decodeJson(schema)(munged)
      .where(col("_corrupt").isNull)
      .select(col("id"), col("site.name").as("site_name"), col("score"),
        size(col("tags")).as("n_tags"))
  }

  /** As-of join — enrich each event with the latest order at or before
    * the event time for the same customer (SURVEY.md §2.2 "as-of";
    * graft.operators.AsofJoin). Right side pre-deduplicated on
    * (key, time) so tie resolution is deterministic in both engines. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(
      col("event_id"), col("user_id"),
      // ts is TIMESTAMP_NTZ since the r8 fixture regeneration; keep it
      // NTZ end-to-end so the parquet the driver compares is naive
      // micros exactly like DuckDB's TIMESTAMP output
      col("ts").as("ets"))
      // plant a key with no right-side rows so the oracle also checks
      // the NULL (no-match) path — every fixture user has prior orders
      .withColumn("user_id", when(col("event_id") % 97 === 0,
        col("user_id") + 1000000).otherwise(col("user_id")))
    val ord = Tables.load(s, dir, "orders")
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"))
    graft.operators.AsofJoin.joinAsof(ev, ord,
      Seq("user_id" -> "o_custkey"), "ets", "o_orderdate")
      .select("event_id", "user_id", "o_orderkey", "o_orderdate")
  }

  val asofJoinSql: String =
    """WITH e AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 97 = 0 THEN user_id + 1000000
      |         ELSE user_id END AS user_id, ts
      |  FROM events),
      |r AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, r.o_orderkey, r.o_orderdate
      |FROM e ASOF LEFT JOIN r
      |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin

  /** As-of join with a staleness tolerance — the r8-verdict item-6
    * case: same pairing as [[asofJoin]], but a match older than
    * `toleranceMillis` is nulled out (the row survives, left-join
    * style). Tolerance ≈ the median event→order gap (~23.4 years on
    * the fixture: events are 2024, orders 1995-2001), so the filter
    * genuinely splits the matched population instead of being a
    * no-op or a wipe-out. DuckDB has no ASOF tolerance clause, so the
    * oracle applies the SAME epoch-millisecond cutoff to the plain
    * ASOF result; both engines compute integer millis (truncated
    * micros), so the boundary needs no rounding slack. */
  val asofTolMillis = 740000000000L

  def asofJoinTol(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(
      col("event_id"), col("user_id"), col("ts").as("ets"))
      .withColumn("user_id", when(col("event_id") % 97 === 0,
        col("user_id") + 1000000).otherwise(col("user_id")))
    val ord = Tables.load(s, dir, "orders")
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"))
    graft.operators.AsofJoin.joinAsof(ev, ord,
      Seq("user_id" -> "o_custkey"), "ets", "o_orderdate",
      toleranceMillis = Some(asofTolMillis))
      .select("event_id", "user_id", "o_orderkey", "o_orderdate")
  }

  val asofJoinTolSql: String =
    s"""WITH e AS (
       |  SELECT event_id,
       |    CASE WHEN event_id % 97 = 0 THEN user_id + 1000000
       |         ELSE user_id END AS user_id, ts
       |  FROM events),
       |r AS (
       |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
       |  FROM orders GROUP BY 1, 2),
       |m AS (
       |  SELECT e.event_id, e.user_id, e.ts, r.o_orderkey, r.o_orderdate
       |  FROM e ASOF LEFT JOIN r
       |    ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate)
       |SELECT event_id, user_id,
       |  CASE WHEN epoch_ms(ts) - epoch_ms(o_orderdate) <= $asofTolMillis
       |       THEN o_orderkey END AS o_orderkey,
       |  CASE WHEN epoch_ms(ts) - epoch_ms(o_orderdate) <= $asofTolMillis
       |       THEN o_orderdate END AS o_orderdate
       |FROM m""".stripMargin

  /** Range (interval-containment) join — per promotional window (a 1%
    * sample of orders, [o_orderdate, o_orderdate + 6 days] inclusive),
    * count the orders placed inside the window and their revenue
    * (SURVEY.md §2.2 "range join"; graft.operators.RangeJoin). The
    * bucketed shape: positions are day numbers, bucketWidth 7 — each
    * 7-day window replicates to ≤ 2 weekly buckets and the join is an
    * equi hash join on the bucket, never a nested loop (the global
    * cartesian guard covers this query). DuckDB plans the same SQL as
    * an IEJoin — different physical strategy, identical relation. */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val points = orders.select(
      col("o_orderdate"), col("o_totalprice"))
    val windows = orders.where(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("promo_key"),
        col("o_orderdate").as("w_start"))
    val dayOf: Column => Column = c => unix_date(to_date(c))
    graft.operators.RangeJoin.joinPointsInIntervals(
        points, windows,
        pointPos = dayOf(col("o_orderdate")),
        startPos = dayOf(col("w_start")),
        endPos = dayOf(col("w_start")) + 6,
        bucketWidth = 7)
      .groupBy("promo_key", "w_start")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  /** Fixture timestamps are all midnight-aligned, so the day-number
    * containment `[d, d+6]` is exactly the timestamp containment
    * `[t, t + 6 days]` DuckDB evaluates. */
  val rangeJoinSql: String =
    """WITH p AS (
      |  SELECT o_orderkey AS promo_key, o_orderdate AS w_start
      |  FROM orders WHERE o_orderkey % 100 = 0)
      |SELECT p.promo_key, p.w_start, count(*) AS n_orders,
      |  round(sum(o.o_totalprice), 2) AS revenue
      |FROM p JOIN orders o
      |  ON o.o_orderdate >= p.w_start
      | AND o.o_orderdate <= p.w_start + INTERVAL 6 DAY
      |GROUP BY 1, 2""".stripMargin

  /** Z-order (Morton) key — the data-layout operator's interleave,
    * oracled bit-for-bit (graft.operators.Layout; LayoutSuite measures
    * the actual row-group pruning win on 2-D box scans). x = customer
    * key, y = decile-scaled total price clamped to 16 bits. */
  def zorder(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.select(col("o_orderkey"),
      graft.operators.Layout.zValue(
        col("o_custkey"),
        least(floor(col("o_totalprice") / 10), lit(65535L)).cast("long"))
        .as("z"))
  }

  val zorderSql: String = {
    // joined with TRAILING pipes: a line STARTING with `|` would be
    // eaten by the outer stripMargin (the embedPairsCtes lesson)
    val terms = (0 until 16).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" |\n    ")
    s"""WITH v AS (
       |  SELECT o_orderkey, o_custkey AS x,
       |    least(CAST(floor(o_totalprice / 10) AS BIGINT), 65535) AS y
       |  FROM orders)
       |SELECT o_orderkey, CAST($terms AS BIGINT) AS z
       |FROM v""".stripMargin
  }

  /** Hilbert-curve key — [[zorder]]'s locality upgrade (same (x, y)
    * mapping, graft.operators.Layout.hilbertValue): unit curve steps
    * are always grid-adjacent, so row groups cover tighter rectangles
    * and 2-D box scans prune more (measured vs Z-order on the same
    * scan in LayoutSuite). Oracled bit-for-bit: the 16 rotation steps
    * unroll into 16 chained CTEs mirroring HilbertIndexExpr.compute
    * exactly — including the input mask and the `(3·rx) xor ry`
    * quadrant digit, written as a CASE on (rx, ry) because DuckDB
    * spells bitwise xor as a function and the CASE is engine-neutral. */
  def hilbert(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.select(col("o_orderkey"),
      graft.operators.Layout.hilbertValue(
        col("o_custkey"),
        least(floor(col("o_totalprice") / 10), lit(65535L)).cast("long"))
        .as("h"))
  }

  val hilbertSql: String = {
    val bits = 16
    val n = 1L << bits
    // one CTE per bit plane, high→low; each rewrites (x, y, d) from
    // the previous step — named columns, so no expression blow-up
    // (the reason the Spark side is a native expression)
    val steps = (0 until bits).map { k =>
      val sv = 1L << (bits - 1 - k)
      val rx = s"(x & $sv) > 0"
      val ry = s"(y & $sv) > 0"
      s"""h${k + 1} AS (
         |  SELECT o_orderkey,
         |    CASE WHEN NOT ($ry) THEN
         |        CASE WHEN $rx THEN ${n - 1} - y ELSE y END
         |      ELSE x END AS x,
         |    CASE WHEN NOT ($ry) THEN
         |        CASE WHEN $rx THEN ${n - 1} - x ELSE x END
         |      ELSE y END AS y,
         |    d + ${sv * sv} * (CASE
         |      WHEN ($rx) AND ($ry) THEN 2
         |      WHEN $rx THEN 3
         |      WHEN $ry THEN 1
         |      ELSE 0 END) AS d
         |  FROM h$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH h0 AS (
       |  SELECT o_orderkey, o_custkey & ${n - 1} AS x,
       |    least(CAST(floor(o_totalprice / 10) AS BIGINT), 65535)
       |      & ${n - 1} AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM orders),
       |$steps
       |SELECT o_orderkey, d AS h FROM h$bits""".stripMargin
  }

  /** 3-column Morton key — [[zorder]]'s production form (lakehouse
    * Z-ORDER takes a column list, [[graft.operators.Layout.zValueN]]):
    * customer key x price decile x order month, 8 bits each (24-bit
    * key; the dimension/width trade-off is a hard long-width
    * constraint). Oracled bit-for-bit like the 2-D key. */
  def zorderNd(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.select(col("o_orderkey"),
      graft.operators.Layout.zValueN(Seq(
        col("o_custkey"),
        least(floor(col("o_totalprice") / 10), lit(65535L)).cast("long"),
        month(col("o_orderdate")).cast("long")), bits = 8).as("z"))
  }

  val zorderNdSql: String = {
    val dims = Seq("x", "y", "m")
    val terms = (for { i <- 0 until 8; (d, j) <- dims.zipWithIndex }
      yield s"((($d >> $i) & 1) << ${i * 3 + j})")
      .mkString(" |\n    ")
    s"""WITH v AS (
       |  SELECT o_orderkey, o_custkey AS x,
       |    least(CAST(floor(o_totalprice / 10) AS BIGINT), 65535) AS y,
       |    CAST(month(o_orderdate) AS BIGINT) AS m
       |  FROM orders)
       |SELECT o_orderkey, CAST($terms AS BIGINT) AS z
       |FROM v""".stripMargin
  }

  /** Forward as-of join — for each order, the customer's FIRST event
    * at or after the order date (fixture eras make this the live
    * direction: orders 1995-2001, events 2024; customers above the
    * event user range exercise the no-match NULL path). Right side
    * pre-deduplicated on (key, time) like [[asofJoin]]. */
  def asofJoinFwd(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val ev = Tables.load(s, dir, "events")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("event_id"))
    graft.operators.AsofJoin.joinAsof(ord, ev,
      Seq("o_custkey" -> "user_id"), "o_orderdate", "ts",
      direction = "forward")
      .select("o_orderkey", "o_custkey", "event_id", "ts")
  }

  val asofJoinFwdSql: String =
    """WITH r AS (
      |  SELECT user_id, ts, max(event_id) AS event_id
      |  FROM events GROUP BY 1, 2)
      |SELECT o.o_orderkey, o.o_custkey, r.event_id, r.ts
      |FROM orders o ASOF LEFT JOIN r
      |  ON o.o_custkey = r.user_id AND o.o_orderdate <= r.ts""".stripMargin

  /** Nearest as-of join — for each purchase, the same user's CLOSEST
    * error event in either direction (integer-millisecond distance,
    * ties → backward). DuckDB has no nearest mode, so the oracle
    * reconstructs the pick from the two directed ASOF results with
    * the identical epoch-ms comparison. */
  def asofJoinNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val errors = ev.where(col("event_type") === "error")
      .groupBy(col("user_id").as("e_user"), col("ts").as("e_ts"))
      .agg(max("event_id").as("e_id"))
    graft.operators.AsofJoin.joinAsof(purchases, errors,
      Seq("user_id" -> "e_user"), "p_ts", "e_ts",
      direction = "nearest")
      .select("p_id", "user_id", "p_ts", "e_id", "e_ts")
  }

  val asofJoinNearestSql: String =
    """WITH p AS (
      |  SELECT event_id AS p_id, user_id, ts AS p_ts
      |  FROM events WHERE event_type = 'purchase'),
      |r AS (
      |  SELECT user_id AS e_user, ts AS e_ts, max(event_id) AS e_id
      |  FROM events WHERE event_type = 'error' GROUP BY 1, 2),
      |b AS (
      |  SELECT p.p_id, r.e_id AS b_id, r.e_ts AS b_ts
      |  FROM p ASOF LEFT JOIN r
      |    ON p.user_id = r.e_user AND p.p_ts >= r.e_ts),
      |f AS (
      |  SELECT p.p_id, r.e_id AS f_id, r.e_ts AS f_ts
      |  FROM p ASOF LEFT JOIN r
      |    ON p.user_id = r.e_user AND p.p_ts <= r.e_ts)
      |SELECT p.p_id, p.user_id, p.p_ts,
      |  CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND
      |      epoch_ms(p.p_ts) - epoch_ms(b_ts) <=
      |      epoch_ms(f_ts) - epoch_ms(p.p_ts))
      |    THEN b_id ELSE f_id END AS e_id,
      |  CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND
      |      epoch_ms(p.p_ts) - epoch_ms(b_ts) <=
      |      epoch_ms(f_ts) - epoch_ms(p.p_ts))
      |    THEN b_ts ELSE f_ts END AS e_ts
      |FROM p JOIN b USING (p_id) JOIN f USING (p_id)""".stripMargin

  /** Interval-overlap join — per promotional window (the same 1%
    * sample as [[rangeJoin]]), count the in-transit shipments whose
    * transit interval overlaps the window (graft.operators.RangeJoin
    * .joinOverlappingIntervals — both sides bucketed, pair emitted
    * only in its canonical max-start bucket so multi-bucket overlaps
    * never duplicate). The fixture lineitem has no receipt date, so
    * the transit interval is derived deterministically:
    * [l_shipdate, l_shipdate + (l_quantity % 30) days]. */
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val windows = Tables.load(s, dir, "orders")
      .where(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("promo_key"),
        col("o_orderdate").as("w_start"))
    val ships = Tables.load(s, dir, "lineitem")
      .where(col("l_orderkey") % 10 === 0)
      .select(col("l_shipdate"), col("l_quantity"))
    val dayOf: Column => Column = c => unix_date(to_date(c))
    graft.operators.RangeJoin.joinOverlappingIntervals(
        windows, ships,
        leftStart = dayOf(col("w_start")),
        leftEnd = dayOf(col("w_start")) + 6,
        rightStart = dayOf(col("l_shipdate")),
        rightEnd = dayOf(col("l_shipdate")) +
          col("l_quantity").cast("int") % 30,
        bucketWidth = 7)
      .groupBy("promo_key", "w_start")
      .agg(count(lit(1)).as("n_ship"),
        round(sum(col("l_quantity")), 2).as("qty"))
  }

  val intervalOverlapSql: String =
    """WITH w AS (
      |  SELECT o_orderkey AS promo_key, o_orderdate AS w_start
      |  FROM orders WHERE o_orderkey % 100 = 0),
      |sh AS (
      |  SELECT l_shipdate AS s_start,
      |    l_shipdate + to_days(CAST(l_quantity AS INTEGER) % 30) AS s_end,
      |    l_quantity
      |  FROM lineitem WHERE l_orderkey % 10 = 0)
      |SELECT w.promo_key, w.w_start, count(*) AS n_ship,
      |  round(sum(sh.l_quantity), 2) AS qty
      |FROM w JOIN sh
      |  ON w.w_start <= sh.s_end
      | AND sh.s_start <= w.w_start + INTERVAL 6 DAY
      |GROUP BY 1, 2""".stripMargin

  /** Per-key band join — for every purchase event, how many views the
    * same user made in the 24 h leading up to it (attribution;
    * SURVEY.md §2.2; graft.operators.RangeJoin.joinBand — the equi
    * user key bounds candidates, band inclusive both ends). LEFT join
    * so zero-view purchases survive with n_views = 0. The streaming
    * twin (streaming.StreamJoin.intervalJoin) runs the identical
    * condition over two live streams — StreamJoinSuite pins parity. */
  def bandJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    graft.operators.RangeJoin.joinBand(purchases, views,
        Seq("user_id" -> "v_user"), "p_ts", "v_ts",
        lowerMs = -24L * 3600 * 1000, upperMs = 0L, joinType = "left")
      .groupBy("p_id", "user_id", "p_ts")
      .agg(count(col("v_ts")).as("n_views"))
  }

  val bandJoinSql: String =
    """SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
      |  count(v.ts) AS n_views
      |FROM events p LEFT JOIN events v
      |  ON v.user_id = p.user_id AND v.event_type = 'view'
      | AND v.ts BETWEEN p.ts - INTERVAL 24 HOUR AND p.ts
      |WHERE p.event_type = 'purchase'
      |GROUP BY 1, 2, 3""".stripMargin

  /** Event-time tumbling window aggregate (graft.streaming
    * .EventTimeOps) — the same code path the watermarked streaming
    * query runs, checked batch-side against DuckDB time_bucket. */
  def eventWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(
      col("ts").as("ets"), col("event_type"), col("value"))
    graft.streaming.EventTimeOps.tumblingCounts(
      ev, "ets", "event_type", "value", "1 hour")
  }

  val eventWindowSql: String =
    """SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP)
      |    AS window_start,
      |  event_type, count(*) AS n_events,
      |  round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // --- op_sessionize: batch gap-based sessionization (30-minute
  // inactivity gap per user) via the native session_window — the
  // DuckDB oracle is the classic gaps-and-islands rebuild, proving
  // the semantics: end = last event + gap, and the boundary is
  // CLOSED — an event exactly `gap` after its predecessor still
  // merges (suite-pinned; the oracle's break condition is therefore
  // strict `>`, a latent hash mismatch on any fixture whose
  // timestamps land exactly on the gap). ------------------------------
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("value"))
    graft.streaming.EventTimeOps.sessionStats(
      ev, "ts", "user_id", "value", "30 minutes")
  }

  val sessionizeSql: String =
    """WITH o AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM o)
      |SELECT user_id, min(ts) AS session_start,
      |  CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
      |  count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  // --- op_scd2: type-2 slowly-changing-dimension build from the
  // event stream — collapse each user's run of equal event_type into
  // one validity interval (valid_from inclusive, valid_to = next
  // change's ts, NULL while current) — the standard warehouse
  // history-table shape. Order key is (ts, event_id): fixture
  // timestamps CAN tie within a user, and event_id makes the run
  // boundaries deterministic in both engines. Windows partition by
  // user — bounded by one entity's history (the sessionize caveat
  // applies to adversarially hot entities). ---------------------------
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val marked = ev.withColumn("prev", lag(col("event_type"), 1).over(w))
      .where(col("prev").isNull || col("prev") =!= col("event_type"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    marked.withColumn("valid_to", lead(col("ts"), 1).over(w2))
      .select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"))
  }

  val scd2Sql: String =
    """WITH m AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts, event_id, event_type FROM m
      |  WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS valid_to
      |FROM s""".stripMargin

  // --- op_funnel: windowFunnel over the event stream — per user, how
  // deep into view → click → purchase within 24 h of the chain's
  // FIRST view, and the earliest full completion. EXISTS-chain
  // semantics (operators/Funnel.scala): a user whose first view never
  // converts but whose later view does still counts — greedy
  // first-occurrence scans miss exactly those. ------------------------
  def funnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.windowFunnel(
      Tables.load(s, dir, "events"),
      steps = Seq("view", "click", "purchase"),
      horizon = expr("INTERVAL 24 HOURS"))

  val funnelSql: String =
    """WITH v AS (
      |  SELECT user_id, ts AS t1 FROM events WHERE event_type = 'view'),
      |c2 AS (
      |  SELECT v.user_id, v.t1, c.ts AS tk
      |  FROM v JOIN events c ON c.user_id = v.user_id
      |    AND c.event_type = 'click' AND c.ts > v.t1
      |    AND c.ts <= v.t1 + INTERVAL 24 HOUR),
      |c3 AS (
      |  SELECT c2.user_id, c2.t1, p.ts AS tk
      |  FROM c2 JOIN events p ON p.user_id = c2.user_id
      |    AND p.event_type = 'purchase' AND p.ts > c2.tk
      |    AND p.ts <= c2.t1 + INTERVAL 24 HOUR),
      |base AS (SELECT user_id, min(t1) AS first_step FROM v GROUP BY 1),
      |m2 AS (SELECT user_id, min(tk) AS m2 FROM c2 GROUP BY 1),
      |m3 AS (SELECT user_id, min(tk) AS m3 FROM c3 GROUP BY 1)
      |SELECT b.user_id, b.first_step,
      |  CASE WHEN m3.m3 IS NOT NULL THEN 3
      |       WHEN m2.m2 IS NOT NULL THEN 2 ELSE 1 END AS depth,
      |  m3.m3 AS completed_at
      |FROM base b LEFT JOIN m2 ON m2.user_id = b.user_id
      |LEFT JOIN m3 ON m3.user_id = b.user_id""".stripMargin

  // --- op_sequence_match: per-step-gap event chains (the ClickHouse
  // sequenceMatch-with-time-conditions sibling of op_funnel): click
  // within 4 h of the view, purchase within 12 h of the click. The
  // funnel's min-reduction is invalid under per-step gaps (a later
  // step-i occurrence opens continuations the earliest cannot reach),
  // so stages carry DISTINCT (entity, tk) sets — see
  // operators/Funnel.sequenceMatch. ------------------------------------
  def sequenceMatch(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.sequenceMatch(
      Tables.load(s, dir, "events"),
      steps = Seq("view", "click", "purchase"),
      gapsSec = Seq(14400L, 43200L))

  val sequenceMatchSql: String =
    """WITH s1 AS (
      |  SELECT DISTINCT user_id, ts AS tk FROM events
      |  WHERE event_type = 'view'),
      |s2 AS (
      |  SELECT DISTINCT s1.user_id, c.ts AS tk
      |  FROM s1 JOIN events c ON c.user_id = s1.user_id
      |    AND c.event_type = 'click' AND c.ts > s1.tk
      |    AND c.ts <= s1.tk + INTERVAL 14400 SECOND),
      |s3 AS (
      |  SELECT DISTINCT s2.user_id, p.ts AS tk
      |  FROM s2 JOIN events p ON p.user_id = s2.user_id
      |    AND p.event_type = 'purchase' AND p.ts > s2.tk
      |    AND p.ts <= s2.tk + INTERVAL 43200 SECOND),
      |base AS (SELECT user_id, min(tk) AS first_step FROM s1 GROUP BY 1),
      |m2 AS (SELECT user_id, min(tk) AS m2 FROM s2 GROUP BY 1),
      |m3 AS (SELECT user_id, min(tk) AS m3 FROM s3 GROUP BY 1)
      |SELECT b.user_id, b.first_step,
      |  CASE WHEN m3.m3 IS NOT NULL THEN 3
      |       WHEN m2.m2 IS NOT NULL THEN 2 ELSE 1 END AS depth,
      |  m3.m3 AS completed_at
      |FROM base b LEFT JOIN m2 ON m2.user_id = b.user_id
      |LEFT JOIN m3 ON m3.user_id = b.user_id""".stripMargin

  // --- op_retention: cohort retention matrix over the event stream —
  // entities cohort by the DATE of their first 'signup' (the
  // acquisition event; first signups spread over the fixture's early
  // days, so the matrix has real rows), dk = distinct cohort entities
  // with ANY event k days later. The pre-dedup on (cohort, entity, k)
  // stands in for count(DISTINCT …), so the final agg has no Expand
  // fan-out. ---------------------------------------------------------
  def retention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.retention(
      Tables.load(s, dir, "events"),
      cohortPred = col("event_type") === "signup", maxDays = 3)

  val retentionSql: String =
    """WITH firsts AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      |  FROM events),
      |marked AS (
      |  SELECT DISTINCT f.cohort, a.user_id,
      |    date_diff('day', f.cohort, a.d) AS k
      |  FROM active a JOIN firsts f ON f.user_id = a.user_id
      |  WHERE date_diff('day', f.cohort, a.d) BETWEEN 0 AND 3)
      |SELECT cohort,
      |  count(CASE WHEN k = 0 THEN 1 END) AS n_users,
      |  count(CASE WHEN k = 1 THEN 1 END) AS d1,
      |  count(CASE WHEN k = 2 THEN 1 END) AS d2,
      |  count(CASE WHEN k = 3 THEN 1 END) AS d3
      |FROM marked GROUP BY cohort""".stripMargin

  // --- op_merge_upsert: keyed MERGE of a change set into the customer
  // snapshot (operators/MergeUpsert.scala — the lakehouse MERGE INTO
  // shape: one full-outer key join, presence-flag matching, deletes
  // dropped). Change set derived deterministically from orders:
  // customers with open orders UPDATE (name tag + open-order balance),
  // every 7th of those also INSERTS a twin at key+1,500,000 (disjoint
  // from real keys at any SF), closed-only customers DELETE. Change
  // keys are unique by construction (groupBy + disjoint branches) —
  // the operator's standard MERGE precondition. ------------------------
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val agg = Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(
        round(sum(when(col("o_orderstatus") === "O", col("o_totalprice"))
          .otherwise(lit(0.0))), 2).as("open_bal"),
        max(when(col("o_orderstatus") === "O", 1).otherwise(0))
          .as("has_open"),
        max(when(col("o_orderstatus") === "F", 1).otherwise(0))
          .as("has_f"))
    val updates = agg.where(col("has_open") === 1).select(
      col("o_custkey").as("c_custkey"),
      concat(lit("U_"), col("o_custkey")).as("c_name"),
      col("open_bal").as("c_acctbal"),
      lit(false).as("is_delete"))
    val inserts = agg.where(col("has_open") === 1 &&
        col("o_custkey") % 7 === 0).select(
      (col("o_custkey") + 1500000L).as("c_custkey"),
      concat(lit("I_"), col("o_custkey")).as("c_name"),
      lit(0.0).as("c_acctbal"),
      lit(false).as("is_delete"))
    val deletes = agg.where(col("has_open") === 0 && col("has_f") === 1)
      .select(
        col("o_custkey").as("c_custkey"),
        lit(null).cast("string").as("c_name"),
        lit(null).cast("double").as("c_acctbal"),
        lit(true).as("is_delete"))
    graft.operators.MergeUpsert.merge(cust,
      updates.unionByName(inserts).unionByName(deletes),
      Seq("c_custkey"), deleteCol = Some("is_delete"))
  }

  val mergeUpsertSql: String =
    """WITH agg AS (
      |  SELECT o_custkey,
      |    round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice
      |      ELSE 0 END), 2) AS open_bal,
      |    max(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS has_open,
      |    max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS has_f
      |  FROM orders GROUP BY 1),
      |changes AS (
      |  SELECT o_custkey AS c_custkey, 'U_' || o_custkey AS c_name,
      |    open_bal AS c_acctbal, false AS is_delete
      |  FROM agg WHERE has_open = 1
      |  UNION ALL
      |  SELECT o_custkey + 1500000, 'I_' || o_custkey, 0.0, false
      |  FROM agg WHERE has_open = 1 AND o_custkey % 7 = 0
      |  UNION ALL
      |  SELECT o_custkey, NULL, NULL, true
      |  FROM agg WHERE has_open = 0 AND has_f = 1)
      |SELECT coalesce(c.c_custkey, s.c_custkey) AS c_custkey,
      |  CASE WHEN c.c_custkey IS NOT NULL THEN c.c_name
      |    ELSE s.c_name END AS c_name,
      |  CASE WHEN c.c_custkey IS NOT NULL THEN c.c_acctbal
      |    ELSE s.c_acctbal END AS c_acctbal
      |FROM customer s FULL JOIN changes c ON s.c_custkey = c.c_custkey
      |WHERE NOT coalesce(c.is_delete, false)""".stripMargin

  // --- op_ts_topk: time-series similarity search — per-user daily
  // value series over the fixture's 30-day window, CENTERED, ranked
  // by cosine = Pearson correlation of the raw series (the
  // level-invariant shape score; constant series read 0 via the norm
  // clamp, never NaN). Series construction is one partial-aggregated
  // groupBy; the search is bruteForceTopK verbatim, so the centered
  // series is an embedding column and the whole ANN family (LSH / IVF
  // / PQ) is the documented scale path for wide entity counts. Slot
  // sums round 4dp (cross-engine double-sum order), folds run
  // left-to-right in both engines. -------------------------------------
  def tsTopK(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.topKCorrelated(
      Tables.load(s, dir, "events"), col("user_id") < 10,
      startDate = "2024-01-01", nSlots = 30, k = 5)

  val tsTopKSql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
      |    value
      |  FROM events),
      |slots AS (
      |  SELECT user_id, d, round(sum(value), 4) AS v
      |  FROM ev WHERE d >= 0 AND d < 30 GROUP BY 1, 2),
      |grid AS (
      |  SELECT u.user_id, dy.d, coalesce(s.v, 0.0) AS v
      |  FROM (SELECT DISTINCT user_id FROM slots) u
      |  CROSS JOIN (SELECT range AS d FROM range(0, 30)) dy
      |  LEFT JOIN slots s ON s.user_id = u.user_id AND s.d = dy.d),
      |raw AS (SELECT user_id, list(v ORDER BY d) AS vec FROM grid
      |  GROUP BY 1),
      |cent AS (
      |  SELECT user_id, list_transform(vec,
      |    x -> x - list_reduce(vec, (a, b) -> a + b) / 30.0) AS vec
      |  FROM raw),
      |q AS (SELECT user_id AS query_id, vec AS qv FROM cent
      |  WHERE user_id < 10),
      |c AS (SELECT user_id AS neighbor_id, vec AS cv FROM cent),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    round(list_dot_product(qv, cv) /
      |      (greatest(sqrt(list_dot_product(qv, qv)), 1e-12) *
      |       greatest(sqrt(list_dot_product(cv, cv)), 1e-12)), 6) AS sim
      |  FROM c, q WHERE query_id <> neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim, row_number() OVER (
      |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, sim FROM ranked
      |WHERE rank <= 5""".stripMargin

  // --- op_time_weighted_avg: TSDB-style time-weighted average per
  // user over irregular samples — step interpolation, span-normalized
  // (operators/TimeSeries.timeWeightedAvg). Tie order (ts, value)
  // keeps zero-width steps deterministic cross-engine; the per-user
  // double sums divide out, so 4dp rounding is far beyond the
  // order-sensitivity noise. ------------------------------------------
  def timeWeightedAvg(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.timeWeightedAvg(
      Tables.load(s, dir, "events"))

  val timeWeightedAvgSql: String =
    """WITH stepped AS (
      |  SELECT user_id, value,
      |    date_diff('microsecond', ts,
      |      lead(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts NULLS LAST, value NULLS LAST))
      |      / 1e6 AS dt
      |  FROM events)
      |SELECT user_id, count(*) AS n_samples,
      |  round(sum(coalesce(dt, 0)), 4) AS span_sec,
      |  round(CASE WHEN sum(coalesce(dt, 0)) > 0
      |    THEN sum(value * coalesce(dt, 0)) / sum(coalesce(dt, 0))
      |    ELSE max(value) END, 4) AS twa
      |FROM stepped GROUP BY user_id""".stripMargin

  // --- op_heavy_hitters: exact frequent tokens above a 1% threshold
  // via the two-pass Misra-Gries pattern (operators/HeavyHitters.scala)
  // — the sketch pass bounds the exact pass's shuffle to ≤ k candidate
  // keys, and the exact threshold filter makes the OUTPUT
  // partitioning-independent even though the sketch is not. Like
  // dropHotKeys, plan construction runs one eager (memoized) sketch
  // job. The fixture's token vocabulary (31) sits below the sketch
  // width, so the registered point exercises the plumbing with an
  // exact sketch; the decrements/merge-subtraction math is pinned on
  // controlled Zipf and adversarial streams in HeavyHittersSuite. ------
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(explode_outer(
        graft.llm.TextAnalysis.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
    graft.operators.HeavyHitters.frequentItems(toks, "tok",
      m = 100, k = 128)
  }

  val heavyHittersSql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
      |    AS term
      |  FROM documents),
      |tot AS (SELECT count(*) AS n FROM tok)
      |SELECT term, count(*) AS cnt FROM tok
      |GROUP BY 1
      |HAVING count(*) * 100 >= (SELECT n FROM tot)""".stripMargin

  // --- op_heavy_hitters_grouped: the corpus-audit form — frequent
  // tokens PER LANGUAGE, each group judged against its OWN total
  // (operators/HeavyHitters.frequentItemsByKey). One partial-aggregated
  // MG-sketch pass per group, candidates back as a broadcast local
  // relation, exact counts only for (group, candidate) pairs. The
  // driver collect is |groups|·k-bounded (maxGroups, loud overflow).
  // m=50: tokens at ≥ 2% of their language's stream. -------------------
  def heavyHittersGrouped(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("lang"), explode_outer(
        graft.llm.TextAnalysis.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
    graft.operators.HeavyHitters.frequentItemsByKey(toks, "lang", "tok",
      m = 50, k = 128)
  }

  val heavyHittersGroupedSql: String =
    """WITH tok AS (
      |  SELECT lang, unnest(regexp_extract_all(lower(text),
      |    '[a-z0-9]+')) AS term
      |  FROM documents WHERE lang IS NOT NULL),
      |tot AS (SELECT lang, count(*) AS n FROM tok GROUP BY 1)
      |SELECT t.lang, t.term, count(*) AS cnt
      |FROM tok t JOIN tot ON tot.lang = t.lang
      |GROUP BY t.lang, t.term, tot.n
      |HAVING count(*) * 50 >= tot.n""".stripMargin

  // --- op_gap_fill: TSDB resample — per user, a 6-hour regular grid
  // over the observed span, each point carrying the latest observation
  // at-or-before it (LOCF) plus its timestamp. Concurrent same-ts
  // observations pre-collapse to max(value) so the fill is
  // deterministic; the LOCF is the backward as-of join composed from
  // operators/AsofJoin. -------------------------------------------------
  def gapFill(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.gapFill(
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("value")),
      stepSec = 21600L)

  val gapFillSql: String =
    """WITH obs AS (
      |  SELECT user_id, ts AS obs_ts, max(value) AS value
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT user_id, min(ts) AS t0, max(ts) AS t1
      |  FROM events GROUP BY 1),
      |grid AS (
      |  SELECT user_id,
      |    unnest(generate_series(t0, t1, INTERVAL 21600 SECOND)) AS ts
      |  FROM bounds)
      |SELECT g.user_id, g.ts, o.obs_ts, o.value
      |FROM grid g ASOF LEFT JOIN obs o
      |  ON g.user_id = o.user_id AND g.ts >= o.obs_ts""".stripMargin

  val all: Map[String, Q] = Map(
    "op_gap_fill" -> (gapFill _),
    "op_normalize" -> (normalize _),
    "op_heavy_hitters" -> (heavyHitters _),
    "op_heavy_hitters_grouped" -> (heavyHittersGrouped _),
    "op_ts_topk" -> (tsTopK _),
    "op_sessionize" -> (sessionize _),
    "op_scd2" -> (scd2 _),
    "op_merge_upsert" -> (mergeUpsert _),
    "op_funnel" -> (funnel _),
    "op_sequence_match" -> (sequenceMatch _),
    "op_retention" -> (retention _),
    "op_time_weighted_avg" -> (timeWeightedAvg _),
    "op_munge_decode" -> (mungeDecode _),
    "op_proto_decode" -> (protoDecode _),
    "op_proto_repeated" -> (protoRepeated _),
    "op_pipeline_sink" -> (pipelineSink _),
    "op_vec_index_stream" -> (vecIndexStream _),
    "op_mock_source" -> (mockSource _),
    "op_asof_join" -> (asofJoin _),
    "op_asof_join_tol" -> (asofJoinTol _),
    "op_asof_join_fwd" -> (asofJoinFwd _),
    "op_zorder" -> (zorder _),
    "op_hilbert" -> (hilbert _),
    "op_zorder_nd" -> (zorderNd _),
    "op_asof_join_nearest" -> (asofJoinNearest _),
    "op_range_join" -> (rangeJoin _),
    "op_band_join" -> (bandJoin _),
    "op_interval_overlap" -> (intervalOverlap _),
    "op_event_window" -> (eventWindow _)
  )

  val oracles: Map[String, String] = Map(
    "op_normalize" -> normalizeSql,
    "op_gap_fill" -> gapFillSql,
    "op_heavy_hitters" -> heavyHittersSql,
    "op_heavy_hitters_grouped" -> heavyHittersGroupedSql,
    "op_ts_topk" -> tsTopKSql,
    "op_sessionize" -> sessionizeSql,
    "op_scd2" -> scd2Sql,
    "op_merge_upsert" -> mergeUpsertSql,
    "op_funnel" -> funnelSql,
    "op_sequence_match" -> sequenceMatchSql,
    "op_retention" -> retentionSql,
    "op_time_weighted_avg" -> timeWeightedAvgSql,
    "op_munge_decode" -> mungeDecodeSql,
    "op_proto_decode" -> protoDecodeSql,
    "op_proto_repeated" -> protoRepeatedSql,
    "op_asof_join" -> asofJoinSql,
    "op_asof_join_tol" -> asofJoinTolSql,
    "op_asof_join_fwd" -> asofJoinFwdSql,
    "op_zorder" -> zorderSql,
    "op_hilbert" -> hilbertSql,
    "op_zorder_nd" -> zorderNdSql,
    "op_asof_join_nearest" -> asofJoinNearestSql,
    "op_range_join" -> rangeJoinSql,
    "op_band_join" -> bandJoinSql,
    "op_interval_overlap" -> intervalOverlapSql,
    "op_event_window" -> eventWindowSql
  )
}
