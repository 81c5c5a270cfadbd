package graft.normalize

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.SparkSpec
import graft.pipeline.{ProtoCodec, ProtoRecord, WireSite}

/** The native normalizer kernel (`graft_normalize_rows`) against the
  * lambda reference ([[LambdaNormalizer]]): same schema, same rows in
  * the same order, same strict-mode error, and generated code equal to
  * interpreted eval. */
class NormalizeKernelSuite extends SparkSpec {
  import spark.implicits._

  private def ev(id: String, deals: Seq[Deal], imps: Seq[Imp] = Nil): BidEvent =
    BidEvent(id, Site(s"site-$id"), Ts(id.hashCode.toLong, 7),
      imps, Seq(Store(Gallery(deals))))

  private def imp(deals: Deal*): Imp = Imp(Pmp(deals))

  /** The NormalizerSuite fixtures, plus NULLs on and inside lists. */
  private lazy val events: DataFrame = Seq(
    ev("a", Seq(Deal("d1", 1.0), Deal("d2", 2.0)),
      Seq(imp(Deal("i1", 1), Deal("i2", 2)), imp())),
    ev("b", Nil), // empty lists
    ev("c", Seq(Deal("d3", 3.0)), Seq(imp(Deal("i3", 3)))),
    // a NULL struct on a path: site, a store's gallery, an imp's pmp
    BidEvent("n1", null, Ts(1, 1), Seq(Imp(null), imp(Deal("i4", 4))),
      Seq(Store(null), Store(Gallery(Seq(Deal("d4", 4.0)))))),
    // NULL elements inside fanned-out lists and at fixed indices
    BidEvent("n2", Site("s"), null, Seq(null, imp(null, Deal("i5", 5))),
      Seq(null, Store(Gallery(Seq(null, Deal("d5", 5.0)))))),
    // NULL lists
    BidEvent("n3", Site("t"), Ts(3, 3), null, null),
    BidEvent("n4", Site("u"), Ts(4, 4), Seq(Imp(Pmp(null))),
      Seq(Store(Gallery(null))))
  ).toDF().coalesce(1)

  private def protoRecords(n: Int): DataFrame = {
    val frames = (0 until n).map { i =>
      val stores = (0 until i % 4).map(j => WireSite(s"st$i-$j", s"k$j"))
      Tuple1(ProtoCodec.encode(ProtoRecord(i.toLong,
        WireSite(s"site$i", "web"), i / 4.0, i % 2 == 0, i.toLong,
        tags = (0 until i % 3).map(_.toLong * i),
        attrs = if (i % 5 == 0) Map.empty else Map("region" -> i.toLong),
        stores = stores)))
    }
    ProtoCodec.decodeColumnar(frames.toDF("value")
      .withColumn("timestamp", current_timestamp()).coalesce(1))
  }

  private val eventSpecs: Seq[(String, NormalizerSpec)] = Seq(
    "scalars, aliases" -> NormalizerSpec(
      Seq("id", "site.id", "timestamp.seconds"), Seq("id", "site", "event_time")),
    "one list, aligned fields" -> NormalizerSpec(
      Seq("id", "stores[0].gallery.deals.id", "stores[0].gallery.deals.price"),
      Seq("id", "deal", "deal_price")),
    "lenient index" -> NormalizerSpec(
      Seq("id", "stores[0].gallery.deals[1].id"), Seq("id", "second_deal")),
    "nested lists" -> NormalizerSpec(
      Seq("id", "imp.pmp.deals.id"), Seq("id", "deal")),
    "derived names" -> NormalizerSpec(
      Seq("site.id", "stores[0].gallery.deals.id")),
    "nested and crossed lists" -> NormalizerSpec(
      Seq("id", "imp.pmp.deals.id", "stores.gallery.deals.id",
        "imp.pmp.deals.price", "site.id"),
      Seq("id", "imp_deal", "store_deal", "imp_price", "site")),
    "terminal list of structs" -> NormalizerSpec(
      Seq("id", "stores", "imp.pmp.deals"), Seq("id", "store", "deal")),
    "NULL at fixed indices" -> NormalizerSpec(
      Seq("id", "stores[0].gallery.deals[0].id", "imp[1].pmp.deals[0].price",
        "stores[1].gallery.deals.id"),
      Seq("id", "first", "price", "deal")),
    "strict, in range" -> NormalizerSpec(
      Seq("id", "stores[0].gallery"), Seq("id", "gallery"),
      failOnRangeError = true),
    // a string and a struct field: the index is ignored
    "index on a non-array field" -> NormalizerSpec(
      Seq("id[0]", "site[0].id", "stores[0].gallery[0].deals.id"),
      Seq("id", "site", "deal")),
    "index on a non-array field, strict" -> NormalizerSpec(
      Seq("id[3]", "site[2].id", "timestamp[1].seconds"),
      Seq("id", "site", "seconds"), failOnRangeError = true))

  private val protoSpecs: Seq[(String, NormalizerSpec)] = Seq(
    "ingest decode schema" -> NormalizerSpec(
      Seq("id", "site.id", "stores.id", "score"),
      Seq("id", "site", "store", "score")),
    "repeated fields crossed" -> NormalizerSpec(
      Seq("id", "site.kind", "tags", "attrs", "stores.kind", "stores[0].id"),
      Seq("id", "site_kind", "tag", "attrs", "store_kind", "store0_id")),
    "index on a map field" -> NormalizerSpec(
      Seq("id", "attrs[0]", "site[0].kind"), Seq("id", "attrs", "site_kind")))

  private def assertSame(df: DataFrame, spec: NormalizerSpec, clue: String): Unit = {
    val kernel = Normalizer.normalize(df, spec)
    val ref = LambdaNormalizer.normalize(df, spec)
    assert(kernel.schema == ref.schema, clue)
    val rowsType = (c: org.apache.spark.sql.Column) =>
      df.select(c).schema.head.dataType.asInstanceOf[ArrayType].elementType
    assert(rowsType(Normalizer.rows(df.schema, spec)) ==
      rowsType(LambdaNormalizer.rows(df.schema, spec)), clue)
    val got = kernel.collect().toSeq
    assert(got == ref.collect().toSeq, clue)
    assert(got.nonEmpty, clue)
  }

  eventSpecs.foreach { case (name, spec) =>
    test(s"kernel equals the lambda reference: $name") {
      assertSame(events, spec, name)
    }
  }

  protoSpecs.foreach { case (name, spec) =>
    test(s"kernel equals the lambda reference: $name (protobuf frames, 0-3 stores)") {
      assertSame(protoRecords(24), spec, name)
    }
  }

  test("the staged array column equals the reference's, NULL rows included") {
    val df = protoRecords(16)
    val spec = protoSpecs.head._2
    val good = col("id") % 3 =!= 0 // a CASE WHEN as the pipeline routes
    val kernel = df.select(when(good, Normalizer.rows(df.schema, spec)))
    val ref = df.select(when(good, LambdaNormalizer.rows(df.schema, spec)))
    assert(kernel.collect().toSeq == ref.collect().toSeq)
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** The first raised normalizer error in the cause chain. */
  private def rangeError(body: => Unit): String = {
    val e = intercept[Exception](body)
    messages(e).find(_.startsWith("[USER_RAISED_EXCEPTION]"))
      .getOrElse(fail(s"no raised error in ${messages(e)}"))
  }

  test("strict mode: the range error message is unchanged") {
    Seq(
      // an index on a field path, and one inside a fan-out point's path
      NormalizerSpec(Seq("id", "stores[0].gallery.deals[1].id"),
        Seq("id", "second_deal"), failOnRangeError = true) ->
        ("normalizer range error: index 1 out of range in path " +
          "'stores[0].gallery.deals[1].id'"),
      NormalizerSpec(Seq("id", "stores[1].gallery.deals.id"),
        Seq("id", "deal"), failOnRangeError = true) ->
        ("normalizer range error: index 1 out of range in path " +
          "'stores[1].gallery.deals'")
    ).foreach { case (spec, text) =>
      val df = Seq(ev("a", Seq(Deal("d1", 1.0)))).toDF()
      val kernel = rangeError(Normalizer.normalize(df, spec).collect())
      assert(kernel == rangeError(LambdaNormalizer.normalize(df, spec).collect()))
      assert(kernel == s"[USER_RAISED_EXCEPTION] $text SQLSTATE: P0001")
    }
  }

  test("generated code equals eval (no silent fallback)") {
    val spec = eventSpecs.find(_._1 == "nested and crossed lists").get._2
    val rows = Normalizer.rows(events.schema, spec)
    val kernel = ColumnBridge.expression(rows).asInstanceOf[NormalizeRowsExpr]
    val rootType = kernel.program.rootType
    val expr = kernel.withNewChildren(Seq(
      BoundReference(0, rootType, nullable = false)))
    val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws on bad code
    val inputs = events.select(struct(rootType.fieldNames.map(col).toIndexedSeq: _*))
      .queryExecution.toRdd.map(_.copy()).collect()
    assert(inputs.length == 7)
    def scala(v: Any) = CatalystTypeConverters.convertToScala(v, expr.dataType)
    inputs.foreach { in =>
      assert(scala(proj(in).getArray(0)) == scala(expr.eval(in)))
    }
    // the strict error, raised from generated code
    val strict = ColumnBridge.expression(Normalizer.rows(events.schema,
      NormalizerSpec(Seq("stores[5].gallery"), Seq("g"), failOnRangeError = true)))
      .asInstanceOf[NormalizeRowsExpr]
    val strictProj = GenerateUnsafeProjection.generate(Seq(strict.withNewChildren(
      Seq(BoundReference(0, strict.program.rootType, nullable = false)))))
    val e = intercept[RuntimeException](strictProj(InternalRow(
      InternalRow(CatalystTypeConverters.convertToCatalyst(Seq(Row(null)))))))
    assert(e.getMessage.contains("index 5 out of range in path 'stores[5].gallery'"))
    // and the projection runs inside whole-stage codegen
    val plan = events.select(rows).queryExecution.executedPlan.toString
    assert(plan.contains("graft_normalize_rows") && plan.startsWith("*("), plan)
  }

  test("the kernel is one expression: no lambda in normalize's plan") {
    val spec = eventSpecs.find(_._1 == "nested and crossed lists").get._2
    val plan = Normalizer.normalize(events, spec).queryExecution.optimizedPlan
    assert(!plan.toString.contains("lambdafunction"), plan)
    assert(plan.toString.contains("graft_normalize_rows"), plan)
    assert(StructType(Normalizer.normalizedSchema(events.schema, spec)
      .map(_.copy(nullable = true))) == Normalizer.normalize(events, spec).schema)
  }
}
