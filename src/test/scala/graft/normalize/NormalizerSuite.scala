package graft.normalize

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

// FIXTURES.md §B synthetic nested schema, mirroring the reference's
// documented normalizer spec (/root/reference/README.md:45-47,111-131).
case class Deal(id: String, price: Double)
case class Site(id: String)
case class Ts(seconds: Long, nanos: Int)
case class Pmp(deals: Seq[Deal])
case class Imp(pmp: Pmp)
case class Gallery(deals: Seq[Deal])
case class Store(gallery: Gallery)
case class BidEvent(id: String, site: Site, timestamp: Ts,
    imp: Seq[Imp], stores: Seq[Store])

class NormalizerSuite extends SparkSpec {
  import spark.implicits._

  def ev(id: String, deals: Seq[Deal], imps: Seq[Imp] = Nil): BidEvent =
    BidEvent(id, Site(s"site-$id"), Ts(id.hashCode.toLong, 7),
      imps, Seq(Store(Gallery(deals))))

  val fixture = Seq(
    ev("a", Seq(Deal("d1", 1.0), Deal("d2", 2.0))),
    ev("b", Nil), // empty deals list → one NULL row
    ev("c", Seq(Deal("d3", 3.0))))

  test("dotted paths project nested scalars, aliases rename") {
    val out = Normalizer.normalize(fixture.toDF(),
      NormalizerSpec(Seq("id", "site.id", "timestamp.seconds"),
        Seq("id", "site", "event_time")))
    assert(out.columns.toSeq == Seq("id", "site", "event_time"))
    val rows = out.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSet == Set(("a", "site-a"), ("b", "site-b"), ("c", "site-c")))
  }

  test("un-indexed list fans out per element; empty list gives one NULL row") {
    val out = Normalizer.normalize(fixture.toDF(),
      NormalizerSpec(
        Seq("id", "stores[0].gallery.deals.id", "stores[0].gallery.deals.price"),
        Seq("id", "deal", "deal_price")))
    val rows = out.collect()
      .map(r => (r.getString(0), Option(r.getString(1)), Option(r.get(2))))
    // row count law: Σ max(1, |deals|) = 2 + 1 + 1
    assert(rows.length == 4)
    assert(rows.toSet == Set(
      ("a", Some("d1"), Some(1.0)), ("a", Some("d2"), Some(2.0)),
      ("b", None, None), // empty list ⇒ single NULL row, scalars repeated
      ("c", Some("d3"), Some(3.0))))
  }

  test("indexed access out of range: lenient NULL, strict error") {
    val df = fixture.toDF()
    val lenient = Normalizer.normalize(df,
      NormalizerSpec(Seq("id", "stores[0].gallery.deals[1].id"),
        Seq("id", "second_deal")))
    val m = lenient.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(m == Map("a" -> Some("d2"), "b" -> None, "c" -> None))

    val strict = Normalizer.normalize(df,
      NormalizerSpec(Seq("id", "stores[0].gallery.deals[1].id"),
        Seq("id", "second_deal"), failOnRangeError = true))
    val e = intercept[Exception](strict.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("range error")))
  }

  test("nested un-indexed lists chain explodes (imp[].pmp.deals[])") {
    val data = Seq(
      ev("x", Nil, Seq(Imp(Pmp(Seq(Deal("i1", 1), Deal("i2", 2)))),
                       Imp(Pmp(Nil)))),
      ev("y", Nil, Nil))
    val out = Normalizer.normalize(data.toDF(),
      NormalizerSpec(Seq("id", "imp.pmp.deals.id"), Seq("id", "deal")))
    val rows = out.collect().map(r => (r.getString(0), Option(r.getString(1))))
    // x: imp1 → i1,i2; imp2 → null row. y: no imps → null row.
    assert(rows.toSet == Set(("x", Some("i1")), ("x", Some("i2")),
      ("x", None), ("y", None)))
    assert(rows.length == 4)
  }

  test("default aliases derived from paths") {
    val spec = NormalizerSpec(Seq("site.id", "stores[0].gallery.deals.id"))
    assert(spec.outputNames == Seq("site_id", "stores0_gallery_deals_id"))
  }

  test("output names that collide are refused up front, naming both fields") {
    def refused(spec: => NormalizerSpec, a: String, b: String): Unit = {
      val e = intercept[IllegalArgumentException](spec)
      assert(e.getMessage.contains(s"'$a'") && e.getMessage.contains(s"'$b'"),
        e.getMessage)
    }
    refused(NormalizerSpec(Seq("event_id", "event_type"), Seq("x", "x")),
      "event_id", "event_type")
    // by derived name, and case-insensitively
    refused(NormalizerSpec(Seq("site.id", "site_id")), "site.id", "site_id")
    refused(NormalizerSpec(Seq("id", "site.id"), Seq("ID", "id")), "id", "site.id")
    assert(NormalizerSpec(Seq("id", "site.id"), Seq("id", "site")).outputNames ==
      Seq("id", "site"))
  }

  test("bad path reports the missing field") {
    val e = intercept[IllegalArgumentException] {
      Normalizer.normalize(fixture.toDF(),
        NormalizerSpec(Seq("site.nope"), Seq("x")))
    }
    assert(e.getMessage.contains("no field 'nope'"))
  }

  test("property: row-count law Σ max(1,|deals|) on random nested rows") {
    val dealGen = for {
      n <- Gen.choose(0, 4)
      ds <- Gen.listOfN(n, Gen.alphaStr.map(s => Deal(s.take(4), 1.0)))
    } yield ds
    val rowsGen = for {
      n <- Gen.choose(1, 12)
      deals <- Gen.listOfN(n, dealGen)
    } yield deals.zipWithIndex.map { case (d, i) => ev(s"e$i", d) }

    // Raw ScalaCheck sampling with a fixed seed (no scalatestplus bridge
    // in the offline cache) — deterministic across runs.
    (0 until 8).foreach { i =>
      val events = rowsGen.apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(Nil)
      val out = Normalizer.normalize(events.toDF(),
        NormalizerSpec(Seq("id", "stores[0].gallery.deals.id"),
          Seq("id", "deal")))
      val expected = events.map(e =>
        math.max(1, e.stores.head.gallery.deals.length)).sum
      assert(out.count() == expected, s"sample $i")
    }
  }
}
