package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded generator for the query fixtures: the ten tables
  * `graft.Tables` loads, with its pinned schemas and the value shapes
  * of the repo's TPC-H-like fixtures (key ranges, categorical domains,
  * date spans, a 30-word document vocabulary with exact and near
  * duplicates, 64-dim unit embeddings around 10 label centres).
  * Every value is a hash of (row id, column salt, seed), so the same
  * seed writes the same tables. Row counts scale with `sf` like the
  * fixtures: lineitem is 6M × sf rows. */
object DataGen {
  /** One writer task per table; run them with [[Parallel.run]].
    * `minText` floors the documents and embeddings row counts. */
  def tables(spark: SparkSession, dir: String, sf: Double, seed: Long,
      minText: Long): Seq[() => Unit] = {
    def n(base: Double, min: Long = 1): Long = math.max(min, (base * sf).round)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLine = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000); val nDocs = n(50000, minText); val nEmbs = n(20000, minText)

    def h(salt: Any, key: String = "id") = s"xxhash64($key, $salt, ${seed}L)"
    def r(salt: Any, m: Long, key: String = "id") = s"pmod(${h(salt, key)}, ${m}L)"
    def pick(salt: Any, values: String*) =
      s"element_at(array(${values.map("'" + _ + "'").mkString(",")}), " +
        s"cast(${r(salt, values.size)} as int) + 1)"
    def money(salt: Any, lo: Double, hi: Double) =
      s"round(${lo}D + ${r(salt, ((hi - lo) * 100).round)} / 100D, 2)"
    def orderDate(key: String) =
      s"date_add(date'1995-01-01', cast(${r(4, 2404, key)} as int))"

    def save(name: String, df: => DataFrame): () => Unit = () =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def table(name: String, rows: Long, cols: String*): () => Unit =
      save(name, spark.range(rows).selectExpr(cols: _*))

    // events arrive in event_id order over January 2024
    val stepUs = 30L * 86400L * 1000000L / nEvents
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort",
      "spark", "stream", "table", "the", "value", "vector", "window")
    def text(key: String) =
      s"array_join(transform(sequence(1, 10 + cast(${r(20, 91, key)} as int)), " +
        s"j -> element_at(array(${vocab.map("'" + _ + "'").mkString(",")}), " +
        s"cast(pmod(xxhash64($key, j, 21, ${seed}L), 30) as int) + 1)), ' ')"
    def unit(key: String, salt: Int) =
      s"(pmod(xxhash64($key, d, $salt, ${seed}L), 2001) - 1000) / 1000D"

    Seq(table("region", 5, "cast(id as int) r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), " +
        "cast(id as int) + 1) r_name"),
    table("nation", 25, "cast(id as int) n_nationkey",
      "concat('NATION_', id) n_name", "cast(id % 5 as int) n_regionkey"),
    table("customer", nCust, "id c_custkey",
      "format_string('Customer#%09d', id) c_name",
      s"cast(${r(1, 25)} as int) c_nationkey",
      s"${money(2, -999.99, 9999.99)} c_acctbal",
      s"${pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")} c_mktsegment"),
    table("supplier", nSupp, "id s_suppkey",
      "format_string('Supplier#%09d', id) s_name",
      s"cast(${r(1, 25)} as int) s_nationkey",
      s"${money(2, -999.99, 9999.99)} s_acctbal"),
    table("part", nPart, "id p_partkey",
      s"concat(${pick(1, "blue", "old", "small", "new", "large", "hot", "cold", "red")}, ' ', " +
        s"${pick(2, "widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")}) p_name",
      s"concat('Brand#', ${r(3, 25)} + 1) p_brand",
      s"${pick(4, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")} p_type",
      s"cast(${r(5, 50)} + 1 as int) p_size",
      "900D + (id % 1000) / 10D p_retailprice"),
    table("orders", nOrders, "id o_orderkey", s"${r(1, nCust)} o_custkey",
      s"${pick(2, "F", "O", "P")} o_orderstatus",
      s"${money(3, 1000.0, 500000.0)} o_totalprice",
      s"cast(${orderDate("id")} as timestamp_ntz) o_orderdate",
      s"${pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")} o_orderpriority"),
    save("lineitem", spark.range(nLine).selectExpr("id",
      s"${r(1, nOrders)} l_orderkey").selectExpr("l_orderkey",
      s"${r(2, nPart)} l_partkey", s"${r(3, nSupp)} l_suppkey",
      s"cast(${r(4, 7)} + 1 as int) l_linenumber",
      s"cast(${r(5, 50)} + 1 as double) l_quantity",
      s"${money(6, 900.0, 105000.0)} l_extendedprice",
      s"${r(7, 11)} / 100D l_discount", s"${r(8, 9)} / 100D l_tax",
      s"${pick(9, "A", "N", "R")} l_returnflag",
      s"${pick(10, "F", "O")} l_linestatus",
      s"cast(date_add(${orderDate("l_orderkey")}, cast(${r(11, 95)} as int) + 1) " +
        "as timestamp_ntz) l_shipdate")),
    table("events", nEvents, "id event_id",
      s"cast(timestamp_micros(1704067200000000 + id * $stepUs + ${r(1, stepUs)}) " +
        "as timestamp_ntz) ts",
      s"${r(2, nUsers)} user_id",
      s"${pick(3, "click", "view", "purchase", "signup", "error")} event_type",
      s"round(-ln(1D - ${r(4, 1000000)} / 1000000D) * 50D, 2) value",
      s"concat('{\"k\": ', ${r(5, 100)}, '}') props"),
    // 5% near duplicates (an earlier document plus " dup"), a few exact
    // duplicates, the rest fresh text of 10..100 vocabulary words
    save("documents", spark.range(nDocs).selectExpr("id",
      s"CASE WHEN id > 0 AND ${r(22, 20)} = 0 THEN 'near' " +
        s"WHEN id > 0 AND ${r(23, 400)} = 0 THEN 'exact' ELSE 'fresh' END kind",
      s"id - 1 - pmod(${h(24)}, greatest(least(id, 50), 1)) src")
      .selectExpr("id doc_id",
        s"CASE kind WHEN 'near' THEN concat(${text("src")}, ' dup') " +
          s"WHEN 'exact' THEN ${text("src")} ELSE ${text("id")} END text",
        s"CASE WHEN ${r(25, 100)} < 40 THEN 'en' ELSE ${pick(26, "de", "es", "fr", "zh")} END lang",
        "concat('src', id % 20) source")
      .selectExpr("*", "cast(length(text) as bigint) n_chars")),
    save("embeddings", spark.range(nEmbs).selectExpr("id vec_id",
      s"cast(${r(1, 10)} as int) label")
      .selectExpr("vec_id", "label",
        s"transform(sequence(0, 63), d -> ${unit("label", 30)} + 0.35 * ${unit("vec_id", 31)}) v")
      .selectExpr("vec_id",
        "transform(v, x -> cast(x / sqrt(aggregate(v, 0D, (acc, y) -> acc + y * y)) as float)) embedding",
        "label")))
  }
}
