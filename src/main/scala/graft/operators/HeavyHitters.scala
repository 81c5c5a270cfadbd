package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{MgSummary, MisraGriesAgg}

/** EXACT frequent-items ("heavy hitters") above a 1/m frequency
  * threshold, without ever shuffling the long tail — the two-pass
  * sketch-then-verify pattern that replaces a full
  * `GROUP BY key HAVING count(*) ≥ n/m` at 100 TB:
  *
  *  1. one map-only pass folds every partition into a Misra–Gries
  *     summary of k ≥ m counters ([[graft.functions.MisraGriesAgg]];
  *     merged summary ≤ k candidate keys + the exact total n). The MG
  *     guarantee (undercount ≤ n/(k+1) < n/m) means the candidate set
  *     provably contains EVERY item with true count ≥ n/m — recall 1.0
  *     by construction, whatever the partitioning;
  *  2. a second pass filters the input to the ≤ k candidates with a
  *     literal hash-set (`isin` → InSet, fused into the scan — rows
  *     outside the candidate set die map-side, so the exact count's
  *     shuffle carries at most k distinct keys instead of the full key
  *     domain) and counts those exactly; `cnt · m ≥ n` then drops the
  *     sketch's false positives.
  *
  * The output is therefore EXACT and partitioning-independent even
  * though the intermediate sketch is neither: sketch nondeterminism
  * only varies which sub-threshold extras get exactly counted and then
  * filtered out. Contrast with the plain groupBy: partial aggregation
  * still shuffles one row per distinct key per partition — on a
  * heavy-tailed 100 TB key domain that is the dominant cost, and it is
  * exactly the traffic pass 2's InSet avoids.
  *
  * Like [[graft.llm.Dedup.dropHotKeys]], the sketch pass is an eager
  * job at plan-construction time (the candidate literals must exist
  * before the second pass can be planned), memoized per canonicalized
  * input plan so repeated constructions of the same query pay it once
  * per JVM — a 64-entry [[graft.plans.PlanMemo]], whose staleness
  * caveat applies: a summary served from old data no longer guarantees
  * candidate recall against the new data. NULL items are ignored
  * (excluded from both n and the output). Driver memory is bounded by
  * 64 · k entries (~item bytes + 8).
  *
  * `m` is the threshold denominator (report items with frequency
  * ≥ 1/m); `k` is the sketch width, k ≥ m required for the recall
  * guarantee, larger k = fewer exactly-counted false positives.
  */
object HeavyHitters {

  private val sketchMemo = new graft.plans.PlanMemo[MgSummary](64)

  private[operators] def sketchCacheSize: Int = sketchMemo.size

  /** Exact items of `itemCol` with count · m ≥ total, as
    * (term, cnt). */
  def frequentItems(df: DataFrame, itemCol: String, m: Int,
      k: Int = 0): DataFrame = {
    val kk = if (k > 0) k else 2 * m
    require(kk >= m,
      s"sketch width k=$kk must be >= threshold denominator m=$m " +
        "(the n/(k+1) undercount bound must sit below the n/m threshold)")
    val items = df.select(col(itemCol).cast("string").as("item"))
    val summary = sketchMemo(items, kk)(
      items.select(MisraGriesAgg.mg_sketch(col("item"), kk).as("s"))
        .selectExpr("s.n AS n", "s.entries AS entries")
        .as[MgSummary](org.apache.spark.sql.Encoders.product[MgSummary])
        .head())
    // Candidates with est · m + n/(k+1) < n cannot reach the exact
    // threshold (est ≥ true − n/(k+1)) — but keeping the prune purely
    // in pass 2 keeps pass 1's result reusable across thresholds, and
    // the InSet is O(k) either way; pass every surviving counter.
    val cands = summary.entries.map(_.item)
    val spark = df.sparkSession
    if (cands.isEmpty) {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[
          org.apache.spark.sql.Row],
        StructType(Seq(StructField("term", StringType),
          StructField("cnt", LongType))))
    } else {
      items.where(col("item").isin(cands: _*))
        .groupBy(col("item").as("term"))
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * lit(m.toLong) >= lit(summary.n))
    }
  }

  private val groupSketchMemo =
    new graft.plans.PlanMemo[Array[(String, MgSummary)]](64)

  /** Exact PER-GROUP frequent items — the corpus-audit form (frequent
    * tokens per language, frequent URLs per domain): for each group of
    * `keyCol`, the items of `itemCol` with count · m ≥ that GROUP's
    * total. Same two-pass shape as [[frequentItems]], applied
    * group-wise:
    *
    *  1. ONE partial-aggregated pass folds each group into its own
    *     Misra–Gries summary (`groupBy(key).agg(mg_sketch)` — hot
    *     groups collapse map-side like any aggregate); per group the
    *     MG guarantee gives candidate recall 1.0 against that group's
    *     n_g/m threshold.
    *  2. the ≤ |groups| · k (group, candidate, n_g) triples come back
    *     as a BROADCAST local relation; the exact pass joins the input
    *     against it (rows outside any group's candidate set die
    *     map-side) and `cnt · m ≥ n_g` drops the sketch's false
    *     positives.
    *
    * The driver-side collect grows with |groups| · k, so it is
    * BOUNDED: more than `maxGroups` distinct keys fails loudly with
    * the remedy (the dropHotKeys bounded-probe discipline — a silent
    * cap would silently lose groups). Output: (keyCol, term, cnt),
    * key and item read back as strings. NULL keys and NULL items are
    * excluded (group-wise mirror of the ungrouped NULL contract).
    * Exact and partitioning-independent per the [[frequentItems]]
    * argument applied per group. The sketch pass is an eager
    * construction-time job, memoized like [[frequentItems]]'s. */
  def frequentItemsByKey(df: DataFrame, keyCol: String, itemCol: String,
      m: Int, k: Int = 0, maxGroups: Int = 1024): DataFrame = {
    val kk = if (k > 0) k else 2 * m
    require(kk >= m,
      s"sketch width k=$kk must be >= threshold denominator m=$m " +
        "(the n_g/(k+1) undercount bound must sit below the n_g/m " +
        "threshold in every group)")
    require(maxGroups >= 1, s"maxGroups=$maxGroups must be >= 1")
    val pairs = df.select(col(keyCol).cast("string").as("__gkey"),
        col(itemCol).cast("string").as("__item"))
      .where(col("__gkey").isNotNull)
    val summaries = groupSketchMemo(pairs, kk, maxGroups) {
      val enc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.product[MgSummary])
      // limit(cap + 1): complete under the cap, a cheap overflow
      // signal over it (which groups arrive is then irrelevant —
      // the call refuses below)
      pairs.groupBy(col("__gkey"))
        .agg(MisraGriesAgg.mg_sketch(col("__item"), kk).as("s"))
        .select(col("__gkey"), struct(col("s.n").as("n"),
          col("s.entries").as("entries")).as("s"))
        .limit(maxGroups + 1)
        .as[(String, MgSummary)](enc)
        .collect()
    }
    if (summaries.length > maxGroups)
      throw new IllegalArgumentException(
        s"frequentItemsByKey: more than maxGroups=$maxGroups distinct " +
          s"'$keyCol' groups — the per-group sketch collect is " +
          "driver-bounded by |groups| * k entries; raise maxGroups " +
          "(driver memory permitting) or reduce the key domain " +
          "upstream (filter the keys, or pre-aggregate rare groups)")
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    if (summaries.forall(_._2.entries.isEmpty)) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField(keyCol, StringType),
          StructField("term", StringType),
          StructField("cnt", LongType))))
    } else {
      val cands = summaries.flatMap { case (g, s) =>
        s.entries.map(e => org.apache.spark.sql.Row(g, e.item, s.n)) }
      val local = spark.createDataFrame(
        java.util.Arrays.asList(cands: _*),
        StructType(Seq(
          StructField("__ckey", StringType, nullable = false),
          StructField("__citem", StringType, nullable = false),
          StructField("__n", LongType, nullable = false))))
      pairs.join(broadcast(local),
          col("__gkey") === col("__ckey") &&
            col("__item") === col("__citem"))
        .groupBy(col("__gkey"), col("__item"), col("__n"))
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * lit(m.toLong) >= col("__n"))
        .select(col("__gkey").as(keyCol), col("__item").as("term"),
          col("cnt"))
    }
  }
}
