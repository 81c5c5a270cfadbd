package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q1Agg(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Construction contract: `queries(name)(spark, dir)` is USUALLY a
    * pure plan constructor, but ops whose plan SHAPE depends on data
    * run bounded jobs at construction time — the capped dedup family
    * (the dropHotKeys probe: one aggregate, memoized per canonical
    * plan so identical re-constructions run ZERO jobs — suite-pinned),
    * the iterative ops (dedupClusters' convergence loop), and the
    * TRAINER class whose construction runs a whole fit: llm_bpe_train
    * / llm_bpe_encode (one job per merge round), llm_quality_model
    * (the LBFGS fit), llm_ann_ivf* (KMeans / the bounded
    * lowestIdCentroids + codebook collects). Memoized construction
    * jobs go through [[graft.plans.PlanMemo]], whose scaladoc holds
    * the staleness caveat (inputs rewritten in place under an equal
    * plan serve the old artifact). dedupClusters' bounded probe
    * (≤ 200k pairs by default) is deliberately NOT memoized and runs
    * on every construction: its labels are query results, not a
    * trained artifact. Plan-only tooling should construct once and
    * reuse the returned frame. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.all ++ OperatorQueries.all ++ LlmQueries.all
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ OperatorQueries.oracles ++
      LlmQueries.oracles
}
