package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Memo for a job an operator runs while its query is BUILT — a probe
  * whose result picks the plan shape, a sketch, a trained artifact.
  * `memo(df, params*)(build)` runs `build` once per (plan, params) per
  * JVM, so re-constructing the same query (Bench passes, Verify after
  * a suite, repeated `SparkEntry.queries(name)(...)` calls) runs no
  * job.
  *
  *  - Key: `df.queryExecution.analyzed.canonicalized` (structural,
  *    exprId-normalized) plus `params`.
  *  - Bound: an access-ordered LRU of `maxEntries`; eviction drops only
  *    the least-recently-used key, never the whole memo.
  *  - Single flight: one lock is held while `build` runs, so racing
  *    constructions of one key run it once — at the price of running
  *    this memo's construction-time jobs one at a time.
  *  - Staleness: inputs are assumed immutable between identical
  *    constructions. A changed path is a different plan, but files
  *    rewritten in place under a canonically-equal plan within one JVM
  *    get the value built from the old data. Use a fresh session or a
  *    new path after rewriting inputs.
  *
  * A `build` that throws caches nothing. */
final class PlanMemo[V](maxEntries: Int) {
  private type Key = (LogicalPlan, Seq[Any])
  private val entries: java.util.Map[Key, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[Key, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Key, V])
            : Boolean = this.size() > maxEntries
      })

  def apply(df: DataFrame, params: Any*)(build: => V): V =
    entries.computeIfAbsent(
      (df.queryExecution.analyzed.canonicalized, params), _ => build)

  def size: Int = entries.size()
}
