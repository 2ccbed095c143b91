package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Apply operators (SURVEY.md §2.3). The reference implements these
  * as single-node hash joins (InnerJoinExecutor.cpp:12-70 picks the
  * smaller side as build); on Spark the join *strategy* belongs to
  * Catalyst/AQE (broadcast for small sides, sort-merge/shuffled-hash
  * otherwise), so these only pin semantics. Inner, left and cross
  * joins are plain `join`/`crossJoin` calls.
  */
object Apply {

  /** RollUpApply (RollUpApplyExecutor.cpp:15-70): for each left row,
    * collect the matching right-side values into a list column — the
    * pattern-comprehension operator `[(v)-->(x) | x.prop]`. Rows with no
    * match get an EMPTY list (the reference hash-map default,
    * RollUpApplyExecutor.cpp:40-57), hence coalesce(…, array()).
    *
    * Physical: group the right side FIRST (map-side combine shrinks it
    * to one row per key) then left-broadcast/shuffle join — never a
    * row-by-row correlated probe. */
  def rollUpApply(left: DataFrame, right: DataFrame, keys: Seq[String],
                  collectCol: Column, as: String): DataFrame = {
    val grouped = right.groupBy(keys.map(col): _*)
      .agg(collect_list(collectCol).as(as))
    left.join(grouped, keys, "left_outer")
      .withColumn(as, coalesce(col(as), array()))
  }

  /** Sorted-list variant for deterministic output (testing/oracles). */
  def rollUpApplySorted(left: DataFrame, right: DataFrame, keys: Seq[String],
                        collectCol: Column, as: String): DataFrame =
    rollUpApply(left, right, keys, collectCol, as)
      .withColumn(as, sort_array(col(as)))

  /** PatternApply (PatternApplyExecutor.cpp:15): keep left rows where a
    * pattern match exists (semi) or does not (anti) — `WHERE
    * (v)-[:like]->(x)` predicates. */
  def patternApply(left: DataFrame, right: DataFrame, keys: Seq[String],
                   anti: Boolean = false): DataFrame =
    left.join(right.select(keys.map(col): _*).distinct(), keys,
      if (anti) "left_anti" else "left_semi")
}
