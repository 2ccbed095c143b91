package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Apply, Relational => R}
import graft.functions.Fn.roundPortable

/** SparkEntry registrations for the core relational operator pack
  * (SURVEY.md §2.2/§2.3/§2.4/§2.7) with DuckDB oracle twins.
  *
  * Conventions shared with the oracles:
  *  - every computed column is aliased identically on both sides;
  *  - counts are BIGINT on both sides (DuckDB sum/len are cast);
  *  - double aggregates are rounded so partition-order nondeterminism
  *    can't flip a hash compare;
  *  - "random" sampling is md5-ordered so the oracle can replay it.
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) =
    Tables.load(s, dir, name)

  val queries: Map[String, Q] = Map(
    // Project (ProjectExecutor.cpp:13): expression list → columns
    "q_project" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        roundPortable(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("net"))),

    // Filter truthiness (FilterExecutor.cpp:13)
    "q_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // Dedup (DedupExecutor.cpp:12)
    "q_dedup" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()),

    // TopN = sort+offset+limit fused (TopNExecutor.cpp:12-60)
    "q_topn" -> ((s, dir) =>
      R.topN(t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        100, 5, col("o_totalprice").desc, col("o_orderkey"))),

    // Limit with offset (LimitExecutor.cpp:12) over a unique sort key
    "q_limit_offset" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey")).orderBy(col("o_orderkey"))
        .offset(10).limit(50)),

    // Sample (SampleExecutor.cpp:12-33), deterministic md5 order
    "q_sample" -> ((s, dir) =>
      R.sampleDeterministic(t(s, dir, "documents").select(col("doc_id")),
        20, col("doc_id"))),

    // per-key sample (GetNeighbors per-vertex edge sample)
    "q_sample_per_key" -> ((s, dir) =>
      R.samplePerKey(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber")),
        col("l_orderkey"), 2, col("l_linenumber"))),

    // Aggregate (AggregateExecutor.cpp:12-99): hash agg, all 6 numeric fns
    "q_aggregate" -> ((s, dir) =>
      R.aggregate(t(s, dir, "lineitem"),
        Seq(col("l_returnflag"), col("l_linestatus")),
        Seq(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          roundPortable(avg(col("l_quantity")), 4).as("avg_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          roundPortable(stddev_pop(col("l_quantity")), 3).as("std_qty")))),

    // empty-input global agg defaults (AggregateExecutor.cpp:36-58):
    // one row, count→0, sum→0 (reference semantics via sum0), avg→null
    "q_agg_empty" -> ((s, dir) =>
      R.aggregate(t(s, dir, "lineitem").filter(col("l_orderkey") < 0),
        Seq.empty,
        Seq(count(lit(1)).as("cnt"),
          R.sum0d(col("l_quantity")).as("sum_qty"),
          avg(col("l_quantity")).as("avg_qty")))),

    // DISTINCT agg variants + COLLECT_SET (AggFunctionManager.cpp)
    "q_agg_distinct" -> ((s, dir) =>
      R.aggregate(t(s, dir, "lineitem"),
        Seq(col("l_returnflag")),
        Seq(countDistinct(col("l_suppkey")).as("supp_cnt"),
          round(sum_distinct(col("l_quantity")), 2).as("sum_dq"),
          array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses")))),

    // InnerJoin (InnerJoinExecutor.cpp:12)
    "q_inner_join" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .withColumnRenamed("o_custkey", "c_custkey")
        .join(t(s, dir, "customer"), Seq("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_name"))),

    // LeftJoin (LeftJoinExecutor.cpp:14) — customers w/o orders keep null
    "q_left_join" -> ((s, dir) =>
      t(s, dir, "customer").filter(col("c_custkey") <= 200)
        .select(col("c_custkey"))
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey"), col("o_orderkey")),
          Seq("c_custkey"), "left_outer")
        .select(col("c_custkey"), col("o_orderkey"))),

    // CrossJoin (CartesianProductExecutor.cpp:13)
    "q_cross_join" -> ((s, dir) =>
      t(s, dir, "region").select(col("r_name"))
        .crossJoin(t(s, dir, "orders").select(col("o_orderstatus")).distinct())),

    // RollUpApply = pattern comprehension (RollUpApplyExecutor.cpp:15-70):
    // empty-match rows get an empty list, output joined for stability
    "q_rollup_apply" -> ((s, dir) =>
      Apply.rollUpApplySorted(
          t(s, dir, "customer").filter(col("c_custkey") <= 100)
            .select(col("c_custkey")),
          t(s, dir, "orders").select(col("o_custkey").as("c_custkey"), col("o_orderpriority")),
          Seq("c_custkey"), col("o_orderpriority"), "prios")
        .select(col("c_custkey"), array_join(col("prios"), ",").as("prios"))),

    // PatternApply semi (PatternApplyExecutor.cpp:15)
    "q_pattern_semi" -> ((s, dir) =>
      Apply.patternApply(
          t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
          t(s, dir, "orders").filter(col("o_totalprice") > 400000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"))),

    // PatternApply anti (isAntiPred)
    "q_pattern_anti" -> ((s, dir) =>
      Apply.patternApply(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), anti = true)),

    // Set ops (SetExecutor.cpp): distinct semantics both sides
    "q_union" -> ((s, dir) =>
      R.unionDistinct(
        t(s, dir, "customer").select(col("c_nationkey").as("nk")),
        t(s, dir, "supplier").select(col("s_nationkey").as("nk")))),
    "q_intersect" -> ((s, dir) =>
      R.intersect(
        t(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct(),
        t(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct())),
    "q_minus" -> ((s, dir) =>
      R.minus(
        t(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct(),
        t(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct())),

    // Unwind (UnwindExecutor.cpp:12-52): list → rows, input row kept
    "q_unwind" -> ((s, dir) =>
      R.unwind(
          t(s, dir, "part").filter(col("p_partkey") <= 200)
            .select(col("p_partkey"), split(col("p_name"), " ").as("words")),
          col("words"), "word")
        .select(col("p_partkey"), col("word"))),

    // Value literal source (ValueExecutor.cpp:14)
    "q_value" -> ((s, _) =>
      R.value(s, "two" -> lit(2L), "s" -> lit("x"), "f" -> lit(1.5)))
  )

  val oracleSql: Map[String, String] = Map(
    "q_project" ->
      "SELECT l_orderkey, l_linenumber, floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) / 10000.0 AS net FROM lineitem",
    "q_filter" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'",
    "q_dedup" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q_topn" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET 5",
    "q_limit_offset" ->
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 10",
    "q_sample" ->
      "SELECT doc_id FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 20",
    "q_sample_per_key" ->
      """SELECT l_orderkey, l_linenumber FROM (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY md5(CAST(l_linenumber AS VARCHAR))) AS INTEGER) AS rn
        |  FROM lineitem) WHERE rn <= 2""".stripMargin,
    "q_aggregate" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        |       floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |       floor(stddev_pop(l_quantity) * 1000.0 + 0.5) / 1000.0 AS std_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_empty" ->
      """SELECT count(*) AS cnt, CAST(coalesce(sum(l_quantity), 0) AS DOUBLE) AS sum_qty,
        |       avg(l_quantity) AS avg_qty
        |FROM lineitem WHERE l_orderkey < 0""".stripMargin,
    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS supp_cnt,
        |       round(CAST(sum(DISTINCT l_quantity) AS DOUBLE), 2) AS sum_dq,
        |       string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_inner_join" ->
      """SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000""".stripMargin,
    "q_left_join" ->
      """SELECT c_custkey, o_orderkey FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey <= 200""".stripMargin,
    "q_cross_join" ->
      "SELECT r_name, o_orderstatus FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)",
    "q_rollup_apply" ->
      """SELECT c_custkey, coalesce(string_agg(o_orderpriority, ',' ORDER BY o_orderpriority), '') AS prios
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey <= 100 GROUP BY c_custkey""".stripMargin,
    "q_pattern_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,
    "q_pattern_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_union" ->
      "SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey AS nk FROM supplier",
    "q_intersect" ->
      "SELECT DISTINCT c_nationkey AS nk FROM customer INTERSECT SELECT DISTINCT s_nationkey AS nk FROM supplier",
    "q_minus" ->
      "SELECT DISTINCT c_nationkey AS nk FROM customer EXCEPT SELECT DISTINCT s_nationkey AS nk FROM supplier",
    "q_unwind" ->
      "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part WHERE p_partkey <= 200",
    "q_value" ->
      "SELECT CAST(2 AS BIGINT) AS two, 'x' AS s, CAST(1.5 AS DOUBLE) AS f"
  )
}
