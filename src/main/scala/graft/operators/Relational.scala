package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core relational operators (SURVEY.md §2.2/§2.4/§2.7) where the
  * reference's semantics diverge from raw Spark defaults: empty-input
  * agg defaults, set-op column rules, unwind scalar-wrap, reproducible
  * sampling. Project, Filter, Dedup, Sort and Limit are plain
  * DataFrame calls (`select`, `filter`, `distinct`, `orderBy`,
  * `offset`/`limit`) with identical semantics, so they have no
  * wrapper; Catalyst owns every physical plan (hash agg with partial
  * aggregation, TakeOrderedAndProject for TopN — SURVEY §4.2).
  */
object Relational {

  /** TopN = Sort + offset + limit fused (TopNExecutor.cpp:12-60).
    * Catalyst plans orderBy+limit as TakeOrderedAndProject — the same
    * bounded-heap algorithm, but distributed (per-partition heaps then
    * a driver merge), so no global sort materializes. */
  def topN(df: DataFrame, n: Int, offset: Int, keys: Column*): DataFrame = {
    val sorted = df.orderBy(keys: _*)
    if (offset > 0) sorted.offset(offset).limit(n) else sorted.limit(n)
  }

  /** Sample n rows (SampleExecutor.cpp:12-33). Deterministic variant:
    * pseudo-random order by md5 of a key — reproducible across runs and
    * engines (the oracle can replay it), which true rand() is not. */
  def sampleDeterministic(df: DataFrame, n: Int, key: Column): DataFrame =
    df.orderBy(md5(key.cast("string"))).limit(n)

  /** Random sample of ~n rows (non-reproducible, like the reference's
    * reservoir sample). */
  def sampleRandom(df: DataFrame, n: Int): DataFrame =
    df.orderBy(rand()).limit(n)

  /** Per-key sample: at most k rows per key (the per-vertex edge sample
    * of GetNeighbors). Deterministic md5 order. */
  def samplePerKey(df: DataFrame, key: Column, k: Int, tieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(key).orderBy(md5(tieBreak.cast("string")))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Aggregate (AggregateExecutor.cpp:12-99). Reference semantics:
    * - grouping is implicit: every non-aggregate YIELD item is a key;
    *   callers pass keys explicitly here (the planner's job);
    * - global aggregation over EMPTY input yields ONE row of
    *   agg-of-empty defaults (count→0, sum→0, others→null;
    *   AggregateExecutor.cpp:36-58). Spark's sum(empty)=null diverges →
    *   wrap sums in coalesce(sum, 0) via `sum0`.
    * Physical: Spark hash-aggregates with map-side partial agg — the
    * distributed upgrade of the reference's single-node hash map. */
  def aggregate(df: DataFrame, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** SUM with the reference's empty/all-null default of 0 (not null). */
  def sum0(c: Column): Column = coalesce(sum(c), lit(0L))
  def sum0d(c: Column): Column = coalesce(sum(c), lit(0.0))

  /** Set ops require identical column names (SetExecutor.cpp). */
  private def requireSameColumns(a: DataFrame, b: DataFrame): Unit =
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"set op column mismatch: ${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")

  /** UNION ALL (UnionExecutor.cpp:12); DISTINCT via .distinct() after,
    * matching the reference's Union+Dedup pairing. */
  def union(a: DataFrame, b: DataFrame): DataFrame = {
    requireSameColumns(a, b); a.unionByName(b)
  }
  def unionDistinct(a: DataFrame, b: DataFrame): DataFrame =
    union(a, b).distinct()

  /** INTERSECT — distinct semantics (IntersectExecutor.cpp:12). */
  def intersect(a: DataFrame, b: DataFrame): DataFrame = {
    requireSameColumns(a, b); a.intersect(b.select(a.columns.map(col): _*))
  }

  /** MINUS — distinct except (MinusExecutor.cpp:14). */
  def minus(a: DataFrame, b: DataFrame): DataFrame = {
    requireSameColumns(a, b); a.except(b.select(a.columns.map(col): _*))
  }

  /** Unwind (UnwindExecutor.cpp:12-52): explode a list column into rows,
    * keeping the input row. Reference semantics: a non-list scalar
    * unwinds to one row of itself; NULL unwinds to zero rows. Spark's
    * explode(null) already yields zero rows; scalar-wrap is the caller's
    * job via `wrapScalar` when the column's type is not an array. */
  def unwind(df: DataFrame, listCol: Column, as: String): DataFrame =
    df.withColumn(as, explode(listCol))

  /** Wrap a scalar column as a 1-element array (UNWIND scalar rule). */
  def wrapScalar(c: Column): Column = array(c)

  /** Value operator (ValueExecutor.cpp:14): literal single-row source. */
  def value(spark: org.apache.spark.sql.SparkSession, cols: (String, Column)*): DataFrame =
    cols.foldLeft(spark.range(1).select())((df, nc) => df.withColumn(nc._1, nc._2))
}
