package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Narrow bridge into `private[sql]`/`private[spark]` surface. Three
  * purposes:
  *
  * 1. Stripping ORIGIN STATISTICS from checkpointed frames.
  * `Dataset.checkpoint`/`localCheckpoint` wrap the materialized RDD in
  * a `LogicalRDD` that CARRIES the pre-checkpoint plan's estimated
  * `Statistics`. In an iterative algorithm the round-r state is a
  * checkpoint whose stats are a PRODUCT over the round's join tree of
  * the round-(r-1) checkpoint's stats — so the estimated sizeInBytes
  * compounds geometrically in the number of per-round self-references.
  * For a join-heavy loop (Louvain references its assignment ~18 times
  * per round) the estimate reaches millions of DIGITS within a few
  * rounds and Catalyst's size estimator burns unbounded CPU in
  * BigInteger multiplication during every planning pass (observed:
  * multi-level Louvain planning-hung at level 2). The stripped frame
  * keeps the SAME checkpointed RDD — only `originStats` is dropped.
  *
  * 2. Re-adopting the EXECUTED plan's physical layout. Under adaptive
  * execution, `Dataset.localCheckpoint` copies the partitioning of the
  * un-executed `AdaptiveSparkPlanExec` wrapper — `UnknownPartitioning`
  * — into the LogicalRDD, so EVERY iterative loop's per-round state
  * checkpoint forgets that it is hash-partitioned (and sorted) on its
  * join/aggregation key and the next round re-exchanges + re-sorts it
  * (diagnosed round 13, adoption deferred pending a width gate). The
  * checkpointed RDD's partitions ARE the executed plan's partitions,
  * so when the checkpoint's partitioning is Unknown we rebuild the
  * LogicalRDD with the executed adaptive plan's true partitioning and
  * ordering — but ONLY when that layout is at least `minWidth`
  * partitions wide: AQE coalesces a small state's exchange to a
  * handful of partitions, and adopting a 2-wide layout makes the next
  * round's whole aggregation pipeline run 2-wide instead of at full
  * parallelism (measured round 13: louvain_ml 19 → 26 s with
  * unconditional adoption at sf0.1). At cluster scale the states stay
  * wide and the per-round state-side exchange elides outright.
  * Safety: adopted expressions must reference only the LogicalRDD's
  * own output attributes (exprIds are shared with the logical plan;
  * anything else — e.g. a layout keyed on a pruned column — is
  * skipped).
  *
  * 3. Freeing a superseded local checkpoint without the WARN that
  * `RDD.unpersist` logs for every locally checkpointed RDD (its
  * lineage is truncated, so it cannot be recomputed) — the loops free
  * such states on purpose, once per round, and the warning buried the
  * logs. */
object InternalBridge {
  /** Drop `rdd`'s blocks without blocking. A local checkpoint (one
    * with no checkpoint file) goes straight to
    * `SparkContext.unpersistRDD`, the call `unpersist` makes after its
    * warning; every other RDD (reliable checkpoints, plain caches)
    * takes the public path unchanged. */
  def unpersist(rdd: RDD[_]): Unit =
    if (rdd.isCheckpointed && rdd.getCheckpointFile.isEmpty)
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false)

  def stripOriginStats(df: DataFrame): DataFrame =
    rebuild(df, None, 0)

  /** stripOriginStats + layout adoption from `pre` (the pre-checkpoint
    * frame whose QueryExecution just ran) gated on `minWidth`. */
  def stripAndAdoptLayout(df: DataFrame, pre: DataFrame,
                          minWidth: Int): DataFrame =
    rebuild(df, Some(pre), minWidth)

  private def rebuild(df: DataFrame, pre: Option[DataFrame],
                      minWidth: Int): DataFrame =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        var part = l.outputPartitioning
        var ord = l.outputOrdering
        if (part.isInstanceOf[UnknownPartitioning] && pre.isDefined) {
          val out = AttributeSet(l.output)
          val ep = pre.get.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          }
          ep.outputPartitioning match {
            // HashPartitioning only: it is the one layout the loops'
            // joins/aggregations can reuse, and its row→partition map
            // is a pure function of the row (range bounds or single-
            // partition layouts gain nothing here)
            // the layout must describe the checkpointed RDD itself:
            // same partition count, keyed on its own attributes
            case h: HashPartitioning
                if h.numPartitions >= minWidth &&
                  h.numPartitions == l.rdd.getNumPartitions &&
                  h.references.subsetOf(out) =>
              part = h
              val o = ep.outputOrdering
              if (o.nonEmpty && o.forall(_.references.subsetOf(out)))
                ord = o
            case _ => ()
          }
        }
        // same RDD; originStats + constraints revert to None (second
        // parameter list defaults)
        Dataset.ofRows(df.sparkSession.asInstanceOf[ClassicSession],
          new LogicalRDD(l.output, l.rdd, part, ord,
            l.isStreaming, l.stream)(
            df.sparkSession.asInstanceOf[ClassicSession]))
      case _ => df
    }
}
