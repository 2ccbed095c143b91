package graft.tools

import graft.{Harness, SparkEntry}

/** Plan auditor: `.explain("formatted")` for selected queries (or a
  * default audit set) — the loop for checking that filters reach the
  * parquet scan (PushedFilters), small sides broadcast, and operators
  * stay inside WholeStageCodegen. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_lookup", "q_filter", "q_inner_join", "q_aggregate",
        "q_go_1", "q_cosine_topk", "q_dedup_exact")
    // the session Bench builds (same core count, Tune-derived shuffle
    // partitions and AQE posture): plans captured here must be the
    // plans the bench actually runs (at local[4]/4-partitions the hop
    // joins broadcast where local[32]/sf0.1 plans sort-merge, hiding
    // exactly the plan features under audit)
    val spark = Harness.tuned(sfDir, "ERROR")
    // plans must reflect the bench/verify posture: store-backed unless
    // SPARK_GRAFT_STORE=off (same knob as Bench/Verify)
    if (!sys.env.get("SPARK_GRAFT_STORE").contains("off"))
      graft.sources.GraphStore.enableManaged(spark)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
