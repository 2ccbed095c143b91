package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Ckpt.MatOps

/** Benchmark decontamination — the standard LLM training-data filter:
  * flag (and drop) corpus documents that share any word n-gram with a
  * held-out evaluation/benchmark set, so eval answers don't leak into
  * training data. The n-gram-overlap rule is the published recipe
  * (GPT-3 appendix C used 13-grams; Llama-style filters use 8–10), here
  * over the same normalized tokenization as the dedup stack
  * (TextAnalysis.normalize/shingles), so one tokenizer governs dedup,
  * fingerprinting, and decontamination.
  *
  * Plan shape for 100 TB: an eval suite is thousands of documents — its
  * distinct n-gram set is tiny next to the corpus — so the benchmark
  * side dedups and BROADCASTS (size-gated like every other small side
  * here); the corpus explodes shingles and hash-joins in one pass.
  * The corpus is never shuffled: contamination detection is map-side,
  * and the only aggregation keys on doc_id over the (rare) hits.
  */
object Decontaminate {

  /** The benchmark's distinct word n-grams — the deny-list. */
  def benchmarkNgrams(benchmark: DataFrame, n: Int,
                      textCol: String = "text"): DataFrame =
    benchmark.select(explode(TextAnalysis.shingles(col(textCol), n)).as("g"))
      .distinct()

  /** One row per CONTAMINATED corpus document:
    * (idCol, n_bad_grams, first_gram) — n_bad_grams counts the doc's
    * DISTINCT n-grams that appear in the benchmark, first_gram is the
    * lexicographically first offender (deterministic evidence). */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame, n: Int,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        benchTextCol: String = "text"): DataFrame = {
    // cached across the gate count and the join: without it the count
    // computes the deduped deny-list once and the join recomputes it
    val bad = benchmarkNgrams(benchmark, n, benchTextCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // size-gated broadcast: eval suites are small, but a pathological
    // "benchmark" bigger than the gate falls back to a shuffle join
    // instead of OOMing the driver
    val gated = graft.traverse.Traverse.maybeBroadcast(bad, bad.count())
    // the per-doc gram dedup happens AFTER the (broadcast) hit join —
    // deduping only the rare matches keeps the corpus pass map-side;
    // a distinct before the join would shuffle every n-gram of every
    // corpus document. The hit set is materialized (mat = eager
    // checkpoint) so the deny-list cache can be released here and
    // clean()'s anti-join reuses the detection pass instead of
    // re-running the corpus scan.
    val hits = corpus.select(col(idCol),
        explode(TextAnalysis.shingles(col(textCol), n)).as("g"))
      .join(gated, "g")
      .select(col(idCol), col("g")).distinct()
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bad_grams"), min(col("g")).as("first_gram"))
      .mat()
    graft.Ckpt.quietly(bad.unpersist(blocking = false))
    hits
  }

  /** The corpus with contaminated documents removed (left anti on the
    * hit set) — the frame a training run should read. The hit set from
    * `contaminationHits` is already materialized, so the only new work
    * is the anti-join's corpus pass (unavoidable: the output IS the
    * corpus). */
  def clean(corpus: DataFrame, benchmark: DataFrame, n: Int,
            idCol: String = "doc_id", textCol: String = "text",
            benchTextCol: String = "text"): DataFrame =
    corpus.join(
      contaminationHits(corpus, benchmark, n, idCol, textCol, benchTextCol)
        .select(idCol),
      Seq(idCol), "left_anti")
}
