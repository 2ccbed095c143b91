package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Neighbor-message delivery for the iterative algorithms: `send`
  * delivers each state row's payload along every edge u→v of the
  * oriented view (u matched on state("vid")), producing (vid = v,
  * payload...) rows. The two implementations are the two storage
  * postures:
  *
  *  - [[FrameAdjacency]] — an arbitrary oriented edge frame,
  *    repartitioned on src and persisted ONCE so each round's message
  *    join reuses the cached layout (the posture for DERIVED graphs —
  *    projections like co-purchase that exist only for the run; one
  *    up-front shuffle of the derived edge set + a block-manager copy).
  *  - [[StoredAdjacency]] — GraphStore bucketed tables. Each side's
  *    message join reads the on-disk hash(src) layout directly: the
  *    edge set is NEVER shuffled and NEVER copied into executor
  *    memory; only the (small) per-round state exchanges. This is the
  *    reference's economics — its NebulaKeyUtils partitioning is
  *    written once at load and serves every traversal
  *    (src/storage/query/GetNeighborsProcessor.cpp:32) — and the
  *    difference between the two postures at 100 TB is shuffling and
  *    caching a 100 TB edge table per algorithm run versus not.
  *
  * `keep` names extra edge columns retained alongside (src, dst) —
  * payload expressions may reference them (e.g. an edge weight for
  * SSSP, the multiplicity weight for Louvain). Callers must avoid
  * state/edge column-name collisions in payloads.
  *
  * Message MULTISETS are identical across implementations, so
  * algorithms whose update rules are order-independent (min-label WCC,
  * argmin/argmax picks, exact-dyadic sums) produce bit-identical
  * results on either. */
sealed trait Adjacency {
  /** Deliver `payload` columns (evaluated against the joined
    * state-row × edge-row) to every out-neighbor of state("vid").
    * Result: (vid = edge dst, payload...). */
  def send(state: DataFrame, payload: Seq[Column]): DataFrame
  /** Aggregate the oriented edge rows grouped by src: (vid, aggs...).
    * Aggregation expressions may reference `keep` columns. */
  def bySrc(aggs: Seq[Column]): DataFrame
  /** Out-degree per source vertex over the oriented view: (vid, od). */
  def outDegrees: DataFrame = bySrc(Seq(count(lit(1)).as("od")))
  /** Release any resources pinned for the loop (cache blocks). */
  def release(): Unit
}

object Adjacency {
  /** Conf key: StoredAdjacency side caching. "true"/"false" force the
    * posture; "auto" (the default) caches only while the ESTIMATED
    * DESERIALIZED copy ([[CacheExpansionFactor]] × compressed source
    * parquet) fits [[CacheBudgetFraction]] of the fleet's aggregate
    * storage memory — the 100-TB dial the scaladoc above names.
    * Measured both ways at sf30 (7.4 GB source, SCALE.md round-13):
    * the MEMORY_AND_DISK copy expands to ~34 GiB, overflows a 64 GiB
    * JVM's storage pool onto local disk, and the spill traffic makes
    * WCC 1.17× SLOWER than re-reading the bucketed files (1011.7 vs
    * 861.8 s) and kills HANP outright with executor-disk exhaustion —
    * while at sf10 (fits in memory) the cached posture wins. A flat
    * source-byte cutoff cannot see either side of that line; the
    * memory-derived budget scales with the fleet, so a 1000-executor
    * cluster keeps caching exactly as long as it has the RAM for it. */
  val ConfCache = "spark.graft.adjacency.cache"
  /** Conf key: optional hard cap (bytes) on the auto mode's EXPANDED
    * estimate, for operators who want a tighter ceiling than the
    * memory-derived budget (e.g. shared clusters where storage memory
    * is contended). Unset = the memory budget alone decides. */
  val ConfCacheMaxBytes = "spark.graft.adjacency.cacheMaxBytes"
  /** Deserialized bytes per compressed source-parquet byte. Measured:
    * sf30's 7.4 GB dataset became a ~34 GiB block-manager copy
    * (≈ 4.6×); 5 is the conservative planning figure. */
  val CacheExpansionFactor = 5L
  /** Fraction of aggregate max storage memory the auto mode may plan
    * to occupy — the rest stays free for execution-side borrowing and
    * the iteration state the algorithm loops themselves persist. */
  val CacheBudgetFraction = 0.6

  /** Resolve the side-caching posture for a dataset (see [[ConfCache]]). */
  def cacheSides(spark: org.apache.spark.sql.SparkSession,
                 sfDir: String): Boolean =
    spark.conf.get(ConfCache, "auto") match {
      case "true"  => true
      case "false" => false
      case _ =>
        val expanded =
          graft.Tune.datasetBytes(sfDir) * CacheExpansionFactor
        // max storage memory summed over registered block managers
        // (driver + executors); scales the decision with the fleet
        val storage = spark.sparkContext.getExecutorMemoryStatus
          .values.map(_._1).sum
        val cap = spark.conf.get(ConfCacheMaxBytes,
          Long.MaxValue.toString).toLong
        expanded <= math.min((storage * CacheBudgetFraction).toLong, cap)
    }

  /** `keep` names that would collide with the frame's own (src, dst)
    * columns or the state's join key (vid) surface as
    * AnalysisExceptions far from the misuse site (a duplicated column
    * in bySrc's pre-aggregation projection, an ambiguous send()
    * payload) — reject them eagerly at construction instead. */
  private[algo] def checkKeep(keep: Seq[String]): Unit = {
    val bad = keep.filter(Seq("src", "dst", "vid").contains)
    require(bad.isEmpty,
      s"Adjacency keep columns may not shadow src/dst/vid: ${bad.mkString(", ")}")
  }
}

/** One oriented (src, dst) frame: repartition+persist once, one join
  * per send. `oriented` must already encode direction semantics (e.g.
  * union both directions for an undirected algorithm). */
final class FrameAdjacency(oriented: DataFrame,
                           keep: Seq[String] = Nil) extends Adjacency {
  Adjacency.checkKeep(keep)
  // persisted SORTED by src: every send() is a sort-merge join on
  // src, and a cached frame keeps its outputOrdering, so the per-round
  // edge-side Sort elides — the sort is paid once at cache build
  // instead of once per iteration (guide §2.4: establish the layout
  // one operation needs once and reuse it).
  private val e = oriented.select(("src" +: "dst" +: keep).map(col): _*)
    .repartition(col("src"))
    .sortWithinPartitions("src")
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  def send(state: DataFrame, payload: Seq[Column]): DataFrame =
    e.join(state, e("src") === state("vid"))
      .select((e("dst").as("vid") +: payload): _*)

  def bySrc(aggs: Seq[Column]): DataFrame =
    e.groupBy(col("src").as("vid")).agg(aggs.head, aggs.tail: _*)

  def release(): Unit = graft.Ckpt.quietly(e.unpersist(blocking = false))
}

/** Bucketed store sides, each hash-partitioned by its own src column
  * on disk (GraphStore `_out`, `_in` reversed for the undirected view,
  * or `_und` directly). send() joins per side and unions the messages,
  * so every edge-side scan is exchange-free — unlike FrameAdjacency
  * there is NO up-front repartition shuffle of the edge set.
  *
  * `cacheSides` (default true) additionally persists each side:
  * caching an already-bucketed scan keeps its HashPartitioning (the
  * joins stay exchange-free) while sparing the per-round parquet
  * re-decode — strictly cheaper than FrameAdjacency, whose persist is
  * preceded by a full shuffle. At true 100-TB scale pass false: a
  * MEMORY_AND_DISK copy of the whole edge set duplicates it onto
  * executor disks, and re-reading the bucketed files (OS page cache
  * behind them) is the sane posture. */
final class StoredAdjacency(sides: Seq[DataFrame],
                            keep: Seq[String] = Nil,
                            cacheSides: Boolean = true) extends Adjacency {
  require(sides.nonEmpty, "StoredAdjacency needs at least one side")
  Adjacency.checkKeep(keep)
  private val narrow = sides.map { s =>
    val n = s.select(("src" +: "dst" +: keep).map(col): _*)
    if (cacheSides)
      // cached SORTED within the bucketed layout: a multi-file bucket
      // loses its written sortBy order on read, so each round's
      // sort-merge join would re-sort the whole edge side — sorting
      // once INTO the cache (no shuffle; the hash(src) partitioning is
      // untouched) elides that per-round Sort. The uncached 100-TB
      // posture keeps the plain scan: a sort there would run per scan
      // anyway, exactly what the join's own Sort already does.
      n.sortWithinPartitions("src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else n
  }

  def send(state: DataFrame, payload: Seq[Column]): DataFrame =
    narrow.map { e =>
      e.join(state, e("src") === state("vid"))
        .select((e("dst").as("vid") +: payload): _*)
    }.reduce(_ unionByName _)

  def bySrc(aggs: Seq[Column]): DataFrame =
    // keep dst in the pre-aggregation rows so aggregates over it
    // resolve exactly as on the FrameAdjacency path
    narrow.map(_.select((col("src").as("vid") +: col("dst") +:
        keep.map(col)): _*))
      .reduce(_ unionByName _)
      .groupBy("vid").agg(aggs.head, aggs.tail: _*)

  def release(): Unit = if (cacheSides)
    narrow.foreach(e => graft.Ckpt.quietly(e.unpersist(blocking = false)))
}
