package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{Adjacency, GraphAlgos}
import graft.graph.GraphModel
import graft.sources.GraphStore

/** graph_olap: passes of whole-graph algorithms over the stored TPC-H
  * graph. Monotone set (run to convergence): WCC, SSSP from a seeded
  * customer, k-core. Full-send control set (fixed rounds): PageRank. Each result is checked against `Refs`. */
final class GraphOlap(spark: SparkSession, tracer: Tracer, data: String,
                      out: String, rnd: scala.util.Random) extends Workload {
  private val nCust = spark.read.parquet(s"$data/customer.parquet").count()
  private var g: GraphModel = _

  private val PrIters = 2
  private val K = 3

  private def withAdj(adj: Adjacency)(f: Adjacency => DataFrame): Array[Row] =
    try tracer.action(tracer.phase("algo.loop")(f(adj)))
    finally adj.release()

  private def algoOp(name: String, cls: String, check: Array[Row] => Option[String])
                    (body: => Array[Row]): Op =
    Op(cls, name, () => body, (_, res) => check(res.asInstanceOf[Array[Row]]))

  // references, built on first use from the collected inputs (untimed)
  private lazy val vertices: Seq[String] =
    g.vertices.select("vid").collect().map(_.getString(0)).toSeq
  private lazy val edges: Seq[(String, String, Long)] =
    g.edges.select("src", "dst", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
  private lazy val plain = edges.map(e => (e._1, e._2))
  private lazy val refWcc = Refs.wcc(vertices, plain)
  private lazy val refKCore = Refs.kCore(plain, K)
  private lazy val refPr = Refs.pageRank(vertices, plain, PrIters, 0.85)
  private val refSssp = scala.collection.mutable.HashMap.empty[String, Map[String, Double]]

  private def sameMap[V](name: String, got: Array[Row], ref: Map[String, V],
                         eq: (V, Any) => Boolean): Option[String] = {
    val m = got.map(r => r.getString(0) -> r.get(1)).toMap
    if (m.size != got.length) Some(s"$name: duplicate vids in result")
    else if (m.keySet != ref.keySet)
      Some(s"$name: ${m.size} vids, reference has ${ref.size}")
    else ref.collectFirst { case (v, x) if !eq(x, m(v)) =>
      s"$name: $v is ${m(v)}, reference $x" }
  }
  private val exact = (a: Any, b: Any) => a == b
  private val close = (a: Double, b: Any) => {
    val x = b.asInstanceOf[Double]
    math.abs(a - x) <= 1e-9 * math.max(1.0, math.abs(a))
  }

  private def pass(r: scala.util.Random): Seq[Op] = {
    val src = s"c:${(r.nextDouble() * nCust).toLong}"
    Seq(
      algoOp("wcc", "olap_monotone", sameMap("wcc", _, refWcc, exact)) {
        withAdj(g.adjacencyBoth)(a =>
          GraphAlgos.connectedComponents(g.vertices, a, 1000, untilConverged = true))
      },
      algoOp("sssp", "olap_monotone", rows => sameMap("sssp", rows,
        refSssp.getOrElseUpdate(src, Refs.sssp(
          edges.map(e => (e._1, e._2, (e._3 + 1).toDouble)), src)), exact)) {
        // every path of the TPC-H graph has at most 4 edges, so 4
        // Bellman-Ford rounds are the fixpoint
        withAdj(g.adjacencyOut(Seq("rank")))(a =>
          GraphAlgos.sssp(spark, a, src, 4, (col("rank") + 1).cast("double")))
      },
      algoOp("kcore", "olap_monotone", rows => {
        val got = rows.map(_.getString(0)).toSet
        if (got == refKCore) None
        else Some(s"kcore: ${got.size} vertices, reference ${refKCore.size}")
      }) {
        tracer.action(tracer.phase("algo.loop")(GraphAlgos.kCore(g.edges, K, 1000)))
      },
      algoOp("pagerank", "olap_full_send", sameMap("pagerank", _, refPr, close)) {
        withAdj(g.adjacencyOut)(a =>
          GraphAlgos.pageRank(g.vertices, a, PrIters, 0.85, 0.0))
      })
  }

  def setupRep(rep: Int): Double = {
    spark.conf.set(GraphStore.ConfDir, s"$out/store$rep")
    val t0 = System.nanoTime()
    g = GraphModel(spark, data)
    g.edges.limit(1).count()
    (System.nanoTime() - t0) / 1e9
  }

  def nextRound(): Seq[Op] = pass(rnd)

  def finish(samples: Seq[Sample]): (Int, Int) = (0, 0)

  def report(tracer: Tracer, samples: Seq[Sample]): Map[String, Any] = {
    val sizes = Map("vertices" -> vertices.size, "edges" -> edges.size)
    if (!tracer.on) Map("sizes" -> sizes)
    else {
      val perAlgo = Seq("wcc", "sssp", "kcore", "pagerank").flatMap { a =>
        val ops = tracer.ops.filter(_.name == a).toSeq
        Seq(
          s"algo.$a.loop_s" -> Layers.median(ops.flatMap(_.phaseMs("algo.loop")).map(_ / 1e3)),
          s"algo.$a.final_s" -> Layers.median(ops.flatMap(_.phaseMs("exec.action")).map(_ / 1e3)),
          s"algo.$a.jobs" -> Layers.mean(ops.map(o => tracer.jobsOf(o).size.toDouble)),
          s"algo.$a.shuffle_write_bytes" -> Layers.mean(ops.map(o =>
            tracer.stagesOf(tracer.jobsOf(o)).map(_.shuffleWrite).sum.toDouble)))
      }
      val (bytes, files) = Main.du(spark.conf.get(GraphStore.ConfDir))
      Map("sizes" -> sizes, "per_layer" -> (perAlgo.toMap ++ Map(
        "store.bytes_on_disk" -> bytes.toDouble, "store.files" -> files.toDouble)))
    }
  }
}
