package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as seen by the benchmark's listener. `group` is the job
  * group the benchmark set around the call that launched it
  * (`<op index>|<phase>`); `layer` is where its call site, or else that of
  * the SQL execution it belongs to, places it (`Tracer.layerOf`). */
final case class JobRec(id: Int, group: String, startMs: Long, layer: String,
                        stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final case class StageRec(tasks: Int, runMs: Long, shuffleRead: Long,
                          shuffleWrite: Long, spill: Long, input: Long,
                          output: Long)

/** What the traced run records about one operation on the driver. */
final class OpTrace(val index: Int, val name: String, val cls: String) {
  var startNs = 0L
  var endNs = 0L
  /** (phase, start ns, end ns), in call order. */
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  var catalyst: Map[String, Double] = Map.empty
  var plan: Map[String, Double] = Map.empty
  @volatile var sqlExecutions = 0
  var storageMemBytes = 0L
  var blocksLive = 0L

  def phaseMs(p: String): Option[Double] = {
    val xs = phases.collect { case (n, s, e) if n == p => (e - s) / 1e6 }
    if (xs.isEmpty) None else Some(xs.sum)
  }
}

/** Spans and counters around the calls the benchmark makes into graft.
  * With `on = false` every hook is a plain call-through: no listener is
  * registered and no job group is set, so the untraced run measures
  * graft alone. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val ops = mutable.ArrayBuffer.empty[OpTrace]
  @volatile private var current: OpTrace = null

  private val wallMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def epochMs(ns: Long): Double = wallMs0 + (ns - nano0) / 1e6

  // layer of each SQL execution, from the call site of the thread that
  // started it: jobs that adaptive execution submits from its own threads
  // carry no graft frame, only the execution id
  private val executionLayer = new ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.layerOf(s.details).foreach(executionLayer.put(s.executionId, _))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = e.stageInfos.headOption.map(_.details).getOrElse("")
      val layer = Tracer.layerOf(site)
        .orElse(prop("spark.sql.execution.id")
          .flatMap(id => Option(executionLayer.get(id.toLong))))
        .getOrElse("exec")
      jobs.put(e.jobId, JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        e.time, layer, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.put(i.stageId, StageRec(i.numTasks,
        m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val op = current
      if (op != null) op.sqlExecutions += 1
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  def beginOp(index: Int, name: String, cls: String): Unit = if (on) {
    val op = new OpTrace(index, name, cls)
    op.startNs = System.nanoTime()
    ops += op
    current = op
    sc.setJobGroup(s"$index|op", name)
  }

  def endOp(): Unit = if (on && current != null) {
    val op = current
    op.endNs = System.nanoTime()
    sc.clearJobGroup()
    val infos = sc.getRDDStorageInfo
    op.storageMemBytes = infos.map(_.memSize).sum
    op.blocksLive = infos.map(_.numCachedPartitions.toLong).sum
    current = null
  }

  /** A child span of the current operation; jobs launched inside it carry
    * its job group. */
  def phase[T](name: String)(body: => T): T = {
    val op = current
    if (!on || op == null) body
    else {
      sc.setJobGroup(s"${op.index}|$name", op.name)
      val t0 = System.nanoTime()
      try body
      finally {
        op.phases += ((name, t0, System.nanoTime()))
        sc.setJobGroup(s"${op.index}|op", op.name)
      }
    }
  }

  /** The action that delivers an operation's result: `collect()`, plus,
    * when tracing, the action's Catalyst phase times and plan shape. */
  def action(df: DataFrame): Array[Row] = phase("exec.action") {
    val rows = df.collect()
    val op = current
    if (on && op != null) {
      val qe = df.queryExecution
      op.catalyst = qe.tracker.phases.map { case (k, v) =>
        k -> v.durationMs.toDouble }
      val names = PlanNodes.collect(qe.executedPlan) { case p =>
        p.getClass.getSimpleName }
      op.plan = Map(
        "plan.exchanges" -> names.count(_ == "ShuffleExchangeExec").toDouble,
        "plan.smj" -> names.count(_ == "SortMergeJoinExec").toDouble,
        "plan.bhj" -> names.count(_ == "BroadcastHashJoinExec").toDouble,
        "plan.nodes" -> names.size.toDouble)
    }
    rows
  }

  /** Wait (bounded) until the listener has seen every job end. */
  def drain(): Unit = if (on) {
    val deadline = System.nanoTime() + 10e9.toLong
    while (jobs.values.asScala.exists(_.endMs < 0) &&
      System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def jobsOf(op: OpTrace): Seq[JobRec] = {
    val p = s"${op.index}|"
    jobs.values.asScala.filter(_.group.startsWith(p)).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))

  /** Spans as JSON lines: one root per operation, its phases, and one
    * `spark.job` span per job under the phase whose group launched it. */
  def spanLines: Seq[String] = ops.toSeq.flatMap { op =>
    val root = s"op${op.index}"
    val phaseIds = op.phases.zipWithIndex.map { case ((n, s, e), k) =>
      (n, s"$root.$k", s, e)
    }
    val rootLine = Json(Map("span" -> root, "parent" -> null,
      "trace" -> op.index, "name" -> op.name, "class" -> op.cls,
      "start_ms" -> epochMs(op.startNs), "end_ms" -> epochMs(op.endNs)))
    val phaseLines = phaseIds.map { case (n, id, s, e) =>
      Json(Map("span" -> id, "parent" -> root, "trace" -> op.index,
        "name" -> n, "start_ms" -> epochMs(s), "end_ms" -> epochMs(e)))
    }
    val jobLines = jobsOf(op).sortBy(_.id).map { j =>
      val ph = j.group.drop(j.group.indexOf('|') + 1)
      val parent = phaseIds.filter(_._1 == ph).map(_._2).lastOption
        .getOrElse(root)
      Json(Map("span" -> s"job${j.id}", "parent" -> parent,
        "trace" -> op.index, "name" -> "spark.job", "layer" -> j.layer,
        "start_ms" -> j.startMs.toDouble, "end_ms" -> j.endMs.toDouble,
        "stages" -> j.stages))
    }
    rootLine +: (phaseLines ++ jobLines)
  }
}

object PlanNodes extends AdaptiveSparkPlanHelper

object Tracer {
  private def layerOfFrame(f: String): Option[String] =
    if (f.startsWith("graftbench.")) Some("exec")
    else f.substring(f.lastIndexOf('(') + 1).takeWhile(_ != ':') match {
      case "Traverse.scala" | "PathFinder.scala" => Some("traverse")
      case "GraphAlgos.scala" | "Adjacency.scala" => Some("algo")
      case "Ckpt.scala" => Some("ckpt")
      case "GraphStore.scala" => Some("store")
      case "Mutations.scala" => Some("mutations")
      case _ if f.startsWith("graft.nql.") => Some("nql")
      case _ => None
    }

  /** The layer a call site names: walking it from the Spark call
    * outwards, the first frame in a named graft module (Traverse/PathFinder,
    * GraphAlgos/Adjacency, Ckpt, GraphStore, Mutations, nql) or in the
    * benchmark itself ("exec": the benchmark's own action); "graft" when
    * only other graft files appear; None when no graft frame does. */
  def layerOf(site: String): Option[String] = {
    val frames = site.split("\n").iterator.map(_.trim)
      .filter(f => f.startsWith("graft.") || f.startsWith("graftbench.")).toSeq
    if (frames.isEmpty) None
    else Some(frames.iterator.flatMap(layerOfFrame).nextOption().getOrElse("graft"))
  }
}
