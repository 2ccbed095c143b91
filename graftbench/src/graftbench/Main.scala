package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One operation of a workload: `run` is the timed call into graft,
  * `after` (untimed) checks or records its result and returns an error
  * message when the result is wrong. */
final case class Op(cls: String, name: String, run: () => AnyRef,
                    after: (Int, AnyRef) => Option[String])

final case class Sample(index: Int, round: Int, cls: String, name: String,
                        ms: Double, cpuMs: Double, error: Option[String])

trait Workload {
  /** One set-up on fresh storage (GraphStore build, space bulk-load);
    * returns the seconds of its GraphStore build. */
  def setupRep(rep: Int): Double
  /** One round of the workload's mix: every template once, seeded. */
  def nextRound(): Seq[Op]
  /** Output checks that need the whole run; returns extra (attempted,
    * failed) counts, e.g. a final-state check. */
  def finish(samples: Seq[Sample]): (Int, Int)
  /** Workload-specific numbers for the report and the traced run. */
  def report(tracer: Tracer, samples: Seq[Sample]): Map[String, Any]
}

/** Runs one workload as a closed loop with one client: the next
  * operation starts when the previous one returned. Usage:
  * graftbench.Main --workload w --seed n --seconds s --trace 0|1
  *   --data <parquet dir> --out <result dir> --cores c */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val out = opt("out")
    val cores = opt("cores").toInt

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, trace)
    val rnd = new scala.util.Random(seed)
    val wl: Workload = workload match {
      case "interactive" => new Interactive(
        new InteractiveRead(spark, tracer, data, out, rnd),
        new DmlMixed(spark, tracer, data, out, rnd), rnd)
      case "graph_olap" => new GraphOlap(spark, tracer, data, out, rnd)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val probes = mutable.ArrayBuffer.empty[Double]
    val reps = (0 until 3).map { r =>
      probes += probeOnce(spark, cores)
      val s0 = System.nanoTime()
      val c0 = cpuNs()
      val store = wl.setupRep(r)
      val repS = (System.nanoTime() - s0) / 1e9
      val cpuS = (cpuNs() - c0) / 1e9
      log(f"setup rep $r: $repS%.2f s, cpu $cpuS%.2f s (store or load $store%.2f s)")
      (store, repS, cpuS)
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    var index = 0
    def runOp(op: Op, round: Int): Unit = {
      tracer.beginOp(index, op.name, op.cls)
      val s0 = System.nanoTime()
      val c0 = cpuNs()
      val res = try Right(op.run()) catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - s0) / 1e6
      val cpuMs = (cpuNs() - c0) / 1e6
      tracer.endOp()
      val err = res match {
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        case Right(v) =>
          try op.after(index, v)
          catch { case e: Throwable => Some(s"check failed: $e".take(300)) }
      }
      log(f"op $index ${op.name} round $round: $ms%.1f ms, cpu $cpuMs%.1f ms${err.fold("")(" ERROR " + _)}")
      samples += Sample(index, round, op.cls, op.name, ms, cpuMs, err)
      index += 1
    }

    // the measured window: whole rounds until `seconds` have passed
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val m0 = System.nanoTime()
    var round = 0
    while ((System.nanoTime() - m0) / 1e9 < seconds) {
      wl.nextRound().foreach(runOp(_, round))
      round += 1
    }
    val windowS = (System.nanoTime() - m0) / 1e9
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    tracer.drain()
    val (extraAttempted, extraFailed) = wl.finish(samples.toSeq)
    val rep = wl.report(tracer, samples.toSeq)
    val perLayer = if (!trace) Map.empty[String, Double]
      else Layers.common(tracer, cores) ++
        rep.getOrElse("per_layer", Map.empty).asInstanceOf[Map[String, Double]]
    if (trace) java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/spans.jsonl"),
      tracer.spanLines.asJava)

    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> cores,
        "driver_max_memory_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "probe_ms" -> probes),
      "setup" -> Map("session_s" -> sessionS,
        "store_s" -> reps.map(_._1), "rep_s" -> reps.map(_._2),
        "rep_cpu_s" -> reps.map(_._3)),
      "window_s" -> windowS, "rounds" -> round,
      "jvm" -> Map("gc_ms" -> gcMs.toDouble, "heap_peak_mb" -> heapPeakMb,
        "peak_rss_mb" -> peakRssMb()),
      "extra_attempted" -> extraAttempted, "extra_failed" -> extraFailed,
      "samples" -> samples.map(s => Map("i" -> s.index, "round" -> s.round,
        "cls" -> s.cls, "name" -> s.name, "ms" -> s.ms, "cpu_ms" -> s.cpuMs,
        "error" -> s.error)),
      "report" -> (rep - "per_layer"),
      "per_layer" -> perLayer,
      "storage_series" -> Layers.storageSeries(tracer))
    Json.write(s"$out/result.json", result)
    spark.stop()
  }

  private def log(msg: String): Unit = println(s"[graftbench] $msg")

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (driver, executor task threads, GC, JIT),
    * in ns. The kernel does not count time the virtual CPU was stolen by
    * the hypervisor, so on a shared host this is steadier than wall time. */
  def cpuNs(): Long = osBean.getProcessCpuTime

  /** Fixed, data-independent Spark probe, in ms: plan and run a small
    * shuffled aggregation over a generated range. It runs (untimed)
    * before every set-up; its median is a host fact that lets figures
    * from other hosts be read as ratios. It is not a gated metric. */
  def probeOnce(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 50000L, 1, cores)
      .selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").sum("v")
      .selectExpr("sum(`sum(v)`)").collect()
    (System.nanoTime() - t0) / 1e6
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Bytes and file count under a directory. */
  def du(dir: String): (Long, Int) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val fs = files.iterator.asScala.filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
      (fs.map(p => java.nio.file.Files.size(p)).sum, fs.size)
    } finally files.close()
  }
}
