package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER overrides the master — the cluster-mode
    // correctness gate runs the SAME 136-query dump on
    // local-cluster[2,2,*] (separate executor JVMs) and compares the
    // parquet results against the DuckDB oracle HASHES, catching
    // partition-order/window-determinism bugs a single-JVM run hides.
    val master = sys.env.get("SPARK_GRAFT_MASTER")
    // multi-executor runs exercise the durable checkpoint path (Ckpt):
    // local checkpoints live in executor memory and die with executors.
    // cleanCheckpoints lets the ContextCleaner delete files of freed
    // checkpoints DURING the run; the shutdown hook removes the root
    // afterwards (reliable files otherwise accumulate for all ~137
    // queries' every iteration round).
    val ckptConf = if (master.exists(_.startsWith("local-cluster"))) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          def rm(f: java.io.File): Unit = {
            val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
            f.delete(); ()
          }
          rm(ckpt.toFile)
        } catch { case _: Throwable => () }))
      Seq("spark.graft.checkpointDir" -> ckpt.toString,
        "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")
    } else Nil
    val spark = Harness.tuned(sfDir, "WARN", master, ckptConf)
    // store-backing on: every graph query rides the bucketed layout,
    // built once per dataset (GraphStore.ensure) under a JVM-managed
    // root (deleted on exit). SPARK_GRAFT_STORE=off (same knob as
    // Bench) runs the WHOLE oracle gate against the flat parquet
    // views instead — run it periodically so flat-path regressions
    // are still caught by the DuckDB hashes, not only by unit tests.
    if (!sys.env.get("SPARK_GRAFT_STORE").contains("off"))
      sources.GraphStore.enableManaged(spark)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b → dump just those (local iteration aid;
    // the driver never sets it, so the full gate is unaffected)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      SessionHygiene.sweep(spark) // per-query block-manager reset
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
