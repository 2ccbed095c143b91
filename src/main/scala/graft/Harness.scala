package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the harness mains (Bench, Verify,
  * the tools). Every session shares one posture — UTC session zone,
  * adaptive execution with skew-join splitting, no UI — so a plan
  * captured by Explain is the plan Bench times and Verify checks. */
object Harness {
  val CpusVar = "SPARK_GRAFT_CPUS"

  /** Local core count from `SPARK_GRAFT_CPUS`: unset → every available
    * processor; a malformed value or one below 1 fails loudly instead
    * of running a differently shaped session. */
  def cpus(env: String => Option[String] = sys.env.get): Int =
    env(CpusVar) match {
      case None => Runtime.getRuntime.availableProcessors
      case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"$CpusVar must be an integer >= 1, got '$v'"))
    }

  /** Session sized for the dataset at `sfDir`: `local[cpus]` (or
    * `master`) with `Tune.shufflePartitions(sfDir, cpus)`. */
  def tuned(sfDir: String, logLevel: String, master: Option[String] = None,
            conf: Seq[(String, String)] = Nil): SparkSession = {
    val n = cpus()
    session(master.getOrElse(s"local[$n]"), Tune.shufflePartitions(sfDir, n),
      logLevel, conf = conf)
  }

  def session(master: String, shufflePartitions: Int, logLevel: String,
              appName: Option[String] = None,
              conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
    appName.foreach(b.appName)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
