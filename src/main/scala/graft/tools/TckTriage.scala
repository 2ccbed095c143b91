package graft.tools

import graft.Harness
import graft.nql.Gql
import graft.sources.CsvFixtures
import graft.tck.{TckCorpus, TckRunner}

/** Triage: run the TckRunner over feature files or whole directories
  * WITHOUT asserting, printing a per-file report line plus failures,
  * errors and the runner's skipped steps with their reasons. Uses the
  * fixture spaces TckRunnerSpec runs against (CsvFixtures.tckCatalogs).
  * Usage:
  *   runMain graft.tools.TckTriage <file-or-dir>...
  * Env: SPARK_GRAFT_TCK_DEBUG=1 for [tck-skip]/[tck-dead] reasons;
  * TCK_QUERY=<substring> dumps got/want rows for the matching queries
  * of the FIRST file instead of a report.
  */
object TckTriage {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("local[16]", 16, "ERROR", Some("tck-triage"))
    val catalogs = CsvFixtures.tckCatalogs(spark, TckCorpus.dataDir)
    val files = args.toSeq.flatMap { a =>
      val f = new java.io.File(a)
      if (f.isDirectory)
        f.listFiles().filter(_.getName.endsWith(".feature")).map(_.getPath).sorted
      else Seq(a)
    }
    def read(f: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(f))

    sys.env.get("TCK_QUERY").foreach { sub =>
      val text = read(files.head)
      val (fixtures, space) = CsvFixtures.tckSpace(catalogs, text)
      TckRunner.parseFeature(text, space).filter(_.query.contains(sub)).foreach { c =>
        println(s"QUERY ${c.query}")
        val got = Gql.runScript(fixtures(space), c.query).limit(100000).collect().toSeq
          .map(r => r.toSeq.map(TckRunner.norm).mkString(" | "))
        got.sorted.foreach(r => println(s"GOT  $r"))
        c.golden.map(_.map(TckRunner.normGoldenCell(_)).mkString(" | "))
          .sorted.foreach(r => println(s"WANT $r"))
      }
      spark.stop(); sys.exit(0)
    }

    var te = 0; var tp = 0; var ts = 0; var terr = 0; var tf = 0
    files.foreach { f =>
      val text = read(f)
      val (fixtures, space) = CsvFixtures.tckSpace(catalogs, text)
      val short = f.split('/').takeRight(2).mkString("/")
      val report = try TckRunner.runAll(fixtures, space, text) catch {
        case e: Exception =>
          println(s"$short: RUNNER-CRASH ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          TckRunner.Report(0, 0, 0, Nil)
      }
      println(f"$short%-44s exec=${report.executed}%-4d pass=${report.passed}%-4d skip=${report.skipped}%-4d err=${report.errored} fail=${report.failures.size}")
      report.failures.take(3).foreach { case (q, why) =>
        println(s"  FAIL ${q.take(150)}\n    -> ${why.take(300)}")
      }
      report.errors.take(3).foreach { case (q, why) =>
        println(s"  ERROR ${q.take(150)}\n    -> ${why.take(250)}")
      }
      report.skips.foreach { case (q, why) =>
        println(s"  SKIP [${why.take(150)}] :: ${q.replaceAll("\\s+", " ").take(200)}")
      }
      te += report.executed; tp += report.passed; ts += report.skipped
      terr += report.errored; tf += report.failures.size
    }
    println(s"TOTAL exec=$te pass=$tp skip=$ts err=$terr fail=$tf files=${files.size}")
    spark.stop()
  }
}
