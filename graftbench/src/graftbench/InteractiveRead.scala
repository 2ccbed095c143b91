package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry
import graft.graph.{GraphCatalog, GraphModel}
import graft.nql.Gql
import graft.queries.LdbcQueries
import graft.sources.GraphStore

/** A query shape with seeded parameters. `oracle` names the SparkEntry
  * query whose DuckDB oracle text checks it; `subs` maps literals of
  * that text to the drawn parameters (each literal must occur). */
final case class Tmpl(name: String, cls: String, ldbc: Boolean,
                      oracle: String, draw: scala.util.Random => Seq[Long],
                      gql: Seq[Long] => String,
                      subs: Seq[Long] => Seq[(String, String)])

/** The read side of the interactive workload: LDBC short and complex reads through the MATCH text
  * surface, and nGQL FETCH / GO / FIND SHORTEST PATH / GET SUBGRAPH over
  * the GraphStore-backed TPC-H graph. Every distinct (query, parameters)
  * result is written out for the DuckDB check. */
final class InteractiveRead(spark: SparkSession, tracer: Tracer, data: String,
                            out: String, rnd: scala.util.Random) extends Workload {
  private def count(t: String) = spark.read.parquet(s"$data/$t.parquet").count()
  private val nCust = count("customer")
  private val nOrders = count("orders")
  private val nPart = count("part")

  private var graph: GraphModel = _
  private var ldbc: GraphCatalog = _

  private def person(r: scala.util.Random) = (r.nextDouble() * nCust).toLong
  private def part(r: scala.util.Random) = (r.nextDouble() * nPart).toLong
  private def distinct(n: Int, f: scala.util.Random => Long)(r: scala.util.Random) = {
    val s = mutable.LinkedHashSet.empty[Long]
    while (s.size < n) s += f(r)
    s.toSeq
  }

  val templates: Seq[Tmpl] = Seq(
    Tmpl("is1", "short_read", true, "q_ldbc_is1", r => Seq(person(r)), p =>
      s"""MATCH (n:Person)-[:IS_LOCATED_IN]->(p:Place)
         |WHERE id(n) == "per:${p(0)}"
         |RETURN n.Person.firstName AS firstName, n.Person.lastName AS lastName,
         |       n.Person.gender AS gender, p.Place.name AS cityName""".stripMargin,
      p => Seq("WHERE id = 42" -> s"WHERE id = ${p(0)}")),
    Tmpl("fetch", "short_read", false, "q_nql_fetch", distinct(3, part), p =>
      s"""FETCH PROP ON part "p:${p(0)}", "p:${p(1)}", "p:${p(2)}"""",
      p => Seq("IN (1, 2, 3)" -> s"IN (${p.mkString(", ")})")),
    Tmpl("go", "traverse", false, "q_nql_go", distinct(2, person), p =>
      s"""GO 1 TO 2 STEPS FROM "c:${p(0)}", "c:${p(1)}" OVER * YIELD origin, vid, step""",
      p => Seq("IN (1, 2)" -> s"IN (${p.mkString(", ")})")),
    Tmpl("path", "traverse", false, "q_nql_path", r => Seq(person(r)), p =>
      s"""FIND SHORTEST PATH FROM "c:${p(0)}" TO "r:0", "r:1" UPTO 4 STEPS""",
      p => Seq("'c:1' AS vid" -> s"'c:${p(0)}' AS vid")),
    Tmpl("ic2", "complex_read", true, "q_ldbc_ic2", r => Seq(person(r)), p =>
      s"""MATCH (n:Person)-[:KNOWS]-(f:Person)<-[:HAS_CREATOR]-(m:Message)
         |WHERE id(n) == "per:${p(0)}" AND m.Message.creationDate <= 896659200000
         |RETURN f.Person.id AS personId, f.Person.firstName AS personFirstName,
         |       m.Message.id AS messageId,
         |       m.Message.creationDate AS messageCreationDate
         |ORDER BY messageCreationDate DESC, messageId ASC LIMIT 20""".stripMargin,
      p => Seq("k.src = 42" -> s"k.src = ${p(0)}")))

  private val oracles = SparkEntry.oracleSql

  /** The template's oracle text with the drawn parameters substituted. */
  def oracleFor(t: Tmpl, p: Seq[Long]): String =
    t.subs(p).foldLeft(oracles(t.oracle)) { case (sql, (from, to)) =>
      require(sql.contains(from), s"${t.oracle} oracle lacks '$from'")
      sql.replace(from, to)
    }

  // every distinct (template, parameters): oracle text, columns, rows,
  // and the operations that returned it
  private final case class Check(t: Tmpl, p: Seq[Long], cols: Seq[String],
                                 rows: Seq[Row], sig: Seq[String]) {
    val ops = mutable.ArrayBuffer.empty[Int]
  }
  private val checks = mutable.LinkedHashMap.empty[String, Check]

  private def op(t: Tmpl, r: scala.util.Random): Op = {
    val p = t.draw(r)
    val text = t.gql(p)
    Op(t.cls, t.name, () => {
      val cat = if (t.ldbc) ldbc else graph
      if (tracer.on) tracer.phase("nql.parse")(Gql.parseScript(text))
      val df = tracer.phase("nql.build")(Gql.runScript(cat, text))
      (df.columns.toSeq, tracer.action(df))
    }, (i, res) => {
      val (cols, rows) = res.asInstanceOf[(Seq[String], Array[Row])]
      val sig = rows.map(r => Json(r)).sorted.toSeq
      val key = s"${t.name}:${p.mkString(",")}"
      val c = checks.getOrElseUpdate(key, Check(t, p, cols, rows.toSeq, sig))
      c.ops += i
      if (c.sig != sig) Some(s"$key returned a different result than before")
      else None
    })
  }

  def setupRep(rep: Int): Double = {
    spark.conf.set(GraphStore.ConfDir, s"$out/store$rep")
    val t0 = System.nanoTime()
    graph = GraphModel(spark, data)
    graph.edges.limit(1).count()
    val storeS = (System.nanoTime() - t0) / 1e9
    ldbc = LdbcQueries.catalog(spark, data)
    storeS
  }

  def nextRound(): Seq[Op] = rnd.shuffle(templates).map(op(_, rnd))

  def finish(samples: Seq[Sample]): (Int, Int) = {
    val entries = checks.values.map { c =>
      Map("key" -> s"${c.t.name}:${c.p.mkString(",")}", "query" -> c.t.name,
        "oracle" -> c.t.oracle, "sql" -> oracleFor(c.t, c.p),
        "columns" -> c.cols, "rows" -> c.rows,
        "ops" -> c.ops.toSeq)
    }
    Json.write(s"$out/checks.json", entries.toSeq)
    (0, 0)
  }

  def report(tracer: Tracer, samples: Seq[Sample]): Map[String, Any] = {
    val sizes = Map("customer" -> nCust, "orders" -> nOrders, "part" -> nPart)
    if (!tracer.on) Map("sizes" -> sizes)
    else {
      val (bytes, files) = Main.du(spark.conf.get(GraphStore.ConfDir))
      Map("sizes" -> sizes, "per_layer" -> Map(
        "store.bytes_on_disk" -> bytes.toDouble, "store.files" -> files.toDouble))
    }
  }
}
