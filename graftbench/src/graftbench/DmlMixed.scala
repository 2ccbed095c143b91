package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.TableCatalog
import graft.nql.Gql

/** The write side of the interactive workload: a parquet-backed TableCatalog space bulk-loaded with
  * `account` vertices (from customer) and `pays` edges (from orders);
  * the loop alternates seeded nGQL writes with reads of what was just
  * written. A driver-side replay of the same operations checks every
  * read and, at the end, the whole space. */
final class DmlMixed(spark: SparkSession, tracer: Tracer, data: String,
                     out: String, rnd: scala.util.Random) extends Workload {
  private var tc: TableCatalog = _
  private var root: String = _

  private def accountsIn: DataFrame = spark.read.parquet(s"$data/customer.parquet")
    .select(col("c_custkey").as("vid"), col("c_name").as("name"),
      round(col("c_acctbal") * 100).cast("long").as("balance"))
  private def paysIn(nCust: Long): DataFrame = spark.read.parquet(s"$data/orders.parquet")
    .select(col("o_custkey").as("src"),
      pmod(col("o_custkey") + 1 + pmod(col("o_orderkey"), lit(97)), lit(nCust)).as("dst"),
      col("o_orderkey").as("rank"),
      round(col("o_totalprice") * 100).cast("long").as("amount"))

  // the replay model: vid -> (name, balance); (src, dst, rank) -> amount
  private val accounts = mutable.HashMap.empty[Long, (String, Long)]
  private val pays = mutable.HashMap.empty[(Long, Long, Long), Long]
  private lazy val nCust: Long = {
    accountsIn.collect().foreach(r => accounts(r.getLong(0)) = (r.getString(1), r.getLong(2)))
    accounts.size.toLong
  }
  private lazy val initialPays: Int = {
    paysIn(nCust).collect().foreach(r =>
      pays((r.getLong(0), r.getLong(1), r.getLong(2))) = r.getLong(3))
    pays.size
  }

  private def cast(df: DataFrame, schema: org.apache.spark.sql.types.StructType) =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)

  def setupRep(rep: Int): Double = {
    val n = nCust
    root = s"$out/space$rep"
    val t0 = System.nanoTime()
    tc = new TableCatalog(spark, root, vidIsInt = true)
    Gql.runScript(tc, "CREATE TAG account(name string, balance int);")
    Gql.runScript(tc, "CREATE EDGE pays(amount int);")
    tc.tagTable("account").insert(cast(accountsIn, tc.tagSchema("account")))
    tc.edgeTable("pays").insert(cast(paysIn(n), tc.edgeSchema("pays")))
    (System.nanoTime() - t0) / 1e9
  }

  private def read(text: String): Array[Row] = {
    if (tracer.on) tracer.phase("nql.parse")(Gql.parseScript(text))
    tracer.action(tracer.phase("nql.build")(Gql.runScript(tc, text)))
  }
  private def write(text: String): AnyRef = {
    if (tracer.on) tracer.phase("nql.parse")(Gql.parseScript(text))
    tracer.phase("nql.build")(Gql.runScript(tc, text))
    Nil
  }

  /** Rows as sorted strings of the named columns, for comparison. */
  private def canon(rows: Array[Row], cols: Seq[String]): Seq[String] =
    rows.map(r => cols.map(c => String.valueOf(r.getAs[Any](c))).mkString("|")).toSeq.sorted

  private def expect(name: String, got: Array[Row], cols: Seq[String],
                     want: Seq[Seq[Any]]): Option[String] = {
    val g = canon(got, cols)
    val w = want.map(_.map(String.valueOf).mkString("|")).sorted
    if (g == w) None else Some(s"$name: got ${g.take(3)}, replay ${w.take(3)}")
  }

  private var seq = 0
  // bytes of the user's values per write (8-byte ints, UTF-8 strings),
  // the base of mutations.write_amp
  private val userBytes = mutable.HashMap.empty[Int, Long]

  private def writeOp(name: String, text: String, bytes: Long)(apply: => Unit): Op =
    Op("write", name, () => write(text), (i, _) => { apply; userBytes(i) = bytes; None })
  private def readOp(name: String, text: String, cols: Seq[String])
                    (want: => Seq[Seq[Any]]): Op =
    Op("read_after_write", name, () => read(text),
      (_, res) => expect(name, res.asInstanceOf[Array[Row]], cols, want))

  def nextRound(): Seq[Op] = {
    initialPays
    seq += 1
    val s = seq
    val a = (rnd.nextDouble() * nCust).toLong
    val b = (rnd.nextDouble() * nCust).toLong
    val rank = 100000000L + s
    val amt = 1L + rnd.nextInt(100000)
    val u = (rnd.nextDouble() * nCust).toLong
    val d = 1L + rnd.nextInt(1000)
    Seq(
      writeOp("insert_edge", s"INSERT EDGE pays(amount) VALUES $a->$b@$rank:($amt);", 32) {
        pays((a, b, rank)) = amt },
      readOp("go", s"GO FROM $a OVER pays YIELD dst(edge) AS dst, rank(edge) AS rnk, pays.amount AS amount",
        Seq("dst", "rnk", "amount")) {
        pays.collect { case ((x, y, r), m) if x == a => Seq(y, r, m) }.toSeq },
      writeOp("update_vertex", s"UPDATE VERTEX ON account $u SET balance = balance + $d;", 16) {
        val (nm, b0) = accounts(u); accounts(u) = (nm, b0 + d) },
      readOp("fetch", s"FETCH PROP ON account $u YIELD account.name AS name, account.balance AS balance",
        Seq("name", "balance")) { Seq(Seq(accounts(u)._1, accounts(u)._2)) })
  }

  private var finalError: Option[String] = None

  /** The whole space against the replay, as one extra checked op. */
  def finish(samples: Seq[Sample]): (Int, Int) = {
    val acc = expect("final accounts", tc.vertexTable("account").collect(),
      Seq("vid", "name", "balance"),
      accounts.toSeq.map { case (k, (n, b)) => Seq(k, n, b) })
    val pay = expect("final pays", tc.edgesByType("pays").collect(),
      Seq("src", "dst", "rank", "amount"),
      pays.toSeq.map { case ((s, d, r), m) => Seq(s, d, r, m) })
    finalError = acc.orElse(pay)
    (1, if (finalError.isDefined) 1 else 0)
  }

  def report(tracer: Tracer, samples: Seq[Sample]): Map[String, Any] = {
    val base = Map[String, Any](
      "space_sizes" -> Map("accounts" -> nCust, "pays" -> initialPays),
      "final_check" -> finalError.getOrElse("ok"))
    if (!tracer.on) base
    else {
      val (spaceBytes, spaceFiles) = Main.du(root)
      // the same live rows written once to a fresh directory
      val fresh = s"$out/compact"
      tc.vertexTable("account").coalesce(1).write.parquet(s"$fresh/tag_account")
      tc.edgesByType("pays").coalesce(1).write.parquet(s"$fresh/edge_pays")
      val (freshBytes, _) = Main.du(fresh)
      val writes = tracer.ops.filter(_.cls == "write").toSeq
      val written = writes.map(o =>
        tracer.stagesOf(tracer.jobsOf(o)).map(_.output).sum.toDouble)
      val user = writes.map(o => userBytes.getOrElse(o.index, 0L).toDouble).sum
      base ++ Map("per_layer" -> Map(
          "mutations.write_ms" -> Layers.median(writes.map(o => (o.endNs - o.startNs) / 1e6)),
          "mutations.bytes_written" -> Layers.mean(written),
          "mutations.write_amp" -> (if (user > 0) written.sum / user else 0.0),
          "mutations.table_files" -> spaceFiles.toDouble,
          "mutations.table_bytes" -> spaceBytes.toDouble,
          "mutations.space_amp" -> spaceBytes.toDouble / freshBytes))
    }
  }
}
