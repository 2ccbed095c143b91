package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.GraphModel

/** SparkEntry registrations for the MATCH clause-pipeline surface
  * (SURVEY.md §3 entry point 1): label seek → expand → append props →
  * where, OPTIONAL MATCH (left join connector) and pattern predicates
  * (semi/anti) — all MATCH text through nql.MatchSeg. */
object MatchQueries {
  type Q = (SparkSession, String) => DataFrame

  private def gm(s: SparkSession, dir: String) = GraphModel(s, dir)

  val queries: Map[String, Q] = Map(
    // label seek + one hop + prop predicates on both ends
    "q_match_basic" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """MATCH (c:customer)-[:placed]->(o:order)
          |WHERE c.customer.mktsegment == "BUILDING" AND o.order.totalprice > 300000
          |RETURN id(c) AS c, c.customer.name AS c_name, id(o) AS o,
          |       o.order.totalprice AS o_totalprice""".stripMargin)),
    // OPTIONAL MATCH keeping order-less customers; nGQL rejects WHERE
    // inside OPTIONAL MATCH, so the price filter is a collect over the
    // optional rows and an empty list unwinds to one NULL
    "q_match_optional" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """MATCH (c:customer) WHERE toInteger(substr(id(c), 2, 10)) <= 100
          |OPTIONAL MATCH (c)-[p:placed]->(o:order)
          |WITH c, collect(CASE WHEN p.totalprice > 400000 THEN id(o) END) AS os
          |UNWIND CASE WHEN size(os) == 0 THEN [NULL] ELSE os END AS o
          |RETURN id(c) AS c, o""".stripMargin)),
    // anti pattern predicate: planned as a left anti join (PatternApply)
    "q_match_pattern_pred" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """MATCH (p:part) WHERE NOT (p)<-[:has_part]-()
          |RETURN id(p) AS p, p.part.name AS p_name""".stripMargin)),

    // label seek + boolean WHERE + ORDER/LIMIT
    "q_nql_match_seek" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """MATCH (v:customer) WHERE v.customer.mktsegment == "BUILDING" AND v.customer.acctbal > 9000
          |RETURN v.customer.name AS name, v.customer.acctbal AS acctbal
          |ORDER BY acctbal DESC, name LIMIT 20""".stripMargin)),
    // one-hop typed pattern with edge var + prop predicate
    "q_nql_match_hop" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """MATCH (c:customer)-[p:placed]->(o:order) WHERE p.totalprice > 400000
          |RETURN id(c) AS c, o.order.status AS status, p.totalprice AS totalprice""".stripMargin)),
    // implicit grouping aggregation over a 2-hop pattern
    "q_nql_match_agg" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """MATCH (c:customer)-[:in_nation]->(n:nation)
          |RETURN n.nation.name AS nation, count(*) AS cnt ORDER BY nation""".stripMargin)),
    // var-length path counting (edge-unique enumeration)
    "q_nql_match_var" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """MATCH (n:nation)-[:in_region*1..1]->(r:region)
          |RETURN r.region.name AS region, count(*) AS nations ORDER BY region""".stripMargin))
  )

  val oracleSql: Map[String, String] = Map(
    "q_match_basic" ->
      """SELECT 'c:' || c_custkey AS c, c_name AS c_name,
        |       'o:' || o_orderkey AS o, o_totalprice AS o_totalprice
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 300000""".stripMargin,
    "q_match_optional" ->
      """SELECT 'c:' || c_custkey AS c, 'o:' || o_orderkey AS o
        |FROM customer LEFT JOIN orders
        |  ON o_custkey = c_custkey AND o_totalprice > 400000
        |WHERE c_custkey <= 100""".stripMargin,
    "q_match_pattern_pred" ->
      """SELECT 'p:' || p_partkey AS p, p_name AS p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,
    "q_nql_match_seek" ->
      """SELECT c_name AS name, c_acctbal AS acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
        |ORDER BY acctbal DESC, name LIMIT 20""".stripMargin,
    "q_nql_match_hop" ->
      """SELECT 'c:' || c_custkey AS c, o_orderstatus AS status,
        |       o_totalprice AS totalprice
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000""".stripMargin,
    "q_nql_match_agg" ->
      """SELECT n_name AS nation, count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin,
    "q_nql_match_var" ->
      """SELECT r_name AS region, count(*) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin
  )
}
