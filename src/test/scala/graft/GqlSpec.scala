package graft

import graft.nql.{Expr, Gql}
import graft.nql.Gql._
import graft.traverse.Traverse.{Both, In, Out}

/** Parser unit tests for the nGQL sentence subset. Execution against
  * data is covered by the q_nql_* oracle queries. */
class GqlSpec extends SparkSpec {

  test("GO defaults: 1 step, Out, default (etype._dst) yields") {
    val Go(m, n, seeds, _, _, ets, dir, where, ys, dist, _) =
      Gql.parse("""GO FROM "a" OVER like"""): @unchecked
    assert(m == 1 && n == 1 && seeds == Seq("a") && ets == Seq("like") && dir == Out)
    assert(ys.isEmpty && !dist && where.isEmpty)
  }

  test("GO m TO n STEPS with direction and aliased yields") {
    val Go(m, n, seeds, _, _, ets, dir, _, Some(ys), _, _) =
      Gql.parse("""GO 2 TO 3 STEPS FROM "a", "b" OVER * REVERSELY YIELD vid AS v, step"""): @unchecked
    assert(m == 2 && n == 3 && seeds == Seq("a", "b") && ets == Seq("*") && dir == In)
    assert(ys.map(_.alias) == Seq("v", "step"))
  }

  test("GO over multi-edge list with boolean WHERE tree") {
    val Go(_, _, _, _, _, ets, _, Some(w), _, _, _) = Gql.parse(
      """GO FROM "a" OVER like, serve WHERE like.likeness > 80 AND serve.start_year < 2000 OR NOT (step == 1) YIELD vid"""): @unchecked
    assert(ets == Seq("like", "serve"))
    val Expr.Bin("or", _, _) = w: @unchecked
  }

  test("GO N STEPS (no TO) fixes both ends of the range") {
    val Go(m, n, _, _, _, _, dir, _, _, _, _) =
      Gql.parse("""GO 3 STEPS FROM "x" OVER e BIDIRECT"""): @unchecked
    assert(m == 3 && n == 3 && dir == Both)
  }

  test("GO seeds from $var.col and from $-.col") {
    val Go(_, _, _, _, sv, _, _, _, _, _, _) =
      Gql.parse("""GO FROM $a.dst OVER like"""): @unchecked
    assert(sv.contains("a" -> "dst"))
    val Piped(_, pipes) = Gql.parse(
      """GO FROM "a" OVER like YIELD like._dst as id | GO FROM $-.id OVER serve YIELD serve._dst"""): @unchecked
    val Seq(PGo(g2)) = pipes: @unchecked
    assert(g2.seedsCol.contains("id") && g2.etypes == Seq("serve"))
  }

  test("LOOKUP with WHERE expression trees and function yields") {
    val Lookup(tag, where, ys, _) =
      Gql.parse("""LOOKUP ON customer WHERE acctbal >= 9900 YIELD vid, name AS n"""): @unchecked
    assert(tag == "customer" && where.isDefined)
    assert(ys.map(_.alias) == Seq("vid", "n"))
    val Lookup(_, w2, y2, _) = Gql.parse(
      """LOOKUP ON player WHERE player.age > 40 AND player.name STARTS WITH "T" YIELD player.name, upper(player.name) AS u"""): @unchecked
    val Expr.Bin("and", _, _) = w2.get: @unchecked
    assert(y2.map(_.alias) == Seq("player.name", "u"))
  }

  test("FETCH PROP ON tag vids and edge src->dst@rank") {
    val Fetch(tag, vids, _, ys, dist) =
      Gql.parse("""FETCH PROP ON part "p:1", "p:2""""): @unchecked
    assert(tag == Seq("part") && vids == Seq("p:1", "p:2"))
    assert(ys.isEmpty && !dist)
    val FetchEdge(et, keys, _, _, _, _) = Gql.parse(
      """FETCH PROP ON serve "a" -> "b" @0, "c" -> "d" YIELD serve.start_year"""): @unchecked
    assert(et == "serve" &&
      keys == Seq(("a", "b", Some(0L)), ("c", "d", None)))
    val Piped(_, Seq(PFetch(pf: Fetch))) = Gql.parse(
      """LOOKUP ON player WHERE player.age == 40 YIELD id(vertex) AS id | FETCH PROP ON player $-.id YIELD player.name"""): @unchecked
    assert(pf.vidsRef.contains(InRef(None, "id")))
  }

  test("FIND PATH honors OVER list, direction, NOLOOP, UPTO") {
    val FindPath(m1, srcs, dsts, ets, dir, k, _, _, _, _) =
      Gql.parse("""FIND SHORTEST PATH FROM "a" TO "b", "c" OVER like REVERSELY UPTO 4 STEPS"""): @unchecked
    assert(m1 == "shortest" && srcs == Seq("a") && dsts == Seq("b", "c"))
    assert(ets == Seq("like") && dir == In && k == 4)
    val FindPath(m2, _, _, ets2, _, k2, _, _, _, _) =
      Gql.parse("""FIND NOLOOP PATH FROM "a" TO "b""""): @unchecked
    assert(m2 == "noloop" && ets2 == Seq("*") && k2 == 5)
  }

  test("GET SUBGRAPH with edge filter and YIELD EDGES") {
    val SubgraphY(steps, seeds, _, specs, yields, _) =
      Gql.parse("""GET SUBGRAPH 2 STEPS FROM "c:1" OUT placed YIELD VERTICES AS v, EDGES AS e"""): @unchecked
    assert(steps == 2 && seeds == Seq("c:1"))
    assert(specs == Seq((Out, Seq("placed"))))
    assert(yields == Seq(("vertices", "v"), ("edges", "e")))
  }

  test("set sentences: UNION / UNION ALL / INTERSECT / MINUS (left-assoc)") {
    val SetOp("minus", _, SetOp("union", false, _, _), _) = Gql.parse(
      """GO FROM "a" OVER like YIELD vid UNION GO FROM "b" OVER like YIELD vid MINUS GO FROM "c" OVER like YIELD vid"""): @unchecked
    val SetOp("union", true, _, _) = Gql.parse(
      """GO FROM "a" OVER like YIELD vid UNION ALL GO FROM "b" OVER like YIELD vid"""): @unchecked
  }

  test("scripts: $var assignment feeding a later sentence") {
    val script = Gql.parseScript(
      """$a = GO FROM "x" OVER like YIELD like._dst AS dst; GO FROM $a.dst OVER serve YIELD serve._dst""")
    assert(script.size == 2)
    assert(script.head._1.contains("a"))
    assert(script(1)._1.isEmpty)
  }

  test("UNWIND and standalone YIELD sentences") {
    val Unwind(_, alias) = Gql.parse("""UNWIND [1, 2, 3] AS x"""): @unchecked
    assert(alias == "x")
    val YieldStmt(items, _, _) =
      Gql.parse("""YIELD 1 + 2 AS s, "a" AS t"""): @unchecked
    assert(items.map(_.alias) == Seq("s", "t"))
  }

  test("expression parser: precedence, CASE, IN, IS NULL, functions") {
    def e(s: String) = Expr.parseText(s)
    val Expr.Bin("or", Expr.Bin("and", _, _), _) = e("a > 1 AND b < 2 OR c == 3"): @unchecked
    val Expr.Bin("+", _, Expr.Bin("*", _, _)) = e("1 + 2 * 3"): @unchecked
    val Expr.CaseW(None, brs, Some(_)) =
      e("CASE WHEN a > 1 THEN 2 ELSE 3 END"): @unchecked
    assert(brs.size == 1)
    val Expr.Bin("in", _, Expr.ListLit(xs)) = e("a IN [1, 2, 3]"): @unchecked
    assert(xs.size == 3)
    val Expr.Un("isnotnull", _) = e("a.b.c IS NOT NULL"): @unchecked
    val Expr.FnCall("count", List(Expr.Star), false) = e("COUNT(*)"): @unchecked
    val Expr.FnCall("count", _, true) = e("COUNT(DISTINCT x)"): @unchecked
  }

  test("errors: unterminated string, unknown sentence, trailing junk") {
    intercept[IllegalArgumentException](Gql.parse("""GO FROM "a OVER x"""))
    intercept[IllegalArgumentException](Gql.parse("""DROP TABLE x"""))
    intercept[IllegalArgumentException](
      Gql.parse("""LOOKUP ON t WHERE a ~ 3"""))
  }

  test("keywords are case-insensitive") {
    Gql.parse("""go from "a" over like yield vid""")
  }

  test("FIND PATH OVER <etype> excludes other edge types (was silently ignored)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val likes = Seq(("a", "b", 0L), ("b", "c", 0L)).toDF("src", "dst", "rank")
      .withColumn("likeness", lit(1L))
    val roads = Seq(("a", "c", 0L)).toDF("src", "dst", "rank")
    val cat = graft.graph.MapCatalog(
      tags = Map("node" -> Seq("a", "b", "c").toDF("vid")),
      edges = Map("like" -> likes, "road" -> roads))
    // over like only: a->b->c (2 hops); the 1-hop road shortcut is
    // excluded — with OVER ignored the answer would be the road
    val typed = Gql.run(cat, """FIND SHORTEST PATH FROM "a" TO "c" OVER like UPTO 3 STEPS""")
      .select("hops").as[Int].collect().toSeq
    assert(typed == Seq(2), s"typed path took the wrong edges: $typed")
    val all = Gql.run(cat, """FIND SHORTEST PATH FROM "a" TO "c" OVER * UPTO 3 STEPS""")
      .select("hops").as[Int].collect().toSeq
    assert(all == Seq(1), s"untyped path should use the road: $all")
  }

  test("MATCH WHERE pattern conjuncts plan as semi/anti joins, same rows as the rollup") {
    import spark.implicits._
    // e: b->a, c->a, d->b and z->a from z, which is no vertex;
    // x: a=1 .. e=5
    val cat = graft.graph.MapCatalog(
      tags = Map("t" -> Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L), ("e", 5L))
        .toDF("vid", "x")),
      edges = Map("e" -> Seq(("b", "a", 0L), ("c", "a", 0L), ("d", "b", 0L),
        ("z", "a", 0L)).toDF("src", "dst", "rank")))
    def run(q: String) = Gql.run(cat, q)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    // how the WHERE was planned: a semi or anti join with no per-row
    // path lists, or the rollup's collect_list
    def planned(df: org.apache.spark.sql.DataFrame): String = {
      val plan = df.queryExecution.optimizedPlan.toString
      if (plan.contains("collect_list")) "rollup"
      else if (plan.contains("LeftAnti")) "anti"
      else if (plan.contains("LeftSemi")) "semi"
      else "neither"
    }
    def vids(where: String) =
      run(s"MATCH (v:t) WHERE $where RETURN id(v) AS v")
    val cases = Seq(
      ("(v)<-[:e]-()", Set("a", "b"), "semi"),
      ("NOT (v)<-[:e]-()", Set("c", "d", "e"), "anti"),
      ("(v)<-[:e]-() AND v.t.x > 1", Set("b"), "semi"),
      ("v.t.x < 5 AND NOT (v)<-[:e]-()", Set("c", "d"), "anti"),
      // two hops expand a path frame seeded from the binding
      ("(v)<-[:e]-()<-[:e]-()", Set("a"), "semi"),
      ("NOT (v)<-[:e]-()<-[:e]-()", Set("b", "c", "d", "e"), "anti"),
      // inside OR the pattern stays on the rollup path
      ("(v)<-[:e]-() OR v.t.x == 5", Set("a", "b", "e"), "rollup"))
    cases.foreach { case (w, want, how) =>
      val df = vids(w)
      assert(df.as[String].collect().toSet == want, w)
      assert(planned(df) == how, s"$w:\n${df.queryExecution.optimizedPlan}")
      // `OR false` keeps the same predicate on the rollup path
      val rollup = vids(s"($w) OR false")
      assert(planned(rollup) == "rollup")
      assert(rows(df) == rows(rollup), s"$w vs its rollup")
    }
    // OPTIONAL MATCH leaves w NULL for c, d and e, and binds a's
    // in-neighbor z, which is no vertex. Neither matches a pattern —
    // the rollup's all-vertex head drops z — so NOT keeps both and the
    // bare pattern drops both
    def optional(w: String) = run(
      s"""MATCH (v:t) OPTIONAL MATCH (v)<-[:e]-(w)
         |MATCH (v) WHERE $w RETURN id(v) AS v, id(w) AS w""".stripMargin)
    val anti = optional("NOT (w)-[:e]->()")
    assert(rows(anti) == Set(Seq("a", "z"), Seq("c", null), Seq("d", null),
      Seq("e", null)))
    assert(planned(anti) == "anti")
    assert(rows(anti) == rows(optional("(NOT (w)-[:e]->()) OR false")))
    val semi = optional("(w)-[:e]->()")
    assert(rows(semi) == Set(Seq("a", "b"), Seq("a", "c"), Seq("b", "d")))
    assert(planned(semi) == "semi")
    assert(rows(semi) == rows(optional("((w)-[:e]->()) OR false")))
  }
}
