package graft.nql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.GraphCatalog
import graft.traverse.Traverse
import graft.traverse.Traverse.{Both, Direction, In, Out}
import graft.Ckpt.MatOps

/** MATCH text entry point (reference: parser.yy:1841 match_sentence,
  * MatchPlanner.cpp:26, MatchClausePlanner.cpp:18, seek priority
  * PlannersRegister.cpp:94-118). Compiles a Cypher-style pattern onto
  * a single binding DataFrame — one column per bound variable:
  *
  *   vertex var `v`  → `v` (vid) plus `v_<tag>_<prop>` property cols
  *   edge var `e`    → `e_src`, `e_dst`, `e_rank`, `e_etype`, `e_<prop>`
  *
  * Seeks are filters over tag tables (Catalyst pushes them into the
  * scan — the reference's IndexSeek/ScanSeek priority list collapses
  * into predicate pushdown); hops are equi-joins; OPTIONAL MATCH is a
  * left join on the shared variables (SegmentsConnector.cpp:39);
  * var-length hops run an edge-unique path loop (openCypher
  * relationship-isomorphism, TraverseExecutor.cpp edge dedup) with
  * per-step localCheckpoint, same scale posture as Traverse.
  *
  * Property refs against tags a variable is not bound to resolve to
  * NULL (the reference's BAD_TYPE-tolerant prop access in relax mode:
  * `v.unknown.name IS NULL` is answerable, not an error).
  */
object MatchSeg {
  import Gql.{P, Sym, Word, Item}

  // ---------- AST ----------
  case class Node(v: Option[String], tags: List[String],
                  props: List[(String, Any)])
  /** range: None = single hop; Some((m, n)) = var-length *m..n. */
  case class Rel(v: Option[String], etypes: List[String], dir: Direction,
                 range: Option[(Int, Int)], props: List[(String, Any)])
  /** `sp`: the part is wrapped in shortestPath(...) (Some(false)) or
    * allShortestPaths(...) (Some(true)) — reference planner
    * planner/match/ShortestPathPlanner.h:13. */
  case class Part(pathVar: Option[String], nodes: List[Node], rels: List[Rel],
                  sp: Option[Boolean] = None)
  /** Recorded shape of a named path: node/edge var sequence. */
  case class PathInfo(nodes: List[String], rels: List[String],
                      varLength: Boolean)
  case class Clause(optional: Boolean, parts: List[Part],
                    where: Option[Expr.E])
  /** One pipeline stage between MATCH and RETURN. */
  sealed trait Stage
  case class MatchStage(clauses: List[Clause]) extends Stage
  /** WITH (and RETURN): projection with implicit grouping, optional
    * post-projection WHERE / ORDER / SKIP / LIMIT (WithClausePlanner). */
  case class Proj(distinct: Boolean, star: Boolean, items: Seq[Item],
                  where: Option[Expr.E], orderBy: Seq[(Expr.E, Boolean)],
                  skip: Int, limit: Int) extends Stage
  case class UnwindStage(e: Expr.E, alias: String) extends Stage
  case class MStmt(stages: List[Stage], ret: Proj) extends Gql.Stmt

  // ---------- parser (MATCH keyword already consumed) ----------
  def parse(p: P): MStmt =
    parseStages(p,
      scala.collection.mutable.ListBuffer.empty[Stage],
      scala.collection.mutable.ListBuffer(parseClause(p, optional = false)))

  /** Entry for a leading `OPTIONAL MATCH` (both keywords consumed).
    * With no prior binding the optional clause seeds the table
    * directly — identical to MATCH whenever the pattern has matches
    * (MatchById.feature); the zero-match one-null-row corner is not
    * reproduced. */
  def parseFromOptional(p: P): MStmt =
    parseStages(p,
      scala.collection.mutable.ListBuffer.empty[Stage],
      scala.collection.mutable.ListBuffer(parseClause(p, optional = true)))

  /** Entry for an UNWIND-headed pipeline (`UNWIND ... AS x MATCH ...`,
    * keyword + expr + alias already consumed by Gql). */
  def parseFromUnwind(p: P, e: Expr.E, alias: String): MStmt =
    parseStages(p,
      scala.collection.mutable.ListBuffer[Stage](UnwindStage(e, alias)),
      scala.collection.mutable.ListBuffer.empty[Clause])

  /** Entry for a WITH-headed pipeline (`WITH ... MATCH ... RETURN`). */
  def parseFromWith(p: P): MStmt =
    parseStages(p,
      scala.collection.mutable.ListBuffer[Stage](parseProj(p, isWith = true)),
      scala.collection.mutable.ListBuffer.empty[Clause])

  private def parseStages(p: P,
      stages: scala.collection.mutable.ListBuffer[Stage],
      pending: scala.collection.mutable.ListBuffer[Clause]): MStmt = {
    def flush(): Unit =
      if (pending.nonEmpty) { stages += MatchStage(pending.toList); pending.clear() }
    var ret: Option[Proj] = None
    while (ret.isEmpty) {
      if (p.kw("OPTIONAL")) {
        p.expectKw("MATCH"); pending += parseClause(p, optional = true)
      } else if (p.kw("MATCH")) {
        pending += parseClause(p, optional = false)
      } else if (p.kw("WITH")) {
        flush(); stages += parseProj(p, isWith = true)
      } else if (p.kw("UNWIND")) {
        flush()
        val e = Expr.parse(p)
        p.expectKw("AS")
        stages += UnwindStage(e, p.word())
      } else {
        p.expectKw("RETURN")
        flush(); ret = Some(parseProj(p))
      }
    }
    MStmt(stages.toList, ret.get)
  }

  /** Items [WHERE] [ORDER BY] [SKIP] [LIMIT] in any clause order. */
  private def parseProj(p: P, isWith: Boolean = false): Proj = {
    val distinct = p.kw("DISTINCT")
    var star = false
    var items = Seq.empty[Item]
    if (p.sym("*")) {
      star = true
      if (p.sym(",")) items = Gql.parseItems(p)
    } else items = Gql.parseItems(p)
    // WithValidator: a WITH item that isn't a bare variable must carry
    // an explicit alias (match/With.feature `WITH a, "hello"`). The
    // default alias is the expression's own text, which a parsed AS
    // word (a single identifier) can never equal for non-trivial
    // expressions.
    if (isWith) items.foreach { it =>
      val bare = it.e match {
        case Expr.Ref(List(_)) => true
        case _ => false
      }
      if (!bare && it.alias == Expr.text(it.e))
        throw new IllegalArgumentException(
          "SemanticError: Expression in WITH must be aliased (use AS)")
    }
    var where: Option[Expr.E] = None
    var orderBy = Seq.empty[(Expr.E, Boolean)]
    var skip = 0
    var limit = -1
    var go = true
    while (go) {
      if (p.kw("WHERE")) where = Some(Expr.parse(p))
      else if (p.kw("ORDER")) {
        p.expectKw("BY")
        val keys = scala.collection.mutable.ListBuffer.empty[(Expr.E, Boolean)]
        var go2 = true
        while (go2) {
          val e = Expr.parse(p)
          // ASC/DESC and the openCypher long forms (parser.yy ORDER BY)
          val desc = if (p.kw("DESC") || p.kw("DESCENDING")) true
                     else { if (!p.kw("ASC")) p.kw("ASCENDING"); false }
          keys += (e -> desc)
          if (p.sym(",")) () else go2 = false
        }
        orderBy = keys.toSeq
      } else if (p.kw("SKIP")) skip = Gql.constInt(p)
      else if (p.kw("LIMIT")) limit = Gql.constInt(p)
      else go = false
    }
    Proj(distinct, star, items, where, orderBy, skip, limit)
  }

  private def parseClause(p: P, optional: Boolean): Clause = {
    val parts0 = scala.collection.mutable.ListBuffer(parsePart(p))
    while (p.sym(",")) parts0 += parsePart(p)
    var where = if (p.kw("WHERE")) Some(Expr.parse(p)) else None
    // grammar: OPTIONAL MATCH carries no WHERE (parser.yy;
    // MatchById "Where clause in optional match is not supported")
    if (optional && where.isDefined)
      throw new IllegalArgumentException(
        "syntax error: Where clause in optional match is not supported.")
    // variable-valued node props hoist into the clause WHERE:
    // `(v:player{name: a})` ≡ `(v:player) WHERE v.player.name == a`
    // (match/With.feature; the value column joins in from the earlier
    // stage's frame, so only a post-join filter can see both sides)
    var ppAnon = 0
    val parts = parts0.toList.map { part =>
      val nodes2 = part.nodes.map { nd =>
        val varProps = nd.props.filter(_._2.isInstanceOf[Expr.E])
        if (varProps.isEmpty) nd
        else {
          require(!optional,
            "variable property values in OPTIONAL MATCH are unsupported")
          if (nd.tags.isEmpty) {
            val k = varProps.head._1
            throw new IllegalArgumentException(
              s"SemanticError: `$k:${Expr.text(varProps.head._2
                .asInstanceOf[Expr.E])}': No tag found for property.")
          }
          val v = nd.v.getOrElse { ppAnon += 1; s"__pp$ppAnon" }
          varProps.foreach { case (k, e) =>
            val conj = Expr.Bin("==",
              Expr.Ref(List(v, nd.tags.head, k)), e.asInstanceOf[Expr.E])
            where = Some(where.fold(conj)(Expr.Bin("and", _, conj)))
          }
          nd.copy(v = Some(v),
            props = nd.props.filterNot(_._2.isInstanceOf[Expr.E]))
        }
      }
      part.copy(nodes = nodes2)
    }
    Clause(optional, parts, where)
  }

  private def parsePart(p: P): Part = {
    // named path: `p = (a)-[e]->(b)` (parser.yy match_path_pattern)
    val pathVar = (p.peek, p.peek2) match {
      case (Some(Word(w)), Some(Sym("="))) => p.next(); p.next(); Some(w)
      case _ => None
    }
    // shortestPath((a)-[e*..n]-(b)) / allShortestPaths(...)
    // (ShortestPathPlanner.h:13; MatchPathPattern in parser.yy)
    val sp = p.peek match {
      case Some(Word(w)) if w.equalsIgnoreCase("shortestPath") &&
          p.peek2.contains(Sym("(")) =>
        p.next(); p.next(); Some(false)
      case Some(Word(w)) if w.equalsIgnoreCase("allShortestPaths") &&
          p.peek2.contains(Sym("(")) =>
        p.next(); p.next(); Some(true)
      case _ => None
    }
    val nodes = scala.collection.mutable.ListBuffer(parseNode(p))
    val rels = scala.collection.mutable.ListBuffer.empty[Rel]
    var go = true
    while (go) {
      p.peek match {
        case Some(Sym("-")) | Some(Sym("<")) =>
          rels += parseRel(p)
          nodes += parseNode(p)
        case _ => go = false
      }
    }
    if (sp.isDefined) {
      p.expectSym(")")
      // the reference's validator constraints (ShortestPathValidator):
      // exactly (start)-[edge*..hop]-(end), min steps 0 or 1
      require(rels.size == 1 && nodes.size == 2,
        "`shortestPath(...)' only support pattern like (start)-[edge*..hop]-(end)")
      rels.head.range.foreach { case (m, _) =>
        require(m <= 1,
          "The minimal number of steps for shortestPath() must be either 0 or 1")
      }
    }
    Part(pathVar, nodes.toList, rels.toList, sp)
  }

  /** A prop-map value: a driver-foldable constant, or a bare variable
    * reference (`{name: a}` with `a` from an earlier WITH) kept as its
    * Expr.Ref marker for the clause-WHERE hoist in parseClause. */
  private def litValue(p: P): Any = Expr.parse(p) match {
    case r @ Expr.Ref(List(_)) => r
    case e => constFold(e)
  }

  /** Driver-side fold of constant expressions — inline props like
    * `{age: (4 * 20) + 5}` (FoldConstantExprVisitor). */
  private def constFold(e: Expr.E): Any = e match {
    case Expr.Lit(v) => v
    case Expr.ParamLit(_, v) => constFold(v)
    // nested parameter access ($p7.a.b.c / $p5[0]) folds element-wise
    case Expr.Attr(x, name) => constFold(x) match {
      case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]].getOrElse(name,
          throw new IllegalArgumentException(s"no key $name"))
      case other =>
        throw new IllegalArgumentException(s"cannot access .$name of $other")
    }
    case Expr.Subscript(x, i) => (constFold(x), constFold(i)) match {
      case (l: List[_], n: Long) => l.lift(n.toInt).getOrElse(
        throw new IllegalArgumentException(s"index $n out of range"))
      case (a, b) =>
        throw new IllegalArgumentException(s"cannot subscript $a by $b")
    }
    case Expr.MapLit(entries) =>
      entries.map { case (k, v) => k -> constFold(v) }.toMap
    case Expr.ListLit(items) => items.map(constFold)
    case Expr.Un("neg", x) => constFold(x) match {
      case n: Long => -n
      case d: Double => -d
      case other =>
        throw new IllegalArgumentException(s"cannot negate $other")
    }
    case Expr.Bin(op, a, b) =>
      (constFold(a), constFold(b)) match {
        case (x: Long, y: Long) => op match {
          case "+" => x + y; case "-" => x - y; case "*" => x * y
          case "/" => x / y; case "%" => x % y
          case other =>
            throw new IllegalArgumentException(s"non-constant op $other")
        }
        case (x: String, y: String) if op == "+" => x + y
        case (xa, ya) =>
          val (x, y) = (toD(xa), toD(ya))
          op match {
            case "+" => x + y; case "-" => x - y; case "*" => x * y
            case "/" => x / y
            case other =>
              throw new IllegalArgumentException(s"non-constant op $other")
          }
      }
    case other =>
      throw new IllegalArgumentException(s"expected literal, got ${Expr.text(other)}")
  }

  private def toD(v: Any): Double = v match {
    case n: Long => n.toDouble
    case d: Double => d
    case other =>
      throw new IllegalArgumentException(s"not numeric: $other")
  }

  private def parseProps(p: P): List[(String, Any)] =
    if (!p.sym("{")) Nil
    else {
      val out = scala.collection.mutable.ListBuffer.empty[(String, Any)]
      if (!p.sym("}")) {
        var go = true
        while (go) {
          val k = p.word()
          p.expectSym(":")
          out += (k -> litValue(p))
          if (p.sym(",")) () else go = false
        }
        p.expectSym("}")
      }
      out.toList
    }

  private def parseNode(p: P): Node = {
    p.expectSym("(")
    val v = p.peek match {
      case Some(Word(w)) => p.next(); Some(w)
      case _ => None
    }
    // tags and prop maps interleave freely: (v:a{x:1}:b)
    val tags = scala.collection.mutable.ListBuffer.empty[String]
    val props = scala.collection.mutable.ListBuffer.empty[(String, Any)]
    var go = true
    while (go) {
      if (p.sym(":")) tags += p.word()
      else if (p.peek.contains(Sym("{"))) props ++= parseProps(p)
      else go = false
    }
    p.expectSym(")")
    Node(v, tags.toList, props.toList)
  }

  private def parseRel(p: P): Rel = {
    val leftArrow = p.sym("<")
    p.expectSym("-")
    var v: Option[String] = None
    var etypes = List.empty[String]
    var range: Option[(Int, Int)] = None
    var props = List.empty[(String, Any)]
    if (p.sym("[")) {
      p.peek match {
        case Some(Word(w)) => p.next(); v = Some(w)
        case _ => ()
      }
      if (p.sym(":")) {
        val ts = scala.collection.mutable.ListBuffer(p.word())
        while (p.sym("|")) {
          p.sym(":") // `:like|:serve` and `:like|serve` both appear
          ts += p.word()
        }
        etypes = ts.toList
      }
      if (p.sym("*")) {
        // *m..n | *m | *..n | *m.. | bare `*` — an open upper bound is
        // Int.MaxValue (MatchStepRange defaults min=0 max=size_t max,
        // parser.yy; expansion still terminates: trail semantics cap
        // path length at the edge count)
        val m = p.peek match {
          case Some(Gql.Num(x, _)) => p.next(); Some(x.toInt)
          case _ => None
        }
        val dots = p.sym("..")
        val n = p.peek match {
          case Some(Gql.Num(x, _)) => p.next(); Some(x.toInt)
          case _ => None
        }
        range = (m, n, dots) match {
          case (Some(a), Some(b), true) => Some((a, b))
          case (Some(a), None, false) => Some((a, a))
          case (Some(a), None, true) => Some((a, Int.MaxValue))
          case (None, Some(b), true) => Some((1, b))
          case _ => Some((1, Int.MaxValue))
        }
      }
      props = parseProps(p)
      // edge prop maps stay literal-only (the node-side variable-prop
      // hoist has no edge equivalent wired)
      props.find(_._2.isInstanceOf[Expr.E]).foreach { case (_, e) =>
        throw new IllegalArgumentException(
          s"expected literal, got ${Expr.text(e.asInstanceOf[Expr.E])}")
      }
      p.expectSym("]")
      p.expectSym("-")
    } else {
      // abbreviated -- / --> / <--
      p.expectSym("-")
    }
    val rightArrow = p.sym(">")
    val dir =
      if (leftArrow && !rightArrow) In
      else if (!leftArrow && rightArrow) Out
      else Both
    Rel(v, etypes, dir, range, props)
  }

  /** Parse the `node (rel node)+` body of a pattern EXPRESSION
    * (`(v)-[:like]->()` in value position — Expr.PatternE). No path
    * variable, no shortestPath wrapper, at least one relationship;
    * each additional hop backtracks cleanly so `(v)-[:x]->() - 3`
    * stops after the pattern and leaves `- 3` to the caller. */
  private[nql] def parsePatternExprPart(p: P): Part = {
    val nodes = scala.collection.mutable.ListBuffer(parseNode(p))
    val rels = scala.collection.mutable.ListBuffer.empty[Rel]
    var go = true
    while (go) {
      val more = p.peek match {
        case Some(Sym("-")) => true
        case Some(Sym("<")) => p.peek2.contains(Sym("-"))
        case _ => false
      }
      if (!more) go = false
      else {
        val saved = p.ts
        try { rels += parseRel(p); nodes += parseNode(p) }
        catch {
          case scala.util.control.NonFatal(_) => p.ts = saved; go = false
        }
      }
    }
    require(rels.nonEmpty, "not a pattern expression")
    // the clause-WHERE hoist for variable prop values doesn't apply
    // inside a pattern EXPRESSION — keep those literal-only
    nodes.flatMap(_.props).find(_._2.isInstanceOf[Expr.E])
      .foreach { case (_, e) =>
        throw new IllegalArgumentException(
          s"expected literal, got ${Expr.text(e.asInstanceOf[Expr.E])}")
      }
    Part(None, nodes.toList, rels.toList)
  }

  // ---------- executor ----------
  private class BState(g: GraphCatalog) {
    val vertexVars = scala.collection.mutable.LinkedHashSet.empty[String]
    val edgeVars = scala.collection.mutable.LinkedHashSet.empty[String]
    /** Pattern-declaration order across BOTH kinds — `RETURN *` emits
      * columns in this order (v, e, v2 for a one-hop pattern). */
    val declOrder = scala.collection.mutable.ListBuffer.empty[String]
    /** (var, tag) pairs whose prop columns are bound in the frame. */
    val boundTags = scala.collection.mutable.Set.empty[(String, String)]
    /** Vertex vars whose every value is a stored vertex: bound by a
      * label or all-vertex seek, or as a tag-joined hop end. An
      * untagged hop end may name a dangling edge endpoint. */
    val seekedVars = scala.collection.mutable.Set.empty[String]
    var anon = 0
    def freshVar(): String = { anon += 1; s"__n$anon" }
    def knownTag(t: String): Boolean = g.tagNames.contains(t)
    def tags: Seq[String] = g.tagNames
    /** Vars whose per-tag membership flags are joined (labels()). */
    val labelsBound = scala.collection.mutable.Set.empty[String]
    /** Plain (scalar) columns introduced by WITH/UNWIND — part of the
      * variable namespace for `RETURN *` but never rendered. */
    val plainCols = scala.collection.mutable.LinkedHashSet.empty[String]
    /** WITH aliases holding collect()ed node vids — raw internally
      * (UNWIND-able), rendered element-wise at RETURN. */
    val nodeListCols = scala.collection.mutable.Set.empty[String]
    /** WITH aliases bound to scalar LITERALS — provably not vertex
      * values, so reuse in node position is the reference's
      * ExecutionError (`with "1" as a match (a)-...`). */
    val scalarLitVars = scala.collection.mutable.Set.empty[String]
    /** The subset of scalarLitVars bound to the literal NULL — legal
      * as an OPTIONAL MATCH seed (openCypher: the optional pattern
      * simply fails and its vars bind null; Path2.feature [3]). */
    val nullLitVars = scala.collection.mutable.Set.empty[String]
    /** Path vars of a null-seeded OPTIONAL clause: every path function
      * over them resolves to NULL. */
    val nullPaths = scala.collection.mutable.Set.empty[String]
    /** Var-length edge vars: `e` in [e:like*m..n] — an ARRAY of edge
      * structs per row (openCypher: the relationship list). */
    val vlEdgeVars = scala.collection.mutable.LinkedHashSet.empty[String]
    def addVlEdge(ev: String): Unit = {
      if (!known(ev) && !vlEdgeVars.contains(ev)) declOrder += ev
      vlEdgeVars += ev
    }
    /** Named paths: var → node/edge sequence (rendered at RETURN). */
    val pathVars = scala.collection.mutable.Map.empty[String, PathInfo]
    /** Path aliases that survived a WITH as a rendered string plus a
      * hidden `${alias}__plen` hop-count twin (length(p) post-WITH). */
    val pathLenCols = scala.collection.mutable.Set.empty[String]
    /** UNWIND aliases over a HETEROGENEOUS literal list (scalars mixed
      * with sublists): struct<__mx_s: scalar, __mx_l: array> — exactly
      * one side non-null per row (match/Unwind `[1, [2,3,NULL,4], 5]`). */
    val mixedValCols = scala.collection.mutable.Set.empty[String]
    /** shortestPath()/allShortestPaths() named paths: rendered string
      * bound as a plain column, structure in `${pv}__spvids/__spsteps`
      * hidden columns. */
    val spPaths = scala.collection.mutable.Set.empty[String]
    /** Deferred same-relationship constraints from re-using a bound
      * edge var in a later pattern: (tmpVar, originalVar, isVarLen).
      * The two vars' columns may live in frames that only meet at a
      * joinShared — the equality filter applies once both resolve. */
    val pendingEdgeEq =
      scala.collection.mutable.ListBuffer.empty[(String, String, Boolean)]
    def addPath(pv: String): Unit = {
      if (!known(pv) && !pathVars.contains(pv)) declOrder += pv
    }
    private def known(n: String) =
      vertexVars.contains(n) || edgeVars.contains(n) || plainCols.contains(n)
    def addVertex(v: String): Unit = {
      if (!known(v)) declOrder += v
      vertexVars += v
    }
    def addEdge(ev: String): Unit = {
      if (!known(ev)) declOrder += ev
      edgeVars += ev
    }
    def addPlain(n: String): Unit = {
      if (!known(n)) declOrder += n
      plainCols += n
    }
  }

  /** Rename a tag table into a variable's namespace:
    * vid → var, prop → `var_tag_prop`. */
  private def tagFrame(g: GraphCatalog, tag: String, v: String): DataFrame = {
    val tbl = g.vertexTable(tag)
    tbl.columns.foldLeft(tbl)((df, c) =>
      df.withColumnRenamed(c, if (c == "vid") v else s"${v}_${tag}_$c"))
  }

  /** Type-strict inline-prop equality (the reference compares values
    * WITH types: `{likeness:"99"}` never matches an int prop — no
    * string→int coercion like Spark's default). */
  private def typedEq(df: DataFrame, c: String, v: Any): Column = {
    import org.apache.spark.sql.types._
    val dt = df.schema(c).dataType
    val compatible = (dt, v) match {
      case (StringType, _: String) => true
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            _: Long | _: Int | _: Double) => true
      case (BooleanType, _: Boolean) => true
      case _ => false
    }
    if (compatible) col(c) === lit(v) else lit(false)
  }

  private def nodePropFilter(df: DataFrame, v: String, tags: List[String],
                             props: List[(String, Any)]): DataFrame =
    props.foldLeft(df) { case (d, (k, value)) =>
      // an inline prop constrains whichever bound tag defines it; a
      // prop NO bound tag declares reads as NULL and never matches —
      // the reference executes to an empty result, it does not reject
      // (MatchCrash.feature)
      val candidates = tags.map(t => s"${v}_${t}_$k").filter(d.columns.contains)
      if (candidates.isEmpty) d.filter(lit(false))
      else d.filter(candidates.map(c => typedEq(d, c, value)).reduce(_ || _))
    }

  /** Build the frame for one node var: tagged → tag table(s) joined on
    * vid (a multi-tag pattern is an intersection); untagged → the
    * all-vertices vid scan. */
  private def nodeFrame(g: GraphCatalog, st: BState, n: Node, v: String): DataFrame = {
    st.addVertex(v)
    st.seekedVars += v
    if (n.tags.isEmpty) {
      require(n.props.isEmpty, "props on an untagged node")
      g.allVertices.select(col("vid").as(v)).distinct()
    } else {
      var df = tagFrame(g, n.tags.head, v)
      st.boundTags += (v -> n.tags.head)
      n.tags.tail.foreach { t =>
        df = df.join(tagFrame(g, t, v), Seq(v))
        st.boundTags += (v -> t)
      }
      nodePropFilter(df, v, n.tags, n.props)
    }
  }

  /** One pattern part → frame. Left-to-right fold of hop joins. The
    * hidden `__trail` column carries the edge-ids a row's partial match
    * already used — openCypher relationship-uniqueness (trail
    * semantics) holds across the WHOLE clause, so every later hop
    * filters against it (the reference's TraverseExecutor edge dedup). */
  /** MATCH shortestPath() / allShortestPaths() part: endpoint seeks →
    * multi-origin BFS (PathFinder.typedPathsRaw, mode=shortest) → bind
    * v1/v2/edge-var/path-var columns like any other part. Single mode
    * keeps one deterministic representative per (v1, v2) pair. */
  private def buildShortestPart(g: GraphCatalog, st: BState,
                                part: Part,
                                idHints: Map[String, Seq[Any]]): DataFrame = {
    import graft.algo.PathFinder
    val all = part.sp.get
    val n1 = part.nodes.head
    val n2 = part.nodes(1)
    // same ALIAS at both ends is the reference's runtime SemanticError
    // (ShortestPathValidator; same VALUE under distinct aliases is
    // legal and yields no rows — AllShortestPaths.feature:936-1005)
    if (n1.v.isDefined && n1.v == n2.v)
      throw new IllegalArgumentException(
        "SemanticError: The shortest path algorithm does not work when " +
          "the start and end nodes are the same")
    val rel = part.rels.head
    val v1 = n1.v.getOrElse(st.freshVar())
    val v2 = n2.v.getOrElse(st.freshVar())
    val (minN, maxN) = rel.range.getOrElse((1, 1))
    // endpoint seeks WITHOUT registering boundTags (the prop columns
    // of the seek frames are discarded; tags re-join onto the result)
    def seekSet(nd: Node, v: String): DataFrame = {
      st.addVertex(v)
      var df0 =
        if (nd.tags.isEmpty) g.allVertices.select(col("vid").as(v))
        else {
          var df = tagFrame(g, nd.tags.head, v)
          nd.tags.tail.foreach(t => df = df.join(tagFrame(g, t, v), Seq(v)))
          nodePropFilter(df, v, nd.tags, nd.props)
        }
      nd.v.flatMap(idHints.get).foreach { vids =>
        df0 = df0.filter(col(v).isin(vids: _*)) // pushed to the scan
      }
      df0.select(col(v).as("vid")).distinct()
    }
    val srcs = seekSet(n1, v1)
    val dsts = seekSet(n2, v2)
    val types = if (rel.etypes.nonEmpty) rel.etypes else g.edgeTypeNames
    val te = g.allEdges.filter(col("etype").isin(types: _*))
    val strVid = te.schema("src").dataType ==
      org.apache.spark.sql.types.StringType
    val raw = PathFinder.typedPathsRaw(srcs, dsts, te, maxN, "shortest",
      rel.dir)
    var frame = raw.select(
      element_at(col("vids"), 1).as(v1),
      element_at(col("vids"), -1).as(v2),
      col("vids"), col("steps"))
    // a src==dst pair's shortest path may be a genuine cycle — the
    // reference counts (Tim,Tim) via Tim→Tony→Tim in its PASSING
    // count(p)==14 scenario — but the zero-step self row exists only
    // under a *0.. lower bound
    if (minN >= 1) frame = frame.filter(size(col("steps")) >= 1)
    if (!all) {
      // shortestPath(): one (deterministic) representative per pair
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col(v1), col(v2)).orderBy(
        graft.algo.PathFinder.renderTypedPath(col("vids"), col("steps"),
          strVid).desc)
      frame = frame.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    rel.v.foreach { ev =>
      if (rel.range.isEmpty) {
        // single-hop form: bare edge var columns
        st.addEdge(ev)
        val s0 = element_at(col("steps"), 1)
        frame = frame
          .withColumn(s"${ev}_src", s0("s"))
          .withColumn(s"${ev}_dst", s0("d"))
          .withColumn(s"${ev}_etype", s0("t"))
          .withColumn(s"${ev}_rank", s0("r"))
      } else {
        // var-length: edge-list var in the `${ev}__vl` struct shape
        st.addVlEdge(ev)
        frame = frame.withColumn(s"${ev}__vl",
          transform(col("steps"), x => struct(x("t").as("__t"),
            x("s").as("__s"), x("d").as("__d"), x("r").as("__r"))))
      }
    }
    part.pathVar.foreach { pv =>
      // var-length named path: bind the rendered path as a plain
      // column (the fixed-length renderPath machinery can't apply);
      // keep the structure for length()/nodes()/relationships()
      frame = frame.withColumn(pv,
        PathFinder.renderTypedPath(col("vids"), col("steps"), strVid))
        .withColumn(s"${pv}__spvids", col("vids"))
        .withColumn(s"${pv}__spsteps", col("steps"))
      st.addPlain(pv)
      st.spPaths += pv
    }
    frame = frame.drop("vids", "steps")
    // re-join tag tables on the endpoints so rendering/labels see props
    (n1.tags.map((v1, _)) ++ n2.tags.map((v2, _))).foreach { case (v, t) =>
      if (!st.boundTags.contains((v, t))) {
        frame = frame.join(tagFrame(g, t, v), Seq(v))
        st.boundTags += (v -> t)
      }
    }
    frame.withColumn("__trail", array().cast("array<string>"))
  }

  private def buildPart(g: GraphCatalog, st: BState, part: Part,
                        idHints: Map[String, Seq[Any]] = Map.empty,
                        colSeeds: Map[String, DataFrame] = Map.empty,
                        propSeeds: Map[String, Seq[(String, String, Any)]] = Map.empty,
                        seedFrames: Seq[DataFrame] = Nil)
      : DataFrame = {
    if (part.sp.isDefined) return buildShortestPart(g, st, part, idHints)
    // a property map on an UNTAGGED pattern node has no schema to
    // resolve against (MatchValidator: "No tag found for property")
    part.nodes.foreach { nd =>
      if (nd.tags.isEmpty && nd.props.nonEmpty) {
        val (k, pv0) = nd.props.head
        val rendered = pv0 match {
          case s: String => "\"" + s + "\""
          case other => String.valueOf(other)
        }
        throw new IllegalArgumentException(
          s"SemanticError: `$k:$rendered': No tag found for property.")
      }
    }
    val n0 = part.nodes.head
    val v0 = n0.v.getOrElse(st.freshVar())
    var binding =
      if (n0.v.exists(st.vertexVars.contains) && n0.tags.isEmpty)
        // var already bound earlier: re-seed from the frame that
        // already binds it (the joinShared on the shared var keeps
        // exactly these vids anyway) instead of re-scanning ALL
        // vertices — at scale the allVertices.distinct() re-seek is
        // an O(V) shuffle the join then throws away
        seedFrames.find(_.columns.contains(v0)) match {
          case Some(src) =>
            src.select(col(v0)).filter(col(v0).isNotNull).distinct()
          case None => g.allVertices.select(col("vid").as(v0)).distinct()
        }
      else nodeFrame(g, st, n0, v0)
    // literal id() constraints from the clause WHERE seed the scan
    // BEFORE expansion (the reference's SeekById): without this a
    // `MATCH (n)-[:KNOWS*1..3]-(f) WHERE id(n)=='x'` enumerates
    // 3-hop trails from EVERY vertex and filters after — measured
    // as the q_ldbc_ic1 memory blowup at sf1. The WHERE still
    // applies post-join; this is pruning, not replacement.
    n0.v.flatMap(idHints.get).foreach { vids =>
      if (hintTypeOk(binding, v0, vids))
        binding = binding.filter(col(v0).isin(vids: _*))
    }
    // variable id() seeds (the reference's VariableVertexIdSeek):
    // `id(n) == x` / `id(n) IN xs` against a prior-stage column
    // prunes the scan to the distinct values of that column
    n0.v.flatMap(colSeeds.get).foreach { seed =>
      binding = applyColSeed(binding, v0, seed)
    }
    // single-tag property-equality seeds (PropIndexSeek analogue)
    binding = applyPropSeeds(binding, v0, propSeeds)
    binding = binding.withColumn("__trail", array().cast("array<string>"))
    var fromVar = v0
    val nodeVars = scala.collection.mutable.ListBuffer(v0)
    val relVars = scala.collection.mutable.ListBuffer.empty[String]
    var hasVarLen = false
    part.rels.zip(part.nodes.tail).foreach { case (rel0, node) =>
      // a named path needs every hop's edge columns bound → material-
      // ize anonymous edge vars (single-hop columns, or the var-length
      // edge-struct list that length()/relationships() read)
      val rel =
        if (part.pathVar.isDefined && rel0.v.isEmpty)
          rel0.copy(v = Some(st.freshVar()))
        else rel0
      if (rel.range.isDefined) hasVarLen = true
      val w = node.v.getOrElse(st.freshVar())
      binding = hop(g, st, binding, fromVar, rel, node, w, idHints,
        colSeeds, propSeeds)
      nodeVars += w
      rel.v.foreach(relVars += _)
      fromVar = w
    }
    part.pathVar.foreach { pv =>
      st.addPath(pv)
      st.pathVars(pv) = PathInfo(nodeVars.toList, relVars.toList, hasVarLen)
    }
    binding
  }

  /** Render a named path `<("a")-[:like@0]->("b")...>` — per-hop arrow
    * direction decided at runtime against the stored edge orientation
    * (src/common/datatypes/Path.cpp toString). A var-length hop walks
    * its edge-struct list with `aggregate`, threading the current
    * vertex through the fold so each step's arrow direction and next
    * node come from whichever endpoint differs from the walk head. */
  private def renderPath(st: BState, info: PathInfo,
                         strVid: Boolean): Column = {
    var c: Column = concat(lit("<"),
      Gql.renderNode(col(info.nodes.head), strVid))
    info.rels.zipWithIndex.foreach { case (ev, i) =>
      val left = info.nodes(i)
      val right = info.nodes(i + 1)
      if (st.vlEdgeVars.contains(ev)) {
        val seg = aggregate(
          col(s"${ev}__vl"),
          struct(col(left).as("cur"), lit("").as("acc")),
          (acc, x) => {
            // rank prints only when non-zero (Path.cpp toString)
            val lbl = concat(lit(":"), x("__t"),
              when(x("__r") =!= 0,
                concat(lit("@"), x("__r").cast("string"))).otherwise(lit("")))
            val isFwd = x("__s") === acc("cur")
            val nextV = when(isFwd, x("__d")).otherwise(x("__s"))
            val hopS = when(isFwd,
              concat(lit("-["), lbl, lit("]->"),
                Gql.renderNode(x("__d"), strVid)))
              .otherwise(concat(lit("<-["), lbl, lit("]-"),
                Gql.renderNode(x("__s"), strVid)))
            struct(nextV.as("cur"), concat(acc("acc"), hopS).as("acc"))
          },
          acc => acc("acc"))
        c = concat(c, seg)
      } else {
        val lbl = concat(lit(":"), col(s"${ev}_etype"),
          when(col(s"${ev}_rank") =!= 0,
            concat(lit("@"), col(s"${ev}_rank").cast("string")))
            .otherwise(lit("")))
        val fwd = concat(lit("-["), lbl, lit("]->"),
          Gql.renderNode(col(right), strVid))
        val bwd = concat(lit("<-["), lbl, lit("]-"),
          Gql.renderNode(col(right), strVid))
        c = concat(c,
          when(col(s"${ev}_src") === col(left), fwd).otherwise(bwd))
      }
    }
    concat(c, lit(">"))
  }

  /** Stored-orientation edge identity: etype|rank|src|dst of the edge
    * AS INSERTED — stable under direction flips, distinct for mutual
    * A→B / B→A edges. */
  private def eidCol: Column =
    concat_ws("|", col("__etype"), col("rank").cast("string"),
      col("__osrc").cast("string"), col("__odst").cast("string"))

  private def edgeBase(g: GraphCatalog, rel: Rel): DataFrame = {
    val types = if (rel.etypes.nonEmpty) rel.etypes else g.edgeTypeNames
    g.edgesWithProps(types)
  }

  /** Single- or var-length hop from `fromVar` through `rel` to `node`,
    * extending the binding frame; binds the destination to `w`. */
  private def hop(g: GraphCatalog, st: BState, binding: DataFrame,
                  fromVar: String, rel: Rel, node: Node, w: String,
                  idHints: Map[String, Seq[Any]] = Map.empty,
                  colSeeds: Map[String, DataFrame] = Map.empty,
                  propSeeds: Map[String, Seq[(String, String, Any)]] = Map.empty)
      : DataFrame = {
    val toExisting = node.v.filter(st.vertexVars.contains)

    val joined = rel.range match {
      case None =>
        val base0 = edgeBase(g, rel)
        val base = rel.props.foldLeft(base0) { case (d, (k, value)) =>
          d.filter(typedEq(d, k, value))
        }
        // keep the STORED orientation for edge-var rendering (goldens
        // print edges as inserted, whatever direction matched them)
        val tagged = base.withColumn("__osrc", col("src"))
          .withColumn("__odst", col("dst"))
        // orientDedup: an undirected hop matches each relationship ONCE
        // — the reversed side drops self-loops (fwd and rev rows are
        // identical when src == dst) instead of a whole-frame distinct,
        // so the hop frame stays a shuffle-free view over stored scans
        // (openCypher relationship match; SelfReflectiveEdges.feature)
        val oriented = Traverse.orientDedup(tagged, rel.dir)
        val propCols = base0.columns
          .filterNot(Seq("src", "dst", "rank", "__etype").contains)
        // re-using an already-bound edge var joins the two patterns ON
        // EDGE IDENTITY (openCypher: same variable = same relationship;
        // MatchJoinOnEdge.feature); re-use across Edge/EdgeList types
        // is the reference's SemanticError
        if (rel.v.exists(st.vlEdgeVars.contains))
          throw new IllegalArgumentException(
            s"${rel.v.get} binding to different type: Edge vs EdgeList")
        val reused = rel.v.filter(st.edgeVars.contains)
        val ev0 = reused.map(_ => st.freshVar()).orElse(rel.v)
        val kept: Seq[Column] =
          Seq(col("src").as("__from"), col("dst").as("__to"),
            eidCol.as("__heid")) ++
            (ev0 match {
              case Some(ev) =>
                if (reused.isEmpty) st.addEdge(ev)
                Seq(col("__osrc").as(s"${ev}_src"), col("__odst").as(s"${ev}_dst"),
                  col("rank").as(s"${ev}_rank"),
                  col("__etype").as(s"${ev}_etype"),
                  // traversal-orientation endpoints (the edge KEY this
                  // hop actually read) — none_direct_src/dst
                  col("src").as(s"${ev}__tsrc"),
                  col("dst").as(s"${ev}__tdst")) ++
                  propCols.map(p2 => col(p2).as(s"${ev}_$p2"))
              case None => Nil
            })
        val hopF = oriented.select(kept: _*)
        val j0 = binding.join(hopF, col(fromVar) === col("__from"))
          .filter(!array_contains(col("__trail"), col("__heid")))
          .withColumn("__trail", concat(col("__trail"), array(col("__heid"))))
          .drop("__from", "__heid")
        (reused, ev0) match {
          case (Some(ev), Some(tmp)) =>
            st.pendingEdgeEq += ((tmp, ev, false)); j0
          case _ => j0
        }
      case Some((m, n)) =>
        // AliasType parity (MatchValidator.cpp:316-323): `*m..n` is
        // EdgeList-typed only when n>m or m>1 — `*1..1` stays Edge —
        // so re-binding an EdgeList alias with it is the reference's
        // SemanticError (match/Path.feature:512)
        rel.v.foreach { ev =>
          if (st.vlEdgeVars.contains(ev) && !(n > m || m > 1))
            throw new IllegalArgumentException(
              s"$ev binding to different type: Edge vs EdgeList")
        }
        val pairs = varLengthPairs(g, binding, fromVar, rel, m, n,
          withEdges = rel.v.isDefined)
        var j = binding.join(pairs, Seq(fromVar))
          .filter(!arrays_overlap(col("__trail"), col("__vl_ep")))
          .withColumn("__trail", concat(col("__trail"), col("__vl_ep")))
          .drop("__vl_ep")
          .withColumnRenamed("__vl_to", "__to")
        rel.v.foreach { ev =>
          if (st.edgeVars.contains(ev))
            throw new IllegalArgumentException(
              s"$ev binding to different type: EdgeList vs Edge")
          if (st.vlEdgeVars.contains(ev)) {
            // re-used edge-LIST var: the two patterns must bind the
            // same relationship list (struct-list equality)
            val tmp = st.freshVar()
            j = j.withColumnRenamed("__vl_edges", s"${tmp}__vl")
            st.pendingEdgeEq += ((tmp, ev, true))
          } else {
            st.addVlEdge(ev)
            j = j.withColumnRenamed("__vl_edges", s"${ev}__vl")
          }
        }
        j
    }

    toExisting match {
      case Some(_) if joined.columns.contains(w) =>
        joined.filter(col("__to") === col(w)).drop("__to")
      case Some(_) =>
        // endpoint bound in a SIBLING comma-part whose frame hasn't
        // joined yet (`(p), (t), pth = (p)-[*1..4]-(t)`): name the
        // endpoint after the var; joinShared equates them when the
        // part frames meet (CrashWhenNullPathExpr.feature)
        joined.withColumnRenamed("__to", w)
      case None =>
        var out = joined.withColumnRenamed("__to", w)
        st.addVertex(w)
        node.v.flatMap(idHints.get).foreach { vids =>
          if (hintTypeOk(out, w, vids)) // SeekById pruning
            out = out.filter(col(w).isin(vids: _*))
        }
        node.v.flatMap(colSeeds.get).foreach { seed =>
          out = applyColSeed(out, w, seed) // VariableVertexIdSeek
        }
        node.tags.foreach { t =>
          // label constraint: inner join the tag table
          out = out.join(tagFrame(g, t, w), Seq(w))
          st.boundTags += (w -> t)
          st.seekedVars += w
        }
        applyPropSeeds(nodePropFilter(out, w, node.tags, node.props),
          w, propSeeds)
    }
  }

  /** A SeekById hint is only a safe pre-filter when the literal types
    * line up with the vid column (a string literal against an int-vid
    * space must NOT turn into a cast-error or an empty isin — the
    * WHERE clause's own evaluation defines the semantics there, e.g.
    * expression/In over nba_int_vid). */
  private def hintTypeOk(df: DataFrame, c: String, vids: Seq[Any]): Boolean = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    // WHITELIST the literal/column pairings: anything else (null
    // literals, booleans against an int-vid space, …) must NOT become
    // an isin pre-filter — a null-isin prunes rows the WHERE clause
    // would error on, and a mistyped isin can throw at analysis.
    df.schema.find(_.name == c).map(_.dataType) match {
      case Some(StringType) => vids.forall(_.isInstanceOf[String])
      case Some(LongType) | Some(IntegerType) =>
        vids.forall(v => v.isInstanceOf[Int] || v.isInstanceOf[Long])
      case _ => false
    }
  }

  /** Edge-unique path enumeration for `*m..n` (openCypher relationship
    * isomorphism): one output row PER PATH — (origin, destination,
    * edge-id path). m=0 contributes the identity row with an empty
    * path. Edge ids use the stored orientation (mutual A→B / B→A
    * edges stay distinct; a Both-direction flip of the same edge does
    * not). */
  private def varLengthPairs(g: GraphCatalog, binding: DataFrame,
                             fromVar: String, rel: Rel,
                             m: Int, n: Int,
                             withEdges: Boolean = false): DataFrame = {
    val types = if (rel.etypes.nonEmpty) rel.etypes else g.edgeTypeNames
    val base0 = g.edgesWithProps(types)
      .withColumn("__osrc", col("src")).withColumn("__odst", col("dst"))
    // inline props on a var-length rel constrain EVERY step's edge
    // (openCypher: the predicate applies to each relationship)
    val baseF = rel.props.foldLeft(base0) { case (d, (k, value)) =>
      d.filter(typedEq(d, k, value))
    }
    val propCols = base0.columns.filterNot(
      Seq("src", "dst", "rank", "__etype", "__osrc", "__odst").contains)
    // stored-orientation edge struct: feeds RETURN e rendering and
    // lambda/subscript prop access (i.likeness) on the edge list
    val estruct = struct(
      col("__etype").as("__t") +: col("__osrc").as("__s") +:
        col("__odst").as("__d") +: col("rank").as("__r") +:
        propCols.map(col): _*)
    val base =
      if (withEdges)
        baseF.select(col("src"), col("dst"), eidCol.as("__eid"),
          estruct.as("__es"))
      else baseF.select(col("src"), col("dst"), eidCol.as("__eid"))
    // lazy persist, NOT localCheckpoint: the property-carrying edge
    // table is the biggest frame in the system — an eager checkpoint
    // copies all of it before the first hop even runs (round-4 VERDICT
    // #3); persist materializes lazily, partition by partition, as the
    // hop joins touch it, and is released at loop exit
    // orientDedup drops reversed self-loops instead of a whole-frame
    // distinct (same rule as the single-hop path), keeping the frame a
    // shuffle-free view over stored scans so persistEdges can skip the
    // block-manager copy (SelfReflectiveEdges.feature stays green)
    val oriented = Traverse.orientDedup(base, rel.dir)
    val e = Traverse.persistEdges(oriented, math.max(n, 2))

    val seeds = binding.select(col(fromVar).as("__o")).distinct()
    val empty = array().cast("array<string>")
    val emptyEdges = array().cast(
      s"array<${e.schema.find(_.name == "__es").map(_.dataType.sql).getOrElse("string")}>")
    def zero(df: DataFrame): DataFrame = {
      val b2 = df.select(col("__o"), col("__o").as("__v"), empty.as("__ep"))
      if (withEdges) b2.withColumn("__edges", emptyEdges) else b2
    }
    var frontier = zero(seeds).mat()
    var cnt = frontier.count()
    var acc: DataFrame = if (m == 0) zero(seeds) else null
    var step = 1
    while (step <= n && cnt > 0) {
      val sel = Seq(col("__o"), e("dst").as("__v2"),
        concat(col("__ep"), array(e("__eid"))).as("__ep")) ++
        (if (withEdges)
          Seq(concat(col("__edges"), array(e("__es"))).as("__edges"))
        else Nil)
      val next = Traverse.maybeBroadcast(frontier, cnt)
        .join(e, col("__v") === e("src"))
        .filter(!array_contains(col("__ep"), e("__eid")))
        .select(sel: _*)
        .withColumnRenamed("__v2", "__v")
      val mat = next.mat()
      cnt = mat.count()
      // frontiers below step m never reach acc — free once superseded
      if (step <= math.max(m, 1)) Traverse.freeCheckpoint(frontier)
      frontier = mat
      if (step >= math.max(m, 1) && cnt > 0) {
        acc = if (acc == null) frontier else acc.unionByName(frontier)
      }
      step += 1
    }
    if (cnt == 0) Traverse.freeCheckpoint(frontier) // empty tail
    Traverse.releaseEdges(e, math.max(n, 2))
    val out = if (acc == null) zero(seeds).limit(0) else acc
    val outCols = Seq(col("__o").as(fromVar), col("__v").as("__vl_to"),
      col("__ep").as("__vl_ep")) ++
      (if (withEdges) Seq(col("__edges").as("__vl_edges")) else Nil)
    out.select(outCols: _*)
  }

  /** Ensure every `v.tag.prop` referenced by `exprs` has its tag table
    * joined (LEFT — an unmatched tag yields NULL, not row loss). */
  /** Join every tag's prop frame + membership flag for `v` (the
    * properties(v) / map-captured-vertex prerequisite). */
  private def joinAllTags(g: GraphCatalog, st: BState, v: String,
                          set: DataFrame => Unit,
                          get: () => DataFrame): Unit = {
    g.tagNames.foreach { t =>
      if (st.knownTag(t) && !st.boundTags.contains((v, t))) {
        set(get().join(tagFrame(g, t, v), Seq(v), "left_outer"))
        st.boundTags += (v -> t)
      }
    }
    if (!st.labelsBound.contains(v)) {
      g.tagNames.foreach { t =>
        set(get().join(
          g.vertexTable(t).select(col("vid").as(v),
            lit(true).as(s"__lbl_${v}_$t")),
          Seq(v), "left_outer"))
      }
      st.labelsBound += v
    }
  }

  private def ensureTags(g: GraphCatalog, st: BState, binding0: DataFrame,
                         exprs: Seq[Expr.E]): DataFrame = {
    var binding = binding0
    // nodes(p)-derived prop access (subscript / lambda instantiation
    // in the resolver) needs the tag joined on EVERY node alias of
    // the fixed-length path
    def joinTagForNodes(pv: String, tags: Iterable[String]): Unit =
      st.pathVars(pv).nodes.foreach { nv =>
        tags.foreach { t =>
          if (st.knownTag(t) && !st.boundTags.contains((nv, t))) {
            binding = binding.join(tagFrame(g, t, nv), Seq(nv),
              "left_outer")
            st.boundTags += (nv -> t)
          }
        }
      }
    exprs.foreach(Expr.collect(_) {
      case Expr.Ref(List(v, tag, _))
          if st.vertexVars.contains(v) && st.knownTag(tag) &&
            !st.boundTags.contains((v, tag)) =>
        binding = binding.join(tagFrame(g, tag, v), Seq(v), "left_outer")
        st.boundTags += (v -> tag)
      case Expr.Attr(Expr.Attr(Expr.Subscript(
            Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _), _),
            tag), _)
          if st.pathVars.get(pv).exists(!_.varLength) =>
        joinTagForNodes(pv, Seq(tag))
      case Expr.Compr(v2,
            Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _), pred, map)
          if st.pathVars.get(pv).exists(!_.varLength) =>
        var tags = Set.empty[String]
        (pred.toList ++ map.toList).foreach(Expr.collect(_) {
          case Expr.Ref(List(`v2`, t, _)) => tags += t })
        joinTagForNodes(pv, tags)
      case Expr.Quant(_, v2,
            Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _), pred)
          if st.pathVars.get(pv).exists(!_.varLength) =>
        var tags = Set.empty[String]
        Expr.collect(pred) { case Expr.Ref(List(`v2`, t, _)) => tags += t }
        joinTagForNodes(pv, tags)
      // whole-tag access `v.player` needs that tag joined AND the
      // membership flag (NULL when the vertex lacks the tag)
      case Expr.Ref(List(v, sub)) if st.vertexVars.contains(v) &&
          st.knownTag(sub) =>
        if (!st.boundTags.contains((v, sub))) {
          binding = binding.join(tagFrame(g, sub, v), Seq(v), "left_outer")
          st.boundTags += (v -> sub)
        }
        if (!binding.columns.contains(s"__lbl_${v}_$sub")) {
          binding = binding.join(
            g.vertexTable(sub).select(col("vid").as(v),
              lit(true).as(s"__lbl_${v}_$sub")),
            Seq(v), "left_outer")
        }
      // properties(v)[.p] needs every tag's props AND the membership
      // flags (EMPTY-rank ordering) joined for the var
      case Expr.FnCall("properties", List(Expr.Ref(List(v))), _)
          if st.vertexVars.contains(v) =>
        joinAllTags(g, st, v, b => binding = b, () => binding)
      // a MAP literal capturing a bare vertex var compiles to a
      // navigable per-tag struct (resolver MapLit case) — every tag's
      // props + membership flags must be joined for that var
      case Expr.MapLit(entries) =>
        entries.foreach {
          case (_, Expr.Ref(List(v))) if st.vertexVars.contains(v) =>
            joinAllTags(g, st, v, b => binding = b, () => binding)
          case _ => ()
        }
      case Expr.FnCall("labels" | "tags", List(Expr.Ref(List(v))), _)
          if st.vertexVars.contains(v) && !st.labelsBound.contains(v) =>
        // per-tag membership flags feed the labels() array
        g.tagNames.foreach { t =>
          binding = binding.join(
            g.vertexTable(t).select(col("vid").as(v),
              lit(true).as(s"__lbl_${v}_$t")),
            Seq(v), "left_outer")
        }
        st.labelsBound += v
    })
    binding
  }

  private val DurFields = Array("__dmon", "__dsec", "__dmic")

  /** Is this expression a duration value — a duration() call, or a
    * binding column holding the duration marker struct? */
  private def durExpr(binding: DataFrame, e: Expr.E): Boolean = e match {
    case Expr.FnCall("duration", _, _) => true
    case Expr.Ref(List(n)) if binding.columns.contains(n) =>
      binding.schema(n).dataType match {
        case s: org.apache.spark.sql.types.StructType =>
          s.fieldNames.sameElements(DurFields)
        case _ => false
      }
    case _ => false
  }

  /** Duration comparison / temporal+duration arithmetic
    * (TimeComparison / TimeComputation features; Duration.h model:
    * calendar months apply first, then the seconds+micros part). */
  private def durationBin(st: BState, binding: DataFrame, render: Boolean,
                          op: String, l2: Expr.E, r2: Expr.E): Option[Column] = {
    import org.apache.spark.sql.types._
    val res = resolver(st, binding, render)
    val lc = Expr.compile(l2, res); val rc = Expr.compile(r2, res)
    def dtype(c: Column): DataType =
      binding.select(c.as("__p")).schema.head.dataType
    val lDur = durExpr(binding, l2); val rDur = durExpr(binding, r2)
    // an ordering over durations is BAD_TYPE (months vs days are
    // incomparable); in RETURN position the typed null renders as its
    // sentinel, in WHERE position it stays a (falsy) boolean NULL
    def badTypeCol: Column =
      if (render) lit(graft.functions.ErrVal.BadType)
      else lit(null).cast("boolean")
    if (lDur && rDur) op match {
      case "==" => Some(lc === rc)
      case "!=" => Some(lc =!= rc)
      case _ => Some(badTypeCol)
    } else {
      // one duration side: +/- applies it to a temporal value;
      // any comparison across types is definite (==false / !=true),
      // ordering is BAD_TYPE → NULL
      val (tempC, durC, sign) =
        if (rDur) (lc, rc, if (op == "-") -1 else 1)
        else (rc, lc, 1) // duration + temporal commutes; "-" invalid
      op match {
        case "==" => Some(lit(false))
        case "!=" => Some(lit(true))
        case "<" | ">" | "<=" | ">=" => Some(badTypeCol)
        case _ if !rDur && op == "-" =>
          // duration - temporal is BAD_TYPE
          Some(if (render) lit(graft.functions.ErrVal.BadType)
               else lit(null))
        case _ =>
          val kind = dtype(tempC) match {
            case DateType => "date"
            case TimestampType => "datetime"
            case StringType => "time"
            case _ => "other"
          }
          Some(DurationOps.arith(kind, tempC, durC, sign))
      }
    }
  }

  /** Domain resolver over the binding frame. `render=true` (RETURN
    * position): collect() over bare node/edge vars gathers RENDERED
    * values for display; `render=false` (WITH / WHERE positions):
    * raw vids, so the list can feed UNWIND back into patterns. */
  // ---------- pattern expressions as values ----------
  // `(v)-[:like]->()` in RETURN/WITH/UNWIND/aggregate position is the
  // reference's MatchPathPatternExpression, planned as a RollUpApply
  // (SegmentsConnector.cpp:71-92): expand the pattern once as its own
  // frame, group the rendered paths by the bound-variable anchors, and
  // LEFT-join the lists onto the binding table (missing → []). The
  // expansion is pruned with a left-semi join on the live anchor
  // values, so at scale the rollup only enumerates paths the binding
  // can actually reference — never the whole graph.

  /** Element kind of a comprehension/quantifier list — decides how a
    * pattern expression referencing the lambda variable anchors to it. */
  private sealed trait LKind
  private case object LNodeVid extends LKind
  private case object LNodeRendered extends LKind
  private case class LEdgeFields(prefix: String) extends LKind
  private case object LEdgeVl extends LKind
  private case object LEdgeRendered extends LKind
  private case object LOther extends LKind

  private def listKind(st: BState, e: Expr.E, render: Boolean): LKind = e match {
    case Expr.ListLit(items) if items.nonEmpty && items.forall {
        case Expr.Ref(List(v)) => st.vertexVars.contains(v)
        case _ => false } =>
      // RETURN-position list literals render their node elements
      // (resolver ListLit case), so the anchor must render too
      if (render) LNodeRendered else LNodeVid
    case Expr.ListLit(Expr.Ref(List(ev)) :: _)
        if st.edgeVars.contains(ev) =>
      if (render) LEdgeRendered else LEdgeFields(ev)
    case Expr.FnCall("relationships", List(Expr.Ref(List(pv))), _)
        if st.pathVars.contains(pv) => LEdgeRendered
    // fixed-length path: comprehensions over nodes(p) instantiate the
    // lambda body per NODE ALIAS (resolver static-subst case), so the
    // anchor compares against a raw vid column, not a rendering
    case Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _)
        if st.pathVars.get(pv).exists(!_.varLength) => LNodeVid
    case Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _)
        if st.pathVars.contains(pv) => LNodeRendered
    case Expr.Ref(List(ev)) if st.vlEdgeVars.contains(ev) =>
      if (render) LEdgeRendered else LEdgeVl
    case Expr.Ref(List(c0)) if st.nodeListCols.contains(c0) => LNodeVid
    case _ => LOther
  }

  private val peCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  private class PeCtx(val g: GraphCatalog, val st: BState,
                      var binding: DataFrame, val render: Boolean)

  /** Rewrite every PatternE in `exprs` into a reference to a prepared
    * rollup column on the (returned) extended binding. `bool` marks
    * boolean position: there a pattern/list value becomes its
    * non-emptiness (nebula truthiness of LIST). */
  private def preparePatternExprs(
      g: GraphCatalog, st: BState, binding0: DataFrame,
      exprs: Seq[Expr.E], bool: Boolean, render: Boolean)
    : (DataFrame, Seq[Expr.E]) = {
    def hasPe(e: Expr.E): Boolean = {
      var f = false
      Expr.collect(e) { case Expr.PatternE(_) => f = true }
      f
    }
    if (!exprs.exists(hasPe)) return (binding0, exprs)
    val ctx = new PeCtx(g, st, binding0, render)
    val out = exprs.map(rewritePe(ctx, _, bool, Map.empty))
    (ctx.binding, out)
  }

  private def rewritePe(ctx: PeCtx, e: Expr.E, bool: Boolean,
                        lambdas: Map[String, LKind]): Expr.E = {
    def rw(x: Expr.E, b: Boolean) = rewritePe(ctx, x, b, lambdas)
    def truthyList(x: Expr.E): Expr.E = x match {
      case _: Expr.Compr | _: Expr.ListLit | _: Expr.SetLit if bool =>
        Expr.Bin(">", Expr.FnCall("size", List(x)), Expr.Lit(0L))
      case other => other
    }
    e match {
      case pe: Expr.PatternE => compilePatternE(ctx, pe, bool, lambdas)
      case Expr.Bin(op @ ("and" | "or" | "xor"), a, b) =>
        Expr.Bin(op, rw(a, bool), rw(b, bool))
      case Expr.Un("not", x) => Expr.Un("not", rw(x, true))
      case Expr.Un(op, x) => Expr.Un(op, rw(x, false))
      case Expr.Bin(op, a, b) => Expr.Bin(op, rw(a, false), rw(b, false))
      case Expr.FnCall(n2, args, d) =>
        Expr.FnCall(n2, args.map(rw(_, false)), d)
      case Expr.CaseW(s, brs, els) =>
        Expr.CaseW(s.map(rw(_, false)),
          brs.map { case (c0, v0) => (rw(c0, s.isEmpty), rw(v0, false)) },
          els.map(rw(_, false)))
      case Expr.Quant(k, v, list, pred) =>
        val kinds = lambdas + (v -> listKind(ctx.st, list, ctx.render))
        Expr.Quant(k, v, rw(list, false),
          rewritePe(ctx, pred, true, kinds))
      case Expr.Compr(v, list, pred, map) =>
        val kinds = lambdas + (v -> listKind(ctx.st, list, ctx.render))
        truthyList(Expr.Compr(v, rw(list, false),
          pred.map(rewritePe(ctx, _, true, kinds)),
          map.map(rewritePe(ctx, _, false, kinds))))
      case Expr.ReduceE(acc, init, v, list, step) =>
        val kinds = lambdas +
          (v -> listKind(ctx.st, list, ctx.render)) + (acc -> LOther)
        Expr.ReduceE(acc, rw(init, false), v, rw(list, false),
          rewritePe(ctx, step, false, kinds))
      case Expr.ListLit(xs) => truthyList(Expr.ListLit(xs.map(rw(_, false))))
      case Expr.SetLit(xs) => truthyList(Expr.SetLit(xs.map(rw(_, false))))
      case Expr.MapLit(es) =>
        Expr.MapLit(es.map { case (k, v0) => (k, rw(v0, false)) })
      case Expr.Subscript(x, i) => Expr.Subscript(rw(x, false), rw(i, false))
      case Expr.Attr(x, n2) => Expr.Attr(rw(x, false), n2)
      case Expr.Slice(x, f2, t2) =>
        Expr.Slice(rw(x, false), f2.map(rw(_, false)), t2.map(rw(_, false)))
      case other => other
    }
  }

  /** A pattern expression's named alias: a node or an edge, bound
    * either by the outer binding (`local` empty) or by an enclosing
    * lambda / WITH column (`local` = how to compare against it). */
  private case class PeAnchor(name: String, isEdge: Boolean, local: Option[LKind])

  /** Validate one pattern expression's variables against the current
    * scope (reference MatchValidator::validatePathInExpr messages) and
    * classify its anchors. */
  private def peAnchors(st: BState, bcols: Set[String], part: Part,
                        lambdas: Map[String, LKind]): Seq[PeAnchor] = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException("SemanticError: " + msg)
    val anchors = scala.collection.mutable.LinkedHashMap.empty[String, PeAnchor]
    part.nodes.foreach(_.v.foreach { a =>
      if (lambdas.contains(a)) lambdas(a) match {
        case LNodeVid | LNodeRendered | LOther =>
          anchors.getOrElseUpdate(a, PeAnchor(a, false, Some(lambdas(a))))
        case _ =>
          fail(s"`$a' is defined with type Edge, but referenced with type Node")
      }
      else if (st.vertexVars.contains(a))
        anchors.getOrElseUpdate(a, PeAnchor(a, false, None))
      else if (st.edgeVars.contains(a))
        fail(s"`$a' is defined with type Edge, but referenced with type Node")
      else if (st.vlEdgeVars.contains(a))
        fail(s"`$a' is defined with type EdgeList, but referenced with type Node")
      else if (st.pathVars.contains(a))
        fail(s"`$a' is defined with type Path, but referenced with type Node")
      else if (bcols.contains(a))
        anchors.getOrElseUpdate(a, PeAnchor(a, false, Some(LOther)))
      else fail(s"PatternExpression are not allowed to introduce new variables: `$a'.")
    })
    part.rels.foreach { rl => rl.v.foreach { a =>
      if (rl.range.isEmpty) {
        if (lambdas.contains(a)) lambdas(a) match {
          case LNodeVid | LNodeRendered =>
            fail(s"`$a' is defined with type Node, but referenced with type Edge")
          case k => anchors.getOrElseUpdate(a, PeAnchor(a, true, Some(k)))
        }
        else if (st.edgeVars.contains(a))
          anchors.getOrElseUpdate(a, PeAnchor(a, true, None))
        else if (st.vertexVars.contains(a))
          fail(s"`$a' is defined with type Node, but referenced with type Edge")
        else if (st.vlEdgeVars.contains(a))
          fail(s"`$a' is defined with type EdgeList, but referenced with type Edge")
        else if (bcols.contains(a))
          // WITH-projected edge VALUE (`relationships(p)[1] AS e1`
          // then `(b)-[e1]->()`, bugfix/AliasTypeDeduce): anchor by
          // the rendered-edge identity string
          anchors.getOrElseUpdate(a, PeAnchor(a, true, Some(LEdgeRendered)))
        else fail(s"PatternExpression are not allowed to introduce new variables: `$a'.")
      } else {
        if (st.edgeVars.contains(a))
          fail(s"`$a' is defined with type Edge, but referenced with type EdgeList")
        else if (st.vertexVars.contains(a))
          fail(s"`$a' is defined with type Node, but referenced with type EdgeList")
        else if (st.vlEdgeVars.contains(a) || lambdas.contains(a) ||
            bcols.contains(a))
          fail(s"Unsupported type of variable '$a` used in multiple patterns: list of edges.")
        else fail(s"PatternExpression are not allowed to introduce new variables: `$a'.")
      }
    }}
    anchors.values.toSeq
  }

  /** The pattern expanded on its own fresh state; the forced path var
    * `__pep` materializes every hop's edge columns for rendering.
    * `seed`, a frame holding the untagged head node's column, starts
    * the expansion from those vids instead of every vertex. */
  private def peFrame(g: GraphCatalog, part: Part,
                      seed: Option[DataFrame] = None): (DataFrame, BState, PathInfo) = {
    val pv = "__pep"
    val st2 = new BState(g)
    seed.foreach(_ => part.nodes.head.v.foreach(st2.addVertex))
    val frame = buildPart(g, st2, part.copy(pathVar = Some(pv)),
      seedFrames = seed.toSeq)
    (frame, st2, st2.pathVars(pv))
  }

  /** Join keys tying a pattern frame to the outer binding, one per
    * outer anchor column: (frame column, hidden key name, binding
    * column). An edge anchor keys on its full identity. */
  private def peKeys(anchors: Seq[PeAnchor], binding: DataFrame)
      : Seq[(Column, String, Column)] = {
    val outerNodes = anchors.filter(a => a.local.isEmpty && !a.isEdge).map(_.name)
    val outerEdges = anchors.filter(a => a.local.isEmpty && a.isEdge).map(_.name)
    outerNodes.zipWithIndex.map { case (a, i) =>
      (col(a), s"__pk_n$i", binding(a))
    } ++ outerEdges.zipWithIndex.flatMap { case (a, i) =>
      Seq("etype", "src", "dst", "rank").map(f =>
        (col(s"${a}_$f"), s"__pk_e${i}_$f", binding(s"${a}_$f")))
    }
  }

  /** PatternApply (PatternApplyExecutor.cpp:15) for a MATCH WHERE: each
    * top-level AND conjunct that is a bare or NOT-ed pattern anchored
    * only on bound variables becomes a left semi / left anti join
    * against the pattern's distinct anchor keys, instead of a rollup
    * that collects every matching path per row. A null anchor matches
    * no key — the rollup's empty list — so semi drops the row and anti
    * keeps it. Returns the filtered frame and the remaining conjuncts
    * (None when every conjunct was a pattern). Any other pattern
    * expression, or a conjunct that fails validation, stays on the
    * rollup path, which raises the same errors in tree order. */
  private def applyPatternConjuncts(g: GraphCatalog, st: BState,
                                    df0: DataFrame, w: Expr.E)
      : (DataFrame, Option[Expr.E]) = {
    def conjuncts(e: Expr.E): List[Expr.E] = e match {
      case Expr.Bin("and", l, r) => conjuncts(l) ++ conjuncts(r)
      case other => List(other)
    }
    var df = df0
    // joins `df` against the pattern's keys; false = not applicable
    def patternApply(part: Part, anti: Boolean): Boolean = {
      val anchors =
        try peAnchors(st, df.columns.toSet, part, Map.empty)
        catch { case _: IllegalArgumentException => Nil }
      anchors.nonEmpty && anchors.forall(_.local.isEmpty) && {
        val keys = peKeys(anchors, df)
        val matched = anchoredFrame(g, st, df, part, anchors)
          .select(keys.map { case (c, n, _) => c.as(n) }: _*).distinct()
        val cond = keys.map { case (_, n, bc) => bc === matched(n) }.reduce(_ && _)
        df = df.join(matched, cond, if (anti) "left_anti" else "left_semi")
        true
      }
    }
    val cs = conjuncts(w)
    val rest = cs.filterNot {
      case Expr.PatternE(part) => patternApply(part, anti = false)
      case Expr.Un("not", Expr.PatternE(part)) => patternApply(part, anti = true)
      case _ => false
    }
    // untouched WHEREs keep their exact tree
    if (rest.size == cs.size) (df0, Some(w))
    else (df, rest.reduceOption(Expr.Bin("and", _, _)))
  }

  /** A pattern's matches for the semi/anti join. An untagged head
    * anchor expands only from the binding's vids that are vertices —
    * the rows the rollup's all-vertex head keeps after its prune —
    * and `(a)-[:t]-()` needs no path frame at all: it holds where an
    * edge of type t leaves `a`. */
  private def anchoredFrame(g: GraphCatalog, st: BState, df: DataFrame,
                            part: Part, anchors: Seq[PeAnchor]): DataFrame = {
    val head = part.nodes.head
    val headAnchor = head.v.filter(v => head.tags.isEmpty && head.props.isEmpty &&
      part.sp.isEmpty && anchors.exists(a => a.name == v && !a.isEdge))
    def vertices(f: DataFrame, v: String): DataFrame =
      if (st.seekedVars(v)) f
      else f.join(g.allVertices.select(col("vid").as(v)), Seq(v), "left_semi")
    (headAnchor, part.nodes, part.rels) match {
      case (Some(v), List(_, Node(None, Nil, Nil)), List(rel))
          if rel.v.isEmpty && rel.range.isEmpty && rel.props.isEmpty =>
        vertices(Traverse.orientDedup(edgeBase(g, rel), rel.dir)
          .select(col("src").as(v)), v)
      case (Some(v), _, _) => peFrame(g, part, Some(vertices(df.select(col(v)), v)))._1
      case _ => peFrame(g, part)._1
    }
  }

  /** Validate one pattern expression's variables and attach its rollup
    * column; returns the replacement expression. */
  private def compilePatternE(ctx: PeCtx, pe: Expr.PatternE, bool: Boolean,
                              lambdas: Map[String, LKind]): Expr.E = {
    val anchors = peAnchors(ctx.st, ctx.binding.columns.toSet, pe.part, lambdas)
    val (frame0, st2, info) = peFrame(ctx.g, pe.part)
    val strVid = frame0.schema(info.nodes.head).dataType ==
      org.apache.spark.sql.types.StringType
    var frame = frame0
    // prune the expansion to anchor values the binding can see
    anchors.filter(a => a.local.isEmpty && !a.isEdge).foreach { a =>
      frame = frame.join(ctx.binding.select(col(a.name)).distinct(),
        Seq(a.name), "left_semi")
    }
    val locals = anchors.filter(_.local.isDefined)

    val pathC = renderPath(st2, info, strVid)
    def edgeRendered(a: String): Column =
      Gql.renderEdge(col(s"${a}_etype"), col(s"${a}_src"),
        col(s"${a}_dst"), col(s"${a}_rank"), strVid)
    val elem = struct((pathC.as("__path") +: locals.map { la =>
      (if (la.isEdge) la.local.get match {
        case LEdgeRendered => edgeRendered(la.name)
        case _ => struct(col(s"${la.name}_etype").as("t"),
          col(s"${la.name}_src").as("s"), col(s"${la.name}_dst").as("d"),
          col(s"${la.name}_rank").as("r"))
      } else la.local.get match {
        case LNodeRendered => Gql.renderNode(col(la.name), strVid)
        case _ => col(la.name)
      }).as(s"__a_${la.name}")
    }): _*)
    val elemType = frame.select(elem).schema.head.dataType

    val peCol = s"__pe${peCounter.incrementAndGet()}"
    val keySpecs = peKeys(anchors, ctx.binding)
    if (keySpecs.isEmpty) {
      val global = frame.agg(collect_list(elem).as(peCol))
      ctx.binding = ctx.binding.crossJoin(broadcast(global))
    } else {
      val grouped = frame
        .groupBy(keySpecs.map { case (c, n2, _) => c.as(n2) }: _*)
        .agg(collect_list(elem).as(peCol))
      val cond = keySpecs.map { case (_, n2, bc) => bc === grouped(n2) }
        .reduce(_ && _)
      ctx.binding = ctx.binding.join(grouped, cond, "left")
        .drop(keySpecs.map(_._2): _*)
    }
    ctx.binding = ctx.binding.withColumn(peCol,
      coalesce(col(peCol),
        array().cast(org.apache.spark.sql.types.ArrayType(elemType))))

    // replacement AST: filter the rollup list by the lambda-local
    // anchors, project the path; boolean position tests non-emptiness
    val x = s"__px_$peCol"
    val eqs: Option[Expr.E] = locals.map { la =>
      val anchor = Expr.Attr(Expr.Ref(List(x)), s"__a_${la.name}")
      la.local.get match {
        case LEdgeFields(pref) =>
          List("t" -> s"${pref}_etype", "s" -> s"${pref}_src",
            "d" -> s"${pref}_dst", "r" -> s"${pref}_rank").map {
            case (af, lf) =>
              Expr.Bin("==", Expr.Attr(anchor, af),
                Expr.Attr(Expr.Ref(List(la.name)), lf)): Expr.E
          }.reduce(Expr.Bin("and", _, _))
        case LEdgeVl =>
          List("t" -> "__t", "s" -> "__s", "d" -> "__d", "r" -> "__r").map {
            case (af, lf) =>
              Expr.Bin("==", Expr.Attr(anchor, af),
                Expr.Attr(Expr.Ref(List(la.name)), lf)): Expr.E
          }.reduce(Expr.Bin("and", _, _))
        case _ =>
          Expr.Bin("==", anchor, Expr.Ref(List(la.name))): Expr.E
      }
    }.reduceOption(Expr.Bin("and", _, _))
    val filtered = Expr.Compr(x, Expr.Ref(List(peCol)), eqs,
      if (bool) None else Some(Expr.Attr(Expr.Ref(List(x)), "__path")))
    if (bool) Expr.Bin(">", Expr.FnCall("size", List(filtered)), Expr.Lit(0L))
    else filtered
  }

  /** RAW traversal vid sequence of a named path, when derivable:
    * shortestPath twins keep it in `__spvids`; fixed paths are the
    * node-alias columns; var-length paths re-derive it by chaining
    * stored-orientation endpoints (each step's far node is whichever
    * of (__s,__d) is not the node we stand on). */
  private def rawNodeChain(st: BState, binding: DataFrame,
                           pv: String): Option[Column] = {
    val cols = binding.columns.toSet
    if (st.spPaths.contains(pv) && cols(s"${pv}__spvids"))
      Some(col(s"${pv}__spvids"))
    else st.pathVars.get(pv) match {
      case Some(pi) if pi.nodes.nonEmpty && pi.nodes.forall(cols) &&
          !pi.varLength =>
        Some(array(pi.nodes.map(col): _*))
      case Some(pi) if pi.nodes.nonEmpty && pi.nodes.forall(cols) &&
          pi.rels.forall(ev => st.vlEdgeVars.contains(ev) ||
            st.edgeVars.contains(ev)) =>
        var seq: Column = array(col(pi.nodes.head))
        pi.rels.zip(pi.nodes.tail).foreach { case (ev, nx) =>
          seq =
            if (st.vlEdgeVars.contains(ev)) {
              val chain = aggregate(col(s"${ev}__vl"),
                slice(seq, lit(-1), lit(1)),
                (acc, e) => concat(acc, array(
                  when(e("__s") === element_at(acc, -1), e("__d"))
                    .otherwise(e("__s")))))
              concat(seq, slice(chain, lit(2),
                greatest(size(chain) - 1, lit(0))))
            } else concat(seq, array(col(nx)))
        }
        Some(seq)
      case _ => None
    }
  }

  /** Filter with nebula truthiness: a LIST-valued predicate passes
    * when non-empty (PathExprRefLocalVariable `WHERE [t in [v] | ...]`
    * keeps every row — `[[]]` is a non-empty list). */
  private def truthyFilter(df: DataFrame, w: Expr.E,
                           res: Expr.Resolver): DataFrame = {
    // `x IN <scalar column>` conjuncts (WITH bound the name to a
    // string, MatchByVariable): the reference's FilterExecutor rejects
    // the BAD_TYPE condition with "Failed to evaluate condition" at
    // runtime — but only for rows that actually reach the residual
    // filter (FilterExecutor.cpp:77-84), so the TCK goldens mix
    // errors with silent n=0 depending on what got pushed/seeked
    // first. Replicated model (all 20 MatchByVariable goldens):
    //  * every non-bad conjunct filters first (nebula pushes them
    //    into the segment as seeks/filters);
    //  * the FIRST bad conjunct with a prop-ref LHS additionally
    //    pre-filters row-wise (`lhs == scalar`) — the reference's
    //    Argument-correlated prop-index seek from a runtime variable
    //    ("[2] match by prop index from with": Yao Ming's seeked
    //    frontier ∩ v2-filter = ∅ → n=0, no error) — UNLESS a
    //    vid-seek conjunct (id(x) ==/IN literal) exists, which wins
    //    seek selection and leaves the bad IN purely residual;
    //    id()-LHS bad INs never seek ("match by vids from with" is
    //    all-errors);
    //  * any surviving row with a non-NULL scalar raises; NULL
    //    scalars and empty survivors stay silent.
    // OR/NOT-mixed bad operands still fold to NULL in the resolver.
    import org.apache.spark.sql.types._
    def scalarIn(e2: Expr.E): Option[(Expr.E, String)] = e2 match {
      case Expr.Bin("in", l, Expr.Ref(List(x)))
          if df.columns.contains(x) &&
            (df.schema(x).dataType match {
              case NullType | _: ArrayType | _: MapType | _: StructType =>
                false
              case _ => true
            }) =>
        Some((l, x))
      case _ => None
    }
    def conjList(e2: Expr.E): List[Expr.E] = e2 match {
      case Expr.Bin("and", a, b) => conjList(a) ++ conjList(b)
      case o => List(o)
    }
    def isIdCall(e2: Expr.E): Boolean = e2 match {
      case Expr.FnCall(n, _, _) => n.equalsIgnoreCase("id")
      case _ => false
    }
    def vidSeek(e2: Expr.E): Boolean = e2 match {
      case Expr.Bin("==", l, r) => isIdCall(l) || isIdCall(r)
      case Expr.Bin("in", l, Expr.ListLit(_)) => isIdCall(l)
      case _ => false
    }
    val parts = conjList(w)
    val tagged = parts.map(p => p -> scalarIn(p))
    if (tagged.exists(_._2.isDefined)) {
      val bads = tagged.collect { case (_, Some(b)) => b }
      val goods = tagged.collect { case (p, None) => p }
      var out = df
      goods.foreach { g =>
        val c = Expr.compile(g, res)
        out = df.select(c.as("__t0")).schema.head.dataType match {
          case _: ArrayType => out.filter(size(c) > 0)
          case _ => out.filter(c)
        }
      }
      if (!goods.exists(vidSeek))
        bads.collectFirst { case (l, x) if !isIdCall(l) => (l, x) }
          .foreach { case (l, x) =>
            out = out.filter(Expr.compile(l, res) === col(x)) }
      // eager survivor probe: a lazy raise_error filter references
      // only the scalar columns, so Catalyst pushes it below the
      // survivor filters (into the join's left side) and fires on
      // rows the goods would have dropped. The bad-IN path is a
      // degenerate error case, so a driver-side existence check is
      // the faithful (and reorder-proof) translation.
      val anyNonNull = bads.map(b => col(b._2).isNotNull).reduce(_ || _)
      if (!out.filter(anyNonNull).isEmpty)
        throw new IllegalArgumentException(
          "ExecutionError: Failed to evaluate condition: IN over a" +
            " non-list value. For boolean conditions, please write in" +
            " their full forms like <condition> == <true/false> or" +
            " <condition> IS [NOT] NULL.")
      out.filter(lit(false))
    } else {
      val c = Expr.compile(w, res)
      df.select(c.as("__t0")).schema.head.dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          df.filter(size(c) > 0)
        case _ => df.filter(c)
      }
    }
  }

  private def resolver(st: BState, binding: DataFrame,
                       render: Boolean = false): Expr.Resolver = {
    val cols = binding.columns.toSet
    val strVid = st.vertexVars.headOption.exists(v =>
      cols(v) && binding.schema(v).dataType ==
        org.apache.spark.sql.types.StringType)
    def e(name: String): Option[Column] =
      if (cols(name)) Some(col(name)) else Some(lit(null))
    def plainCol(x: String): Boolean =
      cols(x) && !st.vertexVars.contains(x) && !st.edgeVars.contains(x) &&
        !st.vlEdgeVars.contains(x)
    def arrayCol(x: String): Boolean = plainCol(x) &&
      binding.schema(x).dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType]
    def caseEdgeMap(cw: Expr.CaseW): Option[Column] = {
      val vals = cw.branches.map(_._2) ++ cw.els.toList
      def isEdge(e2: Expr.E) = e2 match {
        case Expr.Ref(List(ev)) => st.edgeVars.contains(ev)
        case _ => false
      }
      if (cw.subject.isDefined || !vals.exists(isEdge) ||
          !vals.forall(e2 => isEdge(e2) || e2.isInstanceOf[Expr.MapLit]))
        None
      else {
        val rr = resolver(st, binding, render)
        val meta = Set("src", "dst", "rank", "etype")
        def valMap(e2: Expr.E): Column = e2 match {
          case Expr.Ref(List(ev)) =>
            val pre = s"${ev}_"
            val fields = binding.schema.fields.filter { f2 =>
              val pn = f2.name.stripPrefix(pre)
              f2.name.startsWith(pre) && !meta.contains(pn) &&
                !pn.startsWith("_")
            }.toSeq
            map(fields.flatMap(f2 =>
              Seq(lit(f2.name.stripPrefix(pre)), col(f2.name))): _*)
          case Expr.MapLit(entries) =>
            map(entries.flatMap { case (k, v) =>
              Seq(lit(k), Expr.compile(v, rr)) }: _*)
          case _ => lit(null)
        }
        val elsC = cw.els.map(valMap).getOrElse(lit(null))
        Some(cw.branches.foldRight(elsC) { case ((cond, v), acc) =>
          when(Expr.compile(cond, rr), valMap(v)).otherwise(acc)
        })
      }
    }
    val f: Expr.Resolver = {
      // IN over a non-list binding column (`x IN names` where WITH
      // bound names to a scalar / missing prop) is the reference's
      // BAD_TYPE → NULL; Spark's array_contains would fail analysis
      // outright (MatchByVariable.feature "reference the invalid
      // variable": every golden is n=0)
      // …a root-level bare IN raises in truthyFilter; as an AND/OR
      // OPERAND the BAD_TYPE just folds to NULL. `id(v) IN <scalar>`
      // keeps its vid-seek/reject path except for the NullType fold.
      case Expr.Bin("in", l, Expr.Ref(List(x)))
          if plainCol(x) && !arrayCol(x) &&
            (binding.schema(x).dataType ==
               org.apache.spark.sql.types.NullType ||
             !(l match {
               case Expr.FnCall("id", _, _) => true; case _ => false })) =>
        Some(lit(null).cast("boolean"))
      // ordering a prop against a cross-family literal is the
      // reference's NULL (`e.likeness >= "12"`, `$$.player.age >=
      // true` — RelationalExpr.feature) — Spark would cast and
      // compare. Same-family comparisons stay real: string props vs
      // string literals (`n.player.name <= "2010.0"`) and BOOL props
      // vs bool literals (Index.feature `t1.col3 > false`).
      case Expr.Bin("<" | "<=" | ">" | ">=", l, r)
          if {
            def pt(x: Expr.E): Option[org.apache.spark.sql.types.DataType] =
              (x match {
                case Expr.Ref(List(a)) if plainCol(a) => Some(a)
                case Expr.Ref(List(v, t2, p)) if cols(s"${v}_${t2}_$p") =>
                  Some(s"${v}_${t2}_$p")
                case Expr.Ref(List(ev, p)) if cols(s"${ev}_$p") =>
                  Some(s"${ev}_$p")
                case _ => None
              }).map(binding.schema(_).dataType)
            def fam(d: org.apache.spark.sql.types.DataType): String =
              d match {
                case _: org.apache.spark.sql.types.NumericType => "n"
                case org.apache.spark.sql.types.StringType => "s"
                case org.apache.spark.sql.types.BooleanType => "b"
                case _ => "?"
              }
            def litFam(x: Expr.E): Option[String] = x match {
              case Expr.Lit(_: String) => Some("s")
              case Expr.Lit(_: Boolean) => Some("b")
              case Expr.Lit(_: Long) | Expr.Lit(_: Double) => Some("n")
              case _ => None
            }
            def mism(a: Expr.E, b: Expr.E) = (pt(a).map(fam), litFam(b)) match {
              case (Some(fa), Some(fb)) => fa != "?" && fa != fb
              case _ => false
            }
            mism(l, r) || mism(r, l)
          } =>
        Some(lit(null).cast("boolean"))
      // ==/!= between a scalar-shaped side and an ARRAY binding column
      // (`id(v) == vid` where vid = LIST[]): cross-family equality is
      // DEFINITE in the reference (Value.cpp operator==) — never a
      // Spark cross-type analysis error
      case Expr.Bin(op @ ("==" | "!="), l, r)
          if {
            def arr(e2: Expr.E) = e2 match {
              case Expr.Ref(List(x)) => arrayCol(x)
              case _ => false
            }
            def scalarish(e2: Expr.E) = e2 match {
              case Expr.Lit(v) => !v.isInstanceOf[List[_]]
              case Expr.FnCall("id", _, _) => true
              case Expr.Ref(List(x)) => plainCol(x) && !arrayCol(x)
              case Expr.Ref(_ :: _ :: Nil) | Expr.Ref(_ :: _ :: _ :: Nil) =>
                true // tag-prop access is scalar
              case _ => false
            }
            (arr(l) && scalarish(r)) || (arr(r) && scalarish(l))
          } =>
        val rr = resolver(st, binding, render)
        val (cl, cr) = (Expr.compile(l, rr), Expr.compile(r, rr))
        Some(when(cl.isNull || cr.isNull, lit(null).cast("boolean"))
          .otherwise(lit(op == "!=")))
      // a mixed-value UNWIND alias renders its active side: sublists
      // in the reference's `[a, b, c]` list form, scalars bare
      case Expr.Ref(List(a2)) if st.mixedValCols.contains(a2) && render =>
        val s = col(a2).getField("__mx_s")
        val l = col(a2).getField("__mx_l")
        Some(when(l.isNotNull,
            concat(lit("["), array_join(
              transform(l, x => coalesce(x.cast("string"), lit("NULL"))),
              ", "), lit("]")))
          .otherwise(s.cast("string")))
      // CASE mixing a bare edge var with map literals evaluates to a
      // VALUE that downstream treats as a property map (`case when
      // e.likeness > 90 then e else {likeness:13} end` — Case.feature
      // :311,:398); both branch shapes compile to a real Spark MAP so
      // `n.likeness` and properties(...) read through uniformly
      case Expr.FnCall("properties", List(cw: Expr.CaseW), _)
          if caseEdgeMap(cw).isDefined =>
        caseEdgeMap(cw)
      case cw: Expr.CaseW if caseEdgeMap(cw).isDefined =>
        caseEdgeMap(cw)
      // a lambda whose body reads fields of its variable asks for the
      // RAW list: var-length edge vars then supply property-carrying
      // structs even in render position ([i in e | i.likeness])
      case Expr.FnCall("__rawlist", List(Expr.Ref(List(ev))), _)
          if st.vlEdgeVars.contains(ev) && cols(s"${ev}__vl") =>
        Some(col(s"${ev}__vl"))
      // a RETURN-position list literal renders its bare node/edge
      // elements (`RETURN [v]` → [("Tim Duncan")], BoolCheckingInExpr)
      case Expr.ListLit(items) if render && items.exists {
          case Expr.Ref(List(n2)) =>
            st.vertexVars.contains(n2) || st.edgeVars.contains(n2)
          case _ => false } =>
        val r2 = resolver(st, binding, render)
        Some(array(items.map {
          case Expr.Ref(List(v)) if st.vertexVars.contains(v) =>
            Gql.renderNode(col(v), strVid)
          case Expr.Ref(List(ev)) if st.edgeVars.contains(ev) =>
            Gql.renderEdge(col(s"${ev}_etype"), col(s"${ev}_src"),
              col(s"${ev}_dst"), col(s"${ev}_rank"), strVid)
          case other => Expr.compile(other, r2)
        }: _*))
      // a MAP literal holding bare node/edge vars (`WITH {a: v} AS m
      // ... m.a.player.age`, Base.feature:1571): the entry compiles to
      // a NAVIGABLE struct — per-tag prop structs gated on the tag
      // marker (missing tag → NULL, matching the reference's Vertex
      // attribute semantics) — so downstream dotted access descends
      // plain struct fields
      case Expr.MapLit(entries) if entries.exists {
          case (_, Expr.Ref(List(n2))) =>
            st.vertexVars.contains(n2) || st.edgeVars.contains(n2)
          case _ => false } =>
        val r2 = resolver(st, binding, render)
        def vertexNav(v: String): Column = {
          val tagFields = st.tags.sorted.flatMap { t =>
            val pre = s"${v}_${t}_"
            val props = binding.schema.fields.filter { f2 =>
              val pn = f2.name.stripPrefix(pre)
              f2.name.startsWith(pre) && !pn.startsWith("_")
            }.map(f2 => col(f2.name).as(f2.name.stripPrefix(pre))).toSeq
            if (props.isEmpty) None
            else {
              val inner = struct(props: _*)
              val mark = s"__lbl_${v}_$t"
              Some((if (cols(mark)) when(col(mark), inner)
                    else inner).as(t))
            }
          }
          if (tagFields.isEmpty) col(v) else struct(tagFields: _*)
        }
        def edgeNav(ev: String): Column = {
          val pre = s"${ev}_"
          val fields = binding.schema.fields.filter { f2 =>
            val pn = f2.name.stripPrefix(pre)
            f2.name.startsWith(pre) && !pn.startsWith("_")
          }.map(f2 => col(f2.name).as(f2.name.stripPrefix(pre))).toSeq
          if (fields.isEmpty) col(s"${ev}_src") else struct(fields: _*)
        }
        Some(struct(entries.map {
          case (k, Expr.Ref(List(v))) if st.vertexVars.contains(v) =>
            vertexNav(v).as(k)
          case (k, Expr.Ref(List(ev))) if st.edgeVars.contains(ev) =>
            edgeNav(ev).as(k)
          case (k, other) => Expr.compile(other, r2).as(k)
        }: _*))
      // duration arithmetic/comparison (TimeComputation.feature).
      // Durations travel as (__dmon,__dsec,__dmic) structs (Expr
      // `duration` ctor); ordering them is the reference's BAD_TYPE
      // (→ NULL), equality is the exact triple, and +/- against
      // date/datetime/time applies months-then-seconds
      case Expr.Bin(op, l2, r2)
          if Set("+", "-", "<", ">", "<=", ">=", "==", "!=")(op) &&
            (durExpr(binding, l2) || durExpr(binding, r2)) =>
        durationBin(st, binding, render, op, l2, r2)
      // entity-kind predicates on a bound alias fold to constants —
      // the alias' kind is static (BoolCheckingInExpr.feature)
      case Expr.FnCall(fn @ ("is_edge" | "is_vertex" | "is_path"),
          List(Expr.Ref(List(v))), _)
          if st.vertexVars.contains(v) || st.edgeVars.contains(v) ||
            st.vlEdgeVars.contains(v) || st.pathVars.contains(v) =>
        Some(lit(fn match {
          case "is_edge" => st.edgeVars.contains(v)
          case "is_vertex" => st.vertexVars.contains(v)
          case _ => st.pathVars.contains(v)
        }))
      // collect over a bare node/edge var gathers RENDERED values
      // (goldens: COLLECT(v2) == [("Tim Duncan"), ...])
      case Expr.FnCall(fn @ ("collect" | "collect_set"),
          List(Expr.Ref(List(v))), _) if render && st.vertexVars.contains(v) =>
        val r = Gql.renderNode(col(v), strVid)
        Some(if (fn == "collect") collect_list(r) else collect_set(r))
      case Expr.FnCall(fn @ ("collect" | "collect_set"),
          List(Expr.Ref(List(ev))), _) if render && st.edgeVars.contains(ev) =>
        val r = Gql.renderEdge(col(s"${ev}_etype"), col(s"${ev}_src"),
          col(s"${ev}_dst"), col(s"${ev}_rank"), strVid)
        Some(if (fn == "collect") collect_list(r) else collect_set(r))
      // dotted access over a WITH-bound map/struct column:
      // `WITH {a:1, b:{c:3}} AS x ... x.b.c` — descend fields, a
      // missing key is NULL (exists() sees false) (With.feature)
      case Expr.Ref(x :: rest)
          if rest.nonEmpty && cols(x) && !st.vertexVars.contains(x) &&
            !st.edgeVars.contains(x) && !st.vlEdgeVars.contains(x) &&
            binding.schema(x).dataType
              .isInstanceOf[org.apache.spark.sql.types.StructType] =>
        var cur = col(x)
        var dt: org.apache.spark.sql.types.DataType = binding.schema(x).dataType
        var ok = true
        rest.foreach { fld =>
          dt match {
            case st2: org.apache.spark.sql.types.StructType
                if ok && st2.fieldNames.contains(fld) =>
              cur = cur.getField(fld); dt = st2(fld).dataType
            case _ => ok = false
          }
        }
        Some(if (ok) cur else lit(null))
      // `n['name']` subscript prop access on bound vars (Predicate
      // EXISTS scenarios) — same lookup as properties(n).name
      case Expr.Subscript(Expr.Ref(List(v)), Expr.Lit(key: String))
          if st.vertexVars.contains(v) =>
        val having = st.tags.sorted.map(t => s"${v}_${t}_$key").filter(cols)
        Some(if (having.isEmpty) lit(null)
             else coalesce(having.map(col): _*))
      case Expr.Subscript(Expr.Ref(List(ev)), Expr.Lit(key: String))
          if st.edgeVars.contains(ev) =>
        e(s"${ev}_$key")
      case Expr.Ref(List(v, tag, prop)) if st.vertexVars.contains(v) =>
        e(s"${v}_${tag}_$prop")
      // `v.player` = that tag's prop map (NULL when the vertex lacks
      // the tag); `v.notATag` = NULL (Base.feature:1442-1462)
      case Expr.Ref(List(v, sub)) if st.vertexVars.contains(v) &&
          st.knownTag(sub) =>
        val pre = s"${v}_${sub}_"
        val fields = binding.schema.fields.filter { f2 =>
          val pn = f2.name.stripPrefix(pre)
          f2.name.startsWith(pre) && !pn.startsWith("_")
        }.map(f2 => (f2.name.stripPrefix(pre), col(f2.name), f2.dataType))
          .toSeq
        val mark = s"__lbl_${v}_$sub"
        val rendered =
          if (fields.isEmpty) lit(null)
          else Gql.renderPropsMap(fields)
        Some(if (cols(mark)) when(col(mark), rendered) else rendered)
      case Expr.Ref(List(v, _)) if st.vertexVars.contains(v) =>
        Some(lit(null))
      case Expr.Ref(List(v)) if st.vertexVars.contains(v) => Some(col(v))
      // var-length edge list: rendered edge values in RETURN position,
      // raw structs in WHERE/WITH (subscript + lambda prop access)
      case Expr.Ref(List(ev)) if st.vlEdgeVars.contains(ev) =>
        val raw = col(s"${ev}__vl")
        Some(if (render) transform(raw, x =>
          Gql.renderEdge(x("__t"), x("__s"), x("__d"), x("__r"), strVid))
        else raw)
      case Expr.Ref(List(ev, prop)) if st.edgeVars.contains(ev) =>
        e(s"${ev}_$prop")
      // bare edge var inside an expression (count(e), coalesce(e, ...)):
      // rendered text in RETURN position, key struct elsewhere; NULL
      // when an OPTIONAL MATCH left the edge unbound so count() skips it
      case Expr.Ref(List(ev)) if st.edgeVars.contains(ev) =>
        val bound = col(s"${ev}_src").isNotNull
        Some(if (render)
          when(bound, Gql.renderEdge(col(s"${ev}_etype"), col(s"${ev}_src"),
            col(s"${ev}_dst"), col(s"${ev}_rank"), strVid))
        else when(bound, struct(col(s"${ev}_etype"), col(s"${ev}_src"),
          col(s"${ev}_dst"), col(s"${ev}_rank"))))
      case Expr.FnCall("id", List(Expr.Ref(List(v))), _)
          if st.vertexVars.contains(v) => Some(col(v))
      // id() over an alias the pattern never declared is the
      // reference's SemanticError (MatchValidator.cpp:987), not an
      // unsupported-surface skip (`WHERE id(x) == ...` with only v
      // bound — SeekById.feature)
      case Expr.FnCall("id", List(Expr.Ref(List(v))), _)
          if !cols(v) && !st.edgeVars.contains(v) &&
            !st.vlEdgeVars.contains(v) && !st.pathVars.contains(v) =>
        throw new IllegalArgumentException(
          s"SemanticError: Alias used but not defined: `$v'")
      // none_direct_src/dst: the endpoints of the edge KEY the hop
      // actually read — traversal orientation, negative etype and all
      // (FunctionManager.cpp:2152,2202; a `<-` hop reads the reverse
      // key, so its dst is the far node). On a vertex they return its
      // vid; on an edge list the first/last element's endpoint.
      case Expr.FnCall(fn2 @ ("none_direct_src" | "none_direct_dst"),
          Expr.Ref(List(x)) :: _, _)
          if st.edgeVars.contains(x) || st.vertexVars.contains(x) ||
            st.vlEdgeVars.contains(x) =>
        val dstSide = fn2.endsWith("dst")
        Some(
          if (st.vertexVars.contains(x)) col(x)
          else if (st.edgeVars.contains(x)) {
            val t = if (dstSide) s"${x}__tdst" else s"${x}__tsrc"
            if (cols(t)) col(t)
            else col(if (dstSide) s"${x}_dst" else s"${x}_src")
          } else {
            val l2 = col(s"${x}__vl")
            if (dstSide) element_at(l2, -1).getField("__d")
            else element_at(l2, 1).getField("__s")
          })
      // none_direct_* over anything that isn't a vertex/edge value is
      // the validator's static type error (yield/return.feature:38)
      case Expr.FnCall(fn2 @ ("none_direct_src" | "none_direct_dst"),
          List(arg), _)
          if !(arg match {
            case Expr.Ref(List(x)) => cols(x) || st.edgeVars.contains(x) ||
              st.vlEdgeVars.contains(x) || st.vertexVars.contains(x)
            case _ => false
          }) =>
        throw new IllegalArgumentException(
          s"SemanticError: Type error `$fn2(${Expr.text(arg)})'")
      case Expr.FnCall("type", List(Expr.Ref(List(ev))), _)
          if st.edgeVars.contains(ev) => Some(col(s"${ev}_etype"))
      case Expr.FnCall("rank", List(Expr.Ref(List(ev))), _)
          if st.edgeVars.contains(ev) => Some(col(s"${ev}_rank"))
      case Expr.FnCall("src", List(Expr.Ref(List(ev))), _)
          if st.edgeVars.contains(ev) => Some(col(s"${ev}_src"))
      case Expr.FnCall("dst", List(Expr.Ref(List(ev))), _)
          if st.edgeVars.contains(ev) => Some(col(s"${ev}_dst"))
      // prop access on a subscripted relationship-list var (`e[0].p`
      // where e is a var-length edge var or a relationships(p) WITH
      // alias): the RETURN-visible value renders as strings, so read
      // the struct twin
      case Expr.Attr(Expr.Subscript(Expr.Ref(List(tt)), idx), prop)
          if st.vlEdgeVars.contains(tt) && cols(s"${tt}__vl") =>
        val raw = col(s"${tt}__vl")
        val ic = Expr.compile(idx, resolver(st, binding)).cast("int")
        val elem = when(ic >= 0, try_element_at(raw, ic + lit(1)))
          .otherwise(try_element_at(raw, ic))
        Some(elem.getField(prop))
      // edge accessors on a subscripted var-length edge list:
      // rank(e[0]) / type(e[i]) / src / dst read the struct fields
      case Expr.FnCall(fn2 @ ("type" | "rank" | "src" | "dst"),
          List(Expr.Subscript(Expr.Ref(List(ev)), idx)), _)
          if st.vlEdgeVars.contains(ev) =>
        val raw = col(s"${ev}__vl")
        val ic = Expr.compile(idx, resolver(st, binding)).cast("int")
        val elem = when(ic >= 0, try_element_at(raw, ic + lit(1)))
          .otherwise(try_element_at(raw, ic))
        val field = fn2 match {
          case "type" => "__t"; case "rank" => "__r"
          case "src" => "__s"; case _ => "__d"
        }
        Some(elem.getField(field))
      // properties(v).prop / properties(v): merged tag-prop view of a
      // bound vertex var (PrunePropertiesRule.feature)
      case Expr.Attr(Expr.FnCall("properties",
          List(Expr.Ref(List(v))), _), prop)
          if st.vertexVars.contains(v) =>
        val having = st.tags.sorted
          .map(t => s"${v}_${t}_$prop").filter(cols)
        Some(if (having.isEmpty) lit(null)
             else coalesce(having.map(col): _*))
      case Expr.FnCall("properties", List(Expr.Ref(List(v))), _)
          if st.vertexVars.contains(v) =>
        val m = scala.collection.mutable.LinkedHashMap
          .empty[String, (List[Column], org.apache.spark.sql.types.DataType)]
        st.tags.sorted.foreach { t =>
          val pre = s"${v}_${t}_"
          binding.schema.fields.filter(f2 => f2.name.startsWith(pre))
            .foreach { f2 =>
              val pn = f2.name.stripPrefix(pre)
              if (!pn.startsWith("_")) {
                val cur = m.getOrElse(pn, (Nil, f2.dataType))
                m(pn) = (cur._1 :+ col(f2.name), cur._2)
              }
            }
        }
        Some(Gql.renderPropsMap(m.toSeq.map { case (pn, (cs2, dt)) =>
          (pn, coalesce(cs2: _*), dt) }))
      // properties(e).prop / properties(e) on a single edge var
      case Expr.Attr(Expr.FnCall("properties",
          List(Expr.Ref(List(ev))), _), prop)
          if st.edgeVars.contains(ev) =>
        e(s"${ev}_$prop")
      case Expr.FnCall("properties", List(Expr.Ref(List(ev))), _)
          if st.edgeVars.contains(ev) =>
        val meta = Set("src", "dst", "rank", "etype")
        val pre = s"${ev}_"
        val fields = binding.schema.fields.filter { f2 =>
          val pn = f2.name.stripPrefix(pre)
          f2.name.startsWith(pre) && !meta.contains(pn) &&
            !pn.startsWith("_")
        }.map(f2 => (f2.name.stripPrefix(pre), col(f2.name), f2.dataType))
          .toSeq
        Some(Gql.renderPropsMap(fields))
      // properties(e[i]).prop on a var-length edge list
      case Expr.Attr(Expr.FnCall("properties",
          List(Expr.Subscript(Expr.Ref(List(ev)), idx)), _), prop)
          if st.vlEdgeVars.contains(ev) && cols(s"${ev}__vl") =>
        val raw = col(s"${ev}__vl")
        val ic = Expr.compile(idx, resolver(st, binding)).cast("int")
        val elem = when(ic >= 0, try_element_at(raw, ic + lit(1)))
          .otherwise(try_element_at(raw, ic))
        // a prop no traversed edge type carries is NULL, not an
        // analysis error (PrunePropertiesRule `properties(e[0]).degree`
        // over like-only traversal)
        val hasField = binding.schema(s"${ev}__vl").dataType match {
          case org.apache.spark.sql.types.ArrayType(
              s2: org.apache.spark.sql.types.StructType, _) =>
            s2.fieldNames.contains(prop)
          case _ => false
        }
        Some(if (hasField) elem.getField(prop) else lit(null))
      case Expr.FnCall("labels" | "tags", List(Expr.Ref(List(v))), _)
          if st.vertexVars.contains(v) =>
        Some(array_compact(array(st.tags.sorted.map(t =>
          when(col(s"__lbl_${v}_$t"), lit(t))): _*)))
      // keys(vertex): sorted distinct prop names across the tags the
      // vertex bears (FunctionManager.cpp:2363 — std::set over tag
      // props); keys(edge): its prop names (meta fields excluded)
      case Expr.FnCall("keys", List(Expr.Ref(List(v))), _)
          if st.vertexVars.contains(v) =>
        val empty = typedLit(Seq.empty[String])
        val perTag = st.tags.sorted.flatMap { t =>
          val pre = s"${v}_${t}_"
          val props = binding.schema.fieldNames.toSeq
            .filter(_.startsWith(pre)).map(_.stripPrefix(pre))
            .filterNot(_.startsWith("_")).sorted
          if (props.isEmpty) None
          else {
            val arr = array(props.map(lit): _*)
            val mark = s"__lbl_${v}_$t"
            Some(if (cols(mark)) when(col(mark), arr).otherwise(empty)
                 else arr)
          }
        }
        Some(if (perTag.isEmpty) empty
             else array_sort(array_distinct(flatten(array(perTag: _*)))))
      case Expr.FnCall("keys", List(Expr.Ref(List(ev))), _)
          if st.edgeVars.contains(ev) =>
        val meta = Set("src", "dst", "rank", "etype")
        val pre = s"${ev}_"
        val props = binding.schema.fieldNames.toSeq
          .filter(_.startsWith(pre)).map(_.stripPrefix(pre))
          .filterNot(pn => meta.contains(pn) || pn.startsWith("_"))
          .sorted
        Some(if (props.isEmpty) typedLit(Seq.empty[String])
             else array(props.map(lit): _*))
      // edge accessors on a PLAIN struct var holding a var-length
      // list element (`UNWIND e AS x ... src(x)`): the element struct
      // carries __t/__s/__d/__r meta fields
      case Expr.FnCall(fn2 @ ("type" | "rank" | "src" | "dst"),
          List(Expr.Ref(List(x))), _)
          if st.plainCols.contains(x) && cols(x) &&
            (binding.schema(x).dataType match {
              case s: org.apache.spark.sql.types.StructType =>
                s.fieldNames.contains("__s")
              case _ => false
            }) =>
        val field = fn2 match {
          case "type" => "__t"; case "rank" => "__r"
          case "src" => "__s"; case _ => "__d"
        }
        Some(col(x).getField(field))
      // a null-seeded OPTIONAL path: every path function over it (and
      // over a literal null) is NULL — Path2.feature [3]
      case Expr.FnCall("relationships" | "nodes" | "length",
          List(Expr.Ref(List(pv))), _) if st.nullPaths.contains(pv) =>
        Some(lit(null))
      case Expr.FnCall("relationships" | "nodes",
          List(Expr.Lit(null)), _) =>
        Some(lit(null))
      // a path that crossed a WITH keeps its hop count in the hidden
      // __plen twin (length(p) must not degrade to string length)
      case Expr.FnCall("length", List(Expr.Ref(List(pv))), _)
          if st.pathLenCols.contains(pv) && cols(s"${pv}__plen") =>
        Some(col(s"${pv}__plen"))
      // shortestPath named-path functions (structured hidden twins)
      case Expr.FnCall("length", List(Expr.Ref(List(pv))), _)
          if st.spPaths.contains(pv) =>
        Some(size(col(s"${pv}__spsteps")).cast("long"))
      case Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _)
          if st.spPaths.contains(pv) =>
        Some(transform(col(s"${pv}__spvids"), x => Gql.renderNode(x, strVid)))
      case Expr.FnCall("relationships", List(Expr.Ref(List(pv))), _)
          if st.spPaths.contains(pv) =>
        Some(transform(col(s"${pv}__spsteps"), x =>
          Gql.renderEdge(x("t"), x("s"), x("d"), x("r"), strVid)))
      // named-path functions over paths CONTAINING var-length rels:
      // length sums per-rel hop counts; relationships concatenates the
      // per-rel edge renderings (nodes/rendering stay unsupported —
      // the traversal-direction node sequence is not materialized)
      case Expr.FnCall("length", List(Expr.Ref(List(pv))), _)
          if st.pathVars.get(pv).exists(_.varLength) &&
            st.pathVars(pv).rels.forall(ev =>
              st.vlEdgeVars.contains(ev) || st.edgeVars.contains(ev)) =>
        Some(st.pathVars(pv).rels.map { ev =>
          if (st.vlEdgeVars.contains(ev)) size(col(s"${ev}__vl"))
          else lit(1)
        }.reduce(_ + _).cast("long"))
      case Expr.FnCall("relationships", List(Expr.Ref(List(pv))), _)
          if st.pathVars.get(pv).exists(_.varLength) &&
            st.pathVars(pv).rels.forall(ev =>
              st.vlEdgeVars.contains(ev) || st.edgeVars.contains(ev)) =>
        val parts2 = st.pathVars(pv).rels.map { ev =>
          if (st.vlEdgeVars.contains(ev))
            transform(col(s"${ev}__vl"), x =>
              Gql.renderEdge(x("__t"), x("__s"), x("__d"), x("__r"), strVid))
          else array(Gql.renderEdge(col(s"${ev}_etype"), col(s"${ev}_src"),
            col(s"${ev}_dst"), col(s"${ev}_rank"), strVid))
        }
        Some(if (parts2.size == 1) parts2.head else concat(parts2: _*))
      // nodes(p) over a path CONTAINING var-length rels: re-derive
      // the traversal node sequence by chaining stored-orientation
      // endpoints — each step's far node is whichever of (__s,__d)
      // is not the node we stand on (match/Unwind UNWIND nodes(p))
      case Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _)
          if rawNodeChain(st, binding, pv).isDefined =>
        Some(transform(rawNodeChain(st, binding, pv).get,
          x => Gql.renderNode(x, strVid)))
      // nodes(p)[k].tag.prop over a FIXED-length path folds to the
      // k-th node alias statically (expression/Attribute TCK)
      case Expr.Attr(Expr.Attr(Expr.Subscript(
            Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _), idxE),
            tag), prop)
          if st.pathVars.get(pv).exists(!_.varLength) &&
            Expr.tryConst(idxE).exists(_.isInstanceOf[Long]) =>
        val ns = st.pathVars(pv).nodes
        val k0 = Expr.tryConst(idxE).get.asInstanceOf[Long].toInt
        val k = if (k0 < 0) ns.length + k0 else k0
        if (k < 0 || k >= ns.length) Some(lit(null))
        else Some(Expr.compile(Expr.Ref(List(ns(k), tag, prop)),
          resolver(st, binding, render)))
      // comprehension / quantifier over nodes(p) of a fixed-length
      // path: the node list is static, so the lambda body is
      // instantiated once per node alias — props stay resolvable
      // (ListComprehension / Predicate TCK over nodes(p))
      case Expr.Compr(v2,
            Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _), pred, map)
          if st.pathVars.get(pv).exists(!_.varLength) =>
        val r2 = resolver(st, binding, render)
        val elems = st.pathVars(pv).nodes.map { n2 =>
          val keep = pred.map(p2 =>
            Expr.compile(Expr.substRefHead(p2, v2, n2), r2))
            .getOrElse(lit(true))
          val value = map.map(m2 =>
            Expr.compile(Expr.substRefHead(m2, v2, n2), r2))
            .getOrElse(Gql.renderNode(col(n2), strVid))
          struct(coalesce(keep, lit(false)).as("k"), value.as("v"))
        }
        Some(transform(filter(array(elems: _*), x => x("k")),
          x => x("v")))
      // reduce() over nodes(p) of a fixed-length path: fold the step
      // expression statically node-by-node, threading the accumulator
      // COLUMN through a step-local resolver (expression/Reduce TCK
      // `reduce(totalAge = 100, n IN nodes(p) | totalAge + n.player.age)`)
      case Expr.ReduceE(accName, init, v2,
            Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _), step)
          if st.pathVars.get(pv).exists(!_.varLength) =>
        val r2 = resolver(st, binding, render)
        var acc = Expr.compile(init, r2)
        st.pathVars(pv).nodes.foreach { n2 =>
          val stepN = Expr.substRefHead(step, v2, n2)
          val rAcc: Expr.Resolver = {
            case Expr.Ref(List(a)) if a == accName => Some(acc)
            case other => r2(other)
          }
          acc = Expr.compile(stepN, rAcc)
        }
        Some(acc)
      // reduce() over relationships(p) of a var-length path (single
      // vl rel): fold the STRUCT list via aggregate(), so prop access
      // on the lambda var reads struct fields instead of the rendered
      // strings (bugfix/MatchJoinOnEdge `sum(reduce(total=1, ratio in
      // relationships(p1) | total * ratio.likeness))`)
      case Expr.ReduceE(accName, init, v2,
            Expr.FnCall("relationships", List(Expr.Ref(List(pv))), _), step)
          if st.pathVars.get(pv).exists(_.varLength) &&
            st.pathVars(pv).rels.size == 1 &&
            st.vlEdgeVars.contains(st.pathVars(pv).rels.head) &&
            cols(s"${st.pathVars(pv).rels.head}__vl") =>
        val ev = st.pathVars(pv).rels.head
        val r2 = resolver(st, binding, render)
        val elemFields = binding.schema(s"${ev}__vl").dataType match {
          case org.apache.spark.sql.types.ArrayType(
              s2: org.apache.spark.sql.types.StructType, _) =>
            s2.fieldNames.toSet
          case _ => Set.empty[String]
        }
        Some(aggregate(col(s"${ev}__vl"), Expr.compile(init, r2),
          (acc, x) => {
            val rL: Expr.Resolver = {
              case Expr.Ref(List(a2)) if a2 == accName => Some(acc)
              case Expr.Attr(Expr.Ref(List(b2)), prop) if b2 == v2 =>
                Some(if (elemFields(prop)) x.getField(prop) else lit(null))
              // dotted form parses as a two-part Ref, not Attr
              case Expr.Ref(List(b2, prop)) if b2 == v2 =>
                Some(if (elemFields(prop)) x.getField(prop) else lit(null))
              case Expr.FnCall(fn2 @ ("type" | "rank" | "src" | "dst"),
                  List(Expr.Ref(List(b2))), _) if b2 == v2 =>
                Some(x.getField(fn2 match {
                  case "type" => "__t"; case "rank" => "__r"
                  case "src" => "__s"; case _ => "__d"
                }))
              case other => r2(other)
            }
            Expr.compile(step, rL)
          }))
      case Expr.Quant(kind, v2,
            Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _), pred)
          if st.pathVars.get(pv).exists(!_.varLength) =>
        val r2 = resolver(st, binding, render)
        val preds = st.pathVars(pv).nodes.map(n2 =>
          Expr.compile(Expr.substRefHead(pred, v2, n2), r2))
        val arr = array(preds: _*)
        Some(kind match {
          case "all" => forall(arr, x => x)
          case "any" => exists(arr, x => x)
          case "none" => !exists(arr, x => x)
          case "single" =>
            val trueCnt =
              size(filter(arr, x => coalesce(x, lit(false))))
            val anyNull = exists(arr, x => x.isNull)
            when(trueCnt >= 2, lit(false))
              .when(anyNull, lit(null))
              .otherwise(trueCnt === 1)
        })
      // named-path functions over fixed-length paths
      case Expr.FnCall("length", List(Expr.Ref(List(pv))), _)
          if st.pathVars.get(pv).exists(!_.varLength) =>
        Some(lit(st.pathVars(pv).rels.size.toLong))
      case Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _)
          if st.pathVars.get(pv).exists(!_.varLength) =>
        Some(array(st.pathVars(pv).nodes.map(n =>
          Gql.renderNode(col(n), strVid)): _*))
      case Expr.FnCall("relationships", List(Expr.Ref(List(pv))), _)
          if st.pathVars.get(pv).exists(!_.varLength) =>
        Some(array(st.pathVars(pv).rels.map(ev =>
          Gql.renderEdge(col(s"${ev}_etype"), col(s"${ev}_src"),
            col(s"${ev}_dst"), col(s"${ev}_rank"), strVid)): _*))
      case Expr.Ref(List(pv)) if st.pathVars.contains(pv) =>
        Some(renderPath(st, st.pathVars(pv), strVid))
      // plain struct column (a WITH-projected map literal): dotted
      // access is a field lookup
      case Expr.Ref(List(m, field))
          if st.plainCols.contains(m) && cols(m) =>
        Some(col(m).getField(field))
      // STRICT bare-name resolution: Spark's ResolveMissingReferences
      // would otherwise silently resolve an unknown name against a
      // hidden pre-rename attribute of the tag scan (e.g. `vid`)
      case Expr.Ref(List(n)) if !cols(n) =>
        throw new IllegalArgumentException(s"unknown variable $n")
      case _ => None
    }
    f
  }

  def exec(g: GraphCatalog, m: MStmt): DataFrame = {
    var st = new BState(g)
    var binding: DataFrame = null
    // WITH/UNWIND-headed pipelines start from one empty row
    def base(): DataFrame =
      if (binding != null) binding
      else g.allVertices.sparkSession.range(1).drop("id")
    // a later MATCH stage references the piped binding MORE THAN ONCE
    // (the re-seek seed frame derived from it + the shared-var join
    // back into it), so a lazy aggregating WITH boundary gets its
    // whole upstream pipeline evaluated per reference — the round-14
    // ic6 plan audit showed the full KNOWS*1..2⋈HAS_CREATOR⋈HAS_TAG
    // subtree duplicated under the final join. Materialize DISTINCT /
    // aggregated WITH results before a following MATCH: nothing pushes
    // through the aggregation anyway (the seek-laziness lesson from the
    // rejected round-13 catalog persist does not apply across an
    // aggregate), and the frame is the pipe's small side by
    // construction. Plain projection WITHs stay lazy — filters and
    // column pruning still flow through those.
    def matAggWith(i: Int, w: Proj): Unit =
      if ((w.distinct || w.items.exists(it => Expr.hasAgg(it.e))) &&
          m.stages.drop(i + 1).exists(_.isInstanceOf[MatchStage]) &&
          binding != null)
        binding = graft.Ckpt.mat(binding)
    m.stages.zipWithIndex.foreach { case (stage, si) => stage match {
      case MatchStage(clauses) =>
        binding = execClauses(g, st, clauses, binding)
      case UnwindStage(e0, alias) =>
        // UNWIND as a clause: one row per list element (empty/null
        // lists eliminate the row — plain explode). A SCALAR operand
        // unwinds to itself, null to zero rows (UnwindExecutor.cpp) —
        // wrap it as a 1-element array so explode types check.
        // Aggregates can't appear in UNWIND (UnwindValidator parity,
        // match/Unwind.feature `UNWIND collect([1,2,3])`)
        if (Expr.hasAgg(e0))
          throw new IllegalArgumentException(
            "SemanticError: Can't use aggregating expressions in unwind clause `" +
              Expr.text(e0) + "'")
        binding = ensureTags(g, st, base(), Seq(e0))
        val (bU, eU) = preparePatternExprs(g, st, binding, Seq(e0),
          bool = false, render = false)
        binding = bU
        val e = eU.head
        val res0 = resolver(st, binding)
        e match {
          // heterogeneous literal list (scalars + sublists): encode
          // elements as a tagged struct so both shapes survive the
          // explode with their types
          case Expr.ListLit(items) if items.nonEmpty &&
              items.exists(_.isInstanceOf[Expr.ListLit]) &&
              items.exists(i => !i.isInstanceOf[Expr.ListLit]) =>
            val lstT = binding.select(
              Expr.compile(items.find(_.isInstanceOf[Expr.ListLit]).get,
                res0).as("__t")).schema.head.dataType.sql
            val sclT = binding.select(
              Expr.compile(items.find(!_.isInstanceOf[Expr.ListLit]).get,
                res0).as("__t")).schema.head.dataType.sql
            val structs = items.map {
              case l2 @ Expr.ListLit(_) =>
                struct(lit(null).cast(sclT).as("__mx_s"),
                  Expr.compile(l2, res0).as("__mx_l"))
              case s2 =>
                struct(Expr.compile(s2, res0).as("__mx_s"),
                  lit(null).cast(lstT).as("__mx_l"))
            }
            binding = binding.withColumn(alias,
              explode(array(structs: _*)))
            st.mixedValCols += alias
          // UNWIND of a mixed-value alias: sublists explode, scalars
          // pass through (UnwindExecutor scalar-to-itself), nulls
          // vanish with the row
          case Expr.Ref(List(n)) if st.mixedValCols.contains(n) =>
            val s = col(n).getField("__mx_s")
            val l = col(n).getField("__mx_l")
            binding = binding.withColumn(alias,
              explode(when(l.isNotNull, l)
                .otherwise(when(s.isNotNull, array(s)))))
          // UNWIND nodes(p): bind RAW vids so the alias acts as a
          // vertex var — prop access tag-joins lazily and RETURN
          // renders `("vid")` (expression/Attribute1 `UNWIND
          // nodes(p0) AS ua0 ... ua0.Label_5.prop`)
          case Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _)
              if rawNodeChain(st, binding, pv).isDefined =>
            binding = binding.withColumn(alias,
              explode(rawNodeChain(st, binding, pv).get))
          case _ =>
            val uc = Expr.compile(e, res0)
            val udt = binding.select(uc.as("__u")).schema.head.dataType
            val uarr = udt match {
              case _: org.apache.spark.sql.types.ArrayType => uc
              case _ => when(uc.isNotNull, array(uc))
            }
            binding = binding.withColumn(alias, explode(uarr))
        }
        // UNWIND of a node-list column (`WITH nodes(p) AS ns UNWIND
        // ns AS n`) binds NODE values: register a vertex var so
        // RETURN renders `("vid")` and prop access tag-joins lazily
        // (match/AllShortestPaths allShortestPaths5)
        e match {
          case Expr.Ref(List(n2)) if st.nodeListCols.contains(n2) =>
            st.addVertex(alias)
          case Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _)
              if st.pathVars.contains(pv) || st.spPaths.contains(pv) =>
            st.addVertex(alias)
          case _ => st.addPlain(alias)
        }
        // UNWIND of a literal list binds scalar values — node-position
        // reuse is the reference's ExecutionError (match/With.feature
        // `with [1,2] as a unwind a as b match (b)`)
        e0 match {
          case Expr.Lit(_) => st.scalarLitVars += alias
          case Expr.ListLit(items) if items.forall(_.isInstanceOf[Expr.Lit]) =>
            st.scalarLitVars += alias
          case Expr.Ref(List(n)) if st.scalarLitVars.contains(n) =>
            st.scalarLitVars += alias
          case _ => ()
        }
      case w: Proj =>
        val (b2, s2) = applyWith(g, st, base(), w)
        binding = b2; st = s2
        matAggWith(si, w)
    } }
    applyReturn(g, st, base(), m.ret)
  }

  /** Literal id-constraints in a WHERE conjunction: `id(v) == lit` /
    * `id(v) IN [lits]` → v's seed set. Pushed into shortestPath
    * endpoint seeks so the BFS starts from the constrained vids, not
    * every tagged vertex (the reference's SeekById; at 100 TB an
    * unseeded all-pairs shortest BFS is a non-plan). */
  private def idSeedHints(w: Option[Expr.E]): Map[String, Seq[Any]] = {
    val out = scala.collection.mutable.Map.empty[String, Seq[Any]]
    def conj(e: Expr.E): Unit = e match {
      case Expr.Bin("and", a, b) => conj(a); conj(b)
      case Expr.Bin("==" | "=",
          Expr.FnCall("id", List(Expr.Ref(List(v))), _), Expr.Lit(x)) =>
        out(v) = Seq(x)
      case Expr.Bin("==" | "=", Expr.Lit(x),
          Expr.FnCall("id", List(Expr.Ref(List(v))), _)) =>
        out(v) = Seq(x)
      case Expr.Bin("in",
          Expr.FnCall("id", List(Expr.Ref(List(v))), _),
          Expr.ListLit(items))
          if items.forall(_.isInstanceOf[Expr.Lit]) =>
        out(v) = items.collect { case Expr.Lit(x) => x }
      case _ => ()
    }
    w.foreach(conj)
    out.toMap
  }

  /** VARIABLE id() seeds (the reference's VariableVertexIdSeek,
    * src/graph/planner/PlannersRegister.cpp:94-118): top-level WHERE
    * conjuncts of the form `id(n) == x` / `id(n) IN xs` where x/xs is
    * a prior-stage PLAIN column (WITH/UNWIND alias — never a vertex or
    * edge var, whose equality semantics differ). Each hint is a tiny
    * 1-column frame of distinct non-null seed values; buildPart
    * semi-joins it into the seed scan BEFORE expansion, the same
    * O(frontier)-vs-O(V) leverage as the literal SeekById. Pruning
    * only — the WHERE still evaluates post-join. */
  private def varSeedHints(st: BState, w: Option[Expr.E],
                           binding: DataFrame): Map[String, DataFrame] = {
    if (binding == null) return Map.empty
    val bcols = binding.columns.toSet
    def plain(c: String) = bcols(c) && st.plainCols.contains(c) &&
      !st.nodeListCols.contains(c) && !st.mixedValCols.contains(c) &&
      !st.pathLenCols.contains(c)
    val out = scala.collection.mutable.Map.empty[String, DataFrame]
    def seedOf(c: String): DataFrame =
      binding.select(col(c).as("__seedv"))
        .filter(col("__seedv").isNotNull).distinct()
    def conj(e: Expr.E): Unit = e match {
      case Expr.Bin("and", a, b) => conj(a); conj(b)
      case Expr.Bin("==" | "=",
          Expr.FnCall("id", List(Expr.Ref(List(v))), _),
          Expr.Ref(List(c))) if plain(c) =>
        out(v) = seedOf(c)
      case Expr.Bin("==" | "=", Expr.Ref(List(c)),
          Expr.FnCall("id", List(Expr.Ref(List(v))), _)) if plain(c) =>
        out(v) = seedOf(c)
      case Expr.Bin("in",
          Expr.FnCall("id", List(Expr.Ref(List(v))), _),
          Expr.Ref(List(c)))
          if plain(c) && binding.schema(c).dataType
            .isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
        out(v) = binding.select(explode(col(c)).as("__seedv"))
          .filter(col("__seedv").isNotNull).distinct()
      case _ => ()
    }
    w.foreach(conj)
    out.toMap
  }

  /** Single-tag property-equality seeds (the reference's
    * PropIndexSeek): top-level `v.Tag.prop == lit` conjuncts, applied
    * as a pre-filter on the seed/tag scan when the prop column is
    * bound AND the literal/column types are compatible under the same
    * whitelist as typedEq — an incompatible pairing must stay with the
    * WHERE clause, whose evaluation defines the (error) semantics. */
  private def propSeedHints(w: Option[Expr.E])
      : Map[String, Seq[(String, String, Any)]] = {
    val out = scala.collection.mutable.Map
      .empty[String, List[(String, String, Any)]]
    def add(v: String, t: String, p: String, x: Any): Unit =
      out(v) = out.getOrElse(v, Nil) :+ ((t, p, x))
    def conj(e: Expr.E): Unit = e match {
      case Expr.Bin("and", a, b) => conj(a); conj(b)
      case Expr.Bin("==" | "=", Expr.Ref(List(v, t, p)), Expr.Lit(x)) =>
        add(v, t, p, x)
      case Expr.Bin("==" | "=", Expr.Lit(x), Expr.Ref(List(v, t, p))) =>
        add(v, t, p, x)
      case _ => ()
    }
    w.foreach(conj)
    out.toMap
  }

  /** Semi-join a variable-seed frame into `df` on vid column `v`.
    * Type-guarded like hintTypeOk: only same-family pairings (string/
    * string, integral/integral) — anything else is not a safe
    * pre-filter and is skipped (the WHERE decides). */
  private def applyColSeed(df: DataFrame, v: String,
                           seed: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val vt = df.schema.find(_.name == v).map(_.dataType)
    val ok = (vt, seed.schema.head.dataType) match {
      case (Some(StringType), StringType) => true
      case (Some(LongType | IntegerType), LongType | IntegerType) => true
      case _ => false
    }
    if (!ok) df
    else df.join(seed, col(v) === col("__seedv"), "left_semi")
  }

  /** Apply prop-equality seed filters for var `v` whose columns are
    * bound in `df`; incompatible types or unbound tags are no-ops. */
  private def applyPropSeeds(df: DataFrame, v: String,
      hints: Map[String, Seq[(String, String, Any)]]): DataFrame = {
    import org.apache.spark.sql.types._
    hints.getOrElse(v, Nil).foldLeft(df) { case (d, (t, p, x)) =>
      val c = s"${v}_${t}_$p"
      val compatible = d.schema.find(_.name == c).map(_.dataType).exists {
        case StringType => x.isInstanceOf[String]
        case LongType | IntegerType | ShortType | DoubleType | FloatType =>
          x.isInstanceOf[Long] || x.isInstanceOf[Int] ||
            x.isInstanceOf[Double]
        case BooleanType => x.isInstanceOf[Boolean]
        case _ => false
      }
      if (compatible) d.filter(col(c) === lit(x)) else d
    }
  }

  private def execClauses(g: GraphCatalog, st: BState,
                          clauses: List[Clause],
                          binding0: DataFrame): DataFrame = {
    var binding = binding0
    // a WITH-bound scalar literal reused in node position is the
    // reference's ExecutionError (match/With.feature `with "1" as a
    // match (a)-[e:like]->(b)`) — a STRING value is not a VERTEX
    // EXCEPT: a NULL literal seeding an OPTIONAL clause is openCypher-
    // legal — the pattern can't match, its vars bind null (Path2 [3])
    def clauseNullSeeded(cl: Clause): Boolean =
      cl.optional && cl.parts.exists(_.nodes.exists(_.v.exists(
        st.nullLitVars.contains)))
    clauses.foreach { cl =>
      if (!clauseNullSeeded(cl))
        cl.parts.foreach(_.nodes.foreach(_.v.foreach { v =>
          if (st.scalarLitVars.contains(v))
            throw new IllegalArgumentException(
              s"ExecutionError: `$v' is not a vertex value")
        }))
    }
    // apply deferred same-relationship constraints once both sides'
    // columns are present in the combined frame
    def applyPendingEdgeEq(df0: DataFrame): DataFrame = {
      var d = df0
      val cols = d.columns.toSet
      st.pendingEdgeEq.toList.foreach { case pend @ (tmp, ev, isVl) =>
        val ready =
          if (isVl) cols(s"${tmp}__vl") && cols(s"${ev}__vl")
          else cols(s"${tmp}_src") && cols(s"${ev}_src")
        if (ready) {
          d =
            if (isVl) {
              // relationship-LIST equality is by edge IDENTITY —
              // (src, dst, type, rank), the reference's
              // Edge::operator== (src/common/datatypes/Edge.cpp) —
              // never by property values: volatile props (now()/
              // datetime() fixture cells re-evaluated per
              // materialization) must not break the same-edge
              // constraint (match/Path.feature "symmetry paths")
              def idList(c: Column): Column = transform(c,
                x => struct(x("__t"), x("__s"), x("__d"), x("__r")))
              d.filter(idList(col(s"${tmp}__vl")) ===
                  idList(col(s"${ev}__vl")))
                .drop(s"${tmp}__vl")
            }
            else
              d.filter(col(s"${tmp}_src") === col(s"${ev}_src") &&
                col(s"${tmp}_dst") === col(s"${ev}_dst") &&
                col(s"${tmp}_etype") === col(s"${ev}_etype") &&
                col(s"${tmp}_rank") === col(s"${ev}_rank"))
                .drop(d.columns.filter(_.startsWith(s"${tmp}_")): _*)
          st.pendingEdgeEq -= pend
        }
      }
      d
    }
    // MatchValidator alias parity (MatchValidator.cpp:181,241,330 +
    // match/Path.feature): the declaration map is CLAUSE-local — a
    // later MATCH clause may redeclare (reuse = same-edge constraint,
    // type-checked at bind time) but within one clause an edge or
    // path alias may be declared only once ("Redefined alias"), and a
    // node alias may not collide with an edge/path alias ("alias
    // redefined with a different type"). Per-part order mirrors
    // validatePath: nodes (merged at part end), then edges, then the
    // path alias.
    clauses.foreach { cl =>
      val kinds = scala.collection.mutable.Map.empty[String, String]
      cl.parts.foreach { part =>
        val nodeAliases = part.nodes.flatMap(_.v)
        nodeAliases.foreach { n =>
          kinds.get(n).filter(_ != "node").foreach(_ =>
            throw new IllegalArgumentException(
              s"SemanticError: `$n': alias redefined with a different type"))
        }
        part.rels.flatMap(_.v).foreach { ev =>
          if (kinds.contains(ev) || nodeAliases.contains(ev))
            throw new IllegalArgumentException(
              s"SemanticError: `$ev': Redefined alias")
          kinds(ev) = "edge"
        }
        nodeAliases.foreach(n => kinds.getOrElseUpdate(n, "node"))
        part.pathVar.foreach { pv =>
          if (kinds.contains(pv))
            throw new IllegalArgumentException(
              s"SemanticError: `$pv': Redefined alias")
          kinds(pv) = "path"
        }
      }
    }
    clauses.foreach { cl =>
      if (clauseNullSeeded(cl)) {
        // the pattern is seeded from a null value: it matches nothing;
        // bind every NEW var of the clause as NULL on the current rows
        // (openCypher OPTIONAL MATCH semantics)
        cl.parts.foreach { part =>
          part.nodes.flatMap(_.v).foreach { v =>
            if (binding == null || !binding.columns.contains(v)) {
              st.addPlain(v)
              if (binding != null)
                binding = binding.withColumn(v, lit(null).cast("string"))
            }
          }
          part.rels.flatMap(_.v).foreach { ev =>
            st.addPlain(ev)
            if (binding != null && !binding.columns.contains(ev))
              binding = binding.withColumn(ev, lit(null).cast("string"))
          }
          part.pathVar.foreach { pv =>
            st.nullPaths += pv
            st.addPlain(pv)
            if (binding != null && !binding.columns.contains(pv))
              binding = binding.withColumn(pv, lit(null).cast("string"))
          }
        }
      } else {
      val idHints = idSeedHints(cl.where)
      val colSeeds = varSeedHints(st, cl.where, binding)
      val propSeeds = propSeedHints(cl.where)
      // frame for this clause: its parts joined on shared vars
      var frame: DataFrame = null
      cl.parts.foreach { part =>
        val pf = buildPart(g, st, part, idHints, colSeeds, propSeeds,
          Seq(Option(frame), Option(binding)).flatten)
        frame =
          if (frame == null) pf
          else joinShared(st, frame, pf, joinType = "inner")
        frame = applyPendingEdgeEq(frame)
      }
      // clause-local WHERE applies before an OPTIONAL left join when
      // its refs stay inside the clause (cypher optional semantics);
      // refs to EARLIER-stage variables (WITH columns, prior vars)
      // force a post-join filter
      val (preW, postW) = cl.where.toSeq.partition(whereResolvable(st, frame, _))
      preW.foreach { w0 =>
        frame = ensureTags(g, st, frame, Seq(w0))
        val (f1, rest) = applyPatternConjuncts(g, st, frame, w0)
        frame = f1
        rest.foreach { w =>
          val (f2, w2) = preparePatternExprs(g, st, frame, Seq(w),
            bool = true, render = false)
          frame = truthyFilter(f2, w2.head, resolver(st, f2))
        }
      }
      binding =
        if (binding == null) frame
        else joinShared(st, binding, frame,
          joinType = if (cl.optional) "left_outer" else "inner")
      binding = applyPendingEdgeEq(binding)
      postW.foreach { w0 =>
        binding = ensureTags(g, st, binding, Seq(w0))
        val (b1, rest) = applyPatternConjuncts(g, st, binding, w0)
        binding = b1
        rest.foreach { w =>
          val (b2, w2) = preparePatternExprs(g, st, binding, Seq(w),
            bool = true, render = false)
          binding = truthyFilter(b2, w2.head, resolver(st, b2))
        }
      }
      }
    }
    binding
  }

  /** Can `w` be evaluated against `frame` alone? Every leaf reference
    * must land on one of the frame's columns. */
  private def whereResolvable(st: BState, frame: DataFrame, w: Expr.E): Boolean = {
    val cols = frame.columns.toSet
    var ok = true
    Expr.collect(w) {
      case Expr.Ref(List(ev, _)) if st.edgeVars.contains(ev) =>
        if (!cols(s"${ev}_src")) ok = false
      case Expr.Ref(List(n)) =>
        if (!cols(n)) ok = false
      case Expr.Ref(List(v, _, _)) =>
        if (!cols(v)) ok = false
      // a pattern expression's anchors are its named aliases
      case Expr.PatternE(part) =>
        (part.nodes.flatMap(_.v) ++ part.rels.flatMap(_.v)).foreach { a =>
          if (!cols(a) && !cols(s"${a}_src") && !cols(s"${a}__vl"))
            ok = false
        }
    }
    ok
  }

  /** WITH projection: the binding becomes the projected frame; bare
    * node/edge variable items survive AS variables (re-seekable tags,
    * renderable at RETURN), everything else becomes a plain column. */
  private def applyWith(g: GraphCatalog, st: BState, binding0: DataFrame,
                        w0: Proj): (DataFrame, BState) = {
    var binding = ensureTags(g, st, binding0,
      w0.items.map(_.e) ++ w0.where.toList ++ w0.orderBy.map(_._1))
    // pattern-expression items become prepared rollup columns first
    val (bP, itemEs) = preparePatternExprs(g, st, binding,
      w0.items.map(_.e), bool = false, render = false)
    binding = bP
    val w = w0.copy(items = w0.items.zip(itemEs).map {
      case (i, e2) => i.copy(e = e2)
    })
    val res = resolver(st, binding)
    val st2 = new BState(g)
    st2.anon = st.anon

    if (w.star) {
      // WITH * keeps the whole binding; extra items append columns
      st.declOrder.foreach { n =>
        if (st.vertexVars.contains(n)) st2.addVertex(n)
        else if (st.edgeVars.contains(n)) st2.addEdge(n)
        else st2.addPlain(n)
      }
      w.items.foreach { i =>
        binding = binding.withColumn(i.alias, Expr.compile(i.e, res))
        st2.addPlain(i.alias)
        if (i.e.isInstanceOf[Expr.Lit]) st2.scalarLitVars += i.alias
        if (i.e == Expr.Lit(null)) st2.nullLitVars += i.alias
      }
      st2.boundTags ++= st.boundTags
      st2.scalarLitVars ++= st.scalarLitVars
      st2.nullLitVars ++= st.nullLitVars
    } else {
      // per-item column plan — (column, output name) pairs so the
      // aggregate branch can restore ITEM order after groupBy/agg
      // (RETURN * emits WITH-item order, not keys-then-aggs)
      val hasAgg = w.items.exists(i => Expr.hasAgg(i.e))
      def itemCols(i: Item): Seq[(Column, String)] = i.e match {
        case Expr.Ref(List(v)) if st.vertexVars.contains(v) =>
          st2.addVertex(i.alias)
          Seq(col(v).as(i.alias) -> i.alias)
        case Expr.Ref(List(ev)) if st.edgeVars.contains(ev) =>
          st2.addEdge(i.alias)
          binding.columns.filter(_.startsWith(s"${ev}_")).toSeq
            .map { c2 =>
              val n2 = i.alias + c2.stripPrefix(ev)
              col(c2).as(n2) -> n2
            }
        // a var-length edge var stays an EdgeList through WITH: a
        // later `-[e]->` single-edge reuse is the reference's
        // Edge-vs-EdgeList SemanticError, and `[x in e | ...]` keeps
        // reading the raw structs (PathExpr alias-type scenarios)
        case Expr.Ref(List(ev)) if st.vlEdgeVars.contains(ev) =>
          st2.addVlEdge(i.alias)
          Seq(col(s"${ev}__vl").as(i.alias + "__vl") -> (i.alias + "__vl"))
        // `WITH p` projects the rendered path plus a hidden hop-count
        // twin so a later length(p) still answers in hops, not
        // characters (match/Unwind `WITH p, size(collect(...))`)
        case Expr.Ref(List(pv)) if st.pathVars.contains(pv) =>
          st2.addPlain(i.alias)
          val lenC =
            try Some(Expr.compile(
              Expr.FnCall("length", List(Expr.Ref(List(pv)))), res))
            catch { case _: Exception => None }
          lenC match {
            case Some(lc) =>
              st2.pathLenCols += i.alias
              Seq(Expr.compile(i.e, res).as(i.alias) -> i.alias,
                lc.as(i.alias + "__plen") -> (i.alias + "__plen"))
            case None =>
              Seq(Expr.compile(i.e, res).as(i.alias) -> i.alias)
          }
        // `WITH nodes(p) AS ns` keeps the RAW vid list (a node-list
        // column): lambdas read ids, RETURN renders element-wise,
        // and later clauses may reuse elements in node position
        // (bugfix/AliasTypeDeduce)
        case Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _)
            if st.spPaths.contains(pv) =>
          st2.addPlain(i.alias); st2.nodeListCols += i.alias
          Seq(col(s"${pv}__spvids").as(i.alias) -> i.alias)
        case Expr.FnCall("nodes", List(Expr.Ref(List(pv))), _)
            if st.pathVars.get(pv).exists(!_.varLength) =>
          st2.addPlain(i.alias); st2.nodeListCols += i.alias
          Seq(array(st.pathVars(pv).nodes.map(col): _*).as(i.alias)
            -> i.alias)
        case Expr.FnCall("relationships", List(Expr.Ref(List(pv))), _)
            if st.pathVars.contains(pv) =>
          // `WITH relationships(p) AS e` binds e as a relationship
          // LIST: keep the raw edge STRUCTS (`e__vl`, the var-length
          // edge-var convention) so `e[i].prop` reads props and a
          // later `[e:type*m..n]` re-use joins on list identity
          // (NullProp / MatchJoinOnEdge features); rendering happens
          // at RETURN like any vlEdgeVar
          val info = st.pathVars(pv)
          val special = (ev: String) => Set(s"${ev}_src", s"${ev}_dst",
            s"${ev}_rank", s"${ev}_etype")
          val twin: Option[Column] =
            if (info.rels.nonEmpty &&
                info.rels.forall(ev => st.edgeVars.contains(ev)))
              Some(array(info.rels.map { ev =>
                val props = binding.columns.filter(c2 =>
                  c2.startsWith(s"${ev}_") && !special(ev).contains(c2))
                struct(col(s"${ev}_etype").as("__t") +:
                  col(s"${ev}_src").as("__s") +:
                  col(s"${ev}_dst").as("__d") +:
                  col(s"${ev}_rank").as("__r") +:
                  props.toSeq.map(c2 =>
                    col(c2).as(c2.stripPrefix(s"${ev}_"))): _*)
              }: _*))
            else if (info.rels.size == 1 &&
                st.vlEdgeVars.contains(info.rels.head))
              Some(col(s"${info.rels.head}__vl"))
            else None
          twin match {
            case Some(tc) =>
              st2.addVlEdge(i.alias)
              Seq(tc.as(i.alias + "__vl") -> (i.alias + "__vl"))
            case None =>
              st2.addPlain(i.alias)
              Seq(Expr.compile(i.e, res).as(i.alias) -> i.alias)
          }
        // `WITH endNode(e) AS x` binds x as a VERTEX var (raw endpoint
        // vid; later x.tag.prop joins the tag on demand via ensureTags
        // — PushFilterDownAggregateRule `endNode(e0) as pi1`)
        case Expr.FnCall(fn2 @ ("startnode" | "endnode"),
            List(Expr.Ref(List(ev))), _) if st.edgeVars.contains(ev) =>
          st2.addVertex(i.alias)
          val f = if (fn2 == "startnode") "src" else "dst"
          Seq(col(s"${ev}_$f").as(i.alias) -> i.alias)
        case e2 =>
          st2.addPlain(i.alias)
          e2 match {
            case Expr.Lit(_) => st2.scalarLitVars += i.alias
            case Expr.ListLit(items)
                if items.forall(_.isInstanceOf[Expr.Lit]) =>
              st2.scalarLitVars += i.alias
            case Expr.Ref(List(v)) if st.scalarLitVars.contains(v) =>
              st2.scalarLitVars += i.alias
            case _ => ()
          }
          e2 match {
            case Expr.Lit(null) => st2.nullLitVars += i.alias
            case Expr.Ref(List(v)) if st.nullLitVars.contains(v) =>
              st2.nullLitVars += i.alias
            case _ => ()
          }
          Seq(Expr.compile(e2, res).as(i.alias) -> i.alias)
      }
      if (!hasAgg)
        binding = binding.select(w.items.flatMap(itemCols).map(_._1): _*)
      else {
        // iterate ITEMS IN ORDER so st2's declOrder (and the final
        // column order) follow the WITH text, not keys-then-aggs
        val keyCols = scala.collection.mutable.ListBuffer.empty[Column]
        val aggCols = scala.collection.mutable.ListBuffer.empty[Column]
        val outNames = scala.collection.mutable.ListBuffer.empty[String]
        w.items.foreach { i =>
          if (!Expr.hasAgg(i.e)) {
            val cs = itemCols(i)
            keyCols ++= cs.map(_._1); outNames ++= cs.map(_._2)
          } else {
            st2.addPlain(i.alias)
            i.e match {
              case Expr.FnCall("collect" | "collect_set",
                  List(Expr.Ref(List(v))), _) if st.vertexVars.contains(v) =>
                st2.nodeListCols += i.alias
              case _ => ()
            }
            aggCols += Expr.compile(Gql.firstWrapNonAgg(i.e), res)
              .as(i.alias)
            outNames += i.alias
          }
        }
        binding =
          if (keyCols.isEmpty) binding.agg(aggCols.head, aggCols.tail.toSeq: _*)
          else binding.groupBy(keyCols.toSeq: _*)
            .agg(aggCols.head, aggCols.tail.toSeq: _*)
        binding = binding.select(outNames.toSeq.map(col): _*)
      }
    }
    if (w.distinct) binding = binding.distinct()
    w.where.foreach { pred =>
      binding = ensureTags(g, st2, binding, Seq(pred))
      val (b2, p2) = preparePatternExprs(g, st2, binding, Seq(pred),
        bool = true, render = false)
      binding = b2
      binding = truthyFilter(binding, p2.head, resolver(st2, binding))
    }
    if (w.orderBy.nonEmpty) binding = binding.orderBy(orderKeys(w.orderBy): _*)
    if (w.skip > 0) binding = binding.offset(w.skip)
    if (w.limit >= 0) binding = binding.limit(w.limit)
    (binding, st2)
  }

  private def orderKeys(keys: Seq[(Expr.E, Boolean)]): Seq[Column] =
    // a CONSTANT sort key (a literal or bound session param — `ORDER
    // BY v, $p3`) orders nothing; drop it rather than resolve it as a
    // column (yield/parameter.feature param-test-004)
    keys.filter { case (e2, _) => Expr.tryConst(e2).isEmpty }
      .map { case (e2, desc) =>
      val c = Gql.colByName(e2 match {
        case Expr.Ref(List(one)) => one
        case other => Expr.text(other)
      })
      // NULL is the largest value (OrderByExecutor comparator):
      // last in ASC, first in DESC
      if (desc) c.desc_nulls_first else c.asc_nulls_last
    }

  private def applyReturn(g: GraphCatalog, st: BState, binding0: DataFrame,
                          ret0: Proj): DataFrame = {
    // lazy tag joins for RETURN / ORDER BY refs
    var binding = ensureTags(g, st, binding0,
      ret0.items.map(_.e) ++ ret0.orderBy.map(_._1))
    val (bP, itemEs) = preparePatternExprs(g, st, binding,
      ret0.items.map(_.e), bool = false, render = true)
    binding = bP
    val ret = ret0.copy(items = ret0.items.zip(itemEs).map {
      case (i, e2) => i.copy(e = e2)
    })
    val res = resolver(st, binding, render = true)

    val strVid = st.vertexVars.headOption.exists(v =>
      binding.schema(v).dataType == org.apache.spark.sql.types.StringType)
    // whole-var RETURN items render in the reference serialization
    def compiled(it: Item): Column = it.e match {
      case Expr.Ref(List(v)) if st.vertexVars.contains(v) && !v.startsWith("__") =>
        Gql.renderNode(col(v), strVid).as(it.alias)
      case Expr.Ref(List(ev)) if st.edgeVars.contains(ev) =>
        Gql.renderEdge(col(s"${ev}_etype"), col(s"${ev}_src"),
          col(s"${ev}_dst"), col(s"${ev}_rank"), strVid).as(it.alias)
      case Expr.Ref(List(n)) if st.nodeListCols.contains(n) =>
        // a WITH-collected node list renders element-wise for display
        val elemStr = binding.schema(n).dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, _) => true
          case _ => false
        }
        transform(col(n), x => Gql.renderNode(x, elemStr)).as(it.alias)
      case e2 => Expr.compile(e2, res).as(it.alias)
    }

    // Attribute deref over a non-map/non-struct value: the reference
    // evaluates to a typed null (BAD_TYPE; a NULL base propagates
    // NULL) while Spark rejects the extraction at ANALYSIS — probe
    // each deref-bearing item and substitute the typed-null column
    // (`exists(m.abc)` over a list — match/With.feature;
    // `v.player.name.test` over a string — expression/Attribute)
    def derefBases(e: Expr.E): Seq[Expr.E] = {
      val b = Seq.newBuilder[Expr.E]
      Expr.collect(e) {
        case Expr.Attr(x, _) => b += x
        case Expr.Ref(parts) if parts.size > 1 =>
          b += Expr.Ref(parts.dropRight(1))
      }
      b.result()
    }
    def compiledSafe(it: Item): Column = {
      val c2 = compiled(it)
      val bases = derefBases(it.e)
      if (bases.isEmpty) c2
      else try { binding.select(c2); c2 }
      catch {
        case ae: org.apache.spark.sql.AnalysisException =>
          if (sys.env.contains("SPARK_GRAFT_TCK_DEBUG"))
            System.err.println(s"[deref-probe] ${it.alias}: ${ae.getMessage.take(300)}")
          // substitute a typed null ONLY when a deref base provably
          // resolves to a non-complex type (string/array/numeric →
          // BAD_TYPE; NULL literal → NULL); otherwise the failure is
          // something else — rethrow (reduce() lambdas, etc.)
          val baseTypes = bases.flatMap { b =>
            try Some(binding.select(Expr.compile(b, res).as("__p"))
              .schema.head.dataType)
            catch { case _: Exception => None }
          }
          import org.apache.spark.sql.types._
          if (baseTypes.contains(NullType)) lit(null).as(it.alias)
          else if (baseTypes.exists {
            case _: StructType | _: MapType => false
            case _ => true
          }) lit(graft.functions.ErrVal.BadType).as(it.alias)
          else throw ae
      }
    }

    val starItems: Seq[Item] =
      if (ret.star)
        st.declOrder.toSeq.filterNot(_.startsWith("__"))
          .map(v => Item(Expr.Ref(List(v)), v))
      else Seq.empty
    val items = starItems ++ ret.items
    require(items.nonEmpty, "RETURN needs items")

    val hasAgg = items.exists(i => Expr.hasAgg(i.e))
    // EMPTY (tag not bound on the row) sorts SMALLEST while NULL
    // sorts LARGEST (Value.h type order: __EMPTY__=1, NULLVALUE=2^63).
    // At an ORDER BY+LIMIT cut the distinction decides membership, so
    // vertex-prop sort keys get a hidden (rank, value) twin computed
    // from the binding's __lbl_ markers (PrunePropertiesRule.feature).
    val cutP = ret.skip > 0 || ret.limit >= 0
    val ordTwins: Map[String, Column] =
      if (!cutP || hasAgg || ret.distinct || ret.orderBy.isEmpty) Map.empty
      else {
        val bcols = binding.columns.toSet
        def twin(v: String, contributingTags: Seq[String],
                 value: Column): Column = {
          val marks = contributingTags.map(t => s"__lbl_${v}_$t")
            .filter(bcols).map(col)
          val bound =
            if (marks.isEmpty) lit(true)
            else marks.reduce(_ || _)
          struct(when(!coalesce(bound, lit(false)), 0)
            .when(value.isNull, 2).otherwise(1).as("r"), value.as("v"))
        }
        ret.orderBy.flatMap { case (k, _) =>
          val alias = k match {
            case Expr.Ref(List(a)) => Some(a)
            case other => Some(Expr.text(other))
          }
          alias.flatMap(a => items.find(_.alias == a)).flatMap { it =>
            it.e match {
              case Expr.Ref(List(v, t, prop2))
                  if st.vertexVars.contains(v) =>
                Some(it.alias -> twin(v, Seq(t),
                  Expr.compile(it.e, res)))
              case Expr.Attr(Expr.FnCall("properties",
                  List(Expr.Ref(List(v))), _), prop2)
                  if st.vertexVars.contains(v) =>
                val tags2 = st.tags.sorted.filter(t =>
                  bcols(s"${v}_${t}_$prop2"))
                Some(it.alias -> twin(v, tags2, Expr.compile(it.e, res)))
              case _ => None
            }
          }
        }.toMap
      }
    var out =
      if (!hasAgg) binding.select(items.map(compiledSafe) ++
        ordTwins.toSeq.map { case (a, c2) => c2.as(s"__ord_$a") }: _*)
      else {
        val keys = items.filter(i => !Expr.hasAgg(i.e))
        val aggs = items.filter(i => Expr.hasAgg(i.e))
          .map(i => Expr.compile(Gql.firstWrapNonAgg(i.e), res).as(i.alias))
        val grouped =
          if (keys.isEmpty) binding.agg(aggs.head, aggs.tail: _*)
          else binding.groupBy(keys.map(compiled): _*).agg(aggs.head, aggs.tail: _*)
        grouped.select(items.map(i => Gql.colByName(i.alias)): _*)
      }
    if (ret.distinct) out = out.distinct()
    ret.where.foreach(pred =>
      out = out.filter(Expr.compile(pred, resolver(st, out))))
    if (ret.orderBy.nonEmpty) {
      // a LIMIT/SKIP cut after ORDER BY resolves sort-key ties by the
      // remaining (orderable) output columns ascending — a
      // deterministic pick where the reference's is storage-defined
      val cut = ret.skip > 0 || ret.limit >= 0
      // constant keys (session params) order nothing — drop them
      val keys = ret.orderBy.filter { case (e2, _) =>
        Expr.tryConst(e2).isEmpty
      }.map { case (e2, desc) =>
        val name = e2 match {
          case Expr.Ref(List(one)) => one
          case other => Expr.text(other)
        }
        val c =
          if (ordTwins.contains(name)) Gql.colByName(s"__ord_$name")
          else Gql.colByName(name)
        if (desc) c.desc_nulls_first else c.asc_nulls_last
      }
      val ties =
        if (!cut) Nil
        else out.schema.fields.toSeq.filter(f =>
          !f.name.startsWith("__") && Gql.orderableType(f.dataType))
          .map(f => Gql.colByName(f.name).asc_nulls_last)
      out = out.orderBy(keys ++ ties: _*)
    }
    if (ret.skip > 0) out = out.offset(ret.skip)
    if (ret.limit >= 0) out = out.limit(ret.limit)
    if (ordTwins.nonEmpty)
      out = out.drop(ordTwins.keys.toSeq.map(a => s"__ord_$a"): _*)
    out
  }

  /** Join two frames on their shared VERTEX-VARIABLE columns;
    * cartesian when disjoint (SegmentsConnector cartesianProduct).
    * Other columns both sides carry (duplicate tag-prop bindings,
    * edge-var columns) are dropped from the right pre-join.
    *
    * Edge uniqueness does NOT span the joined frames: the reference
    * scopes it to one pattern PART/path (MultiQueryParts.feature
    * goldens reuse an edge across comma parts), so the right side's
    * trail is simply dropped. */
  private def joinShared(st: BState, l: DataFrame, r: DataFrame,
                         joinType: String): DataFrame = {
    val r1 = r.drop("__trail")
    val shared = r1.columns.filter(c =>
      l.columns.contains(c) && st.vertexVars.contains(c)).toSeq
    val dups = r1.columns.filter(c =>
      l.columns.contains(c) && !shared.contains(c))
    val rr = dups.foldLeft(r1)((d, c) => d.drop(c))
    if (shared.isEmpty) {
      if (joinType == "inner") l.crossJoin(rr)
      else {
        // OPTIONAL MATCH with no shared aliases: every left row pairs
        // with every right match, null-padded when the right side is
        // empty (MultiQueryParts.feature). Constant-key outer join =
        // cross-with-null-padding; the right side of an OPTIONAL
        // pattern is a single pattern part, same blowup class as the
        // inner crossJoin above.
        l.withColumn("__optk", lit(1))
          .join(rr.withColumn("__optk", lit(1)), Seq("__optk"),
            "left_outer")
          .drop("__optk")
      }
    } else l.join(rr, shared, joinType)
  }
}
