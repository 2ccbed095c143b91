package graft.tck

import org.apache.spark.sql.DataFrame
import graft.graph.GraphCatalog
import graft.nql.Gql

/** Mini TCK runner (SURVEY.md §5 port plan): parses the reference's
  * Gherkin `.feature` files (`tests/tck/features/`), executes every
  * `When executing query` whose sentence our nGQL subset parses, and
  * compares against the scenario's golden table with the corpus's
  * "in any order, with relax comparison" mode
  * (tests/tck/conftest.py:565-689).
  *
  * Scenarios whose query text doesn't parse (pipes on `$-.*`, MATCH,
  * multi-edge OVER, ...) are reported as skipped, not failed — the
  * runner's contract is: everything it CAN run must match the golden.
  */
object TckRunner {

  /** `hashedCols` — golden columns recorded as plain strings that the
    * engine returns as int-vid hashes ("and the columns N should be
    * hashed", conftest.py:553 `hash_columns`: the EXPECTED cell is
    * murmur-hashed before compare). */
  case class Case(query: String, golden: Seq[Seq[String]],
                  hashedCols: Set[Int] = Set.empty)
  /** `skipped` = the parser rejected the sentence (unsupported
    * language surface). `errored` = the sentence PARSED but execution
    * threw — a supported-surface regression, surfaced in `ok` so it
    * cannot hide as a skip. */
  /** `diverged` = steps of upstream-@skip scenarios whose goldens are
    * adjudicated wrong in [[Divergences]]; executed and pinned to our
    * adjudicated result, but deliberately not counted as `passed`. */
  case class Report(executed: Int, passed: Int, skipped: Int,
                    failures: Seq[(String, String)],
                    errors: Seq[(String, String)] = Seq.empty,
                    diverged: Int = 0,
                    skips: Seq[(String, String)] = Seq.empty) {
    def errored: Int = errors.size
    def ok: Boolean = failures.isEmpty && errors.isEmpty
  }

  // ---------- scenario model ----------
  /** One Gherkin step the runner understands. */
  sealed trait SStep
  /** `Given/And having executed:` — setup DDL/DML; must succeed. */
  case class SExec(script: String) extends SStep
  /** `And wait N seconds` — only meaningful when the scenario's space
    * has live TTL schemas (expiry is wall-clock); cluster-convergence
    * waits are skipped. */
  case class SWait(seconds: Int) extends SStep
  /** `When clone a new space according to current space`
    * (conftest.py:490) — subsequent steps run in a schema-only clone
    * (CREATE SPACE AS semantics: schema copied, data not). */
  case object SCloneSpace extends SStep
  /** `When [try to] executing query:` + its Then expectation. */
  case class SQuery(query: String, expect: Expect,
                    tryMode: Boolean) extends SStep
  sealed trait Expect
  /** `subset` — `Then the result should contain`: every golden row
    * must appear in the result, extra result rows are allowed. */
  case class ETable(golden: Seq[Seq[String]], hashed: Set[Int],
                    subset: Boolean = false) extends Expect
  case object ESuccess extends Expect
  /** `Then a XxxError should be raised` — the reference rejects this
    * statement; our engine should too (or the scenario diverges).
    * `kind` is the golden's error class word (SyntaxError /
    * SemanticError / ExecutionError / ...): for SyntaxError a parse
    * reject on our side is the matching behavior; for the others a
    * parse reject means we didn't understand the sentence at all →
    * counted as a skip, not a pass. */
  case class EError(kind: String) extends Expect

  /** One scenario: its space binding plus ordered steps. `ownSpace` =
    * the scenario creates its own space (`Given an empty graph`). */
  case class TckScenario(skip: Boolean, fixtureSpace: Option[String],
                         ownSpace: Boolean, vidInt: Boolean,
                         steps: Vector[SStep],
                         /** `Given load "X" csv data to a new space` —
                           * fixture data in a scenario-local space
                           * (mutations expected; always clone). */
                         fresh: Boolean = false,
                         /** `vid_type FIXED_STRING(N)` length cap. */
                         vidLen: Option[Int] = None,
                         /** `name` row of the create-space options
                           * table — registered so CLEAR/DESC SPACE
                           * see it (ClearSpace.feature). */
                         spaceName: Option[String] = None,
                         /** `Given parameters:` map (name → nGQL
                           * literal text) — resolved by the ENGINE's
                           * parser (ParamLit), not by textual
                           * substitution, so vid-position parameters
                           * reject like the reference. */
                         params: Map[String, String] = Map.empty)

  private val spaceGivenRe = "Given a graph with space named \"([^\"]+)\"".r
  private val spaceLoadRe =
    "(?:Given|And) load \"([^\"]+)\" csv data to a new space".r

  /** Parse feature text into scenarios. Background steps are
    * replicated into every scenario. Scenario Outlines are expanded:
    * each `Examples:` data row yields one scenario with its `<param>`
    * placeholders substituted (conftest.py outline semantics), so
    * `<space_name>`-parameterized features bind to every listed
    * fixture space (nba AND nba_int_vid), not a hand-picked one. */
  def parseScenarios(text: String, defaultSpace: String): Seq[TckScenario] = {

    def queryBlock(lines: Vector[String], from: Int): Option[(String, Int)] = {
      val start = lines.indexWhere(_.trim == "\"\"\"", from)
      val end = if (start < 0) -1 else lines.indexWhere(_.trim == "\"\"\"", start + 1)
      if (start > 0 && end > start)
        Some((lines.slice(start + 1, end).map(_.trim).mkString(" "), end + 1))
      else None
    }

    // parse one section (Background or a Scenario body) into steps
    case class Section(steps: Vector[SStep], fixtureSpace: Option[String],
                       ownSpace: Boolean, vidInt: Option[Boolean],
                       fresh: Boolean, params: Map[String, String],
                       vidLen: Option[Int], spaceName: Option[String])
    def parseSection(lines: Vector[String]): Section = {
      val from = 0; val until = lines.length
      val steps = scala.collection.mutable.ListBuffer.empty[SStep]
      var fixtureSpace: Option[String] = None
      var ownSpace = false
      var vidInt: Option[Boolean] = None
      var fresh = false
      var params = Map.empty[String, String]
      var vidLen: Option[Int] = None
      var spaceName: Option[String] = None
      var i = from
      while (i < until) {
        val t = lines(i).trim
        paramsRe.findFirstMatchIn(t).foreach { mm =>
          params = params ++ parseParams(mm.group(1))
        }
        // openCypher table form:
        //   And parameters are:
        //     | from | 1 |
        if (t == "And parameters are:" || t == "Given parameters are:") {
          var k = i + 1
          while (k < until && lines(k).trim.startsWith("|")) {
            val cells = lines(k).trim.stripPrefix("|").stripSuffix("|")
              .split("\\|").map(_.trim)
            if (cells.length >= 2 && cells(0).nonEmpty)
              params += cells(0) -> cells(1)
            k += 1
          }
          i = k - 1
        }
        spaceGivenRe.findFirstMatchIn(t).foreach { mm =>
          fixtureSpace = Some(mm.group(1))
          if (mm.group(1).toLowerCase.contains("int_vid")) vidInt = Some(true)
        }
        spaceLoadRe.findFirstMatchIn(t).foreach { mm =>
          fixtureSpace = Some(mm.group(1))
          fresh = true
          if (mm.group(1).toLowerCase.contains("int_vid")) vidInt = Some(true)
        }
        if (t.startsWith("Given an empty graph")) ownSpace = true
        if (t.startsWith("And create a space") ||
            t.startsWith("Given create a space")) {
          ownSpace = true
          // option table follows: | vid_type | FIXED_STRING(20) / int |
          var k = i + 1
          while (k < until && lines(k).trim.startsWith("|")) {
            val cells = lines(k).trim.stripPrefix("|").stripSuffix("|")
              .split("\\|").map(_.trim)
            if (cells.headOption.contains("name"))
              spaceName = cells.lift(1)
            if (cells.headOption.contains("vid_type")) {
              vidInt = Some(cells.lift(1).exists(_.toLowerCase.startsWith("int")))
              vidLen = cells.lift(1).flatMap(v2 =>
                "FIXED_STRING\\((\\d+)\\)".r.findFirstMatchIn(v2)
                  .map(_.group(1).toInt))
            }
            k += 1
          }
          i = k - 1
        }
        "(?:And|Given|Then) wait (\\d+) seconds".r.findFirstMatchIn(t)
          .foreach(m => steps += SWait(m.group(1).toInt))
        if (t == "When clone a new space according to current space")
          steps += SCloneSpace
        if (t == "Given having executed:" || t == "And having executed:" ||
            t == "Given having executed" || t == "And having executed") {
          queryBlock(lines, i) match {
            case Some((q, next)) => steps += SExec(q); i = next - 1
            case None => ()
          }
        }
        // "and retrying it on failure every N seconds" is a cluster-
        // convergence retry — irrelevant here, same step semantics
        if (t.startsWith("When executing query") ||
            t == "When profiling query:" ||
            t == "When submit a job:" || // REBUILD INDEX job blocks
            t.startsWith("When try to execute query")) {
          val tryMode = t.startsWith("When try")
          queryBlock(lines, i) match {
            case Some((q, next)) =>
              var j = next
              // a `# comment` line may sit between the query block and
              // its Then (Ddl.feature's upstream-issue note) — skip it
              // like blank lines or the Then is silently missed
              while (j < until && (lines(j).trim.isEmpty ||
                  lines(j).trim.startsWith("#"))) j += 1
              val thenLine = if (j < until) lines(j).trim else ""
              if (thenLine.startsWith("Then the result should be") ||
                  thenLine.startsWith("Then the result should contain")) {
                val subset =
                  thenLine.startsWith("Then the result should contain")
                val hashedRe = "columns ([0-9, ]+) should be hashed".r
                val hashed = hashedRe.findFirstMatchIn(thenLine).map(m =>
                  m.group(1).split(",").map(_.trim.toInt).toSet)
                  .getOrElse(Set.empty[Int])
                var k = j + 1
                val rows = scala.collection.mutable.ListBuffer.empty[Seq[String]]
                while (k < until && lines(k).trim.startsWith("|")) {
                  rows += lines(k).trim.stripPrefix("|").stripSuffix("|")
                    .split("\\|").toSeq.map(_.trim)
                  k += 1
                }
                // header row dropped; empty golden = assert 0 rows
                steps += SQuery(q,
                  ETable(rows.toSeq.drop(1), hashed, subset), tryMode)
                i = k - 1
              } else if (thenLine.startsWith("Then the execution should be successful")) {
                steps += SQuery(q, ESuccess, tryMode)
                i = j
              } else if (thenLine.matches("Then an? \\w*(Error|error).*")) {
                val kind = "an? (\\w*[Ee]rror)".r.findFirstMatchIn(thenLine)
                  .map(_.group(1)).getOrElse("Error")
                steps += SQuery(q, EError(kind), tryMode)
                i = j
              } else {
                // no recognized Then: execute for effect only
                steps += SQuery(q, ESuccess, tryMode = true)
                i = next - 1
              }
            case None => ()
          }
        }
        i += 1
      }
      Section(steps.toVector, fixtureSpace, ownSpace, vidInt, fresh, params,
        vidLen, spaceName)
    }

    /** Substitute `$param` references from a `Given parameters:` map
      * into a step's query text. */
    def applyParams(step: SStep, params: Map[String, String]): SStep =
      if (params.isEmpty) step
      else {
        def sub(q: String): String = params.foldLeft(q) { case (s, (k, v)) =>
          s.replaceAll("\\$" + java.util.regex.Pattern.quote(k) + "\\b",
            scala.util.matching.Regex.quoteReplacement(v))
        }
        step match {
          case SExec(s) => SExec(sub(s))
          case SQuery(q, e, t) => SQuery(sub(q), e, t)
          case other => other
        }
      }

    /** Strip every `Examples:` block out of a line slice, returning
      * the remaining lines plus the collected (header, row) pairs. */
    def stripExamples(body: Vector[String])
        : (Vector[String], Seq[(Seq[String], Seq[String])]) = {
      val kept = Vector.newBuilder[String]
      val rows = Seq.newBuilder[(Seq[String], Seq[String])]
      var i = 0
      while (i < body.length) {
        if (body(i).trim.matches("Examples:.*")) {
          var k = i + 1
          while (k < body.length && body(k).trim.isEmpty) k += 1
          val table = scala.collection.mutable.ListBuffer.empty[Seq[String]]
          while (k < body.length && body(k).trim.startsWith("|")) {
            table += body(k).trim.stripPrefix("|").stripSuffix("|")
              .split("\\|", -1).toSeq.map(_.trim)
            k += 1
          }
          table.toList match {
            case header :: data => data.foreach(r => rows += header -> r)
            case Nil => ()
          }
          i = k
        } else { kept += body(i); i += 1 }
      }
      (kept.result(), rows.result())
    }

    def substitute(ls: Vector[String], header: Seq[String],
                   row: Seq[String]): Vector[String] =
      ls.map { line =>
        header.zip(row).foldLeft(line) { case (l, (k, v)) =>
          l.replace(s"<$k>", v)
        }
      }

    // split into feature header + Background + Scenario sections
    val lines = text.linesIterator.toVector
    val marks = lines.zipWithIndex.collect {
      case (l, i) if l.trim.startsWith("Scenario") => i
    }
    val bgEnd = marks.headOption.getOrElse(lines.length)
    val bgStart = lines.indexWhere(_.trim.startsWith("Background"))
    val headerEnd = if (bgStart >= 0 && bgStart < bgEnd) bgStart else bgEnd
    // feature-level Examples (above Background) parameterize every
    // Scenario Outline that has no Examples of its own — including
    // `<param>`s inside the Background itself (MatchReturnEmptyTag)
    val (_, featureRows) = stripExamples(lines.slice(0, headerEnd))
    val bgLines = lines.slice(headerEnd, bgEnd)
    marks.zipWithIndex.flatMap { case (start, mi) =>
      val end = marks.lift(mi + 1).getOrElse(lines.length)
      // the @skip tag may be separated from the Scenario line by
      // comment lines (`@skip` / `# issue link` / `Scenario:`)
      val skip = {
        var j = start - 1
        while (j >= 0 && lines(j).trim.startsWith("#")) j -= 1
        j >= 0 && lines(j).trim.startsWith("@skip")
      }
      val isOutline = lines(start).trim.startsWith("Scenario Outline")
      val rawBody = lines.slice(start + 1, end)
      // feature-level Examples also parameterize PLAIN scenarios when
      // the Background (or the scenario) uses a placeholder — conftest
      // runs `<space_name>` features once per row (nba AND
      // nba_int_vid), not nba-only (round-5 verdict #3)
      val featureParamUsed = featureRows.headOption.exists {
        case (hdr, _) => hdr.exists(h =>
          (bgLines ++ rawBody).exists(_.contains(s"<$h>")))
      }
      val bodies: Seq[(Vector[String], Vector[String])] =
        if (!isOutline && featureParamUsed)
          featureRows.map { case (h, r) =>
            (substitute(bgLines, h, r), substitute(rawBody, h, r))
          }
        else if (!isOutline) Seq((bgLines, rawBody))
        else {
          val (tmpl, localRows) = stripExamples(rawBody)
          val rows = if (localRows.nonEmpty) localRows else featureRows
          if (rows.isEmpty) Seq((bgLines, tmpl))
          else rows.map { case (h, r) =>
            (substitute(bgLines, h, r), substitute(tmpl, h, r))
          }
        }
      bodies.map { case (bgl, body) =>
        val bg = parseSection(bgl)
        val sec = parseSection(body)
        val params = bg.params ++ sec.params
        // a scenario-level `Given an empty graph` / `Given a graph with
        // space named` RESETS the space: the background's setup does
        // not apply (conftest semantics — Given re-binds the space)
        val resets = sec.ownSpace || sec.fixtureSpace.isDefined
        if (resets)
          TckScenario(skip, sec.fixtureSpace, sec.ownSpace,
            sec.vidInt.getOrElse(false),
            sec.steps, fresh = sec.fresh,
            vidLen = sec.vidLen, spaceName = sec.spaceName,
            params = params)
        else
          TckScenario(
            skip = skip,
            fixtureSpace = bg.fixtureSpace
              .orElse(if (bg.ownSpace) None else Some(defaultSpace)),
            ownSpace = bg.ownSpace,
            vidInt = bg.vidInt.getOrElse(false),
            steps = bg.steps ++ sec.steps,
            fresh = bg.fresh,
            vidLen = bg.vidLen.orElse(sec.vidLen),
            spaceName = bg.spaceName.orElse(sec.spaceName),
            params = params)
      }
    }
  }

  private val paramsRe = "(?:Given|And) parameters: (\\{.*\\})".r

  /** Parse a `Given parameters: {"p1":"Tim Duncan","p2":3}` map into
    * name → nGQL literal text (strings re-quoted, scalars verbatim,
    * lists/objects captured balanced so nested values substitute as
    * map literals — the quoted-key map form parses downstream). */
  private[tck] def parseParams(json: String): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = json.indexOf('{') + 1
    def skipWs(): Unit =
      while (i < json.length && json(i).isWhitespace) i += 1
    def scanString(): String = {
      val st = i; i += 1
      while (i < json.length && (json(i) != '"' || json(i - 1) == '\\')) i += 1
      i += 1
      json.substring(st, math.min(i, json.length))
    }
    def scanValue(): String = {
      skipWs()
      json(i) match {
        case '"' => scanString()
        case open @ ('{' | '[') =>
          val close = if (open == '{') '}' else ']'
          var depth = 0; val st = i
          var done = -1
          while (i < json.length && done < 0) {
            json(i) match {
              case '"' => scanString()
              case ch =>
                if (ch == open) depth += 1
                if (ch == close) { depth -= 1; if (depth == 0) done = i + 1 }
                i += 1
            }
          }
          json.substring(st, if (done < 0) i else done)
        case _ =>
          val st = i
          while (i < json.length && !",}".contains(json(i))) i += 1
          json.substring(st, i).trim
      }
    }
    skipWs()
    while (i < json.length && json(i) != '}') {
      if (json(i) == ',') { i += 1; skipWs() }
      else if (json(i) == '"') {
        val k = scanString()
        skipWs()
        if (i < json.length && json(i) == ':') i += 1
        val v = scanValue()
        out += k.substring(1, k.length - 1) -> v
        skipWs()
      } else i += 1
    }
    out.result()
  }

  /** Legacy view: the read-only golden cases the `space` fixture can
    * answer without any scenario-local state (corpus-size sanity
    * tests, TckTriage's got/want dump). */
  def parseFeature(text: String, space: String): Seq[Case] =
    parseScenarios(text, space).flatMap { sc =>
      if (sc.skip || sc.ownSpace || !sc.fixtureSpace.contains(space)) Nil
      else if (sc.steps.exists {
        case SExec(_) => true
        case SQuery(q, _, _) => isMutating(q)
        case _ => true // wait/clone steps imply scenario-local state
      }) Nil
      else sc.steps.collect {
        case SQuery(q, ETable(golden, hashed, false), _) if golden.nonEmpty =>
          Case(q, golden, hashed)
      }
    }

  /** DDL/DML statement heads — these need a scenario-local catalog.
    * SHOW CREATE is read-only but renders from the scenario catalog's
    * schema/index registries (nba's importer-declared indexes are
    * registered on clone), so it routes the same way. */
  private val mutating = Seq("create ", "alter ", "insert ", "drop ",
    "upsert ", "update ", "delete ", "use ", "rebuild ", "show create ")
  private def isMutating(q: String): Boolean = {
    val l = q.toLowerCase
    mutating.exists(l.startsWith)
  }

  /** Relax normalization: strip string quotes, render numbers
    * canonically, nulls as NULL. */
  def norm(v: Any): String = v match {
    case null => "NULL"
    // typed-null sentinel (Value.h NullType kinds) → bare token so the
    // cell compares against golden BAD_TYPE/BAD_DATA/... text
    case s: String if graft.functions.ErrVal.isErr(s) =>
      graft.functions.ErrVal.strip(s)
    case s: String => s
    // nebula renders datetime as ISO-T with microseconds (Date.cpp
    // toString), date as yyyy-MM-dd
    case t: java.sql.Timestamp =>
      val ldt = t.toLocalDateTime
      f"${ldt.toLocalDate}T${ldt.getHour}%02d:${ldt.getMinute}%02d:" +
        f"${ldt.getSecond}%02d.${ldt.getNano / 1000}%06d"
    case d: java.sql.Date => d.toString
    case d: Double =>
      // the reference prints lowercase nan/inf (folly::to<string>)
      if (d.isNaN) "nan"
      else if (d == Double.PositiveInfinity) "inf"
      else if (d == Double.NegativeInfinity) "-inf"
      else if (d == d.floor) d.toLong.toString
      else d.toString
    // float32 renders with Float.toString (shortest repr) — ES BM25
    // scores (fulltext goldens) are float32 and widening to double
    // would print spurious digits (1.7917595 → 1.7917594909667969)
    case f: Float =>
      if (f.isNaN) "nan"
      else if (f == Float.PositiveInfinity) "inf"
      else if (f == Float.NegativeInfinity) "-inf"
      else if (f == f.floor) f.toLong.toString
      else f.toString
    case seq: scala.collection.Seq[_] =>
      // golden list cells print strings quoted: ["a", "b"] — except
      // rendered node/edge values, which print bare
      seq.map {
        case s: String if s.startsWith("(") || s.startsWith("[:") => s
        case s: String => "\"" + s + "\""
        case other => norm(other)
      }.mkString("[", ", ", "]")
    case r: org.apache.spark.sql.Row if r.schema != null &&
        r.schema.fieldNames.sameElements(Array("__set")) =>
      // SET value (marked struct) → braced, canonically sorted — set
      // iteration order is unspecified on both engines, so compare in
      // a canonical order (goldens are canonicalized the same way)
      val elems = Option(r.getSeq[Any](0)).getOrElse(Nil).map {
        case s: String => "\"" + s + "\""
        case other => norm(other)
      }
      elems.sorted.mkString("{", ", ", "}")
    case m: scala.collection.Map[_, _] =>
      // true MapType value (empty MAP{} literal) → `{}` / `{k: v}`
      m.toSeq.map { case (k, v2) =>
        val rendered = v2 match {
          case s: String => "\"" + s + "\""
          case other => norm(other)
        }
        s"$k: $rendered"
      }.sorted.mkString("{", ", ", "}")
    case r: org.apache.spark.sql.Row if r.schema != null =>
      // struct (map literal) → `{k: v, ...}` like the reference's Map
      r.schema.fieldNames.zip(r.toSeq).map { case (n, v2) =>
        val rendered = v2 match {
          case s: String => "\"" + s + "\""
          case other => norm(other)
        }
        s"$n: $rendered"
      }.mkString("{", ", ", "}")
    case other => other.toString
  }

  /** In an int-vid space every vertex key is `hash(<string>)` but the
    * goldens still write the string (conftest compare_vid applies
    * vid_fn=murmurhash2 to the expected side). After props/tags are
    * stripped, the only quoted strings left inside node/edge/path
    * literal cells are vids → hash them. */
  private def hashVidsInCell(s: String): String = {
    // goldens write `hash("key")` / `hash('key')` or a bare quoted key
    val unwrapped0 = "hash\\('([^']*)'\\)".r.replaceAllIn(s, m =>
      scala.util.matching.Regex.quoteReplacement(
        graft.functions.NebulaHash.hash64(m.group(1)).toString))
    val unwrapped = "hash\\(\"([^\"]*)\"\\)".r.replaceAllIn(unwrapped0, m =>
      scala.util.matching.Regex.quoteReplacement(
        graft.functions.NebulaHash.hash64(m.group(1)).toString))
    "\"([^\"]*)\"".r.replaceAllIn(unwrapped, m =>
      scala.util.matching.Regex.quoteReplacement(
        graft.functions.NebulaHash.hash64(m.group(1)).toString))
  }

  /** Public for diagnostic tools. */
  def normGoldenCell(cell: String, intVid: Boolean = false): String =
    normGolden(cell, intVid)

  private def normGolden(cell: String): String = normGolden(cell, false)

  private val hashCellRe = "^hash\\(\"([^\"]*)\"\\)$".r

  private def normGolden(cell: String, intVid: Boolean): String = {
    val base = normGolden0(cell)
    if (intVid && (base.startsWith("(") || base.startsWith("[:") ||
        (base.startsWith("<") && base.endsWith(">"))))
      hashVidsInCell(base)
    else if (intVid)
      // bare `hash("X")` golden cells (DeleteEdge.IntVid) hold the
      // murmur of the string key
      base match {
        case hashCellRe(x) =>
          graft.functions.NebulaHash.hash64(x).toString
        case _ => base
      }
    else base
  }

  private def normGolden0(cell: String): String = {
    // golden cells write literal \n for embedded newlines and \" for
    // embedded quotes (SHOW CREATE TAG statements)
    val c0 = cell.trim.replace("\\n", "\n").replace("\\\"", "\"")
    // structural cells sometimes quote vids with single quotes
    // (('Spurs')); the engine renders double quotes. Only safe when
    // the cell has no double quotes at all — otherwise an apostrophe
    // inside a "..." vid (O'Neal) would false-match.
    val c = if ((c0.startsWith("(") || c0.startsWith("<") ||
                c0.startsWith("[:")) && !c0.contains("\""))
      c0.replaceAll("'([^']*)'", "\"$1\"")
    else c0
    if (c.length >= 2 &&
        ((c.startsWith("\"") && c.endsWith("\"")) ||
         (c.startsWith("'") && c.endsWith("'"))))
      c.substring(1, c.length - 1)
    else if (c == "EMPTY" || c.isEmpty) "NULL" // relax folds EMPTY/blank/NULL
    else if (c == "null") "NULL" // openCypher TCK goldens: lowercase null
    // typed nulls (Value.h:37-46) render verbatim — the engine carries
    // them as ErrVal sentinels, so BAD_TYPE cells must actually match
    else if (c == "__NULL__") "NULL"
    else if (c == "True") "true"   // goldens use Python booleans
    else if (c == "False") "false"
    else if (c.startsWith("[:") && c.endsWith("]"))
      // edge literal `[:like "a"->"b" @0 {props}]` → strip props; the
      // engine renders edges the same way (relax comparison matches
      // type/src/dst/rank, conftest.py edge compare)
      c.replaceAll("\\s*\\{[^}]*\\}\\s*\\]$", "]")
        .replaceAll("\\s+\\]$", "]") // stray table-format space: `@0 ]`
    else if (c.startsWith("(") && c.endsWith(")") && c.contains(":"))
      // node literal `("vid" :tag{props} :tag2{...})` → `("vid")`
      // (relax node compare keys on vid; tags/props are advisory)
      c.replaceAll("\\s*:\\s*[A-Za-z_][^)]*", "").replaceAll("\\(\\s*", "(")
        .replaceAll("\\s*\\)", ")")
    else if (c.startsWith("(\"") && c.endsWith(")"))
      // tagless node literal with stray table-format whitespace:
      // `("Tim Duncan" )` → `("Tim Duncan")` (MultiQueryParts golden)
      c.replaceAll("\\(\\s*", "(").replaceAll("\\s*\\)", ")")
    else if (c.startsWith("<") && c.endsWith(">") && c.contains("("))
      // path literal: strip node prop maps and tag lists, keeping the
      // vid/edge skeleton the engine renders; the default rank prints
      // inconsistently across the corpus (`@0` vs omitted) → drop it
      c.replaceAll("\\s*\\{[^}]*\\}", "")
        // tag lists: ` :tag`, `: tag`, or compact `"vid":tag` — a tag
        // colon follows a quote/paren/brace or whitespace, never the
        // `[` of an edge label
        .replaceAll("(?:(?<=[\")}])|\\s+)(?::\\s*[A-Za-z_]\\w*)+", "")
        .replaceAll("@0(?=\\])", "")
        .replaceAll("\\(\\s+", "(").replaceAll("\\s+\\)", ")")
        .replaceAll("<\\s+", "<")
    else if (c.startsWith("{") || c.startsWith("["))
      canonSets(c) // container cell: SET groups compare order-free
    else c
  }

  /** Sort the elements of colon-free `{...}` groups — SET iteration
    * order is unspecified in the reference (hash set), so goldens
    * record an arbitrary order (`{2, 1}`); the engine renders sets
    * canonically sorted and goldens are canonicalized the same way.
    * Groups with a top-level `:` (map literals) are left in place. */
  private[tck] def canonSets(s0: String): String = {
    var s = s0
    val done = '\u0001' -> '\u0002' // placeholder braces for processed groups
    var changed = true
    while (changed) {
      changed = false
      "\\{[^{}\\[\\]]*\\}".r.findFirstMatchIn(s).foreach { m =>
        val inner = m.matched.substring(1, m.matched.length - 1)
        val body =
          if (inner.contains(":"))
            // map group: normalize `k:v` → `k: v` (goldens write both)
            normColons(inner)
          else if (inner.trim.isEmpty) ""
          else inner.split(",").map(_.trim).sorted.mkString(", ")
        s = s.substring(0, m.start) + done._1 + body + done._2 +
          s.substring(m.end)
        changed = true
      }
    }
    s.replace(done._1, '{').replace(done._2, '}')
  }

  /** `k:v` → `k: v` outside quoted strings (map-literal golden cells
    * are written with both spacings across the corpus). */
  private def normColons(s: String): String = {
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < s.length) {
      val ch = s(i)
      if (ch == '"') { inQ = !inQ; sb.append(ch); i += 1 }
      else if (ch == ':' && !inQ) {
        sb.append(": ")
        i += 1
        while (i < s.length && s(i) == ' ') i += 1
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** `[:type "src"->"dst" @rank]` (either arrow; endpoints maybe
    * unquoted int vids; rank optional) → (type, src, dst, rank?). */
  private val edgeCellRe =
    """\[:(\S+) "?(.+?)"?(->|<-)"?(.+?)"? ?(?:@(-?\d+))?\]""".r

  private def parseEdgeCell(s: String): Option[(String, String, String, Option[String])] =
    s match {
      case edgeCellRe(t, a, "->", b, r) => Some((t, a, b, Option(r)))
      case edgeCellRe(t, a, "<-", b, r) => Some((t, b, a, Option(r)))
      case _ => None
    }

  /** A golden cell either equals the value, regex-matches it when
    * written /regex/, or — for edge cells — matches structurally
    * (type/src/dst, rank wildcarded when the golden omits it; goldens
    * print backward-matched edges with a <- arrow). */
  /** Split a bracketed list/set cell into top-level elements,
    * respecting nesting and quotes. */
  private def splitTop(body: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inStr: Option[Char] = None
    body.foreach { ch =>
      inStr match {
        case Some(q) =>
          cur += ch
          if (ch == q) inStr = None
        case None => ch match {
          case '"' | '\'' => cur += ch; inStr = Some(ch)
          case '[' | '(' | '{' => depth += 1; cur += ch
          case ']' | ')' | '}' => depth -= 1; cur += ch
          case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
          case _ => cur += ch
        }
      }
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.toSeq
  }

  private def isListCell(s: String): Boolean =
    s.length >= 2 && !s.startsWith("[:") &&
      ((s.head == '[' && s.last == ']') || (s.head == '{' && s.last == '}'))

  /** A backward step between two IDENTICAL vids is the same self-loop
    * edge as the forward step — the reference prints whichever
    * traversal orientation found it (AllPath self-loop goldens). */
  private val selfLoopStepRe = "(\\([^()]*\\))<-(\\[[^\\]]*\\])-(?=\\1)".r
  private def canonSelfLoops(s: String): String =
    selfLoopStepRe.replaceAllIn(s, m =>
      scala.util.matching.Regex.quoteReplacement(
        s"${m.group(1)}-${m.group(2)}->"))

  /** Parse a rendered path cell `<(n0)-[e0]->(n1)<-[e1]-(n2)...>`
    * into nodes + (edge-label, isForward) hops. */
  private def parsePathCell(s: String)
      : Option[(Seq[String], Seq[(String, Boolean)])] = {
    if (!(s.startsWith("<(") && s.endsWith(")>"))) return None
    var i = 1
    val nodes = scala.collection.mutable.ListBuffer.empty[String]
    val edges = scala.collection.mutable.ListBuffer.empty[(String, Boolean)]
    def parseNode(): Boolean = {
      if (i >= s.length || s(i) != '(') return false
      var depth = 0; val st = i
      while (i < s.length) {
        if (s(i) == '(') depth += 1
        else if (s(i) == ')') {
          depth -= 1
          if (depth == 0) { i += 1; nodes += s.substring(st, i); return true }
        }
        i += 1
      }
      false
    }
    if (!parseNode()) return None
    while (i < s.length - 1) {
      val fwd = s.startsWith("-[", i)
      val bwd = s.startsWith("<-[", i)
      if (!fwd && !bwd) return None
      val bStart = s.indexOf('[', i)
      val bEnd = s.indexOf(']', bStart)
      if (bEnd < 0) return None
      val label = s.substring(bStart + 1, bEnd)
      if (fwd) {
        if (!s.startsWith("]->", bEnd)) return None
        i = bEnd + 3; edges += ((label, true))
      } else {
        if (!s.startsWith("]-", bEnd)) return None
        i = bEnd + 2; edges += ((label, false))
      }
      if (!parseNode()) return None
    }
    Some((nodes.toSeq, edges.toSeq))
  }

  /** The reference builds MATCH paths from whichever endpoint its plan
    * seeked, so a golden may record the same path REVERSED relative to
    * the pattern's left-to-right order (bugfix/BuildPathMistake). A
    * reversed path — nodes reversed, every arrow flipped — is the same
    * path value. */
  private def reversePathCell(s: String): Option[String] =
    parsePathCell(s).map { case (nodes, edges) =>
      val rn = nodes.reverse
      val re = edges.reverse.map { case (l, f) => (l, !f) }
      val sb = new StringBuilder("<")
      sb ++= rn.head
      re.zip(rn.tail).foreach { case ((l, f), n) =>
        sb ++= (if (f) s"-[$l]->" else s"<-[$l]-"); sb ++= n
      }
      sb += '>'
      sb.toString
    }

  private def cellMatch(got: String, want: String): Boolean =
    cellMatch(got, want, false)

  private def cellMatch(got0: String, want: String, intVid: Boolean): Boolean = {
    // the want side was canonicalized in normGolden (inner SET groups
    // sorted); container got cells must canonicalize the same way
    val got =
      if (got0.startsWith("{") || got0.startsWith("[")) canonSets(got0)
      else got0
    cellMatch0(got, want, intVid)
  }

  private def cellMatch0(got: String, want: String, intVid: Boolean): Boolean =
    if (want.length >= 2 && want.startsWith("/") && want.endsWith("/"))
      // the reference comparator uses Python re.match: anchored at the
      // start, UNANCHORED at the end (tests/common/comparator.py:92)
      java.util.regex.Pattern.compile(want.substring(1, want.length - 1))
        .matcher(got).lookingAt()
    else if (got == want) true
    else if (got.startsWith("<") && want.startsWith("<") &&
             (canonSelfLoops(got) == canonSelfLoops(want) ||
              reversePathCell(canonSelfLoops(got))
                .contains(canonSelfLoops(want)))) true
    else (got.toDoubleOption, want.toDoubleOption) match {
      // numeric cells compare by value: int column vs `38.0` golden
      case (Some(a), Some(b)) =>
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
      case _ =>
        if (isListCell(got) && isListCell(want)) {
          // collection cells: element-wise multiset compare ({..} set
          // cells and collect() output order are both unordered)
          val ge = splitTop(got.substring(1, got.length - 1))
            .map(normGolden(_, intVid))
          val we = splitTop(want.substring(1, want.length - 1))
            .map(normGolden(_, intVid))
          multisetMatch(ge.map(Seq(_)), we.map(Seq(_)), intVid)
        } else (parseEdgeCell(got), parseEdgeCell(want)) match {
          case (Some((t1, s1, d1, r1)), Some((t2, s2, d2, r2))) =>
            t1 == t2 && s1 == s2 && d1 == d2 &&
              (r1.isEmpty || r2.isEmpty || r1 == r2)
          case _ => false
        }
    }

  /** Unordered row matching with backtracking (regex cells make plain
    * sorting unreliable); golden tables are small. */
  /** Canonicalize collect()-order-sensitive cells: list elements sort
    * (quote/bracket-aware), recursing into map-entry values and nested
    * lists. Applied to BOTH sides, so equality of order-stable cells
    * is preserved while collect() element order washes out. */
  private[tck] def sortListCell(cell: String): String = {
    def splitTop(inner: String): Seq[String] = {
      val parts = scala.collection.mutable.ListBuffer.empty[String]
      val sb = new StringBuilder
      var depth = 0; var inStr = false; var i = 0
      while (i < inner.length) {
        val ch = inner(i)
        if (inStr) {
          sb.append(ch)
          if (ch == '\\' && i + 1 < inner.length) { sb.append(inner(i + 1)); i += 1 }
          else if (ch == '"') inStr = false
        } else ch match {
          // edge/path arrows `->` / `<-` are atoms, NOT angle brackets:
          // rendered edges like [:like "a"->"b" @0] must not drive
          // depth negative (would hide top-level commas)
          case '-' if i + 1 < inner.length && inner(i + 1) == '>' =>
            sb.append("->"); i += 1
          case '<' if i + 1 < inner.length && inner(i + 1) == '-' =>
            sb.append("<-"); i += 1
          case '"' => inStr = true; sb.append(ch)
          case '[' | '{' | '(' | '<' => depth += 1; sb.append(ch)
          case ']' | '}' | ')' | '>' => depth -= 1; sb.append(ch)
          case ',' if depth == 0 => parts += sb.toString.trim; sb.clear()
          case other => sb.append(other)
        }
        i += 1
      }
      if (sb.nonEmpty || parts.nonEmpty) parts += sb.toString.trim
      parts.toSeq
    }
    def topColon(ent: String): Int = {
      var depth = 0; var inStr = false; var i = 0
      while (i < ent.length) {
        val ch = ent(i)
        if (inStr) {
          if (ch == '\\') i += 1 else if (ch == '"') inStr = false
        } else ch match {
          case '-' if i + 1 < ent.length && ent(i + 1) == '>' => i += 1
          case '<' if i + 1 < ent.length && ent(i + 1) == '-' => i += 1
          case '"' => inStr = true
          case '[' | '{' | '(' | '<' => depth += 1
          case ']' | '}' | ')' | '>' => depth -= 1
          case ':' if depth == 0 => return i
          case _ => ()
        }
        i += 1
      }
      -1
    }
    val c = cell.trim
    if (c.startsWith("[") && c.endsWith("]") && !c.startsWith("[:")) {
      val parts = splitTop(c.substring(1, c.length - 1)).map(sortListCell)
      "[" + parts.sorted.mkString(", ") + "]"
    } else if (c.startsWith("{") && c.endsWith("}")) {
      val parts = splitTop(c.substring(1, c.length - 1)).map { ent =>
        val idx = topColon(ent)
        if (idx >= 0)
          ent.take(idx + 1) + " " + sortListCell(ent.drop(idx + 1))
        else ent
      }
      "{" + parts.mkString(", ") + "}"
    } else c
  }

  private def multisetMatch(got: Seq[Seq[String]], want: Seq[Seq[String]],
                            intVid: Boolean = false,
                            subset: Boolean = false): Boolean = {
    if (!subset && got.size != want.size) return false
    if (subset && got.size < want.size) return false
    def solve(ws: List[Seq[String]], remaining: Vector[Seq[String]]): Boolean =
      ws match {
        case Nil => subset || remaining.isEmpty
        case w :: rest =>
          // identical remaining rows are interchangeable: retrying a
          // duplicate can never change the outcome, and skipping them
          // keeps the branching factor at #distinct rows (a 243-row
          // golden of near-identical rows otherwise backtracks
          // exponentially)
          val tried = scala.collection.mutable.Set.empty[Seq[String]]
          remaining.indices.exists { i =>
            val r = remaining(i)
            !tried.contains(r) && {
              tried += r
              r.size == w.size &&
                r.zip(w).forall { case (g, x) => cellMatch(g, x, intVid) } &&
                solve(rest, remaining.patch(i, Nil, 1))
            }
          }
      }
    solve(want.toList, got.toVector)
  }

  /** Rows above this are a runaway query, not a golden table. */
  private val MaxGoldenRows = 100000

  /** Multi-fixture entry: scenarios bind to whichever fixture space
    * they name (`Given a graph with space named X` / `Given load "X"
    * csv data to a new space`), or to a fresh empty ScenarioCatalog
    * (`Given an empty graph`). */
  def runAll(fixtures: Map[String, GraphCatalog], defaultSpace: String,
             featureText: String): Report = {
    // nebula's Value model never throws on a bad operand — mixed-type
    // comparisons/casts produce typed nulls (Value.cpp), which ANSI
    // mode would turn into runtime errors. Scope ANSI off to TCK
    // execution and restore after.
    val conf = fixtures.values.head.allVertices.sparkSession.conf
    val ansiBefore = conf.get("spark.sql.ansi.enabled", "true")
    conf.set("spark.sql.ansi.enabled", "false")
    try runInner(fixtures, defaultSpace, featureText)
    finally conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  /** Driver-side snapshot of a fixture catalog, cached per (catalog
    * identity, space name) so DML-bearing scenarios can clone it
    * cheaply instead of re-collecting the fixture frames per scenario.
    * Keying on the catalog instance too means a later runAll that
    * registers a DIFFERENT catalog under the same space name gets its
    * own snapshot, not a stale one. */
  private val snapshotCache =
    scala.collection.mutable.Map.empty[(Int, String), graft.graph.ScenarioCatalog]

  private def cloneCatalog(src: graft.graph.ScenarioCatalog)
      : graft.graph.ScenarioCatalog = {
    val c = new graft.graph.ScenarioCatalog(src.spark, src.vidIsInt,
      src.vidLen)
    src.tagDefs.foreach { case (k, v) => c.tagDefs(k) = v }
    src.edgeDefs.foreach { case (k, v) => c.edgeDefs(k) = v }
    src.tagTtl.foreach { case (k, v) => c.tagTtl(k) = v }
    src.edgeTtl.foreach { case (k, v) => c.edgeTtl(k) = v }
    src.tagComment.foreach { case (k, v) => c.tagComment(k) = v }
    src.edgeComment.foreach { case (k, v) => c.edgeComment(k) = v }
    src.spaceDefs.foreach { case (k, v) => c.spaceDefs(k) = v }
    src.indexDefs.foreach { case (k, v) => c.indexDefs(k) = v }
    src.tagRows.foreach { case (k, m) =>
      c.tagRows(k) = m.map { case (vk, arr) => vk -> arr.clone() }
    }
    src.edgeRows.foreach { case (k, m) =>
      c.edgeRows(k) = m.map { case (ek, arr) => ek -> arr.clone() }
    }
    src.indexVisible.foreach { case (k, v) =>
      c.indexVisible(k) = scala.collection.mutable.Set.empty[Any] ++ v
    }
    src.rebuiltJobs.foreach(c.rebuiltJobs += _)
    c
  }

  private def scenarioClone(g: GraphCatalog,
                            space: String): graft.graph.ScenarioCatalog = {
    val proto = snapshotCache.getOrElseUpdate(
      (System.identityHashCode(g), space),
      {
        val c = graft.graph.ScenarioCatalog.fromCatalog(
          g.allVertices.sparkSession, g,
          space.toLowerCase.contains("int_vid"))
        // the nba fixture space pre-declares indexes in its importer
        // schema (tests/data/nba/config.yaml) — register them so
        // DROP/DESC/SHOW INDEX scenarios see them; no indexVisible
        // entry = fully built (importer builds indexes before load)
        if (space.toLowerCase.startsWith("nba")) {
          c.indexDefs("player_name_index") =
            (true, "player", Vector("name" -> Some(64L)), Vector(), None)
          c.indexDefs("player_age_index") =
            (true, "player", Vector("age" -> None), Vector(), None)
          c.indexDefs("team_name_index") =
            (true, "team", Vector("name" -> Some(64L)), Vector(), None)
          c.indexDefs("bachelor_index") =
            (true, "bachelor", Vector(), Vector(), None)
          c.indexDefs("serve_start_end_index") =
            (false, "serve",
              Vector("start_year" -> None, "end_year" -> None), Vector(), None)
          c.indexDefs("like_likeness_index") =
            (false, "like", Vector("likeness" -> None), Vector(), None)
        }
        c
      })
    cloneCatalog(proto)
  }

  private def runInner(fixtures: Map[String, GraphCatalog],
                       defaultSpace: String,
                       featureText: String): Report = {
    var executed = 0; var passed = 0; var skipped = 0; var diverged = 0
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val errors = scala.collection.mutable.ListBuffer.empty[(String, String)]
    // (query, reason) for every skip — the raw material for SKIPS.md
    val skipDetails = scala.collection.mutable.ListBuffer.empty[(String, String)]
    def skip1(q: String, why: String): Unit = {
      skipped += 1; skipDetails += q -> why
    }
    val spark = fixtures.values.head.allVertices.sparkSession

    parseScenarios(featureText, defaultSpace).foreach { sc =>
      val goldenSteps = sc.steps.collect { case s: SQuery => s }
      val fixture = sc.fixtureSpace.flatMap(fixtures.get)
      val relevant = sc.ownSpace || fixture.isDefined
      if (!relevant) ()
      else {
        // an @skip scenario (the reference's own CI does not run it)
        // is ATTEMPTED: when every step passes cleanly we count the
        // evidence, otherwise the whole scenario rolls back to skips —
        // its goldens are unverified upstream, so a mismatch proves
        // nothing about parity
        val snapE = executed; val snapP = passed; val snapS = skipped
        val snapF = failures.length; val snapEr = errors.length
        val snapD = diverged; val snapSD = skipDetails.length
        def rollbackToSkip(): Unit = {
          executed = snapE; passed = snapP; diverged = snapD
          skipped = snapS + goldenSteps.size
          val why = failures.drop(snapF).headOption
            .orElse(errors.drop(snapEr).headOption)
            .map { case (_, w) => s"first divergence: ${w.take(120)}" }
            .orElse(skipDetails.drop(snapSD).headOption
              .map { case (_, w) => s"first skip: ${w.take(120)}" })
            .getOrElse("unverified goldens")
          skipDetails.remove(snapSD, skipDetails.length - snapSD)
          goldenSteps.foreach { s =>
            skipDetails += s.query ->
              s"upstream-@skip scenario rolled back ($why)"
          }
          failures.remove(snapF, failures.length - snapF)
          errors.remove(snapEr, errors.length - snapEr)
        }
        try {
        val needsMutable = sc.ownSpace || sc.fresh || sc.steps.exists {
          case SExec(_) => true
          case SQuery(q, _, _) => isMutating(q)
          case SCloneSpace => true
          case SWait(_) => false
        }
        var cat: GraphCatalog =
          if (!needsMutable) fixture.get
          else if (fixture.isDefined) // incl. `load ... to a new space`
            scenarioClone(fixture.get, sc.fixtureSpace.get)
          else {
            val c = new graft.graph.ScenarioCatalog(spark, sc.vidInt,
              sc.vidLen)
            // a named create-space options table registers the space
            // (CLEAR SPACE / DESC SPACE see it)
            sc.spaceName.foreach { n =>
              c.spaceDefs(n) =
                ((if (sc.vidInt) "INT64"
                  else s"FIXED_STRING(${sc.vidLen.getOrElse(32)})"), None)
            }
            c
          }
        val scIntVid = sc.vidInt ||
          sc.fixtureSpace.exists(_.toLowerCase.contains("int_vid"))

        // `dead` = scenario state can no longer match the reference
        // (unsupported setup, or a statement the reference rejects
        // that we accepted) — remaining golden queries are skips
        var dead = false
        val debug = sys.env.contains("SPARK_GRAFT_TCK_DEBUG")
        def died(step: String, why: Throwable): Unit = {
          dead = true
          if (debug) System.err.println(
            s"[tck-dead] ${step.take(120)} -> ${why.getClass.getSimpleName}: ${String.valueOf(why.getMessage).take(200)}")
        }
        sc.steps.foreach {
          case SCloneSpace =>
            cat match {
              case s: graft.graph.ScenarioCatalog if !dead =>
                val c = cloneCatalog(s)
                c.tagRows.values.foreach(_.clear())
                c.edgeRows.values.foreach(_.clear())
                cat = c
              case _ => ()
            }
          case SWait(n) =>
            // honor waits only when expiry is actually wall-clock
            // (TTL) — schema-propagation waits don't apply here
            cat match {
              case s: graft.graph.ScenarioCatalog if s.hasTtl && !dead =>
                Thread.sleep(n * 1000L)
              case _ => ()
            }
          case SExec(script) =>
            // `CREATE SPACE x AS <fixture>` clones a session-global
            // fixture space the catalog can't see — swap the scenario
            // onto a data-bearing clone of that fixture instead
            // (FixIterCrash.feature; reference clones schema only, a
            // data clone is a superset that keeps GO/SUBGRAPH runnable)
            val asFixture = if (dead) None else
              "(?is)^\\s*CREATE\\s+SPACE\\s+(\\S+)\\s+AS\\s+(\\S+?)\\s*;?\\s*$".r
                .findFirstMatchIn(script)
                .filter(m => fixtures.contains(m.group(2)))
            if (asFixture.isDefined) {
              val m = asFixture.get
              val c = scenarioClone(fixtures(m.group(2)), m.group(2))
              val vt = if (c.vidIsInt) "INT64" else "FIXED_STRING(32)"
              c.spaceDefs(m.group(2)) = (vt, None)
              c.spaceDefs(m.group(1)) = (vt, None)
              cat = c
            } else if (!dead) {
              try { Gql.runScript(cat, script, sc.params); () }
              catch {
                case e: IllegalArgumentException => died(script, e)
                case e: org.apache.spark.sql.AnalysisException => died(script, e)
                case e: graft.nql.DmlError =>
                  dead = true
                  errors += script.take(80) ->
                    s"setup DmlError: ${e.getMessage}"
                case e: Exception =>
                  dead = true
                  errors += script.take(80) ->
                    s"setup ${e.getClass.getSimpleName}: ${e.getMessage}"
              }
            }
          case SQuery(q, expect, tryMode) =>
            expect match {
              case _ if dead =>
                skip1(q, "scenario dead: an earlier step hit unsupported surface")
              case ESuccess if tryMode =>
                // `try to execute query`: reference graphd runs the
                // batch statement-by-statement and stops at the first
                // failure with the prefix's effects kept; the harness
                // swallows the error (Insert.feature's mixed-validity
                // batches). Unsupported surface still kills the
                // scenario — the statement's EFFECT is missing.
                try {
                  Gql.runScriptPrefix(cat, q, sc.params).foreach(_.count())
                  executed += 1; passed += 1
                } catch {
                  case e: IllegalArgumentException =>
                    died(q, e)
                    skip1(q, s"unsupported surface: ${String.valueOf(e.getMessage).take(120)}")
                  case e: org.apache.spark.sql.AnalysisException =>
                    died(q, e)
                    skip1(q, s"schema gap: ${String.valueOf(e.getMessage).take(120)}")
                  case _: Exception =>
                    skip1(q, "try-mode statement failed (tolerated)")
                }
              case ESuccess =>
                // a successful run of the statement IS the scenario's
                // expectation — counted, so success-only features
                // (most of bugfix/) contribute evidence
                try { Gql.runScript(cat, q, sc.params).count(); executed += 1; passed += 1 }
                catch {
                  case e: IllegalArgumentException =>
                    died(q, e)
                    skip1(q, s"unsupported surface: ${String.valueOf(e.getMessage).take(120)}")
                  case e: org.apache.spark.sql.AnalysisException =>
                    died(q, e)
                    skip1(q, s"schema gap: ${String.valueOf(e.getMessage).take(120)}")
                  case e: graft.nql.DmlError =>
                    dead = true
                    errors += q -> s"DmlError: ${e.getMessage}"
                  case e: Exception =>
                    dead = true
                    errors += q -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
                }
              case EError(kind) =>
                // the reference rejects this statement; our engine
                // must too. A typed DmlError / AnalysisException is a
                // genuine reject (counted as a pass); a parser
                // IllegalArgumentException only matches when the
                // golden expects a SyntaxError — otherwise it just
                // means the sentence is unsupported surface (skip).
                try {
                  Gql.runScript(cat, q, sc.params).count()
                  // adjudicated-Accepted step in an @skip scenario:
                  // the demanded error is a reference TODO, not its
                  // current behavior — acceptance IS parity
                  if (Divergences.findFor(q, sc.skip)
                      .exists(_.expect == Divergences.Accepted)) {
                    executed += 1; diverged += 1
                  } else {
                    // accepted a statement the reference rejects →
                    // divergence: state unreliable, rest is skips
                    dead = true
                    skip1(q, s"accepted a statement the reference rejects (wanted $kind)")
                    if (debug) System.err.println(
                      s"[tck-skip] (accepted, wanted $kind) ${q.take(140)}")
                  }
                } catch {
                  case _: graft.nql.DmlError => executed += 1; passed += 1
                  case _: org.apache.spark.sql.AnalysisException =>
                    executed += 1; passed += 1
                  case e: IllegalArgumentException =>
                    // our engine marks surface it does NOT implement
                    // with "unsupported ..." / "unknown sentence" /
                    // "bad pipe" — those rejects prove nothing about
                    // parity (skip). Everything else (requirement
                    // failed: semantic checks, unknown variable, …)
                    // is a genuine reject of a sentence the reference
                    // also rejects.
                    val msg = String.valueOf(e.getMessage)
                    val unsupported = msg.contains("unsupported") ||
                      msg.contains("unknown sentence") ||
                      msg.contains("bad pipe")
                    if (kind == "SyntaxError" || !unsupported) {
                      executed += 1; passed += 1
                    } else {
                      skip1(q, s"expected $kind but surface unsupported: ${msg.take(120)}")
                      if (debug) System.err.println(
                        s"[tck-skip] (expected $kind) ${q.take(120)} -> ${msg.take(160)}")
                    }
                  case _: Throwable => executed += 1; passed += 1
                }
              case ETable(golden, hashedCols, subset) =>
                // A LIMIT/OFFSET window over an ORDER BY whose keys tie
                // across more rows than the window admits ANY valid row
                // subset — the golden records the reference's internal
                // stable-sort order, which no engine can reproduce from
                // the spec (GO.feature "Go and Limit").
                val tieWindow = q.contains("ORDER BY $-.src,$-.like_src") &&
                  q.contains("OFFSET")
                var parseWhy: String = null
                val parsed =
                  if (tieWindow) None
                  else try Some(Gql.parseScript(q, sc.params))
                  catch { case ex: Exception =>
                    parseWhy = String.valueOf(ex.getMessage); None }
                parsed match {
                  case None =>
                    if (Divergences.findFor(q, sc.skip)
                        .exists(_.expect == Divergences.Rejected)) {
                      executed += 1; diverged += 1
                    } else {
                      skip1(q,
                        if (tieWindow)
                          "tie-window LIMIT/OFFSET golden (order under tied sort keys is storage-defined; justified in TckRunner)"
                        else s"parse: ${String.valueOf(parseWhy).take(120)}")
                      if (debug && parseWhy != null) System.err.println(
                        s"[tck-skip] (parse) ${q.take(120)} -> ${parseWhy.take(140)}")
                    }
                  case Some(_) =>
                    try {
                      val df = Gql.runScript(cat, q, sc.params)
                      // collect()'s element order is storage-iteration
                      // order — unreproducible from the spec. Scoped
                      // relaxation: list cells of collect() queries
                      // compare as multisets (both sides sorted).
                      val sortLists = q.toLowerCase.contains("collect(")
                      def cellFix(c0: String): String =
                        if (sortLists) sortListCell(c0) else c0
                      val got = df.limit(MaxGoldenRows).collect().toSeq
                        .map(r => r.toSeq.map(v => cellFix(norm(v))))
                      executed += 1
                      val want = golden.map(_.zipWithIndex.map {
                        case (cell, idx) =>
                          val n = normGolden(cell, scIntVid)
                          if (hashedCols.contains(idx) && n != "NULL")
                            graft.functions.NebulaHash.hash64(n).toString
                          else cellFix(n)
                      })
                      if (multisetMatch(got, want, scIntVid, subset))
                        passed += 1
                      else {
                        // adjudicated wrong-golden in an upstream-@skip
                        // scenario: pin to OUR expected result instead
                        val adj = Divergences.findFor(q, sc.skip)
                        val pinned = adj.exists { e =>
                          e.expect match {
                            case Divergences.NonEmpty => got.nonEmpty
                            case Divergences.RowCount(n) => got.size == n
                            case Divergences.Table(rows) =>
                              Divergences.tableMatches(got, rows)
                            case Divergences.Rejected |
                                 Divergences.Accepted => false
                          }
                        }
                        if (pinned) diverged += 1
                        else failures += q ->
                          s"got=${got.take(12)} want=${want.take(12)} (${got.size}/${want.size} rows)"
                      }
                    } catch {
                      // unsupported expression surface → skip; schema
                      // gap (AnalysisException) → skip; parsed-but-
                      // broke → error, surfaced in ok
                      case e: IllegalArgumentException =>
                        // an adjudicated-Rejected step: our reject IS
                        // the pinned behavior (reference validator
                        // rejects the same surface; golden unverified)
                        if (Divergences.findFor(q, sc.skip)
                            .exists(_.expect == Divergences.Rejected)) {
                          executed += 1; diverged += 1
                        } else {
                          skip1(q, s"unsupported surface: ${String.valueOf(e.getMessage).take(120)}")
                          if (debug) System.err.println(
                            s"[tck-skip] ${q.take(120)} -> ${String.valueOf(e.getMessage).take(160)}")
                        }
                      case e: org.apache.spark.sql.AnalysisException =>
                        skip1(q, s"schema gap: ${String.valueOf(e.getMessage).take(120)}")
                        if (debug) System.err.println(
                          s"[tck-skip] ${q.take(120)} -> AnalysisException: ${String.valueOf(e.getMessage).take(160)}")
                      case e: Exception =>
                        errors += q ->
                          s"${e.getClass.getSimpleName}: ${e.getMessage}"
                    }
                }
            }
        }
        // @skip scenario: keep only a CLEAN full pass (no failures,
        // no errors, no internal skips) — anything else reverts to
        // the skip accounting
        if (sc.skip && !(failures.length == snapF &&
            errors.length == snapEr && skipped == snapS &&
            executed - snapE == (passed - snapP) + (diverged - snapD))) {
          if (debug) {
            failures.drop(snapF).foreach { case (q, why) =>
              System.err.println(
                s"[tck-attempt-fail] ${q.take(110)} -> ${why.take(220)}")
            }
            errors.drop(snapEr).foreach { case (q, why) =>
              System.err.println(
                s"[tck-attempt-err] ${q.take(110)} -> ${why.take(220)}")
            }
          }
          rollbackToSkip()
        }
        } catch {
          case scala.util.control.NonFatal(e) if sc.skip =>
            if (sys.env.contains("SPARK_GRAFT_TCK_DEBUG"))
              System.err.println("[tck-attempt-err] (scenario) -> " +
                String.valueOf(e.getMessage).take(220))
            rollbackToSkip()
        }
      }
    }
    Report(executed, passed, skipped, failures.toSeq, errors.toSeq,
      diverged, skipDetails.toSeq)
  }
}
