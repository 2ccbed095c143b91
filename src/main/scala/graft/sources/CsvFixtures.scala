package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.graph.{GraphCatalog, MapCatalog}

/** Loader for the reference's CSV fixture convention (FIXTURES.md;
  * reference importer headers, tests/data/nba/player.csv:1 and
  * serve.csv:1):
  *
  *  - vertex file: `:VID(string)` (or `:VID(int)`) then
  *    `tag.prop:type` columns;
  *  - edge file: `:SRC_VID(string),:DST_VID(string)[,:RANK]` then
  *    `edge.prop:type` columns (missing `:RANK` → rank 0);
  *  - empty string = null property.
  *
  * Output schemas match GraphModel's shape: vertices `(vid, prop...)`,
  * edges `(src, dst, rank, prop...)` — so a fixture dataset drops
  * straight into the traversal/relational operators.
  *
  * Scale: a header-driven projection over Spark's native CSV reader —
  * schema applied at scan (no inference pass), so fixture loading is a
  * single distributed read like any other source.
  */
object CsvFixtures {

  private def sparkType(t: String): DataType = t.trim.toLowerCase match {
    case "int" | "int64" | "int32" | "int16" | "int8" => LongType
    case "double" | "float" => DoubleType
    case "bool" | "boolean" => BooleanType
    case "timestamp" => TimestampType
    case "date" => DateType
    // geography(...) travels as WKT text; time as "HH:mm:ss" text
    // (tests/data/ngdata headers)
    case g if g.startsWith("geography") => StringType
    case "time" => StringType
    case _ => StringType
  }

  private case class Col(raw: String, name: String, dt: DataType)

  private def parseHeader(header: String): Seq[Col] =
    header.split(",").toSeq.map(_.trim).map {
      case v if v.startsWith(":VID") =>
        Col(v, "vid", if (v.contains("(int)")) LongType else StringType)
      case v if v.startsWith(":SRC_VID") =>
        Col(v, "src", if (v.contains("(int)")) LongType else StringType)
      case v if v.startsWith(":DST_VID") =>
        Col(v, "dst", if (v.contains("(int)")) LongType else StringType)
      case v if v.startsWith(":RANK") => Col(v, "rank", LongType)
      case v =>
        // `tag.prop:type` or `edge.prop:type` → prop
        val (qualified, t) = v.lastIndexOf(':') match {
          case -1 => (v, "string")
          case i => (v.substring(0, i), v.substring(i + 1))
        }
        val prop = qualified.split("\\.").last
        Col(v, prop, sparkType(t))
    }

  /** Load one fixture CSV. `spark.read.csv` with an explicit schema —
    * header parsed driver-side from the first line of the file. */
  def load(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val header = java.nio.file.Files.lines(java.nio.file.Paths.get(
      path.stripPrefix("file:"))).findFirst().orElseThrow()
    val cols = parseHeader(header)
    val schema = StructType(cols.map(c => StructField(c.name, StringType, true)))
    val raw = spark.read
      .option("header", true)
      .option("quote", "\"")
      // RFC4180 doubled quotes inside quoted cells
      // (ngdata: "ST_GeogFromText(""POLYGON(...)"")" )
      .option("escape", "\"")
      .schema(schema)
      .csv(path)
    // empty string or a NULL marker → null (the reference importer
    // nulls any cell spelled "null"/"__null__" case-insensitively,
    // tests/common/csv_import.py:113); EXPRESSION cells (ngdata:
    // ST_GeogFromText → its WKT, date()/datetime()/time()/now() →
    // the load-time value, 'single-quoted' strings → unquoted) are
    // evaluated; then cast to the declared type
    val casted = cols.map { c =>
      val cell = col(c.name)
      val base = when(cell === "" ||
          lower(cell).isin("null", "__null__"), lit(null))
        .when(cell.startsWith("ST_GeogFromText"),
          regexp_extract(cell, "ST_GeogFromText\\(\"(.*)\"\\)", 1))
        .when(cell === "date()",
          date_format(current_date(), "yyyy-MM-dd"))
        .when(cell === "datetime()" || cell === "now()",
          date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss"))
        .when(cell === "time()",
          date_format(current_timestamp(), "HH:mm:ss"))
        .when(cell.rlike("^'.*'$"),
          expr(s"substring(`${c.name}`, 2, length(`${c.name}`) - 2)"))
        .otherwise(cell)
      base.cast(c.dt).as(c.name)
    }
    val df = raw.select(casted: _*)
    // edge file without :RANK → implicit rank 0 (FIXTURES.md)
    val shaped =
      if (cols.exists(_.name == "src") && !cols.exists(_.name == "rank"))
        df.withColumn("rank", lit(0L))
          .select((Seq("src", "dst", "rank") ++
            cols.map(_.name).filterNot(Seq("src", "dst").contains)).distinct
            .map(col): _*)
      else df
    // the reference's storage overwrites on identical key — a fixture
    // row repeated with the same (vid) / (src,dst,rank) is ONE record
    // (nba like.csv carries a literal duplicate edge line)
    if (shaped.columns.contains("src"))
      shaped.dropDuplicates("src", "dst", "rank")
    else shaped.dropDuplicates("vid")
  }

  /** Load every CSV of a fixture directory, classifying each file as
    * a tag (`:VID` header) or an edge type (`:SRC_VID` header) named
    * after the file — matches the ngdata config.yaml CREATE
    * statements 1:1 (tests/data/ngdata). */
  def loadDir(spark: SparkSession, dir: String)
      : (Map[String, DataFrame], Map[String, DataFrame]) = {
    val files = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".csv")).sortBy(_.getName)
    val tags = scala.collection.mutable.Map.empty[String, DataFrame]
    val edges = scala.collection.mutable.Map.empty[String, DataFrame]
    files.foreach { f =>
      val name = f.getName.stripSuffix(".csv")
      val header = java.nio.file.Files
        .lines(f.toPath).findFirst().orElse("")
      if (header.startsWith(":VID")) tags(name) = load(spark, f.getPath)
      else if (header.startsWith(":SRC_VID"))
        edges(name) = load(spark, f.getPath)
    }
    (tags.toMap, edges.toMap)
  }

  /** Int-vid variant of a string-keyed fixture: every vid/src/dst →
    * MurmurHash2 of the string key, per the importer's
    * `function: hash` (tests/data/nba_int_vid/config.yaml — the
    * int-vid spaces load the SAME CSVs through a hash). */
  def hashVids(df: DataFrame): DataFrame =
    Seq("vid", "src", "dst").filter(df.columns.contains)
      .foldLeft(df)((d, c) =>
        d.withColumn(c, graft.functions.NebulaHash.hashCol(col(c))))

  /** The reference's TCK fixture spaces under `dataDir` (its
    * tests/data): `nba` (player ∪ null.csv, team, bachelor; like,
    * serve, teammate), `nba_int_vid` (the same CSVs with hashed vids),
    * `student`, and `ngdata` (every CSV of its directory). */
  def tckCatalogs(spark: SparkSession, dataDir: String): Map[String, MapCatalog] = {
    def space(dir: String, tags: Seq[String], edges: Seq[String]) = MapCatalog(
      tags = tags.map(t => t -> load(spark, s"$dataDir/$dir/$t.csv")).toMap,
      edges = edges.map(e => e -> load(spark, s"$dataDir/$dir/$e.csv")).toMap)
    val nba0 = space("nba", Seq("player", "team", "bachelor"),
      Seq("like", "serve", "teammate"))
    // null.csv holds players whose properties are NULL
    val nba = nba0.copy(tags = nba0.tags.updated("player",
      nba0.tags("player").unionByName(load(spark, s"$dataDir/nba/null.csv"),
        allowMissingColumns = true)))
    val nbaIntVid = MapCatalog(
      tags = nba.tags.map { case (t, df) => t -> hashVids(df) },
      edges = nba.edges.map { case (e, df) => e -> hashVids(df) })
    val student = space("student", Seq("person", "teacher", "student"),
      Seq("is_teacher", "is_schoolmate", "is_friend", "is_colleagues"))
    val (ngTags, ngEdges) = loadDir(spark, s"$dataDir/ngdata")
    Map("nba" -> nba, "nba_int_vid" -> nbaIntVid, "student" -> student,
      "ngdata" -> MapCatalog(ngTags, ngEdges))
  }

  private val spaceRe = "Given a graph with space named \"([^\"]+)\"".r

  /** A feature file's default space — the one its Background names
    * (`Given a graph with space named X`; nba when none) — and the
    * fixtures it runs against. A Scenario-Outline `<space_name>`
    * binds each Examples row's space at run time; only the
    * pre-expansion parse sees the placeholder, which maps to nba. */
  def tckSpace(catalogs: Map[String, GraphCatalog], featureText: String)
      : (Map[String, GraphCatalog], String) = {
    val space = spaceRe.findFirstMatchIn(featureText).map(_.group(1)).getOrElse("nba")
    (if (space.startsWith("<")) catalogs + (space -> catalogs("nba")) else catalogs,
      space)
  }
}
