package graft.chsql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.mergetree.FoldViews
import graft.operators.LimitBy
import graft.plans.ChJoinDefaults
import graft.sources.Formats

import scala.collection.mutable

/** A stateful ClickHouse-SQL interpreter over Spark: runs the reference
  * repo's scripts — DDL (homeworks/scripts/hw02.sql), MV cascades
  * (clusters/ch_and_kafka/db/init.sql), and the lecture SELECT dialect —
  * against DataFrames.
  *
  * Semantics map, not a storage engine port: tables are block-append
  * DataFrames (a MergeTree part ≈ an inserted block), FINAL routes
  * through [[graft.mergetree.FoldViews]], materialized views are insert
  * triggers over each block (the reference's MV contract), and SELECT
  * text goes through [[ChSqlRewrite]] into Spark SQL with the ClickHouse
  * function dialect registered natively (ChRegistry — zero UDF overhead).
  *
  * Engines: the MergeTree family folds by its declared keys;
  * Null discards rows but fires MVs (lectures/lecture_13.md:376);
  * Kafka tables hold no rows — [[ingest]] simulates a consumed batch,
  * firing attached MVs exactly like the reference's consumer;
  * Distributed(cluster, db, t) reads/writes its local table;
  * Buffer(db, t) forwards to its target; Memory/Set/Join/Log append.
  */
object ChSession {

  sealed trait Engine
  object Engine {
    final case class MergeTree(kind: String, keys: Seq[String],
        version: Option[String], sign: Option[String],
        sumCols: Seq[String], sampleBy: Option[String]) extends Engine
    case object Null extends Engine
    case object Kafka extends Engine
    case object Memory extends Engine
    final case class Distributed(db: String, table: String) extends Engine
    final case class Buffer(db: String, table: String) extends Engine
    final case class Join(keys: Seq[String]) extends Engine
  }

  final case class DictDef(sourceDb: String, sourceTable: String, pk: String)

  final case class ColumnDef(name: String, dataType: DataType,
      nullable: Boolean, default: Option[String], materialized: Option[String],
      // Enum8/16 value->name mapping: ClickHouse enums compare as their
      // underlying numbers while selecting as the label
      enumMap: Option[Seq[(Int, String)]] = None)

  /** A data-skipping index declaration (`INDEX name expr TYPE t(args)
    * GRANULARITY n`, lecture_08.md:109-276). The dialect layer records
    * the metadata — DDL round-trip, system.data_skipping_indices,
    * MATERIALIZE/DROP/CLEAR lifecycle; actual advisory file pruning is
    * the engine's [[graft.mergetree.SkipIndex]] (q69).
    */
  final case class SkipIndexDef(name: String, exprSql: String,
      typeSql: String, granularity: Int)

  final class ChTable(val db: String, val name: String,
      val columns: Seq[ColumnDef], val engine: Engine,
      val path: Option[String] = None,
      val partitionBy: Option[String] = None) {
    val blocks = mutable.ArrayBuffer.empty[DataFrame]
    // DETACHed partitions parked for re-ATTACH (value → rows)
    val detached = mutable.Map.empty[String, DataFrame]
    // table-level TTL expression (a row expires once the value is past);
    // enforced at merge time like the reference — OPTIMIZE drops expired
    // rows (lecture_14.md:217-242)
    var ttl: Option[String] = None
    // ADD PROJECTION defs by name; materialized ones also register with
    // the transparent Catalyst router (ProjectionRouting)
    val projections = mutable.Map.empty[String, graft.mergetree.ProjectionDef]
    // data-skipping index declarations by name (lecture_08)
    val skipIndexes = mutable.LinkedHashMap.empty[String, SkipIndexDef]
    var nextSeq = 0L
    def schema: StructType = StructType(columns.map(c =>
      StructField(c.name, c.dataType, c.nullable)))
  }

  final case class ChMv(db: String, name: String,
      sourceDb: String, sourceTable: String,
      selectSql: String, targetDb: String, targetTable: String)

  /** Re-opens a parquet-backed session directory: replays the canonical
    * DDL journal (`_catalog.sql`) written by the previous session, so
    * every table/MV/dictionary comes back attached to its existing data.
    */
  def attach(spark: SparkSession, storageDir: String): ChSession = {
    val s = new ChSession(spark, Some(storageDir))
    s.attachExisting()
    s
  }
}

/** @param storageDir when set, storable tables write each inserted block
  *   as a parquet append under `storageDir/db/table/` instead of holding
  *   lineage DataFrames in memory. This is the sustained-ingest mode: a
  *   streaming MV cascade appending thousands of micro-batches keeps
  *   bounded plans (every read is a fresh parquet scan) and survives the
  *   driver — the production shape at 100 TB, where a table IS a parquet
  *   directory and a "part" IS an appended file set.
  */
final class ChSession(val spark: SparkSession,
                      storageDir: Option[String] = None) {
  import ChSession._

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ------------------------------------------------------------ state

  private val tables = mutable.LinkedHashMap.empty[(String, String), ChTable]
  private val mvs = mutable.ArrayBuffer.empty[ChMv]
  private val dicts = mutable.Map.empty[(String, String), DictDef]
  private val databases = mutable.Set("default")
  // SQL lambda UDFs created through CH text (CREATE FUNCTION, §2.9)
  private val udfs = new graft.functions.ChUdfs(spark)
  var currentDb = "default"
  // set (inside the server's session-synchronized block) while a
  // statement arrives over HTTP: INTO OUTFILE is a CLIENT-side feature,
  // and ClickHouse rejects it from HTTP clients (Code 76) — otherwise
  // any HTTP caller could create files at arbitrary server paths
  private[chsql] var httpClient: Boolean = false

  // ------------------------------------------------------------ public

  /** Runs a whole script; returns the result of each statement that
    * produces one (SELECT/SHOW/DESCRIBE).
    */
  def execute(script: String): Seq[DataFrame] =
    ChLexer.statements(script)
      .flatMap(st => logged(st)(executeStatement(st)))

  /** Runs a whole script with per-call `{name:Type}` bindings — the HTTP
    * surface's `param_x=` values, which ClickHouse scopes to the REQUEST
    * (they must not leak into later requests the way a session-level
    * `SET param_x` would). Explicit bindings win over session SETs.
    */
  def execute(script: String, params: Map[String, String]): Seq[DataFrame] =
    ChLexer.statements(script)
      .flatMap(st => logged(st)(executeStatement(st, params)))

  /** Runs one ClickHouse SELECT and returns the DataFrame. */
  def sql(query: String): DataFrame =
    logged(query)(runSelect(bindParams(query), Map.empty))

  /** Runs one parameterized SELECT: `{name:Type}` placeholders bind from
    * `params` (the CLI `--param_name` / HTTP `param_name=` surface,
    * lecture_03.md:265-307), falling back to session `SET param_name`
    * values.
    */
  def sql(query: String, params: Map[String, String]): DataFrame =
    logged(query)(runSelect(bindParams(query, params), Map.empty))

  /** `{name:Type}` → typed literal; explicit params win over session
    * `SET param_x = …` bindings. No-op for placeholder-free statements.
    */
  private def bindParams(stmt: String,
                         params: Map[String, String] = Map.empty): String =
    if (!stmt.contains('{')) stmt
    else if (ChParams.placeholders(stmt).isEmpty) stmt
    else {
      val session = sessionSettings.collect {
        case (k, v) if k.startsWith("param_") => k.stripPrefix("param_") -> v
      }.toMap
      ChParams.substitute(stmt, session ++ params)
    }

  /** Simulates a consumed Kafka batch (or any out-of-band arrival) on
    * `table`: rows land (unless ENGINE=Null/Kafka) and attached MVs fire.
    */
  def ingest(tableRef: String, block: DataFrame): Unit =
    insertBlock(parseRef(tableRef), block, castByPosition = false)

  /** The read view of a table (no FINAL fold). */
  def table(tableRef: String): DataFrame = tableDf(lookup(parseRef(tableRef)))

  // ------------------------------------------------------ statements

  private def executeStatement(stmtRaw: String,
                               params: Map[String, String] = Map.empty)
      : Option[DataFrame] = {
    val stmt = bindParams(stmtRaw.trim, params)
    val toks = ChLexer.tokenize(stmt)
    if (toks.isEmpty) return None
    val head = toks.head.upper
    head match {
      case "SELECT" | "WITH" => Some(runSelect(stmt, Map.empty))
      case "CREATE" | "ATTACH" => runCreate(stmt, toks); None
      case "DROP" => runDrop(toks); None
      case "USE" => currentDb = strip(toks(1).text); None
      case "INSERT" => runInsert(stmt, toks); None
      case "TRUNCATE" =>
        val ref = parseRef(strip(toks.last.text))
        val t = lookup(ref)
        t.blocks.clear()
        t.path.foreach(deleteDir)
        None
      case "OPTIMIZE" => runOptimize(toks); None
      case "ALTER" => runAlter(stmt, toks); None
      case "RENAME" => // RENAME TABLE a TO b
        val a = parseRef(strip(toks(2).text)); val b = parseRef(strip(toks(4).text))
        val t = tables.remove(a).getOrElse(fail(s"no table ${a._1}.${a._2}"))
        val nt = carryTableState(t,
          mkTable(b._1, b._2, t.columns, t.engine, t.partitionBy))
        if (nt.path.isDefined) {
          replaceContents(nt, tableDf(t).localCheckpoint())
          t.path.foreach(deleteDir) // the old directory moves, not forks
        } else nt.blocks ++= t.blocks
        nt.nextSeq = t.nextSeq
        tables(b) = nt
        journalCatalog()
        None
      case "SHOW" =>
        if (toks(1).is("PROCESSLIST")) // ≡ SELECT * FROM system.processes
          systemTable("processes")
        else if (toks(1).is("CREATE")) { // SHOW CREATE TABLE [db.]t
          val t = lookup(parseRef(strip(toks.last.text)))
          Some(spark.createDataFrame(
            Seq(Row(createTableDdl(t))).asJavaList,
            StructType(Seq(StructField("statement", StringType)))))
        } else if (toks(1).is("DATABASES"))
          Some(spark.createDataFrame(
            databases.toSeq.sorted.map(Row(_)).asJavaList,
            StructType(Seq(StructField("name", StringType)))))
        else {
          val db = if (toks.length > 3 && toks(2).is("FROM")) strip(toks(3).text)
            else currentDb
          Some(spark.createDataFrame(
            tables.keys.filter(_._1 == db).map(k => Row(k._2)).toSeq.asJavaList,
            StructType(Seq(StructField("name", StringType)))))
        }
      case "DESCRIBE" | "DESC" =>
        val ref = parseRef(strip(toks.last.text))
        val t = lookup(ref)
        Some(spark.createDataFrame(
          t.columns.map(c => Row(c.name, c.dataType.simpleString)).asJavaList,
          StructType(Seq(StructField("name", StringType),
            StructField("type", StringType)))))
      case "EXPLAIN" =>
        // tolerate CH explain kinds/options — `EXPLAIN indexes = 1 SELECT
        // …` (lecture_07.md:198-230), SYNTAX/PIPELINE/AST/ESTIMATE — the
        // body starts at the first SELECT/WITH; output is the Spark
        // physical plan (scan pruning appears as PushedFilters /
        // PartitionFilters in place of the reference's index report)
        var bodyAt = 1
        while (bodyAt < toks.length && !toks(bodyAt).is("SELECT") &&
          !toks(bodyAt).is("WITH")) bodyAt += 1
        if (bodyAt >= toks.length) fail("EXPLAIN without a SELECT body")
        val body = ChLexer.render(toks.drop(bodyAt))
        val planned = runSelect(body, Map.empty)
        Some(spark.createDataFrame(
          planned.queryExecution.executedPlan.toString.linesIterator
            .map(Row(_)).toSeq.asJavaList,
          StructType(Seq(StructField("explain", StringType)))))
      case "SET" =>
        // SET k = v[, k2 = v2] — recorded so system.settings reflects the
        // session's changed settings (the values steer nothing here; the
        // reference scripts SET formats/timeouts that do not apply)
        ChTypes.splitTopLevel(ChLexer.render(toks.drop(1))).foreach { a =>
          val eq = a.indexOf('=')
          if (eq > 0) {
            // store the RAW value: quoted literals lose their delimiters
            // AND their '' escapes, so `SET param_x = 'O''Hara'` binds
            // O'Hara (ChParams.renderLiteral re-escapes on substitution)
            val rhs = a.substring(eq + 1).trim
            val v =
              if (rhs.length >= 2 && rhs.head == '\'' && rhs.last == '\'')
                rhs.substring(1, rhs.length - 1).replace("''", "'")
              else rhs
            sessionSettings(a.substring(0, eq).trim) = v
          }
        }
        None
      case "SYSTEM" | "GRANT" | "REVOKE" | "KILL" => None // no-op
      case "BACKUP" => Some(runBackup(toks))
      case "RESTORE" => Some(runRestore(toks))
      case other => fail(s"unsupported statement: $other ...")
    }
  }

  private implicit class SeqRowOps(rows: Seq[Row]) {
    def asJavaList: java.util.List[Row] = {
      val l = new java.util.ArrayList[Row](rows.length)
      rows.foreach(l.add)
      l
    }
  }

  // ------------------------------------------------------ CREATE

  private def runCreate(stmt: String, toksIn: Vector[ChLexer.Token]): Unit = {
    // strip ON CLUSTER <x> anywhere
    var toks = toksIn
    val oc = toks.indexWhere(_.is("ON"))
    if (oc > 0 && oc + 1 < toks.length && toks(oc + 1).is("CLUSTER"))
      toks = toks.take(oc) ++ toks.drop(oc + 3)
    var i = 1
    var orReplace = false
    if (toks(i).is("OR") && toks(i + 1).is("REPLACE")) { orReplace = true; i += 2 }
    val isMv = toks(i).is("MATERIALIZED")
    if (isMv) i += 1
    val kind = toks(i).upper // DATABASE | TABLE | VIEW
    i += 1
    var ifNotExists = false
    if (toks(i).is("IF")) { ifNotExists = true; i += 3 } // IF NOT EXISTS
    val nameTok = strip(toks(i).text)
    i += 1

    if (kind == "DATABASE") { databases += nameTok; journalCatalog(); return }

    if (kind == "FUNCTION") {
      // CREATE FUNCTION name AS (params...) -> body — the SQL lambda UDF
      // (lecture_06.md:102-119, homeworks/hw04.md:78-103); inlined as an
      // expression macro by ChUdfs so Catalyst optimizes through it
      val asAt = toks.indexWhere(_.is("AS"), i - 1)
      require(asAt > 0, s"CREATE FUNCTION without AS: $stmt")
      var j = asAt + 1
      val params: Seq[String] =
        if (toks(j).text == "(") {
          val close = matchParenTok(toks, j)
          val ps = toks.slice(j + 1, close).filter(_.text != ",")
            .map(t => strip(t.text))
          j = close + 1
          ps
        } else { val p = Seq(strip(toks(j).text)); j += 1; p }
      require(j < toks.length && toks(j).text == "->",
        s"CREATE FUNCTION without ->: $stmt")
      val bodySql = ChLexer.render(toks.drop(j + 1))
      udfs.createFunction(nameTok, params, bodySql, orReplace = orReplace)
      journalCatalog()
      return
    }

    if (kind == "DICTIONARY") {
      // CREATE DICTIONARY name (cols) PRIMARY KEY k
      //   SOURCE(CLICKHOUSE(... TABLE 'x' [DB 'y'] ...)) LAYOUT(...) ...
      val (ddb, dname) = parseRef(nameTok)
      val pkAt = toks.indexWhere(t => t.is("PRIMARY"))
      require(pkAt > 0, s"CREATE DICTIONARY without PRIMARY KEY: $stmt")
      val pk = strip(toks(pkAt + 2).text)
      val srcAt = toks.indexWhere(t => t.is("SOURCE"))
      var srcTable = ""
      var srcDb = currentDb
      if (srcAt > 0) {
        val close = matchParenTok(toks, srcAt + 1)
        var j = srcAt
        while (j < close) {
          if (toks(j).is("TABLE")) srcTable = strip(
            toks(j + 1).text.stripPrefix("'").stripSuffix("'"))
          if (toks(j).is("DB")) srcDb = strip(
            toks(j + 1).text.stripPrefix("'").stripSuffix("'"))
          j += 1
        }
      }
      require(srcTable.nonEmpty,
        s"CREATE DICTIONARY $dname: only SOURCE(CLICKHOUSE(TABLE ...)) is supported")
      dicts((ddb, dname)) = DictDef(srcDb, srcTable, pk)
      journalCatalog()
      return
    }

    val (db, name) = parseRef(nameTok)
    if (tables.contains((db, name))) {
      if (ifNotExists) return
      // During catalog replay an implicit-inner MV arrives as two journal
      // statements: `CREATE TABLE db.name …` (its inner table) followed by
      // `CREATE MATERIALIZED VIEW db.name TO db.name …` — the second must
      // bind the MV onto the just-attached inner table, not collide with it.
      val mvInnerReattach = isMv && attaching &&
        !mvs.exists(m => (m.db, m.name) == ((db, name)))
      if (!orReplace && !mvInnerReattach) fail(s"table $db.$name already exists")
      if (!mvInnerReattach) tables.remove((db, name))
    }

    if (isMv || kind == "VIEW") {
      // CREATE [MATERIALIZED] VIEW name [TO tgt] [ENGINE..] [POPULATE] AS SELECT
      val asAt = indexOfTopLevel(toks, "AS")
      require(asAt > 0, s"CREATE VIEW without AS SELECT: $stmt")
      val selectSql = ChLexer.render(toks.drop(asAt + 1))
      if (!isMv) {
        // plain view = a table-valued macro: store as a zero-column MV-less
        // table whose read path runs the SELECT
        viewDefs((db, name)) = selectSql
        journalCatalog()
        return
      }
      val toAt = toks.indexWhere(_.is("TO"))
      val (tdb, tname) =
        if (toAt > 0 && toAt < asAt) parseRef(strip(toks(toAt + 1).text))
        else {
          // MV with its own ENGINE: implicit inner table named after the MV
          val cd = inferColumnsFromSelect(selectSql)
          val inner = mkTable(db, name, cd, parseEngineClause(toks, asAt),
            partitionClause(toks, 0, asAt))
          tables((db, name)) = inner
          (db, name)
        }
      val src = findSourceTable(selectSql).getOrElse(
        fail(s"MV $db.$name: cannot find source table in: $selectSql"))
      mvs += ChMv(db, name, src._1, src._2, selectSql, tdb, tname)
      if (toks.exists(_.is("POPULATE"))) {
        val res = runSelect(selectSql, Map.empty)
        insertBlock((tdb, tname), res, castByPosition = true)
      }
      journalCatalog()
      return
    }

    // CREATE TABLE
    // AS SELECT (CTAS) or AS other_table (schema copy)?
    val parenAt = toks.indexWhere(_.text == "(")
    val engineAt = indexOfTopLevel(toks, "ENGINE")
    val asAt = indexOfTopLevel(toks, "AS")
    // the declared column list is the paren group BEFORE the ENGINE
    // clause; a paren after it belongs to the engine/ORDER BY/PARTITION
    // tail (`ENGINE = MergeTree ORDER BY (a, b) AS SELECT ...` is a
    // CTAS, hw03.md:123 — pre-fix the tuple parsed as column defs)
    if (parenAt < 0 || (asAt > 0 && asAt < parenAt) ||
      (engineAt > 0 && engineAt < parenAt)) {
      if (asAt > 0 && toks(asAt + 1).is("SELECT")) {
        val res = runSelect(ChLexer.render(toks.drop(asAt + 1)), Map.empty)
        val cols = res.schema.fields.map(f =>
          ColumnDef(f.name, f.dataType, f.nullable, None, None)).toSeq
        val t = mkTable(db, name, cols, parseEngineClause(toks, toks.length),
          partitionClause(toks, 0, asAt))
        tables((db, name)) = t
        insertBlock((db, name), res, castByPosition = false)
      } else if (asAt > 0) {
        val srcIdent = strip(toks(asAt + 1).text)
        val srcRef = parseRef(srcIdent)
        val srcSys =
          if (srcIdent.toLowerCase.startsWith("system.") &&
            !tables.contains(srcRef))
            systemTable(srcIdent.toLowerCase.stripPrefix("system."))
          else None
        srcSys match {
          case Some(sdf) =>
            // CREATE TABLE x AS system.y — clone the introspection
            // table's SCHEMA into an empty user table
            // (lecture_16.md:230)
            val cols = sdf.schema.fields.toSeq.map(f =>
              ColumnDef(f.name, f.dataType, f.nullable, None, None))
            tables((db, name)) = mkTable(db, name, cols,
              parseEngineClause(toks, toks.length), None)
          case None =>
            val srcT = lookup(srcRef)
            tables((db, name)) = mkTable(db, name, srcT.columns,
              parseEngineClause(toks, toks.length) match {
                case Engine.Memory => srcT.engine // AS t with no ENGINE: copy
                case e => e
              }, partitionClause(toks, 0, asAt).orElse(srcT.partitionBy))
        }
      } else fail(s"CREATE TABLE without columns or AS: $stmt")
      journalCatalog()
      return
    }
    val parenClose = matchParenTok(toks, parenAt)
    val colsSql = ChLexer.render(toks.slice(parenAt + 1, parenClose))
    // CTAS with both schema and AS SELECT is rare; handle columns form
    val defs = ChTypes.splitTopLevel(colsSql)
    val columns = defs.flatMap(parseColumnDef)
    val engine = parseEngineClause(toks, parenClose)
    val ddlEnd = if (asAt > parenClose) asAt else toks.length
    val created = mkTable(db, name, columns, engine,
      partitionClause(toks, parenClose, ddlEnd))
    created.ttl = ttlClause(toks, parenClose, ddlEnd)
    defs.flatMap(parseSkipIndex).foreach(ix =>
      created.skipIndexes(ix.name) = ix)
    tables((db, name)) = created
    if (asAt > parenClose && asAt > 0 && asAt + 1 < toks.length &&
      toks(asAt + 1).is("SELECT")) {
      val res = runSelect(ChLexer.render(toks.drop(asAt + 1)), Map.empty)
      insertBlock((db, name), res, castByPosition = true)
    }
    journalCatalog()
  }

  private val viewDefs = mutable.Map.empty[(String, String), String]

  /** `INDEX [IF NOT EXISTS] name expr TYPE type(args) [GRANULARITY n]` —
    * shared by the DDL column list and ALTER … ADD INDEX.
    */
  private def parseSkipIndex(defSql: String): Option[SkipIndexDef] = {
    val toks = ChLexer.tokenize(defSql)
    if (toks.isEmpty || !toks.head.is("INDEX")) return None
    var j = 1
    if (j < toks.length && toks(j).is("IF")) j += 3
    if (j >= toks.length) return None
    val iname = strip(toks(j).text); j += 1
    val typeAt = toks.indexWhere(_.is("TYPE"), j)
    if (typeAt < 0) return None
    val granAt = toks.indexWhere(_.is("GRANULARITY"), typeAt)
    val typeEnd = if (granAt > 0) granAt else toks.length
    // render() separates every token; tighten the call spelling so the
    // stored metadata reads like the DDL (`tokenbf_v1(1024, …)`)
    def tight(ts: Vector[ChLexer.Token]): String =
      ChLexer.render(ts).replace(" (", "(")
    Some(SkipIndexDef(iname,
      tight(toks.slice(j, typeAt)),
      tight(toks.slice(typeAt + 1, typeEnd)),
      if (granAt > 0 && granAt + 1 < toks.length)
        toks(granAt + 1).text.toInt else 1))
  }

  private def parseColumnDef(defSql: String): Option[ColumnDef] = {
    val toks = ChLexer.tokenize(defSql)
    if (toks.isEmpty) return None
    val head = toks.head
    if (head.is("INDEX") || head.is("CONSTRAINT") || head.is("PROJECTION"))
      return None // skip-index / constraint defs: not a column
    val name = strip(head.text)
    // type = tokens until a column-option keyword, spaced only between
    // two words (a named Tuple element is `name Type`)
    val optionKw = Set("DEFAULT", "MATERIALIZED", "ALIAS", "CODEC", "TTL",
      "COMMENT", "EPHEMERAL")
    var i = 1
    val typeSb = new StringBuilder
    while (i < toks.length && !optionKw(toks(i).upper)) {
      if (i > 1 && toks(i - 1).isIdent && toks(i).isIdent) typeSb += ' '
      typeSb ++= toks(i).text; i += 1
    }
    val parsed = ChTypes.parse(typeSb.result())
    var default: Option[String] = None
    var materializedE: Option[String] = None
    while (i < toks.length) {
      val kw = toks(i).upper
      var j = i + 1
      while (j < toks.length && !optionKw(toks(j).upper)) j += 1
      val body = ChLexer.render(toks.slice(i + 1, j))
      kw match {
        case "DEFAULT" => default = Some(body)
        case "MATERIALIZED" | "ALIAS" => materializedE = Some(body)
        case _ => // CODEC/TTL/COMMENT: storage hints — dropped
      }
      i = j
    }
    Some(ColumnDef(name, parsed.dataType, parsed.nullable, default,
      materializedE, parsed.enumMap))
  }

  /** Table-level `TTL expr` between `from` and `until` (outside the
    * column parens, so column-level TTL hints never match).
    */
  private def ttlClause(toks: Vector[ChLexer.Token], from: Int,
                        until: Int): Option[String] = {
    val bounded = toks.take(until)
    val k = bounded.indexWhere(_.is("TTL"), math.max(from, 0))
    if (k < 0) return None
    var j = k + 1
    val stops = Set("SETTINGS", "COMMENT", "AS", "ORDER", "PARTITION",
      "PRIMARY", "SAMPLE", "ENGINE")
    val sb = Vector.newBuilder[ChLexer.Token]
    var depth = 0
    while (j < bounded.length && (depth > 0 || !stops(bounded(j).upper))) {
      if (bounded(j).text == "(") depth += 1
      else if (bounded(j).text == ")") depth -= 1
      sb += bounded(j); j += 1
    }
    val rendered = ChLexer.render(sb.result())
    if (rendered.isEmpty) None else Some(rendered)
  }

  /** Table-level `PARTITION BY expr` between token `from` and `until`
    * (bounded so a CTAS SELECT body's window `OVER (PARTITION BY …)` is
    * never mistaken for the table clause — those sit past `until`).
    */
  private def partitionClause(toks: Vector[ChLexer.Token], from: Int,
                              until: Int): Option[String] = {
    val bounded = toks.take(until)
    var k = bounded.indexWhere(_.is("PARTITION"), math.max(from, 0))
    while (k >= 0 && (k + 1 >= bounded.length || !bounded(k + 1).is("BY")))
      k = bounded.indexWhere(_.is("PARTITION"), k + 1)
    if (k < 0) return None
    var j = k + 2
    val stops = Set("ORDER", "PRIMARY", "SAMPLE", "TTL", "SETTINGS",
      "COMMENT", "AS", "ENGINE")
    val sb = Vector.newBuilder[ChLexer.Token]
    var depth = 0
    while (j < bounded.length && (depth > 0 || !stops(bounded(j).upper))) {
      if (bounded(j).text == "(") depth += 1
      else if (bounded(j).text == ")") depth -= 1
      sb += bounded(j); j += 1
    }
    val rendered = ChLexer.render(sb.result())
    // PARTITION BY tuple() = the unpartitioned default
    if (rendered.isEmpty || rendered.equalsIgnoreCase("tuple()")) None
    // `PARTITION BY (a, b)` tuple wrapper strips; a call like
    // `toYYYYMM(d)` keeps its own parens
    else if (rendered.startsWith("("))
      Some(rendered.stripPrefix("(").stripSuffix(")").trim)
    else Some(rendered)
  }

  private def parseEngineClause(toks: Vector[ChLexer.Token],
                                from: Int): Engine = {
    val at = toks.indexWhere(_.is("ENGINE"), from)
    val realAt = if (at < 0) toks.indexWhere(_.is("ENGINE")) else at
    if (realAt < 0) return Engine.Memory
    var i = realAt + 1
    if (toks(i).text == "=") i += 1
    val ename = toks(i).text
    val args: Seq[String] =
      if (i + 1 < toks.length && toks(i + 1).text == "(") {
        val close = matchParenTok(toks, i + 1)
        ChTypes.splitTopLevel(ChLexer.render(toks.slice(i + 2, close)))
      } else Seq.empty
    val lower = ename.toLowerCase
    def clauseExpr(kw1: String, kw2: String): Option[Seq[String]] = {
      var k = toks.indexWhere(t => t.is(kw1), realAt)
      while (k > 0 && (k + 1 >= toks.length || !toks(k + 1).is(kw2)))
        k = toks.indexWhere(t => t.is(kw1), k + 1)
      if (k < 0) None
      else {
        var j = k + 2
        val stops = Set("ORDER", "PARTITION", "PRIMARY", "SAMPLE", "TTL",
          "SETTINGS", "COMMENT", "AS")
        if (toks(j).text == "(") {
          val close = matchParenTok(toks, j)
          Some(ChTypes.splitTopLevel(ChLexer.render(toks.slice(j + 1, close))))
        } else {
          val sb = Vector.newBuilder[ChLexer.Token]
          while (j < toks.length && !stops(toks(j).upper)) { sb += toks(j); j += 1 }
          Some(ChTypes.splitTopLevel(ChLexer.render(sb.result())))
        }
      }
    }
    val orderKeys = clauseExpr("ORDER", "BY")
      .orElse(clauseExpr("PRIMARY", "KEY"))
      .getOrElse(Seq.empty)
      .filterNot(_.equalsIgnoreCase("tuple()"))
    val sampleBy = clauseExpr("SAMPLE", "BY").flatMap(_.headOption)

    def stripQ(s: String): String = s.stripPrefix("'").stripSuffix("'")
    // Replicated* wrappers: first two args are zk path + replica name
    val (family, fargs) =
      if (lower.startsWith("replicated"))
        (lower.stripPrefix("replicated"), args.drop(2))
      else (lower, args)
    family match {
      case "mergetree" | "graphitemergetree" =>
        Engine.MergeTree("plain", orderKeys, None, None, Nil, sampleBy)
      case "replacingmergetree" =>
        Engine.MergeTree("replacing", orderKeys, fargs.headOption, None, Nil,
          sampleBy)
      case "summingmergetree" =>
        Engine.MergeTree("summing", orderKeys, None, None, fargs, sampleBy)
      case "collapsingmergetree" =>
        Engine.MergeTree("collapsing", orderKeys, None, fargs.headOption, Nil,
          sampleBy)
      case "versionedcollapsingmergetree" =>
        Engine.MergeTree("vcollapsing", orderKeys,
          fargs.lift(1), fargs.headOption, Nil, sampleBy)
      case "aggregatingmergetree" =>
        Engine.MergeTree("aggregating", orderKeys, None, None, Nil, sampleBy)
      case "null" => Engine.Null
      case "kafka" => Engine.Kafka
      case "distributed" =>
        Engine.Distributed(stripQ(fargs(1)), stripQ(fargs(2)))
      case "buffer" => Engine.Buffer(stripQ(fargs(0)), stripQ(fargs(1)))
      case "join" => Engine.Join(fargs.drop(2)) // Join(ANY, LEFT, k...)
      case _ => Engine.Memory // Memory/Set/Log/TinyLog/URL/File/...
    }
  }

  private def inferColumnsFromSelect(selectSql: String): Seq[ColumnDef] =
    runSelect(selectSql, Map.empty).limit(0).schema.fields.map(f =>
      ColumnDef(f.name, f.dataType, f.nullable, None, None)).toSeq

  private def findSourceTable(selectSql: String): Option[(String, String)] = {
    val toks = ChLexer.tokenize(selectSql)
    val fromAt = toks.indexWhere(_.is("FROM"))
    if (fromAt < 0 || fromAt + 1 >= toks.length) None
    else {
      val t = toks(fromAt + 1)
      if (t.isIdent) Some(parseRef(strip(t.text))) else None
    }
  }

  // ------------------------------------------------------ DROP / ALTER

  private def runDrop(toks: Vector[ChLexer.Token]): Unit = {
    val what = toks(1).upper
    var i = 2
    if (i < toks.length && toks(i).is("IF")) i += 2 // IF EXISTS
    val name = strip(toks(i).text)
    // a dropped table's projections must disarm the transparent router
    // and lose their pre-aggregate files — otherwise a recreated table at
    // the same path would route to STALE aggregates
    def dropProjections(t: ChTable): Unit = {
      if (t.projections.nonEmpty) {
        t.path.foreach(graft.plans.ProjectionRouting.unregister)
        t.projections.values.foreach(p => deleteDir(p.path))
        t.projections.clear()
      }
    }
    what match {
      case "DATABASE" =>
        databases -= name
        tables.keys.filter(_._1 == name).toSeq
          .foreach(k => tables.remove(k).foreach(dropProjections))
        mvs.filterInPlace(m => m.db != name)
      case "TABLE" | "VIEW" | "DICTIONARY" =>
        val ref = parseRef(name)
        tables.remove(ref).foreach(dropProjections)
        viewDefs.remove(ref)
        dicts.remove(ref)
        mvs.filterInPlace(m => (m.db, m.name) != ref)
      case "FUNCTION" =>
        udfs.dropFunction(name)
      case other => fail(s"unsupported DROP $other")
    }
    journalCatalog()
  }

  private def runOptimize(toks: Vector[ChLexer.Token]): Unit = {
    val ref = parseRef(strip(toks(2).text))
    val t = lookup(ref)
    val folded =
      if (toks.exists(_.is("DEDUPLICATE"))) tableDf(t).dropDuplicates()
      else finalDf(t)
    // TTL is enforced at merge time (lecture_14.md:217-242): a forced
    // merge drops rows whose TTL timestamp has passed
    val kept = t.ttl match {
      case Some(e) => folded.filter(expr(s"($e) > now()"))
      case None => folded
    }
    replaceContents(t, kept)
  }

  /** The Enum8/16 value→name table of `column` on the CH-named table
    * `ident` (lecture_20.md:620's query_log `type`, plus any user DDL
    * enum) — shared by the SELECT rewrite resolver and the mutation
    * path, so `ALTER … DELETE WHERE level = 2` maps like a SELECT.
    */
  private def enumValuesOf(ident: String,
                           column: String): Option[Map[Int, String]] = {
    val lower = strip(ident).toLowerCase
    val isQueryLog = lower == "system.query_log" ||
      (currentDb == "system" && lower == "query_log")
    if (isQueryLog && column.equalsIgnoreCase("type"))
      // the reference's Enum8 (lecture_20.md:620) — our synthesized
      // query_log stores the labels
      Some(Map(1 -> "QueryStart", 2 -> "QueryFinish",
        3 -> "ExceptionBeforeStart", 4 -> "ExceptionWhileProcessing"))
    else
      tables.get(parseRef(strip(ident))).flatMap(
        _.columns.find(_.name.equalsIgnoreCase(column))
          .flatMap(_.enumMap).map(_.toMap))
  }

  private def runAlter(stmt: String, toks: Vector[ChLexer.Token]): Unit = {
    val ref = parseRef(strip(toks(2).text))
    val t = lookup(ref)
    val op = toks(3).upper
    // the mutation WHERE compares enum columns by number like a SELECT
    def enumMapped(predToks: Vector[ChLexer.Token]): String =
      ChLexer.render(ChSqlRewrite.mapEnumComparisons(predToks,
        // the lookup hands over the reference as written; the mutation
        // target is the ALTER's own table, so the qualifier (if any)
        // is redundant — bind on the bare column name
        col => enumValuesOf(toks(2).text, col.split('.').last)))
    op match {
      case "DELETE" => // ALTER TABLE t DELETE WHERE pred
        val whereAt = toks.indexWhere(_.is("WHERE"))
        val pred = enumMapped(toks.drop(whereAt + 1))
        // CH deletes rows where pred is TRUE; a NULL predicate keeps the
        // row — NOT(pred) alone would drop every NULL-predicate row
        val kept = tableDf(t)
          .filter(not(coalesce(expr(pred), lit(false))))
        replaceContents(t, kept)
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "UPDATE" => // ALTER TABLE t UPDATE a = e1, b = e2 WHERE pred
        val whereAt = indexOfTopLevel(toks, "WHERE")
        val assigns = ChTypes.splitTopLevel(
          ChLexer.render(toks.slice(4, whereAt)))
        val pred = enumMapped(toks.drop(whereAt + 1))
        var df = tableDf(t)
        assigns.foreach { a =>
          val eq = a.indexOf('=')
          val c = a.substring(0, eq).trim
          val e = a.substring(eq + 1).trim
          df = df.withColumn(c,
            when(expr(pred), expr(e)).otherwise(col(c)))
        }
        replaceContents(t, df)
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "DROP" | "DETACH" if toks.length > 4 && toks(4).is("PARTITION") =>
        // ALTER TABLE t DROP|DETACH PARTITION v — the reference's cheap
        // bulk-delete unit (lecture_16.md:131-139, hw03.md:228-283).
        // DETACH parks the rows for a later ATTACH; DROP discards.
        val v = partitionValueText(toks.drop(5))
        requirePartitioned(t)
        if (op == "DETACH") {
          val parked = rawDf(t)
            .filter(col("__graft_partition") === lit(v)).localCheckpoint()
          t.detached(v) = parked
        }
        t.path match {
          case Some(p) =>
            // hive layout: dropping a partition IS a directory delete
            val dir = s"$p/__graft_partition=$v"
            if (pathExists(dir)) {
              deleteDir(dir)
              // dropping the LAST partition must not leave a root dir
              // with no parquet under it — that read would throw instead
              // of returning an empty table
              val hp = new org.apache.hadoop.fs.Path(p)
              val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              val anyLeft = fs.listStatus(hp).exists(st =>
                st.isDirectory &&
                  st.getPath.getName.startsWith("__graft_partition="))
              if (!anyLeft) deleteDir(p)
            } else replaceContents(t,
              rawDf(t).filter(col("__graft_partition") =!= lit(v)))
          case None =>
            t.blocks.indices.foreach { i =>
              t.blocks(i) = t.blocks(i)
                .filter(col("__graft_partition") =!= lit(v))
            }
        }
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "ATTACH" if toks.length > 4 && toks(4).is("PARTITION") =>
        // ALTER TABLE t ATTACH PARTITION v — re-attach a DETACHed one
        val v = partitionValueText(toks.drop(5))
        requirePartitioned(t)
        val parked = t.detached.remove(v).getOrElse(
          fail(s"no detached partition $v on ${t.db}.${t.name}"))
        t.path match {
          case Some(p) =>
            val w = parked.write.mode(org.apache.spark.sql.SaveMode.Append)
            w.partitionBy("__graft_partition").parquet(p)
          case None => t.blocks += parked
        }
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "ADD" if toks.length > 4 && toks(4).is("PROJECTION") =>
        // ALTER TABLE t ADD PROJECTION [IF NOT EXISTS] p (SELECT … GROUP
        // BY …) — homeworks/hw08.md:38-49. The def is parsed now;
        // MATERIALIZE builds the pre-aggregate and arms the router.
        val nameAt = if (toks(5).is("IF")) 8 else 5
        val pname = strip(toks(nameAt).text)
        val open = toks.indexWhere(_.text == "(", nameAt)
        val close = matchParenTok(toks, open)
        t.projections(pname) = parseProjectionDef(t, pname,
          toks.slice(open + 1, close))
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "MATERIALIZE" if toks.length > 4 && toks(4).is("PROJECTION") =>
        val pname = strip(toks(5).text)
        val p = t.projections.getOrElse(pname,
          fail(s"no projection $pname on ${t.db}.${t.name}"))
        materializeProjection(t, p)
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "DROP" | "CLEAR" if toks.length > 4 && toks(4).is("PROJECTION") =>
        // DROP removes the definition; CLEAR only deletes the built
        // files and keeps the metadata so MATERIALIZE can rebuild it
        // (the ClickHouse contract, lecture_13.md:187-314)
        val nameAt = if (toks(5).is("IF")) 7 else 5
        val pname = strip(toks(nameAt).text)
        val removed =
          if (op == "DROP") t.projections.remove(pname)
          else t.projections.get(pname)
        removed.foreach { p =>
          t.path.foreach(graft.plans.ProjectionRouting.unregister)
          deleteDir(p.path)
          // the router holds one slot per base path — if ANOTHER
          // materialized projection survives, re-arm it instead of
          // silently falling back to full scans
          t.path.foreach(bp => t.projections.values
            .find(o => o.name != pname && pathExists(o.path))
            .foreach(o => graft.plans.ProjectionRouting.register(bp, o)))
        }
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "MODIFY" if toks.length > 4 && toks(4).is("TTL") =>
        // ALTER TABLE t MODIFY TTL expr (hw11.md:197)
        t.ttl = Some(ChLexer.render(toks.drop(5)))
        journalCatalog()
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "MATERIALIZE" if toks.length > 4 && toks(4).is("TTL") =>
        // apply the TTL to existing rows NOW (lecture_14's re-evaluation)
        t.ttl.foreach(e =>
          replaceContents(t, tableDf(t).filter(expr(s"($e) > now()"))))
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "ADD" if toks.length > 4 && toks(4).is("INDEX") =>
        // ALTER TABLE t ADD INDEX [IF NOT EXISTS] name expr TYPE
        // type(args) [GRANULARITY n] (lecture_08.md:109-159)
        val idx = parseSkipIndex(ChLexer.render(toks.drop(4))).getOrElse(
          fail(s"unparseable ADD INDEX: $stmt"))
        t.skipIndexes(idx.name) = idx
        journalCatalog()
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "MATERIALIZE" if toks.length > 4 && toks(4).is("INDEX") =>
        // index collection is immediate here (reads are exact); the
        // mutation row is what the lecture inspects (lecture_08.md:127-136)
        val iname = strip(toks(5).text)
        require(t.skipIndexes.contains(iname),
          s"no index $iname on ${t.db}.${t.name}")
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "DROP" | "CLEAR" if toks.length > 4 && toks(4).is("INDEX") =>
        // DROP removes the declaration; CLEAR keeps it (only built data
        // is discarded in the reference)
        val nameAt = if (toks(5).is("IF")) 7 else 5
        val iname = strip(toks(nameAt).text)
        if (op == "DROP") t.skipIndexes.remove(iname)
        journalCatalog()
        logMutation(ref, ChLexer.render(toks.drop(3)))
      case "ADD" =>
        // ALTER TABLE t ADD COLUMN name Type [DEFAULT e] [AFTER c|FIRST]
        // — the position modifiers order the declared schema
        // (homeworks/hw03.md:41's `ADD COLUMN calories ... AFTER price`)
        var defTail = toks.drop(5)
        var insertAt = t.columns.length
        if (defTail.length >= 2 && defTail(defTail.length - 2).is("AFTER")) {
          val anchor = strip(defTail.last.text)
          val idx = t.columns.indexWhere(_.name == anchor)
          require(idx >= 0, s"ADD COLUMN AFTER $anchor: no such column")
          insertAt = idx + 1
          defTail = defTail.dropRight(2)
        } else if (defTail.nonEmpty && defTail.last.is("FIRST")) {
          insertAt = 0
          defTail = defTail.dropRight(1)
        }
        val cd = parseColumnDef(ChLexer.render(defTail)).get
        val newCols =
          (t.columns.take(insertAt) :+ cd) ++ t.columns.drop(insertAt)
        val withCol = tableDf(t).withColumn(cd.name,
          cd.default.map(expr).getOrElse(ChTypes.defaultColumn(cd.dataType))
            .cast(cd.dataType))
          .select(newCols.map(c => col(s"`${c.name}`")): _*)
        val withColMat =
          if (t.path.isDefined) withCol.localCheckpoint() else withCol
        val nt = carryTableState(t, mkTable(t.db, t.name,
          newCols, t.engine, t.partitionBy))
        replaceContents(nt, withColMat)
        tables(ref) = nt
      case "DROP" => // ALTER TABLE t DROP COLUMN name
        val cname = strip(toks(5).text)
        val droppedMat =
          if (t.path.isDefined) tableDf(t).drop(cname).localCheckpoint()
          else tableDf(t).drop(cname)
        val nt = carryTableState(t, mkTable(t.db, t.name,
          t.columns.filterNot(_.name == cname), t.engine, t.partitionBy))
        replaceContents(nt, droppedMat)
        tables(ref) = nt
      case other => fail(s"unsupported ALTER $other")
    }
  }

  // ------------------------------------------------------ INSERT

  private def runInsert(stmt: String, toks: Vector[ChLexer.Token]): Unit = {
    // INSERT INTO [TABLE] [db.]t [(cols)] VALUES ... | SELECT ... | FORMAT
    var i = 2
    if (toks(i).is("TABLE")) i += 1
    val ref = parseRef(strip(toks(i).text))
    i += 1
    var colList: Option[Seq[String]] = None
    if (i < toks.length && toks(i).text == "(") {
      val close = matchParenTok(toks, i)
      colList = Some(toks.slice(i + 1, close).filter(_.text != ",")
        .map(t => strip(t.text)))
      i = close + 1
    }
    val t = lookup(ref)
    if (i >= toks.length) fail(s"INSERT without data: $stmt")
    val block: DataFrame =
      if (toks(i).is("VALUES")) {
        val valuesSql = ChLexer.render(toks.drop(i + 1))
        val raw = spark.sql(s"SELECT * FROM VALUES $valuesSql")
        val names = colList.getOrElse(t.columns.map(_.name))
        raw.toDF(names: _*)
      } else if (toks(i).is("SELECT") || toks(i).is("WITH") ||
        toks(i).text == "(") {
        val res = runSelect(ChLexer.render(toks.drop(i)), Map.empty)
        colList match {
          case Some(names) => res.toDF(names: _*)
          case None => res.toDF(t.columns.filter(_.materialized.isEmpty)
            .map(_.name).take(res.columns.length): _*)
        }
      } else if (toks(i).is("FROM") && i + 1 < toks.length &&
        toks(i + 1).is("INFILE")) {
        // INSERT INTO t FROM INFILE 'path' [FORMAT CSVWithNames] — the SQL
        // spelling of the CLI load (homeworks/hw03.md:114-117)
        val path = strip(toks(i + 2).text.stripPrefix("'").stripSuffix("'"))
        val fmtAt = toks.indexWhere(_.is("FORMAT"), i + 3)
        val fmt = if (fmtAt > 0) toks(fmtAt + 1).text else "CSVWithNames"
        return insertFileBlock(ref, path, fmt)
      } else if (toks(i).is("FORMAT")) {
        // INSERT INTO t FORMAT <fmt>\n<payload> — the client inline-data
        // idiom (lecture_03.md:196-203 `INSERT INTO … FORMAT Values
        // (…)`, homeworks/hw17.md Kafka JSONEachRow probes). Everything
        // after the format name in the RAW statement text is DATA, not
        // SQL: recover it with a literal-aware scan (the token stream
        // would have mangled it).
        val fmt = toks(i + 1).text
        val fmtAt = indexOfWordOutsideLiterals(stmt, "FORMAT")
        if (fmtAt < 0) fail(s"unsupported INSERT form: $stmt")
        val afterKw = stmt.indexOf(fmt, fmtAt + "FORMAT".length) match {
          case -1 => fail(s"unsupported INSERT form: $stmt")
          case p => p + fmt.length
        }
        val payload = stmt.substring(afterKw)
        if (payload.trim.isEmpty)
          fail("INSERT ... FORMAT without data — inline payload expected " +
            "(or use INSERT ... FROM INFILE 'path' for the `< file` idiom)")
        return insertInlineBlock(ref, colList, payload, fmt)
      } else fail(s"unsupported INSERT form: $stmt")
    insertBlock(ref, block, castByPosition = true)
  }

  /** The reference's CLI load idiom `clickhouse-client --query "INSERT
    * INTO t FORMAT CSVWithNames" < file` (homeworks/hw03.md:114-117), as
    * an API: read `path` in the named FORMAT and land it through the
    * normal insert path (schema align, engine fold, MV cascade).
    */
  def insertFromFile(tableRef: String, path: String,
                     format: String = "CSVWithNames"): Unit =
    insertFileBlock(parseRef(strip(tableRef)), path, format)

  /** Streaming INSERT ingestion (the HTTP upload path): parses the
    * `INSERT INTO t [(cols)] FORMAT <fmt>` prefix ONCE, then lands each
    * payload batch as its own block through the normal insert path —
    * its own part, its own engine fold, its own MV firing, exactly
    * ClickHouse's per-block contract for large inserts. For *WithNames
    * formats the first batch's header line is replayed onto every later
    * batch. Returns the number of blocks landed.
    */
  def insertStream(prefix: String, batches: Iterator[String]): Long = {
    val toks = ChLexer.tokenize(ChLexer.cleanScript(prefix))
    if (toks.length < 5 || !toks.head.is("INSERT") || !toks(1).is("INTO"))
      fail(s"insertStream: not an INSERT prefix: $prefix")
    val ref = parseRef(strip(toks(2).text))
    lookup(ref) // fail fast on an unknown table
    var i = 3
    val colList =
      if (i < toks.length && toks(i).text == "(") {
        val close = matchParenTok(toks, i)
        val cols = toks.slice(i + 1, close)
          .filter(_.text != ",").map(t => strip(t.text))
        i = close + 1
        Some(cols)
      } else None
    if (i + 1 >= toks.length || !toks(i).is("FORMAT"))
      fail(s"insertStream: INSERT prefix must end in FORMAT <fmt>: $prefix")
    val fmt = toks(i + 1).text
    val withNames = fmt.toLowerCase.endsWith("withnames")
    var header: Option[String] = None
    var blocks = 0L
    batches.foreach { b0 =>
      val b =
        if (!withNames) b0
        else header match {
          case None =>
            header = b0.linesIterator.find(_.trim.nonEmpty)
            b0
          case Some(h) => h + "\n" + b0
        }
      if (b.trim.nonEmpty) {
        insertInlineBlock(ref, colList, b, fmt)
        blocks += 1
      }
    }
    blocks
  }

  private def insertFileBlock(ref: (String, String), path: String,
                              format: String): Unit = {
    val t = lookup(ref)
    val insertable = t.columns.filter(_.materialized.isEmpty)
    val positional = StructType(insertable.map(c =>
      StructField(c.name, c.dataType, nullable = true)))
    // *WithNames / JSON / Parquet formats align BY NAME (ClickHouse reads
    // the header — input_format_with_names_use_header default); headerless
    // CSV/TSV are positional, so the declared schema names the columns
    val block = format.toLowerCase match {
      case "csvwithnames" => Formats.csvWithNames(spark, path)
      case "tsvwithnames" | "tabseparatedwithnames" =>
        Formats.tsvWithNames(spark, path)
      case "csv" => spark.read.schema(positional).csv(path)
      case "tsv" | "tabseparated" => Formats.tsv(spark, path, positional)
      case "jsoneachrow" => Formats.jsonEachRow(spark, path)
      case "parquet" => Formats.parquet(spark, path)
      case other => fail(s"INSERT FROM INFILE: unsupported FORMAT $other")
    }
    insertBlock(ref, block, castByPosition = false)
  }

  /** First offset of keyword `word` in `s` at word boundaries, skipping
    * single-quoted literals and backtick identifiers; -1 if absent.
    */
  private def indexOfWordOutsideLiterals(s: String, word: String): Int = {
    var i = 0; var inStr = false; var inTick = false
    val n = s.length; val w = word.length
    while (i < n) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false; i += 1 }
      else if (inTick) { if (c == '`') inTick = false; i += 1 }
      else if (c == '\'') { inStr = true; i += 1 }
      else if (c == '`') { inTick = true; i += 1 }
      else if (s.regionMatches(true, i, word, 0, w) &&
        (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1))) &&
        (i + w >= n || !Character.isLetterOrDigit(s.charAt(i + w)))) return i
      else i += 1
    }
    -1
  }

  /** Inline `INSERT … FORMAT <fmt>` payload: parse the raw data text in
    * the named format and land it through the normal insert path
    * (schema align, engine fold, MV cascade). Headerless CSV/TSV/Values
    * align by POSITION onto the column list (or the insertable columns);
    * *WithNames / JSONEachRow align by NAME — the same contract as
    * [[insertFileBlock]]. Caveats (documented): the statement pipeline
    * sees the payload as script text, so fields containing a bare `;`,
    * an unquoted `--` (comment-stripped), or a line starting with a
    * statement keyword can be mangled — single- and double-quoted
    * payload content (JSON strings, quoted CSV) is literal-protected by
    * the lexer; anything beyond that should use the FROM INFILE form.
    */
  /** ClickHouse TSV unescape (`\t` `\n` `\r` `\\` → the characters),
    * left-to-right, as a codegen'd regexp chain: escaped backslashes
    * park on a \\u0001 placeholder first so `\\t` decodes to backslash+t,
    * not tab. (Data containing a literal \\u0001 would collide with the
    * placeholder — not representable in the reference's TSV either.)
    */
  private def tsvUnescape(c: Column): Column = {
    val ph = "\u0001"
    val noBs = regexp_replace(c, "\\\\\\\\", ph)
    val t1 = regexp_replace(noBs, "\\\\t", "\t")
    val t2 = regexp_replace(t1, "\\\\n", "\n")
    val t3 = regexp_replace(t2, "\\\\r", "\r")
    regexp_replace(t3, ph, "\\\\")
  }

  /** CSV payload → one Dataset element per RECORD: physical lines
    * re-join while the double-quote count is odd, so a quoted field
    * with an embedded newline stays one record (RFC / ClickHouse CSV).
    */
  private def csvRecords(payload: String)
  : org.apache.spark.sql.Dataset[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quotes = 0
    payload.linesIterator.foreach { l =>
      if (cur.isEmpty && l.trim.isEmpty) ()
      else {
        if (cur.nonEmpty) cur += '\n'
        cur ++= l
        quotes += l.count(_ == '"')
        if (quotes % 2 == 0) { out += cur.result(); cur.clear(); quotes = 0 }
      }
    }
    if (cur.nonEmpty) out += cur.result()
    implicit val enc = org.apache.spark.sql.Encoders.STRING
    spark.createDataset(out.result())
  }

  private def insertInlineBlock(ref: (String, String),
                                colList: Option[Seq[String]],
                                payload: String, format: String): Unit = {
    val t = lookup(ref)
    val insertable = t.columns.filter(_.materialized.isEmpty)
    val posNames = colList.getOrElse(insertable.map(_.name))
    val positional = StructType(posNames.map { n =>
      val dt = t.columns.find(_.name.equalsIgnoreCase(n))
        .map(_.dataType).getOrElse(StringType)
      StructField(n, dt, nullable = true)
    })
    def lines = {
      implicit val enc = org.apache.spark.sql.Encoders.STRING
      spark.createDataset(
        payload.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq)
    }
    val block = format.toLowerCase match {
      case "values" =>
        val raw = spark.sql(s"SELECT * FROM VALUES ${payload.trim}")
        raw.toDF(posNames.take(raw.columns.length): _*)
      case "csv" =>
        // \N is NULL (ClickHouse's representation); a bare empty field
        // stays an empty string; '"' as the escape char reads RFC
        // doubled quotes ("say ""hi""") instead of backslash escapes;
        // records re-joined quote-aware so quoted embedded newlines
        // survive (ClickHouse CSV allows them)
        spark.read.schema(positional).option("nullValue", "\\N")
          .option("emptyValue", "").option("escape", "\"")
          .option("multiLine", "true").csv(csvRecords(payload))
      case "csvwithnames" =>
        spark.read.option("header", "true").option("nullValue", "\\N")
          .option("emptyValue", "").option("escape", "\"")
          .option("multiLine", "true").csv(csvRecords(payload))
      case "tsv" | "tabseparated" | "tsvwithnames" |
           "tabseparatedwithnames" =>
        // ClickHouse TSV never quotes: values escape \t \n \r \\ and
        // NULL is \N, so a raw tab is always a separator. Split + field
        // unescape as a codegen'd Catalyst pass — spark.read.csv would
        // keep the escapes verbatim, conflate empty with NULL, and
        // trip over a value starting with '"'.
        val header = format.toLowerCase.contains("withnames")
        val allLines = payload.linesIterator.filter(_.trim.nonEmpty).toSeq
        if (allLines.isEmpty)
          fail("INSERT ... FORMAT without data — inline payload expected")
        val names =
          if (header) allLines.head.split("\t", -1).toSeq else posNames
        val dataLines = if (header) allLines.tail else allLines
        implicit val enc = org.apache.spark.sql.Encoders.STRING
        val arr = split(col("value"), "\t", -1)
        spark.createDataset(dataLines).select(names.zipWithIndex.map {
          case (cn, ix) =>
            val f = get(arr, lit(ix)) // null-safe on short rows
            val un = when(f === "\\N", lit(null).cast(StringType))
              .otherwise(tsvUnescape(f))
            t.columns.find(_.name.equalsIgnoreCase(cn)).map(_.dataType)
              match {
                case Some(StringType) | None => un.as(cn)
                case Some(dt) => un.cast(dt).as(cn)
              }
        }.toSeq: _*)
      case "jsoneachrow" =>
        // a JSON object omitting a field yields NULL from the reader; a
        // ClickHouse non-Nullable column takes its DEFAULT / type default
        // instead (input_format_defaults_for_omitted_fields)
        val raw = spark.read.json(lines)
        val present = raw.columns.map(c => c.toLowerCase -> c).toMap
        t.columns.foldLeft(raw) { (df, c) =>
          present.get(c.name.toLowerCase) match {
            case Some(src) if !c.nullable =>
              df.withColumn(src, coalesce(col(src),
                c.default.map(expr).getOrElse(ChTypes.defaultColumn(c.dataType))
                  .cast(c.dataType)))
            case _ => df
          }
        }
      case other => fail(s"INSERT ... FORMAT $other: unsupported inline " +
        "payload format (Values, CSV[WithNames], TSV[WithNames], " +
        "JSONEachRow)")
    }
    insertBlock(ref, block, castByPosition = false)
  }

  /** Core insert path: schema-align the block, store it (engine
    * permitting), fire attached MVs on the BLOCK (the CH MV contract:
    * triggers see the inserted block, never the whole table).
    */
  private def insertBlock(ref: (String, String), blockIn0: DataFrame,
                          castByPosition: Boolean,
                          fireMvs: Boolean = true): Unit = {
    val t = lookup(ref)
    // ClickHouse aligns CTAS / INSERT SELECT blocks by POSITION:
    // `CREATE TABLE t (a UInt32) … AS SELECT number …` lands the selected
    // data in `a`, not a DEFAULT-filled zero. When every block column
    // already matches a declared name (the MV-cascade contract aligns by
    // name) keep the names; otherwise rename positionally onto the
    // insertable (non-MATERIALIZED) columns, failing loudly on overflow.
    val blockIn = {
      val declared = t.columns.map(_.name.toLowerCase).toSet
      if (!castByPosition || t.columns.isEmpty ||
        blockIn0.columns.forall(c => declared(c.toLowerCase))) blockIn0
      else {
        val insertable = t.columns.filter(_.materialized.isEmpty).map(_.name)
        if (blockIn0.columns.length > insertable.length)
          fail(s"insert into ${t.db}.${t.name}: block has " +
            s"${blockIn0.columns.length} columns but only " +
            s"${insertable.length} are insertable")
        blockIn0.toDF(insertable.take(blockIn0.columns.length): _*)
      }
    }
    val block = alignToSchema(t, blockIn)
    t.engine match {
      case Engine.Null | Engine.Kafka => // rows discarded, MVs still fire
      case Engine.Distributed(db, tbl) =>
        return insertBlock((db, tbl), block, castByPosition = false)
      case Engine.Buffer(db, tbl) =>
        return insertBlock((db, tbl), block, castByPosition = false)
      case _ =>
        // an attached table resumes its part numbering from disk
        if (t.nextSeq == 0L && t.path.exists(pathExists))
          t.nextSeq = rawDf(t).agg(max(col("__graft_seq")))
            .collect().head.getLong(0) + 1L
        val seq = t.nextSeq
        t.nextSeq += 1
        // system.part_log NewPart event. Partitioned blocks may split
        // into several parts at write; the partition breakdown is not
        // known without forcing the block here (hot ingest path), so the
        // event logs per INSERT — exact part name for unpartitioned
        // tables, a block id otherwise.
        partLog += ((System.currentTimeMillis(), "NewPart", t.db, t.name,
          if (t.partitionBy.isEmpty) s"all_${seq}_${seq}_0"
          else s"block_$seq",
          if (t.partitionBy.isEmpty) "all" else ""))
        if (partLog.length > queryLogCap)
          partLog.remove(0, partLog.length - queryLogCap)
        // a summing/replacing MergeTree part is written MERGED: the fold
        // applies within each inserted block immediately
        // (lecture_07.md:448-465 — one block of 10 id=1 rows lands as a
        // single summed row; FINAL only merges ACROSS parts). Collapsing
        // engines do NOT net out inside a part — ClickHouse keeps the
        // unpaired -1/+1 rows so later parts can cancel them
        // (lecture_07.md:680-736).
        val perBlockFold = t.engine match {
          case m: Engine.MergeTree => m.kind == "summing" || m.kind == "replacing"
          case _ => false
        }
        // PARTITION BY: the partition value is stamped BEFORE any fold,
        // because parts of different partitions never merge — the fold
        // keys extend with it (lecture_04.md:90-102: the partition is the
        // merge boundary)
        val withPart = t.partitionBy match {
          case Some(pb) => block.withColumn("__graft_partition",
            partitionExpr(pb))
          case None => block
        }
        val stored =
          if (perBlockFold)
            fold(withPart.withColumn("__graft_seq", monotonically_increasing_id()), t)
          else withPart
        val sealed_ = stored.withColumn("__graft_seq", lit(seq))
        t.path match {
          case Some(p) =>
            val w = sealed_.write.mode(org.apache.spark.sql.SaveMode.Append)
            // hive-style partition directories: the reference's cheap
            // bulk-delete / pruning unit maps to directory layout
            if (t.partitionBy.isDefined) w.partitionBy("__graft_partition").parquet(p)
            else w.parquet(p)
          case None => t.blocks += sealed_
        }
        // projection maintenance: the reference materializes the
        // projection for every new part (lecture_13.md:243-255); this
        // engine re-materializes on insert — same read-side contract
        t.projections.values.foreach(p =>
          if (pathExists(p.path)) materializeProjection(t, p))
    }
    // fire MVs bound to this source, binding the source name to the block.
    // Extra block columns beyond the declared schema stay visible — they
    // are the Kafka virtual columns (_topic/_offset/_timestamp_ms/
    // _partition) the reference's raw-capture MV selects
    // (clusters/ch_and_kafka/db/init.sql:36-44).
    if (fireMvs && mvs.exists(m => (m.sourceDb, m.sourceTable) == ref)) {
      val mvBlock = alignToSchema(t, blockIn, keepExtras = true)
      mvs.filter(m => (m.sourceDb, m.sourceTable) == ref).foreach { m =>
        val res = runSelect(m.selectSql, Map(ref -> mvBlock))
        insertBlock((m.targetDb, m.targetTable), res, castByPosition = true)
      }
    }
  }

  /** Missing columns get DEFAULT expr or the ClickHouse type default;
    * MATERIALIZED columns always recompute; present columns cast to the
    * declared type.
    */
  private def alignToSchema(t: ChTable, block: DataFrame,
                            keepExtras: Boolean = false): DataFrame = {
    if (t.columns.isEmpty) return block
    val present = block.columns.map(c => c.toLowerCase -> c).toMap
    val cols = t.columns.map { c =>
      val src = present.get(c.name.toLowerCase)
      val e: Column = c.materialized match {
        case Some(m) => expr(m)
        case None => src match {
          case Some(s) => col(s)
          case None => c.default.map(expr).getOrElse(
            ChTypes.defaultColumn(c.dataType, c.nullable))
        }
      }
      e.cast(c.dataType).as(c.name)
    }
    val declared = t.columns.map(_.name.toLowerCase).toSet
    val extras =
      if (keepExtras) block.columns.filterNot(c => declared(c.toLowerCase))
        .map(col).toSeq
      else Seq.empty
    block.select(cols ++ extras: _*)
  }

  /** `t`'s view with its Nullable(T) columns marked in the column
    * metadata ([[ChTypes.NullableKey]]): the outer-join fill, ANTI
    * right-side reads (both [[ChJoinDefaults.select]]) and ASOF LEFT
    * misses keep their NULLs. A table without Nullable columns reads
    * as is.
    */
  private def declared(t: ChTable, df: DataFrame): DataFrame = {
    val nullable = t.columns.filter(_.nullable).map(_.name.toLowerCase).toSet
    if (nullable.isEmpty) df
    else df.select(df.columns.toSeq.map { n =>
      val c = col("`" + n.replace("`", "``") + "`")
      if (nullable(n.toLowerCase)) c.as(n, new MetadataBuilder()
        .putBoolean(ChTypes.NullableKey, true).build())
      else c
    }: _*)
  }

  // ------------------------------------------------------ SELECT

  private val virtualColNames = Set("_part", "_partition_id", "_shard_num")

  private def runSelect(query: String,
                        overrides: Map[(String, String), DataFrame]): DataFrame = {
    // MergeTree virtual columns are attached to the base view only when
    // the statement references them — ClickHouse hides them from `*`
    // (lecture_07.md:582-597's manual-dedup idiom reads _part explicitly).
    // Token-level check: a '_part' INSIDE a string literal (WHERE name
    // LIKE '%_part%') must not trigger the attach.
    val wantsVirtual = ChLexer.tokenize(query).exists { t =>
      !t.isString && t.isIdent &&
        virtualColNames(t.text.toLowerCase.split('.').last.stripPrefix("`")
          .stripSuffix("`"))
    }
    val resolver = new ChSqlRewrite.Resolver {
      def resolve(ident: String): Option[ChSqlRewrite.ResolvedTable] = {
        if (ident.toLowerCase.startsWith("system.")) {
          val sys = systemTable(ident.toLowerCase.stripPrefix("system."))
          // a miss falls through: the reference also creates USER tables
          // inside the system database (lecture_16.md:230's
          // tmp_asynchronous_metric_log)
          sys.foreach { df =>
            val v = "chs_system__" + ident.toLowerCase.stripPrefix("system.")
            df.createOrReplaceTempView(v)
            return Some(ChSqlRewrite.ResolvedTable(v))
          }
        }
        val ref = parseRef(strip(ident))
        overrides.get(ref) match {
          case Some(block) =>
            val v = viewName(ref) + "__block"
            val df = dropSeq(block)
            tables.get(ref).fold(df)(declared(_, df)).createOrReplaceTempView(v)
            return Some(ChSqlRewrite.ResolvedTable(v))
          case None =>
        }
        viewDefs.get(ref) match {
          case Some(viewSql) =>
            val v = viewName(ref) + "__view"
            runSelect(viewSql, overrides).createOrReplaceTempView(v)
            return Some(ChSqlRewrite.ResolvedTable(v))
          case None =>
        }
        tables.get(ref).map { t =>
          val base = viewName(ref)
          val df = if (wantsVirtual) virtualDf(t) else tableDf(t)
          declared(t, df).createOrReplaceTempView(base)
          val fin = base + "__final"
          declared(t, finalDf(t)).createOrReplaceTempView(fin)
          ChSqlRewrite.ResolvedTable(base, Some(fin), sampleKey(t))
        }.orElse {
          // SELECT from an MV reads its target table — ClickHouse
          // resolves the TO-target (or implicit inner) storage
          // (lectures/lecture_09.md:753-763: `SELECT * FROM my_mv`)
          mvs.find(m => (m.db, m.name) == ref)
            .flatMap(m => resolve(s"${m.targetDb}.${m.targetTable}"))
        }.orElse {
          // after `USE system`, unqualified names hit the introspection
          // surface (lecture_12.md browses settings tables that way)
          if (ref._1 == "system" && !ident.toLowerCase.startsWith("system."))
            resolve(s"system.${ref._2}")
          else None
        }
      }

      override def resolveTableFunction(fn: String,
                                        args: Seq[String]): Option[String] =
        materializeTableFunction(fn, args)

      override def describe(viewName: String): Option[StructType] =
        scala.util.Try(spark.table(viewName).schema).toOption

      override def enumValues(ident: String,
                              column: String): Option[Map[Int, String]] =
        enumValuesOf(ident, column)

      // ONE analysis round-trip per distinct subquery text per
      // statement (the ASOF and LEFT SEMI passes may each probe the
      // same side); per-statement scope, so a later DDL can never serve
      // a stale schema
      private val subDfCache = mutable.Map
        .empty[String, Option[org.apache.spark.sql.DataFrame]]
      private def subDf(sql: String): Option[org.apache.spark.sql.DataFrame] =
        subDfCache.get(sql) match {
          case Some(v) => v
          case None =>
            // probe recursion guard (r12): a probe's own rewrite can probe
            // further sides (chained CTEs, nested subqueries) through a
            // FRESH resolver whose cache can't see this one — a crafted
            // mutually-referencing CTE pair would otherwise recurse
            // runSelect unboundedly. The body-form cteProbe breaks CTE
            // cycles structurally (a body sees only EARLIER bindings), so
            // this cap is a backstop sized above any legitimate
            // nested-subquery chain; beyond it the side reads as
            // unknown-schema and the caller skips its default fill
            // (conservative). The capped miss is NOT cached (r13, advisor
            // find): a later legitimate SHALLOW probe of the same text in
            // the same statement must not inherit the deep failure
            if (probeDepth.get() >= 8) None
            else {
              probeDepth.set(probeDepth.get() + 1)
              val r =
                try scala.util.Try(runSelect(sql, overrides)).toOption
                finally probeDepth.set(probeDepth.get() - 1)
              subDfCache.put(sql, r)
              r
            }
        }

      override def describeQuery(sql: String): Option[StructType] =
        subDf(sql).map(_.schema)

      override def joinUseNulls: Boolean = {
        // ClickHouse Bool settings accept 1/0 and true/false
        val v = sessionSettings.getOrElse("join_use_nulls", "0")
          .trim.toLowerCase
        v == "1" || v == "true"
      }

      override def resolveDict(name: String): Option[(String, String)] = {
        val ref = parseRef(strip(name))
        dicts.get(ref).orElse(dicts.get(("default", ref._2))) match {
          case Some(d) =>
            resolve(s"${d.sourceDb}.${d.sourceTable}").map(rt =>
              (rt.viewName, d.pk))
          case None =>
            // joinGet target: an ENGINE=Join table keyed by its join cols
            tables.get(ref).collect {
              case t if t.engine.isInstanceOf[Engine.Join] =>
                resolve(name).map(rt =>
                  (rt.viewName, t.engine.asInstanceOf[Engine.Join].keys.head))
            }.flatten
        }
      }
    }
    val rw = ChSqlRewrite.rewrite(query, resolver)
    var df = ChJoinDefaults.select(spark, rw.sql, rw.joinUseNulls)
    rw.limitBy.foreach { lb =>
      val order = lb.orderSql match {
        case Some(o) => ChTypes.splitTopLevel(o).map(parseOrderCol)
        case None => lb.keys.map(k => expr(k).asc)
      }
      df = LimitBy.limitBy(df, lb.n.toInt, lb.keys.map(expr), order,
        lb.offset.toInt)
      // LIMIT BY preserves the query's ORDER BY in ClickHouse; the
      // row_number shuffle above does not — re-establish it so a final
      // LIMIT cuts the same rows
      lb.orderSql.foreach { o =>
        df = df.orderBy(ChTypes.splitTopLevel(o).map(parseOrderCol): _*)
      }
    }
    rw.fill.foreach { f =>
      import org.apache.spark.sql.types.{DateType, NumericType}
      val axisType = df.schema(f.axis).dataType
      val defaults = df.schema.fields.filter(_.name != f.axis).collect {
        case sf if sf.dataType.isInstanceOf[NumericType] =>
          sf.name -> lit(0).cast(sf.dataType)
      }.toSeq
      df = axisType match {
        case DateType => graft.operators.WithFill.fillDates(df, f.axis,
          defaults, f.step.map(_.toInt).getOrElse(1))
        case _: NumericType if f.from.isEmpty && f.to.isEmpty =>
          graft.operators.WithFill.fillLongs(df, f.axis, defaults,
            f.step.map(_.toLong).getOrElse(1L))
        case _: NumericType =>
          // explicit bounds: FROM inclusive, TO exclusive (CH semantics);
          // data bounds fill whichever side is unspecified. Same plan-only
          // shape as WithFill — a 1-row aggregate cross-joined into a
          // sequence, never a driver-side collect.
          val step = f.step.map(_.toLong).getOrElse(1L)
          val lo = f.from.map(v => lit(v.toLong))
          val hi = f.to.map(v => lit(v.toLong - 1L))
          val axis = df
            .agg(min(col(f.axis)).as("__mn"), max(col(f.axis)).as("__mx"))
            .select(explode(sequence(
              coalesce((lo.toSeq :+ col("__mn")): _*).cast("long"),
              coalesce((hi.toSeq :+ col("__mx")): _*).cast("long"),
              lit(step))).as(f.axis))
          val joined = axis.join(
            df.withColumn(f.axis, col(f.axis).cast("long")), Seq(f.axis), "left")
          defaults.foldLeft(joined) { case (acc, (name, d)) =>
            acc.withColumn(name, coalesce(col(name), d))
          }
        case other => fail(s"WITH FILL on unsupported axis type $other")
      }
      df = df.orderBy(col(f.axis))
    }
    rw.finalLimit.foreach { case (off, n) =>
      df = (if (off > 0) df.offset(off.toInt) else df).limit(n.toInt)
    }
    rw.outfile match {
      case Some((path, fmtOpt)) =>
        if (httpClient)
          fail("INTO OUTFILE is not allowed: it is a client-side feature " +
            "and cannot be used over the HTTP interface")
        writeOutfile(df, path, fmtOpt)
        // ClickHouse sends NO rows to the client for INTO OUTFILE (only
        // a summary) — returning the empty shape is both faithful and
        // avoids re-executing the query when the caller serializes the
        // result (the write above already ran the job once)
        df.limit(0)
      case None => df
    }
  }

  /** `SELECT ... INTO OUTFILE 'path' [FORMAT fmt]` — the client-side file
    * export, written for real (refusing to overwrite, as ClickHouse
    * does). Format defaults by extension like the reference's client.
    * The write lands on a temp name and renames on success, so a query
    * failing mid-export never leaves a partial file squatting on the
    * refuse-to-overwrite guard.
    */
  private def writeOutfile(df: DataFrame, path: String,
                           fmtOpt: Option[String]): Unit = {
    val file = new java.io.File(path)
    if (file.exists())
      fail(s"INTO OUTFILE: file $path already exists — " +
        "ClickHouse refuses to overwrite")
    val fmt = fmtOpt.getOrElse {
      val lower = path.toLowerCase
      if (lower.endsWith(".csv")) "CSV"
      else if (lower.endsWith(".tsv") || lower.endsWith(".tab")) "TabSeparated"
      else if (lower.endsWith(".jsonl") || lower.endsWith(".ndjson")) "JSONEachRow"
      else if (lower.endsWith(".json")) "JSON"
      else "TabSeparated"
    }
    Option(file.getParentFile).foreach(_.mkdirs())
    val tmp = new java.io.File(file.getParentFile,
      s".${file.getName}.graft_tmp_${System.nanoTime()}")
    val out = new java.io.FileOutputStream(tmp)
    var ok = false
    try {
      ChResultFormats.write(df, fmt, out)
      ok = true
    } finally {
      out.close()
      if (ok) {
        if (!tmp.renameTo(file)) { tmp.delete(); fail(
          s"INTO OUTFILE: could not move the export into place at $path") }
      } else { tmp.delete(); () }
    }
  }

  private def parseOrderCol(s: String): Column = {
    val up = s.trim.toUpperCase
    if (up.endsWith(" DESC")) expr(s.trim.dropRight(5)).desc
    else if (up.endsWith(" ASC")) expr(s.trim.dropRight(4)).asc
    else expr(s.trim).asc
  }

  private def sampleKey(t: ChTable): Option[String] = t.engine match {
    case m: Engine.MergeTree => m.sampleBy
    case _ => None
  }

  private def tableDf(t: ChTable): DataFrame = {
    t.engine match {
      case Engine.Distributed(db, tbl) => return tableDf(lookup((db, tbl)))
      case Engine.Buffer(db, tbl) => return tableDf(lookup((db, tbl)))
      case _ =>
    }
    dropSeq(rawDf(t))
  }

  /** [[tableDf]] plus the MergeTree virtual columns the reference reads
    * (`lecture_07.md:582-597`, `homeworks/hw10.md:74-89`): `_part` in the
    * same `<partition>_<seq>_<seq>_0` spelling as system.parts (the seq
    * IS the part number — one part per insert block), `_partition_id`,
    * and `_shard_num` (literal 1 — one engine, no shards).
    */
  private def virtualDf(t: ChTable): DataFrame = {
    t.engine match {
      case Engine.Distributed(db, tbl) => return virtualDf(lookup((db, tbl)))
      case Engine.Buffer(db, tbl) => return virtualDf(lookup((db, tbl)))
      case _ =>
    }
    val raw = rawDf(t)
    val pid =
      if (raw.columns.contains("__graft_partition")) col("__graft_partition")
      else lit("all")
    dropSeq(raw
      .withColumn("_part", concat_ws("_", pid, col("__graft_seq"),
        col("__graft_seq"), lit(0)))
      .withColumn("_partition_id", pid.cast(StringType))
      .withColumn("_shard_num", lit(1)))
  }

  /** All stored rows WITH the `__graft_seq` part-order column (and the
    * `__graft_partition` value column for partitioned tables).
    */
  private def rawDf(t: ChTable): DataFrame = {
    def emptySchema = {
      val base = t.schema.add("__graft_seq", LongType)
      if (t.partitionBy.isDefined) base.add("__graft_partition", StringType)
      else base
    }
    t.path match {
      case Some(p) if pathExists(p) =>
        val df = spark.read.parquet(p)
        // hive directory names type-infer on read; pin the declared string
        if (t.partitionBy.isDefined && df.columns.contains("__graft_partition"))
          df.withColumn("__graft_partition",
            col("__graft_partition").cast(StringType))
        else df
      case Some(_) =>
        spark.createDataFrame(new java.util.ArrayList[Row](), emptySchema)
      case None =>
        if (t.blocks.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[Row](), emptySchema)
        else t.blocks.reduce(_ unionByName _)
    }
  }

  private def dropSeq(df: DataFrame): DataFrame =
    Seq("__graft_seq", "__graft_partition").foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d.drop(c) else d
    }

  /** The FINAL fold for the table's MergeTree flavor (cross-part). */
  private def finalDf(t: ChTable): DataFrame =
    dropSeq(fold(rawDf(t), t)).select(t.columns.map(c => col(c.name)): _*)

  /** One engine fold over rows carrying a `__graft_seq` order column
    * (within-block row ids at insert time, block numbers at FINAL time).
    */
  private def fold(raw: DataFrame, t: ChTable): DataFrame = {
    // parts of different partitions never merge, so every fold is scoped
    // by the partition value (ReplacingMT keeps one row per key PER
    // PARTITION, not globally — lecture_04.md:90-102)
    val partKey =
      if (raw.columns.contains("__graft_partition")) Seq("__graft_partition")
      else Nil
    val engineKeys = t.engine match {
      case m: Engine.MergeTree => m.keys.filter(raw.columns.contains(_))
      case _ => Nil
    }
    val keys = if (engineKeys.nonEmpty) engineKeys ++ partKey else Nil
    t.engine match {
      case m: Engine.MergeTree if keys.nonEmpty => m.kind match {
        case "replacing" =>
          val ver = m.version.map(col).getOrElse(col("__graft_seq"))
          FoldViews.replacingFinal(raw, keys,
            struct(ver, col("__graft_seq")))
        case "summing" =>
          val sums = if (m.sumCols.nonEmpty) m.sumCols
            else t.columns.collect {
              case c if !keys.contains(c.name) &&
                c.dataType.isInstanceOf[NumericType] => c.name
            }
          // no non-key numeric columns: the fold degenerates to dedup.
          // Only the seq column leaves here — the partition value column
          // must survive the fold (it IS one of the keys).
          val noSeq = raw.drop("__graft_seq")
          val folded =
            if (sums.isEmpty) noSeq.dropDuplicates(keys)
            else FoldViews.summingFinal(noSeq, keys, sums)
          folded.withColumn("__graft_seq", lit(0L))
        case "collapsing" =>
          FoldViews.collapsingFinal(raw, keys, m.sign.get, col("__graft_seq"))
        case "vcollapsing" =>
          FoldViews.versionedCollapsingFinal(raw, keys, m.sign.get,
            m.version.get, col("__graft_seq"))
        case _ => raw // plain / aggregating: no fold
      }
      case _ => raw
    }
  }

  // ------------------------------------------------ table functions

  private var tfCounter = 0

  /** `s3('url', 'TabSeparatedWithNames' [, 'a UInt32, b String'])` and
    * friends (hw02.sql's ingest path): scheme-agnostic — the reader
    * fetches each brace-glob-expanded URL in its own executor task
    * (Formats.urlCsvWithNames), or reads a local path. The optional
    * structure string casts columns through the CH type palette.
    */
  private def materializeTableFunction(fn: String,
                                       args: Seq[String]): Option[String] = {
    def unq(s: String): String = s.trim.stripPrefix("'").stripSuffix("'")
    if (args.isEmpty) return None
    if (Set("remote", "remotesecure", "cluster", "clusterallreplicas")(fn)) {
      // remote('addrs', db.table) | remote('addrs', db, table[, creds]):
      // one engine here — the "remote" table IS the local table, tagged
      // with the cluster functions' `_shard_num` virtual column
      // (lecture_20's cross-replica monitoring sweep; literal 1 — one
      // shard). Like merge()'s `_table`, the tag is visible to `*` here,
      // a documented delta from CH's hidden virtual columns.
      val ident =
        if (args.length >= 3 && !args(2).trim.startsWith("'"))
          unq(args(1)) + "." + unq(args(2))
        else unq(args(1))
      return registerBaseView(ident).map { v =>
        val tagged = spark.table(v).withColumn("_shard_num", lit(1))
        tfCounter += 1
        val v2 = s"chs_tf_$tfCounter"
        tagged.createOrReplaceTempView(v2)
        v2
      }
    }
    if (fn == "merge") {
      // merge(db, 'regex') — union of matching tables, tagged with the
      // _table virtual column (lectures/lecture_08 ENGINE=Merge twin)
      val (mdb, regex) =
        if (args.length >= 2) (unq(args.head), unq(args(1)))
        else (currentDb, unq(args.head))
      val pat = regex.r
      val matching = tables.values.toSeq
        .filter(t => t.db == mdb && pat.findFirstIn(t.name).isDefined)
      // merge('system', '^metric_log') unions the SYNTHESIZED system
      // tables too (lecture_20.md's monitoring aggregate over the
      // metric-history family)
      val systemMatches =
        if (mdb != "system") Seq.empty
        else Seq("metric_log", "asynchronous_metric_log", "query_log",
          "part_log", "trace_log", "text_log")
          .filter(n => pat.findFirstIn(n).isDefined &&
            !matching.exists(_.name == n))
          .flatMap(n => systemTable(n).map(df =>
            df.withColumn("_table", lit(n))))
      if (matching.isEmpty && systemMatches.isEmpty)
        fail(s"merge($mdb, '$regex'): no matching tables")
      // ClickHouse's Merge engine takes the FIRST table's structure; a
      // broad regex over system ('log') matches tables with different
      // schemas, so project every match onto the head's column set
      // (missing columns → typed NULL) before the union
      val all = matching.map(t =>
        tableDf(t).withColumn("_table", lit(t.name))) ++ systemMatches
      val headFields = all.head.schema.fields
      val df = all.map { d =>
        val have = d.columns.toSet
        d.select(headFields.toSeq.map(f =>
          if (have.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
      }.reduce(_ unionByName _)
      tfCounter += 1
      val v = s"chs_tf_$tfCounter"
      df.createOrReplaceTempView(v)
      return Some(v)
    }
    if (fn == "generaterandom") {
      // generateRandom('a UInt64, b String'[, seed]) — CH's synthetic
      // stream is unbounded and always LIMIT-ed in the corpus; this twin
      // generates a bounded deterministic block (hash-derived values, so
      // repeated runs are reproducible) with the declared schema
      val structure = unq(args.head)
      val seed = args.lift(1).map(unq).flatMap(v =>
        scala.util.Try(v.toLong).toOption).getOrElse(0L)
      var g = spark.range(1024).toDF("__i")
      ChTypes.splitTopLevel(structure).foreach { c =>
        val p = c.trim.split("\\s+", 2)
        val parsed = ChTypes.parse(p(1))
        val h = xxhash64(col("__i"), lit(p(0)), lit(seed))
        val v: Column = parsed.dataType match {
          case _: IntegerType | _: LongType | _: ShortType | _: ByteType =>
            pmod(h, lit(1000000L)).cast(parsed.dataType)
          case _: DoubleType | _: FloatType =>
            (pmod(h, lit(1000000L)) / lit(1000.0)).cast(parsed.dataType)
          case _: StringType => substring(md5(h.cast(StringType)), 1, 8)
          case DateType =>
            date_add(lit(java.sql.Date.valueOf("2024-01-01")),
              pmod(h, lit(365L)).cast(IntegerType))
          case TimestampType =>
            timestamp_seconds(lit(1704067200L) + pmod(h, lit(86400L * 365)))
          case BooleanType => pmod(h, lit(2L)) === lit(1L)
          case other => lit(null).cast(other)
        }
        g = g.withColumn(p(0), v)
      }
      tfCounter += 1
      val v = s"chs_tf_$tfCounter"
      g.drop("__i").createOrReplaceTempView(v)
      return Some(v)
    }
    val path = unq(args.head)
    // CH arg orders: url(url, format[, structure]); s3(url[, key, secret],
    // format[, structure]) — detect the format arg by name
    val known = Set("tabseparatedwithnames", "tsvwithnames", "csvwithnames",
      "parquet", "tabseparated", "tsv", "csv", "jsoneachrow")
    val rest = args.tail.map(unq)
    val fmtAt = rest.indexWhere(a => known(a.toLowerCase))
    val fmt = if (fmtAt >= 0) rest(fmtAt).toLowerCase else "parquet"
    val structure = rest.drop(fmtAt + 1).headOption.filter(_.contains(" "))
    val schema = structure.map { s =>
      StructType(ChTypes.splitTopLevel(s).map { c =>
        val p = c.trim.split("\\s+", 2)
        val parsed = ChTypes.parse(p(1))
        StructField(p(0), parsed.dataType, parsed.nullable)
      })
    }
    val isRemote = path.contains("://")
    val df = fmt match {
      case "tabseparatedwithnames" | "tsvwithnames" =>
        if (isRemote) graft.sources.Formats.urlTsvWithNames(spark, path, schema)
        else graft.sources.Formats.tsvWithNames(spark, path, schema)
      case "csvwithnames" =>
        if (isRemote) graft.sources.Formats.urlCsvWithNames(spark, path,
          schema = schema)
        else graft.sources.Formats.csvWithNames(spark, path, schema)
      case "parquet" => spark.read.parquet(path)
      case other => fail(s"table function $fn: unsupported FORMAT $other")
    }
    tfCounter += 1
    val v = s"chs_tf_$tfCounter"
    df.createOrReplaceTempView(v)
    Some(v)
  }

  /** Registers a base read view for an identifier (tables and system.*),
    * used by table functions that name a table indirectly (remote()).
    */
  private def registerBaseView(ident: String): Option[String] = {
    if (ident.toLowerCase.startsWith("system.")) {
      val name = ident.toLowerCase.stripPrefix("system.")
      return systemTable(name).map { df =>
        val v = "chs_system__" + name
        df.createOrReplaceTempView(v)
        v
      }
    }
    val ref = parseRef(strip(ident))
    tables.get(ref).map { t =>
      val v = viewName(ref)
      tableDf(t).createOrReplaceTempView(v)
      v
    }.orElse {
      // MV by name → its target storage (same contract as runSelect)
      mvs.find(m => (m.db, m.name) == ref).flatMap(m =>
        registerBaseView(s"${m.targetDb}.${m.targetTable}"))
    }
  }

  /** Attaches a Structured Stream to a table (the reference's Kafka
    * topology run for real): every micro-batch lands via the insert path,
    * firing the table's MVs — the streaming twin of [[ingest]].
    */
  def attachStream(tableRef: String,
                   stream: DataFrame,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val ref = parseRef(tableRef)
    lookup(ref) // validate the target exists
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (block: DataFrame, _: Long) =>
        // foreachBatch hands a DataFrame rooted in a CLONED micro-batch
        // session; re-root it onto this ChSession's session (the RDD is
        // session-independent) so the insert path's temp views resolve
        val rooted = spark.createDataFrame(block.rdd, block.schema).persist()
        try insertBlock(ref, rooted, castByPosition = false)
        finally { rooted.unpersist(); () }
      }
      .start()
  }

  // ------------------------------------------------------ system.*

  /** The reference leans on `system.parts` / `system.tables` /
    * `system.databases` / `system.columns` for introspection (39 uses of
    * system.parts across the lectures); synthesized here from session
    * state — one "part" per inserted block.
    */
  private def systemTable(name: String): Option[DataFrame] = {
    def df(schema: StructType, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJavaList, schema)
    def s(n: String) = StructField(n, StringType)
    def l(n: String) = StructField(n, LongType)
    name match {
      case "databases" =>
        Some(df(StructType(Seq(s("name"))),
          databases.toSeq.sorted.map(Row(_))))
      case "tables" =>
        // `table` mirrors `name` (ClickHouse's alias); bytes are real
        // directory sizes for parquet-backed tables, a schema-width
        // estimate for in-memory blocks (documented approximation)
        Some(df(StructType(Seq(s("database"), s("name"), s("table"),
          s("engine"), l("total_rows"), l("total_bytes"),
          l("total_bytes_uncompressed"),
          StructField("has_own_data", IntegerType), s("uuid"),
          StructField("data_paths", ArrayType(StringType)),
          s("metadata_path"), s("storage_policy"), s("primary_key"),
          s("create_table_query"))),
          tables.values.toSeq.map { t =>
            val rows = t.path match {
              case Some(p) if pathExists(p) => rawDf(t).count()
              case _ => t.blocks.map(_.count()).sum
            }
            val rowWidth = math.max(8L,
              t.columns.map(_.dataType.defaultSize.toLong).sum)
            val bytes = t.path.map(dirBytes).filter(_ > 0L)
              .getOrElse(rows * rowWidth)
            val ownData = t.engine match {
              case Engine.Distributed(_, _) | Engine.Buffer(_, _) |
                   Engine.Null | Engine.Kafka => 0
              case _ => 1
            }
            val pk = t.engine match {
              case m: Engine.MergeTree => m.keys.mkString(", ")
              case _ => ""
            }
            Row(t.db, t.name, t.name, engineName(t.engine),
              rows, bytes, rows * rowWidth, ownData, tableUuid(t),
              t.path.toSeq,
              storageDir.map(d => s"$d/_catalog.sql").getOrElse(""),
              "default", pk, createTableDdl(t))
          }))
      case "columns" =>
        Some(df(StructType(Seq(s("database"), s("table"), s("name"),
          s("type"), l("position"))),
          tables.values.toSeq.flatMap(t => t.columns.zipWithIndex.map {
            case (c, i) => Row(t.db, t.name, c.name,
              c.dataType.simpleString, (i + 1).toLong)
          })))
      case "parts" =>
        Some(df(StructType(Seq(s("database"), s("table"), s("name"),
          s("partition"), l("rows"), StructField("active", IntegerType),
          s("disk_name"), s("path"), l("bytes_on_disk"), s("partition_id"),
          StructField("level", IntegerType), l("marks"), s("part_type"),
          s("removal_state"))),
          tables.values.toSeq.flatMap { t =>
            // one part per (insert, partition value): an inserted block
            // splits into one part per partition it touches, like the
            // reference (lecture_07.md:128-135)
            def partsOf(d: DataFrame, seq: Long): Seq[(Long, String, Long)] =
              if (t.partitionBy.isDefined && d.columns.contains("__graft_partition"))
                d.groupBy(col("__graft_partition")).count().collect()
                  .map(r => (seq, Option(r.getString(0)).getOrElse("tuple()"),
                    r.getLong(1))).toSeq
              else Seq((seq, "tuple()", d.count()))
            val partRows: Seq[(Long, String, Long)] = (t.path match {
              case Some(_) =>
                val r = rawDf(t)
                if (t.partitionBy.isDefined)
                  r.groupBy(col("__graft_seq"), col("__graft_partition"))
                    .count().collect()
                    .map(x => (x.getLong(0),
                      Option(x.getString(1)).getOrElse("tuple()"),
                      x.getLong(2))).toSeq
                else r.groupBy(col("__graft_seq")).count().collect()
                  .map(x => (x.getLong(0), "tuple()", x.getLong(1))).toSeq
              case None => t.blocks.zipWithIndex
                .flatMap { case (b, i) => partsOf(b, i.toLong) }.toSeq
            }).sortBy(x => (x._1, x._2))
            // bytes_on_disk: real storage size apportioned by row share
            // for parquet-backed tables; a schema-width estimate for
            // in-memory blocks (documented approximation — no codec here)
            val totalRows = math.max(1L, partRows.map(_._3).sum)
            val rowWidth = math.max(8L,
              t.columns.map(_.dataType.defaultSize.toLong).sum)
            val totalBytes = t.path.map(dirBytes)
              .filter(_ > 0L).getOrElse(totalRows * rowWidth)
            partRows.map { case (i, pv, n) =>
              val pid = if (pv == "tuple()") "all" else pv
              val pname = s"${pid}_${i}_${i}_0"
              Row(t.db, t.name, pname, pv, n, 1,
                "default",
                t.path.getOrElse(s"/store/${t.db}/${t.name}") + s"/$pname/",
                math.max(1L, totalBytes * n / totalRows), pid, 0,
                n / 8192L + 1L, "Wide", "")
            }
          }))
      case "mutations" =>
        // latest_fail_* carry the reference's monitoring columns
        // (lecture_20's interrupted-mutations sweep) — honestly empty:
        // mutations here are synchronous and never fail-and-retry
        Some(df(StructType(Seq(s("database"), s("table"), s("mutation_id"),
          s("command"), StructField("is_done", IntegerType),
          StructField("latest_fail_time", TimestampType),
          s("latest_fail_reason"))),
          mutationLog.toSeq.map(m => Row(m._1, m._2, m._3, m._4, 1, null, ""))))
      case "settings" =>
        // curated defaults the lectures inspect, overlaid with this
        // session's SET statements
        val defaults = Seq(
          "max_threads" -> spark.sparkContext.defaultParallelism.toString,
          "max_memory_usage" -> "10000000000",
          "max_insert_block_size" -> "1048449",
          "input_format_null_as_default" -> "1",
          "join_use_nulls" -> "0",
          "async_insert" -> "0")
        val merged = (defaults.toMap ++ sessionSettings).toSeq.sortBy(_._1)
        Some(df(StructType(Seq(s("name"), s("value"),
          StructField("changed", IntegerType))),
          merged.map { case (k, v) =>
            Row(k, v, if (sessionSettings.contains(k)) 1 else 0) }))
      case "merge_tree_settings" =>
        val defaults = Seq(
          "index_granularity" -> "8192",
          "min_insert_block_size_rows" -> "1048449",
          "parts_to_delay_insert" -> "1000",
          "parts_to_throw_insert" -> "3000",
          "max_parts_in_total" -> "100000")
        Some(df(StructType(Seq(s("name"), s("value"))),
          defaults.map { case (k, v) => Row(k, v) }))
      case "disks" =>
        val root = new java.io.File(
          storageDir.getOrElse(System.getProperty("java.io.tmpdir")))
        Some(df(StructType(Seq(s("name"), s("path"), l("free_space"),
          l("total_space"), l("keep_free_space"), s("type"))),
          Seq(Row("default", root.getAbsolutePath + "/",
            root.getFreeSpace, root.getTotalSpace, 0L, "local"))))
      case "storage_policies" =>
        Some(df(StructType(Seq(s("policy_name"), s("volume_name"),
          StructField("disks", ArrayType(StringType)))),
          Seq(Row("default", "default", Seq("default")))))
      case "one" =>
        Some(df(StructType(Seq(StructField("dummy", IntegerType))),
          Seq(Row(0))))
      case "query_log" =>
        // the lecture_20/21 monitoring surface. Honest-value contract:
        // query text, timestamps, duration and exception are MEASURED at
        // statement dispatch; read_rows/read_bytes/memory_usage are 0
        // (plans execute lazily in Spark — per-query IO isn't known at
        // dispatch) and ProfileEvents carries the measured duration as
        // UserTimeMicroseconds so the lectures' map-subscript queries run.
        Some(df(StructType(Seq(s("type"), StructField("event_date", DateType),
          StructField("event_time", TimestampType),
          StructField("query_start_time", TimestampType),
          l("query_duration_ms"), s("query"), s("query_id"),
          s("initial_query_id"), l("read_rows"), l("read_bytes"),
          l("written_rows"), l("memory_usage"), s("exception"),
          StructField("exception_code", IntegerType), s("user"),
          StructField("tables", ArrayType(StringType)),
          StructField("ProfileEvents", MapType(StringType, LongType)))),
          queryLog.toSeq.map { q =>
            val start = new java.sql.Timestamp(q.startMs)
            Row(q.eventType, new java.sql.Date(q.startMs), start, start,
              q.durationMs, q.query, q.id, q.id, 0L, 0L, 0L, 0L,
              q.exception.getOrElse(""),
              if (q.exception.isDefined) 1 else 0, "default", q.tables,
              Map("UserTimeMicroseconds" -> q.durationMs * 1000L,
                "SystemTimeMicroseconds" -> 0L))
          }))
      case "metrics" =>
        val parts = tables.values.map(t => t.blocks.length.toLong).sum
        val rt = Runtime.getRuntime
        Some(df(StructType(Seq(s("metric"), l("value"), s("description"))),
          Seq(
            Row("Query", 0L, "Number of executing queries"),
            Row("Merge", 0L, "Number of executing background merges"),
            Row("PartsActive", parts,
              "Active data parts across session tables"),
            Row("MemoryTracking", rt.totalMemory() - rt.freeMemory(),
              "Memory allocated by the engine JVM"))))
      case "events" =>
        Some(df(StructType(Seq(s("event"), l("value"), s("description"))),
          Seq(
            Row("Query", queryLog.length.toLong,
              "Queries dispatched this session"),
            Row("SelectQuery", selectCount, "SELECT statements dispatched"),
            Row("InsertQuery", insertCount, "INSERT statements dispatched"),
            Row("FailedQuery",
              queryLog.count(_.exception.isDefined).toLong,
              "Statements that raised"))))
      case "projection_parts" =>
        Some(df(StructType(Seq(s("database"), s("table"), s("name"),
          l("rows"), StructField("active", IntegerType))),
          tables.values.toSeq.flatMap(t =>
            t.projections.values.toSeq.sortBy(_.name).collect {
              case p if pathExists(p.path) =>
                Row(t.db, t.name, p.name,
                  spark.read.parquet(p.path).count(), 1)
            })))
      case "replicas" =>
        // replication belongs to Spark's cluster manager (SURVEY §2.14);
        // the table resolves with the reference's columns and is empty —
        // the honest answer from a single-engine deployment
        Some(df(StructType(Seq(s("database"), s("table"), s("engine"),
          StructField("is_leader", IntegerType),
          StructField("is_readonly", IntegerType),
          l("absolute_delay"), l("queue_size"))), Seq.empty))
      case "replication_queue" =>
        Some(df(StructType(Seq(s("database"), s("table"), s("replica_name"),
          s("node_name"), s("type"), s("merge_type"), s("last_exception"),
          StructField("last_attempt_time", TimestampType),
          StructField("is_currently_executing", IntegerType))), Seq.empty))
      case "clusters" =>
        Some(df(StructType(Seq(s("cluster"), StructField("shard_num", IntegerType),
          StructField("replica_num", IntegerType), s("host_name"),
          StructField("port", IntegerType),
          StructField("is_local", IntegerType))),
          Seq(Row("default", 1, 1, "localhost", 9000, 1))))
      case "macros" =>
        Some(df(StructType(Seq(StructField("macro", StringType),
          s("substitution"))),
          Seq(Row("replica", "replica_1"), Row("shard", "shard_1"))))
      case "merges" =>
        // OPTIMIZE is synchronous here — no background merges ever run
        Some(df(StructType(Seq(s("database"), s("table"), l("elapsed"),
          StructField("progress", DoubleType), l("rows_read"),
          StructField("is_mutation", IntegerType))),
          Seq.empty))
      case "processes" =>
        Some(df(StructType(Seq(s("query_id"), s("user"), s("query"),
          StructField("elapsed", DoubleType))), Seq.empty))
      case "functions" =>
        // Spark's registry is the builtin surface; CH-text CREATE
        // FUNCTION macros list as SQLUserDefined (lecture_06.md:115-119)
        val created = udfs.list
        val createdNames = created.map(_._1.toLowerCase).toSet
        val builtin = spark.sessionState.functionRegistry.listFunction()
          .map(_.funcName).distinct.sorted
          .filterNot(n => createdNames(n.toLowerCase))
        Some(df(StructType(Seq(s("name"), s("origin"),
          StructField("is_aggregate", IntegerType), s("description"),
          s("create_query"))),
          created.map { case (n, sig) =>
            Row(n, "SQLUserDefined", 0, sig,
              s"CREATE FUNCTION $n AS $sig") } ++
            builtin.map(n => Row(n, "System", 0, "", ""))))
      case "dictionaries" =>
        Some(df(StructType(Seq(s("database"), s("name"), s("status"),
          s("origin"), s("type"), s("key"), s("source"),
          l("element_count"))),
          dicts.toSeq.sortBy(_._1).map { case ((ddb, dname), d) =>
            Row(ddb, dname, "LOADED", s"$ddb.$dname", "Hashed", d.pk,
              s"ClickHouse: ${d.sourceDb}.${d.sourceTable}",
              tables.get((d.sourceDb, d.sourceTable))
                .map(t => t.path match {
                  case Some(p) if pathExists(p) => rawDf(t).count()
                  case _ => t.blocks.map(_.count()).sum
                }).getOrElse(0L))
          }))
      case "data_skipping_indices" =>
        Some(df(StructType(Seq(s("database"), s("table"), s("name"),
          s("type_full"), s("expr"), l("granularity"),
          l("data_compressed_bytes"), l("data_uncompressed_bytes"),
          l("marks"))),
          tables.values.toSeq.flatMap(t =>
            t.skipIndexes.values.toSeq.map(ix =>
              Row(t.db, t.name, ix.name, ix.typeSql, ix.exprSql,
                ix.granularity.toLong, 0L, 0L, 0L)))))
      case "projection_parts_columns" =>
        // one row per (projection part, column) — the lecture_13/hw08
        // probes; parent_name is the parent part (single merged part
        // here), bytes are the real projection-store directory size
        // apportioned per column by declared width
        Some(df(StructType(Seq(s("database"), s("table"), s("name"),
          s("parent_name"), s("column"), s("type"),
          l("column_position"), l("rows"),
          StructField("active", IntegerType), s("path"),
          l("data_compressed_bytes"), l("data_uncompressed_bytes"))),
          tables.values.toSeq.flatMap(t =>
            t.projections.values.toSeq.sortBy(_.name).collect {
              case p if pathExists(p.path) =>
                val pdf = spark.read.parquet(p.path)
                val n = pdf.count()
                val dirTotal = math.max(1L, dirBytes(p.path))
                val widths = pdf.schema.fields
                  .map(_.dataType.defaultSize.toLong)
                val widthSum = math.max(1L, widths.sum)
                pdf.schema.fields.zipWithIndex.map { case (f, ci) =>
                  Row(t.db, t.name, s"${p.name}_0_0_0", "all_0_0_0",
                    f.name, f.dataType.simpleString, (ci + 1).toLong, n, 1,
                    p.path + "/", dirTotal * widths(ci) / widthSum,
                    n * widths(ci))
                }.toSeq
            }.flatten)))
      case "parts_columns" =>
        // per (part, column): row counts exact, bytes = the table's real
        // on-disk size apportioned by declared column width (the engine's
        // exact parquet-footer variant is q62/SystemTables)
        Some(df(StructType(Seq(s("database"), s("table"), s("name"),
          s("partition"), s("column"), s("type"), l("column_position"),
          l("rows"), StructField("active", IntegerType),
          l("data_compressed_bytes"), l("data_uncompressed_bytes"))),
          tables.values.toSeq.flatMap { t =>
            val partRows: Seq[(Long, Long)] = t.path match {
              case Some(p) if pathExists(p) =>
                rawDf(t).groupBy(col("__graft_seq")).count().collect()
                  .map(x => (x.getLong(0), x.getLong(1))).toSeq.sortBy(_._1)
              case _ => t.blocks.zipWithIndex
                .map { case (b, i) => (i.toLong, b.count()) }.toSeq
            }
            val widths = t.columns.map(_.dataType.defaultSize.toLong)
            val widthSum = math.max(1L, widths.sum)
            val dirTotal = t.path.map(dirBytes).filter(_ > 0L)
            partRows.flatMap { case (seq, n) =>
              val partBytes = dirTotal
                .map(b => b / math.max(1, partRows.length))
                .getOrElse(n * widthSum)
              t.columns.zipWithIndex.map { case (c, ci) =>
                Row(t.db, t.name, s"all_${seq}_${seq}_0", "tuple()",
                  c.name, c.dataType.simpleString, (ci + 1).toLong, n, 1,
                  partBytes * widths(ci) / widthSum, n * widths(ci))
              }
            }
          }))
      case "asynchronous_metrics" =>
        // real engine-JVM/OS numbers (the lecture greps '%memo%' and
        // formats them with formatReadableSize)
        val rt = Runtime.getRuntime
        val osBean = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean
        Some(df(StructType(Seq(s("metric"),
          StructField("value", DoubleType))),
          Seq(
            Row("MemoryResident", (rt.totalMemory - rt.freeMemory).toDouble),
            Row("MemoryVirtual", rt.totalMemory.toDouble),
            Row("OSMemoryTotal", rt.maxMemory.toDouble),
            Row("NumberOfTables", tables.size.toDouble),
            Row("NumberOfDatabases", databases.size.toDouble),
            Row("LoadAverage1", osBean.getSystemLoadAverage),
            Row("Uptime", (System.currentTimeMillis() - startedAtMs) / 1000.0))))
      case "asynchronous_metric_log" | "metric_log" =>
        // no background metric collector thread runs here — the schema
        // resolves (CTAS clones, merge('system','^metric_log') unions)
        // with the columns the lectures touch, honestly empty
        Some(df(StructType(Seq(StructField("event_date", DateType),
          StructField("event_time", TimestampType), s("metric"),
          StructField("value", DoubleType), l("ProfileEvent_Query"),
          // lecture_20's cross-replica failure sweep touches the
          // failure-counter family — resolvable, honestly empty
          l("ProfileEvent_FailedQuery"), l("ProfileEvent_FailedSelectQuery"),
          l("ProfileEvent_FailedInsertQuery"),
          l("ProfileEvent_ReplicatedPartFailedFetches"),
          l("ProfileEvent_ReplicatedPartChecksFailed"),
          l("ProfileEvent_DistributedConnectionFailTry"),
          l("ProfileEvent_ReplicatedDataLoss"),
          l("CurrentMetric_HTTPConnection"))), Seq.empty))
      case "part_log" =>
        // real per-part lifecycle events logged at insert (NewPart)
        Some(df(StructType(Seq(StructField("event_time", TimestampType),
          s("event_type"), s("database"), s("table"), s("part_name"),
          s("partition_id"))),
          partLog.toSeq.map(e => Row(new java.sql.Timestamp(e._1), e._2,
            e._3, e._4, e._5, e._6))))
      case "errors" =>
        // aggregated from this session's failed statements — real data
        val errs = queryLog.filter(_.exception.isDefined)
        Some(df(StructType(Seq(s("name"), StructField("code", IntegerType),
          l("value"), s("last_error_message"),
          StructField("last_error_time", TimestampType))),
          if (errs.isEmpty) Seq.empty
          else Seq(Row("STD_EXCEPTION", 1, errs.length.toLong,
            errs.last.exception.get,
            new java.sql.Timestamp(errs.last.startMs)))))
      case "users" =>
        // RBAC is out of engine scope (SURVEY §2.14) — the one real
        // principal is the default user every statement runs as
        Some(df(StructType(Seq(s("name"), s("id"), s("storage"),
          s("auth_type"), StructField("auth_params", ArrayType(StringType)))),
          Seq(Row("default",
            "00000000-0000-0000-0000-000000000000", "local_directory",
            "no_password", Seq.empty[String]))))
      case "roles" | "role_grants" | "quotas" | "quota_limits" |
           "row_policies" | "settings_profiles" =>
        // reference columns, honestly empty — no RBAC objects exist
        Some(df(StructType(Seq(s("name"), s("storage"), s("user_name"),
          s("role_name"))), Seq.empty))
      case "grants" =>
        Some(df(StructType(Seq(s("user_name"), s("role_name"),
          s("access_type"), s("database"), s("table"),
          StructField("grant_option", IntegerType))),
          Seq(Row("default", null, "ALL", null, null, 1))))
      case "backups" =>
        // real entries from this session's BACKUP/RESTORE statements
        Some(df(StructType(Seq(s("id"), s("name"), s("status"),
          s("error"), StructField("start_time", TimestampType),
          StructField("end_time", TimestampType))),
          backupLog.toSeq.map(b => Row(b._1, b._2, b._3, "",
            new java.sql.Timestamp(b._4), new java.sql.Timestamp(b._4)))))
      case "trace_log" =>
        // hw14.md's MemoryPeak query reads event_date and max(size)
        Some(df(StructType(Seq(StructField("event_date", DateType),
          StructField("event_time", TimestampType),
          s("trace_type"), s("query_id"), l("size"),
          StructField("trace", ArrayType(LongType)))), Seq.empty))
      case "text_log" =>
        Some(df(StructType(Seq(StructField("event_time", TimestampType),
          s("level"), s("query_id"), s("logger_name"), s("message"))),
          Seq.empty))
      case "dashboards" =>
        // ClickHouse ships built-in dashboard definitions; this engine
        // ships none — columns resolve, honestly empty
        Some(df(StructType(Seq(s("dashboard"), s("title"), s("query"))),
          Seq.empty))
      case "distribution_queue" =>
        Some(df(StructType(Seq(s("database"), s("table"),
          l("data_files"), l("data_compressed_bytes"),
          StructField("is_blocked", IntegerType), l("error_count"))),
          Seq.empty))
      case _ => None
    }
  }

  // ------------------------------------------------ BACKUP / RESTORE

  // prefix → (columns, engine, partitionBy, data dir or None for empty)
  private val backupStore = mutable.Map.empty[String,
    (Seq[ColumnDef], Engine, Option[String], Option[String])]
  // (id, name, status, timeMs)
  private val backupLog = mutable.Buffer.empty[(String, String, String, Long)]

  private def backupStatusDf(id: String, status: String): DataFrame =
    spark.createDataFrame(Seq(Row(id, status)).asJavaList,
      StructType(Seq(StructField("id", StringType),
        StructField("status", StringType))))

  /** `BACKUP TABLE t TO Disk('disk', 'prefix')` (homeworks/hw13.md:44):
    * snapshots the table's rows and definition under the session backup
    * root. The `TO S3(endpoint, …)` form needs an object store this
    * environment does not have and fails with that message.
    */
  private def runBackup(toks: Vector[ChLexer.Token]): DataFrame = {
    require(toks.length > 4 && toks(1).is("TABLE"), "BACKUP TABLE expected")
    val ref = parseRef(strip(toks(2).text))
    val t = lookup(ref)
    val toAt = toks.indexWhere(_.is("TO"))
    val dest = toks(toAt + 1)
    require(dest.is("Disk"),
      s"BACKUP TO ${dest.text}: no object-store endpoint in this " +
        "environment — use Disk('name', 'prefix')")
    val close = matchParenTok(toks, toAt + 2)
    val prefix = strip(toks.slice(toAt + 3, close)
      .filter(x => x.isString || x.text != ",").last.text)
      .stripPrefix("'").stripSuffix("'")
    val dataDir =
      if (tableDf(t).isEmpty) None
      else {
        val dir = s"${System.getProperty("java.io.tmpdir")}/chs_backups/" +
          s"${Integer.toHexString(System.identityHashCode(this))}/$prefix"
        deleteDir(dir)
        tableDf(t).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(dir)
        Some(dir)
      }
    backupStore(prefix) = (t.columns, t.engine, t.partitionBy, dataDir)
    val id = tableUuid(t)
    backupLog += ((id, prefix, "BACKUP_CREATED", System.currentTimeMillis()))
    backupStatusDf(id, "BACKUP_CREATED")
  }

  /** `RESTORE TABLE t [AS t2] FROM Disk('disk', 'prefix')`
    * (homeworks/hw13.md:63): recreates the table from the snapshot.
    */
  private def runRestore(toks: Vector[ChLexer.Token]): DataFrame = {
    require(toks.length > 4 && toks(1).is("TABLE"), "RESTORE TABLE expected")
    val srcRef = parseRef(strip(toks(2).text))
    var target = srcRef
    var j = 3
    if (j < toks.length && toks(j).is("AS")) {
      target = parseRef(strip(toks(j + 1).text)); j += 2
    }
    require(j < toks.length && toks(j).is("FROM"), "RESTORE ... FROM expected")
    val dest = toks(j + 1)
    require(dest.is("Disk"),
      s"RESTORE FROM ${dest.text}: no object-store endpoint in this " +
        "environment — use Disk('name', 'prefix')")
    val close = matchParenTok(toks, j + 2)
    val prefix = strip(toks.slice(j + 3, close)
      .filter(x => x.isString || x.text != ",").last.text)
      .stripPrefix("'").stripSuffix("'")
    val (cols, engine, pb, dataDir) = backupStore.getOrElse(prefix,
      fail(s"RESTORE: no backup '$prefix' exists in this session"))
    require(!tables.contains(target),
      s"RESTORE: table ${target._1}.${target._2} already exists")
    tables(target) = mkTable(target._1, target._2, cols, engine, pb)
    // RESTORE rebuilds the table's own parts; ClickHouse never re-fires
    // materialized views on restored data (a surviving MV over the
    // restored source would double-count every pre-backup row)
    dataDir.foreach(dir =>
      insertBlock(target, dropSeq(spark.read.parquet(dir)),
        castByPosition = false, fireMvs = false))
    journalCatalog()
    val id = tableUuid(tables(target))
    backupLog += ((id, prefix, "RESTORED", System.currentTimeMillis()))
    backupStatusDf(id, "RESTORED")
  }

  private val startedAtMs = System.currentTimeMillis()
  // (event_time_ms, event_type, db, table, part_name, partition_id);
  // bounded like query_log
  private val partLog =
    mutable.Buffer.empty[(Long, String, String, String, String, String)]

  private final case class LoggedQuery(id: String, query: String,
      eventType: String, startMs: Long, durationMs: Long,
      exception: Option[String], tables: Seq[String] = Nil)

  /** Catalog tables a statement references, token-level, as ClickHouse
    * logs them in query_log.tables (`db.name`; hw14.md:63's
    * `uniqArray(tables)` monitoring query). An identifier counts when it
    * names a table of the current database or spells `db.table`
    * directly — cheap, bounded by the statement's token count.
    */
  private def referencedTables(stmt: String): Seq[String] = {
    try {
      ChLexer.tokenize(stmt.take(10000)).collect {
        case t if t.isIdent && !t.text.endsWith(".*") =>
          val ref = parseRef(t.text.replace("`", ""))
          if (tables.contains(ref)) Some(s"${ref._1}.${ref._2}") else None
      }.flatten.distinct
    } catch { case _: Exception => Nil }
  }

  // bounded: the monitoring demos need recent history, not an unbounded
  // driver-side buffer under sustained ingest
  private val queryLogCap = 10000
  private val queryLog = mutable.Buffer.empty[LoggedQuery]
  private var queryCounter = 0L
  private var selectCount = 0L
  private var insertCount = 0L

  /** Times a statement dispatch into system.query_log (QueryFinish /
    * ExceptionWhileProcessing, the two types the lectures filter on).
    */
  private def logged[T](stmt: String)(body: => T): T = {
    val up = stmt.trim.takeWhile(!_.isWhitespace).toUpperCase
    if (up == "SELECT" || up == "WITH") selectCount += 1
    if (up == "INSERT") insertCount += 1
    queryCounter += 1
    val id = s"graft-$queryCounter"
    val t0 = System.currentTimeMillis()
    def record(err: Option[String]): Unit = {
      // inline INSERT payloads can be arbitrarily large — log a bounded
      // prefix (ClickHouse: log_queries_cut_to_length)
      queryLog += LoggedQuery(id, stmt.take(10000),
        if (err.isDefined) "ExceptionWhileProcessing" else "QueryFinish",
        t0, System.currentTimeMillis() - t0, err, referencedTables(stmt))
      if (queryLog.length > queryLogCap)
        queryLog.remove(0, queryLog.length - queryLogCap)
    }
    try { val r = body; record(None); r }
    catch { case e: Throwable => record(Some(String.valueOf(e.getMessage))); throw e }
  }

  /** Deterministic UUID for system.tables, derived from the table's
    * qualified name (ClickHouse assigns one at CREATE; ours is stable
    * across sessions instead of random).
    */
  private def tableUuid(t: ChTable): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${t.db}.${t.name}".getBytes("UTF-8"))
    f"${h(0)}%02x${h(1)}%02x${h(2)}%02x${h(3)}%02x-${h(4)}%02x${h(5)}%02x-" +
      f"${h(6)}%02x${h(7)}%02x-${h(8)}%02x${h(9)}%02x-" +
      f"${h(10)}%02x${h(11)}%02x${h(12)}%02x${h(13)}%02x${h(14)}%02x${h(15)}%02x"
  }

  private def dirBytes(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.getContentSummary(p).getLength
  }

  private val mutationLog =
    mutable.Buffer.empty[(String, String, String, String)]

  private def logMutation(ref: (String, String), command: String): Unit =
    mutationLog += ((ref._1, ref._2,
      s"mutation_${mutationLog.size}.txt", command))

  private val sessionSettings = mutable.Map.empty[String, String]

  private def engineName(e: Engine): String = e match {
    case m: Engine.MergeTree => m.kind match {
      case "plain" => "MergeTree"
      case "replacing" => "ReplacingMergeTree"
      case "summing" => "SummingMergeTree"
      case "collapsing" => "CollapsingMergeTree"
      case "vcollapsing" => "VersionedCollapsingMergeTree"
      case "aggregating" => "AggregatingMergeTree"
      case k => k
    }
    case Engine.Null => "Null"
    case Engine.Kafka => "Kafka"
    case _: Engine.Distributed => "Distributed"
    case _: Engine.Buffer => "Buffer"
    case _: Engine.Join => "Join"
    case Engine.Memory => "Memory"
  }

  // ------------------------------------------------------ helpers

  // ------------------------------------------------ catalog durability

  private var attaching = false

  /** Depth of nested schema probes ([[ChSqlRewrite.Resolver]]'s
    * describeQuery) — session state because each nested runSelect
    * builds a FRESH resolver whose per-statement cache cannot see its
    * parents'.
    */
  private val probeDepth: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(0))

  private def catalogFile: Option[org.apache.hadoop.fs.Path] =
    storageDir.map(d => new org.apache.hadoop.fs.Path(d, "_catalog.sql"))

  /** Rewrites the canonical DDL journal after every DDL statement: a
    * normalized CREATE per database/table/MV/dictionary in creation
    * order. Replaying it reconstructs the catalog exactly, with no
    * dependence on the original statement history (RENAMEs, DROPs and
    * re-CREATEs are already collapsed into current state).
    */
  private def journalCatalog(): Unit = {
    if (attaching) return
    catalogFile.foreach { p =>
      val sb = new StringBuilder
      databases.toSeq.sorted.filterNot(_ == "default").foreach(d =>
        sb ++= s"CREATE DATABASE IF NOT EXISTS $d;\n")
      udfs.list.foreach { case (n, sig) =>
        sb ++= s"CREATE OR REPLACE FUNCTION $n AS $sig;\n"
      }
      tables.values.foreach(t => sb ++= createTableDdl(t) + ";\n")
      dicts.foreach { case ((ddb, dname), d) =>
        sb ++= s"CREATE DICTIONARY $ddb.$dname (`${d.pk}` Int64) " +
          s"PRIMARY KEY ${d.pk} SOURCE(CLICKHOUSE(TABLE '${d.sourceTable}' " +
          s"DB '${d.sourceDb}')) LAYOUT(HASHED()) LIFETIME(300);\n"
      }
      viewDefs.foreach { case ((vdb, vname), viewSql) =>
        sb ++= s"CREATE VIEW $vdb.$vname AS $viewSql;\n"
      }
      mvs.foreach { m =>
        sb ++= s"CREATE MATERIALIZED VIEW ${m.db}.${m.name} TO " +
          s"${m.targetDb}.${m.targetTable} AS ${m.selectSql};\n"
      }
      // the journal ends with a terminator line so attach() can DETECT
      // a torn write, and the rewrite goes write-tmp → rename so a
      // crash mid-write never truncates the live journal (r11; pre-r11
      // a crash between fs.create(overwrite) and close could leave a
      // half-written catalog that replayed partially)
      sb ++= journalEndMarker + "\n"
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(p.toString + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(sb.result().getBytes("UTF-8")) finally out.close()
      // FileSystem.rename refuses an existing destination on HDFS —
      // delete-then-rename leaves, at worst, only the COMPLETE tmp on
      // a crash between the two calls, which attach() recovers from
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new IllegalStateException(
          s"could not move the catalog journal into place: $tmp -> $p")
    }
  }

  /** Journal terminator — a SQL comment, so replay ignores it; its
    * absence marks a torn file.
    */
  private val journalEndMarker = "-- graft:catalog:end"

  private[chsql] def attachExisting(): Unit =
    catalogFile.foreach { p =>
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(p.toString + ".tmp")
      def readAll(path: org.apache.hadoop.fs.Path): String = {
        val in = fs.open(path)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      // crash recovery: a missing journal with a COMPLETE tmp next to
      // it means the process died between delete and rename — the tmp
      // IS the journal (journalCatalog writes it in full before
      // touching the live file)
      // the terminator must be the journal's FINAL content: a bare
      // contains() would accept a journal torn after a user string
      // literal that happens to embed the marker text, or one with
      // appended garbage
      def complete(text: String): Boolean =
        text.linesIterator.filter(_.trim.nonEmpty)
          .foldLeft("")((_, l) => l).trim == journalEndMarker
      if (!fs.exists(p) && fs.exists(tmp) && complete(readAll(tmp))) {
        if (!fs.rename(tmp, p))
          throw new IllegalStateException(
            s"catalog recovery: could not move the complete journal " +
              s"$tmp into place as $p - fix permissions and retry " +
              "(silently attaching an empty catalog would hide every table)")
      }
      if (fs.exists(p)) {
        val text = readAll(p)
        // journals written before the terminator existed are complete
        // but terminator-less; every statement the writer has EVER
        // emitted ends with ';', so a legacy journal whose final
        // content is a ';'-terminated statement replays (and is
        // rewritten WITH the marker below, a one-time upgrade). A
        // truncation landing exactly on a statement boundary is
        // indistinguishable — that residual risk is why the marker
        // exists going forward. A marker present anywhere but NOT as
        // the final content is not legacy: it is a terminator-era
        // journal with appended garbage (or torn after an embedded
        // literal) — refuse
        val legacy = !complete(text) && text.trim.nonEmpty &&
          text.trim.endsWith(";") && !text.contains(journalEndMarker)
        // a journal without the trailing terminator is TORN (a session
        // that crashed mid-create, or manual truncation): refuse to
        // replay a half catalog — silently attaching a prefix would
        // resurrect some tables and drop others
        if (!complete(text) && !legacy && text.trim.nonEmpty)
          throw new IllegalStateException(
            s"catalog journal $p is torn (missing the trailing " +
              s"'$journalEndMarker' terminator and not ending at a " +
              "statement boundary) - refusing to replay a partial " +
              "catalog; restore the file, or delete it and re-create " +
              "the tables; if the journal is known-complete (e.g. " +
              "written by a pre-terminator version), append a line " +
              s"'$journalEndMarker' to recover it")
        // the legacy acceptance is a HEURISTIC: a marker-less journal
        // truncated exactly at a ';' boundary is indistinguishable from
        // a complete pre-terminator one, so the upgrade is announced
        // loudly (r12 advisor find) — an operator who knows the journal
        // should be terminator-era can restore from backup before the
        // in-place rewrite makes the prefix permanent
        if (legacy) log.warn(
          s"catalog journal $p has no '$journalEndMarker' terminator " +
            "but ends at a statement boundary - treating it as a " +
            "complete pre-terminator journal and upgrading it in " +
            "place; if this file could be a TRUNCATED terminator-era " +
            "journal, restore it from backup now")
        attaching = true
        try execute(text) finally attaching = false
        // upgrade the accepted legacy journal in place so the next
        // attach sees the terminator (journalCatalog re-emits current
        // state, write-tmp + rename)
        if (legacy) journalCatalog()
      }
    }

  /** Canonical CREATE TABLE text for a table — the journal's spelling and
    * SHOW CREATE TABLE's output (round-trips through the DDL parser).
    */
  private def createTableDdl(t: ChTable): String = {
    val cols = t.columns.map { c =>
      val extra = c.materialized.map(" MATERIALIZED " + _)
        .orElse(c.default.map(" DEFAULT " + _)).getOrElse("")
      s"`${c.name}` ${chTypeName(c.dataType, c.nullable)}$extra"
    }
    val indexes = t.skipIndexes.values.map(ix =>
      s"INDEX ${ix.name} ${ix.exprSql} TYPE ${ix.typeSql} " +
        s"GRANULARITY ${ix.granularity}")
    s"CREATE TABLE ${t.db}.${t.name} (${(cols ++ indexes).mkString(", ")}) " +
      s"ENGINE = ${engineDdl(t.engine)}" +
      t.partitionBy.map(" PARTITION BY " + _).getOrElse("") +
      t.ttl.map(" TTL " + _).getOrElse("")
  }

  /** Spark type → canonical ClickHouse type name (the journal's spelling;
    * round-trips through [[ChTypes.parse]]).
    */
  private def chTypeName(dt: DataType, nullable: Boolean): String = {
    val base = dt match {
      case LongType => "Int64"
      case IntegerType => "Int32"
      case FloatType => "Float32"
      case DoubleType => "Float64"
      case StringType => "String"
      case BooleanType => "Bool"
      case DateType => "Date"
      case TimestampType => "DateTime"
      case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
      case ArrayType(e, n) => s"Array(${chTypeName(e, n)})"
      case MapType(k, v, n) =>
        s"Map(${chTypeName(k, nullable = false)}, ${chTypeName(v, n)})"
      case _: BinaryType => "String"
      case other => fail(s"cannot journal type $other")
    }
    if (nullable && !dt.isInstanceOf[ArrayType] && !dt.isInstanceOf[MapType])
      s"Nullable($base)"
    else base
  }

  private def engineDdl(e: Engine): String = e match {
    case m: Engine.MergeTree =>
      val name = engineName(e)
      val args = m.kind match {
        case "replacing" => m.version.toSeq
        case "summing" => m.sumCols
        case "collapsing" => m.sign.toSeq
        case "vcollapsing" => m.sign.toSeq ++ m.version.toSeq
        case _ => Nil
      }
      val argStr = if (args.isEmpty) "" else args.mkString("(", ", ", ")")
      val order = if (m.keys.isEmpty) " ORDER BY tuple()"
        else m.keys.mkString(" ORDER BY (", ", ", ")")
      val sample = m.sampleBy.map(" SAMPLE BY " + _).getOrElse("")
      s"$name$argStr$order$sample"
    case Engine.Null => "Null"
    case Engine.Kafka => "Kafka"
    case Engine.Distributed(db, t) => s"Distributed('cluster', '$db', '$t')"
    case Engine.Buffer(db, t) => s"Buffer('$db', '$t')"
    case Engine.Join(keys) => s"Join(ANY, LEFT, ${keys.mkString(", ")})"
    case Engine.Memory => "Memory"
  }

  /** Storable engines get a parquet directory when storageDir is set. */
  private def storable(e: Engine): Boolean = e match {
    case Engine.Null | Engine.Kafka | _: Engine.Distributed |
         _: Engine.Buffer => false
    case _ => true
  }

  private def mkTable(db: String, name: String, cols: Seq[ColumnDef],
                      engine: Engine,
                      partitionBy: Option[String] = None): ChTable = {
    val p = storageDir.filter(_ => storable(engine)).map(d => s"$d/$db/$name")
    if (!attaching) p.foreach(deleteDir) // a fresh CREATE owns the directory
    // never inherit a predecessor's armed projection routing — the
    // journal does not restore projection defs, so an attached session
    // (or a recreated table) must start unrouted (same-JVM global router)
    p.foreach(graft.plans.ProjectionRouting.unregister)
    new ChTable(db, name, cols, engine, p, partitionBy)
  }

  private def pathExists(p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  private def deleteDir(p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(hp, true)
    ()
  }

  /** Replaces a table's full contents (OPTIMIZE/ALTER/RENAME): parquet
    * mode materializes first (localCheckpoint) so the overwrite never
    * reads the directory it is replacing.
    */
  private def replaceContents(t: ChTable, df: DataFrame): Unit = {
    val seqd0 = (if (df.columns.contains("__graft_seq")) df
      else df.withColumn("__graft_seq", lit(0L)))
    // a rewrite of a partitioned table re-derives the partition value
    // (callers pass user-facing frames with internals dropped)
    val seqd = t.partitionBy match {
      case Some(pb) if !seqd0.columns.contains("__graft_partition") =>
        seqd0.withColumn("__graft_partition", partitionExpr(pb))
      case _ => seqd0
    }
    t.path match {
      case Some(p) =>
        val w = seqd.localCheckpoint()
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        if (t.partitionBy.isDefined)
          w.partitionBy("__graft_partition").parquet(p)
        else w.parquet(p)
      case None =>
        t.blocks.clear()
        t.blocks += seqd
    }
  }

  private def viewName(ref: (String, String)): String =
    s"chs_${ref._1}__${ref._2}".replaceAll("[^A-Za-z0-9_]", "_")

  private def parseRef(ident: String): (String, String) = {
    val s = strip(ident)
    val dot = s.indexOf('.')
    if (dot > 0) (s.substring(0, dot), s.substring(dot + 1))
    else (currentDb, s)
  }

  private def lookup(ref: (String, String)): ChTable =
    tables.getOrElse(ref, tables.getOrElse(("default", ref._2),
      fail(s"no such table: ${ref._1}.${ref._2}")))

  private def strip(s: String): String = s.replace("`", "")

  /** The literal partition value of an ALTER ... PARTITION clause —
    * `202406`, `'2024-06-01'`, or a tuple `(1, 'x')`. Tuples join with
    * `-`, matching how [[partitionExpr]] stamps composite values.
    */
  private def partitionValueText(toks: Vector[ChLexer.Token]): String = {
    val r = ChLexer.render(toks).trim
    val body = r.stripPrefix("(").stripSuffix(")").trim
    ChTypes.splitTopLevel(body)
      .map(_.trim.stripPrefix("'").stripSuffix("'"))
      .mkString("-")
  }

  /** Parses a projection body `SELECT items GROUP BY keys` into the
    * engine's [[graft.mergetree.ProjectionDef]] (homeworks/hw08.md:40-48:
    * `SELECT user_id, sum(quantity * price), count() GROUP BY user_id`).
    * Recognized re-aggregable items: count()/count(*), count(c), sum(c),
    * sum(expr), min/max/avg(c), uniq(c) (stored as an HLL sketch).
    */
  private def parseProjectionDef(t: ChTable, pname: String,
                                 body: Vector[ChLexer.Token])
      : graft.mergetree.ProjectionDef = {
    require(body.nonEmpty && body.head.is("SELECT"),
      s"projection $pname: body must be SELECT ... GROUP BY ...")
    val gbAt = body.indexWhere(_.is("GROUP"))
    require(gbAt > 0 && gbAt + 1 < body.length && body(gbAt + 1).is("BY"),
      s"projection $pname: GROUP BY required")
    val groupCols = ChTypes.splitTopLevel(
      ChLexer.render(body.slice(gbAt + 2, body.length))).map(strip)
    val items = ChTypes.splitTopLevel(
      ChLexer.render(body.slice(1, gbAt)))
    var sumCols = Vector.empty[String]
    var sumExprs = Map.empty[String, String]
    var minCols = Vector.empty[String]; var maxCols = Vector.empty[String]
    var avgCols = Vector.empty[String]; var uniqCols = Vector.empty[String]
    var countCols = Vector.empty[String]
    val call = "(?i)^(count|sum|min|max|avg|uniq|uniqExact)\\s*\\((.*)\\)$".r
    items.map(_.trim).zipWithIndex.foreach { case (item, idx) =>
      item match {
        case call(fn, argRaw) =>
          val arg = argRaw.trim
          val bareCol = arg.nonEmpty &&
            arg.forall(ch => Character.isLetterOrDigit(ch) || ch == '_')
          fn.toLowerCase match {
            case "count" if arg.isEmpty || arg == "*" => // row count: always stored
            case "count" if bareCol => countCols :+= arg
            case "sum" if bareCol => sumCols :+= arg
            case "sum" => sumExprs += (s"e$idx" -> arg)
            case "min" if bareCol => minCols :+= arg
            case "max" if bareCol => maxCols :+= arg
            case "avg" if bareCol => avgCols :+= arg
            case "uniq" | "uniqexact" if bareCol => uniqCols :+= arg
            case other => fail(s"projection $pname: unsupported item " +
              s"$other($arg) — re-aggregable count/sum/min/max/avg/uniq only")
          }
        case ident if groupCols.contains(strip(ident)) => // grouping key
        case other => fail(s"projection $pname: unsupported item '$other'")
      }
    }
    val path = t.path.map(p => s"${p}__proj_$pname").getOrElse(
      fail(s"projection $pname: projections need a parquet-backed session " +
        "(new ChSession(spark, storageDir=...)) — the transparent router " +
        "keys on the base table's scan path"))
    graft.mergetree.ProjectionDef(pname, groupCols, sumCols, path,
      sumExprs, minCols, maxCols, avgCols, uniqCols, countCols)
  }

  /** Builds (or rebuilds) the pre-aggregate and arms the router. Insert
    * maintenance here is a full re-materialize per insert — correct, and
    * fine at demo scale; the 100 TB shape is per-part partials merged at
    * read (the reference materializes per part too, lecture_13.md:243).
    */
  private def materializeProjection(t: ChTable, p: graft.mergetree.ProjectionDef): Unit = {
    graft.mergetree.Projections.materialize(tableDf(t), p)
    t.path.foreach(bp => graft.plans.ProjectionRouting.register(bp, p))
  }

  /** The partition-value column for a PARTITION BY clause; a tuple
    * `(a, b)` renders as the dash-joined composite value.
    */
  private def partitionExpr(pb: String): Column = {
    val parts = ChTypes.splitTopLevel(pb)
    if (parts.length == 1) expr(pb).cast(StringType)
    else concat_ws("-", parts.map(e => expr(e).cast(StringType)): _*)
  }

  /** An ALTER COLUMN / RENAME rebuilds the ChTable — the replacement must
    * keep the original's TTL, detached partitions, and (same-path only)
    * its projections, re-arming the router for materialized ones; a
    * RENAME moves the storage path, so pre-aggregates referencing the
    * old path are dropped cleanly instead.
    */
  private def carryTableState(from: ChTable, to: ChTable): ChTable = {
    to.ttl = from.ttl
    to.detached ++= from.detached
    if (from.path == to.path) {
      to.projections ++= from.projections
      to.path.foreach(bp => to.projections.values.foreach(p =>
        if (pathExists(p.path)) graft.plans.ProjectionRouting.register(bp, p)))
    } else from.projections.values.foreach(p => deleteDir(p.path))
    to
  }

  private def requirePartitioned(t: ChTable): Unit =
    if (t.partitionBy.isEmpty)
      fail(s"${t.db}.${t.name} has no PARTITION BY — partition operations " +
        "need a partitioned table")

  private def indexOfTopLevel(toks: Vector[ChLexer.Token], kw: String): Int = {
    var depth = 0
    var i = 0
    while (i < toks.length) {
      if (toks(i).text == "(") depth += 1
      else if (toks(i).text == ")") depth -= 1
      else if (depth == 0 && toks(i).is(kw)) return i
      i += 1
    }
    -1
  }

  private def matchParenTok(toks: Vector[ChLexer.Token], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < toks.length) {
      if (toks(i).text == "(") depth += 1
      else if (toks(i).text == ")") { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    toks.length - 1
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"ChSession: $msg")
}
