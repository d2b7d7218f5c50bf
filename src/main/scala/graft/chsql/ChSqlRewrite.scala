package graft.chsql

import ChLexer.Token
import org.apache.spark.sql.types.StructType

/** Token-level ClickHouse-SELECT → Spark-SQL rewriter. Pure text in,
  * text + post-ops out; the stateful parts (catalog names, FINAL fold
  * views, SAMPLE BY keys) come in through [[Resolver]].
  *
  * Handled dialect (all observed in the reference's lectures/homeworks):
  * `PREWHERE` (merged into WHERE), `FROM t FINAL` (fold view routing),
  * `SAMPLE f` (deterministic hash filter over the declared sample key),
  * `ANY LEFT|INNER JOIN ... USING` (right side deduped per key),
  * `GLOBAL` (dropped — one engine, no distributed IN), `IN table`
  * (wrapped subquery), `numbers(N)` (range), `LIMIT n BY k` (post-op),
  * trailing `FORMAT X` / `SETTINGS ...` / `INTO OUTFILE` / `\G`
  * (dropped). ClickHouse function NAMES need no rewriting — the whole
  * dialect is injected into every session by
  * [[graft.plans.GraftExtensions]]. The outer-join default fill
  * (`join_use_nulls = 0`) and ANTI joins' right-side reads are not text
  * rewrites: the caller runs [[graft.plans.ChJoinDefaults.select]] over
  * the parsed and analyzed plan.
  */
object ChSqlRewrite {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** What the session knows about one referenced table. */
  final case class ResolvedTable(
      viewName: String,
      finalViewName: Option[String] = None,
      sampleKeySql: Option[String] = None)

  trait Resolver {
    /** Maps a (possibly db-qualified) identifier to a registered view. */
    def resolve(ident: String): Option[ResolvedTable]

    /** Maps a dictionary (or ENGINE=Join table) name to its backing view
      * and key column — dictGet/joinGet lower to correlated scalar
      * subqueries against it (Catalyst rewrites those into joins).
      */
    def resolveDict(name: String): Option[(String, String)] = None

    /** Materializes a table function (`s3(...)`, `url(...)`, `file(...)`)
      * into a registered view; returns the view name.
      */
    def resolveTableFunction(fn: String, args: Seq[String]): Option[String] =
      None

    /** Schema of an already-resolved view — its column names power the
      * `COLUMNS('regex')` dynamic-projection macro (lecture_04/08) and
      * the ASOF lowering's catalog sides; its types and declared
      * nullability ([[ChTypes.NullableKey]]) give the type defaults an
      * unmatched ASOF LEFT catalog side reads.
      */
    def describe(viewName: String): Option[StructType] = None

    /** The Enum8/16 value→name mapping of `column` on the (CH-named)
      * table `ident`, when that column is enum-typed — powers
      * ClickHouse's numeric enum comparisons (`type IN (3, 4)` on
      * system.query_log, lecture_20.md:620).
      */
    def enumValues(ident: String, column: String): Option[Map[Int, String]] =
      None

    /** Analyzed output schema of an arbitrary dialect SELECT (analysis
      * only, no execution) — what [[describe]] is for a SUBQUERY or CTE
      * side (the ASOF lowering, LEFT SEMI, and the ASOF LEFT defaults),
      * where no catalog entry exists. Plain references keep
      * their declared nullability in the column metadata; computed
      * columns carry none and read their result type's zero value.
      */
    def describeQuery(sql: String): Option[StructType] = None

    /** The session's `join_use_nulls` setting: false (ClickHouse's
      * default, 0) makes unmatched outer-join columns read their TYPE
      * DEFAULTS ([[Rewritten.joinUseNulls]] tells the caller to run the
      * plan fill); true (1) keeps SQL NULLs.
      */
    def joinUseNulls: Boolean = false
  }

  object NoTables extends Resolver {
    def resolve(ident: String): Option[ResolvedTable] = None
  }

  final case class LimitByOp(n: Long, offset: Long, keys: Seq[String],
                             orderSql: Option[String])

  final case class FillOp(axis: String, from: Option[String],
                          to: Option[String], step: Option[String])

  /** `joinUseNulls`: the statement's effective `join_use_nulls` (a
    * `SETTINGS` tail over the session's) — false asks the caller to run
    * the outer-join default fill ([[graft.plans.ChJoinDefaults]]) over
    * the analyzed plan.
    */
  final case class Rewritten(sql: String, limitBy: Option[LimitByOp],
                             finalLimit: Option[(Long, Long)],
                             fill: Option[FillOp] = None,
                             outfile: Option[(String, Option[String])] = None,
                             joinUseNulls: Boolean = false)

  private val clauseStarters = Set("WHERE", "GROUP", "ORDER", "LIMIT",
    "HAVING", "SETTINGS", "UNION", "INTERSECT", "EXCEPT", "WINDOW",
    "QUALIFY", "FORMAT", "INTO")

  /** Keywords that end a join's ON/USING condition span at depth 0 —
    * ONE set shared by every pass that scans a join condition
    * (rewriteAnyJoin, the ASOF lowering, rewriteSemiRightRefs), so
    * clause coverage cannot drift between them.
    */
  private val joinCondTerm = clauseStarters ++ Set("PREWHERE", "JOIN",
    "LEFT", "RIGHT", "INNER", "FULL", "CROSS", "ANY", "ALL", "ASOF",
    "SEMI", "ANTI", "PASTE")

  /** LEFT/RIGHT/ANY double as scalar function NAMES (`left(s, 2)`,
    * `any(x)`): a keyword-set match that is immediately followed by
    * `(` is a CALL inside an expression, never a join keyword or a
    * condition-span terminator. JOIN itself is exempt from the
    * exemption — `JOIN (SELECT …)` heads a subquery side — as is every
    * keyword that is not also a function name.
    */
  private val funcableKw = Set("LEFT", "RIGHT", "ANY", "ALL")
  private def kwAt(toks: Vector[Token], idx: Int, kws: Set[String]): Boolean = {
    val t = toks(idx)
    !t.isString && kws(t.upper) &&
      !(funcableKw(t.upper) && idx + 1 < toks.length &&
        toks(idx + 1).text == "(")
  }

  private val allJoinKw = Set("JOIN", "LEFT", "RIGHT", "INNER", "FULL",
    "CROSS", "ANY", "ALL", "ASOF", "SEMI", "ANTI", "OUTER", "GLOBAL",
    "PASTE")

  /** Component aliases of a join-TREE segment (`a JOIN b ON … LEFT
    * JOIN (SELECT …) c ON …`) — the names composite-side flattening
    * must requalify onto its auto-alias. Every component is
    * `ref [FINAL|SAMPLE …] [AS] [alias]`; a subquery component
    * REQUIRES an alias (there is no name to derive one from). Shared
    * by the ANY RIGHT and ASOF composite paths.
    */
  private def joinTreeComponentAliases(seg: Vector[Token],
                                       joinName: String): Vector[String] = {
    val aliases = Vector.newBuilder[String]
    var q = 0
    while (q < seg.length) {
      val (refEnd, refName) =
        if (seg(q).text == "(") (matchParen(seg, q), "")
        else (q, seg(q).text)
      var r = refEnd + 1
      val region = Vector.newBuilder[Token]
      while (r < seg.length && !seg(r).is("ON") && !seg(r).is("USING") &&
        !kwAt(seg, r, allJoinKw)) {
        region += seg(r); r += 1
      }
      val regionToks = region.result()
      val mAt = regionToks.indexWhere(t2 => t2.is("FINAL") || t2.is("SAMPLE"))
      val aliasToks = (if (mAt < 0) regionToks else regionToks.take(mAt))
        .filterNot(_.is("AS"))
      aliases += aliasToks.lastOption.map(_.text).getOrElse {
        if (refName.isEmpty) throw new IllegalArgumentException(
          s"$joinName: a subquery inside the composite side requires " +
            "an alias")
        refName.split('.').last
      }
      if (r < seg.length && (seg(r).is("ON") || seg(r).is("USING"))) {
        r += 1
        var dd = 0
        while (r < seg.length && !(dd == 0 && kwAt(seg, r, allJoinKw))) {
          if (seg(r).text == "(") dd += 1
          else if (seg(r).text == ")") dd -= 1
          r += 1
        }
      }
      while (r < seg.length && kwAt(seg, r, allJoinKw))
        r += 1
      q = r
    }
    aliases.result()
  }

  /** Select-block scoping shared by the alias-sensitive rewrites
    * (rewriteAnyJoin's composite requalification, the ASOF lowering,
    * the star expansion): for every token, (a) the id of its
    * innermost enclosing SELECT block — a same-named alias inside an
    * unrelated subquery must not be rewritten by another block's join —
    * and (b) whether it sits in that block's SELECT list (between
    * SELECT and FROM / the first clause keyword), the only place an
    * injected `AS col` alias is legal.
    */
  private def selectBlockScopes(toks: Vector[Token])
      : (Array[Int], Array[Boolean]) = {
    val blockOf = new Array[Int](toks.length)
    val inList = new Array[Boolean](toks.length)
    var cur = 0
    var curList = false
    var nextId = 1
    val stk = scala.collection.mutable.ArrayDeque.empty[(Int, Boolean)]
    var q = 0
    while (q < toks.length) {
      val t = toks(q)
      if (t.text == "(") stk.prepend((cur, curList))
      else if (t.text == ")") {
        if (stk.nonEmpty) { val h = stk.removeHead(); cur = h._1; curList = h._2 }
      } else if (t.is("SELECT")) { cur = nextId; nextId += 1; curList = true }
      else if (!t.isString &&
        (t.is("FROM") || clauseStarters(t.upper))) curList = false
      blockOf(q) = cur
      inList(q) = curList
      q += 1
    }
    (blockOf, inList)
  }

  /** ClickHouse Bool settings accept 1/0 and true/false. */
  private def settingIsTrue(v: String): Boolean = {
    val s = v.trim.toLowerCase
    s == "1" || s == "true"
  }

  def rewrite(sql: String, resolver: Resolver): Rewritten = {
    var toks = ChLexer.tokenize(sql)
    val (stripped, outfile, tailSettings) = stripTail(toks)
    toks = stripped
    // ClickHouse tolerates a trailing comma in the select list
    // (hw03.md:205's `... + number * 315360,\nFROM numbers(100)`)
    toks = toks.zipWithIndex.collect {
      case (t, i) if !(t.text == "," && i + 1 < toks.length &&
        toks(i + 1).is("FROM")) => t
    }
    toks = rewriteScalarWith(toks)
    toks = rewriteArrayLiterals(toks)
    toks = fixCountStar(toks)
    toks = fixEmptyWindowOrder(toks)
    toks = dropGlobal(toks)
    toks = castStateFnArgs(toks)
    toks = rewriteCastTypes(toks)
    toks = rewritePostfixCast(toks)
    toks = rewriteNumbers(toks)
    toks = rewriteIntervalArgs(toks)
    toks = rewriteNowArithmetic(toks)
    toks = rewriteCommaCrossJoin(toks)
    toks = rewriteEnumComparisons(toks, resolver)
    toks = rewriteTableFunctions(toks, resolver)
    toks = rewriteArrayJoinClause(toks)
    toks = toks.map(t => if (t.is("arrayJoin")) Token("explode") else t)
    toks = rewriteDictGet(toks, resolver)
    val useNulls = tailSettings.get("join_use_nulls").map(settingIsTrue)
      .getOrElse(resolver.joinUseNulls)
    toks = normalizeBareUsing(toks, resolver)
    toks = rewriteSemiRightRefs(toks, resolver)
    toks = expandQualifiedStars(toks, resolver)
    toks = rewriteAnyJoin(toks)
    toks = rewriteAsofJoin(toks, resolver, useNulls)
    toks = rewritePrewhere(toks)
    toks = rewriteWithTotals(toks)
    val (afterFill, fill) = extractWithFill(toks)
    toks = afterFill
    val (afterLimitBy, limitBy, finalLimit) = extractLimitBy(toks)
    toks = afterLimitBy
    toks = rewriteFromClauses(toks, resolver)
    toks = rewriteInTable(toks, resolver)
    toks = mapIdentifiers(toks, resolver)
    toks = expandColumnsMacro(toks, resolver)
    toks = toks.map(ChLexer.quoteDigitIdent)
    Rewritten(ChLexer.render(toks), limitBy, finalLimit, fill, outfile,
      useNulls)
  }

  /** `COLUMNS('regex')` → the matching column names of the statement's
    * FROM target (lecture_04.md's `SELECT COLUMNS('path') FROM
    * system.parts`). Runs LAST, after FROM identifiers resolve to view
    * names, so the resolver can describe them; an unanchored regex
    * search per ClickHouse semantics.
    */
  private def expandColumnsMacro(toks: Vector[Token],
                                 resolver: Resolver): Vector[Token] = {
    var t = toks
    var guard = 0
    while (guard < 8) {
      guard += 1
      val at = t.indices.find(i => t(i).is("COLUMNS") &&
        i + 2 < t.length && t(i + 1).text == "(" && t(i + 2).isString)
      at match {
        case None => return t
        case Some(i) =>
          val close = matchParen(t, i + 1)
          val regex = t(i + 2).text.stripPrefix("'").stripSuffix("'")
          // first top-level FROM after the macro names the target view
          var depth = 0; var j = 0; var from = -1
          while (j < t.length && from < 0) {
            t(j).text match {
              case "(" => depth += 1
              case ")" => depth -= 1
              case _ if depth == 0 && t(j).is("FROM") => from = j
              case _ =>
            }
            j += 1
          }
          val cols = for {
            f <- Some(from).filter(f => f >= 0 && f + 1 < t.length)
            names <- resolver.describe(strip(t(f + 1).text))
              .map(_.fieldNames.toSeq)
            re = regex.r
            hit = names.filter(n => re.findFirstIn(n).isDefined)
            if hit.nonEmpty
          } yield hit
          cols match {
            case Some(names) =>
              val repl = names.flatMap(n =>
                Seq(Token("`" + n + "`"), Token(","))).dropRight(1)
              t = t.take(i) ++ repl ++ t.drop(close + 1)
            case None => return t // leave for the analyzer to report
          }
      }
    }
    t
  }

  // ---- FROM s3(...)/url(...)/file(...)/gcs(...) → materialized views ----
  private val tableFns = Set("S3", "URL", "FILE", "GCS", "MERGE",
    "REMOTE", "REMOTESECURE", "CLUSTER", "CLUSTERALLREPLICAS",
    "GENERATERANDOM")

  private def rewriteTableFunctions(toks: Vector[Token],
                                    resolver: Resolver): Vector[Token] = {
    var i = 0
    while (i < toks.length - 1) {
      if (tableFns(toks(i).upper) && i + 1 < toks.length &&
        toks(i + 1).text == "(" && prevSuggestsTable(toks, i)) {
        val close = matchParen(toks, i + 1)
        val args = ChTypes.splitTopLevel(
          ChLexer.render(toks.slice(i + 2, close)))
        resolver.resolveTableFunction(toks(i).text.toLowerCase, args) match {
          case Some(view) =>
            val rebuilt = toks.take(i) ++ ChLexer.tokenize(view) ++
              toks.drop(close + 1)
            return rewriteTableFunctions(rebuilt, resolver)
          case None => i = close + 1
        }
      } else i += 1
    }
    toks
  }

  // ---- [LEFT] ARRAY JOIN expr AS alias → LATERAL VIEW explode ----
  private def rewriteArrayJoinClause(toks: Vector[Token]): Vector[Token] = {
    var i = 0
    while (i < toks.length - 1) {
      if (toks(i).is("ARRAY") && toks(i + 1).is("JOIN")) {
        val left = i > 0 && toks(i - 1).is("LEFT")
        val start = if (left) i - 1 else i
        // the clause's item list: `expr [AS alias]` separated by
        // depth-0 commas, ending at a clause keyword / ')' / ';' /
        // the next join keyword
        val items = Vector.newBuilder[(Vector[Token], Option[String])]
        var cur = Vector.newBuilder[Token]
        var j = i + 2
        var dd = 0
        var asAt = -1 // index INTO cur of the item's depth-0 AS
        var curLen = 0
        var done = false
        def flush(): Unit = {
          val it = cur.result()
          if (asAt >= 0 && asAt == it.length - 2)
            items += ((it.take(asAt), Some(it.last.text)))
          else items += ((it, None))
          cur = Vector.newBuilder; curLen = 0; asAt = -1
        }
        while (j < toks.length && !done) {
          val t = toks(j)
          if (t.text == "(") dd += 1
          else if (t.text == ")") { dd -= 1; if (dd < 0) done = true }
          if (!done && dd == 0 && !t.isString &&
            (t.text == ";" || fromClauseEnd(t) || joinFamily(t) ||
              t.is("ARRAY") || t.is("ON") || t.is("USING"))) done = true
          if (!done) {
            if (dd == 0 && t.text == ",") flush()
            else {
              if (dd == 0 && t.is("AS")) asAt = curLen
              cur += t; curLen += 1
            }
            j += 1
          }
        }
        flush()
        val list = items.result().filter(_._1.nonEmpty)
        val listEnd = j
        if (list.isEmpty) return toks
        if (list.forall(_._2.isDefined)) {
          if (list.length == 1) {
            val (exprToks, Some(alias)) = list.head: @unchecked
            val exprSql = ChLexer.render(exprToks)
            val lateral = s"LATERAL VIEW ${if (left) "OUTER " else ""}" +
              s"explode($exprSql) __aj_$alias AS $alias"
            val rebuilt = toks.take(start) ++ ChLexer.tokenize(lateral) ++
              toks.drop(listEnd)
            return rewriteArrayJoinClause(rebuilt)
          }
          // multi-item form ZIPS the arrays (lectures/lecture_06.md:38:
          // `array join sizes as size, centimetres as centimetre`):
          // posexplode the first, access the others positionally —
          // element_at errors on unequal lengths exactly as ClickHouse
          // rejects unequal ARRAY JOIN arguments
          return rewriteArrayJoinClause(
            zipArrayJoin(toks, start, listEnd, left, list))
        }
        if (list.length == 1 && list.head._2.isEmpty)
          // no AS alias: ClickHouse's bare `ARRAY JOIN col` unnests col
          // IN PLACE under its own name
          return rewriteBareArrayJoin(toks, start, i, left)
            .getOrElse(toks)
        return toks // mixed bare/aliased multi list: unsupported
      }
      i += 1
    }
    toks
  }

  /** The multi-item `ARRAY JOIN e1 AS a1, e2 AS a2, …` zip lowering:
    * `LATERAL VIEW [OUTER] posexplode(e1) __ajz AS __aj_pos, a1`, and
    * every same-block reference to a later alias substitutes
    * `element_at(e_i, __aj_pos + 1)` (with `AS a_i` re-attached on
    * bare select-list items so output names survive).
    */
  private def zipArrayJoin(toks: Vector[Token], start: Int, listEnd: Int,
                           left: Boolean,
                           list: Vector[(Vector[Token], Option[String])])
      : Vector[Token] = {
    val (blockIds, inList) = selectBlockScopes(toks)
    val block = blockIds(start)
    val head = list.head
    val a1 = head._2.get
    val lateral = ChLexer.tokenize(
      s"LATERAL VIEW ${if (left) "OUTER " else ""}" +
        s"posexplode(${ChLexer.render(head._1)}) __ajz_$a1 " +
        s"AS __aj_pos, $a1")
    val subs: Map[String, Vector[Token]] = list.tail.map {
      case (exprToks, Some(a)) =>
        stripTicks(a) -> (ChLexer.tokenize(
          s"element_at(${ChLexer.render(exprToks)}, __aj_pos + 1)"))
      case _ => throw new IllegalStateException("unreachable: all aliased")
    }.toMap
    def substitute(ts: Vector[Token], offset: Int): Vector[Token] = {
      val out = Vector.newBuilder[Token]
      ts.zipWithIndex.foreach { case (t, ix) =>
        val pos = offset + ix
        val hit = t.isIdent && !t.isString && blockIds(pos) == block &&
          subs.contains(stripTicks(t.text))
        if (hit) {
          val alias = stripTicks(t.text)
          out ++= subs(alias)
          // a bare select-list item keeps its output name
          val bare = inList(pos) && pos > 0 && pos + 1 < toks.length &&
            (toks(pos - 1).text == "," || toks(pos - 1).is("SELECT") ||
              toks(pos - 1).is("DISTINCT")) &&
            (toks(pos + 1).text == "," || toks(pos + 1).is("FROM"))
          if (bare) { out += Token("AS") += Token(alias); () }
        } else out += t
      }
      out.result()
    }
    substitute(toks.take(start), 0) ++ lateral ++
      substitute(toks.drop(listEnd), listEnd)
  }

  /** Lowers ClickHouse's bare `[LEFT] ARRAY JOIN col` (no AS — the
    * element REPLACES the array column under its own name,
    * lectures/lecture_06.md:38's clause form) for the single-identifier
    * case. Spark's LATERAL VIEW cannot shadow a base column (ambiguous
    * reference), so the FROM side is wrapped to RENAME the array out of
    * the way first:
    * `FROM t ARRAY JOIN col` →
    * `FROM (SELECT * EXCEPT (col), col AS __aj_in_col FROM t) t
    *  LATERAL VIEW explode(__aj_in_col) __aj_g_col AS col`
    * Supported shapes: the FROM component is a plain identifier or a
    * parenthesized derived table, optionally aliased, and the ARRAY
    * JOIN operand is ONE bare identifier ending the clause. Anything
    * else (zip lists `ARRAY JOIN a, b`, FINAL/SAMPLE tails,
    * expressions) returns None and the text passes through unchanged.
    * The helper `__aj_in_col` column leaks into a `SELECT *` projection
    * — explicit select lists (every corpus use) are unaffected.
    */
  private def rewriteBareArrayJoin(toks: Vector[Token], start: Int,
                                   arrayAt: Int, left: Boolean)
      : Option[Vector[Token]] = {
    // operand: ONE bare identifier closing the clause
    val colAt = arrayAt + 2
    if (colAt >= toks.length) return None
    val colTok = toks(colAt)
    if (!colTok.isIdent || colTok.isString || colTok.text.contains(".") ||
      sqlWordLike(colTok.upper)) return None
    if (colAt + 1 < toks.length) {
      val nxt = toks(colAt + 1)
      val clauseEnd = nxt.text == ")" || nxt.text == ";" ||
        nxt.text == "," || fromClauseEnd(nxt)
      if (!clauseEnd || nxt.text == ",") return None // zip list: unsupported
    }
    // the owning FROM, scanning back at the same depth
    var d = 0
    var f = start - 1
    var fromAt = -1
    while (f >= 0 && fromAt < 0) {
      val t = toks(f)
      if (t.text == ")") d += 1
      else if (t.text == "(") { if (d == 0) return None; d -= 1 }
      else if (d == 0 && t.is("FROM")) fromAt = f
      f -= 1
    }
    if (fromAt < 0) return None
    val seg = toks.slice(fromAt + 1, start)
    if (seg.isEmpty) return None
    // component [+ alias]; FINAL / SAMPLE / join tails bail out
    val (compToks, rest) =
      if (seg.head.text == "(") {
        var dd = 0; var p = 0; var close = -1
        while (p < seg.length && close < 0) {
          if (seg(p).text == "(") dd += 1
          else if (seg(p).text == ")") { dd -= 1; if (dd == 0) close = p }
          p += 1
        }
        if (close < 0) return None
        (seg.take(close + 1), seg.drop(close + 1))
      } else if (seg.head.isIdent && !sqlWordLike(seg.head.upper))
        (seg.take(1), seg.drop(1))
      else return None
    val alias = rest match {
      case Vector() =>
        if (compToks.length == 1) strip(compToks.head.text).split('.').last
        else "__aj_base"
      case Vector(a) if a.isIdent && !sqlWordLike(a.upper) =>
        strip(a.text)
      case Vector(as_, a) if as_.is("AS") && a.isIdent => strip(a.text)
      case _ => return None
    }
    val col = strip(colTok.text)
    val inner = ChLexer.render(compToks)
    val wrapped =
      s"(SELECT * EXCEPT (`$col`), `$col` AS __aj_in_$col FROM $inner) " +
        s"$alias LATERAL VIEW ${if (left) "OUTER " else ""}" +
        s"explode(__aj_in_$col) __aj_g_$col AS $col"
    Some(rewriteArrayJoinClause(
      toks.take(fromAt + 1) ++ ChLexer.tokenize(wrapped) ++
        toks.drop(colAt + 1)))
  }

  // ---- dictGet family / joinGet → correlated scalar subqueries ----
  private val dictFns = Set("DICTGET", "DICTGETORDEFAULT", "DICTGETORNULL",
    "JOINGET")

  private def rewriteDictGet(toks: Vector[Token],
                             resolver: Resolver): Vector[Token] = {
    var i = 0
    while (i < toks.length - 1) {
      if (dictFns(toks(i).upper) && toks(i + 1).text == "(") {
        val close = matchParen(toks, i + 1)
        val args = ChTypes.splitTopLevel(
          ChLexer.render(toks.slice(i + 2, close)))
        val fn = toks(i).upper
        val dictName = args.head.trim.stripPrefix("'").stripSuffix("'")
        resolver.resolveDict(dictName) match {
          case Some((view, pk)) =>
            val attr = args(1).trim.stripPrefix("'").stripSuffix("'")
            val key = args(2)
            // min() collapses duplicates deterministically (ANY semantics).
            // The pk is renamed to a reserved name INSIDE the subquery so
            // an outer key column with the same name as the pk still
            // resolves to the outer scope (joinGet('jt','v',k) with pk=k).
            val sub = s"(SELECT min(__d_attr) FROM (SELECT $pk AS __d_pk, " +
              s"$attr AS __d_attr FROM $view) WHERE __d_pk = ($key))"
            val repl = fn match {
              case "DICTGETORDEFAULT" => s"coalesce($sub, ${args(3)})"
              case _ => sub
            }
            val rebuilt = toks.take(i) ++ ChLexer.tokenize(repl) ++
              toks.drop(close + 1)
            return rewriteDictGet(rebuilt, resolver)
          case None => // unknown dictionary: leave the call in place
        }
      }
      i += 1
    }
    toks
  }

  // ---- ORDER BY x WITH FILL [FROM a] [TO b] [STEP s] ----
  private def extractWithFill(toks: Vector[Token])
      : (Vector[Token], Option[FillOp]) = {
    var depth = 0
    var i = 0
    while (i < toks.length - 1) {
      if (toks(i).text == "(") depth += 1
      else if (toks(i).text == ")") depth -= 1
      else if (depth == 0 && toks(i).is("WITH") && toks(i + 1).is("FILL")) {
        // the axis is the ORDER BY expression immediately before WITH
        var a = i - 1
        if (a >= 0 && (toks(a).is("ASC") || toks(a).is("DESC"))) a -= 1
        val axis = toks(a).text
        var j = i + 2
        var from: Option[String] = None
        var to: Option[String] = None
        var step: Option[String] = None
        var go = true
        while (go && j + 1 < toks.length) {
          if (toks(j).is("FROM")) { from = Some(toks(j + 1).text); j += 2 }
          else if (toks(j).is("TO")) { to = Some(toks(j + 1).text); j += 2 }
          else if (toks(j).is("STEP")) { step = Some(toks(j + 1).text); j += 2 }
          else go = false
        }
        return (toks.take(i) ++ toks.drop(j),
          Some(FillOp(axis, from, to, step)))
      }
      i += 1
    }
    (toks, None)
  }

  /** `CAST(x AS UInt8)` / `CAST(NULL AS Nullable(Int64))`: the dialect's
    * type names in the SQL CAST spelling lower through [[ChTypes]] to
    * Spark DDL types (the function spellings `toUInt8(x)` already lower
    * natively via ChRegistry; the HTTP demos of lecture_03 use both).
    * Unknown/already-Spark type names are left for the analyzer.
    */
  private def rewriteCastTypes(toks: Vector[Token]): Vector[Token] = {
    var t = toks
    var i = 0
    while (i < t.length - 1) {
      if (t(i).is("CAST") && t(i + 1).text == "(") {
        val close = matchParen(t, i + 1)
        if (close > 0) {
          // the LAST top-level AS inside the parens introduces the type
          var depth = 0; var as = -1; var j = i + 2
          while (j < close) {
            t(j).text match {
              case "(" | "[" => depth += 1
              case ")" | "]" => depth -= 1
              case _ if depth == 0 && t(j).is("AS") => as = j
              case _ =>
            }
            j += 1
          }
          if (as > 0 && as + 1 < close) {
            val typeText = t.slice(as + 1, close).map(_.text).mkString
            scala.util.Try(ChTypes.parse(typeText).dataType.sql).toOption
              .filter(_.replaceAll("\\s", "").toUpperCase !=
                typeText.replaceAll("\\s", "").toUpperCase)
              .foreach { st =>
                t = t.take(as + 1) ++ Vector(Token(st)) ++ t.drop(close)
              }
          }
        }
      }
      i += 1
    }
    t
  }

  /** ClickHouse postfix cast `expr::Type` (homeworks/hw14.md:38's
    * `toStartOfInterval(...)::INT`): rewritten to `CAST(expr AS T)` with
    * the CH type name lowered through [[ChTypes]] (unknown names pass
    * through — `::INT` is already Spark-legal). The operand is the
    * preceding primary: a parenthesized span (with its call name if one
    * precedes), a subscript span plus its base identifier, or the single
    * preceding token.
    */
  private def rewritePostfixCast(toks: Vector[Token]): Vector[Token] = {
    var t = toks
    var i = 1
    while (i < t.length - 1) {
      if (!t(i).isString && t(i).text == "::" && t(i + 1).isIdent) {
        // type span: ident + optional parenthesized args (Decimal32(2))
        var typeEnd = i + 2
        if (typeEnd < t.length && t(typeEnd).text == "(") {
          val c = matchParen(t, typeEnd)
          if (c > 0) typeEnd = c + 1
        }
        val typeText = t.slice(i + 1, typeEnd).map(_.text).mkString
        var start = i - 1
        if (t(start).text == ")" || t(start).text == "]") {
          var depth = 0; var j = i - 1; var found = -1
          while (j >= 0 && found < 0) {
            t(j).text match {
              case ")" | "]" => depth += 1
              case "(" | "[" => depth -= 1; if (depth == 0) found = j
              case _ =>
            }
            j -= 1
          }
          if (found >= 0) {
            start = found
            // a call's name / a subscript's base belongs to the operand
            if (start > 0 && t(start - 1).isIdent) start -= 1
          }
        }
        val st = scala.util.Try(ChTypes.parse(typeText).dataType.sql)
          .getOrElse(typeText)
        t = t.take(start) ++ Vector(Token("CAST"), Token("(")) ++
          t.slice(start, i) ++ Vector(Token("AS"), Token(st), Token(")")) ++
          t.drop(typeEnd)
        i = start // rescan from the wrap (chained `x::A::B`)
      }
      i += 1
    }
    t
  }

  // ---- trailing FORMAT X / INTO OUTFILE '...' / \G / SETTINGS k=v ----
  /** Strips the statement tails Spark's parser can't take. Returns the
    * remaining tokens plus the `INTO OUTFILE` target when one was
    * present: (path, declared FORMAT if any) — the session WRITES that
    * file (ClickHouse client semantics), it is not merely dropped.
    */
  private def stripTail(toks: Vector[Token])
      : (Vector[Token], Option[(String, Option[String])],
         Map[String, String]) = {
    var t = toks
    var fmt: Option[String] = None
    var outPath: Option[String] = None
    var tailSettings = Map.empty[String, String]
    // the tails compose in either order ("FORMAT JSON SETTINGS k=v" and
    // "SETTINGS k=v FORMAT JSON" are both legal) — iterate to fixpoint
    var changed = true
    while (changed) {
      changed = false
      if (t.nonEmpty && t.last.text == "\\G") { t = t.dropRight(1); changed = true }
      // top-level FORMAT <ident> at the very end
      depthIndexOfLast(t, "FORMAT") match {
        case i if i >= 0 && i == t.length - 2 && t.last.isIdent =>
          fmt = Some(t.last.text)
          t = t.take(i); changed = true
        case _ =>
      }
      // top-level INTO OUTFILE '...' [FORMAT x [SETTINGS ...]] — when a
      // SETTINGS tail follows the FORMAT, the end-anchored FORMAT pass
      // above never fires, so capture the declared format here before
      // the cut drops it
      depthIndexOfLast(t, "INTO") match {
        case i if i >= 0 && i + 1 < t.length && t(i + 1).is("OUTFILE") =>
          if (i + 2 < t.length && t(i + 2).isString)
            outPath = Some(t(i + 2).text.stripPrefix("'").stripSuffix("'"))
          if (fmt.isEmpty && i + 4 < t.length && t(i + 3).is("FORMAT") &&
            t(i + 4).isIdent)
            fmt = Some(t(i + 4).text)
          t = t.take(i); changed = true
        case _ =>
      }
      // top-level trailing SETTINGS k = v, ... — CAPTURED, not just
      // dropped: some settings are semantic (join_use_nulls flips the
      // outer-join default wrap per query)
      depthIndexOfLast(t, "SETTINGS") match {
        case i if i >= 0 && settingsToEnd(t, i) =>
          var j = i + 1
          var more = true
          while (more && j + 2 <= t.length - 1 &&
            t(j).isIdent && t(j + 1).text == "=") {
            val v = t(j + 2).text.stripPrefix("'").stripSuffix("'")
            tailSettings += (t(j).text.toLowerCase -> v)
            j += 3
            if (j < t.length && t(j).text == ",") j += 1 else more = false
          }
          t = t.take(i); changed = true
        case _ =>
      }
    }
    (t, outPath.map(p => (p, fmt)), tailSettings)
  }

  private def settingsToEnd(t: Vector[Token], i: Int): Boolean = {
    // `settings` can also be a TABLE (`USE system; SELECT * FROM
    // settings`) — a tail needs a preceding clause body and at least one
    // `ident = literal` assignment after the keyword
    if (i > 0 && (t(i - 1).is("FROM") || t(i - 1).text == ","))
      return false
    if (i + 1 >= t.length || !t.drop(i + 1).exists(_.text == "="))
      return false
    // SETTINGS is a statement tail iff only ident = literal [, ...] follow
    var j = i + 1
    while (j < t.length) {
      if (t(j).isString || t(j).text == "," || t(j).text == "=" ||
        t(j).isIdent || t(j).text.nonEmpty &&
        (Character.isDigit(t(j).text.charAt(0)) || t(j).text == ".")) j += 1
      else return false
    }
    true
  }

  private def depthIndexOfLast(t: Vector[Token], kw: String): Int = {
    var depth = 0
    var found = -1
    var i = 0
    while (i < t.length) {
      val tok = t(i)
      if (tok.text == "(") depth += 1
      else if (tok.text == ")") depth -= 1
      else if (depth == 0 && tok.is(kw)) found = i
      i += 1
    }
    found
  }

  // ---- ClickHouse [..] array literals → array(..) ----
  // `[` starts a LITERAL when what precedes it cannot be a value
  // (start-of-expression positions); after an identifier/`)`/`]` it is a
  // SUBSCRIPT (arr[1], map['k']) — Spark parses those natively.
  private val literalStarters = Set("SELECT", "WHERE", "AND", "OR", "NOT",
    "IN", "BY", "ON", "WHEN", "THEN", "ELSE", "CASE", "HAVING", "AS",
    "UNION", "ALL", "DISTINCT", "RETURN", "SETTINGS")

  private def rewriteArrayLiterals(toks: Vector[Token]): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    val stack = scala.collection.mutable.Stack[Boolean]() // true = literal
    var prev: Option[Token] = None
    toks.foreach { t =>
      t.text match {
        case "[" =>
          val literal = prev match {
            case None => true
            case Some(p) =>
              p.text == "(" || p.text == "," ||
                (!p.isString && literalStarters(p.upper)) ||
                (!p.isIdent && !p.isString && p.text != ")" && p.text != "]")
          }
          stack.push(literal)
          // two tokens so later passes' paren-depth accounting stays balanced
          if (literal) { out += Token("array"); out += Token("(") }
          else out += t
        case "]" if stack.nonEmpty =>
          out += (if (stack.pop()) Token(")") else t)
        case _ => out += t
      }
      prev = Some(t)
    }
    out.result()
  }

  // ---- ranking fn OVER () — ClickHouse permits an unordered window for
  // row_number() (arbitrary order); Spark requires ORDER BY, so an
  // arbitrary-but-concrete order is supplied (hw07.md's rn idiom) ----
  private def fixEmptyWindowOrder(toks: Vector[Token]): Vector[Token] = {
    val ranking = Set("row_number", "rank", "dense_rank", "ntile")
    val out = Vector.newBuilder[Token]
    var i = 0
    while (i < toks.length) {
      if (toks(i).is("OVER") && i + 2 < toks.length &&
        toks(i + 1).text == "(" && toks(i + 2).text == ")" &&
        i >= 3 && toks(i - 1).text == ")" && toks(i - 2).text == "(" &&
        ranking(toks(i - 3).text.toLowerCase)) {
        out += toks(i) += Token("(") += Token("ORDER") += Token("BY") +=
          Token("monotonically_increasing_id") += Token("(") +=
          Token(")") += Token(")")
        i += 3
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  // ---- ClickHouse's zero-arg count() → count(*) ----
  private def fixCountStar(toks: Vector[Token]): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    var i = 0
    while (i < toks.length) {
      if (toks(i).is("count") && i + 2 < toks.length &&
        toks(i + 1).text == "(" && toks(i + 2).text == ")") {
        out += toks(i) += toks(i + 1) += Token("*") += toks(i + 2)
        i += 3
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  // ---- ClickHouse scalar WITH: `WITH expr AS name SELECT …` binds a
  // constant, not a subquery (homeworks/hw11.md:38). Spark has no scalar
  // CTE, so each name inlines as a parenthesized copy of its expression.
  // The standard `WITH name AS (subquery)` form (ident-then-paren) is
  // left untouched; a mixed list bails out conservatively. ----
  private def rewriteScalarWith(toks: Vector[Token]): Vector[Token] = {
    if (toks.isEmpty || !toks.head.is("WITH")) return toks
    var i = 1
    val bindings = Vector.newBuilder[(String, Vector[Token])]
    var done = false
    while (!done) {
      var depth = 0; var j = i
      while (j < toks.length && !(depth == 0 && toks(j).is("AS"))) {
        if (toks(j).text == "(") depth += 1
        else if (toks(j).text == ")") depth -= 1
        j += 1
      }
      if (j >= toks.length - 1) return toks
      val nameAt = j + 1
      // `x AS (` = a standard CTE — not the scalar form
      if (nameAt + 1 < toks.length && toks(nameAt + 1).text == "(") return toks
      if (!toks(nameAt).isIdent) return toks
      bindings += toks(nameAt).text -> toks.slice(i, j)
      i = nameAt + 1
      if (i < toks.length && toks(i).text == ",") i += 1
      else done = true
    }
    if (i >= toks.length || !toks(i).is("SELECT")) return toks
    val bound = bindings.result().toMap
    toks.drop(i).flatMap { t =>
      if (t.isIdent && bound.contains(t.text))
        (Token("(") +: bound(t.text)) :+ Token(")")
      else Vector(t)
    }
  }

  // ---- GLOBAL JOIN / GLOBAL IN → plain (single engine) ----
  /** Wraps the arguments of the SQL `-State` routines in the CASTs their
    * aggregator input encoders expect (uniqState → STRING, avgState →
    * DOUBLE, …), so ClickHouse-typed expressions (`toUInt64(x)`, Int8
    * signs, Nullable ints) land on them unchanged —
    * [[graft.functions.StateSqlRegistry.argCasts]] is the contract.
    */
  private def castStateFnArgs(toks: Vector[Token]): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val casts =
        if (t.isIdent)
          graft.functions.StateSqlRegistry.argCasts.get(t.text.toLowerCase)
        else None
      if (casts.isDefined && i + 1 < toks.length && toks(i + 1).text == "(") {
        val close = matchParen(toks, i + 1)
        // split the argument tokens at depth-0 commas (inner, recursively
        // processed so nested state calls are wrapped too)
        val inner = castStateFnArgs(toks.slice(i + 2, close))
        val args = Vector.newBuilder[Vector[Token]]
        var depth = 0; var start = 0; var j = 0
        while (j < inner.length) {
          inner(j).text match {
            case "(" | "[" => depth += 1
            case ")" | "]" => depth -= 1
            case "," if depth == 0 =>
              args += inner.slice(start, j); start = j + 1
            case _ =>
          }
          j += 1
        }
        if (inner.nonEmpty) args += inner.slice(start, inner.length)
        out += t += Token("(")
        // ClickHouse's zero-arg countState() counts rows; the SQL
        // aggregator takes one argument, so feed it the literal 1
        val argList = args.result() match {
          case e if e.isEmpty && t.text.equalsIgnoreCase("countState") =>
            Vector(Vector(Token("1")))
          case other => other
        }
        argList.zipWithIndex.foreach { case (arg, k) =>
          if (k > 0) out += Token(",")
          casts.get.lift(k) match {
            // countState(x) counts NON-NULL x of ANY type — a straight
            // CAST(x AS BIGINT) would turn a String column into all
            // NULLs (non-ANSI cast) and count 0. Only x's null-ness
            // matters, so feed the aggregator IF(x IS NULL, NULL, 1).
            case Some(_) if t.text.equalsIgnoreCase("countState") =>
              out ++= ChLexer.tokenize("IF((") ++= arg ++=
                ChLexer.tokenize(") IS NULL, CAST(NULL AS BIGINT), CAST(1 AS BIGINT))")
            case Some(tp) =>
              out += Token("CAST") += Token("(")
              arg.foreach(out += _)
              out += Token("AS") += Token(tp) += Token(")")
            case None => arg.foreach(out += _)
          }
        }
        out += Token(")")
        i = close + 1
      } else {
        out += t
        i += 1
      }
    }
    out.result()
  }

  private def dropGlobal(toks: Vector[Token]): Vector[Token] =
    toks.filterNot(_.is("GLOBAL"))

  private def splitTopLevelArgs(args: Vector[Token]): Seq[Vector[Token]] = {
    if (args.isEmpty) return Seq.empty
    val out = Seq.newBuilder[Vector[Token]]
    var depth = 0
    var cur = Vector.newBuilder[Token]
    args.foreach { t =>
      t.text match {
        case "(" | "[" if !t.isString => depth += 1; cur += t
        case ")" | "]" if !t.isString => depth -= 1; cur += t
        case "," if !t.isString && depth == 0 =>
          out += cur.result(); cur = Vector.newBuilder[Token]
        case _ => cur += t
      }
    }
    out += cur.result()
    out.result()
  }

  // ---- numbers(N) → (SELECT id AS number FROM range(N)) ----
  private def rewriteNumbers(toks: Vector[Token]): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    var i = 0
    while (i < toks.length) {
      if (toks(i).is("numbers") && i + 1 < toks.length &&
        toks(i + 1).text == "(" && prevSuggestsTable(toks, i)) {
        val close = matchParen(toks, i + 1)
        val args = toks.slice(i + 2, close)
        // ClickHouse numbers(N) = 0..N-1; numbers(S, C[, St]) = C values
        // FROM S stepping St (lecture_10.md:44-45, hw14.md:82) — Spark
        // range takes an END bound, so the count arg lowers to S + C.
        val parts = splitTopLevelArgs(args)
        val rangeArgs: String = parts match {
          case Seq(n) => ChLexer.render(n)
          case Seq(s, c) =>
            val sTxt = ChLexer.render(s)
            s"$sTxt, ($sTxt) + (${ChLexer.render(c)})"
          case Seq(s, c, st) =>
            val sTxt = ChLexer.render(s)
            s"$sTxt, ($sTxt) + (${ChLexer.render(c)}), ${ChLexer.render(st)}"
          case _ => ChLexer.render(args)
        }
        out ++= ChLexer.tokenize(
          s"(SELECT id AS number FROM range($rangeArgs))")
        i = close + 1
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** `toStartOfInterval(t, INTERVAL n UNIT)`: the registered macro takes
    * the bucket width in SECONDS (`unix_timestamp(t) / s`); second-fixed
    * INTERVAL literals lower to that number (lecture_20/hw14's
    * monitoring buckets). Month-and-above units are not second-fixed and
    * are left alone.
    */
  private def rewriteIntervalArgs(toks: Vector[Token]): Vector[Token] = {
    val unitSecs = Map("SECOND" -> 1L, "SECONDS" -> 1L, "MINUTE" -> 60L,
      "MINUTES" -> 60L, "HOUR" -> 3600L, "HOURS" -> 3600L, "DAY" -> 86400L,
      "DAYS" -> 86400L, "WEEK" -> 604800L, "WEEKS" -> 604800L)
    var t = toks
    var i = 0
    while (i < t.length) {
      if (t(i).is("toStartOfInterval") && i + 1 < t.length &&
        t(i + 1).text == "(") {
        val close = matchParen(t, i + 1)
        var j = i + 2
        while (j < close) {
          if (t(j).is("INTERVAL") && j + 2 < close &&
            t(j + 1).text.nonEmpty && t(j + 1).text.forall(_.isDigit) &&
            unitSecs.contains(t(j + 2).upper)) {
            val secs = t(j + 1).text.toLong * unitSecs(t(j + 2).upper)
            t = t.take(j) ++ Vector(Token(secs.toString)) ++ t.drop(j + 3)
            return rewriteIntervalArgs(t) // indices shifted; restart
          }
          j += 1
        }
      }
      i += 1
    }
    rewriteComputedInterval(t)
  }

  /** ClickHouse accepts a COMPUTED interval magnitude —
    * `toDate('2024-01-01') + interval (floor(id/100)) days`
    * (homeworks/hw08.md:36, hw11.md:43) — where Spark's parser only
    * takes literals. Lower `INTERVAL <(expr)|ident> <unit>`:
    * YEAR/MONTH/WEEK/DAY → the matching `make_interval` slot (a
    * CalendarInterval with zero sub-day parts adds to a DATE and KEEPS
    * it a Date, matching ClickHouse's Date + N days = Date); HOUR and
    * below → `make_dt_interval`, whose day-time interval type promotes
    * a DATE operand to TIMESTAMP exactly as ClickHouse's Date + hours
    * yields DateTime (a CalendarInterval with sub-day parts would
    * instead throw INVALID_INTERVAL_WITH_MICROSECONDS_ADDITION on
    * dates). Literal magnitudes (`INTERVAL 30 YEAR`) parse natively
    * and stay untouched.
    */
  private val ymIntervalSlot = Map( // make_interval(y,mo,w,d,...)
    "YEAR" -> 0, "YEARS" -> 0, "MONTH" -> 1, "MONTHS" -> 1,
    "WEEK" -> 2, "WEEKS" -> 2, "DAY" -> 3, "DAYS" -> 3)
  private val dtIntervalSlot = Map( // make_dt_interval(days,hours,mins,secs)
    "HOUR" -> 1, "HOURS" -> 1, "MINUTE" -> 2, "MINUTES" -> 2,
    "SECOND" -> 3, "SECONDS" -> 3)
  private def rewriteComputedInterval(toks: Vector[Token]): Vector[Token] = {
    def isUnit(t: Token): Boolean = !t.isString &&
      (ymIntervalSlot.contains(t.upper) || dtIntervalSlot.contains(t.upper))
    var i = 0
    while (i < toks.length) {
      if (toks(i).is("INTERVAL") && i + 1 < toks.length) {
        val (argEnd, argToks): (Int, Option[Vector[Token]]) =
          if (toks(i + 1).text == "(") {
            val close = matchParen(toks, i + 1)
            (close, if (close > 0) Some(toks.slice(i + 1, close + 1)) else None)
          } else if (toks(i + 1).isIdent && !toks(i + 1).isString &&
            !toks(i + 1).text.forall(_.isDigit) && !isUnit(toks(i + 1)))
            (i + 1, Some(Vector(Token("("), toks(i + 1), Token(")"))))
          else (i + 1, None)
        argToks match {
          case Some(arg) if argEnd + 1 < toks.length &&
            isUnit(toks(argEnd + 1)) =>
            val unit = toks(argEnd + 1).upper
            val (fn, slot) = ymIntervalSlot.get(unit)
              .map(("make_interval", _))
              .getOrElse(("make_dt_interval", dtIntervalSlot(unit)))
            val zeros = Vector.fill(slot)(
              Vector(Token("0"), Token(","))).flatten
            val repl = Vector(Token(fn), Token("(")) ++ zeros ++
              Vector(Token("CAST"), Token("(")) ++ arg ++
              Vector(Token("AS"), Token("INT"), Token(")"), Token(")"))
            return rewriteComputedInterval(
              toks.take(i) ++ repl ++ toks.drop(argEnd + 2))
          case _ => ()
        }
      }
      i += 1
    }
    toks
  }

  /** ClickHouse Enum semantics: an Enum8/16 column compares as its
    * underlying NUMBER while storing/SELECTing as the label, so
    * `type IN (3, 4)` / `level = 2` must match rows whose stored value
    * is the mapped NAME. Conservative scope: statements whose FROM/JOIN
    * clauses name exactly ONE table with no comma cross-join (every
    * corpus use); equality and literal-list IN comparisons only
    * (ordering comparisons would need the numeric order, which the
    * label strings do not preserve).
    */
  private def rewriteEnumComparisons(toks: Vector[Token],
                                     resolver: Resolver): Vector[Token] = {
    // every FROM/JOIN table target at ANY depth: a subquery wrap
    // (`FROM (SELECT * FROM t) WHERE enum = 2`) keeps the enum typing
    // in ClickHouse, so the mapping must see through it. With SEVERAL
    // tables (a join), a qualified reference maps through its
    // alias/table qualifier; an unqualified one maps only when exactly
    // one referenced table has an enum column of that name and no other
    // table is known (or suspected) to own a same-named column.
    // (Comma cross-joins are already CROSS JOIN by the earlier pass, so
    // each target follows FROM or JOIN.)
    val notAlias: Token => Boolean = t =>
      fromClauseEnd(t) || joinFamily(t) || t.is("FINAL") || t.is("SAMPLE")
    val targets: Vector[(String, Option[String])] =
      toks.indices.flatMap { i =>
        val t = toks(i)
        if ((t.is("FROM") || t.is("JOIN")) && i + 1 < toks.length &&
          toks(i + 1).isIdent && !toks(i + 1).is("FINAL")) {
          var j = i + 2
          if (j < toks.length && toks(j).is("FINAL")) j += 1
          val alias =
            if (j + 1 < toks.length && toks(j).is("AS") &&
              toks(j + 1).isIdent) Some(toks(j + 1).text)
            else if (j < toks.length && toks(j).isIdent &&
              !notAlias(toks(j))) Some(toks(j).text)
            else None
          Some(toks(i + 1).text -> alias)
        } else None
      }.toVector
    if (targets.isEmpty) return toks
    val tables = targets.map(_._1).distinct
    def unqual(col: String): Option[Map[Int, String]] =
      if (tables.length == 1) resolver.enumValues(tables.head, col)
      else tables.flatMap(id =>
        resolver.enumValues(id, col).map(id -> _)) match {
        case Vector((owner, m)) =>
          // sole enum owner — but an unqualified name could still bind
          // to a same-named NON-enum column of another table; map only
          // when every other table's columns are known and clash-free
          val clash = tables.filterNot(_ == owner).exists { id =>
            resolver.resolve(id)
              .flatMap(rt => resolver.describe(rt.viewName)) match {
              case Some(cols) => cols.fieldNames.exists(_.equalsIgnoreCase(col))
              case None => true
            }
          }
          if (clash) None else Some(m)
        case _ => None
      }
    def lookup(raw: String): Option[Map[Int, String]] = {
      val parts = raw.split('.')
      if (parts.length < 2) unqual(raw)
      else {
        val qual = parts.dropRight(1).mkString(".")
        val byAlias = targets.collectFirst {
          case (id, Some(a)) if a.equalsIgnoreCase(qual) => id
        }
        byAlias.orElse(tables.find(id => id.equalsIgnoreCase(qual) ||
            id.split('.').last.equalsIgnoreCase(qual)))
          .flatMap(id => resolver.enumValues(id, parts.last))
      }
    }
    mapEnumComparisons(toks, lookup)
  }

  private def fromClauseEnd(t: Token): Boolean =
    t.is("WHERE") || t.is("PREWHERE") || t.is("GROUP") || t.is("ORDER") ||
      t.is("HAVING") || t.is("LIMIT") || t.is("SETTINGS") ||
      t.is("UNION") || t.is("EXCEPT") || t.is("INTERSECT") ||
      t.is("WINDOW") || t.is("QUALIFY") || t.is("FORMAT") || t.text == ";"

  private def joinFamily(t: Token): Boolean =
    t.is("JOIN") || t.is("LEFT") || t.is("RIGHT") || t.is("INNER") ||
      t.is("FULL") || t.is("CROSS") || t.is("ANY") || t.is("ALL") ||
      t.is("ASOF") || t.is("SEMI") || t.is("ANTI") || t.is("GLOBAL") ||
      t.is("ARRAY") || t.is("PASTE") || t.is("ON") || t.is("USING")

  /** ClickHouse treats a comma in the FROM clause as CROSS JOIN
    * (`FROM movies, genres` — homeworks/hw06.md). Normalizing the token
    * lets the catalog/from-clause rewrites see BOTH targets (they only
    * look behind FROM/JOIN) and makes the enum mapping's single-table
    * guard count them. Scope: top-level commas between FROM and the
    * next clause or join keyword — ARRAY JOIN's comma list, SELECT-list
    * and ORDER/GROUP/LIMIT commas are all outside it.
    */
  private def rewriteCommaCrossJoin(toks: Vector[Token]): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    // one in-FROM flag per paren level, so `FROM (SELECT … FROM a, b)`
    // normalizes inside the subquery while SELECT-list commas (a level
    // whose own FROM hasn't appeared yet) are left alone
    var inFrom = List(false)
    toks.foreach { t =>
      if (t.text == "(") { inFrom ::= false; out += t }
      else if (t.text == ")") {
        if (inFrom.tail.nonEmpty) inFrom = inFrom.tail
        out += t
      } else if (t.is("FROM")) { inFrom = true :: inFrom.tail; out += t }
      else if (inFrom.head && (fromClauseEnd(t) || joinFamily(t))) {
        inFrom = false :: inFrom.tail; out += t
      } else if (inFrom.head && t.text == ",") {
        out += Token("CROSS"); out += Token("JOIN")
      } else out += t
    }
    out.result()
  }

  /** The comparison-mapping half, against an already-bound table:
    * `lookup` takes a COLUMN name and returns its enum value→name
    * table. Also used by the mutation path (`ALTER … DELETE/UPDATE …
    * WHERE level = 2`), where the target table is the ALTER's own.
    */
  def mapEnumComparisons(toks: Vector[Token],
      lookup: String => Option[Map[Int, String]]): Vector[Token] = {
    // the lookup receives the reference as written (qualifier kept,
    // backticks stripped per part) — multi-table callers disambiguate
    // on the qualifier, bound-table callers drop it themselves
    def mapping(colTok: Token): Option[Map[Int, String]] =
      if (!colTok.isIdent) None
      else lookup(colTok.text.split('.')
        .map(_.stripPrefix("`").stripSuffix("`")).mkString("."))
    def nameLit(m: Map[Int, String], numTok: Token): Option[Token] =
      if (numTok.isString || numTok.text.isEmpty ||
        !numTok.text.forall(_.isDigit)) None
      else numTok.text.toIntOption.flatMap(m.get).map(n =>
        Token("'" + n.replace("'", "''") + "'", isString = true))
    def isEqOp(tok: Token): Boolean =
      tok.text == "=" || tok.text == "==" || tok.text == "!=" ||
        tok.text == "<>"
    // a literal IN list only: anything else between the parens (a
    // subquery's SELECT, arithmetic, nested parens) must not have its
    // integers blind-rewritten
    def literalListOnly(t: Vector[Token], open: Int, close: Int): Boolean =
      (open + 1 until close).forall { j =>
        val tok = t(j)
        tok.isString || tok.text == "," ||
          (tok.text.nonEmpty && tok.text.forall(_.isDigit))
      }
    var t = toks
    var i = 0
    while (i < t.length) {
      if (i + 2 < t.length && isEqOp(t(i + 1))) {
        // enum = 2 … and the reversed 2 = enum
        for (m <- mapping(t(i)); lit <- nameLit(m, t(i + 2)))
          t = t.updated(i + 2, lit)
        for (m <- mapping(t(i + 2)); lit <- nameLit(m, t(i)))
          t = t.updated(i, lit)
      } else {
        // IN (…) and NOT IN (…) — same mapping over the list literals
        val inAt =
          if (i + 2 < t.length && t(i + 1).is("IN") && t(i + 2).text == "(")
            i + 2
          else if (i + 3 < t.length && t(i + 1).is("NOT") &&
            t(i + 2).is("IN") && t(i + 3).text == "(") i + 3
          else -1
        if (inAt > 0) mapping(t(i)).foreach { m =>
          val close = matchParen(t, inAt)
          if (literalListOnly(t, inAt, close)) {
            var j = inAt + 1
            while (j < close) {
              nameLit(m, t(j)).foreach(lit => t = t.updated(j, lit))
              j += 1
            }
          }
        }
      }
      i += 1
    }
    t
  }

  /** ClickHouse DateTime arithmetic: `now() ± N` / `toDateTime(x) ± N`
    * adds/subtracts N SECONDS, N any integer expression (the
    * lecture_20/hw14 monitoring windows `event_time >= now() - 86400`;
    * hw03.md:205's `toDateTime('2023-10-01 00:00:00') + number *
    * 315360`). Spark rejects timestamp ± integer, so the additive term
    * becomes `TIMESTAMPADD(SECOND, ±(term), call)`. Only the
    * unambiguous call forms rewrite — column-typed arithmetic can't be
    * resolved from tokens — and a DateTime-typed right operand
    * (`toDateTime(a) - toDateTime(b)` = the seconds difference) is left
    * alone.
    */
  private def rewriteNowArithmetic(toks: Vector[Token]): Vector[Token] = {
    var t = toks
    var i = 0
    while (i < t.length) {
      val isNowCall = t(i).is("now") && i + 2 < t.length &&
        t(i + 1).text == "(" && t(i + 2).text == ")"
      val isToDt = t(i).is("toDateTime") && i + 1 < t.length &&
        t(i + 1).text == "("
      if (isNowCall || isToDt) {
        val close = matchParen(t, i + 1)
        if (close + 2 < t.length &&
          (t(close + 1).text == "+" || t(close + 1).text == "-") &&
          !t(close + 2).is("INTERVAL") && !t(close + 2).is("now") &&
          !t(close + 2).is("toDateTime") && !t(close + 2).is("today")) {
          // the additive term ends at the next same-depth boundary
          // (multiplication binds tighter, so `number * 315360` rides
          // whole)
          var e = close + 2
          var depth = 0
          var stop = false
          while (e < t.length && !stop) {
            val x = t(e)
            if (x.text == "(") depth += 1
            else if (x.text == ")") {
              if (depth == 0) stop = true else depth -= 1
            } else if (depth == 0 && (x.text == "," || x.text == "+" ||
              x.text == "-" ||
              Set("=", "<", ">", "<=", ">=", "!=", "<>", "==").contains(x.text) ||
              x.is("AND") || x.is("OR") || x.is("AS") ||
              x.is("BETWEEN") || x.is("IN") || x.is("FROM") ||
              clauseStarters(x.upper))) stop = true
            if (!stop) e += 1
          }
          if (e > close + 2) {
            val op = t(close + 1).text
            val operand = t.slice(close + 2, e)
            val dtCall = t.slice(i, close + 1)
            val neg: Vector[Token] =
              if (op == "-") Vector(Token("-")) else Vector.empty
            t = t.take(i) ++
              Vector(Token("TIMESTAMPADD"), Token("("), Token("SECOND"),
                Token(",")) ++ neg ++ Vector(Token("(")) ++ operand ++
              Vector(Token(")"), Token(",")) ++ dtCall ++
              Vector(Token(")")) ++ t.drop(e)
          }
        }
      }
      i += 1
    }
    t
  }

  private def prevSuggestsTable(toks: Vector[Token], i: Int): Boolean =
    i == 0 || toks(i - 1).is("FROM") || toks(i - 1).is("JOIN") ||
      toks(i - 1).text == ","

  private def matchParen(toks: Vector[Token], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < toks.length) {
      if (toks(i).text == "(") depth += 1
      else if (toks(i).text == ")") { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    toks.length - 1
  }

  // ---- ANY [LEFT|INNER|RIGHT] JOIN → dedup the picked-from side ----
  /** ClickHouse ANY strictness joins each row of the KEPT side with at
    * most one row of the other side: ANY LEFT / ANY INNER keep the left
    * rows and pick one RIGHT match per row; ANY RIGHT keeps every right
    * row and picks one LEFT match. The rewrite wraps the picked-from
    * side in a stable row_number dedup on the join keys (window ordered
    * by a whole-row xxhash64 so the same row wins on every run — the
    * [[graft.operators.Joins]] reproducibility contract). ON forms
    * derive the keys from the equality conjuncts; a conjunct that does
    * not touch the picked-from side (a left-only filter, a constant)
    * cannot influence WHICH row is picked and contributes no key; an
    * unqualified side facing a qualified kept-side column resolves to
    * the picked-from table (hw06.md:174 `on m.id = movie_id`). A
    * FINAL/SAMPLE modifier stays attached to the inner table ref so
    * rewriteFromClauses folds it inside the wrap. Silently degrading to
    * a plain join (the pre-r8 behavior) INFLATED row counts whenever
    * the picked-from side had duplicate keys.
    *
    * ANY RIGHT with a COMPOSITE left side (`ta a JOIN tb b USING (k)
    * ANY RIGHT JOIN tc c ON a.k = c.k`) dedups the whole left TREE: the
    * tree flattens through an auto-aliased subquery and every
    * same-block outer reference to a component alias requalifies onto
    * the auto-alias. Tree columns that stay ambiguous after flattening
    * (an ON-join key present on both inner tables) surface Spark's own
    * ambiguity error — spell the inner join with USING, which coalesces
    * the key (ClickHouse's own multi-join rewrite has the same
    * flattening shape, lectures/lecture_10.md).
    */
  private def rewriteAnyJoin(toks: Vector[Token]): Vector[Token] = {
    val joinKinds = Set("LEFT", "INNER", "RIGHT", "JOIN")
    // first ANY that heads a join — `any(x)` the aggregate must not
    // stop the scan from reaching a later real ANY JOIN
    var i = -1
    var scanFrom = 0
    while (i < 0) {
      val c = toks.indexWhere(t => t.is("ANY"), scanFrom)
      if (c < 0 || c + 1 >= toks.length) return toks
      if (joinKinds(toks(c + 1).upper)) i = c else scanFrom = c + 1
    }
    // kind-first spelling (`RIGHT ANY JOIN`, valid ClickHouse — same
    // order as hw06's `left ANY join`): normalize to the canonical
    // ANY-first order by swapping the two tokens and recursing, so the
    // isRight detection AND the left-side ref parse (which would
    // otherwise read the stray RIGHT as an alias) see one spelling
    if (toks(i + 1).is("JOIN") && i > 0 &&
      (toks(i - 1).is("LEFT") || toks(i - 1).is("RIGHT") ||
        toks(i - 1).is("INNER")))
      return rewriteAnyJoin(
        toks.updated(i - 1, toks(i)).updated(i, toks(i - 1)))
    var j = i + 1
    var isRight = false
    while (j < toks.length && !toks(j).is("JOIN")) {
      if (toks(j).is("RIGHT")) isRight = true
      j += 1
    }
    val t0 = j + 1 // right-side table ref
    if (t0 >= toks.length) return toks
    val (rightEnd, rightRefSql) =
      if (toks(t0).text == "(") {
        val close = matchParen(toks, t0)
        (close, ChLexer.render(toks.slice(t0, close + 1)))
      } else (t0, toks(t0).text)
    var k = rightEnd + 1
    val aliasRegion = Vector.newBuilder[Token]
    while (k < toks.length && !toks(k).is("USING") && !toks(k).is("ON")) {
      aliasRegion += toks(k); k += 1
    }
    if (k >= toks.length)
      // neither USING nor ON reachable (CROSS-ish malformation): drop
      // the ANY modifier and keep rewriting the rest
      return rewriteAnyJoin(toks.take(i) ++ toks.drop(i + 1))
    // FINAL / SAMPLE modify the table ref, not the alias: keep them out
    // of alias-name derivation and inside the wrapped subquery's FROM
    val region = aliasRegion.result()
    val modAt = region.indexWhere(t => t.is("FINAL") || t.is("SAMPLE"))
    val (rightAliasToks, rightModToks) =
      if (modAt < 0) (region, Vector.empty[Token])
      else (region.take(modAt), region.drop(modAt))
    val rightSql =
      if (rightModToks.isEmpty) rightRefSql
      else rightRefSql + " " + ChLexer.render(rightModToks)
    val rightAliasClean = rightAliasToks.filterNot(_.is("AS"))
    val rightAlias = rightAliasClean.lastOption.map(_.text)
      .getOrElse(rightRefSql.split('.').last)

    // the LEFT side — only needed (and only parsed) for ANY RIGHT: the
    // tokens between the join's own FROM and ANY form either a single
    // table ref `t|(subquery) [FINAL|SAMPLE f] [AS] [alias]` or a
    // composite JOIN TREE (5th element = its component aliases; empty
    // for the single-ref case)
    lazy val leftSide: (Int, String, String, Vector[Token], Vector[String]) = {
      def unsupported = throw new IllegalArgumentException(
        "ANY RIGHT JOIN: could not parse the left side as a table " +
          "reference or join tree for the one-left-match-per-right-row " +
          "dedup; rewrite with the composite side on the right")
      // the heading FROM sits at the same paren depth as the join — a
      // backward scan without depth tracking would find a subquery
      // left side's INNER FROM and splice the dedup wrap inside it
      var fromIdx = -1
      var depth = 0
      var p = i - 1
      while (fromIdx < 0 && p >= 0) {
        val tx = toks(p).text
        if (tx == ")") depth += 1
        else if (tx == "(") {
          depth -= 1
          if (depth < 0) p = 0 // left the clause without meeting FROM
        } else if (depth == 0 && toks(p).is("FROM")) fromIdx = p
        p -= 1
      }
      if (fromIdx < 0 || fromIdx + 1 >= i) unsupported
      val seg = toks.slice(fromIdx + 1, i)
      var dd0 = 0
      var hasTopJoin = false
      seg.foreach { t2 =>
        if (t2.text == "(") dd0 += 1
        else if (t2.text == ")") dd0 -= 1
        else if (dd0 == 0 && t2.is("JOIN")) hasTopJoin = true
        else if (dd0 == 0 && (t2.text == "," || t2.is("SELECT") ||
          t2.is("WHERE"))) unsupported
      }
      if (hasTopJoin) {
        // composite left tree: dedup the TREE's rows on the ANY keys by
        // flattening it through an auto-aliased subquery; rebuild then
        // requalifies every same-block outer reference to a component
        // alias (`a.x`) onto the auto-alias, so the query keeps
        // resolving. A column that stays ambiguous after flattening (an
        // ON-join key present on both inner tables) surfaces Spark's
        // own ambiguity error — spell the inner join with USING, which
        // coalesces the key
        val comps = joinTreeComponentAliases(seg, "ANY RIGHT JOIN")
        if (comps.isEmpty) unsupported
        (fromIdx, "(SELECT * FROM " + ChLexer.render(seg) + ")",
          "__anyl", Vector.empty[Token], comps)
      } else {
        val (refEnd, refSql0) =
          if (seg.head.text == "(") {
            val close = matchParen(seg, 0)
            (close, ChLexer.render(seg.take(close + 1)))
          } else (0, seg.head.text)
        val segTail = seg.drop(refEnd + 1)
        if (segTail.exists(t2 => t2.text == "(" || t2.text == ")" ||
            t2.text == "," || t2.is("JOIN") || t2.is("SELECT") ||
            t2.is("WHERE"))) unsupported
        val mAt = segTail.indexWhere(t2 => t2.is("FINAL") || t2.is("SAMPLE"))
        val (aToks, mToks) =
          if (mAt < 0) (segTail, Vector.empty[Token])
          else (segTail.take(mAt), segTail.drop(mAt))
        val refSql = if (mToks.isEmpty) refSql0
          else refSql0 + " " + ChLexer.render(mToks)
        val alias = aToks.filterNot(_.is("AS")).lastOption.map(_.text)
          .getOrElse {
            if (refSql0.startsWith("(")) throw new IllegalArgumentException(
              "ANY RIGHT JOIN a subquery left side requires an alias")
            refSql0.split('.').last
          }
        (fromIdx, refSql, alias, aToks, Vector.empty[String])
      }
    }
    val dedupAlias = if (isRight) leftSide._3 else rightAlias
    // the aliases whose columns the ANY dedup picks among: the single
    // picked-from alias, or — composite ANY RIGHT — every component
    // alias of the left tree (the user's ON clause references THOSE;
    // the auto-alias only exists after rebuild)
    val pickedAliases: Vector[String] =
      if (isRight && leftSide._5.nonEmpty) leftSide._5 else Vector(dedupAlias)

    def dedupWrap(srcSql: String, keys: Seq[String]): String = {
      // zero keys ⟹ the ON clause pins no picked-from column: ANY then
      // picks ONE row of the picked-from side globally
      val part =
        if (keys.isEmpty) "" else s"PARTITION BY ${keys.mkString(", ")} "
      s"(SELECT * EXCEPT (__rn, __h) FROM (SELECT *, row_number() " +
        s"OVER (${part}ORDER BY __h) AS __rn " +
        s"FROM (SELECT *, xxhash64(struct(*)) AS __h FROM $srcSql)) " +
        "WHERE __rn = 1)"
    }
    // splice the dedup wrap over the picked-from side's ref tokens; the
    // ANY keyword itself is always dropped
    def rebuild(keys: Seq[String]): Vector[Token] =
      if (isRight) {
        val (fromIdx, leftRefSql, leftAlias, leftAliasToks, comps) = leftSide
        val aliasOut =
          if (leftAliasToks.exists(!_.is("AS"))) leftAliasToks
          else Vector(Token("AS"), Token(leftAlias))
        // composite tree: requalify same-block references to any
        // component alias onto the auto-alias — both the SELECT list
        // (before FROM) and everything after the tree (this join's ON,
        // WHERE/ORDER, later joins); other blocks' same-named aliases
        // stay untouched (selectBlockScopes discipline)
        lazy val blockIds = selectBlockScopes(toks)._1
        def requal(ts: Vector[Token], offset: Int): Vector[Token] =
          if (comps.isEmpty) ts
          else ts.zipWithIndex.map { case (t2, ix) =>
            if (t2.isIdent && !t2.isString &&
              blockIds(offset + ix) == blockIds(i))
              comps.iterator.map { a =>
                if (t2.text.startsWith(a + "."))
                  Some(t2.text.stripPrefix(a + "."))
                else if (t2.text.startsWith("`" + a + "`."))
                  Some(t2.text.stripPrefix("`" + a + "`."))
                else None
              }.collectFirst { case Some(c) => c }
                .map(c => t2.copy(text = leftAlias + "." + c))
                .getOrElse(t2)
            else t2
          }
        requal(toks.take(fromIdx + 1), 0) ++
          ChLexer.tokenize(dedupWrap(leftRefSql, keys)) ++ aliasOut ++
          requal(toks.slice(i + 1, toks.length), i + 1)
      } else {
        val aliasOut =
          if (rightAliasClean.nonEmpty) rightAliasToks
          else if (rightRefSql.startsWith("(")) throw new IllegalArgumentException(
            "ANY JOIN a subquery requires an alias")
          else Vector(Token("AS"), Token(rightAlias))
        toks.take(i) ++ toks.slice(i + 1, t0) ++
          ChLexer.tokenize(dedupWrap(rightSql, keys)) ++ aliasOut ++
          toks.slice(k, toks.length)
      }

    if (toks(k).is("ON")) {
      val term = joinCondTerm
      var e = k + 1
      var d = 0
      while (e < toks.length && !(d == 0 &&
        (kwAt(toks, e, term) ||
          toks(e).text == ")" || toks(e).text == ";"))) {
        if (toks(e).text == "(") d += 1
        else if (toks(e).text == ")") d -= 1
        e += 1
      }
      val onToks = toks.slice(k + 1, e)
      // split on top-level AND; each conjunct either yields a dedup key
      // (an equality pinning a picked-from column) or provably cannot
      // select among picked-from rows (and then contributes none)
      val conjuncts = {
        val out = Vector.newBuilder[Vector[Token]]
        var cur = Vector.newBuilder[Token]
        var dd = 0
        onToks.foreach { t =>
          if (t.text == "(") dd += 1
          else if (t.text == ")") dd -= 1
          if (dd == 0 && t.is("AND")) { out += cur.result(); cur = Vector.newBuilder }
          else cur += t
        }
        out += cur.result()
        out.result()
      }
      // a qualifier may be backtick-quoted (`b`.k): match and strip the
      // alias in either spelling, leaving the column's own quoting
      // intact; composite ANY RIGHT tries every component alias
      def stripQual(text: String): Option[String] =
        if (text.endsWith(".*")) None // a qualified star is not a column ref
        else pickedAliases.iterator.map { a =>
          if (text.startsWith(a + ".")) Some(text.stripPrefix(a + "."))
          else if (text.startsWith("`" + a + "`."))
            Some(text.stripPrefix("`" + a + "`."))
          else None
        }.collectFirst { case Some(c) => c }
      def qualified(text: String): Boolean =
        text.replace("`", "").contains(".")
      def touches(side: Vector[Token]): Boolean =
        side.exists(t => t.isIdent && stripQual(t.text).isDefined)
      def rooted(side: Vector[Token]): Boolean =
        touches(side) && !side.exists(t => t.isIdent &&
          qualified(t.text) && stripQual(t.text).isEmpty)
      def unqualOnly(side: Vector[Token]): Boolean =
        side.exists(_.isIdent) &&
          !side.exists(t => t.isIdent && qualified(t.text))
      def stripPrefix(side: Vector[Token]): String =
        ChLexer.render(side.map(t =>
          if (t.isIdent) stripQual(t.text).map(c => t.copy(text = c))
            .getOrElse(t)
          else t))
      val keyExprs = conjuncts.flatMap { c =>
        var dd = 0
        val eq = c.indexWhere { t =>
          if (t.text == "(") dd += 1 else if (t.text == ")") dd -= 1
          dd == 0 && !t.isString && (t.text == "=" || t.text == "==")
        }
        if (eq < 0) {
          if (touches(c)) throw new IllegalArgumentException(
            "ANY JOIN ... ON: a non-equality condition on the " +
              s"picked-from side '${pickedAliases.mkString("/")}' cannot combine with ANY " +
              s"strictness: ${ChLexer.render(c)}")
          None // kept-side-only / constant filter: selects no picked row
        } else {
          val lhs = c.take(eq)
          val rhs = c.drop(eq + 1)
          if (rooted(lhs) && !touches(rhs)) Some(stripPrefix(lhs))
          else if (rooted(rhs) && !touches(lhs)) Some(stripPrefix(rhs))
          else if (touches(lhs) || touches(rhs))
            throw new IllegalArgumentException(
              "ANY JOIN ... ON: exactly one side of an equality may " +
                s"reference the picked-from side '${pickedAliases.mkString("/")}': " +
                ChLexer.render(c))
          else {
            val lu = unqualOnly(lhs)
            val ru = unqualOnly(rhs)
            if (lu && ru) throw new IllegalArgumentException(
              "ANY JOIN ... ON: cannot attribute either side of " +
                s"'${ChLexer.render(c)}' to a table — qualify the " +
                "picked-from column")
            // one unqualified side: resolve it as a picked-from column
            // inside the wrap (if it in fact belongs to the kept side,
            // resolution fails loudly there instead of dropping rows)
            else if (lu) Some(ChLexer.render(lhs))
            else if (ru) Some(ChLexer.render(rhs))
            else None // both sides qualified elsewhere / constants
          }
        }
      }
      return rewriteAnyJoin(rebuild(keyExprs))
    }
    val keys = usingList(toks, k)._1.map(c => "`" + c + "`")
    rewriteAnyJoin(rebuild(keys)) // handle further ANY joins
  }

  /** `ASOF [LEFT] JOIN` in SQL text (lectures/lecture_10.md:14) → the
    * union-and-carry-forward window formulation — the SAME one-shuffle,
    * no-candidate-explosion plan as [[graft.operators.Joins.asofLeft]]
    * (the native `AsOfJoinExec` stays the library-level scale path):
    * tag both sides, UNION ALL, one window partitioned by the equi keys
    * ordered by (time, side), `last(payload, ignoreNulls)` carries the
    * latest (or, forward modes, next) right payload onto each left row.
    *
    * ON form: every conjunct is either an equi key (`l.k = r.k`, plain
    * columns) or THE one time inequality — either orientation, all four
    * modes (>=, >, <=, <). USING form: the LAST column is the time
    * (the ClickHouse contract), inclusive-backward. The join flattens
    * through an auto-aliased subquery (`__asof`): left columns keep
    * their names, right columns keep theirs unless they collide with a
    * left name (then `__r_<name>`); alias-qualified outer references
    * requalify onto the flattened names (same-block discipline, bare
    * SELECT items keep their user-visible name via AS). Sides may be
    * catalog tables (column lists from the catalog), aliased
    * SUBQUERIES (column lists via [[Resolver.describeQuery]]), or — on
    * the left — a composite join TREE, which flattens through an
    * auto-aliased `(SELECT * FROM tree) __asofl` subquery exactly like
    * the ANY RIGHT composite path (r11; pre-r11 both were refused).
    * Under `join_use_nulls = 0` an ASOF LEFT miss reads the right
    * side's type defaults, filled inside the lowering (it leaves no
    * Join node for [[graft.plans.ChJoinDefaults]]).
    */
  private def rewriteAsofJoin(toks: Vector[Token],
                              resolver: Resolver,
                              useNulls: Boolean): Vector[Token] = {
    // first ASOF heading a join: `ASOF [LEFT] JOIN` (canonical CH
    // order) or the `LEFT ASOF JOIN` spelling
    var i = -1
    var scan = 0
    while (i < 0) {
      val c = toks.indexWhere(_.is("ASOF"), scan)
      if (c < 0) return toks
      var j0 = c + 1
      while (j0 < toks.length && toks(j0).is("LEFT")) j0 += 1
      if (j0 < toks.length && toks(j0).is("JOIN")) i = c else scan = c + 1
    }
    def bad(msg: String) =
      throw new IllegalArgumentException(s"ASOF JOIN: $msg")
    val isLeftJoin = (i > 0 && toks(i - 1).is("LEFT")) ||
      (i + 1 < toks.length && toks(i + 1).is("LEFT"))
    var j = i + 1
    while (j < toks.length && !toks(j).is("JOIN")) j += 1
    val t0 = j + 1
    if (t0 >= toks.length) bad("missing right side")
    // right side: a catalog table or a parenthesized subquery (r11 —
    // the lowering derives a subquery side's column list through the
    // resolver's analysis hook instead of refusing)
    val (rightRef, rightInner, refEnd) =
      if (toks(t0).text == "(") {
        val close = matchParen(toks, t0)
        if (close < 0) bad("unbalanced subquery right side")
        (ChLexer.render(toks.slice(t0, close + 1)),
          Some(ChLexer.render(toks.slice(t0 + 1, close))), close)
      } else (toks(t0).text, None, t0)
    var k = refEnd + 1
    val rRegion = Vector.newBuilder[Token]
    while (k < toks.length && !toks(k).is("ON") && !toks(k).is("USING")) {
      rRegion += toks(k); k += 1
    }
    if (k >= toks.length) bad("missing ON/USING condition")
    def aliasAndMods(region: Vector[Token], fallback: String)
        : (String, String) = {
      val mAt = region.indexWhere(t => t.is("FINAL") || t.is("SAMPLE"))
      val (aToks, mToks) =
        if (mAt < 0) (region, Vector.empty[Token])
        else (region.take(mAt), region.drop(mAt))
      val alias = aToks.filterNot(_.is("AS")).lastOption
        .map(t => stripTicks(t.text)).getOrElse(fallback)
      (alias, if (mToks.isEmpty) "" else " " + ChLexer.render(mToks))
    }
    val (rightAlias, rightMods) = aliasAndMods(rRegion.result(),
      if (rightInner.isEmpty) rightRef else "")
    if (rightAlias.isEmpty) bad("a subquery right side requires an alias")
    // left side: the tokens between the clause's FROM and the join
    // head (the ASOF token, or a LEFT before it) — a single table ref,
    // a single aliased subquery, or a composite join TREE
    val head0 = if (i > 0 && toks(i - 1).is("LEFT")) i - 1 else i
    var fromIdx = -1
    var depth = 0
    var p = head0 - 1
    while (fromIdx < 0 && p >= 0) {
      val tx = toks(p).text
      if (tx == ")") depth += 1
      else if (tx == "(") { depth -= 1; if (depth < 0) p = 0 }
      else if (depth == 0 && toks(p).is("FROM")) fromIdx = p
      p -= 1
    }
    if (fromIdx < 0 || fromIdx + 1 >= head0) bad("could not find the left side")
    val seg = toks.slice(fromIdx + 1, head0)
    // composite left TREE: flatten through an auto-aliased subquery
    // (the same discipline as the ANY RIGHT composite path) and
    // recurse — the flattened stream then parses as a single subquery
    // left side. Same contract: a tree column present on two inner
    // tables surfaces Spark's own ambiguity error after SELECT * —
    // spell the inner join with USING, which coalesces the key.
    val hasTopJoin = {
      var dd = 0; var has = false; var x = 0
      while (x < seg.length) {
        if (seg(x).text == "(") dd += 1
        else if (seg(x).text == ")") dd -= 1
        else if (dd == 0 && seg(x).is("JOIN")) has = true
        x += 1
      }
      has
    }
    if (hasTopJoin) {
      val comps = joinTreeComponentAliases(seg, "ASOF JOIN")
      if (comps.isEmpty) bad("could not parse the composite left side")
      val blockIds = selectBlockScopes(toks)._1
      def requalC(ts: Vector[Token], offset: Int): Vector[Token] =
        ts.zipWithIndex.map { case (t2, ix) =>
          if (t2.isIdent && !t2.isString &&
            blockIds(offset + ix) == blockIds(i))
            comps.iterator.map { a =>
              if (t2.text.startsWith(a + "."))
                Some(t2.text.stripPrefix(a + "."))
              else if (t2.text.startsWith("`" + a + "`."))
                Some(t2.text.stripPrefix("`" + a + "`."))
              else None
            }.collectFirst { case Some(c) => c }
              .map(c => t2.copy(text = "__asofl." + c))
              .getOrElse(t2)
          else t2
        }
      val rebuilt = requalC(toks.take(fromIdx + 1), 0) ++
        ChLexer.tokenize("(SELECT * FROM " + ChLexer.render(seg) +
          ") AS __asofl") ++
        requalC(toks.slice(head0, toks.length), head0)
      return rewriteAsofJoin(rebuilt, resolver, useNulls)
    }
    val (leftRef, leftInner, leftTail) =
      if (seg.head.text == "(") {
        val close = matchParen(seg, 0)
        if (close < 0 || close >= seg.length)
          bad("unbalanced subquery left side")
        (ChLexer.render(seg.take(close + 1)),
          Some(ChLexer.render(seg.slice(1, close))), seg.drop(close + 1))
      } else (seg.head.text, None, seg.drop(1))
    val (leftAlias, leftMods) = aliasAndMods(leftTail,
      if (leftInner.isEmpty) leftRef else "")
    if (leftAlias.isEmpty) bad("a subquery left side requires an alias")
    val cteSc = cteScopes(toks)
    def schemaOf(ref: String, inner: Option[String],
                 pos: Int): StructType =
      inner match {
        case Some(sql) => resolver.describeQuery(sql)
          .getOrElse(bad("could not derive the subquery side's column " +
            s"list: $sql"))
        case None if cteShadowed(cteSc, stripTicks(ref), pos) =>
          // a CTE-bound side (r12): columns from the CTE's own output,
          // never from a same-named catalog table; scope-aware, so a
          // reference inside the CTE's OWN body keeps reading the
          // catalog (review find — the unscoped form recursed into the
          // depth guard and errored on a valid self-named body)
          cteProbe(toks, stripTicks(ref))
            .flatMap(resolver.describeQuery)
            .getOrElse(bad(s"could not derive CTE '$ref''s column list"))
        case None => resolver.resolve(ref)
          .flatMap(rt => resolver.describe(rt.viewName))
          .getOrElse(bad(s"table '$ref' has no catalog schema - the " +
            "lowering needs its column list"))
      }
    val leftCols = schemaOf(leftRef, leftInner, fromIdx + 1).fieldNames.toSeq
    val rightSchema = schemaOf(rightRef, rightInner, t0)
    val rightCols = rightSchema.fieldNames.toSeq
    // join_use_nulls = 0: an ASOF LEFT miss reads the right side's type
    // defaults (NULL where declared Nullable) — the lowering leaves no
    // Join node for ChJoinDefaults
    val rightDefaults: Map[String, String] =
      if (!isLeftJoin || useNulls) Map.empty
      else rightSchema.fields.map(f => f.name -> ChTypes.defaultLiteralSql(
        f.dataType, ChTypes.declaredNullable(f.metadata))).toMap
    // ---- condition: equi keys + the one time inequality
    var keys = Vector.empty[(String, String)] // (left col, right col)
    var timePair: Option[(String, String, String)] = None // lcol, rcol, op
    var e = -1 // first token AFTER the condition
    if (toks(k).is("USING")) {
      val (cols, after) = usingList(toks, k)
      if (cols.length < 2)
        bad("USING needs at least one key plus the time column")
      keys = cols.init.map(c => (c, c)).toVector
      timePair = Some((cols.last, cols.last, ">="))
      e = after
    } else {
      val term = joinCondTerm
      var e0 = k + 1
      var d = 0
      while (e0 < toks.length && !(d == 0 &&
        (kwAt(toks, e0, term) ||
          toks(e0).text == ")" || toks(e0).text == ";"))) {
        if (toks(e0).text == "(") d += 1
        else if (toks(e0).text == ")") d -= 1
        e0 += 1
      }
      e = e0
      val onToks = toks.slice(k + 1, e)
      val conjuncts = {
        val out = Vector.newBuilder[Vector[Token]]
        var cur = Vector.newBuilder[Token]
        var dd = 0
        onToks.foreach { t =>
          if (t.text == "(") dd += 1
          else if (t.text == ")") dd -= 1
          if (dd == 0 && t.is("AND")) { out += cur.result(); cur = Vector.newBuilder }
          else cur += t
        }
        out += cur.result()
        out.result()
      }
      def sideCol(ts: Vector[Token]): Option[(Boolean, String)] =
        ts match {
          case Vector(t) if t.isIdent && !t.isString =>
            def strip(a: String): Option[String] =
              if (t.text.startsWith(a + ".")) Some(t.text.stripPrefix(a + "."))
              else if (t.text.startsWith("`" + a + "`."))
                Some(t.text.stripPrefix("`" + a + "`."))
              else None
            strip(leftAlias).map(c => (true, stripTicks(c)))
              .orElse(strip(rightAlias).map(c => (false, stripTicks(c))))
          case _ => None
        }
      val cmpOps = Set("=", "==", ">=", ">", "<=", "<")
      conjuncts.foreach { c0 =>
        // strip redundant whole-conjunct parens
        var c = c0
        while (c.length >= 2 && c.head.text == "(" &&
          matchParen(c, 0) == c.length - 1) c = c.slice(1, c.length - 1)
        var dd = 0
        var opAt = -1
        var x = 0
        while (x < c.length && opAt < 0) {
          val t = c(x)
          if (t.text == "(") dd += 1
          else if (t.text == ")") dd -= 1
          else if (dd == 0 && !t.isString && cmpOps(t.text)) opAt = x
          x += 1
        }
        if (opAt < 0) bad(s"unsupported conjunct: ${ChLexer.render(c)}")
        val op = c(opAt).text
        (sideCol(c.take(opAt)), sideCol(c.drop(opAt + 1))) match {
          case (Some((true, lc)), Some((false, rc))) =>
            if (op == "=" || op == "==") keys = keys :+ ((lc, rc))
            else if (timePair.nonEmpty) bad("more than one time inequality")
            else timePair = Some((lc, rc, op))
          case (Some((false, rc)), Some((true, lc))) =>
            if (op == "=" || op == "==") keys = keys :+ ((lc, rc))
            else if (timePair.nonEmpty) bad("more than one time inequality")
            else timePair = Some((lc, rc, op match {
              case ">=" => "<="
              case ">" => "<"
              case "<=" => ">="
              case _ => ">"
            }))
          case _ => bad("each conjunct must compare one plain left " +
            s"column with one plain right column: ${ChLexer.render(c)}")
        }
      }
    }
    val (lt, rt, op) = timePair.getOrElse(
      bad("missing the time inequality conjunct"))
    // the lowering's own helper names must not shadow user columns —
    // a left table with a column literally named __t would make the
    // inner SELECT * ambiguous (or silently filter on the wrong one)
    locally {
      val reserved = Set("__t", "__side", "__rpay", "__m", "__asof") ++
        keys.indices.map(ix => s"__k$ix")
      val hit = (leftCols ++ rightCols).filter(c => reserved(c.toLowerCase))
      if (hit.nonEmpty)
        bad(s"column name(s) ${hit.mkString(", ")} collide with the " +
          "lowering's reserved helper names - rename, or use " +
          "graft.operators.Joins.asofLeftNativeMulti")
      val collide0 = leftCols.toSet
      val outNames = rightCols.map(c =>
        if (collide0(c)) s"__r_$c" else c)
      if (outNames.distinct.length != outNames.length ||
        outNames.exists(n => n.startsWith("__r_") && collide0(n)))
        bad("a column named __r_<col> collides with the lowering's " +
          "collision-renaming scheme - rename it")
    }
    // ---- generate the union-and-carry-forward subquery. Side tags:
    // at EQUAL time the right row sorts before the left row for the
    // inclusive modes (so an exact-time right row matches) and after
    // it for the strict modes; forward modes walk time descending.
    def q(c: String) = "`" + c + "`"
    val (dir, rightTag) = op match {
      case ">=" => ("", 0) // backward inclusive (the CH default)
      case ">" => ("", 2) // backward strict
      case "<=" => (" DESC", 0) // forward inclusive
      case _ => (" DESC", 2) // forward strict
    }
    val keyOuts = keys.indices.map(ix => s"__k$ix")
    val lKeySel = keys.zipWithIndex.map { case ((lk, _), ix) =>
      s"a.${q(lk)} AS __k$ix" }
    val rKeySel = keys.zipWithIndex.map { case ((_, rk), ix) =>
      s"b.${q(rk)} AS __k$ix" }
    // the time column keeps its OWN type in each branch: UNION ALL's
    // type coercion unifies the two sides to their widest common type
    // only when they actually differ, so an Int64 nanosecond axis stays
    // lossless and a Date axis stays orderable (pre-fix both were CAST
    // to DOUBLE, which silently rounds integers above 2^53 and rejects
    // dates outright)
    val lBranch = (lKeySel ++ Seq(s"a.${q(lt)} AS __t",
      "1 AS __side") ++ leftCols.map(c => s"a.${q(c)} AS ${q(c)}") ++
      Seq("NULL AS __rpay")).mkString(
      "SELECT ", ", ", s" FROM $leftRef$leftMods a")
    val rStruct = rightCols.map(c => s"'$c', b.${q(c)}")
      .mkString("named_struct(", ", ", ")")
    val rBranch = (rKeySel ++ Seq(s"b.${q(rt)} AS __t",
      s"$rightTag AS __side") ++ leftCols.map(c => s"NULL AS ${q(c)}") ++
      Seq(s"$rStruct AS __rpay")).mkString(
      "SELECT ", ", ", s" FROM $rightRef$rightMods b")
    val part = if (keyOuts.isEmpty) ""
      else s"PARTITION BY ${keyOuts.mkString(", ")} "
    val win = s"last(__rpay, true) OVER (${part}ORDER BY __t$dir, __side " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __m"
    val collide = leftCols.toSet
    def outName(c: String): String = if (collide(c)) s"__r_$c" else c
    val finalSel = leftCols.map(c => q(c)) ++ rightCols.map { c =>
      val v = rightDefaults.get(c).fold(s"__m.${q(c)}")(d =>
        s"coalesce(__m.${q(c)}, $d)")
      s"$v AS ${q(outName(c))}"
    }
    val innerFilter = if (isLeftJoin) "" else " AND __m IS NOT NULL"
    val gen = s"(SELECT ${finalSel.mkString(", ")} FROM (SELECT *, $win " +
      s"FROM ($lBranch UNION ALL $rBranch)) WHERE __side = 1$innerFilter)"
    // ---- splice + requalify outer references (same-block discipline)
    val (blockIds, inListArr) = selectBlockScopes(toks)
    val joinBlock = blockIds(i)
    def requal(ts: Vector[Token], offset: Int): Vector[Token] = {
      val out = Vector.newBuilder[Token]
      ts.zipWithIndex.foreach { case (t, ix) =>
        val pos = offset + ix
        if (t.isIdent && !t.isString && blockIds(pos) == joinBlock) {
          def strip(a: String): Option[String] =
            if (t.text.startsWith(a + ".")) Some(t.text.stripPrefix(a + "."))
            else if (t.text.startsWith("`" + a + "`."))
              Some(t.text.stripPrefix("`" + a + "`."))
            else None
          strip(leftAlias) match {
            case Some(c) => out += t.copy(text = "__asof." + c)
            case None => strip(rightAlias) match {
              case Some(c0) =>
                val c = stripTicks(c0)
                out += t.copy(text = "__asof." + outName(c))
                // a collision-renamed BARE SELECT item keeps its
                // user-visible column name
                val bare = collide(c) && inListArr(pos) && pos > 0 &&
                  pos + 1 < toks.length &&
                  (toks(pos - 1).text == "," || toks(pos - 1).is("SELECT") ||
                    toks(pos - 1).is("DISTINCT")) &&
                  (toks(pos + 1).text == "," || toks(pos + 1).is("FROM"))
                if (bare) { out += Token("AS") += Token(c); () }
              case None => out += t
            }
          }
        } else out += t
      }
      out.result()
    }
    val rebuilt = requal(toks.take(fromIdx + 1), 0) ++
      ChLexer.tokenize(gen) ++ Vector(Token("AS"), Token("__asof")) ++
      requal(toks.slice(e, toks.length), e)
    rewriteAsofJoin(rebuilt, resolver, useNulls)
  }

  /** SQL word-forms that pass [[Token.isIdent]] but can never be a bare
    * column reference or alias (a backtick-quoted spelling IS a real
    * identifier and is exempted at the check site).
    */
  private val sqlWordLike = Set("AS", "AND", "OR", "NOT", "SELECT", "BY",
    "DISTINCT", "CASE", "WHEN", "THEN", "ELSE", "END", "IN", "IS", "NULL",
    "TRUE", "FALSE", "BETWEEN", "LIKE", "ILIKE", "ASC", "DESC", "INTERVAL",
    "DIV", "MOD", "EXISTS", "FILL", "TO", "STEP", "WITH", "TIES", "ROLLUP",
    "CUBE", "GROUPING", "SETS", "OVER", "PARTITION", "ROWS", "RANGE",
    "CURRENT", "UNBOUNDED", "PRECEDING", "FOLLOWING", "ROW", "ON", "USING",
    "JOIN", "NULLS", "FIRST", "LAST", "OFFSET", "CAST", "EXTRACT", "CROSS",
    "OUTER", "ANY", "ASOF", "SEMI", "ANTI", "GLOBAL", "FINAL", "SAMPLE",
    "LATERAL", "VIEW", "BOTH", "LEADING", "TRAILING", "ESCAPE", "TOTALS",
    "IF", "ALL", "FROM", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
    "UNION", "INTERSECT", "EXCEPT", "PREWHERE", "SETTINGS", "WINDOW",
    "QUALIFY", "FORMAT", "INTO", "LEFT", "RIGHT", "INNER", "FULL", "PASTE")

  private def stripTicks(s: String): String =
    s.stripPrefix("`").stripSuffix("`")

  /** ClickHouse accepts a bare `USING a, b` join-column list; Spark's
    * parser requires the parenthesized form. Normalized EARLY, so every
    * downstream rewrite (ANY dedup keys, the ASOF lowering, plain joins
    * that reach Spark's parser verbatim) sees one spelling.
    */
  private def normalizeBareUsing(toks: Vector[Token],
                                 resolver: Resolver): Vector[Token] = {
    var i = 0
    while (i < toks.length) {
      if (toks(i).is("USING") && i + 1 < toks.length &&
        toks(i + 1).text != "(") {
        val (cols, after) = usingList(toks, i,
          ident => resolver.resolve(ident).isDefined)
        if (cols.nonEmpty) {
          val list = cols.flatMap(c =>
            Vector(Token("`" + c + "`"), Token(","))).init
          // a comma ending the list is the enclosing FROM's comma-join
          // (`… USING k, t3`) — normalize it like rewriteCommaCrossJoin
          // would have, had the JOIN token not flipped its flag off
          val rest =
            if (after < toks.length && toks(after).text == ",")
              Vector(Token("CROSS"), Token("JOIN")) ++ toks.drop(after + 1)
            else toks.drop(after)
          return normalizeBareUsing(toks.take(i) ++
            (Vector(Token("USING"), Token("(")) ++ list ++
              Vector(Token(")"))) ++ rest, resolver)
        }
      }
      i += 1
    }
    toks
  }

  /** The column list of a `USING` clause at `k` (the USING token), both
    * ClickHouse spellings — parenthesized `USING (a, b)` and bare
    * `USING a, b` — returning (columns, index of the first token after
    * the list). Pre-fix both join rewrites sliced an empty list on the
    * bare form: the ASOF lowering threw, and the ANY dedup silently
    * picked ONE global row (zero partition keys).
    *
    * The bare form is comma-delimited and a comma ALSO spells a
    * comma-join in the enclosing FROM (`t1 JOIN t2 USING k, t3`), which
    * the comma→CROSS JOIN pass leaves alone once a JOIN token flipped
    * its in-FROM flag off. Disambiguation: after the first column, an
    * unquoted identifier that `isTable` resolves as a catalog table
    * stops the list BEFORE its comma — the identifier is the next
    * FROM-list member, not a join key. A USING column whose name
    * collides with a catalog table keeps column precedence only in the
    * backtick-quoted or parenthesized spellings.
    */
  private def usingList(toks: Vector[Token], k: Int,
                        isTable: String => Boolean = _ => false)
      : (Vector[String], Int) =
    if (k + 1 < toks.length && toks(k + 1).text == "(") {
      val close = matchParen(toks, k + 1)
      (toks.slice(k + 2, close).filter(_.text != ",")
        .map(t => stripTicks(t.text)), close + 1)
    } else {
      val b = Vector.newBuilder[String]
      var p = k + 1
      var expectIdent = true
      var stop = false
      while (!stop && p < toks.length) {
        val t = toks(p)
        if (expectIdent) {
          // a comma-joined TABLE after the first column ends the list
          // (the comma belongs to the enclosing FROM, see Scaladoc).
          // The break is a HEURISTIC — a genuine join key that collides
          // with a catalog table name is silently reinterpreted as a
          // comma-join, so the fire is logged (r12 advisor find); the
          // backtick-quoted and parenthesized spellings are unambiguous
          val tableBreak = p > k + 1 && !t.text.startsWith("`") &&
            isTable(t.text)
          if (tableBreak) log.warn(
            s"bare USING list: reading '${t.text}' as a comma-joined " +
              "table, not a join key (it names a catalog table); if it " +
              s"IS a join key, spell it parenthesized USING (..., " +
              s"${t.text}) or backticked USING ..., `${t.text}`")
          // a backtick-quoted spelling IS a real identifier even when
          // it collides with a keyword (the unqualCol exemption)
          if (!tableBreak && t.isIdent && !t.isString &&
            (t.text.startsWith("`") ||
            (!joinCondTerm(t.upper) && !sqlWordLike(t.upper))))
            { b += stripTicks(t.text); expectIdent = false; p += 1 }
          else stop = true
        } else {
          if (t.text == ",") { expectIdent = true; p += 1 }
          else stop = true
        }
      }
      // a dangling comma backs off to before it (the comma then belongs
      // to an enclosing list, e.g. the t1 JOIN t2 USING k, t3 comma-join)
      if (expectIdent && p > k + 1) p -= 1
      (b.result(), p)
    }

  /** ClickHouse's LEFT SEMI JOIN returns the right side's columns from
    * the one matched row (lectures/lecture_10.md:10: "возвращается
    * только первое найденное совпадение") — Spark's native LeftSemi
    * cannot output right columns at all. When the statement actually
    * READS the right side outside the join condition (an
    * alias-qualified ref, a bare top-level `*`, a `alias.*`, or an
    * unqualified name the right side's schema owns), the join lowers
    * to `ANY INNER JOIN`, which is semantically identical in
    * ClickHouse (left rows with ≥1 match appear once each, right
    * values from one arbitrary match) and which [[rewriteAnyJoin]]
    * executes as dedup-right + INNER JOIN. Statements that never read
    * the right side keep Spark's native semi join — at scale it skips
    * materializing right values entirely, so the fast path must stay
    * the default. RIGHT SEMI (and RIGHT ANTI) stay unsupported, as
    * before.
    */
  private def rewriteSemiRightRefs(toks: Vector[Token],
                                   resolver: Resolver,
                                   from: Int = 0): Vector[Token] = {
    // LEFT SEMI JOIN | SEMI LEFT JOIN
    var i = -1
    var at = math.max(from, 0)
    while (i < 0 && at < toks.length - 2) {
      if ((toks(at).is("LEFT") && toks(at + 1).is("SEMI") &&
        toks(at + 2).is("JOIN")) ||
        (toks(at).is("SEMI") && toks(at + 1).is("LEFT") &&
          toks(at + 2).is("JOIN"))) i = at
      else at += 1
    }
    if (i < 0) return toks
    val j = i + 2 // JOIN token
    val t0 = j + 1
    if (t0 >= toks.length) return toks
    val cteSc = cteScopes(toks)
    // right side: table | (subquery) | CTE name; alias region to ON/USING
    val isSub = toks(t0).text == "("
    val subClose = if (isSub) matchParen(toks, t0) else -1
    val isCte = !isSub && toks(t0).isIdent &&
      cteShadowed(cteSc, stripTicks(toks(t0).text), t0)
    val rightEnd = if (isSub) subClose else t0
    if (rightEnd < 0) return toks
    var k = rightEnd + 1
    val aliasToks = Vector.newBuilder[Token]
    while (k < toks.length && !toks(k).is("USING") && !toks(k).is("ON")) {
      aliasToks += toks(k); k += 1
    }
    if (k >= toks.length) return toks
    val region = aliasToks.result()
    val modAt = region.indexWhere(t => t.is("FINAL") || t.is("SAMPLE"))
    val aToks = if (modAt < 0) region else region.take(modAt)
    val alias = aToks.filterNot(_.is("AS")).lastOption.map(_.text)
      .orElse(if (!isSub) Some(toks(t0).text.split('.').last) else None)
      .getOrElse("")
    // condition span end
    var e = k + 1
    var dd = 0
    var stop = false
    while (e < toks.length && !stop) {
      val te = toks(e)
      if (te.text == "(") dd += 1
      else if (te.text == ")") { dd -= 1; if (dd < 0) stop = true }
      else if (dd == 0 && kwAt(toks, e, joinCondTerm)) stop = true
      if (!stop) e += 1
    }
    val (blockOf, inList) = selectBlockScopes(toks)
    val b = blockOf(i)
    lazy val rightCols: Set[String] = {
      val cols =
        if (isSub) resolver.describeQuery(
          ChLexer.render(toks.slice(t0 + 1, subClose)))
        else if (isCte) cteProbe(toks, stripTicks(toks(t0).text))
          .flatMap(resolver.describeQuery)
        else resolver.resolve(strip(toks(t0).text))
          .flatMap(rt => resolver.describe(rt.viewName))
      cols.map(_.fieldNames.map(_.toLowerCase).toSet).getOrElse(Set.empty)
    }
    def qualRef(text: String): Boolean =
      alias.nonEmpty && (text.startsWith(alias + ".") ||
        text.startsWith("`" + alias + "`."))
    var reads = false
    var p = 0
    while (!reads && p < toks.length) {
      val t = toks(p)
      val inSpan = p >= i && p < e
      if (!inSpan && blockOf(p) == b && !t.isString) {
        if (t.isIdent && qualRef(t.text)) reads = true
        else if (t.text == "*" && p > 0 &&
          (toks(p - 1).is("SELECT") || toks(p - 1).is("DISTINCT") ||
            toks(p - 1).text == ",") && inList(p)) reads = true
        else if (t.isIdent && !t.text.contains(".") &&
          !sqlWordLike(t.upper) && !joinCondTerm(t.upper) &&
          !(p + 1 < toks.length && toks(p + 1).text == "(") &&
          rightCols(stripTicks(t.text).toLowerCase)) reads = true
      }
      p += 1
    }
    if (!reads) return rewriteSemiRightRefs(toks, resolver, i + 3)
    // LEFT SEMI → ANY INNER (both spellings replace the same two
    // positions); continue past it for further semi joins
    rewriteSemiRightRefs(
      toks.updated(i, Token("ANY")).updated(i + 1, Token("INNER")),
      resolver, i + 3)
  }

  /** Expands a SELECT-list qualified star `a.*` (optionally with an
    * `EXCEPT (cols)` tail) into the explicit `a.c1, a.c2, …` column
    * list of the plain CATALOG TABLE that `a` names or aliases in the
    * same block's FROM region. Runs only in blocks with an ASOF join:
    * the expansion is semantically the projection Spark would produce
    * anyway, but it lets the ASOF lowering requalify each side's
    * columns one by one (a star over its flattened `__asof` subquery
    * would read both sides). Subquery/CTE aliases are left alone, as
    * are MergeTree virtual columns (ClickHouse hides them from stars).
    */
  private def expandQualifiedStars(toks: Vector[Token],
                                   resolver: Resolver): Vector[Token] = {
    if (!toks.exists(t => !t.isString && t.isIdent && t.text.endsWith(".*")))
      return toks
    if (!toks.exists(t => !t.isString && t.is("ASOF"))) return toks
    val (blockOf, inList) = selectBlockScopes(toks)
    val starBlocks = toks.indices.collect {
      case i if toks(i).is("ASOF") => blockOf(i)
    }.toSet
    val cte = cteScopes(toks)
    // (block, qualifier) → catalog table, from `FROM/JOIN table
    // [[AS] alias]` shapes; an ALIASED table is addressable only by
    // the alias (ClickHouse and Spark agree), an unaliased one by its
    // last name segment
    val comp = scala.collection.mutable.Map.empty[(Int, String), String]
    var q = 0
    while (q < toks.length - 1) {
      val t = toks(q)
      if ((t.is("FROM") || t.is("JOIN")) && toks(q + 1).isIdent &&
        !toks(q + 1).isString &&
        !(q + 2 < toks.length && toks(q + 2).text == "(") &&
        !cteShadowed(cte, strip(toks(q + 1).text), q + 1) &&
        resolver.resolve(strip(toks(q + 1).text)).isDefined) {
        val table = strip(toks(q + 1).text)
        var a = q + 2
        if (a < toks.length && toks(a).is("AS")) a += 1
        val alias =
          if (a < toks.length && toks(a).isIdent && !toks(a).isString &&
            !fromClauseEnd(toks(a)) && !joinFamily(toks(a)) &&
            !toks(a).is("ON") && !toks(a).is("USING") &&
            !sqlWordLike(toks(a).upper))
            stripTicks(toks(a).text).toLowerCase
          else table.split('.').last.toLowerCase
        comp((blockOf(q + 1), alias)) = table
      }
      q += 1
    }
    if (comp.isEmpty) return toks
    // paren depth per token + each block's select-list depth: only a
    // TOP-LEVEL list item expands (a star inside a call like
    // `count(a.*)` must stay one argument)
    val depthAt = new Array[Int](toks.length)
    val selDepth = scala.collection.mutable.Map.empty[Int, Int]
    locally {
      var d = 0
      var k = 0
      while (k < toks.length) {
        if (toks(k).text == ")") d -= 1
        depthAt(k) = d
        if (toks(k).text == "(") d += 1
        if (toks(k).is("SELECT") && !toks(k).isString)
          selDepth.getOrElseUpdate(blockOf(k), depthAt(k))
        k += 1
      }
    }
    val virtuals = Set("_part", "_partition_id", "_shard_num", "_table")
    val out = Vector.newBuilder[Token]
    var p = 0
    var changed = false
    def colsOf(table: String): Option[Seq[String]] =
      resolver.resolve(table).flatMap(rt => resolver.describe(rt.viewName))
        .map(_.fieldNames.toSeq)
    while (p < toks.length) {
      val t = toks(p)
      val topLevel = inList(p) &&
        selDepth.get(blockOf(p)).contains(depthAt(p))
      val expandable = t.isIdent && !t.isString &&
        t.text.endsWith(".*") && t.text.length > 2 && topLevel &&
        starBlocks(blockOf(p))
      val hit: Option[Seq[(String, String)]] = if (expandable) {
        val qual = stripTicks(t.text.dropRight(2)).toLowerCase
        comp.get((blockOf(p), qual))
          .flatMap(colsOf)
          .map(cols => cols.map(c => (qual, c)))
      } else None
      hit match {
        case Some(cols0) =>
          // optional `EXCEPT (c1, c2)` tail: consume and exclude
          var next = p + 1
          var excluded = Set.empty[String]
          if (next + 1 < toks.length && toks(next).is("EXCEPT") &&
            toks(next + 1).text == "(") {
            val close = matchParen(toks, next + 1)
            if (close > 0) {
              excluded = toks.slice(next + 2, close)
                .filter(_.text != ",")
                .map(x => stripTicks(x.text).toLowerCase).toSet
              next = close + 1
            }
          }
          val cols = cols0.filterNot { case (_, c) =>
            virtuals(c.toLowerCase) || excluded(c.toLowerCase) }
          if (cols.isEmpty) { out += t; p += 1 }
          else {
            cols.zipWithIndex.foreach { case ((a, c), ix) =>
              if (ix > 0) out += Token(",")
              out += Token(s"$a.`$c`") += Token("AS") +=
                Token("`" + c + "`")
            }
            changed = true
            p = next
          }
        case None => out += t; p += 1
      }
    }
    if (changed) out.result() else toks
  }

  // ---- PREWHERE p [WHERE w] → WHERE (p) AND (w) ----
  private def rewritePrewhere(toks: Vector[Token]): Vector[Token] = {
    var depth = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.text == "(") depth += 1
      else if (t.text == ")") depth -= 1
      else if (t.is("PREWHERE")) {
        val d = depth
        // find this block's WHERE / clause boundary at depth d
        var j = i + 1
        var dd = d
        var whereAt = -1
        var boundary = toks.length
        var done = false
        while (j < toks.length && !done) {
          val tj = toks(j)
          if (tj.text == "(") dd += 1
          else if (tj.text == ")") { dd -= 1; if (dd < d) { boundary = j; done = true } }
          else if (dd == d && tj.is("WHERE")) { whereAt = j; done = true }
          else if (dd == d && clauseStarters(tj.upper) && !tj.is("WHERE")) {
            boundary = j; done = true
          }
          j += 1
        }
        if (whereAt >= 0) {
          // PREWHERE p WHERE w → WHERE (p) AND (w)  [w's extent ends at
          // the next same-depth clause starter or depth drop]
          var k = whereAt + 1
          dd = d
          var wEnd = toks.length
          var stop = false
          while (k < toks.length && !stop) {
            val tk = toks(k)
            if (tk.text == "(") dd += 1
            else if (tk.text == ")") { dd -= 1; if (dd < d) { wEnd = k; stop = true } }
            else if (dd == d && clauseStarters(tk.upper)) { wEnd = k; stop = true }
            k += 1
          }
          val pred = toks.slice(i + 1, whereAt)
          val wPred = toks.slice(whereAt + 1, wEnd)
          val merged = toks.take(i) ++
            ChLexer.tokenize("WHERE (") ++ pred ++ ChLexer.tokenize(") AND (") ++
            wPred ++ ChLexer.tokenize(")") ++ toks.slice(wEnd, toks.length)
          return rewritePrewhere(merged)
        } else {
          val merged = toks.updated(i, Token("WHERE"))
          return rewritePrewhere(merged)
        }
      }
      i += 1
    }
    toks
  }

  /** `GROUP BY k1, k2 WITH TOTALS` → `GROUP BY GROUPING SETS ((k1, k2),
    * ())` — the per-group rows plus ONE grand-total row (key columns
    * NULL, ClickHouse's separate totals block flattened into the result),
    * computed in a single Expand+aggregate pass exactly like the library
    * form `ChAggregates.withTotals`. Runs at ANY depth (subquery blocks
    * included). When the block also has HAVING, the condition is guarded
    * with `grouping_id() <> 0 OR (cond)` so HAVING filters only the
    * per-group rows and the totals row aggregates ALL rows — ClickHouse's
    * `totals_mode = 'before_having'`. The default `after_having_exclusive`
    * mode differs only in EXCLUDING rows of HAVING-failing groups from
    * totals; that needs a second aggregation pass over the base rows and
    * is not spelled here (documented divergence, COVERAGE.md).
    * `GROUP BY ALL WITH TOTALS` and ROLLUP/CUBE+TOTALS combinations are
    * left untouched (the analyzer reports them) rather than guessed at.
    */
  private def rewriteWithTotals(toks: Vector[Token]): Vector[Token] = {
    var depth = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.text == "(") depth += 1
      else if (t.text == ")") depth -= 1
      else if (t.is("GROUP") && i + 1 < toks.length && toks(i + 1).is("BY")) {
        val d = depth
        // scan the group list for a same-depth `WITH TOTALS`
        var j = i + 2
        var dd = d
        var withAt = -1
        var stop = false
        while (j < toks.length && !stop) {
          val tj = toks(j)
          if (tj.text == "(") dd += 1
          else if (tj.text == ")") { dd -= 1; if (dd < d) stop = true }
          else if (dd == d && tj.is("WITH") && j + 1 < toks.length &&
            toks(j + 1).is("TOTALS")) { withAt = j; stop = true }
          else if (dd == d && clauseStarters(tj.upper)) stop = true
          j += 1
        }
        val list = if (withAt > 0) toks.slice(i + 2, withAt) else Vector.empty
        val plain = list.nonEmpty && !list.head.is("ALL") &&
          !list.head.is("ROLLUP") && !list.head.is("CUBE") &&
          !list.head.is("GROUPING")
        if (withAt > 0 && plain) {
          var out = toks.take(i) ++
            ChLexer.tokenize("GROUP BY GROUPING SETS ((") ++ list ++
            ChLexer.tokenize("), ())") ++ toks.drop(withAt + 2)
          // guard this block's HAVING (if any) so totals survive it
          var k = i
          var dk = d
          var havingAt = -1
          var scan = true
          while (k < out.length && scan) {
            val tk = out(k)
            if (tk.text == "(") dk += 1
            else if (tk.text == ")") { dk -= 1; if (dk < d) scan = false }
            else if (dk == d && tk.is("HAVING")) { havingAt = k; scan = false }
            else if (dk == d && (tk.is("UNION") || tk.is("INTERSECT") ||
              tk.is("EXCEPT") || tk.text == ";")) scan = false
            k += 1
          }
          if (havingAt > 0) {
            var e = havingAt + 1
            dk = d
            var hEnd = out.length
            var go = true
            while (e < out.length && go) {
              val te = out(e)
              if (te.text == "(") dk += 1
              else if (te.text == ")") { dk -= 1; if (dk < d) { hEnd = e; go = false } }
              else if (dk == d && clauseStarters(te.upper)) { hEnd = e; go = false }
              e += 1
            }
            val cond = out.slice(havingAt + 1, hEnd)
            out = out.take(havingAt) ++
              ChLexer.tokenize("HAVING grouping_id() <> 0 OR (") ++ cond ++
              ChLexer.tokenize(")") ++ out.drop(hEnd)
          }
          return rewriteWithTotals(out)
        }
      }
      i += 1
    }
    toks
  }

  // ---- LIMIT n BY k / final LIMIT extraction (top level only) ----
  private def extractLimitBy(toks: Vector[Token])
      : (Vector[Token], Option[LimitByOp], Option[(Long, Long)]) = {
    var depth = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.text == "(") depth += 1
      else if (t.text == ")") depth -= 1
      else if (depth == 0 && t.is("LIMIT")) {
        // forms: LIMIT n BY k | LIMIT o, n BY k | LIMIT n | LIMIT n OFFSET o
        var j = i + 1
        while (j < toks.length && (toks(j).text == "," ||
          (toks(j).text.nonEmpty && Character.isDigit(toks(j).text.charAt(0)))))
          j += 1
        val byAt = if (j < toks.length && toks(j).is("BY")) j else -1
        if (byAt > 0) {
          val nums = toks.slice(i + 1, byAt).map(_.text).filter(_ != ",")
          val (off, n) =
            if (nums.length == 2) (nums(0).toLong, nums(1).toLong)
            else (0L, nums(0).toLong)
          // keys run to the next top-level clause starter (LIMIT/ORDER...)
          var k = byAt + 1
          var dd = 0
          while (k < toks.length &&
            !(dd == 0 && clauseStarters(toks(k).upper))) {
            if (toks(k).text == "(") dd += 1
            else if (toks(k).text == ")") dd -= 1
            k += 1
          }
          val keys = ChTypes.splitTopLevel(
            ChLexer.render(toks.slice(byAt + 1, k)))
          // ORDER BY before the LIMIT BY drives which rows survive
          val orderSql = topLevelOrderBy(toks)
          val rest = toks.take(i) ++ toks.slice(k, toks.length)
          // a remaining top-level LIMIT applies AFTER the group
          // truncation (ClickHouse clause order) → pull it out too
          val (rest2, finalLimit) = extractFinalLimit(rest)
          return (rest2, Some(LimitByOp(n, off, keys, orderSql)), finalLimit)
        }
      }
      i += 1
    }
    (toks, None, None)
  }

  private def extractFinalLimit(toks: Vector[Token])
      : (Vector[Token], Option[(Long, Long)]) = {
    var depth = 0
    var i = 0
    while (i < toks.length) {
      if (toks(i).text == "(") depth += 1
      else if (toks(i).text == ")") depth -= 1
      else if (depth == 0 && toks(i).is("LIMIT")) {
        val nums = toks.slice(i + 1, toks.length)
        val texts = nums.map(_.text)
        val (off, n) =
          if (texts.length >= 3 && texts(1) == ",") (texts(0).toLong, texts(2).toLong)
          else if (texts.length >= 3 && nums(1).is("OFFSET")) (texts(2).toLong, texts(0).toLong)
          else (0L, texts(0).toLong)
        return (toks.take(i), Some((off, n)))
      }
      i += 1
    }
    (toks, None)
  }

  private def topLevelOrderBy(toks: Vector[Token]): Option[String] = {
    var depth = 0
    var i = 0
    while (i < toks.length) {
      if (toks(i).text == "(") depth += 1
      else if (toks(i).text == ")") depth -= 1
      else if (depth == 0 && toks(i).is("ORDER") && i + 1 < toks.length &&
        toks(i + 1).is("BY")) {
        var k = i + 2
        var dd = 0
        while (k < toks.length &&
          !(dd == 0 && clauseStarters(toks(k).upper))) {
          if (toks(k).text == "(") dd += 1
          else if (toks(k).text == ")") dd -= 1
          k += 1
        }
        return Some(ChLexer.render(toks.slice(i + 2, k)))
      }
      i += 1
    }
    None
  }

  // ---- FROM t [FINAL] [SAMPLE f] routing ----
  /** Scope-aware CTE shadowing: (name, scope start, scope end, own-body
    * start, own-body end) per binding. A binding scopes to its
    * enclosing parenthesized group (the whole statement at depth 0) —
    * references WITHIN the scope read the CTE; references outside it,
    * or inside the binding's OWN body (`WITH x AS (SELECT … FROM x)` —
    * non-recursive, the inner x is the catalog table, as in
    * ClickHouse), keep catalog resolution.
    */
  private def cteScopes(toks: Vector[Token])
      : Vector[(String, Int, Int, Int, Int)] =
    toks.indices.collect {
      case i if i + 3 < toks.length && toks(i).isIdent &&
        !toks(i).isString && toks(i + 1).is("AS") &&
        toks(i + 2).text == "(" &&
        (toks(i + 3).is("SELECT") || toks(i + 3).is("WITH")) =>
        var p = i - 1
        var depth = 0
        var openAt = -1
        while (p >= 0 && openAt < 0) {
          val tx = toks(p).text
          if (tx == ")") depth += 1
          else if (tx == "(") {
            if (depth == 0) openAt = p else depth -= 1
          }
          p -= 1
        }
        val (s, e) =
          if (openAt < 0) (0, toks.length)
          else (openAt, matchParen(toks, openAt))
        (stripTicks(toks(i).text), s, e, i + 2, matchParen(toks, i + 2))
    }.toVector

  /** Is the identifier at `p` shadowed by a CTE binding in scope? */
  private def cteShadowed(scopes: Vector[(String, Int, Int, Int, Int)],
                          name: String, p: Int): Boolean =
    scopes.exists { case (n, s, e, bs, be) =>
      n == name && p >= s && p <= e && !(p > bs && p < be)
    }

  /** Standalone probe SQL for a name bound by the statement's LEADING
    * top-level WITH list: the binding's OWN BODY, prefixed by the WITH
    * list of the bindings BEFORE it (chained CTEs resolve; a body can
    * only reference earlier names, so probe chains cannot cycle —
    * probing a mutually-referencing pair bottoms out on an unbound
    * name). None when the name is not bound there (e.g. a WITH nested
    * inside a subquery) — callers then treat the side as unknown-schema
    * and skip conservatively, NEVER as the same-named catalog table.
    * Powers the ASOF lowering and the LEFT SEMI right-read check for
    * CTE join sides: a CTE is a subquery, so its columns (and an ASOF
    * LEFT miss's defaults) come from its analyzed output schema
    * ([[Resolver.describeQuery]]).
    */
  private def cteProbe(toks: Vector[Token], name: String): Option[String] = {
    if (toks.isEmpty || !toks.head.is("WITH")) return None
    var i = 1
    while (i + 2 < toks.length && toks(i).isIdent && !toks(i).isString &&
      toks(i + 1).is("AS") && toks(i + 2).text == "(") {
      val close = matchParen(toks, i + 2)
      if (close < 0) return None
      if (stripTicks(toks(i).text) == name) {
        val body = ChLexer.render(toks.slice(i + 3, close))
        val prefix =
          if (i == 1) ""
          else "WITH " + ChLexer.render(toks.slice(1, i - 1)) + " "
        return Some(prefix + body)
      }
      if (close + 1 < toks.length && toks(close + 1).text == ",")
        i = close + 2
      else return None
    }
    None
  }

  private def rewriteFromClauses(toks: Vector[Token],
                                 resolver: Resolver): Vector[Token] = {
    val cte = cteScopes(toks)
    val out = Vector.newBuilder[Token]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      // resolved once: each resolve registers the table's views
      val resolved =
        if ((t.is("FROM") || t.is("JOIN")) && i + 1 < toks.length &&
          toks(i + 1).isIdent &&
          // an ident followed by "(" is a CALL (range(3) from the
          // numbers() lowering, a leftover table function), never a
          // table ref — substituting it strands the argument list
          !(i + 2 < toks.length && toks(i + 2).text == "(") &&
          !cteShadowed(cte, strip(toks(i + 1).text), i + 1))
          resolver.resolve(strip(toks(i + 1).text))
        else None
      if (resolved.isDefined) {
        val ident = strip(toks(i + 1).text)
        val rt = resolved.get
        // optional alias tokens before FINAL/SAMPLE
        var j = i + 2
        var useFinal = false
        var sampleArg: Option[String] = None
        var offsetArg: Option[String] = None
        def fracAt(k: Int): (String, Int) =
          if (k + 2 < toks.length && toks(k + 1).text == "/")
            (toks(k).text + "/" + toks(k + 2).text, k + 3)
          else (toks(k).text, k + 1)
        var guard = true
        while (guard && j < toks.length) {
          if (toks(j).is("FINAL")) { useFinal = true; j += 1 }
          else if (toks(j).is("SAMPLE") && j + 1 < toks.length) {
            // SAMPLE 0.1 | SAMPLE 1/10 [OFFSET 4/10] — the reference's
            // replica-splitting idiom (lectures: SAMPLE 1/N OFFSET (N-1)/N)
            val (arg, next) = fracAt(j + 1)
            sampleArg = Some(arg)
            j = next
            if (j < toks.length && toks(j).is("OFFSET") && j + 1 < toks.length) {
              val (off, next2) = fracAt(j + 1)
              offsetArg = Some(off)
              j = next2
            }
          } else guard = false
        }
        val baseView = if (useFinal) rt.finalViewName.getOrElse(rt.viewName)
          else rt.viewName
        val ref = sampleArg match {
          case Some(arg) =>
            val frac = parseFraction(arg)
            val off = offsetArg.map(parseFraction).getOrElse(0.0)
            val key = rt.sampleKeySql.getOrElse(throw new IllegalArgumentException(
              s"SAMPLE on $ident: table has no SAMPLE BY key"))
            val lo = math.round(off * 1000000L)
            val hi = math.round((off + frac) * 1000000L)
            s"(SELECT * FROM $baseView WHERE pmod(abs(xxhash64($key)), 1000000) " +
              s">= $lo AND pmod(abs(xxhash64($key)), 1000000) < $hi)"
          case None => baseView
        }
        out += t
        out ++= ChLexer.tokenize(ref)
        // no explicit alias ⟹ alias the view as the ORIGINAL table name,
        // so unaliased qualified refs (`en_codes.lvl`, `movies.title` in
        // hw06's comma join) still resolve against the renamed view
        val hasAlias = j < toks.length && (toks(j).is("AS") ||
          (toks(j).isIdent && !fromClauseEnd(toks(j)) &&
            !joinFamily(toks(j))))
        if (!hasAlias) {
          val alias = ident.split('.').last
          if (alias.nonEmpty && alias != ref)
            out ++= Seq(Token("AS"), Token(alias))
        }
        i = j
      } else { out += t; i += 1 }
    }
    out.result()
  }

  private def parseFraction(arg: String): Double =
    if (arg.contains("/")) {
      val p = arg.split("/")
      p(0).toDouble / p(1).toDouble
    } else {
      val v = arg.toDouble
      require(v > 0 && v <= 1, s"SAMPLE $arg: only fractional samples supported")
      v
    }

  private def strip(ident: String): String = ident.replace("`", "")

  // ---- IN known_table → IN (SELECT * FROM view) ----
  private def rewriteInTable(toks: Vector[Token],
                             resolver: Resolver): Vector[Token] = {
    val cte = cteScopes(toks)
    val out = Vector.newBuilder[Token]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val resolved =
        if (t.is("IN") && i + 1 < toks.length && toks(i + 1).isIdent &&
          (i + 2 >= toks.length || toks(i + 2).text != "(") &&
          !cteShadowed(cte, strip(toks(i + 1).text), i + 1))
          resolver.resolve(strip(toks(i + 1).text))
        else None
      resolved match {
        case Some(rt) =>
          out += t
          out ++= ChLexer.tokenize(s"(SELECT * FROM ${rt.viewName})")
          i += 2
        case None => out += t; i += 1
      }
    }
    out.result()
  }

  // ---- remaining known identifiers (db.table) → view names ----
  private def mapIdentifiers(toks: Vector[Token],
                             resolver: Resolver): Vector[Token] =
    toks.map { t =>
      if (t.isIdent && t.text.endsWith(".*") && t.text.length > 2) {
        // db-qualified star `db.tbl.*`: rewriteFromClauses aliased the
        // resolved view AS the table's LAST name segment, so the star's
        // qualifier re-anchors onto that alias
        val qual = strip(t.text.dropRight(2))
        if (qual.contains(".") && resolver.resolve(qual).isDefined)
          Token(qual.split('.').last + ".*")
        else t
      } else if (t.isIdent && t.text.contains("."))
        resolver.resolve(strip(t.text)).map(r => Token(r.viewName)).getOrElse(t)
      else t
    }
}
