package graft.plans

import graft.chsql.ChTypes
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BinaryComparison, Coalesce, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, RightOuter, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{ExposesMetadataColumns, Filter, Join, LogicalPlan, Project, SubqueryAlias, UnaryNode, UnresolvedHint, UnresolvedWith, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.MetadataColumnHelper

/** ClickHouse's default outer-join fill (`join_use_nulls = 0`,
  * lectures/lecture_10.md): the unmatched side of a LEFT / RIGHT / FULL
  * join reads its columns' TYPE DEFAULTS, not SQL NULLs.
  *
  * Runs on the ANALYZED plan, subqueries included: every outer `Join`
  * gets a `Project` above it that re-emits each null-supplying
  * attribute as `coalesce(attr, default)` under the attribute's own
  * exprId, so every reader above the join — select list, `r.*`,
  * WHERE/HAVING/ORDER BY, a later join's condition — sees the filled
  * value without being rewritten. Defaults come from
  * [[graft.chsql.ChTypes.defaultValue]].
  *
  *  - A column declared `Nullable(T)` keeps NULL, its ClickHouse
  *    default. The declaration rides in the column metadata under
  *    [[graft.chsql.ChTypes.NullableKey]] (set by `ChSession` on every
  *    table view), and Catalyst carries it through plain references,
  *    subqueries, views and CTEs. Columns without it (computed columns,
  *    DataFrames registered outside `ChSession`) fill the zero value of
  *    their type.
  *  - `View` nodes are not entered: a dialect view was filled when its
  *    own SELECT ran, and table views (FINAL folds) hold engine joins
  *    whose NULLs are not join semantics.
  *  - The keys of `FULL JOIN … USING` fill in Spark's merge projection,
  *    not under it: the merge `coalesce(l.k, r.k)` must read them raw, or
  *    a right-only key would turn into 0.
  *  - Idempotent: a join already under its fill is left as it is.
  *
  * An ASOF LEFT join ([[AsOfJoinPlan]]) fills its right side like a
  * LEFT join. [[select]] runs a dialect SELECT through it, and reads
  * ANTI joins' right sides and restores ASOF joins on the same plan.
  */
object ChJoinDefaults extends Rule[LogicalPlan] with PredicateHelper {

  /** The declared-nullability key the fill reads
    * ([[graft.chsql.ChTypes.NullableKey]]).
    */
  val NullableKey: String = ChTypes.NullableKey

  /** The fill over `df`'s plan; `df` itself when it has no outer join. */
  def apply(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val filled = apply(plan)
    if (filled eq plan) df else GraftSqlBridge.ofRows(df.sparkSession, filled)
  }

  /** A dialect SELECT as a DataFrame: `sql` parsed and analyzed, its
    * ANTI joins given readable right sides and its ASOF joins run on
    * [[AsOfJoinPlan]], then — unless `useNulls` (`join_use_nulls = 1`) —
    * the outer-join fill.
    *
    * ClickHouse lets a query read an ANTI join's right-side columns:
    * every surviving row is unmatched, so they hold their type DEFAULT
    * (homeworks/hw06.md:137-149 selects `g.genre` beside a `left anti
    * join` and renders ''). Spark's anti join outputs the left side
    * only, so each parsed `LEFT ANTI` join (all of them come from the
    * statement's text: NOT IN / NOT EXISTS become anti joins only in
    * the optimizer) is analyzed as a LEFT join under a marker, which
    * resolves every right-side reference natively — qualified,
    * unqualified, `r.*` and `*`. The marked join then runs as the anti
    * join, under a `Project` that re-emits the right side's columns as
    * [[graft.chsql.ChTypes.defaultValue]] under their own exprIds:
    * NULL under `useNulls` or where the column's metadata declares it
    * Nullable. Unread defaults are pruned by the optimizer, so a
    * statement that never reads the right side plans as a plain anti
    * join. Under `USING` the restore goes below Spark's using-Project.
    *
    * An ASOF join reaches here as the LEFT or INNER join it wraps, its
    * position in the block's FROM given by the rewriter's `GRAFT_ASOF`
    * hint. It is analyzed as that join under the same marker and
    * restored to [[AsOfJoinPlan]] from its analyzed condition
    * ([[asofJoin]]); an ASOF LEFT miss then reads the fill's defaults.
    *
    * A statement whose unqualified name both sides of a marked join
    * have fails that analysis as ambiguous; it is analyzed once more
    * with such right columns qualified-access only, so the name is the
    * left side's, as in Spark's anti join and ClickHouse's ASOF join.
    */
  def select(spark: SparkSession, sql: String, useNulls: Boolean): DataFrame = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    var marked = false
    def mark(plan: LogicalPlan, hide: Boolean): LogicalPlan =
      plan.transformDownWithSubqueries {
        case UnresolvedHint("GRAFT_ASOF", at, child) =>
          marked = true
          val positions = at.collect { case Literal(n: Int, _) => n }.toSet
          // the block's FROM joins, in text order: its join tree's left
          // spine, bottom up
          def spine(p: LogicalPlan): (LogicalPlan, Int) = p match {
            case j: Join =>
              val (l, n) = spine(j.left)
              val k = j.copy(left = l)
              (if (positions(n + 1)) asofRead(k, hide) else k, n + 1)
            case other => (other, 0)
          }
          def from(p: LogicalPlan): LogicalPlan = p match {
            case j: Join if positions.max <= spine(j)._2 => spine(j)._1
            case u: UnaryNode if !u.isInstanceOf[SubqueryAlias] =>
              u.withNewChildren(Seq(from(u.child)))
            case _ => throw new IllegalArgumentException(
              "ASOF JOIN: only a join of its block's FROM list can be ASOF")
          }
          from(child)
        case j @ Join(_, _, LeftAnti, _, _) =>
          marked = true
          JoinRead(j.copy(joinType = LeftOuter), asof = false, hide)
        case j @ Join(_, _, UsingJoin(LeftAnti, keys), _, _) =>
          marked = true
          JoinRead(j.copy(joinType = UsingJoin(LeftOuter, keys)), asof = false, hide)
        case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map(
          r => r.copy(_2 = mark(r._2, hide).asInstanceOf[SubqueryAlias])))
      }
    val df = try GraftSqlBridge.ofRows(spark, mark(parsed, hide = false))
    catch {
      // an unqualified name both sides have is the left side's
      case e: AnalysisException
          if marked && e.getCondition == "AMBIGUOUS_REFERENCE" =>
        GraftSqlBridge.ofRows(spark, mark(parsed, hide = true))
    }
    val analyzed = df.queryExecution.analyzed
    val read = if (!marked) analyzed else {
      // a reference to a right column reads the column's own metadata,
      // not the access flags a hidden or USING-hidden read added
      val right = analyzed.collectWithSubqueries {
        case m: JoinRead => m.join.right.output
      }.flatten.map(a => a.exprId -> a.metadata).toMap
      def restored(m: JoinRead, on: Option[Expression]) = {
        val r = restore(m.child, m.asof, on, useNulls)
        if (r.output == m.output) r else Project(m.output, r)
      }
      analyzed.transformDownWithSubqueries {
        case Filter(on, m @ JoinRead(_, true, _)) => restored(m, Some(on))
        case m: JoinRead => restored(m, None)
      }.transformUpWithSubqueries {
        case p => p.transformExpressions {
          case a: AttributeReference
              if right.get(a.exprId).exists(_ != a.metadata) =>
            a.withMetadata(right(a.exprId))
        }
      }
    }
    val out = if (useNulls) read else apply(read)
    if (out eq analyzed) df else GraftSqlBridge.ofRows(spark, out)
  }

  /** A parsed ASOF join under its marker. An ON condition moves above
    * the marker, into a `Filter` that is never run: there it resolves
    * against the marker's output, so a `hide` retry reaches the
    * condition's unqualified names too.
    */
  private def asofRead(j: Join, hide: Boolean): LogicalPlan = j.condition match {
    case Some(on) => Filter(on, JoinRead(j.copy(condition = None), asof = true, hide))
    case None => JoinRead(j, asof = true, hide)
  }

  /** A parsed ANTI or ASOF join, analyzed as the LEFT (ASOF: or INNER)
    * join it wraps. Under `hide`, a right column whose name the left
    * side has too moves from the output to the metadata output,
    * qualified access only, as Spark's USING join does with its right
    * keys: unqualified, the name is the left side's; a qualified read
    * puts it back ([[withMetadataColumns]]).
    */
  private case class JoinRead(child: LogicalPlan, asof: Boolean, hide: Boolean)
      extends UnaryNode with ExposesMetadataColumns {
    def join: Join = child match {
      case Project(_, j: Join) => j
      case j: Join => j
    }
    private def shared: Seq[Attribute] = if (!hide) Nil else {
      val j = join
      child.output.filter(a => j.right.outputSet.contains(a) &&
        j.left.output.exists(l => conf.resolver(l.name, a.name)))
    }
    override def output: Seq[Attribute] = {
      val s = AttributeSet(shared)
      child.output.filterNot(s.contains)
    }
    override def metadataOutput: Seq[Attribute] =
      child.metadataOutput ++ shared.map(_.markAsQualifiedAccessOnly())
    override def withMetadataColumns(): LogicalPlan = copy(hide = false,
      child = child match {
        // the USING keys the using-Project hides, as Spark exposes them
        case p: Project if p.getTagValue(Project.hiddenOutputTag).nonEmpty =>
          val q = p.copy(projectList =
            p.projectList ++ p.metadataOutput.map(_.markAsAllowAnyAccess()))
          q.copyTagsFrom(p)
          q
        case c => c
      })
    override protected def withNewChildInternal(c: LogicalPlan): JoinRead =
      copy(child = c)
  }

  /** The analyzed join under a marker (under `USING`, below the
    * using-Project, whose tags and list stay) restored: an ANTI join
    * runs as the anti join, its right side's columns re-emitted as type
    * defaults; an ASOF join as [[AsOfJoinPlan]].
    */
  private def restore(plan: LogicalPlan, asof: Boolean, on: Option[Expression],
                      useNulls: Boolean, using: Boolean = false): LogicalPlan =
    plan match {
    case p: Project =>
      p.withNewChildren(Seq(restore(p.child, asof, on, useNulls, using = true)))
    case j: Join if asof => asofJoin(j, on.orElse(j.condition), using)
    case j @ Join(l, r, LeftOuter, _, _) =>
      Project(l.output ++ r.output.map(a => Alias(ChTypes.defaultValue(
        a.dataType, useNulls || ChTypes.declaredNullable(a.metadata)),
        a.name)(exprId = a.exprId, qualifier = a.qualifier,
        explicitMetadata = Some(a.metadata))), j.copy(joinType = LeftAnti))
  }

  /** An analyzed LEFT or INNER join as the ASOF join it was parsed
    * from. Each `=` between a left-side and a right-side expression is a
    * key pair; exactly one of `>=`, `>`, `<=`, `<` is the time pair
    * (flipped when the right side is written first); under `USING` the
    * last column is the time, `>=`. Keys and times are the comparisons'
    * coerced children, so each pair has one type.
    */
  private def asofJoin(j: Join, on: Option[Expression],
                       using: Boolean): AsOfJoinPlan = {
    def bad(msg: String) = throw new IllegalArgumentException(s"ASOF JOIN: $msg")
    val outer = j.joinType match {
      case LeftOuter => true
      case Inner => false
      case t => bad(s"only INNER and LEFT are supported, not ${t.sql}")
    }
    val conjuncts = on.toSeq.flatMap(splitConjunctivePredicates)
    val cmps = if (!using) conjuncts else conjuncts.init :+ (conjuncts.last match {
      case EqualTo(l, r) => GreaterThanOrEqual(l, r)
      case c => c
    })
    def of(side: LogicalPlan, e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(side.outputSet)
    val keys = Seq.newBuilder[(Expression, Expression)]
    var time = Option.empty[(Expression, Expression, Boolean, Boolean)]
    cmps.foreach { c =>
      val (l, r, flipped) = c match {
        case b: BinaryComparison if of(j.left, b.left) && of(j.right, b.right) =>
          (b.left, b.right, false)
        case b: BinaryComparison if of(j.right, b.left) && of(j.left, b.right) =>
          (b.right, b.left, true)
        case _ => bad("each conjunct must compare a left-side and a " +
          s"right-side expression: ${c.sql}")
      }
      c match {
        case _: EqualTo => keys += l -> r
        case _: GreaterThanOrEqual | _: GreaterThan | _: LessThanOrEqual |
             _: LessThan =>
          if (time.nonEmpty) bad("more than one time inequality")
          val less = c.isInstanceOf[LessThanOrEqual] || c.isInstanceOf[LessThan]
          val strict = c.isInstanceOf[GreaterThan] || c.isInstanceOf[LessThan]
          time = Some((l, r, less != flipped, strict))
        case _ => bad(s"unsupported conjunct: ${c.sql}")
      }
    }
    val (lt, rt, forward, strict) =
      time.getOrElse(bad("missing the time inequality conjunct"))
    val (lk, rk) = keys.result().unzip
    AsOfJoinPlan(j.left, j.right, lk, rk, lt, rt, outer, forward, strict)
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case v: View => v
    case p @ Project(list, j) if nullSide(j).nonEmpty =>
      val join = descend(j)
      if (p.getTagValue(Filled).nonEmpty) subqueries(p.withNewChildren(Seq(join)))
      else {
        // a FULL JOIN … USING key fills here, beside the merge that
        // reads it raw
        val keys = usingKeys(p, j)
        val proj = Project(list.map {
          case a: Attribute if keys.contains(a) => filled(a).getOrElse(a)
          case e => e
        }, fill(join, keys))
        proj.copyTagsFrom(p)
        subqueries(proj)
      }
    case j if nullSide(j).nonEmpty => fill(descend(j), AttributeSet.empty)
    case other => descend(other)
  }

  /** The columns an outer join (or an ASOF LEFT join) null-supplies. */
  private def nullSide(plan: LogicalPlan): AttributeSet = plan match {
    case Join(_, r, LeftOuter, _, _) => r.outputSet
    case Join(l, _, RightOuter, _, _) => l.outputSet
    case Join(l, r, FullOuter, _, _) => l.outputSet ++ r.outputSet
    case a: AsOfJoinPlan if a.isLeftOuter => a.right.outputSet
    case _ => AttributeSet.empty
  }

  private def descend[T <: LogicalPlan](plan: T): T =
    subqueries(plan.mapChildren(apply).asInstanceOf[T])

  private def subqueries[T <: LogicalPlan](plan: T): T =
    plan.transformExpressions {
      case s: SubqueryExpression => s.withNewPlan(apply(s.plan))
    }.asInstanceOf[T]

  /** Marks a fill projection (re-analysis renames its exprIds, so the
    * tag — copied along with the node — is what stays recognizable).
    */
  private val Filled = TreeNodeTag[Unit]("graft.chJoinDefaults.fill")

  /** The raw key pairs under a `FULL JOIN … USING` merge (the analyzer
    * tags that projection with its hidden key output).
    */
  private def usingKeys(p: Project, j: LogicalPlan): AttributeSet = j match {
    case Join(left, right, FullOuter, _, _)
        if p.getTagValue(Project.hiddenOutputTag).nonEmpty =>
      AttributeSet(p.projectList.flatMap {
        case Alias(Coalesce(Seq(l: Attribute, r: Attribute)), _)
            if left.outputSet.contains(l) && right.outputSet.contains(r) =>
          Seq(l, r)
        case _ => Nil
      })
    case _ => AttributeSet.empty
  }

  /** `a` re-emitted as `coalesce(a, default)` under its own exprId;
    * None when its default is NULL (declared Nullable, or no zero).
    */
  private def filled(a: Attribute): Option[Alias] = {
    val default = ChTypes.defaultValue(a.dataType)
    if (ChTypes.declaredNullable(a.metadata) || default.value == null) None
    else Some(Alias(Coalesce(Seq(a, default)), a.name)(exprId = a.exprId,
      qualifier = a.qualifier, explicitMetadata = Some(a.metadata)))
  }

  private def fill(j: LogicalPlan, keep: AttributeSet): LogicalPlan = {
    val side = nullSide(j)
    val list = j.output.map(a =>
      if (side.contains(a) && !keep.contains(a)) filled(a).getOrElse(a)
      else a)
    if (list == j.output) j
    else {
      val p = Project(list, j)
      p.setTagValue(Filled, ())
      p
    }
  }
}
