package graft.plans

import graft.chsql.ChTypes
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Coalesce, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{FullOuter, JoinType, LeftAnti, LeftOuter, RightOuter, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{ExposesMetadataColumns, Join, LogicalPlan, Project, SubqueryAlias, UnaryNode, UnresolvedWith, View}
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
  * [[select]] runs a dialect SELECT through it, and reads ANTI joins'
  * right sides on the same plan.
  */
object ChJoinDefaults extends Rule[LogicalPlan] {

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
    * ANTI joins given readable right sides, then — unless `useNulls`
    * (`join_use_nulls = 1`) — the outer-join fill.
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
    * A statement whose unqualified name both sides have fails that
    * analysis as ambiguous; it is analyzed once more with such right
    * columns qualified-access only, so the name is the left side's, as
    * in Spark's anti join.
    */
  def select(spark: SparkSession, sql: String, useNulls: Boolean): DataFrame = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    var marked = false
    def mark(plan: LogicalPlan, hide: Boolean): LogicalPlan =
      plan.transformUpWithSubqueries {
        case j @ Join(_, _, LeftAnti, _, _) =>
          marked = true
          AntiRead(j.copy(joinType = LeftOuter), hide)
        case j @ Join(_, _, UsingJoin(LeftAnti, keys), _, _) =>
          marked = true
          AntiRead(j.copy(joinType = UsingJoin(LeftOuter, keys)), hide)
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
        case m: AntiRead => m.join.right.output
      }.flatten.map(a => a.exprId -> a.metadata).toMap
      analyzed.transformUpWithSubqueries {
        case m @ AntiRead(child, _) =>
          val r = restore(child, useNulls)
          if (r.output == m.output) r else Project(m.output, r)
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

  /** A parsed ANTI join, analyzed as the LEFT join it wraps. Under
    * `hide`, a right column whose name the left side has too moves from
    * the output to the metadata output, qualified access only, as
    * Spark's USING join does with its right keys: unqualified, the name
    * is the left side's, as in an anti join; a qualified read puts it
    * back ([[withMetadataColumns]]).
    */
  private case class AntiRead(child: LogicalPlan, hide: Boolean)
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
    override protected def withNewChildInternal(c: LogicalPlan): AntiRead =
      copy(child = c)
  }

  /** The analyzed LEFT join under a marker (under `USING`, below the
    * using-Project, whose tags and list stay) run as the anti join, its
    * right side's columns re-emitted as type defaults.
    */
  private def restore(plan: LogicalPlan, useNulls: Boolean): LogicalPlan =
    plan match {
      case p: Project => p.withNewChildren(Seq(restore(p.child, useNulls)))
      case j @ Join(l, r, LeftOuter, _, _) =>
        Project(l.output ++ r.output.map(a => Alias(ChTypes.defaultValue(
          a.dataType, useNulls || ChTypes.declaredNullable(a.metadata)),
          a.name)(exprId = a.exprId, qualifier = a.qualifier,
          explicitMetadata = Some(a.metadata))), j.copy(joinType = LeftAnti))
    }

  def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case v: View => v
    case p @ Project(list, j: Join) if isOuter(j.joinType) =>
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
    case j: Join if isOuter(j.joinType) => fill(descend(j), AttributeSet.empty)
    case other => descend(other)
  }

  private def isOuter(t: JoinType): Boolean =
    t == LeftOuter || t == RightOuter || t == FullOuter

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
  private def usingKeys(p: Project, j: Join): AttributeSet =
    if (j.joinType != FullOuter ||
      p.getTagValue(Project.hiddenOutputTag).isEmpty) AttributeSet.empty
    else AttributeSet(p.projectList.flatMap {
      case Alias(Coalesce(Seq(l: Attribute, r: Attribute)), _)
          if j.left.outputSet.contains(l) && j.right.outputSet.contains(r) =>
        Seq(l, r)
      case _ => Nil
    })

  /** `a` re-emitted as `coalesce(a, default)` under its own exprId;
    * None when its default is NULL (declared Nullable, or no zero).
    */
  private def filled(a: Attribute): Option[Alias] = {
    val default = ChTypes.defaultValue(a.dataType)
    if (ChTypes.declaredNullable(a.metadata) || default.value == null) None
    else Some(Alias(Coalesce(Seq(a, default)), a.name)(exprId = a.exprId,
      qualifier = a.qualifier, explicitMetadata = Some(a.metadata)))
  }

  private def fill(j: Join, keep: AttributeSet): LogicalPlan = {
    val nullSide = j.joinType match {
      case LeftOuter => j.right.outputSet
      case RightOuter => j.left.outputSet
      case _ => j.left.outputSet ++ j.right.outputSet
    }
    val list = j.output.map(a =>
      if (nullSide.contains(a) && !keep.contains(a)) filled(a).getOrElse(a)
      else a)
    if (list == j.output) j
    else {
      val p = Project(list, j)
      p.setTagValue(Filled, ())
      p
    }
  }
}
