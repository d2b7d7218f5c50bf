package graft.plans

import graft.chsql.ChTypes
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Coalesce, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{FullOuter, JoinType, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

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
