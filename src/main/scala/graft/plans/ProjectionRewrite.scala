package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Divide, Expression, ExpressionInfo, HllSketchEstimate, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, HllSketchAgg, HllUnionAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.mergetree.ProjectionDef

/** Transparent projection routing (lectures/lecture_13.md:187-314,
  * homeworks/hw08.md: `optimize_use_projections` — scans rerouted to a
  * pre-aggregated projection, observable as `ReadFromMergeTree (projection)`
  * in the reference's EXPLAIN).
  *
  * A `Rule[LogicalPlan]` that matches `Aggregate(count/sum over a base
  * parquet scan)` where a registered projection of that base table covers
  * the grouping keys and summed columns, and rewrites the plan to
  * re-aggregate the projection's partial states instead — exact, because
  * counts and sums are re-aggregable. Output attribute ids are preserved
  * via an aliasing Project so parent operators are untouched.
  *
  * Registered through [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) or
  * `ProjectionRouting.register(...)` + GraftSession.
  */
object ProjectionRouting {
  /** base-table path → projection */
  private[plans] val registered = TrieMap.empty[String, ProjectionDef]

  private[plans] val planCache = TrieMap.empty[String, LogicalPlan]

  def register(basePath: String, p: ProjectionDef): Unit =
    registered.put(normalize(basePath), p)
  def unregister(basePath: String): Unit = {
    registered.remove(normalize(basePath)); ()
  }
  def clear(): Unit = { registered.clear(); planCache.clear() }

  private[plans] def normalize(p: String): String =
    p.stripSuffix("/").replaceFirst("^file:", "")

  private[plans] def forPlan(plan: LogicalPlan): Option[ProjectionDef] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.headOption
        .flatMap(rp => registered.get(normalize(rp.toString)))
    // see through the column-pruning Project the optimizer inserts, and
    // the same-name relabel that marks declared-Nullable columns
    case Project(projList, child) if projList.forall {
          case _: AttributeReference => true
          case Alias(a: AttributeReference, n) => n == a.name
          case _ => false
        } =>
      forPlan(child)
    case _ => None
  }
}

class ProjectionRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Parses a registered projection expression and resolves its attribute
    * references by name against `child`'s output, so the result can be
    * `semanticEquals`-compared with the query's own (resolved) aggregate
    * input. Returns None if any name doesn't resolve.
    */
  private def resolveAgainst(sql: String, child: LogicalPlan): Option[Expression] = {
    try {
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      // full analysis (not just name resolution) so implicit type-coercion
      // casts are inserted exactly as they were in the user's query
      val analyzed = spark.sessionState.analyzer.execute(
        Project(Seq(Alias(parsed, "__projexpr")()), child))
      analyzed match {
        case Project(Seq(Alias(e, _)), _) if e.resolved => Some(e)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupExprs, aggExprs, child, _)
        if ProjectionRouting.forPlan(child).isDefined =>
      val p = ProjectionRouting.forPlan(child).get
      rewrite(agg, groupExprs, aggExprs, p).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate, groupExprs: Seq[Expression],
                      aggExprs: Seq[NamedExpression],
                      p: ProjectionDef): Option[LogicalPlan] = {
    // grouping keys must be plain columns covered by the projection
    val groupAttrs = groupExprs.map {
      case a: AttributeReference if p.groupCols.contains(a.name) => a
      case _ => return None
    }
    // registered sum-expressions, resolved against the aggregate's child so
    // semanticEquals can compare them with the query's own aggregate input
    lazy val resolvedSumExprs: Seq[(String, Expression)] =
      p.sumExprs.toSeq.sortBy(_._1).flatMap { case (alias, sql) =>
        resolveAgainst(sql, agg.child).map(alias -> _)
      }
    def matchSumExpr(e: Expression): Option[String] =
      resolvedSumExprs.collectFirst {
        case (alias, re) if re.semanticEquals(e) => alias
      }

    // each output must be a grouping attr or a re-aggregable covered agg
    sealed trait Out
    case class GroupOut(name: String) extends Out
    case object CountOut extends Out
    case class CountColOut(col: String) extends Out
    case class SumOut(col: String) extends Out
    case class SumExprOut(alias: String) extends Out
    case class MinOut(col: String) extends Out
    case class MaxOut(col: String) extends Out
    case class AvgOut(col: String) extends Out
    case class UniqOut(col: String) extends Out
    val outs: Seq[(NamedExpression, Out)] = aggExprs.map {
      case a: AttributeReference if p.groupCols.contains(a.name) => a -> GroupOut(a.name)
      case al @ Alias(AggregateExpression(Count(Seq(Literal(_, _))), _, false, None, _), _) =>
        al -> CountOut
      case al @ Alias(AggregateExpression(Count(Nil), _, false, None, _), _) =>
        al -> CountOut
      // count(col) = NON-NULL count — routable only via a stored
      // per-column count partial, NOT the projection's row count
      case al @ Alias(AggregateExpression(Count(Seq(ar: AttributeReference)), _, false, None, _), _)
          if p.countCols.contains(ar.name) =>
        al -> CountColOut(ar.name)
      case al @ Alias(AggregateExpression(Sum(ar: AttributeReference, _), _, false, None, _), _)
          if p.sumCols.contains(ar.name) =>
        al -> SumOut(ar.name)
      case al @ Alias(AggregateExpression(Sum(e, _), _, false, None, _), _)
          if matchSumExpr(e).isDefined =>
        al -> SumExprOut(matchSumExpr(e).get)
      case al @ Alias(AggregateExpression(Min(ar: AttributeReference), _, false, None, _), _)
          if p.minCols.contains(ar.name) =>
        al -> MinOut(ar.name)
      case al @ Alias(AggregateExpression(Max(ar: AttributeReference), _, false, None, _), _)
          if p.maxCols.contains(ar.name) =>
        al -> MaxOut(ar.name)
      case al @ Alias(AggregateExpression(Average(ar: AttributeReference, _), _, false, None, _), _)
          if p.avgCols.contains(ar.name) &&
            al.dataType == org.apache.spark.sql.types.DoubleType =>
        al -> AvgOut(ar.name)
      // uniqState → uniqMerge (lectures/lecture_13.md): estimate over a
      // per-group sketch routes to estimate-over-union of the projection's
      // stored sketches — DataSketches union is lossless, so values match
      // the unrouted plan exactly. Only the default lgConfK routes.
      case al @ Alias(HllSketchEstimate(AggregateExpression(
            HllSketchAgg(ar: AttributeReference, Literal(12, _), _, _), _, false, None, _)), _)
          if p.uniqCols.contains(ar.name) =>
        al -> UniqOut(ar.name)
      case _ => return None
    }

    // build the projection scan (analyzed once per path) and map names →
    // its attributes
    val projPlan = ProjectionRouting.planCache.getOrElseUpdate(p.path,
      spark.read.parquet(p.path).queryExecution.analyzed)
    val projAttr: Map[String, Attribute] =
      projPlan.output.map(a => a.name -> a).toMap
    val needed = outs.flatMap {
      case (_, GroupOut(_))   => Nil
      case (_, CountOut)      => Seq("__cnt")
      case (_, CountColOut(c)) => Seq(s"__nncnt_$c")
      case (_, SumOut(c))     => Seq(s"__sum_$c")
      case (_, SumExprOut(a)) => Seq(s"__sum_$a")
      case (_, MinOut(c))     => Seq(s"__min_$c")
      case (_, MaxOut(c))     => Seq(s"__max_$c")
      case (_, AvgOut(c))     => Seq(s"__avgsum_$c", s"__avgcnt_$c")
      case (_, UniqOut(c))    => Seq(s"__hll_$c")
    }
    if (!p.groupCols.forall(projAttr.contains) ||
        !needed.forall(projAttr.contains)) return None

    val newGroup = groupAttrs.map(a => projAttr(a.name))
    val newAggExprs: Seq[NamedExpression] = outs.map {
      case (orig, GroupOut(n)) => projAttr(n)
      case (orig, CountOut) =>
        Alias(Sum(projAttr("__cnt")).toAggregateExpression(), orig.name)()
      case (orig, CountColOut(c)) =>
        Alias(Sum(projAttr(s"__nncnt_$c")).toAggregateExpression(), orig.name)()
      case (orig, SumOut(c)) =>
        Alias(Sum(projAttr(s"__sum_$c")).toAggregateExpression(), orig.name)()
      case (orig, SumExprOut(a)) =>
        Alias(Sum(projAttr(s"__sum_$a")).toAggregateExpression(), orig.name)()
      case (orig, MinOut(c)) =>
        Alias(Min(projAttr(s"__min_$c")).toAggregateExpression(), orig.name)()
      case (orig, MaxOut(c)) =>
        Alias(Max(projAttr(s"__max_$c")).toAggregateExpression(), orig.name)()
      case (orig, AvgOut(c)) =>
        // exact re-aggregation: total sum / total non-null count
        Alias(Divide(
          Cast(Sum(projAttr(s"__avgsum_$c")).toAggregateExpression(),
            org.apache.spark.sql.types.DoubleType),
          Cast(Sum(projAttr(s"__avgcnt_$c")).toAggregateExpression(),
            org.apache.spark.sql.types.DoubleType)), orig.name)()
      case (orig, UniqOut(c)) =>
        Alias(HllSketchEstimate(
          new HllUnionAgg(projAttr(s"__hll_$c")).toAggregateExpression()),
          orig.name)()
    }
    val newAgg = Aggregate(newGroup, newAggExprs, projPlan, None)

    // re-alias outputs to the ORIGINAL exprIds/types so parents resolve
    val restore: Seq[NamedExpression] = agg.output.zip(newAgg.output).map {
      case (old, fresh) =>
        val castFresh =
          if (fresh.dataType == old.dataType) fresh
          else org.apache.spark.sql.catalyst.expressions.Cast(fresh, old.dataType)
        Alias(castFresh, old.name)(exprId = old.exprId)
    }
    Some(Project(restore, newAgg))
  }
}

/** `spark.sql.extensions` entry point: projection routing, the AsOf join
  * strategy, the boolean coercion rule and the whole graft SQL function
  * surface, injected once when a session is built. `source` is the
  * `ExpressionInfo` tag DESCRIBE FUNCTION reports for each table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(session => new ProjectionRewrite(session))
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectResolutionRule(_ => BoolNumericCoercion)
    def inject(source: String, table: Seq[(String, FunctionBuilder)]): Unit =
      table.foreach { case (name, builder) =>
        val info = new ExpressionInfo(builder.getClass.getCanonicalName, null, name,
          null, "", "", "", "", "", "", source)
        e.injectFunction((FunctionIdentifier(name), info, builder))
      }
    inject("built-in", NativeFunctions.functions)
    inject("scala_udf", graft.functions.ChRegistry.functions)
    inject("sql_udf", graft.functions.ChRegistry.macros)
    inject("scala_udf", graft.functions.StateSqlRegistry.functions)
  }
}

/** ClickHouse booleans are UInt8, so a comparison result composes
  * numerically (`(a > b) > 0`, the hw04.md:98-104 predicate-UDF idiom).
  * Spark rejects BOOLEAN vs numeric comparisons outright; this analyzer
  * rule casts the boolean side to INT and lets standard type coercion
  * unify the rest — scoped to binary comparisons only, where ClickHouse
  * and two-valued logic agree (true=1, false=0).
  */
object BoolNumericCoercion
    extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Cast}
  import org.apache.spark.sql.types.{BooleanType, IntegerType, NumericType}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveExpressionsUp {
      case b: BinaryComparison
          if b.left.resolved && b.right.resolved &&
            b.left.dataType == BooleanType &&
            b.right.dataType.isInstanceOf[NumericType] =>
        b.withNewChildren(Seq(Cast(b.left, IntegerType), b.right))
      case b: BinaryComparison
          if b.left.resolved && b.right.resolved &&
            b.right.dataType == BooleanType &&
            b.left.dataType.isInstanceOf[NumericType] =>
        b.withNewChildren(Seq(b.left, Cast(b.right, IntegerType)))
    }
}
