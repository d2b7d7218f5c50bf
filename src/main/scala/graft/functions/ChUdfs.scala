package graft.functions

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.ParserInterface

/** SQL lambda UDFs (SURVEY.md §2.9; lectures/lecture_06.md:102-119,
  * homeworks/hw04.md:78-103):
  * `CREATE FUNCTION linearEquation AS (x, k, b) -> k*x + b`.
  *
  * These are expression MACROS, not black-box functions: the body is
  * parsed once and inlined into the caller's plan by a FunctionRegistry
  * builder, so Catalyst optimizes through them (constant folding, pushdown
  * — same reason the reference implements them as query rewrites). No
  * recursion (enforced), unique names (createOrReplace explicit), listable
  * like `system.functions WHERE origin='SQLUserDefined'`.
  */
final class ChUdfs(spark: SparkSession) {

  private val defs = TrieMap.empty[String, (Seq[String], String)]

  /** CREATE FUNCTION name AS (params...) -> bodySql */
  def createFunction(name: String, params: Seq[String], bodySql: String,
                     orReplace: Boolean = false): Unit = {
    require(orReplace || !defs.contains(name), s"function $name already exists")
    val builder = ChUdfs.macroBuilder(spark.sessionState.sqlParser, name, params, bodySql)
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "sql_udf")
    defs.put(name, (params, bodySql))
  }

  /** DROP FUNCTION name */
  def dropFunction(name: String): Unit = {
    spark.sessionState.functionRegistry
      .dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    defs.remove(name)
  }

  /** system.functions WHERE origin='SQLUserDefined' analogue. */
  def list: Seq[(String, String)] =
    defs.toSeq.sortBy(_._1).map { case (n, (ps, b)) =>
      n -> s"(${ps.mkString(", ")}) -> $b"
    }
}

object ChUdfs {

  /** Parses `bodySql` once and returns the registry builder that inlines
    * it with the call's arguments bound to `params`; rejects recursion and
    * references to names that are not parameters.
    */
  def macroBuilder(parser: ParserInterface, name: String, params: Seq[String],
                   bodySql: String): FunctionBuilder = {
    val body = parser.parseExpression(bodySql)
    val referenced = body.collect { case a: UnresolvedAttribute => a.name }.toSet
    val calledFns = body.collect {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        f.nameParts.last
    }.toSet
    require(!calledFns.contains(name), s"recursive UDF $name not allowed")
    // names bound by lambda arguments inside the body (higher-order
    // functions: `(acc, x) -> acc + x`) are not macro parameters
    val lambdaBound = body.collect {
      case l: org.apache.spark.sql.catalyst.expressions.LambdaFunction =>
        l.arguments.map(_.name)
    }.flatten.toSet
    val unknown = referenced -- params.toSet -- lambdaBound
    require(unknown.isEmpty, s"body references non-parameters: $unknown")
    val builder: FunctionBuilder = { args =>
      require(args.length == params.length,
        s"$name expects ${params.length} arguments, got ${args.length}")
      val byName = params.zip(args).toMap
      // lambda-bound names stay as-is for the analyzer to bind. A
      // predicate body stays BOOLEAN here — `WHERE classify(q, p)`
      // filters directly, and the numeric composition ClickHouse's
      // UInt8 booleans allow (`classify(q, p) > 0`, hw04.md:98-102) is
      // restored by the BoolNumericCoercion analyzer rule.
      body.transformUp {
        case a: UnresolvedAttribute => byName.getOrElse(a.name, a)
      }
    }
    builder
  }
}
