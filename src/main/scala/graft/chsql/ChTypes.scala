package graft.chsql

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

/** ClickHouse type-name → Spark `DataType` mapping for the SQL dialect
  * layer (reference DDL: homeworks/scripts/hw02.sql:2-21,
  * clusters/ch_and_kafka/db/init.sql:11-53).
  *
  * Widths widen where Spark has no unsigned twin: UInt8/16 → Int,
  * UInt32/Int64 → Long, UInt64 → Long (the reference uses UInt64 for
  * offsets/timestamps that fit comfortably in a signed long).
  * `Nullable(T)` unwraps to (T, nullable=true); everything else is
  * non-nullable, matching ClickHouse's default-NOT-NULL columns.
  * `LowCardinality(T)` is a storage hint, not a type — it unwraps to T
  * (Spark's dictionary encoding in parquet covers the same ground).
  * `Enum8/16('a'=1,...)` reads as the string label, which is what
  * ClickHouse SELECTs return.
  */
object ChTypes {

  final case class Parsed(dataType: DataType, nullable: Boolean,
      enumMap: Option[Seq[(Int, String)]] = None)

  def parse(chType: String): Parsed = {
    val t = chType.trim
    val lower = t.toLowerCase
    if (lower.startsWith("nullable(") && t.endsWith(")")) {
      val inner = parse(t.substring("nullable(".length, t.length - 1))
      Parsed(inner.dataType, nullable = true, inner.enumMap)
    }
    else if (lower.startsWith("lowcardinality(") && t.endsWith(")"))
      parse(t.substring("lowcardinality(".length, t.length - 1))
    else if (lower.startsWith("array(") && t.endsWith(")")) {
      val inner = parse(t.substring("array(".length, t.length - 1))
      Parsed(ArrayType(inner.dataType, inner.nullable), nullable = false)
    } else if (lower.startsWith("map(") && t.endsWith(")")) {
      val inner = splitTopLevel(t.substring("map(".length, t.length - 1))
      require(inner.length == 2, s"Map needs two type args: $t")
      val v = parse(inner(1))
      Parsed(MapType(parse(inner.head).dataType, v.dataType, v.nullable),
        nullable = false)
    } else if (lower.startsWith("tuple(") && t.endsWith(")")) {
      val inner = splitTopLevel(t.substring("tuple(".length, t.length - 1))
      val fields = inner.zipWithIndex.map { case (ft, i) =>
        // named tuple element: "name Type"; positional: "Type"
        val parts = ft.trim.split("\\s+", 2)
        if (parts.length == 2 && !parts(0).contains("(")) {
          val p = parse(parts(1))
          StructField(parts(0), p.dataType, p.nullable)
        } else {
          val p = parse(ft)
          StructField(s"_${i + 1}", p.dataType, p.nullable)
        }
      }
      Parsed(StructType(fields), nullable = false)
    } else if (lower.startsWith("enum") && t.contains("(")) {
      // keep the value->name mapping: ClickHouse enums COMPARE as their
      // underlying numbers (`type IN (3, 4)` on system.query_log) while
      // SELECTing as the label — the rewriter maps numeric comparisons
      // through this table (ChSqlRewrite.rewriteEnumComparisons)
      val body = t.substring(t.indexOf('(') + 1, t.lastIndexOf(')'))
      var next = 1 // `Enum('a', 'b' = 5, 'c')` numbers like CH: 1, 5, 6
      def label(s: String): String = // the '' escape decodes ('it''s')
        s.trim.stripPrefix("'").stripSuffix("'").replace("''", "'")
      val entries = splitTopLevel(body).map { e =>
        val eq = e.lastIndexOf('=')
        val explicit =
          if (eq < 0) None
          else e.drop(eq + 1).trim.toIntOption.map(_ -> label(e.take(eq)))
        // no parseable "= N" tail ⟹ the '=' (if any) is part of the
        // quoted name ('a=b') — auto-number it like a bare entry
        val entry = explicit.getOrElse(next -> label(e))
        next = entry._1 + 1
        entry
      }
      Parsed(StringType, nullable = false,
        if (entries.nonEmpty) Some(entries) else None)
    } else if (lower.startsWith("decimal")) {
      // Decimal(p, s) | Decimal32(s)/64/128 with implied precision
      val args = t.substring(t.indexOf('(') + 1, t.lastIndexOf(')'))
        .split(",").map(_.trim.toInt)
      val (p, s) =
        if (lower.startsWith("decimal32")) (9, args(0))
        else if (lower.startsWith("decimal64")) (18, args(0))
        else if (lower.startsWith("decimal128")) (38, args(0))
        else if (args.length == 1) (args(0), 0) // Decimal(P) = scale 0
        else (args(0), args(1))
      Parsed(DecimalType(p, s), nullable = false)
    } else if (lower.startsWith("datetime64") ||
               lower.startsWith("datetime(")) {
      // DateTime64(precision[, tz]) / DateTime('tz') — Spark timestamps
      // are tz-less micros; session timezone handles rendering
      Parsed(TimestampType, nullable = false)
    } else if (lower.startsWith("fixedstring")) {
      Parsed(StringType, nullable = false)
    } else if (lower.startsWith("aggregatefunction") ||
               lower.startsWith("simpleaggregatefunction")) {
      // persisted -State columns travel as binary sketches in our engine
      Parsed(BinaryType, nullable = false)
    } else {
      val dt = lower match {
        case "uint8" | "uint16" | "int8" | "int16" | "int32" => IntegerType
        case "uint32" | "uint64" | "int64" | "int128" | "uint128" => LongType
        case "float32" | "float" => FloatType
        case "float64" | "double" => DoubleType
        case "string" | "uuid" | "ipv4" | "ipv6" | "json" => StringType
        case "date" | "date32" => DateType
        case "datetime" => TimestampType
        case "bool" | "boolean" => BooleanType
        case other => throw new IllegalArgumentException(
          s"unsupported ClickHouse type: $other")
      }
      Parsed(dt, nullable = false)
    }
  }

  /** Column-metadata key: true when the column is declared Nullable(T).
    * `ChSession` sets it on every table view; Catalyst carries it through
    * plain references, renames, subqueries, views and CTEs, so an
    * analyzed schema tells which of its columns default to NULL.
    */
  val NullableKey = "graft.ch.nullable"

  /** Whether a column with this metadata is declared Nullable(T)
    * ([[NullableKey]]). A runtime schema's `nullable` flag cannot tell:
    * Memory-table inserts and outer joins widen every column to nullable.
    */
  def declaredNullable(metadata: Metadata): Boolean =
    metadata.contains(NullableKey) && metadata.getBoolean(NullableKey)

  /** The ClickHouse type DEFAULT of a column of Spark type `dt` — what
    * an unmatched outer-join side reads under `join_use_nulls = 0`
    * ([[graft.plans.ChJoinDefaults]]), what right-side columns of an
    * ANTI JOIN read as (homeworks/hw06.md:137-149: `g.genre` renders
    * ''), and what an INSERT fills into an omitted column. `nullable`
    * is the COLUMN's declared nullability: Nullable(T)'s ClickHouse
    * default is NULL, not T's zero value. A Tuple defaults per element;
    * types with no ClickHouse zero (binary sketches) default to NULL.
    */
  def defaultValue(dt: DataType, nullable: Boolean = false): Literal =
    if (nullable) Literal(null, dt)
    else dt match {
      case s: StructType => Literal(InternalRow.fromSeq(s.fields.toSeq.map(f =>
        defaultValue(f.dataType, f.nullable).value)), s)
      case _: StringType | BooleanType | DateType | TimestampType |
           _: NumericType | _: ArrayType | _: MapType => Literal.default(dt)
      case other => Literal(null, other)
    }

  /** [[defaultValue]] as a DataFrame column, of exactly type `dt` (an
    * INSERT's omitted columns).
    */
  def defaultColumn(dt: DataType, nullable: Boolean = false): Column =
    GraftSqlBridge.column(defaultValue(dt, nullable))

  /** Splits "a, b(c, d), e" on top-level commas only. Both quote kinds
    * protect their content: single-quoted SQL literals ('' escape) and
    * double-quoted strings — the latter matter when the separator is ';'
    * and the text carries an inline JSONEachRow payload whose string
    * values may contain one (`{"msg": "a;b"}`).
    */
  def splitTopLevel(s: String, sep: Char = ','): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inStr = false
    var inDq = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        cur += c
        if (c == '\'' && (i + 1 >= s.length || s.charAt(i + 1) != '\'')) inStr = false
        else if (c == '\'') { cur += s.charAt(i + 1); i += 1 }
      } else if (inDq) {
        cur += c
        // backslash escapes are a JSON convention — honor them only when
        // splitting statements (';'), where inline JSONEachRow payloads
        // live; in type/identifier context (',') ClickHouse escapes a
        // '"' by doubling it
        if (sep == ';' && c == '\\' && i + 1 < s.length) {
          cur += s.charAt(i + 1); i += 1
        } else if (c == '"') {
          if (sep != ';' && i + 1 < s.length && s.charAt(i + 1) == '"') {
            cur += '"'; i += 1
          } else inDq = false
        }
        // neither JSON strings nor identifiers span raw newlines — bail
        // so an unbalanced '"' can't swallow the rest of the script
        else if (c == '\n') inDq = false
      } else c match {
        case '\'' => inStr = true; cur += c
        case '"' => inDq = true; cur += c
        case '(' | '[' => depth += 1; cur += c
        case ')' | ']' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.result(); cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    if (cur.nonEmpty) out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
