package graft.functions

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types._

/** ClickHouse-dialect function NAMES for the session's SQL function
  * registry ([[graft.plans.GraftExtensions]] injects both tables), so
  * `spark.sql("SELECT toYYYYMM(d), uniq(x) ...")` written against the
  * reference dialect runs unchanged (lectures/lecture_07.md:178,
  * homeworks/hw06.md:113).
  *
  * Every `functions` entry maps to a native Catalyst expression tree
  * (never a Scala UDF), so the dialect layer costs nothing at runtime: the
  * plans are identical to the Spark-native spelling and stay codegen'd.
  */
object ChRegistry {

  val functions: Seq[(String, FunctionBuilder)] = {
    val table = Seq.newBuilder[(String, FunctionBuilder)]
    def f(name: String)(builder: FunctionBuilder): Unit = table += name -> builder

    // date/time
    f("toYYYYMM")(e => Cast(DateFormatClass(e.head, Literal("yyyyMM")), IntegerType))
    f("toYYYYMMDD")(e => Cast(DateFormatClass(e.head, Literal("yyyyMMdd")), IntegerType))
    f("toStartOfMonth")(e => Cast(TruncTimestamp(Literal("month"), e.head), DateType))
    f("toStartOfWeek")(e => Cast(TruncTimestamp(Literal("week"), e.head), DateType))
    f("toStartOfDay")(e => TruncTimestamp(Literal("day"), e.head))
    f("toStartOfHour")(e => TruncTimestamp(Literal("hour"), e.head))
    f("toDate")(e => Cast(e.head, DateType))
    f("toDateTime")(e => Cast(e.head, TimestampType))
    // calendar-part extraction; CH toDayOfWeek is ISO (Monday=1), Spark's
    // WeekDay is Monday=0
    f("toDayOfWeek")(e => Add(WeekDay(e.head), Literal(1)))
    f("toDayOfMonth")(e => DayOfMonth(e.head))
    f("toDayOfYear")(e => DayOfYear(e.head))
    f("toHour")(e => Hour(e.head))
    f("toMinute")(e => Minute(e.head))
    f("toSecond")(e => Second(e.head))
    f("toMonth")(e => Month(e.head))
    f("toYear")(e => Year(e.head))
    f("toQuarter")(e => Quarter(e.head))
    f("toMonday")(e => Cast(TruncTimestamp(Literal("week"), e.head), DateType))
    f("toStartOfQuarter")(e => TruncDate(e.head, Literal("quarter")))
    f("toStartOfYear")(e => TruncDate(e.head, Literal("year")))
    // date arithmetic
    f("addDays")(e => DateAdd(e(0), e(1)))
    f("subtractDays")(e => DateSub(e(0), e(1)))
    f("addMonths")(e => AddMonths(e(0), e(1)))
    f("subtractMonths")(e => AddMonths(e(0), UnaryMinus(e(1))))
    f("addHours")(e => new TimestampAdd("HOUR", e(1), e(0)))
    f("addMinutes")(e => new TimestampAdd("MINUTE", e(1), e(0)))
    // dateDiff: the parser owns the 3-arg form — Spark's native
    // `datediff(DAY, start, end)` (unquoted unit) has CH's argument order
    // and end-minus-start semantics, so CH queries need only unquote the
    // unit. This registration covers the quoted-'unit' form for
    // non-parser call paths and keeps the builtin 2-arg datediff(end,
    // start) working (the registry is case-insensitive, so the name
    // shadows it).
    f("dateDiff") {
      case Seq(Literal(u, StringType), a, b) =>
        new TimestampDiff(u.toString.toUpperCase(java.util.Locale.ROOT),
          Cast(a, TimestampType), Cast(b, TimestampType))
      case Seq(end, start) => DateDiff(end, start)
      case e => throw new IllegalArgumentException(
        s"dateDiff('unit', start, end) or datediff(end, start); got ${e.size} args")
    }
    f("toUnixTimestamp")(e => UnixTimestamp(e.head, Literal("yyyy-MM-dd HH:mm:ss")))
    f("fromUnixTimestamp")(e => SecondsToTimestamp(e.head))
    // now()/today()/yesterday() (lectures/lecture_04.md, lecture_21.md usage)
    f("now")(_ => CurrentTimestamp())
    // now64([precision]) — sub-second precision is a display concern here
    f("now64")(_ => CurrentTimestamp())
    f("today")(_ => CurrentDate())
    f("yesterday")(_ => DateSub(CurrentDate(), Literal(1)))

    // casts
    f("toUInt64")(e => Cast(e.head, LongType))
    f("toInt64")(e => Cast(e.head, LongType))
    f("toUInt32")(e => Cast(e.head, LongType))
    f("toInt32")(e => Cast(e.head, IntegerType))
    f("toInt8")(e => Cast(e.head, ByteType))
    f("toFloat64")(e => Cast(e.head, DoubleType))
    f("toFloat32")(e => Cast(e.head, FloatType))
    f("toString")(e => Cast(e.head, StringType))

    // conditionals
    f("multiIf") { e =>
      val default = e.last
      val branches = e.dropRight(1).grouped(2).map { case Seq(c, v) => (c, v) }.toSeq
      CaseWhen(branches, Some(default))
    }
    f("ifNull")(e => Coalesce(e))

    // aggregates
    f("uniq")(e => new HyperLogLogPlusPlus(e.head))
    f("uniqExact")(e => Count(e).toAggregateExpression(isDistinct = true))
    f("countDistinct")(e => Count(e).toAggregateExpression(isDistinct = true))
    f("argMax")(e => MaxBy(e(0), e(1)))
    f("argMin")(e => MinBy(e(0), e(1)))
    // argMaxIf/argMinIf (lecture_06.md:62-70): the ordering value is
    // nulled where the condition fails and max_by/min_by skip null keys
    f("argMaxIf")(e => MaxBy(e(0), If(e(2), e(1), Literal.create(null, NullType))))
    f("argMinIf")(e => MinBy(e(0), If(e(2), e(1), Literal.create(null, NullType))))
    f("groupArray")(e => CollectList(e.head))
    f("groupUniqArray")(e => CollectSet(e.head))
    // uniqArray(arr): unique elements ACROSS the group's arrays
    // (homeworks/hw14.md:63's query_log monitoring)
    f("uniqArray")(e =>
      Size(ArrayDistinct(Flatten(CollectList(e.head)
        .toAggregateExpression()))))
    // countIf(cond): rows where cond holds; false and NULL count nothing
    f("countIf")(e => Count(Seq(If(e.head, Literal(1), Literal.create(null, IntegerType)))))
    // -If combinators (lectures/lecture_06.md): agg over rows where cond
    // holds — If(cond, x, NULL) and the aggregate's null-skipping does the
    // rest (the analyzer coerces the NullType branch)
    f("sumIf")(e => Sum(If(e(1), e(0), Literal.create(null, NullType))))
    f("avgIf")(e => Average(If(e(1), e(0), Literal.create(null, NullType))))
    f("minIf")(e => Min(If(e(1), e(0), Literal.create(null, NullType))))
    f("maxIf")(e => Max(If(e(1), e(0), Literal.create(null, NullType))))
    // simpleLinearRegression(x, y) fits y = k*x + b → (k, b) tuple; the
    // struct carries two single-pass regr aggregates (SQL allows a struct
    // of aggregates in an agg position)
    f("simpleLinearRegression")(e => CreateNamedStruct(Seq(
      Literal("k"), RegrSlope(e(1), e(0)).toAggregateExpression(),
      Literal("b"), RegrIntercept(e(1), e(0)).toAggregateExpression())))
    // quantiles — ClickHouse's parametric call form quantile(0.5)(x) is
    // not Spark-parsable, so the dialect uses quantile(x, level)
    f("median")(e => new Percentile(e.head, Literal(0.5d)))
    f("quantile")(e => new Percentile(e(0), e(1)))
    f("quantileExact")(e => new Percentile(e(0), e(1)))
    f("quantileTDigest")(e => new ApproximatePercentile(e(0), e(1)))

    // any/anyLast: ClickHouse's "some value of the group" — like CH, the
    // choice is arrival-order-dependent; First/Last with ignoreNulls
    f("any")(e => First(e.head, ignoreNulls = true))
    f("anyLast")(e => Last(e.head, ignoreNulls = true))
    // bitwise aggregate family
    f("groupBitAnd")(e => BitAndAgg(e.head))
    f("groupBitOr")(e => BitOrAgg(e.head))
    f("groupBitXor")(e => BitXorAgg(e.head))

    // misc scalar
    f("empty")(e => graft.plans.EmptyCheck(e.head, negate = false))
    f("notEmpty")(e => graft.plans.EmptyCheck(e.head, negate = true))
    f("lengthUTF8")(e => Length(e.head))
    // CH: position(haystack, needle[, start_pos]), 1-based
    f("position") {
      case Seq(h, n) => new StringLocate(n, h)
      case Seq(h, n, start) => StringLocate(n, h, start)
      case e => throw new IllegalArgumentException(
        s"position(haystack, needle[, start]); got ${e.size} args")
    }
    f("intDiv")(e => Cast(Divide(Cast(e(0), DoubleType), Cast(e(1), DoubleType)), LongType))
    f("modulo")(e => Pmod(e(0), e(1)))
    // CH's named arithmetic (SELECT multiply(a, b) appears in lecture logs);
    // divide is float division in CH regardless of input types
    f("plus")(e => Add(e(0), e(1)))
    f("minus")(e => Subtract(e(0), e(1)))
    f("multiply")(e => Multiply(e(0), e(1)))
    f("divide")(e => Divide(Cast(e(0), DoubleType), Cast(e(1), DoubleType)))
    f("negate")(e => UnaryMinus(e.head))
    // introspection scalars the course queries constantly (system-table
    // tours, lectures/lecture_02.md:213, lecture_08.md): tuple() is CH's
    // anonymous struct (also its "empty partition key" idiom), toTypeName
    // prints the argument's type, hostName() identifies the server (Spark's
    // own version() answers for the server version).
    // hostName is bound once, when the table is built — in local mode the
    // driver IS the executing server, which is exactly CH's semantics.
    f("tuple")(e => CreateStruct(e))
    f("toTypeName")(e => TypeOf(e.head))
    f("currentDatabase")(_ => CurrentDatabase())
    val host = java.net.InetAddress.getLocalHost.getHostName
    f("hostName")(_ => Literal(host))
    // getMacro('name') reads the server's config macros — one engine, so
    // the values are exactly the two rows system.macros synthesizes
    // (hw09's per-replica parts apportioning)
    f("getMacro")(e => CaseWhen(Seq(
      (EqualTo(Lower(e.head), Literal("replica")), Literal("replica_1")),
      (EqualTo(Lower(e.head), Literal("shard")), Literal("shard_1"))),
      Literal.create(null, StringType)))
    // stack-introspection display transforms (lecture_21.md:344-348 over
    // system.trace_log): no native symbol table exists in a JVM engine,
    // so addressToSymbol renders the frame address as hex and demangle is
    // the identity — the honest values for a log this engine never fills
    f("addressToSymbol")(e => Hex(Cast(e.head, LongType)))
    f("demangle")(e => Cast(e.head, StringType))
    f("JSONExtractString")(e => jsonPath(e(0), e(1)))
    // randUniform(a, b): uniform double in [a, b) (hw08.md:31-35,
    // hw11.md:40-43 seed their test data with it). Same affine-of-rand
    // shape as ChFunctions.randUniform, rebuilt at EXPRESSION level
    // because the Column helper takes Scala Double bounds while SQL
    // text supplies arbitrary expressions — and the registry must
    // draw a fresh seed per parsed call site, so two draws in one
    // SELECT stay independent.
    f("randUniform")(e => {
      val r = Rand(Literal(scala.util.Random.nextLong()), hideSeed = true)
      Add(Multiply(r, Subtract(Cast(e(1), DoubleType), Cast(e.head, DoubleType))),
        Cast(e.head, DoubleType))
    })
    f("JSONExtractInt")(e => Cast(jsonPath(e(0), e(1)), LongType))
    f("JSONExtractFloat")(e => Cast(jsonPath(e(0), e(1)), DoubleType))

    // CH string-function names without a same-named Spark builtin (hex /
    // repeat / reverse / lower / upper / startsWith / endsWith resolve
    // natively already — the registry is case-insensitive)
    f("base64Encode")(e => Base64(Cast(e.head, BinaryType)))
    f("base64Decode")(e => Cast(UnBase64(e.head), StringType))
    f("leftPad") {
      case Seq(s, len) => StringLPad(s, len, Literal(" "))
      case Seq(s, len, pad) => StringLPad(s, len, pad)
      case e => throw new IllegalArgumentException(
        s"leftPad(s, len[, pad]); got ${e.size} args")
    }
    f("rightPad") {
      case Seq(s, len) => StringRPad(s, len, Literal(" "))
      case Seq(s, len, pad) => StringRPad(s, len, pad)
      case e => throw new IllegalArgumentException(
        s"rightPad(s, len[, pad]); got ${e.size} args")
    }
    f("trimBoth")(e => StringTrim(e.head))
    f("trimLeft")(e => StringTrimLeft(e.head))
    f("trimRight")(e => StringTrimRight(e.head))
    f("substringUTF8") {
      case Seq(s, pos) => Substring(s, pos, Literal(Int.MaxValue))
      case Seq(s, pos, len) => Substring(s, pos, len)
      case e => throw new IllegalArgumentException(
        s"substringUTF8(s, offset[, length]); got ${e.size} args")
    }
    f("lowerUTF8")(e => Lower(e.head))
    f("upperUTF8")(e => Upper(e.head))
    f("replaceAll")(e => StringReplace(e(0), e(1), e(2)))
    f("replaceRegexpAll")(e => RegExpReplace(e(0), e(1), e(2)))
    // multiSearchAny(s, [needles]) — any needle a substring of s
    f("multiSearchAny") { e =>
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      ArrayExists(e(1), LambdaFunction(Contains(e(0), x), Seq(x)))
    }

    // arrayJoin is the row-expanding form (lectures/lecture_06.md:17-28)
    f("arrayJoin")(e => Explode(e.head))
    // higher-order array functions — CH puts the lambda FIRST
    // (lectures/lecture_06.md:16, lecture_21.md:348 arrayMap usage)
    f("arrayMap")(e => ArrayTransform(e(1), e(0)))
    f("arrayFilter")(e => ArrayFilter(e(1), e(0)))
    f("arrayExists")(e => ArrayExists(e(1), e(0)))
    // (no arrayCount: the analyzer requires a HigherOrderFunction at the
    // registered root when lambda args are present — size(arrayFilter(..))
    // composes fine as separate calls)
    // running array transforms — native one-pass codegen kernels, not
    // the O(n²) slice-and-aggregate higher-order spelling
    f("arrayCumSum")(e =>
      graft.plans.ArrayCumSum(Cast(e.head, ArrayType(DoubleType))))
    f("arrayDifference")(e =>
      graft.plans.ArrayDifference(Cast(e.head, ArrayType(DoubleType))))
    f("arrayEnumerate")(e => {
      // 1..len, lecture_06.md:15 — guarded: sequence(1, 0) runs
      // DESCENDING ([1, 0]), but CH's enumerate of [] is []
      val size = Size(e.head)
      If(GreaterThan(size, Literal(0)),
        new Sequence(Literal(1), size),
        Literal.create(Array.empty[Int],
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType, containsNull = false)))
    })
    f("indexOf")(e => ArrayPosition(e(0), e(1)))
    // array manipulation family (lectures/lecture_06.md) — native
    // collection expressions; CH's n-ary arrayIntersect/arrayConcat fold
    f("arrayIntersect")(e => e.reduce(ArrayIntersect(_, _)))
    f("arrayConcat")(e => Concat(e))
    f("arraySort")(e => new SortArray(e.head))
    f("arrayReverseSort")(e => SortArray(e.head, Literal(false)))
    f("arrayReverse")(e => Reverse(e.head))
    f("arrayDistinct")(e => ArrayDistinct(e.head))
    f("arrayFlatten")(e => Flatten(e.head))
    f("arrayPushBack")(e => ArrayAppend(e(0), e(1)))
    f("arrayPushFront")(e => ArrayPrepend(e(0), e(1)))
    f("arrayPopBack")(e => Slice(e(0), Literal(1),
      Greatest(Seq(Literal(0), Subtract(Size(e(0)), Literal(1))))))
    f("arrayPopFront")(e => Slice(e(0), Literal(2),
      Greatest(Seq(Literal(0), Subtract(Size(e(0)), Literal(1))))))
    // arraySlice(arr, offset[, length]) — 1-based, negative offset from
    // the end (Slice shares CH's convention); open length = "to the end"
    f("arraySlice") {
      case Seq(a, off) =>
        Slice(a, off, If(GreaterThan(off, Literal(0)),
          Greatest(Seq(Literal(0), Subtract(Add(Size(a), Literal(1)), off))),
          UnaryMinus(off)))
      case Seq(a, off, len) => Slice(a, off, len)
      case e => throw new IllegalArgumentException(
        s"arraySlice(arr, offset[, length]); got ${e.size} args")
    }

    // bit-function family — native bitwise expressions (analyzer type
    // coercion promotes mixed widths, as for the Spark-native spellings)
    f("bitAnd")(e => BitwiseAnd(e(0), e(1)))
    f("bitOr")(e => BitwiseOr(e(0), e(1)))
    f("bitXor")(e => BitwiseXor(e(0), e(1)))
    f("bitNot")(e => BitwiseNot(e.head))
    f("bitShiftLeft")(e => ShiftLeft(e(0), Cast(e(1), IntegerType)))
    f("bitShiftRight")(e => ShiftRight(e(0), Cast(e(1), IntegerType)))
    f("bitCount")(e => BitwiseCount(e.head))
    f("bitTest")(e => Cast(BitwiseAnd(
      ShiftRight(Cast(e(0), LongType), Cast(e(1), IntegerType)),
      Literal(1L)), IntegerType))

    // IPv4 family (CH stores IPv4 as UInt32)
    def octet(x: Expression, shift: Int): Expression =
      Cast(BitwiseAnd(ShiftRightUnsigned(Cast(x, LongType), Literal(shift)),
        Literal(255L)), StringType)
    f("IPv4NumToString")(e => Concat(Seq(
      octet(e.head, 24), Literal("."), octet(e.head, 16), Literal("."),
      octet(e.head, 8), Literal("."), octet(e.head, 0))))
    def ipv4ToNum(s: Expression): Expression = {
      val parts = StringSplit(s, Literal("\\."), Literal(-1))
      def p(i: Int) = Cast(ElementAt(parts, Literal(i)), LongType)
      Add(Add(Add(Multiply(p(1), Literal(16777216L)),
        Multiply(p(2), Literal(65536L))), Multiply(p(3), Literal(256L))), p(4))
    }
    f("IPv4StringToNum")(e => ipv4ToNum(e.head))
    f("toIPv4")(e => ipv4ToNum(e.head))
    // octet-range-checked (CH isIPv4String rejects 999.1.1.1)
    f("isIPv4String")(e => Cast(RLike(e.head, Literal(
      "^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\.){3}" +
        "(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$")), IntegerType))

    // transform(x, [from...], [to...], default) — CH's literal-array
    // value mapping; 1-based ArrayPosition drives ElementAt. The name
    // shadows Spark's higher-order transform(arr, lambda) session-wide
    // (IVF/dedup SQL uses it), so the lambda form MUST keep working —
    // same polymorphic-dispatch rule as dateDiff.
    f("transform") {
      case Seq(arr, l: LambdaFunction) => ArrayTransform(arr, l)
      case Seq(x, from, to, d) =>
        val pos = ArrayPosition(from, x)
        If(GreaterThan(pos, Literal(0L)),
          ElementAt(to, Cast(pos, IntegerType)), d)
      case e => throw new IllegalArgumentException(
        s"transform(arr, lambda) or transform(x, [from], [to], default); got ${e.size} args")
    }
    // roundToExp2: nearest power of two not above x (0 for x < 1); log2
    // of an exact power of two is exact in double, so boundaries hold
    f("roundToExp2")(e =>
      If(LessThan(Cast(e.head, DoubleType), Literal(1.0)), Literal(0L),
        ShiftLeft(Literal(1L),
          Cast(Floor(Log2(Cast(e.head, DoubleType))), IntegerType))))
    // pointInPolygon(x, y, xs, ys) — CH passes tuples; the dialect takes
    // parallel coordinate arrays. Even-odd ray casting, native kernel.
    f("pointInPolygon")(e => Cast(graft.plans.PointInPolygon(e(0), e(1), e(2), e(3)),
      IntegerType))
    // arrayAUC(scores, labels): rank-sum AUC with tie-averaged ranks
    f("arrayAUC")(e => graft.plans.ArrayAuc(
      Cast(e(0), ArrayType(DoubleType)), Cast(e(1), ArrayType(IntegerType))))
    table.result()
  }

  /** Parser-backed dialect macros: each body is parsed once and inlined
    * at the call site, so Catalyst optimizes through them like any
    * built-in.
    */
  val macros: Seq[(String, FunctionBuilder)] = {
    val table = Seq.newBuilder[(String, FunctionBuilder)]
    def m(name: String, params: Seq[String], bodySql: String): Unit =
      table += name -> ChUdfs.macroBuilder(CatalystSqlParser, name, params, bodySql)
    m("toStartOfInterval", Seq("t", "s"),
      "timestamp_seconds(CAST(unix_timestamp(t) / s AS LONG) * s)")
    m("has", Seq("arr", "x"), "array_contains(arr, x)")
    m("arrayStringConcat", Seq("arr", "sep"), "array_join(arr, sep)")
    m("extractAll", Seq("s", "re"), "regexp_extract_all(s, re, 0)")
    // bar(x, min, max, width): full-block approximation of CH's chart
    // (CH draws eighth-blocks; we round to whole blocks)
    m("bar", Seq("x", "mn", "mx", "w"),
      "repeat('█', least(cast(w as int), greatest(0, cast(round((x - mn) / (mx - mn) * w) as int))))")
    // geo family: haversine great-circle distance in meters (R=6371000;
    // CH's geoDistance uses an ellipsoid correction — we document the
    // spherical delta and keep one formula for both names, recomputable
    // in any engine with asin/radians)
    val haversine =
      "2 * 6371000.0d * asin(sqrt(pow(sin(radians(lat2 - lat1) / 2), 2) + " +
        "cos(radians(lat1)) * cos(radians(lat2)) * " +
        "pow(sin(radians(lon2 - lon1) / 2), 2)))"
    m("greatCircleDistance", Seq("lon1", "lat1", "lon2", "lat2"), haversine)
    m("geoDistance", Seq("lon1", "lat1", "lon2", "lat2"), haversine)
    m("greatCircleAngle",
      Seq("lon1", "lat1", "lon2", "lat2"),
      "degrees(2 * asin(sqrt(pow(sin(radians(lat2 - lat1) / 2), 2) + " +
        "cos(radians(lat1)) * cos(radians(lat2)) * " +
        "pow(sin(radians(lon2 - lon1) / 2), 2))))")
    // single-ellipse form of pointInEllipses (the variadic CH form folds)
    m("pointInEllipse",
      Seq("x", "y", "x0", "y0", "a", "b"),
      "cast(pow(x - x0, 2) / pow(a, 2) + pow(y - y0, 2) / pow(b, 2) <= 1.0d as int)")
    m("splitByChar", Seq("sep", "s"), "split(s, concat('\\\\Q', sep, '\\\\E'))")
    m("splitByString", Seq("sep", "s"), "split(s, concat('\\\\Q', sep, '\\\\E'))")
    // CH URL function family — same RE2-portable patterns as
    // graft.functions.UrlFunctions (keep the two in sync)
    m("protocol", Seq("u"),
      "lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))")
    m("domain", Seq("u"),
      "lower(regexp_replace(regexp_replace(regexp_extract(u, " +
        "'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), '^[^@]*@', ''), ':[0-9]+$', ''))")
    m("path", Seq("u"),
      "regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)")
    m("queryString", Seq("u"), "regexp_extract(u, '\\\\?([^#]*)', 1)")
    m("fragment", Seq("u"), "regexp_extract(u, '#(.*)$', 1)")
    m("cutQueryString", Seq("u"), "regexp_replace(u, '\\\\?[^#]*', '')")
    m("cutFragment", Seq("u"), "regexp_replace(u, '#.*$', '')")
    // p must fold to a literal at the call site (regexp_extract needs a
    // foldable pattern — constant folding inlines concat of literals)
    m("extractURLParameter", Seq("u", "p"),
      "regexp_extract(u, concat('[?&]', p, '=([^&#]*)'), 1)")
    // numeric array folds as lambda macros (ChUdfs binds lambda names);
    // results are DOUBLE (CH widens integer arrays similarly)
    m("arraySum", Seq("arr"), "aggregate(arr, CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
    m("arrayProduct", Seq("arr"),
      "aggregate(arr, CAST(1 AS DOUBLE), (acc, x) -> acc * x)")
    m("arrayAvg", Seq("arr"),
      "CASE WHEN size(arr) = 0 THEN 0.0D ELSE " +
        "aggregate(arr, CAST(0 AS DOUBLE), (acc, x) -> acc + x) / size(arr) END")
    m("arrayMin", Seq("arr"), "array_min(arr)")
    m("arrayMax", Seq("arr"), "array_max(arr)")
    // lenient multi-format parses (lectures/lecture_21.md:105-107); the US
    // variant tries month-first forms before the ISO fallbacks, OrZero
    // yields epoch 0 instead of NULL on unparseable input
    m("parseDateTimeBestEffort", Seq("s"),
      """coalesce(try_to_timestamp(s, 'yyyy-MM-dd HH:mm:ss'),
        |         try_to_timestamp(s, "yyyy-MM-dd'T'HH:mm:ss"),
        |         try_to_timestamp(s, 'yyyy-MM-dd'),
        |         try_to_timestamp(s, 'dd/MM/yyyy HH:mm:ss'),
        |         try_to_timestamp(s))""".stripMargin)
    m("parseDateTimeBestEffortOrZero", Seq("s"),
      "coalesce(parseDateTimeBestEffort(s), timestamp_seconds(0))")
    m("parseDateTimeBestEffortUSOrZero", Seq("s"),
      """coalesce(try_to_timestamp(s, 'MM/dd/yyyy HH:mm:ss'),
        |         try_to_timestamp(s, 'MM/dd/yyyy'),
        |         parseDateTimeBestEffort(s),
        |         timestamp_seconds(0))""".stripMargin)
    // graft_round_even = exact-binary-value half-even pre-round (printf
    // parity; Java %.2f alone would round the shortest repr half-up)
    m("formatReadableSize", Seq("b"),
      """CASE WHEN b >= 1125899906842624D THEN format_string('%.2f PiB', graft_round_even(CAST(b AS DOUBLE) / 1125899906842624D, 2))
        |     WHEN b >= 1099511627776D THEN format_string('%.2f TiB', graft_round_even(CAST(b AS DOUBLE) / 1099511627776D, 2))
        |     WHEN b >= 1073741824D THEN format_string('%.2f GiB', graft_round_even(CAST(b AS DOUBLE) / 1073741824D, 2))
        |     WHEN b >= 1048576D THEN format_string('%.2f MiB', graft_round_even(CAST(b AS DOUBLE) / 1048576D, 2))
        |     WHEN b >= 1024D THEN format_string('%.2f KiB', graft_round_even(CAST(b AS DOUBLE) / 1024D, 2))
        |     ELSE format_string('%.2f B', graft_round_even(CAST(b AS DOUBLE), 2)) END""".stripMargin)
    table.result()
  }

  private def jsonPath(json: Expression, key: Expression): Expression = {
    val path = key match {
      case Literal(s, StringType) => Literal("$." + s.toString)
      case other => Concat(Seq(Literal("$."), other))
    }
    GetJsonObject(json, path)
  }
}
