package graft.chsql

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based coverage of the ClickHouse type grammar: a recursive
  * generator emits a random type STRING alongside the Spark type the
  * documented mapping says it must parse to — random case (ClickHouse
  * type names are case-sensitive only in spirit; DDL in the wild mixes
  * them), random whitespace around commas, nesting to depth 3 across
  * Nullable/LowCardinality/Array/Map/Tuple, enum bodies with quoted
  * commas and auto-numbered entries, every Decimal spelling.
  */
class ChTypesPropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(500)
      .withInitialSeed(Seed(0x7E57L))
    val res = SCTest.check(params, p)
    assert(res.passed, s"$name: ${res.status}")
  }

  /** A generated case: the CH type text and what it must parse to. */
  private case class Case(text: String, dt: DataType, nullable: Boolean)

  private val mixCase: Gen[String => String] = Gen.oneOf(
    identity[String] _,
    (s: String) => s.toLowerCase,
    (s: String) => s.toUpperCase)

  private val sp: Gen[String] = Gen.oneOf("", " ", "  ")

  private val scalarGen: Gen[Case] = {
    val plain = Gen.oneOf(
      Case("UInt8", IntegerType, false), Case("UInt16", IntegerType, false),
      Case("Int8", IntegerType, false), Case("Int32", IntegerType, false),
      Case("UInt32", LongType, false), Case("UInt64", LongType, false),
      Case("Int64", LongType, false), Case("Float32", FloatType, false),
      Case("Float64", DoubleType, false), Case("String", StringType, false),
      Case("UUID", StringType, false), Case("Date", DateType, false),
      Case("DateTime", TimestampType, false),
      Case("DateTime('Europe/Amsterdam')", TimestampType, false),
      Case("DateTime64(3)", TimestampType, false),
      Case("DateTime64(6, 'UTC')", TimestampType, false),
      Case("Bool", BooleanType, false),
      Case("FixedString(16)", StringType, false),
      Case("IPv4", StringType, false), Case("JSON", StringType, false))
      // DDL in the wild mixes case freely; labels are not involved here
      .flatMap(c => mixCase.map(f => c.copy(text = f(c.text))))
    val decimal = Gen.oneOf(
      for { p <- Gen.chooseNum(1, 38); s <- Gen.chooseNum(0, p) }
        yield Case(s"Decimal($p, $s)", DecimalType(p, s), false),
      Gen.chooseNum(1, 38).map(p => Case(s"Decimal($p)", DecimalType(p, 0), false)),
      Gen.chooseNum(0, 9).map(s => Case(s"Decimal32($s)", DecimalType(9, s), false)),
      Gen.chooseNum(0, 18).map(s => Case(s"Decimal64($s)", DecimalType(18, s), false)),
      Gen.chooseNum(0, 38).map(s => Case(s"Decimal128($s)", DecimalType(38, s), false)))
    val enum8 = for {
      n <- Gen.chooseNum(1, 4)
      names <- Gen.listOfN(n,
        Gen.oneOf("a", "b c", "x,y", "Error", "z9").map(_.distinct))
      explicit <- Gen.oneOf(true, false)
      wide <- Gen.oneOf("Enum8", "Enum16", "Enum")
    } yield {
      val uniq = names.zipWithIndex.map { case (s, i) => s"$s$i" }
      val body =
        if (explicit)
          uniq.zipWithIndex.map { case (s, i) => s"'$s' = ${i + 1}" }
        else uniq.map(s => s"'$s'")
      Case(s"$wide(${body.mkString(", ")})", StringType, false)
    }
    Gen.frequency(6 -> plain, 2 -> decimal, 2 -> enum8)
  }

  private def typeGen(depth: Int): Gen[Case] =
    if (depth <= 0) scalarGen
    else Gen.frequency(
      4 -> scalarGen,
      2 -> scalarGen.map(c =>
        Case(s"Nullable(${c.text})", c.dt, nullable = true)),
      1 -> typeGen(depth - 1).map(c =>
        // a storage hint: unwraps losslessly, nullability included
        Case(s"LowCardinality(${c.text})", c.dt, c.nullable)),
      2 -> typeGen(depth - 1).map(c =>
        Case(s"Array(${c.text})", ArrayType(c.dt, c.nullable), false)),
      1 -> (for {
        k <- scalarGen; v <- typeGen(depth - 1); s1 <- sp
      } yield Case(s"Map(${k.text},$s1${v.text})",
        MapType(k.dt, v.dt, v.nullable), false)),
      1 -> (for {
        n <- Gen.chooseNum(1, 3)
        elems <- Gen.listOfN(n, typeGen(depth - 1))
        named <- Gen.oneOf(true, false)
      } yield {
        val fields = elems.zipWithIndex.map { case (c, i) =>
          if (named) (s"f$i ${c.text}", StructField(s"f$i", c.dt, c.nullable))
          else (c.text, StructField(s"_${i + 1}", c.dt, c.nullable))
        }
        Case(s"Tuple(${fields.map(_._1).mkString(", ")})",
          StructType(fields.map(_._2)), false)
      }))

  test("every generated ClickHouse type string parses to the documented " +
    "Spark type, through nesting, enums, decimals and whitespace") {
    check("type-grammar", Prop.forAll(typeGen(3)) { c =>
      val got = ChTypes.parse(c.text)
      got.dataType == c.dt && got.nullable == c.nullable
    })
  }

  test("enum value->name tables: explicit, auto-numbered and mixed " +
    "spellings number like ClickHouse") {
    assert(ChTypes.parse("Enum8('a' = 1, 'b' = 5)").enumMap
      .contains(Seq(1 -> "a", 5 -> "b")))
    assert(ChTypes.parse("Enum('x', 'y', 'z')").enumMap
      .contains(Seq(1 -> "x", 2 -> "y", 3 -> "z")))
    assert(ChTypes.parse("Enum8('a', 'b' = 5, 'c')").enumMap
      .contains(Seq(1 -> "a", 5 -> "b", 6 -> "c")))
    assert(ChTypes.parse("Nullable(Enum8('q,r' = 2))").enumMap
      .contains(Seq(2 -> "q,r")))
    // the '' escape decodes; an '=' inside a quoted auto-numbered name
    // stays part of the name instead of dropping the entry
    assert(ChTypes.parse("Enum8('it''s' = 1)").enumMap
      .contains(Seq(1 -> "it's")))
    assert(ChTypes.parse("Enum8('a=b', 'c')").enumMap
      .contains(Seq(1 -> "a=b", 2 -> "c")))
    assert(ChTypes.parse("String").enumMap.isEmpty)
  }
}
