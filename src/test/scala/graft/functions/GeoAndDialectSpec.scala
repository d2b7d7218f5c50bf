package graft.functions

import graft.SparkSpec

class GeoAndDialectSpec extends SparkSpec {
  import spark.implicits._

  private def one(sql: String): org.apache.spark.sql.Row = spark.sql(sql).head()

  test("greatCircleDistance: known city pair within 0.5% of the published value") {
    // Moscow (37.62, 55.75) to Saint Petersburg (30.31, 59.94) ~ 634 km
    val d = one(
      "SELECT greatCircleDistance(37.62d, 55.75d, 30.31d, 59.94d)").getDouble(0)
    assert(math.abs(d - 634000) < 634000 * 0.005, s"got $d")
    // zero distance to self; angle of antipodes is 180
    assert(one("SELECT greatCircleDistance(10d, 10d, 10d, 10d)").getDouble(0) == 0.0)
    val a = one("SELECT greatCircleAngle(0d, 0d, 180d, 0d)").getDouble(0)
    assert(math.abs(a - 180.0) < 1e-9, s"got $a")
  }

  test("pointInPolygon: convex, concave, and outside cases") {
    def pip(px: Double, py: Double, xs: Seq[Double], ys: Seq[Double]): Int = {
      val xsS = xs.mkString("array(", "d,", "d)")
      val ysS = ys.mkString("array(", "d,", "d)")
      spark.sql(s"SELECT pointInPolygon(${px}d, ${py}d, $xsS, $ysS)")
        .head().getInt(0)
    }
    val sqX = Seq(0.0, 4.0, 4.0, 0.0)
    val sqY = Seq(0.0, 0.0, 4.0, 4.0)
    assert(pip(2, 2, sqX, sqY) == 1)
    assert(pip(5, 2, sqX, sqY) == 0)
    assert(pip(-1, -1, sqX, sqY) == 0)
    // concave "C" shape: (6,1)-(6,5) notch cut into the right side
    val cX = Seq(0.0, 6.0, 6.0, 2.0, 2.0, 6.0, 6.0, 0.0)
    val cY = Seq(0.0, 0.0, 1.0, 1.0, 5.0, 5.0, 6.0, 6.0)
    assert(pip(1, 3, cX, cY) == 1)  // inside the spine
    assert(pip(4, 3, cX, cY) == 0)  // inside the notch (outside polygon)
    assert(pip(4, 0.5, cX, cY) == 1) // bottom arm
  }

  test("simpleLinearRegression recovers an exact linear fit") {
    Seq((1.0, 3.0), (2.0, 5.0), (3.0, 7.0), (4.0, 9.0)).toDF("x", "y")
      .createOrReplaceTempView("t_slr")
    val r = spark.sql(
      "SELECT simpleLinearRegression(x, y) AS f FROM t_slr").head()
      .getStruct(0)
    assert(math.abs(r.getDouble(0) - 2.0) < 1e-12) // k
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12) // b
  }

  test("hashingTf: counts sum to token count, deterministic, null-safe") {
    val df = Seq(
      (1L, Seq("a", "b", "a", "c")),
      (2L, Seq[String]()),
      (3L, Seq("a", null, "a"))
    ).toDF("id", "toks")
    val got = df.select($"id",
      graft.plans.NativeFunctions.hashingTf($"toks", 8).as("tf"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L).sum == 4 && got(1L).length == 8)
    assert(got(2L).sum == 0)
    assert(got(3L).sum == 2) // null token skipped
    // same token always lands in the same bucket
    val b1 = got(1L).zipWithIndex.filter(_._1 > 0).map(_._2).toSet
    val again = df.repartition(3).select($"id",
      graft.plans.NativeFunctions.hashingTf($"toks", 8).as("tf"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(again(1L) == got(1L) && b1.nonEmpty)
  }

  test("arrayAUC: classic example, ties, degenerate classes") {
    val auc = one(
      "SELECT arrayAUC(array(0.1d, 0.4d, 0.35d, 0.8d), array(0, 0, 1, 1))")
      .getDouble(0)
    assert(math.abs(auc - 0.75) < 1e-12, s"got $auc")
    // perfect ranking → 1.0; inverted → 0.0; all-tied scores → 0.5
    assert(one("SELECT arrayAUC(array(0.1d, 0.9d), array(0, 1))").getDouble(0) == 1.0)
    assert(one("SELECT arrayAUC(array(0.9d, 0.1d), array(0, 1))").getDouble(0) == 0.0)
    assert(one("SELECT arrayAUC(array(0.5d, 0.5d), array(0, 1))").getDouble(0) == 0.5)
    assert(one("SELECT arrayAUC(array(0.5d), array(1))").getDouble(0).isNaN)
  }

  test("cramersV: perfect association is 1, independence near 0") {
    import graft.functions.StatAggregates.cramersV
    // perfectly dependent: b == a
    val dep = (0 until 100).map(i => (s"c${i % 4}", s"c${i % 4}"))
      .toDF("a", "b").repartition(5)
    val v1 = dep.agg(cramersV($"a", $"b")).as[Double].head()
    assert(math.abs(v1 - 1.0) < 1e-12, s"got $v1")
    // independent uniform grid: chi2 = 0 exactly
    val ind = (for (i <- 0 until 4; j <- 0 until 5; _ <- 0 until 3)
      yield (s"a$i", s"b$j")).toDF("a", "b").repartition(7)
    val v0 = ind.agg(cramersV($"a", $"b")).as[Double].head()
    assert(math.abs(v0) < 1e-9, s"got $v0")
  }

  test("pointInEllipse and bit/ip dialect spot checks") {
    assert(one("SELECT pointInEllipse(1d, 0d, 0d, 0d, 2d, 1d)").getInt(0) == 1)
    assert(one("SELECT pointInEllipse(3d, 0d, 0d, 0d, 2d, 1d)").getInt(0) == 0)
    assert(one("SELECT IPv4NumToString(3232235777)").getString(0) == "192.168.1.1")
    assert(one("SELECT IPv4StringToNum('192.168.1.1')").getLong(0) == 3232235777L)
    assert(one("SELECT isIPv4String('999.1.1.1')").getInt(0) == 0)
    assert(one("SELECT isIPv4String('255.255.255.255')").getInt(0) == 1)
    assert(one("SELECT bitTest(5, 2)").getInt(0) == 1)
    assert(one("SELECT roundToExp2(1000)").getLong(0) == 512L)
    assert(one("SELECT roundToExp2(0)").getLong(0) == 0L)
    assert(one("SELECT roundToExp2(1024)").getLong(0) == 1024L)
    assert(one("SELECT transform('x', array('a','b'), array('1','2'), '?')")
      .getString(0) == "?")
    assert(one("SELECT transform(array(1, 2), x -> x + 1)")
      .getSeq[Int](0) == Seq(2, 3))
    assert(one("SELECT bar(5d, 0d, 10d, 10)").getString(0).length == 5)
  }

  test("countIf counts the rows whose condition is true; false and NULL " +
    "conditions count nothing, through spark.sql and ChSession") {
    Seq[(Int, Option[Int])]((1, Some(1)), (2, Some(1)), (3, Some(1)), (4, Some(0)),
      (5, None))
      .toDF("id", "v").createOrReplaceTempView("t_count_if")
    val r = one("SELECT countIf(v = 1), countIf(v = 0), countIf(v IS NULL) " +
      "FROM t_count_if")
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 1L, 1L)))

    val ch = new graft.chsql.ChSession(spark)
    ch.execute("CREATE TABLE count_if_t (id UInt8, v Nullable(UInt8)) " +
      "ENGINE = Memory; " +
      "INSERT INTO count_if_t VALUES (1, 1), (2, 1), (3, 1), (4, 0), (5, NULL)")
    val c = ch.execute("SELECT countIf(v = 1) AS t, countIf(v = 0) AS f, " +
      "countIf(v IS NULL) AS n FROM count_if_t").last.head()
    assert((c.getLong(0), c.getLong(1), c.getLong(2)) == ((3L, 1L, 1L)))
  }
}
