package graft.plans

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder

import graft.SparkSpec

/** The `join_use_nulls = 0` plan fill on plain DataFrames: what it
  * fills, what it leaves alone, and that a second pass changes nothing.
  */
class ChJoinDefaultsSpec extends SparkSpec {

  private def sides() = {
    val l = spark.range(3).selectExpr("id AS k", "concat('l', id) AS lv")
    val r = spark.range(1, 4).selectExpr("id AS k", "concat('r', id) AS rv")
    (l, r)
  }

  test("a plan without an outer join comes back as the same DataFrame") {
    val (l, r) = sides()
    val inner = l.join(r, Seq("k"))
    assert(ChJoinDefaults(inner) eq inner)
  }

  test("FULL JOIN … USING keeps the merged key; the sides' own key " +
    "columns and values fill their type defaults") {
    val (l, r) = sides()
    l.createOrReplaceTempView("cjd_l")
    r.createOrReplaceTempView("cjd_r")
    val df = ChJoinDefaults(spark.sql(
      """SELECT k, a.k AS ak, b.k AS bk, lv, rv
        |FROM cjd_l a FULL JOIN cjd_r b USING (k)""".stripMargin))
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((0L, 0L, 0L, "l0", ""), (1L, 1L, 1L, "l1", "r1"),
      (2L, 2L, 2L, "l2", "r2"), (3L, 0L, 3L, "", "r3")), rows)
  }

  test("a column marked declared-Nullable keeps NULL; the fill is " +
    "idempotent") {
    val (l, r0) = sides()
    val meta = new MetadataBuilder()
      .putBoolean(ChJoinDefaults.NullableKey, true).build()
    val r = r0.select(col("k"), col("rv").as("rv", meta))
    val once = ChJoinDefaults(l.join(r, Seq("k"), "left"))
    val miss = once.filter(col("k") === 0).head()
    assert(miss.isNullAt(2), s"declared Nullable must stay NULL: $miss")
    assert(ChJoinDefaults(once) eq once, "a second pass must change nothing")
  }
}
