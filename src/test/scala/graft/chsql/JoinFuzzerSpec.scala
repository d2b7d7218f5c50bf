package graft.chsql

import graft.SparkSpec

/** Randomized join fuzzer (the round-9 verdict's next-round #2): the
  * r8 ANY-degrade bug and the r9 join_use_nulls bug were both found by
  * targeted metamorphic laws, so this generalizes the class — a seeded
  * generator enumerates join kind × strictness (ALL/ANY/SEMI/ANTI/ASOF,
  * the ASOF draws covering all four inequality modes of the native
  * ASOF operator) × condition form (USING/ON) × projection form
  * (qualified/unqualified) × join_use_nulls setting over keyed
  * fixtures whose DATA is drawn
  * from a seeded Random, executes each query through the ClickHouse
  * dialect, and compares the result multiset against an independent
  * row-level reference evaluator encoding ClickHouse's documented
  * semantics (lectures/lecture_10.md: type-default fill under
  * `join_use_nulls = 0`, SQL NULLs under `= 1`, ANY = at most one
  * picked match, ANTI right side provably unmatched).
  *
  * Duplicate-key rows are generated VALUE-IDENTICAL (the row is a pure
  * function of its key), so an ANY pick is value-deterministic and the
  * evaluator needs no knowledge of which physical row the engine's
  * xxhash64 tie-break chose, while ALL-vs-ANY multiplicity differences
  * stay fully observable in the multiset compare.
  *
  * First find (fixed in the same round): the ANTI right-column read
  * ignored `join_use_nulls = 1` — anti-join right columns read type
  * defaults where ClickHouse surfaces NULLs.
  */
class JoinFuzzerSpec extends SparkSpec {

  private type Row3 = (Long, String, Long)

  // row values are a pure function of (table, key): duplicates identical
  private def lRow(k: Long): Row3 = (k, s"l$k", k * 10)
  private def rRow(k: Long): Row3 = (k, s"r$k", k * 100)

  /** One seeded corpus: planted guarantees (shared key, left-dup key,
    * right-dup key, left-only, right-only) plus random keys 0..7.
    */
  private def corpus(seed: Int): (Seq[Row3], Seq[Row3]) = {
    val rnd = new scala.util.Random(seed)
    val lKeys = Seq(1L, 2L, 2L, 4L) ++ Seq.fill(4)(rnd.nextInt(8).toLong)
    val rKeys = Seq(1L, 3L, 3L, 5L) ++ Seq.fill(4)(rnd.nextInt(8).toLong)
    (lKeys.map(lRow), rKeys.map(rRow))
  }

  /** ASOF fixtures: unique (key, time) per side, times from a shared
    * grid so EQUAL timestamps occur (they distinguish >= from > and
    * <= from <); the payload is a pure function of (key, time).
    */
  private def asofCorpus(seed: Int): (Seq[Row3], Seq[Row3]) = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    def side(tag: String): Seq[Row3] =
      (Seq((1L, 10L), (1L, 20L), (2L, 10L)) ++
        Seq.fill(6)((rnd.nextInt(5).toLong, rnd.nextInt(5).toLong * 10)))
        .distinct.map { case (k, t) => (k, s"$tag${k}_$t", t) }
    (side("a"), side("b"))
  }

  private val kinds = Vector(
    "INNER JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN",
    "ANY LEFT JOIN", "ANY RIGHT JOIN", "ANY INNER JOIN",
    // kind-first ANY spellings — valid ClickHouse, the r8 bug class
    // (normalized by token swap in rewriteAnyJoin)
    "LEFT ANY JOIN", "RIGHT ANY JOIN", "INNER ANY JOIN",
    "LEFT SEMI JOIN", "LEFT ANTI JOIN", "CROSS JOIN")

  /** Canonical kind for the evaluator: both ANY spellings share one
    * semantics row.
    */
  private def canon(kind: String): String = kind match {
    case "LEFT ANY JOIN" => "ANY LEFT JOIN"
    case "RIGHT ANY JOIN" => "ANY RIGHT JOIN"
    case "INNER ANY JOIN" => "ANY INNER JOIN"
    case k => k
  }

  /** ClickHouse-semantics reference evaluator: the (left, right) row
    * pairs a join kind produces, misses as None.
    */
  private def pairs(kind: String, lRows: Seq[Row3], rRows: Seq[Row3])
      : Seq[(Option[Row3], Option[Row3])] = kind match {
    case "INNER JOIN" =>
      for { l <- lRows; r <- rRows if r._1 == l._1 } yield (Some(l), Some(r))
    case "LEFT JOIN" => lRows.flatMap { l =>
      val ms = rRows.filter(_._1 == l._1)
      if (ms.isEmpty) Seq((Some(l), None)) else ms.map(r => (Some(l), Some(r)))
    }
    case "RIGHT JOIN" => rRows.flatMap { r =>
      val ms = lRows.filter(_._1 == r._1)
      if (ms.isEmpty) Seq((None, Some(r))) else ms.map(l => (Some(l), Some(r)))
    }
    case "FULL JOIN" =>
      pairs("LEFT JOIN", lRows, rRows) ++
        rRows.filterNot(r => lRows.exists(_._1 == r._1)).map(r => (None, Some(r)))
    case "ANY LEFT JOIN" => lRows.map(l => (Some(l), rRows.find(_._1 == l._1)))
    case "ANY RIGHT JOIN" => rRows.map(r => (lRows.find(_._1 == r._1), Some(r)))
    case "ANY INNER JOIN" =>
      lRows.flatMap(l => rRows.find(_._1 == l._1).map(r => (Some(l), Some(r))))
    case "LEFT SEMI JOIN" =>
      lRows.filter(l => rRows.exists(_._1 == l._1)).map(l => (Some(l), None))
    case "LEFT ANTI JOIN" =>
      lRows.filterNot(l => rRows.exists(_._1 == l._1)).map(l => (Some(l), None))
    case "CROSS JOIN" =>
      for { l <- lRows; r <- rRows } yield (Some(l), Some(r))
  }

  // the fill rule under test: miss → type default (=0) or NULL (=1)
  private def cell(v: Option[Any], useNulls: Boolean, default: String): String =
    v.map(_.toString).getOrElse(if (useNulls) "NULL" else default)

  /** Projections: SQL select list and the matching evaluator columns.
    * 0 = alias-qualified both sides; 1 = UNQUALIFIED value columns (the
    * r10 ownership-resolution path); SEMI/ANTI get their legal subsets.
    */
  private def projection(kind: String, proj: Int): (String,
      ((Option[Row3], Option[Row3]), Boolean) => Vector[String]) = kind match {
    case "LEFT SEMI JOIN" =>
      ("l.k AS lk, l.lv AS lv, l.ln AS ln",
        (p, _) => Vector(p._1.get._1.toString, p._1.get._2, p._1.get._3.toString))
    case "LEFT ANTI JOIN" =>
      // the right side is provably unmatched: defaults under =0, NULLs
      // under =1 (the plan restore re-emits them as defaults)
      ("l.k AS lk, l.lv AS lv, r.rv AS rv, r.rn AS rn",
        (p, un) => Vector(p._1.get._1.toString, p._1.get._2,
          cell(None, un, ""), cell(None, un, "0")))
    case _ if proj == 1 =>
      // unqualified lv/rv: ownership provable (each belongs to exactly
      // one table), so the join_use_nulls=0 fill must still reach them
      ("lv, rv",
        (p, un) => Vector(cell(p._1.map(_._2), un, ""), cell(p._2.map(_._2), un, "")))
    case _ =>
      ("l.k AS lk, l.lv AS lv, l.ln AS ln, r.k AS rk, r.rv AS rv, r.rn AS rn",
        (p, un) => Vector(
          cell(p._1.map(_._1), un, "0"), cell(p._1.map(_._2), un, ""),
          cell(p._1.map(_._3), un, "0"), cell(p._2.map(_._1), un, "0"),
          cell(p._2.map(_._2), un, ""), cell(p._2.map(_._3), un, "0")))
  }

  private def norm(rows: Array[org.apache.spark.sql.Row]): Seq[Vector[String]] =
    rows.toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) "NULL" else r.get(i).toString).toVector)
      .sortBy(_.mkString("|"))

  test("seeded join fuzzer: kind x strictness x condition x projection x " +
    "join_use_nulls over randomized keyed corpora matches the ClickHouse " +
    "reference evaluator on every drawn query") {
    val s = new ChSession(spark)
    var ran = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq(20260815, 4212).zipWithIndex.foreach { case (seed, ci) =>
      val (lRows, rRows) = corpus(seed)
      val (lt, rt) = (s"fzl$ci", s"fzr$ci")
      s.execute(
        s"""CREATE TABLE $lt (k UInt32, lv String, ln UInt32) ENGINE = Memory;
           |CREATE TABLE $rt (k UInt32, rv String, rn UInt32) ENGINE = Memory;
           |INSERT INTO $lt VALUES ${lRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};
           |INSERT INTO $rt VALUES ${rRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};""".stripMargin)
      for {
        kind <- kinds
        cond <- Seq("USING (k)", s"ON l.k = r.k")
        proj <- 0 to 1
        useNulls <- Seq(false, true)
      } {
        // CROSS has no condition; SEMI/ANTI have one legal projection
        val skip = (kind == "CROSS JOIN" && cond.startsWith("USING")) ||
          ((kind == "LEFT SEMI JOIN" || kind == "LEFT ANTI JOIN") && proj == 1)
        if (!skip) {
          val (sel, expectRow) = projection(canon(kind), proj)
          val condSql = if (kind == "CROSS JOIN") "" else s" $cond"
          val tail = if (useNulls) " SETTINGS join_use_nulls = 1" else ""
          val sql = s"SELECT $sel FROM $lt l $kind $rt r$condSql$tail"
          val expected = pairs(canon(kind), lRows, rRows).map(expectRow(_, useNulls))
            .sortBy(_.mkString("|"))
          (try Right(norm(s.sql(sql).collect()))
           catch { case e: Exception =>
             Left(e.getMessage.linesIterator.next())
           }) match {
            case Left(err) => failures += s"$sql\n  threw: $err"
            case Right(got) if got != expected =>
              failures += s"$sql\n  expected ${expected.size} rows " +
                s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
            case _ => ()
          }
          ran += 1
        }
      }
      // ASOF draws (the native operator): 4 inequality modes × inner/LEFT
      // × join_use_nulls over time-ful fixtures, vs the brute-force
      // pick-the-closest model
      val (aRows, bRows) = asofCorpus(seed)
      val (at, bt) = (s"fza$ci", s"fzb$ci")
      s.execute(
        s"""CREATE TABLE $at (k UInt32, av String, t UInt32) ENGINE = Memory;
           |CREATE TABLE $bt (k UInt32, bv String, t UInt32) ENGINE = Memory;
           |INSERT INTO $at VALUES ${aRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};
           |INSERT INTO $bt VALUES ${bRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};""".stripMargin)
      for {
        op <- Seq(">=", ">", "<=", "<")
        leftKind <- Seq(true, false)
        useNulls <- Seq(false, true)
      } {
        val kind = if (leftKind) "ASOF LEFT JOIN" else "ASOF JOIN"
        val tail = if (useNulls) " SETTINGS join_use_nulls = 1" else ""
        val sql = s"SELECT l.k AS k, l.t AS t, l.av AS av, r.bv AS bv " +
          s"FROM $at l $kind $bt r ON l.k = r.k AND l.t $op r.t$tail"
        val expected = aRows.flatMap { case (k, av, t) =>
          val cand = bRows.filter(b => b._1 == k && (op match {
            case ">=" => b._3 <= t
            case ">" => b._3 < t
            case "<=" => b._3 >= t
            case _ => b._3 > t
          }))
          val pick =
            if (cand.isEmpty) None
            else Some((op match {
              case ">=" | ">" => cand.maxBy(_._3)
              case _ => cand.minBy(_._3)
            })._2)
          if (pick.isEmpty && !leftKind) None
          else Some(Vector(k.toString, t.toString, av,
            cell(pick, useNulls, "")))
        }.sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case ex: Exception =>
           Left(ex.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
    }
    assert(ran >= 100, s"fuzzer must draw at least 100 queries, drew $ran")
    assert(failures.isEmpty,
      s"${failures.size} fuzzed queries diverged from the ClickHouse " +
        s"reference evaluator:\n${failures.take(8).mkString("\n")}")
  }

  test("seeded join fuzzer, SUBQUERY sides (r11): kind x filtered side x " +
    "join_use_nulls — subquery result-type defaults fill exactly like " +
    "catalog defaults") {
    val s = new ChSession(spark)
    var ran = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq(20260816, 977).zipWithIndex.foreach { case (seed, ci) =>
      val (lRows, rRows) = corpus(seed)
      val (lt, rt) = (s"sql$ci", s"sqr$ci")
      s.execute(
        s"""CREATE TABLE $lt (k UInt32, lv String, ln UInt32) ENGINE = Memory;
           |CREATE TABLE $rt (k UInt32, rv String, rn UInt32) ENGINE = Memory;
           |INSERT INTO $lt VALUES ${lRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};
           |INSERT INTO $rt VALUES ${rRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};""".stripMargin)
      val rnd = new scala.util.Random(seed * 17 + 3)
      for {
        kind <- Seq("INNER JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN",
          "ANY LEFT JOIN", "LEFT ANTI JOIN")
        subSide <- Seq("left", "right", "both")
        useNulls <- Seq(false, true)
      } {
        // each side's subquery filters by a drawn key cutoff — the
        // engine must take BOTH the rows and the default literals from
        // the subquery's output, not the catalog
        val (lCut, rCut) = (rnd.nextInt(8).toLong + 1, rnd.nextInt(8).toLong + 1)
        val lFiltered = if (subSide != "right") lRows.filter(_._1 < lCut) else lRows
        val rFiltered = if (subSide != "left") rRows.filter(_._1 < rCut) else rRows
        val lRef = if (subSide != "right")
          s"(SELECT k, lv, ln FROM $lt WHERE k < $lCut)" else lt
        val rRef = if (subSide != "left")
          s"(SELECT k, rv, rn FROM $rt WHERE k < $rCut)" else rt
        val tail = if (useNulls) " SETTINGS join_use_nulls = 1" else ""
        val sql = s"SELECT l.lv AS lv, r.rv AS rv, r.rn AS rn " +
          s"FROM $lRef l $kind $rRef r ON l.k = r.k$tail"
        val expected = pairs(canon(kind), lFiltered, rFiltered).map(p =>
          Vector(cell(p._1.map(_._2), useNulls, ""),
            cell(p._2.map(_._2), useNulls, ""),
            cell(p._2.map(_._3), useNulls, "0")))
          .sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case e: Exception =>
           Left(e.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
    }
    assert(ran >= 70, s"drew $ran")
    assert(failures.isEmpty,
      s"${failures.size} subquery-side draws diverged:\n" +
        failures.take(8).mkString("\n"))
  }

  test("seeded join fuzzer, multi-join TREES (r11): depth-2 chains mixing " +
    "kinds match the per-node composed evaluator, including default-fill " +
    "keys re-matching in the second join") {
    val s = new ChSession(spark)
    var ran = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    type R = (Long, String)
    Seq(20260816, 5150).zipWithIndex.foreach { case (seed, ci) =>
      val rnd = new scala.util.Random(seed)
      // distinct column names per table keep the flattened trees
      // unambiguous; t3 plants key 0 so a join_use_nulls = 0 fill on a
      // missed first-join side can RE-MATCH in the second join (the
      // ClickHouse footgun, lecture_10)
      def rowsOf(tag: String, planted: Seq[Long]): Seq[R] =
        (planted ++ Seq.fill(4)(rnd.nextInt(6).toLong)).map(k => (k, s"$tag$k"))
      val t1 = rowsOf("a", Seq(1L, 2L, 2L))
      val t2 = rowsOf("b", Seq(1L, 3L))
      val t3 = rowsOf("c", Seq(0L, 1L, 4L))
      val (n1, n2, n3) = (s"tj1$ci", s"tj2$ci", s"tj3$ci")
      s.execute(
        s"""CREATE TABLE $n1 (k1 UInt32, v1 String) ENGINE = Memory;
           |CREATE TABLE $n2 (k2 UInt32, v2 String) ENGINE = Memory;
           |CREATE TABLE $n3 (k3 UInt32, v3 String) ENGINE = Memory;
           |INSERT INTO $n1 VALUES ${t1.map(r => s"(${r._1}, '${r._2}')").mkString(", ")};
           |INSERT INTO $n2 VALUES ${t2.map(r => s"(${r._1}, '${r._2}')").mkString(", ")};
           |INSERT INTO $n3 VALUES ${t3.map(r => s"(${r._1}, '${r._2}')").mkString(", ")};""".stripMargin)
      type I = (Option[R], Option[R]) // intermediate: (t1 row, t2 row)
      def join1(kind: String): Seq[I] = kind match {
        case "INNER JOIN" =>
          for { l <- t1; r <- t2 if r._1 == l._1 } yield (Some(l), Some(r))
        case "LEFT JOIN" => t1.flatMap { l =>
          val ms = t2.filter(_._1 == l._1)
          if (ms.isEmpty) Seq((Some(l), None))
          else ms.map(r => (Some(l), Some(r)))
        }
        case "RIGHT JOIN" => t2.flatMap { r =>
          val ms = t1.filter(_._1 == r._1)
          if (ms.isEmpty) Seq((None, Some(r)))
          else ms.map(l => (Some(l), Some(r)))
        }
        case _ => // FULL JOIN
          join1("LEFT JOIN") ++ t2.filterNot(r => t1.exists(_._1 == r._1))
            .map(r => (None, Some(r)))
      }
      // the second join's link key: the CHOSEN side's key with the
      // join_use_nulls fill applied — under = 0 a missed side reads 0,
      // a REAL value that can match t3's planted k3 = 0; under = 1 it
      // reads NULL, which never equals anything
      def linkKey(p: I, side: Int, un: Boolean): Option[Long] =
        (if (side == 1) p._1 else p._2).map(_._1)
          .orElse(if (un) None else Some(0L))
      for {
        kind1 <- Seq("INNER JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN")
        kind2 <- Seq("INNER JOIN", "LEFT JOIN", "RIGHT JOIN",
          "ANY LEFT JOIN", "ANY RIGHT JOIN", "LEFT ANTI JOIN")
        side <- Seq(1, 2)
        useNulls <- Seq(false, true)
        // ANY RIGHT picks ONE intermediate per t3 row: value-
        // deterministic only when the picked side is a pure function
        // of the link key — guaranteed for side 1 under INNER/LEFT
        // (dup keys are value-identical, t2 misses fill uniformly)
        if kind2 != "ANY RIGHT JOIN" ||
          (side == 1 && (kind1 == "INNER JOIN" || kind1 == "LEFT JOIN"))
      } {
        val inter = join1(kind1)
        val linkCol = if (side == 1) "a.k1" else "b.k2"
        val tail = if (useNulls) " SETTINGS join_use_nulls = 1" else ""
        val sql = s"SELECT a.v1 AS v1, b.v2 AS v2, c.v3 AS v3 " +
          s"FROM $n1 a $kind1 $n2 b ON a.k1 = b.k2 " +
          s"$kind2 $n3 c ON $linkCol = c.k3$tail"
        def fillI(i: Option[I], c: Option[R]): Vector[String] = Vector(
          cell(i.flatMap(_._1).map(_._2), useNulls, ""),
          cell(i.flatMap(_._2).map(_._2), useNulls, ""),
          cell(c.map(_._2), useNulls, ""))
        val expected: Seq[Vector[String]] = (kind2 match {
          case "INNER JOIN" => inter.flatMap(i =>
            t3.filter(c => linkKey(i, side, useNulls).contains(c._1))
              .map(c => fillI(Some(i), Some(c))))
          case "LEFT JOIN" => inter.flatMap { i =>
            val ms = t3.filter(c => linkKey(i, side, useNulls).contains(c._1))
            if (ms.isEmpty) Seq(fillI(Some(i), None))
            else ms.map(c => fillI(Some(i), Some(c)))
          }
          case "RIGHT JOIN" => t3.flatMap { c =>
            val ms = inter.filter(i =>
              linkKey(i, side, useNulls).contains(c._1))
            if (ms.isEmpty) Seq(fillI(None, Some(c)))
            else ms.map(i => fillI(Some(i), Some(c)))
          }
          case "ANY LEFT JOIN" => inter.map(i => fillI(Some(i),
            t3.find(c => linkKey(i, side, useNulls).contains(c._1))))
          case "ANY RIGHT JOIN" => t3.map(c => fillI(
            inter.find(i => linkKey(i, side, useNulls).contains(c._1)), Some(c)))
          case _ => // LEFT ANTI JOIN: kept intermediates, t3 side filled
            inter.filterNot(i => t3.exists(c =>
              linkKey(i, side, useNulls).contains(c._1)))
              .map(i => fillI(Some(i), None))
        }).sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case e: Exception =>
           Left(e.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
    }
    assert(ran >= 140, s"drew $ran")
    assert(failures.isEmpty,
      s"${failures.size} tree draws diverged:\n${failures.take(8).mkString("\n")}")
  }

  test("seeded ASOF fuzzer (r11): subquery sides and multi-key USING " +
    "match the brute-force model") {
    val s = new ChSession(spark)
    var ran = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq(20260816, 31337).zipWithIndex.foreach { case (seed, ci) =>
      // subquery-side draws over the existing single-key fixtures
      val (aRows, bRows) = asofCorpus(seed)
      val (at, bt) = (s"fsa$ci", s"fsb$ci")
      s.execute(
        s"""CREATE TABLE $at (k UInt32, av String, t UInt32) ENGINE = Memory;
           |CREATE TABLE $bt (k UInt32, bv String, t UInt32) ENGINE = Memory;
           |INSERT INTO $at VALUES ${aRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};
           |INSERT INTO $bt VALUES ${bRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};""".stripMargin)
      val rnd = new scala.util.Random(seed * 7 + 1)
      for {
        op <- Seq(">=", ">", "<=", "<")
        leftKind <- Seq(true, false)
        subSide <- Seq("left", "right", "both")
      } {
        val cut = rnd.nextInt(4).toLong * 10 + 10
        val aF = if (subSide != "right") aRows.filter(_._3 <= cut) else aRows
        val bF = if (subSide != "left") bRows.filter(_._3 <= cut) else bRows
        val aRef = if (subSide != "right")
          s"(SELECT k, av, t FROM $at WHERE t <= $cut)" else at
        val bRef = if (subSide != "left")
          s"(SELECT k, bv, t FROM $bt WHERE t <= $cut)" else bt
        val kind = if (leftKind) "ASOF LEFT JOIN" else "ASOF JOIN"
        val sql = s"SELECT l.k AS k, l.t AS t, l.av AS av, r.bv AS bv " +
          s"FROM $aRef l $kind $bRef r ON l.k = r.k AND l.t $op r.t"
        val expected = aF.flatMap { case (k, av, t) =>
          val cand = bF.filter(b => b._1 == k && (op match {
            case ">=" => b._3 <= t
            case ">" => b._3 < t
            case "<=" => b._3 >= t
            case _ => b._3 > t
          }))
          val pick =
            if (cand.isEmpty) None
            else Some((op match {
              case ">=" | ">" => cand.maxBy(_._3)
              case _ => cand.minBy(_._3)
            })._2)
          if (pick.isEmpty && !leftKind) None
          else Some(Vector(k.toString, t.toString, av,
            cell(pick, useNulls = false, "")))
        }.sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case ex: Exception =>
           Left(ex.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
      // multi-key USING draws: 2 keys + time, parenthesized and bare
      val rnd2 = new scala.util.Random(seed * 13 + 5)
      def mkSide(tag: String): Seq[(Long, Long, Long, String)] =
        (Seq((1L, 1L, 10L), (1L, 2L, 10L), (2L, 1L, 20L)) ++
          Seq.fill(8)((rnd2.nextInt(3).toLong, rnd2.nextInt(3).toLong,
            rnd2.nextInt(5).toLong * 10))).distinct
          .map { case (k1, k2, t) => (k1, k2, t, s"$tag${k1}_${k2}_$t") }
      val mA = mkSide("a")
      val mB = mkSide("b")
      val (ma, mb) = (s"fma$ci", s"fmb$ci")
      s.execute(
        s"""CREATE TABLE $ma (k1 UInt32, k2 UInt32, t UInt32, av String) ENGINE = Memory;
           |CREATE TABLE $mb (k1 UInt32, k2 UInt32, t UInt32, bv String) ENGINE = Memory;
           |INSERT INTO $ma VALUES ${mA.map(r => s"(${r._1}, ${r._2}, ${r._3}, '${r._4}')").mkString(", ")};
           |INSERT INTO $mb VALUES ${mB.map(r => s"(${r._1}, ${r._2}, ${r._3}, '${r._4}')").mkString(", ")};""".stripMargin)
      Seq("USING (k1, k2, t)", "USING k1, k2, t").foreach { using =>
        val sql = s"SELECT k1, k2, t, av, bv " +
          s"FROM $ma ASOF LEFT JOIN $mb $using ORDER BY k1, k2, t"
        val expected = mA.map { case (k1, k2, t, av) =>
          val cand = mB.filter(b => b._1 == k1 && b._2 == k2 && b._3 <= t)
          val pick = if (cand.isEmpty) "" else cand.maxBy(_._3)._4
          Vector(k1.toString, k2.toString, t.toString, av, pick)
        }.sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case ex: Exception =>
           Left(ex.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
    }
    assert(ran >= 48, s"drew $ran")
    assert(failures.isEmpty,
      s"${failures.size} ASOF draws diverged:\n${failures.take(8).mkString("\n")}")
  }

  test("seeded join fuzzer, USING spellings + comma-join tails + CTE " +
    "shadowing (r12): bare and parenthesized USING agree, a comma-joined " +
    "catalog table after a bare list survives, and a CTE named like a " +
    "catalog table is read as the CTE — with subquery-style default fill") {
    val s = new ChSession(spark)
    var ran = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq(20260816, 8086).zipWithIndex.foreach { case (seed, ci) =>
      val (lRows, rRows) = corpus(seed)
      val (lt, rt, xt) = (s"ful$ci", s"fur$ci", s"fux$ci")
      val xRows = Seq(100L, 200L)
      s.execute(
        s"""CREATE TABLE $lt (k UInt32, lv String, ln UInt32) ENGINE = Memory;
           |CREATE TABLE $rt (k UInt32, rv String, rn UInt32) ENGINE = Memory;
           |CREATE TABLE $xt (xid UInt32) ENGINE = Memory;
           |INSERT INTO $lt VALUES ${lRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};
           |INSERT INTO $rt VALUES ${rRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};
           |INSERT INTO $xt VALUES ${xRows.map(x => s"($x)").mkString(", ")};""".stripMargin)
      for {
        kind <- Seq("INNER JOIN", "LEFT JOIN", "ANY LEFT JOIN", "FULL JOIN")
        spell <- Seq("paren", "bare", "bare+comma")
        useNulls <- Seq(false, true)
      } {
        val usingSql = if (spell == "paren") "USING (k)" else "USING k"
        val comma = spell == "bare+comma"
        // the comma-joined table after the bare list is a CROSS factor —
        // pre-fix the list scan swallowed it as a second join key
        val commaSql = if (comma) s", $xt x" else ""
        val xsel = if (comma) ", x.xid AS xid" else ""
        val tail = if (useNulls) " SETTINGS join_use_nulls = 1" else ""
        val sql = s"SELECT l.lv AS lv, r.rv AS rv$xsel " +
          s"FROM $lt l $kind $rt r $usingSql$commaSql ORDER BY lv$tail"
        val base = pairs(canon(kind), lRows, rRows).map(p =>
          Vector(cell(p._1.map(_._2), useNulls, ""),
            cell(p._2.map(_._2), useNulls, "")))
        val expected = (if (comma)
          base.flatMap(b => xRows.map(x => b :+ x.toString)) else base)
          .sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case e: Exception =>
           Left(e.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
      // CTE draws: the CTE is named EXACTLY like catalog table xt (whose
      // real schema is a single xid column) but holds a FILTERED copy of
      // rt — reads must hit the CTE, and join_use_nulls = 0 misses must
      // fill the CTE's RESULT-type defaults (subquery semantics)
      val rnd = new scala.util.Random(seed * 23 + 9)
      for {
        kind <- Seq("INNER JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN",
          "ANY LEFT JOIN", "LEFT ANTI JOIN")
        useNulls <- Seq(false, true)
      } {
        val cut = rnd.nextInt(7).toLong + 1
        val rF = rRows.filter(_._1 < cut)
        val tail = if (useNulls) " SETTINGS join_use_nulls = 1" else ""
        val sql = s"WITH $xt AS (SELECT k, rv, rn FROM $rt WHERE k < $cut) " +
          s"SELECT l.lv AS lv, r.rv AS rv, r.rn AS rn " +
          s"FROM $lt l $kind $xt r ON l.k = r.k$tail"
        val expected = pairs(canon(kind), lRows, rF).map(p =>
          Vector(cell(p._1.map(_._2), useNulls, ""),
            cell(p._2.map(_._2), useNulls, ""),
            cell(p._2.map(_._3), useNulls, "0")))
          .sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case e: Exception =>
           Left(e.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
      // ASOF through a CTE side: the lowering takes the CTE's columns,
      // not the same-named catalog table's
      val (aRows, bRows) = asofCorpus(seed)
      val (at, bt2) = (s"fca$ci", s"fcb$ci")
      s.execute(
        s"""CREATE TABLE $at (k UInt32, av String, t UInt32) ENGINE = Memory;
           |CREATE TABLE $bt2 (k UInt32, bv String, t UInt32) ENGINE = Memory;
           |INSERT INTO $at VALUES ${aRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};
           |INSERT INTO $bt2 VALUES ${bRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};""".stripMargin)
      Seq(">=", "<").foreach { op =>
        val cut = rnd.nextInt(4).toLong * 10 + 10
        val bF = bRows.filter(_._3 <= cut)
        val sql = s"WITH $xt AS (SELECT k, bv, t FROM $bt2 WHERE t <= $cut) " +
          s"SELECT l.k AS k, l.t AS t, l.av AS av, r.bv AS bv " +
          s"FROM $at l ASOF LEFT JOIN $xt r ON l.k = r.k AND l.t $op r.t"
        val expected = aRows.map { case (k, av, t) =>
          val cand = bF.filter(b => b._1 == k &&
            (if (op == ">=") b._3 <= t else b._3 > t))
          val pick =
            if (cand.isEmpty) ""
            else (if (op == ">=") cand.maxBy(_._3) else cand.minBy(_._3))._2
          Vector(k.toString, t.toString, av, pick)
        }.sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case e: Exception =>
           Left(e.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
    }
    assert(ran >= 70, s"drew $ran")
    assert(failures.isEmpty,
      s"${failures.size} USING/CTE draws diverged:\n" +
        failures.take(8).mkString("\n"))
  }

  test("seeded join fuzzer, star-projection subquery sides (r13): a " +
    "`SELECT g.*` / `SELECT *` side passes DECLARED defaults through " +
    "under join_use_nulls = 0 — Nullable keeps NULL, plain types fill " +
    "their zero values — identically to naming the table directly") {
    val s = new ChSession(spark)
    var ran = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq(13013, 424242).zipWithIndex.foreach { case (seed, ci) =>
      val (lRows, rRows) = corpus(seed)
      val (lt, rt) = (s"fsl$ci", s"fsr$ci")
      // rv: plain String ('' on the miss), rn: plain UInt32 (0),
      // nv: Nullable(String) — NULL on the miss ONLY when the star
      // passthrough resolves the declared nullability (the result-type
      // fallback would wrongly fill '')
      s.execute(
        s"""CREATE TABLE $lt (k UInt32, lv String) ENGINE = Memory;
           |CREATE TABLE $rt (k UInt32, rv String, rn UInt32, nv Nullable(String)) ENGINE = Memory;
           |INSERT INTO $lt VALUES ${lRows.map(r => s"(${r._1}, '${r._2}')").mkString(", ")};
           |INSERT INTO $rt VALUES ${rRows.map(r => s"(${r._1}, '${r._2}', ${r._3}, 'n${r._1}')").mkString(", ")};""".stripMargin)
      val rnd = new scala.util.Random(seed * 17 + 3)
      for {
        kind <- Seq("INNER JOIN", "LEFT JOIN", "FULL JOIN", "ANY LEFT JOIN")
        star <- Seq("g.*", "`g`.*", "*")
        useNulls <- Seq(false, true)
      } {
        val cut = rnd.nextInt(7).toLong + 1
        val rF = rRows.filter(_._1 < cut)
        val tail = if (useNulls) " SETTINGS join_use_nulls = 1" else ""
        val side = s"(SELECT $star FROM $rt g WHERE g.k < $cut)"
        val sql = s"SELECT l.lv AS lv, r.rv AS rv, r.rn AS rn, " +
          s"r.nv AS nv FROM $lt l $kind $side r ON l.k = r.k$tail"
        val expected = pairs(canon(kind), lRows, rF).map(p =>
          Vector(cell(p._1.map(_._2), useNulls, ""),
            cell(p._2.map(_._2), useNulls, ""),
            cell(p._2.map(_._3), useNulls, "0"),
            // Nullable(String): ClickHouse's declared default IS NULL
            cell(p._2.map(r => s"n${r._1}"), useNulls = true, "")))
          .sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case e: Exception =>
           Left(e.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
      // BARE `SELECT *` over the ON-joined block (r13): per-component
      // expansion — left cols then right cols, fills per setting
      for {
        kind <- Seq("INNER JOIN", "LEFT JOIN", "FULL JOIN", "ANY LEFT JOIN")
        useNulls <- Seq(false, true)
      } {
        val tail = if (useNulls) " SETTINGS join_use_nulls = 1" else ""
        val sql = s"SELECT * FROM $lt l $kind $rt g ON l.k = g.k$tail"
        val expected = pairs(canon(kind), lRows, rRows).map(p =>
          Vector(cell(p._1.map(_._1), useNulls, "0"),
            cell(p._1.map(_._2), useNulls, ""),
            cell(p._2.map(_._1), useNulls, "0"),
            cell(p._2.map(_._2), useNulls, ""),
            cell(p._2.map(_._3), useNulls, "0"),
            cell(p._2.map(r => s"n${r._1}"), useNulls = true, "")))
          .sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case e: Exception =>
           Left(e.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
      // LEFT SEMI reading the right side (r13): ClickHouse returns the
      // first match's values — must agree with the ANY INNER evaluator
      // row (the lowering). Explicit right refs and a bare star both
      // trigger it; right payloads are pure functions of the key so
      // the arbitrary pick is value-deterministic.
      Seq("cols", "star").foreach { proj =>
        val sel = if (proj == "cols")
          "l.lv AS lv, g.rv AS rv, g.nv AS nv" else "*"
        val sql = s"SELECT $sel FROM $lt l LEFT SEMI JOIN $rt g ON l.k = g.k"
        val expected = pairs("ANY INNER JOIN", lRows, rRows).map { p =>
          val (l, r) = (p._1.get, p._2.get)
          if (proj == "cols") Vector(l._2, r._2, s"n${r._1}")
          else Vector(l._1.toString, l._2, r._1.toString, r._2,
            r._3.toString, s"n${r._1}")
        }.sortBy(_.mkString("|"))
        (try Right(norm(s.sql(sql).collect()))
         catch { case e: Exception =>
           Left(e.getMessage.linesIterator.next())
         }) match {
          case Left(err) => failures += s"$sql\n  threw: $err"
          case Right(got) if got != expected =>
            failures += s"$sql\n  expected ${expected.size} rows " +
              s"${expected.take(4)}\n  got ${got.size} rows ${got.take(4)}"
          case _ => ()
        }
        ran += 1
      }
    }
    assert(ran >= 60, s"drew $ran")
    assert(failures.isEmpty,
      s"${failures.size} star-side draws diverged:\n" +
        failures.take(8).mkString("\n"))
  }

  test("seeded join fuzzer, chained CTEs + computed projections (r13): a " +
    "later CTE's body joins an EARLIER CTE (the lecture_27 dbt shape) " +
    "under both join_use_nulls modes — including a chain member named " +
    "like a catalog table — and computed select items (aggregates, " +
    "concat, CASE) on subquery/CTE sides take RESULT-type defaults") {
    val s = new ChSession(spark)
    var ran = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    def check(sql: String, expected: Seq[Vector[String]]): Unit = {
      (try Right(norm(s.sql(sql).collect()))
       catch { case e: Exception =>
         Left(e.getMessage.linesIterator.next())
       }) match {
        case Left(err) => failures += s"$sql\n  threw: $err"
        case Right(got) if got != expected.sortBy(_.mkString("|")) =>
          val e = expected.sortBy(_.mkString("|"))
          failures += s"$sql\n  expected ${e.size} rows ${e.take(4)}" +
            s"\n  got ${got.size} rows ${got.take(4)}"
        case _ => ()
      }
      ran += 1
    }

    Seq(20260817, 27127).zipWithIndex.foreach { case (seed, ci) =>
      val (lRows, rRows) = corpus(seed)
      val (lt, rt, xt) = (s"fgl$ci", s"fgr$ci", s"fgx$ci")
      s.execute(
        s"""CREATE TABLE $lt (k UInt32, lv String, ln UInt32) ENGINE = Memory;
           |CREATE TABLE $rt (k UInt32, rv String, rn UInt32) ENGINE = Memory;
           |CREATE TABLE $xt (xid UInt32) ENGINE = Memory;
           |INSERT INTO $lt VALUES ${lRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};
           |INSERT INTO $rt VALUES ${rRows.map(r => s"(${r._1}, '${r._2}', ${r._3})").mkString(", ")};
           |INSERT INTO $xt VALUES (100), (200);""".stripMargin)
      val rnd = new scala.util.Random(seed * 41 + 13)

      // ---- part A: chained CTEs — c2's body joins c1; the final select
      // reads c2 alone or joins c2 back to c1 (both CTEs referenced).
      // Half the draws name c1 like the catalog table xt: the chain must
      // read the CTE, not the catalog schema (xid would not resolve).
      for {
        kind1 <- Seq("INNER JOIN", "LEFT JOIN", "ANY LEFT JOIN", "FULL JOIN")
        outer <- Seq("plain", "join-earlier")
        useNulls <- Seq(false, true)
      } {
        val cut = rnd.nextInt(7).toLong + 1
        val shadow = rnd.nextBoolean()
        val c1n = if (shadow) xt else s"fc1$ci"
        val c1 = rRows.filter(_._1 < cut)
        val tail = if (useNulls) " SETTINGS join_use_nulls = 1" else ""
        // c2 rows with the body's fill already applied; k kept typed for
        // the outer join (a filled 0 re-matches k=0 — the lecture_10
        // footgun — while a NULL never matches)
        val c2 = pairs(canon(kind1), lRows, c1).map { p =>
          (p._1.map(_._1).orElse(if (useNulls) None else Some(0L)),
            cell(p._1.map(_._2), useNulls, ""),
            cell(p._2.map(_._2), useNulls, ""),
            cell(p._2.map(_._3), useNulls, "0"))
        }
        val withSql = s"WITH $c1n AS (SELECT k, rv, rn FROM $rt WHERE k < $cut), " +
          s"c2 AS (SELECT l.k AS k, l.lv AS lv, r.rv AS rv, r.rn AS rn " +
          s"FROM $lt l $kind1 $c1n r ON l.k = r.k) "
        if (outer == "plain") {
          val sql = s"${withSql}SELECT k, lv, rv, rn FROM c2$tail"
          val expected = c2.map(t => Vector(
            t._1.map(_.toString).getOrElse("NULL"), t._2, t._3, t._4))
          check(sql, expected)
        } else {
          val sql = s"${withSql}SELECT a.lv AS lv, a.rv AS rv, b.rv AS brv " +
            s"FROM c2 a INNER JOIN $c1n b ON a.k = b.k$tail"
          val expected = for {
            a <- c2
            b <- c1 if a._1.contains(b._1)
          } yield Vector(a._2, a._3, b._2)
          check(sql, expected)
        }
      }

      // ---- part B: computed select items on subquery/CTE join sides —
      // aggregates, concat, CASE. A miss takes the computed column's
      // RESULT-type default under =0 (q120's rule), NULL under =1; the
      // ANTI kind substitutes those literals for every right read.
      val aggRows = rRows.groupBy(_._1).toSeq.map { case (k, rs) =>
        (k, rs.size.toLong, rs.map(_._3).max)
      }
      for {
        form <- Seq("subquery", "cte")
        comp <- Seq("agg", "scalar")
        kind <- Seq("LEFT JOIN", "ANY LEFT JOIN", "LEFT ANTI JOIN")
        useNulls <- Seq(false, true)
      } {
        val tail = if (useNulls) " SETTINGS join_use_nulls = 1" else ""
        val (body, sel, rowsOf) =
          if (comp == "agg")
            (s"SELECT k, count() AS cnt, max(rn) AS mx FROM $rt GROUP BY k",
              "r.cnt AS cnt, r.mx AS mx",
              aggRows.map(a => (a._1, Vector(a._2.toString, a._3.toString))))
          else
            (s"SELECT k, concat(rv, '_', toString(rn)) AS tag, " +
              s"CASE WHEN rn < 300 THEN 'lo' ELSE 'hi' END AS band FROM $rt",
              "r.tag AS tag, r.band AS band",
              rRows.map(r => (r._1,
                Vector(s"${r._2}_${r._3}", if (r._3 < 300) "lo" else "hi"))))
        val defaults = if (comp == "agg") Vector("0", "0") else Vector("", "")
        val side = if (form == "subquery") s"($body)"
          else "cx"
        val withSql = if (form == "cte") s"WITH cx AS ($body) " else ""
        val sql = s"${withSql}SELECT l.lv AS lv, $sel " +
          s"FROM $lt l $kind $side r ON l.k = r.k$tail"
        val sideKeyed = rowsOf
        val expected = canon(kind) match {
          case "LEFT ANTI JOIN" =>
            lRows.filterNot(l => sideKeyed.exists(_._1 == l._1)).map(l =>
              l._2 +: defaults.map(d => if (useNulls) "NULL" else d))
          case "ANY LEFT JOIN" =>
            lRows.map { l =>
              sideKeyed.find(_._1 == l._1) match {
                case Some((_, vs)) => l._2 +: vs
                case None =>
                  l._2 +: defaults.map(d => if (useNulls) "NULL" else d)
              }
            }
          case _ => // LEFT JOIN
            lRows.flatMap { l =>
              val ms = sideKeyed.filter(_._1 == l._1)
              if (ms.isEmpty)
                Seq(l._2 +: defaults.map(d => if (useNulls) "NULL" else d))
              else ms.map(m => l._2 +: m._2)
            }
        }
        check(sql, expected.map(_.toVector))
      }
    }
    assert(ran >= 70, s"drew $ran")
    assert(failures.isEmpty,
      s"${failures.size} chained-CTE/computed draws diverged:\n" +
        failures.take(8).mkString("\n"))
  }
}
