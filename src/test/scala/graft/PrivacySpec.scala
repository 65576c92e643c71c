package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Privacy
import graft.ops.Privacy.GeneralizationLevel

class PrivacySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 3 groups: (US,A) x4, (US,B) x2, (DE,A) x3; one row with a NULL QI
  private lazy val people = Seq(
    (1L, "US", "A", 100.0), (2L, "US", "A", 250.0),
    (3L, "US", "A", 310.0), (4L, "US", "A", 480.0),
    (5L, "US", "B", 120.0), (6L, "US", "B", 900.0),
    (7L, "DE", "A", 130.0), (8L, "DE", "A", 140.0), (9L, "DE", "A", 150.0),
    (10L, null.asInstanceOf[String], "A", 160.0)
  ).toDF("id", "country", "seg", "bal")

  test("kAnonymize keeps exactly the rows in >=k groups; null QI suppressed") {
    val k3 = Privacy.kAnonymize(people, Seq("country", "seg"), k = 3)
      .select("id").as[Long].collect().sorted
    assert(k3.toSeq == Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L))
    val k5 = Privacy.kAnonymize(people, Seq("country", "seg"), k = 5)
    assert(k5.count() == 0)
    val k1 = Privacy.kAnonymize(people, Seq("country", "seg"), k = 1)
    // k=1 keeps everything except the privacy-conservative null-QI row
    assert(k1.count() == 9)
  }

  test("kAnonymize is row-preserving on survivors (no dup, no reorder of data)") {
    val out = Privacy.kAnonymize(people, Seq("country", "seg"), k = 3)
    assert(out.columns.toSeq == people.columns.toSeq)
    assert(out.groupBy("id").count().filter(col("count") > 1).count() == 0)
  }

  test("lDiverse requires distinct sensitive values, not just group size") {
    // (US,A) has 4 rows but only 2 distinct segments-as-sensitive? use bal bands:
    // sensitive = floor(bal/100): US,A -> {1,2,3,4} (4 distinct), DE,A -> {1,1,1} (1)
    val withSens = people.withColumn("sens", floor(col("bal") / 100).cast("long"))
    val l3 = Privacy.lDiverse(withSens, Seq("country", "seg"), "sens", l = 3)
      .select("id").as[Long].collect().sorted
    assert(l3.toSeq == Seq(1L, 2L, 3L, 4L), "only (US,A) has >=3 distinct sens")
    // DE,A is 3-anonymous but 1-diverse: k-anonymity alone would keep it
    val kOnly = Privacy.kAnonymize(withSens, Seq("country", "seg"), k = 3)
      .select("id").as[Long].collect().sorted
    assert(kOnly.contains(7L) && !l3.contains(7L))
  }

  test("lDiversityGroups reports size, cardinality and the diverse flag") {
    val withSens = people.withColumn("sens", floor(col("bal") / 100).cast("long"))
    val g = Privacy.lDiversityGroups(withSens, Seq("country", "seg"), "sens", l = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(g(("US", "A")) == ((4L, 4L, 1)))
    assert(g(("DE", "A")) == ((3L, 1L, 0)))
    assert(g(("US", "B")) == ((2L, 2L, 0)))
  }

  test("band floors to the band lower edge, negatives included") {
    val out = Seq(-999.99, -1000.0, -0.01, 0.0, 99.99, 100.0, 101.5)
      .toDF("v").select(Privacy.band(col("v"), 100.0).as("b"))
      .as[Double].collect().toSeq
    assert(out == Seq(-1000.0, -1000.0, -100.0, 0.0, 0.0, 100.0, 100.0))
  }

  test("ladderStats: suppression is monotone non-increasing as levels coarsen") {
    val ladder = Seq(
      GeneralizationLevel("fine",
        Seq("country" -> col("country"), "seg" -> col("seg"),
          "b" -> Privacy.band(col("bal"), 100.0))),
      GeneralizationLevel("mid",
        Seq("country" -> col("country"), "seg" -> col("seg"),
          "b" -> Privacy.band(col("bal"), 1000.0))),
      GeneralizationLevel("coarse",
        Seq("country" -> col("country"), "seg" -> col("seg"))))
    val rows = Privacy.ladderStats(people, ladder, k = 3)
      .orderBy("level").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("fine", "mid", "coarse"))
    val suppressed = rows.map(_.getLong(3))
    assert(suppressed.zip(suppressed.tail).forall { case (a, b) => b <= a },
      s"coarser level suppressed more rows: ${suppressed.toSeq}")
    // the coarse level equals direct group accounting: 3 suppressed (US,B x2 + null x1)
    assert(suppressed.last == 3L)
    assert(rows.last.getLong(4) == 3L * 10000 / 10)
  }

  test("generalizeToK picks the first level under the suppression budget") {
    val ladder = Seq(
      GeneralizationLevel("fine",
        Seq("country" -> col("country"), "seg" -> col("seg"),
          "b" -> Privacy.band(col("bal"), 100.0))),
      GeneralizationLevel("coarse",
        Seq("country" -> col("country"), "seg" -> col("seg"))))
    // fine level at k=3: every (country,seg,band) group is size 1 -> 100% suppressed
    val (lvl, anon) = Privacy.generalizeToK(people, ladder, k = 3,
      maxSuppressBp = 5000L, carry = Seq("id"))
    assert(lvl == 1)
    assert(anon.columns.toSeq == Seq("id", "country", "seg"))
    assert(anon.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L))
    // impossible budget falls back to the most general level
    val (lvl2, _) = Privacy.generalizeToK(people, ladder, k = 3,
      maxSuppressBp = 0L, carry = Seq("id"))
    assert(lvl2 == 1)
  }

  test("riskHistogram: risk_bp = floor(10000/group size), rows and groups accounted") {
    val h = Privacy.riskHistogram(people, Seq("country", "seg"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // groups: size 4 (US,A) -> 2500 bp; size 3 (DE,A) -> 3333; size 2 (US,B) -> 5000;
    // size 1 (null,A) -> 10000
    assert(h == Map(2500L -> ((4L, 1L)), 3333L -> ((3L, 1L)),
      5000L -> ((2L, 1L)), 10000L -> ((1L, 1L))))
    // total rows accounted exactly once
    assert(h.values.map(_._1).sum == people.count())
  }

  test("survivor sets are invariant under repartitioning") {
    val base = Privacy.kAnonymize(people, Seq("country", "seg"), k = 3)
      .select("id").as[Long].collect().sorted.toSeq
    val rep = Privacy.kAnonymize(people.repartition(7), Seq("country", "seg"), k = 3)
      .select("id").as[Long].collect().sorted.toSeq
    assert(base == rep, "partitioning must not move the k-anonymity gate")
    val withSens = people.withColumn("sens", floor(col("bal") / 100).cast("long"))
    val l1 = Privacy.lDiverse(withSens, Seq("country", "seg"), "sens", l = 3)
      .select("id").as[Long].collect().sorted.toSeq
    val l2 = Privacy.lDiverse(withSens.repartition(5), Seq("country", "seg"), "sens", l = 3)
      .select("id").as[Long].collect().sorted.toSeq
    assert(l1 == l2)
  }

  // t-closeness fixture: group a = (1x2, 2x2), b = (3x4), c = (1,2,3x2);
  // global N=12, counts {1:3, 2:3, 3:6}, m=3. Hand-computed integer EMD:
  // a: D = (2*12-3*4, +12, 0) = (12, 24, 0) -> sum|D|=36 ->
  //    emd_bp = 360000 // (4*12*2) = 3750; b symmetric = 3750;
  // c IS the global distribution scaled: every cumulative diff 0 -> 0.
  private lazy val tc = Seq(
    ("a", 1L), ("a", 1L), ("a", 2L), ("a", 2L),
    ("b", 3L), ("b", 3L), ("b", 3L), ("b", 3L),
    ("c", 1L), ("c", 2L), ("c", 3L), ("c", 3L)
  ).toDF("g", "v")

  test("tClosenessGroups: exact integer EMD against hand computation") {
    val out = Privacy.tClosenessGroups(tc, Seq("g"), "v", tBp = 1000)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(out == Map("a" -> ((4L, 3750L, 0)), "b" -> ((4L, 3750L, 0)),
      "c" -> ((4L, 0L, 1))))
  }

  test("tClose keeps exactly the rows of close groups") {
    val kept = Privacy.tClose(tc, Seq("g"), "v", tBp = 1000)
    assert(kept.columns.toSeq == tc.columns.toSeq)
    assert(kept.select("g").as[String].collect().toSet == Set("c"))
    assert(kept.count() == 4)
    // a permissive threshold keeps everything
    assert(Privacy.tClose(tc, Seq("g"), "v", tBp = 3750).count() == 12)
  }

  test("tClosenessGroups: single sensitive value means zero distance") {
    val one = Seq(("a", 7L), ("a", 7L), ("b", 7L)).toDF("g", "v")
    val out = Privacy.tClosenessGroups(one, Seq("g"), "v", tBp = 0)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("a" -> 0L, "b" -> 0L))
  }

  test("tClosenessGroups: null sensitive rows excluded, null QI group kept") {
    val extra = Seq(("a", Option.empty[Long]), (null.asInstanceOf[String], Some(3L)))
      .toDF("g", "v")
    val withNulls = tc.union(extra)
    val out = Privacy.tClosenessGroups(withNulls, Seq("g"), "v", tBp = 1000)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    // the null-v row does not change a's size; the null-QI row is its own group
    assert(out(Some("a")) == 4L)
    assert(out(None) == 1L)
  }

  test("tClosenessGroups invariant under repartitioning") {
    val base = Privacy.tClosenessGroups(tc, Seq("g"), "v", 1000)
      .orderBy("g").collect().toSeq
    val rep = Privacy.tClosenessGroups(tc.repartition(7), Seq("g"), "v", 1000)
      .orderBy("g").collect().toSeq
    assert(base == rep)
  }

  test("sf0.001 privacy ladder matches direct recomputation") {
    val dir = "/root/testdata/sf0.001"
    val c = graft.io.Tables.customer(spark, dir)
    val stats = graft.queries.QuerySupport.privacyLadder
    val rows = Privacy.ladderStats(c, stats, k = 10).orderBy("level").collect()
    assert(rows.length == 4)
    val total = c.count()
    // drop_bal level cross-check against a direct group-by
    val direct = c.groupBy("c_nationkey", "c_mktsegment").count()
      .filter(col("count") < 10).agg(coalesce(sum("count"), lit(0L))).as[Long].head()
    assert(rows.last.getLong(3) == direct)
    assert(rows.last.getLong(4) == direct * 10000 / total)
  }
}
