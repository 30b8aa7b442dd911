package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Gates

class AssociationRulesSpec extends SparkSpec {
  import spark.implicits._

  private def basketsOf(rows: (String, String)*) =
    rows.toSeq.toDF("basket", "item")

  private def rules(rows: Seq[(String, String)], minSupport: Int = 1,
      maxBasket: Int = 256) =
    AssociationRules.pairRules(basketsOf(rows: _*), Seq("basket"),
        "item", minSupport, maxBasket)
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq

  test("hand reference: counts, confidence and lift match the closed form") {
    // b1{a,b} b2{a,b} b3{a,c} b4{c}: pair(a,b)=2 of 4 baskets;
    // a_n=3 b_n=2 c_n=2
    val out = rules(Seq(("b1", "a"), ("b1", "b"), ("b2", "a"),
      ("b2", "b"), ("b3", "a"), ("b3", "c"), ("b4", "c")))
    val ab = out.find(r => r._1 == "a" && r._2 == "b").get
    assert(ab._3 === 2L && ab._4 === 3L && ab._5 === 2L && ab._6 === 4L)
    assert(math.abs(ab._7 - 2.0 / 3) < 1e-12) // conf a→b
    assert(math.abs(ab._8 - 1.0) < 1e-12)     // conf b→a
    // lift = (2/4) / ((3/4)(2/4)) = 4/3
    assert(math.abs(ab._9 - 4.0 / 3) < 1e-12)
  }

  test("membership not multiplicity: repeated items in a basket count once") {
    val out = rules(Seq(("b1", "a"), ("b1", "a"), ("b1", "b")))
    assert(out.map(r => (r._1, r._2, r._3)) === Seq(("a", "b", 1L)))
    assert(out.head._4 === 1L)
  }

  test("pairs are unordered: one row per pair, item_a < item_b") {
    val out = rules(Seq(("b1", "z"), ("b1", "a")))
    assert(out.map(r => (r._1, r._2)) === Seq(("a", "z")))
  }

  test("minSupport prunes, and singleton baskets still count in supports") {
    // {a,b}, {a,b}, {a}: pair support 2; a_n = 3 includes the singleton
    val out = rules(Seq(("b1", "a"), ("b1", "b"), ("b2", "a"),
      ("b2", "b"), ("b3", "a")), minSupport = 2)
    assert(out.size === 1)
    assert(out.head._4 === 3L && out.head._6 === 3L)
  }

  test("a basket wider than maxBasket is dropped whole — supports stay consistent") {
    val wide = (1 to 10).map(i => ("huge", s"i$i"))
    val out = rules(Seq(("b1", "i1"), ("b1", "i2")) ++ wide,
      maxBasket = 5)
    val r = out.head
    // the huge basket contributes to NOTHING: not pairs, not supports,
    // not the basket total
    assert(r._3 === 1L && r._4 === 1L && r._5 === 1L && r._6 === 1L)
  }

  test("negative association: disjoint-preference items get lift < 1") {
    val rows = (1 to 8).flatMap { i =>
      val b = s"b$i"
      if (i <= 4) Seq((b, "tea"), (b, "biscuit"))
      else Seq((b, "coffee"), (b, "biscuit"))
    } ++ Seq(("b9", "tea"), ("b9", "coffee")) // one mixed basket
    val out = rules(rows)
    val tc = out.find(r => r._1 == "coffee" && r._2 == "tea").get
    assert(tc._9 < 1.0, s"expected lift < 1, got ${tc._9}")
  }

  test("null items are excluded from baskets, supports, and pairs") {
    val df = Seq((Option("b1"), Option("a")), (Option("b1"), None),
      (Option("b1"), Option("b")), (Option("b2"), Option("a")))
      .map { case (b, i) => (b.get, i) }.toDF("basket", "item")
    val out = AssociationRules.pairRules(df, Seq("basket"), "item", 1)
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    // basket b1 = {a, b} (null dropped), supports a=2 b=1, baskets=2
    assert(out.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)) ===
      Seq(("a", "b", 1L, 2L, 1L, 2L)))
  }

  test("plan: pairs expand map-side from the basket frame — no self-join") {
    val baskets = basketsOf(("b1", "a"), ("b1", "b"), ("b2", "a"))
      .groupBy("basket")
      .agg(sort_array(collect_set(col("item"))).as("__items"))
    val plan = AssociationRules.pairRulesPlan(baskets, 1)
      .queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // only the support/total joins survive — none of them joins two
    // basket-grain relations (the pair source is a Generate)
    assert(plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.nonEmpty, "pair expansion must be a Generate")
    assert(joins.size === 3, s"expected the 3 small report joins, " +
      s"got ${joins.size}")
  }

  test("broadcastSupports=false shuffles the support joins, same result") {
    val rows = Seq(("b1", "a"), ("b1", "b"), ("b2", "a"), ("b2", "b"),
      ("b3", "a"))
    val on = rules(rows, minSupport = 1)
    val off = Gates.pastGates(AssociationRules.pairRules(
        basketsOf(rows: _*), Seq("basket"), "item", 1))
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    assert(off === on, "the dial changes the plan, never the rules")
    // and the plan actually differs: no broadcast on the support joins
    val baskets = basketsOf(rows: _*).groupBy("basket")
      .agg(sort_array(collect_set(col("item"))).as("__items"))
    val plan = Gates.pastGates(AssociationRules.pairRulesPlan(baskets, 1))
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    // only the single-row basket total keeps its (harmless) hint
    assert(plan.size === 1,
      s"expected only the scalar-total hint, got ${plan.size}")
  }

  test("releases its persisted basket frame") {
    // clean baseline first: a PRIOR suite's leftover cache entry must
    // not be attributed to pairRules (the assert below is global)
    spark.catalog.clearCache()
    val out = AssociationRules.pairRules(
      basketsOf(("b1", "a"), ("b1", "b")), Seq("basket"), "item", 1)
    assert(out.count() === 1)
    assert(spark.sharedState.cacheManager.isEmpty,
      "pairRules() must unpersist its basket frame before returning")
  }
}
