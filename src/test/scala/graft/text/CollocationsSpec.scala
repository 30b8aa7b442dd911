package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CollocationsSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(texts: String*) = texts.toSeq.toDF("text")

  test("hand reference: counts and lift match the closed form") {
    // corpus: "a b", "a b", "a c" → T=6 tokens, N=3 pairs
    // uni: a=3 b=2 c=1; pairs: (a,b)=2 (a,c)=1
    val out = Collocations
      .topBigrams(docsOf("a b", "a b", "a c"), "text", minCount = 1, k = 10)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3, r._4, r._5)) === Seq(
      ("a", "b", 2L, 3L, 2L), ("a", "c", 1L, 3L, 1L)))
    // lift(a,b) = (2/3) / ((3/6)(2/6)) = 4; lift(a,c) = (1/3)/((3/6)(1/6)) = 4
    out.foreach(r => assert(math.abs(r._6 - 4.0) < 1e-9))
  }

  test("ties order by (lift desc, w1, w2) — the limit boundary is total") {
    // both pairs tie at lift 4 (above); k=1 must keep (a,b), the lower key
    val out = Collocations
      .topBigrams(docsOf("a b", "a b", "a c"), "text", minCount = 1, k = 1)
      .select("w1", "w2").as[(String, String)].collect().toSeq
    assert(out === Seq(("a", "b")))
  }

  test("minCount filters rare pairs before ranking") {
    val out = Collocations
      .topBigrams(docsOf("a b", "a b", "a c"), "text", minCount = 2, k = 10)
      .select("w1", "w2").as[(String, String)].collect().toSeq
    assert(out === Seq(("a", "b")))
  }

  test("collocation beats chance: a glued pair outranks independent fillers") {
    // "x y" always adjacent; u/v/w shuffled independently
    val docs = docsOf(
      "x y u v w", "u x y v w", "u v x y w", "w v u x y",
      "x y w u v", "v w x y u")
    val top = Collocations.topBigrams(docs, "text", minCount = 2, k = 3)
      .select("w1", "w2").as[(String, String)].collect().toSeq
    assert(top.head === (("x", "y")))
  }

  test("single-token and empty docs contribute no pairs but count tokens") {
    val out = Collocations
      .topBigrams(docsOf("a b", "a", ""), "text", minCount = 1, k = 10)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) === Seq(("a", "b", 1L)))
    // T counts the lone "a" too: lift = (1/1) / ((2/3)(1/3)) = 4.5
    assert(math.abs(out.head._6 - 4.5) < 1e-9)
  }

  test("empty corpus yields an empty report") {
    assert(Collocations.topBigrams(docsOf(), "text").count() === 0)
  }

  test("plan: TakeOrdered cut, broadcast unigram joins, no cartesian corpus join") {
    val toks = docsOf("a b c", "b c d")
      .select(TextAnalysis.tokens(col("text")).as("__toks"))
    val plan = Collocations.topBigramsPlan(toks, 1, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must be a TakeOrdered, not a global sort")
    assert(plan.contains("BroadcastHashJoin"),
      "unigram counts must broadcast onto the pair frame")
    assert(!plan.contains("CartesianProduct"))
  }

  test("releases its persisted tokens frame (no cache leak per call)") {
    // clean baseline first: a PRIOR suite's leftover cache entry must
    // not be attributed to topBigrams (the assert below is global)
    spark.catalog.clearCache()
    val docs = docsOf("a b", "b c")
    val out = Collocations.topBigrams(docs, "text", minCount = 1, k = 5)
    assert(out.count() === 2)
    assert(spark.sharedState.cacheManager.isEmpty,
      "topBigrams() must unpersist its tokens frame before returning")
  }
}
