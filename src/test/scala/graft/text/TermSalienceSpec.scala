package graft.text

import graft.SparkSpec
import graft.util.Gates

/** Salient-term ranking: tf dominates, df breaks ties (rarer wins),
  * lexicographic last; stopword/short-term exclusion; top-k cut.
  */
class TermSalienceSpec extends SparkSpec {
  import spark.implicits._

  test("ranking: tf desc, then df asc, then term asc; k cut applies") {
    val docs = Seq(
      // doc 1: "apple" tf=3; "banana" tf=2; "cherry" tf=2 but rarer
      // corpus-wide (banana also in doc 2) → cherry outranks banana
      (1L, "apple apple apple banana banana cherry cherry zebra"),
      (2L, "banana kiwi kiwi kiwi"))
      .toDF("doc_id", "text")
    val out = TermSalience.topTerms(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("rank")))
    assert(d1.toSeq === Seq(("apple", 1L), ("cherry", 2L), ("banana", 3L)))
    // zebra (tf=1) fell to the k cut
    val d2 = out.filter(_.getLong(0) == 2L).map(_.getAs[String]("term"))
    assert(d2.head === "kiwi")
  }

  test("broadcastDf=false (dictionary too big for the driver) returns " +
      "the identical ranking through a shuffle join") {
    val docs = Seq(
      (1L, "apple apple apple banana banana cherry cherry zebra"),
      (2L, "banana kiwi kiwi kiwi"))
      .toDF("doc_id", "text")
    val hinted = TermSalience.topTerms(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank").collect().toSeq
    val fallback = Gates.pastGates(
        TermSalience.topTerms(docs, "doc_id", "text", k = 3))
      .orderBy("doc_id", "rank").collect().toSeq
    assert(fallback === hinted)
    // the hint really is gone: with auto-broadcast off, no driver
    // broadcast remains in the fallback plan
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Gates.pastGates(
          TermSalience.topTerms(docs, "doc_id", "text", k = 3))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("stopwords and short terms are excluded; empty docs are absent") {
    val docs = Seq(
      (1L, "the and of it is in xy qq substantial substantial"),
      (2L, "the a an")) // nothing qualifies
      .toDF("doc_id", "text")
    val out = TermSalience.topTerms(docs, "doc_id", "text")
    val terms = out.select("term").as[String].collect().toSet
    assert(terms === Set("substantial"))
    assert(out.select("doc_id").as[Long].collect().toSet === Set(1L))
  }

  test("df counts DOCUMENTS containing the term, not occurrences") {
    val docs = Seq(
      (1L, "shared shared shared unique1"),
      (2L, "shared other1 other2"))
      .toDF("doc_id", "text")
    val out = TermSalience.topTerms(docs, "doc_id", "text", k = 10)
      .collect().map(r => (r.getAs[String]("term"),
        r.getAs[Long]("df"))).toMap
    assert(out("shared") === 2L) // 4 occurrences, 2 docs
    assert(out("unique1") === 1L)
  }
}
