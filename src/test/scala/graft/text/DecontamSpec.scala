package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Gates

class DecontamSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("planted contamination is flagged with exact gram counts") {
    // eval doc shares exactly one 5-gram window with corpus doc 10;
    // corpus doc 11 is clean.
    val eval = docs(1L -> "alpha beta gamma delta epsilon zeta")
    val corpus = docs(
      10L -> "xx alpha beta gamma delta epsilon yy",
      11L -> "one two three four five six seven")
    val out = Decontam.overlapReport(corpus, eval, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 10 has 3 distinct 5-grams; only "alpha beta gamma delta
    // epsilon" appears in the eval set (eval contributes its two 5-gram
    // windows).
    assert(out.toSeq == Seq((10L, 1L, 3L)))
  }

  test("short docs contaminate via their whole text (wordShingles rule)") {
    val eval = docs(1L -> "tiny fragment")
    val corpus = docs(20L -> "tiny fragment") // < n tokens → one gram
    val out = Decontam.overlapReport(corpus, eval, "doc_id", "text", 5)
      .collect()
    assert(out.length == 1 &&
      out(0).getLong(1) == 1L && out(0).getLong(2) == 1L)
  }

  test("disjoint corpora produce an empty report") {
    val eval = docs(1L -> "alpha beta gamma delta epsilon")
    val corpus = docs(30L -> "one two three four five six")
    assert(Decontam.overlapReport(corpus, eval, "doc_id", "text", 5)
      .count() == 0L)
  }

  test("report equals an independent driver-side n-gram reference") {
    def grams(text: String, n: Int): Set[String] = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.isEmpty) Set.empty
      else if (toks.size <= n) Set(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val rnd = new scala.util.Random(31)
    def doc(len: Int): String =
      Seq.fill(len)(s"w${rnd.nextInt(12)}").mkString(" ")
    (1 to 5).foreach { trial =>
      val n = 3
      val evalDocs = (1 to 10).map(i => (i.toLong, doc(4 + rnd.nextInt(8))))
      val corpusDocs =
        (11 to 40).map(i => (i.toLong, doc(2 + rnd.nextInt(10))))
      val evalSet = evalDocs.flatMap(d => grams(d._2, n)).toSet
      val expected = corpusDocs.flatMap { case (id, text) =>
        val g = grams(text, n)
        val m = g.count(evalSet.contains)
        if (m > 0) Some((id, m.toLong, g.size.toLong)) else None
      }.toSet
      val got = Decontam.overlapReport(
          corpusDocs.toDF("doc_id", "text"),
          evalDocs.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == expected, s"trial $trial")
    }
  }

  test("shuffle-join scale path returns the identical report") {
    val rnd = new scala.util.Random(47)
    def doc(len: Int): String =
      Seq.fill(len)(s"w${rnd.nextInt(10)}").mkString(" ")
    val eval = (1 to 8).map(i => (i.toLong, doc(6))).toDF("doc_id", "text")
    val corpus =
      (11 to 40).map(i => (i.toLong, doc(8))).toDF("doc_id", "text")
    val cArr = Decontam.docGramArrays(corpus, "doc_id", "text", 3).persist()
    val eArr = Decontam.docGramArrays(eval, "doc_id", "text", 3).persist()
    try {
      def rows = Decontam
        .overlapReportFromArrays(cArr, eArr, "doc_id")
        .orderBy("doc_id").collect().toSeq
      assert(rows == Gates.pastGates(rows))
      assert(rows.nonEmpty)
    } finally {
      cArr.unpersist(blocking = false)
      eArr.unpersist(blocking = false): Unit
    }
  }

  test("scrubSpans removes exactly the eval-covered windows and rebuilds " +
      "the text; clean docs pass through byte-identical") {
    val eval = docs(1L -> "e1 e2 e3 e4 e5")
    val corpus = docs(
      10L -> "a1 a2 e1 e2 e3 e4 e5 a3 a4", // one planted window, 5 tokens
      11L -> "c1 c2 c3 c4 c5 c6") // clean
    val out = Decontam.scrubSpans(corpus, eval, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
    val d10 = out(0)
    assert(d10.getAs[Long]("n_tokens") === 9L)
    assert(d10.getAs[Long]("removed_tokens") === 5L)
    assert(d10.getAs[Long]("kept_tokens") === 4L)
    // surviving text is "a1 a2 a3 a4"
    val expect10 = java.security.MessageDigest.getInstance("MD5")
      .digest("a1 a2 a3 a4".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(d10.getAs[String]("clean_md5") === expect10)
    val d11 = out(1)
    assert(d11.getAs[Long]("removed_tokens") === 0L)
    val expect11 = java.security.MessageDigest.getInstance("MD5")
      .digest("c1 c2 c3 c4 c5 c6".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(d11.getAs[String]("clean_md5") === expect11)
  }

  test("scrubSpans: a short doc equal to an eval fragment scrubs " +
      "ENTIRELY (whole-doc window semantics); empty docs survive as " +
      "empty") {
    val eval = docs(1L -> "tiny fragment here")
    val corpus = docs(10L -> "tiny fragment here", 11L -> "")
    val out = Decontam.scrubSpans(corpus, eval, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("kept_tokens") === 0L)
    assert(out(0).getAs[Long]("removed_tokens") === 3L)
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(out(0).getAs[String]("clean_md5") === emptyMd5)
    assert(out(1).getAs[Long]("n_tokens") === 0L)
    assert(out(1).getAs[String]("clean_md5") === emptyMd5)
  }

  test("scrubSpans: overlapping hit windows union their coverage") {
    // eval contains two overlapping 5-grams of the corpus doc: windows
    // at pos 0 and pos 2 → union covers tokens 0..6 (7 tokens), not 10
    val eval = docs(
      1L -> "w1 w2 w3 w4 w5",
      2L -> "w3 w4 w5 w6 w7")
    val corpus = docs(10L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9")
    val out = Decontam.scrubSpans(corpus, eval, "doc_id", "text", n = 5)
      .head
    assert(out.getAs[Long]("removed_tokens") === 7L)
    assert(out.getAs[Long]("kept_tokens") === 2L)
  }

  test("scrubSpans releases its persisted frames (a long-lived session " +
      "must not leak two cached frames per invocation)") {
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    assert(cm.isEmpty, "precondition: no cached frames")
    val eval = docs(1L -> "e1 e2 e3 e4 e5")
    val corpus = docs(10L -> "a1 a2 e1 e2 e3 e4 e5 a3 a4")
    val out = Decontam.scrubSpans(corpus, eval, "doc_id", "text", n = 5)
    assert(out.count() === 1)
    assert(cm.isEmpty,
      "evalArrays/base must be unpersisted once the result materializes")
  }

  test("eval gram set joins broadcast (no corpus-side gram shuffle)") {
    val eval = docs(1L -> "alpha beta gamma delta epsilon")
    val corpus = docs(10L -> "alpha beta gamma delta epsilon zeta")
    val plan = Decontam.overlapReport(corpus, eval, "doc_id", "text", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast probe of the eval gram set, got:\n$plan")
  }
}
