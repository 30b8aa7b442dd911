package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.{JobCounts, SparkEntry, SparkSpec}

class MarkovAttributionSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, Long, Long, String, Double)*) =
    rows.toSeq.map { case (u, t, id, ch, v) =>
      (u, new Timestamp(t * 1000L), id, ch, v)
    }.toDF("user_id", "ts", "event_id", "event_type", "value")

  private val conv = expr("event_type = 'purchase' AND value > 150")

  private def trans(rows: (Long, Long, Long, String, Double)*) =
    MarkovAttribution.transitions(ev(rows: _*), "user_id", "ts",
        "event_id", "event_type", conv)
      .as[(String, String, Long)].collect().toSet

  test("journey edges: cutoff at first conversion, zero-touch users, " +
      "sub-threshold purchases are touches") {
    val got = trans(
      (1L, 1L, 1L, "view", 0.0), (1L, 2L, 2L, "click", 0.0),
      (1L, 3L, 3L, "purchase", 200.0),
      (1L, 4L, 4L, "view", 0.0),              // post-conversion: ignored
      (2L, 1L, 5L, "view", 0.0),              // never converts
      (3L, 1L, 6L, "click", 0.0), (3L, 2L, 7L, "purchase", 200.0),
      (4L, 1L, 8L, "purchase", 200.0),        // zero-touch converter
      (5L, 1L, 9L, "purchase", 100.0))        // sub-threshold = a touch
    assert(got === Set(
      ("__START__", "view", 2L), ("__START__", "click", 1L),
      ("view", "click", 1L), ("view", "__NULL__", 1L),
      ("click", "__CONV__", 2L),
      ("__START__", "__CONV__", 1L),          // u4
      ("__START__", "purchase", 1L),          // u5's low purchase
      ("purchase", "__NULL__", 1L)))
  }

  test("hand picoprobs: base chain and removal effects are exact") {
    val t = MarkovAttribution.transitions(ev(
      (1L, 1L, 1L, "view", 0.0), (1L, 2L, 2L, "click", 0.0),
      (1L, 3L, 3L, "purchase", 200.0),
      (2L, 1L, 4L, "view", 0.0),
      (3L, 1L, 5L, "click", 0.0), (3L, 2L, 6L, "purchase", 200.0)),
      "user_id", "ts", "event_id", "event_type", conv)
    val got = MarkovAttribution.removalEffects(t, 12)
      .orderBy("channel")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // base: p(click)=1e12, p(view)=5e11, p(START)=2·5e11 DIV 3 +
    // 1e12 DIV 3 = 666666666666; remove view → 333333333333;
    // remove click → 0
    assert(got === Seq(
      ("click", 666666666666L, 0L, 666666666666L,
        666666666666.0 / 999999999999.0),
      ("view", 666666666666L, 333333333333L, 333333333333L,
        333333333333.0 / 999999999999.0)))
  }

  test("no conversions anywhere: effects 0, share NULL") {
    val t = MarkovAttribution.transitions(ev(
      (1L, 1L, 1L, "view", 0.0), (2L, 1L, 2L, "click", 0.0)),
      "user_id", "ts", "event_id", "event_type", conv)
    val got = MarkovAttribution.removalEffects(t, 6)
      .orderBy("channel").collect()
    assert(got.map(_.getLong(3)).toSeq === Seq(0L, 0L))
    assert(got.forall(_.isNullAt(4)), "share must be NULL at zero total")
  }

  test("corpus-scale transition counts do not overflow the picoprob " +
      "product") {
    // cnt · pt would overflow a Long past cnt ≈ 9.2e6; the decimal
    // product must keep the exact chain START → a → CONV at ~1.0
    val big = Seq(
      (MarkovAttribution.Start, "a", 10000000000L),
      ("a", MarkovAttribution.Conv, 10000000000L))
      .toDF("src", "dst", "cnt")
    val r = MarkovAttribution.removalEffects(big, 4)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(r === Seq(("a", MarkovAttribution.TotalPico, 0L,
      MarkovAttribution.TotalPico, 1.0)))
  }

  test("bit-identical under partition layout") {
    val rows = Seq(
      (1L, 1L, 1L, "view", 0.0), (1L, 2L, 2L, "click", 0.0),
      (1L, 3L, 3L, "purchase", 200.0), (2L, 1L, 4L, "view", 0.0))
    def run(parts: Int) = MarkovAttribution.removalEffects(
        MarkovAttribution.transitions(ev(rows: _*).repartition(parts),
          "user_id", "ts", "event_id", "event_type", conv), 12)
      .orderBy("channel")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(run(1) === run(7))
  }

  test("the gate lane's plan runs the same jobs, stages and tasks " +
      "every time") {
    val dir = SparkSpec.corpusDir("0.01")
    def lane(): Unit =
      SparkEntry.queries("events_markov_attribution")(spark, dir).collect()
    lane() // infers the corpus schema once (Tables.schemaCache)
    val counts = (1 to 5).map(i =>
      JobCounts.of(spark, s"graft-markov-$i")(lane()))
    assert(counts.distinct.size === 1, counts)
  }
}
