package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Gates

/** Incremental bloom-prefiltered dedup: exact anti-join equivalence (the
  * no-false-negative invariant) even under a deliberately undersized
  * sketch, broadcast-only join shape, and sketch size bounds.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = (1L to 300L).map(i => (i, s"key_${i % 120}"))
    .toDF("id", "k") // keys key_0..key_119 present
  private val batch = (1000L to 1099L).map(i => (i, s"key_${i % 200}"))
    .toDF("id", "k") // ids 1000..1099 → keys key_0..199: half dup, half new

  private def expected = batch.join(
    corpus.select("k").distinct(), Seq("k"), "left_anti")
    .select("id").as[Long].collect().toSet

  test("equals a plain anti-join at a comfortable sketch size") {
    val bloom = IncrementalDedup.buildBloom(corpus, col("k"), 1000)
    val out = IncrementalDedup.newRows(batch, corpus, "k", bloom)
      .select("id").as[Long].collect().toSet
    assert(out === expected)
  }

  test("still exact when the sketch is undersized (high fpp): false " +
      "positives only cost confirm work, never rows") {
    // 10 expected items for 120 distinct keys → fpp is large by design
    val tiny = IncrementalDedup.buildBloom(corpus, col("k"), 10, fpp = 0.5)
    val out = IncrementalDedup.newRows(batch, corpus, "k", tiny)
      .select("id").as[Long].collect().toSet
    assert(out === expected)
  }

  test("confirm path broadcasts candidates; the corpus is never " +
      "shuffle-joined") {
    val bloom = IncrementalDedup.buildBloom(corpus, col("k"), 1000)
    val plan = IncrementalDedup.newRows(batch, corpus, "k", bloom)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("past the broadcast gate the confirm path falls back to a " +
      "shuffle anti-join — same rows on both sides of the gate") {
    val bloom = IncrementalDedup.buildBloom(corpus, col("k"), 1000)
    // force the fallback: every decision takes its large-input branch
    val out = Gates.pastGates(
        IncrementalDedup.newRows(batch, corpus, "k", bloom))
      .select("id").as[Long].collect().toSet
    assert(out === expected)
    // and the shape really changed: with auto-broadcast off, the
    // fallback plans a shuffle (not driver-broadcast) anti-join
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Gates.pastGates(
          IncrementalDedup.newRows(batch, corpus, "k", bloom))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("EMPTY corpus admits the whole batch (first-ingest-window " +
      "semantics — a null sketch must not null out both filter branches)") {
    val emptyCorpus = corpus.filter(col("id") < 0)
    val bloom = IncrementalDedup.buildBloom(emptyCorpus, col("k"), 1000)
    val out = IncrementalDedup.newRows(batch, emptyCorpus, "k", bloom)
      .select("id").as[Long].collect().toSet
    assert(out === (1000L to 1099L).toSet)
  }

  test("candidate frame is persisted across the gate and releases " +
      "through DeferredCleanup (no cache leak, no third batch scan)") {
    // scope the cache-empty assertion to THIS test: earlier suites leave
    // harness-managed persisted frames (e.g. nearDuplicates' shingle
    // sets) that the gate's clearCache normally drops
    spark.catalog.clearCache()
    graft.util.DeferredCleanup.drain()
    val bloom = IncrementalDedup.buildBloom(corpus, col("k"), 1000)
    val out = IncrementalDedup.newRows(batch, corpus, "k", bloom)
    // the gate count runs at call time; the candidate branch of the
    // returned plan must read the CACHE, not re-evaluate the bloom scan
    assert(out.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"),
      "confirm branches must reuse the persisted candidate frame")
    assert(out.select("id").as[Long].collect().toSet === expected)
    graft.util.DeferredCleanup.drain()
    assert(spark.sharedState.cacheManager.isEmpty,
      "drain() must release the candidate frame")
  }

  test("sizing past the session bloom caps fails loud, naming the confs") {
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.buildBloom(corpus, col("k"),
        expectedItems = 5_000_000_000L)
    }
    assert(e.getMessage.contains("maxNumItems"))
  }

  test("sketch size tracks the bits formula and the build is " +
      "deterministic") {
    val a = IncrementalDedup.buildBloom(corpus, col("k"), 1000, 0.01)
    val b = IncrementalDedup.buildBloom(corpus, col("k"), 1000, 0.01)
    assert(a.toSeq === b.toSeq)
    // −n ln p / ln²2 bits ≈ 9585 bits ≈ 1.2 KB; serialized form adds a
    // small header — assert the right order of magnitude
    assert(a.length > 1000 && a.length < 4096, s"got ${a.length} bytes")
  }
}
