package graft.dedup

import graft.SparkSpec

/** Operators that return a lazy plan over their own caches defer the
  * release ([[graft.util.Frames.deferred]]): after the caller consumes
  * the result, one [[graft.util.DeferredCleanup.drain]] leaves the cache
  * manager empty.
  */
class DeferredReleaseSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  /** Consume `result`, check its caches are held, drain, check none is
    * left.
    */
  private def releasedAtDrain(result: => org.apache.spark.sql.DataFrame)
      : Unit = {
    // scope the empty-cache assertion to this test: earlier suites on the
    // shared session may have left caches their harness drops
    spark.catalog.clearCache()
    graft.util.DeferredCleanup.drain()
    result.collect()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "the lazy result must read its caches until the caller drains")
    graft.util.DeferredCleanup.drain()
    assert(spark.sharedState.cacheManager.isEmpty,
      "drain() must release every cache under the returned plan")
  }

  test("Dedup.nearDuplicates: collect then drain leaves no cache") {
    releasedAtDrain(Dedup.nearDuplicates(docs, "doc_id", "text"))
  }

  test("Dedup.jaccardOnPairs: collect then drain leaves no cache") {
    import spark.implicits._
    releasedAtDrain(Dedup.jaccardOnPairs(
      Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"), docs, "doc_id",
      "text", 3))
  }

  test("SimHash.nearDuplicates: collect then drain leaves no cache") {
    releasedAtDrain(SimHash.nearDuplicates(docs, "doc_id", "text"))
  }

  test("EmbeddingDedup.lshCandidatePairs: collect then drain leaves no " +
      "cache") {
    releasedAtDrain(EmbeddingDedup.lshCandidatePairs(
      spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id",
      "embedding"))
  }
}
