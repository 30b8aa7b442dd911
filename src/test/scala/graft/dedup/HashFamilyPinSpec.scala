package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bit-identity pins for both near-dup hash families over the sf0.01
  * `documents` 3-shingles: every MinHash signature, SimHash fingerprint
  * and persisted band row is reduced to an order-independent checksum
  * (the wrapping sum of `xxhash64(doc_id, output)` over all rows). Any
  * drift in seed, `mod P` reduction, ±1 tie rule or band keying fails
  * here — on either family — before it reaches a lane or invalidates a
  * persisted band index.
  */
class HashFamilyPinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))

  private lazy val shingles = docs
    .select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh"))
    .persist()

  private def checksum(df: DataFrame, cols: String*): Long =
    df.select(xxhash64(cols.map(col): _*)).as[Long].collect().sum

  private def checksumOf(out: org.apache.spark.sql.Column): Long =
    checksum(shingles.select(col("doc_id"), out.as("o")), "doc_id", "o")

  override def afterAll(): Unit = {
    shingles.unpersist()
    super.afterAll()
  }

  test("MinHash signatures and SimHash fingerprints are bit-identical " +
      "for both families") {
    val got = Map(
      "minhash_xxhash" -> checksumOf(Dedup.minHashSignature(col("sh"), 128)),
      "simhash_xxhash" -> checksumOf(SimHash.simhash64(col("sh"))),
      "minhash_md5" -> checksumOf(Dedup.minHashSignatureFromBases(
        Dedup.md5Bases(col("sh")), 128)),
      "simhash_md5" -> checksumOf(SimHash.simhashFromBases(
        Dedup.md5Bases(col("sh")), 60)))
    val want = Map(
      "minhash_xxhash" -> 2766169012370502366L,
      "simhash_xxhash" -> -5591428466238356529L,
      "minhash_md5" -> 8321583138924189078L,
      "simhash_md5" -> 3776479660266896870L)
    assert(got === want)
  }

  test("the SQL-registered hash functions are bit-identical") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    shingles.createOrReplaceTempView("hash_pin_shingles")
    val got = Seq("graft_simhash64(sh)", "graft_minhash_sig(sh, 128)")
      .map(e => checksum(spark.sql(
        s"SELECT doc_id, $e AS o FROM hash_pin_shingles"), "doc_id", "o"))
    assert(got === Seq(-5591428466238356529L, 2766169012370502366L))
  }

  test("persisted corpus band rows are bit-identical for both families") {
    val got = Seq(
      IncrementalNearDup.build(docs, "doc_id", "text"),
      IncrementalNearDup.buildOracled(docs, "doc_id", "text"))
      .map(i => checksum(i.bands, "doc_id", "band_idx", "band_hash"))
    assert(got === Seq(-1345457795372394163L, -1612070614790339104L))
  }
}
