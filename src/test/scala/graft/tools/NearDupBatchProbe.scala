package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Fixed-corpus, growing-BATCH-COUNT probe for the streaming near-dup
  * lane (r12 verdict directive 8): the x1/x3/x10 corpus probe cannot
  * isolate the per-micro-batch term (state listing + small-file
  * planning over the accumulated index), so this probe drains the SAME
  * corpus in {5, 20, 80} micro-batches, with compaction effectively
  * OFF (compactEvery ≫ batches) and ON (compactEvery 16), timing the
  * drain only (source staging excluded). The OFF column at 80 batches
  * is the pre-r13 cost shape (one subdir pair per batch, probe reads
  * O(batches) dirs); the ON column is what the generation fold buys.
  * Run: `sbt "Test/runMain graft.tools.NearDupBatchProbe [sfDir]"`.
  */
object NearDupBatchProbe {

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("graft-neardup-batch-probe")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val docs = graft.io.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    for (batches <- Seq(5, 20, 80)) {
      // one mtime-ordered file per micro-batch, deterministic
      // round-robin membership; staged once per batch count
      val src = Files.createTempDirectory(s"ndbp_src_$batches").toString
      (0 until batches).foreach { i =>
        docs.filter(pmod(col("doc_id"), lit(batches)) === i)
          .coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(30)
      }
      val schema = spark.read.parquet(src).schema
      for (compactEvery <- Seq(1000000, 16)) {
        val state = Files.createTempDirectory("ndbp_state").toString
        val out = Files.createTempDirectory("ndbp_out").toString
        val ckpt = Files.createTempDirectory("ndbp_ckpt").toString
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        System.gc()
        val t0 = System.nanoTime()
        graft.streaming.StreamingPipelines.nearDupStream(
            stream, "doc_id", "text", state, out, ckpt,
            compactEvery = compactEvery)
          .awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        val matches = graft.streaming.StreamingPipelines
          .nearDupMatches(spark, out).count()
        val stateDirs = Option(new java.io.File(state).listFiles())
          .map(_.count(_.getName.matches("b\\d+"))).getOrElse(0)
        println(f"""NEARDUP_BATCH {"batches":$batches,""" +
          f""""compactEvery":$compactEvery,"sec":$sec%.3f,""" +
          f""""matches":$matches,"tail_dirs":$stateDirs}""")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
