package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [name ...] — the optional name filter is a
    // dev-iteration convenience (tools/verify_local.py takes the same);
    // the driver always passes exactly two.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop persisted sketch/index frames between queries; run deferred
      // teardown (streaming state-store unload) so it can't tax the next
      // query's GC
      spark.catalog.clearCache()
      util.DeferredCleanup.drain()
    }
    // JStr escapes backslash, quote and ALL control chars (<0x20) — a tab
    // or CR in oracle SQL would otherwise make a json.load of the file
    // fail and silently zero the correctness check.
    def q(s: String): String = util.JStr(s).render
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
