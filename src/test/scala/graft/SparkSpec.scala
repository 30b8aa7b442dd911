package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (same config as the driver gates). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` and asserts it left no NEW persisted RDDs behind
    * (cache-lifecycle pin: an operator that persists must release —
    * itself, or via its documented caller-release contract exercised by
    * the test). Pre-existing entries from earlier suites on the shared
    * session are excluded; async `unpersist(blocking = false)` gets a
    * short drain window before the check fails.
    */
  def assertNoNewPersists[A](body: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    def leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    val deadline = System.nanoTime() + 2000000000L
    while (leaked.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(leaked.isEmpty, s"persisted RDDs leaked by body: $leaked")
    out
  }

  /** Replaces the one data file under `dir` with `df`'s rows, written
    * under the same file name through the Hadoop `FileSystem`: the
    * status of `dir`'s parent (a partitioned table's root) stays as it
    * was.
    */
  def rewriteInPlace(dir: String, df: DataFrame): Unit = {
    val staged = java.nio.file.Files.createTempDirectory("graft_rewrite")
      .toString + "/staged"
    df.coalesce(1).write.parquet(staged)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def dataFile(d: String) = fs.listStatus(new Path(d)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq match {
        case Seq(f) => f
        case found => sys.error(s"$d holds ${found.size} data files")
      }
    val target = dataFile(dir)
    assert(fs.delete(target, false))
    assert(fs.rename(dataFile(staged), target))
    fs.delete(new Path(staged), true): Unit
  }

  override def afterAll(): Unit = {
    // Deferred teardown from any streams this suite ran (state-store
    // unload) — keeps finished streams' state maps from taxing later
    // suites' GC (the r6 scalatest win: 17 → 13 min).
    util.DeferredCleanup.drain()
    super.afterAll()
  }
}

object SparkSpec {
  // One session per JVM: sbt forks a single test JVM; per-suite sessions
  // would pay ~5s startup each.
  lazy val session: SparkSession = Sessions.local("graft-test")

  /** The corpus directory of scale factor `sf` (e.g. "0.01"), as the
    * table in the repo's TESTDATA.md lists it.
    */
  def corpusDir(sf: String): String = {
    val src = scala.io.Source.fromFile("TESTDATA.md", "UTF-8")
    try src.getLines().collectFirst {
      case l if l.startsWith(s"| $sf |") => l.split('`')(1).stripSuffix("/")
    }.getOrElse(sys.error(s"TESTDATA.md lists no sf $sf"))
    finally src.close()
  }
}
