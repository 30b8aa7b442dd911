package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dq.{FileDq, TableDq}
import graft.interp.Objective
import graft.io.{Discovery, Tables}
import graft.profile.Profiler
import graft.security.Pii

/** `dq_sweep`: the reference's DQ and discovery procedures swept over a
  * catalog, read-only. Call kinds (manifest `calls`, made in order):
  *  - `dq_table`: Tables.load → Profiler.profile → TableDq.score;
  *  - `file_dq`: Discovery.load of a staged export → Profiler.profile →
  *    FileDq.report;
  *  - `pii_detect`: Tables.load → Pii.detectColumns;
  *  - `objective`: Discovery.fileDefinition of staged exports →
  *    Objective.filterRequiredMetadata.
  */
final class DqSweep(m: Main.Manifest) extends Workload {
  import Main._

  private val dataDir = str(m, "data_dir")
  private val now = lit(str(m, "now")).cast("timestamp")
  private val calls = list(m, "calls")
  private val warm = list(m, "warmup")

  override def setup(spark: SparkSession): Unit = {
    // table registration: resolve every table the sweep reads once (the
    // engine caches the inferred schema)
    calls.filter(c => c.containsKey("scale"))
      .map(c => (str(c, "scale"), str(c, "table"))).distinct
      .foreach { case (sf, t) => Tables.load(spark, s"$dataDir/$sf", t) }
    // The warm-up makes its cycle twice: after one pass the small-table
    // calls still ran about 25% faster one cycle later, as the JIT caught
    // up. Its calls run on two threads: they only need their plans
    // compiled and run, and overlapping them shortens set-up.
    val t = new Tracer(spark.sparkContext, false)
    try for (_ <- 1 to 2) {
      val (a, b) = warm.splitAt(warm.size / 2)
      val other = Future(b.foreach(c => call(spark, t, c)))(
        ExecutionContext.global)
      a.foreach(c => call(spark, t, c))
      Await.result(other, Duration.Inf)
    } finally t.stop()
  }

  override def next(spark: SparkSession, t: Tracer, i: Int)
      : Seq[Call] = {
    val c = calls(i)
    Seq(timed(str(c, "kind"), str(c, "key"))(call(spark, t, c))(identity))
  }

  private def call(spark: SparkSession, t: Tracer, c: Manifest): Js =
    str(c, "kind") match {
      case "dq_table" =>
        val dir = s"$dataDir/${str(c, "scale")}"
        val df = t.span("io", "Tables.load")(
          Tables.load(spark, dir, str(c, "table"), parallelize = true))()
        val p = t.span("profile", "Profiler.profile")(
          Profiler.profile(df, now = now))(forced)
        rowsJs(t.span("dq", "TableDq.score")(TableDq.score(p))(forced))
      case "file_dq" =>
        val df = t.span("io", "Discovery.load")(
          Discovery.load(spark, str(c, "path"))._1)()
        val p = t.span("profile", "Profiler.profile")(
          Profiler.profile(df, now = now, withRaw = true))(forced)
        rowsJs(t.span("dq", "FileDq.report")(FileDq.report(df, p))(forced))
      case "pii_detect" =>
        val dir = s"$dataDir/${str(c, "scale")}"
        val df = t.span("io", "Tables.load")(
          Tables.load(spark, dir, str(c, "table")))()
        val found = t.span("security", "Pii.detectColumns")(
          Pii.detectColumns(df))()
        Js.obj(found.toSeq.sorted.map { case (k, v) => k -> Js.str(v) }: _*)
      case "objective" =>
        val meta: Objective.Metadata = strs(c, "paths").map { p =>
          val fd = t.span("io", "Discovery.fileDefinition")(
            Discovery.fileDefinition(spark, p))()
          fd.fileName -> fd.columns.map(cd => (cd.columnName, cd.`type`))
        }.toMap
        val kept = t.span("interp", "Objective.filterRequiredMetadata")(
          Objective.filterRequiredMetadata(str(c, "objective"), meta))()
        Js.arr(kept.keys.toSeq.sorted.map(Js.str))
    }
}
