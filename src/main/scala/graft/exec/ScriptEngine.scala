package graft.exec

import java.util.concurrent.{CompletableFuture, Executors}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.PersistedView
import org.apache.spark.sql.catalyst.plans.logical.{Command, CommandResult,
  InsertIntoDir, ParsedStatement}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.command.CreateViewCommand
import org.apache.spark.sql.execution.datasources.CreateTempViewUsing
import org.apache.spark.sql.graft.PathSchemas

/** Multi-statement SQL script runner with per-statement audit, failure
  * isolation, table detection and bounded previews — the Spark-native
  * equivalent of `EXECUTION_ENGINE`
  * (`/root/reference/Execution_Engine_Ingestion_Transformatio.sql:13-108`).
  *
  * Each statement goes through the full Catalyst pipeline via
  * `spark.sql`; the engine shell is driver-side control flow only.
  *
  * A run is one scope of [[PathSchemas]] on the calling thread: each
  * ``fmt.`path` `` relation (in a statement, a preview, or view text
  * analysed again) infers its schema once per run, and later references
  * reuse it while still listing the files. A statement that may write
  * (kind `Write` below) is a barrier: succeeded or failed, it empties
  * the run's schemas, so a read after it infers again. The scope needs
  * the session's parser from `GraftExtensions` (as `graft.Sessions`
  * sets it); without it every reference infers, as Spark does.
  *
  * Documented deviations:
  *   - the reference `.collect()`s every statement result (`:66`) — a
  *     driver OOM for a large SELECT. Here results are fully executed but
  *     drained on the executors; only ≤5-row previews are ever collected.
  *   - the reference's splitter has a dead branch: its backslash check
  *     unescapes to `ch == '"'` and shadows the double-quote toggle
  *     (`:38-41`), so double-quoted strings are never tracked. This
  *     splitter tracks both quote kinds and in-string backslash escapes
  *     correctly (property-tested).
  */
object ScriptEngine {

  final case class StepResult(step: Int, status: String, sql: String,
      error: Option[String], executionTimeSec: Double)

  final case class ScriptReport(status: String, agentName: String,
      totalStatements: Int, successCount: Int, failedCount: Int,
      executionTimeSec: Double, details: Seq[StepResult],
      tablePreviews: Map[String, Either[String, Seq[String]]],
      error: Option[String] = None)

  val AgentName = "ExecutionEngine"
  val PreviewLimit = 5

  /** P8: drop blank lines and full-line `--` comments (`:26-30`). */
  def stripComments(sql: String): String =
    sql.linesIterator
      .filter(l => l.trim.nonEmpty && !l.trim.startsWith("--"))
      .mkString("\n")

  /** F14: split on `;` outside single/double-quoted strings. A backslash
    * inside a quoted string escapes the next character (so `\'` or `\"`
    * does not close the string); quotes open/close their own kind only.
    */
  def splitStatements(sql: String): Seq[String] = {
    val stmts = Seq.newBuilder[String]
    val current = new StringBuilder
    var inSingle = false
    var inDouble = false
    var escaped = false
    sql.foreach { ch =>
      if (escaped) { current += ch; escaped = false }
      else ch match {
        case '\\' if inSingle || inDouble =>
          current += ch; escaped = true
        case '\'' if !inDouble =>
          inSingle = !inSingle; current += ch
        case '"' if !inSingle =>
          inDouble = !inDouble; current += ch
        case ';' if !inSingle && !inDouble =>
          val s = current.result().trim
          if (s.nonEmpty) stmts += s
          current.clear()
        case c => current += c
      }
    }
    val last = current.result().trim
    if (last.nonEmpty) stmts += last
    stmts.result()
  }

  /** F1: table names referenced by a statement (`:77`). A backticked
    * path keeps its format prefix (``parquet.`/p` ``), so it stays one
    * previewable name.
    */
  private val TableRegex =
    "(?i)(?:from|join|into|update|table)\\s+((?:[a-zA-Z0-9_]+\\.)?`[^`]+`|[a-zA-Z0-9_\\.]+)".r

  def detectTables(stmt: String): Seq[String] =
    TableRegex.findAllMatchIn(stmt).map(_.group(1)).toSeq

  private type Preview = Either[String, Seq[String]]

  /** How a statement may overlap with pending previews: a query changes
    * nothing a preview reads, and a temporary-view definition only adds a
    * name (bound previews keep the plans they analysed). Anything else —
    * including an unparseable statement or one of unknown kind — may
    * rewrite files a preview lists, so it counts as a write.
    */
  private sealed trait Kind
  private case object Query extends Kind
  private case object TempView extends Kind
  private case object Write extends Kind

  // parsed with the run's schemas set aside: sorting a statement must
  // not infer a schema outside its own timing
  private def kindOf(spark: SparkSession, stmt: String): Kind =
    try PathSchemas.suspended(
        spark.sessionState.sqlParser.parsePlan(stmt)) match {
      case v: CreateViewCommand if v.viewType != PersistedView => TempView
      case _: CreateTempViewUsing => TempView
      // INSERT OVERWRITE DIRECTORY parses to neither a command nor a
      // parsed statement, yet it rewrites the files under its path
      case p if !p.exists(n => n.isInstanceOf[Command] ||
          n.isInstanceOf[ParsedStatement] || n.isInstanceOf[InsertIntoDir]) =>
        Query
      case _ => Write
    } catch { case NonFatal(_) => Write }

  private def previewError(e: Exception): Preview =
    Left(s"Error fetching preview: ${e.getMessage}")

  /** Run a script: per-statement execution with timing, error isolation
    * (a failed statement records and continues — `:87-95`), ≤5 previews
    * of ≤5 rows for detected tables (`:59-61,77-85`).
    *
    * A preview is bound (analysed, which fixes the view definitions and
    * file listings it reads) on the caller thread at the state right
    * after its statement, then collected on a per-run pool beside the
    * following statements. A query's previews are bound before it runs
    * and collected while it runs; every pending preview completes before
    * a write statement and before `run` returns.
    */
  def run(spark: SparkSession, sqlCode: String): ScriptReport =
    PathSchemas.scoped(runScoped(spark, sqlCode))

  private def runScoped(spark: SparkSession, sqlCode: String)
      : ScriptReport = {
    val t0 = System.nanoTime()
    def secs(since: Long): Double =
      math.round((System.nanoTime() - since) / 1e7) / 100.0

    if (sqlCode == null || sqlCode.trim.isEmpty)
      return ScriptReport("FAILED", AgentName, 0, 0, 0, 0.0, Nil, Map.empty,
        error = Some("SQL_CODE input is empty or null"))

    val statements = splitStatements(stripComments(sqlCode))
    val details = Seq.newBuilder[StepResult]
    var ok = 0
    var bad = 0
    val previews =
      mutable.LinkedHashMap.empty[String, CompletableFuture[Preview]]
    val pool = Executors.newFixedThreadPool(PreviewLimit, { (r: Runnable) =>
      val t = new Thread(r, "script-preview"); t.setDaemon(true); t
    })
    def awaitPreviews(): Unit = previews.values.foreach(_.join())

    /** Bind previews for the statement's newly detected tables (up to the
      * cap) and start collecting them; returns the tables bound.
      */
    def bindPreviews(stmt: String): Seq[String] =
      detectTables(stmt).distinct.filterNot(previews.contains)
        .take(PreviewLimit - previews.size).map { t =>
          // CollectLimit reads incrementally; a LIMIT under toJSON would
          // plan a global limit with a one-partition shuffle instead
          previews(t) =
            try {
              val df = spark.sql(s"SELECT to_json(struct(*)) FROM $t LIMIT 5")
              df.queryExecution.assertAnalyzed()
              SQLExecution.withThreadLocalCaptured(
                ClassicConversions.castToImpl(spark), pool) {
                try Right(df.collect().toSeq.map(_.getString(0)))
                catch { case e: Exception => previewError(e) }
              }
            } catch { case e: Exception =>
              CompletableFuture.completedFuture(previewError(e))
            }
          t
        }

    try {
      statements.zipWithIndex.foreach { case (stmt, i) =>
        val kind = kindOf(spark, stmt)
        if (kind == Write) awaitPreviews()
        val early = if (kind == Query) bindPreviews(stmt) else Nil
        val s0 = System.nanoTime()
        val failure = try {
          val df = spark.sql(stmt)
          // a command has already run eagerly; drain only query results,
          // on the executors — never collect arbitrary results
          if (!df.queryExecution.commandExecuted.isInstanceOf[CommandResult])
            df.foreach(_ => ())
          None
        } catch { case e: Exception => Some(e) }
        finally if (kind == Write) PathSchemas.invalidate()
        failure match {
          case None =>
            details += StepResult(i + 1, "SUCCESS", stmt, None, secs(s0))
            ok += 1
            if (kind != Query) bindPreviews(stmt)
          case Some(e) =>
            details += StepResult(i + 1, "FAILED", stmt,
              Some(Option(e.getMessage).getOrElse(e.getClass.getName)),
              secs(s0))
            bad += 1
            // a failed statement previews nothing; its tables stay
            // previewable by later statements
            early.foreach(t => previews.remove(t).foreach(_.join()))
        }
      }
      awaitPreviews()
    } finally pool.shutdown()
    ScriptReport("COMPLETED", AgentName, statements.size, ok, bad,
      secs(t0), details.result(),
      previews.map { case (t, f) => t -> f.join() }.toMap)
  }
}
