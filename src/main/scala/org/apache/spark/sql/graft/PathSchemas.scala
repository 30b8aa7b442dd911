package org.apache.spark.sql.graft

import java.util.Locale

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias,
  UnresolvedDataSource, UnresolvedWith}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat}
import org.apache.spark.sql.types.{DataType, StructType}

/** Run-scoped schemas of path relations (``fmt.`path` ``).
  *
  * Spark stores a temporary view's SQL text and analyses it again on
  * every reference, and each analysis of a path relation infers the
  * files' schema with a Spark job. A script that reads one directory
  * through several views and previews pays that job once per reference.
  *
  * While a scope is open on the calling thread ([[scoped]]), the parser
  * installed by [[GraftExtensions]] rewrites each option-less,
  * non-streaming path relation into a data-source relation with the
  * schema the scope's first reference inferred. Only the schema is
  * reused: each reference still lists the files, so rows stay fresh.
  * [[invalidate]] forgets every schema (a statement that may rewrite
  * files calls it). A relation whose inference fails, with
  * `spark.sql.runSQLOnFiles` off or outside a scope, is left as parsed,
  * so Spark resolves it (or reports its error) as it always does.
  *
  * A directory needs this scope rather than a key on its modification
  * time (as `graft.io.Tables.schemaCache` keys single files): rewriting a
  * file inside a partition dir does not change the root dir's mtime.
  */
object PathSchemas {

  /** The open scope: each (format, path) read so far and its schema,
    * None where the relation stays as parsed (a failed inference, or a
    * two-part table name that names no file format).
    */
  private val current =
    new ThreadLocal[mutable.Map[(String, String), Option[StructType]]]

  /** Runs `body` with a scope open on this thread; inside an open scope
    * it joins that scope.
    */
  def scoped[A](body: => A): A =
    if (current.get != null) body
    else {
      current.set(mutable.HashMap.empty)
      try body finally current.remove()
    }

  /** Runs `body` with this thread's scope, if any, set aside. */
  def suspended[A](body: => A): A = {
    val open = current.get
    current.remove()
    try body finally if (open != null) current.set(open)
  }

  /** Forgets everything the open scope holds (no-op outside one). */
  def invalidate(): Unit = Option(current.get).foreach(_.clear())

  /** The relation's file schema, as Spark's SQL-on-file rule would infer
    * it; None when that rule would not produce a file relation from it.
    */
  private def infer(spark: SparkSession, fmt: String, path: String)
      : Option[StructType] =
    try {
      val ds = DataSource(spark, className = fmt, paths = Seq(path))
      if (!classOf[FileFormat].isAssignableFrom(ds.providingClass) ||
          DataSource.lookupDataSourceV2(fmt, spark.sessionState.conf)
            .isDefined) None
      else Some(ds.resolveRelation().schema)
    } catch { case NonFatal(_) => None }

  /** `plan` with every eligible path relation (in subqueries and CTE
    * definitions too) carrying the open scope's schema.
    */
  def rewrite(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    val known = current.get
    if (known == null || !spark.sessionState.conf.runSQLonFile) plan
    else plan.transformDownWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, d) =>
          (n, rewrite(spark, q).asInstanceOf[SubqueryAlias], d)
        })
      case u @ UnresolvedRelation(Seq(fmt, path), opts, false)
          if opts.isEmpty =>
        known.getOrElseUpdate((fmt.toLowerCase(Locale.ROOT), path),
            infer(spark, fmt, path))
          .map(s => UnresolvedDataSource(fmt, Some(s),
            CaseInsensitiveMap[String](Map.empty), isStreaming = false,
            Seq(path)))
          .getOrElse(u)
    }
  }

  /** The session parser with [[rewrite]] applied to every parsed plan
    * and view text.
    */
  final class Parser(spark: SparkSession, delegate: ParserInterface)
      extends ParserInterface {
    override def parsePlan(sqlText: String): LogicalPlan =
      rewrite(spark, delegate.parsePlan(sqlText))
    override def parsePlanWithParameters(sqlText: String,
        ctx: ParameterContext): LogicalPlan =
      rewrite(spark, delegate.parsePlanWithParameters(sqlText, ctx))
    override def parseQuery(sqlText: String): LogicalPlan =
      rewrite(spark, delegate.parseQuery(sqlText))
    override def parseExpression(sqlText: String): Expression =
      delegate.parseExpression(sqlText)
    override def parseTableIdentifier(sqlText: String): TableIdentifier =
      delegate.parseTableIdentifier(sqlText)
    override def parseFunctionIdentifier(sqlText: String)
        : FunctionIdentifier =
      delegate.parseFunctionIdentifier(sqlText)
    override def parseMultipartIdentifier(sqlText: String): Seq[String] =
      delegate.parseMultipartIdentifier(sqlText)
    override def parseRoutineParam(sqlText: String): StructType =
      delegate.parseRoutineParam(sqlText)
    override def parseTableSchema(sqlText: String): StructType =
      delegate.parseTableSchema(sqlText)
    override def parseDataType(sqlText: String): DataType =
      delegate.parseDataType(sqlText)
  }
}
