package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Locale

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}

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
import org.apache.spark.util.HadoopFSUtils

/** The one schema memo for file sources.
  *
  * Inferring a file source's schema costs a Spark job, and the engine
  * reads the same files many times: a corpus table on every load, a
  * script's source path in each statement, preview and re-analysed view
  * text. Every reader lists the path's leaf files ([[listing]]) and takes
  * the schema inferred for exactly those files ([[schema]]), keyed by
  * (format, path, a digest of every leaf file's path, length and
  * modification time). A write that adds, removes or rewrites a file
  * changes the key, also inside a partition dir, where the root dir's
  * own status stays as it was. Each reference still lists the files, so
  * rows stay fresh. The memo is an access-ordered LRU of at most
  * [[SchemaCacheMax]] entries, so superseded listings age out one by one.
  *
  * The parser that [[GraftExtensions]] installs gives each option-less,
  * non-streaming path relation (``fmt.`path` ``) of every statement the
  * memo's schema. A relation whose first part names no file format (an
  * ordinary `db.t`, which costs no listing), whose path cannot be listed
  * or whose inference fails, or any relation with
  * `spark.sql.runSQLOnFiles` off, is left as parsed, so Spark resolves
  * it (or reports its error) as it always does.
  */
object PathSchemas {

  val SchemaCacheMax = 256

  /** The leaf files under `path` as Spark's file index lists them
    * (hidden and `_`-prefixed names skipped), sorted; `root` is the
    * path's own status.
    */
  final case class Listing(path: String, root: FileStatus,
      files: Seq[FileStatus]) {
    def bytes: Long = files.map(_.getLen).sum

    lazy val digest: String = MessageDigest.getInstance("SHA-256")
      .digest(files.map(f => s"${f.getPath}\u0000${f.getLen}\u0000" +
        s"${f.getModificationTime}\n").mkString.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
  }

  /** `path` listed through its Hadoop `FileSystem`; None if unlistable. */
  def listing(spark: SparkSession, path: String): Option[Listing] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(st.getPath).toSeq
          .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(
            s.getPath.getName))
          .flatMap(leaves)
      val root = fs.getFileStatus(p)
      Some(Listing(path, root, leaves(root).sortBy(_.getPath.toString)))
    } catch { case NonFatal(_) => None }

  private type Key = (String, String, String)
  private[graft] val memo: java.util.Map[Key, Option[StructType]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[Key, Option[StructType]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Key, Option[StructType]]): Boolean =
          size() > SchemaCacheMax
      })

  /** Whether Spark's SQL-on-file rule reads `fmt` as a V1 file format. */
  private def isFileFormat(spark: SparkSession, fmt: String): Boolean =
    try classOf[FileFormat].isAssignableFrom(
        DataSource(spark, className = fmt).providingClass) &&
      DataSource.lookupDataSourceV2(fmt, spark.sessionState.conf).isEmpty
    catch { case NonFatal(_) => false }

  /** The schema Spark infers for `fmt` files as `files` lists them,
    * inferred once per listing; None when inference fails.
    */
  def schema(spark: SparkSession, fmt: String, files: Listing)
      : Option[StructType] = {
    val key = (fmt.toLowerCase(Locale.ROOT), files.path, files.digest)
    Option(memo.get(key)).getOrElse {
      val inferred =
        try Some(DataSource(spark, className = fmt, paths = Seq(files.path))
          .resolveRelation().schema)
        catch { case NonFatal(_) => None }
      memo.put(key, inferred)
      inferred
    }
  }

  /** `plan` with every eligible path relation (in subqueries and CTE
    * definitions too) carrying the memo's schema.
    */
  def rewrite(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    if (!spark.sessionState.conf.runSQLonFile) plan
    else plan.transformDownWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, d) =>
          (n, rewrite(spark, q).asInstanceOf[SubqueryAlias], d)
        })
      case u @ UnresolvedRelation(Seq(fmt, path), opts, false)
          if opts.isEmpty && isFileFormat(spark, fmt) =>
        listing(spark, path).flatMap(schema(spark, fmt, _))
          .map(s => UnresolvedDataSource(fmt, Some(s),
            CaseInsensitiveMap[String](Map.empty), isStreaming = false,
            Seq(path)))
          .getOrElse(u)
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
