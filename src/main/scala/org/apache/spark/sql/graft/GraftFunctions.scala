package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL registration for the graft native expressions.
  *
  * The reference's users drive everything through SQL text executed by
  * `EXECUTION_ENGINE` (`/root/reference/Execution_Engine_Ingestion_
  * Transformatio.sql:66`), so engine capabilities must be reachable from
  * `spark.sql(...)` — not only the Scala Column API. Registering the
  * codegen expressions as named SQL functions closes that surface:
  *
  *   - `graft_dot(array<double>, array<double>)` → double
  *   - `graft_cosine(array<double>, array<double>)` → double
  *   - `graft_simhash64(array<string>)` → bigint
  *   - `graft_minhash_sig(array<string>, numHashes)` → array<bigint>
  *     (numHashes must be an integer literal — it fixes codegen loop
  *     bounds, like the built-in `approx_percentile` accuracy argument)
  *   - `graft_double_bits(double)` → bigint (sort-order-isomorphic bit
  *     image; the basis of range-bucket selection in SQL scripts)
  *   - `graft_topk(string, capacity, k)` → array<struct<value,count>>
  *     (Misra–Gries heavy hitters; capacity/k must be integer literals —
  *     they fix the summary size)
  *
  * Two hook-up paths:
  *   - config `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  *     (the canonical cluster deployment — set by `graft.Sessions`); it
  *     also installs the parser that reuses file-source schemas
  *   - [[GraftFunctions.register]] on an already-created session
  *     (functions only).
  */
object GraftFunctions {

  /** Integer-literal argument of a summary-sizing parameter (capacity,
    * k, depth, width, numHashes): these fix buffer/codegen sizes, so —
    * like the built-in `approx_percentile` accuracy argument — a
    * non-literal is a usage error reported eagerly.
    */
  private def intLit(fn: String, what: String)(e: Expression): Int =
    e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }

  private def entry(name: String, clazz: Class[_], arity: Int, usage: String)(
      make: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name expects $usage")
        make(args)
      })

  private def unary(name: String, clazz: Class[_],
      make: Expression => Expression) =
    entry(name, clazz, 1, "1 argument")(a => make(a(0)))

  private def binary(name: String, clazz: Class[_],
      make: (Expression, Expression) => Expression) =
    entry(name, clazz, 2, "2 arguments")(a => make(a(0), a(1)))

  /** A sketch over `value` sized by two integer literals. */
  private def sketch(name: String, clazz: Class[_], p1: String, p2: String,
      make: (Expression, Int, Int) => Expression) =
    entry(name, clazz, 3, s"(value, $p1, $p2)")(a =>
      make(a(0), intLit(name, p1)(a(1)), intLit(name, p2)(a(2))))

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq(
      binary("graft_dot", classOf[ArrayDot], ArrayDot(_, _)),
      binary("graft_cosine", classOf[CosineSim], CosineSim(_, _)),
      unary("graft_simhash64", classOf[SimHashFromBases], s =>
        SimHashFromBases(BaseHashes(s, md5 = false), 64)),
      binary("graft_minhash_sig", classOf[MinHashSigFromBases], (s, n) =>
        MinHashSigFromBases(BaseHashes(s, md5 = false),
          intLit("graft_minhash_sig", "numHashes")(n))),
      unary("graft_double_bits", classOf[SortableDoubleBits],
        SortableDoubleBits(_)),
      sketch("graft_topk", classOf[TopKSketch], "capacity", "k",
        TopKSketch(_, _, _)),
      sketch("graft_cms", classOf[CmsSketch], "depth", "width",
        CmsSketch(_, _, _)),
      unary("graft_nfc", classOf[NfcNormalize], NfcNormalize(_)),
      unary("graft_nfkc_cf", classOf[NfkcCasefold], NfkcCasefold(_)))

  /** Idempotent registration on an existing session (temp-function scope,
    * overriding any previous registration of the same names). Functions
    * only: a built session's parser cannot change, so a script run on
    * such a session infers each path relation's schema per reference.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
}

/** `spark.sql.extensions` entry point, applied at session build time
  * (works with plain `spark-submit --conf`). It injects the graft
  * functions and the parser that reuses a path relation's schema while
  * its files are unchanged ([[PathSchemas]]); the parser can only be
  * installed here, so [[GraftFunctions.register]] on a built session
  * adds the functions alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectParser((spark, parser) => new PathSchemas.Parser(spark, parser))
  }
}
