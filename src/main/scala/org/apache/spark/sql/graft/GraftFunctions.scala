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
  *     (the canonical cluster deployment — set by `graft.Sessions`)
  *   - [[GraftFunctions.register]] on an already-created session.
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

  private def binary(name: String, clazz: Class[_],
      make: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$name expects 2 arguments")
        make(args(0), args(1))
      })

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq(
      binary("graft_dot", classOf[ArrayDot], ArrayDot(_, _)),
      binary("graft_cosine", classOf[CosineSim], CosineSim(_, _)),
      (FunctionIdentifier("graft_simhash64"),
        new ExpressionInfo(classOf[SimHashFromBases].getName,
          "graft_simhash64"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "graft_simhash64 expects 1 argument")
          SimHashFromBases(BaseHashes(args.head, md5 = false), 64)
        }),
      (FunctionIdentifier("graft_minhash_sig"),
        new ExpressionInfo(classOf[MinHashSigFromBases].getName,
          "graft_minhash_sig"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_minhash_sig expects 2 arguments")
          MinHashSigFromBases(BaseHashes(args.head, md5 = false),
            intLit("graft_minhash_sig", "numHashes")(args(1)))
        }),
      (FunctionIdentifier("graft_double_bits"),
        new ExpressionInfo(classOf[SortableDoubleBits].getName,
          "graft_double_bits"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "graft_double_bits expects 1 argument")
          SortableDoubleBits(args.head)
        }),
      (FunctionIdentifier("graft_topk"),
        new ExpressionInfo(classOf[TopKSketch].getName, "graft_topk"),
        (args: Seq[Expression]) => {
          require(args.length == 3,
            "graft_topk expects (value, capacity, k)")
          TopKSketch(args.head,
            intLit("graft_topk", "capacity")(args(1)),
            intLit("graft_topk", "k")(args(2)))
        }),
      (FunctionIdentifier("graft_cms"),
        new ExpressionInfo(classOf[CmsSketch].getName, "graft_cms"),
        (args: Seq[Expression]) => {
          require(args.length == 3,
            "graft_cms expects (value, depth, width)")
          CmsSketch(args.head,
            intLit("graft_cms", "depth")(args(1)),
            intLit("graft_cms", "width")(args(2)))
        }),
      (FunctionIdentifier("graft_nfc"),
        new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "graft_nfc expects 1 argument")
          NfcNormalize(args.head)
        }),
      (FunctionIdentifier("graft_nfkc_cf"),
        new ExpressionInfo(classOf[NfkcCasefold].getName,
          "graft_nfkc_cf"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "graft_nfkc_cf expects 1 argument")
          NfkcCasefold(args.head)
        }))

  /** Idempotent registration on an existing session (temp-function scope,
    * overriding any previous registration of the same names).
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
}

/** `spark.sql.extensions` entry point injecting the graft functions at
  * session build time (works with plain `spark-submit --conf`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}
