package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.{ArrayDot, BaseHashes, ColumnShim, CosineSim, MinHashSigFromBases, SimHashFromBases, SortableDoubleBits}

import graft.SparkSpec

/** The six array/double native expressions evaluated over the same
  * parquet-backed rows on both of Spark's evaluation paths — whole-stage
  * codegen with codegen forced for every expression, and no codegen at
  * all (interpreted `eval`) — must give exactly equal results, doubles
  * compared by their bits.
  */
class KernelPathsSpec extends SparkSpec {
  import spark.implicits._

  private val P = 2147483647L

  private def native(e: Expression): Column = ColumnShim.column(e)
  private def expr(c: String): Expression = ColumnShim.expression(col(c))

  /** Parquet-backed copy of `df`, so no optimizer rule can fold the
    * expressions at plan time.
    */
  private def parquetOf(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_kernel_paths")
    tmpDirs += dir.toFile
    df.write.parquet(dir.resolve("t").toString)
    spark.read.parquet(dir.resolve("t").toString)
  }

  private val tmpDirs = scala.collection.mutable.Buffer[java.io.File]()

  override def afterAll(): Unit = {
    tmpDirs.foreach(graft.util.Staging.deleteRecursively)
    super.afterAll()
  }

  private val Paths = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConfs[A](confs: Map[String, String])(body: => A): A = {
    val before = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Doubles by their raw bits (NaN and -0.0 compare exactly). */
  private def exact(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(exact)
    case r: Row => r.toSeq.map(exact)
    case other => other
  }

  /** `cols` over `src` sorted by `id`, collected on each path; asserts
    * the two paths agree and returns the rows.
    */
  private def onBothPaths(src: DataFrame, cols: Column*): Seq[Row] = {
    val results = Paths.map { case (path, confs) =>
      withConfs(confs) {
        // no shuffle, so no adaptive wrapper hides the codegen stages
        val df = src.select(col("id") +: cols: _*)
        val stages = df.queryExecution.executedPlan.collect {
          case w: WholeStageCodegenExec => w
        }
        assert(stages.nonEmpty === (path == "codegen"), path)
        df.collect().toSeq.sortBy(_.getInt(0))
      }
    }
    assert(results(0).map(exact) === results(1).map(exact))
    results(0)
  }

  test("graft_dot and graft_cosine agree across paths") {
    val src = parquetOf(Seq[(Int, Seq[Double], Seq[Double])](
      (1, Seq(1.5, -2.0, 3.25), Seq(4.0, 0.5)), // unequal lengths
      (2, Seq(0.0, 0.0), Seq(1.0, 2.0)), // zero norm
      (3, Seq.empty, Seq.empty),
      (4, Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1)),
      (5, Seq(-0.0), Seq(1.0)),
      (6, Seq(Double.NaN, 1.0), Seq(1.0, 1.0)),
      (7, Seq(1e308, 1e308), Seq(10.0, 10.0)))
      .toDF("id", "a", "b")
      .union(Seq(8).toDF("id").selectExpr("id",
        "CAST(NULL AS array<double>) AS a", "array(1.0d) AS b")))
    val rows = onBothPaths(src,
      native(ArrayDot(expr("a"), expr("b"))),
      native(CosineSim(expr("a"), expr("b"))))
    val byId = rows.map(r => r.getInt(0) -> r).toMap
    assert(byId(1).getDouble(1) === 1.5 * 4.0 + -2.0 * 0.5)
    assert(byId(2).getDouble(2) === 0.0)
    assert(byId(3).getDouble(1) === 0.0 && byId(3).getDouble(2) === 0.0)
    assert(byId(6).getDouble(1).isNaN)
    assert(byId(8).isNullAt(1) && byId(8).isNullAt(2))
  }

  test("graft_double_bits agrees across paths on ±0.0, NaN and infinities") {
    val vals = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, -1.5, 1.5,
      Double.MaxValue, -Double.MaxValue)
    val src = parquetOf(vals.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("id", "x")
      .union(Seq(vals.size).toDF("id")
        .selectExpr("id", "CAST(NULL AS double) AS x")))
    val rows = onBothPaths(src, native(SortableDoubleBits(expr("x"))))
    // ids 0 and 1 hold 0.0 and -0.0: adjacent images, -0.0 below
    assert(rows(1).getLong(1) + 1 === rows(0).getLong(1))
    assert(vals(rows.init.maxBy(_.getLong(1)).getInt(0)).isNaN)
    assert(rows.last.isNullAt(1))
  }

  test("BaseHashes skips null elements and agrees across paths, " +
      "MinHash and SimHash over its output too") {
    val src = parquetOf(Seq[(Int, Seq[String])](
      (1, Seq("a b c", null, "b c d")),
      (2, Seq(null, null)),
      (3, Seq.empty),
      (4, Seq("é", "ﬁle", "")),
      (5, Seq("x", "x", "y")))
      .toDF("id", "sh")
      .union(Seq(6).toDF("id")
        .selectExpr("id", "CAST(NULL AS array<string>) AS sh")))
    def family(md5: Boolean): Seq[Column] = {
      val bases = BaseHashes(expr("sh"), md5)
      Seq(native(bases),
        native(MinHashSigFromBases(bases, 16)),
        native(SimHashFromBases(bases, if (md5) 60 else 64)))
    }
    val rows = onBothPaths(src, family(md5 = true) ++ family(md5 = false): _*)
    val byId = rows.map(r => r.getInt(0) -> r).toMap
    for (base <- Seq(1, 4)) {
      // md5 bases at 1, xxhash bases at 4: the null element is dropped
      assert(byId(1).getSeq[Long](base).size === 2)
      assert(byId(2).getSeq[Long](base).isEmpty)
      // empty set: the all-P MinHash sentinel and a 0 SimHash
      assert(byId(3).getSeq[Long](base + 1) === Seq.fill(16)(P))
      assert(byId(3).getLong(base + 2) === 0L)
      assert(byId(2).getSeq[Long](base + 1) === Seq.fill(16)(P))
      assert((1 to 3).forall(c => byId(6).isNullAt(base + c - 1)))
    }
  }

  test("MinHash and SimHash agree across paths on raw bases, " +
      "negatives and extremes included") {
    val src = parquetOf(Seq[(Int, Seq[Long])](
      (1, Seq(-5L, Long.MinValue, Long.MaxValue, 0L, P, P + 1)),
      (2, Seq.empty),
      (3, Seq(-1L)),
      (4, (1L to 200L).map(_ * 7919L)))
      .toDF("id", "b"))
    val rows = onBothPaths(src,
      native(MinHashSigFromBases(expr("b"), 128)),
      native(SimHashFromBases(expr("b"), 64)),
      native(SimHashFromBases(expr("b"), 1)))
    assert(rows(1).getSeq[Long](1) === Seq.fill(128)(P))
    assert(rows(1).getLong(2) === 0L)
    assert(rows(2).getLong(2) === -1L) // all 64 bits set by one base -1
  }
}
