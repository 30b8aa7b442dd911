package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Tables
import graft.util.Gates

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("quota respected per stratum; small strata keep everything") {
    val df = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 10L)).toDF("grp", "id")
    val out = Sampling.stratifiedHead(df, Seq("grp"), "id", quota = 2)
    val byGrp = out.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(byGrp("a") === 2L)
    assert(byGrp("b") === 1L) // under quota: all rows kept
  }

  test("selection is deterministic across runs and repartitionings") {
    val docs = Tables.load(spark, sf, "documents")
    def pick() = Sampling
      .stratifiedHead(docs, Seq("lang"), "doc_id", quota = 10)
      .select("doc_id").as[Long].collect().toSet
    val first = pick()
    val second = Sampling
      .stratifiedHead(docs.repartition(7), Seq("lang"), "doc_id", 10)
      .select("doc_id").as[Long].collect().toSet
    assert(first === second)
    assert(first.nonEmpty)
  }

  test("hash order is not id order (it actually shuffles the pick)") {
    val df = (1L to 100L).toDF("id").withColumn("grp", lit("x"))
    val picked = Sampling.stratifiedHead(df, Seq("grp"), "id", quota = 10)
      .select("id").as[Long].collect().toSet
    assert(picked !== (1L to 10L).toSet,
      "md5 order should differ from natural id order")
  }

  test("uniformHead: exactly k rows, the md5-first k, layout-stable") {
    val df = (1L to 200L).toDF("id")
    def md5Of(id: Long) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    val want = (1L to 200L).sortBy(id => (md5Of(id), id)).take(25).toSet
    val got = Sampling.uniformHead(df, "id", 25)
      .select("id").as[Long].collect()
    assert(got.length === 25)
    assert(got.toSet === want, "must be the first 25 in md5 order")
    val reparted = Sampling.uniformHead(df.repartition(13), "id", 25)
      .select("id").as[Long].collect().toSet
    assert(reparted === want, "selection must not depend on layout")
  }

  test("uniformHead plans a top-k (TakeOrderedAndProject), " +
      "never a full corpus sort") {
    val plan = Sampling
      .uniformHead(Tables.load(spark, sf, "documents"), "doc_id", 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected a top-k plan, got:\n$plan")
  }

  // ---- hash-threshold prefilter (mega-stratum scale path) ----

  test("prefilter selects IDENTICAL rows on a skewed fixture") {
    // one mega stratum (20k rows) + two small ones
    val df = ((1L to 20000L).map(i => (i, "mega")) ++
      (30001L to 30020L).map(i => (i, "tiny")) ++
      (40001L to 40300L).map(i => (i, "mid"))).toDF("id", "grp")
    val exact = Sampling
      .stratifiedHead(df, Seq("grp"), "id", 25)
      .select("grp", "id").as[(String, Long)].collect().toSet
    val fast = Gates.pastGates(
        Sampling.stratifiedHead(df, Seq("grp"), "id", 25))
      .select("grp", "id").as[(String, Long)].collect().toSet
    assert(fast === exact)
    assert(fast.count(_._1 == "mega") === 25)
    assert(fast.count(_._1 == "tiny") === 20) // under quota: all kept
  }

  test("prefilter bounds the mega-stratum window input") {
    val n = 20000L
    val quota = 25
    // parquet-backed: a purely local relation would be folded at plan
    // time (ConvertToLocalRelation) and hide the threshold filter
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sampling_pf").toString
    (1L to n).map(i => (i, "mega")).toDF("id", "grp")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val f = StratumPrefilter.Margin * quota / n
    val survivors = df.filter(
      StratumPrefilter.hashPrefix(col("id")) <
        lit(StratumPrefilter.hexThreshold(f))).count()
    // expected Margin*quota = 100; Chernoff keeps it well inside [quota, 8x]
    assert(survivors >= quota,
      s"prefilter must keep at least the quota ($survivors < $quota)")
    assert(survivors <= 8 * StratumPrefilter.Margin * quota,
      s"window input not bounded: $survivors of $n rows survived")
    // and the engaged plan actually carries the threshold filter
    val plan = Gates.pastGates(
        Sampling.stratifiedHead(df, Seq("grp"), "id", quota))
      .queryExecution.executedPlan.toString
    assert(plan.contains("substring(md5"),
      "threshold filter missing from the engaged physical plan")
    // ... and the default small-input path does NOT pay for it
    val defPlan = Sampling.stratifiedHead(df, Seq("grp"), "id", quota)
      .queryExecution.executedPlan.toString
    assert(!defPlan.contains("substring(md5"),
      "small input should keep the plain single-window plan")
  }

  test("rescue path: a survivor shortfall falls back to the exact head") {
    val df = ((1L to 5000L).map(i => (i, "mega")) ++
      (9001L to 9010L).map(i => (i, "tiny"))).toDF("id", "grp")
    val exact = Sampling
      .stratifiedHead(df, Seq("grp"), "id", 25)
      .select("grp", "id").as[(String, Long)].collect().toSet
    // margin 0 -> zero survivors for the filtered stratum -> rescue MUST
    // re-run it unfiltered (deterministic worst case)
    val viaRescue = Sampling
      .prefilteredHead(df, Seq("grp"), "id", 25, margin = 0.0)
      .select("grp", "id").as[(String, Long)].collect().toSet
    assert(viaRescue === exact)
    // tiny margin: partial survivors, still short of quota -> same result
    val viaPartial = Sampling
      .prefilteredHead(df, Seq("grp"), "id", 25, margin = 0.2)
      .select("grp", "id").as[(String, Long)].collect().toSet
    assert(viaPartial === exact)
  }

  test("prefilter engine: selection equality over randomized skew/margins") {
    // property-style sweep beyond the fixed fixtures: random stratum
    // size mixes (incl. heavy skew), quotas and margins — every
    // configuration must select EXACTLY the unfiltered head (rescue
    // covers shortfalls), for both the quota and the token-budget
    // instantiations of the shared engine.
    val rnd = new scala.util.Random(97)
    for (case_ <- 1 to 6) {
      val nStrata = 1 + rnd.nextInt(5)
      val rows = (0 until nStrata).flatMap { g =>
        val size = if (g == 0) 2000 + rnd.nextInt(3000)
                   else 1 + rnd.nextInt(200)
        (0 until size).map(i =>
          (g.toLong * 100000 + i, s"g$g", 1L + rnd.nextInt(30)))
      }
      val df = rows.toDF("id", "grp", "tok")
      val quota = 1 + rnd.nextInt(40)
      val margin = Seq(0.0, 0.5, 2.0, 4.0)(rnd.nextInt(4))
      val exactS = Sampling
        .stratifiedHead(df, Seq("grp"), "id", quota)
        .select("id").as[Long].collect().toSet
      val fastS = Sampling
        .prefilteredHead(df, Seq("grp"), "id", quota, margin)
        .select("id").as[Long].collect().toSet
      assert(fastS === exactS,
        s"case $case_: sampling mismatch (quota=$quota margin=$margin)")
      val budget = 50L + rnd.nextInt(2000)
      val exactM = Mixing.byTokenBudget(df, "grp", "id", "tok",
          Map.empty, budget)
        .select("id").as[Long].collect().toSet
      val fastM = Mixing.prefilteredMix(df, "grp", "id", "tok",
          Map.empty, budget, margin)
        .select("id").as[Long].collect().toSet
      assert(fastM === exactM,
        s"case $case_: mixing mismatch (budget=$budget margin=$margin)")
    }
  }
}
