package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Gates

class MixingSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int, sources: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(i =>
      (i.toLong, s"s${rnd.nextInt(sources)}", 1L + rnd.nextInt(50)))
      .toDF("doc_id", "source", "n_tokens")
  }

  test("selection equals a driver-side greedy reference with weights") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val df = corpus(200, 4, seed = 3)
    val budgets = Map("s0" -> 100L, "s1" -> 300L)
    val default = 150L
    val expected = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._2)
      .toSeq
      .flatMap { case (src, rows) =>
        val budget = budgets.getOrElse(src, default)
        var cum = 0L
        // tie-break on the NUMERIC id, matching the operator + oracle
        rows.sortBy(r => (md5hex(r._1.toString), r._1))
          .flatMap { case (id, _, n) =>
            val keep = cum < budget
            cum += n
            if (keep) Some((src, id, n)) else None
          }
      }
      .toSet
    val got = Mixing.byTokenBudget(df, "source", "doc_id", "n_tokens",
        budgets, default)
      .select("source", "doc_id", "n_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("per-source token totals respect budget + one-doc overflow") {
    val df = corpus(300, 5, seed = 9)
    val budget = 120L
    val maxDoc = 50L
    val totals = Mixing.byTokenBudget(df, "source", "doc_id", "n_tokens",
        Map.empty, budget)
      .groupBy("source").agg(sum("n_tokens").as("toks"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(totals.nonEmpty)
    totals.foreach { case (src, toks) =>
      assert(toks < budget + maxDoc, s"$src overflowed: $toks")
    }
  }

  test("selection is deterministic under repartitioning") {
    val df = corpus(150, 3, seed = 17)
    val a = Mixing.byTokenBudget(df, "source", "doc_id", "n_tokens",
      Map.empty, 200L).orderBy("source", "doc_id").collect().toSeq
    val b = Mixing.byTokenBudget(df.repartition(11), "source", "doc_id",
      "n_tokens", Map.empty, 200L)
      .orderBy("source", "doc_id").collect().toSeq
    assert(a == b)
  }

  // ---- hash-threshold prefilter (mega-source scale path) ----

  test("prefilter selects IDENTICAL rows on a mega-source fixture") {
    val rnd = new scala.util.Random(41)
    // mega source: 20k docs dwarfing its budget; two normal sources
    val df = ((1 to 20000).map(i =>
        (i.toLong, "commoncrawl", 1L + rnd.nextInt(40))) ++
      (30001 to 30200).map(i => (i.toLong, "wiki", 1L + rnd.nextInt(40))) ++
      (40001 to 40050).map(i => (i.toLong, "books", 1L + rnd.nextInt(40))))
      .toDF("doc_id", "source", "n_tokens")
    val budgets = Map("commoncrawl" -> 2000L, "wiki" -> 1500L)
    val exact = Mixing.byTokenBudget(df, "source", "doc_id", "n_tokens",
        budgets, 800L)
      .select("source", "doc_id").as[(String, Long)].collect().toSet
    val fast = Gates.pastGates(Mixing.byTokenBudget(df, "source",
        "doc_id", "n_tokens", budgets, 800L))
      .select("source", "doc_id").as[(String, Long)].collect().toSet
    assert(fast === exact)
    assert(fast.count(_._1 == "commoncrawl") > 0)
    assert(fast.count(_._1 == "wiki") > 0)
  }

  test("prefilter bounds the mega-source window input") {
    // parquet-backed: a purely local relation would be folded at plan
    // time (ConvertToLocalRelation) and hide the threshold filter
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mixing_pf").toString
    (1 to 20000).map(i => (i.toLong, "cc", 20L))
      .toDF("doc_id", "source", "n_tokens")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val budget = 2000L // selects ~100 docs of 400k tokens
    val f = StratumPrefilter.Margin * budget / (20000L * 20L).toDouble
    val survivors = df.filter(
      StratumPrefilter.hashPrefix(col("doc_id")) <
        lit(StratumPrefilter.hexThreshold(f))).count()
    val expectedDocs = budget / 20L // 100
    assert(survivors >= expectedDocs,
      s"prefilter must cover the budget ($survivors < $expectedDocs)")
    assert(survivors <= 8 * StratumPrefilter.Margin * expectedDocs,
      s"window input not bounded: $survivors of 20000 rows survived")
    val plan = Gates.pastGates(Mixing.byTokenBudget(df, "source",
        "doc_id", "n_tokens", Map.empty, budget))
      .queryExecution.executedPlan.toString
    assert(plan.contains("substring(md5"),
      "threshold filter missing from the engaged physical plan")
    val defPlan = Mixing.byTokenBudget(df, "source", "doc_id", "n_tokens",
        Map.empty, budget)
      .queryExecution.executedPlan.toString
    assert(!defPlan.contains("substring(md5"),
      "small input should keep the plain single-window plan")
  }

  test("rescue path: a survivor token shortfall falls back to exact") {
    val df = (1 to 5000).map(i => (i.toLong, "cc", 10L))
      .toDF("doc_id", "source", "n_tokens")
    val exact = Mixing.byTokenBudget(df, "source", "doc_id", "n_tokens",
        Map.empty, 900L)
      .select("doc_id").as[Long].collect().toSet
    // margin 0 -> zero survivors -> the source is unsafe -> full rescue
    val viaRescue = Mixing.prefilteredMix(df, "source", "doc_id",
        "n_tokens", Map.empty, 900L, margin = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(viaRescue === exact)
    // margin 0.5 -> survivor mass ~450 < 900 budget -> also rescued
    val viaPartial = Mixing.prefilteredMix(df, "source", "doc_id",
        "n_tokens", Map.empty, 900L, margin = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(viaPartial === exact)
  }

  test("byTemperatureT2: small sources get MORE than their natural share") {
    // big source 10x the tokens of the small one; sqrt-mass targets
    // give the small source sqrt(1/10) ~ 31.6% of the budget vs its
    // natural 9.1% share — the rebalancing property in one assert
    val df = ((1 to 100).map(i => (i.toLong, "big", 10L)) ++
      (101 to 110).map(i => (i.toLong, "small", 10L)))
      .toDF("doc_id", "source", "n_tokens")
    val sel = Mixing.byTemperatureT2(df, "source", "doc_id",
        "n_tokens", totalTokens = 300L)
      .groupBy("source").agg(sum(col("n_tokens")).as("t"))
      .as[(String, Long)].collect().toMap
    val smallShare = sel("small").toDouble / (sel("small") + sel("big"))
    assert(smallShare > 0.2,
      s"sqrt rebalancing must upweight the small source (got $smallShare)")
    // targets: z = sqrt(1000)+sqrt(100) = 41.23; small target =
    // floor(300*10/41.23) = 72 -> 8 docs (last one starts at 70);
    // big target = floor(300*31.62/41.23) = 230 -> 23 docs
    assert(sel("small") === 80L)
    assert(sel("big") === 230L)
  }

  test("byTemperatureT2: equal sources get equal targets, and the " +
      "selection is deterministic under repartitioning") {
    val df = corpus(300, 3, seed = 9)
    val even = ((1 to 50).map(i => (i.toLong, "a", 4L)) ++
      (51 to 100).map(i => (i.toLong, "b", 4L)))
      .toDF("doc_id", "source", "n_tokens")
    val sel = Mixing.byTemperatureT2(even, "source", "doc_id",
        "n_tokens", totalTokens = 100L)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(sel("a") === sel("b"), "equal mass -> equal selection")
    val s1 = Mixing.byTemperatureT2(df, "source", "doc_id", "n_tokens",
      500L).select("doc_id").as[Long].collect().toSet
    val s2 = Mixing.byTemperatureT2(df.repartition(7), "source",
      "doc_id", "n_tokens", 500L).select("doc_id").as[Long]
      .collect().toSet
    assert(s1 === s2, "layout-invariant selection")
  }

  test("byWeights: proportional budgets, unlisted sources excluded") {
    val df = corpus(400, 4, seed = 23)
    // weights 3:1 over s0/s1; s2/s3 unlisted -> excluded entirely
    val got = Mixing.byWeights(df, "source", "doc_id", "n_tokens",
      Map("s0" -> 3.0, "s1" -> 1.0), totalTokens = 400L)
    val bySrc = got.groupBy("source")
      .agg(sum("n_tokens").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(!bySrc.contains("s2") && !bySrc.contains("s3"))
    // each budget respected with at most one-doc overflow (max doc = 50)
    assert(bySrc("s0") < 300L + 50L)
    assert(bySrc("s1") < 100L + 50L)
    // equivalence with the explicit-budget form
    val explicit = Mixing.byTokenBudget(df, "source", "doc_id",
        "n_tokens", Map("s0" -> 300L, "s1" -> 100L), 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(got.select("doc_id").as[Long].collect().toSet === explicit)
  }
}
