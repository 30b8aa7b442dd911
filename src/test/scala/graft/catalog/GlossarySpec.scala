package graft.catalog

import graft.{JobCounts, SparkSpec}

class GlossarySpec extends SparkSpec {

  private def tmpPath(name: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_gloss_$name"
    Glossary.deleteForTest(p)
    p
  }

  test("create-if-absent yields an empty glossary") {
    val p = tmpPath("empty")
    assert(Glossary.read(spark, p).count() === 0)
    assert(Glossary.previousSummary(spark, p, None) ===
      "No previous entries found.")
  }

  test("regenerate writes one batch; per-table filter clears only its slice") {
    val p = tmpPath("regen")
    Glossary.regenerate(spark, p,
      Seq(("orders", "o_orderkey", "NUMBER"),
        ("orders", "o_totalprice", "FLOAT")), Some("orders"))
    Glossary.regenerate(spark, p,
      Seq(("region", "r_name", "VARCHAR")), Some("region"))
    val all = Glossary.read(spark, p)
    assert(all.count() === 3)
    // regenerating orders replaces its 2 rows, keeps region
    Glossary.regenerate(spark, p,
      Seq(("orders", "o_orderkey", "NUMBER")), Some("orders"))
    val after = Glossary.read(spark, p)
    assert(after.count() === 2)
    assert(after.filter("TABLE_NAME = 'REGION'").count() === 1)
  }

  test("a regenerate that crashed mid-swap is finished, not emptied, " +
      "by the next entry") {
    val p = tmpPath("crash")
    def seed(): Unit = {
      Glossary.regenerate(spark, p,
        Seq(("orders", "o_orderkey", "NUMBER"),
          ("orders", "o_totalprice", "FLOAT")), Some("orders"))
      Glossary.regenerate(spark, p,
        Seq(("region", "r_name", "VARCHAR")), Some("region"))
    }
    // window 1: the glossary dir is gone and the committed temp holds
    // the regeneration's complete output
    seed()
    assert(new java.io.File(p).renameTo(new java.io.File(p + ".tmp")))
    assert(Glossary.read(spark, p).count() === 3)
    Glossary.regenerate(spark, p,
      Seq(("nation", "n_name", "VARCHAR")), Some("nation"))
    assert(Glossary.read(spark, p).count() === 4)
    // window 2: the glossary was renamed aside and no temp committed
    assert(new java.io.File(p).renameTo(new java.io.File(p + ".bak")))
    assert(Glossary.read(spark, p).count() === 4)
    assert(!new java.io.File(p + ".bak").exists())
    Glossary.deleteForTest(p)
  }

  test("a URI-qualified glossary path keeps its entries across calls") {
    val p = tmpPath("uri")
    val uri = new java.io.File(p).toURI.toString
    Glossary.regenerate(spark, uri,
      Seq(("orders", "o_orderkey", "NUMBER")), Some("orders"))
    Glossary.regenerate(spark, uri,
      Seq(("region", "r_name", "VARCHAR")), Some("region"))
    assert(Glossary.read(spark, uri).count() === 2)
    Glossary.deleteForTest(p)
  }

  test("definitions use the reference prompt through the stub") {
    val p = tmpPath("defs")
    Glossary.regenerate(spark, p, Seq(("t", "c", "NUMBER")), None)
    val d = Glossary.read(spark, p)
      .select("BUSINESS_DEFINITION").head().getString(0)
    assert(d.contains("[generated]"))
    assert(d.contains("business-friendly definition"))
  }

  test("no-filter regenerate clears everything first") {
    val p = tmpPath("clear")
    Glossary.regenerate(spark, p, Seq(("a", "x", "NUMBER")), None)
    Glossary.regenerate(spark, p, Seq(("b", "y", "NUMBER")), None)
    val all = Glossary.read(spark, p)
    assert(all.count() === 1)
    assert(all.head().getString(0) === "B")
  }

  test("batched generate-then-append stays ONE write job at 100 columns " +
      "(job count does not scale with column count)") {
    // the reference's per-column loop (Business_Glossory.sql:85-89) is
    // one LLM round-trip + one INSERT per column — O(cols) statements.
    // The batch path builds the whole definitions frame locally and
    // appends once: the Spark job count must be IDENTICAL for a 4-column
    // and a 100-column regenerate (any per-column job would scale)
    def jobsFor(cols: Int): Int = {
      val p = s"${System.getProperty("java.io.tmpdir")}/graft_gw_$cols"
      Glossary.deleteForTest(p)
      val meta = GlossaryQueries.wideMeta.take(cols)
      // count within a DEDICATED job group: a delta against the
      // default group races with stray background jobs (deferred
      // streaming-state cleanup, context-cleaner work) when the whole
      // suite runs — this thread's regenerate jobs inherit the group,
      // nothing else lands in it
      val n = JobCounts.of(spark, s"graft-glossary-width-$cols") {
        Glossary.regenerate(spark, p, meta, None)
      }._2.jobs
      Glossary.deleteForTest(p)
      n
    }
    val small = jobsFor(4)
    val wide = jobsFor(100)
    info(s"regenerate jobs: 4 cols = $small, 100 cols = $wide")
    assert(wide === small,
      s"job count scaled with column count ($small -> $wide) — the " +
        "batch append degraded to per-column work")
    // and the 100-column result is complete and correct
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_gw_check"
    Glossary.deleteForTest(p)
    Glossary.regenerate(spark, p, GlossaryQueries.wideMeta, None)
    val out = Glossary.read(spark, p)
    assert(out.count() === 100)
    assert(out.select("TABLE_NAME").distinct().count() === 1)
    Glossary.deleteForTest(p)
  }
}
