package graft.util

import graft.{SparkEntry, SparkSpec}

/** Lane fixtures under java.io.tmpdir are per JVM
  * ([[Staging.tmpPath]]): two engine JVMs on one host never share one,
  * and a sibling's are reaped only once its pid is dead.
  */
class LaneFixtureSpec extends SparkSpec {

  private val pid = ProcessHandle.current().pid()

  test("the glossary and orch lanes write paths that carry the JVM's pid") {
    val dir = SparkSpec.corpusDir("0.001")
    val tmp = System.getProperty("java.io.tmpdir")
    Seq("glossary_crud_cycle" -> s"graft_glossary_q_$pid",
      "glossary_wide_batch" -> s"graft_glossary_wide_$pid",
      "orch_ingestion_agg_events" -> s"graft_orch_$pid")
      .foreach { case (lane, name) =>
        val f = new java.io.File(tmp, name)
        Staging.deleteRecursively(f)
        SparkEntry.queries(lane)(spark, dir).collect()
        assert(f.exists(), s"$lane must write $f")
      }
  }

  test("the reap keeps a live pid's stale fixtures and takes a dead " +
      "pid's, swap siblings included") {
    val d = java.nio.file.Files.createTempDirectory("graft_fixture_spec")
      .toFile
    val old = System.currentTimeMillis() - 2 * 3600L * 1000
    def mk(name: String): java.io.File = {
      val f = new java.io.File(d, name)
      assert(f.mkdirs()); assert(f.setLastModified(old)); f
    }
    // the forking build JVM is alive for as long as this one
    val live = ProcessHandle.current().parent().get().pid()
    val dead = 99999999L
    try {
      val kept = Seq(mk(s"graft_glossary_q_$live"),
        mk(s"graft_events_$live.csv"), mk(s"graft_glossary_q_$pid"),
        mk("graft_avro12345"))
      val reaped = Seq(mk(s"graft_glossary_q_$dead"),
        mk(s"graft_glossary_q_$dead.tmp"), mk(s"graft_glossary_q_$dead.bak"),
        mk(s"graft_orch_events_$dead.csv"), mk(s"graft_events_$dead.xlsx"))
      Staging.reapTmp(d)
      kept.foreach(f => assert(f.exists(), s"$f must survive the reap"))
      reaped.foreach(f => assert(!f.exists(), s"$f must be reaped"))
    } finally Staging.deleteRecursively(d)
  }
}
