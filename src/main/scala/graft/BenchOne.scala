package graft

import org.apache.spark.sql.graft.ListenerBusShim

/** Dev helper: time the named queries (min-of-3 with an sf0.001 warm-up
  * pass over the SAME queries — the [[Bench]] protocol scoped down)
  * without running the whole suite; `--explain` also prints each query's
  * formatted physical plan before timing. Usage:
  * `runMain graft.BenchOne [--explain] q1 q2 …` with `SPARK_GRAFT_SF_DIR`
  * set (no names → all registered queries). Short-JVM numbers still read
  * ~10-20% above a warm full-bench run.
  */
object BenchOne {

  /** `--jobs` diagnostic: per-query Spark job/stage/task counters (job
    * count ≈ fixed scheduling overhead at gate scale; task time vs wall
    * separates compute-bound from overhead-bound lanes).
    */
  private class Counters extends org.apache.spark.scheduler.SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs += 1
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
    }
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) taskMs += t.taskInfo.duration
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskMs = 0L }
  }

  def main(args: Array[String]): Unit = {
    val explain = args.contains("--explain")
    val jobsDiag = args.contains("--jobs")
    val named = args.toSeq.filterNot(a => a == "--explain" || a == "--jobs")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    def settle(): Unit = ListenerBusShim.waitUntilEmpty(spark.sparkContext)
    val names =
      if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      require(SparkEntry.queries.contains(name),
        s"unknown query '$name'; known: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    }
    Bench.warmDirOf(sfDir).foreach(
      Bench.warmUp(spark, _, names.distinct.map(SparkEntry.queries)))
    val counters = new Counters
    if (jobsDiag) spark.sparkContext.addSparkListener(counters)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) fn(spark, sfDir).explain("formatted")
      // per run: (seconds, jobs, stages, tasks, task seconds); the
      // listener bus settles before each run's counters reset and again
      // before they are read, so no run's events leak into another's
      val runs = (1 to 3).map { _ =>
        if (jobsDiag) { settle(); counters.reset() }
        val dt = Bench.timedRun(spark, fn, sfDir)
        if (jobsDiag) settle()
        (dt, counters.jobs, counters.stages, counters.tasks,
          counters.taskMs / 1e3)
      }
      val times = runs.map(_._1)
      if (jobsDiag) {
        def each(f: ((Double, Int, Int, Int, Double)) => Any) =
          runs.map(f).mkString(",")
        println(s"BENCHJOBS $name runs=${each(r => f"${r._1}%.3f")} " +
          s"jobs=${each(_._2)} stages=${each(_._3)} tasks=${each(_._4)} " +
          s"taskSec=${each(r => f"${r._5}%.2f")}")
      }
      println(f"BENCHONE $name min=${times.min}%.3f runs=" +
        times.map(t => f"$t%.3f").mkString(","))
    }
    spark.stop()
  }
}
