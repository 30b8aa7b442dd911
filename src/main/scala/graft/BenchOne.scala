package graft

/** Dev helper: time the named queries (min-of-3 with an sf0.001 warm-up
  * pass over the SAME queries — the [[Bench]] protocol scoped down)
  * without running the whole suite; `--explain` also prints each query's
  * formatted physical plan before timing. Usage:
  * `runMain graft.BenchOne [--explain] q1 q2 …` with `SPARK_GRAFT_SF_DIR`
  * set (no names → all registered queries). Short-JVM numbers still read
  * ~10-20% above a warm full-bench run.
  */
object BenchOne {

  def main(args: Array[String]): Unit = {
    val explain = args.contains("--explain")
    val jobsDiag = args.contains("--jobs")
    val named = args.toSeq.filterNot(a => a == "--explain" || a == "--jobs")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val names =
      if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      require(SparkEntry.queries.contains(name),
        s"unknown query '$name'; known: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    }
    Bench.warmDirOf(sfDir).foreach(
      Bench.warmUp(spark, _, names.distinct.map(SparkEntry.queries)))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) fn(spark, sfDir).explain("formatted")
      // with --jobs each run also reports the Spark jobs, stages, tasks
      // and task seconds it posted under its own job group (job count ≈
      // fixed scheduling overhead at gate scale; task time vs wall
      // separates compute-bound from overhead-bound lanes)
      def timed(): Double = Bench.timedRun(spark, fn, sfDir)
      val runs = (1 to 3).map { i =>
        if (!jobsDiag) (timed(), None)
        else JobCounts.of(spark, s"benchone-$name-$i")(timed()) match {
          case (t, c) => (t, Some(c))
        }
      }
      val times = runs.map(_._1)
      if (jobsDiag) {
        def each(f: JobCounts => Any) = runs.flatMap(_._2).map(f).mkString(",")
        println(s"BENCHJOBS $name " +
          s"runs=${times.map(t => f"$t%.3f").mkString(",")} " +
          s"jobs=${each(_.jobs)} stages=${each(_.stages)} " +
          s"tasks=${each(_.tasks)} taskSec=${each(c => f"${c.taskSec}%.2f")}")
      }
      println(f"BENCHONE $name min=${times.min}%.3f runs=" +
        times.map(t => f"$t%.3f").mkString(","))
    }
    spark.stop()
  }
}
