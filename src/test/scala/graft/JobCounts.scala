package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusShim

/** Spark jobs, stages and tasks one block posted. `fanOutJobs` counts the
  * jobs whose stages read a driver-side collection (`sc.parallelize`):
  * a block of SQL over files posts such a job only when Spark infers a
  * file schema (or lists more paths than its parallel-listing threshold).
  */
final case class JobCounts(jobs: Int, stages: Int, tasks: Int,
    fanOutJobs: Int)

object JobCounts {

  /** Counts what `body` posts under the job group `group` (set on this
    * thread for the call; threads that capture its local properties,
    * like the script engine's preview pool, post into it too), read
    * after the listener bus drains.
    */
  def of(spark: SparkSession, group: String)(body: => Unit): JobCounts = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val fanOut = new AtomicInteger
    val tasks = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    def mine(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e.properties)) {
          jobs.incrementAndGet()
          if (e.stageInfos.exists(
              _.rddInfos.exists(_.name == "ParallelCollectionRDD")))
            fanOut.incrementAndGet()
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (mine(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    ListenerBusShim.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusShim.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
    }
    JobCounts(jobs.get, stages.size, tasks.get, fanOut.get)
  }
}
