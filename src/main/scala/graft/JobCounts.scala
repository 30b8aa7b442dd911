package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusShim

/** Spark jobs, stages, tasks and task seconds one block posted.
  * `fanOutJobs` counts the jobs that read a driver-side collection
  * (`sc.parallelize`): SQL over files posts one only when Spark infers a
  * file schema (or lists more paths than its parallel-listing threshold).
  */
final case class JobCounts(jobs: Int, stages: Int, tasks: Int,
    fanOutJobs: Int, taskSec: Double)

object JobCounts {

  /** `body`'s result and what it posted under the job group `group`,
    * set on this thread for the call (threads that capture its local
    * properties, like the script engine's preview pool, post into it
    * too; a stream's micro-batches run under the stream's own group),
    * read after the listener bus drains.
    */
  def of[A](spark: SparkSession, group: String)(body: => A)
      : (A, JobCounts) = {
    val sc = spark.sparkContext
    val jobs, fanOut, tasks = new AtomicInteger
    val taskMs = new AtomicLong
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
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
        }
    }
    ListenerBusShim.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val result = try body
    finally {
      sc.clearJobGroup()
      ListenerBusShim.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
    }
    (result, JobCounts(jobs.get, stages.size, tasks.get, fanOut.get,
      taskMs.get / 1e3))
  }
}
