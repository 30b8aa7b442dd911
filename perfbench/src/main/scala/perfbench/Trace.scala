package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters Spark reports per job and task, summed for one scope (a span
  * or a whole loop phase).
  */
final class Totals {
  var jobs, stages, tasks, taskNs, gcMs, shuffleBytes, spillBytes,
    writtenBytes = 0L

  def addJob(stageCount: Int): Unit = { jobs += 1; stages += stageCount }

  def addTask(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    taskNs += m.executorRunTime * 1000000L
    gcMs += m.jvmGCTime
    shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    writtenBytes += m.outputMetrics.bytesWritten
  }

  def js: Seq[(String, Js)] = Seq("jobs" -> Js.num(jobs),
    "stages" -> Js.num(stages), "tasks" -> Js.num(tasks),
    "task_s" -> Js.num(taskNs / 1e9), "gc_s" -> Js.num(gcMs / 1e3),
    "shuffle_bytes" -> Js.num(shuffleBytes),
    "spill_bytes" -> Js.num(spillBytes),
    "written_bytes" -> Js.num(writtenBytes))
}

/** One layer-boundary span: a public engine call made by the benchmark.
  * Spark work is billed to the innermost open span: through the job group
  * the span sets while it is open, or, for jobs other threads submit under
  * their own group (a streaming query's micro-batches), to the innermost
  * span open at the job's submission time.
  */
final class Span(val id: Int, val parent: Int, val callId: Int,
    val layer: String, val name: String, val startNs: Long) {
  val startMs: Long = System.currentTimeMillis()
  var endMs: Long = Long.MaxValue
  var endNs: Long = startNs
  var failed: Boolean = false
  val work = new Totals
}

/** Span recorder plus the Spark listener that attributes jobs, stages and
  * task metrics to spans by job group. When tracing is off, no span is
  * opened and no job group is set; the listener still sums bytes written
  * so the untraced run can report write amplification.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val GroupPrefix = "perfbench-span-"
  /** Every span of the phase; a span's id is its position plus one. */
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  val run = new Totals
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[
    Integer, Span]()
  var callId: Int = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = run.synchronized {
      run.addJob(e.stageInfos.size)
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .flatMap(g => spans.lift(g.stripPrefix(GroupPrefix).toInt - 1))
        .orElse(spans.iterator
          .filter(s => s.startMs <= e.time && e.time <= s.endMs)
          .maxByOption(_.startMs))
      span.foreach { s =>
        s.work.addJob(e.stageInfos.size)
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = run.synchronized {
      Option(e.taskMetrics).foreach { m =>
        run.addTask(m)
        Option(stageSpan.get(e.stageId)).foreach(_.work.addTask(m))
      }
    }
  }
  sc.addSparkListener(listener)

  def stop(): Unit = sc.removeSparkListener(listener)

  /** Wait until the listener bus has delivered every event posted so
    * far, so span counters are complete before they are read.
    */
  def settle(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  private def setGroup(s: Option[Span]): Unit = s match {
    case Some(sp) => sc.setJobGroup(GroupPrefix + sp.id, sp.name)
    case None => sc.clearJobGroup()
  }

  /** Run `body` as a span of `layer`. `force` runs inside the span, so
    * lazy work the call built is billed to it.
    */
  def span[A](layer: String, name: String)(body: => A)(
      force: A => A = (a: A) => a): A =
    if (!enabled) force(body)
    else {
      val parent = open.headOption
      val s = new Span(spans.size + 1, parent.map(_.id).getOrElse(0),
        callId, layer, name, System.nanoTime())
      run.synchronized { spans += s }
      open.push(s)
      setGroup(Some(s))
      try force(body)
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.endNs = System.nanoTime()
        run.synchronized { s.endMs = System.currentTimeMillis() }
        open.pop()
        setGroup(open.headOption)
      }
    }
}
