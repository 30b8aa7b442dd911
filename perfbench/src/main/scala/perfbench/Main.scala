package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark JVM. Reads the manifest `run.py` generated from the
  * seed, sets up, runs one workload's fixed schedule as a closed loop with
  * one caller and writes every measurement (and every call's output, for
  * the checks `run.py` makes afterwards) to a result file.
  *
  * Usage: perfbench.Main <manifest.json> <result.json>
  */
object Main {

  type Manifest = java.util.Map[String, AnyRef]

  final case class Call(kind: String, key: String, startNs: Long,
      seconds: Double, error: Option[String], out: Option[Js],
      units: Int = 1)

  def main(args: Array[String]): Unit = {
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(args(0)), classOf[Manifest])
    val res = run(manifest)
    val w = new java.io.PrintWriter(args(1), "UTF-8")
    try w.println(res.render) finally w.close()
  }

  def str(m: Manifest, k: String): String = m.get(k).toString
  def num(m: Manifest, k: String): Double =
    m.get(k).asInstanceOf[Number].doubleValue
  def list(m: Manifest, k: String): Seq[Manifest] =
    m.get(k).asInstanceOf[java.util.List[Manifest]].asScala.toSeq
  def strs(m: Manifest, k: String): Seq[String] =
    m.get(k).asInstanceOf[java.util.List[AnyRef]].asScala.map(_.toString)
      .toSeq

  /** /proc/loadavg 1-minute figure, or -1 where it cannot be read. */
  def loadavg(): Double = try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+").head.toDouble
  } catch { case _: Exception => -1.0 }

  /** Busy cores of other processes on the host over `sampleMs`: /proc/stat
    * busy jiffies minus this JVM's own CPU time (the co-tenant probe of
    * graft.Bench). -1 where /proc is unreadable.
    */
  def cotenantCores(sampleMs: Long): Double = try {
    def busy(): Long = {
      val f = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
    }
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val b0 = busy(); val p0 = os.getProcessCpuTime
    Thread.sleep(sampleMs)
    val b1 = busy(); val p1 = os.getProcessCpuTime
    math.max(0.0, (b1 - b0) / 100.0 - (p1 - p0) / 1e9) / (sampleMs / 1000.0)
  } catch { case _: Exception => -1.0 }

  /** Cumulative CPU time (s) the hypervisor stole from this host's CPUs,
    * from /proc/stat; 0 where it cannot be read.
    */
  def stealSeconds(): Double = try {
    val f = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat")), "UTF-8")
      .linesIterator.next().split("\\s+")
    if (f.length > 8) f(8).toLong / 100.0 else 0.0
  } catch { case _: Exception => 0.0 }

  def usedHeapMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def run(m: Manifest): Js = {
    val workload = str(m, "workload")
    val trace = num(m, "trace") > 0
    val steps = num(m, "steps_per_phase").toInt
    val cotenantStart = cotenantCores(250)
    val loadStart = loadavg()
    val wl: Workload = workload match {
      case "dq_sweep" => new DqSweep(m)
      case "ingest_merge" => new IngestMerge(m)
      case other => throw new IllegalArgumentException(s"workload $other")
    }

    // Set-up: session start, table registration and a warm-up pass.
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("perfbench")
    wl.setup(spark)
    val setupSeconds = (System.nanoTime() - t0) / 1e9
    graft.util.DeferredCleanup.drain()

    // A phase makes `steps` loop steps of the schedule; the schedule runs
    // on across phases. Traced runs make three phases, traced, untraced,
    // traced: the ratio of the traced and untraced call rates is the
    // tracing overhead, and the symmetric order cancels the speed-up the
    // JIT still gives from one phase to the next.
    var step = 0
    def phase(traced: Boolean): Js = {
      System.gc()
      val tracer = new Tracer(spark.sparkContext, traced)
      val calls = mutable.ArrayBuffer.empty[Call]
      val heap = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      val steal0 = stealSeconds()
      for (i <- 1 to steps) {
        tracer.callId = i
        calls ++= wl.next(spark, tracer, step)
        step += 1
        // a forced GC and a retained-heap sample after every step keep the
        // maximum independent of the call order
        System.gc(); heap += usedHeapMb()
        graft.util.DeferredCleanup.drain()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      System.gc(); heap += usedHeapMb()
      tracer.settle()
      tracer.stop()
      Js.obj(
        "traced" -> Js.bool(traced),
        "wall_s" -> Js.num(wall),
        "steal_cores" -> Js.num((stealSeconds() - steal0) / wall),
        "calls" -> Js.arr(calls.toSeq.map { c =>
          Js.obj("kind" -> Js.str(c.kind), "key" -> Js.str(c.key),
            "start_s" -> Js.num((c.startNs - t0) / 1e9),
            "seconds" -> Js.num(c.seconds), "units" -> Js.num(c.units),
            "error" -> c.error.map(Js.str).getOrElse(Js.Null),
            "out" -> c.out.getOrElse(Js.Null))
        }),
        "heap_mb" -> Js.arr(heap.toSeq.map(Js.num)),
        "spark" -> Js.obj(tracer.run.js: _*),
        "spans" -> Js.arr(tracer.spans.toSeq.map { s =>
          Js.obj(Seq("id" -> Js.num(s.id), "parent" -> Js.num(s.parent),
            "call" -> Js.num(s.callId), "layer" -> Js.str(s.layer),
            "name" -> Js.str(s.name),
            "start_s" -> Js.num((s.startNs - t0) / 1e9),
            "end_s" -> Js.num((s.endNs - t0) / 1e9),
            "failed" -> Js.bool(s.failed)) ++ s.work.js: _*)
        }),
        "extra" -> wl.extra())
    }
    val phaseJs =
      if (!trace) Seq(phase(traced = false))
      else Seq(true, false, true).map(phase)
    val loadEnd = loadavg()
    val cores = spark.sparkContext.defaultParallelism
    spark.stop()
    // specifications the checks evaluate independently: the engine's PII
    // patterns and the DuckDB oracle statements the repository holds
    val oracles = graft.SparkEntry.oracleSql
    Js.obj(
      "workload" -> Js.str(workload),
      "pii_patterns" -> Js.arr(graft.security.Pii.patterns.map {
        case (k, v) => Js.arr(Seq(Js.str(k), Js.str(v))) }),
      "oracles" -> Js.obj(strs(m, "oracles").map(n =>
        n -> oracles.get(n).map(Js.str).getOrElse(Js.Null)): _*),
      "cores" -> Js.num(cores),
      "setup_s" -> Js.num(setupSeconds),
      "phases" -> Js.arr(phaseJs),
      "host" -> Js.obj("loadavg_start" -> Js.num(loadStart),
        "loadavg_end" -> Js.num(loadEnd),
        "cotenant_cores_start" -> Js.num(cotenantStart),
        "cotenant_cores_end" -> Js.num(cotenantCores(250))))
  }

  /** A report-sized frame as JSON rows: column names plus values. */
  def rowsJs(df: DataFrame): Js = Js.obj(
    "columns" -> Js.arr(df.schema.fieldNames.toSeq.map(Js.str)),
    "rows" -> Js.arr(df.collect().toSeq.map(r => Js.arr((0 until r.length).map { i =>
      r.get(i) match {
        case null => Js.Null
        case v: java.lang.Number => Js.num(v.doubleValue)
        case v: java.lang.Boolean => Js.bool(v)
        case v => Js.str(v.toString)
      }
    }))))

  /** Time `body` as one call; an exception makes it a failed call. `out`
    * renders the forced result for the checks, after the clock stops.
    */
  def timed[A](kind: String, key: String)(body: => A)(out: A => Js): Call = {
    val t0 = System.nanoTime()
    try {
      val a = body
      val dt = (System.nanoTime() - t0) / 1e9
      Call(kind, key, t0, dt, None, Some(out(a)))
    } catch {
      case e: Exception =>
        Call(kind, key, t0, (System.nanoTime() - t0) / 1e9,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(300)), None)
    }
  }

  /** A frame forced to a local relation: the work that built it runs now
    * (inside the caller's span) and later readers do not redo it.
    */
  def forced(df: DataFrame): DataFrame = graft.util.Frames.localized(df)
}

/** One workload: its set-up and the closed loop's next call. */
trait Workload {
  /** Register tables and warm up. */
  def setup(spark: SparkSession): Unit
  /** Make step `i` of the schedule (one or more calls), forcing each
    * result.
    */
  def next(spark: SparkSession, t: Tracer, i: Int): Seq[Main.Call]
  /** Workload-specific measurements since the last call, for the result
    * file.
    */
  def extra(): Js = Js.obj()
}

/** Minimal JSON value for the result file. */
sealed trait Js { def render: String }
object Js {
  final case class Raw(render: String) extends Js
  val Null: Js = Raw("null")
  def num(v: Double): Js =
    if (v.isNaN || v.isInfinite) Null
    else if (v == math.rint(v) && math.abs(v) < 1e15) Raw(v.toLong.toString)
    else Raw(java.lang.Double.toString(v))
  def num(v: Long): Js = Raw(v.toString)
  def num(v: Int): Js = Raw(v.toString)
  def bool(v: Boolean): Js = Raw(v.toString)
  def str(s: String): Js = Raw("\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")
  def arr(xs: Seq[Js]): Js = Raw(xs.map(_.render).mkString("[", ",", "]"))
  def obj(kv: (String, Js)*): Js =
    Raw(kv.map { case (k, v) => str(k).render + ":" + v.render }
      .mkString("{", ",", "}"))
}
