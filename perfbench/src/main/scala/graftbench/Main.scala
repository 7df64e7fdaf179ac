package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation of a workload's measured window. */
final case class Op(kind: String, startMs: Double, durS: Double,
    bytes: Long, ok: Boolean, note: String = "")

/** What every workload sees: the session, its inputs, the tracer and
  * the op log. `phase` 0 is the measured untraced window; a traced run
  * adds phase 1 (traced) and phase 2 (untraced again).
  */
final class Ctx(val spark: SparkSession, val inputs: String,
    val root: String, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  @volatile var phase = 0

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Time one operation; an exception fails the op, not the run. */
  def op(kind: String, bytes: Long = 0L)(body: => Unit): Unit = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val err = try { body; "" } catch {
      case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val rec = Op(kind, t0.toDouble, (System.nanoTime() - n0) / 1e9, bytes,
      err.isEmpty, err.take(300))
    ops.synchronized {
      if (phase == 0) ops += rec
      phaseOps(phase) += 1
      phaseBusyS(phase) += rec.durS
    }
  }

  /** Ops and summed op time per phase, for the tracing overhead. */
  val phaseOps = Array.fill(3)(0L)
  val phaseBusyS = Array.fill(3)(0.0)

  /** Times an action apart from the call that built its DataFrame. */
  def collect(df: DataFrame, name: String = "exec.collect"): Array[Row] =
    span(name)(df.collect())

  def lines(rel: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(inputs, rel)), StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
}

trait Workload {
  /** Untimed set-up after the session exists: counted in setup_s. */
  def setup(c: Ctx): Unit
  /** Run one measured window. `seconds` sets the length of an open-loop
    * window; a batch workload runs a fixed number of passes instead.
    */
  def measure(c: Ctx, seconds: Double): Unit
  /** Untimed: gather what the correctness checks need. */
  def finish(c: Ctx): Unit
}

/** Entry point: `Main <workload> <inputs> <root> <seconds> <trace> <out>`.
  * Writes one JSON document to `<out>`; metrics are computed from it by
  * perfbench/run.py, which also runs the DuckDB checks.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, inputs, root, secondsS, traceS, out) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    JvmStats.install()
    redirectScratch(s"$root/graft_scratch")

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", s"$root/spark-local")
        .config("spark.sql.warehouse.dir", s"$root/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext)
    val c = new Ctx(spark, inputs, root, tracer)
    val w: Workload = name match {
      case "curate" => new CurateWorkload
      case "stream_rw" => new StreamRwWorkload
    }
    try {
      w.setup(c)
      // every window starts from a clean heap (the one before the traced
      // window and the one after it from the previous window's last GC)
      JvmStats.fullGc()
      val heap0 = JvmStats.mark()
      val firstOpMs = System.currentTimeMillis()
      val m0 = System.nanoTime()
      w.measure(c, seconds)
      val windowS = (System.nanoTime() - m0) / 1e9
      JvmStats.fullGc()
      val heapFull = JvmStats.fullSince(heap0)
      var tracedWindowS = 0.0
      var afterWindowS = 0.0
      var tracedGcS = 0.0
      var tracedHeap = Seq.empty[Double]
      if (traced) {
        // The traced window re-runs the workload with spans and the
        // listener on, then one more untraced window follows, so the
        // overhead compares it with untraced windows on both sides of
        // it (the JVM is still warming up across them). Only the first
        // window's ops feed end-to-end metrics.
        spark.sparkContext.addSparkListener(tracer)
        tracer.enabled = true
        c.phase = 1
        val gc1 = JvmStats.gcSeconds
        val heap1 = JvmStats.mark()
        val t1 = System.nanoTime()
        w.measure(c, seconds)
        tracedWindowS = (System.nanoTime() - t1) / 1e9
        tracedGcS = JvmStats.gcSeconds - gc1
        JvmStats.fullGc()
        tracedHeap = JvmStats.since(heap1)
        tracer.enabled = false
        spark.sparkContext.removeSparkListener(tracer)
        c.phase = 2
        val t2 = System.nanoTime()
        w.measure(c, seconds)
        afterWindowS = (System.nanoTime() - t2) / 1e9
        c.phase = 0
      }
      w.finish(c)
      c.checks("artifact_dirs") = Option(new java.io.File(s"$root/graft_scratch").list())
        .map(_.toSeq.sorted).getOrElse(Nil)
      val layers = if (traced) tracer.summary() else Nil
      val doc = Map(
        "workload" -> name,
        "jvm_start_ms" -> jvmStartMs,
        "session_ready_ms" -> sessionMs,
        "first_op_ms" -> firstOpMs,
        "window_s" -> windowS,
        "traced_window_s" -> tracedWindowS,
        "after_window_s" -> afterWindowS,
        "phase_ops" -> c.phaseOps.toSeq,
        "phase_busy_s" -> c.phaseBusyS.toSeq,
        "heap_after_full_gc_mb" -> heapFull,
        "traced_gc_s" -> tracedGcS,
        "traced_heap_after_gc_mb" -> tracedHeap,
        "cores" -> cores,
        "ops" -> c.ops.toSeq.map(o => Map("kind" -> o.kind,
          "start_ms" -> o.startMs, "dur_s" -> o.durS, "bytes" -> o.bytes,
          "ok" -> o.ok, "note" -> o.note)),
        "checks" -> c.checks.toMap,
        "layer" -> c.layer.toMap,
        "spans" -> layers.map { case (n, m) => Map("name" -> n, "m" -> m) })
      Files.write(Paths.get(out), new ObjectMapper()
        .registerModule(DefaultScalaModule).writeValueAsBytes(doc))
    } finally spark.stop()
  }

  /** Point the engine's served-artifact root at this run's directory.
    * `CsvQueries.scratchRoot` is a fixed path in the engine; artifacts
    * keyed on input paths must not outlive the run or leak between
    * checkouts, so the benchmark replaces the value before any artifact
    * is built, and fails if that did not take. The field is a static
    * final of the object's class, which reflection cannot write; Unsafe
    * can, before any code has read it.
    */
  @annotation.nowarn("cat=deprecation")
  private def redirectScratch(to: String): Unit = {
    val obj = graft.operators.CsvQueries
    val f = obj.getClass.getDeclaredField("scratchRoot")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), to)
    val now = obj.getClass.getDeclaredMethod("scratchRoot").invoke(obj)
    require(now == to, s"artifact root still $now")
  }
}
