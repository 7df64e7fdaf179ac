package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One call into a public graft function, timed from the benchmark side.
  * Counters are filled in by [[Tracer]]'s listener (one thread); the
  * span's own fields by the thread that opened it.
  */
final class Span(val id: Long, val parent: Option[Span], val name: String) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = Long.MaxValue
  @volatile var childNs: Long = 0L

  // listener-side counters (exclusive: only work tagged to this span)
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def wallS: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** Spans around the benchmark's calls into graft, plus a SparkListener
  * that attributes jobs, tasks and query-planning phases to the
  * innermost span open on the calling thread when the work started.
  *
  * Attribution rides on Spark job tags: opening a span swaps the
  * thread's tag for `gbspan-<id>`, and every job and SQL execution
  * started from that thread carries it. Threads Spark spawns (a
  * streaming query's micro-batch thread) inherit the tag of the span
  * open when they were created; work they start after that span closed
  * goes to its nearest ancestor still open at the time.
  *
  * Everything stays in memory until [[summary]] at the end of the run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val nextId = new AtomicLong(1L)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Option[Span]] {
    override def initialValue(): Option[Span] = None
  }
  // listener-thread state
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val jobSpan = mutable.HashMap.empty[Int, (Span, Long)]
  private val execSpan = mutable.HashMap.empty[Long, Span]

  @volatile var enabled = false

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val s = new Span(nextId.getAndIncrement(), parent, name)
      spans.put(s.id, s)
      parent.foreach(p => sc.removeJobTag(tag(p)))
      sc.addJobTag(tag(s))
      current.set(Some(s))
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        sc.removeJobTag(tag(s))
        parent.foreach { p =>
          p.childNs += s.endNs - s.startNs
          sc.addJobTag(tag(p))
        }
        current.set(parent)
      }
    }

  private def tag(s: Span) = s"gbspan-${s.id}"

  private def spanOf(tags: Iterable[String], atMs: Long): Option[Span] =
    tags.collectFirst {
      case t if t.startsWith("gbspan-") => spans.get(t.stripPrefix("gbspan-").toLong)
    }.flatMap(Option(_)).map { s =>
      var cur: Option[Span] = Some(s)
      while (cur.exists(c => !c.contains(atMs)) && cur.exists(_.parent.nonEmpty))
        cur = cur.flatMap(_.parent)
      cur.filter(_.contains(atMs)).getOrElse(s)
    }

  private def tagsOf(p: java.util.Properties): Seq[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(tagsOf(e.properties), e.time).foreach { s =>
      s.jobs += 1
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(id => execSpan.getOrElseUpdate(id.toLong, s))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.remove(e.jobId).foreach { case (s, t0) =>
      s.jobIntervals += ((t0, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
      s.taskMs += e.taskInfo.duration
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case st: SparkListenerSQLExecutionStart =>
      spanOf(st.jobTags, st.time).foreach(execSpan(st.executionId) = _)
    case end: SparkListenerSQLExecutionEnd =>
      // `qe` is package-private in Spark; read it reflectively
      val qe = end.getClass.getMethod("qe").invoke(end)
        .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
      for (s <- execSpan.remove(end.executionId) if qe != null) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        s.analysisMs += ms("analysis")
        s.optimizationMs += ms("optimization")
        s.planningMs += ms("planning")
      }
    case _ =>
  }

  /** Per-name rows of the per-layer table: sums over calls, except
    * task_skew (max over median task time across all the name's tasks)
    * and nested (1 when a call of that name ran inside another span).
    */
  def summary(): Seq[(String, Map[String, Double])] = {
    org.apache.spark.GraftListenerBridge.drainListenerBus(sc, 30000L)
    val closed = spans.values.asScala.filter(_.endNs > 0L).toSeq
    val children = closed.groupBy(_.parent.map(_.id).getOrElse(0L))
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    closed.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      def sum(f: Span => Double) = ss.map(f).sum
      val gap = ss.map { s =>
        val ivs = subtree(s).flatMap(_.jobIntervals)
          .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var hi = Long.MinValue
        ivs.foreach { case (a, b) =>
          if (a > hi) { covered += b - a; hi = b }
          else if (b > hi) { covered += b - hi; hi = b }
        }
        math.max(0.0, s.wallS - covered / 1e3)
      }.sum
      val taskMs = ss.flatMap(_.taskMs).sorted
      val skew =
        if (taskMs.isEmpty) 0.0
        else taskMs.last.toDouble / math.max(1L, taskMs(taskMs.size / 2))
      val mb = 1024.0 * 1024.0
      name -> Map(
        "calls" -> ss.size.toDouble,
        "nested" -> (if (ss.exists(_.parent.nonEmpty)) 1.0 else 0.0),
        "wall_s" -> sum(_.wallS),
        "self_s" -> sum(s => (s.endNs - s.startNs - s.childNs) / 1e9),
        "jobs" -> sum(_.jobs.toDouble),
        "tasks" -> sum(_.tasks.toDouble),
        "task_run_s" -> sum(_.taskRunMs / 1e3),
        "task_cpu_s" -> sum(_.taskCpuNs / 1e9),
        "gc_s" -> sum(_.gcMs / 1e3),
        "analysis_s" -> sum(_.analysisMs / 1e3),
        "optimization_s" -> sum(_.optimizationMs / 1e3),
        "planning_s" -> sum(_.planningMs / 1e3),
        "driver_gap_s" -> gap,
        "input_mb" -> sum(_.inputBytes / mb),
        "shuffle_write_mb" -> sum(_.shuffleWriteBytes / mb),
        "spill_mb" -> sum(_.spillBytes / mb),
        "output_mb" -> sum(_.outputBytes / mb),
        "task_skew" -> skew)
    }
  }
}

/** Driver-heap and GC readings: the heap in use after every collection
  * (JMX notifications; heap pools only, so Metaspace and the code cache
  * are left out), and collector time. After a young collection
  * the reading still holds old-generation garbage, an amount that varies
  * from run to run; after a full collection it is the live heap.
  */
object JvmStats {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  // (MB in use after the collection, whether fullGc forced it)
  private val afterGc = mutable.ArrayBuffer.empty[(Double, Boolean)]
  private var forcedMs = 0L

  def install(): Unit = {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              val forced = info.getGcCause == "System.gc()"
              JvmStats.synchronized {
                afterGc += ((used / (1024.0 * 1024.0), forced))
                if (forced) forcedMs += info.getGcInfo.getDuration
                JvmStats.notifyAll()
              }
            }
        }, null, null)
      case _ =>
    }
  }

  /** Position in the post-GC readings, for [[since]]. */
  def mark(): Int = synchronized(afterGc.size)
  /** Heap in use (MB) after every collection since `mark`. */
  def since(mark: Int): Seq[Double] = synchronized(afterGc.drop(mark).map(_._1).toSeq)
  /** Heap in use (MB) after each [[fullGc]] since `mark`. */
  def fullSince(mark: Int): Seq[Double] =
    synchronized(afterGc.drop(mark).collect { case (mb, true) => mb }.toSeq)

  /** A full collection, returning once its notification has been read
    * (notifications arrive on a JMX thread, after `System.gc` returns).
    */
  def fullGc(): Unit = synchronized {
    def forced = afterGc.count(_._2)
    val before = forced
    System.gc()
    val deadline = System.currentTimeMillis() + 10000L
    while (forced == before && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    require(forced > before, "no notification for the forced GC")
  }

  /** Collector time so far, the forced full GCs left out. */
  def gcSeconds: Double = {
    val ms: Long = synchronized {
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum - forcedMs
    }
    ms / 1e3
  }
}
