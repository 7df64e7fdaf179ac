package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SaveMode}

import graft.catalog.GraftDatabase

/** `curate`: batch passes of five `SparkEntry` rows over a seeded corpus
  * directory, after untimed warm-up passes over the same corpus. The
  * last measured pass's outputs are written as parquet for the oracle
  * checks. Each row's call and its action are separate spans.
  * Plan: `curate/plan.tsv` = `warmup` and `passes`, each
  * `<key> <TAB> <n>`.
  */
final class CurateWorkload extends Workload {
  val Rows = Seq("dedup_exact", "dedup_minhash", "pipeline_clean_corpus",
    "text_index_build", "ann_hnsw")
  private val last = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  private var passes = 0

  private def bytesOf(c: Ctx, rel: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"${c.inputs}/$rel")
    p.getFileSystem(c.spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  private def pass(c: Ctx, dir: String, timed: Boolean): Unit = Rows.foreach { row =>
    c.spark.catalog.clearCache()
    val bytes = bytesOf(c, s"$dir/${if (row == "ann_hnsw") "embeddings" else "documents"}.parquet")
    def run(): Unit = {
      val df = c.span(s"operators.$row")(graft.SparkEntry.queries(row)(c.spark, s"${c.inputs}/$dir"))
      val rows = c.collect(df, s"exec.collect[$row]")
      if (timed && c.phase == 0) last(row) = (rows, df.schema)
    }
    if (timed) {
      // each timed row starts from a clean heap; the live heap it left
      // behind is read by the next collection
      JvmStats.fullGc()
      c.op(row, bytes)(run())
    } else run()
  }

  def setup(c: Ctx): Unit = {
    val plan = c.lines("curate/plan.tsv").map(_.split("\t")).map(a => a(0) -> a(1).toInt).toMap
    passes = plan("passes")
    (1 to plan("warmup")).foreach(_ => pass(c, "curate", timed = false))
  }

  /** A fixed number of passes, whatever `seconds` says, so every run
    * times the same rows the same number of times. */
  def measure(c: Ctx, seconds: Double): Unit =
    (1 to passes).foreach(_ => pass(c, "curate", timed = true))

  def finish(c: Ctx): Unit = {
    last.foreach { case (row, (rows, schema)) =>
      c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"${c.root}/out/$row")
    }
    c.checks("out") = s"${c.root}/out"
    c.checks("oracles") = Rows.flatMap(r => graft.SparkEntry.oracleSql.get(r).map(r -> _)).toMap
    c.layer("operators.dedup_minhash.pairs_out") =
      last.get("dedup_minhash").map(_._1.length.toDouble).getOrElse(0.0)
  }
}

/** `stream_rw`: open-loop file drops beside a repeated streaming ingest
  * and a closed-loop reader. Three driver threads share the session:
  * the generator renames seeded CSV files into the watched directory on
  * a fixed schedule; the ingest thread repeats
  * `StreamingCsvIngest.start` -> `processAllAvailable` -> `stop`; the
  * reader runs count and aggregate queries through `GraftDatabase.sql`.
  * Plan: `stream/plan.tsv` = `initial`, `files`, `interval_ms` and
  * `rows_per_file`, each `<key> <TAB> <n>`.
  */
final class StreamRwWorkload extends Workload {
  private var db: GraftDatabase = _
  private var watch = ""
  private var stage = ""
  private var nInitial = 0
  private var nFiles = 0
  private var intervalMs = 500L
  private var rowsPerFile = 0L
  private var next = 0 // next staged file index to drop
  private val Table = "readings"
  private val TaskId = "stream-rw"
  private val drops = mutable.ArrayBuffer.empty[Seq[Double]]
  private val reads = mutable.ArrayBuffer.empty[Seq[Double]]
  private val cycles = mutable.ArrayBuffer.empty[Seq[Double]]

  private def file(i: Int) = f"part-$i%05d.csv"

  private def drop(i: Int): Unit =
    Files.move(Paths.get(stage, file(i)), Paths.get(watch, file(i)),
      StandardCopyOption.ATOMIC_MOVE)

  def setup(c: Ctx): Unit = {
    val plan = c.lines("stream/plan.tsv").map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    nInitial = plan("initial").toInt
    nFiles = plan("files").toInt
    intervalMs = plan("interval_ms").toLong
    rowsPerFile = plan("rows_per_file").toLong
    db = GraftDatabase(c.spark, s"${c.root}/db_stream")
    watch = s"${c.root}/stream_in"
    stage = s"${c.root}/stream_stage"
    Files.createDirectories(Paths.get(watch))
    Files.createDirectories(Paths.get(stage))
    (0 until nInitial + nFiles).foreach { i =>
      Files.copy(Paths.get(c.inputs, "stream", file(i)), Paths.get(stage, file(i)))
    }
    (0 until nInitial).foreach(drop)
    next = nInitial
    cycle(c, measured = false)
    (1 to 3).foreach(_ => read(c))
  }

  /** One start -> processAllAvailable -> stop cycle; a measured one is
    * logged as (start ms, end ms, seconds in processAllAvailable). */
  private def cycle(c: Ctx, measured: Boolean): Unit = c.span("streaming.cycle") {
    val t0 = System.currentTimeMillis()
    val q = c.span("streaming.StreamingCsvIngest.start") {
      graft.streaming.StreamingCsvIngest.start(db, watch, Table, TaskId)
    }
    val p0 = System.nanoTime()
    try c.span("streaming.processAllAvailable")(q.processAllAvailable())
    finally q.stop()
    val processS = (System.nanoTime() - p0) / 1e9
    if (measured) cycles.synchronized {
      cycles += Seq(t0.toDouble, System.currentTimeMillis().toDouble, processS)
    }
  }

  private val ReadSql = Seq(
    s"SELECT COUNT(*) AS n FROM $Table",
    s"SELECT sensor, COUNT(*) AS n, SUM(reading) AS s FROM $Table GROUP BY sensor")

  private var nReads = 0

  /** One reader query; returns the table's total row count it saw. */
  private def read(c: Ctx): Long = {
    val q = ReadSql(nReads % ReadSql.size)
    nReads += 1
    val df = c.span("catalog.GraftDatabase.sql")(db.sql(q))
    c.collect(df).map(_.getLong(df.columns.indexOf("n"))).sum
  }

  def measure(c: Ctx, seconds: Double): Unit = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val windowOver = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val first = next
    val n = math.min(nFiles - (next - nInitial), math.ceil(seconds * 1000 / intervalMs).toInt)
    val t0 = System.currentTimeMillis() + intervalMs
    def thread(name: String)(body: => Unit) = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => errors.add(s"$name: $e"); stop.set(true) }, name)
      t.start(); t
    }
    val gen = thread("generator") {
      (0 until n).foreach { k =>
        val due = t0 + k * intervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        drop(first + k)
        if (c.phase == 0)
          drops.synchronized { drops += Seq((first + k).toDouble, due.toDouble, System.currentTimeMillis().toDouble) }
      }
    }
    val ingest = thread("ingest") { while (!stop.get()) cycle(c, c.phase == 0) }
    val expected = (first + n) * rowsPerFile
    val reader = thread("reader") {
      var seen = -1L
      while (!stop.get()) {
        val t1 = System.currentTimeMillis()
        if (!windowOver.get()) {
          c.op("read") { seen = read(c) }
        } else seen = read(c)
        if (c.phase == 0)
          reads.synchronized { reads += Seq(t1.toDouble, System.currentTimeMillis().toDouble, seen.toDouble) }
        if (windowOver.get() && seen >= expected) stop.set(true)
      }
    }
    gen.join()
    val windowEnd = math.max(System.currentTimeMillis(), t0 + (seconds * 1000).toLong)
    while (System.currentTimeMillis() < windowEnd && !stop.get()) Thread.sleep(20)
    windowOver.set(true)
    val drainUntil = System.currentTimeMillis() + 30000L
    while (!stop.get() && System.currentTimeMillis() < drainUntil) Thread.sleep(20)
    stop.set(true)
    reader.join(); ingest.join()
    next = first + n
    if (c.phase == 0) {
      c.checks("window_end_ms") = windowEnd
    }
    if (!errors.isEmpty) throw new RuntimeException(errors.peek())
  }

  def finish(c: Ctx): Unit = {
    val t = db.read(Table)
    val agg = t.selectExpr("COUNT(*)", "COUNT(DISTINCT id)").head()
    c.checks("final_rows") = agg.getLong(0)
    c.checks("distinct_ids") = agg.getLong(1)
    c.checks("files_total") = next
    c.checks("drops") = drops.toSeq
    c.checks("reads") = reads.toSeq
    c.checks("cycles") = cycles.toSeq
    c.checks("tables") = db.listTables().size
    c.layer("catalog.views_per_call") = viewsPerCall(c)
  }

  /** Directories `GraftDatabase.sql` registers a view for on each call. */
  private def viewsPerCall(c: Ctx): Double = {
    val p = new org.apache.hadoop.fs.Path(db.path)
    p.getFileSystem(c.spark.sparkContext.hadoopConfiguration)
      .listStatus(p).count(s => s.isDirectory &&
        s.getPath.getName.matches("[A-Za-z_][A-Za-z0-9_]*")).toDouble
  }
}
