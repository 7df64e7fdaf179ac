package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Pipeline, TextIndex}

/** Local filesystem under the `faultfs` scheme that fails every file
  * created under a `*_len/` table and delays every file created under
  * a `*_df/` table — drives one of TextIndex.buildIndex's two
  * concurrent writes into failure while the other is still running. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")
  private def fault(f: Path): Unit = {
    val s = f.toString
    if (s.contains("_len/"))
      throw new java.io.IOException(s"injected write failure: $s")
    if (s.contains("_df/")) Thread.sleep(4000)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    fault(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    fault(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

/** The served-artifact lifecycle of the text index, the bucketed join
  * layout and the split artifacts: keyed on the full source path and
  * every build parameter, one build per key under concurrency, and no
  * catalog aliasing between two served databases. */
class ServedLifecycleSpec extends AnyFunSuite with SparkTestBase {

  /** Write `docs` as the documents table of a fresh corpus dir. */
  private def corpus(name: String, docs: DataFrame): String = {
    val dir = scratch(name)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def sfDocs: DataFrame = Tables(spark, sf, "documents")

  private def splits(dir: String, newMod: Int = 20): Map[Long, String] =
    Pipeline.splitAssignServedForDir(spark, dir, newMod).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("split artifacts: newMod keys the artifact — 20 then 10 serves a cold newMod=10 build") {
    val dir = corpus("served_newmod/corpus", sfDocs)
    val cold = corpus("served_newmod_cold/corpus10", sfDocs)
    val expected = splits(cold, 10)
    splits(dir, 20)
    assert(splits(dir, 10) == expected)
  }

  test("split artifacts: same-basename corpora get separate artifacts (A → B → A)") {
    // B is A's corpus shifted by one doc_id: its index holds the texts
    // A's batch must NOT see, so serving A from B's artifact changes
    // A's assignments.
    val shifted = sfDocs.withColumn("doc_id", col("doc_id") + 1)
    val a = corpus("served_basename/a/corpus", sfDocs)
    val b = corpus("served_basename/b/corpus", shifted)
    val bCold = corpus("served_basename_cold/corpusb", shifted)
    val a1 = splits(a)
    val b1 = splits(b)
    val a2 = splits(a)
    assert(a2 == a1, "A must be served from its own artifact after B")
    assert(b1 == splits(bCold))
    assert(a1 != b1)
  }

  test("text search and q3_bucketed alternate over two corpora without catalog aliasing") {
    import spark.implicits._
    val ta = corpus("served_alias/textA",
      Seq((1L, "batch merge x"), (2L, "merge only")).toDF("doc_id", "text"))
    val tb = corpus("served_alias/textB",
      Seq((10L, "batch merge batch"), (11L, "nothing here"))
        .toDF("doc_id", "text"))
    val search = TextIndex.queries("text_search_and")
    def hits(dir: String) =
      search(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    for (_ <- 0 until 2) {
      assert(hits(ta) == Set(1L -> 2L))
      assert(hits(tb) == Set(10L -> 3L))
    }

    // B: sf0.001 with a third of lineitem removed — same bucket count
    // (defaultParallelism), different q3 answer
    val qb = scratch("served_alias/q3B")
    Seq("orders", "customer").foreach { t =>
      Tables(spark, sf, t).write.parquet(s"$qb/$t.parquet")
    }
    Tables(spark, sf, "lineitem").filter(col("l_orderkey") % 3 =!= 0)
      .write.parquet(s"$qb/lineitem.parquet")
    def q3(dir: String) = Analytics.q3Bucketed(spark, dir).collect().toSeq
    val expectA = Analytics.q3ShippingPriority(spark, sf).collect().toSeq
    val expectB = Analytics.q3ShippingPriority(spark, qb).collect().toSeq
    assert(expectA != expectB)
    for (_ <- 0 until 2) {
      assert(q3(sf) == expectA)
      assert(q3(qb) == expectB)
    }
  }

  test("two threads cold-serving one split artifact run exactly one build") {
    val dir = corpus("served_race/racecorpus", sfDocs)
    // one build = one write of the artifact's `corpus_split` table
    // (the write's target path sits in the plan's argument details)
    val splitWrite =
      """(?s)InsertIntoHadoopFsRelationCommand.*splitart_racecorpus\S*/corpus_split""".r
    val builds = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if splitWrite
            .findFirstIn(s.physicalPlanDescription).isDefined =>
          builds.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = try {
        val calls = (0 until 2).map(_ => pool.submit(
          new java.util.concurrent.Callable[Map[Long, String]] {
            def call(): Map[Long, String] = { start.await(); splits(dir) }
          }))
        start.countDown()
        calls.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      ListenerBusDrain(spark.sparkContext)
      assert(builds.get() == 1)
      assert(results(0).nonEmpty && results(0) == results(1))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("buildIndex: a failed _len write returns only after the _df write has finished") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faultfs.impl", classOf[FaultFs].getName)
    conf.setBoolean("fs.faultfs.impl.disable.cache", true)
    val dir = scratch("served_pool_failure")
    val db = graft.catalog.GraftDatabase(spark, s"faultfs://$dir/db")
    val docs = Seq((1L, "batch merge x"), (2L, "merge only"))
      .toDF("doc_id", "text")
    val err = intercept[Exception](TextIndex.buildIndex(db, "t", docs, 2))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected")), err)
    ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "the _df write must not outlive buildIndex")
  }
}
