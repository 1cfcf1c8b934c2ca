package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._
import graft.lake.{ManifestLake, MergeWriter}
import graft.model.Candle
import graft.streaming.LiveIngest

/** Structured Streaming ingest tests (SURVEY.md §5.5): MemoryStream →
  * normalize → foreachBatch merge; late/duplicate injection must not
  * create duplicate keys in the lake.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1609459200000L

  private def c(tsMs: Long, close: Double): Candle =
    Candle(new Timestamp(tsMs), 1, 2, 0.5, close, 10, "BTC-USDT", "coinbase")

  test("stream → merge lake: batches land, duplicates collapse keep-last") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Candle]
    val dir = Files.createTempDirectory("graft_stream").toString
    // data must be added BEFORE start: AvailableNow snapshots available
    // offsets at query start
    mem.addData(c(T0, 100.0), c(T0 + 900000, 101.0))
    val q = LiveIngest.start(spark, mem.toDF(), s"$dir/lake", s"$dir/ckpt",
      interval = "15m", trigger = Trigger.AvailableNow())
    q.awaitTermination()

    // second run: overlap T0 with corrected value + one new candle
    mem.addData(c(T0, 999.0), c(T0 + 1800000, 102.0))
    val q2 = LiveIngest.start(spark, mem.toDF(), s"$dir/lake", s"$dir/ckpt",
      interval = "15m", trigger = Trigger.AvailableNow())
    q2.awaitTermination()

    val out = spark.read.parquet(s"$dir/lake").orderBy("timestamp").collect()
    assert(out.length == 3, s"expected 3 rows, got ${out.length}")
    assert(out(0).getAs[Double]("close") == 999.0, "late overlap must win (keep-last)")
    assert(out(1).getAs[Double]("close") == 101.0)
    assert(out(2).getAs[Double]("close") == 102.0)
  }

  test("in-batch duplicate keys collapse to one row via the sink merge") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Candle]
    val dir = Files.createTempDirectory("graft_stream2").toString
    mem.addData(c(T0, 100.0), c(T0, 100.0), c(T0, 100.0))
    val q = LiveIngest.start(spark, mem.toDF(), s"$dir/lake", s"$dir/ckpt",
      interval = "15m", trigger = Trigger.AvailableNow())
    q.awaitTermination()
    assert(spark.read.parquet(s"$dir/lake").count() == 1)
  }

  /** One aligned catch-up launch: a fresh MemoryStream and checkpoint
    * carrying `rows`, drained with `Trigger.AvailableNow` into `lake`.
    */
  private def launch(lake: String, rows: Seq[Candle]): Unit = {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Candle]
    mem.addData(rows)
    LiveIngest.runAvailableNow(spark, mem.toDF(), lake,
      Files.createTempDirectory("graft_ckpt").toString, "15m")
  }

  /** A lake of 2 exchanges x 3 days, as a backfill leaves it. */
  private def seededLake(manifest: Boolean = false): String = {
    val lake = Files.createTempDirectory("graft_stream_seed").toString + "/lake"
    if (manifest) ManifestLake.create(spark, lake)
    val rows = for { ex <- Seq("coinbase", "kraken"); d <- 0 until 3; k <- 0 until 4 }
      yield c(T0 + d * 86400000L + k * 900000L, 100.0 + k, ex)
    MergeWriter.merge(spark, MergeWriter.withPartitionCols(rows.toDF(), "15m", "spot"), lake, 0)
    lake
  }

  /** Ten new candles in the seeded lake's newest partitions; `slot`
    * shifts them by 15 minutes so launches never share a key (a fresh
    * checkpoint restarts `batchId`, the ingest sequence, at 0).
    */
  private def liveRows(close: Double, slot: Int): Seq[Candle] =
    for { ex <- Seq("coinbase", "kraken"); k <- 0 until 5 }
      yield c(T0 + 2 * 86400000L + 7200000L + k * 1800000L + slot * 900000L, close, ex)

  private def c(tsMs: Long, close: Double, exchange: String): Candle =
    Candle(new Timestamp(tsMs), 1, 2, 0.5, close, 10, "BTC-USDT", exchange)

  test("a second fresh AvailableNow launch over same-shaped input compiles no classes") {
    val lake = seededLake()
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles(launch(lake, liveRows(200.0, 0)))
    val second = compiles(launch(lake, liveRows(300.0, 1)))
    info(s"compiles: first launch $first, second launch $second")
    assert(second == 0, s"the second launch compiled $second classes")
    assert(spark.read.parquet(lake).filter($"close" === 300.0).count() == 10)
  }

  test("one catch-up launch into an existing lake runs at most 4 Spark jobs") {
    val lake = seededLake()
    launch(lake, liveRows(200.0, 0)) // warm
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      launch(lake, liveRows(300.0, 1))
      // the listener bus delivers in order: once a marker job is seen,
      // every job of the launch has been counted
      spark.sparkContext.setJobDescription("graft-marker")
      try spark.range(1).collect() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains("graft-marker") && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    val launchJobs = jobs.asScala.toSeq.takeWhile(_ != "graft-marker")
    assert(launchJobs.size < jobs.size, "the marker job was never seen")
    info(s"${launchJobs.size} jobs")
    assert(launchJobs.size <= 4, s"one launch ran ${launchJobs.size} jobs")
    assert(spark.read.parquet(lake).filter($"close" === 300.0).count() == 10)
  }

  /** Every file under `root` with its bytes (absent root: empty). */
  private def snapshot(root: String): Map[String, Seq[Byte]] =
    if (!Files.exists(Paths.get(root))) Map.empty
    else {
      val it = Files.walk(Paths.get(root))
      try it.iterator().asScala.filter(Files.isRegularFile(_))
        .map((p: Path) => p.toString -> Files.readAllBytes(p).toSeq).toMap
      finally it.close()
    }

  for (protocol <- Seq("lock", "manifest"))
    test(s"an empty micro-batch writes and commits nothing ($protocol path)") {
      val lake = seededLake(manifest = protocol == "manifest")
      val absent = Files.createTempDirectory("graft_stream_absent").toString + "/lake"
      assert(ManifestLake.isManifestLake(spark, lake) == (protocol == "manifest"))
      val before = snapshot(lake)
      val version = ManifestLake.latestVersion(spark, lake)
      for (target <- Seq(lake, absent)) {
        // the merge itself, then the same through a live launch
        MergeWriter.merge(spark, MergeWriter.withPartitionCols(
          liveRows(300.0, 0).toDF().filter($"close" < 0.0), "15m", "spot"), target, 5)
        implicit val sc = spark.sqlContext
        val mem = MemoryStream[Candle]
        mem.addData(liveRows(300.0, 0))
        // a predicate the optimizer cannot fold: the micro-batch runs
        // over the new offsets and hands foreachBatch zero rows
        val q = LiveIngest.start(spark, mem.toDF().filter($"close" < 0.0), target,
          Files.createTempDirectory("graft_ckpt").toString, "15m",
          trigger = Trigger.AvailableNow())
        q.awaitTermination()
        assert(q.recentProgress.exists(_.numInputRows == 10), "no micro-batch ran")
      }
      val after = snapshot(lake)
      val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      assert(changed.isEmpty, s"the lake must stay byte-identical; changed: $changed")
      assert(ManifestLake.latestVersion(spark, lake) == version)
      assert(!Files.exists(Paths.get(absent)), "an empty batch must not create the lake root")
    }
}
