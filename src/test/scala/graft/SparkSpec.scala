package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared Spark test harness: one local session per suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val sf: String = "/root/testdata/sf0.001"

  /** Total file-scan records read across every task inside `body`
    * (parquet scans and cached-block reads both count). */
  def inputRecords(body: => Unit): Long = {
    val tot = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.inputMetrics != null)
          tot.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(1500) /* drain the async listener bus */ }
    finally spark.sparkContext.removeSparkListener(listener)
    tot.get()
  }

  override def afterAll(): Unit = {
    // session shared across suites — do not stop
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // mirror Session.build: same-shaped codegen stages share one class
      .config("spark.sql.codegen.useIdInClassName", "false")
      // mirror Session.build: every session, cloned streaming ones
      // included, shares the executor's classloader and codegen cache
      .config("spark.sql.artifact.isolation.enabled", "false")
      // mirror Session.build: local file ops fork no chmod/readlink
      .config("spark.hadoop.fs.file.impl", classOf[graft.lake.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.lake.NioLocalFs].getName)
      // mirror Session.build: catalog-table suites (Scale/Plan) must not
      // land ./spark-warehouse in the repo working tree; unique per run
      // so parallel sbt JVMs never share bucketed tables. Same scratch
      // tier as the mains (RAM-backed when available — Session.scratchRoot)
      .config("spark.sql.warehouse.dir",
        s"${Session.scratchRoot}/graft_test_warehouse_${java.util.UUID.randomUUID().toString.take(8)}")
      .config("spark.local.dir", s"${Session.scratchRoot}/graft_test_local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
