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
  /** [[Session.configure]]'s behaviour confs — the ones the mains run
    * with — on a 4-core local master with a per-run warehouse.
    */
  lazy val session: SparkSession = {
    val s = Session.configure(SparkSession.builder())
      .appName("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // catalog-table suites (Scale/Plan) must not land ./spark-warehouse
      // in the repo working tree; unique per run so parallel sbt JVMs
      // never share bucketed tables. Same scratch tier as the mains
      // (RAM-backed when available — Session.scratchRoot)
      .config("spark.sql.warehouse.dir",
        s"${Session.scratchRoot}/graft_test_warehouse_${java.util.UUID.randomUUID().toString.take(8)}")
      .config("spark.local.dir", s"${Session.scratchRoot}/graft_test_local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
