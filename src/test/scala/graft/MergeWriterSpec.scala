package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.lake.MergeWriter
import graft.model.Candle

/** Merge-upsert semantics (K2): keep-last per key, idempotence, partition
  * isolation under dynamic overwrite (FIXTURES.md §2 merge fixtures).
  */
class MergeWriterSpec extends SparkSpec {
  import spark.implicits._

  private def candles(rows: (Long, Double, String)*): DataFrame =
    rows.map { case (tsMs, close, exch) =>
      Candle(new Timestamp(tsMs), 1.0, 2.0, 0.5, close, 10.0, "BTC-USDT", exch)
    }.toDF()

  private def tmpLake(): String =
    Files.createTempDirectory("graft_lake").toString + "/lake"

  private val T0 = 1609459200000L // 2021-01-01
  private val Day = 86400000L

  test("fresh write then overlapping merge keeps last writer per timestamp") {
    val lake = tmpLake()
    val b1 = MergeWriter.withPartitionCols(
      candles((T0, 100.0, "coinbase"), (T0 + 900000, 101.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b1, lake, ingestSeq = 1)
    // second batch overlaps the first timestamp with a corrected close
    val b2 = MergeWriter.withPartitionCols(
      candles((T0, 999.0, "coinbase"), (T0 + 1800000, 102.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b2, lake, ingestSeq = 2)

    val out = spark.read.parquet(lake).orderBy("timestamp").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Double]("close") == 999.0) // last writer won
    assert(out(1).getAs[Double]("close") == 101.0)
    assert(out(2).getAs[Double]("close") == 102.0)
  }

  test("lock-path merge re-reads a partition whose value needs path escaping") {
    // the affected read lists the touched directories by name: a value
    // the writer escapes (symbol=BTC%2FUSD%3AT) must resolve to the same
    // directory, or dynamic overwrite would drop the partition's old rows
    val lake = tmpLake()
    def batch(rows: (Long, Double)*) = MergeWriter.withPartitionCols(rows.map { case (ts, close) =>
      Candle(new Timestamp(ts), 1.0, 2.0, 0.5, close, 10.0, "BTC/USD:T", "coinbase")
    }.toDF(), "15m", "spot")
    MergeWriter.merge(spark, batch((T0, 100.0), (T0 + 900000, 101.0)), lake, 1)
    MergeWriter.merge(spark, batch((T0, 999.0), (T0 + 1800000, 102.0)), lake, 2)
    val out = spark.read.parquet(lake).orderBy("timestamp").collect()
    assert(out.map(_.getAs[Double]("close")).toSeq == Seq(999.0, 101.0, 102.0))
    assert(out.forall(_.getAs[String]("symbol") == "BTC/USD:T"))
  }

  test("merge is idempotent: re-ingesting the same batch changes nothing") {
    val lake = tmpLake()
    val b = MergeWriter.withPartitionCols(
      candles((T0, 100.0, "coinbase"), (T0 + 900000, 101.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b, lake, 1)
    val before = spark.read.parquet(lake).orderBy("timestamp")
      .drop("ingest_seq").collect().toSeq
    MergeWriter.merge(spark, b, lake, 2)
    val after = spark.read.parquet(lake).orderBy("timestamp")
      .drop("ingest_seq").collect().toSeq
    assert(before == after)
  }

  test("dynamic overwrite leaves untouched partitions intact") {
    val lake = tmpLake()
    val day1 = MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot")
    val day2 = MergeWriter.withPartitionCols(candles((T0 + Day, 200.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, day1, lake, 1)
    MergeWriter.merge(spark, day2, lake, 2)
    // merging into day2 must not touch day1's partition
    val fix = MergeWriter.withPartitionCols(candles((T0 + Day, 201.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, fix, lake, 3)
    val out = spark.read.parquet(lake).orderBy("timestamp").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("close") == 100.0)
    assert(out(1).getAs[Double]("close") == 201.0)
  }

  test("cross-exchange rows never collide (exchange is a merge key)") {
    val lake = tmpLake()
    val b = MergeWriter.withPartitionCols(
      candles((T0, 100.0, "coinbase"), (T0, 100.5, "kucoin")), "15m", "spot")
    MergeWriter.merge(spark, b, lake, 1)
    assert(spark.read.parquet(lake).count() == 2)
  }

  test("lake layout has the five reference partition levels") {
    val lake = tmpLake()
    val b = MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b, lake, 1)
    val path = new java.io.File(
      s"$lake/symbol=BTC-USDT/interval=15m/data_type=spot/exchange=coinbase/date=20210101")
    assert(path.isDirectory, s"expected hive layout, got ${path.getParent}")
  }

  test("additive evolution: a batch may grow a nullable column; old partitions read back null") {
    val lake = tmpLake()
    // month one: plain candles into two dates
    val b1 = MergeWriter.withPartitionCols(
      candles((T0, 100.0, "coinbase"), (T0 + Day, 200.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b1, lake, 1)
    // month two: the schema grows `vwap`; the batch touches ONLY day2,
    // so day1's physical files never carry the column (mixed-schema lake)
    val b2 = MergeWriter.withPartitionCols(candles((T0 + Day, 201.0, "coinbase")), "15m", "spot")
      .withColumn("vwap", lit(1.25))
    MergeWriter.merge(spark, b2, lake, 2)
    val out = MergeWriter.readLake(spark, lake).orderBy("timestamp").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("close") == 100.0 && out(0).isNullAt(out(0).fieldIndex("vwap")),
      "pre-evolution partition must surface the new column as null")
    assert(out(1).getAs[Double]("close") == 201.0 && out(1).getAs[Double]("vwap") == 1.25)
    // the tracked schema advanced
    assert(MergeWriter.storedSchema(spark, lake).exists(_.fieldNames.contains("vwap")))
    // and an OLD-shape writer still merges after evolution (its rows
    // carry null in the evolved column)
    val b3 = MergeWriter.withPartitionCols(candles((T0 + 2 * Day, 300.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b3, lake, 3)
    val day3 = MergeWriter.readLake(spark, lake)
      .filter(col("date") === "20210103").collect()
    assert(day3.length == 1 && day3(0).isNullAt(day3(0).fieldIndex("vwap")))
  }

  test("schema evolution REJECTS a type change loudly") {
    val lake = tmpLake()
    val b1 = MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot")
      .withColumn("vwap", lit(1.25)) // double
    MergeWriter.merge(spark, b1, lake, 1)
    val b2 = MergeWriter.withPartitionCols(candles((T0, 101.0, "coinbase")), "15m", "spot")
      .withColumn("vwap", lit("high")) // string — silent coercion forbidden
    val e = intercept[IllegalStateException] { MergeWriter.merge(spark, b2, lake, 2) }
    assert(e.getMessage.contains("TYPE") && e.getMessage.contains("vwap"), e.getMessage)
    // the failed merge must not have corrupted the lake or its schema
    val out = MergeWriter.readLake(spark, lake).collect()
    assert(out.length == 1 && out(0).getAs[Double]("vwap") == 1.25)
    // and the lock was released by the failed attempt
    MergeWriter.merge(spark, b1, lake, 3)
  }

  test("null partition-key values are rejected loudly, not silently dropped") {
    val lake = tmpLake()
    val good = MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, good, lake, 1)
    // a null exchange would OR-compare to null (never true) and erase
    // the existing partition's rows from the merge read — fail instead
    val bad = MergeWriter.withPartitionCols(
      candles((T0 + 900000, 101.0, "coinbase")), "15m", "spot")
      .withColumn("exchange", lit(null).cast("string"))
    val e = intercept[IllegalArgumentException] { MergeWriter.merge(spark, bad, lake, 2) }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    assert(spark.read.parquet(lake).count() == 1)
  }

  test("single-writer lock: a concurrent second merge fails loud, not silently-lost rows") {
    val lake = tmpLake()
    val b = MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot")
    // simulate a writer mid-merge: its lock file exists
    val lock = new org.apache.hadoop.fs.Path(lake + ".__writer_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    val e = intercept[IllegalStateException] { MergeWriter.merge(spark, b, lake, 1) }
    assert(e.getMessage.contains("single-writer"), e.getMessage)
    // the loser must NOT have stolen or removed the holder's lock
    assert(fs.exists(lock), "failed acquire must leave the holder's lock in place")
    // crash recovery: operator breaks the stale lock, merge proceeds,
    // and the lock is released afterwards for the next writer
    assert(MergeWriter.breakLock(spark, lake))
    MergeWriter.merge(spark, b, lake, 1)
    assert(!fs.exists(lock), "lock must release after a successful merge")
    assert(spark.read.parquet(lake).count() == 1)
  }

  test("schema sidecar is republished only when its content changes") {
    val lake = tmpLake()
    val sidecar = new java.io.File(s"$lake/_graft_schema.json")
    def day(i: Int) = MergeWriter.withPartitionCols(
      candles((T0 + i * Day, 100.0 + i, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, day(0), lake, 1)
    assert(sidecar.exists(), "the first merge seeds the sidecar")
    val seeded = sidecar.lastModified()
    // same schema: no create/delete/rename of the sidecar
    MergeWriter.merge(spark, day(1), lake, 2)
    assert(sidecar.lastModified() == seeded,
      "a same-schema merge must leave the sidecar untouched")
    // evolving merge: the sidecar is rewritten with the new column
    MergeWriter.merge(spark, day(2).withColumn("vwap", lit(1.25)), lake, 3)
    assert(sidecar.lastModified() != seeded, "an evolving merge must rewrite the sidecar")
    assert(MergeWriter.storedSchema(spark, lake).exists(_.fieldNames.contains("vwap")))
  }

  test("an evolving lock-path merge leaves _graft_schema.json and no tmp file") {
    val lake = tmpLake()
    def day(i: Int) = MergeWriter.withPartitionCols(
      candles((T0 + i * Day, 100.0 + i, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, day(0), lake, 1)
    MergeWriter.merge(spark, day(1).withColumn("vwap", lit(1.25)), lake, 2)
    val names = new java.io.File(lake).listFiles().filter(_.isFile).map(_.getName).toSet
    assert(names.contains("_graft_schema.json"), s"no sidecar among $names")
    assert(!names.exists(_.endsWith(".tmp")), s"a publish temp survived: $names")
    assert(MergeWriter.storedSchema(spark, lake).exists(_.fieldNames.contains("vwap")))
  }

  test("wide merges: hundreds to thousands of touched partitions plan, prune and leave siblings alone") {
    // One backfill interval over 6 symbols x 5 exchanges x 14 days
    // touches 420 partitions; the affected-read predicate must neither
    // overflow the default stack nor widen the read beyond them.
    val exchanges = Seq("binance", "bybit", "coinbase", "kraken", "kucoin")
    val untouchedRows = 20000
    for (nTouched <- Seq(600, 1500)) {
      val lake = tmpLake()
      val combos = for {
        s <- 0 until 6; e <- exchanges; d <- 0 until nTouched / 30
      } yield (s"S$s-USDT", e, T0 + d * Day)
      def batch(close: Double) = MergeWriter.withPartitionCols(combos.map { case (s, e, ts) =>
        Candle(new Timestamp(ts), 1.0, 2.0, 0.5, close, 10.0, s, e)
      }.toDF(), "15m", "spot")
      // siblings the merge must not read or rewrite: one symbol, 4 days
      val siblings = MergeWriter.withPartitionCols((0 until untouchedRows).map { i =>
        Candle(new Timestamp(T0 + (i % 4) * Day + (i / 4) * 1000L), 1.0, 2.0, 0.5,
          1.0, 10.0, "U-USDT", "coinbase")
      }.toDF(), "15m", "spot")
      MergeWriter.merge(spark, batch(100.0).unionByName(siblings), lake, 1)
      val siblingRoot = java.nio.file.Paths.get(lake, "symbol=U-USDT")
      def siblingFiles(): Map[String, Seq[Byte]] = {
        val it = java.nio.file.Files.walk(siblingRoot)
        try it.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString -> java.nio.file.Files.readAllBytes(p).toSeq).toMap
        finally it.close()
      }
      val before = siblingFiles()
      assert(before.size == 4)

      val read = inputRecords { MergeWriter.merge(spark, batch(200.0), lake, 2) }
      // the touched partitions hold one row each: read once from parquet
      // and once from the lineage-cut checkpoint; the siblings' 20k rows
      // would blow this bound if the predicate failed to prune
      assert(read <= 4L * nTouched,
        s"$nTouched-partition merge read $read records — the affected read is not pruned")
      assert(siblingFiles() == before, "untouched partition files must stay byte-identical")
      val out = spark.read.parquet(lake)
      assert(out.count() == nTouched + untouchedRows)
      assert(out.filter($"symbol" =!= "U-USDT" && $"close" =!= 200.0).isEmpty,
        "every touched row must carry the later writer's value")
    }
  }
}
