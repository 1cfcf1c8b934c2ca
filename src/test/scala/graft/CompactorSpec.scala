package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import graft.lake.{Compactor, ManifestLake, MergeWriter}
import graft.model.Candle

/** Manifest-lake layout maintenance (K1): fragmented committed
  * partitions collapse to one file each through one manifest commit,
  * data survives byte-identical, unfragmented partitions keep their
  * files, and clustering rewrites make footer statistics prune. A plain
  * partitioned lake is compacted by importing it first.
  */
class CompactorSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1609459200000L // 2021-01-01
  private val Day = 86400000L

  private def candles(rows: (Long, Double, String)*): DataFrame =
    rows.map { case (tsMs, close, exch) =>
      Candle(new Timestamp(tsMs), 1.0, 2.0, 0.5, close, 10.0, "BTC-USDT", exch)
    }.toDF()

  private def tmpLake(): String =
    Files.createTempDirectory("graft_compact").toString + "/lake"

  /** A plain partitioned lake whose one partition holds `files` files. */
  private def fragmentedPlainLake(nRows: Int, files: Int): String = {
    val lake = tmpLake()
    MergeWriter.withPartitionCols(
      candles((0 until nRows).map(i => (T0 + i * 900000L, 100.0 + i, "coinbase")): _*),
      "15m", "spot")
      .withColumn("ingest_seq", org.apache.spark.sql.functions.lit(1L))
      .repartition(files)
      .write.partitionBy("symbol", "interval", "data_type", "exchange", "date")
      .parquet(lake)
    lake
  }

  /** date/exchange → parquet files of each committed manifest entry. */
  private def entryFiles(lake: String): Map[String, Set[String]] = {
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestLake.currentEntries(spark, lake).map { case (rel, txn) =>
      val base = if (txn == "@root") lake else s"$lake/data/$txn"
      val part = rel.split("/").map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
      part("date") + "/" + part("exchange") ->
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/$rel"))
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString).toSet
    }
  }

  private def fileCounts(lake: String): Map[String, Int] =
    entryFiles(lake).map { case (k, fs) => k -> fs.size }

  test("fragmented partition compacts to one file; rows byte-identical") {
    // 4-way repartition fans one day's candles across 4 files
    val lake = fragmentedPlainLake(8, 4)
    ManifestLake.importLockLake(spark, lake)
    assert(fileCounts(lake).values.head == 4)

    val before = MergeWriter.readLake(spark, lake).orderBy("timestamp").collect().toSeq
    val summary = Compactor.compactManifest(spark, lake).collect()
    assert(summary.length == 1 && summary.head.getAs[Int]("files_before") == 4)
    assert(fileCounts(lake).values.head == 1)
    val after = MergeWriter.readLake(spark, lake).orderBy("timestamp").collect().toSeq
    assert(after == before, "compaction must not change the data")
  }

  test("only fragmented partitions rewrite; single-file partitions keep their file") {
    val lake = tmpLake()
    ManifestLake.create(spark, lake)
    // day 1: single file; day 2: 3 files (the merge's one task rolls a
    // new file every maxRecordsPerFile records)
    MergeWriter.merge(spark, MergeWriter.withPartitionCols(
      candles((T0, 100.0, "coinbase")), "15m", "spot"), lake, 1)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try MergeWriter.merge(spark, MergeWriter.withPartitionCols(
      candles((0 until 6).map(i => (T0 + Day + i * 900000L, 200.0 + i, "coinbase")): _*),
      "15m", "spot"), lake, 2)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val day1Before = entryFiles(lake)("20210101/coinbase")
    assert(fileCounts(lake) == Map("20210101/coinbase" -> 1, "20210102/coinbase" -> 3))

    val summary = Compactor.compactManifest(spark, lake).collect()
    assert(summary.map(_.getAs[String]("partition")).forall(_.contains("date=20210102")) &&
      summary.length == 1, s"only the fragmented day must compact: ${summary.mkString(",")}")
    assert(entryFiles(lake)("20210101/coinbase") == day1Before,
      "the single-file partition must keep its committed file")
    assert(fileCounts(lake) == Map("20210101/coinbase" -> 1, "20210102/coinbase" -> 1))
    assert(ManifestLake.read(spark, lake).count() == 7)
  }

  test("maxRecordsPerFile splits an oversized partition into bounded files") {
    val lake = fragmentedPlainLake(40, 4)
    ManifestLake.importLockLake(spark, lake)
    Compactor.compactManifest(spark, lake, maxFiles = 1, maxRecordsPerFile = 15L)
    // 40 rows / 15-per-file cap → 3 files, still fewer than the 4 input
    val counts = fileCounts(lake)
    assert(counts.values.head == 3, s"expected 3 capped files: $counts")
    assert(ManifestLake.read(spark, lake).count() == 40)
  }

  test("compactManifest: fragmented committed partitions collapse via one manifest commit; snapshots survive") {
    import graft.lake.ManifestLake
    val lake = tmpLake()
    ManifestLake.create(spark, lake)
    // fragment the day's txn partition the way a LARGE merge does:
    // the per-task writer rolls a new file every maxRecordsPerFile
    // records (the merge itself clusters one task per partition key)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "3")
    try MergeWriter.merge(spark, MergeWriter.withPartitionCols(
      candles((0 until 8).map(i => (T0 + i * 900000L, 100.0 + i, "coinbase")): _*),
      "15m", "spot"), lake, 1)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val before = MergeWriter.readLake(spark, lake)
      .orderBy("timestamp").collect().toSeq
    val summary = Compactor.compactManifest(spark, lake).collect()
    assert(summary.length == 1 && summary.head.getAs[Int]("files_before") >= 2,
      s"expected one fragmented partition: ${summary.toSeq}")
    // data byte-identical through the rewrite
    val after = MergeWriter.readLake(spark, lake)
      .orderBy("timestamp").collect().toSeq
    assert(after == before, "compaction must not change the data")
    // the rewritten partition is ONE file, referenced by a NEW version
    val entries = ManifestLake.currentEntries(spark, lake)
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    entries.foreach { case (rel, txn) =>
      val n = fs.listStatus(new org.apache.hadoop.fs.Path(s"$lake/data/$txn/$rel"))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      assert(n == 1, s"$rel still fragmented ($n files) after compaction")
    }
    // compaction is a COMMIT: the pre-compaction snapshot still serves
    assert(ManifestLake.readAt(spark, lake, 1L).count() == 8)
    // idempotence: a compacted lake is a no-op
    assert(Compactor.compactManifest(spark, lake).isEmpty)
  }

  test("clusterManifest with a Morton sort key: FileStats prunes a 2-dim box on the real write path") {
    import graft.lake.{FileStats, ManifestLake}
    import graft.lake.FileStats.ColRange
    val lake = tmpLake()
    // 32×32 grid in one partition, deliberately written in row-major
    // order (x-sorted): a y predicate alone prunes nothing
    val rows = (0 until 1024).map(i => (i.toLong, (i / 32).toLong, (i % 32).toLong, "p"))
      .toDF("id", "x", "y", "part")
    ManifestLake.mergeKeyed(spark, rows, lake, keys = Seq("part"),
      dedupKeys = Seq($"id"), order = Seq($"id"))
    Compactor.clusterManifest(spark, lake,
      Seq("z_interleave_n(cast(x as bigint), cast(y as bigint))"), 64L)
    FileStats.collectStats(spark, lake, Seq("x", "y"))
    // 16 z-ordered files of 64 rows = the 16 8×8 quadrants (order-2
    // Morton blocks), so an 8×8 box on EITHER dimension pair prunes
    val box = FileStats.readSkipping(spark, lake,
      Seq(ColRange("x", "0", "7"), ColRange("y", "8", "15")))
    assert(box.filesTotal == 16, s"expected 16 files, got ${box.filesTotal}")
    assert(box.filesScanned == 1,
      s"an aligned 8×8 box is exactly one Morton block: ${box.filesScanned}")
    val got = box.df.filter($"x" <= 7 && $"y" >= 8 && $"y" <= 15)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(got == (0 until 8).flatMap(x => (8 to 15).map(y => x * 32L + y)),
      "the pruned scan must still produce every box row")
    // each single dimension prunes too (the z-curve bounds both)
    val xOnly = FileStats.readSkipping(spark, lake, Seq(ColRange("x", "0", "7")))
    val yOnly = FileStats.readSkipping(spark, lake, Seq(ColRange("y", "0", "7")))
    assert(xOnly.filesScanned == 4 && yOnly.filesScanned == 4,
      s"one dim = one quadrant row/column: ${xOnly.filesScanned}, ${yOnly.filesScanned}")

    // 3-dim key: a 16×16×16 grid written x-major; 64-row files are the
    // aligned 64-code Morton blocks, each a 4×4×4 box, so every single
    // dimension prunes 3/4 of the files and a 4×4×4 box prunes to one
    val lake3 = tmpLake()
    val grid = (0 until 4096).map(i =>
      (i.toLong, (i / 256).toLong, (i / 16 % 16).toLong, (i % 16).toLong, "p"))
      .toDF("id", "x", "y", "z", "part")
    ManifestLake.mergeKeyed(spark, grid, lake3, keys = Seq("part"),
      dedupKeys = Seq($"id"), order = Seq($"id"))
    Compactor.clusterManifest(spark, lake3, Seq("z_interleave_n(" +
      "cast(x as bigint), cast(y as bigint), cast(z as bigint))"), 64L)
    FileStats.collectStats(spark, lake3, Seq("x", "y", "z"))
    val box3 = FileStats.readSkipping(spark, lake3, Seq(ColRange("x", "0", "3"),
      ColRange("y", "4", "7"), ColRange("z", "8", "11")))
    assert(box3.filesTotal == 64, s"expected 64 files, got ${box3.filesTotal}")
    assert(box3.filesScanned == 1,
      s"an aligned 4×4×4 box is exactly one Morton block: ${box3.filesScanned}")
    assert(box3.df.filter($"x" <= 3 && $"y".between(4, 7) && $"z".between(8, 11))
      .count() == 64, "the pruned scan must still produce every box row")
    for (d <- Seq("x", "y", "z")) {
      val one = FileStats.readSkipping(spark, lake3, Seq(ColRange(d, "0", "3")))
      assert(one.filesScanned == 16, s"a $d range must prune 3/4: ${one.filesScanned}")
    }
    assert(ManifestLake.read(spark, lake3).as[(Long, Long, Long, Long, String)]
      .collect().sortBy(_._1).toSeq == grid.as[(Long, Long, Long, Long, String)]
      .collect().toSeq, "the rewrite must not change data")
  }

  test("compactManifest fragmentation counts ride the stats sidecars: zero LISTs on a statted lake; @root always relocates") {
    import graft.lake.{FileStats, ManifestLake}
    import org.apache.spark.sql.functions._
    val lake = tmpLake()
    // two partitions, price-clustered into 4 files each — fragmented by
    // the maxFiles=1 rule — then ANALYZEd so the sidecars exist
    val rows = (0 until 400).map(i =>
      (i.toLong, i.toDouble, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "v", "part")
    ManifestLake.mergeKeyed(spark, rows, lake, keys = Seq("part"),
      dedupKeys = Seq($"id"), order = Seq($"id"))
    Compactor.clusterManifest(spark, lake, Seq("v"), 50L)
    FileStats.collectStats(spark, lake, Seq("v"))
    FileStats.listFallbacks.set(0L)
    val summary = Compactor.compactManifest(spark, lake).collect()
    assert(summary.length == 2, s"both fragmented partitions rewrite: ${summary.toSeq}")
    assert(FileStats.listFallbacks.get() == 0L,
      "a statted lake's fragmentation listing must not LIST any entry")
    assert(ManifestLake.read(spark, lake).count() == 400)
    // in-place imported (@root) entries always relocate, statted or not
    val legacy = tmpLake()
    (0 until 40).map(i => (i.toLong, (i % 4).toString))
      .toDF("id", "bucket").withColumn("ingest_seq", lit(1L))
      .write.partitionBy("bucket").parquet(legacy)
    ManifestLake.importLockLake(spark, legacy)
    assert(ManifestLake.currentEntries(spark, legacy).values.toSet == Set("@root"))
    Compactor.compactManifest(spark, legacy, maxFiles = 100)
    val txns = ManifestLake.currentEntries(spark, legacy).values.toSet
    assert(!txns.contains("@root"),
      s"compaction must relocate @root entries under data/: $txns")
    assert(ManifestLake.read(spark, legacy).count() == 40)
    // the legacy root directories reclaim once unreferenced
    ManifestLake.vacuum(spark, legacy, txnGraceMillis = 0L)
    assert(!new java.io.File(legacy).listFiles()
      .exists(f => f.isDirectory && f.getName.contains("=")),
      "vacuum must reclaim the superseded in-place root partitions")
    assert(ManifestLake.read(spark, legacy).count() == 40)
  }
}
