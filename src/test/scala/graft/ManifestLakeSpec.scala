package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.lake.{ManifestLake, MergeWriter}
import graft.model.Candle

/** Manifest-pointer commit protocol (round-10 verdict item 5): data
  * files immutable, visibility = one atomic manifest create — a torn
  * merge must be INVISIBLE to readers, a commit race must fail loud,
  * and the merged state must equal the lock path's semantics.
  */
class ManifestLakeSpec extends SparkSpec {
  import spark.implicits._

  private def candles(rows: (Long, Double, String)*): DataFrame =
    rows.map { case (tsMs, close, exch) =>
      Candle(new Timestamp(tsMs), 1.0, 2.0, 0.5, close, 10.0, "BTC-USDT", exch)
    }.toDF()

  private val T0 = 1609459200000L // 2021-01-01
  private val Day = 86400000L

  private def tmpLake(): String =
    Files.createTempDirectory("graft_mlake").toString + "/lake"

  /** A fresh lake made a manifest lake up front: the protocol is a
    * property of the lake, read from its layout by every merge.
    */
  private def manifestLake(): String = {
    val lake = tmpLake()
    ManifestLake.create(spark, lake)
    lake
  }

  /** The schema of record a manifest lake's commit headers resolve to. */
  private def headerSchema(lake: String): Option[StructType] = {
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestLake.resolveHeaders(fs, lake, ManifestLake.latestVersion(spark, lake)).schema
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
  }

  test("merge semantics match the lock path: keep-last per key, idempotent, partition-isolated") {
    val lake = manifestLake()
    val b1 = MergeWriter.withPartitionCols(
      candles((T0, 100.0, "coinbase"), (T0 + Day, 200.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b1, lake, 1)
    // overlapping correction + an untouched sibling partition
    val b2 = MergeWriter.withPartitionCols(candles((T0, 999.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b2, lake, 2)
    val out = MergeWriter.readLake(spark, lake).orderBy("timestamp").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("close") == 999.0, "last writer must win")
    assert(out(1).getAs[Double]("close") == 200.0, "untouched partition intact")
    // idempotence: re-delivering b2 changes nothing
    MergeWriter.merge(spark, b2, lake, 3)
    val again = MergeWriter.readLake(spark, lake).orderBy("timestamp")
      .drop("ingest_seq").collect().toSeq
    assert(again.map(_.getAs[Double]("close")) == Seq(999.0, 200.0))
  }

  test("a torn merge (crash between data write and manifest commit) is invisible to readers") {
    val lake = manifestLake()
    val b1 = MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b1, lake, 1)
    val before = MergeWriter.readLake(spark, lake).drop("ingest_seq").collect().toSeq
    // crash in the torn window
    ManifestLake.beforeCommitHook = () => {
      ManifestLake.beforeCommitHook = () => ()
      throw new IllegalStateException("injected crash before manifest commit")
    }
    val b2 = MergeWriter.withPartitionCols(
      candles((T0, 555.0, "coinbase"), (T0 + Day, 200.0, "coinbase")), "15m", "spot")
    val e = intercept[IllegalStateException] { MergeWriter.merge(spark, b2, lake, 2) }
    assert(e.getMessage.contains("injected"), e.getMessage)
    // the torn txn's files exist on disk… (txn dirs carry a
    // writer-private random token: txn-2-<token>)
    val tornDirs = new java.io.File(s"$lake/data").listFiles()
      .filter(_.getName.startsWith("txn-2-"))
    assert(tornDirs.nonEmpty,
      "test premise: the torn write must have landed data files")
    // …but a reader sees EXACTLY the pre-merge state
    assert(MergeWriter.readLake(spark, lake).drop("ingest_seq").collect().toSeq == before)
    // the retry converges (reclaiming the orphaned txn dir)
    MergeWriter.merge(spark, b2, lake, 2)
    val out = MergeWriter.readLake(spark, lake).orderBy("timestamp").collect()
    assert(out.map(_.getAs[Double]("close")).toSeq == Seq(555.0, 200.0))
  }

  test("unreferenced data files are invisible: a stray txn directory never reaches readers") {
    val lake = manifestLake()
    val b1 = MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b1, lake, 1)
    // an abandoned writer's orphan: full partition layout, never committed
    candles((T0 + Day, 666.0, "coinbase")).toDF()
      .withColumn("ingest_seq", lit(9L))
      .write.parquet(s"$lake/data/txn-999/symbol=BTC-USDT/interval=15m/" +
        "data_type=spot/exchange=coinbase/date=20210102")
    val out = MergeWriter.readLake(spark, lake).collect()
    assert(out.length == 1 && out(0).getAs[Double]("close") == 100.0,
      "uncommitted files leaked into a read")
  }

  test("commit race: the losing writer fails loud with nothing corrupted") {
    val lake = manifestLake()
    val b1 = MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b1, lake, 1)
    // a TRUE race: the competitor lands m2 AFTER this merge resolved
    // the current version (v=1) but before its own commit — its entry
    // keeps pointing at the txn dir m1 committed
    val txn1 = new java.io.File(s"$lake/data").listFiles()
      .map(_.getName).find(_.startsWith("txn-1-")).get
    ManifestLake.beforeCommitHook = () => {
      ManifestLake.beforeCommitHook = () => ()
      val fs = new org.apache.hadoop.fs.Path(lake)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val race = fs.create(new org.apache.hadoop.fs.Path(s"$lake/_manifest/m2.txt"), false)
      race.write(("symbol=BTC-USDT/interval=15m/data_type=spot/exchange=coinbase/" +
        s"date=20210101\t$txn1\n").getBytes("UTF-8"))
      race.close()
    }
    val b2 = MergeWriter.withPartitionCols(candles((T0, 555.0, "coinbase")), "15m", "spot")
    val e = intercept[IllegalStateException] { MergeWriter.merge(spark, b2, lake, 2) }
    assert(e.getMessage.contains("commit conflict"), e.getMessage)
    // the loser's data write must not have disturbed the committed state
    val out = MergeWriter.readLake(spark, lake).collect()
    assert(out.length == 1 && out(0).getAs[Double]("close") == 100.0)
  }

  test("vacuum reclaims superseded files and dead orphans; possibly-in-flight txns wait out the grace") {
    val lake = manifestLake()
    val b1 = MergeWriter.withPartitionCols(
      candles((T0, 100.0, "coinbase"), (T0 + Day, 200.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b1, lake, 1)
    // remap day1 twice (txn-2, txn-3); plant a DEAD orphan (version 2
    // ≤ current 3: its target version is committed, the owning writer
    // can only lose its CAS — reclaim immediately) and a
    // FUTURE-versioned orphan (version 50 > current 3: could be an
    // in-flight writer's private dir — reclaim only past the grace)
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 101.0, "coinbase")), "15m", "spot"), lake, 2)
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 102.0, "coinbase")), "15m", "spot"), lake, 3)
    candles((T0, 7.0, "coinbase")).toDF().withColumn("ingest_seq", lit(9L))
      .write.parquet(s"$lake/data/txn-2-deadbeef/symbol=BTC-USDT/interval=15m/" +
        "data_type=spot/exchange=coinbase/date=20210101")
    candles((T0, 7.0, "coinbase")).toDF().withColumn("ingest_seq", lit(9L))
      .write.parquet(s"$lake/data/txn-50/symbol=BTC-USDT/interval=15m/" +
        "data_type=spot/exchange=coinbase/date=20210101")
    val before = MergeWriter.readLake(spark, lake).orderBy("timestamp")
      .collect().map(_.getAs[Double]("close")).toSeq
    assert(before == Seq(102.0, 200.0))
    val removed = ManifestLake.vacuum(spark, lake)
    assert(removed > 0, "vacuum must reclaim the superseded day1 copies + dead orphan")
    // the ≤-current orphan is gone; the possibly-in-flight dir SURVIVES
    // the default grace (deleting it would let a racing merge COMMIT a
    // manifest referencing deleted files)
    assert(!new java.io.File(s"$lake/data/txn-2-deadbeef").exists(),
      "dead (≤ current) orphan must reclaim immediately")
    assert(new java.io.File(s"$lake/data/txn-50").exists(),
      "future-versioned txn dir may be in-flight — must survive the grace")
    // a commit temp orphaned by a crash between content write and the
    // publishing rename follows the same grace discipline
    val orphanTmp = new java.io.File(s"$lake/_manifest/.m99.deadbeef.tmp")
    java.nio.file.Files.write(orphanTmp.toPath, "torn".getBytes("UTF-8"))
    ManifestLake.vacuum(spark, lake)
    assert(orphanTmp.exists(), "a young commit temp may be a live writer's")
    // …and everything reclaims once aged past the grace
    ManifestLake.vacuum(spark, lake, txnGraceMillis = 0L)
    assert(!new java.io.File(s"$lake/data/txn-50").exists(),
      "aged-out future-versioned orphan must reclaim")
    assert(!orphanTmp.exists(), "aged-out commit temp must reclaim")
    val after = MergeWriter.readLake(spark, lake).orderBy("timestamp")
      .collect().map(_.getAs[Double]("close")).toSeq
    assert(after == before)
  }

  test("vacuum x in-flight merge: a sweep inside the write-to-commit window cannot corrupt the commit") {
    // Round-12 verdict item 1: vacuum used to reclaim ANY unreferenced
    // data dir — including a concurrent merge's pre-commit txn dir —
    // after which the merge's CAS still succeeded, COMMITTING a manifest
    // that references deleted files. The version guard must leave the
    // in-flight dir alone; the commit must land and read back intact.
    val lake = manifestLake()
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot"), lake, 1)
    // supersede day1 so the sweep has REAL garbage to reclaim
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 101.0, "coinbase")), "15m", "spot"), lake, 2)
    var reclaimed = -1L
    ManifestLake.beforeCommitHook = () => {
      ManifestLake.beforeCommitHook = () => ()
      // vacuum fires in the torn window: data written, manifest not yet
      reclaimed = ManifestLake.vacuum(spark, lake)
    }
    val b = MergeWriter.withPartitionCols(
      candles((T0, 555.0, "coinbase"), (T0 + Day, 200.0, "coinbase")), "15m", "spot")
    MergeWriter.merge(spark, b, lake, 3) // must NOT throw
    assert(reclaimed >= 1, "the sweep must still reclaim genuine garbage (superseded day1)")
    // the committed manifest references intact files — full read works
    val out = MergeWriter.readLake(spark, lake).orderBy("timestamp")
      .collect().map(_.getAs[Double]("close")).toSeq
    assert(out == Seq(555.0, 200.0),
      s"commit after an in-window vacuum must reference intact files: $out")
  }

  test("rewrite x merge: a merge landing inside a clustering rewrite's snapshot-to-commit span fails the rewrite loud") {
    // Round-12 advice (medium): repartitionLake/clusterManifest snapshot
    // the manifest, derive a full rewrite, and previously re-resolved the
    // version at commit time — silently overwriting an intervening
    // merge's partitions with stale pre-merge data. With the CAS pinned
    // to the snapshot version, the rewrite must fail loud and the
    // merge's rows must survive.
    val lake = tmpLake()
    val rows = (1L to 100L).map(i => (i, i * 1.0, (i % 4).toString))
      .toDF("id", "v", "part").withColumn("seq", lit(1L))
    ManifestLake.mergeKeyed(spark, rows, lake, keys = Seq("part"),
      dedupKeys = Seq($"id"), order = Seq($"seq"))
    ManifestLake.beforeCommitHook = () => {
      ManifestLake.beforeCommitHook = () => ()
      // a merge commits INSIDE the rewrite's window, updating key 1
      ManifestLake.mergeKeyed(spark,
        Seq((1L, 999.0, "1")).toDF("id", "v", "part").withColumn("seq", lit(2L)),
        lake, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
    }
    val e = intercept[IllegalStateException] {
      graft.lake.Compactor.clusterManifest(spark, lake, Seq("v"), 10L)
    }
    assert(e.getMessage.contains("commit conflict"), e.getMessage)
    // the intervening merge's row is intact, not stale-overwritten
    val got = ManifestLake.read(spark, lake).filter($"id" === 1L)
      .select($"v").as[Double].collect().toSeq
    assert(got == Seq(999.0), s"merge inside the rewrite window must survive: $got")
    // re-run against the new current version: the rewrite then lands
    graft.lake.Compactor.clusterManifest(spark, lake, Seq("v"), 10L)
    assert(ManifestLake.read(spark, lake).filter($"id" === 1L)
      .select($"v").as[Double].collect().toSeq == Seq(999.0))
  }

  test("additive schema evolution flows through manifest txns (unionByName across versions)") {
    val lake = manifestLake()
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot"), lake, 1)
    // month two grows vwap, touching only day2 — day1's txn never has it
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0 + Day, 200.0, "coinbase")), "15m", "spot")
        .withColumn("vwap", lit(1.25)), lake, 2)
    val out = MergeWriter.readLake(spark, lake).orderBy("timestamp").collect()
    assert(out.length == 2)
    assert(out(0).isNullAt(out(0).fieldIndex("vwap")))
    assert(out(1).getAs[Double]("vwap") == 1.25)
  }

  test("partition values that need path escaping are rejected loudly") {
    val lake = manifestLake()
    val bad = MergeWriter.withPartitionCols(candles((T0, 100.0, "coin base")), "15m", "spot")
    val e = intercept[IllegalArgumentException] { MergeWriter.merge(spark, bad, lake, 1) }
    assert(e.getMessage.contains("escaping"), e.getMessage)
  }

  test("readAt time travel: a committed version is byte-stable under later merges (q175)") {
    val lake = manifestLake()
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot"), lake, 1)
    val v1 = ManifestLake.readAt(spark, lake, 1L)
      .select("timestamp", "close").as[(Timestamp, Double)].collect().toSet
    // a later merge REWRITES the same partition (keep-last updates the
    // T0 row) and adds a day — v1 must not move
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(
        candles((T0, 150.0, "coinbase"), (T0 + Day, 200.0, "coinbase")), "15m", "spot"), lake, 2)
    val v1Again = ManifestLake.readAt(spark, lake, 1L)
      .select("timestamp", "close").as[(Timestamp, Double)].collect().toSet
    assert(v1Again == v1, "v1 snapshot changed after a later merge")
    assert(v1.map(_._2) == Set(100.0))
    val v2 = ManifestLake.readAt(spark, lake, 2L)
      .select($"close").as[Double].collect().toSet
    assert(v2 == Set(150.0, 200.0), "current version must see the rewrite")
    // read() is the highest committed version
    assert(ManifestLake.read(spark, lake).count() == 2)
  }

  test("data-write race: a competing FULL merge in the loser's window cannot corrupt the winner") {
    // Round-11 advice (high): with a SHARED txn-(v+1) directory, writer
    // B's Overwrite landing between A's data write and A's commit let
    // A's committed manifest reference B's files. Token-named txn dirs
    // make each writer's data private: B commits a whole merge inside
    // A's window; A must fail loud and the lake must hold EXACTLY B's
    // result, with A's data dir unreferenced garbage.
    val lake = manifestLake()
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot"), lake, 1)
    ManifestLake.beforeCommitHook = () => {
      ManifestLake.beforeCommitHook = () => ()
      // the competitor does a COMPLETE merge — data write AND commit —
      // into the same partition, from the same resolved version
      MergeWriter.merge(spark,
        MergeWriter.withPartitionCols(candles((T0, 777.0, "coinbase")), "15m", "spot"), lake, 3)
    }
    val e = intercept[IllegalStateException] {
      MergeWriter.merge(spark,
        MergeWriter.withPartitionCols(candles((T0, 555.0, "coinbase")), "15m", "spot"), lake, 2)
    }
    assert(e.getMessage.contains("commit conflict"), e.getMessage)
    val out = MergeWriter.readLake(spark, lake).collect()
    assert(out.length == 1 && out(0).getAs[Double]("close") == 777.0,
      "committed state must be exactly the winning writer's merge")
    // the loser's retry now merges against B's state; seq 3 > 2 keeps B's row
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 555.0, "coinbase")), "15m", "spot"), lake, 2)
    val retry = MergeWriter.readLake(spark, lake).collect()
    assert(retry.length == 1 && retry(0).getAs[Double]("close") == 777.0,
      "retry must dedup against the winner's state (higher seq wins)")
  }

  test("vacuum retention: a snapshot inside the horizon survives; one past it fails loud") {
    val lake = manifestLake()
    (1 to 3).foreach { i =>
      MergeWriter.merge(spark,
        MergeWriter.withPartitionCols(candles((T0, 100.0 + i, "coinbase")), "15m", "spot"),
        lake, i.toLong)
    }
    val v2Before = ManifestLake.readAt(spark, lake, 2L)
      .select($"close").as[Double].collect().toSet
    ManifestLake.vacuum(spark, lake, retainVersions = 2)
    // inside the horizon: still served, identical
    assert(ManifestLake.readAt(spark, lake, 2L)
      .select($"close").as[Double].collect().toSet == v2Before)
    assert(ManifestLake.readAt(spark, lake, 3L)
      .select($"close").as[Double].collect().toSet == Set(103.0))
    // past it: loud, named failure — not a silent half-read
    val e = intercept[IllegalArgumentException] { ManifestLake.readAt(spark, lake, 1L) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // default retention (current only) then reclaims v2
    ManifestLake.vacuum(spark, lake)
    val e2 = intercept[IllegalArgumentException] { ManifestLake.readAt(spark, lake, 2L) }
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
    assert(ManifestLake.read(spark, lake)
      .select($"close").as[Double].collect().toSet == Set(103.0))
  }

  test("schema evolution through the manifest path: type change rejected BEFORE any write") {
    val lake = manifestLake()
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot"), lake, 1)
    // the schema of record is the commit header, not a sidecar
    assert(headerSchema(lake).exists(_.fieldNames.contains("close")))
    assert(!new java.io.File(s"$lake/_graft_schema.json").exists())
    val txnsBefore = new java.io.File(s"$lake/data").listFiles().length
    val bad = MergeWriter.withPartitionCols(candles((T0 + Day, 1.0, "coinbase")), "15m", "spot")
      .withColumn("close", lit("oops-string"))
    val e = intercept[IllegalStateException] { MergeWriter.merge(spark, bad, lake, 2) }
    assert(e.getMessage.contains("TYPE"), e.getMessage)
    // rejected before the data write: no new txn dir, no new version
    assert(new java.io.File(s"$lake/data").listFiles().length == txnsBefore,
      "type-change reject must happen before any txn data lands")
    assert(ManifestLake.read(spark, lake).count() == 1)
  }

  test("add-column merge advances the tracked schema; mixed-version read shows null") {
    val lake = manifestLake()
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot"), lake, 1)
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0 + Day, 200.0, "coinbase")), "15m", "spot")
        .withColumn("vwap", lit(1.25)), lake, 2)
    // the commit header tracks the evolved schema
    assert(headerSchema(lake).exists(_.fieldNames.contains("vwap")))
    // and an OLD-shape writer is still accepted after evolution
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0 + 2 * Day, 300.0, "coinbase")), "15m", "spot"),
      lake, 3)
    val out = MergeWriter.readLake(spark, lake).orderBy("timestamp").collect()
    assert(out.length == 3)
    assert(out(0).isNullAt(out(0).fieldIndex("vwap")))
    assert(out(1).getAs[Double]("vwap") == 1.25)
    assert(out(2).isNullAt(out(2).fieldIndex("vwap")))
  }

  test("commit tags: a redelivered tagged merge is a no-op commit (exactly-once for streaming sinks)") {
    val lake = manifestLake()
    val docs = Seq((1L, "alpha text", "web", "20210101", "m1"))
      .toDF("doc_id", "text", "source", "date", "text_md5")
    graft.streaming.CorpusIngest.mergeDocs(spark, docs, lake, 7L)
    val versions = new java.io.File(s"$lake/_manifest").listFiles().length
    // at-least-once redelivery: same batchId → same tag → NO new version
    graft.streaming.CorpusIngest.mergeDocs(spark, docs, lake, 7L)
    assert(new java.io.File(s"$lake/_manifest").listFiles().length == versions,
      "redelivered batch must be a no-op commit, not a duplicate version")
    assert(ManifestLake.read(spark, lake).count() == 1)
    // a NEW batch still commits normally
    graft.streaming.CorpusIngest.mergeDocs(spark,
      Seq((2L, "beta text", "web", "20210101", "m2"))
        .toDF("doc_id", "text", "source", "date", "text_md5"), lake, 8L)
    assert(ManifestLake.read(spark, lake).count() == 2)
  }

  test("mergeKeyedRetrying: the race loser re-resolves and folds the winner's rows in") {
    val lake = tmpLake()
    val b1 = Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "v", "part")
      .withColumn("seq", lit(1L))
    ManifestLake.mergeKeyed(spark, b1, lake, keys = Seq("part"),
      dedupKeys = Seq($"id"), order = Seq($"seq"))
    // a competitor lands m2 inside our commit window: it updates key 1
    ManifestLake.beforeCommitHook = () => {
      ManifestLake.beforeCommitHook = () => ()
      ManifestLake.mergeKeyed(spark,
        Seq((1L, 111.0, "a")).toDF("id", "v", "part").withColumn("seq", lit(2L)),
        lake, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
    }
    // our merge updates key 2 and inserts key 3; attempt 1 loses the
    // CAS, attempt 2 re-reads the winner's state and commits on top
    val ours = Seq((2L, 222.0, "b"), (3L, 30.0, "a")).toDF("id", "v", "part")
      .withColumn("seq", lit(3L))
    ManifestLake.mergeKeyedRetrying(spark, ours, lake, keys = Seq("part"),
      dedupKeys = Seq($"id"), order = Seq($"seq"))
    val out = ManifestLake.read(spark, lake).select($"id", $"v")
      .as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 111.0, 2L -> 222.0, 3L -> 30.0),
      s"both writers' effects must survive, serialized by the version chain: $out")
    // bounded: with retries exhausted the conflict surfaces loudly
    ManifestLake.beforeCommitHook = () => {
      // a fresh competitor on EVERY attempt
      val fs = new org.apache.hadoop.fs.Path(lake)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val v = (1 to 99).find(i =>
        !fs.exists(new org.apache.hadoop.fs.Path(s"$lake/_manifest/m$i.txt"))).get
      val race = fs.create(new org.apache.hadoop.fs.Path(s"$lake/_manifest/m$v.txt"), false)
      race.write("".getBytes("UTF-8")); race.close()
    }
    try {
      val e = intercept[IllegalStateException] {
        ManifestLake.mergeKeyedRetrying(spark,
          Seq((4L, 4.0, "a")).toDF("id", "v", "part").withColumn("seq", lit(9L)),
          lake, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"),
          maxAttempts = 2)
      }
      assert(e.getMessage.contains("commit conflict"), e.getMessage)
    } finally ManifestLake.beforeCommitHook = () => ()
  }

  test("repartitionLake: layout evolves in one commit; time travel crosses the change") {
    val lake = tmpLake()
    val rows = (1L to 100L).map(i =>
      (i, i * 1.0, (i % 4).toString, (i % 16).toString))
      .toDF("id", "v", "bucket4", "bucket16")
    ManifestLake.mergeKeyed(spark, rows, lake, keys = Seq("bucket4"),
      dedupKeys = Seq($"id"), order = Seq($"id"))
    val before = ManifestLake.read(spark, lake)
      .select($"id", $"v").as[(Long, Double)].collect().toSet
    ManifestLake.repartitionLake(spark, lake, Seq("bucket16"))
    // data identical, new layout live
    val after = ManifestLake.read(spark, lake)
    assert(after.select($"id", $"v").as[(Long, Double)].collect().toSet == before)
    val entries = ManifestLake.currentEntries(spark, lake)
    assert(entries.keySet.forall(_.startsWith("bucket16=")), entries.keySet.toString)
    assert(entries.size == 16)
    // time travel resolves the PRE-evolution layout under the old keys
    val v1 = ManifestLake.readAt(spark, lake, 1L)
    assert(v1.columns.contains("bucket4"))
    assert(v1.select($"id", $"v").as[(Long, Double)].collect().toSet == before)
    // a later keyed merge works against the evolved layout
    ManifestLake.mergeKeyed(spark,
      Seq((1L, 999.0, "1", "1")).toDF("id", "v", "bucket4", "bucket16"),
      lake, keys = Seq("bucket16"), dedupKeys = Seq($"id"), order = Seq($"v"))
    val got = ManifestLake.read(spark, lake).filter($"id" === 1L)
      .select($"v").as[Double].collect().toSeq
    assert(got == Seq(999.0))
    // guards: non-string and non-column keys are rejected
    intercept[IllegalArgumentException] {
      ManifestLake.repartitionLake(spark, lake, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      ManifestLake.repartitionLake(spark, lake, Seq("nope"))
    }
  }

  test("importLockLake: a lock-path lake becomes manifest v1 with byte-identical files in place") {
    val lake = tmpLake()
    // a lock-path lake with schema evolution across merges (so the
    // import txn holds heterogeneous physical schemas — the read must
    // go through the tracked sidecar)
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(
        candles((T0, 100.0, "coinbase"), (T0 + Day, 200.0, "coinbase")), "15m", "spot"), lake, 1)
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0 + 2 * Day, 300.0, "coinbase")), "15m", "spot")
        .withColumn("vwap", lit(1.25)), lake, 2)
    assert(!ManifestLake.isManifestLake(spark, lake))
    val before = MergeWriter.readLake(spark, lake)
      .select($"timestamp", $"close", $"vwap")
      .as[(Timestamp, Double, Option[Double])].collect().toSet
    // fingerprint the data files (name → size): import must move, never rewrite
    def dataFiles(root: java.io.File): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    }
    val filesBefore = dataFiles(new java.io.File(lake))
    assert(ManifestLake.importLockLake(spark, lake) == 1L)
    assert(ManifestLake.isManifestLake(spark, lake))
    // same bytes, referenced IN PLACE (round-13 verdict item 4: the
    // import manifest points at the original k=v directories via the
    // @root marker — zero renames, zero reader window)
    assert(dataFiles(new java.io.File(lake)) == filesBefore,
      "import must reference the existing files in place, not move or rewrite them")
    assert(!new java.io.File(s"$lake/data").exists(),
      "in-place import must not create a data dir")
    assert(ManifestLake.read(spark, lake)
      .select($"timestamp", $"close", $"vwap")
      .as[(Timestamp, Double, Option[Double])].collect().toSet == before,
      "post-import read must equal the pre-import lock-path read")
    // re-import is refused loudly
    val e = intercept[IllegalArgumentException] { ManifestLake.importLockLake(spark, lake) }
    assert(e.getMessage.contains("already"), e.getMessage)
    // the imported lake is a first-class merge target (routes through the
    // manifest protocol automatically) …
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 111.0, "coinbase")), "15m", "spot"), lake, 3)
    val out = MergeWriter.readLake(spark, lake).orderBy("timestamp")
      .collect().map(_.getAs[Double]("close")).toSeq
    assert(out == Seq(111.0, 200.0, 300.0))
    // … with the whole read side live: time travel to the import version
    // and a change feed across the post-import merge
    assert(ManifestLake.readAt(spark, lake, 1L)
      .orderBy("timestamp").collect().map(_.getAs[Double]("close")).toSeq ==
      Seq(100.0, 200.0, 300.0))
    val feed = graft.lake.ChangeFeed.readChanges(spark, lake, 1L, 2L,
      Seq("symbol", "interval", "data_type", "exchange", "date", "timestamp"))
    val types = feed.groupBy($"_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(types == Map("update_preimage" -> 1L, "update_postimage" -> 1L),
      s"the post-import correction must surface as one update pair: $types")
  }

  test("readAt rejects uncommitted versions loudly") {
    val lake = manifestLake()
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase")), "15m", "spot"), lake, 1)
    val e = intercept[IllegalArgumentException] { ManifestLake.readAt(spark, lake, 2L) }
    assert(e.getMessage.contains("not committed"), e.getMessage)
    val e0 = intercept[IllegalArgumentException] { ManifestLake.readAt(spark, lake, 0L) }
    assert(e0.getMessage.contains("not committed"), e0.getMessage)
  }

  test("delta manifests: commits write changed entries only; checkpoints carry the full map + ledgers; chains survive vacuum") {
    // Round-13 verdict item 1 semantics on a small lake (the 1024-entry
    // byte/open-count rehearsal is in ScaleRehearsalSpec): off-checkpoint
    // commits are deltas, every checkpointInterval-th version is full, a
    // mid-chain snapshot resolves checkpoint+suffix, vacuum retains each
    // surviving delta's chain, and the tag ledger outlives retention.
    val lake = tmpLake()
    def batch(part: String, v: Double, seq: Long): DataFrame =
      Seq((part.toLong, v, part, seq)).toDF("id", "v", "part", "seq")
    def merge(df: DataFrame, tag: Option[String] = None): Unit = {
      ManifestLake.mergeKeyed(spark, df, lake, keys = Seq("part"),
        dedupKeys = Seq($"id"), order = Seq($"seq", $"id"), commitTag = tag)
      ()
    }
    // v1: 8 partitions in one merge (full by rule: version 1)
    merge((0 to 7).map(i => (i.toLong, 1.0, i.toString, 1L))
      .toDF("id", "v", "part", "seq"))
    // v2..v12: single-partition updates; v2 tagged (the ledger probe)
    (2 to 12).foreach { i =>
      merge(batch((i % 8).toString, i * 1.0, i.toLong),
        tag = if (i == 2) Some("probe-tag-v2") else None)
    }
    val md = new java.io.File(s"$lake/_manifest")
    def bodyOf(v: Long): java.io.File =
      md.listFiles().filter(_.getName.matches(s"m$v\\.[0-9a-f]{8}\\.body")).head
    def entryLines(f: java.io.File): Seq[String] =
      scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
        .filter(l => l.nonEmpty && !l.startsWith("#"))
    // a delta commit's body is its ONE touched entry, not the 8-entry map
    assert(entryLines(bodyOf(3L)).size == 1,
      s"v3 must be a one-entry delta: ${entryLines(bodyOf(3L))}")
    // v10 is the checkpoint: full map (8 entries) + accumulated ledgers
    assert(entryLines(bodyOf(10L)).size == 8,
      s"v10 must be a full checkpoint: ${entryLines(bodyOf(10L))}")
    val ckptHead = scala.io.Source.fromFile(bodyOf(10L), "UTF-8").getLines()
      .takeWhile(_.startsWith("#")).toSeq
    assert(ckptHead.exists(_.startsWith("#kind=full")), ckptHead)
    assert(ckptHead.exists(l => l.startsWith("#tagsacc=") && l.contains("probe-tag-v2")),
      s"checkpoint must accumulate the tag ledger: $ckptHead")
    // mid-chain snapshots resolve exactly (v9 walks 9..1, v12 walks 12..10)
    def stateAt(v: Long): Map[Long, Double] =
      ManifestLake.readAt(spark, lake, v).select($"id", $"v")
        .as[(Long, Double)].collect().toMap
    assert(stateAt(9L) == Map(0L -> 8.0, 1L -> 9.0, 2L -> 2.0, 3L -> 3.0,
      4L -> 4.0, 5L -> 5.0, 6L -> 6.0, 7L -> 7.0))
    assert(stateAt(12L) == Map(0L -> 8.0, 1L -> 9.0, 2L -> 10.0, 3L -> 11.0,
      4L -> 12.0, 5L -> 5.0, 6L -> 6.0, 7L -> 7.0))
    // vacuum(retain=2): chain keeps m10 (the base checkpoint) for m11/m12
    // resolution; m1..m9 reclaim; the horizon refuses them as snapshots
    ManifestLake.vacuum(spark, lake, retainVersions = 2)
    assert(stateAt(12L) == stateAt(12L)) // still resolvable
    assert(ManifestLake.readAt(spark, lake, 11L).count() == 8)
    val names = md.listFiles().map(_.getName).filter(_.matches("m\\d+\\.txt")).toSet
    assert(names == Set("m10.txt", "m11.txt", "m12.txt"),
      s"chain retention must keep exactly the base checkpoint + retained: $names")
    val e = intercept[IllegalArgumentException] { ManifestLake.readAt(spark, lake, 10L) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // the tag ledger survived retention: a redelivered v2 tag still no-ops
    val before = ManifestLake.latestVersion(spark, lake)
    merge(batch("2", 99.0, 99L), tag = Some("probe-tag-v2"))
    assert(ManifestLake.latestVersion(spark, lake) == before,
      "a redelivered tag from BEYOND the retained manifests must no-op via the checkpoint ledger")
    assert(stateAt(12L)(2L) == 10.0, "the no-op must not have changed data")
  }

  test("a crashed commit's wedged pointer blocks its version loudly; vacuum reclaims it past the grace") {
    // Crash between the pointer create and its one-line token write: the
    // version reads as UNCOMMITTED (never as an empty lake), writers fail
    // loud (no silent skip - a skipped version could orphan a zombie's
    // later-completing commit), and an AGED wedge is vacuum-reclaimable.
    val lake = tmpLake()
    ManifestLake.mergeKeyed(spark,
      Seq((1L, 1.0, "a", 1L)).toDF("id", "v", "part", "seq"), lake,
      keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wedged = new org.apache.hadoop.fs.Path(s"$lake/_manifest/m2.txt")
    fs.create(wedged, false).close() // empty pointer = the crash artifact
    // readers: the wedged version is invisible, v1 still serves
    assert(ManifestLake.latestVersion(spark, lake) == 1L)
    assert(ManifestLake.read(spark, lake).count() == 1L)
    // writers: loud conflict naming the unresolved pointer
    val e = intercept[IllegalStateException] {
      ManifestLake.mergeKeyed(spark,
        Seq((2L, 2.0, "a", 2L)).toDF("id", "v", "part", "seq"), lake,
        keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
    }
    assert(e.getMessage.contains("commit conflict") &&
      e.getMessage.contains("unresolved"), e.getMessage)
    // a YOUNG wedge survives vacuum (could be a live committer mid-publish)
    ManifestLake.vacuum(spark, lake)
    assert(fs.exists(wedged), "young wedged pointer must survive the grace")
    // aged out, it reclaims - and the version is committable again
    ManifestLake.vacuum(spark, lake, txnGraceMillis = 0L)
    assert(!fs.exists(wedged), "aged wedged pointer must reclaim")
    ManifestLake.mergeKeyed(spark,
      Seq((2L, 2.0, "a", 2L)).toDF("id", "v", "part", "seq"), lake,
      keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
    assert(ManifestLake.latestVersion(spark, lake) == 2L)
    assert(ManifestLake.read(spark, lake).count() == 2L)
  }

  test("in-place import: a looping reader observes only the pre-import or post-import state") {
    // Round-13 verdict item 4's reader window: the import is ONE pointer
    // create over data that never moves, so a reader polling throughout
    // must see the full 3 rows at every observation, via whichever layout
    // is current.
    val lake = tmpLake()
    MergeWriter.merge(spark,
      MergeWriter.withPartitionCols(candles((T0, 100.0, "coinbase"),
        (T0 + Day, 200.0, "coinbase"), (T0 + 2 * Day, 300.0, "coinbase")),
        "15m", "spot"), lake, 1)
    @volatile var stop = false
    @volatile var anomaly: Option[String] = None
    val reader = new Thread(() => {
      while (!stop && anomaly.isEmpty) {
        try {
          val n = if (ManifestLake.latestVersion(spark, lake) > 0)
            ManifestLake.read(spark, lake).count()
          else spark.read.parquet(lake).count()
          if (n != 3L) anomaly = Some(s"observed $n rows mid-import")
        } catch { case e: Throwable => anomaly = Some(e.toString) }
      }
    })
    reader.start()
    try {
      Thread.sleep(150L) // let the reader observe the pre-import state
      assert(ManifestLake.importLockLake(spark, lake) == 1L)
      Thread.sleep(300L) // and the post-import state
    } finally { stop = true; reader.join(30000L) }
    assert(anomaly.isEmpty, s"reader saw a partial import: $anomaly")
    assert(ManifestLake.read(spark, lake).count() == 3L)
  }

  test("checkpoint cadence: every K-th version is a full manifest") {
    val lake = tmpLake()
    def merge(i: Int): Unit = {
      ManifestLake.mergeKeyed(spark,
        Seq((i.toLong, i.toDouble, "a", i.toLong)).toDF("id", "v", "part", "seq"),
        lake, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
      ()
    }
    val saved = ManifestLake.checkpointInterval
    ManifestLake.checkpointInterval = 3
    try {
      (1 to 7).foreach(merge)
      val md = new java.io.File(s"$lake/_manifest")
      def kindOf(v: Long): String = {
        val body = md.listFiles()
          .filter(_.getName.matches(s"m$v\\.[0-9a-f]{8}\\.body")).head
        scala.io.Source.fromFile(body, "UTF-8").getLines()
          .find(_.startsWith("#kind=")).get.stripPrefix("#kind=")
      }
      assert((1L to 7L).map(kindOf) ==
        Seq("full", "delta", "full", "delta", "delta", "full", "delta"),
        "K=3 must checkpoint at v1 and every 3rd version")
      assert(ManifestLake.readAt(spark, lake, 5L).count() == 5L,
        "a mid-chain snapshot under the custom cadence resolves checkpoint+suffix")
    } finally ManifestLake.checkpointInterval = saved
    // back on the default cadence, commits keep working
    merge(8)
    assert(ManifestLake.read(spark, lake).count() == 8L)
  }

  test("the tracked schema rides the commit CAS: reads survive a lost, stale, or corrupted sidecar") {
    // Round-14 advice (low): the sidecar publish is decoupled from the
    // manifest commit, so a content race could publish a sidecar missing
    // a just-evolved column — and readGroupedPaths projects THROUGH the
    // tracked schema, silently dropping that column's data from reads.
    // The fix: an evolving merge commits a #schema= header atomic with
    // its CAS, checkpoints re-carry it (#schemaacc=), reads prefer the
    // header over the sidecar, and manifest merges no longer write one.
    // A sidecar left beside a manifest lake — lost or stale — must not
    // change any read.
    val saved = ManifestLake.checkpointInterval
    ManifestLake.checkpointInterval = 2
    try {
      val lake = tmpLake()
      ManifestLake.mergeKeyed(spark,
        Seq((1L, 1.0, "a", 1L)).toDF("id", "v", "part", "seq"), lake,
        keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
      // v2 evolves the schema with a new nullable column
      ManifestLake.mergeKeyed(spark,
        Seq((2L, 2.0, "a", 2L, "extra")).toDF("id", "v", "part", "seq", "w"),
        lake, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
      val sidecar = new java.io.File(s"$lake/_graft_schema.json")
      assert(!sidecar.exists(), "a manifest merge writes no sidecar")
      def readW(): Map[Long, String] =
        ManifestLake.read(spark, lake).select($"id", $"w")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // no sidecar: the header schema surfaces the evolved column
      assert(readW() == Map(1L -> null, 2L -> "extra"),
        "a lost sidecar must not drop the evolved column from reads")
      // sidecar STALE (the race's outcome: pre-evolution content wins the
      // publish): the header remains authoritative
      val staleJson = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("part", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType))).json
      java.nio.file.Files.write(sidecar.toPath, staleJson.getBytes("UTF-8"))
      assert(readW() == Map(1L -> null, 2L -> "extra"),
        "a stale sidecar must not shadow the committed header schema")
      // the schema survives into the checkpoint ledger: v2 was a
      // checkpoint (K=2), and later commits without their own #schema=
      // keep resolving it through #schemaacc=
      ManifestLake.mergeKeyed(spark,
        Seq((3L, 3.0, "a", 3L)).toDF("id", "v", "part", "seq"), lake,
        keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
      val fs = new org.apache.hadoop.fs.Path(lake)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hs = ManifestLake.resolveHeaders(fs, lake, 3L)
      assert(hs.schema.exists(_.contains("\"w\"")),
        s"the evolved schema must resolve from the header ledger: ${hs.schema}")
      assert(ManifestLake.read(spark, lake).columns.contains("w"))
    } finally ManifestLake.checkpointInterval = saved
  }

  test("manifest merges write no schema sidecar; an imported lake's first merge moves its schema into the log") {
    def day(i: Int) = MergeWriter.withPartitionCols(
      candles((T0 + i * Day, 100.0 + i, "coinbase")), "15m", "spot")
    // a lock-path lake whose sidecar records an evolved column
    val lake = tmpLake()
    MergeWriter.merge(spark, day(0), lake, 1)
    MergeWriter.merge(spark, day(1).withColumn("vwap", lit(1.25)), lake, 2)
    val sidecar = new java.io.File(s"$lake/_graft_schema.json")
    val recorded = java.nio.file.Files.readAllBytes(sidecar.toPath).toSeq
    ManifestLake.importLockLake(spark, lake)
    assert(headerSchema(lake).isEmpty, "test premise: the import commits no schema header")
    // one merge that does not evolve the schema
    MergeWriter.merge(spark, day(2), lake, 3)
    assert(ManifestLake.latestVersion(spark, lake) == 2L)
    assert(headerSchema(lake).exists(_.fieldNames.contains("vwap")),
      "the first manifest merge must commit the imported schema")
    assert(java.nio.file.Files.readAllBytes(sidecar.toPath).toSeq == recorded,
      "a manifest merge must not rewrite the sidecar")
    val schema = ManifestLake.read(spark, lake).schema
    assert(sidecar.delete())
    assert(ManifestLake.read(spark, lake).schema == schema,
      "the log alone must carry the schema once the first merge committed")
    assert(ManifestLake.read(spark, lake).count() == 3L)
    // a lake made a manifest lake up front never gets a sidecar
    val fresh = manifestLake()
    MergeWriter.merge(spark, day(0), fresh, 1)
    MergeWriter.merge(spark, day(1).withColumn("vwap", lit(1.25)), fresh, 2)
    assert(!new java.io.File(s"$fresh/_graft_schema.json").exists())
    assert(headerSchema(fresh).exists(_.fieldNames.contains("vwap")))
  }

  test("a redelivery from beyond the tag-ledger horizon re-applies LOUDLY and converges") {
    // Round-14 verdict item 5: maxAccTags bounds the checkpoint dedup
    // ledger, so a batch redelivered from beyond that horizon re-applies
    // silently-but-convergently. The residual must be VISIBLE: a tag
    // miss while the ledger is at capacity warns and bumps the
    // agedTagRedeliveryRisk counter, so an operator sees the
    // at-least-once residual instead of trusting the no-op blindly.
    val (savedTags, savedInterval) = (ManifestLake.maxAccTags, ManifestLake.checkpointInterval)
    ManifestLake.checkpointInterval = 2
    ManifestLake.maxAccTags = 3
    try {
      val lake = tmpLake()
      def merge(id: Long, v: Double, seq: Long, tag: String): Unit = {
        ManifestLake.mergeKeyed(spark,
          Seq((id, v, "a", seq)).toDF("id", "v", "part", "seq"), lake,
          keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"),
          commitTag = Some(tag))
        ()
      }
      (1 to 6).foreach(i => merge(i.toLong, i.toDouble, i.toLong, s"t$i"))
      val fs = new org.apache.hadoop.fs.Path(lake)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hs = ManifestLake.resolveHeaders(fs, lake, 6L)
      assert(!hs.tags.contains("t1") && hs.tags.size == 3,
        s"test premise: t1 must have aged out of the capped ledger: ${hs.tags}")
      // beyond-horizon redelivery: t1's batch again, with its ORIGINAL
      // (old) seq — it re-applies as a new version, keep-last keeps the
      // newer row, and the residual is counted + warned
      val riskBefore = ManifestLake.agedTagRedeliveryRisk.get()
      merge(1L, 1.0, 1L, "t1")
      assert(ManifestLake.agedTagRedeliveryRisk.get() == riskBefore + 1,
        "a tag miss at ledger capacity must count as an aging risk")
      assert(ManifestLake.latestVersion(spark, lake) == 7L,
        "the beyond-horizon redelivery re-applies (at-least-once residual)")
      val state = ManifestLake.read(spark, lake)
        .select($"id", $"v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(state == (1 to 6).map(i => i.toLong -> i.toDouble).toMap,
        s"keep-last must converge the re-applied batch: $state")
      // a WITHIN-horizon redelivery still no-ops without touching the counter
      val v7 = ManifestLake.latestVersion(spark, lake)
      merge(6L, 6.0, 6L, "t6")
      assert(ManifestLake.latestVersion(spark, lake) == v7, "t6 must no-op")
      assert(ManifestLake.agedTagRedeliveryRisk.get() == riskBefore + 1,
        "a ledger hit must not count as an aging risk")
    } finally {
      ManifestLake.maxAccTags = savedTags
      ManifestLake.checkpointInterval = savedInterval
    }
  }

  test("a checkpoint's own tag occupies exactly one ledger slot (no double count)") {
    // Round-14 advice (low): resolveHeaders collected a ledger-carrying
    // manifest's own #tag= from BOTH the header walk and its #tagsacc=,
    // so every checkpointed tag consumed two maxAccTags slots — halving
    // the effective redelivery-dedup horizon at checkpoint cadence.
    val saved = ManifestLake.checkpointInterval
    ManifestLake.checkpointInterval = 2
    try {
      val lake = tmpLake()
      def merge(i: Int): Unit = {
        ManifestLake.mergeKeyed(spark,
          Seq((i.toLong, i.toDouble, "a", i.toLong)).toDF("id", "v", "part", "seq"),
          lake, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"),
          commitTag = Some(s"t$i"))
        ()
      }
      (1 to 5).foreach(merge) // checkpoints at v2 and v4 carry ledgers
      val fs = new org.apache.hadoop.fs.Path(lake)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hs = ManifestLake.resolveHeaders(fs, lake, 5L)
      assert(hs.tags == Vector("t1", "t2", "t3", "t4", "t5"),
        s"each tag must appear exactly once, in commit order: ${hs.tags}")
    } finally ManifestLake.checkpointInterval = saved
  }
}
