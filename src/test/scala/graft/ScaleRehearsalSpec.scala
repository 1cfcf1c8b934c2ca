package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Scale rehearsal for the relational/iterative tier (round-7 verdict
  * item 4): SkewStressSpec proves the dedup/ANN caps under planted
  * degenerate keys, but the CC / PageRank / BFS / triangle /
  * bucketed-join claims ("each round is one linear shuffle", "no
  * shuffle carries more than the raw pair relation", "the bucketed
  * join is exchange-free at any size") had only been PLAN-read, never
  * executed above sf0.1 volume. This suite runs each of those
  * pipelines on synthetic facts at sf0.1-equivalent volume (150 k
  * orders / 600 k lineitem) and at 10× that (1.5 M / 6 M — ten times
  * any data the engine had ever touched), measuring actual task
  * metrics:
  *
  *  - total shuffle-read records must grow ≤ ~linearly (13× allowed
  *    for 10× input — AQE re-plans and per-partition constants wobble
  *    the constant, a quadratic stage blows past 50×);
  *  - no single task may read more than half the query's total
  *    shuffle volume (a degenerate-key hotspot shows up as one task
  *    absorbing nearly everything);
  *  - the bucketed join's shuffle volume must be SCALE-INDEPENDENT
  *    (the join itself is exchange-free; only the 5-group aggregate
  *    and final sort shuffle, bounded by groups × partitions).
  *
  * The generators keep per-entity degree CONSTANT as n grows
  * (populations scale with n) — the regime where linear claims are
  * falsifiable: fixed populations would saturate the distinct pair
  * space and make even a quadratic stage look sublinear.
  */
class ScaleRehearsalSpec extends SparkSpec {
  import spark.implicits._

  /** (total shuffle-read records, max per-task shuffle-read records)
    * across every task that ran inside `body`.
    */
  private def shuffleStats(body: => Unit): (Long, Long) = {
    val tot = new java.util.concurrent.atomic.AtomicLong(0L)
    val max = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.shuffleReadMetrics != null) {
          tot.addAndGet(e.taskMetrics.shuffleReadMetrics.recordsRead)
          max.accumulateAndGet(e.taskMetrics.shuffleReadMetrics.recordsRead, Math.max(_, _))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(1500) /* drain the async listener bus */ }
    finally spark.sparkContext.removeSparkListener(listener)
    (tot.get(), max.get())
  }

  /** TPC-H-ish facts at `nOrders` scale, 4 lineitems/order; customers,
    * suppliers, and parts scale with n (constant expected degree).
    * Part assignment slides a window of 4 consecutive parts per order,
    * so co-purchase pairs repeat across the orders sharing an
    * (orderkey mod nParts) residue — supported edges and triangles
    * exist at every scale and their count grows linearly with n.
    */
  private def factsDir(nOrders: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"scale_$nOrders").toString
    val nCust = nOrders / 10
    val nSupp = nOrders / 20
    val nPart = nOrders / 5
    spark.range(nOrders).select(
        $"id".as("o_orderkey"),
        ($"id" % nCust).as("o_custkey"),
        concat(lit("P"), ($"id" % 5).cast("string")).as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // `div`, not `/`: Column./ on longs yields DOUBLE, and a
    // double-typed l_orderkey joined against the long o_orderkey gets a
    // cast that silently destroys bucket co-partitioning — exactly the
    // mismatch the bucketed-join test would then (correctly) fail on
    spark.range(nOrders * 4).select(
        expr("id div 4").as("l_orderkey"),
        expr(s"(id div 4 + id % 4) % $nPart").as("l_partkey"),
        ($"id" % nSupp).as("l_suppkey"),
        ($"id" % 4 + 1).cast("int").as("l_linenumber"),
        ($"id" % 50 + 1).cast("double").as("l_quantity"),
        (($"id" % 1000) + 1).cast("double").as("l_extendedprice"),
        (($"id" % 10).cast("double") / 100.0).as("l_discount"),
        lit("N").as("l_returnflag"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.range(nPart).select(
        $"id".as("p_partkey"),
        concat(lit("Brand#"), ($"id" % 5).cast("string")).as("p_brand"))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  /** Documents at `nDocs` scale in near-dup triples: the three docs of
    * group g share 29 group-specific tokens and differ in the last —
    * winnow similarity ≫ 0.4 within a group, 0 across groups, so q59's
    * edge and cluster counts grow linearly with the corpus.
    */
  private def docsDir(nDocs: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"scaledoc_$nDocs").toString
    spark.range(nDocs).select(
        $"id".as("doc_id"),
        concat_ws(" ",
          (1 to 29).map(i => concat(lit(s"w${i}g"), expr("id div 3").cast("string"))) :+
            concat(lit("tail"), ($"id" % 3).cast("string")): _*).as("text"),
        lit("en").as("lang"), lit("s").as("source"), lit(300L).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def assertLinear(name: String, small: (Long, Long), big: (Long, Long),
                           ratioCeiling: Long = 13L): Unit = {
    val (totS, _) = small
    val (totB, maxB) = big
    assert(totB <= ratioCeiling * totS + 100000L,
      s"$name shuffle volume grew ${totB.toDouble / totS.max(1)}× for 10× input " +
        s"($totS → $totB records) — super-linear stage")
    assert(maxB <= totB / 2 + 10000L,
      s"$name: one task read $maxB of $totB shuffled records — degenerate hotspot")
  }

  test("PageRank / BFS / triangle shuffles grow ~linearly from sf0.1-volume to 10x", SlowTag) {
    val small = factsDir(150000L)
    val big = factsDir(1500000L)
    for ((name, fn) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
        ("q101_pagerank", graft.operators.GraphOps.q101PageRank _),
        ("q102_bfs", graft.operators.GraphOps.q102BfsDistance _),
        ("q108_triangles", graft.operators.GraphOps.q108TriangleCount _))) {
      val s = shuffleStats { fn(spark, small).write.format("noop").mode("overwrite").save() }
      val b = shuffleStats { fn(spark, big).write.format("noop").mode("overwrite").save() }
      // 16× ceiling: partial-aggregate shuffle output scales with
      // (distinct keys × post-AQE partition count), and AQE coalesces
      // the small run harder — measured 14.5× for q108's 10× input with
      // both stages individually linear; a quadratic wedge/pair stage
      // lands near 100×, which this still catches
      assertLinear(name, s, b, ratioCeiling = 16L)
    }
  }

  test("q164 interval-overlap join shuffles grow ~linearly with users (constant concurrency)", SlowTag) {
    // Each user runs one 40-min session (5 events, 10 min apart),
    // staggered 30 min after the previous user's: every user overlaps
    // exactly the next one by 10 min, so TRUE pairs = n−1 and per-hour
    // concurrency is CONSTANT as n grows — the regime where the
    // bucketed plan's linear claim is falsifiable (a theta/all-pairs
    // formulation grows n² here; per-bucket candidates stay O(1)).
    def evDir(nUsers: Long): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"ovl_$nUsers").toString
      spark.range(nUsers * 5).select(
          $"id".as("event_id"),
          timestamp_micros(lit(1700000000000000L) +
            ($"id" % 5) * 600000000L + expr("id div 5") * 1800000000L).as("ts"),
          expr("id div 5").as("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val small = evDir(10000L)
    val big = evDir(100000L)
    var nPairs = 0L
    val s = shuffleStats {
      graft.operators.Relational2.q164SessionOverlapJoin(spark, small)
        .write.format("noop").mode("overwrite").save()
    }
    val b = shuffleStats {
      nPairs = graft.operators.Relational2.q164SessionOverlapJoin(spark, big).count()
    }
    assertLinear("q164_session_overlap_join", s, b, ratioCeiling = 16L)
    assert(nPairs == 100000L - 1L, s"expected 99999 staggered overlap pairs, got $nPairs")
  }

  test("q158 weighted-Jaccard shuffles grow ~linearly from sf0.1 doc volume to 10x", SlowTag) {
    // docsDir plants identical-but-one-word triples: every group of 3
    // yields exactly 3 pairs at wj = 29/31 ≈ 935 ‰ and shares no
    // blocking shingle across groups, so the TRUE pair count grows
    // linearly — the regime where a quadratic candidate or verify
    // stage is falsifiable. The tf-encoded merge-walk verify carries
    // one array payload per candidate side; shuffle records must track
    // candidates (linear), never corpus².
    val small = docsDir(5000L)
    val big = docsDir(50000L)
    var nPairs = 0L
    val s = shuffleStats {
      graft.operators.Fuzzy.q158WeightedJaccard(spark, small)
        .write.format("noop").mode("overwrite").save()
    }
    val b = shuffleStats {
      nPairs = graft.operators.Fuzzy.q158WeightedJaccard(spark, big).count()
    }
    assertLinear("q158_weighted_jaccard", s, b, ratioCeiling = 20L)
    // exact pair accounting at 10×: 3 per full triple, C(n mod 3, 2)
    // for the boundary group
    val expect = 3L * (50000L / 3) + (if (50000L % 3 == 2) 1L else 0L)
    assert(nPairs == expect, s"expected $expect weighted-Jaccard pairs, got $nPairs")
  }

  test("winnow-CC dedup clusters shuffle grows ~linearly from sf0.1 doc volume to 10x", SlowTag) {
    val small = docsDir(5000L)
    val big = docsDir(50000L)
    var nClusters = 0L
    val s = shuffleStats {
      graft.operators.TextOps.q59DedupClusters(spark, small)
        .write.format("noop").mode("overwrite").save()
    }
    val b = shuffleStats {
      nClusters = graft.operators.TextOps.q59DedupClusters(spark, big)
        .select($"cluster_id").distinct().count()
    }
    // 20× ceiling, not 13×: at 5k docs AQE broadcasts joins that shuffle
    // at 50k (threshold crossing), so the small-scale total UNDERCOUNTS
    // by whole stages — measured 14.1× for 10× input with per-doc cost
    // flat across further growth; a quadratic pairing stage would land
    // near 100×, which this ceiling still catches
    assertLinear("q59_dedup_clusters", s, b, ratioCeiling = 20L)
    // the clusters must also be REAL at 10×: one per planted triple.
    // Winnowing is a sketch — for a ~0.4% tail of groups the min
    // selection lands on the single differing gram across enough
    // windows that all three pair sims dip under the 0.4 threshold
    // (measured 16598 of 16667 at this corpus shape) — so the bound is
    // ≥ 98% formed, and never MORE than one cluster per group (a
    // cross-group merge would mean spurious edges)
    val expected = 50000L / 3 + 1
    assert(nClusters <= expected && nClusters >= expected * 98 / 100,
      s"expected ~one cluster per planted triple ($expected), got $nClusters")
  }

  test("q156 shuffle volume is vocab-bounded: 10x corpus with a FIXED vocabulary shuffles flat", SlowTag) {
    // q156's scale posture claims the corpus contributes only a
    // map-side-combined token-count aggregate whose shuffle is bounded
    // by vocabulary × partitions, with ALL pairing work on the
    // vocabulary relation — so a 10× corpus over the SAME 300-token
    // vocabulary must leave total shuffle records ~FLAT (not merely
    // linear). This is the measured version of "bounded for natural
    // language regardless of corpus bytes".
    def vocabDir(nDocs: Long): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"vocab_$nDocs").toString
      spark.range(nDocs).select(
          $"id".as("doc_id"),
          concat_ws(" ", (1 to 30).map(i =>
            concat(lit("tok"), (($"id" * 31 + i) % 300).cast("string"))): _*).as("text"),
          lit("en").as("lang"), lit("s").as("source"), lit(200L).as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val small = vocabDir(20000L)
    val big = vocabDir(200000L)
    var rows = 0L
    val s = shuffleStats {
      graft.operators.Fuzzy.q156TokenVariants(spark, small)
        .write.format("noop").mode("overwrite").save()
    }
    val b = shuffleStats {
      rows = graft.operators.Fuzzy.q156TokenVariants(spark, big).count()
    }
    assert(rows > 0, "variant pairs must exist in the synthetic vocab")
    // flat, not linear: 2× headroom absorbs partial-agg buffer jitter;
    // a corpus-shuffling plan would land near 10×
    assert(b._1 <= s._1 * 2 + 100000L,
      s"q156 shuffle grew ${b._1.toDouble / s._1.max(1)}× for 10× corpus " +
        s"over a fixed vocab (${s._1} → ${b._1} records) — corpus-sized stage leaked")
  }

  test("q145 dup-span removal shuffle grows ~linearly from sf0.1 doc volume to 10x", SlowTag) {
    // the near-dup triple corpus makes virtually every gram cross-doc
    // duplicated (df = 3 within a group), so the removal rewrites ~2/3
    // of the corpus — the heaviest possible load for the owner join and
    // the positional anti join; both must stay linear in the corpus
    val small = docsDir(5000L)
    val big = docsDir(50000L)
    val s = shuffleStats {
      graft.operators.Curation.q145DupSpanRemoval(spark, small)
        .write.format("noop").mode("overwrite").save()
    }
    var removedOk = true
    val b = shuffleStats {
      val r = graft.operators.Curation.q145DupSpanRemoval(spark, big)
        .selectExpr("sum(case when n_removed > 0 then 1 else 0 end) AS n_cut",
          "count(*) AS n")
        .head()
      // exactly the non-canonical members of each planted dup group are
      // cut: 2 per full triple, 1 for a leftover pair (50000 % 3 = 2 →
      // 16666·2 + 1)
      val (cut, n) = (r.getLong(0), r.getLong(1))
      val expected = (n / 3) * 2 + (if (n % 3 == 2) 1 else 0)
      removedOk = cut == expected
    }
    assertLinear("q145_dup_span_removal", s, b, ratioCeiling = 16L)
    assert(removedOk, "exactly the non-canonical members of each dup group must be rewritten")
  }

  test("merge reads scale with the batch, not the lake (streaming-tier rehearsal at 10x)", SlowTag) {
    // The MergeWriter claim under test: "the merge only ever
    // reads/writes the partitions present in the incoming batch, so
    // cost scales with batch size, not lake size". Here that is
    // MEASURED, not plan-read: a 40-date lake and a 400-date lake (2 M
    // rows — 10×) each take the same 2-date batch; the file-scan
    // records of the merge must be ~(2 affected dates + batch), and —
    // the load-bearing assertion — must NOT grow with the lake.
    import graft.lake.MergeWriter
    val rowsPerDate = 5000L
    def mkLake(nDates: Long): String = {
      val lake = java.nio.file.Files.createTempDirectory(s"mergescale_$nDates").toString + "/lake"
      val df = spark.range(nDates * rowsPerDate).select(
        expr(s"timestamp_millis(1609459200000 + (id div $rowsPerDate) * 86400000" +
          s" + (id % $rowsPerDate) * 17000)").as("timestamp"),
        lit(1.0).as("open"), lit(2.0).as("high"), lit(0.5).as("low"),
        ($"id" % 100).cast("double").as("close"), lit(10.0).as("volume"),
        lit("BTC-USDT").as("symbol"), lit("coinbase").as("exchange"))
      MergeWriter.merge(spark, MergeWriter.withPartitionCols(df, "15m", "spot"), lake, 1)
      lake
    }
    def batch = MergeWriter.withPartitionCols(
      spark.range(1000).select(
        expr("timestamp_millis(1609459200000 + (id div 500) * 86400000 + (id % 500) * 17000)")
          .as("timestamp"),
        lit(1.0).as("open"), lit(2.0).as("high"), lit(0.5).as("low"),
        lit(42.0).as("close"), lit(10.0).as("volume"),
        lit("BTC-USDT").as("symbol"), lit("coinbase").as("exchange")), "15m", "spot")
    val lakeS = mkLake(40L)
    val lakeB = mkLake(400L)
    val readS = inputRecords { MergeWriter.merge(spark, batch, lakeS, 2) }
    val readB = inputRecords { MergeWriter.merge(spark, batch, lakeB, 2) }
    // affected = 2 dates × 5000 = 10k rows (+ the 1k batch union); 4×
    // slack absorbs the touched-keys pass and metric noise
    assert(readS <= 4 * (2 * rowsPerDate + 1000L),
      s"small-lake merge read $readS records — affected-partition pruning failed")
    assert(readB <= readS + 2 * rowsPerDate,
      s"merge read grew with LAKE size ($readS → $readB records for a 10× lake) — " +
        "the read is no longer bounded by the batch's partitions")
    // and the merged lake is intact: the 2 touched dates re-deduped,
    // the other 398 untouched
    assert(spark.read.parquet(lakeB).count() == 400L * rowsPerDate)
  }

  test("change feed reads scale with the CHANGED partitions, not the lake (10x)", SlowTag) {
    // ChangeFeed's claim under test: the two manifests diff as maps and
    // only partitions whose entry changed are read ON EITHER SIDE. A
    // 40-partition and a 400-partition manifest lake (10×) each take
    // the same 2-partition update; the feed's file-scan records must be
    // ~(2 partitions × both sides) and must NOT grow with the lake.
    import graft.lake.{ChangeFeed, ManifestLake}
    val rowsPerPart = 5000L
    def mkLake(nParts: Long): String = {
      val lake = java.nio.file.Files
        .createTempDirectory(s"cdfscale_$nParts").toString + "/lake"
      val df = spark.range(nParts * rowsPerPart).select(
        $"id", ($"id" % 100).cast("double").as("v"), lit(1L).as("seq"),
        ($"id" / rowsPerPart).cast("long").cast("string").as("part"))
      ManifestLake.mergeKeyed(spark, df, lake, keys = Seq("part"),
        dedupKeys = Seq($"id"), order = Seq($"seq"))
      lake
    }
    // 500 keys in part 0, 500 in part 1 (ids must keep their lake
    // partition assignment — id div rowsPerPart)
    def update = spark.range(1000)
      .select(when($"id" < 500, $"id").otherwise($"id" + 4500L).as("id"))
      .select($"id", lit(42.0).as("v"), lit(2L).as("seq"),
        ($"id" / rowsPerPart).cast("long").cast("string").as("part"))
    val lakeS = mkLake(40L)
    val lakeB = mkLake(400L)
    ManifestLake.mergeKeyed(spark, update, lakeS, keys = Seq("part"),
      dedupKeys = Seq($"id"), order = Seq($"seq"))
    ManifestLake.mergeKeyed(spark, update, lakeB, keys = Seq("part"),
      dedupKeys = Seq($"id"), order = Seq($"seq"))
    def feedCount(lake: String): (Long, Long) = {
      var n = 0L
      val read = inputRecords {
        n = ChangeFeed.readChanges(spark, lake, 1L, 2L, Seq("id")).count()
      }
      (n, read)
    }
    val (nS, readS) = feedCount(lakeS)
    val (nB, readB) = feedCount(lakeB)
    assert(nS == 2000L && nB == 2000L, // 1000 keys × (pre + post)
      s"feed must emit exactly the updated keys' pre+post images: $nS, $nB")
    // both sides of 2 changed partitions = 4 × rowsPerPart (+ the
    // listener's slack for the join's checkpoint re-read)
    assert(readS <= 4 * (4 * rowsPerPart),
      s"small-lake feed read $readS records — changed-partition pruning failed")
    assert(readB <= readS + rowsPerPart,
      s"feed read grew with LAKE size ($readS → $readB for a 10× lake) — " +
        "the metadata diff is no longer bounding the read")
  }

  test("manifest read planning is O(live txns): a 1024-entry lake plans 2 scan nodes", SlowTag) {
    // Round-12 verdict item 2 made concrete: read/readAt used to build
    // one parquet relation PER MANIFEST ENTRY and left-fold unionByName —
    // a 1024-branch union tree whose analyzer cost dominates planning at
    // the protocol's stated 10^4–10^5-partition scale. The grouped read
    // must plan ONE scan per live txn directory, regardless of entry
    // count, and resolve in bounded time.
    import graft.lake.ManifestLake
    val lake = java.nio.file.Files
      .createTempDirectory("planscale").toString + "/lake"
    val nParts = 1024L
    val df = spark.range(nParts * 20).select(
      $"id", ($"id" % 100).cast("double").as("v"), lit(1L).as("seq"),
      ($"id" % nParts).cast("string").as("part"))
    ManifestLake.mergeKeyed(spark, df, lake, keys = Seq("part"),
      dedupKeys = Seq($"id"), order = Seq($"seq"))
    // a second small merge → 1024 entries across exactly 2 live txns
    ManifestLake.mergeKeyed(spark,
      Seq((0L, 42.0, 2L, "0"), (1L, 42.0, 2L, "1")).toDF("id", "v", "seq", "part"),
      lake, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
    assert(ManifestLake.currentEntries(spark, lake).size == nParts)
    val t0 = System.nanoTime()
    val read = ManifestLake.read(spark, lake)
    val planMs = (System.nanoTime() - t0) / 1000000L
    val scans = read.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size == 2,
      s"a 1024-entry / 2-txn lake must plan 2 scan nodes, got ${scans.size}")
    // resolution (incl. listing 1024+2 dirs) must be seconds, not a
    // planning-time blowup; generous ceiling absorbs degraded-host draws
    assert(planMs < 60000L, s"relation resolution took ${planMs} ms")
    assert(read.count() == nParts * 20, "grouped read must lose no rows")
    // time travel rides the same grouped shape: v1 is a single scan node
    val v1 = ManifestLake.readAt(spark, lake, 1L)
    assert(v1.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size == 1)
  }

  test("vacuum racing live merges: no committed manifest ever references a missing file", SlowTag) {
    // Round-12 verdict item 6: the in-flight-writer guard under LOAD — a
    // vacuum loop sweeps continuously while 10 merges commit; every
    // committed state must stay fully readable, the final manifest's
    // references must all exist, and the sweeps must still reclaim the
    // superseded generations (the guard must not neuter reclamation).
    import graft.lake.ManifestLake
    val lake = java.nio.file.Files
      .createTempDirectory("vacrace").toString + "/lake"
    val nRows = 40000L
    def batch(seq: Long, ids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      ids.select($"id", ($"id" % 100 + seq).cast("double").as("v"),
        lit(seq).as("seq"), ($"id" % 8).cast("string").as("part"))
    ManifestLake.mergeKeyed(spark, batch(1L, spark.range(nRows).toDF("id")),
      lake, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sweepErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val sweeps = new java.util.concurrent.atomic.AtomicLong(0L)
    val reclaimed = new java.util.concurrent.atomic.AtomicLong(0L)
    val sweeper = new Thread(() => {
      while (!stop.get()) {
        try {
          reclaimed.addAndGet(ManifestLake.vacuum(spark, lake))
          sweeps.incrementAndGet()
          Thread.sleep(50)
        } catch { case t: Throwable => sweepErr.set(t); stop.set(true) }
      }
    }, "vacuum-sweeper")
    sweeper.start()
    try {
      (2L to 11L).foreach { seq =>
        // each merge updates ~2 buckets' worth of keys, superseding them
        val ids = spark.range(nRows).filter($"id" % 8 === (seq % 8) ||
          $"id" % 8 === ((seq + 1) % 8)).toDF("id")
        ManifestLake.mergeKeyed(spark, batch(seq, ids), lake,
          keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
        // every committed state is fully readable mid-storm
        assert(ManifestLake.read(spark, lake).count() == nRows,
          s"committed state unreadable after merge $seq")
      }
    } finally { stop.set(true); sweeper.join(30000) }
    assert(sweepErr.get() == null, s"vacuum threw under load: ${sweepErr.get()}")
    assert(sweeps.get() >= 2, "the sweeper must have raced at least two sweeps")
    // final accounting: one more sweep, then the data dir holds EXACTLY
    // the current manifest's txns — everything referenced exists,
    // everything superseded reclaimed
    ManifestLake.vacuum(spark, lake)
    val entries = ManifestLake.currentEntries(spark, lake)
    entries.foreach { case (rel, txn) =>
      assert(new java.io.File(s"$lake/data/$txn/$rel").exists(),
        s"committed manifest references a missing file: $txn/$rel")
    }
    val onDisk = new java.io.File(s"$lake/data").listFiles().map(_.getName).toSet
    assert(onDisk == entries.values.toSet,
      s"unreclaimed garbage or missing txns after the storm: " +
        s"disk=$onDisk live=${entries.values.toSet}")
    assert(reclaimed.get() > 0L, "the sweeps must have reclaimed superseded generations")
    assert(ManifestLake.read(spark, lake).count() == nRows)
  }

  test("stats-skipping scan reads scale with the BAND, not the lake (10x files)", SlowTag) {
    // FileStats' claim under test: partition pruning picks directories,
    // file stats pick files INSIDE them — a fixed value band over a
    // value-clustered lake opens the same few files whether the lake
    // has 40 files or 400. Also measured: collectStats is INCREMENTAL —
    // re-analyzing after a small merge reads only the new txn.
    import graft.lake.{Compactor, FileStats, ManifestLake}
    def mkLake(rows: Long): String = {
      val lake = java.nio.file.Files
        .createTempDirectory(s"skipscale_$rows").toString + "/lake"
      val df = spark.range(rows).select(
        $"id", $"id".cast("double").as("v"), lit("p").as("part"))
      ManifestLake.mergeKeyed(spark, df, lake, keys = Seq("part"),
        dedupKeys = Seq($"id"), order = Seq($"id"))
      Compactor.clusterManifest(spark, lake, Seq("v"), 5000L)
      FileStats.collectStats(spark, lake, Seq("v"))
      lake
    }
    val lakeS = mkLake(200000L)  //  40 files of 5k rows
    val lakeB = mkLake(2000000L) // 400 files (value range 10× wider)
    def bandScan(lake: String): (Long, Long, Long) = {
      val scan = FileStats.readSkipping(spark, lake,
        Seq(FileStats.ColRange("v", "0", "19999")))
      var n = 0L
      val read = inputRecords { n = scan.df.filter($"v" < 20000).count() }
      (n, scan.filesScanned, read)
    }
    val (nS, filesS, readS) = bandScan(lakeS)
    val (nB, filesB, readB) = bandScan(lakeB)
    assert(nS == 20000L && nB == 20000L, "band rows must be exact")
    assert(filesS == 4 && filesB == 4,
      s"a 20k band over 5k-row files is 4 files at EITHER scale: $filesS, $filesB")
    assert(readB <= readS + 5000L,
      s"band scan read grew with lake size ($readS → $readB for 10× files)")
    // incremental ANALYZE: a small merge then collectStats reads ~the
    // new txn (its 1k rows), never the 2M-row lake
    ManifestLake.mergeKeyed(spark,
      spark.range(1000).select(($"id" + 3000000L).as("id"),
        lit(0.5).as("v"), lit("q").as("part")),
      lakeB, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"id"))
    val readAnalyze = inputRecords {
      assert(FileStats.collectStats(spark, lakeB, Seq("v")) == 1L)
    }
    assert(readAnalyze <= 4 * 1000L,
      s"incremental ANALYZE read $readAnalyze records — it rescanned the lake")
  }

  // ───────────────────────── vector / embedding tier ─────────────────────────
  // Round-9 verdict item 3: the embedding tier's scale claims ("in-cell
  // pair work scales with cell caps, not corpus²"; "the bucketed ANN
  // pair stage is cap-bounded"; "q152's eval broadcast is benchmark-
  // sized, cost linear in the train corpus") had only been plan-read.
  // Measured here on synthetic embedding corpora at sf0.1-equivalent
  // vector volume and at 10×.

  /** Synthetic embedding corpus: `label` is the blocking cell
    * (`id div cellSize`); members of a cell share a dominant direction
    * (0.9 · cell base + 0.1 · per-vector noise, both deterministic
    * LCG-uniform in [−0.5, 0.5]) so every in-cell pair is a true
    * near-dup (cos ≈ 0.99) and the expected pair count is exactly
    * nCells × C(cellSize, 2) — linear in the corpus. `hotFirst` > 0
    * reassigns the first `hotFirst` vectors into one degenerate cell.
    */
  private def embDir(nVecs: Long, cellSize: Int, dim: Int, hotFirst: Long = 0L): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"scaleemb_$nVecs").toString
    spark.range(nVecs).select(
        $"id".as("vec_id"),
        when($"id" < hotFirst, lit(999999))
          .otherwise(($"id" / cellSize).cast("int")).as("label"),
        expr(s"""transform(sequence(0, ${dim - 1}), p -> cast(
            0.9 * (pmod((id div $cellSize) * 1103515245 + p * 12345 + 7, 1000003) / 1000003.0 - 0.5)
          + 0.1 * (pmod(id * 2654435761 + p * 97 + 13, 1000003) / 1000003.0 - 0.5) as float))""")
          .as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("in-cell pair verify shuffle scales with cell caps, not corpus² (embedding tier)", SlowTag) {
    // 100 cells of 40 → 1000 cells of 40: pair work per cell is the
    // C(40,2) cap-bounded constant, so TOTAL shuffle must grow
    // linearly with the cell count. A corpus²-shaped stage (the thing
    // the label blocking exists to prevent) would grow ~100×.
    val cell = 40
    def run(dir: String): Long =
      graft.operators.VectorOps
        .embeddingNearDup(spark.read.parquet(s"$dir/embeddings.parquet"), 0.35, 100)
        .count()
    val small = embDir(4000L, cell, 16)
    val big = embDir(40000L, cell, 16)
    var pairsS = 0L; var pairsB = 0L
    val s = shuffleStats { pairsS = run(small) }
    val b = shuffleStats { pairsB = run(big) }
    assertLinear("embedding_near_dup", s, b, ratioCeiling = 16L)
    // and the pairs are REAL: ~one pair per in-cell 2-subset. The
    // planted geometry puts in-cell cosine ≈ 0.99 for a typical cell,
    // but a ~1% tail of cells draws a weak base norm (all 16 coords
    // near 0) where noise wins and some pairs dip under 0.35 (measured
    // 235 of 78 000 at 4k) — so the bound is ≥ 99% formed, and never
    // MORE than planted (blocking forbids cross-cell pairs).
    def expectPlanted(name: String, got: Long, cells: Long): Unit = {
      val planted = cells * cell * (cell - 1) / 2
      assert(got <= planted && got >= planted * 99 / 100,
        s"$name: expected ~$planted in-cell pairs, got $got")
    }
    expectPlanted("small", pairsS, 100L)
    expectPlanted("big", pairsB, 1000L)
  }

  test("hot cell over the cap is excluded, not verified quadratically (embedding tier)", SlowTag) {
    // Same 40k corpus, but the first 4000 vectors collapse into ONE
    // cell (100× the 40-member design). Under the maxCell=100 guard
    // that cell is EXCLUDED from the verify tier: no pair may carry its
    // label, and total shuffle must stay at-or-below the healthy
    // corpus's (the 4000²/2 ≈ 8M pair rows the cap refused would
    // triple it).
    val healthy = embDir(40000L, 40, 16)
    val skewed = embDir(40000L, 40, 16, hotFirst = 4000L)
    def run(dir: String): org.apache.spark.sql.DataFrame =
      graft.operators.VectorOps
        .embeddingNearDup(spark.read.parquet(s"$dir/embeddings.parquet"), 0.35, 100)
    val (hTot, _) = shuffleStats { run(healthy).write.format("noop").mode("overwrite").save() }
    var hotPairs = -1L
    val (sTot, _) = shuffleStats {
      hotPairs = run(skewed).filter($"cell" === 999999L).count()
    }
    assert(hotPairs == 0L, s"over-cap cell leaked $hotPairs pairs into the verify tier")
    assert(sTot <= hTot + 100000L,
      s"skewed corpus shuffled $sTot records vs $hTot healthy — the hot cell was verified, not excluded")
  }

  test("q121 bucket-capped ANN pair stage stays ~linear at 10x corpus (embedding tier)", SlowTag) {
    // The SRP bucket map and the per-node top-3 window are corpus-
    // linear; the pair join is bounded by 256 buckets × 64² cap at ANY
    // corpus size. Without the cap the pair stage is Σ|bucket|² ≈
    // n²/256 — a 100× blow-up at 10× input, far past this ceiling.
    def dir(n: Long): String = {
      val d = java.nio.file.Files.createTempDirectory(s"scaleann_$n").toString
      spark.range(n).select(
          $"id".as("vec_id"), ($"id" % 7).cast("int").as("label"),
          expr("""transform(sequence(0, 63), p -> cast(
              pmod(id * 2654435761 + p * 97 + 13, 1000003) / 1000003.0 - 0.5 as float))""")
            .as("embedding"))
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    val small = dir(5000L)
    val big = dir(50000L)
    var rows = 0L
    val s = shuffleStats {
      graft.operators.PortableAnn.q121KnnGraph(spark, small)
        .write.format("noop").mode("overwrite").save()
    }
    val b = shuffleStats { rows = graft.operators.PortableAnn.q121KnnGraph(spark, big).count() }
    assert(rows > 0L, "kNN graph must have edges on the synthetic corpus")
    assertLinear("q121_knn_graph", s, b, ratioCeiling = 16L)
  }

  test("q152 decontamination cost is linear in the train corpus with a fixed eval set", SlowTag) {
    // Eval membership is vec_id % 97 = 0 (q84's convention). Real
    // benchmarks don't grow with the corpus, so the rehearsal plants a
    // FIXED 50-vector eval set (ids 0, 97, …, 49·97) and train ids that
    // skip every multiple of 97 (the m-th non-multiple is
    // m + (m−1) div 96). The eval explode (50 × 16 rows) broadcasts at
    // both scales; the dots aggregate is train × 50 groups — shuffle
    // must grow ~linearly with train, and a train × train stage (what
    // a growing eval side degenerates into) would grow ~100×.
    def dir(nTrain: Long): String = {
      val d = java.nio.file.Files.createTempDirectory(s"scaledecon_$nTrain").toString
      val train = spark.range(nTrain).select(
        (($"id" + 1) + expr("id div 96")).as("vec_id"))
      val eval = spark.range(50).select(($"id" * 97).as("vec_id"))
      train.unionAll(eval).select(
          $"vec_id", lit(0).as("label"),
          expr("""transform(sequence(0, 15), p -> cast(
              pmod(vec_id * 2654435761 + p * 97 + 13, 1000003) / 1000003.0 - 0.5 as float))""")
            .as("embedding"))
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    val small = dir(5000L)
    val big = dir(50000L)
    var rows = 0L
    val s = shuffleStats {
      graft.operators.VectorOps.q152SemanticDecontamination(spark, small)
        .write.format("noop").mode("overwrite").save()
    }
    val b = shuffleStats {
      rows = graft.operators.VectorOps.q152SemanticDecontamination(spark, big).count()
    }
    assert(rows == 20L, "the audit reports its top-20 at any scale")
    assertLinear("q152_decontamination", s, b, ratioCeiling = 16L)
  }

  test("doc-lake first-wins merge reads scale with the batch, not the lake (10x)", SlowTag) {
    // mergeDocs delegates to MergeWriter.mergeKeyed, so the candle
    // merge's measured static-pruned-read contract must hold for the
    // corpus lake too (it previously carried its own broadcast-semi-join
    // pruning — the formulation the round-9 rehearsal measured as a
    // de-facto full lake scan). 40-source and 400-source lakes take the
    // same 2-source batch; file-scan records must not grow with the lake.
    import graft.streaming.CorpusIngest
    val docsPerSource = 5000L
    def mkLake(nSources: Long): String = {
      val lake = java.nio.file.Files.createTempDirectory(s"docmerge_$nSources").toString + "/lake"
      val df = spark.range(nSources * docsPerSource).select(
        $"id".as("doc_id"),
        concat(lit("doc body number "), $"id".cast("string")).as("text"),
        concat(lit("src"), floor($"id" / docsPerSource).cast("string")).as("source"),
        lit("20240101").as("date"))
        .withColumn("text_md5", md5($"text"))
      CorpusIngest.mergeDocs(spark, df, lake, 0L)
      lake
    }
    def batch = spark.range(1000).select(
        ($"id" + 10000000L).as("doc_id"),
        concat(lit("doc body number "), ($"id" % 500).cast("string")).as("text"),
        concat(lit("src"), ($"id" % 2).cast("string")).as("source"),
        lit("20240101").as("date"))
      .withColumn("text_md5", md5($"text"))
    val lakeS = mkLake(40L)
    val lakeB = mkLake(400L)
    val readS = inputRecords { CorpusIngest.mergeDocs(spark, batch, lakeS, 1L) }
    val readB = inputRecords { CorpusIngest.mergeDocs(spark, batch, lakeB, 1L) }
    assert(readS <= 4 * (2 * docsPerSource + 1000L),
      s"small-lake doc merge read $readS records — affected-partition pruning failed")
    assert(readB <= readS + 2 * docsPerSource,
      s"doc merge read grew with LAKE size ($readS → $readB records for a 10× lake)")
    // first-wins held under the merge: every batch text in src0
    // collides with a seq-0 lake row (texts 0–499 ⊂ src0's 0–4999) and
    // must lose; src1's batch texts are genuinely new and land as seq 1
    val lakeDf = spark.read.parquet(lakeB)
    assert(lakeDf.filter($"source" === "src0" && $"ingest_seq" === 1L).count() == 0L)
    assert(lakeDf.filter($"source" === "src1" && $"ingest_seq" === 1L).count() == 250L)
  }

  // ───────────────────────── multimodal / blob tier ─────────────────────────
  // Round-10 verdict item 4: the blob tier's claim ("only digests and
  // header attributes shuffle; blob bytes never leave their scan
  // partitions" — Multimodal.scala) was PlanSpec-argued but never
  // task-metric-measured. Here the q146/q147/q166 pipeline SHAPES run
  // over corpora with REAL large payloads (header-valid PNG/JPEG bytes
  // + incompressible random padding, so a leaked blob cannot hide
  // behind shuffle compression) at 1 KiB and 10 KiB per blob — same
  // row count, 10× the blob VOLUME. If blobs stay partition-local,
  // shuffle bytes are attribute-sized and FLAT across the two corpora;
  // a blob-carrying exchange would grow them ~10×.

  /** Total shuffle-read bytes across every task inside `body` (shuffle
    * metrics come from the shuffle reader itself — unlike the
    * FileSystem-statistics-based input BYTES metric, which undercounts
    * positioned parquet reads in local mode).
    */
  private def shuffleBytes(body: => Unit): Long = {
    val shuf = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.shuffleReadMetrics != null)
          shuf.addAndGet(e.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(1500) /* drain the async listener bus */ }
    finally spark.sparkContext.removeSparkListener(listener)
    shuf.get()
  }

  /** On-disk bytes under `dir` — filesystem truth for corpus volume. */
  private def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(dir))
  }

  /** `nDocs` header-valid image blobs of exactly `blobBytes` bytes:
    * a real PNG/JPEG header (dims derived from doc_id, the q51 scheme)
    * followed by LCG-random padding — incompressible, so shuffle/IO
    * byte metrics measure true payload movement.
    */
  private def blobDir(nDocs: Long, blobBytes: Int): String = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory(s"scaleblob_$blobBytes").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("blob", BinaryType)))
    spark.range(nDocs).toDF("doc_id").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val header =
          if (id % 2 == 0)
            graft.operators.Multimodal.syntheticPng((1 + id % 1024).toInt, (1 + id * 7 % 1024).toInt)
          else
            graft.operators.Multimodal.syntheticJpeg((1 + id % 1024).toInt, (1 + id * 7 % 1024).toInt)
        val pad = new Array[Byte](blobBytes - header.length)
        new java.util.Random(id * 2654435761L + blobBytes).nextBytes(pad)
        Row(id, header ++ pad)
      }
    }(Encoders.row(schema)).write.mode("overwrite").parquet(s"$dir/blobs.parquet")
    dir
  }

  test("blob tier: q146/q147/q166 shapes shuffle attributes only — flat bytes at 10x blob volume", SlowTag) {
    import org.apache.spark.sql.DataFrame
    val nDocs = 20000L
    val small = blobDir(nDocs, 1024)
    val big = blobDir(nDocs, 10240)
    def blobs(dir: String): DataFrame = spark.read.parquet(s"$dir/blobs.parquet")
    // the corpora genuinely differ ~10× in payload (incompressible
    // padding ⇒ on-disk ≈ in-memory) — filesystem truth, not metrics
    assert(dirBytes(big) >= 5 * dirBytes(small),
      s"big corpus is ${dirBytes(big)} bytes vs ${dirBytes(small)} — blob volume not scaled")
    for ((name, fn) <- Seq[(String, DataFrame => DataFrame)](
        ("q146_blob_dedup", graft.operators.Multimodal.blobDedup _),
        ("q147_attr_fingerprint", graft.operators.Multimodal.blobAttrFingerprint _),
        ("q166_resize_plan", graft.operators.Multimodal.resizePlan _))) {
      val sShuf = shuffleBytes {
        fn(blobs(small)).write.format("noop").mode("overwrite").save()
      }
      var rows = 0L
      val bShuf = shuffleBytes { rows = fn(blobs(big)).count() }
      assert(rows > 0L, s"$name produced no rows on the synthetic blob corpus")
      // the load-bearing bound: shuffle bytes must NOT track blob
      // volume. 2× + 2 MiB absorbs sampling/AQE jitter on the
      // attribute-sized exchanges; a blob-carrying exchange lands ~10×.
      assert(bShuf <= 2 * sShuf + (2L << 20),
        s"$name shuffled $bShuf bytes at 10× blob volume vs $sShuf — " +
          "blob bytes leaked off their scan partitions")
    }
  }

  test("bucketed join shuffle volume is scale-independent (exchange-free SMJ, measured)", SlowTag) {
    val small = factsDir(150000L)
    val big = factsDir(1500000L)
    def joinShuffle(dir: String): Long = {
      // first call creates the bucketed tables (write-side shuffles are
      // its own business); the measured SECOND call joins pre-bucketed
      // tables — the operator's steady state
      graft.operators.Relational3.q122BucketedJoin(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val (tot, _) = shuffleStats {
        graft.operators.Relational3.q122BucketedJoin(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      tot
    }
    val sTot = joinShuffle(small)
    val bTot = joinShuffle(big)
    // only the 5-group aggregate + final sort shuffle: bounded by
    // groups × partitions, the same at 600k and 6M fact rows
    assert(bTot < 10000L, s"bucketed join shuffled $bTot records at 6M rows — exchange leak")
    assert(bTot <= sTot + 5000L,
      s"bucketed join shuffle must not scale with the data: $sTot → $bTot")
  }

  test("delta manifests: commit bytes scale with touched partitions, ledger lookups open <= K (1024-entry / 100-commit lake)", SlowTag) {
    // Round-13 verdict item 1, measured: the previous protocol rewrote
    // the FULL entry map per commit (O(partitions) metadata write) and
    // opened EVERY retained manifest's headers per tag/offset lookup
    // (O(versions) reads). At streaming cadence on a 10^4-partition lake
    // both dominate the commit path. Pin: a micro-merge's manifest body
    // carries its 2 touched entries (not 1024), the ledger walk opens at
    // most checkpointInterval manifests after 100 commits, and snapshots
    // + CDF + vacuum all work across checkpoint boundaries.
    import graft.lake.{ChangeFeed, ManifestLake}
    val lake = java.nio.file.Files
      .createTempDirectory("deltamanifest").toString + "/lake"
    val nParts = 1024L
    val base = spark.range(nParts * 4).select(
      $"id", ($"id" % 100).cast("double").as("v"), lit(1L).as("seq"),
      ($"id" % nParts).cast("string").as("part"))
    def merge(df: org.apache.spark.sql.DataFrame, tag: Option[String] = None): Unit = {
      ManifestLake.mergeKeyed(spark, df, lake, keys = Seq("part"),
        dedupKeys = Seq($"id"), order = Seq($"seq", $"id"), commitTag = tag)
      ()
    }
    merge(base) // v1: the 1024-entry full map
    // v2..v101: 100 micro-merges, each touching exactly 2 partitions
    (2 to 101).foreach { i =>
      val p1 = (i * 2) % nParts; val p2 = (i * 2 + 1) % nParts
      merge(Seq((p1, i * 1.0, i.toLong, p1.toString),
        (p2, i * 1.0, i.toLong, p2.toString))
        .toDF("id", "v", "seq", "part"),
        tag = if (i == 2) Some("early-tag") else None)
    }
    val md = new java.io.File(s"$lake/_manifest")
    def bodyLen(v: Long): Long = md.listFiles()
      .filter(_.getName.matches(s"m$v\\.[0-9a-f]{8}\\.body")).head.length
    // commit bytes ∝ touched partitions: a 2-entry delta vs the 1024-entry
    // checkpoint — two orders of magnitude, not parity
    val deltaBytes = bodyLen(101L) // 101 is off-checkpoint
    val ckptBytes = bodyLen(100L)  // 100 is a checkpoint (full map + ledgers)
    assert(deltaBytes < 512L,
      s"a 2-partition micro-merge wrote a $deltaBytes-byte manifest — not a delta")
    assert(ckptBytes > deltaBytes * 20,
      s"checkpoint ($ckptBytes B) vs delta ($deltaBytes B) — full map missing?")
    // ledger lookups: the header walk stops at the nearest checkpoint,
    // never O(versions) — and still finds a 99-commits-old tag through
    // the accumulated ledger
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hs = ManifestLake.resolveHeaders(fs, lake, 101L)
    assert(hs.opens <= ManifestLake.checkpointInterval,
      s"ledger walk opened ${hs.opens} manifests after 100 commits — not checkpoint-bounded")
    assert(hs.tags.contains("early-tag"),
      "the v2 tag must survive into the accumulated ledger")
    // snapshots resolve across the checkpoint boundary, hash-identically
    val at99 = ManifestLake.readAt(spark, lake, 99L).count()
    val at101 = ManifestLake.readAt(spark, lake, 101L).count()
    assert(at99 == nParts * 4 && at101 == nParts * 4)
    // CDF across the boundary: versions 95 → 101 touched ≤ 2×6 partitions
    val changed = ChangeFeed.readChanges(spark, lake, 95L, 101L, Seq("id"))
      .select($"id").distinct().count()
    assert(changed <= 12L, s"CDF across the checkpoint read $changed keys — diff leak")
    // vacuum keeps each retained delta's chain back to ITS base
    // checkpoint (99's chain anchors at 90); the horizon refuses
    // sub-horizon versions as snapshots even though their manifests
    // survive as chain links
    ManifestLake.vacuum(spark, lake, retainVersions = 3)
    val kept = md.listFiles().map(_.getName)
      .filter(_.matches("m\\d+\\.txt")).toSet
    assert(kept == (90 to 101).map(v => s"m$v.txt").toSet,
      s"chain retention must keep 90 (base checkpoint of retained 99) through 101: $kept")
    assert(ManifestLake.readAt(spark, lake, 99L).count() == nParts * 4)
    intercept[IllegalArgumentException] { ManifestLake.readAt(spark, lake, 98L) }
  }

  test("commit storm: concurrent retrying writers + a polling reader on the pointer CAS - no lost update, total order", SlowTag) {
    // Round 14 rewrote the commit publish (pointer-CAS with read-back);
    // the deterministic race rows prove single interleavings - this storm
    // proves the LIVE property: N writers hammering overlapping
    // partitions through mergeKeyedRetrying must each land exactly once
    // (version chain = total order, no silently-overwritten commit), and
    // a reader polling throughout must only ever see monotonically
    // growing, fully-committed states (never a torn or shrunken lake).
    import graft.lake.ManifestLake
    val lake = java.nio.file.Files
      .createTempDirectory("commitstorm").toString + "/lake"
    val writers = 4; val mergesEach = 4
    // seed so readers always have a committed state
    ManifestLake.mergeKeyed(spark,
      Seq((-1L, 0.0, 0L, "p0")).toDF("id", "v", "seq", "part"),
      lake, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
    @volatile var stop = false
    @volatile var readerAnomaly: Option[String] = None
    val reader = new Thread(() => {
      var lastCount = 0L
      while (!stop && readerAnomaly.isEmpty) {
        try {
          val n = ManifestLake.read(spark, lake).count()
          if (n < lastCount)
            readerAnomaly = Some(s"row count shrank $lastCount -> $n (merges only add)")
          lastCount = n
        } catch { case e: Throwable => readerAnomaly = Some(e.toString) }
      }
    })
    reader.start()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { t =>
      new Thread(() => {
        try (1 to mergesEach).foreach { i =>
          // every writer touches BOTH partitions every merge - maximal
          // contention on the same entries; the contended key 0 settles
          // by seq (keep-last), proving erase-nothing total order
          val seq = (t * 100 + i).toLong
          val rows = Seq(
            (t * 1000L + i, 1.0, seq, "p0"),
            (t * 1000L + i + 500, 1.0, seq, "p1"),
            (0L, seq.toDouble, seq, "p0"))
            .toDF("id", "v", "seq", "part")
          ManifestLake.mergeKeyedRetrying(spark, rows, lake,
            keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq", $"id"),
            maxAttempts = 200)
          ()
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(600000L))
    stop = true; reader.join(60000L)
    assert(errs.isEmpty, s"writer failed under contention: ${errs.peek()}")
    assert(readerAnomaly.isEmpty, s"reader saw a bad state: $readerAnomaly")
    // total order: every one of the 1 + 16 merges is its own committed
    // version - nothing was silently overwritten in the CAS window
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ManifestLake.latestVersion(spark, lake) == (1 + writers * mergesEach).toLong,
      "every merge must occupy exactly one version")
    // no lost update: every writer's every key is present
    val ids = ManifestLake.read(spark, lake).select($"id").as[Long].collect().toSet
    val expected = (for { t <- 0 until writers; i <- 1 to mergesEach }
      yield Seq(t * 1000L + i, t * 1000L + i + 500)).flatten.toSet + 0L + -1L
    assert(ids == expected,
      s"missing=${expected -- ids} extra=${ids -- expected}")
    // the contended key settled on the highest seq across ALL writers
    val winner = ManifestLake.read(spark, lake)
      .filter($"id" === 0L).select($"seq").as[Long].head()
    val maxSeq = (for { t <- 0 until writers; i <- 1 to mergesEach }
      yield (t * 100 + i).toLong).max
    assert(winner == maxSeq, s"keep-last under contention picked $winner, not $maxSeq")
    // chain hygiene after the storm: vacuum reclaims the losers' private
    // garbage and every retained read still resolves
    ManifestLake.vacuum(spark, lake, txnGraceMillis = 0L)
    assert(ManifestLake.read(spark, lake).select($"id").as[Long].collect().toSet == expected)
  }

  test("full-protocol storm: concurrent retrying writers x a vacuum sweeper x a reader - convergence with reclamation", SlowTag) {
    // The two prior storms each hold one variable still (single writer
    // vs sweeper; multi-writer without vacuum). This one runs ALL the
    // moving parts at once, which exercises the in-flight guard's
    // documented fail-stop seam on purpose: a slow writer whose target
    // version gets taken becomes <=-current garbage that the sweeper may
    // reclaim MID-WRITE - mergeKeyedRetrying must absorb that as a
    // retry (the chain advanced, the attempt was doomed regardless),
    // never a terminal error, and the final state must hold every
    // writer's every batch with all references on disk.
    import graft.lake.ManifestLake
    val lake = java.nio.file.Files
      .createTempDirectory("fullstorm").toString + "/lake"
    ManifestLake.mergeKeyed(spark,
      Seq((-1L, 0.0, 0L, "p0")).toDF("id", "v", "seq", "part"),
      lake, keys = Seq("part"), dedupKeys = Seq($"id"), order = Seq($"seq"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sweepErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val readerErr = new java.util.concurrent.atomic.AtomicReference[String]()
    val sweeper = new Thread(() => {
      while (!stop.get()) {
        // retainVersions=5: still reclaims continuously (writers' loser
        // dirs are version <= current garbage regardless of retention),
        // but leaves in-flight READERS a horizon - the protocol's
        // documented contract (retention must cover reader duration;
        // retain-to-current with live readers is the Delta VACUUM
        // RETAIN 0 footgun, reproduced by this storm's first draft)
        try { ManifestLake.vacuum(spark, lake, retainVersions = 5); Thread.sleep(30L) }
        catch { case t: Throwable => sweepErr.set(t); stop.set(true) }
      }
    }, "storm-sweeper")
    val raceRetries = new java.util.concurrent.atomic.AtomicLong(0L)
    val reader = new Thread(() => {
      var last = 0L
      while (!stop.get() && readerErr.get() == null) {
        try {
          val n = ManifestLake.read(spark, lake).count()
          if (n < last) readerErr.set(s"row count shrank $last -> $n")
          last = n
        } catch {
          case t: org.apache.spark.SparkException
              if String.valueOf(t.getMessage).contains("FAILED_READ_FILE") =>
            // the residual retention race: this read resolved a version
            // that fell past the horizon MID-FLIGHT. Fail-stop (never a
            // wrong answer) - a real consumer re-reads the new current.
            raceRetries.incrementAndGet()
          case t: Throwable => readerErr.set(t.toString)
        }
      }
    }, "storm-reader")
    sweeper.start(); reader.start()
    val writers = 3; val mergesEach = 3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { t =>
      new Thread(() => {
        try (1 to mergesEach).foreach { i =>
          val seq = (t * 100 + i).toLong
          ManifestLake.mergeKeyedRetrying(spark,
            Seq((t * 1000L + i, 1.0, seq, "p0"),
              (t * 1000L + i + 500, 1.0, seq, "p1"))
              .toDF("id", "v", "seq", "part"),
            lake, keys = Seq("part"), dedupKeys = Seq($"id"),
            order = Seq($"seq", $"id"), maxAttempts = 200)
          ()
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(600000L))
    stop.set(true); sweeper.join(60000L); reader.join(60000L)
    assert(errs.isEmpty, s"writer failed under the full storm: ${errs.peek()}")
    assert(sweepErr.get() == null, s"vacuum threw under the full storm: ${sweepErr.get()}")
    assert(readerErr.get() == null, s"reader saw a bad state: ${readerErr.get()}")
    // every writer's every batch survived the writer x sweeper races
    val ids = ManifestLake.read(spark, lake).select($"id").as[Long].collect().toSet
    val expected = (for { t <- 0 until writers; i <- 1 to mergesEach }
      yield Seq(t * 1000L + i, t * 1000L + i + 500)).flatten.toSet + -1L
    assert(ids == expected, s"missing=${expected -- ids} extra=${ids -- expected}")
    // and the final committed state is fully materialized on disk
    ManifestLake.vacuum(spark, lake)
    val entries = ManifestLake.currentEntries(spark, lake)
    entries.foreach { case (rel, txn) =>
      assert(new java.io.File(s"$lake/data/$txn/$rel").exists(),
        s"committed manifest references a missing file: $txn/$rel")
    }
  }

  test("streaming CDF view maintenance: a span's reads scale with CHANGED dims, not view size (20k vs 80k groups)", SlowTag) {
    // Round-14 verdict item 2, measured: CdfStream.advance used to read
    // the WHOLE view and rewrite it into one part=all partition per span
    // — O(|view|) per source commit, ruinous for a high-cardinality view
    // at streaming cadence. Now the view hash-buckets by dims and a span
    // reads/merges ONLY buckets containing changed dims, so per-span
    // cost is O(span delta + touched-bucket slice). Pin it the way the
    // contract scales in deployment — the bucket fan sized to the view
    // (groups-per-bucket constant): the SAME 5-dim span on a 4× LARGER
    // view must read a ~FLAT record count. (Note: inputMetrics counts
    // localCheckpoint block re-reads too, so the absolute number carries
    // a constant factor of slice-sized cache reads; FLATNESS across view
    // sizes is the load-bearing claim — the old shape reads 2×|view| per
    // span and would grow 4×.)
    import graft.lake.ManifestLake
    import graft.streaming.CdfStream
    def spanRead(nGroups: Long, buckets: Int): Long = {
      val lake = java.nio.file.Files
        .createTempDirectory(s"cdfviewscale_$nGroups").toString + "/lake"
      val view = java.nio.file.Files
        .createTempDirectory(s"cdfviewscale_v$nGroups").toString + "/view"
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"cdfviewscale_c$nGroups").toString
      val srcParts = nGroups / 156L // constant ~156-row source partitions
                                    // (fan grows with volume, the same
                                    // sizing discipline as the view side)
      val base = spark.range(nGroups).select(
        $"id", concat(lit("g"), $"id".cast("string")).as("status"),
        ($"id" % 97).cast("double").as("price"), lit(1L).as("seq"),
        ($"id" % srcParts).cast("string").as("part"))
      def merge(df: org.apache.spark.sql.DataFrame): Unit = {
        ManifestLake.mergeKeyed(spark, df, lake, keys = Seq("part"),
          dedupKeys = Seq($"id"), order = Seq($"seq", $"id"))
        ()
      }
      def pass(): Unit =
        CdfStream.maintainAgg(spark, lake, view, keyCols = Seq("id"),
          dims = Seq("status"), valueCol = "price", checkpoint = ckpt,
          viewBuckets = buckets).awaitTermination()
      merge(base) // v1: nGroups groups
      pass()      // view materialized across `buckets` hash buckets
      // the span: 5 corrected rows → 5 changed dims → ≤ 5 touched buckets
      merge(spark.range(5).select(
        ($"id" * 1000L).as("id"),
        concat(lit("g"), ($"id" * 1000L).cast("string")).as("status"),
        lit(500.0).as("price"), lit(2L).as("seq"),
        (($"id" * 1000L) % srcParts).cast("string").as("part")))
      val read = inputRecords { pass() }
      // the bucketed span converged bit-exactly to recomputation
      val recomputed = ManifestLake.read(spark, lake)
        .groupBy($"status").agg(count(lit(1)).as("n"),
          sum($"price".cast(org.apache.spark.sql.types.DecimalType(38, 10))).as("rev"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
      val maintained = CdfStream.readView(spark, view, Seq("status"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
      assert(maintained == recomputed,
        s"bucketed maintenance must equal recomputation at $nGroups groups")
      read
    }
    val r20 = spanRead(20000L, 64)   // ~312 groups/bucket
    val r80 = spanRead(80000L, 256)  // same ~312 groups/bucket, 4× view
    info(s"5-dim span read: $r20 records @20k-group view, $r80 @80k")
    // even the SMALL view's span stays below one full-view read despite
    // the checkpoint-re-read constant — the old shape starts at 2×|view|
    assert(r20 < 20000L,
      s"a 5-dim span read $r20 records on a 20k-group view — not bucket-bounded")
    // the load-bearing pin: 4× the view, ~flat reads (old shape: 4×)
    assert(r80 <= (r20 * 1.6).toLong + 2000L,
      s"span reads grew with VIEW size ($r20 → $r80 for a 4× view) — " +
        "the span is no longer bounded by its touched buckets")
  }

  test("commit-time metadata READ on a 10k-entry lake: measured, checkpoint-bounded, not commit-dominating", SlowTag) {
    // Round-14 verdict item 4: commit writes are ∝ change (delta
    // manifests), but every commit still RESOLVES the full entry map
    // (readManifest folds the base checkpoint — an O(entries) text
    // parse). Measure it at 10^4 entries before deciding whether the
    // Iceberg manifest-list split (per-range checkpoint segments) is
    // warranted. Finding: a 10^4-entry checkpoint is ~350 KB and parses
    // in single-digit milliseconds — two orders of magnitude below the
    // filesystem cost of any real merge commit (parquet write + fsyncs,
    // ~hundreds of ms), so segmented checkpoints stay unbuilt until a
    // profile shows the parse dominating.
    import graft.lake.ManifestLake
    val lake = java.nio.file.Files
      .createTempDirectory("metaread10k").toString + "/lake"
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant a 10^4-entry FULL manifest (legacy full-content form — still
    // first-class); entries need no data files for metadata-only commits
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$lake/_manifest"))
    val m1 = fs.create(new org.apache.hadoop.fs.Path(s"$lake/_manifest/m1.txt"), false)
    val sb = new StringBuilder("#kind=full\n")
    (0 until 10000).foreach(i => sb ++= s"part=p$i\ttxn-1-aaaaaaaa\n")
    try m1.write(sb.toString.getBytes("UTF-8")) finally m1.close()
    def timeMs[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e6)
    }
    // warm the JVM paths once, then measure (currentEntries IS the
    // resolve-the-full-map read every commit performs)
    ManifestLake.currentEntries(spark, lake)
    val (entries, parseMs) = timeMs(ManifestLake.currentEntries(spark, lake))
    assert(entries.size == 10000)
    // metadata-only commits at delta cadence each re-resolve the map;
    // measure the full commit (read + delta write) on the 10k-entry base
    val (_, commitMs) = timeMs(
      ManifestLake.commitMetadata(spark, lake, Seq("from" -> "1")))
    info(f"10k-entry manifest: parse ${parseMs}%.1f ms, metadata-commit ${commitMs}%.1f ms")
    // generous ceilings — these fail only if the parse path regresses to
    // something that WOULD dominate a commit (e.g. accidental quadratic
    // fold or per-entry filesystem calls)
    assert(parseMs < 1000.0,
      f"10k-entry manifest parse took ${parseMs}%.1f ms — O(entries) resolve regressed")
    assert(commitMs < 2000.0,
      f"metadata commit on a 10k-entry base took ${commitMs}%.1f ms")
    // the delta chain stays checkpoint-bounded as commits accumulate
    (2 to 9).foreach(_ => ManifestLake.commitMetadata(spark, lake, Seq("from" -> "1")))
    val hs = ManifestLake.resolveHeaders(fs, lake, 10L)
    assert(hs.opens <= ManifestLake.checkpointInterval,
      s"header walk opened ${hs.opens} manifests — not checkpoint-bounded")
  }

  test("clusterManifest rank assignment is multi-task on a skewed partition", SlowTag) {
    // Round-16 (r15 verdict, "what's wrong" item 2): the clustering
    // rewrite's file-number assignment used a per-key rank window — ONE
    // task sorted a hot partition's entire data. The distributed-rank
    // shape (range partition + per-slice offsets) must (a) spread the
    // sort across tasks ∝ data, not ∝ partition-key cardinality, and
    // (b) reproduce the rank's exact ceil(n/maxRecordsPerFile) file
    // rolls with value-contiguous bounds.
    import graft.lake.{Compactor, FileStats, ManifestLake}
    val lake = java.nio.file.Files
      .createTempDirectory("clusterskew").toString + "/lake"
    // ONE hot partition key holding 200k rows — the shape where a
    // per-key rank serializes
    val rows = spark.range(200000L)
      .select($"id", (($"id" * 2654435761L) % 1000000L).as("v"), lit("hot").as("part"))
    ManifestLake.mergeKeyed(spark, rows, lake, keys = Seq("part"),
      dedupKeys = Seq($"id"), order = Seq($"id"))
    val maxRankTask = new java.util.concurrent.atomic.AtomicLong(0L)
    val rankTasks = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.shuffleReadMetrics != null &&
            e.taskMetrics.shuffleReadMetrics.recordsRead > 0) {
          rankTasks.incrementAndGet()
          maxRankTask.accumulateAndGet(
            e.taskMetrics.shuffleReadMetrics.recordsRead, Math.max(_, _))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Compactor.clusterManifest(spark, lake, Seq("v"), 25000L)
      Thread.sleep(1500) // drain the async listener bus
    } finally spark.sparkContext.removeSparkListener(listener)
    // (a) no task ever held the hot partition's whole 200k rows — the
    // rank window would have put all of them through one task
    assert(maxRankTask.get() < 200000L,
      s"a single task read ${maxRankTask.get()} shuffled rows — the hot " +
        "partition's rank assignment serialized")
    assert(rankTasks.get() > 4, "rank assignment used too few tasks")
    // (b) exact rolls: 200k rows / 25k per file = 8 value-contiguous
    // files; a 0.1%-of-domain band must then prune to ≤ 2 of them
    FileStats.collectStats(spark, lake, Seq("v"))
    val scan = FileStats.readSkipping(spark, lake,
      Seq(FileStats.ColRange("v", "0", "1000")))
    assert(scan.filesTotal == 8, s"expected 8 exact rolls, got ${scan.filesTotal}")
    assert(scan.filesScanned <= 2,
      s"narrow band scanned ${scan.filesScanned}/8 files — rolls not value-contiguous")
    // row-level ground truth: nothing lost to the rewrite
    assert(ManifestLake.read(spark, lake).count() == 200000L)
  }
}
