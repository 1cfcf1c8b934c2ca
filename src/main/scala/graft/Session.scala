package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for Verify / Bench / tests.
  *
  * - `shuffle.partitions` = core count: right-sized for local mode; on a
  *   real cluster AQE coalesces post-shuffle partitions anyway.
  * - `nanosAsLong`: the driver's `events.parquet` carries TIMESTAMP(NANOS),
  *   unreadable by Spark 4 without this legacy flag ([[sources.Tables.events]]
  *   converts back to µs timestamps).
  * - Session timezone pinned UTC to match both the reference's tz-aware
  *   UTC handling (crypto_collector.py:84–91) and the DuckDB oracle.
  */
object Session {
  /** Root for ephemeral per-application scratch: the warehouse (scratch
    * lakes, streaming checkpoints, bucketed tables — all swept at
    * application end by [[graft.lake.AppState]]) and Spark's own
    * local/shuffle dirs (cleaned by Spark at shutdown). Durability buys
    * nothing for any of it, and the replay tier is commit-cycle-bound by
    * design — on a journalled disk FS the create/rename metadata ops are
    * the slow half of each commit cycle. So prefer RAM-backed /dev/shm
    * when it is writable with ≥ 32 GiB of headroom (the standard
    * ephemeral-storage posture: Spark's tuning guide wants
    * spark.local.dir on the fastest local device; rename atomicity is
    * identical on tmpfs). Measured min-of-3 over the 19-query
    * replay/streaming tier at sf0.1: 72.7 → 60.8 s. Override with
    * SPARK_GRAFT_SCRATCH_DIR; the fallback is the JVM tmpdir — the
    * pre-round-16 behavior, byte for byte. The choice and its reason are
    * logged once, when the first session is built.
    */
  private[graft] lazy val scratchRoot: String = {
    val (root, why) = sys.env.get("SPARK_GRAFT_SCRATCH_DIR") match {
      case Some(dir) => (dir, "SPARK_GRAFT_SCRATCH_DIR override")
      case None =>
        val shm = new java.io.File("/dev/shm")
        val free = if (shm.isDirectory && shm.canWrite) shm.getUsableSpace else -1L
        if (free >= (32L << 30))
          (shm.getPath + "/graft_scratch", s"/dev/shm has $free free bytes >= 32 GiB")
        else (System.getProperty("java.io.tmpdir"),
          if (free < 0) "/dev/shm is not a writable directory; JVM tmpdir fallback"
          else s"/dev/shm has $free free bytes < 32 GiB; JVM tmpdir fallback")
    }
    System.err.println(s"[session] scratch root: $root ($why)")
    root
  }

  /** The behaviour confs every graft session carries — the mains' and
    * the test suites' alike; callers add master, parallelism and scratch
    * directories.
    */
  private[graft] def configure(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata parquet is naive (isAdjustedToUTC=false); read it as
      // TIMESTAMP (LTZ, session UTC) not TIMESTAMP_NTZ so epoch functions
      // (unix_micros etc.) apply and semantics match the DuckDB oracle.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Spark 4.1's checksummed checkpoint manager opens a thread pool
      // per state-store commit file and blocks the TASK thread up to
      // 500 ms force-closing it ("Thread pool did not shutdown after
      // 500 ms" warnings); a stream-stream join (4 store instances ×
      // 32 partitions × per-batch commits) paid ~15 s/task in pure
      // close-stalls (q169: 32 s → measured again below 5 s with the
      // plain manager). Checkpoint-file corruption detection is
      // defense-in-depth we forgo knowingly; every streaming query here
      // re-verifies end state against a batch oracle anyway.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Output-commit algorithm stays the v1 default session-wide: an
      // A/B over the replay tier showed v2 HELPS new-immutable-dir
      // writes (fewer job-commit renames) but HURTS dynamic-partition-
      // overwrite writes (q168 6.7 → 7.4 s, q160 2.8 → 3.3 s — the
      // staging-move interplay), so the manifest txn writes opt into v2
      // per-write (ManifestLake) and the lock path keeps v1. _SUCCESS
      // markers stay ON: materializeOnce's torn-build publish gate.
      // Whole-stage codegen names each class after its stage id, so two
      // stages with the same code (one exchange normalizer at different
      // positions of a backfill's union) miss the codegen cache and
      // compile twice. Without the id they share one class. A 6-symbol ×
      // 5-interval × 5-exchange fan-out in one merge (150 union branches,
      // BackfillSpec) compiled 322 classes on its first call and 322 again
      // on a repeat with ids in the names; without them, 32 and 0.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // The codegen cache is keyed on (thread context classloader, code).
      // With artifact isolation on (Spark's default), the executor builds
      // a new classloader per session UUID, and every streaming query
      // runs on a cloned session: each warm live catch-up launch
      // recompiled every class its tasks use, and a perpetual loop kept
      // one classloader per launch. The engine adds no session artifacts
      // and runs no Spark Connect, so every session shares the executor's
      // default classloader. Traced ingest benchmark (live, seed 41):
      // 21.2 compiles per launch before, 0.4 after.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Without libhadoop, Hadoop's local filesystem forks `chmod` for
      // every file, .crc file and directory it creates and `readlink`
      // twice per FileContext rename (streaming checkpoint logs), at
      // 2.6–3.7 ms a fork. An untraced 12-pass ingest benchmark backfill
      // run forked 5,140 processes and a 20-launch live run 2,564 (920 of
      // them serially on the stream thread); through the java.nio twins
      // (lake.NioLocalFs), 4 and 31, none of them chmod or readlink.
      // Checksums, .crc files and rename semantics are unchanged.
      .config("spark.hadoop.fs.file.impl", classOf[lake.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[lake.NioLocalFs].getName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.driver.maxResultSize", "4g")

  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors()))
    val spark = configure(SparkSession.builder())
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // bucketed-table queries (q122) write through the session catalog;
      // keep the warehouse out of the repo working tree and on the
      // scratch tier (see scratchRoot)
      .config("spark.sql.warehouse.dir", s"$scratchRoot/graft_warehouse")
      // shuffle/spill/blockmgr files on the same scratch tier
      .config("spark.local.dir", s"$scratchRoot/graft_local")
    // Dev-loop A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" applies
    // extra session confs (measurement experiments only — nothing in the
    // driver contract sets it, so default behavior is unchanged). Keys
    // and values are trimmed individually ("k = v" works), and each conf
    // is read back from the built session (round-15 advice):
    // getOrCreate() returns any pre-existing session, where static confs
    // are silently ignored — an A/B that didn't take effect must warn,
    // not masquerade as a measurement.
    val extras = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
      }
    val withExtra = extras.foldLeft(spark) { case (b, (k, v)) => b.config(k, v) }
    val built = withExtra.getOrCreate()
    extras.foreach { case (k, v) =>
      val actual = built.conf.getOption(k)
      if (actual.contains(v))
        System.err.println(s"[session] extra conf applied: $k=$v")
      else System.err.println(s"[session] WARNING: extra conf $k=$v did NOT " +
        s"take effect (session reports ${actual.getOrElse("<unset>")}) — " +
        "static confs cannot change on a pre-existing session")
    }
    built.sparkContext.setLogLevel("WARN")
    built
  }
}
