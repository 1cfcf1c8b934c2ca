package graft

import org.apache.spark.sql.functions._
import graft.lake.Eraser

/** Bulk erasure ([[graft.lake.Eraser]], q186): rows of erased keys
  * vanish from HISTORY, untouched bucket partitions keep byte-identical
  * files (the O(touched)-not-O(lake) claim on real files), and a bucket
  * whose every row is erased loses its directory (dynamic overwrite
  * alone would silently keep it — the one failure an erasure verb
  * cannot have).
  */
class EraserSpec extends SparkSpec {
  import spark.implicits._

  private def freshLake(rows: Seq[(Long, String)], buckets: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_eraser").toString + "/lake"
    rows.toDF("user_id", "payload")
      .withColumn("bucket", pmod(hash($"user_id"), lit(buckets)).cast("string"))
      .repartition($"bucket")
      .write.partitionBy("bucket").parquet(dir)
    dir
  }

  private def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    } finally s.close()
  }

  test("erasure removes full key history; untouched partitions keep byte-identical files") {
    val rows = (1L to 200L).map(u => (u, s"p$u")) ++
      (1L to 200L).map(u => (u, s"q$u")) // two rows per user
    val lake = freshLake(rows, buckets = 8)
    val before = files(lake)
    // erase three users — all buckets they hash into; other buckets untouched
    val ids = Seq(7L, 13L, 101L).toDF("user_id")
    val touched = Seq(7L, 13L, 101L)
      .map(u => pmod(hash(lit(u)), lit(8)).cast("string"))
    val touchedVals = spark.range(1).select(touched: _*).collect().head
      .toSeq.map(_.toString).toSet
    val stats = Eraser.eraseKeys(spark, lake, "user_id", ids, buckets = 8)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(stats.values.sum == 6L, s"3 users x 2 rows must go: $stats")
    val after = spark.read.parquet(lake)
    assert(after.filter($"user_id".isin(7L, 13L, 101L)).count() == 0)
    assert(after.count() == 400 - 6)
    // untouched buckets: same file paths, same mtimes (never rewritten)
    val post = files(lake)
    val untouchedBefore = before.filter { case (p, _) =>
      !touchedVals.exists(b => p.contains(s"bucket=$b/")) }
    untouchedBefore.foreach { case (p, t) =>
      assert(post.get(p).contains(t), s"untouched file rewritten: $p") }
  }

  test("a fully-erased bucket loses its directory") {
    // single bucket => erasing every key must remove the whole partition
    val lake = freshLake((1L to 20L).map(u => (u, s"p$u")), buckets = 1)
    Eraser.eraseKeys(spark, lake, "user_id", (1L to 20L).toDF("user_id"), buckets = 1)
    val dir = new java.io.File(lake, "bucket=0")
    assert(!dir.exists(), "fully-erased bucket directory must be deleted")
    // the lake root still exists and reads as empty
    assert(new java.io.File(lake).exists())
  }

  test("erase x merge serialize: a merge inside the erasure's window fails loud (no resurrection)") {
    // Round-11 verdict item 1: an UNLOCKED erasure racing a merge lets
    // the merge read pre-erasure rows and overwrite them back AFTER the
    // rewrite — erased rows resurrect. With the shared writer lock, the
    // writer that starts second fails LOUD instead of interleaving.
    val lake = freshLake((1L to 40L).map(u => (u, s"p$u")), buckets = 2)
    val mergeErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    Eraser.beforeRewriteHook = () => {
      Eraser.beforeRewriteHook = () => ()
      // a concurrent writer tries to merge WHILE the erasure holds the
      // lake — exactly the interleaving that resurrects erased rows
      try graft.lake.MergeWriter.mergeKeyed(spark,
        Seq((999L, "new", "0")).toDF("user_id", "payload", "bucket")
          .withColumn("ingest_seq", lit(1L)),
        lake, Seq("bucket"),
        Seq(col("bucket"), col("user_id"), col("payload")), Seq(col("ingest_seq")))
      catch { case t: Throwable => mergeErr.set(t) }
    }
    try Eraser.eraseKeys(spark, lake, "user_id", Seq(7L).toDF("user_id"), buckets = 2)
    finally Eraser.beforeRewriteHook = () => ()
    assert(mergeErr.get() != null, "the racing merge must have been refused")
    assert(mergeErr.get().getMessage.contains("locked"), mergeErr.get().getMessage)
    // the erasure completed; the refused merge wrote nothing
    val out = spark.read.parquet(lake)
    assert(out.filter($"user_id" === 7L).count() == 0, "erased key must stay gone")
    assert(out.filter($"user_id" === 999L).count() == 0, "refused merge must not land rows")
    assert(out.count() == 39)
    // and the lock released: a post-erasure merge proceeds normally
    graft.lake.MergeWriter.mergeKeyed(spark,
      Seq((999L, "new", "0")).toDF("user_id", "payload", "bucket")
        .withColumn("ingest_seq", lit(1L)),
      lake, Seq("bucket"),
      Seq(col("bucket"), col("user_id"), col("payload")), Seq(col("ingest_seq")))
    assert(spark.read.parquet(lake).filter($"user_id" === 999L).count() == 1)
  }

  test("erasure on a held lake fails loud instead of racing the holder") {
    val lake = freshLake((1L to 10L).map(u => (u, s"p$u")), buckets = 1)
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(lake + ".__writer_lock")
    fs.create(lock, false).close()
    try {
      val e = intercept[IllegalStateException] {
        Eraser.eraseKeys(spark, lake, "user_id", Seq(1L).toDF("user_id"), buckets = 1)
      }
      assert(e.getMessage.contains("locked"), e.getMessage)
      // nothing was erased while refused
      assert(spark.read.parquet(lake).count() == 10)
    } finally fs.delete(lock, false)
  }

  test("manifest-lake erasure routes through a replacePartitions commit (no blind parquet read)") {
    import graft.lake.{ManifestLake, MergeWriter}
    val dir = java.nio.file.Files.createTempDirectory("graft_eraser_m").toString + "/lake"
    ManifestLake.create(spark, dir)
    val rows = (1L to 40L).map(u => (u, s"p$u"))
    val df = rows.toDF("user_id", "payload")
      .withColumn("bucket", pmod(hash($"user_id"), lit(2)).cast("string"))
      .withColumn("ingest_seq", lit(1L))
    MergeWriter.mergeKeyed(spark, df, dir, Seq("bucket"),
      Seq(col("bucket"), col("user_id")), Seq(col("ingest_seq")))
    assert(ManifestLake.isManifestLake(spark, dir))
    val stats = Eraser.eraseKeys(spark, dir, "user_id",
      Seq(7L, 13L).toDF("user_id"), buckets = 2)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(stats.values.sum == 2L, s"2 users x 1 row must go: $stats")
    // committed state: erased keys gone, survivors intact
    val out = ManifestLake.read(spark, dir)
    assert(out.filter($"user_id".isin(7L, 13L)).count() == 0)
    assert(out.count() == 38)
    // immutability: the PRE-erasure snapshot still holds the rows (the
    // two-step every immutable-format DELETE has) until vacuum reclaims
    assert(ManifestLake.readAt(spark, dir, 1L).count() == 40)
    ManifestLake.vacuum(spark, dir)
    val e = intercept[IllegalArgumentException] { ManifestLake.readAt(spark, dir, 1L) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    assert(ManifestLake.read(spark, dir).count() == 38)
  }

  test("manifest-lake erasure that empties a bucket drops it from the manifest") {
    import graft.lake.{ManifestLake, MergeWriter}
    val dir = java.nio.file.Files.createTempDirectory("graft_eraser_me").toString + "/lake"
    ManifestLake.create(spark, dir)
    val df = (1L to 20L).map(u => (u, s"p$u")).toDF("user_id", "payload")
      .withColumn("bucket", pmod(hash($"user_id"), lit(1)).cast("string"))
      .withColumn("ingest_seq", lit(1L))
    MergeWriter.mergeKeyed(spark, df, dir, Seq("bucket"),
      Seq(col("bucket"), col("user_id")), Seq(col("ingest_seq")))
    Eraser.eraseKeys(spark, dir, "user_id", (1L to 20L).toDF("user_id"), buckets = 1)
    // current manifest references nothing; read of an empty committed
    // state has no entries — currentEntries is the contract surface
    val entries = ManifestLake.currentEntries(spark, dir)
    assert(entries.isEmpty, s"fully-erased bucket must leave the manifest: $entries")
  }

  test("lock-path erasure of one bucket scans only that bucket's directory") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val lake = freshLake((1L to 400L).map(u => (u, s"p$u")), buckets = 16)
    val bucket = spark.range(1).select(pmod(hash(lit(7L)), lit(16))).head().get(0).toString
    val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.optimizedPlan.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.foreach(p => roots.add(p.toUri.getPath))
            case _ => ()
          }
          case _ => ()
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Eraser.eraseKeys(spark, lake, "user_id", Seq(7L).toDF("user_id"), buckets = 16)
        .collect()
      Thread.sleep(1500) // drain the async listener bus
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val scanned = roots.asScala.toSet.filter(_.startsWith(lake))
    assert(scanned == Set(s"$lake/bucket=$bucket"),
      s"the erasure's read must list only bucket=$bucket: $scanned")
    assert(spark.read.parquet(lake).count() == 399)
  }

  test("lock-path erasure of an evolved lake keeps the evolved column in rewritten buckets") {
    import graft.lake.MergeWriter
    val lake = java.nio.file.Files.createTempDirectory("graft_eraser_ev").toString + "/lake"
    def merge(df: org.apache.spark.sql.DataFrame, seq: Long): Unit = {
      MergeWriter.mergeKeyed(spark,
        df.withColumn("bucket", pmod(hash($"user_id"), lit(4)).cast("string"))
          .withColumn("ingest_seq", lit(seq)),
        lake, Seq("bucket"), Seq(col("bucket"), col("user_id")), Seq(col("ingest_seq")))
      ()
    }
    merge((1L to 40L).map(u => (u, s"p$u")).toDF("user_id", "payload"), 1L)
    // one new user brings column `tier`, landing in one bucket only
    merge(Seq((1000L, "n", "gold")).toDF("user_id", "payload", "tier"), 2L)
    def bucketOf(u: Long): String =
      spark.range(1).select(pmod(hash(lit(u)), lit(4))).head().get(0).toString
    // erase a user whose bucket's files all predate the column
    val victim = (1L to 40L).find(u => bucketOf(u) != bucketOf(1000L)).get
    val b = bucketOf(victim)
    val oldRows = spark.read.parquet(s"$lake/bucket=$b").count()
    assert(!spark.read.parquet(s"$lake/bucket=$b").columns.contains("tier"))
    Eraser.eraseKeys(spark, lake, "user_id", Seq(victim).toDF("user_id"), buckets = 4)
    // the rewritten bucket's own files carry the column, null for the old rows
    val rewritten = spark.read.parquet(s"$lake/bucket=$b")
    assert(rewritten.columns.contains("tier"), rewritten.columns.mkString(","))
    assert(rewritten.count() == oldRows - 1)
    assert(rewritten.filter($"tier".isNotNull).count() == 0)
    val out = MergeWriter.readLake(spark, lake)
    assert(out.filter($"user_id" === victim).count() == 0)
    assert(out.filter($"tier" === "gold").count() == 1)
    assert(out.count() == 40)
  }
}
