package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bulk predicate DELETE over the partitioned lake — the data-governance
  * verb (GDPR/CCPA erasure, contract-expiry purges) next to
  * [[MergeWriter]]'s upsert and q182's keyed tombstones. Tombstones
  * suppress a KEY going forward; erasure must REMOVE matching rows from
  * history, which on an immutable-file lake means rewriting files — the
  * job is to rewrite as few as possible.
  *
  * The lake partitions on a hash bucket of the erasure key
  * (`bucket = pmod(hash(key), B)`), so an erasure list prunes to its
  * buckets' partitions statically: untouched partitions are NOT read,
  * NOT rewritten, and their files stay byte-identical (EraserSpec pins
  * that on real files). Inside a touched partition the surviving rows
  * are `left_anti` the erasure list.
  *
  * Write-serialization (round-11 verdict item 1): erasure is a
  * read-rewrite cycle over shared lake paths, so it runs through the
  * SAME protocol as the merge it races ([[Rewrite]], opened by the
  * lake's layout). On a lock-path lake the whole cycle holds the
  * single-writer lock — a merge that read pre-erasure rows can no
  * longer overwrite them back AFTER the erasure (the resurrection
  * failure a GDPR verb cannot have; the reference serializes its write
  * phases for the same reason, crypto_collector.py:754–769). On a
  * manifest lake the rewrite is one [[ManifestLake.replacePartitions]]
  * commit against the snapshot it read: survivors land in a private txn
  * directory and ONE atomic manifest create both publishes them and
  * un-references the erased files, so erase × merge is totally ordered
  * by the version chain and the loser of any race fails loud. A
  * fully-erased bucket's files then become unreferenced garbage for
  * [[ManifestLake.vacuum]] — erased BYTES linger until a vacuum with
  * the deployment's retention runs, the two-step (DELETE, then VACUUM)
  * every immutable-file table format has. Both protocols read through
  * the tracked lake schema — footer-sampling an evolved lake could
  * silently drop the new column from every rewritten bucket; a lake
  * written without one (a plain `partitionBy("bucket")` write) is read
  * by footer inference with `bucket` kept a string ([[Rewrite.scan]]).
  *
  * Scale: cost is O(touched partitions' data), not lake size — with B
  * buckets an erasure list of any size touches at most B partitions,
  * and a single-user request touches exactly one. The anti join
  * broadcasts the erasure list when small (the common case) and
  * shuffle-joins co-partitioned otherwise — Spark's planner picks by
  * size. The erasure list is checkpointed BEFORE the rewrite because it
  * usually derives from the lake being rewritten (Spark refuses to
  * overwrite a path its read plan references — the MergeWriter lesson).
  */
object Eraser {

  /** Test failpoint: runs after the erasure read its touched partitions
    * and before the rewrite lands — the window a racing merge would need to
    * resurrect erased rows. Production leaves the no-op.
    */
  @volatile private[graft] var beforeRewriteHook: () => Unit = () => ()

  /** Remove every row of `lake` whose `keyCol` appears in `ids`
    * (a one-column DataFrame named `keyCol`); returns per-bucket
    * (bucket, rows_removed) stats. The lake must be partitioned by
    * `bucket` as written by a `pmod(hash(keyCol), buckets)` writer.
    */
  def eraseKeys(spark: SparkSession, lake: String, keyCol: String,
                ids: DataFrame, buckets: Int = 16,
                extraHeaders: Seq[(String, String)] = Nil): DataFrame = {
    import spark.implicits._
    require(extraHeaders.isEmpty || ManifestLake.isManifestLake(spark, lake),
      "Eraser: extraHeaders need a manifest lake (headers ride the commit)")
    val eraseIds = ids.select(col(keyCol))
      .filter(col(keyCol).isNotNull).distinct()
      .localCheckpoint() // cut lineage: usually derived from `lake` itself
    val touched = eraseIds
      .select(pmod(hash(col(keyCol)), lit(buckets)).cast("string").as("bucket"))
      .distinct().as[String].collect().toSeq.map(Seq(_)) // bounded by `buckets`
    Rewrite.open(spark, lake, Seq("bucket")) { rw =>
      rw.read(touched, rw.schema) match {
        case None =>
          // no touched partition exists — nothing to rewrite, but headers
          // a caller asked to ride THIS erasure's commit (e.g. syncTo's
          // durable offset) must still land: a metadata-only commit
          if (extraHeaders.nonEmpty) ManifestLake.commitMetadata(spark, lake, extraHeaders)
          spark.emptyDataset[(String, Long)].toDF("bucket", "rows_removed")
        case Some(affected) =>
          val before = affected.groupBy($"bucket").agg(count(lit(1)).as("n_before"))
          val surviving = affected.join(eraseIds, Seq(keyCol), "left_anti")
          beforeRewriteHook()
          rw.replace(surviving, touched, mayEmpty = true, headers = extraHeaders)
          stats(surviving, before)
      }
    }
  }

  private def stats(surviving: DataFrame, before: DataFrame): DataFrame = {
    surviving.groupBy(col("bucket")).agg(count(lit(1)).as("n_after"))
      .join(before, Seq("bucket"), "right") // a fully-erased bucket keeps its row
      .select(col("bucket"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("rows_removed"))
  }
}
