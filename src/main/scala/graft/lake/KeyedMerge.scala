package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.KeepLast

/** The keyed-merge body both lake commit protocols run — the
  * reference's `save_to_parquet` upsert (crypto_collector.py:523–558):
  * additive schema evolution → touched partition keys → affected rows ∪
  * batch → explicit-order dedup → clustering by partition key → replace.
  * The protocol ([[Rewrite]]) supplies the read of the touched
  * partitions and their replace; [[MergeWriter.mergeKeyed]] opens it by
  * the lake's layout, [[ManifestLake.mergeKeyed]] on a manifest snapshot.
  */
private[lake] object KeyedMerge {

  /** Merge `tagged` into the lake behind `rw` and return the merged
    * relation. Contract: `rw.keys` columns in `tagged` are non-null
    * STRINGs (callers derive them with date_format/lit) and `tagged`
    * already carries the ordering column(s). A `commitTag` the lake has
    * already committed makes the merge a no-op; otherwise it rides the
    * commit with `headers`.
    */
  def apply(spark: SparkSession, rw: Rewrite, tagged: DataFrame,
            dedupKeys: Seq[Column], order: Seq[Column], clusteredDedup: Boolean,
            commitTag: Option[String] = None,
            headers: Seq[(String, String)] = Nil): DataFrame = {
    if (commitTag.exists(rw.redelivered)) {
      // still CONSUME every partition of the batch: inside foreachBatch
      // the upstream stateful operators (e.g. dropDuplicatesWithinWatermark)
      // only commit their per-partition state stores when the batch is
      // fully processed — an early return would fail Spark's
      // state-store commit validation on the redelivered epoch
      tagged.write.format("noop").mode("overwrite").save()
      return tagged
    }
    val keys = rw.keys
    // Additive schema evolution, validated before any job runs: a type
    // change is a loud reject, a new column evolves the tracked schema,
    // and existing data is read THROUGH the evolved schema so partitions
    // written before the new column still surface it (as null). The
    // first merge seeds the schema from the batch.
    val schema = rw.schema match {
      case Some(s) => evolveSchema(s, tagged.schema)
      case None    => StructType(tagged.schema.fields.map(_.copy(nullable = true)))
    }
    val touched = if (rw.collectsTouched) touchedKeys(tagged, keys) else Seq.empty
    // allowMissingColumns both ways: the batch may ADD a column (existing
    // rows get null) or a caller may still send the old shape after the
    // lake evolved (batch rows get null). Dedup then applies whole-row
    // keep-last/keep-first per key — a winning old-shape row carries null
    // in the new column, the correct "that writer never knew the field".
    val combined =
      if (touched.isEmpty) tagged
      else rw.read(touched, Some(schema)) match {
        case Some(a) => a.unionByName(tagged, allowMissingColumns = true)
        case None    => tagged
      }
    // Write parallelism = touched-directory count when known (each
    // directory gets one file; extra tasks would launch empty), session-
    // capped — never a constant. Explicit (round-16): without it AQE
    // coalesces the batch-sized exchange to ONE partition and a single
    // task writes every touched directory's file serially.
    val par = spark.sparkContext.defaultParallelism
    val nWrite = if (touched.nonEmpty) math.min(par, touched.size) else par
    // clusteredDedup (round-16): when the caller guarantees the partition
    // key is constant within each dedup-key group (KeepLast.dedupClustered's
    // contract), the dedup window partitions by the WRITE key and the
    // separate clustering repartition is unnecessary — one exchange of
    // the merged relation instead of two. Otherwise cluster rows by
    // partition key before the write: without it every post-dedup task
    // can emit a file into every touched directory (up to tasks × dirs
    // small files per merge, each a footer every later read pays).
    val deduped =
      if (clusteredDedup)
        KeepLast.dedupClustered(combined, keys.map(col), dedupKeys, order, nWrite)
      else KeepLast.dedup(combined, dedupKeys, order)
    val toWrite =
      if (clusteredDedup) deduped else deduped.repartition(nWrite, keys.map(col): _*)
    // An empty batch writes, commits and publishes nothing. On an
    // existing lake the touched keys say so up front; on an absent lock
    // lake the write itself is the only pass over the batch (a key pass
    // there would decode a backfill's whole first batch twice), and the
    // replace removes the root it created if the write produced nothing.
    if (touched.nonEmpty || !rw.collectsTouched)
      rw.replace(toWrite, touched, mayEmpty = false, Some(schema),
        commitTag.map("tag" -> _).toSeq ++ headers)
    deduped
  }

  /** The batch's distinct partition-key combinations, bounded by the
    * batch, so they collect to the driver. One job and no exchange: each
    * task dedups its own partition and the driver unions the sets (a
    * `distinct()` runs a shuffle map job plus a result job under AQE).
    * Null guard (round-10 advice): a null key would write a
    * __HIVE_DEFAULT_PARTITION__ directory and never match its own
    * partition on the next merge's read, silently dropping that
    * partition's rows.
    */
  private def touchedKeys(tagged: DataFrame, keys: Seq[String]): Seq[Seq[String]] = {
    val keyRows = tagged.select(keys.map(col): _*)
    keyRows.mapPartitions((rows: Iterator[Row]) => rows.toSet.iterator)(
        Encoders.row(keyRows.schema))
      .collect().toSeq.distinct.map { r =>
        keys.indices.map { i =>
          if (r.isNullAt(i)) throw new IllegalArgumentException(
            s"keyed merge: batch contains a NULL value for partition key " +
              s"'${keys(i)}' — partition keys must be non-null strings " +
              "(derive them with date_format/lit before merging)")
          r.getString(i)
        }
      }
  }

  /** Validate `batch` against the lake's tracked schema and return the
    * evolved table schema: tracked columns first (their order is the
    * table's), genuinely new batch columns appended, everything
    * nullable (an added column is null for every pre-existing row by
    * construction). A column whose TYPE differs from the tracked one is
    * rejected loudly — silent coercion is how a lake loses data.
    */
  private def evolveSchema(stored: StructType, batch: StructType): StructType = {
    val conflicts = batch.fields.flatMap { f =>
      stored.fields.find(_.name == f.name).filter(_.dataType != f.dataType)
        .map(s => s"'${f.name}': lake has ${s.dataType.simpleString}, " +
          s"batch has ${f.dataType.simpleString}")
    }
    if (conflicts.nonEmpty) throw new IllegalStateException(
      "keyed merge: batch changes the TYPE of existing lake column(s) — " +
        "additive evolution only (new nullable columns); rewrite the lake " +
        "explicitly for type migrations. Conflicts: " + conflicts.mkString("; "))
    val newCols = batch.fields.filterNot(f => stored.fieldNames.contains(f.name))
    StructType((stored.fields ++ newCols).map(_.copy(nullable = true)))
  }
}
