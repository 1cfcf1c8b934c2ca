package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming corpus ingest — the training-data pipeline's live front
  * door: documents arrive as a stream, exact duplicates are dropped in
  * flight, and low-quality rows are gated out before they ever land.
  * The batch tiers (q34 exact dedup, q31 quality gate, q78 curation)
  * then see a pre-cleaned lake instead of re-scrubbing the firehose.
  *
  * Semantics: unlike the candle path ([[LiveIngest]], where a re-fetch
  * is a CORRECTION and the sink merge must keep the last writer),
  * corpus ingest wants FIRST-wins — two documents with identical text
  * are interchangeable, so `dropDuplicatesWithinWatermark` keeping the
  * first occurrence is exactly the right operator, and its state store
  * (one 16-byte md5 key per distinct doc inside the watermark horizon)
  * is bounded by arrival rate × horizon, never corpus size. A
  * duplicate arriving AFTER the horizon passes the stream gate and is
  * caught by the batch q34/q78 tiers — the stream stage is a cheap
  * high-recall prefilter, the lake dedup is the exactness guarantee.
  *
  * Scale: both stages are narrow maps except the dedup, which shuffles
  * on the md5 key — the same single-exchange shape as batch q34. The
  * quality gate ([[graft.operators.TextOps.qualityScored]]) is a pure
  * map and runs before the sink, so rejected rows never hit storage.
  */
object CorpusIngest {

  /** A document as it arrives on the wire. */
  final case class Doc(doc_id: Long, text: String,
                       event_time: java.sql.Timestamp, source: String)

  /** Fingerprint → watermark → first-wins dedup → quality gate.
    *
    * @param docs           streaming DataFrame with at least
    *                       (doc_id, text, event_time, source)
    * @param watermarkDelay how late a duplicate may arrive and still be
    *                       caught by stream-side state
    * @param minQuality     q31-score floor; rows below it are dropped
    */
  def dedupedQualityStream(docs: DataFrame, watermarkDelay: String = "1 hour",
                           minQuality: Double = 0.25): DataFrame = {
    import docs.sparkSession.implicits._
    val deduped = docs
      .withColumn("text_md5", md5($"text"))
      .withWatermark("event_time", watermarkDelay)
      .dropDuplicatesWithinWatermark("text_md5")
    graft.operators.TextOps.qualityScored(deduped)
      .filter($"quality" >= minQuality)
  }

  private val Keys = Seq("source", "date")

  /** Wire the cleaned stream into a (source, date)-partitioned parquet
    * document lake. Each micro-batch is one idempotent [[mergeDocs]]
    * call keyed by `batchId`, so at-least-once delivery (foreachBatch
    * retries) upgrades to effectively-exactly-once in the lake — the
    * same contract as [[LiveIngest.start]] for candles, with the dedup
    * polarity flipped to FIRST-wins.
    */
  def start(spark: SparkSession, docs: DataFrame, lakePath: String,
            checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("15 minutes"),
            watermarkDelay: String = "1 hour",
            minQuality: Double = 0.25): StreamingQuery =
    start(spark, docs, lakePath, checkpoint, trigger, watermarkDelay,
      minQuality, _ => ())

  /** Test seam (round-10 verdict item 2): `postBatchHook` runs AFTER the
    * lake merge but BEFORE foreachBatch returns — i.e. before Spark
    * commits the epoch to the checkpoint. A hook that throws reproduces
    * the at-least-once path's ACTUAL failure mode: data landed, offset
    * uncommitted, so a restart re-delivers the batch with the SAME
    * batchId and the idempotent merge must absorb it. Production callers
    * use the 7-arg overload (no-op hook).
    */
  private[graft] def start(spark: SparkSession, docs: DataFrame, lakePath: String,
                           checkpoint: String, trigger: Trigger,
                           watermarkDelay: String, minQuality: Double,
                           postBatchHook: Long => Unit): StreamingQuery = {
    import docs.sparkSession.implicits._
    dedupedQualityStream(docs, watermarkDelay, minQuality)
      .withColumn("date", date_format($"event_time", "yyyyMMdd"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeDocs(spark, batch, lakePath, batchId) // an empty batch commits nothing
        postBatchHook(batchId)
      }
      .start()
  }

  /** [[start]] plus the INCREMENTAL NEAR-DUP GATE
    * ([[graft.operators.MinHashLsh.incrementalNearDupGate]]) between
    * the exact-dedup/quality stage and the lake sink: each micro-batch
    * is gated against the maintained survivor state (band index +
    * shingle sets under `stateDir`), near-dups of earlier survivors or
    * of smaller-id in-batch docs are dropped, and only gate survivors
    * merge into the lake. The state is persisted as PER-BATCH parquet
    * deltas keyed by batchId (`bands/batch=<id>/`, `docs/batch=<id>/`),
    * so an at-least-once redelivery overwrites its own delta and
    * re-merges idempotently — the same effectively-exactly-once
    * contract as the exact tier. Batch semantics are oracle-checked by
    * the q167 replay ([[graft.operators.CorpusOps.q167StreamNearDupGate]]).
    *
    * Scale: state scales with distinct surviving documents (bands are
    * 16 rows/doc; shingle sets are doc-length-bounded); each batch
    * probes the index with one equi join — no corpus rescan, no
    * growth with delivery count.
    */
  def startNearDupGated(spark: SparkSession, docs: DataFrame, lakePath: String,
                        stateDir: String, checkpoint: String,
                        trigger: Trigger = Trigger.ProcessingTime("15 minutes"),
                        watermarkDelay: String = "1 hour",
                        minQuality: Double = 0.25): StreamingQuery =
    startNearDupGated(spark, docs, lakePath, stateDir, checkpoint, trigger,
      watermarkDelay, minQuality, _ => ())

  /** Test seam, mirroring [[start]]'s: `postBatchHook` runs after the
    * merge AND the state-delta write but before Spark commits the epoch
    * — a hook that throws reproduces the redelivery-with-state-present
    * window the round-11 advice flagged (the re-run must see the gate
    * state WITHOUT its own half-committed delta, or every prior
    * survivor self-matches at Jaccard 1 and the state is wiped).
    */
  private[graft] def startNearDupGated(spark: SparkSession, docs: DataFrame,
                                       lakePath: String, stateDir: String,
                                       checkpoint: String, trigger: Trigger,
                                       watermarkDelay: String, minQuality: Double,
                                       postBatchHook: Long => Unit): StreamingQuery = {
    import docs.sparkSession.implicits._
    dedupedQualityStream(docs, watermarkDelay, minQuality)
      .withColumn("date", date_format($"event_time", "yyyyMMdd"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // exclude THIS batch's own delta: on an at-least-once
          // redelivery (crash after the delta write, before the epoch
          // commit) the state must look exactly as it did before the
          // first attempt, or the batch's docs judge themselves
          val state = loadGateState(spark, stateDir, excludeBatchId = Some(batchId))
          val (flags, delta) = graft.operators.MinHashLsh.incrementalNearDupGate(
            batch.select($"doc_id", $"text"), state)
          val survivors = batch.join(
            flags.filter($"survived").select($"doc_id"), Seq("doc_id"), "left_semi")
          mergeDocs(spark, survivors, lakePath, batchId) // no survivor: no commit
          // batchId-keyed delta dirs: a redelivered batch OVERWRITES its
          // own delta instead of duplicating state
          delta.bands.write.mode("overwrite").parquet(s"$stateDir/bands/batch=$batchId")
          delta.docs.write.mode("overwrite").parquet(s"$stateDir/docs/batch=$batchId")
        }
        postBatchHook(batchId)
      }
      .start()
  }

  /** Accumulated gate state from the per-batch delta dirs (None before
    * the first batch). The `batch=` partition column the layout adds is
    * dropped — state consumers key on content, not delivery epoch —
    * after `excludeBatchId`'s own delta (a redelivery's half-committed
    * first attempt) is filtered out.
    */
  private[graft] def loadGateState(spark: SparkSession, stateDir: String,
                                   excludeBatchId: Option[Long] = None): Option[graft.operators.GateState] = {
    val bandsPath = new org.apache.hadoop.fs.Path(s"$stateDir/bands")
    val fs = bandsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(bandsPath)) None
    else {
      def load(sub: String) = {
        val df = spark.read.parquet(s"$stateDir/$sub")
        // partition-dir inference may type `batch` as int or long —
        // compare through a cast rather than trusting the inferred type
        excludeBatchId.fold(df)(id =>
          df.filter(col("batch").cast("long") =!= lit(id))).drop("batch")
      }
      Some(graft.operators.GateState(load("bands"), load("docs")))
    }
  }

  /** Idempotent first-wins merge of a cleaned batch into the document
    * lake: the shared [[graft.lake.MergeWriter.mergeKeyed]] shape —
    * statically-pruned affected-partition read (cost scales with batch
    * size, never lake size), unionByName, keyed dedup, dynamic
    * overwrite, all under the single-writer lock — with the dedup
    * polarity flipped: greatest of −ingest_seq = smallest seq = FIRST
    * writer wins per (source, date, text_md5), because a re-delivered
    * document is interchangeable, not a correction. (This path
    * previously carried its own broadcast-semi-join pruning — the
    * formulation the round-9 rehearsal measured as a de-facto full lake
    * scan per micro-batch; delegating makes the doc lake inherit the
    * measured static-pruned read AND the writer-lock contract.)
    */
  def mergeDocs(spark: SparkSession, batch: DataFrame, path: String,
                ingestSeq: Long): DataFrame =
    graft.lake.MergeWriter.mergeKeyed(spark,
      batch.withColumn("ingest_seq", lit(ingestSeq)), path,
      Keys, (Keys :+ "text_md5").map(col), Seq(col("ingest_seq") * -1),
      // on a manifest lake the batchId-derived tag rides the manifest
      // commit, so an at-least-once redelivery is a NO-OP commit rather
      // than a duplicate version (the lock path gets the same guarantee
      // from the first-wins dedup absorbing identical rows)
      commitTag = Some(s"corpus-$ingestSeq"),
      // partition keys ⊂ dedup keys — clustered-dedup contract holds
      clusteredDedup = true)
}
