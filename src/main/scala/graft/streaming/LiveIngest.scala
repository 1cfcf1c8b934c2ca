package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.lake.MergeWriter

/** Live collection as Structured Streaming (SURVEY.md §2.9, E2): candle
  * stream → watermark → dedup-within-watermark → `foreachBatch` merge
  * into the partitioned lake.
  *
  * The reference's hand-rolled loop (crypto_collector.py:659–717) maps as:
  *  - 15-minute cycle           → `Trigger.ProcessingTime("15 minutes")`
  *  - overlap/duplicate refetch → watermark + sink-side keep-last merge
  *    (T5): the merge is idempotent, so at-least-once delivery upgrades
  *    to effectively-exactly-once in the lake
  *  - `last_collected_ts` state → checkpointed source offsets (T4)
  *  - wall-clock :00/:15 alignment (T1) — a genuine Spark gap:
  *    ProcessingTime fires on its own clock. [[runAligned]] is the
  *    driver-side scheduler that launches `Trigger.AvailableNow`
  *    catch-up runs at computed boundaries, the faithful equivalent
  *    (SURVEY.md §7 phase 4).
  *
  * The source here is any streaming DataFrame of canonical candles —
  * tests drive it with MemoryStream; production would plug a DataSource
  * V2 streaming connector whose offsets are per-(symbol, interval)
  * watermarks (T7 windows as input partitions).
  */
object LiveIngest {

  /** Driver-side aligned scheduler (SURVEY.md §2.9 T1) — the reference's
    * `live_collection` loop (crypto_collector.py:659–717) made explicit:
    * sleep to each :00/:15/:30/:45 wall-clock boundary, then fire one
    * collection run per interval DUE at that boundary (the per-interval
    * gating of `should_collect_interval`, crypto_collector.py:719–739,
    * via [[graft.normalize.Intervals.shouldCollect]]). Unknown intervals
    * are skipped, matching the reference's warn-and-skip.
    *
    * `launch(interval, boundaryMs)` is the work seam — production runs a
    * `Trigger.AvailableNow` streaming pass ([[runAvailableNow]]) so the
    * catch-up batch drains everything closed as of the boundary and then
    * stops; tests inject a recorder plus a frozen clock/sleeper.
    * Boundaries are strictly increasing even if the clock doesn't move
    * past one (a cycle that finishes within its boundary's millisecond
    * schedules the NEXT boundary, never the same one twice).
    */
  def runAligned(cycles: Int, intervals: Seq[String],
                 launch: (String, Long) => Unit,
                 clock: () => Long = () => System.currentTimeMillis(),
                 sleep: Long => Unit = Thread.sleep,
                 periodMs: Long = 15 * 60 * 1000L): Unit = {
    var lastBoundary = Long.MinValue
    var cycle = 0
    while (cycle < cycles) {
      val now = clock()
      val next = graft.normalize.Intervals.nextBoundaryMs(now, periodMs)
      val boundary = if (next > lastBoundary) next else lastBoundary + periodMs
      sleep(math.max(0L, boundary - now))
      val utc = java.time.Instant.ofEpochMilli(boundary)
        .atZone(java.time.ZoneOffset.UTC)
      intervals.foreach { iv =>
        if (graft.normalize.Intervals.shouldCollect(iv, utc.getHour, utc.getMinute)
            .contains(true))
          launch(iv, boundary)
      }
      lastBoundary = boundary
      cycle += 1
    }
  }

  /** One aligned catch-up pass: run the stream with `Trigger.AvailableNow`
    * until it drains, then return. Pairing this with [[runAligned]] gives
    * the reference's fire-at-boundary semantics on Spark's scheduler
    * (ProcessingTime triggers fire on their own clock, not wall-aligned).
    */
  def runAvailableNow(spark: SparkSession, candles: DataFrame, lakePath: String,
                      checkpoint: String, interval: String): Unit = {
    val q = start(spark, candles, lakePath, checkpoint, interval,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
  }

  /** Wire a canonical-candle stream into the merge sink. Each micro-batch
    * is one idempotent [[MergeWriter.merge]] call keyed by `batchId` (the
    * monotone ingest sequence), exactly the reference's per-cycle
    * `save_to_parquet` (E3).
    *
    * Deliberately NO `dropDuplicatesWithinWatermark`: its state store
    * keeps the FIRST occurrence of a key, which would silently discard a
    * re-fetched correction candle. The reference's semantic is last-writer
    * -wins (crypto_collector.py:550–553), and the sink merge already
    * provides it idempotently — stream-side dedup state would fight it.
    */
  def start(spark: SparkSession, candles: DataFrame, lakePath: String,
            checkpoint: String, interval: String,
            trigger: Trigger = Trigger.ProcessingTime("15 minutes")): StreamingQuery = {
    candles
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no emptiness pre-check (one more job per launch): an empty
        // batch collects no touched keys, and the merge then writes and
        // commits nothing
        MergeWriter.merge(spark, MergeWriter.withPartitionCols(batch, interval, "spot"),
          lakePath, batchId)
        ()
      }
      .start()
  }
}
