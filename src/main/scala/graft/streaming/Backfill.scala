package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.lake.MergeWriter
import graft.normalize.Intervals

/** Historical backfill job — the reference's `backfill_historical`
  * lifecycle (E1, crypto_collector.py:626–657) re-expressed for Spark.
  *
  * The reference loops (symbol × interval × chunk) sequentially with
  * sleeps; here the chunk plan is computed up front ([[plan]], T7 math
  * from [[Intervals]]) and all fetches execute as one union of
  * per-window DataFrames — Spark task parallelism replaces the thread
  * pool (§2.9 T9), and the merge sink preserves idempotence so a crashed
  * backfill simply re-runs (the reference's restart story, §1.1).
  *
  * `fetch` abstracts the exchange boundary: production wires an HTTP
  * client per (exchange, window); tests and this zero-egress environment
  * wire fixture payloads through [[graft.normalize.Exchanges]]. Each
  * window's result must be canonical candles.
  */
object Backfill {

  /** One fetchable unit of work: at most 300 candles (the universal API
    * cap the reference clamps to).
    */
  final case class Chunk(symbol: String, interval: String, startMs: Long, endMs: Long)

  /** Chunk plan for a backfill horizon — symbols × intervals × windows. */
  def plan(symbols: Seq[String], intervals: Seq[String],
           startMs: Long, endMs: Long): Seq[Chunk] =
    for {
      sym <- symbols
      iv <- intervals
      (s, e) <- Intervals.chunkWindows(startMs, endMs, iv)
    } yield Chunk(sym, iv, s, e)

  /** 2021-01-01 UTC — the reference's default backfill start for symbols
    * without a custom entry (crypto_collector.py:502).
    */
  val DefaultStartMs: Long = 1609459200000L

  /** Per-symbol chunk plan: each symbol backfills from its own start time
    * (`symbol_start_times` with a default for unlisted symbols —
    * crypto_collector.py:502, 506–512, 776–778).
    */
  def planPerSymbol(symbols: Seq[String], intervals: Seq[String],
                    symbolStartMs: Map[String, Long], endMs: Long,
                    defaultStartMs: Long = DefaultStartMs): Seq[Chunk] =
    symbols.flatMap { sym =>
      plan(Seq(sym), intervals, symbolStartMs.getOrElse(sym, defaultStartMs), endMs)
    }

  /** Per-(exchange, symbol) listing cutoffs: BinanceUS has no BTC-USDT
    * history before 2020-01-01 UTC (crypto_collector.py:565–572).
    */
  val DefaultAvailabilityCutoffs: Map[(String, String), Long] =
    Map(("binanceus", "BTC-USDT") -> 1577836800000L)

  /** Availability clamp for one exchange's view of a window: `None` when
    * the whole window precedes the listing (the reference's `continue`),
    * otherwise the window with its start raised to the cutoff.
    */
  def clampWindow(exchange: String, symbol: String, startMs: Long, endMs: Long,
                  cutoffs: Map[(String, String), Long] = DefaultAvailabilityCutoffs)
      : Option[(Long, Long)] =
    cutoffs.get((exchange, symbol)) match {
      case Some(cut) if endMs < cut => None
      case Some(cut)                => Some((math.max(startMs, cut), endMs))
      case None                     => Some((startMs, endMs))
    }

  /** Execute a backfill: fetch every chunk, tag each with its own
    * interval, union, and merge into the lake partitioned by (symbol,
    * interval, data_type, exchange, date) — one keyed merge per call (the
    * reference pays one merge per chunk). `interval` is a partition and
    * dedup key, so mixing intervals in one batch changes no row.
    */
  def run(spark: SparkSession, chunks: Seq[Chunk],
          fetch: Chunk => DataFrame, lakePath: String,
          ingestSeq: Long, dataType: String = "spot"): Unit =
    mergeOnce(spark, chunks.map(c => MergeWriter.withPartitionCols(fetch(c), c.interval, dataType)),
      lakePath, ingestSeq)

  /** One merge of every tagged frame, or none when there is nothing to
    * fetch. Same-shaped union branches share one generated class
    * ([[graft.Session.build]] keeps stage ids out of class names), so a
    * wide union compiles once per normalizer, not once per branch.
    */
  private def mergeOnce(spark: SparkSession, tagged: Seq[DataFrame],
                        lakePath: String, ingestSeq: Long): Unit =
    if (tagged.nonEmpty)
      MergeWriter.merge(spark, unionBalanced(tagged.toIndexedSeq), lakePath, ingestSeq)

  /** Pairwise union fold. Each `unionByName` analyses the plan it builds,
    * so a left-deep fold re-analyses a growing plan at every step
    * (quadratic in the frame count); a balanced one analyses each frame
    * log2(n) times. The optimizer's `CombineUnions` flattens both shapes
    * to the same n-way union.
    */
  private def unionBalanced(frames: IndexedSeq[DataFrame]): DataFrame =
    if (frames.size == 1) frames.head
    else {
      val (l, r) = frames.splitAt(frames.size / 2)
      unionBalanced(l).unionByName(unionBalanced(r))
    }

  /** Derivatives (perpetual futures) lifecycle — part of the reference's
    * declared contract, but EVERY venue returns empty
    * (`get_perpetual_ohlcv` → `[]`, crypto_collector.py:48–54, 140–146;
    * `collect_derivatives_data` → `[]`, 590–593). The engine keeps the
    * same surface: canonical candle schema, `data_type = "perpetual"`
    * partition tagging, zero rows — so a lake can hold spot/perpetual/
    * options side by side and a venue that later supports them only needs
    * a fetch implementation, not a schema change.
    */
  def collectDerivatives(spark: SparkSession, symbol: String, interval: String,
                         startMs: Long, endMs: Long): DataFrame =
    emptyCanonical(spark)

  /** Options lifecycle — same declared-but-empty contract
    * (`get_options_data` → `None`, crypto_collector.py:52–54, 144–146;
    * `collect_options_data` → `[]`, 595–598).
    */
  def collectOptions(spark: SparkSession, symbol: String,
                     startMs: Long, endMs: Long): DataFrame =
    emptyCanonical(spark)

  private def emptyCanonical(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.sources.CandleSource.Schema)

  /** Execute a backfill with the reference's per-chunk exchange fan-out
    * (`collect_spot_data`, crypto_collector.py:563–585): every chunk is
    * fetched from every exchange — availability-clamped per (exchange,
    * symbol) — and every interval's 5-venue results union into one merge
    * per call. `fetch(chunk, exchange)` must return canonical candles
    * already tagged with their `exchange` column (the normalizers in
    * [[graft.normalize.Exchanges]] do this).
    */
  def runFanOut(spark: SparkSession, chunks: Seq[Chunk], exchanges: Seq[String],
                fetch: (Chunk, String) => DataFrame, lakePath: String,
                ingestSeq: Long, dataType: String = "spot",
                cutoffs: Map[(String, String), Long] = DefaultAvailabilityCutoffs): Unit =
    mergeOnce(spark, for {
      c <- chunks
      ex <- exchanges
      (s, e) <- clampWindow(ex, c.symbol, c.startMs, c.endMs, cutoffs)
    } yield MergeWriter.withPartitionCols(
      fetch(c.copy(startMs = s, endMs = e), ex), c.interval, dataType),
      lakePath, ingestSeq)
}
