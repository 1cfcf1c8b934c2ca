package graft.normalize

/** Interval decoding, backfill chunk math, and trigger predicates — the
  * reference's scheduling arithmetic (SURVEY.md §2.6 F8–F10, §2.3 P8,
  * §2.9 T7) as pure, unit-testable functions. These run driver-side (they
  * plan work; they are not per-row operators).
  */
object Intervals {
  /** Supported canonical intervals (crypto_collector.py:774). */
  val All: Seq[String] = Seq("15m", "1h", "4h", "6h", "1d")

  /** Unit-suffix decode, default 15m on unknown — mirrors
    * `get_interval_ms` (crypto_collector.py:741–752).
    */
  def intervalMs(interval: String): Long = {
    val (num, unit) = interval.splitAt(interval.length - 1)
    val n = num.toIntOption.getOrElse(return 15 * 60 * 1000L)
    unit match {
      case "m" => n * 60 * 1000L
      case "h" => n * 3600 * 1000L
      case "d" => n * 86400 * 1000L
      case "w" => n * 7 * 86400 * 1000L
      case _   => 15 * 60 * 1000L
    }
  }

  /** Candles per day per interval (crypto_collector.py:484–490). */
  def candlesPerDay(interval: String): Int = (86400000L / intervalMs(interval)).toInt

  /** Backfill chunk span in days so one chunk ≤ 300 candles, floor 1 day
    * (crypto_collector.py:638–640; 300-candle cap at 63/155/233/310/402).
    */
  def chunkDays(interval: String, maxCandles: Int = 300): Int =
    math.max(1, math.min(maxCandles / candlesPerDay(interval), maxCandles))

  /** Plan `[start, end)` as consecutive chunk windows (SURVEY.md §2.9 T7):
    * covers exactly, no overlap, no gap. At scale these windows become one
    * connector input partition each.
    */
  def chunkWindows(startMs: Long, endMs: Long, interval: String): Seq[(Long, Long)] = {
    val span = chunkDays(interval).toLong * 86400000L
    Iterator.iterate(startMs)(_ + span).takeWhile(_ < endMs)
      .map(s => (s, math.min(s + span, endMs))).toSeq
  }

  /** Wall-clock-aligned trigger predicate per interval — mirrors
    * `should_collect_interval` (crypto_collector.py:719–739). `None` for
    * unknown intervals (the reference warns + skips).
    */
  def shouldCollect(interval: String, utcHour: Int, utcMinute: Int): Option[Boolean] =
    interval match {
      case "15m" => Some(true)
      case "1h"  => Some(utcMinute == 0)
      case "4h"  => Some(utcHour % 4 == 0 && utcMinute == 0)
      case "6h"  => Some(utcHour % 6 == 0) // reference quirk: minute NOT checked (730–732)
      case "1d"  => Some(utcHour == 0 && utcMinute == 0)
      case _     => None
    }

  /** Default scan-window start when a caller gives no explicit start —
    * the Kucoin synthesis (crypto_collector.py:334–340): the window ends
    * now (or at the given end) and spans `maxCandles` intervals back.
    */
  def defaultWindowStartMs(endMs: Long, interval: String, maxCandles: Int = 300): Long =
    endMs - intervalMs(interval) * maxCandles

  /** Next wall-clock boundary ≥ now for the 15-minute base cycle
    * (crypto_collector.py:664–667: `ceil(now / period) * period`).
    */
  def nextBoundaryMs(nowMs: Long, periodMs: Long = 15 * 60 * 1000L): Long =
    ((nowMs + periodMs - 1) / periodMs) * periodMs
}
