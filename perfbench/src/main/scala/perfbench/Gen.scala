package perfbench

import graft.normalize.Intervals

/** One candle as an exchange reports it. Prices are whole cents and
  * volume whole thousandths, so the decimal text every payload carries is
  * exact and decodes to the same double on both sides of the oracle.
  */
final case class Bar(openMs: Long, open: Long, high: Long, low: Long,
                     close: Long, volMilli: Long)

/** One lake row identity: the merge key (partition columns + timestamp). */
final case class Key(symbol: String, interval: String, exchange: String, openMs: Long)

/** Deterministic exchange-payload generator. Every value is a pure
  * function of (seed, series, candle open time, revision), so a seed fixes
  * the whole input of a run and the oracle can recompute it without
  * touching Spark.
  */
final class Gen(val seed: Long) {
  import Gen._

  private def mix(parts: Long*): Long =
    parts.foldLeft(seed ^ 0x9E3779B97F4A7C15L)((h, p) => splitMix(h ^ splitMix(p)))

  def bar(symbol: String, exchange: String, interval: String,
          openMs: Long, rev: Int): Bar = {
    val h = mix(symbol.hashCode, exchange.hashCode, interval.hashCode, openMs, rev)
    val base = BaseCents(symbol)
    val spread = math.max(base / 50, 100L)
    val open = base + Math.floorMod(h, spread)
    val close = base + Math.floorMod(h >>> 13, spread)
    val high = math.max(open, close) + Math.floorMod(h >>> 29, spread / 10 + 1)
    val low = math.min(open, close) - Math.floorMod(h >>> 41, spread / 10 + 1)
    Bar(openMs, open, high, low, close, 1 + Math.floorMod(h >>> 7, 50000000L))
  }

  /** Closed candles of one series with open time in `[startMs, endMs)`. */
  def bars(symbol: String, exchange: String, interval: String,
           startMs: Long, endMs: Long, rev: Int): Seq[Bar] = {
    val step = Intervals.intervalMs(interval)
    val first = ((startMs + step - 1) / step) * step
    Iterator.iterate(first)(_ + step).takeWhile(_ < endMs)
      .map(bar(symbol, exchange, interval, _, rev)).toSeq
  }

  /** Whether the Kucoin body for one live launch and symbol carries a
    * non-success app code (about one in ten, fixed by the seed).
    */
  def kucoinRefused(launch: Int, symbol: String): Boolean =
    Math.floorMod(mix(0x6B75636FL, launch, symbol.hashCode), 10L) == 0
}

object Gen {
  /** One of the reference's six symbols (crypto_collector.py:771–788),
    * with all five intervals and all five exchanges; README.md says why
    * not all six.
    */
  val Symbols: Seq[String] = Seq("BTC-USDT")
  val Exchanges: Seq[String] = Seq("coinbase", "bitstamp", "bitfinex", "kucoin", "binanceus")
  val IntervalNames: Seq[String] = Intervals.All

  private val BaseCents: Map[String, Long] = Map("BTC-USDT" -> 6500000L)

  private def splitMix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def cents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"
  def milli(m: Long): String = f"${m / 1000}%d.${m % 1000}%03d"

  /** The decimal fields of a bar as the canonical row holds them. */
  def values(b: Bar): Seq[Double] =
    Seq(cents(b.open), cents(b.high), cents(b.low), cents(b.close), milli(b.volMilli))
      .map(_.toDouble)

  private def q(s: String) = "\"" + s + "\""

  /** One HTTP response body in the exchange's own shape (FIXTURES.md §2):
    * field order, timestamp unit, number encoding, envelope and row order
    * all differ per exchange. `refused` gives Kucoin's non-success body.
    */
  def body(exchange: String, bars: Seq[Bar], refused: Boolean = false): String = {
    val asc = bars.sortBy(_.openMs)
    exchange match {
      case "coinbase" => asc.reverse.map { b =>
          s"[${b.openMs / 1000},${cents(b.low)},${cents(b.high)},${cents(b.open)}," +
            s"${cents(b.close)},${milli(b.volMilli)}]"
        }.mkString("[", ",", "]")
      case "bitstamp" => asc.map { b =>
          s"""{"timestamp":${q((b.openMs / 1000).toString)},"open":${q(cents(b.open))},""" +
            s""""high":${q(cents(b.high))},"low":${q(cents(b.low))},""" +
            s""""close":${q(cents(b.close))},"volume":${q(milli(b.volMilli))}}"""
        }.mkString("""{"data":{"pair":"X/USD","ohlc":[""", ",", "]}}")
      case "bitfinex" => asc.map { b =>
          s"[${b.openMs},${cents(b.open)},${cents(b.close)},${cents(b.high)}," +
            s"${cents(b.low)},${milli(b.volMilli)}]"
        }.mkString("[", ",", "]")
      case "kucoin" =>
        if (refused) """{"code":"429000","msg":"Too Many Requests"}"""
        else asc.reverse.map { b =>
          Seq((b.openMs / 1000).toString, cents(b.open), cents(b.close), cents(b.high),
            cents(b.low), milli(b.volMilli), "0").map(q).mkString("[", ",", "]")
        }.mkString("""{"code":"200000","data":[""", ",", "]}")
      case "binanceus" => asc.map { b =>
          s"[${b.openMs},${q(cents(b.open))},${q(cents(b.high))},${q(cents(b.low))}," +
            s"${q(cents(b.close))},${q(milli(b.volMilli))},${b.openMs + 59999}," +
            s""""0",1,"0","0","0"]"""
        }.mkString("[", ",", "]")
    }
  }
}
