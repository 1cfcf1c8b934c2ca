package graft.model

import java.sql.Timestamp

/** Canonical OHLCV candle — the reference's single logical record shape,
  * produced identically by all five exchange parsers
  * (crypto_collector.py:123–131, 205–213, 282–290, 361–369, 451–459;
  * `exchange` injected at 583–584).
  *
  * Doubles, not decimals: the reference works in Python floats throughout
  * (explicit `float()` casts), a semantic we preserve (SURVEY.md §1.2).
  */
case class Candle(
    timestamp: Timestamp,
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Double,
    symbol: String,
    exchange: String)
