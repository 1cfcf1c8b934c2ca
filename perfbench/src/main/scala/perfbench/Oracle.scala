package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.SparkSession
import graft.lake.MergeWriter

/** The reference's merge result, computed in plain Scala from the
  * generated inputs: last writer wins per key (crypto_collector.py:548–553),
  * Kucoin bodies with a non-success code contribute nothing. Each write
  * names the operation (backfill pass or live launch) that made it, so a
  * lake that disagrees can be traced to the operation whose rows it lost.
  */
final class Oracle {
  import Oracle._

  /** Every value a key was ever given, newest first. */
  private val history = mutable.HashMap.empty[Key, List[Written]]

  def write(op: Int, interval: String, symbol: String, exchange: String,
            bars: Seq[Bar]): Unit =
    bars.foreach { b =>
      val k = Key(symbol, interval, exchange, b.openMs)
      history(k) = Written(op, rowText(k, Gen.values(b))) :: history.getOrElse(k, Nil)
    }

  def expected: Map[Key, Written] = history.view.mapValues(_.head).toMap

  def rows: Int = history.size

  /** Compare a lake's rows with the oracle. Rows match as a count plus an
    * order-independent checksum; only on a mismatch is the lake diffed key
    * by key. A key whose lake value is an older write of the same key is a
    * stale revision, charged to the operation whose newer write lost.
    * Anything else (a missing, extra or unknown row) is unexplained.
    */
  def check(lake: Seq[(Key, String)]): Verdict = {
    val exp = expected
    val sumExp = checksum(exp.valuesIterator.map(_.text))
    val sumLake = checksum(lake.iterator.map(_._2))
    if (lake.size == exp.size && sumExp == sumLake)
      Verdict(lake.size, exp.size, Set.empty, 0, Nil)
    else {
      val got = lake.groupBy(_._1)
      val stale = mutable.Set.empty[Int]
      var staleRows = 0
      val unexplained = mutable.ArrayBuffer.empty[String]
      got.foreach { case (k, vs) =>
        if (vs.size > 1) unexplained += s"duplicate key $k"
        else exp.get(k) match {
          case None => unexplained += s"row not in any input: ${vs.head._2}"
          case Some(w) if w.text == vs.head._2 =>
          case Some(w) =>
            if (history(k).exists(_.text == vs.head._2)) { stale += w.op; staleRows += 1 }
            else unexplained += s"value never written: ${vs.head._2}"
        }
      }
      exp.keysIterator.filterNot(got.contains).foreach(k => unexplained += s"missing row $k")
      Verdict(lake.size, exp.size, stale.toSet, staleRows, unexplained.toSeq)
    }
  }
}

object Oracle {
  final case class Written(op: Int, text: String)

  /** `staleOps` are operations counted as failed: a newer write of theirs
    * lost to an older value. `correct` holds when nothing else is wrong.
    */
  final case class Verdict(lakeRows: Int, expectedRows: Int, staleOps: Set[Int],
                           staleRows: Int, unexplained: Seq[String]) {
    def correct: Boolean = unexplained.isEmpty
  }

  private val Day = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    .withZone(java.time.ZoneOffset.UTC)

  /** The canonical row as one string: partition columns, epoch seconds,
    * then open/high/low/close/volume as Java prints a double.
    */
  def rowText(k: Key, values: Seq[Double]): String =
    s"${k.symbol}|${k.interval}|spot|${k.exchange}|" +
      s"${Day.format(java.time.Instant.ofEpochMilli(k.openMs))}|${k.openMs / 1000}|" +
      values.mkString("|")

  def checksum(texts: Iterator[String]): Long =
    texts.foldLeft(0L) { (acc, t) =>
      acc + ((MurmurHash3.stringHash(t, 0x5EED).toLong << 32) ^
        (MurmurHash3.stringHash(t, 0xC0DE).toLong & 0xFFFFFFFFL))
    }

  /** The lake as the program reads it back ([[MergeWriter.readLake]]). */
  def readLake(spark: SparkSession, path: String): Seq[(Key, String)] =
    MergeWriter.readLake(spark, path)
      .selectExpr("symbol", "interval", "data_type", "exchange", "date",
        "timestamp", "open", "high", "low", "close", "volume")
      .collect().toSeq.map { r =>
        val k = Key(r.getString(0), r.getString(1), r.getString(3),
          r.getTimestamp(5).getTime)
        val text = Seq(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
          String.valueOf(r.get(4)), (k.openMs / 1000).toString).mkString("|") + "|" +
          (6 to 10).map(i => r.getDouble(i)).mkString("|")
        (k, text)
      }
}
