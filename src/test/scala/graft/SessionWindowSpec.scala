package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.SessionWindows

/** Native streaming session windows
  * ([[graft.streaming.SessionWindows]]): cross-batch session MERGING (a
  * bridging event fuses two buffered windows), the [start, end)
  * boundary convention, and the append-mode flush rule — the exact
  * semantics the q172 replay-equals-oracle equality relies on.
  */
class SessionWindowSpec extends SparkSpec {
  import spark.implicits._
  import SessionWindowSpec.Ev

  private val T0 = 1609459200000L
  private def ev(u: Long, offMin: Long, ms: Long = 0L) =
    Ev(u, new Timestamp(T0 + offMin * 60000L + ms))
  private def us(offMin: Long): Long = (T0 + offMin * 60000L) * 1000L

  private def runPass(mem: MemoryStream[Ev], dir: String, delay: String): Unit = {
    val q = SessionWindows.userSessions(mem.toDF(), watermarkDelay = delay)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$dir/out")
      .start()
    q.awaitTermination()
  }

  private def sessions(dir: String): Seq[(Long, Long, Long, Long)] =
    spark.read.parquet(s"$dir/out")
      .select($"user_id", $"start_us", $"end_us", $"n_events")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq

  test("a bridging event MERGES two buffered sessions across batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dir = Files.createTempDirectory("graft_swin_merge").toString
    // two open sessions 50 min apart — too far to touch (gap 30)
    mem.addData(ev(1, 0), ev(1, 50))
    runPass(mem, dir, delay = "2 hours") // wm = 50min − 2h → nothing flushes
    assert(sessions(dir).isEmpty, "no session may flush before the watermark")
    // the bridge overlaps BOTH ([25,55) touches [0,30) and [50,80)) and a
    // far event advances the watermark past the merged end
    mem.addData(ev(1, 25), ev(2, 600))
    runPass(mem, dir, delay = "2 hours")
    assert(sessions(dir) == Seq((1L, us(0), us(80), 3L)),
      s"expected ONE merged session [0,80) of 3 events, got ${sessions(dir)}")
  }

  test("boundary: exact-gap distance MERGES (windows touch); one µs past splits") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dir = Files.createTempDirectory("graft_swin_edge").toString
    // u1: 0 and exactly 30 min — [0,30) touches [30,60) → ONE session
    // (the ≤-gap island rule q18 and the q172 oracle share);
    // u2: 0 and 30 min + 1 ms → two sessions;
    // u3 far in the future flushes everything
    mem.addData(ev(1, 0), ev(1, 30), ev(2, 0), ev(2, 30, 1L), ev(3, 600))
    runPass(mem, dir, delay = "0 seconds")
    val got = sessions(dir)
    assert(got.filter(_._1 == 1L) == Seq((1L, us(0), us(60), 2L)),
      s"exact-gap events must merge: $got")
    assert(got.filter(_._1 == 2L).map(_._4) == Seq(1L, 1L),
      s"past-gap events must split: $got")
    // u3's own session is still open (end 630 min > wm 600) → not emitted
    assert(!got.exists(_._1 == 3L), s"open session must not flush: $got")
  }
}

object SessionWindowSpec {
  // Top-level in a companion, not nested in the suite: Janino cannot
  // call the accessors of a case class nested inside a class instance,
  // and the typed Datasets over it fall back to interpreted evaluation.
  final case class Ev(user_id: Long, ts: Timestamp)
}
