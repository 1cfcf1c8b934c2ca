package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamJoin

/** Stream-stream interval join ([[graft.streaming.StreamJoin]]): pairs
  * match across micro-batches, the range residual filters inside the
  * key bucket, and — the semantic that distinguishes the stream from
  * its q169 batch replay — input behind the watermark is DROPPED, so
  * genuinely late purchases never match even though the batch
  * condition holds.
  */
class StreamJoinSpec extends SparkSpec {
  import spark.implicits._
  import StreamJoinSpec.Ev

  private val T0 = 1609459200000L
  private def ev(u: Long, id: Long, offMin: Long) =
    Ev(u, id, new Timestamp(T0 + offMin * 60000L))

  private def runPass(clicks: MemoryStream[Ev], purchases: MemoryStream[Ev],
                      dir: String): Unit = {
    val q = StreamJoin.clickToPurchase(clicks.toDF(), purchases.toDF())
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$dir/out")
      .start()
    q.awaitTermination()
  }

  private def pairs(dir: String): Seq[(Long, Long, Long, Long)] =
    spark.read.parquet(s"$dir/out")
      .select($"user_id", $"click_id", $"purchase_id", $"lag_sec")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq

  test("pairs match across micro-batches; the 6h range residual filters in-bucket") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val dir = Files.createTempDirectory("graft_sjoin").toString
    clicks.addData(ev(1, 10, 0))
    runPass(clicks, purchases, dir)
    // the click is buffered in join state; its purchase arrives a batch later
    purchases.addData(ev(1, 20, 10), // in-window: 10 min after
      ev(1, 21, 7 * 60), // out of window: 7 h after
      ev(2, 22, 5)) // other user: key bucket never matches
    runPass(clicks, purchases, dir)
    assert(pairs(dir) == Seq((1L, 10L, 20L, 600L)))
  }

  test("input behind the watermark is dropped: a late purchase never matches") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val dir = Files.createTempDirectory("graft_sjoin_late").toString
    // batch 0 pushes BOTH sides' watermarks to t0+19h (max 20h − 1h delay);
    // the u8 same-batch pair is the positive control
    clicks.addData(ev(9, 90, 0), ev(8, 91, 20 * 60))
    purchases.addData(ev(8, 92, 20 * 60))
    runPass(clicks, purchases, dir)
    assert(pairs(dir) == Seq((8L, 91L, 92L, 0L)))
    // batch 1: u9's purchase at t0+5min is 19h behind the watermark —
    // dropped before the join even though the batch condition holds
    purchases.addData(ev(9, 93, 5))
    runPass(clicks, purchases, dir)
    assert(pairs(dir) == Seq((8L, 91L, 92L, 0L)),
      "a behind-watermark purchase must be dropped, not joined")
  }

  test("dropDuplicatesWithinWatermark collapses in-horizon dups; re-emits after eviction (q188 divergence)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val dir = Files.createTempDirectory("graft_sdedup").toString
    def pass(): Unit = {
      val q = in.toDF()
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$dir/out")
        .start()
      q.awaitTermination()
    }
    // batch 1: event 1 delivered TWICE in-batch plus once next batch —
    // all within the horizon, one survivor
    in.addData(ev(1, 1, 0), ev(1, 1, 0))
    pass()
    in.addData(ev(1, 1, 0))
    pass()
    // advance the watermark far past event 1's eviction horizon
    in.addData(ev(2, 9, 10 * 60))
    pass()
    // redelivery AFTER eviction with a fresh in-horizon timestamp:
    // state is gone, the row is emitted AGAIN — the bounded-state
    // semantic that separates this from lake-durable dedup (q160)
    in.addData(ev(1, 1, 10 * 60))
    pass()
    val out = spark.read.parquet(s"$dir/out")
      .groupBy($"event_id").count()
      .as[(Long, Long)].collect().toMap
    assert(out(9L) == 1L)
    assert(out(1L) == 2L,
      s"expected in-horizon dups collapsed (1) + post-eviction re-emit (1): $out")
  }
}

object StreamJoinSpec {
  // Top-level in a companion, not nested in the suite: Janino cannot
  // call the accessors of a case class nested inside a class instance,
  // and the typed Datasets over it fall back to interpreted evaluation.
  final case class Ev(user_id: Long, event_id: Long, ts: Timestamp)
}
