package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.normalize.{Exchanges, Intervals}
import graft.streaming.{Backfill, LiveIngest}

/** What a workload's timed loop produced. */
final case class Measured(attempted: Int, failed: Int, rowsHanded: Long, wallS: Double,
                          freshnessS: Seq[Double], stealShare: Seq[Double],
                          lakeRows: Int, lake: LakeStats,
                          correct: Boolean, notes: Seq[String])

/** A workload: set up (untimed), then run a fixed number of timed
  * operations. The count follows from the time budget alone, so every run
  * of a seed attempts the same operations whatever the host's speed.
  */
trait Workload {
  /** Wall seconds of each set-up step, in order, for the artifact. */
  val setupSteps: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  protected def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupSteps(name) = (System.nanoTime() - t0) / 1e9
  }

  def setup(): Unit
  def measure(seconds: Double): Measured
  /** Input size, for the artifact. */
  def inputs: Map[String, Any]
}

object Workload {
  /** The newest backfilled day ends here (2024-03-01 00:00 UTC). */
  val HorizonEndMs = 1709251200000L
  val DayMs = 86400000L
  /** Backfill horizon. A pass costs about 0.13 s per (chunk, exchange)
    * frame on a 4-core host, mostly Janino compiles, so the horizon is
    * short enough that each run holds several timed operations.
    */
  val Days = 2

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copy(f, new File(to, f.getName)))
    } else Files.copy(from.toPath, to.toPath)

  /** Operations that fill about `seconds` at `nominalS` each, at least one. */
  def operations(seconds: Double, nominalS: Double): Int =
    math.max(1, math.round(seconds / nominalS).toInt)
}

/** The reference's backfill (crypto_collector.py:626–657) of the symbol ×
  * interval × exchange matrix over `days` of history into an empty lake, then the
  * newest day fetched again with revised candles at a higher ingest
  * sequence (the reference's re-run). Every payload body is generated
  * before timing; `fetch` only wraps a body in a one-row DataFrame and
  * hands it to the exchange's normalizer, as an HTTP client would.
  */
final class BackfillPass(spark: SparkSession, gen: Gen, days: Int) {
  import Workload._
  private val startMs = HorizonEndMs - days * DayMs
  private val main = Backfill.plan(Gen.Symbols, Gen.IntervalNames, startMs, HorizonEndMs)
  private val newest = Backfill.plan(Gen.Symbols, Gen.IntervalNames, HorizonEndMs - DayMs, HorizonEndMs)

  /** (chunk, exchange, revision) → (body, bars in it). */
  private val bodies: Map[(Backfill.Chunk, String, Int), (String, Seq[Bar])] =
    (main.map((_, 0)) ++ newest.map((_, 1))).flatMap { case (c, rev) =>
      Gen.Exchanges.flatMap { ex =>
        Backfill.clampWindow(ex, c.symbol, c.startMs, c.endMs).map { case (s, e) =>
          val bars = gen.bars(c.symbol, ex, c.interval, s, e, rev)
          (c.copy(startMs = s, endMs = e), ex, rev) -> (Gen.body(ex, bars), bars)
        }
      }
    }.toMap

  /** Canonical rows one pass hands to merges. */
  val rows: Long = bodies.valuesIterator.map(_._2.size.toLong).sum
  val payloadBytes: Long = bodies.valuesIterator.map(_._1.length.toLong).sum
  val frames: Int = bodies.size

  /** Record the pass's writes: the matrix as `op`, the re-fetch as `op + 1`. */
  def expect(oracle: Oracle, op: Int): Unit =
    Seq(0, 1).foreach { rev =>
      bodies.foreach { case ((c, ex, r), (_, bars)) =>
        if (r == rev) oracle.write(op + rev, c.interval, c.symbol, ex, bars)
      }
    }

  private def fetch(rev: Int)(c: Backfill.Chunk, ex: String): DataFrame = {
    import spark.implicits._
    Exchanges.all(ex)(Seq((bodies((c, ex, rev))._1, c.symbol)).toDF("payload", "symbol"))
  }

  /** Decode every body of the pass in one job: the traced run's decode span. */
  def decodeAll(): Long = {
    val frames = bodies.keys.toSeq.map { case (c, ex, rev) => fetch(rev)(c, ex) }
    frames.reduce(_ unionByName _)
      .select(count(hash(col("*"))).as("n")).first().getLong(0)
  }

  def run(lake: String, trace: Trace): Unit = {
    trace.span("merge")(Backfill.runFanOut(spark, main, Gen.Exchanges, fetch(0), lake, ingestSeq = 0L))
    trace.span("merge")(Backfill.runFanOut(spark, newest, Gen.Exchanges, fetch(1), lake, ingestSeq = 1L))
  }
}

/** `backfill`: repeated backfill passes, each into a fresh lake at the
  * same root, after two untimed passes that warm the JVM. A run times
  * `seconds / 5` passes: two at 10 s, which take 13–16 s on the 4-core
  * reference host.
  * Each pass's lake is checked against the oracle outside the timed window.
  */
final class BackfillWorkload(spark: SparkSession, gen: Gen, work: File, trace: Trace)
    extends Workload {
  import Workload.Days
  private val lake = new File(work, "lake")
  private lazy val pass = new BackfillPass(spark, gen, Days)
  private lazy val oracle = { val o = new Oracle; pass.expect(o, 0); o }
  // in a fresh JVM the first passes take about 17, 7 and 6 s (JIT of
  // Janino and of the planner). Two warm passes leave the timed ones a
  // little slower than a fully warm pass, by the same amount in every run,
  // and keep a run short enough for the benchmark's time limit.
  private val WarmPasses = 2

  def inputs: Map[String, Any] = Map("days" -> Days, "rows_per_pass" -> pass.rows,
    "frames_per_pass" -> pass.frames, "payload_bytes_per_pass" -> pass.payloadBytes,
    "series" -> Gen.Symbols.size * Gen.IntervalNames.size * Gen.Exchanges.size)

  private def fresh(): Unit = {
    Workload.delete(lake)
    new File(lake.getPath + ".__writer_lock").delete()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def setup(): Unit = {
    step("oracle")(oracle)
    for (i <- 1 to WarmPasses) step(s"warm_pass_$i") {
      fresh()
      pass.run(lake.getPath, Trace(spark, on = false))
    }
  }

  def measure(seconds: Double): Measured = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val steal = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var correct = true
    var last = (0, LakeStats(0, 0, 0))
    val notes = mutable.ArrayBuffer.empty[String]
    for (_ <- 1 to Workload.operations(seconds, nominalS = 5.0)) {
      fresh()
      val (_, wall, st) = ProcStat.during(trace.op("pass", walls.size)(pass.run(lake.getPath, trace)))
      walls += wall
      steal += st
      val verdict = oracle.check(Oracle.readLake(spark, lake.getPath))
      if (verdict.staleOps.nonEmpty || !verdict.correct) failed += 1
      correct &&= verdict.correct
      notes ++= verdict.unexplained.take(5)
      last = (verdict.lakeRows, LakeStats.of(lake))
    }
    if (trace.on) walls.indices.foreach { op =>
      trace.add("normalize.rows_out", trace.span("decode", op)(pass.decodeAll()))
    }
    Measured(walls.size, failed, pass.rows * walls.size, walls.sum, walls.toSeq, steal.toSeq,
      last._1, last._2, correct, notes.toSeq)
  }
}

/** `live`: the reference's live loop (crypto_collector.py:659–717) through
  * `LiveIngest.runAligned` with a simulated clock, so no wall-clock wait is
  * ever timed. Each due interval launches the production catch-up path
  * (`runAvailableNow` → foreachBatch → merge) over that boundary's payloads:
  * per series the newly closed candle plus a revised copy of the one
  * before, with about one Kucoin body in ten refused. One client, closed
  * loop: the next boundary fires when the previous launch has returned.
  *
  * A run times whole boundary cycles until it has made `seconds` launches
  * (about 1 s each on the reference host).
  *
  * Set-up seeds the measured lake with a backfill pass, then warms the
  * launch path with a few cycles on a copy of it. The first launch of
  * each interval revises the last backfilled candle; that input is kept on
  * purpose (see README.md) and a launch whose revision loses counts as
  * failed.
  */
final class LiveWorkload(spark: SparkSession, gen: Gen, work: File, trace: Trace)
    extends Workload {
  import Workload._
  private val lake = new File(work, "lake")
  private val oracle = new Oracle
  private var launches = 0
  private var seedRows = 0L
  private val WarmLaunches = 8

  def inputs: Map[String, Any] = Map("seed_days" -> Days, "seed_rows" -> seedRows,
    "series" -> Gen.Symbols.size * Gen.IntervalNames.size * Gen.Exchanges.size,
    "bodies_per_launch" -> Gen.Symbols.size * Gen.Exchanges.size,
    "kucoin_refused_share" -> 0.1)

  private val schema = "exchange string, symbol string, payload string"

  /** Canonical candles from payload lines, one normalizer per exchange. */
  private def candles(lines: DataFrame): DataFrame =
    Gen.Exchanges.map { ex =>
      Exchanges.all(ex)(lines.filter(col("exchange") === ex).select("payload", "symbol"))
    }.reduce(_ unionByName _)

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Bodies for one launch, with the rows each contributes (none when refused). */
  private def bodies(serial: Int, interval: String, boundaryMs: Long)
      : Seq[(String, String, String, Seq[Bar])] = {
    val step = Intervals.intervalMs(interval)
    val closed = (boundaryMs / step) * step - step
    for (sym <- Gen.Symbols; ex <- Gen.Exchanges) yield {
      val bars = Seq(gen.bar(sym, ex, interval, closed - step, 3 + 2 * serial),
        gen.bar(sym, ex, interval, closed, 2 + 2 * serial))
      val refused = ex == "kucoin" && gen.kucoinRefused(serial, sym)
      (ex, sym, Gen.body(ex, bars, refused), if (refused) Nil else bars)
    }
  }

  /** One launch: the boundary fires, its bodies arrive as one file, and
    * the catch-up run merges them. With `op` set the launch is timed and
    * checked; it returns the rows handed to the merge, the seconds from the
    * boundary firing to the commit returning, the host's steal share over
    * those seconds, and the payload file.
    */
  private def launch(root: File, lakePath: String, interval: String, boundaryMs: Long,
                     op: Option[Int]): (Long, Double, Double, File) = {
    val serial = launches; launches += 1
    val s0 = ProcStat.now()
    val t0 = System.nanoTime()
    val in = new File(root, s"in/$interval"); in.mkdirs()
    val file = new File(in, s"$serial.json")
    val bs = bodies(serial, interval, boundaryMs)
    def run(): Unit = {
      // written under a hidden name, then renamed: the file source must
      // never list a half-written file
      val tmp = new File(in, s".$serial.tmp")
      Files.write(tmp.toPath, bs.map { case (ex, sym, body, _) =>
        s"""{"exchange":"$ex","symbol":"$sym","payload":"${esc(body)}"}""" }
        .mkString("", "\n", "\n").getBytes(UTF_8))
      Files.move(tmp.toPath, file.toPath, StandardCopyOption.ATOMIC_MOVE)
      val stream = candles(spark.readStream.schema(schema).json(in.getPath))
      trace.span("catchup")(LiveIngest.runAvailableNow(spark, stream, lakePath,
        new File(root, s"ckpt/$interval").getPath, interval))
    }
    op match {
      case None => run()
      case Some(id) => trace.op("launch", id)(run())
    }
    val freshness = (System.nanoTime() - t0) / 1e9
    val steal = ProcStat.stealShare(s0, ProcStat.now(), freshness)
    if (op.nonEmpty)
      bs.foreach { case (ex, sym, _, bars) => oracle.write(serial, interval, sym, ex, bars) }
    (bs.map(_._4.size.toLong).sum, freshness, steal, file)
  }

  /** Decode one launch's file in a job of its own: the traced run's decode
    * span, run after the timed loop so that it cannot disturb it.
    */
  private def decode(f: File): Long =
    candles(spark.read.schema(schema).json(f.getPath))
      .select(count(hash(col("*")))).first().getLong(0)

  /** Aligned cycles from the horizon end until `until()` holds. */
  private def cycles(root: File, lakePath: String, until: () => Boolean)
                    (each: (String, Long) => Unit): Unit = {
    var now = HorizonEndMs + 1
    while (!until()) {
      LiveIngest.runAligned(1, Gen.IntervalNames, each, clock = () => now, sleep = ms => now += ms)
      now += 1
    }
  }

  def setup(): Unit = {
    val pass = new BackfillPass(spark, gen, Days)
    step("seed_pass")(pass.run(lake.getPath, Trace(spark, on = false)))
    pass.expect(oracle, -2)
    seedRows = pass.rows
    // warm the launch path on a copy of the seeded lake, so that every
    // launch on the measured lake is timed and checked, and the warm
    // launches list, read and rewrite a lake of the measured one's size
    val warm = new File(work, "warm")
    val warmLake = new File(warm, "lake").getPath
    Workload.copy(lake, new File(warmLake))
    cycles(warm, warmLake, () => launches >= WarmLaunches) { (iv, b) =>
      step(f"warm_launch_${launches + 1}%02d")(launch(warm, warmLake, iv, b, None)); ()
    }
    launches = 0
  }

  def measure(seconds: Double): Measured = {
    val fresh = mutable.ArrayBuffer.empty[Double]
    val steal = mutable.ArrayBuffer.empty[Double]
    val files = mutable.ArrayBuffer.empty[File]
    var rows = 0L
    val target = Workload.operations(seconds, nominalS = 1.0)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    cycles(work, lake.getPath, () => fresh.size >= target) { (iv, b) =>
      val (n, f, st, file) = launch(work, lake.getPath, iv, b, Some(fresh.size))
      rows += n
      fresh += f
      steal += st
      files += file
    }
    val wall = elapsed
    if (trace.on) files.zipWithIndex.foreach { case (f, op) =>
      trace.add("normalize.rows_out", trace.span("decode", op)(decode(f)))
    }
    val verdict = oracle.check(Oracle.readLake(spark, lake.getPath))
    val seedLost = verdict.staleOps.exists(_ < 0)
    val notes = verdict.unexplained.take(5) ++
      (if (verdict.staleOps.nonEmpty)
        Seq(s"operations ${verdict.staleOps.toSeq.sorted.mkString(",")} lost " +
          s"${verdict.staleRows} revised rows to older ingest_seq values")
      else Nil)
    Measured(fresh.size, verdict.staleOps.count(_ >= 0), rows, wall, fresh.toSeq, steal.toSeq,
      verdict.lakeRows, LakeStats.of(lake), verdict.correct && !seedLost, notes)
  }
}
