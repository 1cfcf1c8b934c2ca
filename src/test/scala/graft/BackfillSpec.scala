package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.lake.{ManifestLake, MergeWriter}
import graft.normalize.Exchanges
import graft.streaming.Backfill

/** End-to-end backfill over fixture payloads (SURVEY.md §5.4): plan
  * chunks → "fetch" coinbase-shaped JSON → normalize → merged lake;
  * re-ingest must be byte-identical (idempotence).
  */
class BackfillSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1609459200000L // 2021-01-01
  private val HourMs = 3600000L

  /** Fixture "exchange": returns a coinbase-shaped payload with one 1h
    * candle per hour in the window, deterministic values.
    */
  private def fixtureFetch(c: Backfill.Chunk): DataFrame = {
    val candles = (c.startMs until c.endMs by HourMs).map { t =>
      val base = (t / HourMs) % 1000
      s"[${t / 1000}, ${base - 1}.0, ${base + 1}.0, $base.0, $base.5, 42.0]"
    }
    Seq((s"[${candles.mkString(",")}]", c.symbol)).toDF("payload", "symbol")
      .transform(Exchanges.coinbase)
  }

  test("plan × fixture fetch × merge: full horizon lands, idempotently") {
    val lake = Files.createTempDirectory("graft_backfill").toString + "/lake"
    val horizonDays = 3
    val chunks = Backfill.plan(Seq("BTC-USDT"), Seq("1h"),
      T0, T0 + horizonDays * 86400000L)
    // 1h → chunkDays 12 → 3-day horizon = 1 chunk
    assert(chunks.length == 1)

    Backfill.run(spark, chunks, fixtureFetch, lake, ingestSeq = 1)
    val out = spark.read.parquet(lake)
    assert(out.count() == horizonDays * 24)
    // partition pruning works: one date directory per day
    val dates = out.select($"date").distinct().as[String].collect().sorted
    assert(dates.toSeq == Seq("20210101", "20210102", "20210103"))

    // re-run the same backfill: nothing changes (restart story)
    Backfill.run(spark, chunks, fixtureFetch, lake, ingestSeq = 2)
    val again = spark.read.parquet(lake)
    assert(again.count() == horizonDays * 24)
    // values survived: spot-check one candle
    val c0 = again.filter($"timestamp" === lit(new java.sql.Timestamp(T0))).collect()(0)
    assert(c0.getAs[Double]("volume") == 42.0)
    assert(c0.getAs[String]("exchange") == "coinbase")
  }

  test("multi-interval plan lands every interval in one merge") {
    val lake = Files.createTempDirectory("graft_backfill2").toString + "/lake"
    val chunks = Backfill.plan(Seq("BTC-USDT"), Seq("1h", "1d"), T0, T0 + 86400000L)
    Backfill.run(spark, chunks, fixtureFetch, lake, ingestSeq = 1)
    val out = spark.read.parquet(lake)
    val byInterval = out.groupBy($"interval").count()
      .as[(String, Long)].collect().toMap
    assert(byInterval("1h") == 24)
    assert(byInterval("1d") == 24) // fixture emits hourly rows regardless
  }

  private val DayMs = 86400000L

  test("per-symbol start times drive each symbol's chunk plan") {
    val chunks = Backfill.planPerSymbol(
      Seq("BTC-USDT", "ETH-USDT"), Seq("1h"),
      symbolStartMs = Map("BTC-USDT" -> (T0 - 2 * DayMs)),
      endMs = T0 + DayMs, defaultStartMs = T0)
    val bySym = chunks.groupBy(_.symbol)
    assert(bySym("BTC-USDT").map(_.startMs).min == T0 - 2 * DayMs)
    assert(bySym("ETH-USDT").map(_.startMs).min == T0)
    // each symbol's windows cover its own horizon exactly
    bySym.foreach { case (_, cs) =>
      val sorted = cs.sortBy(_.startMs)
      assert(sorted.last.endMs == T0 + DayMs)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a.endMs == b.startMs)
        case _         => ()
      }
    }
  }

  test("availability clamp skips or truncates pre-cutoff windows") {
    val cut = 1577836800000L // 2020-01-01, the BinanceUS BTC-USDT listing
    // whole window before the listing → skip (reference's `continue`)
    assert(Backfill.clampWindow("binanceus", "BTC-USDT", cut - 2000, cut - 1000).isEmpty)
    // straddling window → start raised to the cutoff
    assert(Backfill.clampWindow("binanceus", "BTC-USDT", cut - 1000, cut + 1000)
      .contains((cut, cut + 1000)))
    // other symbols / other exchanges untouched
    assert(Backfill.clampWindow("binanceus", "ETH-USDT", cut - 1000, cut + 1000)
      .contains((cut - 1000, cut + 1000)))
    assert(Backfill.clampWindow("coinbase", "BTC-USDT", cut - 1000, cut + 1000)
      .contains((cut - 1000, cut + 1000)))
  }

  /** Canonical-candle fixture for the fan-out path: one hourly candle per
    * window hour, tagged with the fetching exchange.
    */
  private def canonFetch(c: Backfill.Chunk, ex: String): DataFrame = {
    val rows = (c.startMs until c.endMs by HourMs).map { t =>
      (new java.sql.Timestamp(t), 1.0, 2.0, 0.5, 1.5, 42.0, c.symbol, ex)
    }
    rows.toDF("timestamp", "open", "high", "low", "close", "volume", "symbol", "exchange")
  }

  test("fan-out run: one chunk lands rows tagged with all five exchanges") {
    val lake = Files.createTempDirectory("graft_fanout").toString + "/lake"
    val exchanges = Seq("coinbase", "bitstamp", "bitfinex", "kucoin", "binanceus")
    val chunks = Backfill.plan(Seq("BTC-USDT"), Seq("1h"), T0, T0 + DayMs)
    Backfill.runFanOut(spark, chunks, exchanges, canonFetch, lake, ingestSeq = 1)
    val out = spark.read.parquet(lake)
    assert(out.select($"exchange").distinct().as[String].collect().sorted.toSeq
      == exchanges.sorted)
    assert(out.count() == 24 * 5)
  }

  test("derivatives/options surface: canonical schema, declared-but-empty like the reference") {
    val der = Backfill.collectDerivatives(spark, "BTC-USDT", "1h", T0, T0 + DayMs)
    val opt = Backfill.collectOptions(spark, "BTC-USDT", T0, T0 + DayMs)
    assert(der.schema == graft.sources.CandleSource.Schema)
    assert(opt.schema == graft.sources.CandleSource.Schema)
    assert(der.isEmpty && opt.isEmpty)
    // the data_type partition tagging composes: a perpetual lake write is
    // schema-valid even while every venue returns empty
    val tagged = graft.lake.MergeWriter.withPartitionCols(der, "1h", "perpetual")
    assert(tagged.columns.contains("data_type") && tagged.isEmpty)
  }

  test("fan-out applies the BinanceUS clamp: pre-2020 hours missing there only") {
    val lake = Files.createTempDirectory("graft_fanout2").toString + "/lake"
    val cut = 1577836800000L
    // window straddles the listing by 6 hours on each side
    val chunks = Seq(Backfill.Chunk("BTC-USDT", "1h", cut - 6 * HourMs, cut + 6 * HourMs))
    Backfill.runFanOut(spark, chunks, Seq("coinbase", "binanceus"), canonFetch,
      lake, ingestSeq = 1)
    val out = spark.read.parquet(lake)
    val counts = out.groupBy($"exchange").count().as[(String, Long)].collect().toMap
    assert(counts("coinbase") == 12, "unclamped venue covers the full window")
    assert(counts("binanceus") == 6, "clamped venue starts at the 2020 listing")
    val minBinance = out.filter($"exchange" === "binanceus")
      .select(min(unix_micros($"timestamp") / 1000)).as[Double].collect()(0).toLong
    assert(minBinance == cut)
  }

  /** Write commands (`InsertIntoHadoopFsRelationCommand`) into `lake` run
    * inside `body`; the path filter ignores late events of earlier writes.
    */
  private def writeCommands(lake: String)(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical match {
          case w: InsertIntoHadoopFsRelationCommand
              if w.outputPath.toUri.getPath.startsWith(lake) => n.incrementAndGet()
          case _ => ()
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; Thread.sleep(1500) /* drain the async listener bus */ }
    finally spark.listenerManager.unregister(listener)
    n.get()
  }

  /** `canonFetch` with prices that depend on the fetch's revision. */
  private def revFetch(rev: Int)(c: Backfill.Chunk, ex: String): DataFrame =
    canonFetch(c, ex).withColumn("close", lit(1.5 + rev))

  private def sortedLake(path: String): Seq[org.apache.spark.sql.Row] = {
    val df = MergeWriter.readLake(spark, path)
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).orderBy(cols.map(col).toIndexedSeq: _*)
      .collect().toSeq
  }

  Seq("lock", "manifest").foreach { protocol =>
    test(s"fan-out is one write per call and equals per-interval merges ($protocol path)") {
      val root = Files.createTempDirectory("graft_fanout_once").toString
      val exchanges = Seq("coinbase", "binanceus")
      val intervals = Seq("1h", "1d")
      val horizon = Backfill.plan(Seq("BTC-USDT", "ETH-USDT"), intervals, T0, T0 + 2 * DayMs)
      // the newest day re-fetched with revisions, then the first day again
      // at a LOWER seq: the later call must lose wherever they overlap
      val calls = Seq(
        (horizon, 0, 2L),
        (Backfill.plan(Seq("BTC-USDT", "ETH-USDT"), intervals, T0 + DayMs, T0 + 2 * DayMs), 1, 3L),
        (Backfill.plan(Seq("BTC-USDT"), intervals, T0, T0 + DayMs), 2, 1L))
      // reference lake: one merge per interval group
      def perInterval(lake: String, chunks: Seq[Backfill.Chunk], rev: Int, seq: Long): Unit =
        chunks.groupBy(_.interval).foreach { case (iv, cs) =>
          val frames = for (c <- cs; ex <- exchanges) yield revFetch(rev)(c, ex)
          MergeWriter.merge(spark,
            MergeWriter.withPartitionCols(frames.reduce(_ unionByName _), iv, "spot"), lake, seq)
        }
      val once = s"$root/once"
      val reference = s"$root/reference"
      if (protocol == "manifest") Seq(once, reference).foreach(ManifestLake.create(spark, _))
      calls.foreach { case (chunks, rev, seq) =>
        val writes = writeCommands(once)(
          Backfill.runFanOut(spark, chunks, exchanges, revFetch(rev), once, ingestSeq = seq))
        assert(writes == 1, s"runFanOut at seq $seq ran $writes write commands")
        perInterval(reference, chunks, rev, seq)
      }
      assert(ManifestLake.isManifestLake(spark, once) == (protocol == "manifest"))
      val got = sortedLake(once)
      assert(got.size == 2 * 2 * 2 * 48, "symbols × exchanges × intervals × hours")
      assert(got == sortedLake(reference))
      val seqs = MergeWriter.readLake(spark, once).groupBy($"date").agg(max($"ingest_seq"))
        .as[(String, Long)].collect().toMap
      assert(seqs == Map("20210101" -> 2L, "20210102" -> 3L))
    }
  }

  test("a lake made by ManifestLake.create commits manifest versions; a fresh sibling stays on the lock path") {
    val root = Files.createTempDirectory("graft_fanout_create").toString
    val (manifest, plain) = (s"$root/manifest", s"$root/plain")
    ManifestLake.create(spark, manifest)
    val exchanges = Seq("coinbase", "binanceus")
    val chunks = Backfill.plan(Seq("BTC-USDT"), Seq("1h"), T0, T0 + DayMs)
    for (seq <- 1L to 2L; lake <- Seq(manifest, plain))
      Backfill.runFanOut(spark, chunks, exchanges, revFetch(seq.toInt), lake, ingestSeq = seq)
    assert(ManifestLake.latestVersion(spark, manifest) == 2L)
    assert(ManifestLake.read(spark, manifest).filter($"close" =!= 3.5).isEmpty,
      "the second pass must win on the manifest lake")
    assert(!new java.io.File(s"$plain/_manifest").exists(),
      "a lake the session did not create as a manifest lake takes the lock path")
    assert(sortedLake(plain) == sortedLake(manifest))
  }

  /** One exchange's response body for hourly candles over `c`'s window. */
  private def payload(ex: String, c: Backfill.Chunk): String = {
    def q(v: Any) = "\"" + v + "\""
    val ts = c.startMs until c.endMs by HourMs
    ex match {
      case "coinbase" => ts.map(t => s"[${t / 1000},1.0,2.0,1.5,1.6,42.0]").mkString("[", ",", "]")
      case "bitstamp" => ts.map(t => s"""{"timestamp":${q(t / 1000)},"open":"1.5",""" +
          """"high":"2.0","low":"1.0","close":"1.6","volume":"42.0"}""")
        .mkString("""{"data":{"ohlc":[""", ",", "]}}")
      case "bitfinex" => ts.map(t => s"[$t,1.5,1.6,2.0,1.0,42.0]").mkString("[", ",", "]")
      case "kucoin" => ts.map(t => Seq(t / 1000, "1.5", "1.6", "2.0", "1.0", "42.0", 0).map(q)
          .mkString("[", ",", "]")).mkString("""{"code":"200000","data":[""", ",", "]}")
      case "binanceus" => ts.map(t => s"""[$t,"1.5","2.0","1.0","1.6","42.0",${t + 59999},""" +
          """"0",1,"0","0","0"]""").mkString("[", ",", "]")
    }
  }

  test("a wide fan-out compiles its union branches once per normalizer, then never again") {
    val root = Files.createTempDirectory("graft_fanout_codegen").toString
    val exchanges = Seq("coinbase", "bitstamp", "bitfinex", "kucoin", "binanceus")
    // six symbols, the width of the reference's matrix: 150 union branches
    val chunks = Backfill.plan(
      Seq("BTC-USDT", "ETH-USDT", "SOL-USDT", "XRP-USDT", "ADA-USDT", "DOGE-USDT"),
      graft.normalize.Intervals.All, T0, T0 + DayMs)
    def fetch(c: Backfill.Chunk, ex: String): DataFrame =
      Exchanges.all(ex)(Seq((payload(ex, c), c.symbol)).toDF("payload", "symbol"))
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    // the same call twice, each into an empty lake like a benchmark pass
    def call(lake: String): Long =
      compiles(Backfill.runFanOut(spark, chunks, exchanges, fetch, lake, ingestSeq = 1))
    val first = call(s"$root/first")
    val second = call(s"$root/second")
    info(s"compiles: first call $first, second call $second")
    assert(second <= 5, s"the second call compiled $second classes")
    assert(sortedLake(s"$root/second") == sortedLake(s"$root/first"))
    assert(MergeWriter.readLake(spark, s"$root/second").count() == 6 * 5 * 5 * 24)
  }
}
