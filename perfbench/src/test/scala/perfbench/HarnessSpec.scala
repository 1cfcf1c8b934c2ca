package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.normalize.Exchanges

/** Self-tests of the benchmark harness: the generator, the oracle and the
  * result format. Run with `sbt test` in this directory.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = graft.Session.build("perfbench-selftest")

  override def afterAll(): Unit = spark.stop()

  private val T = Workload.HorizonEndMs - Workload.DayMs

  test("the generator is deterministic per seed and differs across seeds") {
    def bodies(seed: Long) = Gen.Exchanges.map { ex =>
      Gen.body(ex, new Gen(seed).bars("BTC-USDT", ex, "1h", T, T + 6 * 3600000L, 0))
    }
    assert(bodies(7) == bodies(7))
    assert(bodies(7) != bodies(8))
    assert(new Gen(7).kucoinRefused(3, "BTC-USDT") == new Gen(7).kucoinRefused(3, "BTC-USDT"))
    val refusals = (0 until 1000).count(new Gen(7).kucoinRefused(_, "BTC-USDT"))
    assert(refusals > 50 && refusals < 150, s"about one Kucoin body in ten is refused, got $refusals/1000")
  }

  test("all five payload shapes decode through Exchanges to the oracle's rows") {
    import spark.implicits._
    val gen = new Gen(11)
    Gen.Exchanges.foreach { ex =>
      val bars = gen.bars("BTC-USDT", ex, "15m", T, T + 8 * 900000L, 2)
      val decoded = Exchanges.all(ex)(Seq((Gen.body(ex, bars), "BTC-USDT")).toDF("payload", "symbol"))
        .collect().map { r =>
          val k = Key(r.getAs[String]("symbol"), "15m", r.getAs[String]("exchange"),
            r.getAs[java.sql.Timestamp]("timestamp").getTime)
          Oracle.rowText(k, Seq("open", "high", "low", "close", "volume").map(r.getAs[Double]))
        }.toSet
      val expected = bars.map(b => Oracle.rowText(Key("BTC-USDT", "15m", ex, b.openMs), Gen.values(b))).toSet
      assert(decoded == expected, s"$ex decodes to the oracle's rows")
    }
    val refused = Gen.body("kucoin", gen.bars("BTC-USDT", "kucoin", "15m", T, T + 900000L, 0), refused = true)
    assert(Exchanges.kucoin(Seq((refused, "BTC-USDT")).toDF("payload", "symbol")).count() == 0)
  }

  test("the oracle accepts a backfilled lake and rejects a dropped row and a stale revision") {
    val dir = Files.createTempDirectory("perfbench_oracle").toFile
    val pass = new BackfillPass(spark, new Gen(5), days = 1)
    val oracle = new Oracle
    pass.expect(oracle, 0)
    pass.run(new java.io.File(dir, "lake").getPath, Trace(spark, on = false))
    val lake = Oracle.readLake(spark, new java.io.File(dir, "lake").getPath)
    val ok = oracle.check(lake)
    assert(ok.correct && ok.staleOps.isEmpty && ok.lakeRows == oracle.rows)

    val dropped = oracle.check(lake.tail)
    assert(!dropped.correct && dropped.unexplained.exists(_.startsWith("missing row")))

    // a key the re-fetch (op 1) revised, holding the matrix's (op 0) value
    val exp = oracle.expected
    val (k, _) = lake.find { case (k, _) => exp(k).op == 1 }.get
    val older = new Gen(5).bar(k.symbol, k.exchange, k.interval, k.openMs, 0)
    val stale = lake.map { case (kk, t) =>
      if (kk == k) (kk, Oracle.rowText(kk, Gen.values(older))) else (kk, t) }
    val v = oracle.check(stale)
    assert(v.correct && v.staleOps == Set(1) && v.staleRows == 1,
      "a stale revision is charged to the operation whose write lost")
    Workload.delete(dir)
  }

  test("the report prints every metric with its unit and ends with the result JSON") {
    val metrics = Seq(Metric("setup_s", 12.5, "s"), Metric("rows_per_s", 301.25, "rows/s"))
    val lines = Main.resultLines(correct = true, attempted = 3, failed = 1, metrics)
    val parsed = lines.collect { case l if l.startsWith("metric ") =>
      val Array(_, name, value, unit) = l.split(" ")
      (name, value.toDouble, unit)
    }
    assert(parsed == metrics.map(m => (m.name, m.value, m.unit)))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.last)
    assert(json.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(json.get("attempted").asInt == 3 && json.get("failed").asInt == 1)
    assert(json.get("metrics").get("rows_per_s").get("value").asDouble == 301.25)
    assert(json.get("metrics").get("setup_s").get("unit").asText == "s")
  }

  test("a run's operation count follows from its time budget alone") {
    assert(Workload.operations(15, nominalS = 1.0) == 15)
    assert(Workload.operations(15, nominalS = 5.0) == 3)
    assert(Workload.operations(1, nominalS = 5.0) == 1, "every run times at least one operation")
  }

  test("quantiles interpolate linearly") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(math.abs(Stats.quantile((1 to 11).map(_.toDouble), 0.9) - 10.0) < 1e-12)
  }
}
