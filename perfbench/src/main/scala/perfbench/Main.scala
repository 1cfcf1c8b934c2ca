package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import graft.Session

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * Main --workload backfill|live --seed N --seconds S --trace 0|1 --work DIR --artifact FILE
  * }}}
  *
  * Builds the program's default session, sets the workload up (warm-up
  * and seeding included), runs timed operations for S seconds, checks the
  * lake against the oracle, writes the full artifact (host, config,
  * inputs, every metric with its sample count) to FILE, and prints one
  * line per metric followed by the result JSON as the last stdout line.
  * Untraced runs report the end-to-end metrics, traced runs the per-layer
  * ledger.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpuStart = ProcStat.now()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    require(Set("backfill", "live")(workload), s"unknown workload $workload")

    val b0 = System.nanoTime()
    val spark = Session.build("perfbench")
    val buildS = (System.nanoTime() - b0) / 1e9
    if (traced) {
      // count filesystem operations: every later `file:` FileSystem is a
      // CountingFileSystem (the cache is cleared so none predates it)
      spark.sparkContext.hadoopConfiguration.set("fs.file.impl", classOf[CountingFileSystem].getName)
      org.apache.hadoop.fs.FileSystem.closeAll()
      val fs = new org.apache.hadoop.fs.Path(work.toURI).getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFileSystem], s"op counter not installed: ${fs.getClass}")
    }
    val trace = Trace(spark, traced)
    val gen = new Gen(seed)
    val wl: Workload = workload match {
      case "backfill" => new BackfillWorkload(spark, gen, work, trace)
      case "live"     => new LiveWorkload(spark, gen, work, trace)
    }
    wl.setup()
    // the timed window starts from a collected heap, so that no run times
    // the collection of its set-up's garbage
    System.gc()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val cpu0 = ProcStat.now()
    val m = wl.measure(seconds)
    val cpu1 = ProcStat.now()

    val rowsPerS = m.rowsHanded / m.wallS
    val p50 = Stats.quantile(m.freshnessS, 0.5)
    val p90 = Stats.quantile(m.freshnessS, 0.9)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("rows_per_s", rowsPerS, "rows/s"),
      Metric("freshness_p50_s", p50, "s"),
      Metric("lake_bytes_per_row", m.lake.bytes.toDouble / math.max(1, m.lakeRows), "B/row"))
    val metrics =
      if (!traced) endToEnd
      else Seq(Metric("session.build_s", buildS, "s")) ++ trace.ledger(m.rowsHanded, m.lake) ++ Seq(
        Metric("traced.rows_per_s", rowsPerS, "rows/s"),
        Metric("traced.freshness_p50_s", p50, "s"))

    val host = Host.record(spark, work, new File(work, "lake"))
    val artifact = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "host" -> host, "inputs" -> wl.inputs,
      "setup_steps_s" -> (wl.setupSteps + ("session_build" -> buildS)).toMap,
      "samples" -> Map("operations" -> m.attempted, "freshness" -> m.freshnessS.size,
        "beyond_p90" -> m.freshnessS.count(_ > p90), "setup" -> 1),
      "freshness_s" -> m.freshnessS, "timed_wall_s" -> m.wallS,
      // not an end-to-end metric: a run holds one or two samples beyond it,
      // where a percentile needs ten
      "freshness_p90_s" -> p90,
      // the host's steal time over each operation, as a share of all CPUs
      "steal_share" -> m.stealShare,
      // set-up from main() on; the timed window includes the oracle checks
      "cpu" -> Map("setup" -> (cpu0 - cpuStart).toMap(setupS),
        "timed" -> (cpu1 - cpu0).toMap(m.wallS)),
      "rows_handed" -> m.rowsHanded, "lake_rows" -> m.lakeRows,
      "lake" -> Map("dirs" -> m.lake.dirs, "files" -> m.lake.files, "bytes" -> m.lake.bytes),
      "correct" -> m.correct, "attempted" -> m.attempted, "failed" -> m.failed,
      "notes" -> m.notes,
      "spans" -> trace.spanTable().map { case (n, c, total, self) =>
        Map("name" -> n, "count" -> c, "total_s" -> total, "self_s" -> self) },
      "metrics" -> metrics.map(x => x.name -> Map("value" -> x.value, "unit" -> x.unit)).toMap)
    opts.get("artifact").foreach { f =>
      java.nio.file.Files.write(new File(f).toPath, artifact.getBytes("UTF-8"))
    }
    spark.stop()

    m.notes.foreach(n => println(s"note: $n"))
    resultLines(m.correct, m.attempted, m.failed, metrics).foreach(println)
  }

  /** The stdout report: a count line, one line per metric, and the result
    * JSON, which must stay the last line.
    */
  def resultLines(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): Seq[String] =
    Seq(s"operations attempted=$attempted failed=$failed correct=$correct") ++
      metrics.map(x => s"metric ${x.name} ${x.value} ${x.unit}") :+
      Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics.map(x => x.name -> Map("value" -> x.value, "unit" -> x.unit)).toMap)
}

object Stats {
  /** Linear-interpolated quantile (the definition numpy uses by default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.size - 1) * q
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** What the artifact records about the host and configuration. */
object Host {
  def record(spark: org.apache.spark.sql.SparkSession, work: File, lake: File): Map[String, Any] = {
    val shm = new File("/dev/shm")
    val conf = spark.conf
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "<unset>"),
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq.map(String.valueOf)
        .filter(a => a.startsWith("-X") || a.startsWith("-XX")),
      "scratch" -> Map(
        "spark_local_dir" -> conf.getOption("spark.local.dir").getOrElse("<unset>"),
        "warehouse" -> conf.getOption("spark.sql.warehouse.dir").getOrElse("<unset>"),
        "dev_shm_usable_gib" -> (if (shm.isDirectory) shm.getUsableSpace / (1L << 30) else -1L),
        "ram_gate_gib" -> 32,
        "on_ram" -> conf.getOption("spark.local.dir").exists(_.startsWith("/dev/shm"))),
      "lake_root" -> lake.getPath,
      "lake_fs" -> scala.util.Try(java.nio.file.Files.getFileStore(work.toPath).`type`()).getOrElse("?"),
      "commit_protocol" -> (if (graft.lake.ManifestLake.isManifestLake(spark, lake.getPath) ||
        conf.getOption("spark.graft.lake.commit").contains("manifest")) "manifest" else "lock"),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
  }
}

/** The artifact and the result line, written with the Jackson that ships
  * with Spark.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    .configure(com.fasterxml.jackson.databind.SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(kv.toMap)
}

/** CPU time and page faults of this process (`/proc/self/stat`) and the
  * host's steal time (`/proc/stat`), so that an artifact shows whether a
  * slow run spent its time in user code, in the kernel, or waiting for the
  * hypervisor. Linux only; elsewhere every field reads 0.
  */
final case class ProcStat(userS: Double, sysS: Double, minorFaults: Long, majorFaults: Long,
                          hostStealS: Double) {
  def -(o: ProcStat): ProcStat = ProcStat(userS - o.userS, sysS - o.sysS,
    minorFaults - o.minorFaults, majorFaults - o.majorFaults, hostStealS - o.hostStealS)
  def toMap(wallS: Double): Map[String, Any] = Map("wall_s" -> wallS, "user_s" -> userS,
    "sys_s" -> sysS, "minor_faults" -> minorFaults, "major_faults" -> majorFaults,
    "host_steal_s" -> hostStealS)
}

object ProcStat {
  private val Hz = 100.0 // USER_HZ, the unit of both files' times

  val zero: ProcStat = ProcStat(0, 0, 0, 0, 0)

  private val Cpus = Runtime.getRuntime.availableProcessors()

  /** Host steal between two readings, as a share of all CPUs' time over `wallS`. */
  def stealShare(from: ProcStat, to: ProcStat, wallS: Double): Double =
    (to.hostStealS - from.hostStealS) / (Cpus * wallS)

  /** `body`'s result, its wall seconds and the host's steal share meanwhile. */
  def during[T](body: => T): (T, Double, Double) = {
    val s0 = now()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    (r, wall, stealShare(s0, now(), wall))
  }

  def now(): ProcStat = scala.util.Try {
    def read(f: String) = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
    // the fields after the command name, which may itself hold spaces
    val self = read("/proc/self/stat")
    val f = self.substring(self.lastIndexOf(')') + 2).trim.split(" +")
    val cpu = read("/proc/stat").linesIterator.next().trim.split(" +")
    ProcStat(f(11).toLong / Hz, f(12).toLong / Hz, f(7).toLong, f(9).toLong,
      if (cpu.length > 8) cpu(8).toLong / Hz else 0.0)
  }.getOrElse(zero)
}
