package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.sql.Timestamp
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._
import graft.lake.{ManifestLake, MergeWriter, NioLocalFileSystem, NioRawLocalFileSystem}
import graft.model.Candle
import graft.streaming.LiveIngest

/** The local filesystem [[Session.build]] installs: lake commits and
  * streaming checkpoints start no `chmod` or `readlink` process, and
  * modes and link lookups come out as through Hadoop's stock classes.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1609459200000L

  /** `n` candles from `fromMs` on 15-minute steps. */
  private def candles(fromMs: Long, n: Int, close: Double): Seq[Candle] =
    (0 until n).map(k => Candle(new Timestamp(fromMs + k * 900000L), 1, 2, 0.5, close, 10,
      "BTC-USDT", "coinbase"))

  /** The command line of every process the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val file = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("lock and manifest merges and a live launch start no chmod or readlink process") {
    val dir = Files.createTempDirectory("graft_localfs").toString
    def batch(close: Double) =
      MergeWriter.withPartitionCols(candles(T0, 4, close).toDF(), "15m", "spot")
    val (lock, manifest) = (s"$dir/lock", s"$dir/manifest")
    MergeWriter.merge(spark, batch(100.0), lock, 0)
    ManifestLake.create(spark, manifest)
    MergeWriter.merge(spark, batch(100.0), manifest, 0)
    assert(ManifestLake.isManifestLake(spark, manifest) && !ManifestLake.isManifestLake(spark, lock))

    val started = processStarts {
      MergeWriter.merge(spark, batch(101.0), lock, 1)
      MergeWriter.merge(spark, batch(101.0), manifest, 1)
      implicit val sc = spark.sqlContext
      val mem = MemoryStream[Candle]
      mem.addData(candles(T0 + 86400000L, 4, 102.0))
      LiveIngest.runAvailableNow(spark, mem.toDF(), lock, s"$dir/ckpt", "15m")
    }
    val forked = started.filter(c => c.contains("chmod") || c.contains("readlink"))
    info(s"${started.size} process starts, ${forked.size} chmod/readlink")
    assert(forked.isEmpty, s"${forked.size} forks, first: ${forked.take(3).mkString("; ")}")
    assert(ManifestLake.read(spark, manifest).filter($"close" === 101.0).count() == 4)
    val lockRows = spark.read.parquet(lock)
    assert(lockRows.filter($"close" === 101.0).count() == 4)
    assert(lockRows.filter($"close" === 102.0).count() == 4)
  }

  /** `fs`, initialized outside FileSystem's cache. */
  private def init(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration); fs
  }

  /** Mode bits (sticky included) of every path under `root`, by relative path. */
  private def modes(root: NioPath): Map[String, Int] = {
    val it = Files.walk(root)
    try it.iterator().asScala.map(p =>
      root.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)).toMap
    finally it.close()
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("created files, .crc files and directories get the modes the stock classes give") {
    val root = Files.createTempDirectory("graft_localfs_modes")
    val sides = Seq(
      "raw/stock" -> init(new RawLocalFileSystem), "raw/nio" -> init(new NioRawLocalFileSystem),
      "local/stock" -> init(new LocalFileSystem), "local/nio" -> init(new NioLocalFileSystem))
    val octals = Seq("644", "600", "755", "700")
    for ((side, fs) <- sides; o <- octals) {
      val base = new Path(s"$root/$side/$o")
      fs.create(new Path(base, "created"), perm(o), false, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(base, "dir"), perm(o))
      val set = new Path(base, "set")
      fs.create(set, true).close()
      fs.setPermission(set, perm(o))
    }
    for (layer <- Seq("raw", "local")) {
      val (stock, nio) = (modes(root.resolve(s"$layer/stock")), modes(root.resolve(s"$layer/nio")))
      assert(nio.nonEmpty && nio == stock, layer)
    }
    // umask 022 leaves each of these modes as requested
    val nio = modes(root.resolve("local/nio"))
    for (o <- octals; f <- Seq("created", "dir", "set", ".set.crc"))
      assert(nio(s"$o/$f") == Integer.parseInt(o, 8), s"$o/$f")
  }

  test("a sticky-bit permission is still applied") {
    val root = Files.createTempDirectory("graft_localfs_sticky")
    val fs = init(new NioRawLocalFileSystem)
    fs.setPermission(new Path(root.toString), perm("1777"))
    assert(modes(root)("") == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus: a symlink resolves as in stock, a missing path throws FileNotFoundException") {
    val root = Files.createTempDirectory("graft_localfs_link")
    val target = Files.createFile(root.resolve("target"))
    val link = new Path(Files.createSymbolicLink(root.resolve("link"), target).toString)
    val (stock, nio) = (init(new RawLocalFileSystem), init(new NioRawLocalFileSystem))
    val (s, n) = (stock.getFileLinkStatus(link), nio.getFileLinkStatus(link))
    assert(s.isSymlink && n.isSymlink)
    assert(n.getSymlink == s.getSymlink && n.getSymlink.toUri.getPath == target.toString)
    val plain = new Path(target.toString)
    val (sp, np) = (stock.getFileLinkStatus(plain), nio.getFileLinkStatus(plain))
    assert(!np.isSymlink && np.isFile && np.getPath == sp.getPath && np.getLen == sp.getLen)
    val missing = new Path(root.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }
}
