package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{FileContext, Path}
import graft.lake.{NioLocalFileSystem, NioLocalFs}

/** The session confs [[Session.build]] sets for every main. */
class SessionSpec extends SparkSpec {

  /** The value `key` reads on the session [[Session.build]] returns,
    * after setting it to `value` on the shared session. build() returns
    * the shared session with its runtime confs applied; every conf it
    * changed is put back for the suites that follow.
    */
  private def builtAfterSetting(key: String, value: String = "true"): String = {
    val before = spark.conf.getAll
    spark.conf.set(key, value)
    try Session.build("graft-session-spec").conf.get(key)
    finally spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) before.get(k) match {
        case Some(old) if old != v => spark.conf.set(k, old)
        case None                  => spark.conf.unset(k)
        case _                     => ()
      }
    }
  }

  test("Session.build keeps stage ids out of generated class names") {
    val key = "spark.sql.codegen.useIdInClassName"
    assert(builtAfterSetting(key) == "false")
    assert(spark.conf.get(key) == "false")
  }

  test("Session.build gives every session the executor's default classloader") {
    // artifact isolation on would give each (cloned) session its own
    // executor classloader, and with it an empty share of the codegen cache
    val key = "spark.sql.artifact.isolation.enabled"
    assert(builtAfterSetting(key) == "false")
    assert(SparkSpec.session.conf.get(key) == "false", "SparkSpec.session must mirror it")
  }

  test("Session.build installs the forkless local filesystem for FileSystem and FileContext") {
    for ((key, cls) <- Seq(
        "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem],
        "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs])) {
      assert(builtAfterSetting(key, "org.apache.hadoop.fs.LocalFileSystem") == cls.getName)
      assert(SparkSpec.session.conf.get(key) == cls.getName, "SparkSpec.session must mirror it")
    }
    // FileSystem's cache ignores the conf, so a stock `file` instance
    // created before the session would be the one every write gets
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("graft_session_fs").toString
    val fs = new Path(dir).getFileSystem(hadoopConf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    val afs = FileContext.getFileContext(hadoopConf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }
}
