package graft

/** The session confs [[Session.build]] sets for every main. */
class SessionSpec extends SparkSpec {

  /** The value `key` reads on the session [[Session.build]] returns,
    * after setting it to `true` on the shared session. build() returns
    * the shared session with its runtime confs applied; every conf it
    * changed is put back for the suites that follow.
    */
  private def builtAfterSettingTrue(key: String): String = {
    val before = spark.conf.getAll
    spark.conf.set(key, "true")
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
    assert(builtAfterSettingTrue(key) == "false")
    assert(spark.conf.get(key) == "false")
  }

  test("Session.build gives every session the executor's default classloader") {
    // artifact isolation on would give each (cloned) session its own
    // executor classloader, and with it an empty share of the codegen cache
    val key = "spark.sql.artifact.isolation.enabled"
    assert(builtAfterSettingTrue(key) == "false")
    assert(SparkSpec.session.conf.get(key) == "false", "SparkSpec.session must mirror it")
  }
}
