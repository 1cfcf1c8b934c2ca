package graft

/** The session confs [[Session.build]] sets for every main. */
class SessionSpec extends SparkSpec {

  test("Session.build keeps stage ids out of generated class names") {
    val key = "spark.sql.codegen.useIdInClassName"
    val before = spark.conf.getAll
    spark.conf.set(key, "true")
    // build() returns the shared session with its runtime confs applied;
    // put every conf it changed back for the suites that follow
    try assert(Session.build("graft-session-spec").conf.get(key) == "false")
    finally spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) before.get(k) match {
        case Some(old) if old != v => spark.conf.set(k, old)
        case None                  => spark.conf.unset(k)
        case _                     => ()
      }
    }
    assert(spark.conf.get(key) == before.getOrElse(key, "true"))
  }
}
