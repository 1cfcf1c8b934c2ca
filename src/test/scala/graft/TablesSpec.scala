package graft

import java.nio.file.{Files, StandardCopyOption}
import graft.sources.Tables

/** [[Tables.table]]'s inferred-schema memo must follow the file, not
  * just its path.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Write `df` as one parquet file at `$dir/$name.parquet`, the layout
    * of the generated test tables. */
  private def putTable(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
    val staging = Files.createTempDirectory("graft_tables_stage").toString + "/t"
    df.coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, new java.io.File(s"$dir/$name.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a table rewritten at the same path with a different schema reads the new schema") {
    val dir = Files.createTempDirectory("graft_tables").toString
    putTable(Seq((1L, "a")).toDF("id", "name"), dir, "t")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    // the memo now holds the first schema; regenerate the file in place
    putTable(Seq((2L, 3.5, true)).toDF("id", "score", "flag"), dir, "t")
    val reread = Tables.table(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("id", "score", "flag"))
    assert(reread.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 3.5, true)))
  }
}
