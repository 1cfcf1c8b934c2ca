package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Readers for the driver test tables (`TESTDATA.md`).
  *
  * Plain `spark.read.parquet` so Catalyst's vectorized Parquet scan,
  * predicate pushdown, and column pruning apply untouched. At 100 TB these
  * tables would be Hive-partitioned / bucketed; the reader stays identical —
  * partition pruning keys off the directory layout, not this code.
  */
object Tables {
  /** Inferred-schema memo, keyed by (path, length, modification time).
    * Every `spark.read.parquet` call pays a driver-side footer read for
    * schema inference; a bench or verify run resolves the same nine
    * immutable test tables hundreds of times, so the first resolution of
    * a file caches the inferred schema and later reads supply it
    * explicitly (identical StructType — the memo stores exactly what
    * inference produced). A file rewritten at the same path changes its
    * length or mtime, so it is inferred afresh rather than read through a
    * stale schema. Pure plan-time metadata: no data or results are cached.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing table falls through to the reader's own not-found error
    val key = try {
      val st = fs.getFileStatus(hPath)
      Some((path, st.getLen, st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }
    key.flatMap(k => Option(schemaMemo.get(k))) match {
      case Some(cached) => spark.read.schema(cached).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(schemaMemo.putIfAbsent(_, df.schema))
        df
    }
  }

  /** `events` with `ts` restored to TimestampType (µs). `events.ts` is
    * parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
    * (PARQUET_TYPE_ILLEGAL) unless the session sets
    * `spark.sql.legacy.parquet.nanosAsLong` ([[graft.Session]] does);
    * the nanos column then arrives as LongType; `DIV 1000` is exact integer
    * math (a double-division round trip would lose precision past 2^53).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => raw
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
