package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One lake commit protocol, opened on one lake for one rewriting verb
  * ([[KeyedMerge]]'s merges, [[Eraser]]'s erasure). Each protocol reads
  * the touched partitions' existing rows one way and replaces them one
  * way:
  *
  *  - lock path ([[MergeWriter]]): the touched partition directories
  *    that exist, scanned with the lake root as `basePath` and cut from
  *    their files by a `localCheckpoint`; the replace is a dynamic
  *    partition overwrite. The whole span holds the single-writer lock.
  *  - manifest path ([[ManifestLake]]): the touched entries of one
  *    resolved snapshot; the replace is a private txn directory plus the
  *    manifest CAS against that snapshot's version.
  *
  * [[open]] picks the protocol from the lake's layout.
  */
private[lake] trait Rewrite {

  /** The partition columns, in directory order. */
  def keys: Seq[String]

  /** The lake's tracked schema, if it records one. */
  def schema: Option[StructType]

  /** False only for a lock lake that does not exist yet: there is
    * nothing to read, so a merge skips its touched-key pass.
    */
  def collectsTouched: Boolean

  /** Whether commit tag `tag` is already committed (a redelivered batch,
    * which a merge turns into a no-op). The lock path records no tags.
    */
  def redelivered(tag: String): Boolean

  /** The existing rows of the `touched` partitions (values in [[keys]]
    * order), read through `schema` (see [[Rewrite.scan]]); None when
    * none of them exists.
    */
  def read(touched: Seq[Seq[String]], schema: Option[StructType]): Option[DataFrame]

  /** Replace the `touched` partitions with `rows`; a touched partition
    * `rows` holds no row for is removed. `mayEmpty = false` says none
    * can be (a merge: its touched partitions are its batch's, and a key
    * never changes partition), which spares the lock path the job that
    * finds them. `schema`, when given, becomes the lake's tracked
    * schema; `headers` ride a manifest commit (the lock path has none).
    */
  def replace(rows: DataFrame, touched: Seq[Seq[String]], mayEmpty: Boolean,
              schema: Option[StructType] = None,
              headers: Seq[(String, String)] = Nil): Unit
}

private[lake] object Rewrite {

  /** Run `body` over the commit protocol that `path`'s layout names: a
    * `_manifest` directory makes it a manifest lake, anything else (an
    * absent path included) a lock lake.
    */
  def open[A](spark: SparkSession, path: String, keys: Seq[String])(body: Rewrite => A): A =
    if (ManifestLake.isManifestLake(spark, path)) body(ManifestLake.snapshot(spark, path, keys))
    else MergeWriter.locked(spark, path, keys)(body)

  /** One scan of partition directories (or files) `paths` under `base`,
    * whose `k=v` names give the partition columns. Through `schema` when
    * the lake tracks one: files that predate an evolved column surface it
    * as null. A schemaless lake infers from footers through a CLONED
    * session with partition type inference off (`spark.newSession()`
    * isolates SQLConf, so no concurrent read in the caller's session sees
    * the flip): partition values stay the strings their directory names
    * hold, where inference would type an all-digit key as int.
    */
  def scan(spark: SparkSession, base: String, paths: Seq[String],
           schema: Option[StructType]): DataFrame = {
    val sc = schema.getOrElse {
      val probe = spark.newSession()
      probe.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      probe.read.option("basePath", base).parquet(paths: _*).schema
    }
    spark.read.schema(sc).option("basePath", base).parquet(paths: _*)
  }
}
