package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{BloomContains, CollectCapped, CosineSim, FxpDot, MinHashSig, OrderedShingleHashes, PolyHash, PolyShingleHashes, ShingleHashes, SimHashSig, SortedIntersectCount, SortedTfMinSum, SrpBucket, TokenHashes, TokenTfEnc, WinnowFps, ZInterleave, ZInterleaveN}

/** SparkSessionExtensions wiring for graft's custom Catalyst surface
  * (the codegen'd expressions of `graft.functions` as SQL functions, one
  * table below; the injection point generalizes to optimizer `Rule`s /
  * `SparkStrategy`s — SURVEY.md §4 concluded none are needed for
  * reference parity, so none are injected).
  *
  * Activate with `spark.sql.extensions=graft.plans.GraftExtensions`
  * ([[graft.Session.build]] does), or call [[GraftExtensions.register]]
  * on an existing session (used by queries so they work under any
  * driver-provided session too).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** Argument `i` of `fn`, which must be an integer literal: these
    * arguments shape generated loops or size aggregation buffers, so a
    * runtime column makes no sense there. An absent argument takes
    * `default`; without one it is an error too.
    */
  private def intArg(fn: String, name: String, default: Option[Int])
                    (children: Seq[Expression], i: Int): Int =
    children.lift(i) match {
      case Some(Literal(v: Int, IntegerType)) => v
      case None if default.isDefined => default.get
      case arg => throw new IllegalArgumentException(
        s"$fn: $name must be an integer literal, got ${if (default.isDefined) arg.get else arg}")
    }

  private def describe(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private val descriptors = Seq(
    describe("cosine_sim", classOf[CosineSim])(c => CosineSim(c(0), c(1))),
    describe("srp_bucket", classOf[SrpBucket])(c => SrpBucket(c.head,
      intArg("srp_bucket", "planes", Some(graft.operators.AnnLsh.DefaultPlanes))(c, 1))),
    describe("minhash_sig", classOf[MinHashSig])(c => MinHashSig(c.head,
      intArg("minhash_sig", "k", Some(graft.operators.MinHashLsh.K))(c, 1))),
    describe("simhash_sig", classOf[SimHashSig])(c => SimHashSig(c.head)),
    describe("shingle_hashes", classOf[ShingleHashes])(c => ShingleHashes(c.head,
      intArg("shingle_hashes", "w", Some(3))(c, 1))),
    describe("poly_shingle_hashes", classOf[PolyShingleHashes])(c => PolyShingleHashes(c.head,
      intArg("poly_shingle_hashes", "w", Some(3))(c, 1))),
    describe("ordered_shingle_hashes", classOf[OrderedShingleHashes])(c => OrderedShingleHashes(c.head,
      intArg("ordered_shingle_hashes", "w", Some(3))(c, 1))),
    describe("token_hashes", classOf[TokenHashes])(c => TokenHashes(c.head)),
    describe("fxp_dot", classOf[FxpDot])(c => FxpDot(c.head, c(1))),
    describe("collect_capped", classOf[CollectCapped])(c => CollectCapped(c.head,
      intArg("collect_capped", "cap", None)(c, 1))),
    describe("winnow_fps", classOf[WinnowFps])(c => WinnowFps(c.head,
      intArg("winnow_fps", "k", Some(8))(c, 1), intArg("winnow_fps", "w", Some(4))(c, 2))),
    describe("bloom_contains", classOf[BloomContains])(c => BloomContains(c.head, c(1))),
    describe("sorted_intersect_count", classOf[SortedIntersectCount])(c =>
      SortedIntersectCount(c.head, c(1))),
    describe("token_tf_enc", classOf[TokenTfEnc])(c => TokenTfEnc(c.head)),
    describe("sorted_tf_minsum", classOf[SortedTfMinSum])(c => SortedTfMinSum(c.head, c(1))),
    describe("z_interleave16", classOf[ZInterleave])(c => ZInterleave(c(0), c(1))),
    describe("poly_hash", classOf[PolyHash])(c => PolyHash(c.head)),
    describe("z_interleave_n", classOf[ZInterleaveN])(c => ZInterleaveN(c)))

  /** Idempotently register graft functions on an already-built session. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
