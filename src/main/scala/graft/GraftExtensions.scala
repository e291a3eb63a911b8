package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions._

/** SQL-surface registration for the engine's native expressions, so
  * `spark.sql("SELECT rolling_hash(text) ...")` works alongside the
  * Column API.
  *
  * Two entry points:
  *  - config-time: `withExtensions(new GraftExtensions)` on a session
  *    builder, as [[GraftSession]] does (or
  *    `spark.sql.extensions=graft.GraftExtensions`)
  *  - runtime: [[GraftExtensions.register]] on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, arity, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == arity,
            s"$name expects $arity argument(s), got ${exprs.length}")
          builder(exprs)
        }))
    }
}

object GraftExtensions {

  private val builders: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", 1, exprs => RollingHash(exprs.head)),
    ("simhash", 1, exprs => SimHash(exprs.head)),
    ("minhash_sig", 1, exprs => MinHashSig(exprs.head)),
    ("sig_overlap", 2, exprs => SigOverlap(exprs(0), exprs(1))),
    ("word_shingles_3", 1, exprs => WordShinglesExpr(exprs.head, 3)),
    ("word_shingle_hashes_3", 1, exprs => WordShingleHashesExpr(exprs.head, 3)),
    ("hyperplane_buckets", 1, exprs => HyperplaneBuckets(exprs.head)),
    ("dot_f", 2, exprs => DotProductF(exprs(0), exprs(1))),
    ("dot_fd", 2, exprs => DotProductFD(exprs(0), exprs(1))),
    ("l2norm_f", 1, exprs => L2NormF(exprs.head)),
    ("l2norm_d", 1, exprs => L2NormD(exprs.head)),
    ("absmax_f", 1, exprs => AbsMaxF(exprs.head)),
    ("quantize_i8", 1, exprs => QuantizeI8F(exprs.head)),
    ("repetition_stats", 1, exprs => RepetitionStatsExpr(exprs.head)),
    ("space_saving_topk", 2, exprs => {
      val cap = if (exprs(1).foldable) exprs(1).eval() else null
      require(cap.isInstanceOf[Number],
        "space_saving_topk capacity must be an integer literal")
      SpaceSavingTopK(exprs(0), cap.asInstanceOf[Number].intValue)
    }),
  )

  /** Register every engine function on an already-running session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, arity, builder) =>
      ColumnBridge.registerFunction(spark, name, exprs => {
        require(exprs.length == arity,
          s"$name expects $arity argument(s), got ${exprs.length}")
        builder(exprs)
      })
    }
}
