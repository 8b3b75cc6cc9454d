package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, ExpressionInfo, Literal}

import graft.functions.{BpeTokenCount, BpeishTokenCount, ClassifyScore, FloatVectorDot, LangId, LshBucket, ProjectedDist, QualityStats, ShingleHashes, SimHash64, WordHashes, WsTokenCount}

/**
 * Spark extension point: registers the engine's native expressions as
 * SQL functions, so `spark.sql("SELECT vec_dot(a, b) ...")` works, and
 * injects [[EvalKernelsOnce]], which evaluates a repeated kernel call
 * once per row. `META-INF/services` names this class as a
 * SparkSessionExtensionsProvider, so every SparkSession the builder
 * creates with graft on its classpath loads it; no session opts in.
 */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPreCBORule(_ => EvalKernelsOnce)
    def fn(name: String, kernel: Class[_])(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(kernel.getName, name), build))
    fn("vec_dot", classOf[FloatVectorDot])(a => FloatVectorDot(a(0), a(1)))
    fn("simhash64", classOf[SimHash64])(a => SimHash64(a.head))
    fn("projected_dist", classOf[ProjectedDist])(ProjectedDist(_))
    fn("ws_token_count", classOf[WsTokenCount])(a => WsTokenCount(a.head))
    fn("bpeish_token_count", classOf[BpeishTokenCount])(a => BpeishTokenCount(a.head))
    fn("bpe_token_count", classOf[BpeTokenCount])(a => BpeTokenCount(a.head))
    // coalesce to 'und' so SQL callers get the same null contract as the
    // Scala path (TextAnalyticsOps.langId: null text -> 'und')
    fn("lang_id", classOf[LangId])(a => Coalesce(Seq(LangId(a.head), Literal("und"))))
    fn("quality_stats", classOf[QualityStats])(a => QualityStats(a.head))
    // int-literal second arguments (n / bits / portable flag)
    fn("shingle_hashes", classOf[ShingleHashes])(a =>
      ShingleHashes(a.head, intArg(a, 1, "n")))
    fn("lsh_bucket", classOf[LshBucket])(a => LshBucket(a.head, intArg(a, 1, "bits")))
    fn("word_hashes", classOf[WordHashes])(a =>
      WordHashes(a.head, boolArg(a, 1, "portable")))
    fn("classify_score", classOf[ClassifyScore])(a => ClassifyScore(a.head))
  }

  private def intArg(args: Seq[Expression], i: Int, name: String): Int =
    args(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"argument $name must be an integer literal, got $other")
    }

  private def boolArg(args: Seq[Expression], i: Int, name: String): Boolean =
    args(i) match {
      case Literal(v: Boolean, _) => v
      case other => throw new IllegalArgumentException(
        s"argument $name must be a boolean literal, got $other")
    }
}
