package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftFunctionBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSim, Md5Pair, RollingHash}

/** SQL registration for the library's native Catalyst kernels, so a
  * `bdt query` user reaches them from PLAIN SQL — not just the Column API.
  * Two paths, same builders:
  *
  *  - `spark.sql.extensions=graft.GraftExtensions` (or
  *    `.withExtensions(new GraftExtensions)`) at session build time — the
  *    production deployment shape; every [[LocalSession]] uses it.
  *  - [[GraftExtensions.register]] on an ALREADY-built session — for hosts
  *    that hand us their session (the driver's own harness does), where
  *    extensions can no longer be injected.
  *
  * Only kernels with SQL-expressible signatures are exposed; SignLshBucket
  * carries a plane matrix and MinHashSignatureAgg a config payload, so they
  * stay Column-API constructors.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
}

object GraftExtensions {
  private def fn(
      name: String, usage: String)(
      builder: Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
    builder)

  /** Wrong arity surfaces as the same categorized AnalysisException every
    * built-in raises (WRONG_NUM_ARGS, SQLSTATE 42605) — a raw require()
    * would leak an uncategorized IllegalArgumentException past callers that
    * catch AnalysisException to report SQL errors.
    */
  private def checkArity(
      name: String, expected: Int, args: Seq[Expression]): Unit =
    if (args.length != expected)
      throw new org.apache.spark.sql.AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> expected.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"),
        None)

  private[graft] val functions: Seq[
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays") { args =>
      checkArity("cosine_sim", 2, args)
      CosineSim(args.head, args(1))
    },
    fn("md5_pair", "md5_pair(s) - the two 32-bit halves of md5(s) as array<bigint>") { args =>
      checkArity("md5_pair", 1, args)
      Md5Pair(args.head)
    },
    fn("rolling_hash", "rolling_hash(s) - polynomial rolling hash of a string") { args =>
      checkArity("rolling_hash", 1, args)
      RollingHash(args.head)
    })

  /** Register the same functions on an existing session (idempotent —
    * re-registration overwrites with identical builders).
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      GraftFunctionBridge.register(spark, id, info, builder)
    }
}
