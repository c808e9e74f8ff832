package graft

import graft.functions.{ArrayDotProduct, JsonKeySubset, NormalizeText}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for the engine's custom Catalyst expressions, installed
  * via the standard extensions hook: [[GraftSession]] passes it to
  * `withExtensions`; any other session can set
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * After installation the codegen'd expressions are first-class SQL
  * functions — usable from `spark.sql`, views, and any SQL-only client:
  *
  *  - `graft_dot(a, b)`          — sequential double-array dot product
  *    ([[graft.functions.ArrayDotProduct]]);
  *  - `graft_normalize(text)`    — single-pass fingerprint normalization
  *    ([[graft.functions.NormalizeText]]);
  *  - `graft_json_subset(json, 'k1', 'k2', …)` — JSON key-subset
  *    projection, the reference's `filter` param
  *    ([[graft.functions.JsonKeySubset]]; sse.py:233-237).
  *
  * Key names must be foldable string literals — the projection is
  * compiled into the expression (same contract as the reference's
  * fixed-per-connection filter list).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def literalKeys(name: String, args: Seq[Expression]): Seq[String] =
    args.map {
      case l: Literal if l.foldable && l.value.isInstanceOf[UTF8String] =>
        l.value.asInstanceOf[UTF8String].toString
      case other => throw new IllegalArgumentException(
        s"$name: key arguments must be string literals, got $other")
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Optimizer rule: naive interval joins → bin-bucketed equi-joins
    // (graft.plans.RangeJoinRewrite doc). Off until
    // spark.graft.rangeJoin.binWidth is set > 0.
    ext.injectOptimizerRule(graft.plans.RangeJoinRewrite(_))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - dot product of two array<double> (left-to-right fold)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot takes exactly 2 arguments")
        ArrayDotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      info("graft_normalize", "graft_normalize(text) - lowercase, strip non-[a-z0-9 ], collapse spaces, trim"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_normalize takes exactly 1 argument")
        NormalizeText(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_json_subset"),
      info("graft_json_subset", "graft_json_subset(json, key...) - keep only the named top-level keys"),
      (args: Seq[Expression]) => {
        require(args.length >= 2, "graft_json_subset takes a json column and at least one key")
        JsonKeySubset(args.head, literalKeys("graft_json_subset", args.tail))
      }))
  }
}
