package graft

import graft.functions.{DotProduct, HyperplaneSig, NormalizeUnicode, SortedIntersectCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions as SQL functions, so `spark.sql("SELECT
  * graft_dot(a, b)")` works cluster-wide. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "graft_sorted_intersect_count"),
      (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1))))
    // graft_hyperplane_sig(vec, bits, seed) — bits/seed must be literals
    // (they parameterize the generated code / cached weight table)
    ext.injectFunction((
      new FunctionIdentifier("graft_hyperplane_sig"),
      new ExpressionInfo(classOf[HyperplaneSig].getName, "graft_hyperplane_sig"),
      (children: Seq[Expression]) => {
        def lit(e: Expression, what: String): Long = e match {
          case Literal(v: Number, _) => v.longValue()
          case other => throw new IllegalArgumentException(
            s"graft_hyperplane_sig: $what must be a literal, got $other")
        }
        HyperplaneSig(children.head, lit(children(1), "bits").toInt,
          lit(children(2), "seed"))
      }))
    // graft_normalize(s[, form]) — Unicode normalization, default NFC;
    // the form must be a string literal (it parameterizes the generated
    // code) and is validated at plan time
    ext.injectFunction((
      new FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[NormalizeUnicode].getName, "graft_normalize"),
      (children: Seq[Expression]) => {
        val form = children.lift(1).map {
          case Literal(v, _: org.apache.spark.sql.types.StringType) =>
            String.valueOf(v)
          case other => throw new IllegalArgumentException(
            s"graft_normalize: form must be a string literal, got $other")
        }.getOrElse("NFC")
        NormalizeUnicode(children.head, form)
      }))
  }
}
