package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Literal, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Injected optimizer rule: rewrite `size(split(s, ' '))` — the token
  * counter all over the text-statistics entries — into the fused
  * [[WordCount]] codegen expression.
  *
  * The built-in shape regex-splits the string, allocates the segment
  * array, and then only reads its length; the fused form is one byte scan
  * (see [[WordCount]]'s scaladoc for the exact-semantics proof, which is
  * what licenses this rewrite under the bit-exact oracle contract). Only
  * the precise pattern is touched: literal single-space separator,
  * default -1 limit, non-legacy size-of-null (legacy mode returns -1 on
  * null where WordCount returns null — that variant is left alone).
  *
  * Appended to a session's `experimental.extraOptimizations` by
  * [[GraftFunctions.register]], together with the graft functions.
  */
object FuseWordCount extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(StringSplit(str, Literal(sep: UTF8String, _: StringType),
                            Literal(-1, _)), false)
          if sep.toString == " " && str.dataType.isInstanceOf[StringType] =>
        WordCount(str)
    }
}
