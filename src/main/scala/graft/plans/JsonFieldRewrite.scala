package graft.plans

import graft.functions.{JsonField, JsonFieldKernel}
import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `get_json_object(c, '$.name')` → [[graft.functions.JsonField]] when the
  * path is one literal root field (`$.name` or `$['name']`, as Spark's path
  * parser reads it) and `c` is a plain `StringType`. A collated input, a
  * deeper or wildcard path and a non-literal path keep Spark's expression.
  * Installed by [[GraftExtensions]]; Spark's
  * `spark.sql.optimizer.excludedRules` can switch it off by its name
  * (`graft.plans.JsonFieldRewrite`).
  */
object JsonFieldRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case g @ GetJsonObject(c, Literal(path: UTF8String, _: StringType))
        if c.dataType == StringType =>
      val p = path.toString
      JsonFieldKernel.fieldName(p).map(JsonField(c, _, p)).getOrElse(g)
  }
}
