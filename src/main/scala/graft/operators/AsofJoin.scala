package graft.operators

import org.apache.spark.sql.DataFrame

/** Former entry point of the as-of join, kept only because
  * perfbench's `operators.asof` layer call still names it: forwards to
  * the native merge-walk, `graft.plans.AsofJoinNative.join`. New code
  * calls that directly.
  */
object AsofJoin {
  def backward(left: DataFrame, right: DataFrame, by: Seq[String],
      leftTs: String, rightTs: String, valueCols: Seq[String]): DataFrame =
    graft.plans.AsofJoinNative.join(left, right, by, leftTs, rightTs, valueCols)
}
