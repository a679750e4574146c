package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression

private[graft] object Registration {

  /** Registers the SQL function `name` unless the session's registry
    * already holds it: query bodies call `register` on every run, and each
    * re-registration logs a "replaced a previously registered function"
    * warning. A Spark builtin of the same name (`theta_sketch_agg`,
    * `bloom_filter_agg`) is always replaced, never taken for ours. */
  def registerOnce(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val id = FunctionIdentifier(name)
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(id) || FunctionRegistry.builtin.functionExists(id))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
