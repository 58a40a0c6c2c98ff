package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` bridge the library needs: materialize a Dataset
  * from a hand-built logical plan (for the custom operators under
  * `graft.plans`). Standard extension-library technique — the object lives
  * in the `org.apache.spark.sql` package purely for access, everything
  * else stays in `graft.*`.
  */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Expose what a SparkSessionExtensions instance would contribute to a
    * new session (the build* methods are private[sql]) — used by
    * ExtensionsSpec to verify the spark.sql.extensions path. */
  def extensionContributions(ext: SparkSessionExtensions, spark: SparkSession)
      : (org.apache.spark.sql.catalyst.analysis.FunctionRegistry,
         Seq[org.apache.spark.sql.execution.SparkStrategy],
         Seq[org.apache.spark.sql.catalyst.rules.Rule[
           org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]) =
    (ext.registerFunctions(
        new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry()),
      ext.buildPlannerStrategies(spark),
      ext.buildOptimizerRules(spark))

  /** The nullable form every file-source read reports (`asNullable` is
    * private[spark]) — how a driver-side footer schema matches Spark's
    * inferred `spark.read.parquet(...).schema`. */
  def asNullable(schema: types.StructType): types.StructType =
    schema.asNullable
}
