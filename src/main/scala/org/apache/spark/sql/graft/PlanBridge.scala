package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge into Spark's `private[sql]` plan-construction API, the same
  * mechanism third-party Spark libraries use to expose custom logical
  * operators as DataFrames. Lives under `org.apache.spark.sql` solely
  * for access to `Dataset.ofRows`; contains no logic of its own.
  */
object PlanBridge {

  /** Wrap a (resolved) logical plan as a DataFrame on this session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame — resolved attributes,
    * stable expression ids. */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** What a `spark.sql.extensions` entry would register: each injected
    * function name and the class it resolves to. Lets specs verify the
    * extension wiring without building a second SparkSession. */
  def injectedFunctions(ext: org.apache.spark.sql.SparkSessionExtensions): Map[String, String] = {
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    ext.registerFunctions(reg)
    reg.listFunction().map(id => id.funcName -> reg.lookupFunction(id).get.getClassName).toMap
  }

  /** The planner strategies an extensions entry point injects. */
  def injectedStrategies(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  /** Wrap a raw Catalyst expression as a Column (and back) — lets
    * library code use custom expressions without a function-registry
    * round trip on sessions that never registered them. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** `schema` with every field, array element and map value nullable:
    * the schema a reader of parquet files written from it sees. */
  def asNullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable

  /** The observation Spark fills for the `CollectMetrics` node `name`
    * of the frame `dataframeId` when the next query that runs it ends:
    * the one registered by `Dataset.observe`, or a fresh one once an
    * earlier query has filled and released that. */
  def observation(spark: SparkSession, name: String, dataframeId: Long): org.apache.spark.sql.Observation =
    spark.asInstanceOf[classic.SparkSession].observationManager.getOrNewObservation(name, dataframeId)

  /** The optimizer rules an extensions entry point injects. */
  def injectedOptimizerRules(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)
}
