package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one package-private doorway an external planner extension needs:
  * wrap a custom LogicalPlan as a DataFrame. `Dataset.ofRows` is
  * `private[sql]`, so this shim lives in Spark's package — the standard
  * technique third-party Spark extensions use for exactly this purpose
  * (SparkSessionExtensions lets us inject the strategy but offers no
  * public constructor for a Dataset over an injected logical node).
  * The other doorways below are the same kind: one private[sql] entry
  * each, nothing more of the private surface.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column over a custom Catalyst expression — needed for expressions
    * that carry non-Expression state (e.g. a Broadcast handle), which the
    * function-registry route (literal args only) cannot construct.
    * `ExpressionUtils.column` is `private[sql]`, same doorway rationale
    * as [[ofRows]]. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The inverse doorway: a Column's resolved/unresolved Catalyst
    * expression, for embedding as a child of a custom expression. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** A JSON row writer configured exactly as `Dataset.toJSON` configures
    * its own (default options, the session's local time zone) — for
    * rendering InternalRows in the Spark driver byte-identically to a `toJSON`
    * collect without running a job. `JacksonGenerator` is `private[sql]`,
    * same doorway rationale as [[ofRows]]. */
  def jsonWriter(spark: SparkSession, schema: types.StructType,
      writer: java.io.Writer): catalyst.InternalRow => Unit = {
    val conf = spark.sessionState.conf
    // the options read their defaults from SQLConf.get: pin the session's
    val gen = internal.SQLConf.withExistingConf(conf) {
      new catalyst.json.JacksonGenerator(schema, writer,
        new catalyst.json.JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone))
    }
    row => { gen.write(row); gen.flush() }
  }
}
