package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{DataType, StructType}

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  * Spark 4 made the converters `private[sql]`, so third-party expression
  * libraries expose them via a shim in the `org.apache.spark.sql`
  * package — the standard extension-point pattern. The pins'
  * Dataset-from-LogicalPlan rebuilds live here for the same reason. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Execute a raw LogicalPlan as a DataFrame (`Dataset.ofRows` went
    * `private[sql]` with the Spark 4 connect split) — used by optimizer
    * rules that need a statistics probe over a subplan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Rebuild the pinned frame `ds` over the same RDD, declaring its rows
    * hash-partitioned by `keys` into `n` partitions — the layout the
    * caller produced with `repartition(n, keys)`, which a checkpoint
    * taken under AQE reports as `UnknownPartitioning`. Statistics and
    * constraints carry over unchanged. */
  def withHashLayout[T](ds: Dataset[T], keys: Seq[Column], n: Int): Dataset[T] = {
    val session = ds.sparkSession.asInstanceOf[classic.SparkSession]
    val rel = ds.queryExecution.logical.asInstanceOf[LogicalRDD]
    val keyExprs = ds.select(keys: _*).queryExecution.analyzed.expressions.map {
      case a: Alias => a.child
      case e => e
    }
    val declared = rel.copy(outputPartitioning = HashPartitioning(keyExprs, n))(
      session, Some(rel.computeStats()), Some(rel.constraints))
    new classic.Dataset[T](session, declared, ds.encoder)
  }

  /** A literal of `dataType` holding the external value `value` — a
    * `Row` for a struct, which `lit` does not take. */
  def literal(value: Any, dataType: DataType): Column = column(Literal.create(value, dataType))

  /** `t` with every field, element and value nullable, as a file source
    * reports the schema it read (`StructType.asNullable` is
    * `private[spark]`). */
  def asNullable(t: StructType): StructType = t.asNullable
}
