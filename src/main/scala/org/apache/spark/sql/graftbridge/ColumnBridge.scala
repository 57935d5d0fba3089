package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Spark 4 removed the public Column(Expression) constructor; the supported
  * internal hook (ExpressionUtils) is private[sql], so this bridge lives in
  * the org.apache.spark.sql namespace to expose Column↔Expression conversion
  * to graft's custom Catalyst expressions. Public-API-only alternative
  * (FunctionRegistry + call_function) costs per-session registration.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` is likewise private[sql]: the hook for running a
    * custom [[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]
    * node (graft.plans.TopKPerKey) through the analyzer/planner. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df` hash-partitioned on `keys` into the session's shuffle partition
    * count n, materialized by `localCheckpoint`, with that layout DECLARED
    * on the checkpoint: its relation reports `HashPartitioning(keys, n)`,
    * so every consumer clustered on a superset of `keys` (a groupBy, a
    * window, a co-keyed join side) plans no exchange over it — a bucketed
    * table.
    *
    * Spark cannot see this on its own: under AQE `localCheckpoint` records
    * no output partitioning, even right after a hash repartition. The
    * repartition, the checkpoint and the declaration happen here together,
    * so a caller cannot declare a layout it did not build.
    *
    * n is `numShufflePartitions` (under AQE, the data-sized
    * `initialPartitionNum`; else `spark.sql.shuffle.partitions`): it
    * becomes the task count of every consumer that skips its exchange, and
    * of the other side of a co-keyed join (the planner shuffles that side
    * to n rather than re-shuffle this one), so it is the count those
    * consumers would have shuffled to. The checkpoint must hold exactly n
    * partitions (a repartition AQE may coalesce would break the partition
    * id = pmod(hash(keys), n) contract), else this throws. The relation
    * keeps its statistics and constraints, so join strategy choices over
    * it are unchanged. */
  def hashClusteredCheckpoint(df: DataFrame, keys: String*): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val n = spark.sessionState.conf.numShufflePartitions
    val rel = df.repartition(n, keys.map(df.col): _*).localCheckpoint()
      .queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val got = rel.rdd.getNumPartitions
    if (got != n)
      throw new IllegalStateException(s"checkpoint has $got partitions, not the declared $n")
    val resolver = spark.sessionState.conf.resolver
    val keyAttrs = keys.map(k => rel.output.find(a => resolver(a.name, k)).get)
    ofRows(spark, rel.copy(outputPartitioning = HashPartitioning(keyAttrs, n))(
      spark, Some(rel.stats), Some(rel.constraints)))
  }
}
