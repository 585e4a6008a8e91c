package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.random.XORShiftRandom

/** Bridge into Spark's private[sql] Column↔Expression converters — the
  * supported seam for libraries that define native Catalyst expressions
  * (Spark 4 moved Column onto ColumnNode; classic.ExpressionUtils is the
  * conversion point).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame over an explicitly-constructed LogicalPlan (the
    * private[sql] Dataset.ofRows seam). Used to run a plan REWRITE as a
    * first-class gated query — e.g. the ScaleModeRewrite global-rank
    * construction — without flipping session-wide optimizer state that
    * would leak into every other query in a sweep.
    */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over rows a kernel already produced in Catalyst's
    * internal format (the private[sql] internalCreateDataFrame seam),
    * so a generator skips the expression analysis and codegen a
    * per-column select would cost.
    */
  def internalCreateDataFrame(
      spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** The private[spark] generator behind `rand(seed)`: Rand draws
    * `nextDouble()` from `XORShiftRandom(seed + partitionIndex)`, so a
    * kernel seeded the same way reproduces its values exactly.
    */
  def xorShiftRandom(seed: Long): java.util.Random = new XORShiftRandom(seed)
}
