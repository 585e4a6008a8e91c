package graft.sources

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.{FloatType, StructField, StructType}

/** Wide random-float table generator — the reference's table-valued
  * source (G1: src/data_generator.cc:6-55, src/test_data_generator.cc:8-45;
  * columns `col_<i>`, float32, uniform random).
  *
  * Spark-first: the rows come from the partitions of `spark.range`, an
  * embarrassingly parallel source with no input scan and no shuffle.
  * Like the reference's loop that fills one array per column, one row
  * kernel fills every column of a reused row, so building a frame
  * analyzes, optimizes and compiles no expression per column (a
  * 5,000-column select of `rand` expressions overflows the JVM's 64 KB
  * method limit and runs interpreted).
  *
  * Value contract: column `i` is exactly
  * `(rand(seed + i) * (hi - lo) + lo).cast("float")` over the same
  * `spark.range` — Spark's `rand` draws from
  * `XORShiftRandom(seed + partitionIndex)`, and so does the kernel. The
  * values are deterministic per (seed, partition, row offset), not per
  * row id: the same seed at a different partition count gives different
  * values. For benchmark workloads that is exactly the reference's
  * contract (src/data_generator.cc:16-21 uses an unseeded mt19937 —
  * ours is more reproducible, not less).
  */
object WideTableGen {

  /** N cols × M rows of uniform floats in [lo, hi), columns col_0..col_{n-1}.
    *
    * `numPartitions` ≤ 0 keeps the session default (the historical
    * behavior — at local[32] a 100-row frame writes as 32 tiny files).
    * The very-wide write-once fixtures pass 1 (r14): at 10,000 columns
    * each output FILE pays 10k column-writer initializations and a 10k-
    * entry footer, so 32 three-row files cost ~32× the writer/footer
    * overhead of one file for the same data — a cold 10k-col fixture
    * build measured ~110 s multi-file. Content differs from the
    * multi-file layout (values are seeded per output partition), which
    * is fine because every oracle re-derives its expectations from the
    * produced file itself.
    */
  def wide(
      spark: SparkSession,
      numCols: Int,
      numRows: Long,
      seed: Long = 42L,
      lo: Double = -1000.0,
      hi: Double = 1000.0,
      numPartitions: Int = 0): DataFrame = {
    val base = if (numPartitions > 0) spark.range(0L, numRows, 1L, numPartitions)
               else spark.range(numRows)
    val schema = StructType((0 until numCols).map(i =>
      StructField(s"col_$i", FloatType, nullable = false)))
    val scale = hi - lo
    val rows = base.queryExecution.toRdd.mapPartitionsWithIndex { (pid, ids) =>
      val rngs = Array.tabulate(numCols)(i => GraftColumnBridge.xorShiftRandom(seed + i + pid))
      val row = UnsafeRow.createFromByteArray(
        UnsafeRow.calculateBitSetWidthInBytes(numCols) + 8 * numCols, numCols)
      ids.map { _ =>
        var i = 0
        while (i < numCols) {
          row.setFloat(i, (rngs(i).nextDouble() * scale + lo).toFloat)
          i += 1
        }
        row: InternalRow
      }
    }
    GraftColumnBridge.internalCreateDataFrame(spark, rows, schema)
  }
}
