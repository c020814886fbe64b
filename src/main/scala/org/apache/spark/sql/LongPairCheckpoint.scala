package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExpressionSet, IsNotNull, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.LongType

/** Re-entry point from RDD code into SQL for pairs of longs, in the
  * package-private factory style of Spark's own `DatasetFactory`: the
  * `LogicalRDD` constructor, `RDD.doCheckpoint` and `Dataset.ofRows`
  * are package-private to Spark. */
object LongPairCheckpoint {

  /** Reliably checkpoint `pairs` as two nullable bigint columns `left`
    * and `right`, in ONE job that writes the checkpoint files and
    * counts the rows. The returned frame scans those files through a
    * `LogicalRDD` that carries the exact row count and size, so the
    * planner broadcasts it into a join when it is small and shuffles
    * it when it is large, as it would a table with statistics. The
    * columns are nullable but constrained non-null, so the optimizer
    * adds no `isnotnull` filter over them.
    * Requires `SparkContext.setCheckpointDir`. */
  def checkpoint(spark: SparkSession, pairs: RDD[(Long, Long)],
      left: String, right: String): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val rowCount = session.sparkContext.longAccumulator
    val rows: RDD[InternalRow] = pairs.map { case (a, b) =>
      rowCount.add(1)
      // two non-null longs: an 8-byte null bitset plus two 8-byte words
      val row = new UnsafeRow(2)
      row.pointTo(new Array[Byte](24), 24)
      row.setLong(0, a)
      row.setLong(1, b)
      row
    }
    rows.checkpoint()
    rows.doCheckpoint()
    val output = Seq(AttributeReference(left, LongType)(),
      AttributeReference(right, LongType)())
    val n = BigInt(rowCount.value)
    val stats = Statistics(EstimationUtils.getSizePerRow(output) * n, Some(n))
    val notNull = ExpressionSet(output.map(IsNotNull(_)))
    classic.Dataset.ofRows(session,
      LogicalRDD(output, rows)(session, Some(stats), Some(notNull)))
  }
}
