package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. ExpressionUtils is private[sql] in
  * Spark 4, so the library's custom Catalyst expressions go through
  * this in-package shim (the established pattern for Spark-native
  * extension libraries).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** localCheckpoint WITHOUT origin-stats inheritance. Spark's
    * Dataset.checkpoint (SPARK-39834) copies the pre-checkpoint
    * plan's Statistics onto the LogicalRDD it returns. In an
    * iterative loop whose round plan joins copies of the previous
    * round's checkpoint, sizeInBytes therefore COMPOUNDS
    * multiplicatively round over round — the BigInt's bit-length
    * grows geometrically and stats estimation (join selection,
    * runtime-filter sizing) ends up in multi-minute Toom-Cook
    * BigInteger multiplications on 10^100000-scale numbers (the CC
    * loop at sf1 measured 1.9 s → 149 s per round by round 7).
    * Rebuilding the LogicalRDD with originStats = None resets each
    * round to the bounded defaultSizeInBytes estimate.
    */
  def freshLocalCheckpoint(
      df: org.apache.spark.sql.DataFrame,
      eager: Boolean): org.apache.spark.sql.DataFrame = {
    val ck = df.localCheckpoint(eager)
    val cds = ck.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    cds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.classic.Dataset.ofRows(
          cds.sparkSession,
          org.apache.spark.sql.execution.LogicalRDD(
            l.output, l.rdd, l.outputPartitioning, l.outputOrdering, l.isStreaming)(
            cds.sparkSession, None, None))
      case _ => ck
    }
  }
}
