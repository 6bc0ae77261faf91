package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale primitives for per-group ORDERED computations (ranks,
  * running sums) that the naive window formulation funnels through
  * one task per group — the single surviving 100×-scale killer class
  * the round-2 audit found (probe_idx). The two-pass shape here is
  * the general cure; Style.detectedDf and pipe_shard both use it.
  */
object ScalePrim {

  /** Exclusive prefix sum of `value` within each `part` group in
    * `ord` order, appended as column `prefix` — order-equivalent to
    *
    *   sum(value) OVER (PARTITION BY part ORDER BY ord
    *                    ROWS UNBOUNDED PRECEDING EXCLUDING CURRENT)
    *
    * but no task ever sorts more than one `ord`-range bucket:
    * pass 1 aggregates per-(part, bucket) sums (map-side combinable)
    * and prefix-sums that small frame; pass 2 joins the offsets back
    * and finishes with a bounded in-bucket running sum.
    *
    * `ord` must be numeric and unique within a group; `bucketSize`
    * (≥ 2) trades in-bucket window width against offsets-frame size;
    * pick ≈ sqrt(rows per group) so both passes stay balanced.
    *
    * Two escalations keep the shape scale-safe end to end, both
    * switched by COUNTING the per-bucket summary in one eager job (not
    * persisted, so nothing outlives the query; both sides of each
    * switch are exercised in ScalePrimSpec):
    *
    *  - offsets JOIN: up to `maxBroadcastOffsetRows` the offsets are
    *    broadcast (map-side join, no shuffle of the big side); beyond
    *    that the join runs as a shuffle join on (part, bucket), which
    *    shuffles the big side once but never collects the offsets.
    *  - offsets WINDOW: the per-group offsets prefix sum is itself a
    *    window; past `maxWindowRows` summary rows the primitive
    *    RECURSES on the bucket sums (buckets-of-buckets), so no task
    *    at ANY level ever sorts more than a bounded range — the
    *    per-group window cap holds even for a single group with
    *    billions of rows. Recursion shrinks the frame ~bucketSize×
    *    per level and stops when it no longer shrinks.
    */
  def exclusivePrefixSum(
      df: DataFrame, part: String, ord: String, value: Column,
      bucketSize: Long = 256L,
      maxBroadcastOffsetRows: Long = 4L << 20,
      maxWindowRows: Long = 4L << 20): DataFrame = {
    require(bucketSize >= 2, s"bucketSize must be >= 2, got $bucketSize")
    prefixSumAt(df, part, ord, value, bucketSize, maxBroadcastOffsetRows,
      maxWindowRows, depth = 0, prevRows = Long.MaxValue)
  }

  private def prefixSumAt(
      df: DataFrame, part: String, ord: String, value: Column,
      bucketSize: Long, maxBroadcastOffsetRows: Long, maxWindowRows: Long,
      depth: Int, prevRows: Long): DataFrame = {
    // per-depth column names: the recursive call layers the same
    // shape over its own bucket column without clobbering this one's
    val v = s"__v$depth"; val bk = s"__bkt$depth"
    val bsum = s"__bsum$depth"; val off = s"__off$depth"
    val bucketed = df
      .withColumn(v, value.cast("long"))
      .withColumn(bk, floor(col(ord) / bucketSize))
    val bsums = bucketed.groupBy(col(part), col(bk))
      .agg(sum(v).as(bsum))
    val nOff = bsums.count()
    val offsets =
      if (nOff > maxWindowRows && nOff < prevRows) {
        // summary too big for a per-group window: recurse on the
        // bucket sums; its `prefix` IS this level's exclusive offset
        prefixSumAt(bsums, part, bk, col(bsum), bucketSize,
          maxBroadcastOffsetRows, maxWindowRows, depth + 1, nOff)
          .select(col(part), col(bk), col("prefix").as(off))
      } else {
        val wOff = Window.partitionBy(part).orderBy(bk)
          .rowsBetween(Window.unboundedPreceding, -1)
        bsums.withColumn(off, coalesce(sum(bsum).over(wOff), lit(0L)))
          .select(col(part), col(bk), col(off))
      }
    val joined =
      if (nOff <= maxBroadcastOffsetRows)
        bucketed.join(broadcast(offsets), Seq(part, bk))
      else
        bucketed.join(offsets, Seq(part, bk))
    val wIn = Window.partitionBy(col(part), col(bk)).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, -1)
    joined
      .withColumn("prefix", col(off) + coalesce(sum(v).over(wIn), lit(0L)))
      .drop(v, bk, off)
  }
}
