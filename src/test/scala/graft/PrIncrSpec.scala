package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** gr_pagerank_incremental's approximation bound. Every node of the
  * combined graph has outdegree ≥ 1, so the damped round is a
  * 0.85-contraction in L1 and the 2 warm rounds shrink the warm
  * start's distance to the fixed point r* by at least 0.85².
  */
class PrIncrSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap

  private def l1(a: Map[Long, Double], b: Map[Long, Double]): Double =
    a.keysIterator.map(k => math.abs(a(k) - b(k))).sum

  test("2 warm rounds cut the L1 distance to the cold fixed point by 0.85²") {
    val warm = ranks(SparkEntry.queries("gr_pagerank_incremental")(spark, sf))
    // r*: a long cold run of the engine's damped round on the combined
    // graph (base ∪ delta pairs — the whole lineitem edge set)
    val e2 = operators.Graph.edgesWithDeg(spark, sf)
    val cold0 = e2.select(col("src").as("node")).distinct().select(col("node"), lit(1.0).as("rank"))
    val (r59, r60) = operators.Graph.dampedRanks(e2, cold0, 60, lit(0.15), bcast = true)
    val (prev, star) = (ranks(r59), ranks(r60))
    assert(warm.keySet == star.keySet, "warm and cold runs rank different node sets")
    // w0: the stored base ranks, new nodes entering at 1.0
    val base = ranks(operators.Graph.prIncrFrames(spark, sf)(3))
    val w0 = star.keysIterator.map(k => k -> base.getOrElse(k, 1.0)).toMap
    // a-posteriori distance of the 60-round run to the true fixed point
    val eps = 0.85 / 0.15 * l1(star, prev)
    val rounding = star.size * (5e-7 + 1e-9) // 6-dp rounding of warm
    val start = l1(w0, star)
    val got = l1(warm, star)
    assert(start > 0.0, "the warm start already sits on the fixed point")
    assert(got <= 0.85 * 0.85 * (start + eps) + eps + rounding,
      s"‖warm − r*‖₁ = $got exceeds 0.85²·‖w₀ − r*‖₁ = ${0.85 * 0.85 * start} (eps $eps)")
  }
}
