package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PageRank invariants that pin the implementation independently of
  * the DuckDB oracle replay (which checks exact values).
  */
class GraphSpec extends AnyFunSuite {
  import SparkTestSession._

  test("pagerank covers every node, all ranks positive, mass conserved") {
    val e2 = operators.Graph.edgesWithDeg(spark, sf)
    val nNodes = e2.select("src").distinct().count()
    val rows = SparkEntry.queries("gr_pagerank")(spark, sf).collect()
    assert(rows.length == nNodes, s"expected $nNodes ranked nodes, got ${rows.length}")
    assert(rows.forall(_.getAs[Double]("rank") > 0.0))
    // damped update conserves total mass up to the teleport term:
    // summing r' = 0.15 + 0.85·Σ r/deg over all nodes gives
    // 0.15·N + 0.85·(total mass), whose fixed point is exactly N
    val total = rows.map(_.getAs[Double]("rank")).sum
    assert(math.abs(total - nNodes) < nNodes * 1e-6,
      s"rank mass $total drifted from node count $nNodes")
  }

  test("on a regular symmetric graph every rank is exactly 1") {
    import spark.implicits._
    // 4-cycle: every node has degree 2 → uniform ranks are the fixed
    // point and iteration never leaves it — through the engine's own
    // damped round, on the broadcast branch and past it
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val e0 = edges.toDF("src", "dst")
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e2 = sym.join(deg, "src")
    val r0 = deg.select(col("src").as("node"), lit(1.0).as("rank"))
    for (bcast <- Seq(true, false)) {
      val (_, ranks) = operators.Graph.dampedRanks(e2, r0, 10, lit(0.15), bcast)
      val out = ranks.collect().map(r => (r.getAs[Long]("node"), r.getAs[Double]("rank")))
      assert(out.length == 4, s"bcast=$bcast")
      out.foreach { case (_, r) => assert(math.abs(r - 1.0) < 1e-12, s"bcast=$bcast") }
    }
  }

  test("gr_kcore reaches the true 2-core: min-degree holds and peeling bit") {
    val rows = SparkEntry.queries("gr_kcore")(spark, sf).collect()
    assert(rows.nonEmpty)
    // every surviving node keeps degree >= k INSIDE the core — this is
    // simultaneously the k-core property and the peel-fixpoint witness
    // (a node under k would be removed by one more round)
    assert(rows.forall(_.getAs[Long]("core_deg") >= 2),
      "a node with core degree < k survived — fixpoint not reached")
    // the cascade actually peeled something: the co-order graph has
    // pendant chains, so the 2-core must be a strict subgraph
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val nGraphNodes = li.as("a")
      .join(li.as("b"), col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
      .select(col("a.p")).distinct().count()
    assert(rows.length < nGraphNodes,
      s"2-core (${rows.length}) did not peel any of the $nGraphNodes nodes")
    // and a one-shot degree>=k filter is NOT the same thing: some node
    // with raw degree >= 2 must have been cascaded away
    val rawDeg = li.as("a")
      .join(li.as("b"), col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      .groupBy("u").agg(count(lit(1)).as("d"))
    val nRawPass = rawDeg.filter(col("d") >= 2).count()
    assert(rows.length <= nRawPass)
  }

  test("gr_kcore past its round cap equals a driver-side peel of as many rounds") {
    val edges = operators.Graph.coOrderEdges(spark, sf, 45)
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")))
    // degree of every node with an edge inside the subgraph `alive` induces
    def degrees(alive: Long => Boolean): Map[Long, Long] =
      edges.filter { case (u, v) => alive(u) && alive(v) }
        .groupBy(_._1).map { case (u, es) => u -> es.length.toLong }
    val a1 = degrees(_ => true).filter(_._2 >= 2).keySet
    val a2 = degrees(a1).filter(_._2 >= 2).keySet
    // the second round still peels, so the cap, not the fixpoint, ends
    // the loop and the degrees come from one more peel over a2
    assert(a2.size < a1.size, "two rounds reach the fixpoint at this scale")
    val got = operators.Graph.kcoreWith(spark, sf, 2).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_deg")).toMap
    assert(got == degrees(a2))
  }

  test("gr_betweenness equals a driver-side Brandes replay from the same seeds") {
    // plain-Scala bounded-depth Brandes over the collected edge list —
    // the independent pin next to the macro-expanded SQL oracle
    val edges = operators.Graph.edgesWithDeg(spark, sf)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toVector).toMap
    val seeds = edges.map(_._1).distinct.sorted.take(4)
    val maxHops = 4
    val acc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    for (s <- seeds) {
      // forward: level frontiers with path counts
      val sigma = scala.collection.mutable.Map(s -> 1L)
      val level = scala.collection.mutable.Map(s -> 0)
      var frontier = Vector(s)
      val levels = scala.collection.mutable.ArrayBuffer(frontier)
      for (d <- 1 to maxHops) {
        val next = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        for (u <- frontier; v <- adj.getOrElse(u, Vector.empty)
             if !level.contains(v) || level(v) == d)
          if (!level.contains(v)) { level(v) = d; next(v) = sigma(u) }
          else next(v) = next(v) + sigma(u)
        frontier = next.keys.toVector
        next.foreach { case (v, c) => sigma(v) = c }
        levels += frontier
      }
      // backward: dependency accumulation
      val delta = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      for (d <- maxHops - 1 to 0 by -1; u <- levels(d)) {
        var acc0 = 0.0
        for (v <- adj.getOrElse(u, Vector.empty) if level.get(v).contains(d + 1))
          acc0 += sigma(u).toDouble / sigma(v) * (1 + delta(v))
        delta(u) = acc0
        if (d >= 1) acc(u) = acc(u) + acc0
      }
      // depth-level nodes contribute their (zero) delta too — matches
      // the engine's inclusion of the deepest level
      for (u <- levels(maxHops)) acc(u) = acc(u) + 0.0
    }
    val want = acc.toSeq
      .map { case (n, b) => n -> BigDecimal(1e-9 + b).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble }
      .filter(_._2 > 0).toMap
    val got = SparkEntry.queries("gr_betweenness")(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("betweenness")).toMap
    assert(got.nonEmpty, "betweenness must be non-trivial on the co-purchase graph")
    assert(got.keySet == want.keySet,
      s"node sets differ: extra ${(got.keySet -- want.keySet).take(5)}, " +
        s"missing ${(want.keySet -- got.keySet).take(5)}")
    for ((n, b) <- want)
      assert(math.abs(got(n) - b) <= 2e-6, s"node $n: got ${got(n)}, want $b")
  }
}
