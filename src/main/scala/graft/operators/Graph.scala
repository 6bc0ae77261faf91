package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed link analysis — PageRank over the part↔supplier
  * co-purchase graph (parts and suppliers as nodes, one undirected
  * edge per distinct (part, supplier) lineitem pairing; supplier ids
  * offset by 1e9 into a disjoint node-id range). Link-analysis rank
  * is the classic crawl-corpus quality weight a training-data
  * pipeline attaches to web documents; here it runs on the star
  * schema's natural bipartite graph so the oracle can replay it.
  *
  * Iteration shape exploits the size asymmetry every link graph has:
  * ranks are a |V|-row frame (16-byte rows) while edges are |E| rows
  * with |E| ≫ |V|. Each of the 10 fixed iterations BROADCASTS the
  * ranks frame to the cached edge partitions (GraphX's
  * vertex-replication idea expressed in pure DataFrame terms): the
  * edge frame — built ONCE, persisted hash-partitioned on dst
  * (SessionMemo; billed as a one-time build) — broadcast-joins the
  * ranks on src and aggregates contributions by dst WITH NO EXCHANGE
  * AT ALL, because the cached partitioning already satisfies the
  * aggregation. The |E|-row contribution shuffle the naive plan pays
  * per iteration (418 M rows / 22 GB of spill for 10 rounds at the
  * 100× leg) disappears; per-iteration cost is one map-side pass
  * over the cached edges plus a |V|-row collect-and-broadcast. Each
  * iteration's ranks are lazily localCheckpoint'd so the composed
  * plan stays one-iteration deep and nothing is recomputed across
  * the 10 broadcast-collect jobs, and released once the next round
  * is built ([[rounds]]). When |V| outgrows broadcast reach
  * (> [[BroadcastNodeCap]] nodes, decided from the build-time node
  * count — count-adaptive on BOTH engines' identical node sets) the
  * loop falls back to the shuffle-hash plan: edge frame partitioned
  * by src, only the |V|-row ranks side exchanges per iteration.
  * Because edges are bidirectional every node has outdegree ≥ 1 — no
  * dangling-mass term — and in-degree ≥ 1, so the node set is stable
  * across iterations and the damped update
  * r' = 0.15 + 0.85·Σ r/outdeg is deterministic. Only the FINAL ranks
  * are rounded (6 dp); float drift from differing partial-sum orders
  * stays ~1e-13, far under the rounding nudge.
  */
object Graph {

  private val SuppOffset = 1000000000L
  private val Damping = 0.85
  private val Iters = 10

  /** Broadcast path cutoff: ranks frames up to 8 M nodes (~128 MB of
    * packed rows) are replicated to edge partitions per iteration;
    * beyond that the loop pays the |V|-row shuffle instead. At the
    * part↔supplier graph's growth rate (|V| ≈ 210 k × SF) this keeps
    * the zero-shuffle plan through SF ≈ 380.
    */
  private val BroadcastNodeCap = 8000000L

  // |V| per (session, dir), recorded by the edge build so the serve
  // path picks the same plan without re-counting.
  private val vCounts =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]()

  /** One-time edge build: bidirectional distinct (part, supplier)
    * edges joined with outdegree, persisted via SessionMemo —
    * hash-partitioned on dst (broadcast path: the per-iteration
    * aggregation key) or src (fallback path: the per-iteration join
    * key), chosen from the node count.
    */
  def edgesWithDeg(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"graph.edges:$dir") {
      val e0 = Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("src"),
          (col("l_suppkey") + SuppOffset).as("dst"))
        .distinct()
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val nV = deg.count() // billed in the build; decides the plan
      vCounts.put((spark, dir), nV)
      val partKey = if (nV <= BroadcastNodeCap) col("dst") else col("src")
      val e2 = edges.join(deg, "src")
        .repartition(partKey)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e2.count() // materialize eagerly: queries time the iterations
      Seq(e2)
    }.head
  val PagerankEdges = Build("pagerank_edges", edgesWithDeg)

  /** The build-time node count (re-derived from the cached frame if
    * the memo was populated in another classloader's build).
    */
  private def nodeCount(spark: SparkSession, dir: String): Long = {
    val e2 = edgesWithDeg(spark, dir)
    Option(vCounts.get((spark, dir))).map(_.longValue()).getOrElse {
      val n = e2.select("src").distinct().count()
      vCounts.put((spark, dir), n)
      n
    }
  }

  /** The build-time broadcast decision of the rank loops. */
  private def underCap(spark: SparkSession, dir: String): Boolean =
    nodeCount(spark, dir) <= BroadcastNodeCap

  /** The oracle unrolls the same 10 damped iterations as chained
    * CTEs (standard SQL recursive CTEs forbid aggregation in the
    * recursive member, so the fixed iteration count is spelled out).
    */
  private def oracleSql: String = {
    val iters = (1 to Iters).map { i =>
      s"""r$i AS (SELECT e2.dst AS node,
         |  CAST(0.15 AS DOUBLE) + CAST($Damping AS DOUBLE) * sum(r.rank / e2.outdeg) AS rank
         |  FROM e2 JOIN r${i - 1} r ON e2.src = r.node GROUP BY e2.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst FROM lineitem
       |),
       |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
       |e2 AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src),
       |r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg),
       |$iters
       |SELECT node, round(1e-9 + rank, 6) AS rank
       |FROM r$Iters
       |ORDER BY node""".stripMargin
  }

  /** `n` rounds of r'(dst) = `agg` over the (src, dst, outdeg) edge
    * frame joined on src with the (node, rank) frame, from `r0`;
    * returns the round before the last and the last. The |V|-row ranks
    * side is broadcast under [[BroadcastNodeCap]]: on the
    * dst-partitioned edge cache the broadcast join preserves the
    * partitioning, so groupBy(dst) aggregates IN PLACE and the round
    * runs zero exchanges. Past the cap it joins SHUFFLE_HASH: only the
    * |V| rows exchange, and the edge side streams unsorted against a
    * per-partition hash table. The name-based USING join sidesteps
    * self-join column ambiguity (every round descends from e2 itself).
    * On the broadcast path every round but the last is lazily
    * localCheckpoint'd: building round i+1 runs the broadcast job that
    * materializes round i, and nothing reads round i's blocks after
    * that, so they are released right there. The last round stays
    * lazy, so the served plan is one round deep and the round before
    * it is the only checkpoint that outlives the call. Off the
    * broadcast path no round is checkpointed: nothing would
    * materialize one before the caller's action, so none could be
    * released inside the loop.
    */
  private def rounds(e2: DataFrame, r0: DataFrame, n: Int, agg: Column,
      bcast: Boolean): (DataFrame, DataFrame) =
    (1 to n).foldLeft((r0, r0)) { case ((_, cur), it) =>
      val prev = cur.withColumnRenamed("node", "src")
      val next = e2.join(if (bcast) broadcast(prev) else prev.hint("SHUFFLE_HASH"), "src")
        .groupBy("dst").agg(agg.as("rank"))
        .select(col("dst").as("node"), col("rank"))
      if (bcast && it < n) {
        val ck = next.localCheckpoint(false)
        if (it > 1) Dedup.releaseLocalCheckpoint(cur)
        (cur, ck)
      } else (cur, next)
    }

  /** `n` damped rounds r' = base + 0.85·Σ r/outdeg ([[rounds]]);
    * `base` may read `dst`.
    */
  private[graft] def dampedRanks(e2: DataFrame, r0: DataFrame, n: Int, base: Column,
      bcast: Boolean): (DataFrame, DataFrame) =
    rounds(e2, r0, n, base + lit(Damping) * sum(col("rank") / col("outdeg")), bcast)

  /** Byte budget of a broadcast [[walk]] frame: 2× the rank loops'
    * implied 128 MB (8 M nodes × 16 B), since one hop is built at a
    * time. With K = 4 seeds it admits 3.7 M nodes at betweenness's 2K+1
    * words and 4.2 M at closeness's 2K; sf10 has 2.1 M.
    */
  private val WalkBroadcastBytes = 256L << 20

  /** Whether a frame of `words` 8-byte columns per node of the pagerank
    * graph fits [[WalkBroadcastBytes]].
    */
  private def walkBroadcasts(spark: SparkSession, dir: String, words: Int): Boolean =
    nodeCount(spark, dir) * words * 8L <= WalkBroadcastBytes

  /** The `k` smallest distinct values of column `c`: the seeds. */
  private def seedsOf(df: DataFrame, c: String, k: Int): Seq[Long] =
    df.select(col(c)).distinct().orderBy(c).limit(k).collect().map(_.getLong(0)).toSeq

  /** The bounded multi-source frontier walk over (u, v) `edges`.
    * Every level is one row per node with one column `s$i` per seed;
    * level 0 is the seeds (s_i = 1 on seed i). Level d+1 joins the
    * edges with level d on u and groups by v with `agg` over each s_i;
    * the visited bit mask (bit i: seed i reached the node on an earlier
    * level) zeroes re-entries and all-zero rows drop. When `bcast`, each
    * hop broadcasts level d (K+1 words per node) and the (node, mask)
    * rows of every earlier level (at most K rows, 2K words, per node);
    * else both sides shuffle. Each level is lazily localCheckpoint'd,
    * and one count per hop both materializes it and probes for the
    * exit: the walk stops after `maxHops` hops or at the first empty
    * level. The caller releases the returned levels once its output is
    * eagerly checkpointed.
    */
  private[graft] def walk(edges: DataFrame, seeds: Seq[Long], maxHops: Int,
      agg: Column => Column, bcast: Boolean): Vector[DataFrame] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cols = seeds.indices.map(i => s"s$i")
    def side(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    def mask(f: DataFrame): DataFrame = f.select(col("node"), cols.indices.map { i =>
      when(col(cols(i)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_)).as("mask"))
    val level0 = seeds.zipWithIndex.toDF("node", "seed")
      .select(col("node") +: cols.indices.map(i =>
        when(col("seed") === i, lit(1L)).otherwise(lit(0L)).as(cols(i))): _*)
    var levels = Vector(level0)
    var exhausted = false
    while (levels.length <= maxHops && !exhausted) {
      val next = edges
        .join(side(levels.last.withColumnRenamed("node", "u")), "u")
        .groupBy(col("v").as("node"))
        .agg(agg(col(cols.head)).as(cols.head), cols.tail.map(c => agg(col(c)).as(c)): _*)
        // one row per earlier level that holds the node; OR-ing them
        // after the join reuses the node partitioning of the aggregate
        // above, where OR-ing the levels first costs an exchange
        .join(side(levels.map(mask).reduce(_ union _)), Seq("node"), "left")
        .groupBy(col("node") +: cols.map(col): _*)
        .agg(bit_or(col("mask")).as("vm"))
        .select(col("node") +: cols.indices.map { i =>
          when(coalesce(col("vm"), lit(0L)).bitwiseAND(lit(1L << i)) =!= 0, lit(0L))
            .otherwise(col(cols(i))).as(cols(i))
        }: _*)
        .filter(cols.map(col(_) > 0).reduce(_ || _))
        .localCheckpoint(false)
      // counted through the RDD: one job, where Dataset.count adds an
      // aggregate whose exchange adaptive execution runs as a second one
      if (next.rdd.count() == 0L) {
        exhausted = true
        Dedup.releaseLocalCheckpoint(next)
      } else levels :+= next
    }
    levels
  }

  val pagerank = Q("gr_pagerank", oracleSql, PagerankEdges)((spark, dir) =>
    pagerankWith(spark, dir, underCap(spark, dir)))

  /** gr_pagerank (likewise gr_ppr, gr_hits) on the broadcast branch
    * the caller picks; the query passes [[underCap]].
    */
  private[graft] def pagerankWith(spark: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val e2 = edgesWithDeg(spark, dir)
    val r0 = e2.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).as("rank"))
    val (_, ranks) = dampedRanks(e2, r0, Iters, lit(0.15), bcast)
    ranks.select(col("node"), round(lit(1e-9) + col("rank"), 6).as("rank"))
      .orderBy("node")
  }

  /** Triangle census over the part co-order graph (parts are nodes;
    * an edge joins two parts that appear in the same order with
    * quantity ≥ 40 — the thresholded "bought together in bulk"
    * graph). Triangles/clustering coefficient are the second classic
    * graph statistic after rank: community density of the link graph.
    *
    * The algorithm is the degree-ordered node-iterator (Cohen/Suri
    * MapReduce triangle counting): orient every undirected edge from
    * its lower to its higher endpoint under the total order
    * (degree, id), form wedges only at each edge's LOW-order apex,
    * and close them against the oriented edge list. Orientation
    * bounds every apex's out-degree by O(√m) on real graphs, so the
    * wedge set — the only super-linear intermediate — stays ~m^1.5
    * instead of Σdeg² (a hub with degree d would otherwise mint d²
    * wedges). All comparisons are (deg, id) tuple comparisons —
    * struct ordering in Spark, row-value comparison in DuckDB — so
    * the orientation is bit-identical cross-engine. Output is one
    * summary row: nodes, edges, wedge count Σd(d−1)/2 (exact integer
    * — d(d−1) is even), triangles, and the global clustering
    * coefficient 3·triangles/wedges (rounded 6 dp).
    */
  /** One-time BIDIRECTIONAL co-order edge build at a quantity
    * threshold — the graph each co-order statistic serves from
    * (triangles 40, bfs 42, jaccard 43, kcore 45, components 49 each
    * keep their own threshold → their own standing graph, the way a
    * production graph engine materializes its edge list once per
    * graph). The corpus self-join runs in the build, billed under
    * Bench's builds; queries time their iterations/joins over the
    * persisted fixed-width frame. Rows are distinct by construction
    * (the one-direction pair set has u < v).
    *
    * FOOTPRINT (recorded decision): a session touching all five
    * co-order graphs holds five \|E\|-scale MEMORY_AND_DISK caches
    * concurrently. That is the intended build-once/serve-many shape —
    * storage blocks are evictable under the unified memory manager
    * and spill to disk, so the bound is disk, not heap; releasing a
    * graph between queries would instead push the corpus self-join
    * back INTO the next timed serve. A long-lived app cycling graphs
    * it no longer queries sheds one explicitly via
    * [[graft.SessionMemo.release]] (and the 64-entry LRU reclaims the
    * oldest under many-dir churn).
    */
  private[graft] def coOrderEdges(spark: SparkSession, dir: String, qty: Int): DataFrame =
    graft.SessionMemo.frames(spark, s"graph.coOrderEdges:$qty:$dir") {
      val li = Tables.lineitem(spark, dir)
        .filter(col("l_quantity") >= qty)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val e0 = li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v"))
        .distinct()
      // hash-partition the cache by u (one build-time exchange): the
      // kcore peel's per-round groupBy(u) and the wedge self-joins
      // (gr_jaccard, gr_triangles) then reuse the cached partitioning
      // through the broadcast joins instead of re-exchanging the edge
      // list every round/pass (guide §2.4 — share one exchange)
      val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      edges.count()
      Seq(edges)
    }.head
  val CoorderEdges40 = Build("coorder_edges_40", coOrderEdges(_, _, 40))
  val CoorderEdges42 = Build("coorder_edges_42", coOrderEdges(_, _, 42))
  val CoorderEdges43 = Build("coorder_edges_43", coOrderEdges(_, _, 43))
  val CoorderEdges45 = Build("coorder_edges_45", coOrderEdges(_, _, 45))
  val CoorderEdges49 = Build("coorder_edges_49", coOrderEdges(_, _, 49))

  val triangles = Q(
    "gr_triangles",
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |            FROM lineitem WHERE l_quantity >= 40),
      |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
      |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
      |        GROUP BY node),
      |oe AS (SELECT
      |    CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.u ELSE e0.v END AS s,
      |    CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.v ELSE e0.u END AS t,
      |    CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN dv.d ELSE du.d END AS td
      |  FROM e0 JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v),
      |w AS (SELECT x.s, x.t AS a1, y.t AS a2
      |      FROM oe x JOIN oe y ON x.s = y.s AND (x.td, x.t) < (y.td, y.t)),
      |tri AS (SELECT CAST(count(*) AS BIGINT) AS n
      |        FROM w JOIN oe c ON c.s = w.a1 AND c.t = w.a2)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
      |       (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
      |       (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |       (SELECT n FROM tri) AS n_triangles,
      |       round(1e-9 + 3.0 * (SELECT n FROM tri) /
      |             (SELECT CAST(sum(d * (d - 1) // 2) AS DOUBLE) FROM deg), 6) AS gcc""".stripMargin,
    CoorderEdges40) { (spark, dir) =>
    val e0 = coOrderEdges(spark, dir, 40).filter(col("u") < col("v"))
    val deg = e0.select(col("u").as("node"))
      .union(e0.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val ed = e0
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    val lower = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val oe = ed.select(
      when(lower, col("u")).otherwise(col("v")).as("s"),
      when(lower, col("v")).otherwise(col("u")).as("t"),
      when(lower, col("dv")).otherwise(col("du")).as("td"))
    val oe2 = oe.select(col("s").as("s2"), col("t").as("t2"), col("td").as("td2"))
    val w = oe.join(oe2,
        col("s") === col("s2") &&
          struct(col("td"), col("t")) < struct(col("td2"), col("t2")))
      .select(col("t").as("a1"), col("t2").as("a2"))
    val tri = w.join(oe.select(col("s").as("a1"), col("t").as("a2")), Seq("a1", "a2"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edges = e0.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(edges).crossJoin(tri)
      .select(
        col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(1e-9) + lit(3.0) * col("n_triangles") /
          col("n_wedges").cast("double"), 6).as("gcc"))
  }

  /** Connected components over the bulk co-order graph (parts as
    * nodes; an edge joins two parts appearing in the same order with
    * quantity ≥ 49 — the near-max-quantity threshold keeps the graph
    * SPARSE, so components are small and the oracle's transitive
    * closure stays quadratic-in-component, not quadratic-in-graph).
    * The third classic graph statistic after rank (gr_pagerank) and
    * density (gr_triangles): community membership — and the
    * relational-graph face of the engine's one CC implementation
    * (Dedup.connectedComponents' two-phase large-star/small-star
    * loop, the same code dd_clusters and dd_embed_clusters resolve
    * with; the corpus never enters the loop, only the edge set).
    */
  val components = Q(
    "gr_components",
    """WITH RECURSIVE li AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |  FROM lineitem WHERE l_quantity >= 49),
      |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
      |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      |edges AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      |)
      |SELECT u AS node, least(u, min(v)) AS component_id,
      |  CAST(count(*) FILTER (WHERE v != u) + 1 AS BIGINT) AS component_size
      |FROM (SELECT DISTINCT u, v FROM reach)
      |GROUP BY u
      |ORDER BY node""".stripMargin, CoorderEdges49) { (spark, dir) =>
    val edges = coOrderEdges(spark, dir, 49)
    val (labels, _) = Dedup.connectedComponents(edges)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("component_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc").as("node"), col("label").as("component_id"),
        col("component_size"))
      .orderBy("node")
  }

  private val CoreK = 2
  private val CoreRounds = 12
  private val CoreQty = 45

  /** K-core decomposition (the 2-core) over the bulk co-order part
    * graph — the fourth classic graph statistic: density-cohesive
    * membership. Peeling repeatedly deletes nodes whose degree in
    * the surviving subgraph is < k; what remains is the maximal
    * subgraph with min-degree ≥ k (trees and pendant chains peel
    * away layer by layer — exactly the cascade that makes k-core
    * stronger than a one-shot degree filter).
    *
    * Both engines run the SAME bounded [[CoreRounds]] peel rounds,
    * so parity holds at any SF even before fixpoint; peeling is
    * monotone, so once a round deletes nothing every later round is
    * a no-op — the Spark loop early-exits on that fixpoint (the
    * oracle's remaining unrolled CTEs are no-ops by the same
    * monotonicity). GraphSpec asserts the fixpoint is actually
    * reached at the test SFs (one extra peel round deletes nothing).
    *
    * Scale shape: the corpus collapses to the edge list once; each
    * peel round joins the edges against the previous alive set on
    * BOTH endpoints — a |V|-row narrow frame broadcast under the
    * same [[BroadcastNodeCap]] posture as the pagerank ranks — and
    * re-aggregates degrees by src. localCheckpoint per round keeps
    * the composed plan one round deep (see the verify-skill gotcha
    * on iterative loops). Rounds are bounded, alive counts are the
    * only driver-side values, and degrees are integers (no float
    * parity risk).
    */
  val kcore = Q(
    "gr_kcore", {
      // each round references the previous alive CTE TWICE (both edge
      // endpoints): without MATERIALIZED, CTE inlining would expand
      // the chain to 2^rounds scans of lineitem
      val rounds = (1 to CoreRounds).map { i =>
        s"""a$i AS MATERIALIZED (SELECT e.u AS node FROM edges e
           |  JOIN a${i - 1} x ON e.u = x.node JOIN a${i - 1} y ON e.v = y.node
           |  GROUP BY e.u HAVING count(*) >= $CoreK)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem WHERE l_quantity >= $CoreQty),
         |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
         |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
         |edges AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
         |a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges),
         |$rounds
         |SELECT e.u AS node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM edges e
         |JOIN a$CoreRounds x ON e.u = x.node JOIN a$CoreRounds y ON e.v = y.node
         |GROUP BY e.u
         |ORDER BY node""".stripMargin
    }, CoorderEdges45)((spark, dir) => kcoreWith(spark, dir, CoreRounds))

  /** gr_kcore with the round cap the caller picks; the query passes
    * [[CoreRounds]].
    */
  private[graft] def kcoreWith(spark: SparkSession, dir: String, rounds: Int): DataFrame = {
    val edges = coOrderEdges(spark, dir, CoreQty)
    // Round 1 in closed form: a0 is EVERY node, so the double
    // endpoint semi-join is the identity and the first peel is a bare
    // degree filter — one aggregation, no joins. The checkpoint keeps
    // (node, d): at the FIXPOINT round the peel's degree aggregate IS
    // the output core_deg (equal alive counts under a monotone peel
    // mean an identical alive set, so that round's d was computed over
    // exactly the final subgraph) — serving from it deletes the
    // former separate output pass (2 broadcast builds + a third
    // edge-cache aggregation after the loop).
    var alive = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= CoreK)
      .select(col("u").as("node"), col("d"))
      .localCheckpoint(false)
    var nAlive = alive.count()
    val useBroadcast = nAlive <= BroadcastNodeCap
    def side(d: DataFrame): DataFrame = if (useBroadcast) broadcast(d) else d
    // the (u, d) degrees of the subgraph `alive` induces
    def peel(alive: DataFrame): DataFrame = edges
      .join(side(alive.select(col("node").as("u"))), "u")
      .join(side(alive.select(col("node").as("v"))), "v")
      .groupBy("u").agg(count(lit(1)).as("d"))
    var round = 1
    var fixed = false
    // One peel per job: a fused 2-peel variant was measured SLOWER at
    // sf10 (27.9 s vs 23.3 s — the inner peel's aggregate is consumed
    // by two differently-keyed broadcast builds, and the exchange
    // under them is not reused across the checkpoint-free pair), so
    // the loop keeps per-round materialization; the closed-form first
    // round above is where the real win was.
    while (round < rounds && !fixed) {
      val next = peel(alive)
        .filter(col("d") >= CoreK)
        .select(col("u").as("node"), col("d"))
        .localCheckpoint(false)
      val n = next.count()
      fixed = n == nAlive // monotone peel: a no-op round is the fixpoint
      Dedup.releaseLocalCheckpoint(alive)
      alive = next; nAlive = n
      round += 1
    }
    // at the fixpoint the last peel already computed core_deg; past the
    // round cap the stored d predates the final alive set, so peel once
    // more for the degrees over it
    val out = (if (fixed) alive else peel(alive).select(col("u").as("node"), col("d")))
      .select(col("node"), col("d").as("core_deg"))
      .orderBy("node")
      .localCheckpoint(true) // blocks self-clean once the frame is GC'd
    Dedup.releaseLocalCheckpoint(alive)
    out
  }

  private val BfsQty = 42
  private val BfsMaxHops = 8

  /** Multi-hop BFS distances from a deterministic seed (the lowest
    * part id in the edge set) over the bulk co-order graph — the
    * reachability statistic next to membership (gr_components):
    * "how far does influence propagate from this node, and to whom".
    * Both engines bound the walk at [[BfsMaxHops]] hops, so parity
    * holds even when the graph's diameter exceeds the bound; the
    * oracle's recursive CTE deduplicates (node, dist) pairs per
    * round (UNION, not UNION ALL — path proliferation through cycles
    * never materializes) and takes min(dist) at the end. The walk is
    * [[walk]] from one seed; a node's dist is its level.
    */
  val bfs = Q(
    "gr_bfs",
    s"""WITH RECURSIVE li AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem WHERE l_quantity >= $BfsQty),
       |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
       |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
       |edges AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
       |seed AS (SELECT min(u) AS s FROM edges),
       |walk(node, dist) AS (
       |  SELECT s, 0 FROM seed WHERE s IS NOT NULL
       |  UNION
       |  SELECT e.v, w.dist + 1 FROM walk w
       |  JOIN edges e ON e.u = w.node WHERE w.dist < $BfsMaxHops
       |)
       |SELECT node, CAST(min(dist) AS INT) AS dist
       |FROM walk GROUP BY node
       |ORDER BY node""".stripMargin, CoorderEdges42)((spark, dir) => bfsWith(spark, dir, true))

  /** gr_bfs on the broadcast branch the caller picks; the query
    * broadcasts.
    */
  private[graft] def bfsWith(spark: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val edges = coOrderEdges(spark, dir, BfsQty)
    val seeds = seedsOf(edges, "u", 1)
    if (seeds.isEmpty) {
      val s = spark
      import s.implicits._
      Seq.empty[(Long, Int)].toDF("node", "dist")
    } else {
      val levels = walk(edges, seeds, BfsMaxHops, max(_), bcast)
      val out = levels.zipWithIndex
        .map { case (f, d) => f.select(col("node"), lit(d).as("dist")) }
        .reduce(_ union _)
        .orderBy("node")
        .localCheckpoint(true)
      levels.foreach(Dedup.releaseLocalCheckpoint)
      out
    }
  }

  /** Degree distribution + power-law fit over the co-purchase graph
    * — the zipf/heaps sibling for graphs: the histogram (degree,
    * node count) with the fitted log-log slope (a scale-free link
    * graph sits near −2…−3; a random graph's histogram is Poisson
    * and the fit collapses). Serves ENTIRELY from the memoized
    * pagerank edge build (src, outdeg already materialized): one
    * distinct over the cached frame, a |degrees|-row histogram, and
    * the q32 regression aggregate over the log-log points — the
    * corpus is never rescanned.
    */
  val degreeDist = Q(
    "gr_degree_dist",
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
       |h AS (SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY d),
       |fit AS (SELECT
       |    round(1e-9 + regr_slope(log2(CAST(n_nodes AS DOUBLE)),
       |      log2(CAST(degree AS DOUBLE))), 6) AS alpha,
       |    round(1e-9 + regr_r2(log2(CAST(n_nodes AS DOUBLE)),
       |      log2(CAST(degree AS DOUBLE))), 6) AS fit_r2
       |  FROM h)
       |SELECT degree, n_nodes, alpha, fit_r2 FROM h CROSS JOIN fit
       |ORDER BY degree""".stripMargin, PagerankEdges) { (spark, dir) =>
    val h = edgesWithDeg(spark, dir)
      .select(col("src"), col("outdeg")).distinct()
      .groupBy(col("outdeg").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
    val fit = h.agg(
      round(lit(1e-9) + expr(
        "regr_slope(log2(CAST(n_nodes AS DOUBLE)), log2(CAST(degree AS DOUBLE)))"),
        6).as("alpha"),
      round(lit(1e-9) + expr(
        "regr_r2(log2(CAST(n_nodes AS DOUBLE)), log2(CAST(degree AS DOUBLE)))"),
        6).as("fit_r2"))
    h.crossJoin(broadcast(fit))
      .select(col("degree"), col("n_nodes"), col("alpha"), col("fit_r2"))
      .orderBy("degree")
  }

  private val LinkQty = 43
  private val LinkTopK = 20

  /** Link prediction by neighborhood Jaccard — the classic
    * common-neighbors recommender over the bulk co-order graph: for
    * every NON-adjacent pair sharing ≥2 neighbors, score
    * |N(u)∩N(w)| / |N(u)∪N(w)| and keep the top candidates. The
    * wedge enumeration (both neighbors paired at every common apex)
    * is the Σd(d−1)/2 intermediate gr_triangles reports as n_wedges
    * — bounded here by the same near-max quantity threshold that
    * keeps the graph sparse; the ≥2-common floor then shrinks the
    * pair frame BEFORE the degree joins and the existing-edge anti
    * join. Top-k via the bounded-heap aggregate over ROUNDED scores
    * with a packed-pair tiebreak, so both engines select the
    * identical candidate set — no global sort.
    */
  val jaccardLinks = Q(
    "gr_jaccard", {
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem WHERE l_quantity >= $LinkQty),
         |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
         |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
         |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
         |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
         |w AS (SELECT x.v AS a, y.v AS b, CAST(count(*) AS BIGINT) AS c
         |      FROM edges x JOIN edges y ON x.u = y.u AND x.v < y.v
         |      GROUP BY x.v, y.v HAVING count(*) >= 2),
         |cand AS (
         |  SELECT w.a, w.b, w.c, da.d AS da, db.d AS db,
         |    round(1e-9 + w.c / CAST(da.d + db.d - w.c AS DOUBLE), 6) AS jaccard
         |  FROM w
         |  JOIN deg da ON da.node = w.a JOIN deg db ON db.node = w.b
         |  WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.u = w.a AND e0.v = w.b)),
         |r AS (SELECT *, CAST(row_number() OVER (
         |    ORDER BY jaccard DESC, a, b) AS BIGINT) AS rank FROM cand)
         |SELECT rank, a AS node_a, b AS node_b, c AS n_common,
         |  da AS deg_a, db AS deg_b, jaccard
         |FROM r WHERE rank <= $LinkTopK
         |ORDER BY rank""".stripMargin
    }, CoorderEdges43) { (spark, dir) =>
    val edges = coOrderEdges(spark, dir, LinkQty)
    val e0 = edges.filter(col("u") < col("v"))
    val deg = edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val wedges = edges.select(col("u"), col("v").as("a"))
      .join(edges.select(col("u"), col("v").as("b")), Seq("u"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    val cand = wedges
      .join(e0.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
      .join(deg.select(col("node").as("a"), col("d").as("dega")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("degb")), Seq("b"))
      .select(col("a"), col("b"), col("c"), col("dega"), col("degb"),
        round(lit(1e-9) +
          col("c") / (col("dega") + col("degb") - col("c")).cast("double"),
          6).as("jaccard"))
    // packed pair id keeps the heap tiebreak == ORDER BY jaccard DESC, a, b
    val top = cand
      .agg(graft.functions.TopKAgg.topk_by_score(
        col("jaccard"), col("a") * lit(4294967296L) + col("b"), LinkTopK).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.rank").as("rank"), col("t.id").as("pair"))
    val out = cand
      .withColumn("pair", col("a") * lit(4294967296L) + col("b"))
      .join(broadcast(top), "pair")
      .select(col("rank"), col("a").as("node_a"), col("b").as("node_b"),
        col("c").as("n_common"), col("dega").as("deg_a"),
        col("degb").as("deg_b"), col("jaccard"))
      .orderBy("rank")
      .localCheckpoint(true)
    Dedup.releaseLocalCheckpoint(e0)
    out
  }

  private val LpaRounds = 3

  /** Label propagation communities (synchronous, deterministic): each
    * node starts as its own label; each of the 3 fixed rounds
    * replaces a node's label with the most frequent label among its
    * neighbors, ties toward the SMALLEST label — the deterministic
    * variant of Raghavan et al.'s LPA (async random-order LPA is
    * neither reproducible nor oracle-able). Fixed round count makes
    * it an anytime community sketch, not a convergence loop. Output:
    * community sizes. Per round the plan is edges⋈labels shuffled on
    * the aggregation key, then ONE hash aggregate: max(struct(count,
    * −label)) picks highest-count-then-lowest-label without a window
    * or second pass. Round 1 runs in closed form (the minimum
    * neighbor id, one aggregation, no join); rounds 2..k fuse into
    * one lazy plan k − 1 joins deep, with no per-round checkpoint —
    * only the output is localCheckpointed. Oracle: 3 chained
    * MATERIALIZED CTEs with the same argmax as a row_number. Scale: per-round cost is one edge-scale
    * shuffle — the canonical distributed LPA; the edge frame is the
    * memoized one-time build shared with pagerank/components.
    */
  val lpa = Q(
    "gr_lpa", {
      val rounds = (1 to LpaRounds).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT v, label FROM (
           |    SELECT e.dst AS v, l.label, count(*) AS c,
           |      row_number() OVER (PARTITION BY e.dst
           |        ORDER BY count(*) DESC, l.label) AS rn
           |    FROM edges e JOIN r${i - 1} l ON e.src = l.v
           |    GROUP BY e.dst, l.label) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst FROM lineitem),
         |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |r0 AS (SELECT DISTINCT src AS v, src AS label FROM edges),
         |$rounds
         |SELECT label, CAST(count(*) AS BIGINT) AS n_members
         |FROM r$LpaRounds GROUP BY label ORDER BY label""".stripMargin
    }, PagerankEdges) { (spark, dir) =>
    val edges = edgesWithDeg(spark, dir).select("src", "dst")
    // labels ≤ |V| rows of two longs: under the pagerank broadcast
    // node cap the per-round join replicates labels to the cached
    // edge partitions instead of exchanging the edge list (the sf10
    // leg measured 80 GB of per-round sort-join spill without this);
    // past the cap the plain shuffled join takes over.
    val bcast = underCap(spark, dir)
    // Round 1 in closed form: r0 labels every node with its own id and
    // the edge list is distinct, so each neighbor label appears exactly
    // once and the (count DESC, label ASC) argmax degenerates to the
    // MINIMUM neighbor id — one aggregation, no join, no label frame.
    var labels: DataFrame = edges
      .groupBy(col("dst").as("v")).agg(min(col("src")).as("label"))
    // Rounds 2..k fused into ONE lazy plan: each round's label frame is
    // consumed exactly once (the next round's broadcast build), so lazy
    // chaining duplicates no work while the per-round checkpoint
    // materialization + scheduler barrier disappear (the sf10 leg was
    // barrier-bound, not work-bound). Plan depth stays ≤ k joins —
    // linear, not the self-referencing blowup the CC loop guards
    // against.
    for (_ <- 2 to LpaRounds) {
      val lab = if (bcast) broadcast(labels) else labels
      labels = edges.join(lab, edges("src") === lab("v"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst").as("v"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).as("label"))
    }
    labels.groupBy("label").agg(count(lit(1)).as("n_members"))
      .orderBy("label")
      .localCheckpoint(true)
  }

  /** Degree assortativity — the Pearson correlation of endpoint
    * degrees across edges (Newman 2002): positive = hubs attach to
    * hubs, negative = hub-and-spoke. One number diagnosing the
    * co-purchase graph's mixing structure next to gr_degree_dist's
    * marginal. Serves ENTIRELY from the memoized pagerank edge build,
    * and the source degree is FREE: the cached edge frame already
    * carries `outdeg` on every row, so only the destination degree
    * needs a join — the \|V\|-row degree frame, broadcast under
    * [[BroadcastNodeCap]] (one broadcast join, a linear scan of the
    * cached edges; past the cap a single shuffled join takes over).
    * Under the broadcast path the dst-grouped degree aggregate also
    * reuses the build's dst hash-partitioning, so NO exchange of the
    * edge list exists anywhere in the plan. (The original form
    * re-aggregated degrees and joined them back on BOTH endpoints —
    * two sort-merge exchanges over the full edge list, 19.5 s at
    * sf10 for what one broadcast join serves.)
    * Both edge directions are present, so the corr over directed rows
    * IS the undirected assortativity (each unordered edge contributes
    * its (du,dv) and (dv,du) pair — exactly Newman's symmetrized sum).
    */
  val assortativity = Q(
    "gr_assortativity",
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
       |deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src)
       |SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |  round(1e-9 + avg(a.d), 4) AS avg_src_deg,
       |  round(1e-9 + corr(a.d, b.d), 6) AS assortativity
       |FROM edges e JOIN deg a ON e.src = a.v JOIN deg b ON e.dst = b.v""".stripMargin,
    PagerankEdges) {
    (spark, dir) =>
    val e2 = edgesWithDeg(spark, dir)
    val degDst = e2.groupBy(col("dst")).agg(count(lit(1)).as("d_dst"))
    val degF =
      if (underCap(spark, dir)) broadcast(degDst) else degDst
    e2.join(degF, "dst")
      .agg(count(lit(1)).as("n_edges"),
        round(lit(1e-9) + avg("outdeg"), 4).as("avg_src_deg"),
        round(lit(1e-9) + corr(col("outdeg"), col("d_dst")), 6).as("assortativity"))
  }

  private val ClosenessSeeds = 4
  private val ClosenessMaxHops = 6

  /** Harmonic closeness centrality from K deterministic seeds (the K
    * smallest node ids — sampled-source centrality, the standard
    * tractable estimator; exact all-pairs closeness is O(V·E)): per
    * seed, BFS to 6 hops ([[walk]] from all K seeds at once), then
    * H(s) = Σ_v 1/d(s,v) plus reach count and mean distance. Oracle:
    * one recursive CTE from the K-seed frame whose UNION dedups
    * (seed, node, dist) triples.
    */
  val closeness = Q(
    "gr_closeness",
    s"""WITH RECURSIVE e0 AS (
       |  SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst FROM lineitem),
       |edges AS MATERIALIZED (SELECT src AS u, dst AS v FROM e0
       |  UNION ALL SELECT dst AS u, src AS v FROM e0),
       |seeds AS (SELECT u AS s FROM (SELECT DISTINCT u FROM edges ORDER BY u LIMIT $ClosenessSeeds)),
       |walk(seed, node, dist) AS (
       |  SELECT s, s, 0 FROM seeds
       |  UNION
       |  SELECT w.seed, e.v, w.dist + 1 FROM walk w
       |  JOIN edges e ON e.u = w.node WHERE w.dist < $ClosenessMaxHops),
       |best AS (SELECT seed, node, min(dist) AS dist FROM walk GROUP BY seed, node)
       |SELECT seed,
       |  CAST(count(*) - 1 AS BIGINT) AS n_reached,
       |  round(1e-9 + sum(CASE WHEN dist > 0 THEN 1.0 / dist ELSE 0 END), 6) AS harmonic,
       |  round(1e-9 + avg(CASE WHEN dist > 0 THEN CAST(dist AS DOUBLE) END), 4) AS avg_dist
       |FROM best GROUP BY seed ORDER BY seed""".stripMargin, PagerankEdges)((spark, dir) =>
    closenessWith(spark, dir, walkBroadcasts(spark, dir, 2 * ClosenessSeeds)))

  /** gr_closeness on the broadcast branch the caller picks; the query
    * broadcasts under [[WalkBroadcastBytes]] for its widest frame,
    * the walk's visited masks.
    */
  private[graft] def closenessWith(spark: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val edges = edgesWithDeg(spark, dir).select(col("src").as("u"), col("dst").as("v"))
    val seeds = seedsOf(edges, "u", ClosenessSeeds)
    if (seeds.isEmpty) {
      val s = spark
      import s.implicits._
      Seq.empty[(Long, Long, Double, Double)]
        .toDF("seed", "n_reached", "harmonic", "avg_dist")
    } else {
      val levels = walk(edges, seeds, ClosenessMaxHops, max(_), bcast)
      // unpack the seed columns to (seed, dist) rows only for the final
      // bounded agg
      val seedArr = array(seeds.indices.map { i =>
        when(col(s"s$i") > 0, lit(seeds(i)))
      }: _*)
      val perSeed = levels.zipWithIndex.map { case (f, d) =>
        f.select(lit(d).as("dist"),
          explode(filter(seedArr, x => x.isNotNull)).as("seed"))
      }.reduce(_ union _)
      val out = perSeed
        .groupBy("seed")
        .agg((count(lit(1)) - 1).as("n_reached"),
          round(lit(1e-9) + sum(when(col("dist") > 0, lit(1.0) / col("dist"))
            .otherwise(lit(0d))), 6).as("harmonic"),
          round(lit(1e-9) + avg(when(col("dist") > 0, col("dist").cast("double"))), 4)
            .as("avg_dist"))
        .orderBy("seed")
        .localCheckpoint(true)
      levels.foreach(Dedup.releaseLocalCheckpoint)
      out
    }
  }

  private val BetwMaxHops = 4

  /** Sampled betweenness centrality (Brandes 2001 from the same K
    * deterministic seeds as gr_closeness, depth-bounded at 4 hops) —
    * completing the centrality family (degree → pagerank → closeness
    * → betweenness). Forward: [[walk]] with σ summed over incoming
    * previous-level edges — integer path counts, engine-exact.
    * Backward: Brandes' dependency accumulation level by level over
    * the same stored level frames,
    * δ(u) = Σ_{u→v, v one level deeper} σ(u)/σ(v) · (1 + δ(v)), and
    * betweenness(v) = Σ over seeds and levels ≥ 1 of δ — the standard
    * tractable estimator (exact betweenness is O(V·E)). Oracle: the
    * identical forward levels and backward recurrences macro-expanded
    * as chained CTEs (the pagerank unroll discipline); only rounded
    * positive nodes emit. Driver-side Brandes replay pinned in
    * GraphSpec.
    */
  val betweenness = Q(
    "gr_betweenness", {
      val fwd = (1 to BetwMaxHops).map { d =>
        s"""f$d AS (
           |  SELECT f.seed, e.dst AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
           |  FROM f${d - 1} f JOIN edges e ON e.src = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM vis${d - 1} v
           |    WHERE v.seed = f.seed AND v.node = e.dst)
           |  GROUP BY f.seed, e.dst),
           |vis$d AS (SELECT seed, node FROM vis${d - 1}
           |  UNION ALL SELECT seed, node FROM f$d)""".stripMargin
      }.mkString(",\n")
      val back = (BetwMaxHops - 1 to 0 by -1).map { d =>
        s"""d$d AS (
           |  SELECT f.seed, f.node, f.sigma,
           |    coalesce(sum(CAST(f.sigma AS DOUBLE) / n.sigma * (1 + n.delta)), 0)
           |      AS delta
           |  FROM f$d f JOIN edges e ON e.src = f.node
           |  LEFT JOIN d${d + 1} n ON n.seed = f.seed AND n.node = e.dst
           |  GROUP BY f.seed, f.node, f.sigma)""".stripMargin
      }.mkString(",\n")
      val levels = (1 to BetwMaxHops).map(d => s"SELECT node, delta FROM d$d")
        .mkString(" UNION ALL ")
      s"""WITH e0 AS (
         |  SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst FROM lineitem),
         |edges AS MATERIALIZED (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |seeds AS (SELECT u AS s FROM (SELECT DISTINCT src AS u FROM edges ORDER BY u LIMIT $ClosenessSeeds)),
         |f0 AS (SELECT s AS seed, s AS node, CAST(1 AS BIGINT) AS sigma FROM seeds),
         |vis0 AS (SELECT seed, node FROM f0),
         |$fwd,
         |d$BetwMaxHops AS (
         |  SELECT seed, node, sigma, CAST(0 AS DOUBLE) AS delta FROM f$BetwMaxHops),
         |$back
         |SELECT node, round(1e-9 + sum(delta), 6) AS betweenness
         |FROM ($levels)
         |GROUP BY node
         |HAVING round(1e-9 + sum(delta), 6) > 0
         |ORDER BY node""".stripMargin
    }, PagerankEdges)((spark, dir) =>
      betweennessWith(spark, dir, walkBroadcasts(spark, dir, 2 * ClosenessSeeds + 1)))

  /** gr_betweenness on the broadcast branch the caller picks; the query
    * broadcasts under [[WalkBroadcastBytes]] for its widest frame, the
    * backward pass's node + K σ + K δ columns.
    */
  private[graft] def betweennessWith(spark: SparkSession, dir: String,
      bcast: Boolean): DataFrame = {
    val edges = edgesWithDeg(spark, dir).select(col("src").as("u"), col("dst").as("v"))
    val seeds = seedsOf(edges, "u", ClosenessSeeds)
    val k = seeds.length
    def maybeBroadcast(df: DataFrame) = if (bcast) broadcast(df) else df
    if (seeds.isEmpty) {
      val s = spark
      import s.implicits._
      Seq.empty[(Long, Double)].toDF("node", "betweenness")
    } else {
      val sigCols = (0 until k).map(i => s"s$i")
      val fs = walk(edges, seeds, BetwMaxHops, sum(_), bcast)
      val depth = fs.length - 1
      // backward: Brandes dependency accumulation per seed column over
      // the same stored level frames. LAZY checkpoints: each level is
      // materialized by the next level's broadcast build (the final
      // union then reads the stored blocks) — the former eager
      // checkpoints ran one extra driver-blocking job per level.
      var deltas = Vector(fs(depth)
        .select(col("node") +: (sigCols.map(col) ++
          (0 until k).map(i => lit(0.0).as(s"d$i"))): _*)
        .localCheckpoint(false))
      for (d <- depth - 1 to 0 by -1) {
        val deeper = deltas.head.select(col("node").as("v") +:
          ((0 until k).map(i => col(s"s$i").as(s"t$i")) ++
            (0 until k).map(i => col(s"d$i").as(s"e$i"))): _*)
        val dd = fs(d).select(col("node").as("u") +: sigCols.map(col): _*)
          .join(edges, "u")
          .join(maybeBroadcast(deeper), Seq("v"), "left")
          .groupBy(col("u").as("node") +: sigCols.map(col): _*)
          .agg(
            deltaAgg(0), (1 until k).map(deltaAgg): _*)
          .localCheckpoint(false)
        // past the broadcast gate nothing materializes this level before
        // the final action, whose readers could each recompute it
        if (!bcast) dd.count()
        deltas +:= dd
      }
      val out = deltas.drop(1) // level 0 is the seed itself — excluded
        .map(_.select(col("node"),
          (0 until k).map(i => col(s"d$i")).reduce(_ + _).as("delta")))
        .reduce(_ union _)
        .groupBy("node")
        .agg(round(lit(1e-9) + sum("delta"), 6).as("betweenness"))
        .filter(col("betweenness") > 0)
        .orderBy("node")
        .localCheckpoint(true)
      (fs ++ deltas).foreach(Dedup.releaseLocalCheckpoint)
      out
    }
  }

  /** One seed's backward-accumulation aggregate: u at level d (s_i>0)
    * collects σ_u/σ_v·(1+δ_v) over deeper neighbors on the same
    * seed's tree (t_i>0); empty sums coalesce to 0.
    */
  private def deltaAgg(i: Int): Column =
    coalesce(sum(when(col(s"t$i") > 0 && col(s"s$i") > 0,
      col(s"s$i").cast("double") / col(s"t$i") * (lit(1.0) + col(s"e$i")))),
      lit(0.0)).as(s"d$i")

  private val PprIters = 6
  private val PprSeeds = 4

  /** Per-seed teleport mass: the 0.15 restart probability split over
    * the 4 seeds. 0.0375 parses to the identical double in both
    * engines (one literal, no arithmetic to order-diverge).
    */
  private val PprTele = 0.0375

  /** Personalized PageRank from the 4 smallest node ids — TrustRank's
    * seed-propagation shape (Gyöngyi et al.): restart mass returns to
    * a trusted SEED SET instead of uniformly, so rank measures
    * proximity-weighted reachability from the seeds — the
    * crawl-corpus trust/quality weight a pipeline derives from a
    * whitelist, and the graph-local relevance score global
    * gr_pagerank cannot express (its stationary mass is
    * seed-agnostic). 6 damped iterations:
    *   r' = 0.15·χ_S/\|S\| + 0.85·Σ r/outdeg
    * over the SAME memoized bidirectional edge build as pagerank —
    * no new corpus scan, no new edge cache.
    *
    * Plan shape: gr_pagerank's exactly — ranks stay a FULL \|V\|-row
    * frame (seeds 0.25, rest 0.0: the flow aggregate then emits every
    * node each round since in-degree ≥ 1, so the teleport term is a
    * map-side isin over the 4 driver-collected seed ids and no
    * union/re-aggregation ever breaks the in-place dst partitioning),
    * per-iteration zero exchanges on the broadcast path, lazy
    * localCheckpoint per round. The sparse-frontier alternative
    * (carry only nonzero ranks) was REJECTED: re-injecting teleport
    * rows for flow-less seeds needs a full-outer join that cannot
    * broadcast, costing a \|V\|-row exchange per iteration — more
    * than the zeros cost.
    */
  val ppr = Q(
    "gr_ppr", {
      val iters = (1 to PprIters).map { i =>
        s"""r$i AS (SELECT e2.dst AS node,
           |  (CASE WHEN e2.dst IN (SELECT node FROM sd) THEN CAST($PprTele AS DOUBLE)
           |    ELSE CAST(0 AS DOUBLE) END)
           |  + CAST($Damping AS DOUBLE) * sum(r.rank / e2.outdeg) AS rank
           |  FROM e2 JOIN r${i - 1} r ON e2.src = r.node GROUP BY e2.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst FROM lineitem
         |),
         |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
         |e2 AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src),
         |sd AS (SELECT src AS node FROM (SELECT DISTINCT src FROM deg ORDER BY src LIMIT $PprSeeds)),
         |r0 AS (SELECT src AS node,
         |  CASE WHEN src IN (SELECT node FROM sd) THEN CAST(0.25 AS DOUBLE)
         |    ELSE CAST(0 AS DOUBLE) END AS rank FROM deg),
         |$iters
         |SELECT node, round(1e-9 + rank, 6) AS rank
         |FROM r$PprIters
         |ORDER BY node""".stripMargin
    }, PagerankEdges)((spark, dir) => pprWith(spark, dir, underCap(spark, dir)))

  private[graft] def pprWith(spark: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val e2 = edgesWithDeg(spark, dir)
    val seedIds = seedsOf(e2, "src", PprSeeds)
    val r0 = e2.select(col("src").as("node")).distinct()
      .select(col("node"),
        when(col("node").isin(seedIds: _*), lit(0.25)).otherwise(lit(0.0)).as("rank"))
    val tele = when(col("dst").isin(seedIds: _*), lit(PprTele)).otherwise(lit(0.0))
    val (_, ranks) = dampedRanks(e2, r0, PprIters, tele, bcast)
    ranks.select(col("node"), round(lit(1e-9) + col("rank"), 6).as("rank"))
      .orderBy("node")
  }

  private val HitsIters = 5

  /** HITS hubs & authorities (Kleinberg) on the DIRECTED bipartite
    * co-purchase graph — parts point at the suppliers that stock
    * them, so hubs are parts whose suppliers are authoritative and
    * authorities are suppliers stocked by strong hubs: the mutual
    * recursion PageRank's single stationary score cannot express
    * (gr_pagerank ranks one symmetrized quantity; HITS separates the
    * two ROLES of the bipartite graph). 5 rounds of
    *   a = Eᵀh / ‖Eᵀh‖₂,  h = Ea / ‖Ea‖₂.
    *
    * Plan shape: serves ENTIRELY from the memoized BIDIRECTIONAL
    * edge cache — the p→s rows drive the authority step and the s→p
    * rows ARE the transpose, so BOTH half-steps aggregate on the
    * cache's dst partitioning IN PLACE under a broadcast of the
    * |V|-row score frame (the gr_pagerank zero-exchange trick, twice
    * per round); normalization happens ONCE at the end (scale-invariant
    * recursion — see the loop comment), so each round is exactly one
    * join+aggregate per half-step. The half-steps run through
    * [[rounds]], whose checkpoints keep the composed plan one
    * half-step deep. Only FINAL scores round (6 dp);
    * end-vs-per-round normalization drifts ~1e-15 across engines'
    * partial-sum orders, far under the nudge.
    */
  val hits = Q(
    "gr_hits", {
      val rounds = (1 to HitsIters).map { i =>
        s"""a${i}r AS MATERIALIZED (SELECT e.s AS node, sum(h${i - 1}.x) AS x
           |  FROM e0 e JOIN h${i - 1} ON h${i - 1}.node = e.p GROUP BY e.s),
           |a${i}n AS (SELECT sqrt(sum(x * x)) AS nm FROM a${i}r),
           |a$i AS MATERIALIZED (SELECT node, x / nm AS x FROM a${i}r, a${i}n),
           |h${i}r AS MATERIALIZED (SELECT e.p AS node, sum(a$i.x) AS x
           |  FROM e0 e JOIN a$i ON a$i.node = e.s GROUP BY e.p),
           |h${i}n AS (SELECT sqrt(sum(x * x)) AS nm FROM h${i}r),
           |h$i AS MATERIALIZED (SELECT node, x / nm AS x FROM h${i}r, h${i}n)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT l_partkey AS p, l_suppkey + $SuppOffset AS s FROM lineitem
         |),
         |h0 AS MATERIALIZED (SELECT DISTINCT p AS node, CAST(1 AS DOUBLE) AS x FROM e0),
         |$rounds
         |SELECT node, kind, round(1e-9 + x, 6) AS score FROM (
         |  SELECT node, 'hub' AS kind, x FROM h$HitsIters
         |  UNION ALL
         |  SELECT node, 'authority' AS kind, x FROM a$HitsIters)
         |ORDER BY kind, node""".stripMargin
    }, PagerankEdges)((spark, dir) => hitsWith(spark, dir, underCap(spark, dir)))

  private[graft] def hitsWith(spark: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val e2 = edgesWithDeg(spark, dir)
    def normalize(raw: DataFrame): DataFrame = {
      val nm = raw.agg(sqrt(sum(col("rank") * col("rank"))).as("nm"))
      raw.crossJoin(broadcast(nm)).select(col("node"), (col("rank") / col("nm")).as("x"))
    }
    // Iterate UNNORMALIZED: the per-round L2 division is scale-invariant
    // (a_i ∝ (EᵀE)^… h0 regardless of interleaved scaling), so one
    // normalize at the END is algebraically identical and drops the 2
    // norm aggregations + divisions per round — the per-round barriers
    // the r12 audit flagged. Double range absorbs the growth (≤ ~1e30
    // after 10 half-steps at sf10); fp drift vs the oracle's per-round
    // division is ~1e-15, far under the 1e-9 round nudge.
    // Half-steps alternate by themselves: from hub (part) scores the
    // p→s rows give a, from authority (supplier) scores the s→p rows h.
    val h0 = e2.filter(col("src") < SuppOffset).select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).as("rank"))
    val (a, h) = rounds(e2, h0, 2 * HitsIters, sum("rank"), bcast)
    normalize(h).select(col("node"), lit("hub").as("kind"), col("x"))
      .unionByName(
        normalize(a).select(col("node"), lit("authority").as("kind"), col("x")))
      .select(col("node"), col("kind"), round(lit(1e-9) + col("x"), 6).as("score"))
      .orderBy("kind", "node")
  }

  private val WarmIters = 2

  /** One-time base build for INCREMENTAL PageRank: the standing
    * artifacts a continuous-ingest graph service keeps between delta
    * batches — the base edge frame with degrees (dst-partitioned, the
    * iteration cache), the one-direction pair INDEX (hash-partitioned
    * on (src,dst) so a delta probe shuffles only the delta), the base
    * degree frame, and the CONVERGED 10-iteration rank vector. The
    * 10 base iterations run here, billed as a build — the serve path
    * never re-pays them.
    */
  private[graft] def prIncrFrames(spark: SparkSession, dir: String): Seq[DataFrame] =
    graft.SessionMemo.frames(spark, s"graph.prIncrBase:$dir") {
      val base0 = Tables.lineitem(spark, dir)
        .filter(col("l_orderkey") % 10 < 8)
        .select(col("l_partkey").as("src"), (col("l_suppkey") + SuppOffset).as("dst"))
        .distinct()
      val basePairs = base0.repartition(col("src"), col("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val baseE = base0.union(base0.select(col("dst").as("src"), col("src").as("dst")))
      val baseDeg = baseE.groupBy("src").agg(count(lit(1)).as("outdeg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nV = baseDeg.count()
      vCounts.put((spark, s"prIncr:$dir"), nV)
      val bcast = nV <= BroadcastNodeCap
      val baseE2 = baseE.join(baseDeg, "src")
        .repartition(if (bcast) col("dst") else col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      baseE2.count()
      basePairs.count()
      // converged stored ranks: the same zero-exchange loop gr_pagerank
      // runs, executed ONCE at build time
      val (penult, last) = dampedRanks(baseE2,
        baseDeg.select(col("src").as("node"), lit(1.0).as("rank")), Iters, lit(0.15), bcast)
      val baseRanks = last
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      baseRanks.count()
      if (bcast) Dedup.releaseLocalCheckpoint(penult)
      Seq(baseE2, basePairs, baseDeg, baseRanks)
    }
  val PagerankIncrBase = Build("pagerank_incr_base", prIncrFrames)

  /** The incremental oracle replays the full algebra: 10 base
    * iterations, then the delta merge and [[WarmIters]] warm rounds
    * on the combined graph. Frames referenced by every unrolled level
    * are MATERIALIZED (DuckDB inlines CTEs — a multiply-referenced
    * level re-evaluates exponentially otherwise).
    */
  private def prIncrOracle: String = {
    val baseIters = (1 to Iters).map { i =>
      s"""b$i AS (SELECT e.dst AS node,
         |  CAST(0.15 AS DOUBLE) + CAST($Damping AS DOUBLE) * sum(r.rank / e.outdeg) AS rank
         |  FROM be2 e JOIN b${i - 1} r ON e.src = r.node GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    val warmIters = (1 to WarmIters).map { i =>
      s"""w$i AS (SELECT e.dst AS node,
         |  CAST(0.15 AS DOUBLE) + CAST($Damping AS DOUBLE) * sum(r.rank / e.outdeg) AS rank
         |  FROM ce2 e JOIN w${i - 1} r ON e.src = r.node GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH base0 AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst
       |  FROM lineitem WHERE l_orderkey % 10 < 8),
       |delta0 AS (
       |  SELECT DISTINCT l_partkey AS src, l_suppkey + $SuppOffset AS dst
       |  FROM lineitem WHERE l_orderkey % 10 >= 8),
       |new0 AS MATERIALIZED (
       |  SELECT src, dst FROM delta0 d
       |  WHERE NOT EXISTS (SELECT 1 FROM base0 b WHERE b.src = d.src AND b.dst = d.dst)),
       |baseE AS MATERIALIZED (
       |  SELECT src, dst FROM base0 UNION ALL SELECT dst AS src, src AS dst FROM base0),
       |bdeg AS MATERIALIZED (
       |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM baseE GROUP BY src),
       |be2 AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.outdeg FROM baseE e JOIN bdeg d ON e.src = d.src),
       |b0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM bdeg),
       |$baseIters,
       |newE AS MATERIALIZED (
       |  SELECT src, dst FROM new0 UNION ALL SELECT dst AS src, src AS dst FROM new0),
       |combE AS MATERIALIZED (
       |  SELECT src, dst FROM baseE UNION ALL SELECT src, dst FROM newE),
       |cdeg AS MATERIALIZED (
       |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM combE GROUP BY src),
       |ce2 AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.outdeg FROM combE e JOIN cdeg d ON e.src = d.src),
       |w0 AS (
       |  SELECT node, rank FROM b$Iters
       |  UNION ALL
       |  SELECT n.src AS node, CAST(1.0 AS DOUBLE) AS rank
       |  FROM (SELECT DISTINCT src FROM newE) n
       |  WHERE NOT EXISTS (SELECT 1 FROM bdeg b WHERE b.src = n.src)),
       |$warmIters
       |SELECT node, round(1e-9 + rank, 6) AS rank
       |FROM w$WarmIters
       |ORDER BY node""".stripMargin
  }

  /** INCREMENTAL PageRank — the missing incremental member of the
    * graph family (every index family here has one: dd_incremental,
    * ann_refresh, ix_bm25_incremental, mm_phash_incremental). A DELTA
    * edge batch (lineitem rows with l_orderkey % 10 ≥ 8 playing
    * "today's ingest") is merged against the STANDING artifacts of
    * the base graph (the other 80%) without re-running the 10 base
    * iterations or rescanning base edges:
    *
    *  - new edges = delta pairs anti-joined against the pair INDEX
    *    (hash-partitioned on the key → only the delta shuffles);
    *  - degrees update ALGEBRAICALLY: only srcs touched by new edges
    *    change, so a small broadcast patch rewrites outdeg on the
    *    cached dst-partitioned base edge frame IN PLACE (broadcast
    *    join preserves the cache's partitioning — the per-round
    *    aggregation still runs with zero exchange);
    *  - ranks WARM-START from the stored converged vector (new nodes
    *    enter at the 1.0 cold value) and run [[WarmIters]] damped
    *    rounds on the combined graph, each round decomposed into the
    *    zero-exchange base-edge aggregation plus a tiny new-edge
    *    aggregation merged by broadcast — per-batch cost is
    *    O(|delta|) + 2 map passes over the cached edges, vs 10 full
    *    iterations for a cold rebuild.
    *
    * Approximation posture: every node of the combined graph has
    * outdegree ≥ 1, so a damped round is a λ-contraction in L1
    * (λ = 0.85) and 2 warm rounds bound the residual by λ²·‖w₀ − r*‖₁;
    * PrIncrSpec pins that bound against a 60-round cold run.
    * The ORACLE is exact — DuckDB replays the identical algebra.
    */
  val pagerankIncremental = Q("gr_pagerank_incremental", prIncrOracle,
      PagerankIncrBase) { (spark, dir) =>
    val Seq(baseE2, basePairs, baseDeg, baseRanks) = prIncrFrames(spark, dir)
    val bcast = Option(vCounts.get((spark, s"prIncr:$dir")))
      .map(_.longValue()).getOrElse(baseDeg.count()) <= BroadcastNodeCap
    val delta0 = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 10 >= 8)
      .select(col("l_partkey").as("src"), (col("l_suppkey") + SuppOffset).as("dst"))
      .distinct()
    val newPairs = delta0.join(basePairs, Seq("src", "dst"), "left_anti")
    val intermediates = scala.collection.mutable.Buffer[DataFrame]()
    // LAZY checkpoints for the batch scratch: each is materialized once
    // by the first round's broadcast-build job and then served from its
    // blocks — the former EAGER checkpoints here and on sNew ran one
    // extra driver-blocking job apiece (4 of the serve path's ~8 jobs)
    // for frames the rounds were about to materialize anyway.
    val newE = newPairs
      .union(newPairs.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(false) // small; consumed by deg patch + every round
    intermediates += newE
    val degDelta = newE.groupBy("src").agg(count(lit(1)).as("ddeg"))
    // combined degree for the CHANGED srcs only — semi-probe the base
    // degree frame with the broadcast delta keys, then merge (small)
    val baseDegChanged = baseDeg
      .join(broadcast(degDelta.select("src")), Seq("src"), "left_semi")
    val changed = degDelta.join(baseDegChanged, Seq("src"), "left")
      .select(col("src"),
        (coalesce(col("outdeg"), lit(0L)) + col("ddeg")).as("cdeg"),
        col("outdeg").isNull.as("is_new"))
      .localCheckpoint(false)
    intermediates += changed
    val patch = changed.select("src", "cdeg")
    // broadcast left join preserves the cache's dst partitioning
    val patchedBase = baseE2.join(broadcast(patch), Seq("src"), "left")
      .select(col("src"), col("dst"), coalesce(col("cdeg"), col("outdeg")).as("outdeg"))
    val newE2 = newE.join(broadcast(patch), Seq("src"))
      .select(col("src"), col("dst"), col("cdeg").as("outdeg"))
    val newNodes = changed.filter(col("is_new")).select(col("src").as("node"))
    var r: DataFrame = baseRanks
      .unionByName(newNodes.select(col("node"), lit(1.0).as("rank")))
    for (it <- 1 to WarmIters) {
      val prev = r.withColumnRenamed("node", "src")
      val next = if (bcast) {
        val sBase = patchedBase.join(broadcast(prev), "src")
          .groupBy("dst").agg(sum(col("rank") / col("outdeg")).as("s"))
        val sNew = newE2.join(broadcast(prev), "src")
          .groupBy("dst").agg(sum(col("rank") / col("outdeg")).as("sn"))
          .localCheckpoint(false) // tiny; consumed twice below
        intermediates += sNew
        val nextBase = sBase.join(broadcast(sNew), Seq("dst"), "left")
          .select(col("dst").as("node"),
            (lit(0.15) + lit(Damping) * (col("s") + coalesce(col("sn"), lit(0.0))))
              .as("rank"))
        val nextNew = sNew
          .join(broadcast(newNodes), col("dst") === col("node"), "left_semi")
          .select(col("dst").as("node"),
            (lit(0.15) + lit(Damping) * col("sn")).as("rank"))
        nextBase.union(nextNew)
      } else {
        // fallback past the broadcast gate: ONE explicit |V|-row
        // exchange of the ranks, shared by both legs (the two joins'
        // exchange subtrees canonicalize equal → ReuseExchange); the
        // src-partitioned base cache then streams against it with no
        // edge exchange, and the dst aggregation's map-side combine
        // bounds the remaining shuffle by |V|·partitions. (The
        // union-first shape this replaces destroyed the cache
        // partitioning and re-exchanged the FULL edge frame on src
        // every round.)
        val prevP = prev.repartition(col("src"))
        val contrib = (col("rank") / col("outdeg")).as("contrib")
        patchedBase.join(prevP.hint("SHUFFLE_HASH"), "src").select(col("dst"), contrib)
          .union(newE2.join(prevP.hint("SHUFFLE_HASH"), "src").select(col("dst"), contrib))
          .groupBy("dst")
          .agg((lit(0.15) + lit(Damping) * sum(col("contrib"))).as("rank"))
          .select(col("dst").as("node"), col("rank"))
      }
      r = if (it < WarmIters) {
        val ck = next.localCheckpoint(false); intermediates += ck; ck
      } else next
    }
    val out = r
      .select(col("node"), round(lit(1e-9) + col("rank"), 6).as("rank"))
      .orderBy("node")
      .localCheckpoint(true) // materialize, then free the batch scratch
    intermediates.foreach(Dedup.releaseLocalCheckpoint)
    out
  }

  val all: Seq[Q] = Seq(pagerank, triangles, components, kcore, bfs, degreeDist,
    jaccardLinks, lpa, assortativity, closeness, betweenness, ppr, hits,
    pagerankIncremental)
}
