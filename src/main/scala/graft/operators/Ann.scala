package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the embedding column:
  *  - brute-force cosine top-k (correctness baseline; query side is
  *    tiny and broadcast, corpus side is map-only score + per-query
  *    top-k — no global sort);
  *  - random-hyperplane banded LSH (the 100 TB path: candidates are
  *    restricted to rows sharing ≥1 of the query's 4 8-bit band keys,
  *    with oversized buckets dropped);
  *  - embedding-cosine near-duplicate pairs via the same bands.
  *
  * Hyperplanes are deterministic small-integer vectors (derived from
  * a fixed affine formula) so the DuckDB oracle reproduces bucket ids
  * exactly — float dot products with integer weights are bit-stable.
  */
object Ann {

  val Dim = 64
  val NumPlanes = 8
  val TopK = 10
  val NumQueries = 5
  val NearDupThreshold = 0.3

  /** dd_embed banding: 4 bands of 8-16 bits each — the band WIDTH
    * grows with the corpus (like the IVF nlist = √N sizing, and
    * computed from count(*) in the oracle the same way): p planes
    * keep the EXPECTED bucket at N/2^p ≤ 8 members, so the chance
    * that two unrelated vectors share a band key — the term that
    * made candidate volume quadratic when a fixed 8-bit key space
    * saturated at 100× (round-9 sf10 run: dd_embed 165 s) — halves
    * with every corpus doubling instead of compounding. Bits 0-7 of
    * every band key use the ORIGINAL plane indexes, so at small N
    * (p = 8) the keys are bit-identical to the historical ones;
    * bits 8-15 draw from fresh planes 32-63. Oversized buckets are
    * still dropped (Dedup.BucketCap) as the skew backstop.
    */
  val PlanesPerBand = 8       // base width; also the small-N behavior
  val MaxPlanesPerBand = 16
  val EmbedBands = 4

  /** Doubling thresholds: band width = 8 + |{t : N > t}|, i.e. the
    * smallest p in [8, 16] with 2^p · 8 ≥ N (integer comparisons
    * only — a log2 boundary could round differently across engines).
    */
  private val BandWidthSteps: Seq[Long] =
    (0 until (MaxPlanesPerBand - PlanesPerBand)).map(i => 2048L << i)

  private[graft] def bandPlanesFor(n: Long): Int =
    PlanesPerBand + BandWidthSteps.count(n > _)

  /** Plane k, dim i weight: ((k*67 + i*31) mod 13) - 6 ∈ [-6, 6]. */
  private def planeWeight(k: Int, i: Int): Int = ((k * 67 + i * 31) % 13) - 6

  /** Bit j of band b reads plane: legacy indexes 0-31 for the first
    * 8 bits (small-N keys stay bit-identical), fresh planes 32-63
    * for the widened bits.
    */
  private def planeIndex(b: Int, j: Int): Int =
    if (j < PlanesPerBand) b * PlanesPerBand + j
    else EmbedBands * PlanesPerBand + b * PlanesPerBand + (j - PlanesPerBand)

  // ═══════ Spark side ═══════

  private[graft] def dotC(a: Column, b: Column): Column =
    graft.functions.HashExprs.dot_product(a, b)

  private def embDbl(c: Column): Column = transform(c, x => x.cast("double"))

  private def planeCol(k: Int): Column =
    typedLit((0 until Dim).map(i => planeWeight(k, i).toDouble))

  /** Band `b`'s `planes`-bit key: sign pattern of its planes. At
    * planes = 8 this is the historical key exactly.
    */
  private def bandKeyCol(e: Column, b: Int, planes: Int): Column =
    (0 until planes).map { j =>
      when(dotC(e, planeCol(planeIndex(b, j))) > 0d, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Zero-norm vectors are EXCLUDED from the cosine corpus: a zero
    * vector has no direction, its cosine is 0/0, and the two engines
    * disagree on NaN comparisons (IEEE predicates in Spark vs NaN
    * sorting above every value in DuckDB) — the fuzz sweep's
    * zero-vector class would silently diverge. Mirrored in corpusSql.
    */
  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      embDbl(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dotC(col("e"), col("e"))))
      .filter(col("nrm") > 0d)

  // ═══════ DuckDB side ═══════

  private def planeSql(k: Int): String =
    (0 until Dim).map(i => s"CAST(${planeWeight(k, i)} AS DOUBLE)").mkString("[", ", ", "]")

  /** The corpus-size-adaptive band width as SQL — a scalar subquery
    * over the corpus CTE `c`, the same integer comparison chain as
    * bandPlanesFor, so both engines derive the identical width from
    * the identical count.
    */
  private val bandPlanesSubSql: String =
    BandWidthSteps
      .map(t => s"(CASE WHEN count(*) > $t THEN 1 ELSE 0 END)")
      .mkString(s"(SELECT $PlanesPerBand + ", " + ", " FROM c)")

  /** Band key SQL: the full 16-bit sign pattern masked down to the
    * adaptive width ((1 << planes) - 1 keeps exactly bits [0, planes)
    * — the same key bandKeyCol builds by summing only those bits).
    */
  private def bandKeySql(b: Int): String = {
    val full = (0 until MaxPlanesPerBand).map { j =>
      s"CASE WHEN list_dot_product(e, ${planeSql(planeIndex(b, j))}) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
    }.mkString("(", " + ", ")")
    s"($full & ((CAST(1 AS BIGINT) << $bandPlanesSubSql) - 1))"
  }

  private[graft] val corpusSql: String =
    s"""SELECT * FROM (
       |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |) WHERE nrm > 0""".stripMargin

  // ═══════════════ queries ═══════════════

  /** Hard cap on the brute-force query count — see the ann_topk note. */
  val MaxBruteForceQueries = 64

  /** Brute-force cosine top-10 for the first `numQueries` vectors.
    *
    * VALIDATION BASELINE, not a production path: the row_number window
    * ranks the ENTIRE corpus per query, and Spark executes each
    * query's partition as ONE task — per-query work and memory are
    * O(N), unbounded by any heap. Its job is to be obviously-correct
    * ground truth that the scale paths (ann_topk_agg's bounded heap,
    * and the IVF/PQ/LSH family) are cross-validated against in
    * AnnRecallSpec. The require() below keeps it from being
    * pointed at a production-sized query set by accident; raise
    * MaxBruteForceQueries consciously if a larger validation sweep is
    * ever needed.
    */
  private[graft] def bruteTopkWith(spark: SparkSession, dir: String, numQueries: Int): DataFrame = {
    require(numQueries <= MaxBruteForceQueries,
      s"ann_topk is a validation baseline (single-task full-corpus sort per query); " +
        s"$numQueries queries exceeds MaxBruteForceQueries=$MaxBruteForceQueries — " +
        s"use ann_topk_agg / ann_ivf for production query sets")
    val c = corpus(spark, dir)
    val q = c.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val scored = broadcast(q).join(c, col("vec_id") =!= col("query_id"))
      .withColumn("cos_raw", dotC(col("qe"), col("e")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(lit(1e-9) + col("cos_raw"), 6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  val topk = Q(
    "ann_topk",
    s"""WITH c AS ($corpusSql),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM c WHERE vec_id < $NumQueries)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    round(1e-9 + list_dot_product(qe, e) / (qn * nrm), 6) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_dot_product(qe, e) / (qn * nrm) DESC, c.vec_id) AS BIGINT) AS rank
       |  FROM q, c
       |  WHERE c.vec_id != q.query_id
       |) WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    bruteTopkWith(spark, dir, NumQueries)
  }

  /** Brute-force top-k via the custom bounded-heap aggregate
    * (graft.functions.TopKByScore) instead of a row_number window:
    * the window sorts every candidate score per query, the aggregate
    * carries at most k entries per partition and merges map-side —
    * shuffle is O(queries·k), not O(candidates). Same results, same
    * oracle as ann_topk.
    */
  val topkAgg = Q(
    "ann_topk_agg",
    topk.oracle.get) { (spark, dir) =>
    val c = corpus(spark, dir)
    val q = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val scored = broadcast(q).join(c, col("vec_id") =!= col("query_id"))
      .withColumn("cos_raw", dotC(col("qe"), col("e")) / (col("qn") * col("nrm")))
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk_by_score(col("cos_raw"), col("vec_id"), TopK).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        round(lit(1e-9) + col("e.score"), 6).as("cosine"), col("e.rank").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** ann_topk_agg's bounded-heap route and oracle under a second
    * registered id.
    */
  val topkPlan = topkAgg.copy(name = "ann_topk_plan")

  /** LSH-bucketed ANN: candidates share ≥1 of the 4 8-bit hyperplane
    * bands with the query — multi-band lookup has far better recall
    * than a single exact bucket (whose collision probability decays
    * exponentially in plane count), while oversized corpus buckets
    * are dropped (Dedup.BucketCap) so one dense cell cannot blow up
    * every lookup. The band keys would be precomputed corpus columns
    * in production; candidates are deduplicated per (query, vec)
    * before scoring.
    */
  val lshTopk = Q(
    "ann_lsh",
    s"""WITH c AS ($corpusSql),
       |banded0 AS (
       |  ${(0 until EmbedBands).map(b => s"SELECT vec_id, $b AS band, ${bandKeySql(b)} AS key FROM c").mkString("\n  UNION ALL\n  ")}
       |),
       |small AS (
       |  SELECT band, key FROM banded0 GROUP BY band, key
       |  HAVING count(*) <= ${Dedup.BucketCap}
       |),
       |banded AS (SELECT banded0.* FROM banded0 JOIN small USING (band, key)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM banded q JOIN banded c
       |    ON q.band = c.band AND q.key = c.key AND c.vec_id != q.vec_id
       |  WHERE q.vec_id < $NumQueries
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    round(1e-9 + list_dot_product(cq.e, cc.e) / (cq.nrm * cc.nrm), 6) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY list_dot_product(cq.e, cc.e) / (cq.nrm * cc.nrm) DESC, cand.neighbor_id) AS BIGINT) AS rank
       |  FROM cand
       |  JOIN c cq ON cq.vec_id = cand.query_id
       |  JOIN c cc ON cc.vec_id = cand.neighbor_id
       |) WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val c = corpus(spark, dir)
    val planes = bandPlanesFor(c.count())
    val banded = c.select(col("vec_id"),
      explode(array((0 until EmbedBands).map { b =>
        struct(lit(b).as("band"), bandKeyCol(col("e"), b, planes).as("key"))
      }: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val capped = Dedup.dropOversizedBuckets(banded, Seq("band", "key"), Dedup.BucketCap)
    val qb = capped.filter(col("vec_id") < NumQueries)
      .select(col("band"), col("key"), col("vec_id").as("query_id"))
    val cand = broadcast(qb)
      .join(capped.select(col("band"), col("key"), col("vec_id").as("neighbor_id")),
        Seq("band", "key"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cand
      .join(broadcast(c.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))),
        Seq("query_id"))
      .join(c.select(col("vec_id").as("neighbor_id"), col("e"), col("nrm")), Seq("neighbor_id"))
      .withColumn("cos_raw", dotC(col("qe"), col("e")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"),
        round(lit(1e-9) + col("cos_raw"), 6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF parameters: the coarse-cell count GROWS with the corpus —
    * nlist = max(16, round(√N)) — so per-cell membership stays ≈√N at
    * any scale (the standard inverted-file sizing; 16 fixed cells
    * would make every probe touch N/16 vectors at a billion-vector
    * corpus). Queries probe the NProbe nearest cells; nprobe is the
    * per-query quality knob (AnnRecallSpec pins its recall curve at
    * two SFs). Coarse-quantizer TRAINING (the Lloyd refinement) runs
    * on at most IvfTrainFactor·nlist vectors (≈64√N — the usual
    * points-per-centroid budget), so training cost is O(nlist²·Factor)
    * not O(N·nlist); only the single cell-assignment pass scans the
    * full corpus, exactly like pqIndex's TrainSample split. Both the
    * nlist formula and the train cap are computed FROM count(*) in the
    * DuckDB oracle too, so the index is reproduced exactly at every
    * scale factor.
    */
  val MinNumCentroids = 16
  val NProbe = 4
  val IvfTrainFactor = 64

  /** nlist = max(16, round(√N)). Exact .5 sqrt of an integer count is
    * impossible, so Scala round and DuckDB round can never disagree.
    */
  private[graft] def nlistForCount(n: Long): Int =
    math.max(MinNumCentroids, math.round(math.sqrt(n.toDouble)).toInt)

  /** The nlist the built index uses for this corpus (for specs). */
  private[graft] def nlistOf(spark: SparkSession, dir: String): Int =
    nlistForCount(Tables.embeddings(spark, dir).count())

  /** IVF-style ANN: a coarse quantizer partitions the corpus into
    * inverted cells, and each query searches only its NProbe nearest
    * cells. "Training" is deterministic so the DuckDB oracle can
    * reproduce the index exactly: the nlist smallest vec_ids seed the
    * centroids (nlist ≈ √N — see MinNumCentroids above), then ONE
    * Lloyd iteration over the training sample refines them (assign
    * each training vector to its nearest seed, take the per-cell
    * coordinate mean). Refined coordinates are rounded to 6 dp (with the uniform
    * 1e-9 nudge) on both engines — that pins them bit-exactly despite
    * float-sum order differing between Spark partial aggregation and
    * DuckDB, and across Spark runs.
    *
    * Plan shape: every argmax/top-n here is an aggregation, never a
    * window — per-vector cell assignment is a partial-aggregated
    * struct-max (map-side combine, no shuffle+sort of 16n rows), and
    * probe-cell selection + final top-k use the bounded-heap
    * topk_by_score aggregate. The assignment pass is the one-time
    * index-build cost — in production it is precomputed at ingest like
    * the LSH band keys; the query path touches only the probed cells.
    */
  /** The index-build + probe-cell CTE block (cent0 → qcells), shared
    * by the ann_ivf and ann_ivfpq oracles. Expects a preceding CTE
    * `c` with (vec_id, e, nrm).
    */
  private val ivfIndexCtesSql: String =
    s"""params AS (
       |  SELECT GREATEST($MinNumCentroids, CAST(round(sqrt(count(*))) AS BIGINT)) AS nlist,
       |    LEAST(count(*), $IvfTrainFactor * GREATEST($MinNumCentroids, CAST(round(sqrt(count(*))) AS BIGINT))) AS tr
       |  FROM c
       |),
       |ctrain AS (SELECT * FROM c WHERE vec_id < (SELECT tr FROM params)),
       |cent0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM c WHERE vec_id < (SELECT nlist FROM params)),
       |scored0 AS (
       |  SELECT c.vec_id, cid, list_dot_product(e, ce) / (nrm * cn) AS ccos
       |  FROM ctrain c, cent0
       |),
       |assign0 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM scored0
       |  ) WHERE rn = 1
       |),
       |means AS (
       |  SELECT cid, i, round(1e-9 + avg(e[i]), 6) AS m
       |  FROM assign0 JOIN ctrain USING (vec_id), (SELECT unnest(generate_series(1, $Dim)) AS i)
       |  GROUP BY cid, i
       |),
       |cent AS (
       |  SELECT cid, ce, sqrt(list_dot_product(ce, ce)) AS cn
       |  FROM (SELECT cid, list(m ORDER BY i) AS ce FROM means GROUP BY cid)
       |),
       |scored AS (
       |  SELECT c.vec_id, cid, list_dot_product(e, ce) / (nrm * cn) AS ccos
       |  FROM c, cent
       |),
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM scored
       |  ) WHERE rn = 1
       |),
       |qcells AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM scored WHERE vec_id < $NumQueries
       |  ) WHERE rn <= $NProbe
       |)""".stripMargin

  /** One-time IVF index build per (session, dir): vec_id-seeded
    * centroids refined by one deterministic Lloyd iteration, plus the
    * cell assignment of every corpus vector — persisted and
    * materialized eagerly, the way a production vector store builds
    * its index once and serves many queries against it (same
    * separation the q11 bucketed layout uses via ensureBucketed).
    * Registered-query runs after the first then time the probe path,
    * not the index build. Memoized per session reference (evicted and
    * unpersisted on session stop — see graft.SessionMemo).
    */
  private[graft] def ivfIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fs = graft.SessionMemo.frames(spark, s"ann.ivfIndex:$dir") {
      buildIvf(corpus(spark, dir))
    }
    (fs(0), fs(1))
  }
  val IvfIndex = Build("ivf_index", ivfIndex)

  val ivfTopk = Q(
    "ann_ivf",
    s"""WITH c AS ($corpusSql),
       |$ivfIndexCtesSql,
       |cand AS (
       |  SELECT DISTINCT q.query_id, a.vec_id
       |  FROM qcells q JOIN assigned a ON q.cell = a.cell AND a.vec_id != q.query_id
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
       |    round(1e-9 + list_dot_product(cq.e, cc.e) / (cq.nrm * cc.nrm), 6) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY list_dot_product(cq.e, cc.e) / (cq.nrm * cc.nrm) DESC, cand.vec_id) AS BIGINT) AS rank
       |  FROM cand
       |  JOIN c cq ON cq.vec_id = cand.query_id
       |  JOIN c cc ON cc.vec_id = cand.vec_id
       |) WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin, IvfIndex) { (spark, dir) =>
    ivfTopkWith(spark, dir, NProbe)
  }

  /** The IVF pipeline with `nprobe` as the quality knob: probing more
    * cells grows the candidate set monotonically (strict superset per
    * added cell), trading query cost for recall. The registered
    * ann_ivf pins nprobe = NProbe for the oracle; AnnRecallSpec pins
    * the measured recall-vs-nprobe curve so the knob's effect is a
    * tested property, not an assertion.
    */
  // argmax cell per vector: partial-aggregated struct-max with the
  // same (ccos DESC, cid ASC) tie-break as a row_number rank
  private[graft] def argmaxCell(scored: DataFrame): DataFrame =
    scored.groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"), col("cid").as("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"))

  private[graft] def scoreAgainst(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cent))
      .withColumn("ccos", dotC(col("e"), col("ce")) / (col("nrm") * col("cn")))
      .select("vec_id", "cid", "ccos")

  /** The IVF build over any (vec_id, e, nrm) corpus frame — shared by
    * the full-corpus index and ann_refresh's base-slice index.
    */
  private def buildIvf(c: DataFrame): Seq[DataFrame] = {
      // one count() sizes the index — part of the one-time build, and
      // the same scalar the oracle derives from count(*)
      val n = c.count()
      val nlist = nlistForCount(n)
      val trainCap = math.min(n, IvfTrainFactor.toLong * nlist)
      val train = c.filter(col("vec_id") < trainCap)
      val cent0 = c.filter(col("vec_id") < nlist)
        .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
      val assign0 = argmaxCell(scoreAgainst(train, cent0))
      val cent = assign0
        .join(train.select(col("vec_id"), col("e")), Seq("vec_id"))
        .select(col("cell").as("cid"), posexplode(col("e")).as(Seq("i", "x")))
        .groupBy("cid", "i")
        .agg(round(lit(1e-9) + avg("x"), 6).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("ce"))
        .withColumn("cn", sqrt(dotC(col("ce"), col("ce"))))
        .persist()
      val assigned = argmaxCell(scoreAgainst(c, cent)).persist()
      // materialize so the build bills to the build, not the first query
      cent.count()
      assigned.count()
      Seq(cent, assigned)
  }

  // ═══════ index maintenance under ingest (CDC × ANN) ═══════

  private[graft] val RefreshMod = 10
  private[graft] val RefreshRes = 7

  /** The index as it stood BEFORE the delta arrived: built on the
    * base slice (vec_id % 10 != 7), sized by the BASE count — the
    * same nlist formula the oracle derives from count(*) over its
    * base CTE.
    */
  private[graft] def baseIvfIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fs = graft.SessionMemo.frames(spark, s"ann.ivfBase:$dir") {
      buildIvf(corpus(spark, dir).filter(col("vec_id") % RefreshMod =!= RefreshRes))
    }
    (fs(0), fs(1))
  }
  val IvfBaseIndex = Build("ivf_base_index", baseIvfIndex)

  /** IVF index MAINTENANCE under ingest — the fast path every vector
    * store runs between rebuilds (Faiss add(), Milvus growing
    * segments): newly arrived vectors (the vec_id % 10 = 7 slice) are
    * assigned to the EXISTING base-trained centroids — one map-side
    * broadcast scoring pass over the delta only, no retrain, no touch
    * of the base assignments — and the query reports per-cell
    * occupancy: base members, fresh members, fresh share, and a
    * resplit flag (fresh members outnumber the base's — that cell's
    * quantizer no longer represents its contents and is due
    * re-clustering at the next rebuild). Output bounded by nlist
    * rows; every count an integer, the one division rounded — fully
    * hash-oracle-checked, like the rest of the IVF family.
    *
    * Scale shape: the delta scan is the only corpus-sized work and it
    * is map-only (centroids broadcast); the occupancy rollup keys on
    * cell ids (≤ √N rows). The base index build is the one-time cost,
    * billed in `builds` like ivf_index.
    */
  val refresh = Q(
    "ann_refresh",
    s"""WITH call AS ($corpusSql),
       |c AS (SELECT * FROM call WHERE vec_id % $RefreshMod != $RefreshRes),
       |$ivfIndexCtesSql,
       |delta AS (SELECT * FROM call WHERE vec_id % $RefreshMod = $RefreshRes),
       |dscored AS (
       |  SELECT d.vec_id, cid, list_dot_product(e, ce) / (nrm * cn) AS ccos
       |  FROM delta d, cent),
       |dassign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM dscored) WHERE rn = 1),
       |nb AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_base FROM assigned GROUP BY cell),
       |nn AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_new FROM dassign GROUP BY cell)
       |SELECT cell, n_base, n_new, n_total,
       |  round(1e-9 + CAST(n_new AS DOUBLE) / greatest(n_total, 1) + 1e-9, 6) AS new_share,
       |  n_new > n_base AS resplit
       |FROM (
       |  SELECT cent.cid AS cell, coalesce(nb.n_base, 0) AS n_base,
       |    coalesce(nn.n_new, 0) AS n_new,
       |    coalesce(nb.n_base, 0) + coalesce(nn.n_new, 0) AS n_total
       |  FROM cent LEFT JOIN nb ON cent.cid = nb.cell LEFT JOIN nn ON cent.cid = nn.cell)
       |ORDER BY cell""".stripMargin, IvfBaseIndex) { (spark, dir) =>
    val (cent, assignedBase) = baseIvfIndex(spark, dir)
    val delta = corpus(spark, dir).filter(col("vec_id") % RefreshMod === RefreshRes)
    val dassign = argmaxCell(scoreAgainst(delta, cent))
    val nb = assignedBase.groupBy("cell").agg(count(lit(1)).as("n_base"))
    val nn = dassign.groupBy("cell").agg(count(lit(1)).as("n_new"))
    cent.select(col("cid").as("cell"))
      .join(nb, Seq("cell"), "left")
      .join(nn, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_total", col("n_base") + col("n_new"))
      .withColumn("new_share",
        round(lit(1e-9) + col("n_new").cast("double") / greatest(col("n_total"), lit(1L)) + 1e-9, 6))
      .withColumn("resplit", col("n_new") > col("n_base"))
      .orderBy("cell")
  }

  /** The IVF centroids packed into ONE row (cid, ce, cn structs) —
    * the static side a streaming query-serving join broadcasts so an
    * arriving query can rank all cells MAP-SIDE (no per-centroid
    * explode before the candidate join). Built executor-side from the
    * memoized index (collect_list in an aggregation, not a driver
    * collect).
    */
  private[graft] def packedCentroids(spark: SparkSession, dir: String): DataFrame =
    ivfIndex(spark, dir)._1
      .agg(collect_list(struct(col("cid"), col("ce"), col("cn"))).as("cents"))

  /** Same packing over the BASE-slice index — what Streaming.annAssign
    * broadcasts to assign arriving vectors at ingest.
    */
  private[graft] def packedBaseCentroids(spark: SparkSession, dir: String): DataFrame =
    baseIvfIndex(spark, dir)._1
      .agg(collect_list(struct(col("cid"), col("ce"), col("cn"))).as("cents"))

  /** The inverted cells joined with their member vectors — (cell,
    * vec_id, e, nrm), the static candidate side of streaming ANN
    * serving. Each vector is in exactly one cell.
    */
  private[graft] def cellVectors(spark: SparkSession, dir: String): DataFrame =
    ivfIndex(spark, dir)._2
      .join(corpus(spark, dir), Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("e"), col("nrm"))

  /** The IVF candidate set for a probe budget: per-query top-nprobe
    * cells (bounded-heap, not a window; only the query vectors are
    * scored against the centroids — the corpus-wide assignment is
    * served from the built index) joined to their members. Shared by
    * ann_ivf and ann_ivfpq, and measured directly by AnnRecallSpec
    * (the IVFPQ == IVF equality only holds while the candidate count
    * stays within the re-rank budget).
    */
  private[graft] def ivfCandidates(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val c = corpus(spark, dir)
    val (cent, assigned) = ivfIndex(spark, dir)
    val qcells = scoreAgainst(c.filter(col("vec_id") < NumQueries), cent)
      .groupBy(col("vec_id").as("query_id"))
      .agg(graft.functions.TopKAgg.topk_by_score(col("ccos"), col("cid"), nprobe).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("cell"))
    broadcast(qcells).join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
  }

  private[graft] def ivfTopkWith(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val c = corpus(spark, dir)
    val cand = ivfCandidates(spark, dir, nprobe)
    val qvec = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val res = cand
      .join(broadcast(qvec), Seq("query_id"))
      .join(c.select(col("vec_id"), col("e"), col("nrm")), Seq("vec_id"))
      .withColumn("cos_raw", dotC(col("qe"), col("e")) / (col("qn") * col("nrm")))
    res.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk_by_score(col("cos_raw"), col("vec_id"), TopK).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        round(lit(1e-9) + col("t.score"), 6).as("cosine"), col("t.rank").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Embedding near-duplicate pairs (the dd_embed entry from SURVEY
    * §2): banded hyperplane LSH — candidates share ≥1 of the 4 8-bit
    * bands (strict superset of the old single-8-bit-bucket candidates,
    * since band 0 IS that bucket), oversized band buckets dropped
    * (skew guard, mirrored in the oracle), cosine verified on the
    * deduplicated candidate id-pairs only.
    */
  val embedDedup = Q(
    "dd_embed",
    s"""WITH c AS ($corpusSql),
       |banded0 AS (
       |  ${(0 until EmbedBands).map(b => s"SELECT vec_id, $b AS band, ${bandKeySql(b)} AS key FROM c").mkString("\n  UNION ALL\n  ")}
       |),
       |small AS (
       |  SELECT band, key FROM banded0 GROUP BY band, key
       |  HAVING count(*) <= ${Dedup.BucketCap}
       |),
       |banded AS (SELECT banded0.* FROM banded0 JOIN small USING (band, key)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
       |)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT cand.vec_a, cand.vec_b,
       |    round(1e-9 + list_dot_product(ca.e, cb.e) / (ca.nrm * cb.nrm), 6) AS cosine
       |  FROM cand
       |  JOIN c ca ON ca.vec_id = cand.vec_a
       |  JOIN c cb ON cb.vec_id = cand.vec_b
       |) WHERE cosine >= CAST($NearDupThreshold AS DOUBLE)
       |ORDER BY vec_a, vec_b""".stripMargin) { (spark, dir) =>
    embedPairsOf(corpus(spark, dir)).orderBy("vec_a", "vec_b")
  }

  /** One-time build of the symmetric verified-pair edge set consumed
    * by dd_embed_clusters — the banding + cosine-verify chain runs
    * once per (session, dir) and is persisted (SessionMemo), so the
    * clusters query times component resolution, not a re-run of the
    * pair pipeline already billed to dd_embed (same build/serve
    * separation as ivfIndex / ensureBucketed).
    */
  private[graft] def embedEdges(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"ann.embedEdges:$dir") {
      val pairs = embedDedup.fn(spark, dir).select("vec_a", "vec_b")
      val edges = pairs.select(col("vec_a").as("u"), col("vec_b").as("v"))
        .union(pairs.select(col("vec_b").as("u"), col("vec_a").as("v")))
        .distinct().persist()
      edges.count()
      Seq(edges)
    }.head
  val EmbedEdges = Build("embed_edges", embedEdges)

  /** One-time semantic-cluster assignment build: the connected-
    * component labels over the verified embedding near-dup pairs,
    * persisted per (session, dir). pipe_e2e_sem consumes THIS (a
    * funnel reuses the dedup index it already built); the standalone
    * dd_embed_clusters query keeps running the resolution live —
    * that is the operation it times.
    */
  private[graft] def embedClusterAssignment(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"ann.embedClusterLabels:$dir") {
      val (labels, _) = Dedup.connectedComponents(embedEdges(spark, dir))
      val out = labels
        .select(col("doc").as("vec_id"), col("label").as("canonical_id")).persist()
      out.count()
      Seq(out)
    }.head
  val EmbedClusterLabels = Build("embed_cluster_labels", embedClusterAssignment)

  /** The banded corpus INDEX of a (vec_id, e, nrm) frame: one row per
    * (band, key) membership carrying the vector itself, oversized
    * buckets dropped — what a production vector store precomputes at
    * ingest, and the static side of the streaming near-dup scan
    * (Streaming.embedDedup).
    */
  /** Band memberships of a (vec_id, e, nrm) frame, carrying the
    * vector — the map-only stream-side half of the banded join
    * (Streaming.embedDedup bands each arriving row with this).
    */
  private[graft] def bandKeysOf(v: DataFrame, planes: Int): DataFrame =
    v.select(col("vec_id"), col("e"), col("nrm"),
      explode(array((0 until EmbedBands).map { b =>
        struct(lit(b).as("band"), bandKeyCol(col("e"), b, planes).as("key"))
      }: _*)).as("bk"))
      .select(col("vec_id"), col("e"), col("nrm"),
        col("bk.band").as("band"), col("bk.key").as("key"))

  private[graft] def bandedIndexOf(c: DataFrame): DataFrame =
    Dedup.dropOversizedBuckets(bandKeysOf(c, bandPlanesFor(c.count())),
      Seq("band", "key"), Dedup.BucketCap)

  /** The banded near-dup pair pipeline over any (vec_id, e, nrm)
    * frame — factored out so DedupRecallSpec can measure recall on a
    * controlled corpus with planted duplicates (the test tables carry
    * no high-cosine pairs).
    */
  private[graft] def embedPairsOf(c: DataFrame): DataFrame = {
    val planes = bandPlanesFor(c.count())
    // Band rows CARRY the vector: the (band, key) self-join then has
    // both endpoints of every in-bucket pair in-line, so the cosine
    // verify runs inside the bucket join and the ≥-threshold filter
    // fires BEFORE any exchange of pairs. The previous shape pushed
    // the raw candidate set (≈ buckets·cap²/2 per band — nine figures
    // at sf10 once the 16-plane key space saturates) through a
    // distinct() shuffle plus two full-vector fetch joins; now only
    // verified near-dup pairs ever leave their bucket's partition.
    // A pair sharing several bands is verified once per shared band —
    // identical double arithmetic each time — and the final distinct
    // over the small survivor set collapses the copies exactly.
    val banded = bandKeysOf(c, planes)
    val capped = Dedup.dropOversizedBuckets(banded, Seq("band", "key"), Dedup.BucketCap)
    capped.select(col("band"), col("key"), col("vec_id").as("vec_a"),
        col("e").as("ea"), col("nrm").as("na"))
      .join(capped.select(col("band"), col("key"), col("vec_id").as("vec_b"),
        col("e").as("eb"), col("nrm").as("nb")), Seq("band", "key"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(lit(1e-9) + dotC(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= NearDupThreshold)
      .distinct()
  }

  /** Semantic-dedup end product (the SemDeDup shape): the verified
    * embedding near-dup pairs resolved into connected components,
    * each vector assigned its component's canonical (minimum) vec_id
    * — what a pipeline actually drops on. Reuses the SAME pointer-
    * jumping connected-components loop as dd_clusters (O(log n)
    * rounds over the pair set only; the corpus never joins in), with
    * the same recursive-CTE oracle pattern.
    */
  /** The verified-pair → reachability CTE block (pq, edges, reach) of
    * the dd_embed_clusters oracle — also composed into pipe_e2e_sem's
    * oracle for the semantic-dedup funnel stage. Must follow a
    * `WITH RECURSIVE`.
    */
  private[graft] val embedClusterCtesSql: String = {
    val pq = embedDedup.oracle.get.replace("ORDER BY vec_a, vec_b", "")
    s"""pq AS ($pq),
       |edges AS (
       |  SELECT vec_a AS u, vec_b AS v FROM pq
       |  UNION
       |  SELECT vec_b AS u, vec_a AS v FROM pq
       |),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |)""".stripMargin
  }

  val embedClusters = Q(
    "dd_embed_clusters",
    s"""WITH RECURSIVE $embedClusterCtesSql
       |SELECT u AS vec_id, least(u, min(v)) AS canonical_id,
       |  CAST(count(*) FILTER (WHERE v != u) + 1 AS BIGINT) AS cluster_size
       |FROM (SELECT DISTINCT u, v FROM reach)
       |GROUP BY u
       |ORDER BY vec_id""".stripMargin, Ann.EmbedEdges) { (spark, dir) =>
    val (labels, _) = Dedup.connectedComponents(embedEdges(spark, dir))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc").as("vec_id"), col("label").as("canonical_id"), col("cluster_size"))
      .orderBy("vec_id")
  }

  // ═══════════════ product quantization (PQ / ADC) ═══════════════

  /** PQ geometry: 64 dims split into 8 subspaces of 8 dims; each
    * subspace gets a 256-codeword codebook (the classic 8-bit PQ)
    * TRAINED from the corpus — seeded with the subvectors of the
    * NumCodewords smallest vec_ids and refined by NumLloydIters
    * deterministic Lloyd iterations (assign every subvector to its
    * nearest codeword, take the per-cell coordinate mean), the same
    * rounding discipline as the IVF centroids. Vectors are UNIT-
    * NORMALIZED before encoding (cosine-metric PQ: on unit vectors
    * inner product IS cosine), so the serve path needs no norm joins
    * and the fixed-point ADC range is bounded by construction. A
    * vector's code is 8 bytes; queries rank by asymmetric distance
    * computation (ADC): the query's exact per-subspace dot products
    * against the codewords, summed along each candidate's code —
    * 64-dim float math collapses to 8 table lookups per candidate,
    * the memory-bandwidth trade PQ makes at billion-vector scale.
    *
    * Codebook sizing is the measured lever on this corpus (near-
    * orthogonal neighbors, tiny cosine gaps): 16 codewords recall
    * 0.34-0.36 regardless of training; 256 codewords with 2 Lloyd
    * iterations recall 0.70 (AnnRecallSpec pins the floor).
    *
    * Cross-engine determinism: every ranking input is discretized
    * before its argmax/top-k — codeword distances d2 round to 6 dp
    * (the constant ||sub||² term is dropped: the argmin is invariant
    * to it), the per-(subspace, codeword) ADC table entries become
    * 1e-6-scaled BIGINTs (so the candidate sum is INTEGER arithmetic
    * — order-independent, unlike float partial aggregation), and the
    * final approximate cosine rounds to 6 dp before the top-k. A
    * near-tie can therefore never flip a code or a rank between Spark
    * and the DuckDB oracle (or between Spark runs at other SFs).
    */
  val NumSubspaces = 8
  val SubDim = 8
  val NumCodewords = 256
  val NumLloydIters = 2

  /** Codebook training sample: the Lloyd passes run on the TrainSample
    * smallest vec_ids only (standard PQ practice — k-means on a fixed-
    * size sample), so the training cost is corpus-size-INDEPENDENT and
    * only the single encode pass scans the full corpus. Deterministic,
    * mirrored in the oracle.
    */
  val TrainSample = 2048

  /** IVFPQ re-rank budget: exact re-rank of the ADC top-50. */
  val NRerank = 50

  /** (vec_id, m, sub): the corpus split into PQ subvectors — of the
    * UNIT-NORMALIZED vector (cosine-metric PQ: normalize, then inner
    * product IS cosine). Normalizing before encoding bounds every ADC
    * table entry in [-1, 1], so the 1e-6 fixed-point integer sum can
    * never overflow regardless of vector magnitudes (the fuzz sweep's
    * 1e30-magnitude class overflowed the unnormalized ADC), and the
    * serve path needs no norm joins at all.
    */
  private def pqSubs(c: DataFrame): DataFrame =
    c.select(col("vec_id"), transform(col("e"), x => x / col("nrm")).as("en"))
      .select(col("vec_id"),
        explode(array((0 until NumSubspaces).map { m =>
          struct(lit(m).as("m"), slice(col("en"), m * SubDim + 1, SubDim).as("sub"))
        }: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))

  /** Nearest codeword per (vector, subspace) against a broadcast
    * codebook (m, k, cw, cw2): min quantized d2 (the ||sub||²
    * constant is dropped — argmin-invariant), ties toward the smaller
    * k via struct-max on (-d2, -k) — a partial-aggregated argmin, not
    * a window.
    */
  private def nearestCode(sub: DataFrame, book: DataFrame): DataFrame =
    sub.join(broadcast(book), Seq("m"))
      .withColumn("d2", round(lit(1e-9) +
        col("cw2") - lit(2d) * dotC(col("sub"), col("cw")), 6))
      .groupBy("vec_id", "m")
      .agg(max(struct((-col("d2")).as("nd"), (-col("k")).as("nk"))).as("best"))
      .select(col("vec_id"), col("m"), (-col("best.nk")).cast("long").as("k"))

  /** The full-corpus encode pass: same discretized argmin as
    * nearestCode (round-6 quantized d2, ties to the smaller k — see
    * PqNearestExpr), but against the codebook PACKED one row per
    * subspace, so each subvector row scans its 256 codewords in one
    * compiled loop instead of minting 256 join rows into a hash
    * aggregate. The unpacked form stays for the Lloyd training passes
    * (a 2 048-vector sample — cost-irrelevant, and it mirrors the
    * oracle CTE shape line for line).
    */
  private def nearestCodePacked(sub: DataFrame, book: DataFrame): DataFrame = {
    val packed = book
      .groupBy("m")
      .agg(array_sort(collect_list(struct(col("k"), col("cw"), col("cw2")))).as("es"))
      .select(col("m"),
        transform(col("es"), e => e.getField("cw")).as("cws"),
        transform(col("es"), e => e.getField("cw2")).as("cw2s"),
        transform(col("es"), e => e.getField("k")).as("ks"))
    sub.join(broadcast(packed), Seq("m"))
      .select(col("vec_id"), col("m"),
        graft.functions.HashExprs.pq_nearest(
          col("sub"), col("cws"), col("cw2s"), col("ks")).as("k"))
  }

  /** One Lloyd refinement: reassign every subvector to its nearest
    * codeword, then take per-cell coordinate means, rounded to 6 dp
    * (with the uniform 1e-9 nudge) so Spark partial aggregation and
    * the DuckDB oracle pin bit-exact codewords despite float-sum
    * order. Cells that lose all members simply drop out (mirrored in
    * the oracle — both engines group only non-empty cells).
    */
  private def lloydStep(sub: DataFrame, book: DataFrame): DataFrame =
    nearestCode(sub, book).join(sub, Seq("vec_id", "m"))
      .select(col("m"), col("k"), posexplode(col("sub")).as(Seq("i", "x")))
      .groupBy("m", "k", "i")
      .agg(round(lit(1e-9) + avg("x"), 6).as("cm"))
      .groupBy("m", "k")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cm")))),
        s => s.getField("cm")).as("cw"))
      .withColumn("cw2", dotC(col("cw"), col("cw")))

  /** One-time PQ index build per (session, dir): the Lloyd-trained
    * per-subspace codebook plus every corpus vector's 8-byte code —
    * persisted and materialized eagerly (SessionMemo), the same
    * build/serve separation as ivfIndex. Returns (codebook, codes).
    */
  private[graft] def pqIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fs = graft.SessionMemo.frames(spark, s"ann.pqIndex:$dir") {
      val sub = pqSubs(corpus(spark, dir)).persist()
      val trainSub = sub.filter(col("vec_id") < TrainSample)
      val book0 = sub.filter(col("vec_id") < NumCodewords)
        .select(col("m"), col("vec_id").as("k"), col("sub").as("cw"),
          dotC(col("sub"), col("sub")).as("cw2"))
      // each refinement materializes before the previous book is
      // released — the codebook is 8×256 rows, the persist just keeps
      // the next iteration's broadcast from replaying the whole chain
      var book = book0
      for (_ <- 0 until NumLloydIters) {
        val next = lloydStep(trainSub, book).persist()
        next.count()
        if (book ne book0) book.unpersist(blocking = false)
        book = next
      }
      val codes = nearestCodePacked(sub, book).persist()
      book.count()
      codes.count()
      sub.unpersist(blocking = false)
      Seq(book, codes)
    }
    (fs(0), fs(1))
  }
  val PqIndex = Build("pq_index", pqIndex)

  /** The query-side ADC lookup table: the queries' exact dot products
    * against every codeword, as 1e-6-scaled BIGINTs so the per-
    * candidate sum is exact integer math (order-independent across
    * partial aggregation) — (query_id, m, k, t6).
    */
  private def pqQueryTab(c: DataFrame, book: DataFrame): DataFrame =
    pqSubs(c.filter(col("vec_id") < NumQueries))
      .join(broadcast(book), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("k"),
        round(round(lit(1e-9) + dotC(col("sub"), col("cw")), 6) * 1e6).cast("long").as("t6"))

  /** The PQ index-build + query-table CTE block (sub → qtab), shared
    * by the ann_pq and ann_ivfpq oracles. Expects a preceding CTE `c`
    * with (vec_id, e, nrm). Mirrors pqIndex/pqQueryTab exactly:
    * quantized d2, smaller-k ties, 6-dp codeword means, scaled-BIGINT
    * ADC table.
    */
  private val pqIndexCtesSql: String = {
    val subs = (0 until NumSubspaces).map { m =>
      s"SELECT vec_id, $m AS m, list_slice(en, ${m * SubDim + 1}, ${(m + 1) * SubDim}) AS sub FROM subsrc"
    }.mkString("\n  UNION ALL\n  ")
    // one block per Lloyd iteration: assign vs cb{it} → means → cb{it+1};
    // the argmin is a struct-min aggregation (same (d2, k) ordering as
    // Spark's struct-max on negations), not a window — 8×256 distance
    // rows per vector would make a windowed rank the oracle bottleneck.
    // Training assigns the SAMPLE only (sub_t); encoding assigns all.
    def assignSql(src: String, book: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, m, (min(struct_pack(d := d2, k := k))).k AS k FROM (
         |    SELECT s.vec_id, s.m, b.k,
         |      round(1e-9 + b.cw2 - 2 * list_dot_product(s.sub, b.cw), 6) AS d2
         |    FROM $src s JOIN $book b ON s.m = b.m
         |  ) GROUP BY vec_id, m
         |)""".stripMargin
    val iterBlocks = (0 until NumLloydIters).map { it =>
      s"""${assignSql("sub_t", s"cb$it", s"pa$it")},
         |cwm${it + 1} AS (
         |  SELECT a.m, a.k, i, round(1e-9 + avg(s.sub[i]), 6) AS cm
         |  FROM pa$it a JOIN sub_t s ON s.vec_id = a.vec_id AND s.m = a.m,
         |    (SELECT unnest(generate_series(1, $SubDim)) AS i)
         |  GROUP BY a.m, a.k, i
         |),
         |cb${it + 1} AS (
         |  SELECT m, k, cw, list_dot_product(cw, cw) AS cw2
         |  FROM (SELECT m, k, list(cm ORDER BY i) AS cw FROM cwm${it + 1} GROUP BY m, k)
         |)""".stripMargin
    }
    val fin = s"cb$NumLloydIters"
    s"""subsrc AS (SELECT vec_id, list_transform(e, x -> x / nrm) AS en FROM c),
       |sub AS (
       |  $subs
       |),
       |sub_t AS (SELECT * FROM sub WHERE vec_id < $TrainSample),
       |cb0 AS (
       |  SELECT m, vec_id AS k, sub AS cw, list_dot_product(sub, sub) AS cw2
       |  FROM sub WHERE vec_id < $NumCodewords
       |),
       |${iterBlocks.mkString(",\n")},
       |${assignSql("sub", fin, "codes")},
       |qtab AS (
       |  SELECT s.vec_id AS query_id, s.m, b.k,
       |    CAST(round(round(1e-9 + list_dot_product(s.sub, b.cw), 6) * 1e6) AS BIGINT) AS t6
       |  FROM sub s JOIN $fin b ON s.m = b.m
       |  WHERE s.vec_id < $NumQueries
       |)""".stripMargin
  }

  /** PQ ADC top-k: approximate cosine ranking of EVERY corpus vector
    * from the 8-byte codes (no pruning — the pure-ADC baseline;
    * ann_ivfpq adds the cell pruning). Output is the same (query_id,
    * neighbor_id, cosine, rank) shape as the other ANN variants but
    * with the ADC-approximated cosine; recall against brute force is
    * measured in AnnRecallSpec.
    */
  val pqTopk = Q(
    "ann_pq",
    s"""WITH c AS ($corpusSql),
       |$pqIndexCtesSql,
       |approx AS (
       |  SELECT q.query_id, cd.vec_id, sum(q.t6) AS adot6
       |  FROM codes cd JOIN qtab q ON q.m = cd.m AND q.k = cd.k
       |  WHERE cd.vec_id != q.query_id
       |  GROUP BY q.query_id, cd.vec_id
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT a.query_id, a.vec_id AS neighbor_id,
       |    round(1e-9 + a.adot6 / 1e6, 6) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY a.query_id
       |      ORDER BY round(1e-9 + a.adot6 / 1e6, 6) DESC, a.vec_id) AS BIGINT) AS rank
       |  FROM approx a
       |) WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin, PqIndex) { (spark, dir) =>
    val c = corpus(spark, dir)
    val (book, codes) = pqIndex(spark, dir)
    val qtab = pqQueryTab(c, book)
    // ADC: integer sum of the 8 table lookups along each code — on
    // unit vectors the scaled sum IS the approximate cosine, no norm
    // joins in the serve path
    val approx = codes.join(broadcast(qtab), Seq("m", "k"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("t6").as("adot6"))
    approx
      .withColumn("acos", round(lit(1e-9) + col("adot6") / 1e6, 6))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk_by_score(col("acos"), col("vec_id"), TopK).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cosine"), col("t.rank").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVFPQ — the production billion-vector ANN shape: the coarse IVF
    * quantizer prunes the corpus to the query's NProbe cells, ADC
    * ranks those candidates from their 8-byte codes (integer table-
    * lookup sums, no full-dimension float math), and only the ADC
    * top-NRerank get an exact-cosine re-rank for the final top-k.
    * Both index halves are the memoized builds the standalone queries
    * use (ivfIndex, pqIndex) — the query path touches the probed
    * cells' codes plus NRerank full vectors per query.
    *
    * Recall at equal probe budget is pinned ≥ ann_ivf's in
    * AnnRecallSpec: with NRerank ≥ the probed-candidate count the
    * exact re-rank recovers IVF exactly; ADC pruning below that is
    * the measured trade.
    */
  val ivfpqTopk = Q(
    "ann_ivfpq",
    s"""WITH c AS ($corpusSql),
       |$ivfIndexCtesSql,
       |$pqIndexCtesSql,
       |cand AS (
       |  SELECT DISTINCT q.query_id, a.vec_id
       |  FROM qcells q JOIN assigned a ON q.cell = a.cell AND a.vec_id != q.query_id
       |),
       |adc AS (
       |  SELECT cand.query_id, cand.vec_id, sum(q.t6) AS adot6
       |  FROM cand
       |  JOIN codes cd ON cd.vec_id = cand.vec_id
       |  JOIN qtab q ON q.query_id = cand.query_id AND q.m = cd.m AND q.k = cd.k
       |  GROUP BY cand.query_id, cand.vec_id
       |),
       |pre AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT a.query_id, a.vec_id,
       |      row_number() OVER (PARTITION BY a.query_id
       |        ORDER BY round(1e-9 + a.adot6 / 1e6, 6) DESC, a.vec_id) AS rn
       |    FROM adc a
       |  ) WHERE rn <= $NRerank
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT pre.query_id, pre.vec_id AS neighbor_id,
       |    round(1e-9 + list_dot_product(cq.e, cc.e) / (cq.nrm * cc.nrm), 6) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY pre.query_id
       |      ORDER BY list_dot_product(cq.e, cc.e) / (cq.nrm * cc.nrm) DESC, pre.vec_id) AS BIGINT) AS rank
       |  FROM pre
       |  JOIN c cq ON cq.vec_id = pre.query_id
       |  JOIN c cc ON cc.vec_id = pre.vec_id
       |) WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin, IvfIndex, PqIndex) { (spark, dir) =>
    ivfpqTopkWith(spark, dir, NProbe, NRerank)
  }

  /** The IVFPQ pipeline with nprobe and the re-rank budget as knobs —
    * AnnRecallSpec measures the recall curve against both.
    */
  private[graft] def ivfpqTopkWith(
      spark: SparkSession, dir: String, nprobe: Int, rerank: Int): DataFrame = {
    val c = corpus(spark, dir)
    val (book, codes) = pqIndex(spark, dir)
    // probe cells per query, served from the built index (same as ann_ivf)
    val cand = ivfCandidates(spark, dir, nprobe)
    // ADC over the pruned candidates only: 8 integer lookups each; on
    // unit vectors the scaled sum is the approximate cosine directly
    val qtab = pqQueryTab(c, book)
    val pre = cand.join(codes, Seq("vec_id"))
      .join(broadcast(qtab), Seq("query_id", "m", "k"))
      .groupBy("query_id", "vec_id")
      .agg(sum("t6").as("adot6"))
      .withColumn("acos", round(lit(1e-9) + col("adot6") / 1e6, 6))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk_by_score(col("acos"), col("vec_id"), rerank).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("vec_id"))
    // exact re-rank of the ADC survivors
    val qvec = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    pre
      .join(broadcast(qvec), Seq("query_id"))
      .join(c.select(col("vec_id"), col("e"), col("nrm")), Seq("vec_id"))
      .withColumn("cos_raw", dotC(col("qe"), col("e")) / (col("qn") * col("nrm")))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk_by_score(col("cos_raw"), col("vec_id"), TopK).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        round(lit(1e-9) + col("t.score"), 6).as("cosine"), col("t.rank").as("rank"))
      .orderBy("query_id", "rank")
  }

  // ═══════════════ scalar quantization (SQ8 flat) ═══════════════

  /** SQ8 geometry: every dimension is linearly quantized to 8 bits
    * between its corpus-wide min and max (the FAISS SQ8 trade: 4×
    * compression at near-exact recall, vs PQ's 64× at recall 0.70 —
    * the middle rung of the compression ladder). Vectors are unit-
    * normalized before encoding like PQ, so the decoded inner product
    * IS the approximate cosine and no norm joins reach the serve
    * path.
    */
  val SqMaxCode = 255L
  private val SqScale = 1e8

  /** One-time SQ8 index build per (session, dir): the per-dimension
    * (lo, step) ranges — as one broadcastable row of aligned arrays —
    * plus every corpus vector's 64-byte code array (SessionMemo, same
    * build/serve split as ivfIndex/pqIndex). The ranges are exact
    * min/max picks (no float-sum order to pin); codes are
    * round((x−lo)/step) with the same half-up rule on both engines.
    */
  private[graft] def sqIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fs = graft.SessionMemo.frames(spark, s"ann.sqIndex:$dir") {
      val pos = corpus(spark, dir)
        .select(col("vec_id"), posexplode(transform(col("e"), x => x / col("nrm")))
          .as(Seq("i", "x")))
      val rng = pos.groupBy("i").agg(
        min("x").as("lo"),
        greatest((max("x") - min("x")) / SqMaxCode.toDouble, lit(1e-12)).as("step"))
        .persist()
      val arrs = rng
        .agg(sort_array(collect_list(struct(col("i"), col("lo"), col("step")))).as("s"))
        .select(
          transform(col("s"), s => s.getField("lo")).as("lo_arr"),
          transform(col("s"), s => s.getField("step")).as("step_arr"))
        .persist()
      val codes = pos.join(broadcast(rng), Seq("i"))
        .select(col("vec_id"), col("i"),
          least(lit(SqMaxCode), greatest(lit(0L),
            round((col("x") - col("lo")) / col("step")).cast("long"))).as("cd"))
        .groupBy("vec_id")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("cd")))),
          s => s.getField("cd")).as("code"))
        .persist()
      arrs.count()
      codes.count()
      rng.unpersist(blocking = false)
      Seq(arrs, codes)
    }
    (fs(0), fs(1))
  }
  val Sq8Index = Build("sq8_index", sqIndex)

  /** SQ8 flat top-k: every candidate is scored from its 8-bit codes.
    * The serve-path arithmetic is INTEGER: each query pre-multiplies
    * its (normalized) coordinates by the per-dimension step as
    * 1e-8-scaled BIGINTs, so a candidate's score is one long-array
    * dot product against its code (exact, order-independent — the
    * same determinism discipline as PQ's ADC table), plus the
    * rank-invariant per-query constant Σ qᵢ·loᵢ added back only for
    * the reported cosine. Scale shape: the query table broadcasts
    * (queries × 64 longs), the corpus side streams its code arrays
    * map-only into the bounded-heap top-k — a flat scan by design
    * (the IVF/IVFPQ variants are the pruned paths; SQ8-FLAT is what
    * you run when recall must stay ≈1 and 4× memory is affordable).
    */
  val sq8Topk = Q(
    "ann_sq8",
    s"""WITH c AS ($corpusSql),
       |ensrc AS (SELECT vec_id, list_transform(e, x -> x / nrm) AS en FROM c),
       |pos AS (SELECT vec_id, generate_subscripts(en, 1) AS i, unnest(en) AS x FROM ensrc),
       |rng AS (SELECT i, min(x) AS lo,
       |    greatest((max(x) - min(x)) / $SqMaxCode.0, 1e-12) AS step
       |  FROM pos GROUP BY i),
       |codes AS (SELECT vec_id, i,
       |    LEAST($SqMaxCode, GREATEST(0, CAST(round((x - lo) / step) AS BIGINT))) AS cd
       |  FROM pos JOIN rng USING (i)),
       |codearr AS (SELECT vec_id, list(cd ORDER BY i) AS code FROM codes GROUP BY vec_id),
       |arrs AS (SELECT list(lo ORDER BY i) AS lo_arr, list(step ORDER BY i) AS step_arr
       |  FROM rng),
       |qw AS (SELECT q.vec_id AS query_id,
       |    list_transform(list_zip(q.en, a.step_arr),
       |      p -> CAST(round(p[1] * p[2] * $SqScale) AS BIGINT)) AS w8s,
       |    list_dot_product(q.en, a.lo_arr) AS kq
       |  FROM ensrc q, arrs a WHERE q.vec_id < $NumQueries),
       |scored AS (SELECT query_id, vec_id,
       |    round(1e-9 + kq +
       |      CAST(list_dot_product(w8s, code) AS BIGINT) / $SqScale, 6) AS acos
       |  FROM codearr, qw WHERE vec_id != query_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT query_id, vec_id AS neighbor_id, acos AS cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY acos DESC, vec_id) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin, Sq8Index) { (spark, dir) =>
    import graft.functions.HashExprs.{dot_product, long_dot_product}
    val (arrs, codes) = sqIndex(spark, dir)
    val queries = corpus(spark, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        transform(col("e"), x => x / col("nrm")).as("en"))
      .crossJoin(broadcast(arrs))
      .select(col("query_id"),
        zip_with(col("en"), col("step_arr"),
          (x, s) => round(x * s * SqScale).cast("long")).as("w8s"),
        dot_product(col("en"), col("lo_arr")).as("kq"))
    codes.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("acos", round(lit(1e-9) + col("kq") +
        long_dot_product(col("w8s"), col("code")) / SqScale, 6))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk_by_score(col("acos"), col("vec_id"), TopK).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cosine"), col("t.rank").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Metadata ceiling for the filtered search — a simple range
    * predicate (label ≤ 4, half the label space) so the filter
    * PUSHES INTO THE PARQUET SCAN, which is the point of the
    * pre-filter strategy.
    */
  val FilterMaxLabel = 4

  /** FILTERED vector search — top-k under a metadata predicate, the
    * production "where label in (…)" ANN query. Strategy here is
    * PRE-FILTER: the predicate lands in the parquet scan
    * (PushedFilters — plan-asserted) and the bounded heap ranks only
    * qualifying vectors, so recall is exact-by-construction at any
    * selectivity. The alternative (post-filtering an IVF probe) keeps
    * the index's speed but must over-probe to refill k as
    * selectivity drops — the classic filtered-ANN trade; at ≥50%
    * selectivity like this predicate, scanning the filtered corpus
    * with the heap is the simpler and exactly-correct plan (a real
    * deployment partitions the index BY the filter column and gets
    * both). Queries themselves are unfiltered (they search a
    * restricted corpus, not a restricted query set).
    */
  val filteredTopk = Q(
    "ann_filtered",
    s"""WITH c AS (
       |  SELECT * FROM (
       |    SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm
       |    FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |  ) WHERE nrm > 0),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM c WHERE vec_id < $NumQueries)
       |SELECT query_id, neighbor_id, label, cosine, rank FROM (
       |  SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
       |    round(1e-9 + list_dot_product(qe, e) / (qn * nrm), 6) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_dot_product(qe, e) / (qn * nrm) DESC, c.vec_id) AS BIGINT) AS rank
       |  FROM q, c
       |  WHERE c.vec_id <> q.query_id AND c.label <= $FilterMaxLabel
       |) WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val cf = Tables.embeddings(spark, dir)
      .filter(col("label") <= FilterMaxLabel)
      .select(col("vec_id"), col("label"), embDbl(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dotC(col("e"), col("e"))))
      .filter(col("nrm") > 0d)
    val q = corpus(spark, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val scored = broadcast(q).join(cf, col("vec_id") =!= col("query_id"))
      .withColumn("cos_raw", dotC(col("qe"), col("e")) / (col("qn") * col("nrm")))
    val top = scored.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk_by_score(col("cos_raw"), col("vec_id"), TopK).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        round(lit(1e-9) + col("t.score"), 6).as("cosine"), col("t.rank").as("rank"))
    top
      .join(cf.select(col("vec_id"), col("label")), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("label"), col("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  private val KnnJoinK = 3

  /** ann_knn_join — the similarity JOIN, a different operator family
    * from the query-vs-corpus top-k above: EVERY vector gets its k=3
    * nearest neighbors, via the memoized IVF assignment (candidates =
    * own-cell members — single-probe; the self-join twin of ann_ivf's
    * probe). This is the kNN-join a SemDeDup/near-dup-graph pipeline
    * runs corpus-wide, not per query.
    *
    * Scale shape: the join shuffles on the CELL key, so per-cell work
    * is bounded by cell size (≈√N under the √N-nlist sizing; the
    * ann_refresh resplit flags are the production guard against cells
    * outgrowing that). Each vector PROBES its top-12 cells (the
    * ann_ivf nprobe knob applied to the join side — single-probe
    * measured only 0.21 recall@3 on this geometry, 4 probes ≈ 0.6,
    * 8 probes 0.75, 12 probes the AnnRecallSpec-pinned ≥ 0.75 floor a SemDeDup user
    * needs; AnnRecallSpec pins the floor against the exact in-JVM
    * kNN), so candidate volume is ≈ 12·cap·N — linear in N under the
    * per-cell cap — instead of the all-pairs N²; the per-vector
    * top-3 rides the bounded-heap aggregate, so the post-join
    * shuffle is O(N·k) rows, never the candidate set. Vectors whose
    * probed cells hold no other member legitimately emit no row
    * (both engines agree).
    */
  private val KnnJoinProbe = 12

  /** Per-cell JOIN-side membership cap for the kNN join: with
    * nlist = √N every cell holds ≈√N members, so uncapped candidates
    * are 4·N·√N — superlinear, and measured fatal at the 100× leg.
    * Capping the join side at the cell's lowest-id members bounds
    * candidates at 4·cap·N (linear); cells at the correctness SFs
    * are smaller than the cap, so results there are identical.
    */
  private val KnnJoinCellCap = 128

  /** One-time packed serving layout for the kNN join: each IVF cell's
    * capped member list (lowest KnnJoinCellCap vec_ids — the identical
    * row_number cap the oracle replays) as ONE row carrying the member
    * ids, norms and FLATTENED embeddings. ~nlist rows ≈ 128·√N members
    * total — the broadcastable candidate side a vector store ships to
    * its query executors. Built once per (session, dir) from the
    * memoized IVF assignment (SessionMemo; billed as a bench build
    * like phash_rep_edges / dedup_edges).
    */
  private[graft] def knnCellIndex(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"ann.knnCells:$dir") {
      val (_, assigned) = ivfIndex(spark, dir)
      val wCell = Window.partitionBy("cell").orderBy("vec_id")
      val capped = assigned
        .withColumn("mrn", row_number().over(wCell))
        .filter(col("mrn") <= KnnJoinCellCap)
        .select("cell", "vec_id")
      val packed = capped
        .join(corpus(spark, dir), Seq("vec_id"))
        .groupBy("cell")
        .agg(collect_list(struct(col("vec_id").as("vb"), col("nrm").as("nb"),
          col("e").as("eb"))).as("ms"))
        .select(col("cell"),
          transform(col("ms"), m => m.getField("vb")).as("vbs"),
          transform(col("ms"), m => m.getField("nb")).as("nbs"),
          flatten(transform(col("ms"), m => m.getField("eb"))).as("ebs"))
        .persist()
      packed.count()
      Seq(packed)
    }.head
  val KnnCellIndex = Build("knn_cell_index", knnCellIndex)

  val knnJoin = Q(
    "ann_knn_join",
    s"""WITH c AS ($corpusSql),
       |$ivfIndexCtesSql,
       |probe AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM scored
       |  ) WHERE rn <= $KnnJoinProbe
       |),
       |members AS (
       |  SELECT cell, vec_id AS vb FROM (
       |    SELECT cell, vec_id, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS mrn
       |    FROM assigned
       |  ) WHERE mrn <= $KnnJoinCellCap
       |),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS va, m.vb
       |  FROM probe a JOIN members m ON a.cell = m.cell AND a.vec_id != m.vb
       |)
       |SELECT vec_id, neighbor_id, cosine, rank FROM (
       |  SELECT p.va AS vec_id, p.vb AS neighbor_id,
       |    round(1e-9 + list_dot_product(ca.e, cb.e) / (ca.nrm * cb.nrm), 6) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY p.va
       |      ORDER BY list_dot_product(ca.e, cb.e) / (ca.nrm * cb.nrm) DESC, p.vb) AS BIGINT) AS rank
       |  FROM pairs p
       |  JOIN c ca ON ca.vec_id = p.va
       |  JOIN c cb ON cb.vec_id = p.vb
       |) WHERE rank <= $KnnJoinK
       |ORDER BY vec_id, rank""".stripMargin, IvfIndex, KnnCellIndex) { (spark, dir) =>
    val c = corpus(spark, dir)
    val (cent, assigned) = ivfIndex(spark, dir)
    // Per-vector top-12 probe cells computed MAP-SIDE against the
    // packed broadcast centroid book (top_cells replays scoreAgainst's
    // arithmetic and the heap's TreeSet ordering exactly — see
    // PolyHashing.topCells; the argmax/heap equivalence is pinned in
    // AnnSpec). The former shape pushed N·nlist cross-join rows
    // through two ObjectHashAggregate heap passes plus an exchange,
    // then RE-JOINED the corpus by vec_id to re-attach the embedding
    // it had just discarded — at the 100× leg that aggregation alone
    // carried ~7e8 rows. Now the probe is one compiled loop per corpus
    // row and the embedding never leaves the row, so the vec_id
    // re-join is gone too.
    val packed = cent
      .agg(array_sort(collect_list(struct(col("cid"), col("ce"), col("cn")))).as("cs"))
      .select(
        transform(col("cs"), s => s.getField("ce")).as("cws"),
        transform(col("cs"), s => s.getField("cn")).as("cns"),
        transform(col("cs"), s => s.getField("cid")).as("pks"))
    // the join side of each cell is CAPPED at KnnJoinCellCap members
    // (deterministic: the lowest vec_ids) — with nlist = √N the
    // uncapped candidate volume is 4·N·√N, which grew to 3.6e8 pairs
    // at the 100× leg (81 GB of spill, then death); the cap bounds it
    // at 4·cap·N, linear in N. Cells at the correctness SFs hold
    // fewer than the cap, so recall there is untouched, and the
    // oracle replays the identical cap so parity holds at ANY scale.
    //
    // Broadcast gate for the packed member-cell index: it holds at
    // most min(N, nlist·cap) members ≈ 128·√N — at the 100× leg 128 k
    // rows ≈ 70 MB framed. Under the gate the whole query is MAP-SIDE:
    // each probe row meets its packed cell in a broadcast join and the
    // native cell_topk prunes the cell's ≤128 candidates to k=3 in one
    // compiled loop, so the heap-merge aggregation sees 12·k rows per
    // vector instead of 12·cap (the former per-candidate join rows —
    // 1.5e9 interpreted aggregate updates at the 100× leg — are never
    // materialized as rows at all). Per-cell top-k then global top-k
    // is exact: cells partition members, so every global top-3
    // candidate is inside its own cell's top-3. Budget 256 MB of
    // ~552-byte member rows; past it (≈ N > 1.3e7 under √N sizing)
    // the shuffled cell join + full heap takes over unchanged.
    val nEmb = Tables.embeddings(spark, dir).count()
    val memberRows = math.min(nEmb, nlistForCount(nEmb).toLong * KnnJoinCellCap)
    val bcastMembers = memberRows * 552L <= (256L << 20)
    val qSide = c.crossJoin(broadcast(packed))
      .select(explode(graft.functions.HashExprs.top_cells(
          col("e"), col("nrm"), col("cws"), col("cns"), col("pks"),
          KnnJoinProbe)).as("cell"),
        col("vec_id").as("va"), col("e").as("qe"), col("nrm").as("qn"))
    val scored =
      if (bcastMembers) {
        qSide.join(broadcast(knnCellIndex(spark, dir)), Seq("cell"))
          .select(col("va"), explode(graft.functions.HashExprs.cell_topk(
            col("qe"), col("qn"), col("va"), col("vbs"), col("nbs"), col("ebs"),
            KnnJoinK)).as("t"))
          .select(col("va"), col("t.id").as("vb"), col("t.score").as("cos_raw"))
      } else {
        // score INSIDE the cell join: arrays ride only the two O(N)
        // join-input exchanges; the candidate rows collapse into
        // per-query partial heaps in the same stage, so nothing
        // candidate-sized ever reaches an exchange
        val wCell = Window.partitionBy("cell").orderBy("vec_id")
        val members = assigned
          .withColumn("mrn", row_number().over(wCell))
          .filter(col("mrn") <= KnnJoinCellCap)
          .select(col("cell"), col("vec_id").as("vb"))
        val mSide = members
          .join(c.select(col("vec_id").as("vb"), col("e").as("eb"), col("nrm").as("nb")),
            Seq("vb"))
          .select(col("cell"), col("vb"), col("eb"), col("nb"))
        qSide.join(mSide, Seq("cell"))
          .filter(col("va") =!= col("vb"))
          .select(col("va"), col("vb"),
            (dotC(col("qe"), col("eb")) / (col("qn") * col("nb"))).as("cos_raw"))
      }
    scored
      .groupBy(col("va").as("vec_id"))
      .agg(graft.functions.TopKAgg.topk_by_score(col("cos_raw"), col("vb"), KnnJoinK).as("tk"))
      .select(col("vec_id"), explode(col("tk")).as("t"))
      .select(col("vec_id"), col("t.id").as("neighbor_id"),
        round(lit(1e-9) + col("t.score"), 6).as("cosine"), col("t.rank").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** Range-search similarity floor — on this corpus's geometry the
    * planted near-dups score ≥ 0.3 and the random mass sits near 0,
    * so 0.1 exercises a genuine mid-range radius (each query keeps a
    * handful of its banded candidates). The filter compares ROUNDED
    * cosines so the boundary decision is identical on both engines.
    */
  val RangeTau = 0.1

  /** Range (radius) similarity search — the threshold member of the
    * ANN family next to the top-k's: ALL corpus vectors within cosine
    * ≥ τ of each query, not a fixed k. Same banded hyperplane-LSH
    * candidate generation as ann_lsh (multi-band lookup, oversized
    * buckets dropped — candidates stay bounded per query no matter
    * how dense a cell gets), but the verify step is a simple
    * filter — no window, no heap — so the plan is candidates →
    * broadcast-join queries → one projection. The oracle replays the
    * identical band + threshold logic, so recall semantics (what the
    * bands can reach) and the radius decision are pinned together.
    */
  val rangeSearch = Q(
    "ann_range",
    s"""WITH c AS ($corpusSql),
       |banded0 AS (
       |  ${(0 until EmbedBands).map(b => s"SELECT vec_id, $b AS band, ${bandKeySql(b)} AS key FROM c").mkString("\n  UNION ALL\n  ")}
       |),
       |small AS (
       |  SELECT band, key FROM banded0 GROUP BY band, key
       |  HAVING count(*) <= ${Dedup.BucketCap}
       |),
       |banded AS (SELECT banded0.* FROM banded0 JOIN small USING (band, key)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM banded q JOIN banded c
       |    ON q.band = c.band AND q.key = c.key AND c.vec_id != q.vec_id
       |  WHERE q.vec_id < $NumQueries
       |)
       |SELECT query_id, neighbor_id, cosine FROM (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    round(1e-9 + list_dot_product(cq.e, cc.e) / (cq.nrm * cc.nrm), 6) AS cosine
       |  FROM cand
       |  JOIN c cq ON cq.vec_id = cand.query_id
       |  JOIN c cc ON cc.vec_id = cand.neighbor_id
       |) WHERE cosine >= $RangeTau
       |ORDER BY query_id, neighbor_id""".stripMargin) { (spark, dir) =>
    val c = corpus(spark, dir)
    val planes = bandPlanesFor(c.count())
    val banded = c.select(col("vec_id"),
      explode(array((0 until EmbedBands).map { b =>
        struct(lit(b).as("band"), bandKeyCol(col("e"), b, planes).as("key"))
      }: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val capped = Dedup.dropOversizedBuckets(banded, Seq("band", "key"), Dedup.BucketCap)
    val qb = capped.filter(col("vec_id") < NumQueries)
      .select(col("band"), col("key"), col("vec_id").as("query_id"))
    val cand = broadcast(qb)
      .join(capped.select(col("band"), col("key"), col("vec_id").as("neighbor_id")),
        Seq("band", "key"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    cand
      .join(broadcast(c.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))),
        Seq("query_id"))
      .join(c.select(col("vec_id").as("neighbor_id"), col("e"), col("nrm")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(lit(1e-9) + dotC(col("qe"), col("e")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= RangeTau)
      .orderBy("query_id", "neighbor_id")
  }

  // ═══════════════ maximum inner-product search (MIPS) ═══════════════

  /** Deterministic per-item popularity weight (1 + (id mod 7)/4 ∈
    * [1, 2.5], exact binary quarters): item vector = weight ·
    * embedding. The testdata's embeddings are all unit-norm, so
    * WITHOUT a weight MIPS degenerates to cosine and the operator
    * would duplicate ann_ivf row-for-row; the weight is the
    * recommender's usual popularity/quality prior and makes the MIPS
    * ranking genuinely distinct (measured top-10 overlap with cosine:
    * 4–8/10 at sf0.01).
    */
  private def mipsWeightCol(id: Column): Column =
    lit(1.0) + pmod(id, lit(7L)).cast("double") / 4
  private def mipsWeightSql(id: String): String =
    s"(1 + CAST($id % 7 AS DOUBLE) / 4)"

  /** Maximum inner-product search — the recommender serve (user ·
    * item score, where a popular scaled item legitimately outranks a
    * cosine-closer niche one): queries are raw directions, items are
    * popularity-weighted embeddings, rank by exact inner product
    * w(item)·dot(q, e). Served from the SAME memoized IVF index as
    * ann_ivf (direction-quantized cells, NProbe probes), rescored
    * with the weighted product into the bounded-heap top-k — one more
    * consumer of the build-once index, no new corpus structure.
    *
    * DESIGN NOTE (measured rejection): the Neyshabur–Srebro
    * norm-augmentation reduction (lift items by sqrt(M²−‖x‖²), band
    * with the standard hyperplane LSH) was prototyped first and
    * measured 0.10 recall@10 at sf0.01 — at this corpus's spread-out
    * neighbor cosines (~0.3) the sign-band collision probability
    * decays exactly as ann_lsh's pinned 0.08, and the aug coordinate
    * only worsens the geometry. IVF probing measured 0.84@4 on the
    * same truth; MipsPprSpec pins the floor.
    *
    * Scale shape: identical to ann_ivf's probe path — the index is
    * the one-time billed build, probe-cell selection and the final
    * top-k ride the bounded-heap aggregate, the weight is a map-side
    * expression on the candidate rows (never a stored second corpus).
    */
  val mipsTopk = Q(
    "ann_mips",
    s"""WITH c AS ($corpusSql),
       |$ivfIndexCtesSql,
       |cand AS (
       |  SELECT DISTINCT q.query_id, a.vec_id
       |  FROM qcells q JOIN assigned a ON q.cell = a.cell AND a.vec_id != q.query_id
       |)
       |SELECT query_id, neighbor_id, score, rank FROM (
       |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
       |    round(1e-9 + ${mipsWeightSql("cand.vec_id")} * list_dot_product(cq.e, cc.e), 6) AS score,
       |    CAST(row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY ${mipsWeightSql("cand.vec_id")} * list_dot_product(cq.e, cc.e) DESC,
       |        cand.vec_id) AS BIGINT) AS rank
       |  FROM cand
       |  JOIN c cq ON cq.vec_id = cand.query_id
       |  JOIN c cc ON cc.vec_id = cand.vec_id
       |) WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin, IvfIndex) { (spark, dir) =>
    import graft.functions.TopKAgg
    val c = corpus(spark, dir)
    val cand = ivfCandidates(spark, dir, NProbe)
    val qvec = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val res = cand
      .join(broadcast(qvec), Seq("query_id"))
      .join(c.select(col("vec_id"), col("e")), Seq("vec_id"))
      .withColumn("mips_raw", mipsWeightCol(col("vec_id")) * dotC(col("qe"), col("e")))
    res.groupBy("query_id")
      .agg(TopKAgg.topk_by_score(col("mips_raw"), col("vec_id"), TopK).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        round(lit(1e-9) + col("t.score"), 6).as("score"), col("t.rank").as("rank"))
      .orderBy("query_id", "rank")
  }

  val all: Seq[Q] =
    Seq(topk, topkAgg, topkPlan, lshTopk, ivfTopk, pqTopk, ivfpqTopk, sq8Topk,
      refresh, embedDedup, embedClusters, filteredTopk, knnJoin, rangeSearch,
      mipsTopk)
}
