package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.functions._

/** Re-aggregation patterns — the two ways a 100 TB warehouse avoids
  * rescanning the corpus when serving a rollup:
  *
  *  - mergeable sketches: per-shard HLL sketches built once, unioned
  *    into any coarser grouping without touching rows again
  *    (q19_sketch_union exercises Spark's DataSketches HLL agg +
  *    union + estimate end-to-end);
  *  - incremental view maintenance: an existing aggregate plus a
  *    delta-slice aggregate merged algebraically — sum/count are
  *    mergeable, avg re-derives from them — instead of a full
  *    recompute (mv_incremental).
  */
object Maintain {

  /** Per-source distinct-document sketches + the cross-source union.
    * The estimates themselves are engine-specific (DataSketches HLL
    * here), so — exactly like q9_approx — the query emits the EXACT
    * counts plus booleans pinning each estimate within 5% (HLL at
    * lgK=14 measures ~0.8% rsd; 5% is a loose tripwire), and the
    * oracle hash-checks counts and booleans. The scale shape is the
    * point: per-source sketches are partial aggregates (map-side
    * combined, constant size); the ALL row re-aggregates the 20
    * sketch rows, never the corpus.
    */
  /** One-time sketch-table build: per-source (HLL sketch, exact
    * distinct) rows, persisted via SessionMemo — the stored rollup a
    * warehouse maintains per shard/partition. BOTH the sketch and the
    * exact pin key on the CONTENT HASH (the dd_exact_hash
    * discipline): the distinct shuffle carries 32-byte keys, never
    * text, and the sketch counts the empty-string doc too
    * (DataSketches skips "" updates — the fuzz sweep caught an
    * estimate short by exactly the empty doc when sketching raw
    * text). The exact count rides along ONLY as the oracle's pin; a
    * production build stores just the constant-size sketches.
    */
  def sketchFrames(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[org.apache.spark.sql.DataFrame] =
    graft.SessionMemo.frames(spark, s"maintain.hllSketches:$dir") {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val docs = Tables.documents(spark, dir)
        .select(col("source"), sha2(col("text"), 256).as("sha"))
      val perSource = docs
        .groupBy("source")
        .agg(
          hll_sketch_agg(col("sha"), lit(14)).as("sk"),
          countDistinct(col("sha")).as("n_exact"))
        .persist(lvl)
      // the global exact pin is its own build output: duplicates CROSS
      // sources here, so it cannot be derived from the per-source rows
      // — production stores only the sketches and the union IS the
      // cross-source answer; the exact count exists to grade it
      val globalExact = docs.agg(countDistinct(col("sha")).as("n_exact")).persist(lvl)
      perSource.count(); globalExact.count() // materialize: queries time the SERVE path
      Seq(perSource, globalExact)
    }
  val HllSketches = Build("hll_sketches", sketchFrames)

  val sketchUnion = Q(
    "q19_sketch_union",
    """SELECT source, n_exact, TRUE AS est_ok FROM (
      |  SELECT source, CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_exact
      |  FROM documents GROUP BY source
      |  UNION ALL
      |  SELECT 'ALL' AS source, CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_exact
      |  FROM documents
      |)
      |ORDER BY source""".stripMargin, HllSketches) { (spark, dir) =>
    val Seq(perSource, globalExact) = sketchFrames(spark, dir)
    // serve path: per-source rows read straight from the stored
    // sketch table; the ALL row unions the |sources| sketch rows —
    // the corpus is NOT rescanned by this query at all
    val allRow = perSource
      .agg(hll_union_agg(col("sk"), allowDifferentLgConfigK = lit(false)).as("sk"))
      .crossJoin(globalExact)
      .select(lit("ALL").as("source"), col("sk"), col("n_exact"))
    perSource.select(col("source"), col("sk"), col("n_exact"))
      .unionByName(allRow)
      .select(col("source"), col("n_exact"),
        (abs(hll_sketch_estimate(col("sk")) - col("n_exact")) <=
          col("n_exact").cast("double") * 0.05).as("est_ok"))
      .orderBy("source")
  }

  /** Incremental aggregate maintenance: the per-priority revenue
    * rollup over orders, maintained as base slice (orderdate < 1999,
    * "the materialized view") merged with the delta slice (≥ 1999,
    * "yesterday's partition"). Merge is one |groups|-row union +
    * re-aggregate — sums and counts add, the average re-derives from
    * the merged sums — and must equal the full-table recompute, which
    * is exactly what the oracle runs. At production volume the base
    * agg is a stored table and only the delta scan runs per refresh.
    */
  val incremental = Q(
    "mv_incremental",
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  round(1e-9 + sum(o_totalprice), 2) AS revenue,
      |  round(1e-9 + sum(o_totalprice) / count(*), 4) AS avg_price
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    val orders = Tables.orders(spark, dir)
    def slice(pred: org.apache.spark.sql.Column) =
      orders.filter(pred)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("revenue"))
    val cutoff = lit("1999-01-01").cast("timestamp")
    val base = slice(col("o_orderdate") < cutoff)
    val delta = slice(col("o_orderdate") >= cutoff)
    base.unionByName(delta)
      .groupBy("o_orderpriority")
      .agg(sum("n_orders").as("n_orders"), sum("revenue").as("rev"))
      .select(
        col("o_orderpriority"),
        col("n_orders"),
        round(lit(1e-9) + col("rev"), 2).as("revenue"),
        round(lit(1e-9) + col("rev") / col("n_orders").cast("double"), 4).as("avg_price"))
      .orderBy("o_orderpriority")
  }

  /** One-time KLL quantile-sketch table build: per-returnflag rows
    * carrying the KLL(200) sketch of l_extendedprice plus the exact
    * quantile BRACKETS that grade the estimates (p45/p50/p55 and
    * p90/p95/p99 — a ±5%-RANK pin, distribution-free, generous next
    * to KLL's published ±1.65% @ k=200). The global exact brackets
    * are their own build output (cross-group quantiles don't compose
    * from per-group ones — same reason q19's global exact row
    * exists); production stores only the constant-size sketches.
    */
  def kllFrames(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[org.apache.spark.sql.DataFrame] =
    graft.SessionMemo.frames(spark, s"maintain.kllSketches:$dir") {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val li = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("grp"), col("l_extendedprice").as("x"))
      // ONE array-percentile aggregate per group (six separate
      // percentile() calls each carry their own sort buffer — the
      // fused form measured 17.2 → ~4 s at sf0.1)
      val qs = Seq(0.45, 0.5, 0.55, 0.90, 0.95, 0.99)
      val names = Seq("ex45", "ex50", "ex55", "ex90", "ex95", "ex99")
      val bracketAgg = percentile(col("x"),
        typedLit(qs)).as("exq")
      def splitBrackets(df: org.apache.spark.sql.DataFrame) =
        df.select(df.columns.filterNot(_ == "exq").map(col) ++
          names.zipWithIndex.map { case (n, i) => col("exq").getItem(i).as(n) }: _*)
      val perGroup = splitBrackets(
        li.groupBy("grp")
          .agg(graft.functions.KllAgg.kll_sketch_agg(col("x"), 200).as("sk"), bracketAgg))
        .persist(lvl)
      val globalBrackets = splitBrackets(li.agg(bracketAgg)).persist(lvl)
      perGroup.count(); globalBrackets.count() // materialize: q26 times the SERVE path
      Seq(perGroup, globalBrackets)
    }
  val KllSketches = Build("kll_sketches", kllFrames)

  /** Mergeable quantile serving: per-group medians/p95s read straight
    * from the stored KLL sketch table, the ALL row from a union of
    * the |groups| sketch rows — like q19 the corpus is NOT rescanned
    * for the rollup. Emits the EXACT quantiles (which is what the
    * oracle recomputes) plus booleans pinning each KLL estimate
    * inside the exact ±5%-rank bracket: [p45, p55] must contain
    * est(p50), [p90, p99] must contain est(p95) — quantile
    * monotonicity makes those brackets valid for any estimate whose
    * true rank error is under 5 points, so the pin needs no
    * distribution assumption and no serve-time corpus pass.
    */
  val kllQuantiles = Q(
    "q26_kll",
    """SELECT grp, p50, p95,
      |  -- NULL (not TRUE) when the slice is empty: Spark's bracket
      |  -- comparison is NULL against an empty sketch's NULL estimate,
      |  -- and the ALL row exists even over an empty corpus
      |  CASE WHEN p50 IS NULL THEN NULL ELSE TRUE END AS p50_ok,
      |  CASE WHEN p95 IS NULL THEN NULL ELSE TRUE END AS p95_ok FROM (
      |  SELECT l_returnflag AS grp,
      |    round(1e-9 + quantile_cont(l_extendedprice, 0.5), 2) AS p50,
      |    round(1e-9 + quantile_cont(l_extendedprice, 0.95), 2) AS p95
      |  FROM lineitem GROUP BY l_returnflag
      |  UNION ALL
      |  SELECT 'ALL' AS grp,
      |    round(1e-9 + quantile_cont(l_extendedprice, 0.5), 2) AS p50,
      |    round(1e-9 + quantile_cont(l_extendedprice, 0.95), 2) AS p95
      |  FROM lineitem
      |)
      |ORDER BY grp""".stripMargin, KllSketches) { (spark, dir) =>
    import graft.functions.KllAgg.{kll_merge_agg, kll_quantile}
    val Seq(perGroup, globalBrackets) = kllFrames(spark, dir)
    val exCols = Seq("ex45", "ex50", "ex55", "ex90", "ex95", "ex99").map(col)
    val allRow = perGroup
      .agg(kll_merge_agg(col("sk"), 200).as("sk"))
      .crossJoin(globalBrackets)
      .select(lit("ALL").as("grp") +: col("sk") +: exCols: _*)
    perGroup.select(col("grp") +: col("sk") +: exCols: _*)
      .unionByName(allRow)
      .select(col("grp"),
        round(lit(1e-9) + col("ex50"), 2).as("p50"),
        round(lit(1e-9) + col("ex95"), 2).as("p95"),
        (kll_quantile(col("sk"), lit(0.5)) >= col("ex45") &&
          kll_quantile(col("sk"), lit(0.5)) <= col("ex55")).as("p50_ok"),
        (kll_quantile(col("sk"), lit(0.95)) >= col("ex90") &&
          kll_quantile(col("sk"), lit(0.95)) <= col("ex99")).as("p95_ok"))
      .orderBy("grp")
  }

  /** One-time theta-sketch build for the 1996/1997 purchaser cohorts
    * (q20_setops' populations): ONE conditional-aggregation pass over
    * orders produces both cohort sketches in a single row, plus the
    * exact set-op counts that grade them (computed here because at
    * serve time only the sketches exist; production stores the
    * sketches alone and the set ops never rescan orders).
    */
  def thetaFrames(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[org.apache.spark.sql.DataFrame] =
    graft.SessionMemo.frames(spark, s"maintain.thetaSketches:$dir") {
      import graft.functions.ThetaAgg.theta_sketch_agg
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val orders = Tables.orders(spark, dir)
        .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
        .filter(col("y") === 1996 || col("y") === 1997)
      val sketches = orders.agg(
        theta_sketch_agg(when(col("y") === 1996, col("o_custkey"))).as("sk96"),
        theta_sketch_agg(when(col("y") === 1997, col("o_custkey"))).as("sk97"))
        .persist(lvl)
      def cohort(y: Int) = orders.filter(col("y") === y).select("o_custkey").distinct()
      val a = cohort(1996); val b = cohort(1997)
      val exact = a.intersect(b).agg(count(lit(1)).as("n_both"))
        .crossJoin(a.except(b).agg(count(lit(1)).as("n_only96")))
        .crossJoin(b.except(a).agg(count(lit(1)).as("n_only97")))
        .crossJoin(a.union(b).distinct().agg(count(lit(1)).as("n_either")))
        .persist(lvl)
      sketches.count(); exact.count()
      Seq(sketches, exact)
    }
  val ThetaSketches = Build("theta_sketches", thetaFrames)

  /** Sketch-served cohort set operations — the Theta member of the
    * sketch trio (HLL distincts q19, KLL quantiles q26): how many
    * customers purchased in BOTH 1996 and 1997, only one, or either,
    * answered from the two stored cohort sketches via intersection /
    * A-not-B / union WITHOUT rescanning orders or co-shuffling the
    * cohorts (q20_setops runs the exact hash-distinct plans — this is
    * the same report at sketch cost). Emits the exact counts (which
    * the oracle recomputes with INTERSECT/EXCEPT/UNION) plus booleans
    * pinning each estimate within 5% (theta at 4 k nominal entries is
    * EXACT below 4 k distinct and ~1.6% RSE above).
    */
  val thetaSetops = Q(
    "q28_theta",
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
      |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
      |SELECT 'both' AS set_op, CAST(count(*) AS BIGINT) AS n_exact, TRUE AS est_ok
      |  FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT 'either', CAST(count(*) AS BIGINT), TRUE
      |  FROM (SELECT * FROM a UNION SELECT * FROM b)
      |UNION ALL
      |SELECT 'only_1996', CAST(count(*) AS BIGINT), TRUE
      |  FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |UNION ALL
      |SELECT 'only_1997', CAST(count(*) AS BIGINT), TRUE
      |  FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
      |ORDER BY set_op""".stripMargin, ThetaSketches) { (spark, dir) =>
    import graft.functions.ThetaAgg._
    val Seq(sketches, exact) = thetaFrames(spark, dir)
    val est = sketches.select(
      theta_intersect_estimate(col("sk96"), col("sk97")).as("e_both"),
      theta_anotb_estimate(col("sk96"), col("sk97")).as("e_only96"),
      theta_anotb_estimate(col("sk97"), col("sk96")).as("e_only97"),
      theta_union_estimate(col("sk96"), col("sk97")).as("e_either"))
    val row = est.crossJoin(exact)
    def one(op: String, exactCol: String, estCol: String) =
      row.select(lit(op).as("set_op"), col(exactCol).as("n_exact"),
        (abs(col(estCol) - col(exactCol)) <= col(exactCol).cast("double") * 0.05)
          .as("est_ok"))
    one("both", "n_both", "e_both")
      .unionByName(one("either", "n_either", "e_either"))
      .unionByName(one("only_1996", "n_only96", "e_only96"))
      .unionByName(one("only_1997", "n_only97", "e_only97"))
      .orderBy("set_op")
  }

  /** One-time frequency-sketch build: per-source LongsSketch(1024)
    * rows over the word-3-gram SHINGLE hash stream (the per-doc
    * distinct shingles dd_minhash/decontamination shingle on — tens
    * of thousands of distinct items even here, far past the counter
    * map, so the sketch genuinely purges), plus the exact top-16 pin
    * (bounded-heap, df DESC / h ASC) that grades the serve-path
    * estimates. The head this serves is the STOP-SHINGLE list — the
    * boilerplate n-grams a decontamination/overlap pass should
    * discount — at constant memory per source. Production stores only
    * the sketches; any rollup (here: the global head) merges them.
    */
  def freqFrames(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[org.apache.spark.sql.DataFrame] =
    graft.SessionMemo.frames(spark, s"maintain.freqSketches:$dir") {
      import graft.functions.{FreqAgg, Hashing, TopKAgg}
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // shingle_hashes is per-doc distinct, so each (doc, h) appears
      // once and the weight is 1 — tf below is DOCUMENT frequency
      val dc = Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"),
          explode(Hashing.shingleHashes(col("text"))).as("h"))
      val perSource = dc
        .groupBy("source")
        .agg(FreqAgg.freq_sketch_agg(col("h"), lit(1L), freqMapSize).as("sk"))
        .persist(lvl)
      val vocab = dc.groupBy("h").agg(count(lit(1)).as("tf"))
      val exactTop = vocab
        .agg(TopKAgg.topk_by_score(col("tf").cast("double"), col("h"), freqTopK).as("tk"))
        .select(explode(col("tk")).as("t"))
        .select(col("t.rank").as("rank"), col("t.id").as("h"))
        .join(vocab, "h")
        .select(col("rank"), col("h"), col("tf"))
        .persist(lvl)
      perSource.count(); exactTop.count() // materialize: q29 times the SERVE path
      Seq(perSource, exactTop)
    }
  val FreqSketches = Build("freq_sketches", freqFrames)

  /** Shared with Streaming.freqSketch (and StreamingSpec's merge)
    * so the streamed sketch can never silently diverge from the
    * batch build it is cross-validated against. */
  private[graft] val freqMapSize = 1024
  private val freqTopK = 16

  /** Sketch-served stop-shingle head — the FREQUENT-ITEMS member of
    * the sketch family (HLL distincts q19, KLL quantiles q26, Theta
    * set ops q28): the corpus's 16 most document-frequent word-3-gram
    * shingles answered from the |sources| stored sketch rows via one
    * binary merge — the corpus is NOT rescanned, and the counter map
    * is capped at 1024 entries no matter how many distinct shingles
    * exist (tx_topterms runs the exact vocabulary-sized aggregation;
    * this is the same question at constant memory, over an item
    * universe that actually exceeds the map). Emits the EXACT
    * ranks/counts (which the oracle recomputes) plus a boolean
    * pinning the true count inside the sketch's DETERMINISTIC
    * bracket lowerBound ≤ exact ≤ upperBound (upper − lower ≤
    * maxError; the estimate itself over-counts by at most that) —
    * unlike HLL/KLL/Theta this bound is not probabilistic, so the
    * oracle pins TRUE with no tolerance at all.
    */
  val freqTopTerms = Q(
    "q29_freq", {
      import graft.functions.Hashing
      s"""WITH w AS (SELECT doc_id, ${Hashing.wordHashesSql("text")} AS wh FROM documents),
         |sh AS (SELECT doc_id, unnest(${Hashing.shingleHashesSql("wh")}) AS h FROM w),
         |v AS (SELECT h, CAST(count(*) AS BIGINT) AS tf FROM sh GROUP BY h),
         |r AS (SELECT h, tf,
         |    CAST(row_number() OVER (ORDER BY tf DESC, h) AS BIGINT) AS rank FROM v)
         |SELECT rank, h, tf, TRUE AS est_ok FROM r WHERE rank <= $freqTopK
         |ORDER BY rank""".stripMargin
    }, FreqSketches) { (spark, dir) =>
    import graft.functions.FreqAgg._
    val Seq(perSource, exactTop) = freqFrames(spark, dir)
    val merged = perSource.agg(freq_merge_agg(col("sk"), freqMapSize).as("sk"))
    exactTop.crossJoin(merged)
      .select(col("rank"), col("h"), col("tf"),
        (freq_lower_bound(col("sk"), col("h")) <= col("tf") &&
          freq_upper_bound(col("sk"), col("h")) >= col("tf")).as("est_ok"))
      .orderBy("rank")
  }

  // ═══════ sketch-served two-sample drift (the quartet's application) ═══════

  private val DriftYearA = 1996
  private val DriftYearB = 1997
  private val DriftGrid: Seq[Long] = (1 to 10).map(_ * 10000L)

  /** Per-ship-year KLL sketches of l_extendedprice + the exact grid
    * CDFs that grade them — one corpus pass for both (the sketch agg
    * and a fused conditional-agg CDF), stored like every other sketch
    * build; production keeps only the constant-size sketches and the
    * monitoring job re-probes them each cycle.
    */
  def kllYearFrames(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[org.apache.spark.sql.DataFrame] =
    graft.SessionMemo.frames(spark, s"maintain.kllYearSketches:$dir") {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val li = Tables.lineitem(spark, dir)
        .select(year(col("l_shipdate")).as("yr"), col("l_extendedprice").as("x"))
        .filter(col("yr").isin(DriftYearA, DriftYearB))
      val sketches = li.groupBy("yr")
        .agg(graft.functions.KllAgg.kll_sketch_agg(col("x"), 200).as("sk"))
        .persist(lvl)
      val cdfAggs = DriftGrid.map(xv =>
        (sum(when(col("x") <= xv.toDouble, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as(s"f$xv"))
      val exact = li.groupBy("yr").agg(cdfAggs.head, cdfAggs.tail: _*)
        .select(col("yr"), explode(array(DriftGrid.map(xv =>
          struct(lit(xv).as("xv"), col(s"f$xv").as("fr"))): _*)).as("g"))
        .select(col("yr"), col("g.xv").as("xv"), col("g.fr").as("fr"))
        .persist(lvl)
      sketches.count(); exact.count() // materialize: q30 times the SERVE path
      Seq(sketches, exact)
    }
  val KllYearSketches = Build("kll_year_sketches", kllYearFrames)

  /** Sketch-served DISTRIBUTION DRIFT — the two-sample application
    * the sketch quartet exists for (ma_drift_psi watches categorical
    * bins with exact counts; this watches a numeric distribution at
    * sketch cost): the 1996-vs-1997 extendedprice CDFs probed at a
    * fixed value grid from the two stored KLL sketches, the gap per
    * probe (the grid-KS statistic's components), a drift flag on the
    * rounded gap, and booleans pinning each sketch CDF within ±0.03
    * rank of the exact CDF (KLL k=200 publishes ±1.65%; the realized
    * error is MEASURED in ApproxErrorSpec). Exact values are emitted
    * so the oracle can recompute them — at volume only the two
    * sketches are probed, the corpus is never rescanned.
    */
  val kllDrift = Q(
    "q30_kll_drift",
    s"""WITH li AS (
       |  SELECT year(l_shipdate) AS yr, l_extendedprice AS x FROM lineitem
       |  WHERE year(l_shipdate) IN ($DriftYearA, $DriftYearB)),
       |g AS (SELECT unnest(generate_series(1, ${DriftGrid.length})) AS k),
       |f AS (
       |  SELECT yr, 10000 * k AS xv,
       |    CAST(sum(CASE WHEN x <= 10000 * k THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS fr
       |  FROM li, g GROUP BY yr, k)
       |SELECT CAST(xv AS BIGINT) AS x,
       |  round(1e-9 + fa + 1e-9, 6) AS f_a,
       |  round(1e-9 + fb + 1e-9, 6) AS f_b,
       |  round(1e-9 + abs(fa - fb) + 1e-9, 6) AS gap,
       |  round(1e-9 + abs(fa - fb) + 1e-9, 6) >= 0.1 AS drifted,
       |  TRUE AS est_ok_a, TRUE AS est_ok_b
       |FROM (SELECT xv, fr AS fa FROM f WHERE yr = $DriftYearA)
       |JOIN (SELECT xv, fr AS fb FROM f WHERE yr = $DriftYearB) USING (xv)
       |ORDER BY x""".stripMargin, KllYearSketches) { (spark, dir) =>
    import graft.functions.KllAgg.kll_rank
    val Seq(sketches, exact) = kllYearFrames(spark, dir)
    val fa = exact.filter(col("yr") === DriftYearA).select(col("xv"), col("fr").as("fa"))
    val fb = exact.filter(col("yr") === DriftYearB).select(col("xv"), col("fr").as("fb"))
    val ska = sketches.filter(col("yr") === DriftYearA).select(col("sk").as("ska"))
    val skb = sketches.filter(col("yr") === DriftYearB).select(col("sk").as("skb"))
    fa.join(fb, "xv")
      .crossJoin(broadcast(ska)).crossJoin(broadcast(skb))
      .select(col("xv").as("x"),
        round(lit(1e-9) + col("fa") + 1e-9, 6).as("f_a"),
        round(lit(1e-9) + col("fb") + 1e-9, 6).as("f_b"),
        round(lit(1e-9) + abs(col("fa") - col("fb")) + 1e-9, 6).as("gap"),
        (round(lit(1e-9) + abs(col("fa") - col("fb")) + 1e-9, 6) >= 0.1).as("drifted"),
        (abs(kll_rank(col("ska"), col("xv").cast("double")) - col("fa")) <= 0.03).as("est_ok_a"),
        (abs(kll_rank(col("skb"), col("xv").cast("double")) - col("fb")) <= 0.03).as("est_ok_b"))
      .orderBy("x")
  }

  /** One-time audience-sketch build: per event type, the HLL sketch
    * of distinct user_ids plus the exact distinct pin, and the exact
    * pairwise-intersection frame — (user, type)-distinct rows
    * self-joined per user, so a user contributes each unordered type
    * pair once (≤ |types|²/2 rows per user, linear overall). The
    * exact frames exist only to grade the sketches; production
    * stores the |types| sketch rows.
    */
  def audienceFrames(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[org.apache.spark.sql.DataFrame] =
    graft.SessionMemo.frames(spark, s"maintain.hllAudience:$dir") {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val tm = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type")).distinct().persist(lvl)
      val perType = tm.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"),
          count(lit(1)).as("n_exact"))
        .persist(lvl)
      val inter = tm.as("a").join(tm.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_inter"))
        .persist(lvl)
      perType.count(); inter.count() // materialize: queries time the SERVE path
      tm.unpersist(false)
      Seq(perType, inter)
    }
  val AudienceSketches = Build("audience_sketches", audienceFrames)

  /** Audience overlap by inclusion–exclusion on stored HLL sketches:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), the standard mergeable-
    * sketch answer to "how many users did both X and Y" — HLL unions
    * losslessly but cannot intersect, so the overlap is derived, and
    * its error scales with the UNION size, not the intersection. The
    * serve path touches only the |types|-row sketch table: the pair
    * frame is a self-join of that tiny build output, the union runs
    * the scalar hll_union per pair, and the event stream is never
    * rescanned (q19's posture). Graded like q9_approx: exact counts
    * ride as the pin, est_ok bounds the derived estimate at 5% of
    * n_a+n_b (≥ the union bound that drives the error).
    */
  val hllIntersect = Q(
    "q38_hll_intersect",
    """WITH tm AS (SELECT DISTINCT user_id, event_type FROM events),
      |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM tm GROUP BY event_type)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  na.n AS n_a, nb.n AS n_b,
      |  CAST(count(*) AS BIGINT) AS n_inter, TRUE AS est_ok
      |FROM tm a JOIN tm b
      |  ON a.user_id = b.user_id AND a.event_type < b.event_type
      |JOIN n na ON na.event_type = a.event_type
      |JOIN n nb ON nb.event_type = b.event_type
      |GROUP BY a.event_type, b.event_type, na.n, nb.n
      |ORDER BY type_a, type_b""".stripMargin, AudienceSketches) { (spark, dir) =>
    val Seq(perType, inter) = audienceFrames(spark, dir)
    val a = perType.select(col("event_type").as("type_a"),
      col("sk").as("sk_a"), col("n_exact").as("n_a"))
    val b = perType.select(col("event_type").as("type_b"),
      col("sk").as("sk_b"), col("n_exact").as("n_b"))
    a.join(b, col("type_a") < col("type_b"))
      .join(inter, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_inter"),
        (abs(hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b")) -
          hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))) -
          col("n_inter").cast("double")) <=
          (col("n_a") + col("n_b")).cast("double") * 0.05).as("est_ok"))
      .orderBy("type_a", "type_b")
  }

  val all: Seq[Q] = Seq(sketchUnion, incremental, kllQuantiles, thetaSetops, freqTopTerms,
    kllDrift, hllIntersect)
}
