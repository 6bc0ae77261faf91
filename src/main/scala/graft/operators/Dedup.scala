package graft.operators

import graft.{Build, Q, Tables}
import graft.functions.Hashing._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data deduplication family: exact, MinHash+LSH banding,
  * n-gram Jaccard verification, SimHash, embedding-cosine.
  *
  * Scale design: signatures are map-only; candidate generation is a
  * self-join on band-bucket keys, so the O(n²) pair space is never
  * materialized — only same-bucket pairs (expected bucket size is
  * tiny for 4×6 banding at Jaccard < 0.5). Verification joins run on
  * the candidate set, not the corpus.
  */
object Dedup {

  private val mhNames = (0 until NumPerms).map(j => f"mh$j%02d")

  /** Max docs per LSH band bucket before the bucket is dropped. */
  val BucketCap = 1000

  /** Drop every row belonging to an oversized bucket: keeps only rows
    * whose key-group has at most `cap` members. This is the degenerate-
    * bucket guard for every LSH-style self-join in the engine — without
    * it one boilerplate bucket (shared header text, zero simhash, a
    * dense hyperplane cell) goes O(bucket²) at 100 TB. Dropped buckets'
    * pairs are recovered by the other bands with overwhelming
    * probability at real duplication rates. Every caller mirrors the
    * cap in its DuckDB oracle SQL.
    *
    * Shape: a LEFT ANTI join against the OVERSIZED key set, not an
    * inner join against the small one. The oversized set is tiny by
    * this operator's own premise (degenerate buckets are the rare
    * pathology), so AQE broadcasts it at runtime and the banded frame
    * never re-shuffles for the cap check; the count aggregation that
    * feeds it is partial-aggregated (a degenerate bucket costs a long
    * counter per map task, never a collected list).
    */
  def dropOversizedBuckets(df: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    val keys = keyCols.map(col)
    val big = df.groupBy(keys: _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .select(keys: _*)
    df.join(big, keyCols, "left_anti")
  }

  // ═══════════════ exact dedup ═══════════════

  val exact = Q(
    "dd_exact",
    """SELECT CAST(min(doc_id) AS BIGINT) AS canonical_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(min(n_chars) AS BIGINT) AS n_chars
      |FROM documents
      |GROUP BY text
      |ORDER BY canonical_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy("text")
      .agg(
        min("doc_id").as("canonical_id"),
        count(lit(1)).as("n_docs"),
        min("n_chars").as("n_chars"))
      .select("canonical_id", "n_docs", "n_chars")
      .orderBy("canonical_id")
  }

  /** Exact dedup keyed by SHA-256 instead of the raw text: dd_exact
    * shuffles the full document bytes to group identical texts — at
    * 100 TB that is the dominant cost. Grouping by a 256-bit content
    * hash shuffles 32 bytes per doc with the same grouping (collision
    * probability is negligible at any feasible corpus size), which is
    * the production shape for exact dedup. Same aggregate outputs as
    * dd_exact plus the hash key.
    */
  val exactHash = Q(
    "dd_exact_hash",
    """SELECT sha256(text) AS content_sha,
      |  CAST(min(doc_id) AS BIGINT) AS canonical_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(min(n_chars) AS BIGINT) AS n_chars
      |FROM documents
      |GROUP BY sha256(text)
      |ORDER BY canonical_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(sha2(col("text"), 256).as("content_sha"))
      .agg(
        min("doc_id").as("canonical_id"),
        count(lit(1)).as("n_docs"),
        min("n_chars").as("n_chars"))
      .select("content_sha", "canonical_id", "n_docs", "n_chars")
      .orderBy("canonical_id")
  }

  // ═══════════════ MinHash signatures ═══════════════

  /** doc_id + shingle array (recomputed where needed — the hashing is
    * cheap, map-only, and caching array columns through the columnar
    * in-memory store is pathologically slow).
    */
  private def shinglesDf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), shingleHashes(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** doc_id + k MinHash values, persisted once per (session, dir)
    * (SessionMemo, so evict and release free it): shared by
    * dd_minhash, both self-join sides of dd_lsh_pairs / dd_jaccard,
    * pipe_decon_fuzzy and the fuzzy band indexes. Fixed-width only —
    * the array-typed shingle column deliberately stays out of storage.
    */
  private def minhashDf(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"dedup.minhash:$dir") {
      val mh = Tables.documents(spark, dir)
        .select(col("doc_id"), minhashSig(col("text")).as("sig"))
        .filter(col("sig").isNotNull)
        .select(col("doc_id") +:
          (0 until NumPerms).map(j => element_at(col("sig"), j + 1).as(mhNames(j))): _*)
        .persist()
      mh.count()
      Seq(mh)
    }.head
  val MinhashSigs = Build("minhash_sigs", minhashDf)

  /** Matching SQL CTE body: doc_id, shingles, mh00..mh23. */
  private val minhashSql: String = {
    val sh = shingleHashesSql("wh")
    s"""SELECT doc_id, shingles,
       |  ${(0 until NumPerms).map(j => s"${minHashSql("shingles", j)} AS ${mhNames(j)}").mkString(",\n  ")}
       |FROM (
       |  SELECT doc_id, $sh AS shingles
       |  FROM (SELECT doc_id, ${wordHashesSql("text")} AS wh FROM documents)
       |) WHERE len(shingles) > 0""".stripMargin
  }

  val minhash = Q(
    "dd_minhash",
    s"""SELECT doc_id, ${mhNames.mkString(", ")}
       |FROM ($minhashSql)
       |ORDER BY doc_id""".stripMargin, MinhashSigs) { (spark, dir) =>
    minhashDf(spark, dir)
      .select("doc_id", mhNames: _*)
      .orderBy("doc_id")
  }

  // ═══════════════ LSH candidate pairs ═══════════════

  /** The (doc_id, band, key) LSH band rows of the whole corpus —
    * shared by dd_lsh_pairs, pipe_decon_fuzzy, and the streaming
    * fuzzy-decon eval index.
    */
  private def bandedMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashDf(spark, dir).select(
      col("doc_id"),
      explode(array((0 until NumBands).map { b =>
        struct(lit(b).as("band"), bandKey(mhNames.map(col), b).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Candidate pairs sharing ≥1 of the 4 six-row bands (Spark side). */
  private def lshPairsDf(spark: SparkSession, dir: String): DataFrame = {
    val banded = bandedMinhash(spark, dir)
    // Skew guard: a degenerate band bucket (e.g. a boilerplate shingle
    // shared by millions of docs) would otherwise explode quadratically.
    // Capped buckets are dropped — their pairs are recovered by the
    // other bands with overwhelming probability at real duplication
    // rates. Cap mirrored in the oracle SQL.
    val capped = dropOversizedBuckets(banded, Seq("band", "key"), BucketCap)
    val a = capped.select(col("band"), col("key"), col("doc_id").as("doc_a"))
    val b = capped.select(col("band"), col("key"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "key")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  private val lshPairsSql: String = {
    val bandSelects = (0 until NumBands).map { b =>
      s"SELECT doc_id, $b AS band, ${bandKeySql(mhNames, b)} AS key FROM mh"
    }.mkString("\nUNION ALL\n")
    s"""WITH mh AS ($minhashSql),
       |banded0 AS ($bandSelects),
       |small AS (
       |  SELECT band, key FROM banded0 GROUP BY band, key
       |  HAVING count(*) <= $BucketCap
       |),
       |banded AS (SELECT banded0.* FROM banded0 JOIN small USING (band, key))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin
  }

  val lshPairs = Q(
    "dd_lsh_pairs",
    s"""SELECT doc_a, doc_b FROM ($lshPairsSql)
       |ORDER BY doc_a, doc_b""".stripMargin, MinhashSigs) { (spark, dir) =>
    lshPairsDf(spark, dir).orderBy("doc_a", "doc_b")
  }

  // ═══════════════ Jaccard verification of LSH candidates ═══════════════

  val jaccard = Q(
    "dd_jaccard",
    s"""WITH mh AS ($minhashSql),
       |pairs AS ($lshPairsSql),
       |sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM mh),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_common
       |  FROM pairs p
       |  JOIN (SELECT doc_id, unnest(shingles) AS s FROM mh) sa ON sa.doc_id = p.doc_a
       |  JOIN (SELECT doc_id, unnest(shingles) AS s FROM mh) sb
       |    ON sb.doc_id = p.doc_b AND sb.s = sa.s
       |  GROUP BY p.doc_a, p.doc_b
       |)
       |SELECT i.doc_a, i.doc_b,
       |  round(1e-9 + n_common / CAST(na.n + nb.n - n_common AS DOUBLE), 6) AS jaccard,
       |  n_common / CAST(na.n + nb.n - n_common AS DOUBLE) >= CAST(0.5 AS DOUBLE) AS is_duplicate
       |FROM inter i
       |JOIN sizes na ON na.doc_id = i.doc_a
       |JOIN sizes nb ON nb.doc_id = i.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin, MinhashSigs) { (spark, dir) =>
    // Verify on the shingle ARRAYS, not an exploded (doc, shingle)
    // relation: two array-carrying joins route each candidate pair's
    // sets together, and |∩| is one native hash-set probe per pair
    // (common_count — the same exact integer the oracle's unnest-join
    // count produces, shingle sets being distinct by construction).
    // The exploded form shuffled the whole corpus's shingle rows
    // (nine figures at sf10) by (doc, shingle) and fed a pair-keyed
    // count aggregate; here the only exchanges are the pair set and
    // one pass of the 500 k shingle arrays per side.
    val sh = shinglesDf(spark, dir)
    val pairs = lshPairsDf(spark, dir)
    val withSets = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sha")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("shb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.HashExprs.common_count(col("sha"), col("shb")).as("n_common"),
        size(col("sha")).cast("long").as("na"),
        size(col("shb")).cast("long").as("nb"))
      // the oracle's inter CTE is an inner join on shared shingles —
      // a (hash-collision) candidate pair with an empty intersection
      // is absent from its output, so drop n_common = 0 here too
      .filter(col("n_common") > 0)
    val jac = col("n_common") / (col("na") + col("nb") - col("n_common")).cast("double")
    withSets
      .select(
        col("doc_a"), col("doc_b"),
        round(lit(1e-9) + jac, 6).as("jaccard"),
        (jac >= 0.5).as("is_duplicate"))
      .orderBy("doc_a", "doc_b")
  }

  // ═══════════════ duplicate clusters → canonical doc ═══════════════

  /** The end product of the dedup pipeline: resolve the VERIFIED
    * near-duplicate pairs (LSH candidates that passed Jaccard) into
    * connected components and assign each member its canonical doc
    * (the component's smallest doc_id).
    *
    * Spark side: two-phase large-star / small-star contraction (see
    * [[connectedComponents]]) — O(log diameter) rounds, one action per
    * round, bounded lineage. Each round joins over the PAIR set only
    * (tiny relative to the corpus: only docs that appear in a verified
    * duplicate pair participate). The DuckDB oracle computes the same
    * fixpoint with a recursive CTE.
    */
  private def duplicatePairsDf(spark: SparkSession, dir: String): DataFrame =
    jaccard.fn(spark, dir).filter(col("is_duplicate")).select("doc_a", "doc_b")

  /** One-time build of the symmetric verified-duplicate edge set
    * consumed by dd_clusters — the minhash → LSH → Jaccard chain runs
    * once per (session, dir) and is persisted (SessionMemo), so the
    * clusters query times component resolution, not a re-run of the
    * verification pipeline already billed to dd_jaccard (same
    * build/serve separation as ivfIndex / ensureBucketed).
    */
  private[graft] def duplicateEdges(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"dedup.duplicateEdges:$dir") {
      val pairs = duplicatePairsDf(spark, dir)
      val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .distinct().persist()
      edges.count()
      Seq(edges)
    }.head
  val DedupEdges = Build("dedup_edges", duplicateEdges)

  /** Release the block-storage partitions behind a localCheckpoint'd
    * frame. Dataset.unpersist only covers cache-manager entries; the
    * checkpoint blocks belong to the RDD inside the LogicalRDD the
    * checkpoint returned, and without an explicit release every
    * superseded label snapshot stays resident — O(rounds) executor
    * storage on a large graph.
    */
  private[graft] def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Two-phase (large-star / small-star) connected components
    * (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): the edge set itself is CONTRACTED every round —
    *   large-star: each node u connects its strictly larger
    *     neighbors to m(u) = min(N(u) ∪ {u});
    *   small-star: each node connects its smaller neighbors and
    *     itself to the minimum of those —
    * so the graph converges to a star forest centered at the
    * component minima. This replaces the min-label + pointer-jump
    * loop, whose round count was min-FLOW-limited: labels moved one
    * GRAPH hop per round no matter how many pointer jumps compressed
    * the label paths (the phash rep graph took 9 rounds at every
    * jump setting). Star operations shorten the graph distances
    * themselves, so the round count tracks log(diameter).
    *
    * Exit is NOT trusted to the convergence theorem: the loop stops
    * only when (a) no node's min-neighbor label changed over a full
    * round AND (b) the edge set verifiably IS a star forest (every
    * edge's low endpoint is the high endpoint's label and its own).
    * A label stall on a non-star keeps contracting; the maxRounds cap
    * still fails loudly rather than emitting partial components.
    * Star forest + preserved connectivity (each star op reconnects
    * every touched endpoint through the emitted minimum) imply every
    * component is exactly one star whose center is the component
    * minimum — the same label the recursive-CTE oracles compute.
    *
    * Loop hygiene carried over from the pointer-jump version:
    * graph-sized coalesce everywhere, ONE driver-blocking count per
    * round (it also materializes the round's lazy stats-stripped
    * checkpoint), broadcast label/min-frames under the 1 M-edge gate
    * (checkpointed frames carry no stats so auto-broadcast can never
    * fire; the gate is tight because several round-frames stay live
    * until the ContextCleaner runs), superseded checkpoints released
    * each round.
    */
  private[graft] def connectedComponents(
      edges: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    val spark = edges.sparkSession
    // checkpoint the (symmetric) input once: the canonical set (and,
    // only when self-loops exist, the node frame) scan it, and a
    // caller's lazy union/distinct lineage would otherwise re-shuffle
    // per job. ONE aggregate returns both counts the setup needs.
    val e0 = edges.localCheckpoint(true)
    val cnts = e0.agg(count(lit(1)), count(when(col("u") === col("v"), 1))).collect()(0)
    val nEdges = cnts.getLong(0)
    val nSelfLoops = cnts.getLong(1)
    val parts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong, nEdges / 10000L)).toInt
    val bcastLabels = nEdges <= 1000000L
    def side(d: DataFrame): DataFrame = if (bcastLabels) broadcast(d) else d
    def fresh(df: DataFrame, eager: Boolean): DataFrame =
      org.apache.spark.sql.graftbridge.Bridge.freshLocalCheckpoint(
        df.coalesce(parts), eager = eager)
    // canonical working set: (hi > lo) via greatest/least — correct
    // for ANY input orientation, not just the documented symmetric
    // contract (a one-directional caller would otherwise silently
    // lose the u < v edges), and identical to a plain u > v filter on
    // symmetric input. Self-loops drop here (they cannot join
    // components); their nodes are restored by the final node-frame
    // left-join on the (rare) nSelfLoops > 0 path. Lazy: round 0's Σ
    // job materializes it.
    var e = fresh(e0.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("hi"),
        least(col("u"), col("v")).as("lo")).distinct(), eager = false)
    var prevE: DataFrame = null // superseded, awaiting release
    var mnPrev: DataFrame = null // previous round's (u, m) labels, cached
    var sumPrev = Long.MinValue // Σ m of the previous round
    var rounds = 0
    var done = nEdges == 0L
    while (!done) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponents: labels still changing after $maxRounds rounds")
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mn = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
        .coalesce(parts)
        .cache()
      // the round's ONE driver-blocking action: Σ m — the node set is
      // fixed and every node's m is monotone non-increasing, so an
      // unchanged sum means NO label changed (and a collision can at
      // worst trigger the star check below, never a wrong exit). The
      // scalar compare replaces a per-round mnPrev broadcast + join;
      // the job also materializes mn and this round's lazy checkpoint.
      val sumRow = mn.agg(sum("m")).collect()(0)
      // null sum = empty canonical set (all-self-loop input): nothing
      // to contract, the star check on the empty frame passes
      val sumNow = if (sumRow.isNullAt(0)) Long.MinValue else sumRow.getLong(0)
      val changed = sumNow != sumPrev
      sumPrev = sumNow
      if (prevE != null) { releaseLocalCheckpoint(prevE); prevE = null }
      var fixed = false
      if (!changed) {
        // candidate fixpoint — accept only a verified star forest
        val viol = e
          .join(side(mn.select(col("u").as("hi"), col("m").as("mh"))), Seq("hi"))
          .join(side(mn.select(col("u").as("lo"), col("m").as("ml"))), Seq("lo"))
          .filter(col("lo") =!= col("mh") || col("ml") =!= col("lo"))
          .count()
        fixed = viol == 0L
      }
      if (fixed) {
        done = true
        if (mnPrev != null) mnPrev.unpersist()
        mnPrev = mn
      } else {
        // large-star: (v, m(u)) for every neighbor v > u — hi = v is
        // always strictly above lo = m(u) ≤ u, so the output stays
        // canonical with no self-loops
        val ls = sym.filter(col("v") > col("u"))
          .join(side(mn), Seq("u"))
          .select(col("v").as("hi"), col("m").as("lo"))
        // small-star over the large-star output: each node with
        // smaller neighbors points itself and all of them at their
        // minimum (one (hi, m) row per star head from the aggregate,
        // not per edge)
        val mn2 = ls.groupBy("hi").agg(min("lo").as("m"))
        val ss = mn2.select(col("hi"), col("m").as("lo"))
          .union(ls.join(side(mn2), Seq("hi"))
            .filter(col("lo") =!= col("m"))
            .select(col("lo").as("hi"), col("m").as("lo")))
        // NO pointer jump on the star output: a jump (retarget each
        // edge at its low endpoint's minimum) was tried and REMOVED —
        // it costs one aggregation + one broadcast build + one join
        // (three serial stage barriers) EVERY round to save rounds
        // only on chain-like graphs, and measured net-negative at all
        // three scales (sf1, timed per consumer: phash 4.4→3.7 s at 6→8 rounds,
        // embed 4.3→3.1 s at 5→6, chain-300 4.2→3.9 s at 7→11; sf10
        // consumer family 38.4→32.9 s). Star rounds alone still
        // converge in O(log n): LS+SS composition roughly halves
        // chain distances per round.
        // Lazy stats-stripped checkpoint (see Bridge.freshLocalCheckpoint
        // — plain checkpoints compound Statistics through the round
        // joins until estimation itself goes exponential); the next
        // round's count materializes it.
        val next = fresh(ss, eager = false)
        prevE = e
        e = next
        if (mnPrev != null) mnPrev.unpersist()
        mnPrev = mn
      }
      rounds += 1
    }
    // Final labels, eagerly checkpointed so the returned frame is
    // self-contained and every loop intermediate can be released now.
    // Nodes never leave the working edge set (each star op keeps
    // every touched endpoint attached to its minimum), so
    // the fixpoint min-frame covers the entire input node set — the
    // node-frame left-join is only needed to restore nodes whose only
    // edges were self-loops, and only runs when such edges exist.
    val labels =
      if (nEdges == 0L)
        e0.select(col("u").as("doc"), col("u").as("label")).localCheckpoint(true)
      else if (nSelfLoops == 0L) {
        val lab = mnPrev.select(col("u").as("doc"), col("m").as("label"))
          .localCheckpoint(true)
        mnPrev.unpersist()
        lab
      } else {
        val lab = e0.select(col("u")).distinct().coalesce(parts)
          .join(side(mnPrev.select(col("u"), col("m"))), Seq("u"), "left")
          .select(col("u").as("doc"), coalesce(col("m"), col("u")).as("label"))
          .localCheckpoint(true)
        mnPrev.unpersist()
        lab
      }
    releaseLocalCheckpoint(e)
    releaseLocalCheckpoint(e0)
    (labels, rounds)
  }

  val clusters = Q(
    "dd_clusters", {
      val jq = jaccard.oracle.get.replace("ORDER BY doc_a, doc_b", "")
      s"""WITH RECURSIVE jq AS ($jq),
         |pairs AS (SELECT doc_a, doc_b FROM jq WHERE is_duplicate),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION
         |  SELECT doc_b AS u, doc_a AS v FROM pairs
         |),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |)
         |SELECT u AS doc_id, least(u, min(v)) AS canonical_id,
         |  CAST(count(*) FILTER (WHERE v != u) + 1 AS BIGINT) AS cluster_size
         |FROM (SELECT DISTINCT u, v FROM reach)
         |GROUP BY u
         |ORDER BY doc_id""".stripMargin
    }, DedupEdges) { (spark, dir) =>
    val (labels, _) = connectedComponents(duplicateEdges(spark, dir))
    // cluster_size from the converged labels; reach-based oracle
    // counts distinct reachable others + self — identical by
    // definition of a connected component
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc").as("doc_id"), col("label").as("canonical_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  // ═══════════════ SimHash ═══════════════
  // 60-bit SimHash over widened word hashes weighted by term
  // frequency. The word hash is mod P (< 2^30); wideWordHash
  // stacks a bijective rehash into the high 30 bits so the SimHash
  // space doesn't saturate at corpus scale (a 30-bit SimHash starts
  // birthday-colliding unrelated docs at Hamming ≤ 1 around 500k
  // docs — observed on the sf10 leg; Manku et al. WWW'07 use 64-bit
  // fingerprints for exactly this reason).

  /** One sum column per bit, partial-aggregated map-side: the
    * signature is 60 sign-sums per doc, so the natural plan is ONE
    * groupBy(doc_id) with 60 codegen'd sum aggregates over the
    * exploded word hashes — NOT a bits-table crossJoin, which
    * multiplies the (doc, word) row count by 60 (3 billion rows at
    * 500k docs; measured 60% of a 362 s entry) and pays a second
    * shuffle. Summing ±1 per OCCURRENCE is identical to the classic
    * frequency-weighted form (sum over distinct words of ±cnt):
    * addition is associative — the per-(doc,word) pre-aggregation
    * the crossJoin plan needed is subsumed by the partial aggregate.
    */
  private val simhashBody: String = {
    val sums = (0 until SimhashBits)
      .map(b => s"sum(CASE WHEN ((whx >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n       ")
    val compose = (0 until SimhashBits)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id, CAST($compose AS BIGINT) AS simhash
       |FROM (
       |  SELECT doc_id,
       |    $sums
       |  FROM (
       |    SELECT doc_id, ${wideWordHash("wh")} AS whx
       |    FROM (SELECT doc_id, unnest(${wordHashesSql("text")}) AS wh FROM documents)
       |  )
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  /** Fixed-width (doc_id, simhash), persisted once per (session, dir)
    * (SessionMemo): shared by dd_simhash and both join sides of
    * dd_simhash_pairs.
    */
  private def simhashDf(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"dedup.simhash:$dir") {
      val words = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(wordHashes(col("text"))).as("wh"))
        .withColumn("whx", expr(wideWordHash("wh")))
      val sums = (0 until SimhashBits)
        .map(b => sum(expr(s"CASE WHEN ((whx >> $b) & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$b"))
      val compose = (0 until SimhashBits)
        .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
        .mkString(" + ")
      val sh = words.groupBy("doc_id")
        .agg(sums.head, sums.tail: _*)
        .select(col("doc_id"), expr(s"CAST($compose AS BIGINT)").as("simhash"))
        .persist()
      sh.count()
      Seq(sh)
    }.head
  val SimhashSigs = Build("simhash_sigs", simhashDf)

  val simhash = Q(
    "dd_simhash",
    s"""SELECT doc_id, simhash FROM ($simhashBody)
       |ORDER BY doc_id""".stripMargin, SimhashSigs) { (spark, dir) =>
    simhashDf(spark, dir).orderBy("doc_id")
  }

  /** SimHash near-dup pairs: candidates share the low-30-bit or
    * high-30-bit chunk, verified by Hamming distance ≤ 1. Any 2-chunk
    * cover of all 60 bits is exact for Hamming ≤ 1 (the one differing
    * bit lives in one chunk, so the other matches); the split must
    * keep pace with the hash width — a 15-bit chunk key has only 32k
    * buckets, so random chunk collisions grow as N²/2^15 (measured:
    * 362 s at 500k docs, ~7.5M junk candidates), while 30-bit keys
    * push the birthday term to N²/2^30, below the true-pair count.
    * Chunk buckets additionally get the same BucketCap skew guard as
    * the minhash bands — a degenerate chunk value (e.g. simhash 0
    * from boilerplate docs) must not go quadratic.
    */
  val simhashPairs = Q(
    "dd_simhash_pairs",
    s"""WITH sh AS ($simhashBody),
       |chunked0 AS (
       |  SELECT doc_id, simhash, 0 AS chunk, simhash & 1073741823 AS key FROM sh
       |  UNION ALL
       |  SELECT doc_id, simhash, 1 AS chunk, simhash >> 30 AS key FROM sh
       |),
       |small AS (
       |  SELECT chunk, key FROM chunked0 GROUP BY chunk, key
       |  HAVING count(*) <= $BucketCap
       |),
       |chunked AS (SELECT chunked0.* FROM chunked0 JOIN small USING (chunk, key))
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM chunked a JOIN chunked b
       |    ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
       |) WHERE hamming <= 1
       |ORDER BY doc_a, doc_b""".stripMargin, SimhashSigs) { (spark, dir) =>
    val sh = simhashDf(spark, dir)
    val chunked0 = sh.select(col("doc_id"), col("simhash"),
      explode(array(
        struct(lit(0).as("chunk"), col("simhash").bitwiseAND(lit(1073741823L)).as("key")),
        struct(lit(1).as("chunk"), shiftright(col("simhash"), 30).as("key")))).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk").as("chunk"), col("c.key").as("key"))
    val chunked = dropOversizedBuckets(chunked0, Seq("chunk", "key"), BucketCap)
    val a = chunked.select(col("chunk"), col("key"), col("doc_id").as("doc_a"), col("simhash").as("sha"))
    val b = chunked.select(col("chunk"), col("key"), col("doc_id").as("doc_b"), col("simhash").as("shb"))
    // hamming filter before the dedup exchange (map-side bit_count;
    // hamming is a function of the pair, so the reorder is exact) —
    // the distinct shuffles only matching pairs, not every candidate
    a.join(b, Seq("chunk", "key")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 1)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // ═══════════════ repeated-substring (span) dedup ═══════════════

  /** Gram width in words: a span is "repeated" at the granularity of
    * k consecutive words. Small relative to published token-level
    * substring dedup (~50 BPE tokens) because the synthetic docs are
    * themselves short; the machinery is width-agnostic.
    */
  val SpanK = 8

  /** Minimum consecutive-repeated-gram run for the span_dup flag:
    * run ≥ 4 ⇔ a duplicated substring of ≥ SpanK + 3 = 11 words.
    */
  val SpanRunMin = 4

  /** dd_spans — exact repeated-SUBSTRING detection, the fourth dedup
    * family from the training-data literature (exact-doc, MinHash,
    * SimHash, semantic are the other four here): a doc can be unique
    * as a whole yet carry long spans duplicated elsewhere in the
    * corpus (boilerplate, licenses, quoted passages), and
    * suffix-array-based span dedup removes them. The Spark-native
    * shape replaces the suffix array with corpus-wide k-gram
    * rolling-hash multiplicity:
    *
    *   1. per doc, positional k-word-gram polynomial hashes — a
    *      map-only pass over the scan, |tokens| rows of
    *      (doc_id, pos, g): ~20 bytes/row, never text;
    *   2. corpus-wide count per gram hash (partial-aggregated
    *      map-side; the count table stays DISTRIBUTED — at 100 TB it
    *      is far beyond any broadcast), keep hashes seen ≥ 2 times;
    *   3. join positions against the repeated-hash set on the same
    *      key the count shuffled on (exchange reuse, no extra
    *      shuffle), then per-doc gap-and-island over positions
    *      (window bounded by DOC length, never corpus length) →
    *      longest repeated run + repeated-position count.
    *
    * A doc's flag depends on every other doc via the shared count
    * table only — no pairwise join exists anywhere, so the plan is
    * linear in corpus size. Production note: the mod-p 30-bit hash
    * is chosen so the DuckDB oracle reproduces values bit-exactly;
    * at real corpus scale the same plan runs with a 128-bit gram
    * hash (collision-free in expectation) by swapping the hash
    * expression only.
    */
  /** (doc_id, n_grams, gs): positional word-SpanK-gram polynomial
    * hashes per doc — the map-only projection shared by batch
    * dd_spans and the streaming twin (Streaming.spanFlag), so the two
    * can never disagree on what a gram is.
    */
  private[graft] def spanGrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), wordHashes(col("text")).as("wh"))
      .select(col("doc_id"),
        greatest(size(col("wh")) - lit(SpanK - 1), lit(0)).cast("long").as("n_grams"),
        // native single-pass gram projection; SpanDedupSpec pins it
        // equal to the HOF form (transform(sequence) + aggregate(slice))
        // it replaced — interpreted lambdas per window were the
        // dominant full-value cost of dd_spans (guide §1.2 step 2)
        graft.functions.HashExprs.span_grams(col("wh"), SpanK).as("gs"))

  /** One-time repeated-gram index build: the gram hashes whose
    * corpus-wide multiplicity is ≥ 2 — the static side of the
    * streaming repeated-substring scan, persisted per (session, dir)
    * like the other serve-path indexes (SessionMemo). The standalone
    * dd_spans query deliberately does NOT consume this: the count
    * table is the operator's dominant cost and the registered entry
    * times it live.
    */
  private[graft] def repeatedGramIndex(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"dedup.spanGramIndex:$dir") {
      val idx = spanGrams(Tables.documents(spark, dir))
        .select(posexplode(col("gs")).as(Seq("pos", "g")))
        .groupBy("g").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select("g").persist()
      idx.count()
      Seq(idx)
    }.head

  val spans = Q(
    "dd_spans",
    s"""WITH w AS (SELECT doc_id, ${wordHashesSql("text")} AS wh FROM documents),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    list_reduce(list_concat([CAST(0 AS BIGINT)], wh[i:i + ${SpanK - 1}]),
       |                (a, b) -> (a * $B + b) % $P) AS gh
       |  FROM (SELECT doc_id, wh, unnest(range(1, len(wh) - ${SpanK - 2})) AS i FROM w)),
       |rep AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
       |r AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |      FROM g JOIN rep USING (gh)),
       |runs AS (SELECT doc_id, count(*) AS run FROM r GROUP BY doc_id, grp),
       |agg AS (SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_rep,
       |               CAST(max(run) AS BIGINT) AS max_run
       |        FROM runs GROUP BY doc_id)
       |SELECT w.doc_id,
       |  CAST(greatest(len(w.wh) - ${SpanK - 1}, 0) AS BIGINT) AS n_grams,
       |  COALESCE(agg.n_rep, 0) AS n_rep,
       |  COALESCE(agg.max_run, 0) AS max_run,
       |  COALESCE(agg.max_run, 0) >= $SpanRunMin AS span_dup
       |FROM w LEFT JOIN agg USING (doc_id)
       |ORDER BY w.doc_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = spanGrams(Tables.documents(spark, dir))
    val grams = docs.select(col("doc_id"), posexplode(col("gs")).as(Seq("pos", "g")))
    val repeated = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("g")
    val runs = grams.join(repeated, Seq("g"))
      .withColumn("grp",
        col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy("doc_id")
      .agg(sum("run").as("n_rep"), max("run").as("max_run"))
    docs.select("doc_id", "n_grams")
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_rep"), lit(0L)).as("n_rep"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        (coalesce(col("max_run"), lit(0L)) >= SpanRunMin).as("span_dup"))
      .orderBy("doc_id")
  }

  // ═══════════════ fuzzy (near-duplicate) decontamination ═══════════════

  /** Near-duplicate decontamination: the paraphrase-robust
    * counterpart of pipe_decontaminate. The exact-overlap variants
    * count shared 3-gram shingles directly, so a lightly reworded
    * eval item (tokens shifted, a word swapped every sentence) can
    * slip under the overlap floor; here contamination is judged by
    * MinHash-LSH candidate generation plus full Jaccard verification
    * — precisely the dd_minhash → dd_lsh_pairs → dd_jaccard pipeline,
    * run ACROSS the corpus/eval split instead of within the corpus.
    *
    * Shape at 100 TB: both splits band from the SAME minhash frame
    * (one signature pass; the eval split is doc_id-derived exactly as
    * in pipe_decontaminate), the banded join is bucket-capped like
    * every LSH join in the engine, and Jaccard verification runs on
    * the candidate pairs' shingle ARRAYS with the native common_count
    * probe — the dd_jaccard shape, so no exploded (doc, shingle)
    * relation ever shuffles. Per-doc best match is a struct-argmax
    * aggregation, never a window.
    */
  val deconFuzzy = Q(
    "pipe_decon_fuzzy",
    s"""WITH mh AS ($minhashSql),
       |banded0 AS (
       |  ${(0 until NumBands).map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(mhNames, b)} AS key FROM mh").mkString("\n  UNION ALL\n  ")}
       |),
       |small AS (
       |  SELECT band, key FROM banded0 GROUP BY band, key
       |  HAVING count(*) <= $BucketCap
       |),
       |banded AS (SELECT banded0.* FROM banded0 JOIN small USING (band, key)),
       |cand AS (
       |  SELECT DISTINCT c.doc_id AS doc_id, e.doc_id AS eval_id
       |  FROM banded c JOIN banded e ON c.band = e.band AND c.key = e.key
       |  WHERE c.doc_id % ${Pipeline.evalMod} != ${Pipeline.evalRes}
       |    AND e.doc_id % ${Pipeline.evalMod} = ${Pipeline.evalRes}
       |),
       |ver AS (
       |  SELECT cand.doc_id, cand.eval_id,
       |    round(1e-9 + len(list_intersect(a.shingles, b.shingles)) /
       |      CAST(len(a.shingles) + len(b.shingles)
       |           - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE), 6) AS jac
       |  FROM cand
       |  JOIN mh a ON a.doc_id = cand.doc_id
       |  JOIN mh b ON b.doc_id = cand.eval_id
       |),
       |best AS (
       |  SELECT doc_id, eval_id, jac,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY jac DESC, eval_id) AS rn
       |  FROM ver
       |)
       |SELECT b.doc_id, d.source, b.eval_id AS best_eval_id, b.jac AS jaccard,
       |  b.jac >= CAST(${Pipeline.contaminatedFloor} AS DOUBLE) AS contaminated
       |FROM best b JOIN documents d ON d.doc_id = b.doc_id
       |WHERE rn = 1 AND jac >= CAST(${Pipeline.suspectFloor} AS DOUBLE)
       |ORDER BY b.doc_id""".stripMargin, MinhashSigs) { (spark, dir) =>
    val capped = dropOversizedBuckets(bandedMinhash(spark, dir), Seq("band", "key"), BucketCap)
    val cand = capped.filter(col("doc_id") % Pipeline.evalMod =!= Pipeline.evalRes)
      .join(capped.filter(col("doc_id") % Pipeline.evalMod === Pipeline.evalRes)
        .select(col("band"), col("key"), col("doc_id").as("eval_id")), Seq("band", "key"))
      .select("doc_id", "eval_id").distinct()
    val sh = shinglesDf(spark, dir)
    val jacCol = col("n_common") /
      (col("na") + col("nb") - col("n_common")).cast("double")
    val ver = cand
      .join(sh.select(col("doc_id"), col("shingles").as("sha")), Seq("doc_id"))
      .join(sh.select(col("doc_id").as("eval_id"), col("shingles").as("shb")), Seq("eval_id"))
      .select(col("doc_id"), col("eval_id"),
        graft.functions.HashExprs.common_count(col("sha"), col("shb")).as("n_common"),
        size(col("sha")).cast("long").as("na"), size(col("shb")).cast("long").as("nb"))
      .select(col("doc_id"), col("eval_id"),
        round(lit(1e-9) + jacCol, 6).as("jac"))
    ver
      .groupBy("doc_id")
      .agg(max(struct(col("jac"), (-col("eval_id")).as("neg"))).as("best"))
      .select(col("doc_id"),
        (-col("best.neg")).cast("long").as("best_eval_id"),
        col("best.jac").as("jaccard"))
      .filter(col("jaccard") >= Pipeline.suspectFloor)
      .withColumn("contaminated", col("jaccard") >= Pipeline.contaminatedFloor)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
      .select("doc_id", "source", "best_eval_id", "jaccard", "contaminated")
      .orderBy("doc_id")
  }

  // ═══════════════ asymmetric containment (quote / subset detection) ═══════════════

  private val ContainFloor = 0.5

  /** Chunk-containment pairs: ordered (doc_a, doc_b) where ≥ 50% of
    * doc_a's distinct chunk fingerprints also appear in doc_b — the
    * ASYMMETRIC dedup relation (Broder's containment) that symmetric
    * Jaccard misses by construction: a short document quoted inside a
    * much longer one has tiny Jaccard (the union is dominated by the
    * long doc) but containment ≈ 1. MinHash bands cannot generate
    * these candidates either (minhash approximates Jaccard, not
    * containment), so candidates come from the CHUNK index instead:
    * two docs sharing any 16-word window share its chunk hash.
    *
    * Scale shape: docs collapse to distinct (doc, chunk_hash) —
    * 8-byte keys, never text; the pair join is chunk-hash-keyed with
    * the engine's standard oversized-bucket drop (a boilerplate
    * window shared by thousands of docs is the dd_lsh_pairs
    * pathology, same guard, mirrored in the oracle); the shared-count
    * aggregation is partial map-side; totals join back on doc ids.
    */
  val containment = Q(
    "dd_containment",
    s"""WITH ${Pipeline.chunksSql},
       |ch AS (SELECT DISTINCT doc_id, chunk_hash FROM chunks),
       |small AS (
       |  SELECT chunk_hash FROM ch GROUP BY chunk_hash
       |  HAVING count(*) <= $BucketCap),
       |chc AS (SELECT ch.* FROM ch JOIN small USING (chunk_hash)),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM ch GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM chc a JOIN chc b ON a.chunk_hash = b.chunk_hash AND a.doc_id != b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT s.doc_a, s.doc_b, ta.n_chunks AS n_chunks_a, s.n_shared,
       |  round(1e-9 + s.n_shared / CAST(ta.n_chunks AS DOUBLE), 6) AS containment
       |FROM shared s JOIN tot ta ON ta.doc_id = s.doc_a
       |WHERE s.n_shared / CAST(ta.n_chunks AS DOUBLE) >= $ContainFloor
       |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    val ch = Pipeline.chunksOf(spark, dir)
      .select("doc_id", "chunk_hash").distinct()
    val tot = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val chc = dropOversizedBuckets(ch, Seq("chunk_hash"), BucketCap)
    val shared = chc.select(col("chunk_hash"), col("doc_id").as("doc_a"))
      .join(chc.select(col("chunk_hash"), col("doc_id").as("doc_b")), Seq("chunk_hash"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(tot.select(col("doc_id").as("doc_a"), col("n_chunks").as("n_chunks_a")), Seq("doc_a"))
      .filter(col("n_shared") / col("n_chunks_a").cast("double") >= ContainFloor)
      .select(col("doc_a"), col("doc_b"), col("n_chunks_a"), col("n_shared"),
        round(lit(1e-9) + col("n_shared") / col("n_chunks_a").cast("double"), 6)
          .as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** The STATIC side of streaming fuzzy decontamination: the eval
    * split's capped band rows carrying the eval shingle sets. Built
    * from the same corpus-wide capped banding as the batch query, so
    * a bucket the batch drops is simply absent here — a streamed doc
    * banding into it finds no eval entries, reproducing the batch cap
    * semantics without the stream needing global bucket counts.
    */
  private[graft] def fuzzyEvalIndex(spark: SparkSession, dir: String): DataFrame =
    dropOversizedBuckets(bandedMinhash(spark, dir), Seq("band", "key"), BucketCap)
      .filter(col("doc_id") % Pipeline.evalMod === Pipeline.evalRes)
      .join(shinglesDf(spark, dir), Seq("doc_id"))
      .select(col("band"), col("key"), col("doc_id").as("eval_id"),
        col("shingles").as("sh_e"))

  // ═══════════════ incremental near-dup (delta vs standing band index) ═══════════════

  /** One-time standing MinHash-LSH index of the CORPUS split
    * (doc_id % 10 < 8 — the same base/delta algebra as
    * dd_incremental): the capped band rows plus the corpus shingle
    * store, both persisted and materialized eagerly (SessionMemo) so
    * every delta batch probes the same build instead of re-banding
    * the corpus. The cap is computed from CORPUS bucket counts only —
    * an arriving batch must not need global bucket statistics (the
    * same single-sided cap semantics as fuzzyEvalIndex).
    *
    * The shingle store is the verification side: candidate pairs pull
    * the corpus sets by doc_id, so corpus TEXT is never rescanned at
    * serve time. Array-column persistence is a one-time build cost
    * billed in Bench's `builds`, exactly like the IVF embedding index.
    */
  private[graft] def fuzzyCorpusIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fs = graft.SessionMemo.frames(spark, s"dedup.fuzzyCorpusIndex:$dir") {
      val corpusBands = bandedMinhash(spark, dir)
        .filter(col("doc_id") % 10 < 8)
      val bands = dropOversizedBuckets(corpusBands, Seq("band", "key"), BucketCap)
        .select(col("band"), col("key"), col("doc_id").as("corpus_id"))
        .persist()
      val shing = shinglesDf(spark, dir)
        .filter(col("doc_id") % 10 < 8)
        .select(col("doc_id").as("corpus_id"), col("shingles").as("sh_c"))
        .persist()
      bands.count()
      shing.count()
      Seq(bands, shing)
    }
    (fs(0), fs(1))
  }
  val FuzzyCorpusIndex = Build("fuzzy_corpus_index", fuzzyCorpusIndex)

  /** Incremental NEAR-DUP dedup: the fuzzy twin of dd_incremental.
    * A delta batch (doc_id % 10 ≥ 8 playing "today's ingest") is
    * probed against the standing corpus MinHash band index — delta
    * docs band map-only (O(|delta|) signature work), candidates come
    * from the (band, key) join against the persisted index, and
    * Jaccard verification runs on the candidate pairs' shingle arrays
    * with the native common_count probe (the dd_jaccard shape — no
    * exploded (doc, shingle) relation ever shuffles). Every delta doc
    * gets a verdict: 'dup_near' (best corpus match at Jaccard ≥ 0.5,
    * the dd_jaccard duplicate floor) or 'new', plus the best-match id
    * and score for suspect-range observability.
    *
    * Per batch the cost is O(|delta| + candidates): corpus size
    * enters only through the one-time index build (billed in
    * `builds`, like ivf_base_index for ann_refresh). Verdicts are
    * spec-pinned equal to the batch dd_lsh_pairs → dd_jaccard
    * pipeline restricted to cross (corpus, delta) pairs — see
    * DedupIncrementalSpec.
    */
  val minhashIncremental = Q(
    "dd_minhash_incremental",
    s"""WITH mh AS ($minhashSql),
       |banded0 AS (
       |  ${(0 until NumBands).map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(mhNames, b)} AS key FROM mh").mkString("\n  UNION ALL\n  ")}
       |),
       |idx0 AS (SELECT * FROM banded0 WHERE doc_id % 10 < 8),
       |small AS (
       |  SELECT band, key FROM idx0 GROUP BY band, key
       |  HAVING count(*) <= $BucketCap),
       |idx AS (SELECT idx0.* FROM idx0 JOIN small USING (band, key)),
       |dband AS (SELECT * FROM banded0 WHERE doc_id % 10 >= 8),
       |cand AS (
       |  SELECT DISTINCT d.doc_id AS doc_id, i.doc_id AS corpus_id
       |  FROM dband d JOIN idx i ON d.band = i.band AND d.key = i.key),
       |ver AS (
       |  SELECT cand.doc_id, cand.corpus_id,
       |    round(1e-9 + len(list_intersect(a.shingles, b.shingles)) /
       |      CAST(len(a.shingles) + len(b.shingles)
       |           - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE), 6) AS jac
       |  FROM cand
       |  JOIN mh a ON a.doc_id = cand.doc_id
       |  JOIN mh b ON b.doc_id = cand.corpus_id),
       |best AS (
       |  SELECT doc_id, corpus_id, jac,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY jac DESC, corpus_id) AS rn
       |  FROM ver)
       |SELECT d.doc_id, d.source, b.corpus_id AS best_corpus_id, b.jac AS jaccard,
       |  CASE WHEN b.jac >= CAST(0.5 AS DOUBLE) THEN 'dup_near' ELSE 'new' END AS verdict
       |FROM (SELECT doc_id, source FROM documents WHERE doc_id % 10 >= 8) d
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin, FuzzyCorpusIndex) { (spark, dir) =>
    val (idxBands, idxShing) = fuzzyCorpusIndex(spark, dir)
    val delta = Tables.documents(spark, dir).filter(col("doc_id") % 10 >= 8)
    // map-only over the delta: signature + banding per arriving doc
    val dBands = fuzzyBandRows(delta).select("doc_id", "band", "key")
    val cand = dBands.join(idxBands, Seq("band", "key"))
      .select("doc_id", "corpus_id").distinct()
    val dSh = delta
      .select(col("doc_id"), shingleHashes(col("text")).as("sh_d"))
      .filter(size(col("sh_d")) > 0)
    val jacCol = col("n_common") /
      (col("na") + col("nb") - col("n_common")).cast("double")
    val ver = cand
      .join(dSh, Seq("doc_id"))
      .join(idxShing, Seq("corpus_id"))
      .select(col("doc_id"), col("corpus_id"),
        graft.functions.HashExprs.common_count(col("sh_d"), col("sh_c")).as("n_common"),
        size(col("sh_d")).cast("long").as("na"),
        size(col("sh_c")).cast("long").as("nb"))
      .select(col("doc_id"), col("corpus_id"),
        round(lit(1e-9) + jacCol, 6).as("jac"))
    val best = ver
      .groupBy("doc_id")
      .agg(max(struct(col("jac"), (-col("corpus_id")).as("neg"))).as("best"))
      .select(col("doc_id"),
        (-col("best.neg")).cast("long").as("best_corpus_id"),
        col("best.jac").as("jaccard"))
    delta.select("doc_id", "source")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("best_corpus_id"), col("jaccard"),
        when(col("jaccard") >= 0.5, "dup_near").otherwise("new").as("verdict"))
      .orderBy("doc_id")
  }

  // ═══════════ incremental cluster maintenance (delta vs standing labels) ═══════════

  /** One-time standing NEAR-DUP CLUSTER state of the corpus split:
    * verified duplicate pairs WITHIN the corpus (both self-join sides
    * read the fuzzyCorpusIndex band rows, verification probes the
    * index's shingle store) resolved to min-label components — the
    * labels an ingesting system keeps current between rebuilds.
    * Persisted via SessionMemo like every standing index.
    */
  private[graft] def baseClusterLabels(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"dedup.baseClusters:$dir") {
      val (idxBands, idxShing) = fuzzyCorpusIndex(spark, dir)
      val a = idxBands.select(col("band"), col("key"), col("corpus_id").as("doc_a"))
      val b = idxBands.select(col("band"), col("key"), col("corpus_id").as("doc_b"))
      val cand = a.join(b, Seq("band", "key")).filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val jac = col("n_common") / (col("na") + col("nb") - col("n_common")).cast("double")
      val pairs = cand
        .join(idxShing.select(col("corpus_id").as("doc_a"), col("sh_c").as("sha")), Seq("doc_a"))
        .join(idxShing.select(col("corpus_id").as("doc_b"), col("sh_c").as("shb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          graft.functions.HashExprs.common_count(col("sha"), col("shb")).as("n_common"),
          size(col("sha")).cast("long").as("na"), size(col("shb")).cast("long").as("nb"))
        .filter(col("n_common") > 0 && jac >= 0.5)
        .select("doc_a", "doc_b")
      // persist before the CC loop: every star round joins the
      // edge set, which would otherwise re-run the band+verify pipeline
      // per round (the duplicateEdges pattern)
      val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .distinct().persist()
      edges.count()
      val (labels, _) = connectedComponents(edges)
      val out = labels.select(col("doc").as("corpus_id"), col("label")).persist()
      out.count()
      edges.unpersist(blocking = false)
      Seq(out)
    }.head
  val BaseClusterLabels = Build("base_cluster_labels", baseClusterLabels)

  /** dd_clusters_incremental — incremental CLUSTER maintenance, the
    * third leg of the continuous-ingest dedup story (dd_incremental
    * keeps the exact-hash index current, dd_minhash_incremental the
    * near-dup pair probe; this keeps the duplicate CLUSTERS current):
    * a delta batch's verified near-dup edges — delta↔corpus from the
    * standing band index, delta↔delta from banding the batch against
    * itself — are resolved against the standing labels by CONTRACTING
    * every touched base cluster to its label node and running the
    * star CC on that small graph only. Because a base label
    * is its cluster's minimum doc id, the contracted minimum equals
    * the composed corpus's minimum, so each delta doc's canonical_id
    * is exactly what a full rebuild (dd_clusters) would assign — the
    * equality is spec-pinned, and a delta doc bridging two standing
    * clusters merges them correctly. Output: one row per delta doc
    * with its canonical and whether it joined an existing corpus
    * cluster. Per batch the cost is O(|delta| + touched clusters);
    * corpus text and the corpus-wide pair graph are build-time only
    * (billed in `builds`). Cap semantics per regime (corpus-side and
    * delta-side bucket caps) coincide with the full rebuild's
    * whole-corpus cap below BucketCap, like the other incremental
    * twins.
    */
  val clustersIncremental = Q(
    "dd_clusters_incremental", {
      val jq = jaccard.oracle.get.replace("ORDER BY doc_a, doc_b", "")
      s"""WITH RECURSIVE jq AS ($jq),
         |pairs AS (SELECT doc_a, doc_b FROM jq WHERE is_duplicate),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION
         |  SELECT doc_b AS u, doc_a AS v FROM pairs
         |),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS canonical
         |  FROM (SELECT DISTINCT u, v FROM reach)
         |  GROUP BY u),
         |hc AS (
         |  SELECT canonical, max(CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END) = 1 AS has_corpus
         |  FROM comp GROUP BY canonical)
         |SELECT d.doc_id,
         |  COALESCE(comp.canonical, d.doc_id) AS canonical_id,
         |  COALESCE(hc.has_corpus, FALSE) AS in_existing
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
         |LEFT JOIN comp ON comp.doc_id = d.doc_id
         |LEFT JOIN hc ON hc.canonical = comp.canonical
         |ORDER BY d.doc_id""".stripMargin
    }, FuzzyCorpusIndex, BaseClusterLabels) { (spark, dir) =>
    val (idxBands, idxShing) = fuzzyCorpusIndex(spark, dir)
    val baseLabels = baseClusterLabels(spark, dir)
    val delta = Tables.documents(spark, dir).filter(col("doc_id") % 10 >= 8)
    val dBandsAll = fuzzyBandRows(delta)
    val dBands = dBandsAll.select("doc_id", "band", "key")
    val dSh = delta.select(col("doc_id"), shingleHashes(col("text")).as("shd"))
      .filter(size(col("shd")) > 0)
    val jac = col("n_common") / (col("na") + col("nb") - col("n_common")).cast("double")
    // delta ↔ corpus: probe the standing index, verify on arrays
    val cross = dBands.join(idxBands, Seq("band", "key"))
      .select("doc_id", "corpus_id").distinct()
      .join(dSh, Seq("doc_id"))
      .join(idxShing, Seq("corpus_id"))
      .select(col("doc_id"), col("corpus_id"),
        graft.functions.HashExprs.common_count(col("shd"), col("sh_c")).as("n_common"),
        size(col("shd")).cast("long").as("na"), size(col("sh_c")).cast("long").as("nb"))
      .filter(col("n_common") > 0 && jac >= 0.5)
      .select(col("doc_id"), col("corpus_id"))
    // delta ↔ delta: band the batch against itself (delta-side cap)
    val dCapped = dropOversizedBuckets(dBands, Seq("band", "key"), BucketCap)
    val dd = dCapped.select(col("band"), col("key"), col("doc_id").as("doc_a"))
      .join(dCapped.select(col("band"), col("key"), col("doc_id").as("doc_b")), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .join(dSh.select(col("doc_id").as("doc_a"), col("shd").as("sha")), Seq("doc_a"))
      .join(dSh.select(col("doc_id").as("doc_b"), col("shd").as("shb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.HashExprs.common_count(col("sha"), col("shb")).as("n_common"),
        size(col("sha")).cast("long").as("na"), size(col("shb")).cast("long").as("nb"))
      .filter(col("n_common") > 0 && jac >= 0.5)
      .select("doc_a", "doc_b")
    // contract touched base clusters to their label nodes
    val crossC = cross.join(baseLabels, Seq("corpus_id"))
      .select(col("doc_id").as("a"),
        coalesce(col("label"), col("corpus_id")).as("b"))
    // a corpus doc with no standing pair is its own singleton cluster
    val crossS = cross.join(baseLabels, Seq("corpus_id"), "left_anti")
      .select(col("doc_id").as("a"), col("corpus_id").as("b"))
    val rawEdges = crossC.unionByName(crossS)
      .unionByName(dd.select(col("doc_a").as("a"), col("doc_b").as("b")))
    // persist before the CC loop — each star round joins the
    // edge set, which would otherwise re-run the probe+verify pipelines
    // per round (measured 9.3 → ~2 s at sf0.1)
    val edges = rawEdges.select(col("a").as("u"), col("b").as("v"))
      .union(rawEdges.select(col("b").as("u"), col("a").as("v")))
      .distinct().persist()
    edges.count()
    val (labels, _) = connectedComponents(edges)
    edges.unpersist(blocking = false)
    val hasCorpus = labels
      .groupBy("label")
      .agg(max(when(col("doc") % 10 < 8, 1).otherwise(0)).as("hc"))
      .select(col("label"), (col("hc") === 1).as("has_corpus"))
    delta.select("doc_id")
      .join(labels.select(col("doc").as("doc_id"), col("label")), Seq("doc_id"), "left")
      .join(hasCorpus, Seq("label"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("canonical_id"),
        coalesce(col("has_corpus"), lit(false)).as("in_existing"))
      .orderBy("doc_id")
  }

  /** Map-only band rows of arriving (doc_id, source, text) docs, each
    * carrying the doc's shingle set — the STREAM side of fuzzy decon
    * (signature + banding are per-row native expressions, so this
    * runs unchanged on a stream).
    */
  private[graft] def fuzzyBandRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        shingleHashes(col("text")).as("sh"), minhashSig(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("source"), col("sh"),
        explode(array((0 until NumBands).map { b =>
          struct(lit(b).as("band"),
            bandKey((0 until NumPerms).map(j => element_at(col("sig"), j + 1)), b)
              .as("key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("source"), col("sh"),
        col("bk.band").as("band"), col("bk.key").as("key"))

  val all: Seq[Q] = Seq(exact, exactHash, minhash, lshPairs, jaccard, clusters, simhash,
    simhashPairs, spans, deconFuzzy, containment, minhashIncremental, clustersIncremental)
}
