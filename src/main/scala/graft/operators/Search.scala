package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyword search over the corpus — the retrieval shape a
  * training-data pipeline uses for targeted corpus probes (find the
  * documents most about X) and that the reference's marker scans
  * (style.py:241-302) approximate with fixed phrase lists.
  *
  * BM25 (Robertson/Sparck Jones; the Lucene `(N-df+0.5)/(df+0.5)+1`
  * idf form so scores stay positive) with k1=1.2, b=0.75.
  *
  * Scale shape — the query-term set is small and fixed, so the plan
  * NEVER materializes an inverted index or shuffles tokens:
  *  - per-doc term frequencies are map-only array ops on the scan
  *    (one `filter` HOF per term over the shared tokenization);
  *  - corpus stats (N, avgdl, per-term df) are ONE map-side-combined
  *    global aggregate → a 1-row broadcast join back onto the docs;
  *  - the top-k is TakeOrderedAndProject (per-partition bounded heap
  *    + driver merge of k rows), never a global sort.
  * At 100 TB this is one pass over the text plus k rows out.
  */
object Search {

  private val terms = Seq("spark", "vector", "window")
  private val K1 = 1.2
  private val B = 0.75
  private val TopK = 15

  private def tfOf(spark: SparkSession, dir: String) = {
    val words = split(trim(lower(col("text"))), "\\s+")
    Tables.documents(spark, dir)
      .select(col("doc_id"), words.as("w"))
      .select(
        col("doc_id") +: size(col("w")).cast("long").as("dl") +:
          terms.map(t => size(filter(col("w"), _ === t)).cast("long").as(s"tf_$t")): _*)
  }

  /** One-time memoized corpus statistics (N, avgdl, per-term df) —
    * the inverted-index half a production search system builds once
    * and serves many queries from. Without the memo the 1-row stats
    * aggregate forces a SECOND full text scan per query.
    */
  private[graft] def bm25Stats(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"search.bm25Stats:$dir") {
      val gCols = count(lit(1)).as("n") +: avg("dl").as("avgdl") +:
        terms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
      val g = tfOf(spark, dir).agg(gCols.head, gCols.tail: _*).persist()
      g.count()
      Seq(g)
    }.head
  val Bm25Stats = Build("bm25_stats", bm25Stats)

  val bm25 = Q(
    "ix_bm25", {
      val words = "string_split_regex(trim(lower(text)), '\\s+')"
      val tfSql = terms.map(t =>
        s"CAST(len(list_filter(w, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n    ")
      val dfSql = terms.map(t =>
        s"sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(", ")
      val scoreSql = terms.map { t =>
        s"""ln((g.n - g.df_$t + 0.5) / (g.df_$t + 0.5) + 1)
           |      * tf_$t * ${K1 + 1} / (tf_$t + $K1 * (1 - $B + $B * dl / g.avgdl))""".stripMargin
      }.mkString("\n      + ")
      s"""WITH tf AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
         |    $tfSql
         |  FROM (SELECT doc_id, $words AS w FROM documents)
         |),
         |g AS (
         |  SELECT count(*) AS n, avg(dl) AS avgdl, $dfSql FROM tf
         |)
         |SELECT doc_id, ${terms.map(t => s"tf_$t").mkString(", ")},
         |  round(1e-9 + $scoreSql + 1e-9, 6) AS score
         |FROM tf, g
         |ORDER BY score DESC, doc_id
         |LIMIT $TopK""".stripMargin
    }, Bm25Stats) { (spark, dir) =>
    val tf = tfOf(spark, dir)
    val g = bm25Stats(spark, dir)
    val score = terms.map { t =>
      log((col("n") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5) + 1) *
        col(s"tf_$t") * (K1 + 1) /
        (col(s"tf_$t") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    tf.join(broadcast(g))
      .select(col("doc_id") +: terms.map(t => col(s"tf_$t")) :+
        round(lit(1e-9) + score + 1e-9, 6).as("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TopK)
  }

  private val simVocabK = 32

  /** ix_source_sim's (source, h) profile from ONE corpus tokenize:
    * term totals AND the per-source doc membership count, from which
    * df(h) = Σ_source nd (the (doc, h) counts are distinct by (doc, h)
    * and doc → source is functional, so the sums agree with the
    * oracle's per-h doc count). Both the vocab head and the tf pass
    * read this |sources|·|vocab|-row frame, so the corpus is tokenized
    * once, not once per consumer.
    */
  private[graft] def simProfile(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"search.simProfile:$dir") {
      val f = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          explode(graft.functions.Hashing.wordHashes(col("text"))).as("h"))
        .groupBy("doc_id", "source", "h").agg(count(lit(1)).as("c"))
        .groupBy("source", "h")
        .agg(sum("c").as("tf"), count(lit(1)).as("nd"))
        .persist()
      f.count()
      Seq(f)
    }.head
  val SimProfile = Build("sim_profile", simProfile)

  /** Source-to-source vocabulary similarity: each source (= model
    * identity) reduced to a tf-idf vector over the corpus's top-32
    * document-frequency terms, then pairwise cosine between sources —
    * "which models talk alike", the retrieval-side companion to
    * ma_fp_compare's style-feature cosine (llmmap.py:130-146) using
    * lexical evidence instead of style markers.
    *
    * Scale shape: tokens collapse to (doc_id, h) histograms in the
    * scan stage (the Zipf discipline — df needs the distinct anyway);
    * the vocab head rides the bounded-heap aggregate exactly like
    * tx_topterms (partitions·k rows to the final step, the vocabulary
    * is never sorted or collected); the 32 winners broadcast back;
    * everything after runs on ≤ sources×32-row frames, so the
    * pairwise cosine is O(sources²) and corpus-size-independent.
    * idf = ln((N+1)/(df+1)) + 1 over the same counts in both engines;
    * cosines compare 6-dp-rounded. Sources with a zero vector over
    * the head vocabulary are excluded on both sides (0/0 cosine —
    * the Ann zero-norm rule).
    */
  val sourceSim = Q(
    "ix_source_sim", {
      val whSql = graft.functions.Hashing.wordHashesSql("text")
      s"""WITH wh AS (SELECT doc_id, source, unnest($whSql) AS h FROM documents),
         |dc AS (SELECT doc_id, source, h, CAST(count(*) AS BIGINT) AS c
         |  FROM wh GROUP BY doc_id, source, h),
         |v AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM dc GROUP BY h),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |vocab AS (SELECT h, df FROM v ORDER BY df DESC, h LIMIT $simVocabK),
         |w AS (
         |  SELECT dc.source, dc.h,
         |    sum(dc.c) * (ln((nd.n + 1) / CAST(vocab.df + 1 AS DOUBLE)) + 1) AS w
         |  FROM dc JOIN vocab USING (h) CROSS JOIN nd
         |  GROUP BY dc.source, dc.h, vocab.df, nd.n),
         |nrm AS (SELECT source, sqrt(sum(w * w)) AS nrm FROM w GROUP BY source),
         |dots AS (
         |  SELECT a.source AS src_a, b.source AS src_b, sum(a.w * b.w) AS dot
         |  FROM w a JOIN w b ON a.h = b.h AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT d.src_a, d.src_b,
         |  round(1e-9 + d.dot / (na.nrm * nb.nrm) + 1e-9, 6) AS cosine
         |FROM dots d
         |JOIN nrm na ON na.source = d.src_a AND na.nrm > 0
         |JOIN nrm nb ON nb.source = d.src_b AND nb.nrm > 0
         |ORDER BY src_a, src_b""".stripMargin
    }, SimProfile) { (spark, dir) =>
    val sc = simProfile(spark, dir)
    val v = sc.groupBy("h").agg(sum("nd").as("df"))
    val vocab = v
      .agg(graft.functions.TopKAgg.topk_by_score(
        col("df").cast("double"), col("h"), simVocabK).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.id").as("h"))
      .join(v, "h") // re-attach df for the idf term
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    val tf = sc.join(broadcast(vocab), "h")
      .select(col("source"), col("h"), col("df"), col("tf"))
    pairCosines(weightsOf(tf, nd))
  }

  /** tf-idf weights from a (source, h, df, tf) profile + the 1-row
    * doc count — shared by the batch query and the streaming twin
    * (which maintains the (source, h) tf table incrementally and
    * derives the SAME weights from it).
    */
  private[graft] def weightsOf(tf: DataFrame, nd: DataFrame): DataFrame =
    tf.crossJoin(broadcast(nd))
      .select(col("source"), col("h"),
        (col("tf") * (log((col("n") + 1) / (col("df") + 1).cast("double")) + 1)).as("w"))

  /** Pairwise source cosines from a (source, h, w) weight frame —
    * O(sources²) on ≤ sources×vocab rows, corpus-size-independent.
    */
  private[graft] def pairCosines(w: DataFrame): DataFrame = {
    val nrm = w.groupBy("source").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      .filter(col("nrm") > 0)
    val a = w.toDF("src_a", "h", "wa")
    val b = w.toDF("src_b", "hb", "wb")
    a.join(b, col("h") === col("hb") && col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
      .join(broadcast(nrm.toDF("src_a", "na")), "src_a")
      .join(broadcast(nrm.toDF("src_b", "nb")), "src_b")
      .select(col("src_a"), col("src_b"),
        round(lit(1e-9) + col("dot") / (col("na") * col("nb")) + 1e-9, 6).as("cosine"))
      .orderBy("src_a", "src_b")
  }

  /** The df-annotated head vocabulary + corpus doc count as plain
    * frames, for the streaming twin's serve path. */
  private[graft] def simVocab(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val dc = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.Hashing.wordHashes(col("text"))).as("h"))
      .groupBy("doc_id", "source", "h").agg(count(lit(1)).as("c"))
    val v = dc.groupBy("h").agg(count(lit(1)).as("df"))
    val vocab = v
      .agg(graft.functions.TopKAgg.topk_by_score(
        col("df").cast("double"), col("h"), simVocabK).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.id").as("h"))
      .join(v, "h")
    (vocab, Tables.documents(spark, dir).agg(count(lit(1)).as("n")))
  }

  // ═══════════════ hybrid retrieval (RRF) ═══════════════

  /** Fixed hybrid query set — the SAME five ids the ANN family
    * queries with (Ann.NumQueries), so lexical and semantic evidence
    * describe the same probes; vec_id == doc_id in the testdata.
    */
  private val HybridQueries = 5
  private val HybridK = 20 // per-retriever candidate depth
  private val RrfC = 60    // the standard RRF constant (Cormack et al.)
  private val HybridTopK = 10

  private def docTerms(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"),
      explode(array_distinct(graft.functions.Hashing.wordHashes(col("text")))).as("h"))

  /** The hybrid query set's distinct terms: a pushed doc_id scan. */
  private def queryTerms(spark: SparkSession, dir: String): DataFrame =
    docTerms(spark, dir).filter(col("doc_id") < HybridQueries)
      .select(col("doc_id").as("query_id"), col("h"))

  /** The corpus's (doc, h) hits on the query terms: ix_hybrid's df
    * aggregate and its lexical scoring join both read this one
    * materialization, so the corpus is tokenized once, not once per
    * consumer.
    */
  private[graft] def hybridHits(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"search.hybridHits:$dir") {
      val f = docTerms(spark, dir)
        .join(broadcast(queryTerms(spark, dir).select("h").distinct()), "h").persist()
      f.count()
      Seq(f)
    }.head
  val HybridHits = Build("hybrid_hits", hybridHits)

  val hybrid = Q(
    "ix_hybrid", {
      val whSql = graft.functions.Hashing.wordHashesSql("text")
      s"""WITH dt AS (
         |  SELECT doc_id, unnest(list_distinct($whSql)) AS h FROM documents),
         |qt AS (SELECT doc_id AS query_id, h FROM dt WHERE doc_id < $HybridQueries),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |df AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM dt
         |  WHERE h IN (SELECT DISTINCT h FROM qt) GROUP BY h),
         |lex AS (
         |  SELECT qt.query_id, dt.doc_id,
         |    round(1e-9 + sum(ln((nn.n + 1) / CAST(df.df + 1 AS DOUBLE)) + 1), 6) AS s
         |  FROM dt JOIN qt ON dt.h = qt.h JOIN df ON df.h = dt.h CROSS JOIN nn
         |  WHERE dt.doc_id <> qt.query_id
         |  GROUP BY qt.query_id, dt.doc_id),
         |lexr AS (
         |  SELECT query_id, doc_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY s DESC, doc_id) AS BIGINT) AS rl
         |  FROM lex QUALIFY rl <= $HybridK),
         |c AS (${Ann.corpusSql}),
         |sem AS (
         |  SELECT q.vec_id AS query_id, cc.vec_id AS doc_id,
         |    round(1e-9 + list_dot_product(q.e, cc.e) / (q.nrm * cc.nrm), 6) AS s
         |  FROM c q, c cc
         |  WHERE q.vec_id < $HybridQueries AND cc.vec_id <> q.vec_id),
         |semr AS (
         |  SELECT query_id, doc_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY s DESC, doc_id) AS BIGINT) AS rs
         |  FROM sem QUALIFY rs <= $HybridK),
         |f AS (
         |  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         |    coalesce(l.doc_id, s.doc_id) AS doc_id,
         |    round(1e-9 + coalesce(1.0 / ($RrfC + l.rl), 0)
         |      + coalesce(1.0 / ($RrfC + s.rs), 0), 6) AS rrf
         |  FROM lexr l FULL OUTER JOIN semr s
         |    ON l.query_id = s.query_id AND l.doc_id = s.doc_id)
         |SELECT query_id, doc_id, rrf, CAST(row_number() OVER (
         |  PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
         |FROM f QUALIFY rank <= $HybridTopK
         |ORDER BY query_id, rank""".stripMargin
    }, HybridHits) {
    // Hybrid search: lexical tf-idf overlap ⊕ embedding cosine, fused
    // by reciprocal-rank fusion (1/(60+rank) — the score-free fusion
    // that needs no cross-retriever calibration; Cormack et al.) —
    // the modern two-tower retrieval serve composed from this
    // engine's own halves. Scale shape: the 5-query term set
    // broadcasts (≤ queries × vocab rows); the corpus side is a
    // map-side distinct-term explode into that broadcast join,
    // partially aggregated per (query, doc) — the decontamination
    // posture, no token ever enters a keyed shuffle; both
    // per-retriever candidate lists come from the bounded-heap
    // aggregate (shuffle O(queries·k), no window over the corpus);
    // the fusion join and final top-10 run on ≤ queries × 2k rows.
    // The oracle formulates the same pipeline with windows — the
    // plan spec asserts the Spark side has none.
    (spark, dir) =>
      import graft.functions.TopKAgg
      val qt = queryTerms(spark, dir)
      val nn = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
      val dtq = hybridHits(spark, dir)
      val df = dtq.groupBy("h").agg(count(lit(1)).as("df"))
      val idf = df.crossJoin(broadcast(nn))
        .select(col("h"),
          (log((col("n") + 1) / (col("df") + 1).cast("double")) + 1).as("idf"))
      val lex = dtq.join(broadcast(qt), "h")
        .filter(col("doc_id") =!= col("query_id"))
        .join(broadcast(idf), "h")
        .groupBy("query_id", "doc_id")
        .agg(round(lit(1e-9) + sum("idf"), 6).as("s"))
      def heapRanks(scored: DataFrame, rankName: String, k: Int): DataFrame =
        scored.groupBy("query_id")
          .agg(TopKAgg.topk_by_score(col("s"), col("doc_id"), k).as("tk"))
          .select(col("query_id"), explode(col("tk")).as("t"))
          .select(col("query_id"), col("t.id").as("doc_id"),
            col("t.rank").as(rankName))
      val lexr = heapRanks(lex, "rl", HybridK)
      val c = Ann.corpus(spark, dir)
      val q = c.filter(col("vec_id") < HybridQueries)
        .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
      val sem = c.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          round(lit(1e-9) + dotC(col("qe"), col("e")) / (col("qn") * col("nrm")), 6).as("s"))
      val semr = heapRanks(sem, "rs", HybridK)
      val fused = lexr.join(semr, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          round(lit(1e-9) + coalesce(lit(1.0) / (lit(RrfC) + col("rl")), lit(0d))
            + coalesce(lit(1.0) / (lit(RrfC) + col("rs")), lit(0d)), 6).as("s"))
      fused.groupBy("query_id")
        .agg(TopKAgg.topk_by_score(col("s"), col("doc_id"), HybridTopK).as("tk"))
        .select(col("query_id"), explode(col("tk")).as("t"))
        .select(col("query_id"), col("t.id").as("doc_id"),
          col("t.score").as("rrf"), col("t.rank").as("rank"))
        .orderBy("query_id", "rank")
    }

  private[graft] def dotC(a: Column, b: Column): Column =
    graft.functions.HashExprs.dot_product(a, b)

  // ═══════════════ cross-source exact-content overlap ═══════════════

  /** Cross-source duplication matrix: for every source pair, how many
    * distinct document contents (sha256 of text — the dd_exact_hash
    * key) both sources carry, plus the overlap coefficient
    * |A ∩ B| / min(|A|, |B|). ix_source_sim answers "which sources
    * talk alike" from tf-idf profiles; this answers "which sources
    * literally republish each other" — the signal that decides
    * whether a new crawl source adds content or only duplication
    * weight, and the cross-source counterpart of dd_exact.
    *
    * Scale shape: the corpus collapses to DISTINCT (source, sha) in
    * the scan stage (32-byte keys, never text); the pair join is
    * keyed on sha where each key carries at most |sources| rows — so
    * the join output is bounded by |hashes|·|sources|², with the
    * count aggregation partial map-side. The final matrix assembly
    * runs on |sources|-row frames.
    */
  val sourceOverlap = Q(
    "ix_source_overlap",
    """WITH sh AS (SELECT DISTINCT source, sha256(text) AS sha FROM documents),
      |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
      |shared AS (
      |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_shared
      |  FROM sh a JOIN sh b ON a.sha = b.sha AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT ta.source AS src_a, tb.source AS src_b, ta.n AS n_a, tb.n AS n_b,
      |  COALESCE(s.n_shared, 0) AS n_shared,
      |  round(1e-9 + COALESCE(s.n_shared, 0) / CAST(least(ta.n, tb.n) AS DOUBLE), 6)
      |    AS overlap_coef
      |FROM tot ta
      |JOIN tot tb ON ta.source < tb.source
      |LEFT JOIN shared s ON s.src_a = ta.source AND s.src_b = tb.source
      |ORDER BY src_a, src_b""".stripMargin) { (spark, dir) =>
    val sh = Tables.documents(spark, dir)
      .select(col("source"), sha2(col("text"), 256).as("sha"))
      .distinct()
    val tot = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = sh.select(col("source").as("src_a"), col("sha"))
      .join(sh.select(col("source").as("src_b"), col("sha")), Seq("sha"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
    broadcast(tot.select(col("source").as("src_a"), col("n").as("n_a")))
      .join(broadcast(tot.select(col("source").as("src_b"), col("n").as("n_b"))),
        col("src_a") < col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(lit(1e-9) + coalesce(col("n_shared"), lit(0L)) /
          least(col("n_a"), col("n_b")).cast("double"), 6).as("overlap_coef"))
      .orderBy("src_a", "src_b")
  }

  /** Standing-corpus BM25 statistics (docs with doc_id % 10 < 8 — the
    * same standing/delta split every incremental twin uses), memoized
    * like [[bm25Stats]]: the index a continuously-ingesting search
    * tier rebuilds nightly and serves from all day.
    */
  private[graft] def bm25StatsStanding(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"search.bm25StatsStanding:$dir") {
      val words = split(trim(lower(col("text"))), "\\s+")
      val tf = Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 < 8)
        .select(col("doc_id"), words.as("w"))
        .select(
          col("doc_id") +: size(col("w")).cast("long").as("dl") +:
            terms.map(t => size(filter(col("w"), _ === t)).cast("long").as(s"tf_$t")): _*)
      val gCols = count(lit(1)).as("n") +: avg("dl").as("avgdl") +:
        terms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
      val g = tf.agg(gCols.head, gCols.tail: _*).persist()
      g.count()
      Seq(g)
    }.head
  val Bm25StatsStanding = Build("bm25_stats_standing", bm25StatsStanding)

  /** Incremental BM25 serving — the retrieval twin of dd_incremental:
    * a delta batch (doc_id % 10 ≥ 8) is scored under the STANDING
    * corpus statistics (idf, avgdl from the % 10 < 8 docs) without
    * rescanning any standing text at serve time. This is exactly how
    * a production tier ranks fresh documents between index rebuilds:
    * term weights stay pinned to the last build, so scores are
    * comparable to the standing ranking and the serve cost is
    * O(|delta|) map work + a 1-row broadcast + a bounded top-k heap.
    * The memoized stats build is billed once in `builds`.
    */
  val bm25Incremental = Q(
    "ix_bm25_incremental", {
      val words = "string_split_regex(trim(lower(text)), '\\s+')"
      val tfSql = terms.map(t =>
        s"CAST(len(list_filter(w, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n    ")
      val dfSql = terms.map(t =>
        s"sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(", ")
      val scoreSql = terms.map { t =>
        s"""ln((g.n - g.df_$t + 0.5) / (g.df_$t + 0.5) + 1)
           |      * tf_$t * ${K1 + 1} / (tf_$t + $K1 * (1 - $B + $B * dl / g.avgdl))""".stripMargin
      }.mkString("\n      + ")
      s"""WITH stf AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
         |    $tfSql
         |  FROM (SELECT doc_id, $words AS w FROM documents WHERE doc_id % 10 < 8)
         |),
         |g AS (
         |  SELECT count(*) AS n, avg(dl) AS avgdl, $dfSql FROM stf
         |),
         |dtf AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
         |    $tfSql
         |  FROM (SELECT doc_id, $words AS w FROM documents WHERE doc_id % 10 >= 8)
         |)
         |SELECT doc_id, ${terms.map(t => s"tf_$t").mkString(", ")},
         |  round(1e-9 + $scoreSql + 1e-9, 6) AS score
         |FROM dtf, g
         |ORDER BY score DESC, doc_id
         |LIMIT $TopK""".stripMargin
    }, Bm25StatsStanding) { (spark, dir) =>
    val words = split(trim(lower(col("text"))), "\\s+")
    val dtf = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), words.as("w"))
      .select(
        col("doc_id") +: size(col("w")).cast("long").as("dl") +:
          terms.map(t => size(filter(col("w"), _ === t)).cast("long").as(s"tf_$t")): _*)
    val g = bm25StatsStanding(spark, dir)
    val score = terms.map { t =>
      log((col("n") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5) + 1) *
        col(s"tf_$t") * (K1 + 1) /
        (col(s"tf_$t") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    dtf.join(broadcast(g))
      .select(col("doc_id") +: terms.map(t => col(s"tf_$t")) :+
        round(lit(1e-9) + score + 1e-9, 6).as("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TopK)
  }

  private val Phrases = Seq("table value", "fast scan", "agg row window")

  /** One-time positional inverted index: (doc_id, pos, token hash) —
    * the postings-with-positions table a phrase-capable search system
    * stores. Built once per dir, reused by every phrase probe.
    */
  private[graft] def posIndex(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"search.posIndex:$dir") {
      val idx = Tables.documents(spark, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.Hashing.wordHashes(col("text")))
            .as(Seq("pos", "h")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.count() // materialize: queries time the probe path
      Seq(idx)
    }.head
  val PositionalIndex = Build("positional_index", posIndex)

  /** Exact phrase search served from the positional index — the
    * operator BM25's bag-of-words scoring cannot express: the query
    * terms must appear CONSECUTIVELY. The classic one-join phrase
    * plan: each query term is offset by its position in the phrase,
    * so every occurrence produces k postings that agree on the
    * anchor (pos − query offset); a (doc, anchor) group holding all
    * k offsets is a match. One broadcast join of the |query terms|
    * frame against the postings + one aggregation — never a LIKE
    * scan over raw text (the oracle replays the identical positional
    * logic relationally, not via substring). Zero-hit phrases keep
    * their row through the left join back. At 100 TB the postings
    * are the stored table and the probe touches only the matching
    * hash partitions.
    */
  val phrase = Q(
    "ix_phrase", {
      val whSql = graft.functions.Hashing.wordHashesSql("text")
      val qhSql = graft.functions.Hashing.wordHashesSql("phrase")
      val values = Phrases.map(p => s"('$p')").mkString(", ")
      s"""WITH d AS (SELECT doc_id, $whSql AS wh FROM documents),
         |p AS (SELECT doc_id, unnest(wh) AS h, generate_subscripts(wh, 1) AS pos FROM d),
         |ph AS (SELECT phrase, $qhSql AS qh FROM (VALUES $values) AS t(phrase)),
         |q AS (SELECT phrase, len(qh) AS k, unnest(qh) AS h,
         |        generate_subscripts(qh, 1) AS qpos FROM ph),
         |m AS (SELECT q.phrase, p.doc_id, p.pos - q.qpos AS anchor
         |      FROM p JOIN q USING (h)
         |      GROUP BY q.phrase, p.doc_id, anchor, q.k
         |      HAVING count(DISTINCT q.qpos) = q.k),
         |a AS (SELECT phrase, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |        CAST(count(*) AS BIGINT) AS n_occ,
         |        min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |      FROM m GROUP BY phrase)
         |SELECT ph.phrase, coalesce(a.n_docs, 0) AS n_docs,
         |  coalesce(a.n_occ, 0) AS n_occ, a.first_doc, a.last_doc
         |FROM ph LEFT JOIN a USING (phrase)
         |ORDER BY ph.phrase""".stripMargin
    }, PositionalIndex) { (spark, dir) =>
    val idx = posIndex(spark, dir)
    val s = spark
    import s.implicits._
    val phrases = Phrases.toDF("phrase")
    val qterms = phrases
      .withColumn("qh", graft.functions.Hashing.wordHashes(col("phrase")))
      .select(col("phrase"), size(col("qh")).as("k"),
        posexplode(col("qh")).as(Seq("qpos", "h")))
    val matches = idx.join(broadcast(qterms), "h")
      .groupBy(col("phrase"), col("doc_id"),
        (col("pos") - col("qpos")).as("anchor"), col("k"))
      .agg(countDistinct(col("qpos")).as("hits"))
      .filter(col("hits") === col("k"))
    val agg = matches.groupBy("phrase")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    phrases.join(agg, Seq("phrase"), "left")
      .select(col("phrase"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"),
        col("first_doc"), col("last_doc"))
      .orderBy("phrase")
  }

  private val FuzzyQueries = Seq("tabel", "spak", "windoq", "qery", "zzzz")

  /** Typo-tolerant term lookup — the SymSpell deletion-neighborhood
    * idea: instead of a Levenshtein CROSS JOIN of queries × vocabulary
    * (the plan that dies the moment the vocabulary is real), each side
    * expands to its 1-deletion keys (the word itself + every
    * single-character deletion, ≤ len+1 keys) and candidates are an
    * equi-join on those keys — any edit-distance-1 pair (substitution,
    * insertion, deletion) shares a key, so recall at distance 1 is
    * exact. Candidates then verify with ONE levenshtein call per
    * (query, candidate), never per (query, vocab) pair. The vocab side
    * is the corpus term histogram (Zipf-proofed doc-level pre-agg);
    * its deletion-key table would be the stored index in production.
    * Zero-match queries keep a row through the left join back.
    */
  val fuzzy = Q(
    "ix_fuzzy", {
      val words = "string_split_regex(trim(lower(text)), '\\s+')"
      val values = FuzzyQueries.map(q => s"('$q')").mkString(", ")
      def delKeys(e: String) =
        s"list_transform(range(0, length($e) + 1), i -> " +
          s"CASE WHEN i = 0 THEN $e ELSE substr($e, 1, i - 1) || substr($e, i + 1) END)"
      s"""WITH wr AS (SELECT doc_id, unnest($words) AS w FROM documents),
         |dc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM wr GROUP BY doc_id, w),
         |v AS (SELECT w, CAST(sum(c) AS BIGINT) AS tf FROM dc GROUP BY w),
         |vk AS (SELECT w, tf, unnest(${delKeys("w")}) AS k FROM v),
         |q AS (SELECT qt FROM (VALUES $values) AS t(qt)),
         |qk AS (SELECT qt, unnest(${delKeys("qt")}) AS k FROM q),
         |cand AS (SELECT DISTINCT qk.qt, vk.w, vk.tf FROM qk JOIN vk USING (k)),
         |m AS (SELECT qt, w, CAST(levenshtein(qt, w) AS INT) AS dist, tf
         |      FROM cand WHERE levenshtein(qt, w) <= 1)
         |SELECT q.qt AS query_term, m.w AS match, m.dist, m.tf
         |FROM q LEFT JOIN m USING (qt)
         |ORDER BY query_term, match""".stripMargin
    }) { (spark, dir) =>
    val s = spark
    import s.implicits._
    def delKeys(c: String) =
      expr(s"transform(sequence(0, length($c)), i -> " +
        s"CASE WHEN i = 0 THEN $c ELSE concat(substring($c, 1, i - 1), substring($c, i + 1, length($c))) END)")
    val v = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("w").agg(sum("c").as("tf"))
    val vk = v.select(col("w"), col("tf"), explode(delKeys("w")).as("k"))
    val q = FuzzyQueries.toDF("qt")
    val qk = q.select(col("qt"), explode(delKeys("qt")).as("k"))
    val cand = vk.join(broadcast(qk), Seq("k"))
      .select("qt", "w", "tf").distinct()
    val m = cand
      .withColumn("dist", levenshtein(col("qt"), col("w")).cast("int"))
      .filter(col("dist") <= 1)
    q.join(m, Seq("qt"), "left")
      .select(col("qt").as("query_term"), col("w").as("match"),
        col("dist"), col("tf"))
      .orderBy("query_term", "match")
  }

  private val SnippetCtx = 20

  /** Keyword-in-context snippets — the search-result rendering step:
    * for each query term, every matching doc returns the 1-based
    * match position and a ±20-char context window around the FIRST
    * occurrence (instr/strpos agree on 1-based first-match in both
    * engines; the window clamps at the string start the same way).
    * Map-only over the corpus — one projection per term unioned
    * before the scan, no joins, no aggregates; the term list is a
    * query-time constant exactly as in ix_bm25. Limited to the first
    * 40 matches per term by doc_id (ORDER BY + LIMIT →
    * TakeOrderedAndProject) so result pages stay bounded.
    */
  val snippet = Q(
    "ix_snippet", {
      val perTerm = terms.map { t =>
        s"""SELECT doc_id, '$t' AS term,
           |  CAST(strpos(lower(text), '$t') AS BIGINT) AS pos,
           |  substring(lower(text), CAST(greatest(strpos(lower(text), '$t') - $SnippetCtx, 1) AS INT),
           |    ${2 * SnippetCtx} + length('$t')) AS snippet
           |FROM documents WHERE strpos(lower(text), '$t') > 0""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""SELECT doc_id, term, pos, snippet FROM (
         |  SELECT *, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
         |  FROM ($perTerm)) WHERE rn <= 40
         |ORDER BY term, doc_id""".stripMargin
    }) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val hits = terms.map { t =>
      val pos = instr(lower(col("text")), t)
      docs.filter(pos > 0).select(
        col("doc_id"), lit(t).as("term"), pos.cast("long").as("pos"),
        lower(col("text")).substr(
          greatest(pos - SnippetCtx, lit(1)).cast("int"),
          lit(2 * SnippetCtx + t.length)).as("snippet"))
        .orderBy("doc_id").limit(40)
    }.reduce(_ unionByName _)
    hits.orderBy("term", "doc_id")
  }

  // ═══════════════ retrieval quality evaluation ═══════════════

  private val EvalQueries = 50
  private val EvalK = 10

  /** IDCG lookup for binary relevance: with m relevant items
    * available, the ideal top-[[EvalK]] page puts them first, so
    * IDCG(m) = Σ_{i=1..min(m,k)} 1/log2(i+1). Computed ONCE here and
    * embedded as literals in BOTH engines (Scala shortest-roundtrip
    * doubles parse back bit-exact), so neither engine re-derives the
    * discount curve with its own float summation order.
    */
  private val IdcgTable: Seq[(Int, Double)] =
    (0 to EvalK).map(m => m -> (1 to m).map(i => 1.0 / (math.log(i + 1) / math.log(2))).sum)

  /** Retrieval-quality evaluation — NDCG@10 / MRR / recall@10 of the
    * exact cosine retriever, judged against the embedding corpus's
    * own topic labels (a neighbor is relevant iff it carries the
    * query's label — the standard labeled-corpus protocol, and the
    * eval harness any retrieval-backed curation step needs before it
    * trusts ann_* output: benchmark_eval for search). 50 queries, one
    * metrics row each; r_total is how many relevant neighbors exist
    * at all (the recall denominator), and queries whose label has no
    * other member report NULL ndcg/recall rather than a fake 0.
    *
    * Scale shape: the 50-query frame broadcasts; scoring is map-only
    * over the corpus into the bounded-heap top-k aggregate (shuffle
    * O(queries·k), never a window over candidates — the ann_topk_agg
    * plan); neighbor labels attach by broadcasting the ≤ queries×k
    * winner frame back against the corpus scan, and per-label
    * relevant totals are a \|labels\|-row broadcast. At 100 TB the
    * eval costs one corpus pass + k·queries rows of bookkeeping.
    */
  val eval = Q(
    "ix_eval", {
      val idcgValues = IdcgTable.map { case (m, v) => s"($m, CAST($v AS DOUBLE))" }.mkString(", ")
      s"""WITH c AS (SELECT * FROM (
         |    SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm
         |    FROM (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |          CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |  ) WHERE nrm > 0),
         |q AS (SELECT vec_id AS query_id, label AS qlabel, e AS qe, nrm AS qn
         |      FROM c WHERE vec_id < $EvalQueries),
         |lt AS (SELECT label, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY label),
         |idcg(m, idcg) AS (VALUES $idcgValues),
         |top AS (
         |  SELECT query_id, qlabel, c.label AS nlabel,
         |    CAST(row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY list_dot_product(qe, e) / (qn * nrm) DESC, c.vec_id) AS BIGINT) AS rank
         |  FROM q, c WHERE c.vec_id != q.query_id
         |  QUALIFY rank <= $EvalK),
         |m AS (
         |  SELECT query_id, qlabel,
         |    CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |    sum(CASE WHEN nlabel = qlabel THEN 1.0 / log2(rank + 1) ELSE 0 END) AS dcg,
         |    min(CASE WHEN nlabel = qlabel THEN rank END) AS minr
         |  FROM top GROUP BY query_id, qlabel)
         |SELECT m.query_id, m.qlabel AS label, lt.cnt - 1 AS r_total, m.hits,
         |  round(1e-9 + coalesce(CAST(1 AS DOUBLE) / minr, 0), 6) AS mrr,
         |  CASE WHEN lt.cnt - 1 > 0
         |    THEN round(1e-9 + dcg / idcg.idcg, 6) END AS ndcg,
         |  CASE WHEN lt.cnt - 1 > 0
         |    THEN round(1e-9 + hits / CAST(lt.cnt - 1 AS DOUBLE), 6) END AS recall
         |FROM m JOIN lt ON lt.label = m.qlabel
         |JOIN idcg ON idcg.m = least(lt.cnt - 1, $EvalK)
         |ORDER BY query_id""".stripMargin
    }) { (spark, dir) =>
    import graft.functions.TopKAgg
    val c = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("nrm", sqrt(dotC(col("e"), col("e"))))
      .filter(col("nrm") > 0d)
    val q = c.filter(col("vec_id") < EvalQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("e").as("qe"), col("nrm").as("qn"))
    val top = broadcast(q).join(c, col("vec_id") =!= col("query_id"))
      .withColumn("cos_raw", dotC(col("qe"), col("e")) / (col("qn") * col("nrm")))
      .groupBy("query_id", "qlabel")
      .agg(TopKAgg.topk_by_score(col("cos_raw"), col("vec_id"), EvalK).as("tk"))
      .select(col("query_id"), col("qlabel"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("qlabel"),
        col("t.id").as("nid"), col("t.rank").as("rank"))
    // neighbor labels: broadcast the ≤ queries×k winners back onto the
    // corpus scan — map-only, no keyed exchange over the corpus
    val labeled = c.select(col("vec_id").as("nid"), col("label").as("nlabel"))
      .join(broadcast(top), "nid")
    val lt = c.groupBy("label").agg(count(lit(1)).as("cnt"))
      .select(col("label").as("qlabel"), col("cnt"))
    val idcgMap = typedLit(IdcgTable.map { case (m, v) => m.toLong -> v }.toMap)
    val rel = (col("nlabel") === col("qlabel")).cast("int")
    labeled.groupBy("query_id", "qlabel")
      .agg(
        sum(rel).cast("long").as("hits"),
        sum(when(rel === 1, lit(1.0) / log2(col("rank") + 1)).otherwise(0d)).as("dcg"),
        min(when(rel === 1, col("rank"))).as("minr"))
      .join(broadcast(lt), "qlabel")
      .withColumn("r_total", col("cnt") - 1)
      .withColumn("idcg", element_at(idcgMap, least(col("r_total"), lit(EvalK.toLong))))
      .select(col("query_id"), col("qlabel").as("label"), col("r_total"),
        col("hits"),
        round(lit(1e-9) + coalesce(lit(1.0) / col("minr"), lit(0d)), 6).as("mrr"),
        when(col("r_total") > 0,
          round(lit(1e-9) + col("dcg") / col("idcg"), 6)).as("ndcg"),
        when(col("r_total") > 0,
          round(lit(1e-9) + col("hits") / (col("cnt") - lit(1.0)), 6)).as("recall"))
      .orderBy("query_id")
  }

  val all: Seq[Q] = Seq(bm25, sourceSim, hybrid, sourceOverlap, bm25Incremental,
    phrase, fuzzy, snippet, eval)
}
