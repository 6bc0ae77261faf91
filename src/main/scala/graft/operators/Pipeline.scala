package graft.operators

import graft.{Build, Q, Tables}
import graft.functions.{Hashing, TopKAgg}
import org.apache.spark.sql.functions._

/** Second block of training-data-pipeline operators: repetition
  * quality signals, benchmark decontamination, deterministic
  * stratified sampling, and domain-mixing weights. Together with
  * pipe_curate / pipe_shard these cover the classic corpus-prep
  * stages a large LLM training pipeline runs between raw ingest and
  * shard writing.
  */
object Pipeline {

  // ═══════════════ repetition signals ═══════════════

  /** Flag thresholds: a doc whose single most frequent word carries
    * >= 12% of its tokens, or whose most frequent word-bigram carries
    * >= 6% of its bigrams, is excess-repetition suspect (the
    * count-based form of the Gopher repetition filters).
    */
  private val topWordMax = 0.12
  private val topBigramMax = 0.06

  /** Per-doc repetition metrics: most-frequent-word share,
    * most-frequent-bigram share, duplicate-word fraction.
    *
    * Scale shape: token/bigram hashes form in the scan stage (native
    * codegen'd expressions), then two two-level aggregations keyed by
    * (doc_id, hash). A doc's tokens are co-located after the scan, so
    * the map-side combine collapses to one row per (doc, term) before
    * any exchange — the shuffle carries the per-doc term histogram
    * (16-byte keyed rows), never text, and doc_id keys distribute
    * evenly at any corpus size. The per-doc nested-loop alternative
    * (aggregate over array_distinct) is shuffle-free but pays
    * interpreted-lambda cost quadratic in doc length — wrong trade in
    * the hot scan stage.
    */
  /** Per-doc repetition metrics + flag of any frame with (doc_id,
    * text) — the single definition behind tx_repetition and the
    * pipe_e2e gate.
    */
  private[graft] def repetitionMetrics(docs: org.apache.spark.sql.DataFrame) = {
    val docsWh = docs.select(col("doc_id"), Hashing.wordHashes(col("text")).as("wh"))
    val words = docsWh.select(col("doc_id"), explode(col("wh")).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("top_w"))
    val bigrams = docsWh
      .select(col("doc_id"), explode(Hashing.bigramHashes(col("wh"))).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").as("top_b"), sum("cnt").as("n_bigrams"))
    words.join(bigrams, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_words"),
        col("n_distinct"),
        round(lit(1e-9) + col("top_w") / col("n_words").cast("double") + 1e-9, 6)
          .as("top_word_frac"),
        round(lit(1e-9) +
          coalesce(col("top_b") / col("n_bigrams").cast("double"), lit(0d)) + 1e-9, 6)
          .as("top_bigram_frac"),
        round(lit(1e-9) + lit(1d) - col("n_distinct") / col("n_words").cast("double") + 1e-9, 6)
          .as("dup_word_frac"))
      .withColumn("repetitive",
        col("top_word_frac") >= topWordMax || col("top_bigram_frac") >= topBigramMax)
  }

  /** Largest element multiplicity in an array of longs: the longest
    * run in the sorted array, one linear higher-order fold — no
    * explode, no shuffle.
    */
  private def maxMultiplicity(a: org.apache.spark.sql.Column) = {
    val z = struct(lit(0L).as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    aggregate(array_sort(a), z, (s, x) => {
      val run = when(x === s.getField("prev"), s.getField("run") + lit(1L)).otherwise(lit(1L))
      struct(x.as("prev"), run.as("run"), greatest(s.getField("best"), run).as("best"))
    }).getField("best")
  }

  /** Per-ROW repetition flag of a text column — same thresholds and
    * rounding as [[repetitionMetrics]] (PipelineSpec pins them equal
    * doc-for-doc on the batch corpus), computed entirely map-side.
    * This is the streaming-ingest twin: a live gate classifies each
    * arriving doc alone, where the batch histogram shape
    * (explode + two keyed aggregations) is the right trade for a
    * full-corpus scan but a cross-row shuffle a per-doc stream gate
    * neither needs nor wants. Docs with no words (empty text) yield
    * null — the batch funnel drops them via its inner join, so both
    * sides exclude them.
    */
  private[graft] def repetitiveExpr(text: org.apache.spark.sql.Column) = {
    val wh = Hashing.wordHashes(text)
    val bh = Hashing.bigramHashes(wh)
    val topWordFrac = round(lit(1e-9) +
      maxMultiplicity(wh).cast("double") / size(wh).cast("double") + 1e-9, 6)
    // a doc with < 2 words has no bigrams: division by zero is null
    // in Spark, coalesced to 0 exactly like the batch left-join miss
    val topBigramFrac = round(lit(1e-9) +
      coalesce(maxMultiplicity(bh).cast("double") / size(bh).cast("double"), lit(0d)) +
      1e-9, 6)
    topWordFrac >= topWordMax || topBigramFrac >= topBigramMax
  }

  val repetition = Q(
    "tx_repetition", {
      val whSql = Hashing.wordHashesSql("text")
      val bhSql = Hashing.bigramHashesSql("wh")
      s"""WITH wh AS (SELECT doc_id, $whSql AS wh FROM documents),
         |w AS (SELECT doc_id, h, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest(wh) AS h FROM wh) GROUP BY doc_id, h),
         |ws AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
         |  CAST(count(*) AS BIGINT) AS n_distinct, max(cnt) AS top_w
         |  FROM w GROUP BY doc_id),
         |bg AS (SELECT doc_id, unnest($bhSql) AS h FROM wh),
         |b AS (SELECT doc_id, h, count(*) AS cnt FROM bg GROUP BY doc_id, h),
         |bs AS (SELECT doc_id, max(cnt) AS top_b, sum(cnt) AS n_bigrams FROM b GROUP BY doc_id),
         |j AS (SELECT ws.doc_id, n_words, n_distinct,
         |  round(1e-9 + top_w / CAST(n_words AS DOUBLE) + 1e-9, 6) AS top_word_frac,
         |  round(1e-9 + coalesce(top_b / CAST(n_bigrams AS DOUBLE), 0) + 1e-9, 6) AS top_bigram_frac,
         |  round(1e-9 + 1 - n_distinct / CAST(n_words AS DOUBLE) + 1e-9, 6) AS dup_word_frac
         |  FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id)
         |SELECT doc_id, n_words, n_distinct, top_word_frac, top_bigram_frac, dup_word_frac,
         |  (top_word_frac >= $topWordMax OR top_bigram_frac >= $topBigramMax) AS repetitive
         |FROM j
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    repetitionMetrics(Tables.documents(spark, dir)).orderBy("doc_id")
  }

  // ═══════════════ unigram-LM perplexity filter ═══════════════

  private val highPplBits = 5.0

  /** CCNet-style perplexity filtering with a corpus-trained unigram
    * LM: pass 1 counts every token (the "model"), pass 2 scores each
    * doc by its mean token surprisal -log2 p(token) and flags docs
    * whose bits/token exceed the threshold — the classic "drop docs
    * an in-domain LM finds unusual" quality gate, with the LM itself
    * computed distributed instead of imported.
    *
    * Scale shape: raw token rows collapse to (doc_id, h) → count in
    * the scan stage BEFORE anything is keyed by token alone — the
    * histogram both the vocabulary aggregation and the vocab join
    * consume. That bounds any single join key's probe rows by |docs|,
    * not |tokens|: the Zipf head (the hottest word is a few percent
    * of ALL corpus tokens) would otherwise put that percentage of the
    * corpus in ONE task's join partition at 100 TB. Per-doc surprisal
    * is then the count-weighted sum over the doc's distinct terms —
    * identical value, Zipf-proof exchange (asserted in PlanSpec). The
    * grand total is a 1-row broadcast; the vocab frame grows sub-
    * linearly with the corpus (vocabulary growth) and is NOT
    * broadcast by hint: a 100 TB corpus's vocabulary can exceed
    * driver memory, so the join stays a shuffle join unless AQE
    * proves it small at runtime.
    */
  val unigramPpl = Q(
    "tx_unigram_ppl", {
      val whSql = Hashing.wordHashesSql("text")
      s"""WITH wh AS (SELECT doc_id, unnest($whSql) AS h FROM documents),
         |dc AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS c FROM wh GROUP BY doc_id, h),
         |v AS (SELECT h, CAST(sum(c) AS BIGINT) AS cnt FROM dc GROUP BY h),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM v),
         |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    round(1e-9 + sum(c * -log2(cnt / n)) / sum(c) + 1e-9, 6) AS bits
         |  FROM dc JOIN v USING (h) CROSS JOIN tot GROUP BY doc_id)
         |SELECT doc_id, n_tokens, bits,
         |  round(1e-9 + pow(2, bits) + 1e-9, 4) AS ppl,
         |  bits >= $highPplBits AS high_ppl
         |FROM d
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val docCounts = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Hashing.wordHashes(col("text"))).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
    val vocab = docCounts.groupBy("h").agg(sum("c").as("cnt"))
    val tot = vocab.agg(sum("cnt").cast("double").as("n"))
    docCounts.join(vocab, "h").crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_tokens"),
        round(lit(1e-9) +
          sum(col("c") * -log2(col("cnt") / col("n"))) / sum("c") + 1e-9, 6).as("bits"))
      .select(col("doc_id"), col("n_tokens"), col("bits"),
        round(lit(1e-9) + pow(lit(2d), col("bits")) + 1e-9, 4).as("ppl"),
        (col("bits") >= highPplBits).as("high_ppl"))
      .orderBy("doc_id")
  }

  // ═══════════════ bigram-LM perplexity filter ═══════════════

  /** Stupid-backoff discount (Brants et al., EMNLP'07) and the
    * pseudo-count a fully unseen word scores with.
    */
  private val backoffAlpha = 0.4
  private val unseenCount = 0.5
  private val highPpl2Bits = 5.05
  private val lmTrainMod = 2

  /** Bigram-LM perplexity filter — the held-out extension of
    * tx_unigram_ppl: a bigram language model with stupid backoff is
    * trained on HALF the corpus (doc_id % 2 = 0) and scores every
    * doc, so unseen bigrams genuinely occur and the backoff path is
    * exercised (a self-trained LM has no OOV — the CCNet setup trains
    * on trusted text and scores the crawl, which this split models).
    * Score per bigram: S(cur|prev) = count(prev,cur)/count(prev) when
    * the bigram was seen in training, else 0.4·count(cur)/N, with a
    * 0.5 pseudo-count when even the word is unseen. Per-doc bits =
    * count-weighted mean of -log2 S; docs over the threshold flag.
    *
    * Scale shape: same Zipf-proofing as tx_unigram_ppl, one level up
    * — the scan stage emits invertible bigram PACKS (prev·P + cur, a
    * native expression) that collapse to (doc_id, pack) → count
    * before anything is keyed by pack or word alone, so every LM join
    * key's probe side is bounded by |docs|, not |tokens|. Both
    * unigram sides join the SAME vocab frame (prev = pack div P,
    * cur = pack mod P — no second histogram pass), the grand total is
    * a 1-row broadcast, and neither the bigram nor the unigram table
    * is broadcast by hint: a 100 TB corpus's bigram table is far
    * beyond driver memory, so those stay shuffle joins unless AQE
    * proves them small at runtime.
    */
  val bigramPpl = Q(
    "tx_bigram_ppl", {
      val whSql = Hashing.wordHashesSql("text")
      val bpSql = Hashing.bigramPacksSql("wh")
      val P = Hashing.P
      s"""WITH wh AS (SELECT doc_id, $whSql AS wh FROM documents),
         |bpr AS (SELECT doc_id, unnest($bpSql) AS bp FROM wh),
         |dc AS (SELECT doc_id, bp, CAST(count(*) AS BIGINT) AS c FROM bpr GROUP BY doc_id, bp),
         |tdc AS (SELECT bp, CAST(sum(c) AS BIGINT) AS bcnt FROM dc
         |  WHERE doc_id % $lmTrainMod = 0 GROUP BY bp),
         |uh AS (SELECT doc_id, unnest(wh) AS h FROM wh WHERE doc_id % $lmTrainMod = 0),
         |udc AS (SELECT doc_id, h, count(*) AS c FROM uh GROUP BY doc_id, h),
         |u AS (SELECT h, CAST(sum(c) AS BIGINT) AS ucnt FROM udc GROUP BY h),
         |tot AS (SELECT CAST(sum(ucnt) AS DOUBLE) AS n FROM u),
         |sc AS (SELECT doc_id, bp, c, bp // $P AS ph, bp % $P AS ch FROM dc),
         |j AS (SELECT doc_id, c,
         |   CASE WHEN b.bcnt IS NOT NULL THEN CAST(b.bcnt AS DOUBLE) / CAST(up.ucnt AS DOUBLE)
         |        ELSE $backoffAlpha * coalesce(uc.ucnt, $unseenCount) / n END AS s
         |   FROM sc LEFT JOIN tdc b USING (bp)
         |     LEFT JOIN u up ON sc.ph = up.h
         |     LEFT JOIN u uc ON sc.ch = uc.h
         |     CROSS JOIN tot),
         |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |   round(1e-9 + sum(c * -log2(s)) / sum(c) + 1e-9, 6) AS bits FROM j GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, bits, bits >= $highPpl2Bits AS high_ppl2
         |FROM d ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val docCounts = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Hashing.bigramPacks(Hashing.wordHashes(col("text")))).as("bp"))
      .groupBy("doc_id", "bp").agg(count(lit(1)).as("c"))
    val (trainBigrams, trainUnigrams, tot) = bigramLmOf(Tables.documents(spark, dir))
    scoreBigramCounts(docCounts, trainBigrams, trainUnigrams, tot)
      .orderBy("doc_id")
  }

  /** The trained stupid-backoff LM tables: (bigram counts, unigram
    * counts, 1-row total) over the doc_id % 2 = 0 training half —
    * shared by tx_bigram_ppl and the streaming scorer so the two
    * cannot train on different corpora.
    */
  private[graft] def bigramLmOf(docs: org.apache.spark.sql.DataFrame) = {
    val train = docs.filter(col("doc_id") % lmTrainMod === 0)
    val trainBigrams = train
      .select(col("doc_id"), explode(Hashing.bigramPacks(Hashing.wordHashes(col("text")))).as("bp"))
      .groupBy("doc_id", "bp").agg(count(lit(1)).as("c"))
      .groupBy("bp").agg(sum("c").as("bcnt"))
    val trainUnigrams = train
      .select(col("doc_id"), explode(Hashing.wordHashes(col("text"))).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
      .groupBy("h").agg(sum("c").as("ucnt"))
    val tot = trainUnigrams.agg(sum("ucnt").cast("double").as("n"))
    (trainBigrams, trainUnigrams, tot)
  }

  /** Scores (doc_id, bp, c) bigram rows against the LM tables — the
    * single surprisal definition behind the batch query (which feeds
    * the Zipf-proof (doc_id, bp) histogram) and Streaming.pplScore
    * (which feeds raw c=1 rows: a stream gate sees one doc at a time,
    * so there is no cross-doc skew for the histogram to flatten).
    */
  private[graft] def scoreBigramCounts(
      docCounts: org.apache.spark.sql.DataFrame,
      trainBigrams: org.apache.spark.sql.DataFrame,
      trainUnigrams: org.apache.spark.sql.DataFrame,
      tot: org.apache.spark.sql.DataFrame) = {
    val P = Hashing.P
    val surprisal =
      when(col("bcnt").isNotNull, col("bcnt").cast("double") / col("up_cnt").cast("double"))
        .otherwise(lit(backoffAlpha) * coalesce(col("uc_cnt"), lit(unseenCount)) / col("n"))
    docCounts
      .withColumn("ph", expr(s"bp div ${P}L"))
      .withColumn("ch", pmod(col("bp"), lit(P)))
      .join(trainBigrams, Seq("bp"), "left")
      .join(trainUnigrams.select(col("h").as("ph"), col("ucnt").as("up_cnt")), Seq("ph"), "left")
      .join(trainUnigrams.select(col("h").as("ch"), col("ucnt").as("uc_cnt")), Seq("ch"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("s", surprisal)
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_bigrams"),
        round(lit(1e-9) + sum(col("c") * -log2(col("s"))) / sum("c") + 1e-9, 6).as("bits"))
      .withColumn("high_ppl2", col("bits") >= highPpl2Bits)
  }

  // ═══════════════ Kneser-Ney bigram perplexity ═══════════════

  /** Absolute discount (the standard 0.75) and the high-surprisal
    * flag threshold for the KN-smoothed scorer.
    */
  private val knDiscount = 0.75
  private val highKnBits = 5.0

  /** Interpolated Kneser-Ney bigram perplexity — the principled-
    * smoothing companion to tx_bigram_ppl's stupid backoff: instead
    * of an untuned 0.4 backoff weight, probability mass is moved by
    * ABSOLUTE DISCOUNT (D = 0.75 off every seen bigram) and the
    * lower-order distribution is the CONTINUATION probability
    * (how many distinct contexts a word follows, not how often it
    * occurs — the "San Francisco" correction: 'Francisco' is frequent
    * but predictable, so KN scores it low as a novel continuation).
    *   seen prev:   S(c|p) = max(b(p,c)-D, 0)/cp(p)
    *                        + D·nf(p)/cp(p) · pcont(c)
    *   unseen prev: S(c|p) = pcont(c)
    * with pcont(c) = np(c)/B, np = distinct predecessors of c,
    * B = distinct training bigrams, and the 0.5 pseudo-count for a
    * word never seen as a continuation (the tx_bigram_ppl unseen
    * convention). Trained on the same doc_id % 2 = 0 half; scores
    * every doc, so the discount/continuation paths are exercised on
    * genuinely unseen bigrams.
    *
    * Scale shape: identical to tx_bigram_ppl — (doc_id, pack)
    * histograms before any pack-keyed join (Zipf discipline), all
    * three LM tables derive from ONE training bigram table (cp/nf
    * group by prev, np by continuation — no extra corpus pass), the
    * grand total is a 1-row broadcast, and no LM table is broadcast
    * by hint (beyond driver reach at 100 TB).
    */
  val knPpl = Q(
    "tx_ppl_kn", {
      val whSql = Hashing.wordHashesSql("text")
      val bpSql = Hashing.bigramPacksSql("wh")
      val P = Hashing.P
      s"""WITH wh AS (SELECT doc_id, $whSql AS wh FROM documents),
         |bpr AS (SELECT doc_id, unnest($bpSql) AS bp FROM wh),
         |dc AS (SELECT doc_id, bp, CAST(count(*) AS BIGINT) AS c FROM bpr GROUP BY doc_id, bp),
         |tb AS (SELECT bp, CAST(sum(c) AS BIGINT) AS bcnt FROM dc
         |  WHERE doc_id % $lmTrainMod = 0 GROUP BY bp),
         |pv AS (SELECT bp // $P AS ph, CAST(sum(bcnt) AS BIGINT) AS cp,
         |  CAST(count(*) AS BIGINT) AS nf FROM tb GROUP BY 1),
         |ct AS (SELECT bp % $P AS ch, CAST(count(*) AS BIGINT) AS np FROM tb GROUP BY 1),
         |bt AS (SELECT CAST(count(*) AS DOUBLE) AS b_total FROM tb),
         |sc AS (SELECT doc_id, bp, c, bp // $P AS ph, bp % $P AS ch FROM dc),
         |j AS (SELECT doc_id, c,
         |   CASE WHEN pv.cp IS NOT NULL THEN
         |     greatest(coalesce(tb.bcnt, 0) - $knDiscount, 0) / pv.cp
         |       + $knDiscount * pv.nf / pv.cp
         |         * (coalesce(ct.np, $unseenCount) / b_total)
         |   ELSE coalesce(ct.np, $unseenCount) / b_total END AS s
         |   FROM sc LEFT JOIN tb USING (bp)
         |     LEFT JOIN pv ON sc.ph = pv.ph
         |     LEFT JOIN ct ON sc.ch = ct.ch
         |     CROSS JOIN bt),
         |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |   round(1e-9 + sum(c * -log2(s)) / sum(c) + 1e-9, 6) AS bits FROM j GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, bits, bits >= $highKnBits AS high_ppl_kn
         |FROM d ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val P = Hashing.P
    val docCounts = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(Hashing.bigramPacks(Hashing.wordHashes(col("text")))).as("bp"))
      .groupBy("doc_id", "bp").agg(count(lit(1)).as("c"))
    val tb = docCounts.filter(col("doc_id") % lmTrainMod === 0)
      .groupBy("bp").agg(sum("c").as("bcnt"))
    val pv = tb.groupBy(expr(s"bp div ${P}L").as("ph"))
      .agg(sum("bcnt").as("cp"), count(lit(1)).as("nf"))
    val ct = tb.groupBy(pmod(col("bp"), lit(P)).as("ch"))
      .agg(count(lit(1)).as("np"))
    val bt = tb.agg(count(lit(1)).cast("double").as("b_total"))
    val pcont = coalesce(col("np"), lit(unseenCount)) / col("b_total")
    val s = when(col("cp").isNotNull,
      greatest(coalesce(col("bcnt"), lit(0L)) - knDiscount, lit(0d)) / col("cp")
        + lit(knDiscount) * col("nf") / col("cp") * pcont)
      .otherwise(pcont)
    docCounts
      .withColumn("ph", expr(s"bp div ${P}L"))
      .withColumn("ch", pmod(col("bp"), lit(P)))
      .join(tb, Seq("bp"), "left")
      .join(pv, Seq("ph"), "left")
      .join(ct, Seq("ch"), "left")
      .crossJoin(broadcast(bt))
      .withColumn("s", s)
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_bigrams"),
        round(lit(1e-9) + sum(col("c") * -log2(col("s"))) / sum("c") + 1e-9, 6).as("bits"))
      .select(col("doc_id"), col("n_bigrams"), col("bits"),
        (col("bits") >= highKnBits).as("high_ppl_kn"))
      .orderBy("doc_id")
  }

  // ═══════════════ benchmark decontamination ═══════════════

  /** Eval-set membership: every 10th doc (doc_id % 10 = 3) stands in
    * for a held-out benchmark; the rest is the training corpus to be
    * scanned for leaked eval content.
    */
  private[graft] val evalMod = 10
  private[graft] val evalRes = 3
  private[graft] val suspectFloor = 0.2
  private[graft] val contaminatedFloor = 0.5

  /** (doc_id, source, shingles) of any frame with (doc_id, source,
    * text) — shared by the batch query and the streaming variant.
    */
  private[graft] def shingledDocs(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), col("source"),
      Hashing.shingleHashes(col("text")).as("shingles"))

  /** The exploded (hash, eval_id) contamination index of an eval set. */
  private[graft] def evalIndexOf(sh: org.apache.spark.sql.DataFrame) =
    sh.select(col("doc_id").as("eval_id"), explode(col("shingles")).as("h"))

  /** Per (corpus doc, eval doc) shingle-overlap fraction against a
    * broadcast eval index — the single definition behind
    * pipe_decontaminate and Streaming.decontaminate, so batch and
    * stream cannot disagree on what "overlap" means. One streaming-
    * legal aggregation: works unchanged on a stream-static join.
    */
  private[graft] def overlapPairs(
      corpusSh: org.apache.spark.sql.DataFrame,
      evalIdx: org.apache.spark.sql.DataFrame) =
    corpusSh
      .select(col("doc_id"), col("source"), size(col("shingles")).as("ns"),
        explode(col("shingles")).as("h"))
      .join(broadcast(evalIdx), "h")
      .groupBy("doc_id", "source", "ns", "eval_id")
      .agg(count(lit(1)).as("matches"))
      .withColumn("frac",
        round(lit(1e-9) + col("matches") / col("ns").cast("double") + 1e-9, 6))

  /** Benchmark-contamination scan: for each corpus doc, the largest
    * fraction of its word-3-gram shingles that also appear in any
    * single eval doc; docs over the suspect floor are reported with
    * their best-matching eval doc, and >= 50% overlap is flagged
    * contaminated — the n-gram-overlap decontamination step every
    * serious training-data pipeline runs against its eval suites.
    *
    * Scale shape: both sides shingle in the scan stage. The eval side
    * is small by nature (benchmarks are thousands of docs, the corpus
    * is billions), so its exploded (hash, eval_id) index BROADCASTS —
    * asserted in PlanSpec — and the corpus side never shuffles its
    * text or shingles: the only exchange is the matched-pair
    * aggregation, whose input is the (corpus_doc, eval_doc, hit)
    * stream the broadcast join emits. The per-doc argmax is a
    * struct-max (one partial-aggregated exchange), not a window.
    */
  val decontaminate = Q(
    "pipe_decontaminate", {
      val whSql = Hashing.wordHashesSql("text")
      val shSql = Hashing.shingleHashesSql("wh")
      s"""WITH wh AS (SELECT doc_id, source, $whSql AS wh FROM documents),
         |sh AS (SELECT doc_id, source, $shSql AS shingles FROM wh),
         |ev AS (SELECT doc_id AS eval_id, unnest(shingles) AS h FROM sh
         |  WHERE doc_id % $evalMod = $evalRes),
         |co AS (SELECT doc_id, source, len(shingles) AS ns, unnest(shingles) AS h FROM sh
         |  WHERE doc_id % $evalMod != $evalRes),
         |m AS (SELECT doc_id, source, ns, eval_id,
         |    round(1e-9 + count(*) / CAST(ns AS DOUBLE) + 1e-9, 6) AS frac
         |  FROM co JOIN ev USING (h) GROUP BY doc_id, source, ns, eval_id),
         |b AS (SELECT doc_id, source, frac, eval_id,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY frac DESC, eval_id ASC) AS rn
         |  FROM m)
         |SELECT doc_id, source, CAST(eval_id AS BIGINT) AS best_eval_id,
         |  frac AS overlap_frac, frac >= $contaminatedFloor AS contaminated
         |FROM b WHERE rn = 1 AND frac >= $suspectFloor
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val sh = shingledDocs(Tables.documents(spark, dir))
    val evalIdx = evalIndexOf(sh.filter(col("doc_id") % evalMod === evalRes))
    overlapPairs(sh.filter(col("doc_id") % evalMod =!= evalRes), evalIdx)
      .groupBy("doc_id", "source")
      .agg(max(struct(col("frac"), (-col("eval_id")).as("neg"))).as("best"))
      .select(col("doc_id"), col("source"),
        (-col("best.neg")).cast("long").as("best_eval_id"),
        col("best.frac").as("overlap_frac"))
      .filter(col("overlap_frac") >= suspectFloor)
      .withColumn("contaminated", col("overlap_frac") >= contaminatedFloor)
      .orderBy("doc_id")
  }

  /** Serialized Bloom filter over the eval set's shingle hashes —
    * a memoized one-time index build (SessionMemo, like the IVF/PQ
    * indexes): sized from the measured distinct-shingle count at
    * ~1% fpp, built once per (session, dir), stored as a 1-row
    * persisted frame whose single binary cell the serving query
    * reads. At 100 TB the eval suites stay benchmark-sized, so the
    * filter is a few MB — broadcast-friendly as a plan literal.
    */
  private[graft] def evalBloom(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val fs = graft.SessionMemo.frames(spark, s"pipeline.evalBloom:$dir") {
      val sh = shingledDocs(Tables.documents(spark, dir))
      val idx = evalIndexOf(sh.filter(col("doc_id") % evalMod === evalRes))
      val n = math.max(1024L, idx.select("h").distinct().count())
      // optimal bits for fpp=0.01: -n ln(p) / ln(2)^2 ≈ 9.585 n
      val bits = math.max(64L, (n * 9.585).toLong)
      val bloomCol = Bridge.column(new BloomFilterAggregate(
        Bridge.expression(col("h")), Literal(n), Literal(bits))
        .toAggregateExpression())
      val one = idx.agg(bloomCol.as("bf")).persist()
      one.count()
      Seq(one)
    }
    fs.head.head.getAs[Array[Byte]](0)
  }
  val EvalBloom = Build("eval_bloom", evalBloom)

  /** Bloom-accelerated decontamination: IDENTICAL output to
    * pipe_decontaminate (same oracle SQL), different plan. The eval
    * set's shingle Bloom filter is inlined as a plan literal and the
    * corpus is prefiltered map-side with exists(shingles,
    * might_contain) — only docs sharing at least one (possibly
    * false-positive) shingle reach the explode + join + aggregate.
    * Bloom filters have no false negatives, so the exact verify
    * phase sees every true overlap and the result set cannot change;
    * false positives only cost wasted exact work (~1% fpp).
    *
    * This is THE 100 TB decontamination shape: the expensive
    * explode-to-(hash, doc) stream shrinks from every corpus doc to
    * the contaminated fraction (typically ≪1%), while the filter
    * itself rides the task binary instead of a shuffle.
    */
  val deconBloom = Q(
    "pipe_decon_bloom", decontaminate.oracle.get, EvalBloom) { (spark, dir) =>
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val bloom = Literal.create(evalBloom(spark, dir), BinaryType)
    val sh = shingledDocs(Tables.documents(spark, dir))
    val evalIdx = evalIndexOf(sh.filter(col("doc_id") % evalMod === evalRes))
    val corpus = sh.filter(col("doc_id") % evalMod =!= evalRes)
      .filter(exists(col("shingles"), s =>
        Bridge.column(BloomFilterMightContain(bloom, Bridge.expression(s)))))
    overlapPairs(corpus, evalIdx)
      .groupBy("doc_id", "source")
      .agg(max(struct(col("frac"), (-col("eval_id")).as("neg"))).as("best"))
      .select(col("doc_id"), col("source"),
        (-col("best.neg")).cast("long").as("best_eval_id"),
        col("best.frac").as("overlap_frac"))
      .filter(col("overlap_frac") >= suspectFloor)
      .withColumn("contaminated", col("overlap_frac") >= contaminatedFloor)
      .orderBy("doc_id")
  }

  /** Shuffle-join decontamination: IDENTICAL output to
    * pipe_decontaminate (same oracle SQL), the plan for when the
    * "eval" side is NOT benchmark-sized — decontaminating one corpus
    * against another corpus, or against benchmark suites × paraphrase
    * expansions that exceed driver/broadcast reach. The eval index
    * carries no broadcast hint (spec-asserted): the overlap join runs
    * as a plain shuffle join co-keyed on the shingle hash, with AQE
    * free to prove the side small at runtime (exactly the
    * tx_unigram_ppl vocabulary posture).
    *
    * Zipf guard: BOTH sides collapse to (key, doc, count) histograms
    * before the h-keyed join — a stop-shingle appearing in many docs
    * on both sides contributes |docs_l(h)| × |docs_r(h)| joined rows,
    * not |instances_l| × |instances_r|; the instance multiplicities
    * multiply arithmetically (matches = Σ_h c·e), so the output is
    * bit-identical to the broadcast path's instance-pair count.
    */
  val deconShuffle = Q(
    "pipe_decon_shuffle", decontaminate.oracle.get) { (spark, dir) =>
    val sh = shingledDocs(Tables.documents(spark, dir))
    val co = sh.filter(col("doc_id") % evalMod =!= evalRes)
      .select(col("doc_id"), col("source"), size(col("shingles")).as("ns"),
        explode(col("shingles")).as("h"))
      .groupBy("doc_id", "source", "ns", "h")
      .agg(count(lit(1)).as("c_cnt"))
    val ev = evalIndexOf(sh.filter(col("doc_id") % evalMod === evalRes))
      .groupBy("h", "eval_id")
      .agg(count(lit(1)).as("e_cnt"))
    co.join(ev, "h")
      .groupBy("doc_id", "source", "ns", "eval_id")
      .agg(sum(col("c_cnt") * col("e_cnt")).as("matches"))
      .withColumn("frac",
        round(lit(1e-9) + col("matches") / col("ns").cast("double") + 1e-9, 6))
      .groupBy("doc_id", "source")
      .agg(max(struct(col("frac"), (-col("eval_id")).as("neg"))).as("best"))
      .select(col("doc_id"), col("source"),
        (-col("best.neg")).cast("long").as("best_eval_id"),
        col("best.frac").as("overlap_frac"))
      .filter(col("overlap_frac") >= suspectFloor)
      .withColumn("contaminated", col("overlap_frac") >= contaminatedFloor)
      .orderBy("doc_id")
  }

  // ═══════════════ deterministic stratified sampling ═══════════════

  private val samplePerSource = 16

  /** Reproducible stratified sample: the k docs with the smallest
    * content fingerprint per source — a deterministic, engine-portable
    * stand-in for uniform per-stratum sampling (the fingerprint is a
    * content hash, so the selection is unbiased w.r.t. position and
    * reproducible across runs and engines, unlike rand()-based
    * sampling).
    *
    * Scale shape: the bounded-heap top-k aggregate carries k rows per
    * source per partition and merges map-side — shuffle O(sources·k)
    * — where the row_number window the oracle uses would sort every
    * doc of a source in one task. Same plan class as q7/dli top-k.
    */
  val sample = Q(
    "pipe_sample", {
      val fpSql = Hashing.charFoldSql("text")
      s"""SELECT source, rank, doc_id, fp FROM (
         |  SELECT source, doc_id, fp,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY fp, doc_id) AS BIGINT) AS rank
         |  FROM (SELECT source, CAST(doc_id AS BIGINT) AS doc_id, $fpSql AS fp FROM documents)
         |) WHERE rank <= $samplePerSource
         |ORDER BY source, rank""".stripMargin
    }) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id").cast("long").as("doc_id"),
        Hashing.charFold(col("text")).as("fp"))
      .groupBy("source")
      // score = -fp: the heap keeps the highest scores and breaks
      // ties toward the smaller id, reproducing ORDER BY fp, doc_id.
      .agg(TopKAgg.topk_by_score(
        (-col("fp")).cast("double"), col("doc_id"), samplePerSource).as("tk"))
      .select(col("source"), explode(col("tk")).as("t"))
      .select(col("source"), col("t.rank").as("rank"), col("t.id").as("doc_id"),
        (-col("t.score")).cast("long").as("fp"))
      .orderBy("source", "rank")
  }

  /** Weighted sampling without replacement — Efraimidis–Spirakis A-ES
    * priority sampling, the standard one-pass distributed algorithm:
    * each doc draws priority u^(1/w) (u uniform, w = its token count,
    * floor 1), and the k highest priorities per source win — giving
    * inclusion probability ∝ w (token-weighted, so long docs are
    * favored the way a token-budget mix wants). Everything is
    * deterministic and engine-portable: u comes from a Knuth
    * multiplicative hash of doc_id over a fixed prime grid (exact
    * BIGINT arithmetic in both engines), priorities are compared as
    * ln(u)/w — monotone in u^(1/w) — ROUNDED to 9 dp with a doc_id
    * tie-break, so both engines rank the identical key. Scale shape:
    * identical to pipe_sample — the bounded-heap aggregate ships k
    * rows per source per partition, shuffle O(sources·k); the
    * row_number window exists only in the oracle.
    */
  val weightedSample = Q(
    "pipe_weighted_sample",
    s"""SELECT source, rank, doc_id, w, key FROM (
       |  SELECT source, doc_id, w, key,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS BIGINT) AS rank
       |  FROM (
       |    SELECT source, CAST(doc_id AS BIGINT) AS doc_id, w,
       |      round(ln(((doc_id * 2654435761) % 1000003 + 1) / 1000004.0) / w, 9) AS key
       |    FROM (
       |      SELECT source, doc_id,
       |        CAST(greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS BIGINT) AS w
       |      FROM documents)
       |  )
       |) WHERE rank <= $samplePerSource
       |ORDER BY source, rank""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id").cast("long").as("doc_id"),
        greatest(size(split(trim(col("text")), "\\s+")).cast("long"), lit(1L)).as("w"))
    val key = round(
      log(((col("doc_id") * 2654435761L) % 1000003L + 1L) / lit(1000004.0)) /
        col("w").cast("double"), 9)
    val winners = docs
      .select(col("source"), col("doc_id"), col("w"), key.as("key"))
      .groupBy("source")
      .agg(graft.functions.TopKAgg.topk_by_score(
        col("key"), col("doc_id"), samplePerSource).as("tk"))
      .select(col("source"), explode(col("tk")).as("t"))
      .select(col("source"), col("t.rank").as("rank"), col("t.id").as("doc_id"),
        col("t.score").as("key"))
    // w rides back via a second corpus scan with the ≤ sources·k
    // winners as the EXPLICIT broadcast build side (provably bounded;
    // without the hint AQE is free to broadcast the corpus side at
    // small SF — exactly backwards at 100 TB). Corpus stays map-only.
    broadcast(winners)
      .join(docs.select(col("doc_id"), col("w")), Seq("doc_id"))
      .select(col("source"), col("rank"), col("doc_id"), col("w"), col("key"))
      .orderBy("source", "rank")
  }

  /** Deterministic train/val/test split — the holdout assignment
    * every corpus needs before training: split on the CONTENT
    * fingerprint (not doc_id, not rand()), so (a) the assignment is
    * reproducible across runs, engines, and re-ingests, and (b) exact
    * duplicates land in the SAME split by construction — the classic
    * leak where a train doc's twin sits in test cannot happen even
    * before dedup runs. 90/5/5 via fingerprint mod 100; pure map over
    * the corpus + one narrow (source, split) aggregation. The output
    * is the audit table (per source × split: docs, share) — the
    * per-doc assignment is the same expression inlined wherever the
    * writer needs it.
    */
  val holdoutSplit = Q(
    "pipe_split", {
      val fpSql = Hashing.charFoldSql("text")
      s"""SELECT source, split, n_docs,
         |  round(1e-9 + n_docs / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE), 6) AS share
         |FROM (
         |  SELECT source,
         |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM (SELECT source, ((($fpSql) % 100) + 100) % 100 AS b FROM documents)
         |  GROUP BY 1, 2)
         |ORDER BY source, split""".stripMargin
    }) { (spark, dir) =>
    val b = ((Hashing.charFold(col("text")) % 100) + 100) % 100
    val assigned = Tables.documents(spark, dir)
      .select(col("source"),
        when(b < 90, "train").when(b < 95, "val").otherwise("test").as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"))
    val tot = assigned.groupBy("source").agg(sum("n_docs").as("n_src"))
    assigned.join(broadcast(tot), "source")
      .select(col("source"), col("split"), col("n_docs"),
        round(lit(1e-9) + col("n_docs") / col("n_src").cast("double"), 6).as("share"))
      .orderBy("source", "split")
  }

  // ═══════════════ domain mixing weights ═══════════════

  private val upsampleCap = 4.0
  private val tokSqlFrag = "len(string_split_regex(trim(text), '\\s+'))"
  private val weightSqlFrag =
    s"round(1e-9 + least($upsampleCap, (total / ns) / CAST(tokens AS DOUBLE)) + 1e-9, 6)"

  /** (source, n_docs, tokens, weight) — the shared mixing-weight
    * frame behind pipe_mix and pipe_mix_apply.
    */
  private[graft] def mixWeights(docs: org.apache.spark.sql.DataFrame) = {
    val tok = docs
      .select(col("source"), size(split(trim(col("text")), "\\s+")).cast("long").as("t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("tokens"))
    val tot = tok.agg(
      sum("tokens").cast("double").as("total"), count(lit(1)).cast("double").as("ns"))
    val weight = round(lit(1e-9) +
      least(lit(upsampleCap), (col("total") / col("ns")) / col("tokens").cast("double")) +
      1e-9, 6)
    tok.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"), weight.as("weight"))
  }

  /** Domain-mixing plan: per-source token counts and the sampling
    * weight that levels every source to the uniform share of the
    * total token budget, capped at 4x upsampling — the "data mixture"
    * computation behind weighted corpus sampling.
    *
    * Scale shape: one partial-aggregated exchange on source; the
    * grand total is a 1-row frame broadcast back (same pattern as the
    * ANN recall denominator) — nothing is collected to the driver.
    */
  val mix = Q(
    "pipe_mix",
    s"""WITH tok AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum($tokSqlFrag) AS BIGINT) AS tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS ns
       |  FROM tok)
       |SELECT source, n_docs, tokens, $weightSqlFrag AS weight,
       |  CAST(floor(CAST(tokens AS DOUBLE) * $weightSqlFrag + 1e-6) AS BIGINT) AS expected_tokens
       |FROM tok, tot
       |ORDER BY source""".stripMargin) { (spark, dir) =>
    mixWeights(Tables.documents(spark, dir))
      .select(col("source"), col("n_docs"), col("tokens"), col("weight"),
        floor(col("tokens").cast("double") * col("weight") + 1e-6).cast("long")
          .as("expected_tokens"))
      .orderBy("source")
  }

  // ═══════════════ applying the mix: per-doc copy counts ═══════════════

  /** LCG modulus/multiplier for the per-doc deterministic uniform
    * (Knuth's 2654435761 multiplicative hash over a prime modulus).
    */
  private val mixM = 1000003L
  private val mixA = 2654435761L

  /** pipe_mix's missing second half: APPLY the mixing weights. Each
    * doc draws a deterministic uniform u = hash(doc_id)/M and gets
    * n_copies = ⌊w⌋ + [u < frac(w)] — downsampled sources keep a
    * w-fraction of docs, upsampled sources repeat every doc ⌊w⌋ times
    * plus a frac(w) chance of one more, so a source's expected
    * sampled tokens equal pipe_mix's expected_tokens (in expectation
    * over the hash, exactly reproducible across engines and runs —
    * the reason for a hash, not rand()).
    *
    * Scale shape: the weights frame is |sources| rows and broadcasts;
    * copy assignment is map-only arithmetic on the scan — the only
    * exchange in the whole query is pipe_mix's own per-source token
    * aggregation (and the output sort). At 100 TB this is the same
    * plan: one narrow agg, a 1-row + |sources|-row broadcast, then a
    * pure map over the corpus.
    */
  val mixApply = Q(
    "pipe_mix_apply",
    s"""WITH tok AS (SELECT source, CAST(sum($tokSqlFrag) AS BIGINT) AS tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS ns
       |  FROM tok),
       |w AS (SELECT source, $weightSqlFrag AS weight FROM tok, tot),
       |d AS (SELECT doc_id, source, CAST($tokSqlFrag AS BIGINT) AS n_tokens FROM documents),
       |a AS (SELECT doc_id, d.source, n_tokens, weight,
       |    CAST(((doc_id % $mixM) * $mixA) % $mixM AS DOUBLE) / $mixM.0 AS u
       |  FROM d JOIN w ON d.source = w.source),
       |cp AS (SELECT doc_id, source, n_tokens, weight,
       |    CAST(floor(weight) AS BIGINT) +
       |      (CASE WHEN u < weight - floor(weight) THEN 1 ELSE 0 END) AS n_copies
       |  FROM a)
       |SELECT doc_id, source, n_tokens, weight, n_copies, n_copies >= 1 AS kept
       |FROM cp ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    applyMixTo(Tables.documents(spark, dir), mixWeights(Tables.documents(spark, dir)))
      .orderBy("doc_id")
  }

  /** The copy-count assignment of pipe_mix_apply over any frame with
    * (doc_id, source, text) — map-only against a broadcast weights
    * frame, so it runs unchanged on a stream (Streaming.mixApply).
    */
  private[graft] def applyMixTo(
      docs: org.apache.spark.sql.DataFrame,
      weights: org.apache.spark.sql.DataFrame) = {
    val u = pmod(pmod(col("doc_id").cast("long"), lit(mixM)) * mixA, lit(mixM))
      .cast("double") / mixM.toDouble
    docs
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .join(broadcast(weights.select("source", "weight")), "source")
      .withColumn("u", u)
      .withColumn("n_copies",
        floor(col("weight")).cast("long") +
          when(col("u") < col("weight") - floor(col("weight")), 1L).otherwise(0L))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("weight"),
        col("n_copies"), (col("n_copies") >= 1).as("kept"))
  }

  // ═══════════════ end-to-end corpus preparation ═══════════════

  /** The whole corpus-prep pipeline as ONE composed query — exact
    * dedup → language gate → quality gate → repetition gate →
    * decontamination gate — reported as per-source funnel counts plus
    * the kept token volume and its training-shard budget. pipe_curate
    * is the three-stage core; this is the full six-stage funnel a
    * production training-data pipeline runs before shard writing,
    * with every gate THE SAME shared definition its standalone query
    * uses (qualityExpr/predLangExpr, repetitionMetrics,
    * overlapPairs), so the composite cannot drift from the parts.
    *
    * Scale shape: all gates join on doc_id or sha — 8-40 byte keys,
    * never text (the enrichment projects sha/quality/lang/tokens in
    * the scan stage). The repetition histograms are the costliest
    * exchange (16-byte rows, evenly keyed); the contamination side is
    * a broadcast eval index plus a sparse matched-pair aggregate; the
    * flagged-doc frames are small and AQE broadcasts the gate joins.
    */
  /** Builder behind pipe_e2e and pipe_e2e_sem: `sem = true` appends
    * the SemDeDup stage — dd_embed_clusters' canonical assignment
    * (vec_id ↔ doc_id, the embeddings table is row-aligned with
    * documents) drops every kept doc whose embedding sits in a
    * near-dup cluster under another member's canonical id. The
    * cluster resolution is the SAME memoized pair chain + CC loop the
    * standalone query uses (Ann.embedClusters), and the oracle
    * composes the same recursive-CTE reachability block.
    */
  private def mkE2e(name: String, sem: Boolean) = Q(
    name, {
      val qf = TextAnalysis.qualityFloor
      val whSql = Hashing.wordHashesSql("text")
      val bhSql = Hashing.bigramHashesSql("wh")
      val shSql = Hashing.shingleHashesSql("wh")
      val kept = s"is_canon AND pred_lang = 'en' AND quality >= $qf" +
        " AND NOT repetitive AND NOT contaminated" +
        (if (sem) " AND NOT sem_dup" else "")
      val keptTok = s"coalesce(sum(tokens) FILTER (WHERE $kept), 0)"
      val semCtes = if (sem) s"${Ann.embedClusterCtesSql},\n" else ""
      val semdupCte = if (sem)
        s"""semdup AS (
           |  SELECT u AS vec_id FROM (SELECT DISTINCT u, v FROM reach)
           |  GROUP BY u HAVING least(u, min(v)) != u
           |),
           |""".stripMargin
      else ""
      s"""WITH ${if (sem) "RECURSIVE " else ""}${semCtes}${semdupCte}corpus AS (SELECT * FROM documents WHERE doc_id % $evalMod != $evalRes),
         |enriched AS (
         |  ${TextAnalysis.enrichedSqlFrom("corpus")}
         |),
         |canon AS (SELECT sha, min(doc_id) AS canonical_id FROM enriched GROUP BY sha),
         |wh AS (SELECT doc_id, $whSql AS wh FROM corpus),
         |w AS (SELECT doc_id, h, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest(wh) AS h FROM wh) GROUP BY doc_id, h),
         |ws AS (SELECT doc_id, sum(cnt) AS n_words, max(cnt) AS top_w FROM w GROUP BY doc_id),
         |bg AS (SELECT doc_id, unnest($bhSql) AS h FROM wh),
         |b AS (SELECT doc_id, h, count(*) AS cnt FROM bg GROUP BY doc_id, h),
         |bs AS (SELECT doc_id, max(cnt) AS top_b, sum(cnt) AS n_bigrams FROM b GROUP BY doc_id),
         |rep AS (SELECT ws.doc_id,
         |    (round(1e-9 + top_w / CAST(n_words AS DOUBLE) + 1e-9, 6) >= $topWordMax
         |     OR round(1e-9 + coalesce(top_b / CAST(n_bigrams AS DOUBLE), 0) + 1e-9, 6) >= $topBigramMax)
         |    AS repetitive
         |  FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id),
         |awh AS (SELECT doc_id, $whSql AS wh FROM documents WHERE doc_id % $evalMod = $evalRes),
         |ash AS (SELECT doc_id, $shSql AS shingles FROM awh),
         |ev AS (SELECT doc_id AS eval_id, unnest(shingles) AS h FROM ash),
         |csh AS (SELECT doc_id, $shSql AS shingles FROM wh),
         |co AS (SELECT doc_id, len(shingles) AS ns, unnest(shingles) AS h FROM csh),
         |m AS (SELECT doc_id, eval_id,
         |    round(1e-9 + count(*) / CAST(ns AS DOUBLE) + 1e-9, 6) AS frac
         |  FROM co JOIN ev USING (h) GROUP BY doc_id, ns, eval_id),
         |contam AS (SELECT DISTINCT doc_id FROM m WHERE frac >= $contaminatedFloor),
         |joined AS (
         |  SELECT e.source, e.tokens, e.quality, e.pred_lang,
         |    (e.doc_id = c.canonical_id) AS is_canon,
         |    r.repetitive,
         |    (ct.doc_id IS NOT NULL) AS contaminated${if (sem)
              ",\n         |    (sd.vec_id IS NOT NULL) AS sem_dup" else ""}
         |  FROM enriched e JOIN canon c USING (sha) JOIN rep r ON e.doc_id = r.doc_id
         |  LEFT JOIN contam ct ON e.doc_id = ct.doc_id${if (sem)
              "\n         |  LEFT JOIN semdup sd ON e.doc_id = sd.vec_id" else ""})
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (WHERE NOT is_canon) AS BIGINT) AS n_dup_dropped,
         |  CAST(count(*) FILTER (WHERE is_canon AND pred_lang != 'en') AS BIGINT) AS n_lang_dropped,
         |  CAST(count(*) FILTER (WHERE is_canon AND pred_lang = 'en' AND quality < $qf) AS BIGINT)
         |    AS n_quality_dropped,
         |  CAST(count(*) FILTER (WHERE is_canon AND pred_lang = 'en' AND quality >= $qf
         |    AND repetitive) AS BIGINT) AS n_rep_dropped,
         |  CAST(count(*) FILTER (WHERE is_canon AND pred_lang = 'en' AND quality >= $qf
         |    AND NOT repetitive AND contaminated) AS BIGINT) AS n_contam_dropped,${if (sem)
              "\n         |  CAST(count(*) FILTER (WHERE is_canon AND pred_lang = 'en' AND quality >= " + qf +
              "\n         |    AND NOT repetitive AND NOT contaminated AND sem_dup) AS BIGINT) AS n_sem_dropped," else ""}
         |  CAST(count(*) FILTER (WHERE $kept) AS BIGINT) AS n_kept,
         |  CAST($keptTok AS BIGINT) AS tokens_kept,
         |  CAST(ceil($keptTok / CAST(${TextAnalysis.shardBudget} AS DOUBLE)) AS BIGINT) AS n_shards
         |FROM joined GROUP BY source ORDER BY source""".stripMargin
    }) { (spark, dir) =>
    val all = Tables.documents(spark, dir)
    val docs = all.filter(col("doc_id") % evalMod =!= evalRes)
    val enriched = docs.select(
      col("doc_id"), col("source"), sha2(col("text"), 256).as("sha"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"),
      TextAnalysis.qualityExpr.as("quality"),
      TextAnalysis.predLangExpr.as("pred_lang"))
    val canon = enriched.groupBy("sha").agg(min("doc_id").as("canonical_id"))
    val rep = repetitionMetrics(docs).select(col("doc_id"), col("repetitive"))
    val evalIdx = evalIndexOf(shingledDocs(all).filter(col("doc_id") % evalMod === evalRes))
    val contam = overlapPairs(shingledDocs(docs), evalIdx)
      .filter(col("frac") >= contaminatedFloor)
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    val isCanon = col("doc_id") === col("canonical_id")
    val okLangQ = col("pred_lang") === "en" && col("quality") >= TextAnalysis.qualityFloor
    val isContam = coalesce(col("contaminated"), lit(false))
    val isSem = coalesce(col("sem_dup"), lit(false))
    val kept = isCanon && okLangQ && !col("repetitive") && !isContam &&
      (if (sem) !isSem else lit(true))
    val keptTok = coalesce(sum(when(kept, col("tokens"))), lit(0L))
    val gated = enriched.join(canon, "sha")
      .join(rep, "doc_id")
      .join(contam, Seq("doc_id"), "left")
    val withSem = if (sem)
      gated.join(
        Ann.embedClusterAssignment(spark, dir)
          .filter(col("canonical_id") =!= col("vec_id"))
          .select(col("vec_id").as("doc_id"), lit(true).as("sem_dup")),
        Seq("doc_id"), "left")
    else gated
    val semCount =
      if (sem) Seq(count(when(isCanon && okLangQ && !col("repetitive") && !isContam && isSem, 1))
        .as("n_sem_dropped"))
      else Nil
    withSem
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        Seq(
          count(when(!isCanon, 1)).as("n_dup_dropped"),
          count(when(isCanon && col("pred_lang") =!= "en", 1)).as("n_lang_dropped"),
          count(when(isCanon && col("pred_lang") === "en"
            && col("quality") < TextAnalysis.qualityFloor, 1)).as("n_quality_dropped"),
          count(when(isCanon && okLangQ && col("repetitive"), 1)).as("n_rep_dropped"),
          count(when(isCanon && okLangQ && !col("repetitive") && isContam, 1))
            .as("n_contam_dropped")) ++ semCount ++ Seq(
          count(when(kept, 1)).as("n_kept"),
          keptTok.as("tokens_kept"),
          ceil(keptTok / lit(TextAnalysis.shardBudget).cast("double")).cast("long")
            .as("n_shards")): _*)
      .orderBy("source")
  }

  /** The whole corpus-prep funnel as one query (six stages). */
  val e2e = mkE2e("pipe_e2e", sem = false)

  /** The funnel plus the SemDeDup stage (seven stages). */
  val e2eSem = mkE2e("pipe_e2e_sem", sem = true).copy(builds = Seq(Ann.EmbedClusterLabels))

  // ═══════════════ chunking (embedding / RAG prep) ═══════════════

  /** Chunk size / stride in WORDS: 16-word chunks every 12 words →
    * 4-word overlap, the classic sliding-window chunker shape.
    */
  val ChunkSize = 16
  val ChunkStride = 12

  /** Overlapping sliding-window chunker — the embedding/RAG prep
    * stage that turns each document into fixed-size word windows
    * (size 16, stride 12): per chunk its 0-based index, word offset,
    * actual length (the tail chunk may be short), and a polynomial
    * content fingerprint over the chunk's word hashes (the
    * tx_fingerprint discipline at chunk granularity — downstream
    * chunk-level dedup joins on this 8-byte key, never chunk text).
    * Pure map-only at any corpus size: words hash natively in the
    * scan stage, chunk indexes explode from a sequence() — no join,
    * no keyed shuffle (plan-asserted); output is ~|words|/stride
    * rows. A doc shorter than one stride yields exactly one chunk;
    * chunk_idx counting matches floor((n-1)/stride) on both engines.
    */
  /** The chunk projection over any (doc_id, source, text) frame —
    * shared by pipe_chunk, dd_chunks, and Streaming.chunks (it is
    * pure map-side, so the same definition runs unchanged on a
    * stream).
    */
  private[graft] def chunkProject(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("source"), Hashing.wordHashes(col("text")).as("wh"))
      .withColumn("n", size(col("wh")))
      // all chunk hashes fold natively in one pass per doc
      // (chunk_hashes — the aggregate-over-slice HOF it replaces ran
      // an interpreted lambda per chunk element), then posexplode
      // recovers chunk_idx as the array position
      .select(col("doc_id"), col("source"), col("n"),
        posexplode(graft.functions.HashExprs.chunk_hashes(
          col("wh"), ChunkStride, ChunkSize)).as(Seq("chunk_idx", "chunk_hash")))
      .withColumn("start_word", (col("chunk_idx") * ChunkStride).cast("int"))
      .withColumn("chunk_len",
        least(lit(ChunkSize), col("n") - col("start_word")).cast("int"))
      .select(col("doc_id"), col("source"), col("chunk_idx"),
        col("start_word"), col("chunk_len"), col("chunk_hash"))

  /** The chunk frame over the stored corpus (the batch entry). */
  private[graft] def chunksOf(spark: org.apache.spark.sql.SparkSession, dir: String) =
    chunkProject(Tables.documents(spark, dir))

  /** The chunk CTE as oracle SQL — `chunks` exposes the same six
    * columns as [[chunksOf]].
    */
  private[graft] val chunksSql: String =
    s"""w AS (
       |  SELECT doc_id, source, ${Hashing.wordHashesSql("text")} AS wh
       |  FROM documents),
       |cix AS (
       |  SELECT doc_id, source, wh, len(wh) AS n,
       |    unnest(range(0, CAST(floor((len(wh) - 1) / $ChunkStride.0) AS INT) + 1))
       |      AS chunk_idx
       |  FROM w),
       |chunks AS (
       |  SELECT doc_id, source, CAST(chunk_idx AS INT) AS chunk_idx,
       |    CAST(chunk_idx * $ChunkStride AS INT) AS start_word,
       |    CAST(least($ChunkSize, n - chunk_idx * $ChunkStride) AS INT) AS chunk_len,
       |    list_reduce(list_concat([CAST(0 AS BIGINT)],
       |      list_slice(wh, chunk_idx * $ChunkStride + 1,
       |        chunk_idx * $ChunkStride + least($ChunkSize, n - chunk_idx * $ChunkStride))),
       |      (a, b) -> (a * ${Hashing.B} + b) % ${Hashing.P}) AS chunk_hash
       |  FROM cix)""".stripMargin

  val chunk = Q(
    "pipe_chunk",
    s"""WITH $chunksSql
       |SELECT doc_id, source, chunk_idx, start_word, chunk_len, chunk_hash
       |FROM chunks
       |ORDER BY doc_id, chunk_idx""".stripMargin) { (spark, dir) =>
    chunksOf(spark, dir).orderBy("doc_id", "chunk_idx")
  }

  /** Chunk-level exact dedup — the consumer that makes pipe_chunk's
    * fingerprint load-bearing: corpus-wide, every chunk whose hash
    * already appears at a smaller (doc_id, chunk_idx) is a duplicate
    * (the canonical copy is the min-struct keeper — the engine's
    * standard no-window argmin), and each doc reports its duplicated-
    * chunk share. Near-identical docs share most of their windows, so
    * this flags partial-overlap pairs exact dedup misses and dd_spans
    * only sees as runs. Shuffle keys are the 8-byte chunk hash and
    * doc_id — chunk text never materializes, let alone shuffles.
    */
  val chunkDedup = Q(
    "dd_chunks",
    s"""WITH $chunksSql,
       |keep AS (
       |  SELECT chunk_hash, min(ROW(doc_id, chunk_idx)) AS keeper
       |  FROM chunks GROUP BY chunk_hash)
       |SELECT c.doc_id, c.source,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(count(*) FILTER (WHERE ROW(c.doc_id, c.chunk_idx) <> k.keeper)
       |    AS BIGINT) AS n_dup,
       |  round(1e-9 + count(*) FILTER (WHERE ROW(c.doc_id, c.chunk_idx) <> k.keeper)
       |    * 1.0 / count(*), 6) AS dup_share,
       |  count(*) FILTER (WHERE ROW(c.doc_id, c.chunk_idx) <> k.keeper)
       |    * 2 >= count(*) AS chunk_dup
       |FROM chunks c JOIN keep k ON c.chunk_hash = k.chunk_hash
       |GROUP BY c.doc_id, c.source
       |ORDER BY c.doc_id""".stripMargin) { (spark, dir) =>
    val chunks = chunksOf(spark, dir)
    val keep = chunks
      .groupBy("chunk_hash")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    chunks
      .join(keep, "chunk_hash")
      .withColumn("is_dup",
        col("doc_id") =!= col("keeper.doc_id") ||
          col("chunk_idx") =!= col("keeper.chunk_idx"))
      .groupBy("doc_id", "source")
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("is_dup"), 1)).as("n_dup"),
        round(lit(1e-9) + count(when(col("is_dup"), 1)) * lit(1.0) / count(lit(1)), 6)
          .as("dup_share"),
        (count(when(col("is_dup"), 1)) * 2 >= count(lit(1))).as("chunk_dup"))
      .orderBy("doc_id")
  }

  /** Per-doc NOVELTY: the share of a doc's distinct word-3-gram
    * shingles that appear NOWHERE else in the corpus (corpus df = 1).
    * The complement of the repetition/boilerplate axis: a doc whose
    * shingles all recur elsewhere is template/recombined text (flagged
    * low_novelty), one full of df-1 shingles carries genuinely unique
    * content — the cheap corpus-level proxy for the memorization-risk
    * / information-density questions a data mix weighs.
    *
    * Scale shape: the tx_unigram_ppl discipline on shingles — the
    * (doc, h) relation is per-doc distinct (so every df join key is
    * bounded by |docs|), the df table aggregates co-keyed on h with
    * NO broadcast hint (a shingle vocabulary exceeds any driver), and
    * the per-doc rollup shuffles 16-byte rows. Docs too short to
    * shingle (< 3 words) come back via a left join with share 0.
    */
  private val lowNoveltyShare = 0.2
  val novelty = Q(
    "tx_novelty", {
      val whSql = Hashing.wordHashesSql("text")
      s"""WITH w AS (SELECT doc_id, $whSql AS wh FROM documents),
         |sh AS (SELECT doc_id, unnest(${Hashing.shingleHashesSql("wh")}) AS h FROM w),
         |f AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY h),
         |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM sh JOIN f USING (h) GROUP BY doc_id)
         |SELECT doc_id,
         |  coalesce(n_shingles, 0) AS n_shingles,
         |  coalesce(n_novel, 0) AS n_novel,
         |  CASE WHEN coalesce(n_shingles, 0) > 0
         |    THEN round(1e-9 + n_novel / CAST(n_shingles AS DOUBLE), 6) ELSE 0.0 END AS novel_share,
         |  coalesce(n_shingles, 0) > 0 AND
         |    CASE WHEN coalesce(n_shingles, 0) > 0
         |      THEN round(1e-9 + n_novel / CAST(n_shingles AS DOUBLE), 6) ELSE 0.0 END
         |      <= $lowNoveltyShare AS low_novelty
         |FROM documents LEFT JOIN d USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Hashing.shingleHashes(col("text"))).as("h"))
    val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val stats = sh.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
    val share = when(coalesce(col("n_shingles"), lit(0L)) > 0,
      round(lit(1e-9) + col("n_novel") / col("n_shingles").cast("double"), 6))
      .otherwise(lit(0.0))
    Tables.documents(spark, dir).select("doc_id")
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        share.as("novel_share"),
        (coalesce(col("n_shingles"), lit(0L)) > 0 && share <= lowNoveltyShare)
          .as("low_novelty"))
      .orderBy("doc_id")
  }

  // ═══════════════ leakage-safe holdout split ═══════════════

  /** Train/val/test split WITHOUT near-duplicate leakage — pipe_split
    * hashes each doc's text, so two near-duplicate (not byte-equal)
    * docs can land in different splits and the eval split silently
    * memorizes the train split (the C4/Pile contamination story).
    * Here the split key is the doc's near-dup CLUSTER canonical (the
    * dd_clusters connected component over MinHash/LSH-verified
    * pairs; singletons key by their own doc_id), so every member of
    * a cluster lands in the SAME split by construction — and the
    * query PROVES it, emitting the count of clusters straddling
    * splits (a constant 0 the oracle recomputes from its own
    * recursive-CTE clustering, not an assumption).
    *
    * Scale shape: the cluster labels come from the memoized verified
    * -pair chain + the pointer-jumping CC (the dd_clusters path);
    * the corpus side joins those labels by doc_id (labels bounded by
    * |docs in clusters|, no broadcast hint) and everything after is
    * integer hashing + two bounded rollups.
    */
  val splitSafe = Q(
    "pipe_split_safe", {
      val jq = Dedup.jaccard.oracle.get.replace("ORDER BY doc_a, doc_b", "")
      val P = Hashing.P
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
         |canon AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS canonical
         |  FROM (SELECT DISTINCT u, v FROM reach) GROUP BY u
         |),
         |assigned AS (
         |  SELECT doc_id, canonical, in_cluster,
         |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
         |  FROM (
         |    SELECT doc_id, canonical, in_cluster,
         |      (((canonical % $P) * 48271 + 11) % $P) % 100 AS b
         |    FROM (
         |      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |        coalesce(c.canonical, CAST(d.doc_id AS BIGINT)) AS canonical,
         |        c.canonical IS NOT NULL AS in_cluster
         |      FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id))
         |),
         |leak AS (
         |  SELECT CAST(count(*) FILTER (WHERE ns > 1) AS BIGINT) AS n_leaky_clusters
         |  FROM (SELECT canonical, count(DISTINCT split) AS ns FROM assigned GROUP BY canonical)
         |)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (WHERE in_cluster) AS BIGINT) AS n_dup_docs,
         |  (SELECT n_leaky_clusters FROM leak) AS n_leaky_clusters
         |FROM assigned
         |GROUP BY split
         |ORDER BY split""".stripMargin
    }, Dedup.DedupEdges) { (spark, dir) =>
    val (labels, _) = Dedup.connectedComponents(Dedup.duplicateEdges(spark, dir))
    val canon = labels.select(col("doc").as("doc_id"), col("label").as("cl"))
    val d = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"))
      .join(canon, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cl"), col("doc_id")).as("canonical"),
        col("cl").isNotNull.as("in_cluster"))
    val b = (((col("canonical") % Hashing.P) * 48271L + 11L) % Hashing.P) % 100L
    val assigned = d.withColumn("split",
      when(b < 90, "train").when(b < 95, "val").otherwise("test"))
    val leak = assigned.groupBy("canonical")
      .agg(countDistinct("split").as("ns"))
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_leaky_clusters"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("in_cluster"), 1L).otherwise(0L)).as("n_dup_docs"))
      .crossJoin(broadcast(leak))
      .orderBy("split")
  }

  // ═══════════════ curriculum phase assignment ═══════════════

  /** Curriculum-learning phase assignment — order-free: staged
    * training wants the corpus bucketed by difficulty (shorter/
    * simpler docs first), but NTILE over a global ORDER BY is a
    * single-reducer sort of the whole corpus. Instead ONE exact
    * percentile aggregate computes the three quartile thresholds of
    * the difficulty measure (here: whitespace token count, the
    * tx_tokens definition), the 1-row threshold frame broadcasts,
    * and phase assignment is a map-side CASE — no sort, no window,
    * corpus touched once. At 100 TB the thresholds come from the
    * stored KLL sketch (q26/q30 machinery) instead of the exact
    * aggregate — same plan downstream.
    *
    * Cross-engine exactness: difficulty is an INTEGER and the
    * quartile interpolation fractions are dyadic (p·(n−1) has
    * fractional part ∈ {0, ¼, ½, ¾}), so both engines' linear
    * interpolation is EXACT in doubles — the thresholds are
    * bit-identical and boundary docs cannot flip phases.
    */
  val curriculum = Q(
    "pipe_curriculum", {
      val ntok = "len(string_split_regex(trim(text), '\\s+'))"
      s"""WITH d AS (
         |  SELECT source, $ntok AS ntok FROM documents),
         |t AS (
         |  SELECT quantile_cont(ntok, 0.25) AS t1,
         |    quantile_cont(ntok, 0.5) AS t2,
         |    quantile_cont(ntok, 0.75) AS t3
         |  FROM d)
         |SELECT source, phase,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  round(1e-9 + avg(ntok) + 1e-9, 6) AS avg_tokens
         |FROM (
         |  SELECT source, ntok,
         |    CASE WHEN ntok <= t1 THEN CAST(1 AS BIGINT)
         |      WHEN ntok <= t2 THEN 2 WHEN ntok <= t3 THEN 3
         |      ELSE 4 END AS phase
         |  FROM d, t)
         |GROUP BY source, phase
         |ORDER BY source, phase""".stripMargin
    }) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ntok"))
    val t = d.agg(percentile(col("ntok"), typedLit(Seq(0.25, 0.5, 0.75))).as("ts"))
      .select(col("ts").getItem(0).as("t1"), col("ts").getItem(1).as("t2"),
        col("ts").getItem(2).as("t3"))
    d.crossJoin(broadcast(t))
      .withColumn("phase",
        when(col("ntok") <= col("t1"), 1L)
          .when(col("ntok") <= col("t2"), 2L)
          .when(col("ntok") <= col("t3"), 3L)
          .otherwise(4L))
      .groupBy("source", "phase")
      .agg(count(lit(1)).as("n_docs"),
        round(lit(1e-9) + avg("ntok") + 1e-9, 6).as("avg_tokens"))
      .orderBy("source", "phase")
  }

  private val KAnon = 10

  /** k-anonymity audit + one generalization step — the privacy gate a
    * data release runs before publication: every quasi-identifier
    * equivalence class (nation × market segment over customers) must
    * hold ≥ k members, else any member is re-identifiable by those
    * attributes alone. Classes under k are GENERALIZED one level
    * (segment → ANY, i.e. merged per nation) and re-checked — the
    * standard suppression/generalization ladder, deterministic so
    * both engines take identical steps. Output: the surviving classes
    * at each level with sizes and the residual-violation flag.
    * Shape: two hash aggregates, the second over only the violating
    * classes' members — the corpus scans once; the class frame is
    * bounded by the quasi-identifier domain, never the row count.
    */
  val kanon = Q(
    "pipe_kanon",
    s"""WITH l0 AS (
       |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size
       |  FROM customer GROUP BY c_nationkey, c_mktsegment),
       |keep AS (
       |  SELECT c_nationkey, c_mktsegment, 0 AS level, class_size,
       |    FALSE AS violates
       |  FROM l0 WHERE class_size >= $KAnon),
       |gen AS (
       |  SELECT c_nationkey, 'ANY' AS c_mktsegment, 1 AS level,
       |    CAST(sum(class_size) AS BIGINT) AS class_size,
       |    sum(class_size) < $KAnon AS violates
       |  FROM l0 WHERE class_size < $KAnon
       |  GROUP BY c_nationkey)
       |SELECT c_nationkey, c_mktsegment, level, class_size, violates
       |FROM (SELECT * FROM keep UNION ALL SELECT * FROM gen)
       |ORDER BY c_nationkey, c_mktsegment, level""".stripMargin) { (spark, dir) =>
    val l0 = Tables.customer(spark, dir)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("class_size"))
    val keep = l0.filter(col("class_size") >= KAnon)
      .select(col("c_nationkey"), col("c_mktsegment"),
        lit(0).as("level"), col("class_size"), lit(false).as("violates"))
    val gen = l0.filter(col("class_size") < KAnon)
      .groupBy("c_nationkey")
      .agg(sum("class_size").as("class_size"))
      .select(col("c_nationkey"), lit("ANY").as("c_mktsegment"),
        lit(1).as("level"), col("class_size"),
        (col("class_size") < KAnon).as("violates"))
    keep.unionByName(gen)
      .orderBy("c_nationkey", "c_mktsegment", "level")
  }

  /** ε-differentially-private histogram release of the corpus
    * composition — documents per (source, lang) with Laplace(1/ε)
    * noise at ε=1 (each document lives in exactly one cell, so the
    * histogram's L1 sensitivity is 1) and a release threshold that
    * suppresses noised cells under 10 (the thresholded-release rule
    * that keeps rare-cell presence itself private). The noise is
    * DETERMINISTIC for the oracle: the uniform draw comes from the
    * poly-hash of the cell key pushed once through the MINSTD step —
    * exact BIGINT arithmetic both engines — then inverse-CDF'd to
    * Laplace; a production release swaps one secret-seeded line.
    * Shape: ONE map-side-combined hash aggregate to |cells| rows;
    * noise is per-cell scalar math. pipe_kanon generalizes quasi-
    * identifiers; this releases counts — the two standard disclosure
    * postures side by side.
    */
  val dpRelease = Q(
    "pipe_dp_release", {
      val fpSql = Hashing.charFoldSql("source || '|' || lang")
      s"""WITH g AS (
         |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c, $fpSql AS fp
         |  FROM documents GROUP BY source, lang),
         |n AS (
         |  SELECT source, lang, c,
         |    -sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)) AS lap
         |  FROM (SELECT source, lang, c,
         |    ((fp * 48271 + 11) % 1000000007 + 0.5) / 1000000007 AS u FROM g))
         |SELECT source, lang,
         |  round(1e-9 + greatest(c + lap, 0.0), 4) AS n_noised,
         |  c + lap >= 10.0 AS released
         |FROM n ORDER BY source, lang""".stripMargin
    }) { (spark, dir) =>
    val g = Tables.documents(spark, dir)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("c"),
        Hashing.charFold(concat(col("source"), lit("|"), col("lang"))).as("fp"))
    val u = ((col("fp") * 48271 + 11) % 1000000007L + 0.5) / 1000000007L
    val lap = -signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    g.select(col("source"), col("lang"),
        round(lit(1e-9) + greatest(col("c") + lap, lit(0.0)), 4).as("n_noised"),
        (col("c") + lap >= 10.0).as("released"))
      .orderBy("source", "lang")
  }

  val all: Seq[Q] = Seq(repetition, unigramPpl, bigramPpl, knPpl, decontaminate, deconBloom,
    deconShuffle, sample,
    weightedSample, holdoutSplit, splitSafe,
    mix, mixApply, e2e, e2eSem, chunk, chunkDedup, novelty, curriculum,
    kanon, dpRelease)
}
