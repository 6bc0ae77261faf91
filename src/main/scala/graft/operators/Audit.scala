package graft.operators

import graft.{Build, Q, SessionMemo, Tables}
import graft.functions.AuditDefs._
import graft.functions.MarkerExprs.{marker_total, word_bigrams, word_count, word_tokens}
import graft.functions.TopKAgg.topk_by_score
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's model-audit surface, re-expressed as Spark
  * operators over the `documents` corpus (`text` = collected model
  * responses, `source` = model identity).
  *
  * Every signal (llmmap, DLI, style) is a per-document map and a mean
  * per model, so the family reads the corpus once per dir ([[corpus]]):
  * one projection computes every map, one groupBy(source) the means,
  * one token aggregation the vocabulary and bigram profile. Pairwise
  * comparison and the verdicts project a self-join of the per-model
  * rows (|models|² rows), so their cost is independent of corpus size.
  *
  * Oracle SQL is generated from the same AuditDefs constants as the
  * Spark plans. All SQL numeric literals are CAST to DOUBLE (DuckDB
  * would otherwise use DECIMAL arithmetic and drift from Spark's
  * doubles).
  */
object Audit {

  private def d(x: String): String = s"CAST($x AS DOUBLE)"

  // ═══════════════ the one pass over the corpus ═══════════════

  /** Every per-document map over a (doc_id, source, text) frame: the
    * word tokens and bigrams of the lower-cased text, the llmmap
    * features, the DLI parts and the family scores `fs_<i>`.
    */
  private def projectionOf(docs: DataFrame): DataFrame = {
    val lt = lower(col("text"))
    Style.withScores(docs.select(Seq(col("doc_id"), col("source"), col("text"),
      word_tokens(lt).as("words"), word_bigrams(lt).as("bigrams")) ++ featureCols ++ dliDocCols: _*))
      .drop("text")
  }

  /** The projection without its token arrays. */
  private def narrowOf(wide: DataFrame): DataFrame = wide.drop("words", "bigrams")

  /** The exploded token aggregation: per source, the count of every
    * distinct word and bigram (a word has no space, a bigram one), and
    * for a bigram the ordinal doc_id·2²⁰ + pos of its first occurrence;
    * position p of words ++ bigrams is bigram p - size(words).
    */
  private def tokensOf(wide: DataFrame): DataFrame = {
    val nWords = size(col("words"))
    wide.select(col("doc_id"), col("source"), nWords.as("n_words"),
        posexplode(concat(col("words"), col("bigrams"))).as(Seq("p", "key")))
      .groupBy("source", "key")
      .agg(count(lit(1)).as("cnt"), min(when(col("p") >= col("n_words"),
        col("doc_id") * lit(1048576L) + col("p") - col("n_words"))).as("first_ord"))
  }

  /** One row per model: the fingerprint, the DLI signature, `n_vocab`,
    * the top-100 `bigrams` (rank, bigram, cnt, p) and the family means.
    * Top-100 ties break by first occurrence, as Python's Counter
    * .most_common does (dli.py:66-73): the bounded heap (not a window
    * over a source's whole vocabulary) prefers the smaller first_ord
    * on ties, skips the words' null ids and carries each bigram along.
    */
  private def modelsOf(wide: DataFrame): DataFrame = {
    val perModel = narrowOf(wide).groupBy("source")
      .agg(fingerprintAggs.head, fingerprintAggs.tail ++ dliAggs ++ Style.famMeans: _*)
    val vocab = tokensOf(wide).groupBy("source")
      .agg(count(when(col("first_ord").isNull, 1)).as("n_vocab"),
        topk_by_score(col("cnt").cast("double"), col("first_ord"), 100, col("key")).as("tk"))
      .withColumn("total", aggregate(col("tk"), lit(0d), (acc, t) => acc + t("score")))
      .select(col("source"), col("n_vocab"), transform(col("tk"), t => struct(t("rank"),
        t("payload").as("bigram"), t("score").cast("long").as("cnt"),
        (t("score") / col("total")).as("p"))).as("bigrams"))
    // both sides are already hash-partitioned by source: join in place
    perModel.join(vocab.hint("shuffle_hash"), Seq("source"), "left")
      .select(Seq(col("source")) ++ fpCols.map(col) ++ dliSigCols ++
        Seq(col("n_vocab"), col("bigrams")) ++ families.indices.map(i => col(s"fm_$i")): _*)
  }

  /** The per-document projection (no token arrays) and per-model frame. */
  private[graft] final case class Corpus(docs: DataFrame, models: DataFrame)

  /** The one pass over `documents`, memoized per (session, dir): the
    * `audit_caches` build. The projection with its token arrays is
    * cached only while one action builds the two frames (the per-model
    * aggregation reads the cached narrow part), then released; a loaded
    * dependent cache survives its source's release.
    */
  private[graft] def corpus(spark: SparkSession, dir: String): Corpus = {
    val Seq(docs, models) = SessionMemo.frames(spark, s"audit.corpus:$dir") {
      val wide = projectionOf(Tables.documents(spark, dir)).cache()
      val docs = narrowOf(wide).cache()
      val models = modelsOf(wide).cache()
      models.collect()
      wide.unpersist()
      Seq(docs, models)
    }
    Corpus(docs, models)
  }
  val AuditCaches = Build("audit_caches", corpus)


  // ═══════════════ llmmap: per-response features ═══════════════
  // Reference: llmmap.py:28-67 (_extract_response_features)

  /** Unrounded per-doc llmmap feature columns over `text`, shared by
    * the corpus pass and Streaming.fingerprint.
    */
  private def featureCols: Seq[Column] = {
    val t = col("text")
    val lt = lower(col("text"))
    val words = split(trim(t), "\\s+")
    // Python `"".split()` is [] but Spark `split(trim(""), "\s+")` is
    // [""] — guard the word counts so an empty/whitespace-only doc
    // reports 0 words (llmmap.py:30-55 semantics), not 1.
    val emptyDoc = length(trim(t)) === 0
    val nWords = when(emptyDoc, lit(0)).otherwise(size(words))
    val tWords = greatest(nWords, lit(1)).cast("double")
    val sentences = filter(transform(split(t, "[.!?]+"), s => trim(s)), s => s =!= "")
    val nSent = greatest(size(sentences), lit(1)).cast("double")
    val tChars = greatest(length(t), lit(1)).cast("double")
    val nonWs = length(regexp_replace(t, "\\s+", ""))

    val markerCols = llmmapMarkers.map { case (cat, ms) =>
      (marker_total(lt, ms) / tWords).as(s"style_$cat")
    }

    Seq(
      length(t).cast("long").as("length_chars"),
      nWords.cast("long").as("length_words"),
      size(sentences).cast("long").as("length_sentences"),
      (nonWs / tWords).as("avg_word_length"),
      (nWords / nSent).as("avg_sentence_length"),
      (when(emptyDoc, lit(0)).otherwise(size(array_distinct(split(lower(trim(t)), "\\s+"))))
        / tWords).as("unique_word_ratio"),
      ((length(t) - length(regexp_replace(t, "[.,;:!?]", ""))) / tChars).as("punctuation_ratio"),
      ((length(t) - length(regexp_replace(t, "\n", ""))) / tChars).as("newline_ratio"),
      t.rlike(bulletRe).as("has_bullet_points"),
      t.rlike(numberedRe).as("has_numbered_list"),
      t.rlike(mdHeaderRe).as("has_markdown_headers"),
      t.contains("```").as("has_code_blocks"),
      refusalPrefixes.map(p => lt.startsWith(p)).reduce(_ || _).as("starts_with_refusal")
    ) ++ markerCols
  }

  /** Matching unrounded per-doc feature SQL (DuckDB side). */
  private val docFeatsSql: String = {
    val lt = "lower(text)"
    val tWords = d("greatest(len(string_split_regex(trim(text), '\\s+')), 1)")
    val sentencesLen =
      "len(list_filter(list_transform(string_split_regex(text, '[.!?]+'), s -> trim(s)), s -> s != ''))"
    val nSent = d(s"greatest($sentencesLen, 1)")
    val tChars = d("greatest(length(text), 1)")
    val markerExprs = llmmapMarkers.map { case (cat, ms) =>
      val cnt = ms.map(m => cntOccSql("lt", m)).mkString("(", " + ", ")")
      s"$cnt / t_words AS style_$cat"
    }
    val nWords = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"
    val nUnique = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) END"
    s"""SELECT doc_id, source,
       |  CAST(length(text) AS BIGINT) AS length_chars,
       |  CAST($nWords AS BIGINT) AS length_words,
       |  CAST($sentencesLen AS BIGINT) AS length_sentences,
       |  length(regexp_replace(text, '\\s+', '', 'g')) / t_words AS avg_word_length,
       |  ($nWords) / $nSent AS avg_sentence_length,
       |  ($nUnique) / t_words AS unique_word_ratio,
       |  (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / $tChars AS punctuation_ratio,
       |  (length(text) - length(replace(text, chr(10), ''))) / $tChars AS newline_ratio,
       |  regexp_matches(text, '$bulletRe') AS has_bullet_points,
       |  regexp_matches(text, '$numberedRe') AS has_numbered_list,
       |  regexp_matches(text, '$mdHeaderRe') AS has_markdown_headers,
       |  (position('```' IN text) > 0) AS has_code_blocks,
       |  ${refusalPrefixes.map(p => s"(lt LIKE ${sl(p + "%")})").mkString("(", " OR ", ")")} AS starts_with_refusal,
       |  ${markerExprs.mkString(",\n  ")}
       |FROM (SELECT *, $lt AS lt, $tWords AS t_words FROM documents)""".stripMargin
  }

  private val styleCats = llmmapMarkers.map("style_" + _._1)

  val features = Q(
    "ma_features",
    s"""SELECT doc_id, source, length_chars, length_words, length_sentences,
       |  round(1e-9 + avg_word_length, 6) AS avg_word_length,
       |  round(1e-9 + avg_sentence_length, 6) AS avg_sentence_length,
       |  round(1e-9 + unique_word_ratio, 6) AS unique_word_ratio,
       |  round(1e-9 + punctuation_ratio, 6) AS punctuation_ratio,
       |  round(1e-9 + newline_ratio, 6) AS newline_ratio,
       |  has_bullet_points, has_numbered_list, has_markdown_headers,
       |  has_code_blocks, starts_with_refusal,
       |  ${styleCats.map(c => s"round(1e-9 + $c, 6) AS $c").mkString(",\n  ")}
       |FROM ($docFeatsSql)
       |ORDER BY doc_id""".stripMargin, AuditCaches) { (spark, dir) =>
    // the counts and flags as they are, every ratio rounded
    val exact = numericFeatures.filter(_.startsWith("length_")) ++ boolFeatures
    corpus(spark, dir).docs.select(Seq(col("doc_id"), col("source")) ++
      (numericFeatures ++ boolFeatures ++ styleCats).map(c =>
        if (exact.contains(c)) col(c) else round(lit(1e-9) + col(c), 6).as(c)): _*)
      .orderBy("doc_id")
  }

  // ═══════════════ llmmap: per-model fingerprint vector ═══════════════
  // Reference: llmmap.py:70-101 (_compute_fingerprint_vector)

  /** Fingerprint vector column names in output order. */
  private[graft] val fpCols: Seq[String] =
    numericFeatures.map("avg_" + _) ++ boolFeatures.map("ratio_" + _) ++ styleCats

  /** The fingerprint aggregation over per-doc feature columns, shared
    * by the corpus pass and Streaming.fingerprint. Every component is an
    * algebraic mean, so a stream maintains it incrementally.
    */
  private def fingerprintAggs: Seq[Column] =
    numericFeatures.map(c => avg(c).as("avg_" + c)) ++
      boolFeatures.map(c => avg(col(c).cast("int")).as("ratio_" + c)) ++
      styleCats.map(c => avg(c).as(c))

  /** Streaming.fingerprint's entry: features + fingerprint agg over
    * any (doc_id, source, text) frame, batch or stream.
    */
  private[graft] def fingerprintOf(docs: DataFrame): DataFrame =
    docs.select(col("source") +: featureCols: _*)
      .groupBy("source").agg(fingerprintAggs.head, fingerprintAggs.tail: _*)

  private val fingerprintSql: String = {
    val aggs =
      numericFeatures.map(c => s"avg($c) AS avg_$c") ++
        boolFeatures.map(c => s"avg(CAST($c AS INT)) AS ratio_$c") ++
        styleCats.map(c => s"avg($c) AS $c")
    s"SELECT source, ${aggs.mkString(", ")} FROM ($docFeatsSql) GROUP BY source"
  }

  val fingerprint = Q(
    "ma_fingerprint",
    s"""SELECT source, ${fpCols.map(c => s"round(1e-9 + $c, 6) AS $c").mkString(", ")}
       |FROM ($fingerprintSql)
       |ORDER BY source""".stripMargin, AuditCaches) { (spark, dir) =>
    corpus(spark, dir).models
      .select(col("source") +: fpCols.map(c => round(lit(1e-9) + col(c), 6).as(c)): _*)
      .orderBy("source")
  }

  // ═══════════════ llmmap: pairwise fingerprint compare ═══════════════
  // Reference: llmmap.py:104-146, 383-404 (normalize + cosine + verdict)

  private val rangeMap = featureRanges.toMap

  /** Normalized value of fingerprint column `c` (Spark side). */
  private def normC(c: Column, name: String): Column = rangeMap.get(name) match {
    case Some((lo, hi)) => greatest(lit(0d), least(lit(1d), (c - lit(lo)) / lit(hi - lo)))
    case None           => c
  }

  private def normSql(e: String, name: String): String = rangeMap.get(name) match {
    case Some((lo, hi)) =>
      s"greatest(${d("0")}, least(${d("1")}, ($e - ${d(lo.toString)}) / ${d((hi - lo).toString)}))"
    case None => e
  }

  val fpCompare = Q(
    "ma_fp_compare", {
      val dot = fpCols.map(c => s"${normSql(s"a.$c", c)} * ${normSql(s"b.$c", c)}").mkString(" + ")
      val na = fpCols.map(c => s"${normSql(s"a.$c", c)} * ${normSql(s"a.$c", c)}").mkString(" + ")
      val nb = fpCols.map(c => s"${normSql(s"b.$c", c)} * ${normSql(s"b.$c", c)}").mkString(" + ")
      s"""WITH fp AS ($fingerprintSql)
         |SELECT model_a, model_b,
         |  round(1e-9 + similarity, 6) AS similarity,
         |  similarity >= ${d("0.85")} AS is_derived,
         |  round(1e-9 + least(abs(similarity - ${d("0.85")}) / ${d("0.15")}, ${d("1")}), 6) AS confidence
         |FROM (
         |  SELECT a.source AS model_a, b.source AS model_b,
         |    CASE WHEN sqrt($na) * sqrt($nb) = 0 THEN ${d("0")}
         |      ELSE ($dot) / (sqrt($na) * sqrt($nb)) END AS similarity
         |  FROM fp a JOIN fp b ON a.source < b.source
         |)
         |ORDER BY model_a, model_b""".stripMargin
    }, AuditCaches) { (spark, dir) =>
    comparedDf(spark, dir)
      .select(
        col("model_a"), col("model_b"),
        round(lit(1e-9) + col("fp_sim"), 6).as("similarity"),
        (col("fp_sim") >= 0.85).as("is_derived"),
        round(lit(1e-9) + least(abs(col("fp_sim") - 0.85) / 0.15, lit(1d)), 6).as("confidence"))
      .orderBy("model_a", "model_b")
  }

  // ═══════════════ DLI: behavior signature ═══════════════
  // Reference: dli.py:60-113 (_extract_behavior_signature)

  /** The DLI per-document parts the llmmap features lack: the
    * signature's average length and markdown, list and code rates are
    * the fingerprint's avg_length_words and ratio_* means (the same
    * per-doc expressions), so they are not computed twice.
    */
  private def dliDocCols: Seq[Column] = {
    val lt = lower(col("text"))
    Seq(
      anySubC(lt, dliRefusalPhrases).cast("int").as("dli_refusal"),
      word_count(lt).as("dli_words"),
      marker_total(lt, dliHedging).as("dli_hedge"),
      marker_total(lt, dliCertainty).as("dli_cert"))
  }

  private def dliAggs: Seq[Column] = Seq(
    avg("dli_refusal").as("refusal_rate"),
    sum("dli_hedge").as("hedge_total"),
    sum("dli_cert").as("cert_total"),
    sum("dli_words").as("word_total"))

  /** The signature over the per-model sums and means; null without a
    * word token (no `n_vocab`).
    */
  private def dliSigCols: Seq[Column] = {
    val words = greatest(col("word_total"), lit(1)).cast("double")
    Seq(
      col("refusal_rate"),
      col("avg_length_words").as("avg_length"),
      (col("n_vocab") / words).as("vocab_diversity"),
      col("ratio_has_markdown_headers").as("markdown_rate"),
      col("ratio_has_bullet_points").as("list_rate"),
      col("ratio_has_code_blocks").as("code_block_rate"),
      (col("hedge_total") / words).as("hedging_rate"),
      (col("cert_total") / words).as("certainty_rate"))
  }

  /** The sources with a word token, as the oracle's inner join. */
  private def dliSignatureOf(models: DataFrame): DataFrame =
    models.filter(col("n_vocab").isNotNull).select(col("source") +: dliFeatureNames.map(col): _*)

  /** Signature over any (doc_id, source, text) frame (golden spec). */
  private[graft] def dliSigOf(docs: DataFrame): DataFrame =
    dliSignatureOf(modelsOf(projectionOf(docs)))

  private val dliSigSql: String = {
    val lt = "lower(text)"
    val hedge = dliHedging.map(m => cntOccSql("lt", m)).mkString("(", " + ", ")")
    val cert = dliCertainty.map(m => cntOccSql("lt", m)).mkString("(", " + ", ")")
    s"""SELECT base.source, refusal_rate, avg_length,
       |  n_vocab / ${d("greatest(word_total, 1)")} AS vocab_diversity,
       |  markdown_rate, list_rate, code_block_rate,
       |  hedge_total / ${d("greatest(word_total, 1)")} AS hedging_rate,
       |  cert_total / ${d("greatest(word_total, 1)")} AS certainty_rate
       |FROM (
       |  SELECT source,
       |    avg(CAST(${anySubSql("lt", dliRefusalPhrases)} AS INT)) AS refusal_rate,
       |    avg(${d("CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END")}) AS avg_length,
       |    avg(CAST(regexp_matches(text, '$mdHeaderRe') AS INT)) AS markdown_rate,
       |    avg(CAST(regexp_matches(text, '$bulletRe') AS INT)) AS list_rate,
       |    avg(CAST((position('```' IN text) > 0) AS INT)) AS code_block_rate,
       |    CAST(sum($hedge) AS DOUBLE) AS hedge_total,
       |    CAST(sum($cert) AS DOUBLE) AS cert_total,
       |    CAST(sum(len(regexp_extract_all(lt, '${graft.functions.WordScan.WordClass}'))) AS BIGINT) AS word_total
       |  FROM (SELECT source, text, $lt AS lt FROM documents)
       |  GROUP BY source
       |) base
       |JOIN (
       |  SELECT source, count(DISTINCT w) AS n_vocab
       |  FROM (SELECT source, unnest(regexp_extract_all(lower(text), '${graft.functions.WordScan.WordClass}')) AS w FROM documents)
       |  GROUP BY source
       |) v ON base.source = v.source""".stripMargin
  }

  val dliSignature = Q(
    "ma_dli_signature",
    s"""SELECT source,
       |  ${dliFeatureNames.map(c => s"round(1e-9 + $c, 6) AS $c").mkString(",\n  ")}
       |FROM ($dliSigSql)
       |ORDER BY source""".stripMargin, AuditCaches) { (spark, dir) =>
    dliSignatureOf(corpus(spark, dir).models)
      .select(col("source") +: dliFeatureNames.map(c => round(lit(1e-9) + col(c), 6).as(c)): _*)
      .orderBy("source")
  }

  // ═══════════════ DLI: bigram distribution (top-100) ═══════════════
  // Reference: dli.py:27-33, 65-73

  private def bigramRowsOf(models: DataFrame): DataFrame =
    models.select(col("source"), explode(col("bigrams")).as("b"))
      .select("source", "b.bigram", "b.cnt", "b.rank", "b.p")

  /** Bigram distribution over any (doc_id, source, text) frame. */
  private[graft] def dliBigramsOf(docs: DataFrame): DataFrame =
    bigramRowsOf(modelsOf(projectionOf(docs)))

  private val dliBigramSql: String =
    s"""SELECT source, bigram, cnt, rank,
       |  cnt / CAST(sum(cnt) OVER (PARTITION BY source) AS DOUBLE) AS p
       |FROM (
       |  SELECT source, bigram, cnt,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY cnt DESC, first_ord) AS BIGINT) AS rank
       |  FROM (
       |    SELECT source, bigram, CAST(count(*) AS BIGINT) AS cnt,
       |      min(doc_id * 1048576 + g) AS first_ord
       |    FROM (
       |      SELECT doc_id, source, w[g] || ' ' || w[g + 1] AS bigram, g
       |      FROM (
       |        SELECT doc_id, source, w, unnest(generate_series(1, len(w) - 1)) AS g
       |        FROM (SELECT doc_id, source, regexp_extract_all(lower(text), '${graft.functions.WordScan.WordClass}') AS w FROM documents)
       |      )
       |    )
       |    GROUP BY source, bigram
       |  )
       |) WHERE rank <= 100""".stripMargin

  val dliBigrams = Q(
    "ma_dli_bigrams",
    s"""SELECT source, bigram, cnt, rank, round(1e-9 + p, 6) AS p
       |FROM ($dliBigramSql)
       |ORDER BY source, rank""".stripMargin, AuditCaches) { (spark, dir) =>
    bigramRowsOf(corpus(spark, dir).models)
      .select(col("source"), col("bigram"), col("cnt"), col("rank"), round(lit(1e-9) + col("p"), 6).as("p"))
      .orderBy("source", "rank")
  }

  // ═══════════════ DLI: pairwise compare (JS divergence + blend) ═══════════════
  // Reference: dli.py:36-57 (_js_divergence), 116-140 (_compute_behavior_similarity)

  val dliCompare = Q(
    "ma_dli_compare", {
      val dot = dliFeatureNames.map(c => s"a.$c * b.$c").mkString(" + ")
      val na = dliFeatureNames.map(c => s"a.$c * a.$c").mkString(" + ")
      val nb = dliFeatureNames.map(c => s"b.$c * b.$c").mkString(" + ")
      s"""WITH dist AS ($dliBigramSql),
         |sig AS ($dliSigSql),
         |pairs AS (
         |  SELECT a.source AS model_a, b.source AS model_b
         |  FROM (SELECT DISTINCT source FROM documents) a
         |  JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
         |),
         |termp AS (
         |  SELECT p.model_a, p.model_b,
         |    sum(da.p * ln(da.p / ((da.p + coalesce(db.p, ${d("0")})) / 2))) AS kl_pm
         |  FROM pairs p
         |  JOIN dist da ON da.source = p.model_a
         |  LEFT JOIN dist db ON db.source = p.model_b AND db.bigram = da.bigram
         |  GROUP BY p.model_a, p.model_b
         |),
         |termq AS (
         |  SELECT p.model_a, p.model_b,
         |    sum(db.p * ln(db.p / ((db.p + coalesce(da.p, ${d("0")})) / 2))) AS kl_qm
         |  FROM pairs p
         |  JOIN dist db ON db.source = p.model_b
         |  LEFT JOIN dist da ON da.source = p.model_a AND da.bigram = db.bigram
         |  GROUP BY p.model_a, p.model_b
         |),
         |feat AS (
         |  SELECT a.source AS model_a, b.source AS model_b,
         |    CASE WHEN sqrt($na) * sqrt($nb) = 0 THEN ${d("0")}
         |      ELSE ($dot) / (sqrt($na) * sqrt($nb)) END AS feat_cos
         |  FROM sig a JOIN sig b ON a.source < b.source
         |)
         |SELECT model_a, model_b,
         |  round(1e-9 + js, 6) AS js_divergence,
         |  round(1e-9 + bigram_sim, 6) AS bigram_sim,
         |  round(1e-9 + feat_cos, 6) AS feature_cos,
         |  round(1e-9 + similarity, 6) AS similarity,
         |  similarity >= ${d("0.80")} AS is_derived,
         |  round(1e-9 + least(abs(similarity - ${d("0.80")}) / ${d("0.2")}, ${d("1")}), 6) AS confidence
         |FROM (
         |  SELECT model_a, model_b, js, bigram_sim, feat_cos,
         |    bigram_sim * ${d("0.4")} + feat_cos * ${d("0.6")} AS similarity
         |  FROM (
         |    SELECT t1.model_a, t1.model_b,
         |      (t1.kl_pm + t2.kl_qm) / 2 AS js,
         |      1 - least(((t1.kl_pm + t2.kl_qm) / 2) / ln(2), ${d("1")}) AS bigram_sim,
         |      f.feat_cos
         |    FROM termp t1
         |    JOIN termq t2 ON t1.model_a = t2.model_a AND t1.model_b = t2.model_b
         |    JOIN feat f ON t1.model_a = f.model_a AND t1.model_b = f.model_b
         |  )
         |)
         |ORDER BY model_a, model_b""".stripMargin
    }, AuditCaches) { (spark, dir) =>
    comparedDf(spark, dir)
      .filter(col("has_dli"))
      .select(
        col("model_a"), col("model_b"),
        round(lit(1e-9) + col("js"), 6).as("js_divergence"),
        round(lit(1e-9) + col("bigram_sim"), 6).as("bigram_sim"),
        round(lit(1e-9) + col("feat_cos"), 6).as("feature_cos"),
        round(lit(1e-9) + col("dli_sim"), 6).as("similarity"),
        (col("dli_sim") >= 0.80).as("is_derived"),
        round(lit(1e-9) + least(abs(col("dli_sim") - 0.80) / 0.2, lit(1d)), 6).as("confidence"))
      .orderBy("model_a", "model_b")
  }

  /** Every model pair (model_a < model_b): the unrounded llmmap cosine
    * `fp_sim`, the DLI parts and `has_dli` (both have bigrams).
    */
  private[operators] def comparedDf(spark: SparkSession, dir: String): DataFrame = {
    val models = corpus(spark, dir).models
    val cols = fpCols ++ dliFeatureNames :+ "bigrams"
    def side(s: String): DataFrame = models.select(col("source").as(s"model_$s") +:
      cols.map(c => col(c).as(s"${s}_$c")) :+
      map_from_arrays(col("bigrams.bigram"), col("bigrams.p")).as(s"${s}_p"): _*)
    def cosine(names: Seq[String], v: (String, String) => Column): Column = {
      def norm(side: String) = sqrt(names.map(c => { val n = v(side, c); n * n }).reduce(_ + _))
      val dot = names.map(c => v("a", c) * v("b", c)).reduce(_ + _)
      when(norm("a") * norm("b") === 0d, 0d).otherwise(dot / (norm("a") * norm("b")))
    }
    // Σ over one side's bigrams of p·ln(p / m), m = (p + q) / 2, with q
    // the other side's p of the same bigram (0 when it has none)
    def kl(from: String, to: String): Column =
      aggregate(col(s"${from}_bigrams"), lit(0d), (acc, e) => {
        val q = coalesce(element_at(col(s"${to}_p"), e("bigram")), lit(0d))
        acc + e("p") * log(e("p") / ((e("p") + q) / 2))
      })
    side("a").join(side("b"), col("model_a") < col("model_b"))
      .select(
        col("model_a"), col("model_b"),
        cosine(fpCols, (side, c) => normC(col(s"${side}_$c"), c)).as("fp_sim"),
        ((kl("a", "b") + kl("b", "a")) / 2).as("js"),
        cosine(dliFeatureNames, (side, c) => col(s"${side}_$c")).as("feat_cos"),
        (size(col("a_bigrams")) > 0 && size(col("b_bigrams")) > 0).as("has_dli"))
      .withColumn("bigram_sim", lit(1d) - least(col("js") / log(lit(2d)), lit(1d)))
      .withColumn("dli_sim", col("bigram_sim") * 0.4 + col("feat_cos") * 0.6)
  }

  val all: Seq[Q] = Seq(features, fingerprint, fpCompare, dliSignature, dliBigrams, dliCompare)
}
