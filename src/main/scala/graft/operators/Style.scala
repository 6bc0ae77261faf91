package graft.operators

import graft.Q
import graft.functions.AuditDefs._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stylistic-signature detection: score every text against the 12
  * model-family signatures, detect the source family per text,
  * aggregate per-corpus fingerprints, verify claimed identity, and
  * produce the combined audit verdict.
  *
  * Reference: style.py:231-354, engine.py:107-337, benchmark.py:264-300.
  *
  * Scale: scoring is map-only (the signature set is a compile-time
  * constant folded into the expression tree — nothing to broadcast,
  * nothing to shuffle). The corpus queries serve from the audit
  * family's one pass ([[Audit.corpus]]): the 12 scores are columns of
  * its per-document projection and their per-model means columns of
  * its per-model frame.
  */
object Style {

  private def d(x: String): String = s"CAST($x AS DOUBLE)"

  private val cjkLo = '一'
  private val cjkHi = '鿿'

  /** `df` with the 12 family scores `fs_<i>` of its `text` column,
    * rounded to 4 dp (style.py:300) — one definition for the corpus
    * pass, the stream and the built-in benchmark.
    */
  private[operators] def withScores(df: DataFrame): DataFrame = {
    val t = col("text")
    val lt = lower(t)
    val tWords = greatest(size(split(trim(lt), "\\s+")), lit(1))
    val cjk = length(regexp_replace(t, s"[^$cjkLo-$cjkHi]", ""))
    val textLang = when(cjk >= 10, "zh")
      .otherwise(when(cjk / greatest(length(t), lit(1)).cast("double") > 0.15, "zh").otherwise("en"))
    val inputs = Seq("lt" -> lt, "text_lang" -> textLang, "has_md" -> t.rlike(mdHeaderRe),
      "has_num" -> t.rlike(numberedRe), "has_code" -> t.contains("```"),
      "is_verbose" -> (tWords > 150), "refusal_hint" -> anySubC(lt, refusalHintKeywords))
    df.select(col("*") +: inputs.map { case (n, c) => c.as(n) }: _*)
      .select(col("*") +: families.zipWithIndex.map { case (f, i) => famScore(f).as(s"fs_$i") }: _*)
      .drop(inputs.map(_._1): _*)
  }

  private def famScore(f: FamilySig): Column = {
    val langTerm =
      if (f.lang == "both") when(lit(true), 0.10).otherwise(0d)
      else when(col("text_lang") === f.lang, 0.20).otherwise(0d)
    val hits = graft.functions.MarkerExprs.contains_count(col("lt"), f.markers)
    val markerTerm = least(hits / lit(3).cast("double"), lit(1d)) * 0.50
    val structPairs = Seq(
      col("has_md") -> f.tendsMarkdown, col("has_num") -> f.tendsNumbered,
      col("has_code") -> f.tendsCode, col("is_verbose") -> f.verbose)
    val structTerm = structPairs.map { case (has, tends) =>
      if (tends) when(has, 0.05).otherwise(0d) else when(has, -0.02).otherwise(0d)
    }.reduce(_ + _)
    val rhits = graft.functions.MarkerExprs.contains_count(col("lt"), f.refusalPatterns)
    val refusalTerm = when(col("refusal_hint"),
      rhits / lit(f.refusalPatterns.size).cast("double") * 0.10).otherwise(0d)
    round(lit(1e-9) + langTerm + markerTerm + structTerm + refusalTerm, 4)
  }

  /** The per-family mean scores `fm_<i>` (a stream keeps them incrementally). */
  private[operators] def famMeans: Seq[Column] =
    families.indices.map(i => avg(s"fs_$i").as(s"fm_$i"))

  /** One row per key and family of `value(i)`, with the family's index. */
  private def perFamily(wide: DataFrame, keyCols: Seq[String], value: Int => Column): DataFrame = {
    val entries = families.zipWithIndex.map { case (f, i) =>
      struct(lit(f.name).as("family"), lit(i).as("fidx"), value(i).as("score"))
    }
    wide.select(keyCols.map(col) :+ explode(array(entries: _*)).as("e"): _*)
      .select(keyCols.map(col) ++ Seq(
        col("e.family").as("family"), col("e.fidx").as("fidx"), col("e.score").as("score")): _*)
  }

  /** Long-format (keys, family, fidx, score) over any `text` frame. */
  private[operators] def scoresOf(docs: DataFrame, keyCols: Seq[String]): DataFrame =
    perFamily(withScores(docs), keyCols, i => col(s"fs_$i"))

  /** The best family as struct(score, nfidx, family) of `value(i)`: ties
    * to the lowest index (`ORDER BY score DESC, fidx`).
    */
  private def bestFamily(value: Int => Column): Column =
    greatest(families.zipWithIndex.map { case (f, i) =>
      struct(value(i).as("score"), lit(-i).as("nfidx"), lit(f.name).as("family"))
    }: _*)

  private val docBest: Column = bestFamily(i => col(s"fs_$i"))

  /** Matching SQL: one CTE of base features, then a UNION ALL per
    * family, over any relation with a `text` column.
    */
  private[operators] def scoresSqlOf(rel: String, keyCols: String): String = {
    val baseSql =
      s"""SELECT $keyCols, lower(text) AS lt,
         |  CASE WHEN length(regexp_replace(text, '[^$cjkLo-$cjkHi]', '', 'g')) >= 10 THEN 'zh'
         |    WHEN length(regexp_replace(text, '[^$cjkLo-$cjkHi]', '', 'g'))
         |      / ${d("greatest(length(text), 1)")} > ${d("0.15")} THEN 'zh'
         |    ELSE 'en' END AS text_lang,
         |  regexp_matches(text, '$mdHeaderRe') AS has_md,
         |  regexp_matches(text, '$numberedRe') AS has_num,
         |  (position('${"`"}${"`"}${"`"}' IN text) > 0) AS has_code,
         |  greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1) > 150 AS is_verbose,
         |  ${anySubSql("lower(text)", refusalHintKeywords)} AS refusal_hint
         |FROM $rel""".stripMargin

    def famSql(f: FamilySig, i: Int): String = {
      val langTerm =
        if (f.lang == "both") d("0.10")
        else s"CASE WHEN text_lang = ${sl(f.lang)} THEN ${d("0.20")} ELSE ${d("0")} END"
      val hits = f.markers.map(m => s"CAST(${hasSubSql("lt", m)} AS INT)").mkString("(", " + ", ")")
      val markerTerm = s"least($hits / ${d("3")}, ${d("1")}) * ${d("0.50")}"
      val structPairs = Seq(
        "has_md" -> f.tendsMarkdown, "has_num" -> f.tendsNumbered,
        "has_code" -> f.tendsCode, "is_verbose" -> f.verbose)
      val structTerm = structPairs.map { case (has, tends) =>
        if (tends) s"CASE WHEN $has THEN ${d("0.05")} ELSE ${d("0")} END"
        else s"CASE WHEN $has THEN ${d("-0.02")} ELSE ${d("0")} END"
      }.mkString("(", " + ", ")")
      val rhits = f.refusalPatterns.map(p => s"CAST(${hasSubSql("lt", p)} AS INT)")
        .mkString("(", " + ", ")")
      val refusalTerm =
        s"CASE WHEN refusal_hint THEN $rhits / ${d(f.refusalPatterns.size.toString)} * ${d("0.10")} ELSE ${d("0")} END"
      s"""SELECT $keyCols, ${sl(f.name)} AS family, $i AS fidx,
         |  round(1e-9 + $langTerm + $markerTerm + $structTerm + $refusalTerm, 4) AS score
         |FROM base""".stripMargin
    }

    s"""WITH base AS ($baseSql)
       |${families.zipWithIndex.map { case (f, i) => famSql(f, i) }.mkString("\nUNION ALL\n")}""".stripMargin
  }

  private val scoresSql: String = scoresSqlOf("documents", "doc_id, source")

  /** Detected (argmax) family per probe: source, family, probe_idx —
    * the i-th response of each model (rank by doc_id within source)
    * plays probe i. Shared by the consistency queries and the report.
    */
  private[operators] val detectedSql: String =
    s"""SELECT source, family,
       |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS probe_idx
       |FROM (
       |  SELECT doc_id, source, family, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, fidx) AS rn
       |  FROM ($scoresSql)
       |) WHERE rn = 1""".stripMargin

  /** Rows per doc_id bucket for the two-pass probe_idx rank. Each
    * within-bucket window sorts at most this many rows, and the
    * offsets frame carries n/B rows per source; B ≈ sqrt(corpus/source)
    * balances the two levels at scale (256 is right for the test SFs).
    */
  private val probeBucketSize = 256L

  private[operators] def detectedDf(spark: SparkSession, dir: String): DataFrame = {
    // argmax family per doc: hash aggregation (map-side partial) on
    // the max of (score, -fidx, family) — same tie-break as
    // `ORDER BY score DESC, fidx`, no per-doc shuffle+sort window.
    // Grouped by doc_id ALONE, mirroring the oracle's
    // `PARTITION BY doc_id`: source rides in the max-struct payload,
    // so a doc_id duplicated across sources can't yield two rows here
    // where the oracle yields one.
    val best = Audit.corpus(spark, dir).docs
      .select(col("doc_id"), col("source"), docBest.as("b"))
      .groupBy("doc_id")
      .agg(max(struct(col("b.score"), col("b.nfidx"), col("b.family"), col("source"))).as("m"))
      .select(col("doc_id"), col("m.source").as("source"), col("m.family").as("family"))

    // probe_idx = row_number over (PARTITION BY source ORDER BY doc_id)
    // without funnelling a whole source through one task: the rank is
    // an exclusive prefix COUNT plus one, via the shared two-pass
    // primitive (bounded in-bucket windows + broadcast bucket offsets;
    // order-identical to the single-window formulation).
    ScalePrim.exclusivePrefixSum(best, "source", "doc_id", lit(1L), probeBucketSize)
      .withColumn("probe_idx", (col("prefix") + 1).cast("int"))
      .select("source", "family", "probe_idx")
  }

  // ═══════════════ queries ═══════════════

  val styleScores = Q(
    "ma_style_scores",
    s"""SELECT doc_id, family, score FROM ($scoresSql)
       |ORDER BY doc_id, family""".stripMargin, Audit.AuditCaches) { (spark, dir) =>
    perFamily(Audit.corpus(spark, dir).docs, Seq("doc_id"), i => col(s"fs_$i"))
      .select("doc_id", "family", "score").orderBy("doc_id", "family")
  }

  val styleDetect = Q(
    "ma_style_detect",
    s"""SELECT doc_id, family AS predicted_model, score AS confidence
       |FROM (
       |  SELECT doc_id, family, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, fidx) AS rn
       |  FROM ($scoresSql)
       |) WHERE rn = 1
       |ORDER BY doc_id""".stripMargin, Audit.AuditCaches) { (spark, dir) =>
    // argmax via partial-aggregated struct-max (ties → lowest fidx),
    // not a per-doc row_number window — map-side combine, no sort.
    Audit.corpus(spark, dir).docs
      .groupBy("doc_id")
      .agg(max(docBest).as("m"))
      .select(col("doc_id"), col("m.family").as("predicted_model"), col("m.score").as("confidence"))
      .orderBy("doc_id")
  }

  /** (source, family, avg_score) rows of the `fm_<i>` means, shared by
    * ma_style_fingerprint and Streaming.styleFingerprint.
    */
  private def styleFpOf(means: DataFrame): DataFrame =
    perFamily(means, Seq("source"), i => round(lit(1e-9) + col(s"fm_$i") + 1e-9, 4))
      .select(col("source"), col("family"), col("score").as("avg_score"))

  /** Streaming.styleFingerprint's entry, over any (source, text) frame. */
  private[graft] def styleFingerprintOf(docs: DataFrame): DataFrame =
    styleFpOf(withScores(docs).groupBy("source").agg(famMeans.head, famMeans.tail: _*))

  val styleFingerprint = Q(
    "ma_style_fingerprint",
    s"""SELECT source, family, round(1e-9 + avg(score) + 1e-9, 4) AS avg_score
       |FROM ($scoresSql)
       |GROUP BY source, family
       |ORDER BY source, family""".stripMargin, Audit.AuditCaches) { (spark, dir) =>
    styleFpOf(Audit.corpus(spark, dir).models).orderBy("source", "family")
  }

  /** Identity verification: best-matching family per source vs the
    * family claimed by the source's own name (engine.py:107-163).
    */
  val verify = Q(
    "ma_verify", {
      val claimed = families.map(f =>
        s"WHEN position(${sl(f.name)} IN lower(source)) > 0 THEN ${sl(f.name)}")
        .mkString("CASE ", " ", " ELSE 'unknown' END")
      s"""SELECT source, claimed_family, best_match, best_score,
         |  claimed_family = best_match AS verified
         |FROM (
         |  SELECT source, $claimed AS claimed_family,
         |    family AS best_match, avg_score AS best_score
         |  FROM (
         |    SELECT source, family, fidx, round(1e-9 + avg(score) + 1e-9, 4) AS avg_score,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY round(1e-9 + avg(score) + 1e-9, 4) DESC, fidx) AS rn
         |    FROM ($scoresSql)
         |    GROUP BY source, family, fidx
         |  ) WHERE rn = 1
         |)
         |ORDER BY source""".stripMargin
    }, Audit.AuditCaches) { (spark, dir) =>
    val best = bestFamily(i => round(lit(1e-9) + col(s"fm_$i") + 1e-9, 4))
    val claimed = families.foldRight(lit("unknown")) { (f, acc) =>
      when(lower(col("source")).contains(f.name), f.name).otherwise(acc)
    }
    Audit.corpus(spark, dir).models
      .select(
        col("source"), claimed.as("claimed_family"),
        best.getField("family").as("best_match"), best.getField("score").as("best_score"))
      .withColumn("verified", col("claimed_family") === col("best_match"))
      .orderBy("source")
  }

  /** Combined audit verdict per model pair: majority vote over the
    * llmmap and DLI comparisons (engine.py:294-306). Shared by ma_audit
    * and the report family.
    */
  private[operators] def auditDf(spark: SparkSession, dir: String): DataFrame = {
    val llm = round(lit(1e-9) + col("fp_sim"), 6)
    val dli = round(lit(1e-9) + col("dli_sim"), 6)
    val avgSim = (llm + dli) / 2
    Audit.comparedDf(spark, dir)
      .filter(col("has_dli"))
      .select(
        col("model_a"), col("model_b"), llm.as("llmmap_similarity"), dli.as("dli_similarity"),
        round(lit(1e-9) + avgSim, 7).as("avg_similarity"),
        when(col("fp_sim") >= 0.85 && col("dli_sim") >= 0.80, "likely_derived")
          .when(avgSim < 0.5, "independent")
          .otherwise("inconclusive").as("verdict"),
        round(lit(1e-9) + least(abs(avgSim - 0.85) / 0.15, lit(1d)), 6).as("confidence"))
  }

  val audit = Q(
    "ma_audit",
    s"""WITH llm AS (${Audit.fpCompare.oracle.get.replace("ORDER BY model_a, model_b", "")}),
       |dli AS (${Audit.dliCompare.oracle.get.replace("ORDER BY model_a, model_b", "")})
       |SELECT l.model_a, l.model_b,
       |  l.similarity AS llmmap_similarity,
       |  x.similarity AS dli_similarity,
       |  round(1e-9 + (l.similarity + x.similarity) / 2, 7) AS avg_similarity,
       |  CASE WHEN CAST(l.is_derived AS INT) + CAST(x.is_derived AS INT) > 1 THEN 'likely_derived'
       |    WHEN (l.similarity + x.similarity) / 2 < ${d("0.5")} THEN 'independent'
       |    ELSE 'inconclusive' END AS verdict,
       |  round(1e-9 + least(abs((l.similarity + x.similarity) / 2 - ${d("0.85")}) / ${d("0.15")}, ${d("1")}), 6) AS confidence
       |FROM llm l JOIN dli x ON l.model_a = x.model_a AND l.model_b = x.model_b
       |ORDER BY l.model_a, l.model_b""".stripMargin, Audit.AuditCaches) { (spark, dir) =>
    auditDf(spark, dir).orderBy("model_a", "model_b")
  }

  /** Detection confusion matrix: predicted family counts per source
    * (benchmark.py:264-300 evaluate-accuracy analog; sources carry no
    * family ground truth, so the matrix itself is the deliverable).
    */
  val detectConfusion = Q(
    "ma_detect_confusion",
    s"""SELECT source, predicted_model, CAST(count(*) AS BIGINT) AS n
       |FROM (
       |  SELECT doc_id, source, family AS predicted_model
       |  FROM (
       |    SELECT doc_id, source, family, score,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, fidx) AS rn
       |    FROM ($scoresSql)
       |  ) WHERE rn = 1
       |)
       |GROUP BY source, predicted_model
       |ORDER BY source, predicted_model""".stripMargin, Audit.AuditCaches) { (spark, dir) =>
    Audit.corpus(spark, dir).docs
      .groupBy("doc_id", "source")
      .agg(max(docBest).as("m"))
      .groupBy(col("source"), col("m.family").as("predicted_model"))
      .agg(count(lit(1)).as("n"))
      .orderBy("source", "predicted_model")
  }

  /** Per-probe style consistency between model pairs
    * (engine.py:267-292 probe_details): the i-th response of each
    * model (rank by doc_id within source = probe index) is
    * style-detected, and a pair is consistent on probe i when both
    * detections agree; aggregated to a consistency rate per pair.
    */
  val probeConsistency = Q(
    "ma_probe_consistency",
    s"""WITH detected AS ($detectedSql)
       |SELECT a.source AS model_a, b.source AS model_b,
       |  CAST(count(*) AS BIGINT) AS n_probes,
       |  CAST(count(*) FILTER (WHERE a.family = b.family) AS BIGINT) AS n_consistent,
       |  round(1e-9 + count(*) FILTER (WHERE a.family = b.family)
       |    / CAST(count(*) AS DOUBLE), 6) AS consistency_rate
       |FROM detected a
       |JOIN detected b ON a.probe_idx = b.probe_idx AND a.source < b.source
       |GROUP BY a.source, b.source
       |ORDER BY model_a, model_b""".stripMargin, Audit.AuditCaches) { (spark, dir) =>
    val detected = detectedDf(spark, dir)
    val a = detected.select(col("source").as("model_a"), col("family").as("fa"), col("probe_idx"))
    val b = detected.select(col("source").as("model_b"), col("family").as("fb"), col("probe_idx"))
    a.join(b, Seq("probe_idx")).filter(col("model_a") < col("model_b"))
      .groupBy("model_a", "model_b")
      .agg(
        count(lit(1)).as("n_probes"),
        count(when(col("fa") === col("fb"), 1)).as("n_consistent"),
        round(lit(1e-9) + count(when(col("fa") === col("fb"), 1)) / count(lit(1)).cast("double"), 6)
          .as("consistency_rate"))
      .orderBy("model_a", "model_b")
  }

  /** Per-category probe consistency (report.py:294-401's per-probe
    * breakdown, aggregated by probe category): each probe index maps
    * to a (probe_id, category) from the reference's 20-probe catalog
    * (cycling — AuditDefs.probeCatalog), and agreement is broken down
    * per category per model pair. The probe dimension is a
    * compile-time constant folded into the expression (array lookup
    * on probe_idx mod 20) — no join, no shuffle added over
    * ma_probe_consistency.
    */
  val probeConsistencyByCategory = Q(
    "ma_probe_consistency_by_category", {
      val catArr = probeCatalog.map { case (_, c) => sl(c) }.mkString("[", ", ", "]")
      s"""WITH detected AS ($detectedSql),
         |catted AS (
         |  SELECT source, family, probe_idx,
         |    ($catArr)[((probe_idx - 1) % ${probeCatalog.size}) + 1] AS category
         |  FROM detected
         |)
         |SELECT model_a, model_b, category, n_probes, n_consistent, consistency_rate
         |FROM (
         |  SELECT a.source AS model_a, b.source AS model_b, a.category AS category,
         |    CAST(count(*) AS BIGINT) AS n_probes,
         |    CAST(count(*) FILTER (WHERE a.family = b.family) AS BIGINT) AS n_consistent,
         |    round(1e-9 + count(*) FILTER (WHERE a.family = b.family)
         |      / CAST(count(*) AS DOUBLE), 6) AS consistency_rate
         |  FROM catted a
         |  JOIN catted b ON a.probe_idx = b.probe_idx AND a.source < b.source
         |  GROUP BY a.source, b.source, a.category
         |)
         |ORDER BY model_a, model_b, category""".stripMargin
    }, Audit.AuditCaches) { (spark, dir) =>
    val cats = typedLit(probeCatalog.map(_._2))
    val detected = detectedDf(spark, dir)
      .withColumn("category",
        element_at(cats, ((col("probe_idx") - 1) % probeCatalog.size + 1).cast("int")))
    val a = detected.select(col("source").as("model_a"), col("family").as("fa"),
      col("probe_idx"), col("category"))
    val b = detected.select(col("source").as("model_b"), col("family").as("fb"), col("probe_idx"))
    a.join(b, Seq("probe_idx")).filter(col("model_a") < col("model_b"))
      .groupBy("model_a", "model_b", "category")
      .agg(
        count(lit(1)).as("n_probes"),
        count(when(col("fa") === col("fb"), 1)).as("n_consistent"),
        round(lit(1e-9) + count(when(col("fa") === col("fb"), 1)) / count(lit(1)).cast("double"), 6)
          .as("consistency_rate"))
      .orderBy("model_a", "model_b", "category")
  }

  val all: Seq[Q] = Seq(styleScores, styleDetect, styleFingerprint, verify, audit,
    detectConfusion, probeConsistency, probeConsistencyByCategory)
}
