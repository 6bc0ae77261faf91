package graft.operators

import graft.{Build, Q}
import graft.functions.AuditDefs._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's detailed audit report (report.py:108-664) —
  * the data-processing core, re-expressed per model pair:
  *
  *  - ma_report_features: the §3.2 fingerprint-diff table as rows —
  *    per pair × display feature: both values, |diff|, and the
  *    judgement level from _judge_difference (report.py:735-780).
  *  - ma_report: the assembled per-pair report string — overall
  *    verdict box (§3.1), multi-method vote (§3.1b), feature table
  *    (§3.2), style consistency (§3.3), auto-derived findings (§4.1:
  *    the evidence rules, with the reference's dynamic numbering),
  *    difference points (§4.2), style distribution (§4.3,
  *    most_common order = count desc then first occurrence), and the
  *    conclusion (§5).
  *
  * Evidence 3 (student detected as teacher style, report.py:455-467)
  * is omitted: _is_teacher_style matches family names against model
  * names, and corpus sources (src0..src19) never contain family
  * names, so the rule is deterministically false on this data model.
  *
  * Everything is computed on the per-model aggregate tables
  * (fingerprints, audit verdicts, probe detections) — |models|² rows,
  * independent of corpus size. ma_report and ReportFull's
  * ma_report_full serve from ONE memoized per-pair barrier,
  * [[flags]], which holds the evidence both share and each one's own
  * probe statistics.
  */
object Report {

  private def dd(x: String): String = s"CAST($x AS DOUBLE)"
  private val (j1, j2, j3, j4) = judgeLabels
  private val NL = "chr(10)"

  /** Keys the report needs from the fingerprint vector. */
  private val fpNeeded: Seq[String] =
    displayFeatures.map(_._1) :+ "avg_avg_sentence_length"

  // ═══════ shared CTE bodies (DuckDB) ═══════

  private[operators] def fpBody: String =
    Audit.fingerprint.oracle.get.replace("ORDER BY source", "")

  private[operators] def pairsSql: String = {
    val cols = fpNeeded.flatMap(k => Seq(s"a.$k AS a_$k", s"b.$k AS b_$k")).mkString(",\n    ")
    s"""SELECT a.source AS model_a, b.source AS model_b,
       |    $cols
       |  FROM fp a JOIN fp b ON a.source < b.source""".stripMargin
  }

  /** ma_audit's oracle as a CTE body. */
  private[operators] def auditBody: String =
    Style.audit.oracle.get.replace("ORDER BY l.model_a, l.model_b", "")

  /** The `ev` and `flags` CTEs over `pairs` ⋈ `audit`: the evidence
    * columns both reports share (the [[flags]] barrier's, by the same
    * names); each report joins its own probe statistics onto `flags`.
    */
  private[operators] val evidenceSql: String =
    s"""ev AS (
       |  SELECT p.*, a.llmmap_similarity, a.dli_similarity, a.verdict, a.confidence,
       |    greatest(abs(a_style_helpful - b_style_helpful),
       |      abs(a_style_hedging - b_style_hedging),
       |      abs(a_style_structured - b_style_structured)) AS max_sd,
       |    abs(a_avg_unique_word_ratio - b_avg_unique_word_ratio) AS vocab_diff,
       |    abs(a_avg_punctuation_ratio - b_avg_punctuation_ratio) AS punct_diff,
       |    abs(a_avg_length_chars - b_avg_length_chars) AS chars_diff,
       |    abs(a_avg_avg_sentence_length - b_avg_avg_sentence_length) AS sent_diff,
       |    CASE WHEN a.llmmap_similarity >= ${dd("0.85")} THEN 1 ELSE 0 END
       |      + CASE WHEN a.dli_similarity >= ${dd("0.80")} THEN 1 ELSE 0 END AS votes
       |  FROM pairs p JOIN audit a USING (model_a, model_b)
       |),
       |flags AS (
       |  SELECT *,
       |    CASE WHEN llmmap_similarity > ${dd("0.85")} THEN 1 ELSE 0 END AS e1,
       |    CASE WHEN max_sd < ${dd("0.005")} THEN 1 ELSE 0 END AS e2,
       |    CASE WHEN vocab_diff < ${dd("0.05")} AND punct_diff < ${dd("0.01")} THEN 1 ELSE 0 END AS e4,
       |    CASE WHEN chars_diff > ${dd("200")} THEN 1 ELSE 0 END AS d1,
       |    CASE WHEN sent_diff > ${dd("3")} THEN 1 ELSE 0 END AS d2
       |  FROM ev
       |)""".stripMargin

  private def fmtSql(fmt: String, e: String): String =
    if (fmt == "%.0f%%") s"printf('%.0f%%', ($e) * ${dd("100")} + 1e-9)"
    else s"printf('$fmt', ($e) + 1e-9)"

  private def fmtC(fmt: String, c: Column): Column =
    if (fmt == "%.0f%%") format_string("%.0f%%", c * lit(100d) + lit(1e-9))
    else format_string(fmt, c + lit(1e-9))

  /** Judgement CASE over the 6-dp-rounded |diff| (rounding first makes
    * the branch decision identical across engines).
    */
  private def judgeSql(k: String, diffE: String): String = {
    val (t1, t2, t3) = judgeThresholds(k)
    s"""CASE WHEN $diffE < ${dd(t1.toString)} THEN '$j1'
       |      WHEN $diffE < ${dd(t2.toString)} THEN '$j2'
       |      WHEN $diffE < ${dd(t3.toString)} THEN '$j3'
       |      ELSE '$j4' END""".stripMargin
  }

  private def judgeC(k: String, diff: Column): Column = {
    val (t1, t2, t3) = judgeThresholds(k)
    when(diff < t1, j1).when(diff < t2, j2).when(diff < t3, j3).otherwise(j4)
  }

  /** The fingerprint table's rows, one per display feature, as the
    * oracle's concat arguments and as Spark columns — both reports
    * print the same table.
    */
  private[operators] val featLinesSql: String = displayFeatures.map { case (k, label, fmt) =>
    val diff = s"round(1e-9 + abs(a_$k - b_$k), 6)"
    s"'| $label | ' || ${fmtSql(fmt, s"b_$k")} || ' | ' || ${fmtSql(fmt, s"a_$k")} || ' | ' || " +
      s"${fmtSql(fmt, diff)} || ' | ' || ${judgeSql(k, diff)} || ' |' || $NL"
  }.mkString(",\n  ")

  private[operators] def featLines: Seq[Column] = displayFeatures.map { case (k, label, fmt) =>
    val diff = round(lit(1e-9) + abs(col(s"a_$k") - col(s"b_$k")), 6)
    concat(lit(s"| $label | "), fmtC(fmt, col(s"b_$k")), lit(" | "), fmtC(fmt, col(s"a_$k")),
      lit(" | "), fmtC(fmt, diff), lit(" | "), judgeC(k, diff), lit(" |"), lit("\n"))
  }

  // ═══════ Spark shared frames ═══════

  private[operators] def pairsDf(spark: SparkSession, dir: String): DataFrame = {
    val fp = Audit.fingerprint.fn(spark, dir)
    val a = fp.select(col("source").as("model_a") +: fpNeeded.map(k => col(k).as(s"a_$k")): _*)
    val b = fp.select(col("source").as("model_b") +: fpNeeded.map(k => col(k).as(s"b_$k")): _*)
    a.join(b, col("model_a") < col("model_b"))
  }

  /** ma_report's probe statistics per pair, over every probe both
    * sources answered: ma_probe_consistency's n_probes and
    * n_consistent, and model_b's detected-style distribution in
    * most_common order (count desc, then first probe).
    */
  private def answeredProbes(det: DataFrame): DataFrame = {
    val wp = Window.partitionBy("model_a", "model_b")
    det.select(col("source").as("model_a"), col("family").as("fa"), col("probe_idx"))
      .join(det.select(col("source").as("model_b"), col("family").as("fb"), col("probe_idx")),
        Seq("probe_idx"))
      .filter(col("model_a") < col("model_b"))
      .groupBy("model_a", "model_b", "fb")
      .agg(count(lit(1)).as("cnt"), count(when(col("fa") === col("fb"), 1)).as("same"),
        min("probe_idx").as("first_idx"))
      .withColumn("line", concat(col("fb"), lit(":"), format_string("%d", col("cnt")), lit(":"),
        format_string("%.0f%%",
          col("cnt") * lit(100d) / sum("cnt").over(wp) + lit(1e-9))))
      .withColumn("s", struct((-col("cnt")).as("nc"), col("first_idx").as("fi"), col("line").as("line")))
      .groupBy("model_a", "model_b")
      .agg(sum("cnt").as("n_probes"), sum("same").as("n_consistent"),
        array_join(transform(array_sort(collect_list(col("s"))), x => x.getField("line")), "; ")
          .as("dist_str"))
  }

  /** The per-pair evidence of BOTH reports as one |pairs|-row barrier,
    * memoized per (session, dir): the a_/b_ fingerprint columns, the
    * audit verdict, the |diff|s, votes and the evidence flags both
    * reports share, and beside them each report's own probe
    * statistics — ma_report's over every probe both sources answered
    * ([[answeredProbes]]; null for a pair with none), ma_report_full's
    * over the first ReportProbes catalog probes
    * ([[ReportFull.catalogProbes]]). Both derive from one detection
    * frame, constructed here once.
    */
  private[graft] def flags(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"report.flags:$dir") {
      val det = Style.detectedDf(spark, dir)
      val audit = Style.auditDf(spark, dir)
        .select("model_a", "model_b", "llmmap_similarity", "dli_similarity", "verdict", "confidence")
      val pair = Seq("model_a", "model_b")
      val base = pairsDf(spark, dir).join(audit, pair)
      Seq(base
        .join(answeredProbes(det), pair, "left")
        .join(ReportFull.catalogProbes(spark, det, base.select(pair.map(col): _*)), pair)
        .withColumn("max_sd", greatest(
          abs(col("a_style_helpful") - col("b_style_helpful")),
          abs(col("a_style_hedging") - col("b_style_hedging")),
          abs(col("a_style_structured") - col("b_style_structured"))))
        .withColumn("vocab_diff", abs(col("a_avg_unique_word_ratio") - col("b_avg_unique_word_ratio")))
        .withColumn("punct_diff", abs(col("a_avg_punctuation_ratio") - col("b_avg_punctuation_ratio")))
        .withColumn("chars_diff", abs(col("a_avg_length_chars") - col("b_avg_length_chars")))
        .withColumn("sent_diff",
          abs(col("a_avg_avg_sentence_length") - col("b_avg_avg_sentence_length")))
        .withColumn("votes",
          when(col("llmmap_similarity") >= 0.85, 1).otherwise(0)
            + when(col("dli_similarity") >= 0.80, 1).otherwise(0))
        .withColumn("e1", when(col("llmmap_similarity") > 0.85, 1).otherwise(0))
        .withColumn("e2", when(col("max_sd") < 0.005, 1).otherwise(0))
        .withColumn("e4", when(col("vocab_diff") < 0.05 && col("punct_diff") < 0.01, 1).otherwise(0))
        .withColumn("d1", when(col("chars_diff") > 200d, 1).otherwise(0))
        .withColumn("d2", when(col("sent_diff") > 3d, 1).otherwise(0))
        // |pairs|-row barrier: each report's projection over it is a
        // huge expression tree over this tiny frame, and every ACTION on
        // the un-truncated plan re-walked the full upstream (fingerprint
        // + audit + detection pipelines) through analysis, cache lookup
        // and optimization — measured 1.7 s (ma_report) and 7.0 s
        // (ma_report_full) per count at sf0.1 with all leaf caches warm.
        // The eager checkpoint pays the upstream once and leaves a
        // 190-row LogicalRDD under both projections.
        .localCheckpoint(true))
    }.head
  val Flags = Build("report_flags", flags)

  // ═══════════════ ma_report_features ═══════════════

  val reportFeatures = Q(
    "ma_report_features", {
      val unions = displayFeatures.map { case (k, label, _) =>
        val diff = s"round(1e-9 + abs(a_$k - b_$k), 6)"
        s"""SELECT model_a, model_b, '$k' AS feature, '$label' AS label,
           |    a_$k AS val_a, b_$k AS val_b, $diff AS diff,
           |    ${judgeSql(k, diff)} AS judgement
           |  FROM pairs""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH fp AS ($fpBody),
         |pairs AS ($pairsSql)
         |SELECT model_a, model_b, feature, label, val_a, val_b, diff, judgement
         |FROM (
         |  $unions
         |)
         |ORDER BY model_a, model_b, feature""".stripMargin
    }, Audit.AuditCaches) { (spark, dir) =>
    val entries = displayFeatures.map { case (k, label, _) =>
      val diff = round(lit(1e-9) + abs(col(s"a_$k") - col(s"b_$k")), 6)
      struct(lit(k).as("feature"), lit(label).as("label"),
        col(s"a_$k").as("val_a"), col(s"b_$k").as("val_b"),
        diff.as("diff"), judgeC(k, diff).as("judgement"))
    }
    pairsDf(spark, dir)
      .select(col("model_a"), col("model_b"), explode(array(entries: _*)).as("e"))
      .select(col("model_a"), col("model_b"), col("e.feature").as("feature"),
        col("e.label").as("label"), col("e.val_a").as("val_a"), col("e.val_b").as("val_b"),
        col("e.diff").as("diff"), col("e.judgement").as("judgement"))
      .orderBy("model_a", "model_b", "feature")
  }

  // ═══════════════ ma_report ═══════════════

  val report = Q(
    "ma_report", {
      val pcBody = Style.probeConsistency.oracle.get.replace("ORDER BY model_a, model_b", "")
      s"""WITH fp AS ($fpBody),
         |pairs AS ($pairsSql),
         |audit AS ($auditBody),
         |$evidenceSql,
         |pc AS ($pcBody),
         |det AS (${Style.detectedSql}),
         |dist AS (
         |  SELECT model_a, model_b, string_agg(line, '; ' ORDER BY cnt DESC, first_idx) AS dist_str
         |  FROM (
         |    SELECT a.source AS model_a, b.source AS model_b,
         |      CAST(count(*) AS BIGINT) AS cnt, min(a.probe_idx) AS first_idx,
         |      b.family || ':' || printf('%d', CAST(count(*) AS BIGINT)) || ':' ||
         |        printf('%.0f%%', count(*) * ${dd("100")}
         |          / sum(count(*)) OVER (PARTITION BY a.source, b.source) + 1e-9) AS line
         |    FROM det a JOIN det b ON a.probe_idx = b.probe_idx AND a.source < b.source
         |    GROUP BY a.source, b.source, b.family
         |  ) GROUP BY model_a, model_b
         |),
         |calc AS (
         |  SELECT *, CASE WHEN pct > ${dd("50")} THEN 1 ELSE 0 END AS e5
         |  FROM (
         |    SELECT f.*, pc.n_probes, pc.n_consistent, d.dist_str,
         |      pc.n_consistent * ${dd("100")} / pc.n_probes AS pct
         |    FROM flags f
         |    JOIN pc USING (model_a, model_b)
         |    JOIN dist d USING (model_a, model_b)
         |  )
         |)
         |SELECT model_a, model_b, concat(
         |  '# 模型蒸馏审计报告：' || model_b || ' vs ' || model_a || $NL,
         |  '判定: ' || CASE verdict WHEN 'likely_derived' THEN '⚠️ 可能存在蒸馏关系'
         |    WHEN 'independent' THEN '✓ 两个模型独立' ELSE '? 无法确定' END || $NL,
         |  '余弦相似度: ' || printf('%.4f', llmmap_similarity + 1e-9) || $NL,
         |  '判定阈值: 0.85' || $NL,
         |  '置信度: ' || CASE WHEN confidence > ${dd("0.7")} THEN '高'
         |    WHEN confidence > ${dd("0.4")} THEN '中' ELSE '低' END || $NL,
         |  '多方法投票:' || $NL,
         |  '| llmmap | ' || printf('%.4f', llmmap_similarity + 1e-9) || ' | 0.85 | ' ||
         |    CASE WHEN llmmap_similarity >= ${dd("0.85")} THEN '⚠️ 派生' ELSE '✓ 独立' END || ' |' || $NL,
         |  '| dli | ' || printf('%.4f', dli_similarity + 1e-9) || ' | 0.8 | ' ||
         |    CASE WHEN dli_similarity >= ${dd("0.80")} THEN '⚠️ 派生' ELSE '✓ 独立' END || ' |' || $NL,
         |  '投票结果: ' || printf('%d', votes) || '/2 方法判定为派生关系' || $NL,
         |  '指纹相似度详情:' || $NL,
         |  $featLinesSql,
         |  '风格一致率: ' || printf('%d', n_consistent) || '/' || printf('%d', n_probes) ||
         |    ' (' || printf('%.0f%%', pct + 1e-9) || ')' || $NL,
         |  '关键发现:' || $NL,
         |  CASE WHEN e1 = 1 THEN '1. 指纹相似度极高 (' || printf('%.4f', llmmap_similarity + 1e-9)
         |    || '): 远超 0.85 的蒸馏判定阈值' || $NL ELSE '' END,
         |  CASE WHEN e2 = 1 THEN printf('%d', 1 + e1) || '. 风格标记分布一致: 风格维度差异均在 '
         |    || printf('%.3f', max_sd + 1e-9) || ' 以内' || $NL ELSE '' END,
         |  CASE WHEN e4 = 1 THEN printf('%d', 1 + e1 + e2)
         |    || '. 词汇多样性、标点习惯几乎完全一致' || $NL ELSE '' END,
         |  CASE WHEN e5 = 1 THEN printf('%d', 1 + e1 + e2 + e4) || '. '
         |    || printf('%.0f%%', pct + 1e-9) || ' 的探测结果风格一致' || $NL ELSE '' END,
         |  CASE WHEN e1 + e2 + e4 + e5 = 0 THEN '未发现明显支持蒸馏关系的证据。' || $NL ELSE '' END,
         |  '差异点:' || $NL,
         |  CASE WHEN d1 = 1 THEN '1. 回复长度: ' || model_b || ' 平均 '
         |    || printf('%.0f', b_avg_length_chars + 1e-9) || ' 字符，' || model_a || ' 平均 '
         |    || printf('%.0f', a_avg_length_chars + 1e-9) || ' 字符。'
         |    || CASE WHEN b_avg_length_chars > a_avg_length_chars THEN model_b ELSE model_a END
         |    || ' 倾向于更长、更详细的回复。' || $NL ELSE '' END,
         |  CASE WHEN d2 = 1 THEN printf('%d', 1 + d1) || '. 句子长度: '
         |    || CASE WHEN b_avg_avg_sentence_length > a_avg_avg_sentence_length
         |       THEN model_b ELSE model_a END
         |    || ' 平均句长更长，偏好更复杂的句式。' || $NL ELSE '' END,
         |  CASE WHEN d1 + d2 = 0 THEN '未发现显著差异。' || $NL ELSE '' END,
         |  CASE WHEN verdict = 'likely_derived' AND d1 + d2 > 0
         |    THEN '这些差异与「蒸馏后进行风格微调」的假设一致。' || $NL ELSE '' END,
         |  '风格分布: ' || dist_str || $NL,
         |  '结论: 基于 ' || printf('%d', n_probes) || ' 个探测 Prompt 的黑盒指纹分析，相似度为 '
         |    || printf('%.4f', llmmap_similarity + 1e-9) || '，'
         |    || CASE WHEN llmmap_similarity > ${dd("0.85")} THEN '显著超过' ELSE '未超过' END
         |    || ' 0.85 的蒸馏判定阈值。' || $NL,
         |  CASE verdict
         |    WHEN 'likely_derived' THEN '审计判定: ' || model_b || ' 可能对 ' || model_a
         |      || ' 进行了知识蒸馏或使用了其输出数据进行训练。'
         |    WHEN 'independent' THEN '审计判定: ' || model_b || ' 与 ' || model_a
         |      || ' 的行为模式差异较大，不太可能存在蒸馏关系。'
         |    ELSE '审计判定: 无法确定 ' || model_b || ' 与 ' || model_a
         |      || ' 之间是否存在蒸馏关系。' END) AS report
         |FROM calc
         |ORDER BY model_a, model_b""".stripMargin
    }, Audit.AuditCaches, Flags) { (spark, dir) =>
    val nl = lit("\n")
    // a pair no probe of both sources covers is absent from ma_report
    val joined = flags(spark, dir).filter(col("n_probes").isNotNull)
    val pct = col("n_consistent") * lit(100d) / col("n_probes")
    val e5 = when(pct > 50d, 1).otherwise(0)

    val llm4 = format_string("%.4f", col("llmmap_similarity") + lit(1e-9))
    val reportCol = concat(Seq(
      concat(lit("# 模型蒸馏审计报告："), col("model_b"), lit(" vs "), col("model_a"), nl),
      concat(lit("判定: "),
        when(col("verdict") === "likely_derived", "⚠️ 可能存在蒸馏关系")
          .when(col("verdict") === "independent", "✓ 两个模型独立")
          .otherwise("? 无法确定"), nl),
      concat(lit("余弦相似度: "), llm4, nl),
      concat(lit("判定阈值: 0.85"), nl),
      concat(lit("置信度: "),
        when(col("confidence") > 0.7, "高").when(col("confidence") > 0.4, "中").otherwise("低"), nl),
      concat(lit("多方法投票:"), nl),
      concat(lit("| llmmap | "), llm4, lit(" | 0.85 | "),
        when(col("llmmap_similarity") >= 0.85, "⚠️ 派生").otherwise("✓ 独立"), lit(" |"), nl),
      concat(lit("| dli | "), format_string("%.4f", col("dli_similarity") + lit(1e-9)),
        lit(" | 0.8 | "),
        when(col("dli_similarity") >= 0.80, "⚠️ 派生").otherwise("✓ 独立"), lit(" |"), nl),
      concat(lit("投票结果: "), format_string("%d", col("votes")), lit("/2 方法判定为派生关系"), nl),
      concat(lit("指纹相似度详情:"), nl)) ++
      featLines ++ Seq(
      concat(lit("风格一致率: "), format_string("%d", col("n_consistent")), lit("/"),
        format_string("%d", col("n_probes")), lit(" ("),
        format_string("%.0f%%", pct + lit(1e-9)), lit(")"), nl),
      concat(lit("关键发现:"), nl),
      when(col("e1") === 1, concat(lit("1. 指纹相似度极高 ("), llm4,
        lit("): 远超 0.85 的蒸馏判定阈值"), nl)).otherwise(""),
      when(col("e2") === 1, concat(format_string("%d", lit(1) + col("e1")),
        lit(". 风格标记分布一致: 风格维度差异均在 "),
        format_string("%.3f", col("max_sd") + lit(1e-9)), lit(" 以内"), nl)).otherwise(""),
      when(col("e4") === 1, concat(format_string("%d", lit(1) + col("e1") + col("e2")),
        lit(". 词汇多样性、标点习惯几乎完全一致"), nl)).otherwise(""),
      when(e5 === 1, concat(format_string("%d", lit(1) + col("e1") + col("e2") + col("e4")),
        lit(". "), format_string("%.0f%%", pct + lit(1e-9)),
        lit(" 的探测结果风格一致"), nl)).otherwise(""),
      when(col("e1") + col("e2") + col("e4") + e5 === 0,
        concat(lit("未发现明显支持蒸馏关系的证据。"), nl)).otherwise(""),
      concat(lit("差异点:"), nl),
      when(col("d1") === 1, concat(lit("1. 回复长度: "), col("model_b"), lit(" 平均 "),
        format_string("%.0f", col("b_avg_length_chars") + lit(1e-9)), lit(" 字符，"),
        col("model_a"), lit(" 平均 "),
        format_string("%.0f", col("a_avg_length_chars") + lit(1e-9)), lit(" 字符。"),
        when(col("b_avg_length_chars") > col("a_avg_length_chars"), col("model_b"))
          .otherwise(col("model_a")),
        lit(" 倾向于更长、更详细的回复。"), nl)).otherwise(""),
      when(col("d2") === 1, concat(format_string("%d", lit(1) + col("d1")), lit(". 句子长度: "),
        when(col("b_avg_avg_sentence_length") > col("a_avg_avg_sentence_length"), col("model_b"))
          .otherwise(col("model_a")),
        lit(" 平均句长更长，偏好更复杂的句式。"), nl)).otherwise(""),
      when(col("d1") + col("d2") === 0, concat(lit("未发现显著差异。"), nl)).otherwise(""),
      when(col("verdict") === "likely_derived" && col("d1") + col("d2") > 0,
        concat(lit("这些差异与「蒸馏后进行风格微调」的假设一致。"), nl)).otherwise(""),
      concat(lit("风格分布: "), col("dist_str"), nl),
      concat(lit("结论: 基于 "), format_string("%d", col("n_probes")),
        lit(" 个探测 Prompt 的黑盒指纹分析，相似度为 "), llm4, lit("，"),
        when(col("llmmap_similarity") > 0.85, "显著超过").otherwise("未超过"),
        lit(" 0.85 的蒸馏判定阈值。"), nl),
      when(col("verdict") === "likely_derived",
        concat(lit("审计判定: "), col("model_b"), lit(" 可能对 "), col("model_a"),
          lit(" 进行了知识蒸馏或使用了其输出数据进行训练。")))
        .when(col("verdict") === "independent",
          concat(lit("审计判定: "), col("model_b"), lit(" 与 "), col("model_a"),
            lit(" 的行为模式差异较大，不太可能存在蒸馏关系。")))
        .otherwise(concat(lit("审计判定: 无法确定 "), col("model_b"), lit(" 与 "), col("model_a"),
          lit(" 之间是否存在蒸馏关系。")))): _*)

    joined.select(col("model_a"), col("model_b"), reportCol.as("report"))
      .orderBy("model_a", "model_b")
  }

  // ═══════════════ ma_report_json ═══════════════

  /** The reference's `generate_report(format="json")` path
    * (report.py:94-96): the audit result as a JSON document per pair —
    * model_a/model_b, the two method comparisons (similarity,
    * threshold, is_match), verdict, confidence and the summary string,
    * i.e. the AuditResult top-level surface ma_audit already computes.
    * The JSON text is assembled with explicit concatenation in BOTH
    * engines (numbers via %.4f with the uniform 1e-9 nudge, newlines
    * JSON-escaped), so the oracle compare is byte-deterministic —
    * to_json/json.dumps float formatting never enters the picture.
    */
  val reportJson = Q(
    "ma_report_json",
      s"""WITH audit AS ($auditBody)
         |SELECT model_a, model_b, concat(
         |  '{"model_a": "', model_a,
         |  '", "model_b": "', model_b,
         |  '", "comparisons": [{"method": "llmmap", "similarity": ',
         |  printf('%.4f', llmmap_similarity + 1e-9),
         |  ', "threshold": 0.85, "is_match": ',
         |  CASE WHEN llmmap_similarity >= ${dd("0.85")} THEN 'true' ELSE 'false' END,
         |  '}, {"method": "dli", "similarity": ',
         |  printf('%.4f', dli_similarity + 1e-9),
         |  ', "threshold": 0.8, "is_match": ',
         |  CASE WHEN dli_similarity >= ${dd("0.8")} THEN 'true' ELSE 'false' END,
         |  '}], "verdict": "', verdict,
         |  '", "confidence": ', printf('%.4f', confidence + 1e-9),
         |  ', "summary": "',
         |  concat('审计对象: ', model_a, ' vs ', model_b, '\\n判定结果: ',
         |    CASE verdict WHEN 'likely_derived' THEN '可能存在蒸馏关系'
         |      WHEN 'independent' THEN '两个模型独立' ELSE '无法确定' END,
         |    '\\n  [llmmap] 相似度: ', printf('%.4f', llmmap_similarity + 1e-9), ' (阈值: 0.85)',
         |    '\\n  [dli] 相似度: ', printf('%.4f', dli_similarity + 1e-9), ' (阈值: 0.8)'),
         |  '"}') AS report_json
         |FROM audit
         |ORDER BY model_a, model_b""".stripMargin, Audit.AuditCaches) { (spark, dir) =>
    def f4(c: Column): Column = format_string("%.4f", c + lit(1e-9))
    val summary = concat(
      lit("审计对象: "), col("model_a"), lit(" vs "), col("model_b"),
      lit("\\n判定结果: "),
      when(col("verdict") === "likely_derived", "可能存在蒸馏关系")
        .when(col("verdict") === "independent", "两个模型独立")
        .otherwise("无法确定"),
      lit("\\n  [llmmap] 相似度: "), f4(col("llmmap_similarity")), lit(" (阈值: 0.85)"),
      lit("\\n  [dli] 相似度: "), f4(col("dli_similarity")), lit(" (阈值: 0.8)"))
    Style.auditDf(spark, dir)
      .select(col("model_a"), col("model_b"), concat(
        lit("{\"model_a\": \""), col("model_a"),
        lit("\", \"model_b\": \""), col("model_b"),
        lit("\", \"comparisons\": [{\"method\": \"llmmap\", \"similarity\": "),
        f4(col("llmmap_similarity")),
        lit(", \"threshold\": 0.85, \"is_match\": "),
        when(col("llmmap_similarity") >= 0.85, "true").otherwise("false"),
        lit("}, {\"method\": \"dli\", \"similarity\": "),
        f4(col("dli_similarity")),
        lit(", \"threshold\": 0.8, \"is_match\": "),
        when(col("dli_similarity") >= 0.8, "true").otherwise("false"),
        lit("}], \"verdict\": \""), col("verdict"),
        lit("\", \"confidence\": "), f4(col("confidence")),
        lit(", \"summary\": \""), summary,
        lit("\"}")).as("report_json"))
      .orderBy("model_a", "model_b")
  }

  val all: Seq[Q] = Seq(reportFeatures, report, reportJson)
}
