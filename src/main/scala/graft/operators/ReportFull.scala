package graft.operators

import graft.{Build, Q}
import graft.functions.AuditDefs._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-exact reproduction of the reference's COMPLETE report surface:
  *
  *  - ma_report_full: the six-section detailed markdown report
  *    (report.py:108-664) per model pair — title block, §1 audit
  *    objects, §2 methodology, §3 results (verdict box, multi-method
  *    vote, fingerprint table, per-probe table), §4 findings (all
  *    FIVE evidence rules including rule 3 `_is_teacher_style`,
  *    difference points, style distribution), §5 conclusion, §6
  *    limitations, footer.
  *  - ma_report_basic: the fallback report (report.py:666-733).
  *
  * Reference semantics reproduced exactly: a detailed report covers
  * the FIRST 20 probes only (get_probes truncates at the catalog —
  * never cycles), sources with fewer responses pad to "unknown"
  * style (both-unknown counts as consistent), §4.3 ranks styles by
  * Counter.most_common (count desc, first occurrence), and
  * `_is_teacher_style` (report.py:783-788) bolds/collects styles
  * whose family name appears in the teacher's model name (either
  * containment direction). The audit clock is the AuditDate constant
  * (the reference stamps datetime.now(); golden fixtures are
  * generated with the same frozen clock).
  *
  * The Spark plan and the DuckDB oracle mirror each other
  * fragment-for-fragment (the driver hash-compares them per round);
  * reference parity is pinned by ReportGoldenSpec against the actual
  * Python generate_report output (main corpus pair + a family-named
  * corpus that fires rule 3 and the padding path).
  *
  * Scale: everything joins on per-model aggregate tables (|models|²
  * pairs × 20 probe rows); the only corpus-size-dependent work is the
  * shared fingerprint/detection cache population. ma_report_full
  * serves from the same per-pair barrier as ma_report
  * ([[Report.flags]]), which joins in this report's probe statistics
  * ([[catalogProbes]]).
  */
object ReportFull {

  private def dd(x: String): String = s"CAST($x AS DOUBLE)"
  private val catLabelMap: Map[String, String] = categoryLabels.toMap

  /** Multi-line string literal for the oracle SQL. Newlines become
    * chr(10) concat arguments: markdown table rows start with '|',
    * and a raw newline + '|' inside an interpolated literal would be
    * eaten by the enclosing stripMargin. Variadic concat (not ||
    * chains) keeps clear of DuckDB's binder recursion limit.
    */
  private def slNl(s: String): String =
    if (!s.contains("\n")) sl(s)
    else s.split("\n", -1).toSeq.map(sl).mkString("concat(", ", chr(10), ", ")")
  private val (j1, j2, j3, j4) = judgeLabels

  // ── shared text constants ──

  private val catCounts: Seq[(String, Int)] = {
    // Counter over catalog categories, insertion order (= §2.1 rows)
    val counts = probeCatalog.groupBy(_._2).view.mapValues(_.size).toMap
    categoryLabels.map(_._1).filter(counts.contains).map(c => c -> counts(c))
  }

  private val section2: String = {
    val catRows = catCounts.map { case (c, n) =>
      s"| ${catLabelMap(c)} | $n | ${categoryExplanations(c)} |"
    }.mkString("\n")
    s"""## 2. 审计方法
       |
       |### 2.1 探测设计
       |
       |使用 $ReportProbes 个精心设计的探测 Prompt，覆盖 ${catCounts.size} 个维度：
       |
       || 维度 | Probe 数量 | 说明 |
       ||------|-----------|------|
       |@@CATROWS@@
       |
       |### 2.2 指纹提取
       |
       |对每条响应提取 18 维特征向量：
       |
       |- **长度特征** (5 维): 字符数、词数、句数、平均词长、平均句长
       |- **比率特征** (3 维): 词汇多样性、标点密度、换行密度
       |- **结构特征** (5 维): 列表、编号、Markdown 标题、代码块、拒绝开头
       |- **风格标记** (5 维): apologetic / helpful / hedging / structured / ai_aware
       |
       |### 2.3 比对方法
       |
       |- 特征归一化（消除量纲差异）后计算余弦相似度
       |- 蒸馏判定阈值: **0.85**
       |
       |### 2.4 DLI 行为签名比对
       |
       |- 从探测响应中提取行为签名 (bigram 分布 + 多维特征)
       |- 用 Jensen-Shannon 散度衡量分布差异
       |- 综合 bigram 相似度 (40%) + 特征余弦相似度 (60%)
       |- DLI 蒸馏判定阈值: **0.80**
       |
       |---
       |
       |""".stripMargin
      // substituted AFTER stripMargin: the rows start with '|', which
      // stripMargin would otherwise eat as margin markers
      .replace("@@CATROWS@@", catRows)
  }

  private val section6: String =
    s"""## 6. 局限性声明
       |
       |1. **黑盒方法的固有局限**: 本报告仅基于模型输出的风格分析，无法访问模型权重或训练数据，不能提供确定性证据。
       |2. **样本量**: $ReportProbes 个探测 Prompt 的样本量有限，增加样本可以提高结论的统计可靠性。
       |3. **风格签名库覆盖**: 当前支持 12 个模型家族的风格签名，可能存在未覆盖的模型风格。
       |4. **替代解释**: 高相似度也可能源于相似的训练数据来源、相似的 RLHF 方法论或共同的对齐策略，不一定是直接蒸馏。
       |
       |---
       |
       |由 [knowlyr-modelaudit](https://github.com/liuxiaotong/model-audit) 生成
       |""".stripMargin

  private val boxTop = "┌──────────────────────────────────────────────┐"
  private val boxBot = "└──────────────────────────────────────────────┘"
  private val boxPad = "│                                              │"

  // ── per-pair probe/distribution frames (Spark) ──

  /** is_teacher_style (report.py:783-788): either-direction
    * containment between the style label and the teacher model name.
    */
  private def isTeacherC(style: Column, teacher: Column): Column =
    lower(teacher).contains(style) || style.contains(lower(teacher))
  private def isTeacherSql(style: String, teacher: String): String =
    s"(position($style IN lower($teacher)) > 0 OR position(lower($teacher) IN $style) > 0)"

  private def catalogDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    probeCatalog.zipWithIndex.map { case ((pid, cat), i) =>
      (i + 1, pid, catLabelMap(cat))
    }.toDF("idx", "probe_id", "cat_label")
  }

  private val catalogSql: String =
    probeCatalog.zipWithIndex.map { case ((pid, cat), i) =>
      s"(${i + 1}, ${sl(pid)}, ${sl(catLabelMap(cat))})"
    }.mkString("SELECT * FROM (VALUES ", ", ", ") AS t(idx, probe_id, cat_label)")

  // sorted-struct string aggregation: collect (sort keys..., line),
  // array_sort, extract line, join with \n
  private def aggLines(sortKeys: Seq[Column], line: Column): Column =
    array_join(
      transform(array_sort(collect_list(struct(sortKeys :+ line.as("line"): _*))),
        s => s.getField("line")), "\n")

  /** ma_report_full's probe statistics per pair, over catalog idx
    * 1..ReportProbes with the detected styles `det` left-joined
    * (missing → "unknown"): the §3.3 probe table, its consistent-row
    * count `table_consistent`, the teacher-style count and ids
    * (`ts_count`, `ts_ids`) and the §4.3 distribution table. One row
    * per pair of `pairKeys`; [[Report.flags]] joins it into the report
    * barrier.
    */
  private[operators] def catalogProbes(
      spark: SparkSession, det: DataFrame, pairKeys: DataFrame): DataFrame = {
    val inReport = det.filter(col("probe_idx") <= ReportProbes)
    // the oracle caps probe rows at idx <= ReportProbes; mirror that on
    // the catalog side too so a catalog grown past ReportProbes can't
    // silently add unknown-family rows here that the oracle lacks
    val probes = pairKeys.crossJoin(broadcast(catalogDf(spark).filter(col("idx") <= ReportProbes)))
      .join(inReport.select(col("source").as("model_a"), col("probe_idx").as("idx"),
        col("family").as("tfam0")), Seq("model_a", "idx"), "left")
      .join(inReport.select(col("source").as("model_b"), col("probe_idx").as("idx"),
        col("family").as("sfam0")), Seq("model_b", "idx"), "left")
      .withColumn("tfam", coalesce(col("tfam0"), lit("unknown")))
      .withColumn("sfam", coalesce(col("sfam0"), lit("unknown")))
      .withColumn("consistent", col("tfam") === col("sfam"))
      .withColumn("s_teach", isTeacherC(col("sfam"), col("model_a")))
      .withColumn("t_teach", isTeacherC(col("tfam"), col("model_a")))

    val probeLine = concat(
      lit("| "), format_string("%d", col("idx")), lit(" | "), col("cat_label"),
      lit(" | "), col("probe_id"), lit(" | "),
      when(col("s_teach"), concat(lit("**"), col("sfam"), lit("**"))).otherwise(col("sfam")),
      lit(" | "),
      when(col("t_teach"), concat(lit("**"), col("tfam"), lit("**"))).otherwise(col("tfam")),
      lit(" | "), when(col("consistent"), "✓").otherwise(""), lit(" |"))
    val pt = probes.groupBy("model_a", "model_b").agg(
      aggLines(Seq(col("idx").as("i")), probeLine).as("probe_table"),
      count(when(col("consistent"), 1)).as("table_consistent"),
      count(when(col("s_teach"), 1)).as("ts_count"),
      array_join(transform(
        array_sort(collect_list(when(col("s_teach"),
          struct(col("idx").as("i"), col("probe_id").as("p"))))),
        s => s.getField("p")), ", ").as("ts_ids"))

    val dist0 = probes.groupBy("model_a", "model_b", "sfam")
      .agg(count(lit(1)).as("cnt"), min("idx").as("fi"), max(col("s_teach")).as("teach"))
    val distLine = when(col("teach"), concat(
      lit("| **"), col("sfam"), lit("** | **"), format_string("%d", col("cnt")),
      lit("** | **"), format_string("%.0f%%", pctOf(col("cnt")) + 1e-9), lit("** |")))
      .otherwise(concat(
        lit("| "), col("sfam"), lit(" | "), format_string("%d", col("cnt")),
        lit(" | "), format_string("%.0f%%", pctOf(col("cnt")) + 1e-9), lit(" |")))
    val dist = dist0.groupBy("model_a", "model_b").agg(
      aggLines(Seq((-col("cnt")).as("nc"), col("fi").as("fi")), distLine).as("dist_table"))
    pt.join(dist, Seq("model_a", "model_b"))
  }

  /** A count over the report's catalog probes as a percentage. */
  private def pctOf(c: Column): Column = c * lit(100d) / ReportProbes

  private val probesSqlCte: String =
    s"""SELECT pk.model_a, pk.model_b, c.idx, c.probe_id, c.cat_label,
       |    coalesce(ta.family, 'unknown') AS tfam,
       |    coalesce(sb.family, 'unknown') AS sfam
       |  FROM (SELECT model_a, model_b FROM pairs) pk
       |  CROSS JOIN catalog c
       |  LEFT JOIN det ta ON ta.source = pk.model_a AND ta.probe_idx = c.idx
       |  LEFT JOIN det sb ON sb.source = pk.model_b AND sb.probe_idx = c.idx""".stripMargin

  // ═══════════════ ma_report_full ═══════════════

  val reportFull: Q = {
    // ---- oracle SQL ----
    val nl = "chr(10)"
    val icon = "CASE verdict WHEN 'likely_derived' THEN '⚠️' WHEN 'independent' THEN '✓' ELSE '?' END"
    val vtext = "CASE verdict WHEN 'likely_derived' THEN '可能存在蒸馏关系' WHEN 'independent' THEN '两个模型独立' ELSE '无法确定' END"
    val ctext = s"CASE WHEN confidence > ${dd("0.7")} THEN '高' WHEN confidence > ${dd("0.4")} THEN '中' ELSE '低' END"
    val sim4 = "printf('%.4f', llmmap_similarity + 1e-9)"
    val dli4 = "printf('%.4f', dli_similarity + 1e-9)"

    val sql =
      s"""WITH fp AS (${Report.fpBody}),
         |pairs AS (${Report.pairsSql}),
         |audit AS (${Report.auditBody}),
         |${Report.evidenceSql},
         |det AS (${Style.detectedSql}),
         |catalog AS ($catalogSql),
         |probes AS ($probesSqlCte),
         |probes2 AS (
         |  SELECT *, (tfam = sfam) AS consistent,
         |    ${isTeacherSql("sfam", "model_a")} AS s_teach,
         |    ${isTeacherSql("tfam", "model_a")} AS t_teach
         |  FROM probes WHERE idx <= $ReportProbes
         |),
         |pt AS (
         |  SELECT model_a, model_b,
         |    string_agg('| ' || printf('%d', idx) || ' | ' || cat_label || ' | ' || probe_id || ' | ' ||
         |      CASE WHEN s_teach THEN '**' || sfam || '**' ELSE sfam END || ' | ' ||
         |      CASE WHEN t_teach THEN '**' || tfam || '**' ELSE tfam END || ' | ' ||
         |      CASE WHEN consistent THEN '✓' ELSE '' END || ' |', $nl ORDER BY idx) AS probe_table,
         |    CAST(count(*) FILTER (WHERE consistent) AS BIGINT) AS n_consistent,
         |    CAST(count(*) FILTER (WHERE s_teach) AS BIGINT) AS ts_count,
         |    coalesce(string_agg(probe_id, ', ' ORDER BY idx) FILTER (WHERE s_teach), '') AS ts_ids
         |  FROM probes2 GROUP BY model_a, model_b
         |),
         |dist0 AS (
         |  SELECT model_a, model_b, sfam, CAST(count(*) AS BIGINT) AS cnt,
         |    min(idx) AS fi, bool_or(s_teach) AS teach
         |  FROM probes2 GROUP BY model_a, model_b, sfam
         |),
         |dist AS (
         |  SELECT model_a, model_b,
         |    string_agg(CASE WHEN teach
         |      THEN '| **' || sfam || '** | **' || printf('%d', cnt) || '** | **' ||
         |        printf('%.0f%%', cnt * ${dd("100")} / $ReportProbes + 1e-9) || '** |'
         |      ELSE '| ' || sfam || ' | ' || printf('%d', cnt) || ' | ' ||
         |        printf('%.0f%%', cnt * ${dd("100")} / $ReportProbes + 1e-9) || ' |'
         |      END, $nl ORDER BY cnt DESC, fi) AS dist_table
         |  FROM dist0 GROUP BY model_a, model_b
         |),
         |calc AS (
         |  SELECT *,
         |    CASE WHEN ts_count > 0 THEN 1 ELSE 0 END AS e3,
         |    CASE WHEN pct > ${dd("50")} THEN 1 ELSE 0 END AS e5
         |  FROM (
         |    SELECT f.*, pt.probe_table, pt.n_consistent, pt.ts_count, pt.ts_ids, d.dist_table,
         |      pt.n_consistent * ${dd("100")} / $ReportProbes AS pct,
         |      pt.ts_count * ${dd("100")} / $ReportProbes AS ts_pct
         |    FROM flags f
         |    JOIN pt USING (model_a, model_b)
         |    JOIN dist d USING (model_a, model_b)
         |  )
         |)
         |SELECT model_a, model_b, concat(
         |  '# 模型蒸馏审计报告：' || model_b || ' vs ' || model_a || $nl || $nl,
         |  ${slNl(s"**审计时间**: $AuditDate\n**审计工具**: knowlyr-modelaudit $ToolVersion\n**审计方法**: LLMmap 黑盒指纹 + DLI 行为签名 + 风格分析\n\n---\n\n")},
         |  '## 1. 审计对象' || $nl || $nl ||
         |    '| 角色 | 模型 | 提供方 | API |' || $nl ||
         |    '|------|------|--------|-----|' || $nl ||
         |    '| 被审计模型 | **' || model_b || '** | OpenAI | api.openai.com |' || $nl ||
         |    '| 参考模型 | **' || model_a || '** | OpenAI | api.openai.com |' || $nl || $nl ||
         |    '**审计目标**: 判断 ' || model_b || ' 是否对 ' || model_a || ' 进行了知识蒸馏。' || $nl || $nl ||
         |    '---' || $nl || $nl,
         |  ${slNl(section2)},
         |  '## 3. 审计结果' || $nl || $nl || '### 3.1 总体判定' || $nl || $nl ||
         |    '${"```"}' || $nl || ${sl(boxTop)} || $nl || ${sl(boxPad)} || $nl ||
         |    '│   ' || $icon || '  ' || $vtext || $nl ||
         |    ${sl(boxPad)} || $nl ||
         |    '│   余弦相似度:  ' || $sim4 || $nl ||
         |    '│   判定阈值:    0.85' || $nl ||
         |    '│   置信度:      ' || $ctext || $nl ||
         |    ${sl(boxPad)} || $nl || ${sl(boxBot)} || $nl || '${"```"}' || $nl || $nl,
         |  '### 3.1b 多方法投票' || $nl || $nl ||
         |    '| 方法 | 相似度 | 阈值 | 判定 |' || $nl || '|------|--------|------|------|' || $nl ||
         |    '| llmmap | ' || $sim4 || ' | 0.85 | ' ||
         |    CASE WHEN llmmap_similarity >= ${dd("0.85")} THEN '⚠️ 派生' ELSE '✓ 独立' END || ' |' || $nl ||
         |    '| dli | ' || $dli4 || ' | 0.8 | ' ||
         |    CASE WHEN dli_similarity >= ${dd("0.80")} THEN '⚠️ 派生' ELSE '✓ 独立' END || ' |' || $nl || $nl ||
         |    '**投票结果**: ' || printf('%d', votes) || '/2 方法判定为派生关系' || $nl || $nl,
         |  '### 3.2 指纹相似度详情' || $nl || $nl ||
         |    '| 特征维度 | ' || model_b || ' | ' || model_a || ' | 差异 | 判定 |' || $nl ||
         |    '|---------|-----------|--------|------|------|' || $nl,
         |  ${Report.featLinesSql},
         |  $nl,
         |  '### 3.3 逐条探测结果' || $nl || $nl ||
         |    '| # | 探测维度 | Probe ID | ' || model_b || ' 风格匹配 | ' || model_a || ' 风格匹配 | 一致 |' || $nl ||
         |    '|---|---------|----------|--------------|----------------|------|' || $nl ||
         |    probe_table || $nl || $nl ||
         |    '**风格一致率: ' || printf('%d', n_consistent) || '/$ReportProbes (' ||
         |    printf('%.0f%%', pct + 1e-9) || ')**' || $nl || $nl || '---' || $nl || $nl,
         |  '## 4. 关键发现' || $nl || $nl || '### 4.1 支持蒸馏关系的证据' || $nl || $nl,
         |  CASE WHEN e1 = 1 THEN '1. **指纹相似度极高 (' || $sim4
         |    || ')**: 远超 0.85 的蒸馏判定阈值，表明两个模型在响应模式上高度一致。' || $nl || $nl ELSE '' END,
         |  CASE WHEN e2 = 1 THEN printf('%d', 1 + e1)
         |    || '. **风格标记分布一致**: helpful、hedging、structured、ai_aware 等风格维度的数值差异均在 '
         |    || printf('%.3f', max_sd + 1e-9) || ' 以内，说明两个模型的「语气」和「表达习惯」几乎相同。' || $nl || $nl ELSE '' END,
         |  CASE WHEN e3 = 1 THEN printf('%d', 1 + e1 + e2)
         |    || '. **' || model_b || ' 在安全相关场景中表现出 ' || model_a || ' 风格**: 在 ' || ts_ids
         |    || ' 等 ' || printf('%d', ts_count) || ' 个场景中，' || model_b || ' 被识别为 ' || model_a
         |    || ' 风格。安全对齐（alignment）行为是蒸馏中最容易被继承的特征之一。' || $nl || $nl ELSE '' END,
         |  CASE WHEN e4 = 1 THEN printf('%d', 1 + e1 + e2 + e3)
         |    || '. **词汇多样性、标点习惯几乎完全一致**: 这些是模型底层语言能力的反映，不容易通过表面微调改变。' || $nl || $nl ELSE '' END,
         |  CASE WHEN e5 = 1 THEN printf('%d', 1 + e1 + e2 + e3 + e4)
         |    || '. **' || printf('%.0f%%', pct + 1e-9) || ' 的探测结果风格一致**: 超过半数的场景中，'
         |    || model_b || ' 和 ' || model_a || ' 被判定为相同的风格模式。' || $nl || $nl ELSE '' END,
         |  CASE WHEN e1 + e2 + e3 + e4 + e5 = 0 THEN '未发现明显支持蒸馏关系的证据。' || $nl || $nl ELSE '' END,
         |  '### 4.2 差异点' || $nl || $nl,
         |  CASE WHEN d1 = 1 THEN '1. **回复长度**: ' || model_b || ' 平均 '
         |    || printf('%.0f', b_avg_length_chars + 1e-9) || ' 字符，' || model_a || ' 平均 '
         |    || printf('%.0f', a_avg_length_chars + 1e-9) || ' 字符。'
         |    || CASE WHEN b_avg_length_chars > a_avg_length_chars THEN model_b ELSE model_a END
         |    || ' 倾向于更长、更详细的回复。' || $nl || $nl ELSE '' END,
         |  CASE WHEN d2 = 1 THEN printf('%d', 1 + d1) || '. **句子长度**: '
         |    || CASE WHEN b_avg_avg_sentence_length > a_avg_avg_sentence_length
         |       THEN model_b ELSE model_a END
         |    || ' 平均句长更长，说明偏好更复杂的句式。' || $nl || $nl ELSE '' END,
         |  CASE WHEN d1 + d2 = 0 THEN '未发现显著差异。' || $nl || $nl ELSE '' END,
         |  CASE WHEN verdict = 'likely_derived' AND d1 + d2 > 0
         |    THEN '这些差异与「蒸馏后进行风格微调」的假设一致——底层的知识和安全对齐行为被继承，但输出风格（长度、详细程度）被调整为更适合 '
         |      || model_b || ' 产品定位的形态。' || $nl || $nl ELSE '' END,
         |  '### 4.3 与其他模型的对比参考' || $nl || $nl ||
         |    model_b || ' 在风格检测中被判定为以下模型风格的分布：' || $nl || $nl ||
         |    '| 风格 | 出现次数 | 占比 |' || $nl || '|------|---------|------|' || $nl ||
         |    dist_table || $nl || $nl,
         |  CASE WHEN ts_pct > 0 THEN '值得注意的是，' || model_b || ' 在 **'
         |    || printf('%.0f%%', ts_pct + 1e-9) || ' 的场景中直接被判定为 ' || model_a
         |    || ' 风格**，而这些场景集中在安全边界和知识推理等核心能力上。' || $nl || $nl ELSE '' END,
         |  '---' || $nl || $nl,
         |  '## 5. 结论' || $nl || $nl ||
         |    '基于 $ReportProbes 个探测 Prompt 的黑盒指纹分析，**' || model_b || ' 与 ' || model_a
         |    || ' 的行为指纹相似度为 ' || $sim4 || '**，'
         |    || CASE WHEN llmmap_similarity > ${dd("0.85")} THEN '显著超过' ELSE '未超过' END
         |    || ' 0.85 的蒸馏判定阈值。' || $nl || $nl,
         |  CASE WHEN verdict = 'likely_derived' THEN
         |    ${slNl("两个模型在以下方面高度一致：\n- 词汇选择和多样性\n- 标点和格式习惯\n- 安全对齐行为（拒绝策略、措辞风格）\n- 风格标记分布\n\n")}
         |    || CASE WHEN d1 = 1 THEN '差异仅体现在输出长度和句式复杂度上，这些可以通过微调轻易改变。' || $nl || $nl ELSE '' END
         |    ELSE '' END,
         |  CASE verdict
         |    WHEN 'likely_derived' THEN '**审计判定: ' || model_b || ' 可能对 ' || model_a
         |      || ' 进行了知识蒸馏或使用了 ' || model_a || ' 的输出数据进行训练。**'
         |    WHEN 'independent' THEN '**审计判定: ' || model_b || ' 与 ' || model_a
         |      || ' 的行为模式差异较大，不太可能存在蒸馏关系。**'
         |    ELSE '**审计判定: 基于当前证据，无法确定 ' || model_b || ' 与 ' || model_a
         |      || ' 之间是否存在蒸馏关系。建议增加探测样本或使用白盒方法进一步分析。**' END
         |    || $nl || $nl || '---' || $nl || $nl,
         |  ${slNl(section6)}) AS report
         |FROM calc
         |ORDER BY model_a, model_b""".stripMargin

    // ---- Spark plan ----
    Q("ma_report_full", sql, Audit.AuditCaches, Report.Flags) { (spark, dir) =>
      val nl = lit("\n")
      val pct = pctOf(col("table_consistent"))
      val tsPct = pctOf(col("ts_count"))
      val e3 = when(col("ts_count") > 0, 1).otherwise(0)
      val e5 = when(pct > 50d, 1).otherwise(0)

      val sim4 = format_string("%.4f", col("llmmap_similarity") + lit(1e-9))
      val dli4 = format_string("%.4f", col("dli_similarity") + lit(1e-9))
      val icon = when(col("verdict") === "likely_derived", "⚠️")
        .when(col("verdict") === "independent", "✓").otherwise("?")
      val vtext = when(col("verdict") === "likely_derived", "可能存在蒸馏关系")
        .when(col("verdict") === "independent", "两个模型独立").otherwise("无法确定")
      val ctext = when(col("confidence") > 0.7, "高")
        .when(col("confidence") > 0.4, "中").otherwise("低")

      val report = concat(Seq(
        concat(lit("# 模型蒸馏审计报告："), col("model_b"), lit(" vs "), col("model_a"), nl, nl),
        lit(s"**审计时间**: $AuditDate\n**审计工具**: knowlyr-modelaudit $ToolVersion\n**审计方法**: LLMmap 黑盒指纹 + DLI 行为签名 + 风格分析\n\n---\n\n"),
        concat(lit("## 1. 审计对象\n\n| 角色 | 模型 | 提供方 | API |\n|------|------|--------|-----|\n| 被审计模型 | **"),
          col("model_b"), lit("** | OpenAI | api.openai.com |\n| 参考模型 | **"),
          col("model_a"), lit("** | OpenAI | api.openai.com |\n\n**审计目标**: 判断 "),
          col("model_b"), lit(" 是否对 "), col("model_a"), lit(" 进行了知识蒸馏。\n\n---\n\n")),
        lit(section2),
        concat(lit("## 3. 审计结果\n\n### 3.1 总体判定\n\n```\n" + boxTop + "\n" + boxPad + "\n│   "),
          icon, lit("  "), vtext, nl, lit(boxPad), nl,
          lit("│   余弦相似度:  "), sim4, nl,
          lit("│   判定阈值:    0.85\n│   置信度:      "), ctext, nl,
          lit(boxPad + "\n" + boxBot + "\n```\n\n")),
        concat(lit("### 3.1b 多方法投票\n\n| 方法 | 相似度 | 阈值 | 判定 |\n|------|--------|------|------|\n| llmmap | "),
          sim4, lit(" | 0.85 | "),
          when(col("llmmap_similarity") >= 0.85, "⚠️ 派生").otherwise("✓ 独立"),
          lit(" |\n| dli | "), dli4, lit(" | 0.8 | "),
          when(col("dli_similarity") >= 0.80, "⚠️ 派生").otherwise("✓ 独立"),
          lit(" |\n\n**投票结果**: "), format_string("%d", col("votes")),
          lit("/2 方法判定为派生关系\n\n")),
        concat(lit("### 3.2 指纹相似度详情\n\n| 特征维度 | "), col("model_b"), lit(" | "),
          col("model_a"), lit(" | 差异 | 判定 |\n|---------|-----------|--------|------|------|\n"))) ++
        Report.featLines ++ Seq(
        nl,
        concat(lit("### 3.3 逐条探测结果\n\n| # | 探测维度 | Probe ID | "), col("model_b"),
          lit(" 风格匹配 | "), col("model_a"),
          lit(" 风格匹配 | 一致 |\n|---|---------|----------|--------------|----------------|------|\n"),
          col("probe_table"), nl, nl,
          lit("**风格一致率: "), format_string("%d", col("table_consistent")),
          lit(s"/$ReportProbes ("), format_string("%.0f%%", pct + lit(1e-9)),
          lit(")**\n\n---\n\n")),
        lit("## 4. 关键发现\n\n### 4.1 支持蒸馏关系的证据\n\n"),
        when(col("e1") === 1, concat(lit("1. **指纹相似度极高 ("), sim4,
          lit(")**: 远超 0.85 的蒸馏判定阈值，表明两个模型在响应模式上高度一致。"), nl, nl)).otherwise(""),
        when(col("e2") === 1, concat(format_string("%d", lit(1) + col("e1")),
          lit(". **风格标记分布一致**: helpful、hedging、structured、ai_aware 等风格维度的数值差异均在 "),
          format_string("%.3f", col("max_sd") + lit(1e-9)),
          lit(" 以内，说明两个模型的「语气」和「表达习惯」几乎相同。"), nl, nl)).otherwise(""),
        when(e3 === 1, concat(format_string("%d", lit(1) + col("e1") + col("e2")),
          lit(". **"), col("model_b"), lit(" 在安全相关场景中表现出 "), col("model_a"),
          lit(" 风格**: 在 "), col("ts_ids"), lit(" 等 "), format_string("%d", col("ts_count")),
          lit(" 个场景中，"), col("model_b"), lit(" 被识别为 "), col("model_a"),
          lit(" 风格。安全对齐（alignment）行为是蒸馏中最容易被继承的特征之一。"), nl, nl)).otherwise(""),
        when(col("e4") === 1, concat(format_string("%d", lit(1) + col("e1") + col("e2") + e3),
          lit(". **词汇多样性、标点习惯几乎完全一致**: 这些是模型底层语言能力的反映，不容易通过表面微调改变。"),
          nl, nl)).otherwise(""),
        when(e5 === 1, concat(
          format_string("%d", lit(1) + col("e1") + col("e2") + e3 + col("e4")),
          lit(". **"), format_string("%.0f%%", pct + lit(1e-9)),
          lit(" 的探测结果风格一致**: 超过半数的场景中，"), col("model_b"), lit(" 和 "),
          col("model_a"), lit(" 被判定为相同的风格模式。"), nl, nl)).otherwise(""),
        when(col("e1") + col("e2") + e3 + col("e4") + e5 === 0,
          lit("未发现明显支持蒸馏关系的证据。\n\n")).otherwise(""),
        lit("### 4.2 差异点\n\n"),
        when(col("d1") === 1, concat(lit("1. **回复长度**: "), col("model_b"), lit(" 平均 "),
          format_string("%.0f", col("b_avg_length_chars") + lit(1e-9)), lit(" 字符，"),
          col("model_a"), lit(" 平均 "),
          format_string("%.0f", col("a_avg_length_chars") + lit(1e-9)), lit(" 字符。"),
          when(col("b_avg_length_chars") > col("a_avg_length_chars"), col("model_b"))
            .otherwise(col("model_a")),
          lit(" 倾向于更长、更详细的回复。"), nl, nl)).otherwise(""),
        when(col("d2") === 1, concat(format_string("%d", lit(1) + col("d1")),
          lit(". **句子长度**: "),
          when(col("b_avg_avg_sentence_length") > col("a_avg_avg_sentence_length"),
            col("model_b")).otherwise(col("model_a")),
          lit(" 平均句长更长，说明偏好更复杂的句式。"), nl, nl)).otherwise(""),
        when(col("d1") + col("d2") === 0, lit("未发现显著差异。\n\n")).otherwise(""),
        when(col("verdict") === "likely_derived" && col("d1") + col("d2") > 0,
          concat(lit("这些差异与「蒸馏后进行风格微调」的假设一致——底层的知识和安全对齐行为被继承，但输出风格（长度、详细程度）被调整为更适合 "),
            col("model_b"), lit(" 产品定位的形态。"), nl, nl)).otherwise(""),
        concat(lit("### 4.3 与其他模型的对比参考\n\n"), col("model_b"),
          lit(" 在风格检测中被判定为以下模型风格的分布：\n\n| 风格 | 出现次数 | 占比 |\n|------|---------|------|\n"),
          col("dist_table"), nl, nl),
        when(tsPct > 0, concat(lit("值得注意的是，"), col("model_b"), lit(" 在 **"),
          format_string("%.0f%%", tsPct + lit(1e-9)), lit(" 的场景中直接被判定为 "),
          col("model_a"), lit(" 风格**，而这些场景集中在安全边界和知识推理等核心能力上。"),
          nl, nl)).otherwise(""),
        lit("---\n\n"),
        concat(lit(s"## 5. 结论\n\n基于 $ReportProbes 个探测 Prompt 的黑盒指纹分析，**"),
          col("model_b"), lit(" 与 "), col("model_a"), lit(" 的行为指纹相似度为 "), sim4,
          lit("**，"), when(col("llmmap_similarity") > 0.85, "显著超过").otherwise("未超过"),
          lit(" 0.85 的蒸馏判定阈值。\n\n")),
        when(col("verdict") === "likely_derived", concat(
          lit("两个模型在以下方面高度一致：\n- 词汇选择和多样性\n- 标点和格式习惯\n- 安全对齐行为（拒绝策略、措辞风格）\n- 风格标记分布\n\n"),
          when(col("d1") === 1,
            lit("差异仅体现在输出长度和句式复杂度上，这些可以通过微调轻易改变。\n\n")).otherwise("")))
          .otherwise(""),
        when(col("verdict") === "likely_derived",
          concat(lit("**审计判定: "), col("model_b"), lit(" 可能对 "), col("model_a"),
            lit(" 进行了知识蒸馏或使用了 "), col("model_a"), lit(" 的输出数据进行训练。**")))
          .when(col("verdict") === "independent",
            concat(lit("**审计判定: "), col("model_b"), lit(" 与 "), col("model_a"),
              lit(" 的行为模式差异较大，不太可能存在蒸馏关系。**")))
          .otherwise(concat(lit("**审计判定: 基于当前证据，无法确定 "), col("model_b"),
            lit(" 与 "), col("model_a"),
            lit(" 之间是否存在蒸馏关系。建议增加探测样本或使用白盒方法进一步分析。**"))),
        lit("\n\n---\n\n"),
        lit(section6)): _*)

      Report.flags(spark, dir).select(col("model_a"), col("model_b"), report.as("report"))
        .orderBy("model_a", "model_b")
    }
  }

  // ═══════════════ ma_report_basic ═══════════════

  val reportBasic: Q = {
    val nl = "chr(10)"
    val head = s"# 模型蒸馏审计报告\n\n**审计工具**: knowlyr-modelaudit $ToolVersion\n**生成时间**: $AuditDateTime\n\n## 审计对象\n\n| 角色 | 模型 |\n|------|------|\n"
    val tail = "\n## 说明\n\n- **相似度 > 0.85**: 两个模型的行为模式高度相似，可能存在蒸馏关系\n- **相似度 0.5-0.85**: 部分相似，可能共享训练数据或架构\n- **相似度 < 0.5**: 两个模型行为差异较大，可能是独立模型\n\n---\n\n由 [knowlyr-modelaudit](https://github.com/liuxiaotong/model-audit) 生成"
    Q("ma_report_basic",
      s"""WITH audit AS (${Report.auditBody})
         |SELECT model_a, model_b, concat(
         |  ${slNl(head)},
         |  '| 教师模型 (Teacher) | ' || model_a || ' |' || $nl ||
         |  '| 学生模型 (Student) | ' || model_b || ' |' || $nl || $nl ||
         |  '## 判定结果' || $nl || $nl ||
         |  '**' || CASE verdict WHEN 'likely_derived' THEN '⚠️ 可能存在蒸馏关系'
         |    WHEN 'independent' THEN '✓ 两个模型独立' ELSE '? 无法确定' END || '**' || $nl || $nl ||
         |  '- 置信度: ' || printf('%.2f%%', confidence * ${dd("100")} + 1e-9) || $nl || $nl ||
         |  '## 指纹比对详情' || $nl || $nl ||
         |  '| 方法 | 相似度 | 阈值 | 判定 |' || $nl || '|------|--------|------|------|' || $nl ||
         |  '| llmmap | ' || printf('%.4f', llmmap_similarity + 1e-9) || ' | 0.85 | ' ||
         |    CASE WHEN llmmap_similarity >= ${dd("0.85")} THEN '派生' ELSE '独立' END || ' |' || $nl ||
         |  '| dli | ' || printf('%.4f', dli_similarity + 1e-9) || ' | 0.8 | ' ||
         |    CASE WHEN dli_similarity >= ${dd("0.80")} THEN '派生' ELSE '独立' END || ' |' || $nl,
         |  ${slNl(tail)}) AS report
         |FROM audit
         |ORDER BY model_a, model_b""".stripMargin, Audit.AuditCaches) { (spark, dir) =>
      val nlC = lit("\n")
      Style.auditDf(spark, dir)
        .select(col("model_a"), col("model_b"), concat(
          lit(head),
          lit("| 教师模型 (Teacher) | "), col("model_a"), lit(" |\n| 学生模型 (Student) | "),
          col("model_b"), lit(" |\n\n## 判定结果\n\n**"),
          when(col("verdict") === "likely_derived", "⚠️ 可能存在蒸馏关系")
            .when(col("verdict") === "independent", "✓ 两个模型独立").otherwise("? 无法确定"),
          lit("**\n\n- 置信度: "),
          format_string("%.2f%%", col("confidence") * lit(100d) + lit(1e-9)),
          lit("\n\n## 指纹比对详情\n\n| 方法 | 相似度 | 阈值 | 判定 |\n|------|--------|------|------|\n| llmmap | "),
          format_string("%.4f", col("llmmap_similarity") + lit(1e-9)), lit(" | 0.85 | "),
          when(col("llmmap_similarity") >= 0.85, "派生").otherwise("独立"),
          lit(" |\n| dli | "),
          format_string("%.4f", col("dli_similarity") + lit(1e-9)), lit(" | 0.8 | "),
          when(col("dli_similarity") >= 0.80, "派生").otherwise("独立"), lit(" |\n"),
          lit(tail)).as("report"))
        .orderBy("model_a", "model_b")
    }
  }

  val all: Seq[Q] = Seq(reportFull, reportBasic)
}
