package graft.operators

import graft.Q
import graft.functions.AuditDefs.sl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's built-in detection benchmark, as queries: its 14
  * labeled samples (benchmark.py:20-243) load from a data resource,
  * are scored with the same style operator as the corpus, and
  * evaluated exactly like benchmark.evaluate_accuracy (accuracy,
  * per-class accuracy; benchmark.py:264-300).
  */
object BenchmarkEval {

  final case class Sample(sample_id: Long, label: String, category: String, text: String)

  /** The 14 labeled samples, loaded from the TSV resource written by
    * tools/gen_benchmark_samples.py from BENCHMARK_SAMPLES
    * (benchmark.py:20-243) — reference DATA, kept out of source code.
    * GoldenSpec's benchmark_detect fixture asserts the texts are
    * byte-exact (a divergence would shift every style score).
    */
  val samples: Seq[Sample] = {
    val in = getClass.getResourceAsStream("/graft/benchmark_samples.tsv")
    require(in != null, "missing resource graft/benchmark_samples.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map { line =>
      val Array(id, label, cat, text) = line.split("\t", 4)
      Sample(id.toLong, label, cat, unescape(text))
    }.toVector
    finally src.close()
  }

  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'r' => b.append('\r'); i += 2
          case '\\' => b.append('\\'); i += 2
          case _ => b.append(c); i += 1
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** The samples as a DuckDB VALUES relation. */
  private val samplesSql: String =
    samples.map(s => s"(${s.sample_id}, ${sl(s.label)}, ${sl(s.category)}, ${sl(s.text)})")
      .mkString("(VALUES\n", ",\n", ") AS t(sample_id, label, category, text)")

  private val sampleScoresSql = Style.scoresSqlOf(samplesSql, "sample_id, label, category")

  private def sampleScores(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    Style.scoresOf(samples.toDF(), Seq("sample_id", "label", "category"))
  }

  /** Per-sample detection result against the known label. */
  val detect = Q(
    "ma_benchmark_detect",
    s"""SELECT sample_id, label, family AS predicted_model, score AS confidence,
       |  family = label AS correct
       |FROM (
       |  SELECT sample_id, label, family, score,
       |    row_number() OVER (PARTITION BY sample_id ORDER BY score DESC, fidx) AS rn
       |  FROM ($sampleScoresSql)
       |) WHERE rn = 1
       |ORDER BY sample_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("sample_id").orderBy(col("score").desc, col("fidx"))
    sampleScores(spark)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("sample_id"), col("label"), col("family").as("predicted_model"),
        col("score").as("confidence"), (col("family") === col("label")).as("correct"))
      .orderBy("sample_id")
  }

  /** evaluate_accuracy: overall + per-class accuracy (benchmark.py:264-300). */
  val eval = Q(
    "ma_benchmark_eval",
    s"""SELECT coalesce(label, '__overall__') AS label,
       |  CAST(count(*) AS BIGINT) AS n_total,
       |  CAST(count(*) FILTER (WHERE correct) AS BIGINT) AS n_correct,
       |  round(1e-9 + count(*) FILTER (WHERE correct) / CAST(count(*) AS DOUBLE) + 1e-9, 6) AS accuracy
       |FROM (
       |  SELECT label, family = label AS correct FROM (
       |    SELECT sample_id, label, family,
       |      row_number() OVER (PARTITION BY sample_id ORDER BY score DESC, fidx) AS rn
       |    FROM ($sampleScoresSql)
       |  ) WHERE rn = 1
       |)
       |GROUP BY ROLLUP (label)
       |ORDER BY label""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("sample_id").orderBy(col("score").desc, col("fidx"))
    sampleScores(spark)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("correct", col("family") === col("label"))
      .rollup("label")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("correct"), 1)).as("n_correct"),
        round(lit(1e-9) + count(when(col("correct"), 1)) / count(lit(1)).cast("double") + 1e-9, 6)
          .as("accuracy"))
      .select(coalesce(col("label"), lit("__overall__")).as("label"),
        col("n_total"), col("n_correct"), col("accuracy"))
      .orderBy("label")
  }

  /** Filtered accuracy over every (category, label) slice — the
    * registered analog of the reference's
    * get_benchmark_samples(category=, label=) parameters
    * (benchmark.py:246-261) feeding evaluate_accuracy: a ROLLUP over
    * (category, label) yields the per-slice, per-category and overall
    * rows a user would get from each filter combination ('__all__' =
    * no filter on that axis; label-only filters are ma_benchmark_eval).
    */
  val evalByCategory = Q(
    "ma_benchmark_eval_by_category",
    s"""SELECT coalesce(category, '__all__') AS category,
       |  coalesce(label, '__all__') AS label,
       |  CAST(count(*) AS BIGINT) AS n_total,
       |  CAST(count(*) FILTER (WHERE correct) AS BIGINT) AS n_correct,
       |  round(1e-9 + count(*) FILTER (WHERE correct) / CAST(count(*) AS DOUBLE) + 1e-9, 6) AS accuracy
       |FROM (
       |  SELECT category, label, family = label AS correct FROM (
       |    SELECT sample_id, category, label, family,
       |      row_number() OVER (PARTITION BY sample_id ORDER BY score DESC, fidx) AS rn
       |    FROM ($sampleScoresSql)
       |  ) WHERE rn = 1
       |)
       |GROUP BY ROLLUP (category, label)
       |ORDER BY category, label""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("sample_id").orderBy(col("score").desc, col("fidx"))
    sampleScores(spark)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("correct", col("family") === col("label"))
      .rollup("category", "label")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("correct"), 1)).as("n_correct"),
        round(lit(1e-9) + count(when(col("correct"), 1)) / count(lit(1)).cast("double") + 1e-9, 6)
          .as("accuracy"))
      .select(
        coalesce(col("category"), lit("__all__")).as("category"),
        coalesce(col("label"), lit("__all__")).as("label"),
        col("n_total"), col("n_correct"), col("accuracy"))
      .orderBy("category", "label")
  }

  /** Human-readable audit summary per model pair, replicating
    * engine._generate_summary (engine.py:339-361).
    */
  val summary = Q(
    "ma_summary",
    s"""WITH audit AS (${Style.audit.oracle.get.replace("ORDER BY l.model_a, l.model_b", "")})
       |SELECT model_a, model_b,
       |  '审计对象: ' || model_a || ' vs ' || model_b || chr(10) ||
       |  '判定结果: ' || CASE verdict
       |    WHEN 'likely_derived' THEN '可能存在蒸馏关系'
       |    WHEN 'independent' THEN '两个模型独立'
       |    ELSE '无法确定' END || chr(10) ||
       |  '  [llmmap] 相似度: ' || printf('%.4f', llmmap_similarity + 1e-9) || ' (阈值: 0.85)' || chr(10) ||
       |  '  [dli] 相似度: ' || printf('%.4f', dli_similarity + 1e-9) || ' (阈值: 0.8)' AS summary
       |FROM audit
       |ORDER BY model_a, model_b""".stripMargin, Audit.AuditCaches) { (spark, dir) =>
    Style.auditDf(spark, dir)
      .select(col("model_a"), col("model_b"),
        concat(
          lit("审计对象: "), col("model_a"), lit(" vs "), col("model_b"), lit("\n"),
          lit("判定结果: "),
          when(col("verdict") === "likely_derived", "可能存在蒸馏关系")
            .when(col("verdict") === "independent", "两个模型独立")
            .otherwise("无法确定"), lit("\n"),
          lit("  [llmmap] 相似度: "), format_string("%.4f", col("llmmap_similarity") + 1e-9),
          lit(" (阈值: 0.85)\n"),
          lit("  [dli] 相似度: "), format_string("%.4f", col("dli_similarity") + 1e-9),
          lit(" (阈值: 0.8)")).as("summary"))
      .orderBy("model_a", "model_b")
  }

  val all: Seq[Q] = Seq(detect, eval, evalByCategory, summary)
}
