package graft.operators

import scala.jdk.CollectionConverters._

import graft.{Build, Q, SessionMemo, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** REEF representation similarity: pairwise linear CKA between the
  * embedding groups (label = model/layer axis), over a bounded,
  * rank-aligned sample of each. Reference: reef.py:37-69
  * (_compute_cka), numpy on one host:
  *   CKA(X,Y) = ‖YᵀX‖²_F / √(‖XᵀX‖²_F·‖YᵀY‖²_F), X,Y column-centered.
  *
  * Spark selects the sample (each label's MaxN smallest vec_ids); the
  * driver does the arithmetic, as the reference does. It uses the
  * oracle's Gram form — with G_X = X·Xᵀ and H the centering matrix,
  * ‖YᵀX‖²_F = Σ_{r,s} (H·G_X·H)_{rs} · (H·G_Y·H)_{rs} — so only the
  * summation order differs from the DuckDB oracle. For L labels of n
  * samples in dimension d the driver holds L·n·d·8 bytes (655 KB at
  * L = 10, n = 128, d = 64) and does O(L·n²·d + L²·n²) multiply-adds.
  */
object Reef {

  val MaxN = 128

  /** Each label's MaxN smallest vec_ids as (label, rn, embedding),
    * rn = 1 the smallest: at most L·MaxN rows. The bounded-heap top-k
    * aggregate (score = -vec_id) carries ≤ MaxN entries per partition
    * and merges map-side, where a row_number window would shuffle and
    * sort every embedding; the selection is broadcast back so the
    * corpus never shuffles.
    */
  private[graft] def sampleDf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val sel = emb.groupBy("label")
      .agg(graft.functions.TopKAgg.topk_by_score(
        negate(col("vec_id").cast("double")), col("vec_id"), MaxN).as("tk"))
      .select(col("label"), explode(col("tk")).as("t"))
      .select(col("label"), col("t.id").as("vec_id"), col("t.rank").as("rn"))
    emb.join(broadcast(sel), Seq("label", "vec_id"))
      .select(col("label").cast("long"), col("rn"), col("embedding"))
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0d
    for (i <- a.indices) s += a(i) * b(i)
    s
  }

  /** H·(X·Xᵀ)·H, flattened, as g − mean_r − mean_s + grand mean (the
    * Gram is symmetric, so its row means are its column means).
    */
  private def centredGram(x: Array[Array[Double]]): Array[Double] = {
    val n = x.length
    val g = Array.tabulate(n, n)((r, s) => dot(x(r), x(s)))
    val mean = g.map(_.sum / n)
    val grand = g.map(_.sum).sum / (n.toDouble * n)
    Array.tabulate(n * n)(k => g(k / n)(k % n) - mean(k / n) - mean(k % n) + grand)
  }

  private val ckaSchema = StructType(Seq(StructField("label_a", LongType),
    StructField("label_b", LongType), StructField("cka", DoubleType)))

  /** The CKA pair frame, L(L−1)/2 rows in (label_a, label_b) order:
    * the sample is collected, every label truncated to n = the
    * smallest label's sample count (≤ MaxN) for rank alignment, and
    * the pairs computed on the driver. The memo holds this local
    * frame; nothing is persisted.
    */
  private def ckaDf(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.frames(spark, s"reef.cka:$dir") {
      val byLabel = sampleDf(spark, dir).collect().groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      val n = byLabel.map(_._2.length).minOption.getOrElse(0)
      val (labels, grams) = byLabel.map { case (label, rows) =>
        label -> centredGram(rows.sortBy(_.getLong(1)).take(n)
          .map(_.getSeq[Float](2).map(_.toDouble).toArray))
      }.unzip
      val hsicSelf = grams.map(g => dot(g, g))
      val pairs = for (a <- grams.indices; b <- a + 1 until grams.size) yield {
        val den = math.sqrt(hsicSelf(a) * hsicSelf(b))
        Row(labels(a), labels(b), if (den < 1e-10) 0d else dot(grams(a), grams(b)) / den)
      }
      Seq(spark.createDataFrame(pairs.asJava, ckaSchema)
        .withColumn("cka", round(lit(1e-9) + col("cka"), 6)))
    }.head
  val ReefCka = Build("reef_cka", ckaDf)

  private val ckaBodySql: String =
    s"""WITH ranked AS (
       |  SELECT label, CAST(embedding AS DOUBLE[]) AS e,
       |    row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
       |  FROM embeddings
       |),
       |n AS (SELECT least($MaxN, min(cnt)) AS n FROM
       |  (SELECT count(*) AS cnt FROM ranked GROUP BY label)),
       |capped AS (SELECT label, rn, e FROM ranked, n WHERE rn <= n.n),
       |gram AS (
       |  SELECT a.label, a.rn AS r, b.rn AS s, list_dot_product(a.e, b.e) AS g
       |  FROM capped a JOIN capped b ON a.label = b.label
       |),
       |centered AS (
       |  SELECT label, r, s,
       |    g - avg(g) OVER (PARTITION BY label, r)
       |      - avg(g) OVER (PARTITION BY label, s)
       |      + avg(g) OVER (PARTITION BY label) AS gc
       |  FROM gram
       |),
       |selfg AS (SELECT label, sum(gc * gc) AS hsic_self FROM centered GROUP BY label),
       |crossg AS (
       |  SELECT a.label AS la, b.label AS lb, sum(a.gc * b.gc) AS hsic_xy
       |  FROM centered a JOIN centered b
       |    ON a.r = b.r AND a.s = b.s AND a.label < b.label
       |  GROUP BY a.label, b.label
       |)
       |SELECT CAST(la AS BIGINT) AS label_a, CAST(lb AS BIGINT) AS label_b,
       |  round(1e-9 + CASE WHEN sqrt(sa.hsic_self * sb.hsic_self) < 1e-10 THEN CAST(0 AS DOUBLE)
       |    ELSE hsic_xy / sqrt(sa.hsic_self * sb.hsic_self) END, 6) AS cka
       |FROM crossg
       |JOIN selfg sa ON sa.label = la
       |JOIN selfg sb ON sb.label = lb""".stripMargin

  val cka = Q(
    "ma_reef_cka",
    s"""$ckaBodySql
       |ORDER BY label_a, label_b""".stripMargin, ReefCka)(ckaDf)

  /** REEF compare verdict (reef.py:184-225): treat labels 0..4 as
    * model A's sampled layers and 5..9 as model B's, pair layer i
    * with layer i+5, average the per-layer CKAs, and apply the 0.85
    * threshold + confidence formula.
    */
  val compare = Q(
    "ma_reef_compare",
    s"""WITH cka AS ($ckaBodySql)
       |SELECT 'model_a' AS model_a, 'model_b' AS model_b,
       |  CAST(count(*) AS BIGINT) AS num_layers_compared,
       |  round(1e-9 + avg(cka), 6) AS similarity,
       |  avg(cka) >= CAST(0.85 AS DOUBLE) AS is_derived,
       |  round(1e-9 + least(abs(avg(cka) - CAST(0.85 AS DOUBLE)) / CAST(0.15 AS DOUBLE),
       |    CAST(1 AS DOUBLE)), 6) AS confidence
       |FROM cka
       |WHERE label_b = label_a + 5 AND label_a < 5""".stripMargin, ReefCka) { (spark, dir) =>
    ckaDf(spark, dir)
      .filter(col("label_b") === col("label_a") + 5 && col("label_a") < 5)
      .agg(
        count(lit(1)).as("num_layers_compared"),
        round(lit(1e-9) + avg("cka"), 6).as("similarity"),
        (avg("cka") >= 0.85).as("is_derived"),
        round(lit(1e-9) + least(abs(avg("cka") - 0.85) / 0.15, lit(1d)), 6).as("confidence"))
      .select(lit("model_a").as("model_a"), lit("model_b").as("model_b"),
        col("num_layers_compared"), col("similarity"), col("is_derived"), col("confidence"))
  }

  // ═══════ hidden-state extraction shape (reef.py:72-137) ═══════

  /** One "model handle" per partition, deterministic fake forward —
    * stands in for a torch model (no ML runtime in this container).
    * The embedding is a pure function of (text hash, layer, dim), so
    * tests can assert exact values and batch-invariance.
    */
  private[operators] class FakeEncoder(layer: Int, dim: Int) extends Serializable {
    def forward(batch: Seq[(Long, String)]): Seq[(Long, Int, Array[Float])] =
      batch.map { case (id, text) =>
        val h = graft.functions.PolyHashing.foldCodePoints(text)
        val emb = Array.tabulate(dim)(i => (((h + layer * 7919L) * (i + 1)) % 1000L) / 1000f)
        (id, layer, emb)
      }
  }

  /** The reference extracts hidden states by running texts through a
    * model in batches (reef.py:72-137). The Spark shape for that is
    * mapPartitions batched inference: ONE model load per partition
    * (not per row), inputs buffered into fixed-size batches, one
    * embedding row out per input. The encoder here is a deterministic
    * fake; a real torch/ONNX forward plugs into `FakeEncoder.forward`
    * without touching the distribution shape.
    */
  def extractHiddenStates(docs: DataFrame, layer: Int,
      dim: Int = 64, batchSize: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val model = new FakeEncoder(layer, dim) // per-partition, not per-row
        it.grouped(batchSize).flatMap(batch => model.forward(batch))
      }
      .toDF("vec_id", "label", "embedding")
  }

  val all: Seq[Q] = Seq(cka, compare)
}
