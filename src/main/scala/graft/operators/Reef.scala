package graft.operators

import graft.{Build, Q, SessionMemo, Tables}
import graft.functions.HashExprs.dot_product
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** REEF representation similarity: pairwise linear CKA between the
  * embedding groups (label = model/layer axis), computed distributedly
  * via the double-centered Gram identity — no driver-side matrices.
  *
  * Reference: reef.py:37-69 (_compute_cka):
  *   CKA(X,Y) = ‖YᵀX‖²_F / √(‖XᵀX‖²_F·‖YᵀY‖²_F), X,Y column-centered.
  *
  * Identity used: with G_X = X·Xᵀ (raw Gram) and H the centering
  * matrix, ‖YᵀX‖²_F = Σ_{r,s} (H·G_X·H)_{rs} · (H·G_Y·H)_{rs}.
  * Cost is O(N²·d) per group + O(N²) per pair — versus O(N·d²) for
  * the cross-moment formulation — which is the only viable shape once
  * hidden states are wide (d in the thousands), and N is capped at
  * 128 rank-aligned samples so per-pair cost is constant regardless
  * of corpus size.
  */
object Reef {

  val MaxN = 128

  /** Unordered CKA pair frame; |labels|² fixed-width rows — memoized
    * and cached, with the centered Gram frame it reads.
    */
  private def ckaDf(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.frames(spark, s"reef.cka:$dir") {
      val emb = Tables.embeddings(spark, dir)
      // Bounded sample selection: the MaxN smallest vec_ids per label via
      // the bounded-heap top-k aggregate (score = -vec_id, so rank 1 =
      // smallest). A row_number window here would shuffle AND fully sort
      // every embedding per label just to keep 128 — the aggregate
      // carries ≤ MaxN entries per partition and merges map-side, so
      // shuffle traffic is O(|labels|·MaxN) regardless of corpus size.
      val sel = emb.groupBy("label")
        .agg(graft.functions.TopKAgg.topk_by_score(
          negate(col("vec_id").cast("double")), col("vec_id"), MaxN).as("tk"))
        .select(col("label"), explode(col("tk")).as("t"))
        .select(col("label"), col("t.id").as("vec_id"), col("t.rank").as("rn"))
      // Rank alignment needs every label truncated to the same n =
      // least(MaxN, min label count); counting the selected rows gives
      // min(count, MaxN) per label, so min over labels is identical.
      val n = sel.groupBy("label").agg(count(lit(1)).as("cnt"))
        .agg(least(lit(MaxN), min("cnt")).as("n"))
      // The selected (label, vec_id, rn) frame is ≤ |labels|·MaxN rows —
      // broadcast it so the corpus never shuffles.
      val ranked = emb.join(broadcast(sel), Seq("label", "vec_id"))
        .crossJoin(broadcast(n)).filter(col("rn") <= col("n"))
        .select(col("label"), col("rn"),
          transform(col("embedding"), x => x.cast("double")).as("e"))

      // raw Gram entries per group: g(label, r, s) = x_r · x_s
      val a = ranked.select(col("label"), col("rn").as("r"), col("e").as("ea"))
      val b = ranked.select(col("label"), col("rn").as("s"), col("e").as("eb"))
      val gram = a.join(b, Seq("label"))
        .select(col("label"), col("r"), col("s"), dot_product(col("ea"), col("eb")).as("g"))

      // double-center: g̃ = g - mean_r - mean_s + grand_mean
      val wr = Window.partitionBy("label", "r")
      val ws = Window.partitionBy("label", "s")
      val wl = Window.partitionBy("label")
      val centered = gram
        .withColumn("gc",
          col("g") - avg("g").over(wr) - avg("g").over(ws) + avg("g").over(wl))
        .select("label", "r", "s", "gc")
        // barrier: the three window passes would otherwise replay for
        // both sides of the pair join below
        .cache()

      val selfg = centered.groupBy("label").agg(sum(col("gc") * col("gc")).as("hsic_self"))
      val ga = centered.select(col("label").as("la"), col("r"), col("s"), col("gc").as("gca"))
      val gb = centered.select(col("label").as("lb"), col("r"), col("s"), col("gc").as("gcb"))
      val crossg = ga.join(gb, col("la") < col("lb") && ga("r") === gb("r") && ga("s") === gb("s"))
        .groupBy("la", "lb").agg(sum(col("gca") * col("gcb")).as("hsic_xy"))

      val pairs = crossg
        .join(selfg.select(col("label").as("la"), col("hsic_self").as("ha")), Seq("la"))
        .join(selfg.select(col("label").as("lb"), col("hsic_self").as("hb")), Seq("lb"))
        .select(
          col("la").cast("long").as("label_a"),
          col("lb").cast("long").as("label_b"),
          round(lit(1e-9) + when(sqrt(col("ha") * col("hb")) < 1e-10, 0d)
            .otherwise(col("hsic_xy") / sqrt(col("ha") * col("hb"))), 6).as("cka"))
        .cache()
      Seq(centered, pairs)
    }.last
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
       |ORDER BY label_a, label_b""".stripMargin, ReefCka) { (spark, dir) =>
    ckaDf(spark, dir).orderBy("label_a", "label_b")
  }

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
    var batchesSeen: Int = 0
    def forward(batch: Seq[(Long, String)]): Seq[(Long, Int, Array[Float])] = {
      batchesSeen += 1
      batch.map { case (id, text) =>
        val h = graft.functions.PolyHashing.foldCodePoints(text)
        val emb = Array.tabulate(dim)(i => (((h + layer * 7919L) * (i + 1)) % 1000L) / 1000f)
        (id, layer, emb)
      }
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
