package graft.operators

import graft.{Build, Q, Tables}
import graft.functions.{BpeExprs, Hashing}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based quality classification — the fastText-shape stage a
  * production corpus pipeline runs after the heuristic gates (DCLM /
  * FineWeb-Edu distill quality labels into a cheap linear classifier
  * and score every document with it; Joulin et al. 2017 is the
  * canonical architecture: hashed bag-of-words → linear layer).
  *
  * Two halves:
  *   - clf_score (registered, hash-oracle-checked): INFERENCE. One
  *     map-only corpus pass — token hashes → d-bucket feature
  *     hashing → integer weight lookup → margin sum. No shuffle, no
  *     join; the model rides into the scan as a fixed formula (a
  *     deployment broadcasts the trained weight array instead — same
  *     plan shape). Integer weights make the margin order-independent
  *     and bit-exact cross-engine, so the oracle hash-checks a MODEL
  *     INFERENCE end-to-end.
  *   - Classifier.train (library + spec): TRAINING. Full-batch
  *     logistic-regression gradient descent where each step is ONE
  *     aggregation over the cached feature representation — gradient
  *     rows bounded by d, model state (d doubles) lives driver-side
  *     like any parameter server. Labels come from the tx_quality
  *     gate, i.e. the classifier distills the heuristic into a
  *     single dot product.
  */
object Classifier {

  /** Feature buckets. Small enough that the spec's dense reference
    * implementation is trivially auditable; production uses 2^20+.
    */
  val D = 256

  /** clf_score: hashed linear-model inference over every document.
    * Emits the exact integer margin, the normalized score (one
    * division, then the house 6-dp rounding) and the sign flag —
    * all cross-engine exact.
    */
  /** The shared inference projection (batch query + streaming twin):
    * one kernel call per doc, no shuffle.
    */
  def scoreProject(docs: DataFrame): DataFrame = {
    val wh = Hashing.wordHashes(col("text"))
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        size(wh).cast("long").as("n_tokens"),
        BpeExprs.linear_margin(wh, D).as("margin"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("margin"),
        round(lit(1e-9) + col("margin") /
          (col("n_tokens") * lit(graft.functions.BpeKernels.Half.toDouble)) + 1e-9, 6)
          .as("score"),
        (col("margin") > 0).as("flagged"))
  }

  val score = Q(
    "clf_score", {
      val wh = Hashing.wordHashesSql("text")
      val w = s"((h % $D + 1) * ${graft.functions.BpeKernels.WA}) % ${Hashing.P} " +
        s"- ${graft.functions.BpeKernels.Half}"
      s"""SELECT doc_id, source, n_tokens, margin,
         |  round(1e-9 + margin / (n_tokens * ${graft.functions.BpeKernels.Half}.0) + 1e-9, 6) AS score,
         |  margin > 0 AS flagged
         |FROM (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         |    CAST(len(wh) AS BIGINT) AS n_tokens,
         |    list_reduce(list_concat([CAST(0 AS BIGINT)],
         |      list_transform(wh, h -> $w)), (a, b) -> a + b) AS margin
         |  FROM (SELECT doc_id, source, $wh AS wh FROM documents))
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    scoreProject(Tables.documents(spark, dir)).orderBy("doc_id")
  }

  // ═══════════════ training (library + spec) ═══════════════

  /** Per-doc sparse features: l1-normalized d-bucket token counts,
    * label = the stopword-density gate (stop_ratio ≥ 0.065, ~the
    * sf0.001 median). The label is itself a LINEAR functional of the
    * normalized features — stop_ratio = Σ v_j over the stopword
    * buckets, up to hash collisions — so full-batch GD provably
    * recovers it: the distill-a-heuristic-into-a-dot-product shape
    * with a known-learnable target. Cached once; every GD step
    * re-reads THIS, never the corpus.
    */
  def features(spark: SparkSession, dir: String): DataFrame = {
    val words = split(trim(lower(col("text"))), "\\s+")
    val nStop = size(filter(words,
      w => Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")
        .map(w === _).reduce(_ || _)))
    val denom = greatest(size(words), lit(1)).cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        (nStop / denom >= 0.065).cast("double").as("y"),
        explode(Hashing.wordHashes(col("text"))).as("h"))
      .groupBy(col("doc_id"), col("y"), pmod(col("h"), lit(D)).as("j"))
      .agg(count(lit(1)).as("c"))
      .withColumn("v", col("c") / sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .select("doc_id", "y", "j", "v")
  }

  /** Full-batch logistic-regression GD. Each step: margins = one
    * aggregation of v·w(j) per doc (w rides in as a broadcast d-row
    * frame), residuals join back on doc, gradient = one aggregation
    * keyed by j (≤ d rows). Weights round-trip driver-side — O(d)
    * model state, never data. Returns (weights, per-step log-loss).
    */
  def train(spark: SparkSession, dir: String, steps: Int = 12, lr0: Double = 4096.0)
      : (Array[Double], Double, Seq[Double]) = {
    import spark.implicits._
    val feats = features(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = feats.select(countDistinct("doc_id")).as[Long].head().toDouble

    def perDoc(w: Array[Double], b: Double): DataFrame = {
      val wDf = broadcast(w.toSeq.zipWithIndex.toDF("wj", "j"))
      feats.join(wDf, "j")
        .groupBy("doc_id", "y")
        .agg(sum(col("v") * col("wj")).as("m"))
        .select(col("doc_id"), col("y"),
          (lit(1d) / (lit(1d) + exp(-col("m") - b))).as("p"))
    }
    def lossOf(w: Array[Double], b: Double): Double = perDoc(w, b).agg(
      avg(-(col("y") * log(greatest(col("p"), lit(1e-12))) +
        (lit(1d) - col("y")) * log(greatest(lit(1d) - col("p"), lit(1e-12))))))
      .as[Double].head()

    var w = Array.fill(D)(0.0)
    var b = 0.0
    var cur = lossOf(w, b)
    val losses = Seq.newBuilder[Double]
    losses += cur
    for (_ <- 1 to steps) {
      val pd = perDoc(w, b)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val gb = pd.agg(avg(col("p") - col("y"))).as[Double].head()
      val grad = pd.select(col("doc_id"), (col("p") - col("y")).as("r"))
        .join(feats, "doc_id")
        .groupBy("j").agg((sum(col("v") * col("r")) / n).as("g"))
        .as[(Long, Double)].collect() // ≤ d rows — the model update, not data
      pd.unpersist(blocking = false)
      // backtracking line search: halving the step until the loss
      // actually drops makes the trajectory monotone by construction
      // — a fixed step either crawls (the margin here is thin) or
      // oscillates into saturation. Each probe is ONE aggregation.
      var lr = lr0
      var done = false
      while (!done) {
        val wTry = w.clone()
        grad.foreach { case (j, g) => wTry(j.toInt) -= lr * g }
        val bTry = b - lr * gb
        val cand = lossOf(wTry, bTry)
        if (cand < cur) { w = wTry; b = bTry; cur = cand; done = true }
        else if (lr < 1e-6) done = true // no step along −g improves: converged
        else lr /= 2
      }
      losses += cur
    }
    feats.unpersist(blocking = false)
    (w, b, losses.result())
  }

  /** Accuracy of a weight vector + bias against the heuristic labels. */
  def accuracy(spark: SparkSession, dir: String, w: Array[Double], b: Double): Double = {
    import spark.implicits._
    val wDf = broadcast(w.toSeq.zipWithIndex.toDF("wj", "j"))
    features(spark, dir).join(wDf, "j")
      .groupBy("doc_id", "y")
      .agg(sum(col("v") * col("wj")).as("m"))
      .select(avg((((col("m") + b > 0).cast("double")) === col("y")).cast("double")))
      .as[Double].head()
  }

  private val CalBins = 10

  /** clf_calibration — the reliability diagram for clf_score: scores
    * binned into 10 equal-width bins over the observed [min, max],
    * each bin reporting its doc count, mean score and OBSERVED
    * positive rate under the distill-target label (the stopword-
    * density gate the trainer learns from). A well-calibrated
    * classifier shows pos_rate rising monotonically with the bin —
    * the ML-eval step between training and deployment gating.
    *
    * Scale shape: one corpus pass for the scores (the clf_score
    * kernel), a 1-row min/max aggregate broadcast back, and a 10-row
    * final aggregate. Bins are computed from the 6-dp ROUNDED scores
    * (already proven bit-exact cross-engine by clf_score's hash
    * check), so the equal-width binning arithmetic sees identical
    * doubles on both sides.
    */
  val calibration = Q(
    "clf_calibration", {
      val wh = Hashing.wordHashesSql("text")
      val w = s"((h % $D + 1) * ${graft.functions.BpeKernels.WA}) % ${Hashing.P} " +
        s"- ${graft.functions.BpeKernels.Half}"
      val words = "string_split_regex(trim(lower(text)), '\\s+')"
      val sw = Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")
        .map(s => s"'$s'").mkString("(", ", ", ")")
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    round(1e-9 + margin / (n_tokens * ${graft.functions.BpeKernels.Half}.0) + 1e-9, 6) AS score,
         |    y
         |  FROM (
         |    SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |      CAST(len(wh) AS BIGINT) AS n_tokens,
         |      list_reduce(list_concat([CAST(0 AS BIGINT)],
         |        list_transform(wh, h -> $w)), (a, b) -> a + b) AS margin,
         |      y
         |    FROM (SELECT doc_id, $wh AS wh,
         |      CASE WHEN len(list_filter($words, x -> x IN $sw))
         |        / ${d(s"greatest(len($words), 1)")} >= 0.065 THEN 1 ELSE 0 END AS y
         |      FROM documents))),
         |b AS (SELECT min(score) AS lo, max(score) AS hi FROM scored)
         |SELECT bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  round(1e-9 + avg(score) + 1e-9, 6) AS avg_score,
         |  round(1e-9 + avg(CAST(y AS DOUBLE)) + 1e-9, 6) AS pos_rate
         |FROM (
         |  SELECT least(CAST(floor((score - lo) * $CalBins
         |      / greatest(hi - lo, 1e-12)) AS BIGINT), ${CalBins - 1}) AS bin,
         |    score, y
         |  FROM scored, b)
         |GROUP BY bin
         |ORDER BY bin""".stripMargin
    }) { (spark, dir) =>
    val words = split(trim(lower(col("text"))), "\\s+")
    val nStop = size(filter(words,
      w => Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")
        .map(w === _).reduce(_ || _)))
    val denom = greatest(size(words), lit(1)).cast("double")
    // one map-only pass: the clf_score kernel and the label ride the
    // same scan — no join, no second read of the text
    val wh = Hashing.wordHashes(col("text"))
    val scored = Tables.documents(spark, dir)
      .select(
        round(lit(1e-9) + BpeExprs.linear_margin(wh, D) /
          (size(wh).cast("long") * lit(graft.functions.BpeKernels.Half.toDouble)) + 1e-9, 6)
          .as("score"),
        (nStop / denom >= 0.065).cast("int").as("y"))
    val b = scored.agg(min("score").as("lo"), max("score").as("hi"))
    scored.crossJoin(broadcast(b))
      .withColumn("bin",
        least(floor((col("score") - col("lo")) * CalBins /
          greatest(col("hi") - col("lo"), lit(1e-12))).cast("long"),
          lit((CalBins - 1).toLong)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        round(lit(1e-9) + avg("score") + 1e-9, 6).as("avg_score"),
        round(lit(1e-9) + avg(col("y").cast("double")) + 1e-9, 6).as("pos_rate"))
      .orderBy("bin")
  }

  private def d(x: String): String = s"CAST($x AS DOUBLE)"

  private val ClfScale = 1048576L

  private def yCol: org.apache.spark.sql.Column = {
    val words = split(trim(lower(col("text"))), "\\s+")
    val nStop = size(filter(words,
      w => Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")
        .map(w === _).reduce(_ || _)))
    (nStop / greatest(size(words), lit(1)).cast("double") >= 0.065).cast("int")
  }

  private val ySql: String = {
    val words = "string_split_regex(trim(lower(text)), '\\s+')"
    val sw = Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")
      .map(s => s"'$s'").mkString("(", ", ", ")")
    s"""CASE WHEN len(list_filter($words, x -> x IN $sw))
       |  / ${d(s"greatest(len($words), 1)")} >= 0.065 THEN 1 ELSE 0 END""".stripMargin
  }

  /** The STORED trained-weights artifact for [[scoreTrained]]: the
    * D-row integer weight vector learned from the train split
    * (doc_id % 10 < 8) — w(j) is the floor-scaled difference of
    * Laplace-smoothed class-conditional bucket frequencies under the
    * stopword-gate distill label, i.e. the naive-Bayes linear
    * discriminator in frequency space (the tx_langid_clf discipline
    * binarized). Pure BIGINT arithmetic end to end, so the margin a
    * deployment computes from the broadcast artifact is bit-exact on
    * any engine. Memoized + persisted: the nightly training job,
    * billed once under Bench's builds. Classifier.train remains the
    * GD trainer the spec verifies; this artifact is the count-based
    * closed form whose inference an oracle can replay exactly.
    */
  def trainedWeights(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"classifier.trainedWeights:$dir") {
      val docs = Tables.documents(spark, dir)
      val seedCnt = docs.filter(col("doc_id") % 10 < 8)
        .select(yCol.as("y"), explode(Hashing.wordHashes(col("text"))).as("h"))
        .groupBy(col("y"), pmod(col("h"), lit(D.toLong)).as("j"))
        .agg(count(lit(1)).as("c"))
      val byJ = seedCnt.groupBy("j").agg(
        max(when(col("y") === 1, col("c"))).as("c1"),
        max(when(col("y") === 0, col("c"))).as("c0"))
      val totRow = seedCnt.groupBy("y").agg(sum("c").as("t")).agg(
        max(when(col("y") === 1, col("t"))).as("t1"),
        max(when(col("y") === 0, col("t"))).as("t0"))
      val ww = spark.range(D).select(col("id").as("j"))
        .join(byJ, Seq("j"), "left")
        .crossJoin(broadcast(totRow))
        .select(col("j"), expr(
          s"((coalesce(c1, 0L) + 1L) * $ClfScale) div (coalesce(t1, 0L) + $D) " +
            s"- ((coalesce(c0, 0L) + 1L) * $ClfScale) div (coalesce(t0, 0L) + $D)")
          .as("w"))
        .persist()
      ww.count()
      Seq(ww)
    }.head
  val ClfTrainedWeights = Build("clf_trained_weights", trainedWeights)

  /** clf_score_trained — inference under the STORED trained weights:
    * every document's integer margin Σ w(h mod D) from the broadcast
    * D-row artifact, normalized score, flag, and agreement with the
    * heuristic label it was distilled from (the deployment eval
    * column). Serve shape: map-side bucket collapse of the token
    * stream, one broadcast join against the artifact, one doc-keyed
    * partial aggregate — at 100 TB the weight table is trained once
    * nightly and broadcast, the same plan. The oracle recomputes the
    * identical weights from the train split in pure BIGINT SQL and
    * hash-checks trained-artifact inference end-to-end.
    */
  val scoreTrained = Q(
    "clf_score_trained", {
      val wh = Hashing.wordHashesSql("text")
      s"""WITH seedcnt AS (
         |  SELECT y, j, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT $ySql AS y, unnest($wh) % $D AS j
         |    FROM documents WHERE doc_id % 10 < 8)
         |  GROUP BY y, j),
         |byj AS (
         |  SELECT j, max(CASE WHEN y = 1 THEN c END) AS c1,
         |    max(CASE WHEN y = 0 THEN c END) AS c0
         |  FROM seedcnt GROUP BY j),
         |tot AS (
         |  SELECT max(CASE WHEN y = 1 THEN t END) AS t1,
         |    max(CASE WHEN y = 0 THEN t END) AS t0
         |  FROM (SELECT y, CAST(sum(c) AS BIGINT) AS t FROM seedcnt GROUP BY y)),
         |ww AS (
         |  SELECT g.j,
         |    ((COALESCE(b.c1, 0) + 1) * $ClfScale) // (COALESCE(t.t1, 0) + $D)
         |      - ((COALESCE(b.c0, 0) + 1) * $ClfScale) // (COALESCE(t.t0, 0) + $D) AS w
         |  FROM (SELECT unnest(range($D)) AS j) g
         |  LEFT JOIN byj b ON b.j = g.j
         |  CROSS JOIN tot t),
         |tok AS (
         |  SELECT doc_id, unnest($wh) % $D AS j FROM documents),
         |m AS (
         |  SELECT doc_id, CAST(sum(w) AS BIGINT) AS margin
         |  FROM tok JOIN ww USING (j) GROUP BY doc_id),
         |base AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         |    CAST(len($wh) AS BIGINT) AS n_tokens, $ySql AS y
         |  FROM documents)
         |SELECT b.doc_id, b.source, b.n_tokens,
         |  COALESCE(m.margin, 0) AS margin,
         |  CASE WHEN b.n_tokens > 0 THEN
         |    round(1e-9 + COALESCE(m.margin, 0) / (b.n_tokens * $ClfScale.0) + 1e-9, 6)
         |  END AS score,
         |  COALESCE(m.margin, 0) > 0 AS flagged,
         |  b.y = 1 AS heur_flag,
         |  (COALESCE(m.margin, 0) > 0) = (b.y = 1) AS agree
         |FROM base b LEFT JOIN m ON m.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin
    }, ClfTrainedWeights) { (spark, dir) =>
    val ww = trainedWeights(spark, dir)
    val docs = Tables.documents(spark, dir)
    val wh = Hashing.wordHashes(col("text"))
    val tok = docs
      .select(col("doc_id"), explode(wh).as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(D.toLong)).as("j"))
    val m = tok.join(broadcast(ww), Seq("j"))
      .groupBy("doc_id").agg(sum("w").as("margin"))
    docs.select(col("doc_id").cast("long").as("doc_id"), col("source"),
        size(wh).cast("long").as("n_tokens"), yCol.as("y"))
      .join(m, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        coalesce(col("margin"), lit(0L)).as("margin"),
        when(col("n_tokens") > 0,
          round(lit(1e-9) + coalesce(col("margin"), lit(0L)) /
            (col("n_tokens") * lit(ClfScale.toDouble)) + 1e-9, 6)).as("score"),
        (coalesce(col("margin"), lit(0L)) > 0).as("flagged"),
        (col("y") === 1).as("heur_flag"),
        ((coalesce(col("margin"), lit(0L)) > 0) === (col("y") === 1)).as("agree"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(score, calibration, scoreTrained)
}
