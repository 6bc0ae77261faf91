package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus topic clustering: deterministic spherical k-means over the
  * embedding column — the pre-clustering step SemDeDup-style pipelines
  * run before pairwise work, and the topic-bucketing step a data-mix
  * designer uses to see what a corpus contains. Reference analog: the
  * toolkit's REEF representation compare (reef.py:37-69) consumes the
  * same embedding table; clustering is the unsupervised view of it.
  *
  * Same determinism discipline as ann_ivf's coarse quantizer (which is
  * one Lloyd iteration of exactly this loop): the k smallest vec_ids
  * seed the centroids, each refinement rounds the per-dimension means
  * to 6 dp with the uniform 1e-9 nudge — pinning the centroids
  * bit-exactly across engines and across Spark's own partial-agg
  * summation orders — and every argmax is an aggregation with the
  * (ccos DESC, cid ASC) tie-break, never a window over the corpus.
  *
  * Scale shape: per-iteration cost is one map-only broadcast-centroid
  * scoring pass (k=8 rows broadcast) plus one map-side-combined
  * (cid, dim) mean — shuffle rows bounded by k·Dim·partitions, never
  * by corpus size. Two iterations, so the whole query is two passes
  * over the vectors. At 100 TB: linear, no pairwise surface.
  */
object Cluster {

  val K = 8
  val Iters = 2

  /** One Lloyd refinement: per-cluster coordinate means of the vectors
    * assigned to it (rounded — see above), renormed.
    */
  private def refine(c: DataFrame, assigned: DataFrame): DataFrame =
    assigned
      .join(c.select(col("vec_id"), col("e")), Seq("vec_id"))
      .select(col("cell").as("cid"), posexplode(col("e")).as(Seq("i", "x")))
      .groupBy("cid", "i")
      .agg(round(lit(1e-9) + avg("x"), 6).as("m"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("ce"))
      .withColumn("cn", sqrt(Ann.dotC(col("ce"), col("ce"))))

  /** argmax cluster per vector, KEEPING the winning cosine (Ann's
    * argmaxCell drops it): partial-aggregated struct-max, same
    * tie-break as a (ccos DESC, cid) rank.
    */
  private def argmaxWithScore(scored: DataFrame): DataFrame =
    scored.groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"), col("cid").as("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"), col("m.ccos").as("ccos"))

  /** One-time memoized training of the k final centroids (the two
    * Lloyd iterations) — the build/serve separation every index in
    * the engine uses: train once, then km_topics and km_profile each
    * pay only ONE scoring pass over the corpus instead of re-running
    * the whole refinement chain.
    */
  private[graft] def centroids(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"cluster.centroids:$dir") {
      val c = Ann.corpus(spark, dir)
      val cent0 = c.filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
      val centFinal = (1 to Iters).foldLeft(cent0) { (cent, _) =>
        refine(c, Ann.argmaxCell(Ann.scoreAgainst(c, cent)))
      }.persist()
      centFinal.count()
      Seq(centFinal)
    }.head
  val KmCentroids = Build("km_centroids", centroids)

  /** The WITH-chain deriving s3 (every vector scored against the two-
    * iteration centroids) — shared by the topics, profile and
    * silhouette oracles.
    */
  private def s3ChainSql: String = {
    val dims = s"(SELECT unnest(generate_series(1, ${Ann.Dim})) AS i)"
    def scoreSql(cent: String) =
      s"SELECT c.vec_id, cid, list_dot_product(e, ce) / (nrm * cn) AS ccos FROM c, $cent"
    def refineSql(prev: String) =
      s"""SELECT cid, ce, sqrt(list_dot_product(ce, ce)) AS cn FROM (
         |    SELECT cid, list(m ORDER BY i) AS ce FROM (
         |      SELECT cid, i, round(1e-9 + avg(e[i]), 6) AS m
         |      FROM (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         |          FROM $prev) WHERE rn = 1) a
         |        JOIN c USING (vec_id), $dims
         |      GROUP BY cid, i) GROUP BY cid)""".stripMargin
    s"""c AS (${Ann.corpusSql}),
       |cent0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM c WHERE vec_id < $K),
       |s1 AS (${scoreSql("cent0")}),
       |cent1 AS (${refineSql("s1")}),
       |s2 AS (${scoreSql("cent1")}),
       |cent2 AS (${refineSql("s2")}),
       |s3 AS (${scoreSql("cent2")})""".stripMargin
  }

  val topics = Q(
    "km_topics",
    s"""WITH $s3ChainSql
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster, round(1e-9 + ccos, 6) AS ccos
       |FROM (SELECT vec_id, cid, ccos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |  FROM s3) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin, KmCentroids) { (spark, dir) =>
    assignment(spark, dir).orderBy("vec_id")
  }

  /** The serve-path assignment (one scoring pass against the memoized
    * centroids), unsorted — km_profile aggregates it directly so its
    * plan has no useless corpus-wide range sort under the agg.
    */
  private def assignment(spark: SparkSession, dir: String): DataFrame =
    argmaxWithScore(Ann.scoreAgainst(Ann.corpus(spark, dir), centroids(spark, dir)))
      .select(col("vec_id"), col("cell").cast("long").as("cluster"),
        round(lit(1e-9) + col("ccos"), 6).as("ccos"))

  /** Cluster profile — the table a mix designer actually reads: per
    * cluster its member count, mean cohesion (mean winning cosine),
    * and share of the corpus. One narrow agg over km_topics' output.
    */
  val profile = Q(
    "km_profile", {
      val topicsSql = topics.oracle.get.replaceAll("\nORDER BY vec_id$", "")
      s"""WITH t AS ($topicsSql)
         |SELECT cluster, count(*) AS n_members,
         |  round(1e-9 + avg(ccos) + 1e-9, 6) AS cohesion,
         |  round(1e-9 + count(*) / CAST((SELECT count(*) FROM t) AS DOUBLE) + 1e-9, 6) AS share
         |FROM t GROUP BY cluster
         |ORDER BY cluster""".stripMargin
    }, KmCentroids) { (spark, dir) =>
    // one corpus pass: the total is a global-frame window over the k
    // ALREADY-AGGREGATED rows (a second agg branch would recompute the
    // scoring subplan — a whole extra corpus scan; a window over k=8
    // post-agg rows is a single tiny task at any corpus size)
    assignment(spark, dir).groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        round(lit(1e-9) + avg("ccos") + 1e-9, 6).as("cohesion"))
      .withColumn("tot",
        sum("n_members").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("cluster"), col("n_members"),
        col("cohesion"),
        round(lit(1e-9) + col("n_members") / col("tot").cast("double") + 1e-9, 6).as("share"))
      .orderBy("cluster")
  }

  /** km_silhouette — simplified (centroid-based) silhouette per
    * cluster, THE standard clustering-quality diagnostic: for each
    * vector a = cosine distance to its own centroid, b = distance to
    * the nearest OTHER centroid, s = (b − a)/max(a, b) ∈ [−1, 1];
    * clusters reported with member count, mean and min silhouette.
    * The full-pairwise silhouette is O(N²); the centroid form is the
    * one any production pipeline computes, and it reuses the serve
    * pass: ONE scoring of the corpus against the k memoized centroids,
    * then a single per-vector aggregation collecting the k cosines
    * (k=8 structs — bounded), then an 8-row agg. No pairwise surface,
    * no window over the corpus.
    */
  val silhouette = Q(
    "km_silhouette",
    s"""WITH $s3ChainSql,
       |ranked AS (
       |  SELECT vec_id, cid, ccos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |  FROM s3),
       |pv AS (
       |  SELECT vec_id,
       |    max(CASE WHEN rn = 1 THEN cid END) AS cluster,
       |    max(CASE WHEN rn = 1 THEN ccos END) AS c1,
       |    max(CASE WHEN rn = 2 THEN ccos END) AS c2
       |  FROM ranked GROUP BY vec_id)
       |SELECT CAST(cluster AS BIGINT) AS cluster,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  round(1e-9 + avg((c1 - c2) / greatest(1 - c1, 1 - c2, 1e-12)) + 1e-9, 6) AS avg_sil,
       |  round(1e-9 + min((c1 - c2) / greatest(1 - c1, 1 - c2, 1e-12)) + 1e-9, 6) AS min_sil
       |FROM pv GROUP BY cluster
       |ORDER BY cluster""".stripMargin, KmCentroids) { (spark, dir) =>
    val scored = Ann.scoreAgainst(Ann.corpus(spark, dir), centroids(spark, dir))
    // ONE aggregation: all k cosines per vector, sorted (ccos DESC,
    // cid ASC) via the negated-struct trick — a[0] is the assignment,
    // a[1] the nearest other centroid
    val pv = scored.groupBy("vec_id")
      .agg(array_sort(collect_list(struct((-col("ccos")).as("nc"), col("cid")))).as("a"))
      .select(col("vec_id"),
        col("a").getItem(0).getField("cid").as("cluster"),
        (-col("a").getItem(0).getField("nc")).as("c1"),
        (-col("a").getItem(1).getField("nc")).as("c2"))
    val sil = (col("c1") - col("c2")) /
      greatest(lit(1d) - col("c1"), lit(1d) - col("c2"), lit(1e-12))
    pv.groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n_members"),
        round(lit(1e-9) + avg(sil) + 1e-9, 6).as("avg_sil"),
        round(lit(1e-9) + min(sil) + 1e-9, 6).as("min_sil"))
      .orderBy("cluster")
  }

  val all: Seq[Q] = Seq(topics, profile, silhouette)
}
