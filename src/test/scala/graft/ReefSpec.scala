package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.StorageProbe
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** ma_reef_cka's values against an independent twin: reef.py's own
  * cross-moment form ‖YᵀX‖²_F / √(‖XᵀX‖²_F·‖YᵀY‖²_F) over
  * column-centred X, Y (reef.py:37-69), where the operator uses the
  * double-centred Gram form. Each label's sample is its rows in
  * vec_id order, truncated to the same n.
  */
class ReefSpec extends AnyFunSuite {
  import SparkTestSession._

  private type Sample = Array[Array[Double]]

  private def crossMoment(a: Sample, b: Sample): Double = {
    var s = 0d
    for (i <- b.head.indices; j <- a.head.indices) {
      var c = 0d
      for (k <- a.indices) c += b(k)(i) * a(k)(j)
      s += c * c
    }
    s
  }

  private def centred(m: Sample): Sample = {
    val mu = m.head.indices.map(j => m.map(_(j)).sum / m.length)
    m.map(r => r.indices.map(j => r(j) - mu(j)).toArray)
  }

  private def twinCka(x: Sample, y: Sample): Double = {
    val (xc, yc) = (centred(x), centred(y))
    val den = math.sqrt(crossMoment(xc, xc) * crossMoment(yc, yc))
    if (den < 1e-10) 0d else crossMoment(xc, yc) / den
  }

  /** Every label's first `n` vectors by vec_id. */
  private def samples(dir: String, n: Int): Map[Long, Sample] =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("label").cast("long"), col("vec_id"), col("embedding")).collect()
      .groupBy(_.getLong(0)).map { case (l, rs) =>
        l -> rs.sortBy(_.getLong(1)).take(n).map(_.getSeq[Float](2).map(_.toDouble).toArray)
      }

  private def served(dir: String): Map[(Long, Long), Double] = {
    val rows = SparkEntry.queries("ma_reef_cka")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted, "rows come in (label_a, label_b) order")
    rows.toMap
  }

  private def assertMatchesTwin(dir: String, n: Int, tol: Double): Unit = {
    val s = samples(dir, n)
    val labels = s.keys.toSeq.sorted
    val want = (for (a <- labels; b <- labels if a < b) yield (a, b) -> twinCka(s(a), s(b))).toMap
    val got = served(dir)
    assert(got.keySet == want.keySet)
    want.foreach { case (k, w) =>
      assert(math.abs(got(k) - w) <= tol, s"CKA$k = ${got(k)}, twin $w")
    }
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Serve against a private embeddings table of (vec_id, vector, label). */
  private def withTable(rows: Seq[(Long, Array[Float], Int)])(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-reef").toString
    try {
      spark.createDataFrame(rows.map { case (id, v, l) => Row(id, v.toSeq, l) }.asJava, embSchema)
        .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      body(dir)
    } finally {
      SessionMemo.release(spark, s"reef.cka:$dir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  private def gaussian(rng: Random, rows: Int, dim: Int): Array[Array[Float]] =
    Array.fill(rows, dim)(rng.nextGaussian().toFloat)

  test("ma_reef_cka equals the cross-moment twin at sf0.001; both REEF schemas hold") {
    val counts = spark.read.parquet(s"$sf/embeddings.parquet").groupBy("label").count()
      .collect().map(_.getLong(1))
    assertMatchesTwin(sf, math.min(operators.Reef.MaxN.toLong, counts.min).toInt, 1e-6)
    assert(SparkEntry.queries("ma_reef_cka")(spark, sf).schema == StructType(Seq(
      StructField("label_a", LongType), StructField("label_b", LongType),
      StructField("cka", DoubleType))))
    assert(SparkEntry.queries("ma_reef_compare")(spark, sf).schema == StructType(Seq(
      StructField("model_a", StringType, nullable = false),
      StructField("model_b", StringType, nullable = false),
      StructField("num_layers_compared", LongType, nullable = false),
      StructField("similarity", DoubleType), StructField("is_derived", BooleanType),
      StructField("confidence", DoubleType))))
  }

  test("a rotated, scaled copy gives CKA 1; a constant label gives 0; serving persists nothing") {
    val rng = new Random(11)
    val (rows, dim) = (24, 8)
    val x = gaussian(rng, rows, dim)
    // two Householder reflections make a rotation; times 2
    def reflect(v: Array[Double], u: Array[Double]): Array[Double] = {
      val k = 2 * v.indices.map(i => v(i) * u(i)).sum / u.map(w => w * w).sum
      v.indices.map(i => v(i) - k * u(i)).toArray
    }
    val (u1, u2) = (Array.fill(dim)(rng.nextGaussian()), Array.fill(dim)(rng.nextGaussian()))
    val y = x.map(r => reflect(reflect(r.map(_.toDouble), u1), u2).map(w => (2 * w).toFloat))
    val constant = Array.fill(rows)(Array.fill(dim)(0.25f))
    val other = gaussian(rng, rows, dim)
    val table = Seq(x, y, constant, other).zipWithIndex.flatMap { case (m, l) =>
      m.indices.map(k => (l * 1000L + k, m(k), l))
    }
    withTable(table) { dir =>
      val before = StorageProbe.rddsWithBlocks()
      val got = served(dir)
      assert(StorageProbe.rddsWithBlocks() == before, "serving ma_reef_cka persisted blocks")
      assert(math.abs(got((0L, 1L)) - 1d) <= 1e-9, s"CKA(0, 1) = ${got((0L, 1L))}")
      Seq((0L, 2L), (1L, 2L), (2L, 3L)).foreach(k => assert(got(k) == 0d, s"CKA$k = ${got(k)}"))
      assert(got((0L, 3L)) < 0.9)
    }
  }

  test("unequal label counts truncate every label to the smallest count") {
    val rng = new Random(12)
    val table = Seq(0 -> 9, 1 -> 5, 2 -> 7).flatMap { case (l, cnt) =>
      rng.shuffle((0 until cnt).toList).map(k => (l * 1000L + k, gaussian(rng, 1, 6).head, l))
    }
    withTable(table)(dir => assertMatchesTwin(dir, 5, 1e-6))
  }

  test("an empty table and a single label give no CKA rows") {
    withTable(Nil)(dir => assert(served(dir).isEmpty))
    val rng = new Random(13)
    withTable((0 until 6).map(k => (k.toLong, gaussian(rng, 1, 4).head, 7)))(dir =>
      assert(served(dir).isEmpty))
  }
}
