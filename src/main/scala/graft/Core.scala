package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A one-time artifact that queries serve from: an index, a layout, a
  * persisted edge set. `run` builds it, memoized per session and dir,
  * so a second run is a hit. Each is declared once, beside the function
  * that builds it, and named by every [[Q]] that reads it; `graft.Bench`
  * runs the builds of the queries it times, untimed, under `name`.
  */
final case class Build(name: String, run: (SparkSession, String) => Any)

/** One registered operator: a Spark query plus (optionally) the
  * equivalent DuckDB oracle SQL over the same parquet tables, and the
  * builds it serves from — after those, serving it builds nothing more.
  * Column names and rounding must match exactly between the two —
  * the driver sorts columns by name and hashes values.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    builds: Seq[Build])

object Q {
  def apply(name: String, oracle: String, builds: Build*)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle), builds)
}

/** Parquet table loaders. One read per table; Catalyst prunes
  * columns/pushes filters into the scan, so loaders stay dumb.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The local test tables are single-row-group parquet files, which
    * Spark cannot split — every downstream map would run on ONE core.
    * On a real cluster the scan has thousands of splits and this is
    * unnecessary; here a cheap round-robin repartition restores the
    * parallelism the file layout denies us.
    */
  private def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)

  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  /** events.ts has shipped in three physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (read as a nanos long via
    * the legacy conf and truncated to micros — the same floor DuckDB
    * applies when it narrows ns→us), naive micros TIMESTAMP_NTZ
    * (pandas-written, isAdjustedToUTC=false), and UTC micros
    * TIMESTAMP. Normalize all three to session-zone TIMESTAMP here —
    * the session runs in UTC, so NTZ wall-clock values map to the
    * identical instant DuckDB's epoch() sees — and keep every
    * downstream query on one type.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = loadSpread(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = loadSpread(spark, dir, "embeddings")

  /** Catalog-safe tag derived from a data directory, appended to
    * managed layout-table names (bucketed/partitioned builds) so each
    * scale factor owns its own warehouse path. Without it, two JVMs —
    * or one JVM alternating SFs — write the SAME table location and
    * one side reads files the other just deleted (a concurrent
    * test-suite + Verify run hit exactly that FILE_NOT_EXIST race).
    */
  def tableTag(dir: String): String = {
    val sanitized = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    // The sanitized form alone collides for dirs that normalize
    // identically (/data/sf0.1 vs /data/sf0_1), which would reintroduce
    // the very concurrent-writer race the tag exists to prevent — a
    // short stable hash of the RAW string keeps distinct dirs distinct.
    val h = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
    s"${sanitized}_$h"
  }
}
