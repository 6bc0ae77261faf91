package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-pruned data layout — the third production layout tool
  * next to bucketing (ScaleJoins.writeBucketed) and indexes (Ann):
  * a fact table written hive-partitioned by a low-cardinality derived
  * key, so time-sliced queries read ONLY the matching directories.
  * At 100 TB this is the difference between scanning a year (~1/7 of
  * the corpus) and scanning everything — pruning happens at planning
  * time from directory names, before a single parquet footer of an
  * excluded partition is opened.
  *
  * Mechanics mirror writeBucketed: a managed table (re)written when
  * the build inputs change, memoized per JVM so recurring queries
  * time the pruned READ, not the one-time layout job. LayoutSpec
  * asserts the plan prunes: the scan's partitionFilters are non-empty
  * and the selected file set shrinks vs. the full table.
  */
object Layout {

  /** What each partitioned table was last built from. */
  private val partitionedBuilt =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** Write `df` as a managed parquet table partitioned by `key`,
    * dropping any previous incarnation (including a stale warehouse
    * directory a fresh in-memory catalog has never heard of).
    */
  def writePartitioned(df: DataFrame, table: String, key: String): Unit = {
    val spark = df.sparkSession
    require(!table.contains("."),
      s"writePartitioned expects an unqualified default-database table name, got '$table'")
    val loc =
      if (spark.catalog.tableExists(table))
        new org.apache.hadoop.fs.Path(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
          .location)
      else
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite").partitionBy(key).saveAsTable(table)
  }

  /** Idempotent layout build (the ensureBucketed twin). */
  def ensurePartitioned(
      spark: SparkSession, df: => DataFrame, table: String, key: String,
      dir: String): Unit = {
    val want = (dir, key)
    if (!partitionedBuilt.get(table).contains(want) || !spark.catalog.tableExists(table)) {
      writePartitioned(df, table, key)
      partitionedBuilt(table) = want
    }
  }

  /** The one-time layout build for [[partitionPrune]]: lineitem's
    * pruned-projection written partitioned by ship year (7 partitions
    * here; day or month granularity at production volume). Table name
    * is keyed by the data dir (Tables.tableTag) so concurrent or
    * alternating scale factors never share a warehouse path; returns
    * the table name for the read side.
    */
  def ensureLineitemByYear(spark: SparkSession, dir: String): String = {
    val table = s"graft_li_byyear_${Tables.tableTag(dir)}"
    ensurePartitioned(spark, Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), year(col("l_shipdate")).as("ship_year")),
      table, "ship_year", dir)
    table
  }
  val PrunedLayout = Build("pruned_layout", ensureLineitemByYear)

  /** Registered query exercising the pruned path end-to-end: the 1996
    * pricing summary read from the year-partitioned layout. The
    * planner turns `ship_year = 1996` into a partition filter — only
    * the 1996 directory is listed and scanned (plan-asserted in
    * LayoutSpec); the oracle computes the same numbers from the flat
    * table with a row filter.
    */
  val partitionPrune = Q(
    "q18_partition_prune",
    """SELECT l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  round(1e-9 + sum(l_quantity), 2) AS sum_qty,
      |  round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |WHERE year(l_shipdate) = 1996
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin, PrunedLayout) { (spark, dir) =>
    val table = ensureLineitemByYear(spark, dir)
    spark.table(table)
      .filter(col("ship_year") === 1996)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        round(lit(1e-9) + sum("l_quantity"), 2).as("sum_qty"),
        round(lit(1e-9) + sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Dynamic partition pruning — the RUNTIME sibling of q18's static
    * prune: the year-partitioned fact is semi-joined to orders
    * filtered by a date range, and the planner inserts a dynamic
    * pruning subquery on `ship_year` (no static partition predicate
    * exists anywhere in the query). At execution the filtered dim
    * side's distinct years are computed first and only the matching
    * fact directories are scanned — at 100 TB this is how a
    * "join-to-the-date-dim" query avoids reading the whole fact even
    * though the fact itself carries no filter. LayoutSpec asserts the
    * scan's partition filters contain the dynamic pruning expression.
    *
    * The oracle states the identical semantics over the flat tables:
    * lineitem rows whose ship year appears among the filtered orders'
    * years.
    */
  val dppJoin = Q(
    "q22_dpp",
    """SELECT year(l_shipdate) AS ship_year,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  round(1e-9 + sum(l_quantity), 2) AS sum_qty,
      |  round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |WHERE year(l_shipdate) IN (
      |  SELECT DISTINCT year(o_orderdate) FROM orders
      |  WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31')
      |GROUP BY 1
      |ORDER BY ship_year""".stripMargin, PrunedLayout) { (spark, dir) =>
    val table = ensureLineitemByYear(spark, dir)
    // distinct BEFORE the join: the semi-join build side and the DPP
    // subquery both see ≤|years| rows instead of every filtered order
    // (measured 7.9 → ~2 s at sf10 — broadcasting 2.8 M un-distinct
    // year rows was pure waste)
    val dimYears = Tables.orders(spark, dir)
      .filter(col("o_orderdate").between("1996-01-01", "1997-12-31"))
      .select(year(col("o_orderdate")).as("yr"))
      .distinct()
    // broadcast hint is justified by the policy (SF-independent side
    // only): distinct YEARS are calendar-bounded regardless of corpus
    // size. Without it the static planner sort-merges, shuffling the
    // whole pruned fact (17 M rows at sf10) against a ≤7-row build.
    spark.table(table)
      .join(broadcast(dimYears), col("ship_year") === col("yr"), "left_semi")
      .groupBy("ship_year")
      .agg(
        count(lit(1)).as("n_items"),
        round(lit(1e-9) + sum("l_quantity"), 2).as("sum_qty"),
        round(lit(1e-9) + sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("ship_year")
  }

  private val ZBits = 16   // per-dimension grid resolution
  private val ZBuckets = 64 // top-6-bit z ranges → an 8×8 (part, supp) grid

  /** Z-order (Morton-curve) layout — the MULTI-dimensional sibling of
    * q18's one-dimensional partitioning: bits of the two clustering
    * keys interleave into one sort key, so contiguous z-ranges are
    * tight rectangles in (part, supp) space and min/max file stats
    * prune scans filtered on EITHER dimension (the Delta/Iceberg
    * OPTIMIZE ZORDER idea). A one-dim sort would leave the second
    * key's per-file range at full width — zero skipping for its
    * filters; z-order bounds both.
    *
    * The query maps each lineitem to the 2^16 grid (integer-only
    * normalization — (k−min)·2^16 div (range+1) — so both engines
    * land on identical cells), interleaves 16 bits per dimension,
    * buckets rows by the top 6 z bits, and reports each bucket's
    * min/max on both keys plus its area share of the global
    * rectangle. The numbers ARE the data-skipping story: ~1/64 area
    * per bucket means a point filter on either key touches ~8 of 64
    * buckets (one grid strip). LayoutSpec additionally WRITES the
    * z-sorted layout via repartitionByRange(z) and asserts every
    * written file's key rectangles are tight — the stats any parquet
    * reader would prune with. Map-only + one 64-group agg; the
    * interleave is 32 codegen'd shift/mask terms, no shuffle beyond
    * the final tiny aggregation.
    */
  val zorder = Q(
    "q31_zorder", {
      def interleaveSql(px: String, sx: String): String =
        (0 until ZBits).flatMap { i =>
          Seq(s"((($px >> $i) & 1) << ${2 * i})",
              s"((($sx >> $i) & 1) << ${2 * i + 1})")
        }.mkString(" + ")
      s"""WITH b AS (
         |  SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
         |         min(l_suppkey) AS mins, max(l_suppkey) AS maxs
         |  FROM lineitem),
         |g AS (
         |  SELECT l_partkey AS p, l_suppkey AS s,
         |    ((l_partkey - minp) * ${1 << ZBits}) // (maxp - minp + 1) AS px,
         |    ((l_suppkey - mins) * ${1 << ZBits}) // (maxs - mins + 1) AS sx,
         |    minp, maxp, mins, maxs
         |  FROM lineitem, b),
         |z AS (
         |  SELECT p, s, minp, maxp, mins, maxs,
         |    (${interleaveSql("px", "sx")}) >> ${2 * ZBits - 6} AS bucket
         |  FROM g)
         |SELECT bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  min(p) AS min_p, max(p) AS max_p,
         |  min(s) AS min_s, max(s) AS max_s,
         |  round(1e-9 + CAST((max(p) - min(p) + 1) * (max(s) - min(s) + 1) AS DOUBLE)
         |    / ((max(maxp) - max(minp) + 1) * (max(maxs) - max(mins) + 1)), 6)
         |    AS area_share
         |FROM z
         |GROUP BY bucket
         |ORDER BY bucket""".stripMargin
    }) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir)
    val b = li.agg(
      min("l_partkey").as("minp"), max("l_partkey").as("maxp"),
      min("l_suppkey").as("mins"), max("l_suppkey").as("maxs"))
    val g = li.select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .crossJoin(broadcast(b))
      .withColumn("px", expr(s"((p - minp) * ${1 << ZBits}) div (maxp - minp + 1)"))
      .withColumn("sx", expr(s"((s - mins) * ${1 << ZBits}) div (maxs - mins + 1)"))
    val zcol = (0 until ZBits).flatMap { i =>
      Seq(shiftleft(shiftright(col("px"), i).bitwiseAND(lit(1L)), 2 * i),
          shiftleft(shiftright(col("sx"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)
    g.withColumn("bucket", shiftright(zcol, 2 * ZBits - 6))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        min("p").as("min_p"), max("p").as("max_p"),
        min("s").as("min_s"), max("s").as("max_s"),
        round(lit(1e-9) +
          ((max("p") - min("p") + 1) * (max("s") - min("s") + 1)).cast("double") /
          ((max("maxp") - max("minp") + 1) * (max("maxs") - max("mins") + 1)), 6)
          .as("area_share"))
      .orderBy("bucket")
  }

  /** The z-value column for LayoutSpec's physical write: same grid,
    * same interleave, over any frame carrying (p, s, minp…maxs).
    */
  def zValue(px: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZBits).flatMap { i =>
      Seq(shiftleft(shiftright(px, i).bitwiseAND(lit(1L)), 2 * i),
          shiftleft(shiftright(sx, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)

  /** One-time memoized global key bounds — the grid normalization the
    * z-layout build AND its readers share (a production table keeps
    * these in layout metadata; a 1-row frame stands in). Persisted so
    * serve-time candidate-bucket math never rescans the corpus.
    */
  private[graft] def zorderBounds(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"layout.zorderBounds:$dir") {
      val b = Tables.lineitem(spark, dir).agg(
        min("l_partkey").as("minp"), max("l_partkey").as("maxp"),
        min("l_suppkey").as("mins"), max("l_suppkey").as("maxs")).persist()
      b.count()
      Seq(b)
    }.head
  val ZorderBounds = Build("zorder_bounds", zorderBounds)

  /** The one-time z-order LAYOUT build for [[zorderRead]]: lineitem's
    * pruned projection written hive-partitioned by the 6-bit z bucket
    * (64 directories; file-level z clustering at production volume —
    * this is Delta/Iceberg OPTIMIZE ZORDER with the bucket as the
    * skipping unit). q31_zorder REPORTS the rectangles; this build
    * makes them a physical read path.
    */
  def ensureLineitemZorder(spark: SparkSession, dir: String): String = {
    val table = s"graft_li_zorder_${Tables.tableTag(dir)}"
    ensurePartitioned(spark, {
      Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .crossJoin(broadcast(zorderBounds(spark, dir)))
        .withColumn("px", expr(s"((l_partkey - minp) * ${1 << ZBits}) div (maxp - minp + 1)"))
        .withColumn("sx", expr(s"((l_suppkey - mins) * ${1 << ZBits}) div (maxs - mins + 1)"))
        .withColumn("zbucket", shiftright(zValue(col("px"), col("sx")), 2 * ZBits - 6))
        .drop("px", "sx", "minp", "maxp", "mins", "maxs")
    }, table, "zbucket", dir)
    table
  }
  val ZorderLayout = Build("zorder_layout", ensureLineitemZorder)

  /** The part key [[zorderRead]] probes — exists at every SF (part
    * keys are dense from 1; the smallest corpus has 200).
    */
  private val ZReadKey = 100L

  /** The candidate z buckets for a point predicate on l_partkey — the
    * 8-bucket strip: the key fixes px's top 3 bits (bucket bits 0, 2,
    * 4 under the interleave), the supplier dimension's 3 bits range
    * free. Driver-side integer math on the memoized 1-row bounds.
    */
  private def zStripBuckets(spark: SparkSession, dir: String, k: Long): Seq[Long] = {
    val b = zorderBounds(spark, dir).collect()(0)
    if (b.isNullAt(0)) Seq.empty
    else {
      val minp = b.getLong(0); val maxp = b.getLong(1)
      val px = ((k - minp) * (1L << ZBits)) / (maxp - minp + 1)
      val pxPart = ((px >> 13) & 1) + (((px >> 14) & 1) << 2) + (((px >> 15) & 1) << 4)
      (0 until 8).map { m =>
        pxPart + ((m & 1L) << 1) + (((m >> 1) & 1L) << 3) + (((m >> 2) & 1L) << 5)
      }
    }
  }

  /** The pruned strip read (pre-aggregation) — split out so LayoutSpec
    * can assert the scan's partition filters and file-set shrink.
    */
  private[graft] def zorderStrip(spark: SparkSession, dir: String): DataFrame = {
    val table = ensureLineitemZorder(spark, dir)
    val cand = zStripBuckets(spark, dir, ZReadKey)
    val stripped =
      if (cand.isEmpty) spark.table(table).filter(lit(false))
      else spark.table(table).filter(col("zbucket").isin(cand: _*))
    stripped.filter(col("l_partkey") === ZReadKey)
  }

  /** q44_zorder_read — the SERVE half of the z-order story: a point
    * query on one clustering key reads the z-partitioned layout
    * through the candidate-bucket strip (≤ 8 of 64 directories listed
    * — static partition pruning from driver-side Morton math on the
    * stored bounds), with the row predicate pushed into the surviving
    * parquet scans. q31_zorder pinned the rectangles; this query is
    * the file-skipping read they exist for. The oracle states the
    * identical semantics as a flat row filter — the bucket strip is
    * a pure superset of the key's rows by construction, so the
    * layouts agree exactly.
    */
  val zorderRead = Q(
    "q44_zorder_read",
    s"""SELECT l_suppkey,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  round(1e-9 + sum(l_quantity), 2) AS sum_qty,
       |  round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       |FROM lineitem
       |WHERE l_partkey = $ZReadKey
       |GROUP BY l_suppkey
       |ORDER BY l_suppkey""".stripMargin, ZorderLayout, ZorderBounds) { (spark, dir) =>
    zorderStrip(spark, dir)
      .groupBy("l_suppkey")
      .agg(
        count(lit(1)).as("n_items"),
        round(lit(1e-9) + sum("l_quantity"), 2).as("sum_qty"),
        round(lit(1e-9) + sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("l_suppkey")
  }

  val all: Seq[Q] = Seq(partitionPrune, dppJoin, zorder, zorderRead)
}
