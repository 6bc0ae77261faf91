package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation (the Deequ/dbt-tests shape):
  * a suite of named checks over the warehouse tables — primary-key
  * uniqueness, value compliance, consistency between a stored column
  * and its definition, and referential integrity — each reported as
  * (table, check, row count, violation count, pass).
  *
  * Scale shape: every SCAN check on a table fuses into ONE
  * conditional-aggregation pass (sum(CASE WHEN violated)) — adding a
  * check adds a column to the aggregate, not a scan; the 1-row agg
  * result fans out to check rows via stack() on the driver-sized
  * frame. Referential checks are LEFT ANTI joins carrying only the
  * key column on both sides (AQE free to broadcast the distinct
  * parent keys or shuffle past broadcast reach — no hint, the
  * tx_unigram_ppl posture, since at 100 TB a parent table can exceed
  * the driver). Reference analog: the toolkit validates its input
  * response sets before fingerprinting (engine.py:107-163 rejects
  * malformed/empty corpora); this is that gate at warehouse scale.
  */
object DataQuality {

  /** Violating-row count for a child→parent FK: rows whose key has no
    * parent (NULL keys never match, so they count — same as the anti
    * join on raw rows this replaces). The child is pre-aggregated to
    * (key, multiplicity) BEFORE the anti join (guide §2.3 "aggregate
    * before you shuffle"): the per-key partial aggregation combines
    * map-side, so the exchange carries one row per distinct child key
    * instead of one per child row (lineitem at 100× ships ~15M pairs,
    * not 60M keys), and the join reuses that exchange's partitioning.
    * Σ multiplicity over unmatched keys ≡ the raw anti-join row count.
    */
  private def fkViolations(child: DataFrame, key: String, parent: DataFrame, pkey: String): DataFrame =
    child.select(col(key)).groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .join(parent.select(col(pkey)).distinct(),
        col(key) === col(pkey), "left_anti")
      .agg(coalesce(sum("cnt"), lit(0L)).as("violations"))

  val audit = Q(
    "dq_audit",
    """SELECT tbl, chk, n_rows, violations, violations = 0 AS pass FROM (
      |  SELECT 'documents' AS tbl, 'nchars_consistent' AS chk,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN n_chars IS NULL OR text IS NULL
      |      OR n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS violations
      |  FROM documents
      |  UNION ALL
      |  SELECT 'documents', 'nonempty_text', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'lineitem', 'fk_orderkey_orders',
      |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
      |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
      |      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |  UNION ALL
      |  SELECT 'lineitem', 'qty_range_1_50', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
      |      THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders', 'fk_custkey_customer',
      |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
      |    (SELECT CAST(count(*) AS BIGINT) FROM orders o
      |      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |  UNION ALL
      |  SELECT 'orders', 'nonneg_totalprice', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders', 'pk_unique_orderkey', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      |  FROM orders
      |)
      |ORDER BY tbl, chk""".stripMargin) { (spark, dir) =>
    val orders = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val docs = Tables.documents(spark, dir)

    def viol(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))

    // one conditional-aggregation scan per table, fanned out to
    // (chk, violations) rows by stack() on the 1-row result
    val docChecks = docs.agg(
      count(lit(1)).as("n_rows"),
      viol(col("n_chars").isNull || col("text").isNull ||
        col("n_chars") =!= length(col("text"))).as("v_nchars"),
      viol(col("text").isNull || length(col("text")) === 0).as("v_empty"))
      .selectExpr("'documents' AS tbl", "n_rows",
        "stack(2, 'nchars_consistent', v_nchars, 'nonempty_text', v_empty) AS (chk, violations)")
    val liScan = li.agg(
      count(lit(1)).as("n_rows"),
      viol(col("l_quantity").isNull || col("l_quantity") < 1 || col("l_quantity") > 50)
        .as("v_qty"))
      .selectExpr("'lineitem' AS tbl", "n_rows",
        "stack(1, 'qty_range_1_50', v_qty) AS (chk, violations)")
    val oScan = orders.agg(
      count(lit(1)).as("n_rows"),
      viol(col("o_totalprice").isNull || col("o_totalprice") <= 0).as("v_price"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_pk"))
      .selectExpr("'orders' AS tbl", "n_rows",
        "stack(2, 'nonneg_totalprice', v_price, 'pk_unique_orderkey', v_pk) AS (chk, violations)")
    // referential integrity: key-only anti joins; the table's row
    // count rides in from its scan-check aggregate (1-row cross join)
    val liFk = fkViolations(li, "l_orderkey", orders, "o_orderkey")
      .crossJoin(liScan.select(col("n_rows")).limit(1))
      .select(lit("lineitem").as("tbl"), col("n_rows"),
        lit("fk_orderkey_orders").as("chk"), col("violations"))
    val oFk = fkViolations(orders, "o_custkey", customer, "c_custkey")
      .crossJoin(oScan.select(col("n_rows")).limit(1))
      .select(lit("orders").as("tbl"), col("n_rows"),
        lit("fk_custkey_customer").as("chk"), col("violations"))

    docChecks.unionByName(liScan).unionByName(oScan)
      .unionByName(liFk).unionByName(oFk)
      .select(col("tbl"), col("chk"), col("n_rows"), col("violations"),
        (col("violations") === 0).as("pass"))
      .orderBy("tbl", "chk")
  }

  /** Profiled lineitem columns: (name, kind) with kind deciding which
    * numeric summary applies (num → min/max/avg/std, ts → epoch
    * min/max, str → counts only).
    */
  private val ProfCols = Seq(
    ("l_orderkey", "num"), ("l_quantity", "num"), ("l_extendedprice", "num"),
    ("l_discount", "num"), ("l_tax", "num"), ("l_returnflag", "str"),
    ("l_linestatus", "str"), ("l_shipdate", "ts"))

  /** Column profiler — dq_audit's descriptive sibling (the Deequ
    * ColumnProfiler / dbt-docs stats shape): per column of lineitem,
    * row/null/exact-distinct counts plus the numeric five-number
    * summary where the type admits one. The whole profile is ONE
    * aggregation pass: the eight count(DISTINCT) columns plan as a
    * single Expand (8× narrow (gid, value) pairs into one shuffle —
    * the standard multi-distinct plan; cost is 8 narrow copies of
    * the scan, NOT 8 scans), every other metric rides the same
    * aggregate, and the 1-row result fans out to per-column rows
    * map-side. Adding a profiled column adds Expand width, never a
    * pass. At 100 TB the exact distincts are the expensive honesty —
    * a production profiler swaps them for the stored HLL sketches
    * (q19 machinery) column-for-column.
    */
  val profile = Q(
    "dq_profile", {
      def one(c: String, kind: String): String = {
        val stats = kind match {
          case "num" =>
            s"""round(1e-9 + min($c), 4) AS min_num,
               |  round(1e-9 + max($c), 4) AS max_num,
               |  round(1e-9 + avg($c), 4) AS avg_num,
               |  round(1e-9 + stddev($c), 4) AS std_num""".stripMargin
          case "ts" =>
            s"""round(1e-9 + epoch(min($c)), 4) AS min_num,
               |  round(1e-9 + epoch(max($c)), 4) AS max_num,
               |  CAST(NULL AS DOUBLE) AS avg_num,
               |  CAST(NULL AS DOUBLE) AS std_num""".stripMargin
          case _ =>
            s"""CAST(NULL AS DOUBLE) AS min_num,
               |  CAST(NULL AS DOUBLE) AS max_num,
               |  CAST(NULL AS DOUBLE) AS avg_num,
               |  CAST(NULL AS DOUBLE) AS std_num""".stripMargin
        }
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  $stats
           |FROM lineitem""".stripMargin
      }
      ProfCols.map { case (c, k) => one(c, k) }
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }) { (spark, dir) =>
    val t = Tables.lineitem(spark, dir)
    val aggs: Seq[Column] = count(lit(1)).as("n") +: ProfCols.flatMap { case (c, k) =>
      val base = Seq(
        count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"dist_$c"))
      val stats = k match {
        case "num" => Seq(
          round(lit(1e-9) + min(col(c)), 4).as(s"min_$c"),
          round(lit(1e-9) + max(col(c)), 4).as(s"max_$c"),
          round(lit(1e-9) + avg(col(c)), 4).as(s"avg_$c"),
          round(lit(1e-9) + stddev(col(c)), 4).as(s"std_$c"))
        case "ts" => Seq(
          round(lit(1e-9) + min(col(c)).cast("timestamp").cast("double"), 4)
            .as(s"min_$c"),
          round(lit(1e-9) + max(col(c)).cast("timestamp").cast("double"), 4)
            .as(s"max_$c"))
        case _ => Nil
      }
      base ++ stats
    }
    val one = t.agg(aggs.head, aggs.tail: _*)
    val nullD = lit(null).cast("double")
    val rows = ProfCols.map { case (c, k) =>
      val (mn, mx) =
        if (k == "str") (nullD, nullD) else (col(s"min_$c"), col(s"max_$c"))
      val (av, sd) =
        if (k == "num") (col(s"avg_$c"), col(s"std_$c")) else (nullD, nullD)
      struct(
        lit(c).as("col_name"), col("n"),
        (col("n") - col(s"nn_$c")).as("n_null"),
        col(s"dist_$c").as("n_distinct"),
        mn.as("min_num"), mx.as("max_num"), av.as("avg_num"), sd.as("std_num"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
      .orderBy("col_name")
  }

  /** Order-independent table checksum — the replication/migration
    * reconciliation primitive: two systems each fold every row to a
    * canonical key-column string, hash it, and SUM the hashes per
    * slice; equal (n_rows, checksum) pairs certify the copy without
    * moving a row. The canonical string uses integer/flag columns
    * only (floats and timestamps render differently across engines —
    * a real deployment pins a canonical decimal rendering; the
    * integer subset keeps the oracle exact). Shape: ONE map-side-
    * combined hash aggregate to |groups| rows — commutative sums make
    * the checksum partition-order-proof, which is the whole point.
    * The running sum rides DECIMAL(38,0) (Spark) / HUGEINT (DuckDB)
    * so it cannot overflow before the final mod at any row count.
    */
  val checksum = Q(
    "dq_checksum", {
      val h = graft.functions.Hashing.charFoldSql(
        "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR) || '|' || " +
          "CAST(l_suppkey AS VARCHAR) || '|' || l_returnflag || '|' || l_linestatus")
      s"""SELECT l_returnflag,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum($h) % 1000000007 AS BIGINT) AS checksum
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    }) { (spark, dir) =>
    // concat (NOT concat_ws): a NULL column must null the whole row
    // string exactly as SQL || does, so both engines skip it in sum
    val h = graft.functions.Hashing.charFold(concat(
      col("l_orderkey").cast("string"), lit("|"), col("l_partkey").cast("string"),
      lit("|"), col("l_suppkey").cast("string"), lit("|"), col("l_returnflag"),
      lit("|"), col("l_linestatus")))
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        (sum(h.cast("decimal(38,0)")) % 1000000007L).cast("long").as("checksum"))
      .orderBy("l_returnflag")
  }

  // ═══════ ANALYZE surface: stored table/column statistics (CBO inputs) ═══════

  /** The analyzed columns: (table, column, Spark ordinal SQL, DuckDB
    * ordinal SQL). Every column reduces to a BIGINT ordinal (keys as
    * themselves, money/quantity in cents via round-then-cast, dates
    * as floor(epoch)) so min/max/histogram math is INTEGER on both
    * engines — no FP bucket-boundary divergence by construction.
    */
  private val StatsCols: Seq[(String, String, String, String)] = {
    def cents(c: String) = (s"CAST(round($c * 100) AS BIGINT)",
      s"CAST(round($c * 100) AS BIGINT)")
    def date(c: String) = (
      s"CAST(floor(CAST(CAST($c AS TIMESTAMP) AS DOUBLE)) AS BIGINT)",
      s"CAST(floor(epoch($c)) AS BIGINT)")
    Seq(
      ("lineitem", "l_orderkey", "l_orderkey", "l_orderkey"),
      ("lineitem", "l_partkey", "l_partkey", "l_partkey"),
      ("lineitem", "l_suppkey", "l_suppkey", "l_suppkey"),
      ("lineitem", "l_quantity", cents("l_quantity")._1, cents("l_quantity")._2),
      ("lineitem", "l_extendedprice",
        cents("l_extendedprice")._1, cents("l_extendedprice")._2),
      ("lineitem", "l_shipdate", date("l_shipdate")._1, date("l_shipdate")._2),
      ("orders", "o_orderkey", "o_orderkey", "o_orderkey"),
      ("orders", "o_custkey", "o_custkey", "o_custkey"),
      ("orders", "o_totalprice",
        cents("o_totalprice")._1, cents("o_totalprice")._2),
      ("orders", "o_orderdate", date("o_orderdate")._1, date("o_orderdate")._2),
      // the text corpus: doc length is the distribution every curation
      // gate keys on (q21/tx_gopher/pipe_curate thresholds)
      ("documents", "doc_id", "doc_id", "doc_id"),
      ("documents", "n_chars",
        "CAST(n_chars AS BIGINT)", "CAST(n_chars AS BIGINT)"))
  }

  private val HistBuckets = 8
  private val ZeroHist = Seq.fill(HistBuckets)("0").mkString("|")

  /** One-time ANALYZE build — the warehouse statistics store the
    * optimizer reads instead of file sizes: per analyzed column,
    * rows / nulls / exact NDV (+ an HLL estimate the serve row
    * tolerance-checks) / min / max, and an 8-bucket equi-width
    * histogram over the BIGINT ordinal domain. Two corpus passes per
    * table, the classic ANALYZE shape: pass 1 is ONE aggregate row
    * (count/NDV/min/max for every column — adding a column adds
    * aggregate slots, not scans), pass 2 stacks the ordinals
    * map-side, joins the broadcast per-column [min,max] frame, and
    * collapses to ≤ cols×8 bucket counts via partial aggregation.
    * The result is a ≤\|columns\|-row frame memoized like any index
    * build; [[statsRowCounts]] exposes it driver-side as the CBO
    * input for join planning (a catalog read, not a data read).
    */
  private[graft] def tableStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"dq.stats:$dir") {
      val perTable = StatsCols.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (tname, colsAll) =>
          val cols = colsAll.map { case (_, cn, sOrd, _) => (cn, sOrd) }
          val df = tname match {
            case "lineitem" => Tables.lineitem(spark, dir)
            case "documents" => Tables.documents(spark, dir)
            case _ => Tables.orders(spark, dir)
          }
          // pass 1: one aggregate row over the table. The HLL
          // estimates run in a SEPARATE aggregate joined back to the
          // exact row — the q9_approx lesson: a sketch fused into the
          // multi-distinct Expand evaluates per expanded copy and
          // measured 88 s where the split form takes ~2 s at sf0.1
          // (DataSketches lgK=14, ~0.8% rsd, far inside the 10%
          // tolerance the serve row checks).
          val exactAggs = cols.flatMap { case (cn, ord) =>
            val v = expr(ord)
            Seq(count(v).as(s"cnt_$cn"),
              countDistinct(v).as(s"ndv_$cn"),
              min(v).as(s"mn_$cn"), max(v).as(s"mx_$cn"))
          }
          val sketchAggs = cols.map { case (cn, ord) =>
            hll_sketch_estimate(hll_sketch_agg(expr(ord), lit(14))).as(s"andv_$cn")
          }
          val row1 = df.agg(count(lit(1)).as("n_rows"), exactAggs: _*)
            .crossJoin(df.agg(sketchAggs.head, sketchAggs.tail: _*))
            .localCheckpoint(true) // 1 row; fans out to per-column rows
          val perCol = cols.map { case (cn, _) =>
            row1.select(lit(tname).as("table_name"), lit(cn).as("column_name"),
              col("n_rows"), (col("n_rows") - col(s"cnt_$cn")).as("n_nulls"),
              col(s"ndv_$cn").as("ndv"), col(s"andv_$cn").as("ndv_approx"),
              col(s"mn_$cn").cast("long").as("min_v"),
              col(s"mx_$cn").cast("long").as("max_v"))
          }.reduce(_ union _)
          // pass 2: equi-width histogram per column, integer math only
          val stackExpr = s"stack(${cols.size}, " +
            cols.map { case (cn, ord) => s"'$cn', CAST(($ord) AS BIGINT)" }
              .mkString(", ") + ") AS (column_name, v)"
          val mm = perCol.select(col("column_name"),
            col("min_v").as("mn"), col("max_v").as("mx"))
          val hist = df.selectExpr(stackExpr).filter(col("v").isNotNull)
            .join(broadcast(mm), "column_name")
            .selectExpr("column_name",
              s"least((v - mn) div ((mx - mn) div $HistBuckets + 1), ${HistBuckets - 1}) AS bk")
            .groupBy("column_name", "bk").agg(count(lit(1)).as("c"))
            .groupBy("column_name")
            .agg(map_from_entries(collect_list(struct(col("bk"), col("c")))).as("m"))
            .selectExpr("column_name",
              s"array_join(transform(sequence(0, ${HistBuckets - 1}), " +
                "g -> CAST(coalesce(element_at(m, CAST(g AS BIGINT)), 0) AS STRING)), '|') AS hist")
          perCol.join(hist, Seq("column_name"), "left")
            .select(col("table_name"), col("column_name"), col("n_rows"),
              col("n_nulls"), col("ndv"),
              col("min_v"), col("max_v"),
              coalesce(col("hist"), lit(ZeroHist)).as("hist"),
              (col("ndv") === 0 ||
                abs(col("ndv_approx") - col("ndv")) <= lit(0.1) * col("ndv"))
                .as("ndv_ok"))
      }
      val stats = perTable.reduce(_ union _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      stats.count()
      Seq(stats)
    }.head
  val TableStats = Build("table_stats", tableStats)

  /** Serve the stored statistics — the `ANALYZE TABLE` result a user
    * (or the planner) reads. The oracle recomputes every statistic
    * from the raw tables in SQL, so the hash match independently
    * checks the two-pass build; the HLL estimate ships only as the
    * tolerance boolean (exact NDV is the value column, the sketch
    * registry discipline).
    */
  val stats = Q(
    "dq_stats", {
      val blocks = StatsCols.map { case (t, cn, _, dOrd) =>
        s"""s_$cn AS (SELECT $dOrd AS v FROM $t),
           |m_$cn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(v) AS BIGINT) AS n_nonnull,
           |  CAST(count(DISTINCT v) AS BIGINT) AS ndv,
           |  min(v) AS mn, max(v) AS mx FROM s_$cn),
           |h_$cn AS (SELECT string_agg(CAST(coalesce(c, 0) AS VARCHAR), '|' ORDER BY g) AS hist
           |  FROM range($HistBuckets) r(g) LEFT JOIN (
           |    SELECT least((v - mn) // ((mx - mn) // $HistBuckets + 1), ${HistBuckets - 1}) AS bk,
           |      count(*) AS c
           |    FROM s_$cn, m_$cn WHERE v IS NOT NULL GROUP BY 1) b ON b.bk = r.g)"""
          .stripMargin
      }.mkString(",\n")
      val selects = StatsCols.map { case (t, cn, _, _) =>
        s"""SELECT '$t' AS table_name, '$cn' AS column_name, n_rows,
           |  n_rows - n_nonnull AS n_nulls, ndv, mn AS min_v, mx AS max_v, hist,
           |  TRUE AS ndv_ok
           |FROM m_$cn, h_$cn""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH\n$blocks\n$selects\nORDER BY table_name, column_name"
    }, TableStats) { (spark, dir) =>
    tableStats(spark, dir).orderBy("table_name", "column_name")
  }

  /** Driver-side CBO input: stored per-table row counts (a catalog
    * read of the ≤\|columns\|-row stats frame, not a data scan).
    */
  def statsRowCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, Long] =
    tableStats(spark, dir).select("table_name", "n_rows").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Broadcast cap in ROWS estimated from stats (~64 MB at 16-byte
    * key rows): the join side whose STATISTICS say it fits broadcasts
    * regardless of what its compressed file size suggests — the CBO
    * decision AQE can only make after a shuffle already started.
    */
  val StatsBroadcastRowCap = 4000000L

  /** Stats-driven broadcast: the decision comes from the stats map
    * (so a stale/fake entry flips the plan — pinned in PlanSpec), not
    * from Spark's file-size estimate.
    */
  def broadcastByStats(statsMap: Map[String, Long], table: String,
      df: DataFrame): DataFrame =
    if (statsMap.getOrElse(table, Long.MaxValue) <= StatsBroadcastRowCap)
      broadcast(df)
    else df

  /** Histogram-driven selectivity estimate for a range predicate
    * [lo, hi] on an analyzed column's BIGINT ordinal — the OTHER read
    * the stored stats exist for (the broadcast decision reads row
    * counts; filter-selectivity estimation reads the histograms):
    * full buckets inside the range count whole, the two boundary
    * buckets interpolate linearly (uniform-within-bucket, the classic
    * equi-width assumption). Driver-side catalog read of ONE stats
    * row; accuracy pinned against the actual fraction in
    * ProfileDiagSpec.
    */
  def estimateRangeSelectivity(spark: org.apache.spark.sql.SparkSession,
      dir: String, table: String, column: String, lo: Long, hi: Long): Double = {
    val r = tableStats(spark, dir)
      .filter(col("table_name") === table && col("column_name") === column)
      .collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"no stats for $table.$column — run the ANALYZE build first"))
    val nonNull = r.getAs[Long]("n_rows") - r.getAs[Long]("n_nulls")
    if (nonNull == 0) return 0.0
    val mn = r.getAs[Long]("min_v"); val mx = r.getAs[Long]("max_v")
    val w = (mx - mn) / HistBuckets + 1
    val counts = r.getAs[String]("hist").split('|').map(_.toLong)
    val total = counts.sum.toDouble
    if (total == 0) return 0.0
    val covered = counts.zipWithIndex.map { case (c, b) =>
      val bLo = mn + b * w
      // the last bucket also absorbs the least(...) clamp overflow
      val bHi = if (b == HistBuckets - 1) mx else bLo + w - 1
      val oLo = math.max(bLo, lo); val oHi = math.min(bHi, hi)
      if (oHi < oLo) 0.0
      else c * ((oHi - oLo + 1).toDouble / (bHi - bLo + 1).toDouble)
    }.sum
    covered / total
  }

  // ═══════ stats drift: ANALYZE snapshot diff (standing vs delta) ═══════

  /** The drift-watched columns: (table, column, slice-key, Spark
    * ordinal, DuckDB ordinal) — the money/date/length distributions
    * the curation and join-planning decisions key on. Slices follow
    * the repo-wide standing/delta convention (key % 10 < 8 standing).
    */
  private val DiffCols: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem", "l_quantity", "l_orderkey",
      "CAST(round(l_quantity * 100) AS BIGINT)",
      "CAST(round(l_quantity * 100) AS BIGINT)"),
    ("lineitem", "l_extendedprice", "l_orderkey",
      "CAST(round(l_extendedprice * 100) AS BIGINT)",
      "CAST(round(l_extendedprice * 100) AS BIGINT)"),
    ("lineitem", "l_shipdate", "l_orderkey",
      "CAST(floor(CAST(CAST(l_shipdate AS TIMESTAMP) AS DOUBLE)) AS BIGINT)",
      "CAST(floor(epoch(l_shipdate)) AS BIGINT)"),
    ("orders", "o_totalprice", "o_orderkey",
      "CAST(round(o_totalprice * 100) AS BIGINT)",
      "CAST(round(o_totalprice * 100) AS BIGINT)"),
    ("documents", "n_chars", "doc_id",
      "CAST(n_chars AS BIGINT)", "CAST(n_chars AS BIGINT)"))

  /** JSD drift flag floor — two same-distribution slices measure
    * ≈0 here; a shifted delta batch clears it decisively.
    */
  private val DriftJsdFloor = 0.02

  /** ANALYZE-snapshot drift — the statistics diff a warehouse runs
    * when a delta batch lands: per watched column, the standing slice
    * (key % 10 < 8) vs the delta batch (key % 10 ≥ 8) compared on
    * row/NDV/null counts, range widening (does the delta step outside
    * the standing [min,max] — the partition-prune invalidator), and
    * Jensen-Shannon divergence between the two slices' 8-bucket
    * histograms over the COMBINED integer-ordinal domain. This is the
    * read side of dq_stats' store: detect that yesterday's statistics
    * no longer describe today's table before the optimizer (or a
    * curation gate) trusts them. ma_drift_psi watches one declared
    * column; this sweeps the analyzed set with the dq_stats
    * machinery.
    *
    * Scale shape: ONE scan per table into a compact (column, slice,
    * value, count) frequency frame — the Zipf discipline one level up
    * from dq_stats' two passes: the keyed aggregate's map-side
    * combine collapses duplicate ordinals per partition, so the
    * exchange carries Σ per-slice NDV rows, not \|rows\|×\|cols\|,
    * and BOTH the per-slice stats (NDV = a row count over the
    * distinct frame — no countDistinct Expand multiplying the scan)
    * and the bucket histograms (bucket sums weighted by the stored
    * counts against the broadcast combined-range frame) derive from
    * that one checkpointed frame. The dq_stats build keeps its
    * two-pass shape because its exact-NDV slots ride a 1-row
    * aggregate; here the two slices would Expand the stack ×3, which
    * at 100 TB is the difference between one shuffle of the value
    * histogram and three of the corpus.
    */
  val statsDiff = Q(
    "dq_stats_diff", {
      val blocks = DiffCols.map { case (t, cn, key, _, dOrd) =>
        s"""s_$cn AS (SELECT $dOrd AS v,
           |    CASE WHEN $key % 10 < 8 THEN 0 ELSE 1 END AS sl FROM $t),
           |m_$cn AS (SELECT
           |    CAST(count(CASE WHEN sl = 0 THEN v END) AS BIGINT) AS n_std,
           |    CAST(count(CASE WHEN sl = 1 THEN v END) AS BIGINT) AS n_dlt,
           |    CAST(sum(CASE WHEN sl = 0 AND v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_std,
           |    CAST(sum(CASE WHEN sl = 1 AND v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_dlt,
           |    CAST(count(DISTINCT CASE WHEN sl = 0 THEN v END) AS BIGINT) AS ndv_std,
           |    CAST(count(DISTINCT CASE WHEN sl = 1 THEN v END) AS BIGINT) AS ndv_dlt,
           |    min(CASE WHEN sl = 0 THEN v END) AS mn_std,
           |    max(CASE WHEN sl = 0 THEN v END) AS mx_std,
           |    min(CASE WHEN sl = 1 THEN v END) AS mn_dlt,
           |    max(CASE WHEN sl = 1 THEN v END) AS mx_dlt,
           |    min(v) AS mn, max(v) AS mx
           |  FROM s_$cn HAVING count(*) > 0),
           |h_$cn AS (
           |  SELECT least((v - mn) // ((mx - mn) // $HistBuckets + 1), ${HistBuckets - 1}) AS bk,
           |    CAST(sum(CASE WHEN sl = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS c_std,
           |    CAST(sum(CASE WHEN sl = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS c_dlt
           |  FROM s_$cn, m_$cn WHERE v IS NOT NULL GROUP BY 1),
           |j_$cn AS (
           |  SELECT coalesce(sum(
           |      CASE WHEN c_std > 0 THEN 0.5 * (c_std / m.n_std)
           |        * log2(2 * (c_std / m.n_std)
           |          / (c_std / m.n_std + c_dlt / m.n_dlt)) ELSE 0 END
           |      + CASE WHEN c_dlt > 0 THEN 0.5 * (c_dlt / m.n_dlt)
           |        * log2(2 * (c_dlt / m.n_dlt)
           |          / (c_std / m.n_std + c_dlt / m.n_dlt)) ELSE 0 END), 0) AS jsd
           |  FROM h_$cn, m_$cn m WHERE m.n_std > 0 AND m.n_dlt > 0)"""
          .stripMargin
      }.mkString(",\n")
      val selects = DiffCols.map { case (t, cn, _, _, _) =>
        s"""SELECT '$t' AS table_name, '$cn' AS column_name,
           |  n_std, n_dlt, null_std, null_dlt, ndv_std, ndv_dlt,
           |  CASE WHEN n_std > 0 AND n_dlt > 0
           |    THEN mn_dlt < mn_std OR mx_dlt > mx_std END AS range_widened,
           |  CASE WHEN n_std > 0 AND n_dlt > 0
           |    THEN round(1e-9 + (SELECT jsd FROM j_$cn), 6) END AS jsd,
           |  CASE WHEN n_std > 0 AND n_dlt > 0
           |    THEN round(1e-9 + (SELECT jsd FROM j_$cn), 6) > $DriftJsdFloor
           |  END AS drifted
           |FROM m_$cn""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH\n$blocks\n$selects\nORDER BY table_name, column_name"
    }) { (spark, dir) =>
    // ONE plan for all three tables: the per-table scans are UNION
    // legs feeding a single (table, column, slice, value) frequency
    // aggregate, so the whole sweep materializes in ONE job whose scan
    // legs overlap (guide §2.6) instead of nine serialized per-table
    // checkpoint jobs (freq/m/result × 3 tables — measured 16.1 s of
    // eager construct at sf0.1; this shape runs the same algebra in 3
    // jobs). Map-side combine still bounds the one exchange by
    // Σ per-slice NDV rows, not |rows|×|cols|.
    val perTableScan = DiffCols.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (tname, colsAll) =>
        val key = colsAll.head._3
        val cols = colsAll.map { case (_, cn, _, sOrd, _) => (cn, sOrd) }
        val df = tname match {
          case "lineitem" => Tables.lineitem(spark, dir)
          case "documents" => Tables.documents(spark, dir)
          case _ => Tables.orders(spark, dir)
        }
        val stackExpr = s"stack(${cols.size}, " +
          cols.map { case (cn, ord) => s"'$cn', CAST(($ord) AS BIGINT)" }
            .mkString(", ") + ") AS (column_name, v)"
        df.withColumn("sl", when(expr(key) % 10 < 8, 0).otherwise(1))
          .select(lit(tname).as("table_name"), col("sl"), expr(stackExpr))
    }
    val freq = perTableScan.reduce(_ unionByName _)
      .groupBy("table_name", "column_name", "sl", "v").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // reused by the stats AND bucket passes
    def sliceRows(s: Int) = when(col("sl") === s && col("v").isNotNull, 1L)
    def sliceCnt(s: Int) =
      when(col("sl") === s && col("v").isNotNull, col("cnt")).otherwise(0L)
    def sliceV(s: Int) = when(col("sl") === s, col("v"))
    // per-slice stats off the distinct frame: NDV is a plain
    // conditional row count (rows are distinct (tbl, col, sl, v) by
    // construction), counts re-weight by the stored frequencies
    val m = freq.groupBy("table_name", "column_name").agg(
      sum(sliceCnt(0)).as("n_std"), sum(sliceCnt(1)).as("n_dlt"),
      coalesce(sum(when(col("sl") === 0 && col("v").isNull, col("cnt"))), lit(0L))
        .as("null_std"),
      coalesce(sum(when(col("sl") === 1 && col("v").isNull, col("cnt"))), lit(0L))
        .as("null_dlt"),
      count(sliceRows(0)).as("ndv_std"), count(sliceRows(1)).as("ndv_dlt"),
      min(sliceV(0)).as("mn_std"), max(sliceV(0)).as("mx_std"),
      min(sliceV(1)).as("mn_dlt"), max(sliceV(1)).as("mx_dlt"),
      min("v").as("mn"), max("v").as("mx"))
      .localCheckpoint(true) // ≤|cols| rows; reused by the bucket pass
    // per-slice histogram over the combined range → JSD, weighted
    // by the stored counts — no second table scan
    val buckets = freq.filter(col("v").isNotNull)
      .join(broadcast(m.select(col("table_name"), col("column_name"), col("mn"), col("mx"))),
        Seq("table_name", "column_name"))
      .selectExpr("table_name", "column_name", "sl", "cnt",
        s"least((v - mn) div ((mx - mn) div $HistBuckets + 1), ${HistBuckets - 1}) AS bk")
      .groupBy("table_name", "column_name", "bk")
      .agg(sum(when(col("sl") === 0, col("cnt")).otherwise(0L)).cast("double").as("c_std"),
        sum(when(col("sl") === 1, col("cnt")).otherwise(0L)).cast("double").as("c_dlt"))
    val pTerm = col("c_std") / col("n_std")
    val qTerm = col("c_dlt") / col("n_dlt")
    val jsd = buckets
      .join(broadcast(m.select(col("table_name"), col("column_name"), col("n_std"), col("n_dlt"))
        .filter(col("n_std") > 0 && col("n_dlt") > 0)), Seq("table_name", "column_name"))
      .groupBy("table_name", "column_name")
      .agg(coalesce(sum(
        when(col("c_std") > 0,
          lit(0.5) * pTerm * log2(lit(2) * pTerm / (pTerm + qTerm))).otherwise(0d)
          + when(col("c_dlt") > 0,
            lit(0.5) * qTerm * log2(lit(2) * qTerm / (pTerm + qTerm))).otherwise(0d)),
        lit(0d)).as("jsd"))
    val bothSlices = col("n_std") > 0 && col("n_dlt") > 0
    // materialize the ≤|tables·cols|-row result, then RELEASE the
    // freq/m checkpoints — otherwise they hold executor block storage
    // for the session lifetime (the Stats.trendTest release discipline)
    val result = m.join(jsd, Seq("table_name", "column_name"), "left")
      .select(col("table_name"), col("column_name"),
        col("n_std"), col("n_dlt"), col("null_std"), col("null_dlt"),
        col("ndv_std"), col("ndv_dlt"),
        when(bothSlices, col("mn_dlt") < col("mn_std") || col("mx_dlt") > col("mx_std"))
          .as("range_widened"),
        when(bothSlices, round(lit(1e-9) + coalesce(col("jsd"), lit(0d)), 6)).as("jsd"),
        when(bothSlices,
          round(lit(1e-9) + coalesce(col("jsd"), lit(0d)), 6) > DriftJsdFloor)
          .as("drifted"))
      .localCheckpoint(true)
    Dedup.releaseLocalCheckpoint(freq)
    Dedup.releaseLocalCheckpoint(m)
    result.orderBy("table_name", "column_name")
  }

  val all: Seq[Q] = Seq(audit, profile, checksum, stats, statsDiff)
}
