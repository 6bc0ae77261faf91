package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join strategies for cluster scale, as reusable library utilities:
  *
  *  - bucketed co-located join: both fact tables written bucketed by
  *    the join key join shuffle-free (the production layout for the
  *    recurring lineitem⋈orders shuffle);
  *  - salted skew join: a hot key is split across `salt` sub-keys on
  *    the skewed side and replicated on the dim side, so one reducer
  *    no longer owns the whole key.
  *
  * Verified by plan assertions in ScaleJoinsSpec (no Exchange under
  * the bucketed sort-merge join; salt column present in the salted
  * join keys).
  */
object ScaleJoins {

  /** Write both sides bucketed by the join key into `db`-less managed
    * tables, so subsequent joins on that key are shuffle-free.
    * Drops any previous incarnation first — including a stale
    * warehouse DIRECTORY left by an earlier session (a fresh
    * in-memory catalog doesn't know the table, so saveAsTable would
    * refuse with LOCATION_ALREADY_EXISTS rather than overwrite).
    */
  def writeBucketed(
      df: DataFrame, table: String, key: String, numBuckets: Int): Unit = {
    val spark = df.sparkSession
    require(!table.contains("."),
      s"writeBucketed expects an unqualified default-database table name, got '$table'")
    // resolve the ACTUAL location from the catalog when the table is
    // known (a table created elsewhere may not live under
    // <warehouse>/<table>); fall back to the default-database layout
    // only for a stale directory the fresh catalog has never heard of.
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
    df.write.mode("overwrite")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** What each bucketed table was last built from: (source dir, key,
    * bucket count). The layout build is a one-time production cost
    * (like the IVF index build); memoizing it per JVM keeps recurring
    * queries timing the shuffle-free JOIN, not two table writes.
    */
  private val bucketedBuilt =
    scala.collection.concurrent.TrieMap.empty[String, (String, String, Int)]

  /** Idempotent layout build: (re)write `table` bucketed only when it
    * does not exist in this session's catalog or was last built from
    * different inputs. `df` is by-name so a memo hit never constructs
    * the source plan.
    */
  def ensureBucketed(
      spark: SparkSession, df: => DataFrame, table: String, key: String,
      numBuckets: Int, dir: String): Unit = {
    val want = (dir, key, numBuckets)
    if (!bucketedBuilt.get(table).contains(want) || !spark.catalog.tableExists(table)) {
      writeBucketed(df, table, key, numBuckets)
      bucketedBuilt(table) = want
    }
  }

  /** Shuffle-free join of two tables previously written with
    * writeBucketed on the same key and bucket count.
    */
  def bucketedJoin(
      spark: SparkSession, leftTable: String, rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Salted inner join: skewed fact side gets a random salt in
    * [0, salt), the dimension side is exploded `salt` times, and the
    * join runs on (key, salt) — spreading a hot key over `salt`
    * reducers. Results are identical to the plain join.
    */
  def saltedJoin(
      fact: DataFrame, dim: DataFrame, key: String, salt: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt", (rand(42) * salt).cast("int"))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** q11's one-time layout: lineitem and orders written bucketed by
    * the order key (8 buckets), under per-dir table names, since
    * concurrent or alternating scale factors must never share a
    * warehouse path (see Tables.tableTag). Returns the two tables.
    */
  private def bucketedTables(spark: SparkSession, dir: String): (String, String) = {
    val nb = 8
    val tag = Tables.tableTag(dir)
    val liT = s"graft_li_bkt_$tag"; val ordT = s"graft_ord_bkt_$tag"
    ensureBucketed(spark, Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_extendedprice", "l_discount"),
      liT, "l_orderkey", nb, dir)
    ensureBucketed(spark, Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      ordT, "l_orderkey", nb, dir)
    (liT, ordT)
  }
  val BucketedLayout = Build("bucketed_layout", bucketedTables)

  /** Registered query exercising the bucketed co-located join path
    * end-to-end: revenue per order priority over lineitem⋈orders with
    * BOTH sides first written bucketed by the order key (the one-time
    * production layout, like the IVF index build), then joined
    * shuffle-free — the only Exchange left in the plan is the final
    * small aggregation on o_orderpriority, never on l_orderkey
    * (asserted in PlanSpec). The merge hint pins the sort-merge path
    * so the bucketed layout is what's exercised, not an AQE broadcast.
    * The layout build runs once per (dir, key, buckets) per JVM via
    * ensureBucketed — repeat invocations time the join alone.
    */
  val bucketedRevenue = Q(
    "q11_bucketed_revenue",
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin, BucketedLayout) { (spark, dir) =>
    val (liT, ordT) = bucketedTables(spark, dir)
    spark.table(liT).hint("merge")
      .join(spark.table(ordT), "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        round(lit(1e-9) + sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Registered query exercising the salted-skew-join path: events
    * joined to a per-type dimension on event_type — a 5-value key, so
    * an unsalted shuffle join lands each type's ~20% of the fact table
    * on ONE reducer. saltedJoin spreads every type over 8 sub-keys
    * (salt column in the join keys, asserted in ScaleJoinsSpec/
    * PlanSpec). The join result is identical to the plain join, so the
    * oracle is the direct aggregation; the salt values come from
    * rand() but every (key, salt) pair matches, so the output is
    * deterministic regardless.
    */
  val saltedSkew = Q(
    "q12_salted_skew",
    """SELECT upper(substr(event_type, 1, 3)) AS category,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  round(1e-9 + sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY category
      |ORDER BY category""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir).select("event_type", "value")
    val dim = ev.select("event_type").distinct()
      .withColumn("category", upper(substring(col("event_type"), 1, 3)))
    saltedJoin(ev, dim, "event_type", salt = 8)
      .groupBy("category")
      .agg(
        count(lit(1)).as("n_events"),
        round(lit(1e-9) + sum("value"), 2).as("sum_value"))
      .orderBy("category")
  }

  val all: Seq[Q] = Seq(bucketedRevenue, saltedSkew)
}
