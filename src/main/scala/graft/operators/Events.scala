package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream analytics (batch form; streaming variants live in
  * graft.streaming). Time buckets are computed as integer epoch
  * seconds so the DuckDB oracle reproduces them bit-exactly.
  *
  * Scale notes: all four queries partition by user_id and/or the
  * time bucket — natural shuffle keys with high cardinality and no
  * skew; window functions run per-user after one hash shuffle.
  */
object Events {

  /** Tumbling 5-minute window aggregation. */
  val windowAgg = Q(
    "ev_window_agg",
    """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_s,
      |  event_type,
      |  count(*) AS n_events,
      |  round(1e-9 + sum(value), 2) AS sum_value,
      |  round(1e-9 + avg(value), 4) AS avg_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket_s, event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("bucket_s",
        (floor(col("ts").cast("double") / 300) * 300).cast("long"))
      .groupBy("bucket_s", "event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(lit(1e-9) + sum("value"), 2).as("sum_value"),
        round(lit(1e-9) + avg("value"), 4).as("avg_value"))
      .orderBy("bucket_s", "event_type")
  }

  /** Sessionization: per-user sessions split on >30 min inactivity gap. */
  val sessionize = Q(
    "ev_sessionize",
    """SELECT user_id, session_id,
      |  count(*) AS n_events,
      |  CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
      |  CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s,
      |  round(1e-9 + sum(value), 2) AS sum_value
      |FROM (
      |  SELECT user_id, ts, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT user_id, ts, event_id, value,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |        IS NULL OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id)) > 1800 THEN 1 ELSE 0 END AS new_session
      |    FROM events
      |  )
      |)
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        floor(min(col("ts")).cast("double")).cast("long").as("start_s"),
        floor(max(col("ts")).cast("double")).cast("long").as("end_s"),
        round(lit(1e-9) + sum("value"), 2).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** Funnel: signup → first click after signup → first purchase after that. */
  val funnel = Q(
    "ev_funnel",
    """SELECT
      |  count(*) AS n_users,
      |  count(*) FILTER (WHERE signup_ts IS NOT NULL) AS n_signup,
      |  count(*) FILTER (WHERE click_ts IS NOT NULL) AS n_click,
      |  count(*) FILTER (WHERE purchase_ts IS NOT NULL) AS n_purchase
      |FROM (
      |  SELECT u.user_id,
      |    s.signup_ts,
      |    (SELECT min(ts) FROM events e WHERE e.user_id = u.user_id
      |      AND e.event_type = 'click' AND e.ts > s.signup_ts) AS click_ts,
      |    (SELECT min(ts) FROM events e WHERE e.user_id = u.user_id
      |      AND e.event_type = 'purchase' AND e.ts > (SELECT min(ts)
      |        FROM events e2 WHERE e2.user_id = u.user_id
      |        AND e2.event_type = 'click' AND e2.ts > s.signup_ts)) AS purchase_ts
      |  FROM (SELECT DISTINCT user_id FROM events) u
      |  LEFT JOIN (SELECT user_id, min(ts) AS signup_ts FROM events
      |    WHERE event_type = 'signup' GROUP BY user_id) s
      |  ON u.user_id = s.user_id
      |)""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("signup_ts"))
    val users = ev.select("user_id").distinct()
      .join(signup, Seq("user_id"), "left")
    val click = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val withClick = users
      .join(click, col("user_id") === col("cu") && col("cts") > col("signup_ts"), "left")
      .groupBy("user_id", "signup_ts").agg(min("cts").as("click_ts"))
    val purchase = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val withPurchase = withClick
      .join(purchase, col("user_id") === col("pu") && col("pts") > col("click_ts"), "left")
      .groupBy("user_id", "signup_ts", "click_ts").agg(min("pts").as("purchase_ts"))
    withPurchase.agg(
      count(lit(1)).as("n_users"),
      count(col("signup_ts")).as("n_signup"),
      count(col("click_ts")).as("n_click"),
      count(col("purchase_ts")).as("n_purchase"))
  }

  /** Semi-structured: extract integer k from the JSON props column. */
  val json = Q(
    "ev_json",
    """SELECT event_type,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  round(1e-9 + avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k,
      |  count(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        sum("k").as("sum_k"),
        round(lit(1e-9) + avg("k"), 4).as("avg_k"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Weekly cohort retention: users grouped by the epoch week of
    * their first event; for each (cohort, week offset) the fraction
    * of the cohort active that week. The classic cohort table every
    * event warehouse serves.
    *
    * Scale shape: one (user, week) distinct — the only corpus-sized
    * shuffle, on a high-cardinality composite key — then user-keyed
    * partial aggs and joins; the final cohort table is
    * O(weeks × offsets) rows. count(*) suffices for distinct actives
    * because the (user, week) frame is already distinct and a user
    * has exactly one cohort.
    */
  val retention = Q(
    "ev_retention",
    """WITH wk AS (
      |  SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      |  FROM events
      |),
      |firsts AS (SELECT user_id, min(week) AS cohort FROM wk GROUP BY user_id),
      |sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort FROM firsts GROUP BY cohort),
      |ret AS (
      |  SELECT cohort, week - cohort AS week_offset, CAST(count(*) AS BIGINT) AS n_active
      |  FROM wk JOIN firsts USING (user_id)
      |  GROUP BY cohort, week_offset
      |)
      |SELECT cohort, week_offset, n_active, n_cohort,
      |  round(1e-9 + n_active / CAST(n_cohort AS DOUBLE) + 1e-9, 6) AS retention
      |FROM ret JOIN sizes USING (cohort)
      |ORDER BY cohort, week_offset""".stripMargin) { (spark, dir) =>
    val wk = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(col("ts").cast("double") / 604800).cast("long").as("week"))
      .distinct()
    val firsts = wk.groupBy("user_id").agg(min("week").as("cohort"))
    val sizes = firsts.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
    wk.join(firsts, "user_id")
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort")
      .select(col("cohort"), col("week_offset"), col("n_active"), col("n_cohort"),
        round(lit(1e-9) + col("n_active") / col("n_cohort").cast("double") + 1e-9, 6)
          .as("retention"))
      .orderBy("cohort", "week_offset")
  }

  /** As-of join: each purchase matched to the latest strictly-earlier
    * click of the same user (ties on ts broken by highest event_id).
    * Spark has no ASOF JOIN operator; the scalable composition is a
    * single-shuffle union-and-carry: tag both sides, sort per user by
    * (ts, side, event_id) with purchases BEFORE same-instant clicks
    * (so "strictly earlier" needs no extra filter), and carry the
    * last-seen click forward with last(_, ignoreNulls) over the
    * running frame. One hash shuffle on user_id, no join at all —
    * versus the naive per-purchase range join this is the form that
    * survives 100 TB (the per-user sort is the same work a merge-based
    * ASOF join does, and AQE handles a skewed user).
    */
  val asof = Q(
    "ev_asof",
    """SELECT p.event_id, p.user_id, c.click_id,
      |  epoch_us(p.ts) - c.click_us AS gap_us
      |FROM events p
      |LEFT JOIN LATERAL (
      |  SELECT c.event_id AS click_id, epoch_us(c.ts) AS click_us
      |  FROM events c
      |  WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts < p.ts
      |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
      |) c ON TRUE
      |WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    // purchases sort before clicks at the same instant → the running
    // frame up to a purchase row contains exactly the clicks with
    // ts strictly less
    val side = when(col("event_type") === "purchase", lit(0)).otherwise(lit(1))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, side.asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("c_id", when(col("event_type") === "click", col("event_id")))
      .withColumn("c_us", when(col("event_type") === "click", unix_micros(col("ts"))))
      .withColumn("click_id", last(col("c_id"), ignoreNulls = true).over(w))
      .withColumn("click_us", last(col("c_us"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("click_id"),
        (unix_micros(col("ts")) - col("click_us")).as("gap_us"))
      .orderBy("event_id")
  }

  /** Range (band) join: per purchase, how many OTHER same-user events
    * fall within ±10 minutes. The scalable plan is the classic banded
    * equi-join: both sides bucketed to the band width, the probe side
    * exploded to its 3 candidate buckets, so the join is a plain hash
    * join on (user_id, bucket) and each qualifying pair meets exactly
    * once (on the build row's own bucket) — never a cross product.
    * Candidate volume is bounded by per-user activity inside a 20-min
    * span; a pathological hot user is AQE-skew-split territory, same
    * as any hash join.
    */
  val rangeJoin = Q(
    "ev_range_join",
    """SELECT p.event_id, p.user_id,
      |  (SELECT count(*) FROM events c
      |   WHERE c.user_id = p.user_id AND c.event_id <> p.event_id
      |     AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 600000000) AS n_nearby
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin) { (spark, dir) =>
    val bandUs = 600000000L // ±600 s in microseconds
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
    val probe = purchases
      .withColumn("b0", expr(s"p_us div $bandUs"))
      .withColumn("bucket", explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
      .drop("b0")
    val build = ev.select(
      col("event_id").as("c_id"), col("user_id"),
      unix_micros(col("ts")).as("c_us"))
      .withColumn("bucket", expr(s"c_us div $bandUs"))
    val counts = probe
      .join(build, Seq("user_id", "bucket"))
      .filter(col("c_id") =!= col("event_id") &&
        abs(col("c_us") - col("p_us")) <= bandUs)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n"))
    purchases.select("event_id", "user_id")
      .join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n"), lit(0L)).as("n_nearby"))
      .orderBy("event_id")
  }

  /** Sessionization via Spark's NATIVE session_window operator — the
    * engine-provided merging-session-interval aggregation (one hash
    * shuffle on user_id, per-partition interval merge; no lag/sum
    * window chain). Sessions merge while the closed intervals
    * [ts, ts + gap] overlap, so an event arriving at EXACTLY gap
    * after its predecessor still extends the session — the same
    * diff > gap split rule as ev_sessionize (boundary pinned in
    * SessionWindowSpec against a constructed exact-gap fixture).
    * Also the natural streaming form: the same session_window
    * expression runs under a watermark in Structured Streaming.
    */
  val sessionWindow = Q(
    "ev_session_window",
    """SELECT user_id, session_id,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  min(epoch_us(ts)) AS start_us,
      |  max(epoch_us(ts)) + 1800000000 AS end_us,
      |  round(1e-9 + sum(value), 2) AS sum_value
      |FROM (
      |  SELECT user_id, ts, value,
      |    CAST(sum(ns) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT user_id, ts, event_id, value,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |        IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id)) > 1800000000 THEN 1 ELSE 0 END AS ns
      |    FROM events
      |  )
      |)
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (spark, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("s_start"))
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        round(lit(1e-9) + sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"), col("sum_value"),
        col("sw.start").as("s_start"))
      // number the merged sessions per user so the output keys match
      // the oracle's running-sum ids: sessions are disjoint intervals,
      // so ranking by start time over the (tiny) per-user session list
      // reproduces them — this window sorts |sessions| rows per user,
      // not events
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select("user_id", "session_id", "n_events", "start_us", "end_us", "sum_value")
      .orderBy("user_id", "session_id")
  }

  /** Semi-structured via Spark 4's VARIANT type: props parsed ONCE
    * (parse_json → the binary variant encoding) and field-extracted
    * with typed variant_get — at 100 TB the parse happens at ingest
    * and every later extraction reads the variant's internal offsets
    * instead of re-running a string JSON parser per query (the
    * columnar semi-structured story; ev_json is the per-query
    * string-parse twin). Missing paths surface as NULLs via
    * try_variant_get, counted per group.
    */
  val variant = Q(
    "ev_variant",
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  round(1e-9 + avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k,
      |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      |  CAST(count(*) FILTER (WHERE json_extract(props, '$.absent') IS NULL) AS BIGINT)
      |    AS n_missing
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("v", parse_json(col("props")))
      .withColumn("k", variant_get(col("v"), "$.k", "bigint"))
      .withColumn("absent", try_variant_get(col("v"), "$.absent", "string"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        round(lit(1e-9) + avg("k"), 4).as("avg_k"),
        max("k").as("max_k"),
        count(when(col("absent").isNull, 1)).as("n_missing"))
      .orderBy("event_type")
  }

  /** Time-bounded ordered funnel (the windowFunnel analytic):
    * signup → click → purchase must ALL land within 48 h of the
    * user's first signup, each stage strictly after the previous one.
    * Greedy earliest-qualifying-event semantics (the standard
    * windowFunnel definition): t1 = first signup, t2 = first click in
    * (t1, t1+W], t3 = first purchase in (t2, t1+W]. Unlike ev_funnel
    * (unbounded follow-up) the window bound makes this a conversion
    * metric. Shape: three user_id-keyed aggregations chained by joins
    * on the same key — every stage's state is one timestamp per user,
    * the event table is filtered to one stage's type before each join,
    * and nothing ever sorts a user's full history (no window
    * function). Division guards keep the empty-corpus row NULL-equal
    * across engines.
    */
  val windowFunnel = Q(
    "ev_windowfunnel",
    """WITH s AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t1
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |c AS (
      |  SELECT s.user_id, s.t1, min(e.e_us) AS t2
      |  FROM s LEFT JOIN
      |    (SELECT user_id, epoch_us(ts) AS e_us FROM events
      |     WHERE event_type = 'click') e
      |    ON e.user_id = s.user_id AND e.e_us > s.t1
      |      AND e.e_us <= s.t1 + 172800000000
      |  GROUP BY s.user_id, s.t1),
      |p AS (
      |  SELECT c.user_id, c.t1, c.t2, min(e.e_us) AS t3
      |  FROM c LEFT JOIN
      |    (SELECT user_id, epoch_us(ts) AS e_us FROM events
      |     WHERE event_type = 'purchase') e
      |    ON e.user_id = c.user_id AND e.e_us > c.t2
      |      AND e.e_us <= c.t1 + 172800000000
      |  GROUP BY c.user_id, c.t1, c.t2)
      |SELECT
      |  count(t1) AS n_signup, count(t2) AS n_click, count(t3) AS n_purchase,
      |  CASE WHEN count(t1) = 0 THEN NULL
      |    ELSE round(1e-9 + count(t2) * 1.0 / count(t1), 6) END AS conv_click,
      |  CASE WHEN count(t1) = 0 THEN NULL
      |    ELSE round(1e-9 + count(t3) * 1.0 / count(t1), 6) END AS conv_purchase,
      |  round(1e-9 + avg((t2 - t1) / 3600000000.0), 4) AS avg_hours_click,
      |  round(1e-9 + avg((t3 - t1) / 3600000000.0), 4) AS avg_hours_purchase
      |FROM p""".stripMargin) { (spark, dir) =>
    val winUs = 172800000000L // 48 h
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val s = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("us").as("t1"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("us").as("c_us"))
    val c = s.join(clicks,
        col("user_id") === col("cu") && col("c_us") > col("t1") &&
          col("c_us") <= col("t1") + lit(winUs), "left")
      .groupBy("user_id", "t1").agg(min("c_us").as("t2"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("us").as("p_us"))
    val p = c.join(purchases,
        col("user_id") === col("pu") && col("p_us") > col("t2") &&
          col("p_us") <= col("t1") + lit(winUs), "left")
      .groupBy("user_id", "t1", "t2").agg(min("p_us").as("t3"))
    p.agg(
      count(col("t1")).as("n_signup"),
      count(col("t2")).as("n_click"),
      count(col("t3")).as("n_purchase"),
      when(count(col("t1")) === 0, lit(null))
        .otherwise(round(lit(1e-9) + count(col("t2")) * lit(1.0) / count(col("t1")), 6))
        .as("conv_click"),
      when(count(col("t1")) === 0, lit(null))
        .otherwise(round(lit(1e-9) + count(col("t3")) * lit(1.0) / count(col("t1")), 6))
        .as("conv_purchase"),
      round(lit(1e-9) + avg((col("t2") - col("t1")) / lit(3600000000.0)), 4)
        .as("avg_hours_click"),
      round(lit(1e-9) + avg((col("t3") - col("t1")) / lit(3600000000.0)), 4)
        .as("avg_hours_purchase"))
  }

  /** Time-series gap fill + forward fill: the dense 5-minute grid per
    * event_type over the corpus's time range, empty buckets
    * materialized with n = 0 and the last observed average carried
    * forward (last_value IGNORE NULLS — the ev_asof carry one shelf
    * up). The dashboard/resample primitive: downstream consumers get
    * a regular series with no holes. The grid covers the 30-day
    * REPORTING WINDOW ending at the corpus's last event — a
    * production gap-fill always fills a bounded reporting range, and
    * the bound is what makes the operator safe: without it a single
    * stray 1970 timestamp would size the grid (and the sequence()
    * array backing it) to the full epoch range — the fuzz sweep's
    * events span 54 years and blew the heap on exactly that. Shape:
    * the observed buckets are ONE (type, bucket) aggregation of
    * events; the grid derives from a 1-row min/max aggregate exploded
    * through sequence() and cross-joined with the |types|-row dim —
    * grid size is types × 8640 buckets MAX regardless of corpus
    * density or time span; denser data only grows the first
    * aggregation's map side.
    */
  val gapfill = Q(
    "q27_gapfill",
    """WITH b AS (
      |  SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_s,
      |    count(*) AS n, avg(value) AS av
      |  FROM events GROUP BY event_type, bucket_s),
      |r AS (
      |  SELECT greatest(
      |      CAST(floor(epoch(min(ts)) / 300) * 300 AS BIGINT),
      |      CAST(floor(epoch(max(ts)) / 300) * 300 AS BIGINT) - 2592000) AS lo,
      |    CAST(floor(epoch(max(ts)) / 300) * 300 AS BIGINT) AS hi
      |  FROM events),
      |g AS (
      |  SELECT t.event_type, gs.bucket_s
      |  FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN (SELECT unnest(range(lo, hi + 300, 300)) AS bucket_s FROM r) gs)
      |SELECT g.event_type, g.bucket_s,
      |  coalesce(b.n, 0) AS n,
      |  round(1e-9 + last_value(b.av IGNORE NULLS) OVER (
      |    PARTITION BY g.event_type ORDER BY g.bucket_s
      |    ROWS UNBOUNDED PRECEDING), 4) AS value_ff,
      |  b.n IS NULL AS filled
      |FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.bucket_s = b.bucket_s
      |ORDER BY g.event_type, g.bucket_s""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val b = ev
      .withColumn("bucket_s",
        (floor(col("ts").cast("double") / 300) * 300).cast("long"))
      .groupBy(col("event_type").as("b_type"), col("bucket_s").as("b_bucket"))
      .agg(count(lit(1)).as("n"), avg("value").as("av"))
    val range = ev.agg(
        (floor(min(col("ts").cast("double")) / 300) * 300).cast("long").as("rawlo"),
        (floor(max(col("ts").cast("double")) / 300) * 300).cast("long").as("hi"))
      .select(greatest(col("rawlo"), col("hi") - lit(2592000L)).as("lo"), col("hi"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(range))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(300L))).as("bucket_s"))
    val w = Window.partitionBy("event_type").orderBy("bucket_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(b, col("event_type") === col("b_type") && col("bucket_s") === col("b_bucket"),
        "left")
      .select(col("event_type"), col("bucket_s"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(lit(1e-9) + last(col("av"), ignoreNulls = true).over(w), 4).as("value_ff"),
        col("n").isNull.as("filled"))
      .orderBy("event_type", "bucket_s")
  }

  /** Multi-touch attribution: every purchase attributed to the
    * same-user clicks in its 48 h lookback window — first touch,
    * last touch, and the linear credit split (value / n_touches) in
    * one row. ev_asof answers "the latest click ever"; attribution
    * needs the FULL bounded touch set, so the shape is the band-
    * bucketed hash join from ev_range_join (lookback-sized buckets,
    * probe exploded to 2 candidate buckets — each (purchase, click)
    * pair meets exactly once, never a cross product) feeding ONE
    * purchase-keyed aggregation whose first/last touches are
    * min/max-struct argmins (no window). Purchases with no touches
    * keep a row via the left join back (n_touches = 0, null credit).
    */
  val attribution = Q(
    "ev_attribution",
    """SELECT event_id, user_id, n_touches, first_click_id, last_click_id,
      |  CASE WHEN n_touches > 0
      |    THEN round(1e-9 + value / n_touches, 4) END AS credit_each
      |FROM (
      |  SELECT p.event_id, p.user_id, p.value,
      |    (SELECT count(*) FROM events c
      |     WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |       AND epoch_us(c.ts) < epoch_us(p.ts)
      |       AND epoch_us(c.ts) >= epoch_us(p.ts) - 172800000000) AS n_touches,
      |    (SELECT c.event_id FROM events c
      |     WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |       AND epoch_us(c.ts) < epoch_us(p.ts)
      |       AND epoch_us(c.ts) >= epoch_us(p.ts) - 172800000000
      |     ORDER BY epoch_us(c.ts), c.event_id LIMIT 1) AS first_click_id,
      |    (SELECT c.event_id FROM events c
      |     WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |       AND epoch_us(c.ts) < epoch_us(p.ts)
      |       AND epoch_us(c.ts) >= epoch_us(p.ts) - 172800000000
      |     ORDER BY epoch_us(c.ts) DESC, c.event_id DESC LIMIT 1) AS last_click_id
      |  FROM events p WHERE p.event_type = 'purchase'
      |)
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    val lookUs = 172800000000L // 48 h lookback
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"), col("value"))
    val probe = purchases
      .withColumn("b0", expr(s"p_us div $lookUs"))
      .withColumn("bucket", explode(array(col("b0") - 1, col("b0"))))
      .drop("b0", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"),
        unix_micros(col("ts")).as("c_us"))
      .withColumn("bucket", expr(s"c_us div $lookUs"))
    val touches = probe
      .join(clicks, Seq("user_id", "bucket"))
      .filter(col("c_us") < col("p_us") && col("c_us") >= col("p_us") - lookUs)
      .groupBy("event_id")
      .agg(
        count(lit(1)).as("n_touches"),
        min(struct(col("c_us"), col("c_id"))).as("f"),
        max(struct(col("c_us"), col("c_id"))).as("l"))
      .select(col("event_id"), col("n_touches"),
        col("f.c_id").as("first_click_id"), col("l.c_id").as("last_click_id"))
    purchases
      .join(touches, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_touches"), lit(0L)).as("n_touches"),
        col("first_click_id"), col("last_click_id"),
        when(col("n_touches") > 0,
          round(lit(1e-9) + col("value") / col("n_touches"), 4)).as("credit_each"))
      .orderBy("event_id")
  }

  /** User pathing: the event-type transition matrix (the Sankey /
    * Markov-chain behind "where do users go next") — consecutive
    * same-user event pairs within a 30-minute gap (the sessionize
    * threshold: a transition across a session boundary isn't a
    * path), counted per (from, to) with the per-from share. ONE
    * user-keyed window computes every user's successors in a single
    * per-partition sort; the count and share aggregations then run
    * on ≤ |types|² rows, so the share window is free. Output is the
    * |types|×|types| matrix regardless of corpus size.
    */
  val pathing = Q(
    "ev_pathing",
    """WITH s AS (
      |  SELECT user_id, event_type AS from_type,
      |    lead(event_type) OVER w AS to_type,
      |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |t AS (
      |  SELECT from_type, to_type FROM s
      |  WHERE to_type IS NOT NULL AND gap_us <= 1800000000)
      |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
      |  round(1e-9 + count(*) * 1.0 /
      |    sum(count(*)) OVER (PARTITION BY from_type), 6) AS share
      |FROM t GROUP BY from_type, to_type
      |ORDER BY from_type, to_type""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("from_type"), col("ts"),
        lead("event_type", 1).over(w).as("to_type"),
        (unix_micros(lead("ts", 1).over(w)) - unix_micros(col("ts"))).as("gap_us"))
      .filter(col("to_type").isNotNull && col("gap_us") <= 1800000000L)
    val counts = trans.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val wShare = Window.partitionBy("from_type")
    counts
      .select(col("from_type"), col("to_type"), col("n"),
        round(lit(1e-9) + col("n") * lit(1.0) / sum("n").over(wShare), 6).as("share"))
      .orderBy("from_type", "to_type")
  }

  /** Rolling z-score anomaly detection over the per-type event-rate
    * series — the monitoring pass a live ingest runs on its own
    * telemetry (ma_drift_psi watches distribution drift between
    * corpora; this watches the RATE itself): each 5-minute bucket's
    * count is scored against the mean/stddev of its 12 TRAILING
    * buckets (the current bucket excluded — an anomaly must not
    * dampen its own baseline), flagged at |z| > 3 once ≥6 baseline
    * buckets exist and the baseline has variance.
    *
    * Scale shape: the corpus collapses to the (bucket, type) count
    * frame in one keyed aggregation; all three window measures
    * (count/avg/stddev) evaluate in ONE Window node over that
    * already-aggregated series (≤ types × buckets rows — at 100 TB
    * the series is still tiny next to the events), partitioned by the
    * natural event_type key. z is rounded 4 dp with the 1e-9 nudge on
    * BOTH engines and the flag compares the ROUNDED value, so both
    * engines decide identically.
    */
  val anomaly = Q(
    "ev_anomaly",
    """WITH c AS (
      |  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_s,
      |    event_type, CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT bucket_s, event_type, n_events,
      |    count(*) OVER win AS n_prev,
      |    avg(n_events) OVER win AS mu,
      |    stddev_samp(n_events) OVER win AS sd
      |  FROM c
      |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket_s
      |    ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, bucket_s, n_events,
      |  CASE WHEN n_prev >= 6 AND sd > 0
      |    THEN round(1e-9 + (n_events - mu) / sd, 4) END AS z,
      |  coalesce(n_prev >= 6 AND sd > 0
      |    AND abs(round(1e-9 + (n_events - mu) / sd, 4)) > 3, FALSE) AS anomalous
      |FROM w
      |ORDER BY event_type, bucket_s""".stripMargin) { (spark, dir) =>
    val counts = Tables.events(spark, dir)
      .withColumn("bucket_s",
        (floor(col("ts").cast("double") / 300) * 300).cast("long"))
      .groupBy("bucket_s", "event_type")
      .agg(count(lit(1)).as("n_events"))
    val win = Window.partitionBy("event_type").orderBy("bucket_s")
      .rowsBetween(-12, -1)
    val scored = counts
      .withColumn("n_prev", count(lit(1)).over(win))
      .withColumn("mu", avg("n_events").over(win))
      .withColumn("sd", stddev_samp("n_events").over(win))
      .withColumn("z",
        when(col("n_prev") >= 6 && col("sd") > 0,
          round(lit(1e-9) + (col("n_events") - col("mu")) / col("sd"), 4)))
    scored
      .select(col("event_type"), col("bucket_s"), col("n_events"), col("z"),
        coalesce(col("n_prev") >= 6 && col("sd") > 0 && abs(col("z")) > 3, lit(false))
          .as("anomalous"))
      .orderBy("event_type", "bucket_s")
  }

  /** RFM segmentation: per-user recency/frequency/monetary quartile
    * scores over purchase events, reported as segment-cell counts.
    *
    * Scale shape: one hash shuffle to the user grain, then a 1-row
    * quantile frame broadcast back for map-side scoring — the
    * corpus-sized frame never re-shuffles. Monetary is scored in
    * integer cents and recency/frequency are integral, so the
    * quartile interpolation ((1-f)*lo + f*hi on exact binary
    * fractions) is bit-identical across engines; reference analog:
    * the reference's per-model score bucketing (report.py grades).
    */
  val rfm = Q(
    "ev_rfm",
    """WITH p AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(max(ts))) AS BIGINT) AS last_s,
      |    CAST(count(*) AS BIGINT) AS freq,
      |    CAST(round(100 * (1e-9 + sum(value))) AS BIGINT) AS monetary_c
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |r AS (
      |  SELECT user_id, (SELECT max(last_s) FROM p) - last_s AS recency_s,
      |    freq, monetary_c FROM p),
      |t AS (
      |  SELECT
      |    quantile_cont(recency_s, 0.25) AS r1, quantile_cont(recency_s, 0.5) AS r2,
      |    quantile_cont(recency_s, 0.75) AS r3,
      |    quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
      |    quantile_cont(freq, 0.75) AS f3,
      |    quantile_cont(monetary_c, 0.25) AS m1, quantile_cont(monetary_c, 0.5) AS m2,
      |    quantile_cont(monetary_c, 0.75) AS m3
      |  FROM r)
      |SELECT r_score, f_score, m_score,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  round(1e-9 + avg(monetary_c) / 100.0, 4) AS avg_monetary
      |FROM (
      |  SELECT
      |    CASE WHEN recency_s <= r1 THEN CAST(4 AS BIGINT)
      |      WHEN recency_s <= r2 THEN 3 WHEN recency_s <= r3 THEN 2
      |      ELSE 1 END AS r_score,
      |    CASE WHEN freq <= f1 THEN CAST(1 AS BIGINT)
      |      WHEN freq <= f2 THEN 2 WHEN freq <= f3 THEN 3
      |      ELSE 4 END AS f_score,
      |    CASE WHEN monetary_c <= m1 THEN CAST(1 AS BIGINT)
      |      WHEN monetary_c <= m2 THEN 2 WHEN monetary_c <= m3 THEN 3
      |      ELSE 4 END AS m_score,
      |    monetary_c
      |  FROM r, t)
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin) { (spark, dir) =>
    val perUser = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        floor(max(col("ts")).cast("double")).cast("long").as("last_s"),
        count(lit(1)).as("freq"),
        round(lit(100) * (lit(1e-9) + sum("value"))).cast("long").as("monetary_c"))
    val ref = perUser.agg(max("last_s").as("ref_s"))
    val r = perUser.crossJoin(broadcast(ref))
      .withColumn("recency_s", col("ref_s") - col("last_s"))
    val t = r.agg(
      percentile(col("recency_s"), typedLit(Seq(0.25, 0.5, 0.75))).as("rq"),
      percentile(col("freq"), typedLit(Seq(0.25, 0.5, 0.75))).as("fq"),
      percentile(col("monetary_c"), typedLit(Seq(0.25, 0.5, 0.75))).as("mq"))
    r.crossJoin(broadcast(t))
      .withColumn("r_score",
        when(col("recency_s") <= col("rq").getItem(0), 4L)
          .when(col("recency_s") <= col("rq").getItem(1), 3L)
          .when(col("recency_s") <= col("rq").getItem(2), 2L)
          .otherwise(1L))
      .withColumn("f_score",
        when(col("freq") <= col("fq").getItem(0), 1L)
          .when(col("freq") <= col("fq").getItem(1), 2L)
          .when(col("freq") <= col("fq").getItem(2), 3L)
          .otherwise(4L))
      .withColumn("m_score",
        when(col("monetary_c") <= col("mq").getItem(0), 1L)
          .when(col("monetary_c") <= col("mq").getItem(1), 2L)
          .when(col("monetary_c") <= col("mq").getItem(2), 3L)
          .otherwise(4L))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        round(lit(1e-9) + avg("monetary_c") / 100.0, 4).as("avg_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  private val SesAlpha = 0.25
  private val SesWindow = 24

  /** ev_forecast — one-step-ahead exponential-smoothing forecast of
    * the per-type 5-minute event rate (the capacity-planning twin of
    * ev_anomaly's z-score: anomaly asks "is now weird", forecast asks
    * "what comes next"). Truncated SES: forecast(t) =
    * α·Σ_{k=1..24} (1−α)^{k−1}·x(t−k·300), with absent buckets
    * correctly contributing zero RATE (time-offset weighting, not
    * row-offset — a gap in the series decays the forecast, which a
    * rows-window would silently skip). The 24 weights are emitted as
    * exact double literals into BOTH engines, so no pow() libm
    * variance exists; the only float work is a ≤24-term weighted sum.
    *
    * Scale shape: the corpus collapses to the (bucket, type) counts
    * frame in one keyed agg; contributions explode that SMALL frame
    * 24× (never the raw events) and re-aggregate; the final join is
    * counts-to-forecast on the same key. Everything after the first
    * agg is corpus-size-independent.
    */
  val forecast = Q(
    "ev_forecast", {
      val weights = (1 to SesWindow).map(k =>
        (k, SesAlpha * math.pow(1 - SesAlpha, k - 1)))
      val wRows = weights.map { case (k, w) => s"($k, ${w.toString})" }.mkString(", ")
      s"""WITH c AS (
         |  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_s,
         |    event_type, CAST(count(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1, 2),
         |f AS (
         |  SELECT event_type AS f_type, bucket_s + k * 300 AS tb,
         |    sum(n_events * w) AS forecast
         |  FROM c, (VALUES $wRows) AS wt(k, w)
         |  GROUP BY 1, 2)
         |SELECT c.event_type, c.bucket_s, c.n_events,
         |  round(1e-9 + coalesce(f.forecast, 0) + 1e-9, 4) AS forecast,
         |  round(1e-9 + abs(c.n_events - coalesce(f.forecast, 0)) + 1e-9, 4) AS abs_err
         |FROM c LEFT JOIN f ON f.f_type = c.event_type AND f.tb = c.bucket_s
         |ORDER BY event_type, bucket_s""".stripMargin
    }) { (spark, dir) =>
    val counts = Tables.events(spark, dir)
      .withColumn("bucket_s",
        (floor(col("ts").cast("double") / 300) * 300).cast("long"))
      .groupBy("bucket_s", "event_type")
      .agg(count(lit(1)).as("n_events"))
    val wArr = array((1 to SesWindow).map { k =>
      struct(lit(k.toLong).as("k"),
        lit(SesAlpha * math.pow(1 - SesAlpha, k - 1)).as("w"))
    }: _*)
    val contrib = counts
      .select(col("event_type"), col("bucket_s"), col("n_events"),
        explode(wArr).as("wt"))
      .groupBy(col("event_type").as("f_type"), (col("bucket_s") + col("wt.k") * 300).as("tb"))
      .agg(sum(col("n_events") * col("wt.w")).as("forecast"))
    counts.join(contrib,
        col("f_type") === col("event_type") &&
          col("tb") === col("bucket_s"), "left")
      .select(col("event_type"), col("bucket_s"), col("n_events"),
        round(lit(1e-9) + coalesce(col("forecast"), lit(0d)) + 1e-9, 4).as("forecast"),
        round(lit(1e-9) + abs(col("n_events") - coalesce(col("forecast"), lit(0d))) + 1e-9, 4)
          .as("abs_err"))
      .orderBy("event_type", "bucket_s")
  }

  /** ev_changepoint — offline change-point detection on the per-type
    * rate series (the first split of binary segmentation, CUSUM's
    * batch face): the change point is the bucket maximizing the
    * absolute cumulative deviation |Σ_{i≤k}(x_i − x̄)| — where the
    * running sum strays farthest from the constant-mean line. Reports
    * the split bucket, its deviation, and the mean rate before/after
    * — the "did the level shift, and when" question ev_anomaly's
    * local z-score can't answer.
    *
    * Scale shape: the corpus collapses to the (bucket, type) counts
    * frame in one keyed agg; the running sums are ONE window over
    * that small frame, and the argmax is a struct-max aggregation
    * (ties → earliest bucket via the negated-bucket field), never a
    * sort. Running sums are order-defined by the window, so the
    * doubles agree bit-exactly cross-engine.
    */
  val changepoint = Q(
    "ev_changepoint",
    """SELECT event_type, cp_bucket, n_buckets,
      |  round(1e-9 + max_dev + 1e-9, 4) AS max_dev,
      |  round(1e-9 + mean_before + 1e-9, 4) AS mean_before,
      |  round(1e-9 + mean_after + 1e-9, 4) AS mean_after
      |FROM (
      |  SELECT event_type,
      |    max(CASE WHEN rn = 1 THEN bucket_s END) AS cp_bucket,
      |    max(CASE WHEN rn = 1 THEN adev END) AS max_dev,
      |    max(CASE WHEN rn = 1 THEN cum_sum / cum_n END) AS mean_before,
      |    max(CASE WHEN rn = 1 THEN (tot_sum - cum_sum) / nullif(tot_n - cum_n, 0) END)
      |      AS mean_after,
      |    CAST(max(tot_n) AS BIGINT) AS n_buckets
      |  FROM (
      |    SELECT event_type, bucket_s, cum_sum, cum_n, tot_sum, tot_n,
      |      abs(cum_sum - cum_n * (tot_sum / tot_n)) AS adev,
      |      row_number() OVER (PARTITION BY event_type
      |        ORDER BY abs(cum_sum - cum_n * (tot_sum / tot_n)) DESC, bucket_s) AS rn
      |    FROM (
      |      SELECT event_type, bucket_s,
      |        CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket_s
      |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_sum,
      |        CAST(count(*) OVER (PARTITION BY event_type ORDER BY bucket_s
      |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_n,
      |        CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) AS tot_sum,
      |        CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS tot_n
      |      FROM (
      |        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_s,
      |          event_type, count(*) AS n
      |        FROM events GROUP BY 1, 2)))
      |  GROUP BY event_type)
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val counts = Tables.events(spark, dir)
      .withColumn("bucket_s",
        (floor(col("ts").cast("double") / 300) * 300).cast("long"))
      .groupBy("bucket_s", "event_type")
      .agg(count(lit(1)).as("n"))
    val run = Window.partitionBy("event_type").orderBy("bucket_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("event_type")
    val dev = counts
      .withColumn("cum_sum", sum("n").over(run).cast("double"))
      .withColumn("cum_n", count(lit(1)).over(run).cast("double"))
      .withColumn("tot_sum", sum("n").over(whole).cast("double"))
      .withColumn("tot_n", count(lit(1)).over(whole).cast("double"))
      .withColumn("adev",
        abs(col("cum_sum") - col("cum_n") * (col("tot_sum") / col("tot_n"))))
    dev.groupBy("event_type")
      .agg(
        max(struct(col("adev"), (-col("bucket_s")).as("nb"), col("bucket_s").as("b"),
          (col("cum_sum") / col("cum_n")).as("mb"),
          ((col("tot_sum") - col("cum_sum")) /
            when(col("tot_n") - col("cum_n") === 0, lit(null))
              .otherwise(col("tot_n") - col("cum_n"))).as("ma"))).as("m"),
        max("tot_n").as("tot_n"))
      .select(col("event_type"),
        col("m.b").as("cp_bucket"),
        col("tot_n").cast("long").as("n_buckets"),
        round(lit(1e-9) + col("m.adev") + 1e-9, 4).as("max_dev"),
        round(lit(1e-9) + col("m.mb") + 1e-9, 4).as("mean_before"),
        round(lit(1e-9) + col("m.ma") + 1e-9, 4).as("mean_after"))
      .orderBy("event_type")
  }

  /** One-time engagement build: per-day (HLL user sketch, exact DAU)
    * rows plus the exact rolling 7-day distinct — the latter exists
    * ONLY to grade the sketch serve (q19 discipline: production
    * stores just the constant-size daily sketches; any rolling window
    * is answered by unioning ≤7 of them, never by rescanning events).
    */
  def dailyUserFrames(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[org.apache.spark.sql.DataFrame] =
    graft.SessionMemo.frames(spark, s"events.dailyUsers:$dir") {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val act = Tables.events(spark, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .distinct()
      val perDay = act.groupBy("day")
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"),
          count(lit(1)).as("dau"))
        .persist(lvl)
      // exact rolling pin: each activity day contributes to the 7
      // window-ends it falls inside; distinct de-dupes a user active
      // on several days of the same window
      val wauExact = act
        .select(explode(sequence(col("day"), date_add(col("day"), 6),
          expr("interval 1 day"))).as("day"), col("user_id"))
        .distinct()
        .join(perDay.select("day"), Seq("day"), "left_semi")
        .groupBy("day").agg(count(lit(1)).as("wau"))
        .persist(lvl)
      perDay.count(); wauExact.count() // materialize: queries time the serve
      Seq(perDay, wauExact)
    }
  val DailyUserSketches = Build("daily_user_sketches", dailyUserFrames)

  /** Daily / weekly active users + stickiness — the engagement
    * dashboard every event stream feeds. DAU is the per-day exact
    * distinct; WAU (rolling 7-day distinct ending each day) is where
    * scale bites: rolling DISTINCT does not decompose, so the naive
    * plan rescans a week of raw events per day. The stored answer is
    * the per-day HLL sketch table (constant bytes per day): any
    * rolling window is the union of ≤7 sketch rows — this query
    * serves WAU from exactly that union and emits the exact counts
    * plus a within-5% boolean the oracle pins TRUE (HLL lgK=14
    * measures ~0.8% rsd). Stickiness = DAU/WAU, the classic
    * engagement ratio.
    */
  val activeUsers = Q(
    "ev_active_users",
    """WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY day),
      |wau AS (SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau
      |        FROM (SELECT DISTINCT day FROM act) d
      |        JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
      |        GROUP BY d.day)
      |SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, wau.wau,
      |  round(1e-9 + dau.dau / CAST(wau.wau AS DOUBLE), 6) AS stickiness,
      |  TRUE AS wau_est_ok
      |FROM dau JOIN wau ON dau.day = wau.day
      |ORDER BY dau.day""".stripMargin, DailyUserSketches) { (spark, dir) =>
    val Seq(perDay, wauExact) = dailyUserFrames(spark, dir)
    // serve: |days|×7 sketch rows union down to |days| estimates —
    // events are NOT rescanned by this query
    val wauEst = perDay
      .select(explode(sequence(col("day"), date_add(col("day"), 6),
        expr("interval 1 day"))).as("day"), col("sk"))
      .join(perDay.select("day"), Seq("day"), "left_semi")
      .groupBy("day")
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"), allowDifferentLgConfigK = lit(false))).as("est"))
    perDay.select("day", "dau")
      .join(wauExact, "day")
      .join(wauEst, "day")
      .select(col("day").cast("timestamp").as("day"), col("dau"), col("wau"),
        round(lit(1e-9) + col("dau") / col("wau").cast("double"), 6)
          .as("stickiness"),
        (abs(col("est") - col("wau")) <=
          col("wau").cast("double") * 0.05).as("wau_est_ok"))
      .orderBy("day")
  }

  /** Time-series LINEAR interpolation — the analytic sibling of
    * q27_gapfill's forward fill: interior holes in the per-type
    * 5-minute average series take the straight line between the
    * nearest observed buckets on each side
    * (pv + (nv − pv)·(t − t_prev)/(t_next − t_prev)); leading and
    * trailing holes (no anchor on one side) stay NULL rather than
    * inventing data. Same bounded 30-day reporting grid as q27 (the
    * fuzz sweep's 54-year span must not size the grid); the four
    * anchor columns are two frames of ONE window partitioning —
    * last/ignore-nulls looking back, first/ignore-nulls looking
    * forward — so the grid shuffles once.
    */
  val interpolate = Q(
    "q34_interpolate",
    """WITH b AS (
      |  SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_s,
      |    count(*) AS n, avg(value) AS av
      |  FROM events GROUP BY event_type, bucket_s),
      |r AS (
      |  SELECT greatest(
      |      CAST(floor(epoch(min(ts)) / 300) * 300 AS BIGINT),
      |      CAST(floor(epoch(max(ts)) / 300) * 300 AS BIGINT) - 2592000) AS lo,
      |    CAST(floor(epoch(max(ts)) / 300) * 300 AS BIGINT) AS hi
      |  FROM events),
      |g AS (
      |  SELECT t.event_type, gs.bucket_s
      |  FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN (SELECT unnest(range(lo, hi + 300, 300)) AS bucket_s FROM r) gs),
      |j AS (
      |  SELECT g.event_type, g.bucket_s, coalesce(b.n, 0) AS n, b.av
      |  FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.bucket_s = b.bucket_s),
      |w AS (
      |  SELECT event_type, bucket_s, n, av,
      |    last_value(av IGNORE NULLS) OVER (PARTITION BY event_type
      |      ORDER BY bucket_s ROWS UNBOUNDED PRECEDING) AS pv,
      |    last_value(CASE WHEN av IS NOT NULL THEN bucket_s END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY bucket_s
      |      ROWS UNBOUNDED PRECEDING) AS pt,
      |    first_value(av IGNORE NULLS) OVER (PARTITION BY event_type
      |      ORDER BY bucket_s
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN av IS NOT NULL THEN bucket_s END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY bucket_s
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      |  FROM j)
      |SELECT event_type, bucket_s, n,
      |  round(1e-9 + CASE WHEN av IS NOT NULL THEN av
      |    WHEN pv IS NOT NULL AND nv IS NOT NULL
      |    THEN pv + (nv - pv) * (bucket_s - pt) / CAST(nt - pt AS DOUBLE) END,
      |    4) AS value_li,
      |  (av IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS interpolated
      |FROM w
      |ORDER BY event_type, bucket_s""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val b = ev
      .withColumn("bucket_s",
        (floor(col("ts").cast("double") / 300) * 300).cast("long"))
      .groupBy(col("event_type").as("b_type"), col("bucket_s").as("b_bucket"))
      .agg(count(lit(1)).as("n"), avg("value").as("av"))
    val range = ev.agg(
        (floor(min(col("ts").cast("double")) / 300) * 300).cast("long").as("rawlo"),
        (floor(max(col("ts").cast("double")) / 300) * 300).cast("long").as("hi"))
      .select(greatest(col("rawlo"), col("hi") - lit(2592000L)).as("lo"), col("hi"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(range))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(300L))).as("bucket_s"))
    val wPrev = Window.partitionBy("event_type").orderBy("bucket_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Backward fill via a DESC-ordered RUNNING frame: Spark's
    // (currentRow -> unboundedFollowing) frame re-evaluates the aggregate
    // per row (O(rows^2) per partition); the descending running frame is
    // the same O(n) incremental machinery the forward fill uses.
    val wNext = Window.partitionBy("event_type").orderBy(col("bucket_s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obsT = when(col("av").isNotNull, col("bucket_s"))
    grid
      .join(b, col("event_type") === col("b_type") && col("bucket_s") === col("b_bucket"),
        "left")
      .select(col("event_type"), col("bucket_s"),
        coalesce(col("n"), lit(0L)).as("n"), col("av"))
      .withColumn("pv", last(col("av"), ignoreNulls = true).over(wPrev))
      .withColumn("pt", last(obsT, ignoreNulls = true).over(wPrev))
      .withColumn("nv", last(col("av"), ignoreNulls = true).over(wNext))
      .withColumn("nt", last(obsT, ignoreNulls = true).over(wNext))
      .select(col("event_type"), col("bucket_s"), col("n"),
        round(lit(1e-9) +
          when(col("av").isNotNull, col("av"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv")) *
                (col("bucket_s") - col("pt")) /
                (col("nt") - col("pt")).cast("double")),
          4).as("value_li"),
        (col("av").isNull && col("pv").isNotNull && col("nv").isNotNull)
          .as("interpolated"))
      .orderBy("event_type", "bucket_s")
  }

  /** Top-k frequent 3-step paths — sequence mining one level above
    * ev_pathing's pair-transition matrix: the most common
    * within-session event-type TRIPLES (both hops inside the 30-min
    * session gap), with corpus share. Two lead() offsets in ONE
    * user-keyed window pass (no self-joins — the naive 3-way join on
    * (user, ts±) is the plan that dies at scale); the corpus
    * collapses to the ≤|types|³ counts frame before the ranking
    * window, so the global ordering touches a bounded frame. Integer
    * counts + full path tiebreak make the top-k set engine-exact.
    */
  val pathsTopK = Q(
    "ev_paths_topk",
    """WITH s AS (
      |  SELECT user_id, ts, event_type,
      |    lead(event_type) OVER w AS t2, lead(ts) OVER w AS ts2,
      |    lead(event_type, 2) OVER w AS t3, lead(ts, 2) OVER w AS ts3
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |tr AS (SELECT event_type AS t1, t2, t3 FROM s
      |  WHERE t3 IS NOT NULL AND epoch(ts2) - epoch(ts) <= 1800
      |    AND epoch(ts3) - epoch(ts2) <= 1800),
      |c AS (SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c),
      |r AS (SELECT t1, t2, t3, n,
      |  CAST(row_number() OVER (ORDER BY n DESC, t1, t2, t3) AS BIGINT) AS rank FROM c)
      |SELECT rank, t1, t2, t3, n, round(1e-9 + n / tot, 6) AS share
      |FROM r CROSS JOIN tot
      |WHERE rank <= 10
      |ORDER BY rank""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val triples = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"),
        lead("event_type", 1).over(w).as("t2"),
        lead("ts", 1).over(w).as("ts2"),
        lead("event_type", 2).over(w).as("t3"),
        lead("ts", 2).over(w).as("ts3"))
      .filter(col("t3").isNotNull &&
        col("ts2").cast("double") - col("ts").cast("double") <= 1800 &&
        col("ts3").cast("double") - col("ts2").cast("double") <= 1800)
    val counts = triples.groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
    // both the rank and the share denominator are windows over the
    // ALREADY-AGGREGATED ≤|types|³ frame — a crossJoin'd total would
    // re-run the whole corpus pipeline for one number
    val wr = Window.orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
    val wAll = Window.partitionBy()
    counts
      .withColumn("tot", sum("n").over(wAll).cast("double"))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("rank"), col("t1"), col("t2"), col("t3"), col("n"),
        round(lit(1e-9) + col("n") / col("tot"), 6).as("share"))
      .orderBy("rank")
  }

  /** Cohort LTV triangle — ev_retention's revenue sibling and the
    * payback question every acquisition decision hangs on: users
    * cohorted by FIRST-PURCHASE week, each cohort's purchase revenue
    * accumulated over week offsets, reported as cumulative
    * revenue-per-cohort-user (2-dp cents-exact sums, the rounding
    * only at the division). One user-keyed aggregate finds cohorts,
    * one (cohort, offset) aggregate collapses the corpus, and the
    * running total is a window over that ≤ weeks² triangle — the
    * corpus never meets a window.
    */
  val ltv = Q(
    "ev_ltv",
    """WITH p AS (
      |  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |firsts AS (SELECT user_id, min(week) AS cohort FROM p GROUP BY user_id),
      |sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
      |          FROM firsts GROUP BY cohort),
      |cell AS (
      |  SELECT f.cohort, p.week - f.cohort AS week_offset,
      |    CAST(sum(p.cents) AS BIGINT) AS cents
      |  FROM p JOIN firsts f USING (user_id)
      |  GROUP BY f.cohort, week_offset),
      |tri AS (
      |  SELECT cohort, week_offset, cents,
      |    CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY week_offset
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |  FROM cell)
      |SELECT t.cohort, t.week_offset, s.n_users,
      |  round(1e-9 + t.cents / 100.0, 2) AS revenue,
      |  round(1e-9 + t.cum_cents / 100.0, 2) AS cum_revenue,
      |  round(1e-9 + t.cum_cents / (100.0 * s.n_users), 4) AS ltv_per_user
      |FROM tri t JOIN sizes s USING (cohort)
      |ORDER BY cohort, week_offset""".stripMargin) { (spark, dir) =>
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        floor(col("ts").cast("double") / 604800).cast("long").as("week"),
        round(col("value") * 100).cast("long").as("cents"))
    val firsts = p.groupBy("user_id").agg(min("week").as("cohort"))
    val sizes = firsts.groupBy("cohort").agg(count(lit(1)).as("n_users"))
    val cell = p.join(firsts, Seq("user_id"))
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("week_offset"))
      .agg(sum("cents").as("cents"))
    val w = Window.partitionBy("cohort").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cell
      .withColumn("cum_cents", sum("cents").over(w))
      .join(sizes, Seq("cohort"))
      .select(col("cohort"), col("week_offset"), col("n_users"),
        round(lit(1e-9) + col("cents") / 100.0, 2).as("revenue"),
        round(lit(1e-9) + col("cum_cents") / 100.0, 2).as("cum_revenue"),
        round(lit(1e-9) + col("cum_cents") / (lit(100.0) * col("n_users")), 4)
          .as("ltv_per_user"))
      .orderBy("cohort", "week_offset")
  }

  /** Cents band width for the Gini ranking's two-level prefix: user
    * lifetime revenue spans a bounded domain, so fixed-width bands
    * keep the cross-band frame tiny while the within-band ranking
    * stays partitioned.
    */
  private val GiniBand = 500L

  /** Revenue concentration — the Gini coefficient and top-decile
    * share of per-user purchase revenue: the "how 80/20 is this
    * business" statistic. Per-user cents are exact integers; the
    * Gini needs each user's GLOBAL revenue rank, which is computed
    * WITHOUT a single-partition sort via the two-level prefix (the
    * q33_skyline pattern): a partitioned row_number within
    * fixed-width cents bands plus cross-band count offsets from a
    * |bands|-row broadcast. All sums (Σ rank·cents, totals, decile
    * cut) stay integer to the end; only the two published ratios
    * round. Gini = 2·Σ(rank·xᵢ)/(n·Σx) − (n+1)/n over ascending
    * ranks with user-id tiebreak — ranks are a permutation either
    * way, so the tiebreak cannot move the statistic.
    */
  val gini = Q(
    "ev_gini",
    """WITH u AS (
      |  SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |r AS (SELECT user_id, cents,
      |    CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS rank
      |  FROM u),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS tot,
      |    CAST(sum(rank * cents) AS BIGINT) AS wsum FROM r),
      |t AS (SELECT CAST(sum(cents) AS BIGINT) AS top_cents
      |  FROM r CROSS JOIN s WHERE rank > n - n // 10)
      |SELECT n AS n_users, round(1e-9 + tot / 100.0, 2) AS total_revenue,
      |  round(1e-9 + 2.0 * wsum / (CAST(n AS DOUBLE) * tot) - (n + 1) / CAST(n AS DOUBLE), 6) AS gini,
      |  round(1e-9 + top_cents / CAST(tot AS DOUBLE), 6) AS top10_share
      |FROM s CROSS JOIN t""".stripMargin) { (spark, dir) =>
    val u = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("bkt", floor(col("cents") / lit(GiniBand)))
    // two-level global rank: within-band row_number (partitioned) +
    // strictly-lower-band counts (|bands| rows, broadcast)
    val wIn = Window.partitionBy("bkt").orderBy("cents", "user_id")
    val wBand = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = u.groupBy("bkt").agg(count(lit(1)).as("bn"))
      .withColumn("offset", coalesce(sum("bn").over(wBand), lit(0L)))
      .select("bkt", "offset")
    val ranked = u
      .withColumn("in_rank", row_number().over(wIn).cast("long"))
      .join(broadcast(offsets), Seq("bkt"))
      .select(col("user_id"), col("cents"),
        (col("offset") + col("in_rank")).as("rank"))
    val s = ranked.agg(
      count(lit(1)).as("n"), sum("cents").as("tot"),
      sum(col("rank") * col("cents")).as("wsum"))
    val t = ranked.crossJoin(broadcast(s))
      .filter(col("rank") > col("n") - expr("n div 10"))
      .agg(sum("cents").as("top_cents"))
    s.crossJoin(t)
      .select(col("n").as("n_users"),
        round(lit(1e-9) + col("tot") / 100.0, 2).as("total_revenue"),
        round(lit(1e-9) + lit(2.0) * col("wsum") /
          (col("n").cast("double") * col("tot")) -
          (col("n") + 1) / col("n").cast("double"), 6).as("gini"),
        round(lit(1e-9) + col("top_cents") / col("tot").cast("double"), 6)
          .as("top10_share"))
  }

  private val MarkovIters = 60
  private val MarkovChannels = Seq("click", "error", "signup", "view")

  /** Markov removal-effect attribution — the data-driven alternative
    * to ev_attribution's positional rules (Anderl et al.'s
    * absorbing-chain model): sessions become journeys
    * START → events → CONV (first purchase) or NULL (session end,
    * truncated at the first purchase), the journey graph's transition
    * probabilities are estimated from counts, and each channel's
    * credit is its REMOVAL EFFECT — how much the START→CONV
    * absorption probability drops when every transition into that
    * channel is redirected to NULL. Absorption probabilities come
    * from [[MarkovIters]] fixed-point iterations of
    * p(s) = P(s→CONV) + Σ_t P(s→t)·p(t) — a contraction, so both
    * engines converge to the same values and the oracle unrolls the
    * identical iterations per scenario as generated CTEs.
    *
    * Scale shape: the corpus collapses to the ≤(types+1)·(types+2)
    * transition-count frame in one session-windowed pass; the solve
    * runs on that collected bounded model state (the Classifier.train
    * parameter posture — ~30 rows, not data), once per scenario.
    */
  val attribMarkov = Q(
    "ev_attrib_markov", {
      def iterCtes(tag: String): String =
        (1 to MarkovIters).map { k =>
          val prev = if (k == 1) s"i0" else s"i${tag}_${k - 1}"
          // i0 is the shared all-zero start vector
          s"""i${tag}_$k AS MATERIALIZED (
             |  SELECT q.f AS s, sum(CASE WHEN q.t = 'CONV' THEN q.p
             |    WHEN q.t = 'NULL' THEN 0
             |    ELSE q.p * coalesce(prev.v, 0) END) AS v
             |  FROM q_$tag q LEFT JOIN $prev prev ON prev.s = q.t
             |  GROUP BY q.f)""".stripMargin
        }.mkString(",\n")
      val removalCtes = MarkovChannels.map { ch =>
        s"""q_$ch AS MATERIALIZED (
           |  SELECT f, CASE WHEN t = '$ch' THEN 'NULL' ELSE t END AS t, sum(p) AS p
           |  FROM q_full GROUP BY 1, 2),
           |${iterCtes(ch)}""".stripMargin
      }.mkString(",\n")
      val scenarioSelects = MarkovChannels.map { ch =>
        s"""SELECT '$ch' AS channel,
           |  (SELECT v FROM i${ch}_$MarkovIters WHERE s = 'START') AS removed_conv""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e0 AS (
         |  SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |e AS (
         |  SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
         |  FROM e0),
         |pos AS (SELECT *, row_number() OVER (
         |    PARTITION BY user_id, sid ORDER BY ts, event_id) AS pos FROM e),
         |fp AS (SELECT user_id, sid, min(pos) AS ppos FROM pos
         |  WHERE event_type = 'purchase' GROUP BY user_id, sid),
         |tr AS (SELECT p.* FROM pos p LEFT JOIN fp USING (user_id, sid)
         |  WHERE fp.ppos IS NULL OR p.pos <= fp.ppos),
         |steps AS (
         |  SELECT user_id, sid, pos,
         |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS st,
         |    lead(CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END)
         |      OVER (PARTITION BY user_id, sid ORDER BY pos) AS nxt
         |  FROM tr),
         |trans AS (
         |  SELECT 'START' AS f, st AS t FROM steps WHERE pos = 1
         |  UNION ALL
         |  SELECT st AS f, coalesce(nxt, 'NULL') AS t FROM steps WHERE st != 'CONV'),
         |c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM trans GROUP BY f, t),
         |q_full AS MATERIALIZED (
         |  SELECT f, t, n / CAST(sum(n) OVER (PARTITION BY f) AS DOUBLE) AS p FROM c),
         |i0 AS MATERIALIZED (SELECT DISTINCT f AS s, CAST(0 AS DOUBLE) AS v FROM q_full),
         |${iterCtes("full")},
         |$removalCtes,
         |full_conv AS (SELECT v FROM ifull_$MarkovIters WHERE s = 'START'),
         |scen AS (
         |$scenarioSelects
         |),
         |re AS (
         |  SELECT channel, removed_conv,
         |    CASE WHEN (SELECT v FROM full_conv) > 0
         |      THEN greatest(0, 1 - removed_conv / (SELECT v FROM full_conv)) END AS eff
         |  FROM scen),
         |tot AS (SELECT sum(eff) AS te FROM re)
         |SELECT channel,
         |  round(1e-9 + (SELECT v FROM full_conv), 6) AS full_conv,
         |  round(1e-9 + removed_conv, 6) AS removed_conv,
         |  round(1e-9 + eff, 6) AS removal_effect,
         |  round(1e-9 + CASE WHEN (SELECT te FROM tot) > 0
         |    THEN eff / (SELECT te FROM tot) END, 6) AS credit
         |FROM re
         |ORDER BY channel""".stripMargin
    }) { (spark, dir) =>
    val s = spark
    import s.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val e = Tables.events(spark, dir)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("ns",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800, 1)
          .otherwise(0))
      .withColumn("sid",
        sum("ns").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    val st = when(col("event_type") === "purchase", "CONV").otherwise(col("event_type"))
    // first-purchase position as a whole-partition window aggregate
    // riding the SAME (user_id, sid) exchange+sort as pos/nxt — the
    // former groupBy + left join paid a second session-keyed exchange
    // and a sort-merge join for the identical ppos. nxt is safe to
    // compute BEFORE the ppos truncation: the only row whose lead
    // crosses the cut is the CONV row itself, which never emits an
    // outgoing transition.
    val pos = e.withColumn("pos", row_number().over(wSess))
      .withColumn("st", st)
      .withColumn("nxt", lead("st", 1).over(wSess))
      .withColumn("ppos",
        min(when(col("event_type") === "purchase", col("pos")))
          .over(Window.partitionBy("user_id", "sid")))
    val steps = pos.filter(col("ppos").isNull || col("pos") <= col("ppos"))
    val trans = steps.filter(col("pos") === 1)
      .select(lit("START").as("f"), col("st").as("t"))
      .unionByName(steps.filter(col("st") =!= "CONV")
        .select(col("st").as("f"), coalesce(col("nxt"), lit("NULL")).as("t")))
    // bounded model state: ≤ (types+1)·(types+2) count rows — the
    // Classifier.train parameter posture, not a data collect
    val counts = trans.groupBy("f", "t").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rowSum = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum.toDouble).toMap
    val qFull = counts.map { case (f, t, n) => (f, t, n / rowSum(f)) }
    def solve(q: Seq[(String, String, Double)]): Map[String, Double] = {
      val states = q.map(_._1).distinct
      var v = states.map(_ -> 0.0).toMap
      for (_ <- 1 to MarkovIters) {
        v = states.map { st =>
          st -> q.filter(_._1 == st).map { case (_, t, p) =>
            if (t == "CONV") p
            else if (t == "NULL") 0.0
            else p * v.getOrElse(t, 0.0)
          }.sum
        }.toMap
      }
      v
    }
    // an empty corpus has no START state: the oracle's scalar
    // subqueries go NULL, so the Scala side must too, not 0.0
    val fullConvOpt = solve(qFull.toSeq).get("START")
    val rows = MarkovChannels.map { ch =>
      val qr = qFull.map { case (f, t, p) =>
        (f, if (t == ch) "NULL" else t, p) }
        .groupBy(x => (x._1, x._2)).map { case ((f, t), xs) => (f, t, xs.map(_._3).sum) }
        .toSeq
      val removedOpt = solve(qr).get("START")
      val eff: Option[Double] = (fullConvOpt, removedOpt) match {
        case (Some(fc), Some(r)) if fc > 0 => Some(math.max(0.0, 1 - r / fc))
        case _ => None
      }
      (ch, removedOpt, eff)
    }
    val totEff = rows.flatMap(_._3).sum
    val out = rows.map { case (ch, removed, eff) =>
      (ch, fullConvOpt, removed, eff,
        eff.flatMap(e => if (totEff > 0) Some(e / totEff) else None))
    }
    out.toDF("channel", "fc", "rc", "eff", "cr")
      .select(col("channel"),
        round(lit(1e-9) + col("fc"), 6).as("full_conv"),
        round(lit(1e-9) + col("rc"), 6).as("removed_conv"),
        round(lit(1e-9) + col("eff"), 6).as("removal_effect"),
        round(lit(1e-9) + col("cr"), 6).as("credit"))
      .orderBy("channel")
  }

  /** Seasonality profile — the day-of-week × hour-of-day load matrix
    * with a seasonal index per cell (observed rate vs the uniform
    * rate): the capacity/staffing view, and the baseline any anomaly
    * detector should normalize by before alerting on a quiet Sunday.
    * Both engines derive dow/hour from integer epoch arithmetic
    * (1970-01-01 is a Thursday; no engine-specific dayofweek
    * numbering reaches the output). ONE corpus aggregate to the
    * ≤168-cell frame; the index denominator is a window over it.
    */
  val seasonality = Q(
    "ev_seasonality",
    """WITH b AS (
      |  SELECT CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS BIGINT) AS dow,
      |    CAST(floor((epoch(ts) % 86400) / 3600) AS BIGINT) AS hour,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY dow, hour)
      |SELECT dow, hour, n,
      |  round(1e-9 + n / CAST(sum(n) OVER () AS DOUBLE), 6) AS share,
      |  round(1e-9 + n * 168.0 / sum(n) OVER (), 6) AS seasonal_index
      |FROM b
      |ORDER BY dow, hour""".stripMargin) { (spark, dir) =>
    val b = Tables.events(spark, dir)
      .withColumn("ep", floor(col("ts").cast("double")).cast("long"))
      // Column `/` is double division in Spark — dow/hour need `div`
      .select(expr("((ep div 86400) + 4) % 7").as("dow"),
        expr("(ep % 86400) div 3600").as("hour"))
      .groupBy("dow", "hour").agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy()
    b.withColumn("tot", sum("n").over(wAll))
      .select(col("dow"), col("hour"), col("n"),
        round(lit(1e-9) + col("n") / col("tot").cast("double"), 6).as("share"),
        round(lit(1e-9) + col("n") * lit(168.0) / col("tot"), 6)
          .as("seasonal_index"))
      .orderBy("dow", "hour")
  }

  /** Kaplan–Meier survival estimate of user lifetime with right
    * censoring — the churn curve a retention report draws next to
    * ev_retention's cohort grid. Lifetime = whole days between a
    * user's first and last event (epoch-day arithmetic, the
    * ev_retention idiom); a user whose last event falls within 7 days
    * of the corpus end is CENSORED at that lifetime (still alive at
    * observation close), otherwise it is a death. The estimator is
    * the standard product-limit S(d) = Π_{d'≤d} (1 − deaths_d'/risk_d')
    * over event days only. Scale shape: one user-keyed hash aggregate
    * reduces the stream to |users| rows, a second reduces those to
    * |days| rows (bounded by the observation window, ~hundreds), and
    * BOTH windows — the reverse-cumulative at-risk count and the
    * running product (as exp∘Σln) — run on that bounded per-day
    * frame, never on user rows. The zero-survival tail (everyone at
    * risk dies on the last day) is clamped at 1e-300 before ln so
    * both engines round it to exactly 0 instead of erroring on ln(0).
    */
  val survival = Q(
    "ev_survival",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(max(ts)) / 86400) - floor(epoch(min(ts)) / 86400) AS BIGINT) AS day,
      |    max(epoch(ts)) AS last_s
      |  FROM events GROUP BY user_id),
      |mx AS (SELECT max(epoch(ts)) AS m FROM events),
      |perday AS (
      |  SELECT day,
      |    CAST(count(*) FILTER (WHERE last_s <= m - 604800) AS BIGINT) AS n_death,
      |    CAST(count(*) FILTER (WHERE last_s > m - 604800) AS BIGINT) AS n_censor
      |  FROM u, mx GROUP BY day),
      |risk AS (
      |  SELECT day, n_death, n_censor,
      |    CAST(sum(n_death + n_censor) OVER (
      |      ORDER BY day DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_risk
      |  FROM perday)
      |SELECT day, n_risk, n_death, n_censor,
      |  round(1e-9 + exp(sum(ln(greatest(
      |      1.0 - CAST(n_death AS DOUBLE) / n_risk, 1e-300))) OVER (
      |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
      |    AS survival
      |FROM risk ORDER BY day""".stripMargin) { (spark, dir) =>
    // ONE corpus scan: the per-user aggregate is checkpointed and the
    // corpus max derives from its last_s column (max of per-user
    // maxes), instead of a second events pass
    val u = Tables.events(spark, dir).groupBy("user_id")
      .agg(
        (floor(max(col("ts").cast("double")) / 86400) -
          floor(min(col("ts").cast("double")) / 86400)).cast("long").as("day"),
        max(col("ts").cast("double")).as("last_s"))
      .localCheckpoint(true)
    val mx = u.agg(max(col("last_s")).as("m"))
    val perday = u.crossJoin(broadcast(mx))
      .groupBy("day")
      .agg(
        count(when(col("last_s") <= col("m") - 604800, 1)).as("n_death"),
        count(when(col("last_s") > col("m") - 604800, 1)).as("n_censor"))
    val wDesc = Window.orderBy(col("day").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = perday
      .withColumn("n_risk", sum(col("n_death") + col("n_censor")).over(wDesc))
      .withColumn("survival",
        round(lit(1e-9) + exp(sum(log(greatest(
          lit(1.0) - col("n_death").cast("double") / col("n_risk"),
          lit(1e-300)))).over(wAsc)), 6))
      .select("day", "n_risk", "n_death", "n_censor", "survival")
      .orderBy("day")
      .localCheckpoint(true)
    Dedup.releaseLocalCheckpoint(u)
    out
  }

  /** Time-to-convert distribution: for each signup-day cohort, how
    * long after their FIRST signup users take to their first
    * strictly-later purchase — conversion rate plus exact quartiles
    * of the lag in whole minutes. The duration twin of
    * ev_windowfunnel (which gates on a fixed window; this measures
    * the window). Shape: two type-filtered user-keyed min-aggregates
    * chained by a user-key join (the windowless funnel idiom — no
    * per-user history sort), then one |cohorts|-group aggregate.
    * The exact percentile state is the converted-lag list per cohort
    * — bounded by converters-per-day; at warehouse scale swap
    * percentile_approx in, here exactness buys the oracle pin (the
    * q13 posture).
    */
  val conversionLag = Q(
    "ev_conversion_lag",
    """WITH s AS (
      |  SELECT user_id, min(epoch(ts)) AS s_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |p AS (
      |  SELECT e.user_id, min(epoch(e.ts)) AS p_ts
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'purchase' AND epoch(e.ts) > s.s_ts
      |  GROUP BY e.user_id),
      |lags AS (
      |  SELECT CAST(floor(s.s_ts / 86400) AS BIGINT) AS cohort_day,
      |    CAST(floor((p.p_ts - s.s_ts) / 60) AS BIGINT) AS lag_min
      |  FROM s LEFT JOIN p ON s.user_id = p.user_id)
      |SELECT cohort_day,
      |  CAST(count(*) AS BIGINT) AS n_signups,
      |  CAST(count(lag_min) AS BIGINT) AS n_converted,
      |  round(1e-9 + count(lag_min) / CAST(count(*) AS DOUBLE), 6) AS conv_rate,
      |  round(1e-9 + quantile_cont(lag_min, 0.25), 4) AS p25_lag_min,
      |  round(1e-9 + quantile_cont(lag_min, 0.5), 4) AS p50_lag_min,
      |  round(1e-9 + quantile_cont(lag_min, 0.75), 4) AS p75_lag_min
      |FROM lags GROUP BY cohort_day ORDER BY cohort_day""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val s = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts").cast("double")).as("s_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").cast("double").as("p_raw"))
      .join(s, "user_id")
      .filter(col("p_raw") > col("s_ts"))
      .groupBy("user_id").agg(min("p_raw").as("p_ts"))
    s.join(p, Seq("user_id"), "left")
      .select(
        floor(col("s_ts") / 86400).cast("long").as("cohort_day"),
        floor((col("p_ts") - col("s_ts")) / 60).cast("long").as("lag_min"))
      .groupBy("cohort_day")
      .agg(
        count(lit(1)).as("n_signups"),
        count(col("lag_min")).as("n_converted"),
        round(lit(1e-9) + count(col("lag_min")) / count(lit(1)).cast("double"), 6)
          .as("conv_rate"),
        round(lit(1e-9) + percentile(col("lag_min"), lit(0.25)), 4).as("p25_lag_min"),
        round(lit(1e-9) + percentile(col("lag_min"), lit(0.5)), 4).as("p50_lag_min"),
        round(lit(1e-9) + percentile(col("lag_min"), lit(0.75)), 4).as("p75_lag_min"))
      .orderBy("cohort_day")
  }

  /** Inter-arrival statistics per event type: the gaps between a
    * user's consecutive events of one type, reduced to mean / sd /
    * coefficient-of-variation and the Goh–Barabási burstiness index
    * B = (cv−1)/(cv+1) — B→−1 periodic, 0 Poisson, →1 bursty. The
    * stream-regularity diagnostic behind ev_anomaly's rate gates.
    * Shape: ONE lag window per (user, type) partition (the
    * sessionize partition — thousands of small independent
    * partitions, no global sort) feeding one |types|-row hash
    * aggregate of constant-width moments. Ordering inside a
    * partition is (ts, event_id) so equal-timestamp rows rank
    * identically on both engines.
    */
  val interarrival = Q(
    "ev_interarrival",
    """WITH g AS (
      |  SELECT event_type,
      |    epoch(ts) - lag(epoch(ts)) OVER (
      |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_s
      |  FROM events)
      |SELECT event_type,
      |  CAST(count(gap_s) AS BIGINT) AS n_gaps,
      |  round(1e-9 + avg(gap_s), 4) AS avg_gap_s,
      |  round(1e-9 + stddev_samp(gap_s), 4) AS sd_gap_s,
      |  round(1e-9 + stddev_samp(gap_s) / (CASE WHEN avg(gap_s) > 0
      |    THEN avg(gap_s) END), 6) AS cv,
      |  round(1e-9 + (stddev_samp(gap_s) - avg(gap_s)) /
      |    (CASE WHEN stddev_samp(gap_s) + avg(gap_s) > 0
      |      THEN stddev_samp(gap_s) + avg(gap_s) END), 6) AS burstiness
      |FROM g WHERE gap_s IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    val g = Tables.events(spark, dir)
      .withColumn("gap_s",
        col("ts").cast("double") - lag(col("ts").cast("double"), 1).over(w))
      .filter(col("gap_s").isNotNull)
    g.groupBy("event_type")
      .agg(
        count(col("gap_s")).as("n_gaps"),
        round(lit(1e-9) + avg("gap_s"), 4).as("avg_gap_s"),
        round(lit(1e-9) + stddev_samp(col("gap_s")), 4).as("sd_gap_s"),
        round(lit(1e-9) + stddev_samp(col("gap_s")) /
          when(avg("gap_s") > 0, avg("gap_s")), 6).as("cv"),
        round(lit(1e-9) + (stddev_samp(col("gap_s")) - avg("gap_s")) /
          when(stddev_samp(col("gap_s")) + avg("gap_s") > 0,
            stddev_samp(col("gap_s")) + avg("gap_s")), 6).as("burstiness"))
      .orderBy("event_type")
  }

  private val HoltBeta = 0.1

  /** One-step-ahead impulse response of Holt's linear method at
    * (α = SesAlpha, β = HoltBeta), zero initial state: weight(k) is
    * the forecast contribution of an observation k buckets back —
    * the recursion is linear-time-invariant, so the whole filter is
    * these 24 constants, precomputed driver-side (NO data touched)
    * and emitted as exact double literals into BOTH engines, the
    * ev_forecast posture. β = 0 degenerates to the SES weights.
    */
  private lazy val holtWeights: Seq[(Int, Double)] =
    (1 to SesWindow).map { k =>
      var l = 0.0; var b = 0.0
      for (t <- 1 to k) {
        val x = if (t == 1) 1.0 else 0.0
        val lPrev = l
        l = SesAlpha * x + (1 - SesAlpha) * (l + b)
        b = HoltBeta * (l - lPrev) + (1 - HoltBeta) * b
      }
      (k, l + b)
    }

  /** ev_forecast_holt — Holt's linear (double-exponential) one-step
    * forecast of the per-type 5-minute event rate: level AND trend,
    * so a steadily growing stream is anticipated rather than lagged
    * (SES's structural bias). Same time-offset contribution shape as
    * ev_forecast — absent buckets decay the forecast as zero rate,
    * the small (bucket, type) counts frame explodes 24× (never raw
    * events), everything after the first keyed agg is
    * corpus-size-independent. The coupled level/trend recursion
    * never runs on data: it is an LTI filter, so its 24-term impulse
    * response is precomputed driver-side and the forecast is one
    * weighted sum — identical literals, identical grouping, both
    * engines. The trend term can extrapolate a decline below zero;
    * a rate forecast floors at 0 (both engines).
    */
  val forecastHolt = Q(
    "ev_forecast_holt", {
      val wRows = holtWeights.map { case (k, w) => s"($k, ${w.toString})" }.mkString(", ")
      s"""WITH c AS (
         |  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_s,
         |    event_type, CAST(count(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1, 2),
         |f AS (
         |  SELECT event_type AS f_type, bucket_s + k * 300 AS tb,
         |    sum(n_events * w) AS forecast
         |  FROM c, (VALUES $wRows) AS wt(k, w)
         |  GROUP BY 1, 2)
         |SELECT c.event_type, c.bucket_s, c.n_events,
         |  round(1e-9 + greatest(coalesce(f.forecast, 0), 0) + 1e-9, 4) AS forecast,
         |  round(1e-9 + abs(c.n_events - greatest(coalesce(f.forecast, 0), 0)) + 1e-9, 4) AS abs_err
         |FROM c LEFT JOIN f ON f.f_type = c.event_type AND f.tb = c.bucket_s
         |ORDER BY event_type, bucket_s""".stripMargin
    }) { (spark, dir) =>
    val counts = Tables.events(spark, dir)
      .withColumn("bucket_s",
        (floor(col("ts").cast("double") / 300) * 300).cast("long"))
      .groupBy("bucket_s", "event_type")
      .agg(count(lit(1)).as("n_events"))
    val wArr = array(holtWeights.map { case (k, w) =>
      struct(lit(k.toLong).as("k"), lit(w).as("w"))
    }: _*)
    val contrib = counts
      .select(col("event_type"), col("bucket_s"), col("n_events"),
        explode(wArr).as("wt"))
      .groupBy(col("event_type").as("f_type"), (col("bucket_s") + col("wt.k") * 300).as("tb"))
      .agg(sum(col("n_events") * col("wt.w")).as("forecast"))
    counts.join(contrib,
        col("f_type") === col("event_type") &&
          col("tb") === col("bucket_s"), "left")
      .select(col("event_type"), col("bucket_s"), col("n_events"),
        round(lit(1e-9) + greatest(coalesce(col("forecast"), lit(0d)), lit(0d)) + 1e-9, 4).as("forecast"),
        round(lit(1e-9) + abs(col("n_events") - greatest(coalesce(col("forecast"), lit(0d)), lit(0d))) + 1e-9, 4)
          .as("abs_err"))
      .orderBy("event_type", "bucket_s")
  }

  /** Two-proportion z-test on day-one activation — the A/B
    * significance gate for RATES, completing q35_ttest's means:
    * users split into deterministic arms by user_id parity,
    * conversion = FIRST PURCHASE WITHIN 24 h OF THE USER'S FIRST
    * EVENT (lifetime purchase saturates at 100% on this stream — an
    * activation window keeps the metric discriminative, ~51% at
    * sf0.01), pooled-variance z on the two proportions. Shape: one
    * user-keyed aggregate with TWO min states (first event, first
    * purchase) collapses the stream — no self-join — then ONE
    * conditional-aggregation row; z derives from integer-derived
    * doubles computed identically on both engines, so the
    * significance boolean cannot flip at the boundary. Guards keep z
    * NULL when either arm is empty or the pooled variance is zero
    * (fuzz/empty posture).
    */
  val propTest = Q(
    "ev_prop_test",
    """WITH u AS (
      |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
      |    CASE WHEN min(CASE WHEN event_type = 'purchase' THEN epoch(ts) END)
      |           < min(epoch(ts)) + 86400 THEN 1 ELSE 0 END AS conv
      |  FROM events GROUP BY user_id),
      |s AS (
      |  SELECT
      |    CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
      |    CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b,
      |    CAST(sum(conv) FILTER (WHERE arm = 0) AS BIGINT) AS conv_a,
      |    CAST(sum(conv) FILTER (WHERE arm = 1) AS BIGINT) AS conv_b
      |  FROM u)
      |SELECT n_a, n_b, coalesce(conv_a, 0) AS conv_a, coalesce(conv_b, 0) AS conv_b,
      |  round(1e-9 + conv_a / CAST(n_a AS DOUBLE), 6) AS p_a,
      |  round(1e-9 + conv_b / CAST(n_b AS DOUBLE), 6) AS p_b,
      |  round(1e-9 + (conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE)) /
      |    (CASE WHEN n_a > 0 AND n_b > 0
      |       AND (conv_a + conv_b) > 0 AND (conv_a + conv_b) < n_a + n_b
      |     THEN sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
      |       * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
      |       * (1.0 / n_a + 1.0 / n_b)) END), 4) AS z,
      |  abs((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE)) /
      |    (CASE WHEN n_a > 0 AND n_b > 0
      |       AND (conv_a + conv_b) > 0 AND (conv_a + conv_b) < n_a + n_b
      |     THEN sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
      |       * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
      |       * (1.0 / n_a + 1.0 / n_b)) END)) > 1.96 AS significant
      |FROM s""".stripMargin) { (spark, dir) =>
    val u = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        min(col("ts").cast("double")).as("f"),
        min(when(col("event_type") === "purchase", col("ts").cast("double"))).as("fp"))
      .select(col("user_id"),
        when(col("fp") < col("f") + 86400, 1).otherwise(0).as("conv"),
        (col("user_id") % 2).cast("long").as("arm"))
    val s = u.agg(
      count(when(col("arm") === 0, 1)).as("n_a"),
      count(when(col("arm") === 1, 1)).as("n_b"),
      sum(when(col("arm") === 0, col("conv"))).as("conv_a"),
      sum(when(col("arm") === 1, col("conv"))).as("conv_b"))
    val pA = col("conv_a") / col("n_a").cast("double")
    val pB = col("conv_b") / col("n_b").cast("double")
    val pooled = (col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b")).cast("double")
    val se = when(col("n_a") > 0 && col("n_b") > 0 &&
      (col("conv_a") + col("conv_b")) > 0 &&
      (col("conv_a") + col("conv_b")) < col("n_a") + col("n_b"),
      sqrt(pooled * (lit(1) - pooled) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
    val z = (pA - pB) / se
    s.select(col("n_a"), col("n_b"),
      coalesce(col("conv_a"), lit(0L)).as("conv_a"),
      coalesce(col("conv_b"), lit(0L)).as("conv_b"),
      round(lit(1e-9) + pA, 6).as("p_a"),
      round(lit(1e-9) + pB, 6).as("p_b"),
      round(lit(1e-9) + z, 4).as("z"),
      (abs(z) > 1.96).as("significant"))
  }

  private val SloTarget = 0.25 // error-share objective the burn normalizes by

  /** Multi-window SLO burn-rate alert (the SRE-workbook pattern): the
    * error share per hourly bucket, normalized by the SLO target into
    * a burn rate, rolled over a 6 h short window AND a 24 h long
    * window — an alert fires only when BOTH exceed 1 (fast-burn
    * confirmation without flapping on single-bucket spikes). The
    * rolling sums use RANGE frames on the integer hour index, so
    * missing buckets correctly shrink the window rather than being
    * skipped. Reported per day: bucket count, max of each rounded
    * burn, alert count. Shape: ONE keyed aggregate collapses events
    * to the per-hour frame (bounded by the time domain, not the
    * corpus); every window and the daily rollup run on that bounded
    * frame. The alert comparison uses the raw quotient of identical
    * integer counts, so both engines decide identically even at
    * burn = 1.0 exactly.
    */
  val sloBurn = Q(
    "ev_slo_burn",
    s"""WITH hb AS (
       |  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_err
       |  FROM events GROUP BY h),
       |burn AS (
       |  SELECT h, n, n_err,
       |    (sum(n_err) OVER w6) / (CAST(sum(n) OVER w6 AS DOUBLE) * $SloTarget) AS b_short,
       |    (sum(n_err) OVER w24) / (CAST(sum(n) OVER w24 AS DOUBLE) * $SloTarget) AS b_long
       |  FROM hb
       |  WINDOW w6 AS (ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW),
       |    w24 AS (ORDER BY h RANGE BETWEEN 23 PRECEDING AND CURRENT ROW))
       |SELECT CAST(floor(h / 24) AS BIGINT) AS day,
       |  CAST(count(*) AS BIGINT) AS n_hours,
       |  CAST(sum(n) AS BIGINT) AS n_events,
       |  round(1e-9 + max(b_short), 4) AS max_burn_short,
       |  round(1e-9 + max(b_long), 4) AS max_burn_long,
       |  CAST(count(*) FILTER (WHERE b_short >= 1 AND b_long >= 1) AS BIGINT) AS n_alerts
       |FROM burn GROUP BY day ORDER BY day""".stripMargin) { (spark, dir) =>
    val hb = Tables.events(spark, dir)
      .groupBy(floor(col("ts").cast("double") / 3600).cast("long").as("h"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "error", 1)).as("n_err"))
    def w(preceding: Long) = Window.orderBy("h").rangeBetween(-preceding, 0)
    val bShort = sum("n_err").over(w(5)) / (sum("n").over(w(5)).cast("double") * SloTarget)
    val bLong = sum("n_err").over(w(23)) / (sum("n").over(w(23)).cast("double") * SloTarget)
    hb.withColumn("b_short", bShort).withColumn("b_long", bLong)
      .groupBy(floor(col("h") / 24).cast("long").as("day"))
      .agg(count(lit(1)).as("n_hours"),
        sum("n").as("n_events"),
        round(lit(1e-9) + max("b_short"), 4).as("max_burn_short"),
        round(lit(1e-9) + max("b_long"), 4).as("max_burn_long"),
        count(when(col("b_short") >= 1 && col("b_long") >= 1, 1)).as("n_alerts"))
      .orderBy("day")
  }

  // 72 h; shared with Streaming.sequenceMatch so the batch query and
  // the stream twin cannot disagree on the pattern window
  private[graft] val SeqWindowUs = 259200000000L

  /** CEP sequence match with NEGATION — the pattern ev_windowfunnel's
    * monotone step-counting cannot express: `signup FOLLOWED BY
    * purchase within 72 h, with NO error event in between` (MATCH_
    * RECOGNIZE's `A (^C)* B` shape). The negative condition is what
    * makes this a complex-event pattern: the funnel family only asks
    * "did B happen after A", never "did C NOT happen between them".
    *
    * Plan: one running per-user error counter (window over (ts,
    * event_id) — rows strictly BEFORE the current row, so an error AT
    * the purchase row doesn't poison its own match) turns the
    * negation into an integer equality: the first purchase within the
    * window is CLEAN iff its preceding-error count equals the
    * signup's. Every signup occurrence anchors independently
    * (MATCH_RECOGNIZE AFTER MATCH SKIP TO NEXT ROW semantics).
    *
    * Scale shape: the counter window and both joins are keyed by
    * user_id — the partitioning every sessionization op in this file
    * already shuffles on, carried through min_by/first-purchase
    * selection; output is one summary row. At 100 TB this is the
    * ev_windowfunnel cost plus one integer column.
    */
  val sequenceMatch = Q(
    "ev_sequence",
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
       |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS err_before
       |  FROM events),
       |s AS (SELECT user_id, event_id, us AS t1, coalesce(err_before, 0) AS e1
       |      FROM e WHERE event_type = 'signup'),
       |p AS (SELECT user_id, us AS tp, coalesce(err_before, 0) AS ep
       |      FROM e WHERE event_type = 'purchase'),
       |first_p AS (
       |  -- e2 = err count before the FIRST in-window purchase: err_before
       |  -- is nondecreasing in event order, so min(ep) over the window IS
       |  -- the first purchase's counter — no arg_min tie-break needed.
       |  -- event_id in the key: each signup OCCURRENCE anchors
       |  -- independently (SKIP TO NEXT ROW), even exact-duplicate rows.
       |  SELECT s.user_id, s.event_id, s.t1, s.e1,
       |    min(p.tp) AS t2, min(p.ep) AS e2
       |  FROM s LEFT JOIN p ON p.user_id = s.user_id
       |    AND p.tp > s.t1 AND p.tp <= s.t1 + $SeqWindowUs
       |  GROUP BY s.user_id, s.event_id, s.t1, s.e1)
       |SELECT
       |  CAST(count(*) AS BIGINT) AS n_anchors,
       |  CAST(count(t2) AS BIGINT) AS n_completed,
       |  CAST(sum(CASE WHEN t2 IS NOT NULL AND e2 = e1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clean,
       |  CAST(sum(CASE WHEN t2 IS NOT NULL AND e2 > e1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_blocked,
       |  round(1e-9 + sum(CASE WHEN t2 IS NOT NULL AND e2 = e1 THEN 1 ELSE 0 END)
       |    / CAST(count(*) AS DOUBLE), 6) AS clean_rate,
       |  round(1e-9 + avg(CASE WHEN e2 = e1
       |    THEN (t2 - t1) / 3600000000.0 END), 4) AS avg_hours_clean
       |FROM first_p""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("err_before",
        coalesce(sum(when(col("event_type") === "error", 1L).otherwise(0L)).over(w),
          lit(0L)))
    val s = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"),
        col("us").as("t1"), col("err_before").as("e1"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("us").as("tp"), col("err_before").as("ep"))
    val firstP = s.join(p,
        col("user_id") === col("pu") && col("tp") > col("t1") &&
          col("tp") <= col("t1") + lit(SeqWindowUs), "left")
      .groupBy("user_id", "event_id", "t1", "e1")
      // min(ep) == the first in-window purchase's counter (err_before is
      // nondecreasing in event order) — avoids min_by's tie nondeterminism
      .agg(min("tp").as("t2"), min("ep").as("e2"))
    firstP.agg(
      count(lit(1)).as("n_anchors"),
      count(col("t2")).as("n_completed"),
      sum(when(col("t2").isNotNull && col("e2") === col("e1"), 1L).otherwise(0L))
        .as("n_clean"),
      sum(when(col("t2").isNotNull && col("e2") > col("e1"), 1L).otherwise(0L))
        .as("n_blocked"),
      round(lit(1e-9) +
        sum(when(col("t2").isNotNull && col("e2") === col("e1"), 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 6).as("clean_rate"),
      round(lit(1e-9) +
        avg(when(col("e2") === col("e1"), (col("t2") - col("t1")) / lit(3600000000.0))),
        4).as("avg_hours_clean"))
  }

  val all: Seq[Q] =
    Seq(windowAgg, sessionize, funnel, json, retention, asof, rangeJoin,
      sessionWindow, variant, windowFunnel, gapfill, attribution, pathing,
      anomaly, rfm, forecast, changepoint, activeUsers, interpolate,
      pathsTopK, ltv, gini, attribMarkov, seasonality,
      survival, conversionLag, interarrival, sloBurn, forecastHolt, propTest,
      sequenceMatch)
}
