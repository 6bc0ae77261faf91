package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Change-data-capture / snapshot operators — the ingest-maintenance
  * primitives a continuously-refreshed corpus needs: newest-wins key
  * compaction (cdc_latest), snapshot-to-snapshot diff (cdc_diff), and
  * delta-vs-index incremental dedup (dd_incremental, registered here
  * next to its batch siblings in Dedup). Reference analog: the
  * toolkit's cache layer persists newest-wins fingerprint entries and
  * refreshes them per run (cache.py:1-108); these operators are that
  * maintenance story at corpus scale.
  *
  * Scale shapes: every operator here shuffles fixed-width keys or
  * 32-byte content hashes — never text. cdc_latest is one hash
  * aggregation (max-struct, no window); cdc_diff joins the two
  * snapshots' (doc_id, sha) INDEX projections — at 100 TB the sha
  * index is a stored table (mv_incremental discipline) and the diff
  * never rereads either snapshot's text; dd_incremental joins the
  * delta against the stored corpus sha index, so ingesting N new docs
  * costs O(N) + one index probe regardless of corpus size.
  */
object Cdc {

  /** Newest-wins compaction: the current value per (user_id,
    * event_type) key — the classic CDC "latest snapshot" serve (and
    * the batch twin of Streaming.latest). One hash aggregation via
    * max(struct(ts_us, event_id, value)): ties on ts break to the
    * highest event_id, and because event_id is unique the value field
    * never participates in the ordering. No window, no sort — the
    * no-window argmax discipline (q2_mincost).
    */
  val latest = Q(
    "cdc_latest",
    """WITH m AS (
      |  SELECT user_id, event_type, max(epoch_us(ts)) AS last_us
      |  FROM events GROUP BY user_id, event_type),
      |t AS (
      |  SELECT e.user_id, e.event_type, m.last_us,
      |    max(e.event_id) AS last_event_id
      |  FROM events e
      |  JOIN m ON e.user_id = m.user_id AND e.event_type = m.event_type
      |    AND epoch_us(e.ts) = m.last_us
      |  GROUP BY e.user_id, e.event_type, m.last_us)
      |SELECT t.user_id, t.event_type, t.last_us, t.last_event_id,
      |  round(1e-9 + e.value, 4) AS last_value
      |FROM t JOIN events e ON e.event_id = t.last_event_id
      |ORDER BY t.user_id, t.event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(max(struct(
        unix_micros(col("ts")).as("last_us"),
        col("event_id").as("last_event_id"),
        col("value").as("v"))).as("b"))
      .select(col("user_id"), col("event_type"),
        col("b.last_us"), col("b.last_event_id"),
        round(lit(1e-9) + col("b.v"), 4).as("last_value"))
      .orderBy("user_id", "event_type")
  }

  /** The two deterministic snapshot fixtures cdc_diff compares,
    * derived from `documents` so both engines construct the identical
    * pair: the OLD snapshot lacks docs with doc_id % 17 = 3 (later
    * additions), the NEW snapshot lacks docs with doc_id % 19 = 7
    * (deletions) and carries an edited text for doc_id % 23 = 5
    * (updates). Projected straight to the (doc_id, source, sha)
    * INDEX shape — the diff never carries text.
    */
  private def snapshots(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val old = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("sha"))
    val neu = docs.filter(col("doc_id") % 19 =!= 7)
      .select(col("doc_id"), col("source"),
        sha2(when(col("doc_id") % 23 === 5, concat(col("text"), lit(" v2")))
          .otherwise(col("text")), 256).as("sha"))
    (old, neu)
  }

  /** Snapshot diff: per (source, status) row counts between two corpus
    * snapshots — added / removed / changed / unchanged, decided by a
    * full-outer join of the two sha indexes on doc_id. The audit
    * table every versioned-corpus refresh publishes.
    */
  val diff = Q(
    "cdc_diff",
    """WITH old AS (
      |  SELECT doc_id, source, sha256(text) AS sha
      |  FROM documents WHERE doc_id % 17 <> 3),
      |neu AS (
      |  SELECT doc_id, source,
      |    sha256(CASE WHEN doc_id % 23 = 5 THEN text || ' v2' ELSE text END) AS sha
      |  FROM documents WHERE doc_id % 19 <> 7),
      |d AS (
      |  SELECT COALESCE(o.source, n.source) AS source,
      |    CASE WHEN o.doc_id IS NULL THEN 'added'
      |         WHEN n.doc_id IS NULL THEN 'removed'
      |         WHEN o.sha <> n.sha THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id)
      |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
      |FROM d GROUP BY source, status
      |ORDER BY source, status""".stripMargin) { (spark, dir) =>
    val (old, neu) = snapshots(spark, dir)
    val o = old.toDF("o_id", "o_source", "o_sha")
    val n = neu.toDF("n_id", "n_source", "n_sha")
    o.join(n, col("o_id") === col("n_id"), "full_outer")
      .select(
        coalesce(col("o_source"), col("n_source")).as("source"),
        when(col("o_id").isNull, "added")
          .when(col("n_id").isNull, "removed")
          .when(col("o_sha") =!= col("n_sha"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "status")
  }

  /** Incremental dedup: a DELTA batch (the 20% of docs with
    * doc_id % 10 ≥ 8 playing "today's ingest") deduplicated against
    * the standing corpus sha INDEX (the other 80%) without rescanning
    * corpus text. Verdicts: dup_corpus (content already ingested),
    * dup_delta (first-wins loser within the batch — the smallest
    * doc_id copy is the keeper), new. This is exact dedup
    * (dd_exact_hash) restated for continuous ingest: per batch the
    * cost is O(|delta|) plus one 32-byte-key probe of the index —
    * corpus size never re-enters, the same base+delta algebra as
    * mv_incremental.
    */
  val incremental = Q(
    "dd_incremental",
    """WITH idx AS (
      |  SELECT DISTINCT sha256(text) AS sha FROM documents WHERE doc_id % 10 < 8),
      |delta AS (
      |  SELECT doc_id, source, sha256(text) AS sha
      |  FROM documents WHERE doc_id % 10 >= 8),
      |first AS (
      |  SELECT sha, min(doc_id) AS keeper FROM delta GROUP BY sha)
      |SELECT d.doc_id, d.source,
      |  CASE WHEN i.sha IS NOT NULL THEN 'dup_corpus'
      |       WHEN d.doc_id <> f.keeper THEN 'dup_delta'
      |       ELSE 'new' END AS verdict
      |FROM delta d
      |JOIN first f ON d.sha = f.sha
      |LEFT JOIN idx i ON d.sha = i.sha
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val idx = docs.filter(col("doc_id") % 10 < 8)
      .select(sha2(col("text"), 256).as("i_sha")).distinct()
    val delta = docs.filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("sha"))
    val first = delta.groupBy("sha").agg(min("doc_id").as("keeper"))
    delta
      .join(first, "sha")
      .join(idx, col("sha") === col("i_sha"), "left")
      .select(col("doc_id"), col("source"),
        when(col("i_sha").isNotNull, "dup_corpus")
          .when(col("doc_id") =!= col("keeper"), "dup_delta")
          .otherwise("new").as("verdict"))
      .orderBy("doc_id")
  }

  /** SCD Type-2 history build: the full version history per
    * (user_id, event_type) key from the events changelog — the
    * dimension-history companion to cdc_latest's current-only serve.
    * Consecutive no-op updates (same 4-dp-rounded value as the
    * previous surviving version) are suppressed first — a lag
    * compare collapses each equal run to its first row, which is
    * exactly sequential no-op suppression — then survivors get
    * version numbers, [valid_from, valid_to) bounds from lead(), and
    * an is_current flag on the open version. Shape: ONE keyed
    * exchange on (user_id, event_type); the suppression filter
    * preserves that partitioning, so the re-versioning windows reuse
    * it (two Window nodes, one shuffle — plan-asserted). Per-task
    * work is bounded by one key's history, the natural CDC unit.
    * Streaming twin: [[graft.streaming.Streaming.scd2]] emits each
    * closed version the moment its successor arrives.
    */
  val scd2 = Q(
    "cdc_scd2",
    """WITH c AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
      |    round(1e-9 + value, 4) AS value,
      |    lag(round(1e-9 + value, 4)) OVER
      |      (PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |s AS (SELECT * FROM c WHERE prev IS NULL OR value <> prev)
      |SELECT user_id, event_type,
      |  CAST(row_number() OVER w AS INT) AS version,
      |  ts_us AS valid_from_us,
      |  lead(ts_us) OVER w AS valid_to_us,
      |  value,
      |  lead(ts_us) OVER w IS NULL AS is_current
      |FROM s
      |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
      |ORDER BY user_id, event_type, version""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    val surv = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"),
        round(lit(1e-9) + col("value"), 4).as("value"))
      .withColumn("prev", lag("value", 1).over(w))
      .filter(col("prev").isNull || col("value") =!= col("prev"))
    surv
      .select(col("user_id"), col("event_type"),
        row_number().over(w).cast("int").as("version"),
        col("ts_us").as("valid_from_us"),
        lead("ts_us", 1).over(w).as("valid_to_us"),
        col("value"),
        lead("ts_us", 1).over(w).isNull.as("is_current"))
      .orderBy("user_id", "event_type", "version")
  }

  /** MERGE INTO — the changelog-apply mechanics every lakehouse
    * refresh runs: a deterministic changelog (inserts doc_id%17=3,
    * deletes %19=7, updates %23=5, DELETE WINNING overlaps — the
    * priority rule an out-of-order multi-op batch needs) applied to
    * the OLD snapshot as anti-join (drop deleted + updated keys) ∪
    * updated rows ∪ inserted rows. The result must equal the NEW
    * snapshot EXACTLY — the applied_ok boolean compares the applied
    * sha index against the expected one per source (zero mismatches,
    * zero missing, both directions) and the oracle hash-checks it
    * TRUE, so a wrong priority rule on either engine fails the gate.
    * Per-source row accounting (before/after/inserted/deleted/
    * updated) rides along. Everything joins on doc_id or compares
    * 32-byte shas — no text in any exchange (snapshots() projects to
    * the index shape before the merge).
    */
  val apply = Q(
    "cdc_apply",
    """WITH old AS (
      |  SELECT doc_id, source, sha256(text) AS sha
      |  FROM documents WHERE doc_id % 17 <> 3),
      |neu AS (
      |  SELECT doc_id, source,
      |    sha256(CASE WHEN doc_id % 23 = 5 THEN text || ' v2' ELSE text END) AS sha
      |  FROM documents WHERE doc_id % 19 <> 7),
      |del AS (SELECT doc_id FROM documents WHERE doc_id % 19 = 7),
      |upd AS (
      |  SELECT doc_id, source, sha256(text || ' v2') AS sha
      |  FROM documents WHERE doc_id % 23 = 5 AND doc_id % 19 <> 7),
      |ins AS (
      |  SELECT doc_id, source,
      |    sha256(CASE WHEN doc_id % 23 = 5 THEN text || ' v2' ELSE text END) AS sha
      |  FROM documents WHERE doc_id % 17 = 3 AND doc_id % 19 <> 7),
      |applied AS (
      |  SELECT o.doc_id, o.source, o.sha FROM old o
      |  WHERE o.doc_id NOT IN (SELECT doc_id FROM del)
      |    AND o.doc_id NOT IN (SELECT doc_id FROM upd)
      |  UNION ALL SELECT doc_id, source, sha FROM upd
      |  UNION ALL SELECT doc_id, source, sha FROM ins),
      |cmp AS (
      |  SELECT coalesce(a.source, n.source) AS source,
      |    CASE WHEN a.doc_id IS NULL OR n.doc_id IS NULL OR a.sha <> n.sha
      |      THEN 1 ELSE 0 END AS bad
      |  FROM applied a FULL OUTER JOIN neu n ON a.doc_id = n.doc_id)
      |SELECT o.source,
      |  CAST(o.n_before AS BIGINT) AS n_before,
      |  CAST(coalesce(ap.n_after, 0) AS BIGINT) AS n_after,
      |  CAST(coalesce(i.n_ins, 0) AS BIGINT) AS n_inserted,
      |  CAST(coalesce(d.n_del, 0) AS BIGINT) AS n_deleted,
      |  CAST(coalesce(u.n_upd, 0) AS BIGINT) AS n_updated,
      |  coalesce(c.n_bad, 0) = 0 AS applied_ok
      |FROM (SELECT source, count(*) AS n_before FROM old GROUP BY source) o
      |LEFT JOIN (SELECT source, count(*) AS n_after FROM applied GROUP BY source) ap
      |  ON ap.source = o.source
      |LEFT JOIN (SELECT source, count(*) AS n_ins FROM ins GROUP BY source) i
      |  ON i.source = o.source
      |LEFT JOIN (SELECT o2.source, count(*) AS n_del FROM old o2
      |  JOIN del ON del.doc_id = o2.doc_id GROUP BY o2.source) d
      |  ON d.source = o.source
      |LEFT JOIN (SELECT source, count(*) AS n_upd FROM upd GROUP BY source) u
      |  ON u.source = o.source
      |LEFT JOIN (SELECT source, sum(bad) AS n_bad FROM cmp GROUP BY source) c
      |  ON c.source = o.source
      |ORDER BY o.source""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val (old, neu) = snapshots(spark, dir)
    val del = docs.filter(col("doc_id") % 19 === 7).select(col("doc_id").as("d_id"))
    val upd = docs.filter(col("doc_id") % 23 === 5 && col("doc_id") % 19 =!= 7)
      .select(col("doc_id"), col("source"),
        sha2(concat(col("text"), lit(" v2")), 256).as("sha"))
    val ins = docs.filter(col("doc_id") % 17 === 3 && col("doc_id") % 19 =!= 7)
      .select(col("doc_id"), col("source"),
        sha2(when(col("doc_id") % 23 === 5, concat(col("text"), lit(" v2")))
          .otherwise(col("text")), 256).as("sha"))
    val applied = old
      .join(del, col("doc_id") === col("d_id"), "left_anti")
      .join(upd.select(col("doc_id").as("u_id")), col("doc_id") === col("u_id"), "left_anti")
      .unionByName(upd)
      .unionByName(ins)
    val a = applied.toDF("a_id", "a_source", "a_sha")
    val n = neu.toDF("n_id", "n_source", "n_sha")
    val cmp = a.join(n, col("a_id") === col("n_id"), "full_outer")
      .select(coalesce(col("a_source"), col("n_source")).as("source"),
        when(col("a_id").isNull || col("n_id").isNull || col("a_sha") =!= col("n_sha"), 1L)
          .otherwise(0L).as("bad"))
      .groupBy("source").agg(sum("bad").as("n_bad"))
    val before = old.groupBy("source").agg(count(lit(1)).as("n_before"))
    val after = applied.groupBy(col("source").as("ap_source"))
      .agg(count(lit(1)).as("n_after"))
    val nIns = ins.groupBy(col("source").as("i_source")).agg(count(lit(1)).as("n_ins"))
    val nDel = old.join(del, col("doc_id") === col("d_id"))
      .groupBy(col("source").as("d_source")).agg(count(lit(1)).as("n_del"))
    val nUpd = upd.groupBy(col("source").as("u_source")).agg(count(lit(1)).as("n_upd"))
    before
      .join(after, col("source") === col("ap_source"), "left")
      .join(nIns, col("source") === col("i_source"), "left")
      .join(nDel, col("source") === col("d_source"), "left")
      .join(nUpd, col("source") === col("u_source"), "left")
      .join(cmp.toDF("c_source", "n_bad"), col("source") === col("c_source"), "left")
      .select(col("source"),
        col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_ins"), lit(0L)).as("n_inserted"),
        coalesce(col("n_del"), lit(0L)).as("n_deleted"),
        coalesce(col("n_upd"), lit(0L)).as("n_updated"),
        (coalesce(col("n_bad"), lit(0L)) === 0).as("applied_ok"))
      .orderBy("source")
  }

  /** One-time SCD2 history build (the cdc_scd2 frame without its
    * report ordering), persisted via SessionMemo — the stored
    * dimension-history table that point-in-time reads serve from.
    */
  private[graft] def scd2History(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.frames(spark, s"cdc.scd2History:$dir") {
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
      val surv = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          round(lit(1e-9) + col("value"), 4).as("value"))
        .withColumn("prev", lag("value", 1).over(w))
        .filter(col("prev").isNull || col("value") =!= col("prev"))
      val h = surv
        .select(col("user_id"), col("event_type"),
          row_number().over(w).cast("int").as("version"),
          col("ts_us").as("valid_from_us"),
          lead("ts_us", 1).over(w).as("valid_to_us"),
          col("value"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      h.count() // materialize: queries time the serve path
      Seq(h)
    }.head
  val Scd2History = Build("scd2_history", scd2History)

  /** Point-in-time read (time travel): the value every (user, type)
    * key held AS OF a cutoff instant, served from the STORED SCD2
    * history — one interval filter `valid_from ≤ t < valid_to` over
    * the history table, no window, no changelog rescan (the whole
    * point of maintaining the history: any past snapshot is a filter,
    * not a replay). The cutoff is the midpoint of the history's
    * change-time range, derived identically on both engines; the
    * oracle recomputes the snapshot DIRECTLY from the changelog
    * (newest change ≤ cutoff per key), so the history serve and the
    * direct definition are cross-derived — a wrong validity bound on
    * either side fails the hash.
    */
  val timetravel = Q(
    "cdc_timetravel",
    """WITH b AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
      |    round(1e-9 + value, 4) AS value
      |  FROM events),
      |s AS (SELECT * FROM (
      |    SELECT user_id, event_type, ts_us, event_id, value,
      |      lag(value) OVER (PARTITION BY user_id, event_type
      |        ORDER BY ts_us, event_id) AS prev
      |    FROM b)
      |  WHERE prev IS NULL OR value <> prev),
      |cut AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS c FROM s),
      |tv AS (
      |  SELECT user_id, event_type,
      |    CAST(count(*) AS INT) AS version, max(ts_us) AS since_us
      |  FROM s CROSS JOIN cut WHERE ts_us <= c
      |  GROUP BY user_id, event_type),
      |pick AS (
      |  SELECT s.user_id, s.event_type, tv.version, tv.since_us,
      |    max(s.event_id) AS last_id
      |  FROM tv JOIN s ON s.user_id = tv.user_id
      |    AND s.event_type = tv.event_type AND s.ts_us = tv.since_us
      |  GROUP BY s.user_id, s.event_type, tv.version, tv.since_us)
      |SELECT p.user_id, p.event_type, p.version, p.since_us, s.value
      |FROM pick p JOIN s ON s.user_id = p.user_id
      |  AND s.event_type = p.event_type AND s.ts_us = p.since_us
      |  AND s.event_id = p.last_id
      |ORDER BY p.user_id, p.event_type""".stripMargin, Scd2History) { (spark, dir) =>
    val h = scd2History(spark, dir)
    val cut = h.agg(min("valid_from_us").as("mn"), max("valid_from_us").as("mx"))
      .select(expr("(mn + mx) div 2").as("c")) // integer floor, like the oracle's //
    h.crossJoin(broadcast(cut))
      .filter(col("valid_from_us") <= col("c") &&
        (col("valid_to_us").isNull || col("valid_to_us") > col("c")))
      .select(col("user_id"), col("event_type"), col("version"),
        col("valid_from_us").as("since_us"), col("value"))
      .orderBy("user_id", "event_type")
  }

  val all: Seq[Q] = Seq(latest, diff, incremental, scd2, apply, timetravel)
}
