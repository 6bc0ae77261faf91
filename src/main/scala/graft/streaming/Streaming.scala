package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the event operators. The
  * transforms are source-agnostic: they accept any DataFrame
  * (readStream or batch) with the events schema, so the same logic
  * is testable against MemoryStream/parquet-backed streams and
  * deployable against Kafka-style sources.
  */
object Streaming {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(sessionId: Long, start: Long, end: Long, n: Long)

  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      start_s: Long, end_s: Long)

  final case class AsofOut(event_id: Long, user_id: Long,
      click_id: Option[Long], gap_us: Option[Long])

  /** Watermarked tumbling-window counts per event type.
    * Late data beyond 10 minutes is dropped by the watermark, which
    * bounds state — the property that matters at cluster scale.
    */
  def windowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Custom stateful sessionization: 30-minute-gap sessions via
    * flatMapGroupsWithState with processing-time timeout. Emits a
    * session row whenever a gap closes it.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val GapSeconds = 1800L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, Long.MinValue, 0L))
          val out = Seq.newBuilder[SessionOut]
          for (e <- sorted) {
            val t = e.ts.getTime / 1000L
            if (st.n == 0L) {
              st = SessionState(1L, t, t, 1L)
            } else if (t - st.end > GapSeconds) {
              out += SessionOut(userId, st.sessionId, st.n, st.start, st.end)
              st = SessionState(st.sessionId + 1L, t, t, 1L)
            } else {
              st = st.copy(end = t, n = st.n + 1L)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming exact dedup for a document stream: keep the first-seen
    * row per content hash inside the watermark horizon.
    * dropDuplicatesWithinWatermark is the 100 TB-stream shape — state
    * is bounded by the watermark, where a plain dropDuplicates would
    * accumulate every key ever seen. The key is SHA-256 of the text —
    * the same key as the batch dd_exact_hash, so streaming and batch
    * agree on what "identical" means. (A short hash is NOT enough
    * here: a ~30-bit polynomial key hits 50% birthday-collision odds
    * at only ~37k distinct docs inside the watermark horizon and
    * would silently drop distinct documents.)
    */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_sha", sha2(col("text"), 256))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("content_sha")

  /** Streaming corpus curation: the batch pipe_curate funnel applied
    * to a live document stream — map-only enrichment with THE SAME
    * quality/language expressions as the batch query (single shared
    * definition in TextAnalysis, so stream and batch can never
    * disagree on "good"), keep English docs at or above the quality
    * floor, then first-wins exact dedup on the content hash within
    * the watermark horizon (bounded state).
    *
    * Filter-before-dedup is safe here because identical text implies
    * identical quality/language — a duplicate can never pass where
    * its canonical failed — and it shrinks dedup state to only the
    * docs worth keeping.
    */
  def curate(docs: DataFrame): DataFrame =
    docs
      .withColumn("quality", graft.operators.TextAnalysis.qualityExpr)
      .withColumn("pred_lang", graft.operators.TextAnalysis.predLangExpr)
      .filter(col("pred_lang") === "en" &&
        col("quality") >= graft.operators.TextAnalysis.qualityFloor)
      .withColumn("content_sha", sha2(col("text"), 256))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("content_sha")

  /** Incrementally maintained per-model llmmap fingerprint over a
    * document stream — the reference's batch-only fingerprint surface
    * (llmmap.py:70-101) extended to the stream, the way curate
    * extended the batch funnel. Every fingerprint component is an
    * algebraic mean (numeric avgs, bool ratios, style-marker rates),
    * so Spark's streaming aggregation state carries one (sum, count)
    * pair per source × feature and the emitted table after ANY prefix
    * of the stream equals the batch ma_fingerprint over the same
    * prefix — cross-validated in StreamingSpec against a replayed
    * corpus. Feature extraction and the aggregation are THE SAME
    * definitions as the batch query (Audit.featureCols /
    * fingerprintAggs), so batch and stream cannot drift. Run with
    * outputMode complete (or update for deltas); state is bounded by
    * |sources| × |features|, independent of stream length.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    graft.operators.Audit.fingerprintOf(docs)

  /** Incrementally maintained per-model STYLE fingerprint (mean
    * per-family style score per source) over a document stream — the
    * style-method companion to [[fingerprint]]. Scoring is map-only
    * (the family signatures are compile-time constants) and the mean
    * is algebraic, so state is |sources| × |families| (sum, count)
    * pairs. Shares the scoring and aggregation definitions with the
    * batch ma_style_fingerprint (Style.styleFingerprintOf);
    * cross-validated in StreamingSpec on a replayed corpus.
    */
  def styleFingerprint(docs: DataFrame): DataFrame =
    graft.operators.Style.styleFingerprintOf(docs)

  /** Streaming benchmark-contamination scan: each (doc_id, source,
    * text) row of a live ingest stream is shingled and joined against
    * a STATIC broadcast eval-set index (built once from the held-out
    * benchmarks via Pipeline.shingledDocs/evalIndexOf), emitting the
    * per (doc, eval) overlap fraction with the contaminated flag —
    * decontamination at ingest time instead of as a batch sweep.
    *
    * The stream side is map-only (shingle + explode) into a
    * stream-static broadcast join; the single streaming aggregation
    * is the same overlapPairs definition the batch pipe_decontaminate
    * uses, so stream and batch agree bit-for-bit on overlap (state:
    * one count per observed (doc, eval) candidate pair — sparse, only
    * pairs sharing a shingle). Run with outputMode update/complete.
    * The per-doc best-match argmax stays a batch/reader concern: a
    * second streaming agg level would need complete-mode rescans.
    */
  def decontaminate(docs: DataFrame, evalIdx: DataFrame): DataFrame =
    graft.operators.Pipeline.overlapPairs(
        graft.operators.Pipeline.shingledDocs(docs), evalIdx)
      .withColumn("contaminated",
        col("frac") >= graft.operators.Pipeline.contaminatedFloor)

  /** Streaming FUZZY (near-duplicate) decontamination at ingest: each
    * arriving (doc_id, source, text) row is MinHash-signed and banded
    * map-side (Dedup.fuzzyBandRows), joined stream-static against the
    * eval split's capped band index (Dedup.fuzzyEvalIndex — a bucket
    * the batch cap drops is absent from the index, so the cap
    * semantics carry over without global counts on the stream), and
    * each candidate is Jaccard-verified on the shingle arrays with
    * the exact rounding of batch pipe_decon_fuzzy. Emits every
    * suspect (doc, eval) pair with the contaminated flag; the per-doc
    * best-match argmax stays a reader concern, exactly as in
    * Streaming.decontaminate (a second agg level would need
    * complete-mode rescans). State: one row per SUSPECT pair — the
    * ≥ suspectFloor filter runs before the aggregation, so
    * sub-threshold candidates never enter state. Run with outputMode
    * update/complete.
    */
  def deconFuzzy(docs: DataFrame, evalIndex: DataFrame): DataFrame = {
    val jac = col("n_common") / (col("na") + col("nb") - col("n_common")).cast("double")
    graft.operators.Dedup.fuzzyBandRows(docs)
      .filter(col("doc_id") % graft.operators.Pipeline.evalMod
        =!= graft.operators.Pipeline.evalRes)
      .join(evalIndex, Seq("band", "key"))
      .select(col("doc_id"), col("source"), col("eval_id"),
        graft.functions.HashExprs.common_count(col("sh"), col("sh_e")).as("n_common"),
        size(col("sh")).cast("long").as("na"), size(col("sh_e")).cast("long").as("nb"))
      .select(col("doc_id"), col("source"), col("eval_id"),
        round(lit(1e-9) + jac, 6).as("jac"))
      .filter(col("jac") >= graft.operators.Pipeline.suspectFloor)
      .groupBy("doc_id", "source", "eval_id")
      .agg(min("jac").as("jaccard"))
      .withColumn("contaminated",
        col("jaccard") >= graft.operators.Pipeline.contaminatedFloor)
  }

  /** Streaming incremental NEAR-DUP dedup — the deployment shape of
    * batch dd_minhash_incremental: each arriving (doc_id, source,
    * text) row is MinHash-signed and banded map-side
    * (Dedup.fuzzyBandRows), joined stream-static against the standing
    * corpus band index (Dedup.fuzzyCorpusIndex — corpus-side bucket
    * cap, so a degenerate bucket the build drops simply yields no
    * candidates on the stream), each candidate Jaccard-verified on
    * the shingle arrays against the index's corpus shingle store, and
    * every verified near-dup pair (Jaccard ≥ 0.5, the dd_jaccard
    * duplicate floor) emitted with the batch query's exact rounding.
    * The per-doc best-match argmax stays a reader concern, as in
    * Streaming.deconFuzzy. State: one row per VERIFIED pair — the
    * floor filter runs before the aggregation, so sub-threshold
    * candidates never enter state. Run with outputMode
    * update/complete.
    */
  def minhashIncremental(
      docs: DataFrame, idxBands: DataFrame, idxShing: DataFrame): DataFrame = {
    val jac = col("n_common") / (col("na") + col("nb") - col("n_common")).cast("double")
    graft.operators.Dedup.fuzzyBandRows(docs)
      .join(idxBands, Seq("band", "key"))
      .join(idxShing, Seq("corpus_id"))
      .select(col("doc_id"), col("source"), col("corpus_id"),
        graft.functions.HashExprs.common_count(col("sh"), col("sh_c")).as("n_common"),
        size(col("sh")).cast("long").as("na"), size(col("sh_c")).cast("long").as("nb"))
      .select(col("doc_id"), col("source"), col("corpus_id"),
        round(lit(1e-9) + jac, 6).as("jac"))
      .filter(col("jac") >= 0.5)
      .groupBy("doc_id", "source", "corpus_id")
      .agg(min("jac").as("jaccard"))
  }

  /** Streaming PERCEPTUAL image dedup at ingest — the multimodal twin
    * of minhashIncremental: each arriving (doc_id, text) doc's
    * bitmap is synthesized, byte-parsed and dHashed map-side
    * (Multimodal.phashOf — per-row column expressions, so it runs
    * unchanged on a stream), its three 20-bit chunks joined
    * stream-static against the standing capped chunk index
    * (Multimodal.phashChunkIndex), and each candidate verified by
    * Hamming ≤ 2 on the two 60-bit hashes. Only EARLIER corpus images
    * match (corpus_id < arriving doc_id), so an in-order corpus
    * replay reproduces the batch mm_phash_pairs set exactly
    * (cross-validated in StreamingSpec). State: one row per VERIFIED
    * pair. Run with outputMode update/complete.
    */
  def phashDedup(docs: DataFrame, chunkIndex: DataFrame): DataFrame =
    graft.operators.Multimodal.phashChunks(
        graft.operators.Multimodal.phashOf(docs).select("doc_id", "dhash"))
      .join(chunkIndex, Seq("chunk", "key"))
      .filter(col("corpus_id") < col("doc_id"))
      .select(col("corpus_id").as("doc_a"), col("doc_id").as("doc_b"),
        bit_count(col("h_c").bitwiseXOR(col("dhash"))).cast("long").as("h"))
      .filter(col("h") <= graft.operators.Multimodal.PhashHammingMax)
      .groupBy("doc_a", "doc_b")
      .agg(min("h").as("hamming"))

  /** Streaming semantic near-dup scan at ingest: each arriving
    * (vec_id, e, nrm) row is banded with THE SAME adaptive-width
    * hyperplane keys as batch dd_embed (Ann.bandKeysOf — map-only;
    * `planes` must be the width the static index was built with,
    * i.e. Ann.bandPlanesFor(corpus count)) and joined
    * stream-static against the banded corpus index (built once via
    * Ann.bandedIndexOf; oversized buckets already dropped there, so
    * the cap guards the stream side too). Each candidate is cosine-
    * verified with the exact rounding of the batch query, and only
    * EARLIER corpus vectors match (index vec_id < arriving vec_id) —
    * "flag the new arrival against what is already ingested", which
    * makes an in-order corpus replay reproduce the batch dd_embed
    * pair set exactly (cross-validated in StreamingSpec).
    *
    * Shape: map-only band + stream-static join + one aggregation to
    * collapse multi-band hits of the same pair (state: one row per
    * VERIFIED candidate pair — sparse by construction, same class as
    * Streaming.decontaminate). Run with outputMode update/complete.
    */
  def embedDedup(vecs: DataFrame, bandedIndex: DataFrame, planes: Int): DataFrame =
    graft.operators.Ann.bandKeysOf(vecs, planes)
      .join(bandedIndex
        .select(col("band"), col("key"), col("vec_id").as("vec_a"),
          col("e").as("ea"), col("nrm").as("na")),
        Seq("band", "key"))
      .filter(col("vec_a") < col("vec_id"))
      .select(col("vec_a"), col("vec_id").as("vec_b"),
        round(lit(1e-9) +
          graft.functions.HashExprs.dot_product(col("ea"), col("e")) /
            (col("na") * col("nrm")), 6).as("cosine"))
      .filter(col("cosine") >= graft.operators.Ann.NearDupThreshold)
      .groupBy("vec_a", "vec_b")
      .agg(min("cosine").as("cosine"))

  /** Streaming ANN serving: each arriving query vector (vec_id, e,
    * nrm) is answered from the memoized IVF index — the production
    * "vector search endpoint" shape. Cell probing is MAP-SIDE: the
    * packed centroid row (Ann.packedCentroids) broadcasts, each query
    * ranks all cells with one array-sort HOF and keeps its nprobe
    * best (same (score desc, cid asc) order as the batch probe), then
    * a stream-static join against the inverted cells
    * (Ann.cellVectors) yields candidates, scored exactly and reduced
    * by the ONE legal streaming aggregation — the bounded-heap top-k.
    * An arriving query's full candidate set forms inside its own
    * micro-batch, so the emitted top-k equals batch ann_ivf for the
    * same nprobe (cross-validated in StreamingSpec). Run with
    * outputMode update/complete; state is one k-entry heap per query.
    *
    * Returns (query_id, tk) with tk = [(score, id, rank)…]; readers
    * explode it (a post-aggregation generator is not streaming-legal
    * in every output mode, and the packed row is the useful unit for
    * a serving sink anyway).
    */
  /** Index maintenance at ingest — the streaming half of batch
    * ann_refresh: each arriving vector is assigned to its nearest
    * EXISTING cell from one broadcast row of packed base centroids
    * (the annTopK cell-ranking shape at nprobe = 1), map-only, no
    * state — production appends the (vec_id, cell) row to the
    * index's growing segment. The struct sort's (−cos, cid) order is
    * the identical (ccos DESC, cid ASC) tie-break as the batch
    * argmax, so a replay of the delta slice reproduces batch
    * ann_refresh's assignments row-for-row (StreamingSpec).
    */
  def annAssign(vectors: DataFrame, packedCentroids: DataFrame): DataFrame = {
    import graft.functions.HashExprs.dot_product
    vectors.crossJoin(broadcast(packedCentroids))
      .withColumn("scored", transform(col("cents"), c =>
        struct(
          (-(dot_product(col("e"), c.getField("ce")) /
            (col("nrm") * c.getField("cn")))).as("nscore"),
          c.getField("cid").as("cid"))))
      .select(col("vec_id"),
        element_at(array_sort(col("scored")), 1).getField("cid").as("cell"))
  }

  def annTopK(queries: DataFrame, packedCentroids: DataFrame, cellVectors: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    import graft.functions.HashExprs.dot_product
    val probed = queries.crossJoin(broadcast(packedCentroids))
      .withColumn("scored", transform(col("cents"), c =>
        struct(
          (-(dot_product(col("e"), c.getField("ce")) /
            (col("nrm") * c.getField("cn")))).as("nscore"),
          c.getField("cid").as("cid"))))
      .withColumn("pc", explode(slice(array_sort(col("scored")), 1, nprobe)))
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"),
        col("pc.cid").as("cell"))
    probed
      .join(cellVectors, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_raw",
        dot_product(col("qe"), col("e")) / (col("qn") * col("nrm")))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk_by_score(col("cos_raw"), col("vec_id"), k).as("tk"))
  }

  /** Stage 1 of the stream-side corpus-prep funnel — the streaming
    * twin of batch pipe_e2e's dedup + gate block: exact-dedup
    * canonicalization FIRST (first-seen wins within the watermark;
    * on an in-order replay the first-seen doc IS the batch canonical
    * min doc_id — same contract as [[shard]]), then the map-only gate
    * classification with THE SAME shared definitions as the batch
    * funnel (TextAnalysis.qualityExpr / predLangExpr, the pipe_e2e
    * token count, and Pipeline.repetitiveExpr — the per-row twin of
    * the repetition histogram, spec-pinned equal). Dedup runs before
    * the gates HERE (unlike [[curate]]) because the funnel ATTRIBUTES
    * drops: a duplicate must count as dup-dropped even when it would
    * also fail a gate, exactly as batch pipe_e2e's is_canon-first
    * accounting does.
    *
    * Emits every canonical doc with its gate flags (append mode, one
    * stateful operator). The full funnel chains storage-connected
    * stages the way production streaming pipelines do:
    * e2eClassify → [[decontaminate]] on the gate survivors →
    * [[shard]] on the kept docs; StreamingSpec replays a corpus
    * through all three and checks the reassembled funnel counts
    * row-equal against batch pipe_e2e.
    *
    * CONTRACT — bounded dedup window: dropDuplicatesWithinWatermark
    * keeps per-sha state only inside `dedupWatermark` of event time.
    * A duplicate sha arriving AFTER its canonical's state expired is
    * re-emitted as a new canonical and the funnel diverges from the
    * batch accounting — the same class of precondition [[shard]]
    * enforces on ordering. Size the watermark to cover the replay's
    * event-time spread (the spec replays at one fixed timestamp, so
    * any positive window is exact there); production callers choose
    * the window consciously — it IS the state-vs-exactness trade a
    * 100 TB stream has to make, and an unbounded window is just
    * dropDuplicates with unbounded state.
    */
  def e2eClassify(docs: DataFrame, dedupWatermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_sha", sha2(col("text"), 256))
      .withWatermark("ts", dedupWatermark)
      .dropDuplicatesWithinWatermark("content_sha")
      .select(
        col("doc_id"), col("source"), col("text"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"),
        (graft.operators.TextAnalysis.predLangExpr === "en").as("lang_ok"),
        (graft.operators.TextAnalysis.qualityExpr >=
          graft.operators.TextAnalysis.qualityFloor).as("quality_ok"),
        graft.operators.Pipeline.repetitiveExpr(col("text")).as("repetitive"))

  /** Stage 1 of the SEMANTIC stream-side funnel — [[e2eClassify]]
    * plus the SemDeDup gate, the streaming twin of batch
    * pipe_e2e_sem's seventh stage: each canonical doc is left-joined
    * STREAM-STATIC against the semantic cluster assignment (the SAME
    * memoized CC labels batch pipe_e2e_sem consumes,
    * Ann.embedClusterAssignment; embeddings are row-aligned with
    * documents, vec_id == doc_id) and flagged sem_dup when its
    * embedding sits in a near-dup cluster under another member's
    * canonical id.
    *
    * CONTRACT — static snapshot: the assignment is an index built
    * from the already-ingested corpus, exactly like
    * [[decontaminate]]'s eval index and [[annTopK]]'s IVF cells; a
    * near-dup pair discovered after the last index build does not
    * drop. [[embedDedup]] is the live pair log a production pipeline
    * periodically rebuilds the assignment from (pairs → connected
    * components → canonical labels — the batch dd_embed_clusters
    * step). On a replay of the indexed corpus the emitted flags equal
    * the batch funnel's; StreamingSpec chains this through
    * decontaminate + shard and checks the reassembled counts
    * row-equal against batch pipe_e2e_sem.
    */
  def e2eClassifySem(docs: DataFrame, clusterAssignment: DataFrame,
      dedupWatermark: String = "10 minutes"): DataFrame =
    e2eClassify(docs, dedupWatermark)
      .join(
        clusterAssignment
          .filter(col("canonical_id") =!= col("vec_id"))
          .select(col("vec_id").as("doc_id"), lit(true).as("sem_flag")),
        Seq("doc_id"), "left_outer")
      .withColumn("sem_dup", coalesce(col("sem_flag"), lit(false)))
      .drop("sem_flag")

  final case class DocTok(doc_id: Long, source: String, tokens: Long)

  final case class ShardAssign(source: String, doc_id: Long, shard_id: Long)

  /** Streaming training-shard packing: per-source running token
    * count in flatMapGroupsWithState, assigning each arriving doc the
    * shard floor(tokens-before-it / budget) — the batch pipe_shard
    * rule applied at ingest.
    *
    * CONTRACT — in-order replay: shard assignment is order-dependent
    * by definition (a shard is a token-contiguous run), so this
    * reproduces the batch pipe_shard layout only when micro-batches
    * arrive in global doc_id order per source; rows are sorted by
    * doc_id only WITHIN each micro-batch. The state therefore tracks
    * the max doc_id already packed per source and FAILS LOUDLY if a
    * later micro-batch regresses below it, rather than silently
    * emitting a layout that diverges from batch. State is two longs
    * per source (running token total + high-water doc_id),
    * independent of stream length; the per-group sort buffers one
    * micro-batch × source slice, bounded by trigger sizing, not by
    * the stream. Cross-validated against pipe_shard in StreamingSpec.
    */
  def shard(docs: Dataset[DocTok]): Dataset[ShardAssign] = {
    import docs.sparkSession.implicits._
    val budget = graft.operators.TextAnalysis.shardBudget
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[(Long, Long), ShardAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[DocTok], state: GroupState[(Long, Long)]) =>
          var (pre, hiDoc) = state.getOption.getOrElse((0L, Long.MinValue))
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            if (d.doc_id <= hiDoc)
              throw new IllegalStateException(
                s"Streaming.shard: doc ${d.doc_id} of source $source arrived after " +
                  s"doc $hiDoc was packed — in-order replay precondition violated")
            hiDoc = d.doc_id
            val sid = pre / budget
            pre += d.tokens
            ShardAssign(source, d.doc_id, sid)
          }
          state.update((pre, hiDoc))
          out.iterator
      }
  }

  final case class PackAssign(source: String, doc_id: Long, start_tok: Long,
      pack_first: Long, pack_last: Long)

  /** Streaming sequence packing — the [[shard]] state machine at
    * token granularity with boundary splits: each in-order arriving
    * (doc_id, source, tokens) row is placed at its source's running
    * token offset and reports the pack span it occupies
    * ([start/budget, (start+tokens−1)/budget] — docs cross pack
    * boundaries wherever they fall, exactly batch pipe_pack's
    * geometry). State per source: the running total + high-water
    * doc_id; the in-order replay contract is ENFORCED the same way
    * shard's is (IllegalStateException, never silent divergence).
    * A reader explodes the spans to rebuild the per-pack manifest;
    * StreamingSpec cross-validates that rebuild row-for-row against
    * batch pipe_pack.
    */
  def pack(docs: Dataset[DocTok]): Dataset[PackAssign] = {
    import docs.sparkSession.implicits._
    val budget = graft.operators.TextAnalysis.packBudget
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[(Long, Long), PackAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[DocTok], state: GroupState[(Long, Long)]) =>
          var (pre, hiDoc) = state.getOption.getOrElse((0L, Long.MinValue))
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            if (d.doc_id <= hiDoc)
              throw new IllegalStateException(
                s"Streaming.pack: doc ${d.doc_id} of source $source arrived after " +
                  s"doc $hiDoc was packed — in-order replay precondition violated")
            hiDoc = d.doc_id
            val a = PackAssign(source, d.doc_id, pre,
              pre / budget, (pre + d.tokens - 1) / budget)
            pre += d.tokens
            a
          }
          state.update((pre, hiDoc))
          out.iterator
      }
  }

  /** Watermark-delayed EVENT-TIME REORDERING BUFFER — the stage that
    * makes the order-dependent operators' in-order contract
    * ([[shard]]/[[asof]]/[[scd2]]/[[attribution]] fail loudly on a
    * key regression) hold BY CONSTRUCTION over a production
    * out-of-order stream: per user, arriving events are held in state
    * and released only once STRICTLY below the watermark, so any
    * on-time row still in flight has ts ≥ watermark and released keys
    * never regress; equal-timestamp rows sit on the same side of the
    * strict cutoff and always release together, and the downstream
    * operator's own per-micro-batch sort then restores the exact
    * (ts, side, event_id) order within each release. Rows later than
    * the watermark delay (ts already below the watermark at arrival)
    * are DROPPED here, the same policy as every built-in watermarked
    * stateful operator — flatMapGroupsWithState does not filter late
    * input itself, and admitting such a row would release it after
    * higher-keyed rows and trip the downstream fail-loud order
    * checks. State per user is bounded by delay × arrival
    * rate (the watermark horizon), independent of stream length;
    * EventTimeTimeout re-fires idle groups so a quiet user's ripe
    * rows still release. Chained stateful operators (this buffer
    * feeding asof/scd2, all Append) are the Spark-native composition;
    * by construction every released row is OLDER than the watermark,
    * so Spark's global-watermark correctness check flags the chain —
    * correctly for watermark-driven consumers, vacuously here because
    * every downstream machine in this file is watermark-agnostic
    * (NoTimeout, processes all rows): run the chain with
    * spark.sql.streaming.statefulOperator.checkCorrectness.enabled
    * = false, and never compose [[reorder]] with an operator that
    * drops below-watermark input. StreamingSpec replays a
    * deliberately jitter-shuffled stream through reorder→asof and
    * reorder→scd2 and pins equality with batch.
    */
  def reorder(events: Dataset[Event], delay: String = "10 minutes"): Dataset[Event] = {
    import events.sparkSession.implicits._
    def us(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Event], Event](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[Event], state: GroupState[Array[Event]]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // Rows already BELOW the watermark at arrival are late by
          // more than the delay: DROP them here, exactly as every
          // built-in watermarked stateful operator does. Admitting
          // one would make it instantly ripe and emit it AFTER
          // higher-keyed rows already released — the downstream
          // fail-loud in-order checks would kill the whole chain on
          // a production-shaped late tail. (flatMapGroupsWithState
          // itself never filters late input; this is the operator's
          // own responsibility.)
          val held = state.getOption.getOrElse(Array.empty[Event]) ++
            rows.filter(e => us(e.ts) >= wmUs)
          val (ripe, keep) = held.partition(e => us(e.ts) < wmUs)
          if (keep.isEmpty) state.remove()
          else {
            state.update(keep)
            // re-fire once the watermark passes the oldest held row
            val oldestMs = keep.iterator.map(e => us(e.ts) / 1000L).min
            state.setTimeoutTimestamp(
              math.max(oldestMs + 1, state.getCurrentWatermarkMs() + 1))
          }
          ripe.sortBy(e => (us(e.ts), if (e.event_type == "purchase") 0 else 1,
            e.event_id)).iterator
      }
  }

  /** Streaming as-of join: each arriving purchase answered with the
    * latest strictly-earlier same-user click — the batch ev_asof rule
    * applied at ingest. State is TWO longs per user (the best click's
    * micros + event_id), independent of stream length; the per-group
    * sort buffers one micro-batch × user slice.
    *
    * CONTRACT — in-order replay, same as [[shard]]: an as-of answer
    * is order-dependent (a purchase must not see clicks that arrive
    * after it), so parity with batch ev_asof holds only when
    * micro-batches arrive in global (ts, side, event_id) order per
    * user (purchases before same-instant clicks — the batch window's
    * exact sort key, which is what makes "strictly earlier" hold
    * without a separate filter). The state carries the high-water
    * key and FAILS LOUDLY on regression rather than silently
    * diverging from batch; feeding the stream through [[reorder]]
    * satisfies the contract by construction on out-of-order input.
    * Cross-validated against ev_asof in StreamingSpec.
    */
  def asof(events: Dataset[Event]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    def micros(e: Event): Long =
      e.ts.getTime * 1000L + (e.ts.getNanos % 1000000L) / 1000L
    def sideOf(e: Event): Int = if (e.event_type == "purchase") 0 else 1
    val keyOrd = Ordering.Tuple3[Long, Int, Long]
    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Int, Long), AsofOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Long, Long, Long, Int, Long)]) =>
          // (clickUs, clickId, hiUs, hiSide, hiId); clickId Long.MinValue = none yet
          var (cUs, cId, hiUs, hiSide, hiId) = state.getOption
            .getOrElse((Long.MinValue, Long.MinValue, Long.MinValue, -1, Long.MinValue))
          val sorted = rows.toSeq.sortBy(e => (micros(e), sideOf(e), e.event_id))
          val out = Seq.newBuilder[AsofOut]
          for (e <- sorted) {
            val u = micros(e); val side = sideOf(e)
            if (keyOrd.lteq((u, side, e.event_id), (hiUs, hiSide, hiId)))
              throw new IllegalStateException(
                s"Streaming.asof: event ${e.event_id} of user $userId arrived after " +
                  s"key ($hiUs, $hiSide, $hiId) was processed — in-order replay " +
                  "precondition violated")
            hiUs = u; hiSide = side; hiId = e.event_id
            if (side == 0)
              out += AsofOut(e.event_id, userId,
                if (cId == Long.MinValue) None else Some(cId),
                if (cId == Long.MinValue) None else Some(u - cUs))
            else { cUs = u; cId = e.event_id }
          }
          state.update((cUs, cId, hiUs, hiSide, hiId))
          out.result().iterator
      }
  }

  /** Two-sided as-of input row: side 0 = purchase, 1 = click. */
  final case class AsofIn(side: Int, event_id: Long, ts: Timestamp, user_id: Long)

  /** STREAM-STREAM as-of join — purchases AND clicks both arrive
    * live, each out-of-order within the watermark delay, and no
    * in-order contract is required (unlike [[asof]], which needs
    * [[reorder]] in front): each purchase is answered with the
    * latest strictly-earlier same-user click once the watermark
    * PROVES the answer complete. Correctness argument: a purchase at
    * p releases only when watermark > p; every qualifying click has
    * ts < p < watermark, and a click that late would be dropped at
    * arrival — so all qualifying clicks are already in state, exactly
    * the interval join's eviction-is-completeness argument applied to
    * the asymmetric as-of predicate. State per user is bounded by the
    * watermark horizon: pending purchases within the delay, plus the
    * click buffer COMPACTED to clicks ≥ watermark + the single best
    * (max (ts, id)) below it — the only below-watermark click any
    * future purchase can ever answer with. Ties follow the batch
    * rule: equal-timestamp clicks do NOT qualify (strictly earlier),
    * and among equal-timestamp qualifying clicks the largest
    * event_id wins. Replay-pinned against batch ev_asof in
    * StreamingSpec under jitter-shuffled two-stream input.
    */
  def asofStream(purchases: Dataset[Event], clicks: Dataset[Event],
      delay: String = "10 minutes"): Dataset[AsofOut] = {
    val s = purchases.sparkSession
    import s.implicits._
    def us(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L
    // watermark EACH side before the union: the global watermark is
    // then the MIN across sides (Spark's default multi-watermark
    // policy), so a fast click stream cannot outrun the purchase
    // stream and late-drop its rows — watermarking the unioned stream
    // instead would track the FASTEST side and did exactly that under
    // two-stream quantile skew in the replay spec
    val both = purchases.map(e => AsofIn(0, e.event_id, e.ts, e.user_id))
      .withWatermark("ts", delay)
      .unionByName(clicks.map(e => AsofIn(1, e.event_id, e.ts, e.user_id))
        .withWatermark("ts", delay))
    both.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Array[(Long, Long)], Array[(Long, Long)]), AsofOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[AsofIn],
            state: GroupState[(Array[(Long, Long)], Array[(Long, Long)])]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var (pend, clk) = state.getOption
            .getOrElse((Array.empty[(Long, Long)], Array.empty[(Long, Long)]))
          // reorder's late policy: a row already below the watermark
          // can no longer be answered/complete — drop at arrival
          val fresh = rows.filter(r => us(r.ts) >= wmUs).toArray
          pend ++= fresh.iterator.filter(_.side == 0)
            .map(r => (us(r.ts), r.event_id))
          clk ++= fresh.iterator.filter(_.side == 1)
            .map(r => (us(r.ts), r.event_id))
          val (ripe, hold) = pend.partition(_._1 < wmUs)
          val out = ripe.sorted.map { case (pUs, pId) =>
            val q = clk.filter(_._1 < pUs)
            if (q.isEmpty) AsofOut(pId, uid, None, None)
            else { val (cUs, cId) = q.max; AsofOut(pId, uid, Some(cId), Some(pUs - cUs)) }
          }
          val below = clk.filter(_._1 < wmUs)
          val keepClk = clk.filter(_._1 >= wmUs) ++
            (if (below.isEmpty) Array.empty[(Long, Long)] else Array(below.max))
          if (hold.isEmpty && keepClk.isEmpty) state.remove()
          else {
            state.update((hold, keepClk))
            // re-fire only while something still ripens: a held
            // purchase, or an uncompacted click — the lone
            // below-watermark best never needs another wake-up
            val pendingUs = hold.map(_._1) ++
              keepClk.map(_._1).filter(_ >= wmUs)
            if (pendingUs.nonEmpty) {
              val oldest = pendingUs.min
              state.setTimeoutTimestamp(
                math.max(oldest / 1000L + 1, state.getCurrentWatermarkMs() + 1))
            }
          }
          out.iterator
      }
  }

  /** Streaming repeated-substring scan: each arriving doc is gram-
    * exploded MAP-ONLY with the exact batch projection
    * (Dedup.spanGrams), joined stream-static against the memoized
    * repeated-gram index (Dedup.repeatedGramIndex — what a production
    * pipeline rebuilds periodically from the ingested corpus), and
    * re-assembled per doc by ONE streaming aggregation whose state is
    * the doc's repeated POSITIONS — bounded by doc length, sparse
    * because most grams never match.
    *
    * The run statistics are computed WITHOUT a window function (not
    * streaming-legal): collect the matched positions, sort once, and
    * fold the longest consecutive run with an aggregate HOF. Batch
    * dd_spans computes the same numbers with gap-and-island over a
    * window; the two implementations agreeing on a replayed corpus is
    * cross-validated in StreamingSpec — a stronger check than shared
    * code. Because the index carries GLOBAL counts, a doc's verdict
    * is arrival-order-independent; replaying the indexed corpus
    * reproduces batch dd_spans row-for-row. Run with outputMode
    * update/complete.
    */
  def spanFlag(docs: DataFrame, repeatedGrams: DataFrame): DataFrame = {
    val runMin = graft.operators.Dedup.SpanRunMin
    val grams = graft.operators.Dedup.spanGrams(docs)
      .select(col("doc_id"), col("n_grams"),
        posexplode_outer(col("gs")).as(Seq("pos", "g")))
    grams
      .join(repeatedGrams.withColumn("rep", lit(true)), Seq("g"), "left_outer")
      .groupBy("doc_id", "n_grams")
      .agg(sort_array(collect_list(when(col("rep"), col("pos")))).as("ps"))
      .withColumn("max_run",
        expr("""aggregate(ps,
                |  named_struct('prev', CAST(-2 AS INT),
                |               'cur', CAST(0 AS BIGINT),
                |               'best', CAST(0 AS BIGINT)),
                |  (s, p) -> named_struct(
                |    'prev', p,
                |    'cur', IF(p = s.prev + 1, s.cur + 1, CAST(1 AS BIGINT)),
                |    'best', greatest(s.best,
                |      IF(p = s.prev + 1, s.cur + 1, CAST(1 AS BIGINT)))),
                |  s -> s.best)""".stripMargin))
      .select(col("doc_id"), col("n_grams"),
        size(col("ps")).cast("long").as("n_rep"),
        col("max_run"),
        (col("max_run") >= runMin).as("span_dup"))
  }

  /** Streaming mix application: each arriving (doc_id, source, text)
    * doc is assigned its training-mix copy count from a STATIC
    * broadcast weights frame (Pipeline.mixWeights over the planned
    * corpus — mixing ratios are a planning artifact, frozen before
    * ingest starts). Map-only: the LCG uniform and ⌊w⌋ + [u < frac]
    * arithmetic are the exact batch pipe_mix_apply expressions, so an
    * ingest-time replay reproduces the batch assignment row-for-row
    * (cross-validated in StreamingSpec). No state at all — this gate
    * composes with any downstream streaming stage.
    */
  def mixApply(docs: DataFrame, weights: DataFrame): DataFrame =
    graft.operators.Pipeline.applyMixTo(docs, weights)

  /** Streaming entropy gate: each arriving doc gets the tx_entropy
    * stats + low_entropy/templated flags at ingest. Pure map-only —
    * the shared TextAnalysis.entropyEnrich projection (one native
    * expression pass per doc, no state, no shuffle), so an ingest
    * replay reproduces the batch tx_entropy verdicts row-for-row
    * (cross-validated in StreamingSpec) and the gate composes with
    * any downstream streaming stage.
    */
  def entropyGate(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.entropyEnrich(docs)

  /** Streaming LM-perplexity gate: each arriving doc is scored
    * against the MEMOIZED stupid-backoff bigram LM the batch trained
    * (Pipeline.bigramLmOf — the "train on trusted text, score the
    * crawl at ingest" CCNet deployment shape). The stream side is
    * map-only (native bigram packs + explode) into stream-static
    * joins against the LM tables, then ONE streaming aggregation
    * re-assembles the per-doc mean surprisal (state: the doc's
    * running (Σ surprisal, count) — two numbers per in-flight doc).
    *
    * The scoring is the SAME scoreBigramCounts definition as batch
    * tx_bigram_ppl; the stream feeds raw c=1 rows where batch feeds
    * the (doc_id, bp) histogram — identical weighted mean, different
    * addition order, so bits agree to fp precision and the flag is
    * identical (cross-validated in StreamingSpec). A stream gate
    * processes one doc at a time, so the batch histogram's Zipf
    * de-skew has nothing to flatten here.
    */
  def pplScore(docs: DataFrame, trainBigrams: DataFrame, trainUnigrams: DataFrame,
      tot: DataFrame): DataFrame = {
    val rows = docs.select(col("doc_id"),
        explode(graft.functions.Hashing.bigramPacks(
          graft.functions.Hashing.wordHashes(col("text")))).as("bp"))
      .withColumn("c", lit(1L))
    graft.operators.Pipeline.scoreBigramCounts(rows, trainBigrams, trainUnigrams, tot)
  }

  /** Stream-STREAM interval join — the one join class where BOTH
    * sides arrive live (every other streaming join in this library is
    * stream-static). Each purchase pairs with every same-user click
    * within ±`band` of its event time. Both inputs carry event-time
    * watermarks and the join condition bounds the time skew between
    * them, so Spark derives a state watermark PER SIDE: a buffered
    * click older than (purchase watermark − band) can never match a
    * future purchase and is evicted, and vice versa — state is
    * bounded by arrival rate × 2·band, never by stream history. Inner
    * join, so matches emit eagerly (no watermark wait on output).
    * This is ev_range_join's shape when neither side is at rest;
    * cross-validated pair-for-pair against the identical batch join
    * in StreamingSpec (withWatermark is a no-op in batch, so the SAME
    * function body is the batch twin).
    */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame,
      band: String = "10 minutes", delay: String = "10 minutes"): DataFrame =
    intervalJoinImpl(purchases, clicks, band, delay, "inner")

  /** LEFT OUTER stream-stream interval join — intervalJoin plus the
    * null-padded rows for purchases that saw NO in-band click. The
    * semantics only exist because of watermarks: an unmatched
    * purchase cannot be emitted eagerly (a matching click may still
    * arrive), so the engine holds it in state and emits the
    * null-padded row exactly when both watermarks prove no future
    * click can land in its band — the eviction that bounds state IS
    * the completeness proof for the outer row. Same per-side state
    * bound as the inner join; outer rows simply ride the eviction.
    * Cross-validated in StreamingSpec against the batch left-outer
    * twin (same function body) after pushing the watermark past the
    * last band.
    */
  def intervalJoinOuter(purchases: DataFrame, clicks: DataFrame,
      band: String = "10 minutes", delay: String = "10 minutes"): DataFrame =
    intervalJoinImpl(purchases, clicks, band, delay, "left_outer")

  private def intervalJoinImpl(purchases: DataFrame, clicks: DataFrame,
      band: String, delay: String, joinType: String): DataFrame = {
    val p = purchases.select(col("event_id").as("p_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", delay)
    val c = clicks.select(col("event_id").as("c_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", delay)
    p.join(c, expr(
        s"p_user = c_user AND " +
          s"c_ts >= p_ts - INTERVAL $band AND c_ts <= p_ts + INTERVAL $band"),
        joinType)
      .select(col("p_id"), col("p_user").as("user_id"), col("c_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("p_ts"))).as("gap_us"))
  }

  /** Incrementally-maintained length-bin table — the streaming half
    * of ma_drift_psi's scale story. The stream maintains ONE
    * aggregation keyed (source, bin) using the exact batch bin
    * expression (Distribution.binCol), state = sources×10 longs; PSI
    * is then Distribution.psiFromBins over this table, reading no raw
    * docs — exactly how a 100 TB deployment serves drift: the bin
    * counts update at ingest, the PSI query touches only the tiny
    * maintained aggregate. Cross-validated in StreamingSpec: replay
    * the corpus, run the shared PSI definition over the streamed bin
    * table, compare row-for-row with batch ma_drift_psi.
    */
  def lengthBins(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), graft.operators.Distribution.binCol.as("bin"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n"))

  /** Chunking at ingest — the streaming twin of pipe_chunk, and the
    * stage a live embedding pipeline runs before its encoder: the
    * SAME map-side projection (Pipeline.chunkProject — word hashes in
    * the scan, chunk indexes from sequence(), polynomial chunk
    * fingerprints) applied to the document stream. No state, no
    * shuffle, no watermark needed; a replay reproduces batch
    * pipe_chunk row-for-row (StreamingSpec).
    */
  def chunks(docs: DataFrame): DataFrame =
    graft.operators.Pipeline.chunkProject(docs)

  final case class AttributionOut(event_id: Long, user_id: Long,
      n_touches: Long, first_click_id: Option[Long], last_click_id: Option[Long],
      credit_each: Option[Double])

  /** Multi-touch attribution at ingest — the streaming twin of batch
    * ev_attribution: each arriving purchase is answered with its
    * first/last touch and linear credit split from the user's click
    * state. State per user = the clicks inside the 48 h lookback as a
    * (micros, id) queue — BOUNDED BY THE LOOKBACK WINDOW, not stream
    * history: every arriving event first evicts clicks older than
    * (now − 48 h), so a user's state carries at most their 48 h click
    * rate no matter how long the stream runs (the same
    * watermark-eviction argument as intervalJoin, enforced by hand
    * because the answer rides flatMapGroupsWithState). CONTRACT —
    * in-order replay per user, enforced like [[asof]]: purchases sort
    * before same-instant clicks ((ts, side, id) — the batch window's
    * strictly-earlier rule), and the state fails loudly on
    * regression. Cross-validated row-for-row against ev_attribution
    * in StreamingSpec.
    */
  def attribution(events: Dataset[Event]): Dataset[AttributionOut] = {
    import events.sparkSession.implicits._
    val lookUs = 172800000000L
    def micros(e: Event): Long =
      e.ts.getTime * 1000L + (e.ts.getNanos % 1000000L) / 1000L
    def sideOf(e: Event): Int = if (e.event_type == "purchase") 0 else 1
    val keyOrd = Ordering.Tuple3[Long, Int, Long]
    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(List[(Long, Long)], Long, Int, Long), AttributionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[(List[(Long, Long)], Long, Int, Long)]) =>
          // (clicks newest-first, hiUs, hiSide, hiId)
          var (clicks, hiUs, hiSide, hiId) = state.getOption
            .getOrElse((List.empty[(Long, Long)], Long.MinValue, -1, Long.MinValue))
          val out = Seq.newBuilder[AttributionOut]
          for (e <- rows.toSeq.sortBy(e => (micros(e), sideOf(e), e.event_id))) {
            val u = micros(e); val side = sideOf(e)
            if (keyOrd.lteq((u, side, e.event_id), (hiUs, hiSide, hiId)))
              throw new IllegalStateException(
                s"Streaming.attribution: event ${e.event_id} of user $userId arrived " +
                  s"after key ($hiUs, $hiSide, $hiId) — in-order replay precondition violated")
            hiUs = u; hiSide = side; hiId = e.event_id
            // evict: in-order means every future purchase lands at ≥ u,
            // so a click older than u − lookback can never match again
            clicks = clicks.filter(_._1 >= u - lookUs)
            if (side == 0) {
              val touches = clicks.filter { case (cu, _) => cu < u && cu >= u - lookUs }
              if (touches.isEmpty)
                out += AttributionOut(e.event_id, userId, 0L, None, None, None)
              else {
                val n = touches.length.toLong
                val first = touches.minBy(identity)
                val last = touches.maxBy(identity)
                out += AttributionOut(e.event_id, userId, n,
                  Some(first._2), Some(last._2),
                  Some(BigDecimal(1e-9 + e.value / n)
                    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
              }
            } else clicks = (u, e.event_id) :: clicks
          }
          state.update((clicks, hiUs, hiSide, hiId))
          out.result().iterator
      }
  }

  final case class Scd2Out(user_id: Long, event_type: String, version: Int,
      valid_from_us: Long, valid_to_us: Long, value: Double)

  /** SCD Type-2 maintenance at ingest — the streaming twin of batch
    * cdc_scd2: each (user, event_type) key carries its OPEN version
    * (start micros, 4-dp value, version number) plus the in-order
    * high-water mark as state; an arriving change with a different
    * rounded value CLOSES the open version (emitting it with
    * valid_to = the new change's timestamp — exactly batch's lead())
    * and opens the next; a no-op update only advances the high-water
    * mark. Append-mode discipline: only CLOSED versions are emitted
    * (they are final the moment the successor arrives); the open
    * version lives in state — batch parity is closed rows ==
    * cdc_scd2's is_current=false rows, with one open version per
    * live key (StreamingSpec). CONTRACT — in-order replay per key,
    * same as [[shard]]/[[asof]]: version numbering is
    * order-dependent, so the state fails loudly on a (ts, event_id)
    * regression rather than silently renumbering history.
    */
  def scd2(events: Dataset[Event]): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    def micros(e: Event): Long =
      e.ts.getTime * 1000L + (e.ts.getNanos % 1000000L) / 1000L
    def r4(v: Double): Double =
      BigDecimal(1e-9 + v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val keyOrd = Ordering.Tuple2[Long, Long]
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[(Long, Double, Int, Long, Long), Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), rows: Iterator[Event],
         state: GroupState[(Long, Double, Int, Long, Long)]) =>
          // (curFromUs, curValue, version, hiUs, hiId); version 0 = no
          // open version yet (hi* track ALL seen events incl. no-ops)
          var (curUs, curV, ver, hiUs, hiId) = state.getOption
            .getOrElse((Long.MinValue, Double.NaN, 0, Long.MinValue, Long.MinValue))
          val out = Seq.newBuilder[Scd2Out]
          for (e <- rows.toSeq.sortBy(e => (micros(e), e.event_id))) {
            val u = micros(e)
            if (ver > 0 && keyOrd.lteq((u, e.event_id), (hiUs, hiId)))
              throw new IllegalStateException(
                s"Streaming.scd2: event ${e.event_id} of key $key arrived after " +
                  s"($hiUs, $hiId) was versioned — in-order replay precondition violated")
            hiUs = u; hiId = e.event_id
            val v = r4(e.value)
            if (ver == 0) { curUs = u; curV = v; ver = 1 }
            else if (v != curV) {
              out += Scd2Out(key._1, key._2, ver, curUs, u, curV)
              curUs = u; curV = v; ver += 1
            }
          }
          state.update((curUs, curV, ver, hiUs, hiId))
          out.result().iterator
      }
  }

  final case class LatestOut(user_id: Long, event_type: String,
      last_us: Long, last_event_id: Long, last_value: Double)

  /** Newest-wins key compaction at ingest — the streaming twin of
    * batch cdc_latest: one (ts_us, event_id, value) triple of state
    * per live (user, event_type) key, updated by max-comparison as
    * events arrive. Unlike Streaming.asof/shard there is NO in-order
    * replay contract: max over (ts_us, event_id) is commutative and
    * associative, so ANY arrival order converges to the same final
    * state — late or shuffled data cannot diverge it from batch
    * (spec replays out of order on purpose). Emits the key's current
    * best each time it improves (update semantics); the latest
    * emission per key IS the compacted snapshot.
    */
  def latest(events: Dataset[Event]): Dataset[LatestOut] = {
    import events.sparkSession.implicits._
    def micros(e: Event): Long =
      e.ts.getTime * 1000L + (e.ts.getNanos % 1000000L) / 1000L
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[(Long, Long, Double), LatestOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), rows: Iterator[Event], state: GroupState[(Long, Long, Double)]) =>
          var (bUs, bId, bV) = state.getOption.getOrElse((Long.MinValue, Long.MinValue, 0d))
          var improved = false
          for (e <- rows) {
            val u = micros(e)
            if (u > bUs || (u == bUs && e.event_id > bId)) {
              bUs = u; bId = e.event_id; bV = e.value; improved = true
            }
          }
          if (improved) {
            state.update((bUs, bId, bV))
            Iterator.single(LatestOut(key._1, key._2, bUs, bId,
              BigDecimal(1e-9 + bV)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
          } else Iterator.empty
      }
  }

  /** Incrementally-maintained distinct-user sketches — the streaming
    * half of q19_sketch_union's scale story: ONE streaming aggregation
    * per event_type whose state is a constant-size DataSketches HLL
    * buffer (lgK=14, the q9_approx/q19 configuration), updated
    * map-side per micro-batch. The corpus is never re-scanned; any
    * coarser rollup unions the per-type sketch rows downstream,
    * exactly like batch. Estimates from a full replay equal the batch
    * sketch estimates bit-for-bit (same sketch, same update stream —
    * cross-validated in StreamingSpec).
    */
  def sketchCounts(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      .select(col("event_type"),
        hll_sketch_estimate(col("sk")).as("n_users_approx"))

  /** Phrase gate at ingest — the streaming face of ix_phrase: each
    * arriving doc is checked for every watch phrase ENTIRELY
    * map-side (no postings join, no state): tokenize once with the
    * shared hash scan, then per phrase an `exists` HOF slides its
    * hash sequence over the doc's — consecutive-subsequence match,
    * identical semantics to the batch anchor join. Emits one row per
    * doc with a hit flag and count per phrase; a replay reproduces
    * ix_phrase's n_docs/n_occ exactly (StreamingSpec).
    */
  def phraseFlags(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    val wh = graft.functions.Hashing.wordHashes(col("text"))
    val flagged = phrases.zipWithIndex.foldLeft(docs.withColumn("wh", wh)) {
      case (df, (p, i)) =>
        val qh = graft.functions.Hashing.wordHashes(lit(p))
        // guard: sequence(1, n) with n < 1 would DESCEND in Spark
        df.withColumn(s"occ_$i",
          when(size(col("wh")) >= size(qh),
            size(filter(
              transform(
                sequence(lit(1), size(col("wh")) - size(qh) + 1),
                j => slice(col("wh"), j, size(qh)) === qh),
              hit => hit)))
            .otherwise(lit(0)).cast("long"))
    }
    flagged.select(
      col("doc_id") +: phrases.indices.flatMap(i => Seq(
        (col(s"occ_$i") > 0).as(s"hit_$i"), col(s"occ_$i").as(s"n_occ_$i"))): _*)
  }

  /** Incrementally-maintained per-DAY user sketches — the streaming
    * half of ev_active_users: arriving events update their day's HLL
    * user sketch (constant state per day), and any rolling window —
    * WAU, MAU, a custom 3-day span — is served by unioning the
    * maintained sketch rows, never by replaying events. HLL updates
    * commute, so a replay's estimates equal the batch build's
    * exactly (StreamingSpec pins both the per-day estimates and the
    * 7-day-union WAU against the batch frames).
    */
  def dailyUsers(events: DataFrame): DataFrame =
    events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      .select(col("day"), col("sk"),
        hll_sketch_estimate(col("sk")).as("dau_approx"))

  /** Incrementally-maintained per-source FREQUENCY sketches over the
    * document stream's word-3-gram shingle hashes — the streaming
    * half of q29_freq's stop-shingle story (the sketchCounts pattern
    * with LongsSketch state instead of HLL): arriving docs shingle
    * map-side (the shared Hashing.shingleHashes — per-doc distinct,
    * so weight is 1 per (doc, h) exactly as batch), and ONE streaming
    * aggregation per source updates its 1024-entry counter map —
    * state is constant-size per source no matter how many distinct
    * shingles the stream carries. The maintained sketch rows merge
    * into any coarser head on read, never rescanning the stream.
    * Unlike the HLL twin, a frequency sketch's CONTENTS are
    * arrival-order-dependent (purges happen at different stream
    * positions), so the streamed sketch need not byte-equal the
    * batch build — what holds on ANY order is the deterministic
    * bracket lower ≤ exact ≤ upper per item, which is exactly what
    * StreamingSpec pins against the batch exact head.
    */
  def freqSketch(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        explode(graft.functions.Hashing.shingleHashes(col("text"))).as("h"))
      .groupBy("source")
      .agg(graft.functions.FreqAgg.freq_sketch_agg(col("h"), lit(1L),
        graft.operators.Maintain.freqMapSize).as("sk"))

  /** Classifier inference at ingest — the streaming twin of batch
    * clf_score and the production deployment shape (the trained
    * model scores documents as they arrive, before the curation
    * funnel admits them): the SHARED map-only projection
    * (Classifier.scoreProject — one native kernel call per doc), no
    * state, no shuffle, no watermark. A replay reproduces batch
    * clf_score row-for-row (StreamingSpec).
    */
  def clfScore(docs: DataFrame): DataFrame =
    graft.operators.Classifier.scoreProject(docs)

  /** Incrementally-maintained (word, cnt) vocabulary over the
    * document stream — the input frame of BPE tokenizer training
    * (Tokenizer.trainLoop), kept fresh at ingest the way a production
    * tokenizer-retraining pipeline maintains corpus statistics: ONE
    * streaming aggregation keyed by word, state = one counter per
    * distinct word (Heaps-bounded). Word counts are order-independent
    * integers, so after ANY replay the maintained table equals batch
    * Tokenizer.vocab0 exactly — and training from it yields the
    * IDENTICAL merge table (StreamingSpec runs the shared trainLoop
    * on the streamed vocab and compares against tx_bpe_train).
    */
  def bpeVocab(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Tokenizer APPLICATION at ingest — the streaming twin of batch
    * tx_bpe_encode: each arriving doc is token-accounted map-side
    * against ONE broadcast row packing the trained vocabulary as a
    * hash-keyed map (Tokenizer.packedVocab — same hash, same
    * min()-fold collision semantics as the batch vh frame). No
    * explode, no keyed shuffle, no state: the per-doc fold sums
    * integers, so a replay reproduces batch tx_bpe_encode
    * row-for-row (StreamingSpec). Words outside the vocabulary (none
    * on a replay; live traffic can carry them) and the empty-token
    * hash are skipped exactly as the batch join drops them.
    */
  def bpeEncode(docs: DataFrame, packedVocab: DataFrame): DataFrame = {
    val zero = struct(lit(0L).as("w"), lit(0L).as("ch"), lit(0L).as("tk"))
    docs.crossJoin(broadcast(packedVocab))
      .withColumn("st", aggregate(
        filter(graft.functions.Hashing.wordHashes(col("text")), h => h =!= 0L),
        zero,
        (acc, h) => {
          val e = element_at(col("vh"), h)
          when(e.isNull, acc).otherwise(struct(
            (acc.getField("w") + 1L).as("w"),
            (acc.getField("ch") + e.getField("n_chr")).as("ch"),
            (acc.getField("tk") + e.getField("n_sym")).as("tk")))
        }))
      .filter(col("st.w") > 0)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("st.w").as("n_words"), col("st.ch").as("n_chars"), col("st.tk").as("n_tokens"),
        round(lit(1e-9) + col("st.tk") / col("st.ch").cast("double") + 1e-9, 6)
          .as("bpe_ratio"))
  }

  final case class AnomalyOut(event_type: String, bucket_s: Long, n_events: Long,
      z: Option[Double], anomalous: Boolean)

  /** Rolling z-score anomaly detection at ingest — the streaming twin
    * of ev_anomaly, scoring each FINALIZED (type, bucket) count the
    * moment it closes (in production the input is windowCounts'
    * watermark-finalized output, which emits per type in bucket
    * order — the in-order contract below is that pipeline's
    * guarantee, ENFORCED like shard/asof/scd2). State per event_type
    * is the ≤12 trailing bucket counts plus the high-water bucket —
    * bounded regardless of stream length. The baseline arithmetic
    * mirrors the batch window engines' exactly (sequential-sum mean,
    * Welford M2 for stddev_samp, both in frame order; the identical
    * 1e-9-nudged 4-dp rounding), so an in-order replay reproduces
    * batch ev_anomaly row-for-row (StreamingSpec).
    */
  def anomaly(buckets: Dataset[(String, Long, Long)]): Dataset[AnomalyOut] = {
    import buckets.sparkSession.implicits._
    def r4(v: Double): Double =
      BigDecimal(1e-9 + v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    buckets
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[Long], Long), AnomalyOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[(Seq[Long], Long)]) =>
          var (trail, hi) = state.getOption.getOrElse((Seq.empty[Long], Long.MinValue))
          val out = Seq.newBuilder[AnomalyOut]
          for ((_, b, n) <- rows.toSeq.sortBy(_._2)) {
            if (hi != Long.MinValue && b <= hi)
              throw new IllegalStateException(
                s"Streaming.anomaly: bucket $b of type $tpe arrived after $hi " +
                  "was scored — in-order replay precondition violated")
            hi = b
            val k = trail.length
            val zOpt = if (k >= 6) {
              // batch parity: avg = sequential double sum / count
              // (Spark's Average), sd = sqrt(M2/(n−1)) with Welford's
              // update (Spark's CentralMomentAgg), both in frame order
              var s = 0.0
              trail.foreach(x => s += x.toDouble)
              val mu = s / k
              var mean = 0.0; var m2 = 0.0; var i = 0
              trail.foreach { x =>
                i += 1
                val d = x - mean
                mean += d / i
                m2 += d * (x - mean)
              }
              val sd = math.sqrt(m2 / (k - 1))
              if (sd > 0) Some(r4((n - mu) / sd)) else None
            } else None
            out += AnomalyOut(tpe, b, n, zOpt, zOpt.exists(z => math.abs(z) > 3))
            trail = (trail :+ n).takeRight(12)
          }
          state.update((trail, hi))
          out.result().iterator
      }
  }

  final case class ForecastOut(event_type: String, bucket_s: Long, n_events: Long,
      forecast: Double, abs_err: Double)

  /** One-step-ahead SES forecast at ingest — the streaming twin of
    * ev_forecast, scoring each finalized (type, bucket) count against
    * the truncated exponential-smoothing prediction of the trailing
    * ≤24 TIME slots (absent buckets decay the forecast exactly as in
    * batch, because weights key on bucket DISTANCE, not row offset).
    * State per type: the (bucket, count) pairs still inside the
    * 24-slot horizon plus the high-water bucket — bounded regardless
    * of stream length. Same in-order replay contract as [[anomaly]];
    * weights are the identical Scala-computed double literals the
    * batch plan embeds, and the rounding mirrors batch's double-nudge
    * 4-dp form, so a replay reproduces ev_forecast row-for-row
    * (StreamingSpec).
    */
  def sesForecast(buckets: Dataset[(String, Long, Long)]): Dataset[ForecastOut] = {
    import buckets.sparkSession.implicits._
    val weights: Array[Double] =
      (1 to 24).map(k => 0.25 * math.pow(0.75, k - 1)).toArray
    def r4(v: Double): Double =
      BigDecimal(1e-9 + v + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    buckets
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[(Long, Long)], Long), ForecastOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[(Seq[(Long, Long)], Long)]) =>
          var (trail, hi) = state.getOption.getOrElse((Seq.empty[(Long, Long)], Long.MinValue))
          val out = Seq.newBuilder[ForecastOut]
          for ((_, b, n) <- rows.toSeq.sortBy(_._2)) {
            if (hi != Long.MinValue && b <= hi)
              throw new IllegalStateException(
                s"Streaming.sesForecast: bucket $b of type $tpe arrived after $hi " +
                  "was scored — in-order replay precondition violated")
            hi = b
            var f = 0.0
            trail.foreach { case (bi, ni) =>
              val k = ((b - bi) / 300L).toInt
              if (k >= 1 && k <= 24) f += ni * weights(k - 1)
            }
            out += ForecastOut(tpe, b, n, r4(f), r4(math.abs(n - f)))
            trail = (trail :+ (b, n)).filter { case (bi, _) => b - bi < 24L * 300 }
          }
          state.update((trail, hi))
          out.result().iterator
      }
  }

  final case class CusumOut(event_type: String, bucket_s: Long, n_events: Long,
      s_pos: Double, s_neg: Double, alarm: Boolean)

  /** Online CUSUM level-shift alarm — the STREAMING face of
    * ev_changepoint (batch finds the split offline with the whole
    * series in hand; this raises the alarm AT INGEST, the first
    * moment the cumulative evidence crosses the threshold). Classic
    * self-tuning two-sided CUSUM: against the running Welford
    * mean/stddev of the PRE-SHIFT baseline, accumulate
    * S⁺ = max(0, S⁺ + (x − μ − kσ)) and the mirrored S⁻; alarm when
    * either exceeds hσ (k = σ/2 slack, h = 5 — the textbook ARL
    * operating point). Baseline updates are FROZEN while an alarm is
    * active so the shifted level cannot absorb itself into μ; state
    * per type is six doubles + the high-water bucket, bounded
    * regardless of stream length. Planted-shift behavior pinned in
    * StreamingSpec (fires within a few buckets of the 3× shift, never
    * on the flat series, and batch ev_changepoint agrees on WHERE).
    */
  def cusum(buckets: Dataset[(String, Long, Long)]): Dataset[CusumOut] = {
    import buckets.sparkSession.implicits._
    final case class St(n: Long, mean: Double, m2: Double,
        sPos: Double, sNeg: Double, hi: Long)
    buckets
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double, Double, Double, Double, Long), CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[(Long, Double, Double, Double, Double, Long)]) =>
          var st = state.getOption.map(t => St(t._1, t._2, t._3, t._4, t._5, t._6))
            .getOrElse(St(0, 0.0, 0.0, 0.0, 0.0, Long.MinValue))
          val out = Seq.newBuilder[CusumOut]
          for ((_, b, n) <- rows.toSeq.sortBy(_._2)) {
            if (st.hi != Long.MinValue && b <= st.hi)
              throw new IllegalStateException(
                s"Streaming.cusum: bucket $b of type $tpe arrived after ${st.hi} " +
                  "was scored — in-order replay precondition violated")
            val x = n.toDouble
            val sd = if (st.n >= 2) math.sqrt(st.m2 / (st.n - 1)) else 0.0
            val (sPos, sNeg, alarm) =
              if (st.n >= 6 && sd > 0) {
                val k = sd / 2
                val p = math.max(0.0, st.sPos + (x - st.mean - k))
                val m = math.max(0.0, st.sNeg + (st.mean - x - k))
                (p, m, p > 5 * sd || m > 5 * sd)
              } else (0.0, 0.0, false)
            out += CusumOut(tpe, b, n, sPos, sNeg, alarm)
            // freeze the baseline while alarming — the shifted level
            // must not teach itself into the mean
            st =
              if (alarm) St(st.n, st.mean, st.m2, sPos, sNeg, b)
              else {
                val n1 = st.n + 1
                val d = x - st.mean
                val mean1 = st.mean + d / n1
                St(n1, mean1, st.m2 + d * (x - mean1), sPos, sNeg, b)
              }
          }
          state.update((st.n, st.mean, st.m2, st.sPos, st.sNeg, st.hi))
          out.result().iterator
      }
  }

  /** Incrementally-maintained per-source term profile over a FIXED
    * broadcast head vocabulary — the lexical half of ix_source_sim's
    * scale story (the lengthBins/PSI pattern one shelf up): arriving
    * docs explode map-side, the vocab filter is a stream-static
    * broadcast join (32 rows), and ONE streaming aggregation keyed
    * (source, h) maintains the tf table — state = sources×32 longs.
    * The similarity serve (Search.weightsOf → Search.pairCosines,
    * the SAME definitions batch uses) then reads the maintained
    * table and never touches raw docs. A replay reproduces batch
    * ix_source_sim row-for-row (StreamingSpec). In production the
    * vocab head refreshes periodically from the corpus (like the
    * repeatedGramIndex), while per-doc profile maintenance is
    * continuous.
    */
  def termProfile(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .select(col("source"),
        explode(graft.functions.Hashing.wordHashes(col("text"))).as("h"))
      .join(broadcast(vocab.select("h")), Seq("h"))
      .groupBy("source", "h")
      .agg(count(lit(1)).as("tf"))

  /** Continuously-maintained table checksum — the streaming half of
    * dq_checksum's reconciliation story: a replication consumer folds
    * each arriving row to the SAME canonical key string and keeps one
    * running (count, Σhash mod P) pair per slice. Sum and count are
    * commutative-monoid state, so the streaming aggregation's
    * constant-width per-group state updates map-side per micro-batch
    * and a full replay equals the batch checksum EXACTLY (the modulus
    * distributes over the decimal sum; cross-validated in
    * StreamingSpec). Divergence from the source table's batch
    * checksum localizes a replication fault to the slice without
    * rescanning either side.
    */
  def checksumMaintain(lineitem: DataFrame): DataFrame = {
    val h = graft.functions.Hashing.charFold(concat(
      col("l_orderkey").cast("string"), lit("|"), col("l_partkey").cast("string"),
      lit("|"), col("l_suppkey").cast("string"), lit("|"), col("l_returnflag"),
      lit("|"), col("l_linestatus")))
    lineitem
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        (sum(h.cast("decimal(38,0)")) % 1000000007L).cast("long").as("checksum"))
  }

  /** Flush still-open sessions from a completed sessionize pass
    * (batch-mode convenience for tests and backfills).
    */
  def sessionizeBatch(spark: SparkSession, events: Dataset[Event]): DataFrame = {
    import spark.implicits._
    val GapSeconds = 1800L
    events
      .groupByKey(_.user_id)
      .flatMapGroups { (userId: Long, rows: Iterator[Event]) =>
        val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var sessionId = 0L
        var start = Long.MinValue
        var end = Long.MinValue
        var n = 0L
        val out = Seq.newBuilder[SessionOut]
        for (e <- sorted) {
          val t = e.ts.getTime / 1000L
          if (n == 0L) { sessionId = 1L; start = t; end = t; n = 1L }
          else if (t - end > GapSeconds) {
            out += SessionOut(userId, sessionId, n, start, end)
            sessionId += 1L; start = t; end = t; n = 1L
          } else { end = t; n += 1L }
        }
        if (n > 0L) out += SessionOut(userId, sessionId, n, start, end)
        out.result().iterator
      }
      .toDF()
  }

  final case class SeqMatchOut(user_id: Long, anchor_id: Long, t1_us: Long,
      outcome: String, t2_us: Option[Long], errs_between: Long)

  /** CEP sequence match at ingest — the streaming twin of batch
    * ev_sequence (`signup FOLLOWED BY purchase within 72 h with NO
    * error between`): per-user state is the running error counter
    * plus the OPEN anchors (signup time, error count at anchor,
    * anchor id). An arriving purchase completes every open anchor it
    * is the FIRST in-window purchase for — outcome 'clean' when the
    * counters match (zero errors between), 'blocked' otherwise, with
    * the error delta reported; any arrival past an anchor's window
    * EXPIRES it ('expired' — final the moment the watermark of
    * in-order replay passes t1+72 h, so append mode is sound).
    * Anchors still open at stream end stay in state, unemitted — the
    * stream has not yet learned their outcome (batch counts them as
    * incomplete; the spec reconciles the two views exactly).
    *
    * State is bounded by the window: expiry evicts every anchor
    * within 72 h of event time, so a user carries at most their 72-h
    * signup rate. CONTRACT — in-order replay per user on
    * (ts, event_id) (the batch counter's exact order; use [[reorder]]
    * upstream for out-of-order sources), enforced fail-loud like
    * [[asof]]/[[scd2]]. Window length is the SAME constant as the
    * batch query (operators.Events.SeqWindowUs). Cross-validated
    * against ev_sequence's aggregate in StreamingSpec.
    */
  def sequenceMatch(events: Dataset[Event]): Dataset[SeqMatchOut] = {
    import events.sparkSession.implicits._
    val winUs = graft.operators.Events.SeqWindowUs
    def micros(e: Event): Long =
      e.ts.getTime * 1000L + (e.ts.getNanos % 1000000L) / 1000L
    events
      .filter(e => e.event_type == "signup" || e.event_type == "purchase" ||
        e.event_type == "error")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(List[(Long, Long, Long)], Long, Long, Long), SeqMatchOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[(List[(Long, Long, Long)], Long, Long, Long)]) =>
          // (open anchors (t1, e1, id) newest-first, errCount, hiUs, hiId)
          var (anchors, errs, hiUs, hiId) = state.getOption
            .getOrElse((List.empty[(Long, Long, Long)], 0L, Long.MinValue, Long.MinValue))
          val out = Seq.newBuilder[SeqMatchOut]
          for (e <- rows.toSeq.sortBy(e => (micros(e), e.event_id))) {
            val u = micros(e)
            if (u < hiUs || (u == hiUs && e.event_id <= hiId))
              throw new IllegalStateException(
                s"Streaming.sequenceMatch: event ${e.event_id} of user $userId arrived " +
                  s"after ($hiUs, $hiId) — in-order replay precondition violated")
            hiUs = u; hiId = e.event_id
            // expire first: in-order means no future purchase can land ≤ u,
            // so an anchor whose window closed strictly before u is final
            val (expired, live) = anchors.partition { case (t1, _, _) => u > t1 + winUs }
            for ((t1, _, id) <- expired)
              out += SeqMatchOut(userId, id, t1, "expired", None, 0L)
            anchors = live
            e.event_type match {
              case "error" => errs += 1
              case "purchase" =>
                // this purchase is the FIRST in-window one for every
                // still-open anchor with t1 < u (strict — batch's tp > t1)
                val (done, stillOpen) = anchors.partition { case (t1, _, _) => t1 < u }
                for ((t1, e1, id) <- done)
                  out += SeqMatchOut(userId, id, t1,
                    if (errs == e1) "clean" else "blocked", Some(u), errs - e1)
                anchors = stillOpen
              case _ => // signup: open a new anchor
                anchors = (u, errs, e.event_id) :: anchors
            }
          }
          state.update((anchors, errs, hiUs, hiId))
          out.result().iterator
      }
  }
}
