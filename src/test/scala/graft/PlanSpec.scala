package graft

import org.apache.spark.sql.execution.SimpleMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: these encode the scale properties the
  * operators are designed around (pushdown, pruning, broadcast,
  * bounded shuffles, no global sorts for top-k, cache reuse) so a
  * refactor that silently degrades the plan fails the suite.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(SimpleMode)

  test("q6 pushes filters into the parquet scan and prunes columns") {
    val p = plan("q6_filter_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"))
    assert(!p.contains("l_orderkey"), "scan must not read unused columns")
  }

  test("q3 broadcasts small sides by size (no hard hint) and uses TakeOrderedAndProject") {
    val p = plan("q3_topk")
    // No broadcast() hint on customer (it grows with SF — a hard hint
    // would OOM the driver at 100 TB); at this SF the CBO must still
    // CHOOSE broadcast from its size estimate.
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"))
  }

  test("q5 six-way join: AQE broadcasts the small sides at runtime") {
    // customer/supplier joins carry no hint (they grow with SF; a hard
    // hint would OOM the driver at 100 TB). The STATIC estimate for the
    // joined supplier side exceeds the broadcast threshold, so the
    // initial plan may contain SortMergeJoin — the contract is that AQE
    // converts it once runtime sizes are known. Assert the FINAL plan.
    val df = SparkEntry.queries("q5_multijoin")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"))
    // toString appends the pre-AQE "== Initial Plan ==" (which may
    // legitimately contain SortMergeJoin) — assert on the final only.
    val p = full.split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
    assert(!p.contains("SortMergeJoin"), "AQE must convert every dimension join to broadcast at this SF")
  }

  test("q7 top-3-per-brand uses the bounded-heap aggregate, not a window sort") {
    val p = plan("q7_window_topn")
    assert(p.contains("topk_by_score"))
    assert(!p.contains("row_number"),
      "per-brand window would single-reducer-sort all parts at scale")
  }

  test("q7 aggregates the fact BELOW the brand join") {
    // the rewrite's point: the p_partkey join must consume the
    // per-part AGGREGATE (|parts| rows), not raw lineitem — i.e. some
    // join has an Aggregate descendant on a child
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val lp = SparkEntry.queries("q7_window_topn")(spark, sf)
      .queryExecution.optimizedPlan
    val ok = lp.collect { case j: Join =>
      j.children.exists(_.collectFirst { case a: Aggregate => a }.isDefined)
    }.exists(identity)
    assert(ok, s"brand join consumes the un-aggregated fact:\n$lp")
  }

  test("q2 semi-joins the part filter BELOW the cost aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val lp = SparkEntry.queries("q2_mincost")(spark, sf)
      .queryExecution.optimizedPlan
    // a LeftSemi join must exist UNDER some aggregate (the fact is
    // filtered to qualifying parts before the heavy (part,supp) agg)
    val ok = lp.collectFirst {
      case a: Aggregate if a.collectFirst {
        case j: Join if j.joinType == LeftSemi => j }.isDefined => a
    }.isDefined
    assert(ok, s"no semi join below the cost aggregate:\n$lp")
  }

  test("ma_fingerprint is partial-aggregated (map-side combine)") {
    val p = plan("ma_fingerprint")
    assert(p.contains("partial_avg") || p.contains("partial_"),
      "fingerprint aggregation must have a partial (map-side) phase")
  }

  test("dd_lsh_pairs reuses the cached minhash signatures on both join sides") {
    val p = plan("dd_lsh_pairs")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      "self-join sides must read the cached signature table, not recompute hashing")
  }

  test("ann_lsh joins on banded bucket keys, not a full cross product") {
    val p = plan("ann_lsh")
    assert(p.contains("band"), "banded ANN must join on (band, key)")
    assert(!p.contains("CartesianProduct"))
  }

  test("dd_embed is a banded bucket join, not a cross product") {
    val p = plan("dd_embed")
    assert(p.contains("band"), "banded LSH must join on (band, key)")
    assert(!p.contains("CartesianProduct"))
  }

  test("dd_embed's bucket-cap check is a broadcast anti join in the final plan") {
    val df = SparkEntry.queries("dd_embed")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // With no oversized bucket at this SF, AQE's empty-relation
    // propagation removes the anti join entirely (the cap check costs
    // nothing); if it survives, it must be broadcast. Either way the
    // banded frame must never re-shuffle for the cap.
    val antiLines = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(antiLines.forall(_.contains("BroadcastHashJoin")),
      s"oversized-bucket anti join must broadcast, got: $antiLines")
  }

  test("ma_dli_bigrams forms bigrams in the scan stage, no per-doc word window") {
    val p = plan("ma_dli_bigrams")
    assert(p.contains("word_bigrams"), "bigrams must come from the native expression")
    // the only remaining window is p-normalization over ≤100 rows per
    // source. The per-DOC lead() window over every exploded corpus
    // word is gone, and so is the per-source row_number over the full
    // bigram vocabulary (bounded-heap top-100 instead).
    assert(!p.contains("lead("), "no per-doc lead() window over exploded words")
    assert(p.contains("topk_by_score"), "top-100 must be the bounded-heap aggregate")
    assert(!p.contains("row_number"), "no full vocabulary sort per source")
  }

  test("the audit family's pass scans documents once; its aggregations read the cached projection") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // every node, looking into adaptive plans and query stages and, if
    // asked, into the plan of each cached relation read (once each)
    val seen = scala.collection.mutable.Set[AnyRef]()
    def nodes(p: SparkPlan, intoCaches: Boolean): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, intoCaches)
      case s: QueryStageExec => nodes(s.plan, intoCaches)
      case m: InMemoryTableScanExec if intoCaches =>
        if (seen.add(m.relation.cacheBuilder)) nodes(m.relation.cachedPlan, intoCaches) else Nil
      case _ => p.children.flatMap(nodes(_, intoCaches))
    })
    val models = operators.Audit.corpus(spark, sf).models
    val build = nodes(models.queryExecution.executedPlan, intoCaches = false).collectFirst {
      case m: InMemoryTableScanExec if m.relation.output.exists(_.name == "n_vocab") =>
        m.relation.cachedPlan
    }.getOrElse(fail("the per-model frame is not cached"))
    val own = nodes(build, intoCaches = false)
    assert(own.exists(_.isInstanceOf[BaseAggregateExec]))
    assert(!own.exists(_.isInstanceOf[FileSourceScanExec]), "the aggregations must not read parquet")
    val reads = own.collect { case m: InMemoryTableScanExec => m.relation.output.map(_.name) }
    assert(reads.nonEmpty && reads.forall(c => c.contains("doc_id") && c.contains("fs_0")),
      s"the aggregations must read the cached per-document projection, read: $reads")
    val scans = nodes(build, intoCaches = true).collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"one parquet scan expected, planned ${scans.size}")
    assert(scans.head.relation.location.rootPaths.map(_.getName) == Seq("documents.parquet"))
  }

  test("ma_probe_consistency ranks probe_idx without a per-source single-partition window") {
    val p = plan("ma_probe_consistency")
    // The fat formulation was row_number() OVER (PARTITION BY source
    // ORDER BY doc_id) — one task sorts a source's whole corpus. The
    // two-pass rank's windows partition by (source, bkt) [bounded] or
    // run over the tiny counts frame; neither orders doc_id under a
    // source-only partition.
    assert(!p.matches("(?s).*windowspecdefinition\\(source#\\d+, doc_id#.*"),
      "probe_idx must not funnel a whole source through one window partition")
    // argmax-per-doc must be the partial-aggregated struct-max, not a
    // per-doc row_number window.
    assert(p.contains("partial_max") || p.contains("partial_"),
      "per-doc argmax must have a map-side partial phase")
  }

  test("q11 bucketed join never shuffles on the join key") {
    val df = SparkEntry.queries("q11_bucketed_revenue")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"), "merge hint must pin the sort-merge path")
    assert(!p.matches("(?s).*Exchange hashpartitioning\\(l_orderkey.*"),
      "bucketed layout must make the orderkey join shuffle-free")
  }

  test("ann_ivf assigns cells and ranks candidates without any window") {
    val p = plan("ann_ivf")
    assert(!p.contains("row_number"),
      "cell assignment must be the struct-max aggregation, top-k the bounded heap")
    assert(p.contains("topk_by_score"), "probe cells / final top-k must use the heap aggregate")
  }

  test("ann_ivfpq prunes, ADC-ranks and re-ranks without windows; ADC sum is integer") {
    val p = plan("ann_ivfpq")
    assert(!p.contains("row_number"),
      "cell probe, ADC top-NRerank and the exact re-rank must all be heap/struct aggregates")
    assert(p.contains("topk_by_score"), "ADC pruning and final top-k must use the heap aggregate")
    // the ADC accumulation must be the 1e-6-scaled BIGINT sum (exact,
    // order-independent), never a float partial aggregation
    assert(p.contains("sum(t6"), "ADC must sum the scaled integer lookup table")
  }

  test("ann_sq8 serves from integer code scans and the bounded heap, no window") {
    val p = plan("ann_sq8")
    assert(p.contains("long_dot_product"),
      "candidate scoring must be the exact integer code dot, not float decode math")
    assert(p.contains("topk_by_score"), "the per-query top-k must ride the bounded heap")
    assert(!p.contains("Window"), "a row_number window would sort every candidate per query")
  }

  test("ma_reef_cka selects its bounded sample without a full window sort") {
    val p = operators.Reef.sampleDf(spark, sf).queryExecution.explainString(SimpleMode)
    assert(p.contains("topk_by_score"),
      "sample selection must use the bounded-heap aggregate")
    assert(!p.contains("row_number"),
      "no row_number window (it would shuffle+sort every embedding per label)")
  }

  test("ma_reef_cka serves its driver-computed pairs as a local frame") {
    // the CKA arithmetic runs on the driver over the collected sample;
    // the served frame is its L(L-1)/2 rows, with no shuffle, window or
    // cached relation left in the plan
    val p = plan("ma_reef_cka")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("InMemoryRelation"), p)
  }

  test("q12 salted join keys include the salt column") {
    val p = plan("q12_salted_skew")
    assert(p.contains("__salt"),
      "the skewed event_type join must run on (key, salt) sub-keys")
  }

  test("ma_report_json assembles JSON without any shuffle beyond ma_audit's") {
    // the JSON export is a pure projection over the audit result —
    // string assembly must be free, never a new exchange
    val audit = plan("ma_audit")
    val json = plan("ma_report_json")
    def exchanges(p: String) = "Exchange".r.findAllIn(p).size
    assert(exchanges(json) == exchanges(audit),
      s"JSON projection added shuffles: audit=${exchanges(audit)} json=${exchanges(json)}")
  }

  test("ma_benchmark_eval_by_category rolls up the (category, label) slices in one pass") {
    val p = plan("ma_benchmark_eval_by_category")
    assert(p.contains("Expand"),
      "every filter combination must come from ONE rollup scan, not per-slice re-reads")
  }

  test("pipe_decontaminate broadcasts the eval index and uses no window") {
    // The scale contract: eval sets are small, corpora are not — the
    // exploded eval (hash, eval_id) index must broadcast so the corpus
    // side never shuffles for the join, and the per-doc best-match is
    // a struct-max aggregate, never a row_number over all matches.
    val p = plan("pipe_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval index must broadcast")
    assert(!p.contains("SortMergeJoin"), "the contamination join must not shuffle the corpus")
    assert(!p.contains("Window"), "per-doc argmax must be an aggregate, not a window")
  }

  test("tx_unigram_ppl joins token counts without windows or a forced vocab broadcast") {
    val p = plan("tx_unigram_ppl")
    assert(!p.contains("Window"), "per-doc surprisal must aggregate, not window")
    // Zipf de-skew: the vocab join must probe the (doc_id, h)
    // HISTOGRAM, not raw token rows — every exchange keyed by the
    // token hash alone must carry aggregated rows (functions include
    // a count/sum), so no single hot word can exceed |docs| rows in
    // one join partition. The raw-token shape had the explode feeding
    // the join exchange directly.
    val aggsByTokenAndDoc = "HashAggregate\\(keys=\\[doc_id[^\\]]*, h[^\\]]*\\]".r
      .findAllIn(p).size
    assert(aggsByTokenAndDoc >= 2,
      "expected partial+final (doc_id, h) histogram aggregation before the vocab join")
    // the 1-row grand total broadcasts; the vocab join must NOT carry
    // a broadcast hint (a 100 TB vocabulary can exceed the driver) —
    // only AQE may convert it at runtime from proven sizes
    val df = SparkEntry.queries("tx_unigram_ppl")(spark, sf)
    val hinted = df.queryExecution.logical.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hinted.size <= 1, "only the 1-row total may be hint-broadcast")
  }

  test("pipe_decon_shuffle matches the broadcast path with no eval-side hint") {
    // identical result set to pipe_decontaminate (same oracle) …
    val a = SparkEntry.queries("pipe_decontaminate")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("pipe_decon_shuffle")(spark, sf).collect().toSeq
    assert(a == b, "shuffle-join decontamination must be bit-identical to broadcast path")
    assert(a.nonEmpty)
    val df = SparkEntry.queries("pipe_decon_shuffle")(spark, sf)
    // … with NO broadcast hint anywhere (a corpus-sized eval side
    // exceeds the driver; only AQE may convert from proven sizes)
    val hinted = df.queryExecution.logical.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hinted.isEmpty, s"no side of the decon shuffle join may be hint-broadcast: $hinted")
    // … and the Zipf guard holds: both sides of the h-keyed join are
    // (key, doc) histograms, so h-keyed exchanges carry aggregated
    // rows, never raw shingle arrays or text
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exchanges = SparkEntry.queries("pipe_decon_shuffle")(spark, sf)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
      assert(exchanges.nonEmpty)
      for (e <- exchanges
           if !e.outputPartitioning.isInstanceOf[
             org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
        assert(!e.output.exists(a => a.name == "text" || a.name == "shingles"),
          s"a keyed shuffle carries text or a shingle array: ${e.output.map(_.name)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("pipe_sample uses the bounded heap, not a per-source window sort") {
    val p = plan("pipe_sample")
    assert(p.contains("topk_by_score"), "sampling must go through the bounded-heap aggregate")
    assert(!p.contains("Window"), "a row_number window would sort every doc of a source in one task")
  }

  test("tx_repetition shuffles hashed-term histograms, never document text") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("tx_repetition")(spark, sf)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      for (e <- exchanges
           if !e.outputPartitioning.isInstanceOf[
             org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
        assert(!e.output.exists(a => a.name == "text" || a.name == "wh"),
          s"a keyed shuffle carries text or the full token array: ${e.output.map(_.name)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  for (q <- Seq("pipe_e2e", "pipe_e2e_sem"))
    test(s"$q never shuffles document text and broadcasts the eval index") {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = SparkEntry.queries(q)(spark, sf)
        val plan = df.queryExecution.executedPlan
        val exchanges = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        assert(exchanges.nonEmpty)
        for (e <- exchanges
             if !e.outputPartitioning.isInstanceOf[
               org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
          assert(!e.output.exists(a => a.name == "text" || a.name == "wh" || a.name == "shingles"),
            s"a keyed shuffle carries text or a token array: ${e.output.map(_.name)}")
        assert(plan.toString.contains("BroadcastHashJoin"), "the eval index must broadcast")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }

  test("pipe_curate never shuffles document text") {
    // the funnel's scale contract: enrichment is map-only, dedup and
    // the canonical join move only (sha, doc_id)-sized rows. AQE off
    // for the assertion: its query-stage wrappers hide the exchanges
    // from a pre-execution traversal, and the claim is about the
    // static plan shape.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("pipe_curate")(spark, sf)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "dedup and the funnel agg do shuffle - on narrow rows")
      // the Tables.loadSpread round-robin spread of the unsplittable
      // single-row-group TEST file is exempt: a real cluster scan has
      // splits and no such exchange. Every keyed (hash/range) shuffle
      // must be text-free.
      for (e <- exchanges
           if !e.outputPartitioning.isInstanceOf[
             org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
        assert(!e.output.exists(_.name == "text"),
          s"a keyed shuffle carries the full document text: ${e.output.map(_.name)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ev_asof is join-free: one user-keyed shuffle feeds the carry window") {
    val p = plan("ev_asof")
    assert(!p.contains("Join"), "as-of must be the union-and-carry form, not a join")
    assert(p.contains("hashpartitioning(user_id"),
      "the carry window must run after one hash shuffle on user_id")
  }

  test("ev_range_join is a banded equi-join, never a cross product") {
    val p = plan("ev_range_join")
    assert(p.contains("bucket"), "range join must key on (user_id, bucket)")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "an unbanded range predicate degenerates to a nested-loop join")
  }

  test("pipe_decon_bloom probes the bloom map-side in a Filter, not after a join") {
    val df = SparkEntry.queries("pipe_decon_bloom")(spark, sf)
    // the probe must sit in a Filter whose subtree contains no join or
    // exchange — i.e. it runs in the scan stage of the corpus side
    val filters = df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.toString.contains("might_contain") => f
    }
    assert(filters.nonEmpty, "corpus must prefilter through the bloom literal")
    filters.foreach { f =>
      val bad = f.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(bad.isEmpty, "the bloom probe must run before any join, not after")
    }
  }

  test("q15_grouping_sets is one Expand-fed aggregate: a single keyed shuffle") {
    val p = plan("q15_grouping_sets")
    assert(p.contains("Expand"), "grouping sets must expand map-side")
    val keyedShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyedShuffles == 1, s"expected 1 keyed shuffle, saw $keyedShuffles")
  }

  test("q16_running evaluates both frames in one Window node, one keyed shuffle") {
    val p = plan("q16_running")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"same-(partition, order) frames must share one Window, saw $windows")
    val keyedShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyedShuffles == 1, s"expected 1 keyed shuffle, saw $keyedShuffles")
  }

  test("q24_unpivot is one Expand-fed pass: no union of per-component scans") {
    val p = plan("q24_unpivot")
    assert(p.contains("Expand"), "unpivot must expand map-side")
    assert(!p.contains("Union"), "a UNION would scan lineitem three times")
    val keyedShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyedShuffles == 1, s"expected 1 keyed shuffle, saw $keyedShuffles")
  }

  test("q25_dist_rank evaluates all three distribution functions in one Window node") {
    val p = plan("q25_dist_rank")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1,
      s"percent_rank/cume_dist/ntile share (partition, order) → one Window, saw $windows")
    val keyedShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyedShuffles <= 2,
      s"custkey agg + nation window = at most 2 keyed shuffles, saw $keyedShuffles")
  }

  test("pipe_chunk is map-only: chunk explosion without any keyed shuffle") {
    val p = plan("pipe_chunk")
    assert(!p.contains("Exchange hashpartitioning"),
      "the chunker must not shuffle — words hash in the scan, indexes explode map-side")
    assert(!p.contains("Join"), "no join anywhere in the chunk plan")
  }

  test("ix_hybrid ranks through bounded heaps, never a window over the corpus") {
    val p = plan("ix_hybrid")
    assert(p.contains("topk_by_score"),
      "per-retriever candidate lists must come from the bounded-heap aggregate")
    assert(!p.contains("Window"), "the oracle uses windows; the Spark side must not")
  }

  test("q27_gapfill carries the forward fill in one Window over the bounded grid") {
    val p = plan("q27_gapfill")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"one carry window over types×buckets rows, saw $windows")
  }

  test("ev_pathing computes successors in one user-keyed window pass") {
    val p = plan("ev_pathing")
    // window #1: per-user lead over events; window #2: the per-from
    // share — but that one runs on the ≤|types|² aggregated frame
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 2, s"lead window + share-over-aggregate window, saw $windows")
    assert(!p.contains("Join"), "transition counting must not self-join events")
  }

  test("cdc_apply merges via anti joins on doc_id, never a nested loop") {
    val p = plan("cdc_apply")
    assert(p.contains("LeftAnti"), "delete/update removal must be anti joins")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ann_filtered pushes the metadata predicate into the scan and heap-selects") {
    val p = plan("ann_filtered")
    assert(p.contains("LessThanOrEqual(label,4)"),
      "the pre-filter strategy's point: the predicate reaches the parquet scan")
    assert(p.contains("topk_by_score"))
    assert(!p.contains("row_number"), "no per-query window sort over the corpus")
  }

  test("dd_chunks dedups on 8-byte chunk hashes: no window, no text in keyed shuffles") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("dd_chunks")(spark, sf)
      val p = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      assert(!p.contains("Window"), "keeper selection must be a min-struct agg, not a window")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      for (e <- exchanges
           if !e.outputPartitioning.isInstanceOf[
             org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
        assert(!e.output.exists(n => n.name == "text" || n.name == "wh"),
          s"a keyed shuffle carries text or the word-hash array: ${e.output.map(_.name)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ev_attribution is a banded equi-join feeding struct argmins, no window") {
    val p = plan("ev_attribution")
    assert(p.contains("bucket"), "the lookback join must key on (user_id, bucket)")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "an unbanded lookback predicate degenerates to a nested-loop join")
    assert(!p.contains("Window"), "first/last touch must be min/max-struct aggs")
  }

  test("table stats drive the broadcast decision (CBO input), not file sizes") {
    // With Spark's own size-estimate broadcasting disabled, the ONLY
    // broadcast path is the stats-driven hint: real stats say orders
    // fits → BroadcastHashJoin; a fake stats entry claiming 100M rows
    // flips the SAME join to sort-merge. The decision demonstrably
    // comes from the stored statistics, not the parquet footprint —
    // the join-order/strategy lever AQE can only pull after a shuffle
    // has already started.
    import org.apache.spark.sql.functions.col
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val stats = operators.DataQuality.statsRowCounts(spark, sf)
      assert(stats.contains("orders") && stats("orders") > 0)
      def join(m: Map[String, Long]) = Tables.lineitem(spark, sf)
        .join(operators.DataQuality.broadcastByStats(m, "orders",
          Tables.orders(spark, sf)), col("l_orderkey") === col("o_orderkey"))
        .queryExecution.sparkPlan.toString
      val withStats = join(stats)
      assert(withStats.contains("BroadcastHashJoin"),
        "stats say orders fits: the join must broadcast despite the disabled size estimate")
      val fake = join(stats.updated("orders", 100000000L))
      assert(!fake.contains("BroadcastHashJoin") && fake.contains("SortMergeJoin"),
        "stats say orders is huge: the same join must fall back to sort-merge")
    } finally spark.conf.set(key, prev)
  }

  test("gr_assortativity is ONE broadcast join over the cached edge build") {
    // d_src rides the build's outdeg column for free; only the
    // |V|-row d_dst frame joins — broadcast under the node cap. The
    // old two-sort-merge-join form cost 19.5 s at sf10 for what a
    // linear scan of the cached edges serves.
    // collect on sparkPlan, where the memoized build is an
    // InMemoryTableScan LEAF — the string form re-prints the cached
    // plan's own joins and overcounts
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val sp = SparkEntry.queries("gr_assortativity")(spark, sf).queryExecution.sparkPlan
    assert(sp.collect { case j: SortMergeJoinExec => j; case j: ShuffledHashJoinExec => j }.isEmpty,
      "the degree frame must broadcast under the node cap, never shuffle the edges")
    assert(sp.collect { case j: BroadcastHashJoinExec => j }.size == 1,
      "exactly one join: the source degree is already on the cached edge rows")
    assert(sp.toString.contains("InMemoryTableScan"),
      "edges must serve from the memoized build")
    // the dst-grouped degree aggregate reuses the build's dst
    // partitioning: no keyed exchange anywhere (only the final
    // single-row corr aggregate exchanges, and that's SinglePartition)
    val keyed = sp.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(keyed.isEmpty,
      "the degree aggregate must reuse the cached dst hash-partitioning")
  }

  test("cdc_scd2 reuses one keyed exchange across suppression and re-versioning") {
    val p = plan("cdc_scd2")
    val keyedShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyedShuffles == 1,
      s"the filter preserves (user, type) partitioning — 1 shuffle, saw $keyedShuffles")
  }

  test("ev_windowfunnel never sorts a user's history: chained aggs, no Window") {
    val p = plan("ev_windowfunnel")
    assert(!p.contains("Window"), "funnel stages must be min-aggregates, not windows")
  }

  test("tx_bigram_ppl pre-aggregates (doc_id, pack) histograms before every LM join") {
    val p = plan("tx_bigram_ppl")
    assert(!p.contains("Window"), "per-doc surprisal must aggregate, not window")
    // same Zipf de-skew contract as tx_unigram_ppl, one level up: the
    // bigram/unigram joins must probe the (doc_id, bp) histogram, so
    // no hot bigram or word key can exceed |docs| rows in a partition
    val aggsByPackAndDoc = "HashAggregate\\(keys=\\[doc_id[^\\]]*, bp[^\\]]*\\]".r
      .findAllIn(p).size
    assert(aggsByPackAndDoc >= 2,
      "expected partial+final (doc_id, bp) histogram aggregation before the LM joins")
    // only the 1-row grand total may carry a broadcast hint — the LM
    // tables grow with the corpus and must stay AQE-decided
    val df = SparkEntry.queries("tx_bigram_ppl")(spark, sf)
    val hinted = df.queryExecution.logical.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hinted.size <= 1, "only the 1-row total may be hint-broadcast")
  }

  test("pipe_mix_apply is a map over the corpus after one broadcast weights frame") {
    val p = plan("pipe_mix_apply")
    assert(!p.contains("Window"))
    assert(!p.contains("SortMergeJoin"),
      "the |sources|-row weights frame must broadcast, never shuffle the corpus")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("tx_topterms heads the vocabulary with the bounded heap, not a sort") {
    val p = plan("tx_topterms")
    assert(p.contains("topk_by_score"), "the global top-k must ride the bounded-heap aggregate")
    assert(!p.contains("Window"), "a row_number window would sort the whole vocabulary in one task")
    assert("HashAggregate\\(keys=\\[doc_id[^\\]]*, h[^\\]]*\\]".r.findAllIn(p).size >= 2,
      "df needs the (doc_id, h) histogram — and it Zipf-proofs the vocab aggregation")
  }

  test("tx_pii is one map-only projection: no joins, no keyed shuffle") {
    val p = plan("tx_pii")
    assert(!p.contains("Join"), "the scan must be a single projection over documents")
    assert(!p.contains("Exchange hashpartitioning"),
      "only the output range sort may shuffle")
  }

  test("ix_bm25 broadcasts the 1-row stats and heap-selects top-k, no token shuffle") {
    val p = plan("ix_bm25")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the corpus-stats row must be broadcast, not shuffled")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("Explode"),
      "fixed query terms must be counted map-side, never via a token explode")
  }

  test("km_topics assigns clusters by aggregation with broadcast centroids, no window") {
    val p = plan("km_topics")
    assert(!p.contains("row_number"),
      "per-vector argmax must be the struct-max aggregation, not a window rank")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "each scoring pass must broadcast the k centroid rows")
    assert(!p.contains("CartesianProduct"),
      "a non-broadcast centroid cross join would shuffle the corpus k times")
  }

  test("q14_pivot is one pass: no distinct-discovery scan before the agg") {
    val df = SparkEntry.queries("q14_pivot")(spark, sf)
    // explicit value list → a single aggregate over one scan of orders;
    // value discovery would show up as a second scan/collect
    val scans = df.queryExecution.executedPlan.toString
      .split("\n").count(_.contains("FileScan parquet"))
    assert(scans == 1, s"pivot must scan orders exactly once, saw $scans scans")
  }

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q20_setops compiles to semi/anti joins with exchange reuse, no cross product") {
    val p = finalPlan("q20_setops")
    assert(p.contains("LeftSemi"), "INTERSECT must become a semi join")
    assert(p.contains("LeftAnti"), "EXCEPT must become an anti join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ReusedExchange"),
      "the four set ops share two distinct-cohort exchanges — reuse, not re-scan")
  }

  test("q21_histogram scans the corpus once; the share total reuses the binned exchange") {
    val p = finalPlan("q21_histogram")
    assert(p.split("\n").count(_.contains("FileScan parquet")) == 1,
      "histogram + total must share one corpus scan")
    assert(p.contains("ReusedExchange"))
    assert(!p.contains("Window"), "no window: the total is a 1-row broadcast")
  }

  test("ma_drift_psi runs on tiny aggregate frames: broadcast joins, no window, no SMJ") {
    val p = finalPlan("ma_drift_psi")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "every PSI join input is ≤ sources×10 rows — must broadcast")
    assert(!p.contains("Window"))
  }

  test("gr_triangles orients edges by (deg, id) tuples and reuses the edge exchange") {
    val p = finalPlan("gr_triangles")
    assert(!p.contains("CartesianProduct"))
    // the orientation expression lives inside materialized query
    // stages whose subtrees the AQE final-plan print elides — assert
    // it on the optimized logical plan
    val lp = SparkEntry.queries("gr_triangles")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(lp.contains("struct(du"),
      "orientation must be the cross-engine (deg, id) struct comparison")
    // five consumers of the edge list must share one materialization:
    // either reused exchanges (per-call build) or, since the edge list
    // became a memoized one-time build, the cached table itself
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage") ||
      p.contains("InMemoryTableScan"),
      "edge/degree pipelines feed five consumers — serve from the cached edge build, not recompute")
    assert(!p.contains("Window"))
  }

  test("pipe_weighted_sample heap-selects per source and broadcasts the winners back") {
    val p = finalPlan("pipe_weighted_sample")
    assert(p.contains("topk_by_score"))
    assert(!p.contains("row_number"),
      "the per-source window sort exists only in the oracle")
    // the w join-back must build on the ≤ sources·k winner side — the
    // corpus side broadcast would ship every doc at 100 TB
    assert(p.contains("BroadcastHashJoin"))
  }

  test("gr_pagerank iterations broadcast ranks and aggregate with zero exchanges") {
    // force the memoized edge build so the query plan is the serve path
    graft.operators.Graph.edgesWithDeg(spark, sf).count()
    // checkpoints truncate the composed plan, so this is ONE iteration:
    // cached-edge scan ⋈(broadcast) ranks → in-place agg → round/sort
    val p = plan("gr_pagerank")
    assert(p.contains("BroadcastHashJoin"),
      "iterations must replicate the |V|-row ranks side, not shuffle |E| contributions")
    assert(p.contains("InMemoryTableScan"))
    assert(!p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"))
    // the dst-partitioned cache already satisfies the contribution
    // aggregation; in the SERVE pipeline (everything above the cached
    // relation — the explain prints the cache's one-time BUILD subtree
    // underneath it) the only exchange is the final orderBy's range
    // partitioning — a hash exchange means the co-partitioning
    // contract broke and the |E|-row shuffle is back
    val serve = p.substring(0, p.indexOf("InMemoryRelation"))
    val hashExchanges = serve.split("\n").count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 0, s"iteration pipeline must run exchange-free, saw:\n$serve")
  }

  test("dd_embed verifies inside the bucket join: no pair distinct before the threshold") {
    val p = plan("dd_embed")
    // the threshold filter must appear BELOW the distinct — i.e. the
    // deduplicated relation is the verified survivor set, not the raw
    // candidate set (which is nine figures at sf10)
    val i = p.indexOf("HashAggregate(keys=[vec_a")
    val j = p.indexOf(">= 0.3")
    assert(i >= 0, "survivor distinct must exist")
    assert(j > i, "cosine threshold must be evaluated under the distinct, " +
      "inside the bucket join stage")
    assert(!p.contains("SortMergeJoin") || p.contains("band"),
      "the only big join is the banded bucket join")
  }

  test("pipe_pack explodes a bounded pack range and keeps integer boundary math") {
    val p = plan("pipe_pack")
    assert(p.contains("sequence(pf"), "doc→packs explode must run pf..pl, " +
      "bounded by tokens/budget by construction")
    // every Window must be a ScalePrim BUCKETED one (partitioned on
    // (source, __bkt) / the bucket rollup) — a plain per-source window
    // would single-task each source's whole doc list at 100 TB
    assert(p.split("windowspecdefinition").drop(1).forall(_.take(60).contains("__bkt")),
      "offsets come from the ScalePrim two-pass prefix sum, not a flat per-source window")
  }

  test("ix_source_overlap shuffles 32-byte hashes, never text") {
    val p = plan("ix_source_overlap")
    assert(!p.split("Exchange hashpartitioning").drop(1).exists(_.take(80).contains("text")),
      "no exchange may carry the text column")
    assert(p.contains("sha2"))
  }

  test("pipe_decon_fuzzy verifies candidates on shingle arrays with common_count") {
    val p = plan("pipe_decon_fuzzy")
    assert(p.contains("common_count"),
      "Jaccard must be the native array probe, not an exploded shingle join")
    assert(!p.contains("CartesianProduct"))
  }

  test("pipe_curriculum assigns phases map-side from broadcast thresholds, no sort") {
    val p = plan("pipe_curriculum")
    // any NTILE formulation would surface as a window — and
    // "percentile(" contains "ntile(", so test the window node itself
    assert(!p.contains("windowspecdefinition"),
      "NTILE/window would global-sort the corpus in one task")
    assert(p.contains("BroadcastExchange"), "the 1-row threshold frame must broadcast")
  }

  test("clf_score is one map-only scan: no join, no aggregate, one kernel call") {
    val p = plan("clf_score")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "model inference must not shuffle or join — the model rides into the scan")
    assert(p.contains("linear_margin"), "the margin must be the native kernel")
    // token_hashes computed once and shared by size() and the margin
    assert("token_hashes".r.findAllIn(p).size <= 2)
  }

  test("tx_bpe_encode joins aggregates to aggregates, never raw token rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val lp = SparkEntry.queries("tx_bpe_encode")(spark, sf)
      .queryExecution.optimizedPlan
    val ok = lp.collect { case j: Join =>
      j.children.forall(_.collectFirst { case a: Aggregate => a }.isDefined)
    }
    assert(ok.nonEmpty && ok.forall(identity),
      s"the vocab join must consume (doc,h) counters and the hash-keyed vocab:\n$lp")
    val p = plan("tx_bpe_encode")
    assert(!p.split("Exchange hashpartitioning").drop(1).exists(_.take(80).contains("text")),
      "no keyed exchange may carry document text")
  }


  test("q32_regression is one scan into one hash aggregate") {
    val p = plan("q32_regression")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "regression must need exactly one keyed exchange")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_returnflag:string,l_linestatus:string>")
      || p.contains("ReadSchema: struct<l_returnflag:string,l_linestatus:string,l_quantity:double,l_extendedprice:double>"),
      "scan must read only the four regression columns")
  }

  test("q33_skyline never forms the quadratic dominance join") {
    // the served query eagerly checkpoints; assert on the lazy pipeline
    val (out, perPrice) = operators.Stats.skylinePlan(spark, sf)
    val p = out.queryExecution.explainString(SimpleMode)
    try {
      assert(!p.contains("CartesianProduct"), "skyline must not cross-join part with itself")
      assert("FileScan parquet".r.findAllIn(p).size == 1,
        "only the verdict join back reads part; the price aggregate is the checkpoint")
      assert("Scan ExistingRDD".r.findAllIn(p).size >= 1,
        "both prefix maxima must read the one checkpointed price frame")
      assert("Window".r.findAllIn(p).size >= 2, "prefix maxima must come from window passes")
    } finally operators.Dedup.releaseLocalCheckpoint(perPrice)
  }

  test("ix_phrase probes the postings with a broadcast of the query terms") {
    val p = plan("ix_phrase")
    assert(p.contains("BroadcastHashJoin"), "query-term frame must broadcast")
    assert(!p.toLowerCase.contains("like"), "no substring scan over raw text")
    assert(p.contains("InMemoryTableScan"), "must serve from the stored positional index")
  }

  test("ev_active_users serves from stored sketches, never rescanning events") {
    // the explain STRING prints each InMemoryRelation's build lineage
    // (which legitimately contains the one-time FileScan), so walk the
    // optimized plan instead: live scans are LogicalRelation NODES, the
    // cached build is not a child of its InMemoryRelation
    val qe = SparkEntry.queries("ev_active_users")(spark, sf).queryExecution
    val live = qe.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(live.isEmpty, "serve path must not rescan any base table")
    val cached = qe.optimizedPlan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }
    assert(cached.size >= 3, "per-day sketches + exact pin must come from the memoized frames")
  }

  test("ev_paths_topk: one user-keyed exchange feeds both lead offsets") {
    val p = plan("ev_paths_topk")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "both lead() offsets must share one window pass")
    assert(!p.contains("Join"), "sequence mining must not self-join events")
  }


  test("ann_knn_join probes and scores map-side off the packed indexes") {
    val p = plan("ann_knn_join")
    assert(p.contains("top_cells"),
      "probe cells must come from the packed-centroid loop, not a cross-join heap")
    assert(p.contains("cell_topk"),
      "per-cell candidates must collapse in the native scorer, never as join rows")
    assert(p.contains("partial_topk_by_score"),
      "the per-vector merge must stay a map-side bounded heap")
    // the only candidate-keyed exchange is the |queries|-sized heap merge;
    // the old plan materialized id pairs and re-attached arrays by SMJ
    assert("Exchange hashpartitioning\\(va".r.findAllIn(p).size <= 1,
      "pair rows must not be exchanged more than the heap merge")
    assert(!p.contains("SortMergeJoin"),
      "nothing embedding-sized may be shuffled on the packed path")
  }

  test("ix_bm25_incremental serves O(|delta|): one delta scan, standing stats cached") {
    // warm the standing-stats memo (the nightly build, billed once)
    operators.Search.bm25StatsStanding(spark, sf).count()
    val df = SparkEntry.queries("ix_bm25_incremental")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // count scan NODES in the live tree — the plan STRING also prints
    // the InMemoryRelation's cached build plan, which never re-executes.
    // AQE wrappers and query stages are leaves to collect(), so unwrap.
    def liveScans(sp: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = sp match {
        case _: org.apache.spark.sql.execution.FileSourceScanExec => 1
        case _ => 0
      }
      val nested = sp match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          liveScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          liveScans(q.plan)
        case _ => 0
      }
      self + nested + sp.children.map(liveScans).sum
    }
    assert(liveScans(df.queryExecution.executedPlan) == 1,
      "serve path must scan ONLY the delta documents — standing text stays unread")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      "standing stats must come from the memoized build, not a recompute")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must ride the bounded heap, not a global sort")
    // pinned weights: a delta doc's score equals the standing-stats formula
    val g = operators.Search.bm25StatsStanding(spark, sf).collect()(0)
    assert(g.getAs[Long]("n") > 0)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("doc_id") % 10 >= 8),
      "only delta docs may appear in the incremental ranking")
  }

  test("mm_phash serve path reads the stored hash table, never raw documents") {
    // warm the billed one-time build (the ingest-time dHash column)
    operators.Multimodal.phashTable(spark, sf).count()
    // assert on the declarative pair plan — the registered query's
    // localCheckpoint would hide the lineage behind a LogicalRDD
    val qe = operators.Multimodal
      .phashPairsPlanOf(operators.Multimodal.phashTable(spark, sf))
      .queryExecution
    val live = qe.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(live.isEmpty, "pair serve must not rescan any base table")
    val cached = qe.optimizedPlan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }
    assert(cached.nonEmpty, "pair serve must read the memoized (doc_id, dhash) table")
    // the incremental probe's delta side is the same stored column
    val inc = operators.Multimodal.phashTable(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 >= 8)
      .queryExecution
    assert(inc.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.isEmpty, "delta hashes must come from the stored column, not a rescan")
  }
}
