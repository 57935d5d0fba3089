package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the scale properties the engine claims —
  * no cartesian products in the ANN/dedup paths, a join-free as-of plan,
  * broadcast dimension joins, bounded exchange counts — asserted against
  * the actual physical plans so a refactor that silently reintroduces a
  * scale-killer fails CI, not a 100 TB run.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  // executedPlan (not sparkPlan): exchanges are only inserted by the
  // EnsureRequirements preparation pass, and they're half of what we assert.
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("ANN / embedding-dedup plans contain no cartesian product") {
    for (q <- Seq("sim_cosine_topk", "sim_filtered_topk", "sim_ivf_probe",
                  "sim_ivf_cells", "dedup_embedding_cosine")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plan has a cartesian product:\n$p")
      // the only nested-loop join allowed is the broadcast centroid pass
      assert(!p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"), s"$q nested-loop without broadcast:\n$p")
    }
  }

  test("deliberate exact baselines keep their shipped sublinear twins") {
    // window_topk (sort-window formulation, n log n map-side sort) and
    // sim_cosine_topk (exact all-n × √n-cells ground truth, n^1.5) are
    // DELIBERATE baselines that price the exact alternative — their
    // sublinear twins (TopKPerKeyExec heap / IVF probe serving path) are
    // the scale paths. This pins the pairing in-machine so a refactor
    // can't silently promote a baseline into the serving slot:
    //  - the baseline must still carry its full-sort/exact plan marker
    //  - the twin must carry the sublinear operator and NOT the marker
    val pw = plan("window_topk")
    val ph = plan("window_topk_heap")
    assert(pw.contains("Window"), s"window_topk must stay the sort-window baseline:\n$pw")
    assert(ph.contains("TopKPerKey"), s"heap twin lost its custom exec:\n$ph")
    assert(!ph.contains("Window"), s"heap twin regressed to a window sort:\n$ph")
    val pc = plan("sim_cosine_topk")
    val pi = plan("sim_ivf_probe")
    assert(!pc.contains("CartesianProduct") && !pi.contains("CartesianProduct"))

    // timing leg: twin must BEAT the baseline where the gap is measured
    // (the 10× synthesized corpus; 4.3× for the window pair in
    // BENCH_sf1.json). Opt-in — it costs ~1 min and needs target/sf1
    // (graft.Synth output); the round protocol runs it with the scale
    // stress: SPARK_GRAFT_SCALE_SPEC=1 sbt "testOnly graft.PlanShapeSpec"
    assume(sys.env.contains("SPARK_GRAFT_SCALE_SPEC"),
      "timing leg opt-in via SPARK_GRAFT_SCALE_SPEC")
    val sf1 = "target/sf1"
    assume(new java.io.File(s"$sf1/lineitem.parquet").exists,
      "target/sf1 not built (run graft.Synth first)")
    def time(q: String): Double = {
      val fn = SparkEntry.queries(q)
      fn(spark, sf1).write.format("noop").mode("overwrite").save() // warm: memo builds + JIT
      val t0 = System.nanoTime()
      fn(spark, sf1).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val (tw, th) = (time("window_topk"), time("window_topk_heap"))
    assert(th < tw, f"heap twin must beat the sort baseline at 10x: heap=$th%.2f sort=$tw%.2f")
    val (tc, ti) = (time("sim_cosine_topk"), time("sim_ivf_probe"))
    assert(ti < tc, f"IVF probe must beat exact cosine at 10x: probe=$ti%.2f exact=$tc%.2f")
  }

  test("text-dedup plans: no cartesian, bounded exchange count") {
    for ((q, maxExchanges) <- Seq("dedup_minhash_lsh" -> 4, "dedup_ngram_jaccard" -> 4)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n <= maxExchanges,
        s"$q has $n hash exchanges (max $maxExchanges) — a shared partitioning was lost:\n$p")
    }
  }

  test("agg_approx_sketch: collect_set bottom-k, no window sorts") {
    val p = plan("agg_approx_sketch")
    assert(!p.contains("Window"),
      s"sketch reintroduced a window (two sorts + a zero-benefit rank):\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2, s"sketch has $n hash exchanges (max 2: salt stage + group stage):\n$p")
    assert(p.contains("ObjectHashAggregate"), s"collect_set agg lost its object hash agg:\n$p")
  }

  test("dedup_bucket_overflow: two hash aggs over banded rows, no bucket cap window") {
    val p = plan("dedup_bucket_overflow")
    assert(!p.contains("CartesianProduct"))
    // the shingle lead-window is the only window — the report must count
    // PRE-cap buckets, so no row_number cap window may appear
    assert(!p.contains("row_number"), s"overflow report counts capped buckets:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 3, s"overflow report has $n hash exchanges:\n$p")
  }

  test("text_contamination_bloom: corpus side never shuffles on the shingle") {
    val p = plan("text_contamination_bloom")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"bloom probe regressed into a shuffled join on the shingle:\n$p")
    // the only join is the one-row bitmap-map glue
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 1, s"expected exactly the one-row bloom-map glue join, got $bnlj:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 4, s"bloom path has $n hash exchanges (bench distinct + word agg + doc agg):\n$p")
  }

  test("sample_mixture: broadcast-only joins, stats+filter passes, no shuffle of the corpus") {
    val p = plan("sample_mixture")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"mixture rates must broadcast, never shuffle the corpus:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2, s"mixture has $n hash exchanges (lang stats + final agg):\n$p")
  }

  test("docs_shuffle: one shard exchange, one scan, no join") {
    val p = plan("docs_shuffle")
    assert(!p.contains("Join"), s"shuffle-order assignment needs no join:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"docs_shuffle has $n hash exchanges (want 1: the shard window):\n$p")
  }

  test("join_asof is the union/melt single-window plan - no join operator at all") {
    val p = plan("join_asof")
    assert(!p.contains("Join"), s"asof reintroduced a join:\n$p")
    assert(p.contains("Union") && p.contains("Window"))
  }

  test("dimension joins broadcast (q3/q5/q10/pastebin lookup)") {
    for (q <- Seq("q3_topk", "q5_join", "q10_returns", "ioc_pastebin_enrich")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast join:\n$p")
    }
    // the pastebin enrichment is one pass: one scan of the tweets, text and
    // page IOCs merged by concat, not unioned from a second scan
    val pe = plan("ioc_pastebin_enrich")
    assert("Scan parquet".r.findAllIn(pe).size == 1, s"pastebin enrichment scans twice:\n$pe")
    assert(!pe.contains("Union"), s"pastebin enrichment still unions:\n$pe")
  }

  test("PlanTool counts round-robin and range exchanges (ioc_pastebin_enrich has both)") {
    val pe = plan("ioc_pastebin_enrich")
    val (_, rr, range) = PlanTool.exchanges(pe)
    assert(rr >= 1, s"no round-robin exchange counted:\n$pe")
    assert(range >= 1, s"no range exchange counted:\n$pe")
  }

  test("new TPC-H shapes keep their intended join strategies") {
    assert(plan("q4_exists").contains("LeftSemi"), "q4 lost its semi join")
    assert(plan("q16_suppcnt").contains("LeftAnti"), "q16 lost its anti join")
    // q18: the lineitem aggregation must sit BELOW the joins (only
    // qualifying orders reach them), and customer must broadcast
    val p18 = plan("q18_bigorders")
    assert(p18.contains("BroadcastHashJoin"), "q18 lost its broadcast join")
    assert(p18.indexOf("HashAggregate") > p18.indexOf("BroadcastHashJoin"),
      "q18 agg no longer below the joins")
    // q6: all four RANGE predicates must reach the parquet scan — asserted
    // as the actual pushed-filter tokens inside the PushedFilters bracket
    // (TestSpark raises maxMetadataStringLength so the list isn't
    // truncated; a bare column-name check would match ReadSchema and pass
    // even with pushdown disabled)
    val p6 = plan("q6_forecast")
    val pushed6 = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(p6).getOrElse("")
    for (tok <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                    "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
                    "LessThan(l_quantity"))
      assert(pushed6.contains(tok), s"q6 predicate $tok not pushed to scan: $pushed6")
    // q14/q19: part is a broadcast dimension; no cartesian anywhere
    for (q <- Seq("q14_promo", "q19_disjoint", "q17_smallqty")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast dim join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
    // q17: the brand semi-prune must sit below the per-part average agg
    val p17 = plan("q17_smallqty")
    assert(p17.contains("LeftSemi"), "q17 lost its semi-prune")
    // q22: the scalar average is a one-row broadcast, not a shuffle
    val p22 = plan("q22_idle")
    assert(p22.contains("BroadcastNestedLoopJoin") && p22.contains("BroadcastExchange"),
      s"q22 scalar subquery no longer broadcasts:\n$p22")
    assert(p22.contains("LeftAnti"), "q22 lost its anti join")
  }

  test("round-3 TPC-H shapes: broadcast dims, pruned facts, no cartesian") {
    // q7/q8/q9: every dimension side broadcasts; the only shuffle join is
    // the lineitem⋈orders orderkey join
    for (q <- Seq("q7_volume", "q8_share", "q9_profit")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast dims:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n <= 3, s"$q has $n hash exchanges — a fact side stopped broadcasting:\n$p")
    }
    // q11: the global total is a one-row broadcast against the per-part agg
    val p11 = plan("q11_important")
    assert(p11.contains("BroadcastNestedLoopJoin") && p11.contains("BroadcastExchange"),
      s"q11 scalar total no longer broadcasts:\n$p11")
    // q21: ONE per-order aggregation — the EXISTS/NOT-EXISTS double
    // self-join formulation would scan lineitem three times
    val p21 = plan("q21_waiting")
    val scans = "Scan parquet".r.findAllIn(p21).size
    assert(scans <= 3, s"q21 scans $scans tables — lineitem self-join reintroduced:\n$p21")
    assert(!p21.contains("CartesianProduct"), "q21 has a cartesian product")
  }

  test("text corpus ops: bounded exchanges, no cartesian") {
    for ((q, maxEx) <- Seq("text_tfidf" -> 3, "text_vocab" -> 3)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n <= maxEx, s"$q has $n hash exchanges (max $maxEx):\n$p")
    }
    // text_quality is per-row algebra: no hash exchange at all before the sort
    val pq = plan("text_quality")
    assert(!"Exchange hashpartitioning".r.findAllIn(pq).hasNext,
      s"text_quality gained a shuffle — per-row algebra lost:\n$pq")
  }

  test("partsupp-backed and late-batch TPC-H shapes keep their strategies") {
    // q2: every dimension broadcasts; the argmin join-back is the only
    // wide join; no cartesian
    val p2 = plan("q2_mincost")
    assert(p2.contains("BroadcastHashJoin"), s"q2 lost its broadcast chain:\n$p2")
    assert(!p2.contains("CartesianProduct"), "q2 has a cartesian")
    // q20: the surviving supplier keys SEMI-join into the dimension
    val p20 = plan("q20_surplus")
    assert(p20.contains("LeftSemi"), s"q20 lost its semi join:\n$p20")
    assert(!p20.contains("CartesianProduct"), "q20 has a cartesian")
    // q12: one fact-fact join + one agg — bounded exchanges, pruned scans
    val p12 = plan("q12_late")
    assert("Exchange hashpartitioning".r.findAllIn(p12).size <= 3,
      s"q12 gained exchanges:\n$p12")
    val rs12 = "ReadSchema: [^\\n]*".r.findAllIn(p12).mkString
    assert(!rs12.contains("l_extendedprice"), s"q12 scan drags unused columns: $rs12")
    // join_full: both sides pre-aggregated BELOW the full outer join
    val pf = plan("join_full")
    assert(pf.contains("FullOuter"), s"join_full lost the full outer join:\n$pf")
    assert(pf.indexOf("HashAggregate") > pf.indexOf("FullOuter"),
      "join_full aggregates above the join — sides no longer pre-aggregated")
  }

  test("corpus-prep plans: benchmark broadcasts, packing stays per-shard") {
    // decontamination: the benchmark n-gram set broadcasts; the corpus is
    // never shuffled on the shingle (doc-keyed agg reuses the window's
    // partitioning)
    val pc = plan("text_contamination")
    assert(pc.contains("BroadcastHashJoin"), s"benchmark set no longer broadcasts:\n$pc")
    assert(!pc.contains("CartesianProduct"), "contamination has a cartesian product")
    // packing: per-shard window + one (shard, bin) agg — 2 hash exchanges
    val pp = plan("docs_pack")
    val n = "Exchange hashpartitioning".r.findAllIn(pp).size
    assert(n <= 2, s"docs_pack has $n hash exchanges (max 2):\n$pp")
    // scrubbing is per-row: no hash exchange at all
    val ps = plan("text_pii_scrub")
    assert(!"Exchange hashpartitioning".r.findAllIn(ps).hasNext,
      s"text_pii_scrub gained a shuffle:\n$ps")
  }

  test("warehouse/analytics ops: join-free merges, single-exchange windows") {
    // cdc_upsert is the melt formulation: union + one keyed window, NO join
    val pc = plan("cdc_upsert")
    assert(!pc.contains("Join"), s"cdc_upsert reintroduced a join:\n$pc")
    assert("Exchange hashpartitioning".r.findAllIn(pc).size == 1,
      s"cdc_upsert should shuffle exactly once (the key window):\n$pc")
    // events_anomaly: the three stat windows share ONE user_id exchange
    val pa = plan("events_anomaly")
    assert("Exchange hashpartitioning".r.findAllIn(pa).size == 1,
      s"anomaly windows no longer share the user exchange:\n$pa")
    // events_retention: user window + distinct-count agg, bounded exchanges
    val pr = plan("events_retention")
    assert("Exchange hashpartitioning".r.findAllIn(pr).size <= 3,
      s"retention gained exchanges:\n$pr")
    // dq_checks: one-row sides glue via broadcast, never a real cartesian
    val pd = plan("dq_checks")
    assert(!pd.contains("CartesianProduct"), s"dq_checks has a cartesian:\n$pd")
    assert(pd.contains("LeftAnti"), "dq_checks lost its orphan anti-join")
  }

  test("quantization plans: codebook broadcasts, no cartesian product") {
    for (q <- Seq("sim_pq_adc", "sim_sq_int8", "sim_recall_pqr")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(p.contains("BroadcastExchange"),
        s"$q lost its broadcast (codebook / dim-stats):\n$p")
    }
  }

  test("PQ encode stays in array land: no window sort, no n*M*K exchange") {
    // The r12 verdict's top finding: the encode used to materialize the
    // n·M·K cross-join through a row_number window (at 100× ~410M rows
    // through a sort, rebuilt per query). The shipped encode folds the
    // broadcast codebook per (vector, subspace) row — the BUILD plans
    // (pre-memo; what a refactor would regress) must contain NO Window,
    // NO Sort, and NO shuffle at all: one narrow pass over the
    // embeddings scan with the codebook arriving by broadcast.
    for ((name, df) <- Seq(
      "pq_codes" -> graft.operators.Similarity.computePqCodes(spark, d),
      "pqr_codes" -> graft.operators.Similarity.computePqrCodes(spark, d))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"$name regressed to a window argmin:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
      assert(p.contains("BroadcastExchange"),
        s"$name lost the codebook broadcast:\n$p")
      // the single-row codebook agg is the plan's only legitimate shuffle;
      // anything keyed on (vec_id, m) means the n·M·K shape is back
      val bigSort = "Sort ["
      assert(!p.contains(bigSort), s"$name grew a sort:\n$p")
    }
  }

  test("events_funnel: one user-keyed fold, no cartesian") {
    // the per-user ordered-fold automaton: ONE hash exchange (the
    // user_id collect) + the final range sort — the old 3-agg/2-join
    // shape (5 exchanges, 3 scans) must not come back
    val p = plan("events_funnel")
    assert(!p.contains("CartesianProduct"), s"funnel has a cartesian product:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 1, s"funnel has $n hash exchanges (max 1) — the multi-agg/join shape is back:\n$p")
    val nw = "Exchange hashpartitioning".r.findAllIn(plan("events_funnel_windowed")).size
    assert(nw <= 1, s"windowed funnel has $nw hash exchanges (max 1):\n$p")
  }

  test("binary_phash reads the checkpointed pair memo: no scan, no hash exchange") {
    // the phash pair graph is memoized for binary_phash, the label build
    // and the warm ledger; without its localCheckpoint every reader
    // re-ran the band window and the bucket aggregation from the scan
    val p = plan("binary_phash")
    assert(!p.contains("Scan parquet"), s"binary_phash re-scans documents:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 0, s"binary_phash has $n hash exchanges (the pair build re-runs):\n$p")
  }

  test("simhash dedup: no cartesian, bounded exchanges, integer banding") {
    val p = plan("dedup_simhash")
    assert(!p.contains("CartesianProduct"), s"dedup_simhash has a cartesian product")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 3, s"dedup_simhash has $n hash exchanges (max 3):\n$p")
  }

  test("recall gates: ground truth broadcasts the query sample, no cartesian") {
    for (q <- Seq("sim_recall", "sim_recall_pq")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
    // the exact ground truth is a memoized artifact since r15, so the
    // gauge plans only see its checkpoint scan — the shape invariant
    // (corpus-scan × BROADCAST sample; a shuffled nested-loop here is the
    // n² formulation coming back) is pinned on the GT BUILD plans instead
    for ((tag, df) <- Seq(
        "recall_gt" -> operators.Similarity.computeRecallGt(spark, d),
        "recall_gt_cos" -> operators.Similarity.computeRecallGtCos(spark, d))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$tag build has a cartesian:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BroadcastExchange"),
        s"$tag build no longer broadcasts the query sample:\n$p")
    }
  }

  test("ioc_first_seen: set-size distinct fold, no Expand duplication") {
    // countDistinct over the already-distinct sighting rollup would plan
    // an Expand tripling the input; the collect_set fold must keep the
    // plan at one agg exchange with no Expand node
    val p = plan("ioc_first_seen")
    assert(!p.contains("Expand"), s"ioc_first_seen re-grew a distinct Expand:\n$p")
  }

  test("IOC store consumers take their (type, ioc) clustering from the store") {
    // unifiedFeed and iocSightings are stored hash-clustered on (type, ioc)
    // and declare it, so no consumer keyed on (type, ioc) — or a superset
    // — may plan its own exchange on that key. What is left is each
    // query's final roll-up on a coarser key.
    val keyedOnStoreKey = """Exchange hashpartitioning\((type|ioc)#\d+, (type|ioc)#\d+, \d+\)""".r
    val want = Seq("ioc_first_seen" -> 0, "ioc_feed_overlap" -> 1, "ioc_confirmation_lag" -> 1,
      "ioc_source_reliability" -> 1, "ioc_ttl_status" -> 1, "ioc_daily_new" -> 1)
    for ((q, max) <- want) {
      val p = plan(q)
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n <= max, s"$q has $n hash exchanges (max $max):\n$p")
      assert(keyedOnStoreKey.findFirstIn(p).isEmpty,
        s"$q re-shuffles the store on (type, ioc):\n$p")
    }
  }

  test("lsh search path: bucket join only, skew filter broadcasts, no cartesian") {
    val topk = plan("sim_lsh_topk")
    assert(!topk.contains("CartesianProduct"), s"sim_lsh_topk has a cartesian:\n$topk")
    // the LshMaxBucket skew filter is a ≤2^H-row bucket list — it must
    // reach the assignment scan as a broadcast semi join, never a shuffle
    assert(topk.contains("BroadcastExchange"),
      s"sim_lsh_topk: bucket skew filter no longer broadcasts:\n$topk")
    val recall = plan("sim_lsh_recall")
    assert(!recall.contains("CartesianProduct"), s"sim_lsh_recall cartesian:\n$recall")
    // the exact ground truth it scores against is the memoized recall_gt_cos
    // artifact since r15 — its broadcast shape is pinned in the
    // "recall gates" test on the BUILD plan
  }

  test("text_surprisal: frequency as window, no vocab join, two real exchanges") {
    val p = plan("text_surprisal")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"surprisal regressed into a vocab join (double-evaluates the explode):\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2, s"text_surprisal has $n hash exchanges (token window + doc agg):\n$p")
  }

  test("sample_quality: per-row rejection sampling - no shuffle at all") {
    val p = plan("sample_quality")
    assert(!p.contains("Join"), s"sample_quality needs no join:\n$p")
    assert(!"Exchange hashpartitioning".r.findAllIn(p).hasNext,
      s"sample_quality gained a shuffle — per-row algebra lost:\n$p")
  }

  test("sample_temperature: stats broadcast back, corpus never shuffled") {
    val p = plan("sample_temperature")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"temperature rates must broadcast, never shuffle the corpus:\n$p")
    // 3 = lang stats for rates + lang stats re-evaluated under the scalar
    // (s_sum, budget) glue + final agg — the re-evaluated side is a
    // |langs|-row relation off a pruned scan (the sample_mixture trade,
    // documented there); anything beyond means the corpus itself shuffled
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 3, s"sample_temperature has $n hash exchanges:\n$p")
  }

  test("text_rake: one doc_id exchange serves islands, word windows, aggs and rank") {
    val p = plan("text_rake")
    assert(!p.contains("Join"),
      s"text_rake re-grew the word-stats join-back (duplicates the corpus subtree):\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"text_rake has $n hash exchanges (want 1 — every window and " +
      s"agg key extends doc_id):\n$p")
  }

  test("text_repetition: sort-free array-land bigrams, no window, no join") {
    val p = plan("text_repetition")
    assert(!p.contains("Join"), s"text_repetition needs no join:\n$p")
    // grams come from zip_with over the token array — a posexplode +
    // lead() window would re-introduce a full exchange-and-sort of every
    // token row before any combining happens
    assert(!p.contains("Window"), s"text_repetition re-grew a token window:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2,
      s"text_repetition has $n hash exchanges (max 2: combined gram " +
        s"partials, then one-row-per-doc partials):\n$p")
  }

  test("dedup_substring: linear hash-agg chain - no join, no gram-keyed sort") {
    val p = plan("dedup_substring")
    assert(!p.contains("Join"), s"dedup_substring reintroduced a join-back " +
      s"(evaluates the gram subtree twice):\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 3, s"dedup_substring has $n hash exchanges (max 3):\n$p")
    // exactly one sort: the gram-assembly window. A second sort means the
    // docfreq pass regressed from hash agg to a window/SMJ formulation.
    val sorts = "\\bSort \\[".r.findAllIn(p).size
    assert(sorts <= 2, s"dedup_substring has $sorts sorts (gram window + output order):\n$p")
  }

  test("S2 incremental watermark predicate pushes down to the parquet scan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("emails_pq").toString
    spark.range(100).select(
      concat(lit("conv-"), col("id")).as("conversation_id"),
      lit("s").as("sender"),
      lit("Indicator update").as("subject"),
      lit("ip: 10[.]0[.]0[.]1\n").as("body"),
      to_timestamp(lit("2024-01-05 12:00:00")).as("received_time"))
      .write.mode("overwrite").parquet(dir)
    val q = pipeline.EmailPipeline(spark.read.parquet(dir), "2026-08-12",
      sinceWatermark = Some("2024-01-01 00:00:00"))
    val p = q.queryExecution.executedPlan.toString
    // the reference's Items.Restrict (h-isac.py:152-153) must become a
    // parquet-level pushed filter, not a post-scan one
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(received_time".r
      .findFirstIn(p).isDefined, s"watermark not pushed to scan:\n$p")
  }

  test("ETL scans prune columns: email pipeline reads only the used fields") {
    val p = plan("ioc_email_etl")
    // the documents scan feeding the synthesized email table must not drag
    // unused columns (lang, embedding seed columns etc.) through the regex
    // pipeline
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!readSchema.contains("lang"), s"unpruned scan: $readSchema")
  }

  test("single-exchange window ops: scd2/source_cap ride ONE key shuffle, no join") {
    for (q <- Seq("events_scd2", "docs_source_cap")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n <= 1, s"$q has $n hash exchanges (the segment/rank chain " +
        s"must reuse one key shuffle):\n$p")
    }
  }

  test("text_bigram_lm: both count windows share the w1 exchange, no vocab join") {
    val p = plan("text_bigram_lm")
    assert(!p.contains("Join"), s"bigram LM regressed to a vocab join-back:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    // doc window + w1 window (shared by the (w1,w2) count) + doc roll-up
    assert(n <= 3, s"text_bigram_lm has $n hash exchanges (max 3) — the " +
      s"(w1, w2) window stopped reusing the w1 partitioning:\n$p")
  }

  test("agg_histogram: one-row bounds glue join, two real exchanges") {
    val p = plan("agg_histogram")
    assert(!p.contains("CartesianProduct"), s"histogram has a cartesian:\n$p")
    assert(p.contains("BroadcastExchange"), s"bounds row not broadcast:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2, s"agg_histogram has $n hash exchanges (max 2):\n$p")
  }

  test("dedup_minhash_est: candidate-restricted joins only, no cartesian") {
    val p = plan("dedup_minhash_est")
    assert(!p.contains("CartesianProduct"), s"estimator gate went quadratic:\n$p")
  }

  test("events_wau: ONE corpus scan, no join — dau rides the exploded relation") {
    val p = plan("events_wau")
    assert(!p.contains("Join"), s"wau regressed to a dau join-back (re-scans the corpus):\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"events_wau reads the events table $scans times:\n$p")
  }

  test("sample_topk_quality: both lang windows share one exchange, no join") {
    val p = plan("sample_topk_quality")
    assert(!p.contains("Join"), s"quality quota grew a join:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 1, s"sample_topk_quality has $n hash exchanges (rank and " +
      s"count windows must share the lang shuffle):\n$p")
  }

  test("embed_norm_stats: one aggregation, no join, no window") {
    val p = plan("embed_norm_stats")
    assert(!p.contains("Join") && !p.contains("Window"), s"norm stats " +
      s"regressed from a plain agg:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 1, s"embed_norm_stats has $n hash exchanges (max 1):\n$p")
  }

  test("late round-5 ops: single-pass profiles and single-exchange roll-ups") {
    // dq_profile: ONE wide aggregation (the Expand absorbs the five
    // column-distincts) — a per-column loop of scans would read orders 5×
    val prof = plan("dq_profile")
    assert("Scan parquet".r.findAllIn(prof).size == 1,
      s"dq_profile must profile every column in one pass:\n$prof")
    assert(!prof.contains("Join"), s"dq_profile grew a join:\n$prof")
    // events_rfm: distributed bucket-cumulative quintiles off the
    // checkpointed per-user profile — zero parquet re-scans (all branches
    // read the materialized RDD), broadcast-only glue joins, and every
    // window partitioned (the whole-inventory sweep pins that globally)
    val rfm = plan("events_rfm")
    assert("Scan parquet".r.findAllIn(rfm).isEmpty,
      s"events_rfm re-scans parquet instead of the checkpointed profile:\n$rfm")
    assert(!rfm.contains("SortMergeJoin"),
      s"events_rfm shuffles a broadcast-sized side:\n$rfm")
    assert("Exchange hashpartitioning".r.findAllIn(rfm).size <= 6,
      s"events_rfm exchange pile-up:\n$rfm")
    // events_paths: lag window + (from,to) agg + from-keyed ratio window,
    // no join-back for the denominator
    val paths = plan("events_paths")
    assert(!paths.contains("Join"),
      s"events_paths denominator regressed to a join-back:\n$paths")
  }

  test("lifecycle trio: one user-keyed exchange serves the whole chain, no joins") {
    // events_streaks: distinct + rn window + island agg + best-rank window
    // all cluster on user_id — two hash exchanges max ((user,day) distinct
    // + user), and never a join
    val st = plan("events_streaks")
    assert(!st.contains("Join"), s"events_streaks grew a join:\n$st")
    assert("Exchange hashpartitioning".r.findAllIn(st).size <= 2,
      s"events_streaks lost the shared user partitioning:\n$st")
    // events_attribution: the carrying window IS the attribution — no
    // purchase×touch self-join
    val at = plan("events_attribution")
    assert(!at.contains("Join"), s"events_attribution regressed to a self-join:\n$at")
    assert("Scan parquet".r.findAllIn(at).size == 1, s"events_attribution re-scans:\n$at")
    // events_decay: anchor window + final agg share the user exchange
    val de = plan("events_decay")
    assert(!de.contains("Join"), s"events_decay grew a join:\n$de")
    assert("Exchange hashpartitioning".r.findAllIn(de).size <= 1,
      s"events_decay lost the shared user partitioning:\n$de")
  }

  test("basket_pairs: array-algebra pair explode, never a fact self-join") {
    val p = plan("basket_pairs")
    assert(!p.contains("Join"), s"basket_pairs regressed to a self-join:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"basket_pairs scans the fact table more than once:\n$p")
  }

  test("docs_interleave / dq_drift: small sides broadcast, bounded corpus scans") {
    // interleave: the lang index is a broadcast; corpus-sized work is one
    // lang window — and the corpus is read at most twice (docs + lang pass)
    val il = plan("docs_interleave")
    assert(il.contains("BroadcastExchange"), s"lang index not broadcast:\n$il")
    assert("Scan parquet".r.findAllIn(il).size <= 2,
      s"docs_interleave re-scans the corpus:\n$il")
    assert(!il.contains("CartesianProduct"))
    // drift: two corpus passes (min/max + counts) are the floor; the totals
    // fold must NOT re-run the counting subtree
    val dr = plan("dq_drift")
    assert("Scan parquet".r.findAllIn(dr).size <= 2,
      s"dq_drift totals re-run the counting pass:\n$dr")
    // docs_chunk is scan-fused: no shuffle before the output sort
    val ch = plan("docs_chunk")
    assert(!"Exchange hashpartitioning".r.findAllIn(ch).hasNext,
      s"docs_chunk grew a shuffle:\n$ch")
  }

  test("events_ab_test / events_trend: agg chains, no window, no join") {
    for (q <- Seq("events_ab_test", "events_trend")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert(!p.contains("Window"), s"$q grew a window:\n$p")
    }
  }

  test("window_topk_heap: custom exec plans sort-free below the heap, one exchange") {
    // string-position assertions: AQE's AdaptiveSparkPlanExec hides the
    // inner plan from collect(), but children always PRINT below their
    // parent — so "no sort below the heap" = no Sort after the node's
    // line in the plan string
    val s = SparkEntry.queries("window_topk_heap")(spark, d)
      .queryExecution.executedPlan.toString
    val i = s.indexOf("TopKPerKey")
    assert(i >= 0, s"TopKPerKeyExec not planned:\n$s")
    // the whole point: NO sort anywhere under the heap operator (the
    // window formulation sorts every partition)
    assert(!s.substring(i).contains("Sort "), s"sort below TopKPerKeyExec:\n$s")
    assert(!s.contains("WindowGroupLimit") && !s.contains("Window "),
      s"window crept back in:\n$s")
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"top-k heap needs exactly one hash exchange:\n$s")
  }

  test("late additions: broadcast-glued plans, no sort-merge joins, bounded scans") {
    // cdc_tombstone: same one-window merge as cdc_upsert — never a join
    val tb = plan("cdc_tombstone")
    assert(!tb.contains("SortMergeJoin") && !tb.contains("BroadcastHashJoin"),
      s"cdc_tombstone deletes regressed to a join pass:\n$tb")
    // events_ltv: single scan, cohort rides the window — no join-back
    val ltv = plan("events_ltv")
    assert(!ltv.contains("Join"), s"events_ltv grew a join:\n$ltv")
    assert("Scan parquet".r.findAllIn(ltv).size == 1, s"events_ltv re-scans:\n$ltv")
    // agg_exact_quantile: pass-B restriction must be a BROADCAST hash join
    // (the target table is ~9 rows); a sort-merge join would shuffle the
    // corpus on (flag, bucket) for nothing
    val q = plan("agg_exact_quantile")
    assert(q.contains("BroadcastHashJoin") && !q.contains("SortMergeJoin"),
      s"quantile targets not broadcast:\n$q")
    assert("Scan parquet".r.findAllIn(q).size <= 2, s"quantile re-scans:\n$q")
    // text_boilerplate: the boilerplate set broadcasts; the corpus side
    // must never shuffle on the shingle for the probe
    val bp = plan("text_boilerplate")
    assert(bp.contains("BroadcastHashJoin") && !bp.contains("SortMergeJoin"),
      s"boilerplate set not broadcast:\n$bp")
    // embed_kmeans / ioc_etl_audit: broadcast glue only, no cartesian
    for (qn <- Seq("embed_kmeans", "ioc_etl_audit")) {
      val p = plan(qn)
      assert(!p.contains("CartesianProduct"), s"$qn has a cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$qn shuffles a broadcast-sized side:\n$p")
    }
  }

  test("runtime bloom filter prunes the shuffled fact side of a selective join") {
    // Spark's InjectRuntimeFilter is the 100 TB fact⋈selective-dim story
    // when the dim does NOT broadcast: the dim's join keys compress to a
    // bloom filter evaluated inside the fact scan, cutting the shuffled
    // volume to ~the matching rows. Thresholds are sized for real tables,
    // so force-enable them at test scale to pin the capability down.
    val conf = spark.conf
    val overrides = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = overrides.map { case (k, _) => k -> conf.getOption(k) }
    overrides.foreach { case (k, v) => conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val l = graft.sources.Tables.lineitem(spark, d)
      val o = graft.sources.Tables.orders(spark, d)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter") ||
        p.contains("might_contain"),
        s"no runtime bloom filter injected on the fact side:\n$p")
      assert(j.collect().map(_.getLong(1)).sum > 0)
    } finally saved.foreach { case (k, ov) =>
      ov.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("round-7 additions hold their audited shapes") {
    // Pin the plan properties the round's new queries were DESIGNED
    // around, so a refactor can't silently regress them into the shapes
    // they exist to avoid.
    // dedup_soft_weights: labels+sizes BROADCAST onto one corpus scan —
    // a sort-merge join here means the broadcast assumption broke.
    val sw = plan("dedup_soft_weights")
    assert(!sw.contains("SortMergeJoin") &&
      "Exchange hashpartitioning".r.findAllIn(sw).size <= 1,
      s"dedup_soft_weights lost its broadcast-only single-exchange shape:\n$sw")
    // docs_token_budget: ONE bucket-agg exchange; the cumulative is an
    // array fold, never a corpus-wide sorted prefix.
    val tb = plan("docs_token_budget")
    assert("Exchange hashpartitioning".r.findAllIn(tb).size <= 1,
      s"docs_token_budget grew beyond its single bucket-agg exchange:\n$tb")
    // events_session_window: the native operator rides ONE user-key
    // exchange with no join.
    val swin = plan("events_session_window")
    assert(!swin.contains("Join") &&
      "Exchange hashpartitioning".r.findAllIn(swin).size <= 1,
      s"events_session_window lost its one-exchange join-free shape:\n$swin")
    // sim_dim_variance: one dim-keyed agg, map-side partials absorb the
    // 64x explode fan-out before the exchange.
    val dv = plan("sim_dim_variance")
    assert("Exchange hashpartitioning".r.findAllIn(dv).size <= 1,
      s"sim_dim_variance grew beyond its single dim-agg exchange:\n$dv")
  }

  test("docs_spans: n_toks is a projection, not a count window over exploded tokens") {
    // r6 shipped n_toks as count(1).over(partitionBy(doc_id)) on the
    // EXPLODED token table — a full-corpus-of-tokens shuffle to recover a
    // number the doc row already knows (17.8 s in the r6 driver bench).
    // Pin the fixed shape: exactly 2 hash exchanges (covered-position
    // distinct + islands window), and no third window beyond the two
    // island/span ones.
    val p = plan("docs_spans")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2, s"docs_spans has $n hash exchanges (want <= 2) — the n_toks count window is back:\n$p")
  }

  test("exchange budgets for the heavy tail: pinned at audited counts") {
    // The whole-inventory sweep catches cartesians and global windows but
    // not exchange pile-ups; the per-query pins above cover design shapes.
    // This pins the bench's top-cost queries at their PLANS.md-audited
    // hash-exchange counts, so a refactor that adds a shuffle to any of
    // them fails sbt test instead of only regenerating PLANS.md.
    val budgets = Seq(
      // ETL parity surface: regex pipelines are per-row + range-sort only
      "ioc_email_etl" -> 0, "ioc_tweet_etl" -> 0, "ioc_json_encode" -> 0,
      "ioc_classify" -> 0,
      // unified-feed analytics: all read the persisted (type, ioc,
      // source, platform) sighting rollup, stored clustered on (type,
      // ioc), so the only exchanges left are coarser roll-ups
      "ioc_first_seen" -> 0, "ioc_source_reliability" -> 1,
      "ioc_confirmation_lag" -> 1, "ioc_feed_overlap" -> 1,
      "ioc_ttl_status" -> 1, "ioc_sightings" -> 0,
      // memoized shingle index consumers: index scan + own aggs
      "text_trigrams" -> 2, "docs_vocab_growth" -> 2, "text_boilerplate" -> 3,
      // aggregation/sketch family
      "agg_percentiles" -> 1, "agg_percentile_hist" -> 3,
      "agg_sketch_merge" -> 2, "agg_stats" -> 2, "grouping_sets" -> 1,
      // text fingerprints
      "text_fingerprint" -> 1, "text_winnowing" -> 1,
      "text_simhash_bit_balance" -> 2,
      "graph_cc" -> 0, "text_rake" -> 1,
      "join_bloom_semi" -> 2, "graph_pagerank" -> 7,
      // every sim_* / embed_* query, pinned at the count this session
      // plans (the similarity kernels are shared, so a shuffle added to
      // one kernel shows up in every query that instantiates it)
      // IVF probe search
      "sim_cosine_topk" -> 3, "sim_filtered_topk" -> 3, "sim_range_search" -> 2,
      "sim_ivf_probe" -> 3, "sim_knn_acc" -> 4, "sim_recall" -> 6,
      "sim_probe_sweep" -> 12,
      // capped LSH search, incremental admission, IVF-vs-LSH agreement;
      // sim_lsh_recall carries the ok-bucket cap agg (round 9)
      "sim_lsh_topk" -> 5, "sim_lsh_recall" -> 4, "sim_incremental" -> 3,
      "sim_index_agreement" -> 11, "sim_lsh_buckets" -> 1,
      // ADC ranking and recall gauges
      "sim_pq_adc" -> 4, "sim_recall_pq" -> 7, "sim_recall_pq_eq" -> 7,
      "sim_recall_pqr" -> 8, "sim_recall_pqr_eq" -> 8, "sim_recall_refined" -> 7,
      // index inventories and per-dimension / per-label statistics
      "sim_ivf_cells" -> 1, "sim_ivf_balance" -> 2, "sim_sq_int8" -> 2,
      "sim_dim_variance" -> 1, "sim_centroid_shift" -> 2,
      "embed_kmeans" -> 2, "embed_label_centroids" -> 1, "embed_norm_stats" -> 1,
      // every dedup_* query, pinned the same way (the capped-bucket, bucket-
      // pair, within-cell cosine and scored-pair kernels are shared).
      // Readers of the memoized pair, score and label relations plan none
      // or only their own aggregations.
      "dedup_minhash_lsh" -> 0, "dedup_clusters" -> 0, "dedup_minhash_est" -> 0,
      "dedup_lsh_precision" -> 0, "dedup_cluster_stats" -> 2, "dedup_keep" -> 3,
      "dedup_soft_weights" -> 1, "dedup_bucket_overflow" -> 2, "dedup_incremental" -> 2,
      "dedup_simhash" -> 2, "dedup_ngram_jaccard" -> 2, "dedup_shingle_df_hist" -> 2,
      "dedup_embedding_cosine" -> 2, "dedup_semdedup" -> 4,
      "dedup_exact" -> 1, "dedup_levenshtein" -> 0, "dedup_substring" -> 2)
    val over = budgets.flatMap { case (q, max) =>
      val n = "Exchange hashpartitioning".r.findAllIn(plan(q)).size
      if (n > max) Some(s"$q: $n exchanges (budget $max)") else None
    }
    assert(over.isEmpty, s"exchange budgets exceeded:\n  ${over.mkString("\n  ")}")
    val unpinned = SparkEntry.queries.keys.toSeq.sorted
      .filter(q => Seq("sim_", "embed_", "dedup_").exists(q.startsWith) && !budgets.exists(_._1 == q))
    assert(unpinned.isEmpty, s"similarity or dedup queries without an exchange budget: $unpinned")
  }

  test("whole-inventory sweep: no cartesian, no partitionless Window in any plan") {
    // The class-of-bug guard the per-query shape pins can't give: EVERY
    // query's physical plan is traversed (tree nodes, not string match)
    // and fails on (a) a CartesianProduct anywhere, (b) a WindowExec with
    // an empty partitionSpec — Spark's "No Partition Defined for Window"
    // single-task global sort, the scale-killer events_rfm shipped with
    // in r5. A window over data this engine KNOWS is bounded must still
    // partition (by a constant bucket column if nothing else) or be
    // rewritten as an aggregation — no exemption list, by design.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      fn(spark, d).queryExecution.executedPlan.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          bad += s"$name: partitionless Window (${w.windowExpression.mkString(",").take(80)})"
        case _: CartesianProductExec => bad += s"$name: CartesianProduct"
        case _ => ()
      }
    }
    assert(bad.isEmpty,
      s"scale-killer plan shapes found:\n  ${bad.mkString("\n  ")}")
  }
}
