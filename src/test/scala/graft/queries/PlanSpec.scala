package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the plan properties the 100 TB design
  * depends on are pinned here so a regression fails a test, not a
  * benchmark. (`executedPlan` under AQE prints the initial physical
  * plan — join strategy, exchanges, scan pushdown are all visible.) */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("dimension joins are broadcast-hash, never sort-merge") {
    val p = plan(Registry.queries("j3_dim_broadcast")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("range join is a broadcast HASH join on the bucket equi-prefix") {
    // intervals bucketed by year ⇒ hash probe + residual range filter,
    // not a nested-loop over every interval
    val p = plan(Registry.queries("j9_range_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("time-range predicate and projection reach the parquet scan") {
    import spark.implicits._
    val df = graft.core.Tables.orders(spark, sf)
      .filter($"o_orderdate" >= java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
      .select($"o_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"))
    val readSchema = p.substring(p.indexOf("ReadSchema"))
    assert(readSchema.contains("o_orderkey") && !readSchema.contains("o_totalprice"))
  }

  test("trigram shingling is a single stage: no exchange, no sort") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val p = plan(Shingles.wordTrigrams(docs))
    assert(!p.contains("Exchange"))
    assert(!p.contains("Sort"))
  }

  test("similarity mining is cell-bounded: no cartesian or nested-loop join") {
    // sim_threshold_pairs / sim_knn_label route through IVF cells
    // (map-side literal-centroid assignment + equi-join on cell id);
    // an unbounded all-pairs self-join would reappear here as a
    // CartesianProduct or BroadcastNestedLoopJoin
    for (q <- Seq("sim_threshold_pairs", "sim_knn_label", "sim_ivf_topk")) {
      val p = plan(Registry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q has an unbounded join:\n$p")
    }
  }

  test("TPC-H Q5: nation/region broadcast; Q10: returnflag pushed, top-k is TakeOrdered") {
    val q5 = plan(Registry.queries("j14_tpch_q5")(spark, sf))
    assert(q5.contains("BroadcastHashJoin"), q5)
    assert(!q5.contains("CartesianProduct") && !q5.contains("BroadcastNestedLoopJoin"), q5)
    val q10 = plan(Registry.queries("j15_tpch_q10")(spark, sf))
    assert(q10.contains("TakeOrderedAndProject"), q10)
    assert(q10.contains("l_returnflag") && q10.contains("PushedFilters"), q10)
  }

  test("TPC-H Q18: one lineitem scan; orders and customer join by broadcast, never shuffle") {
    val p = plan(Registry.queries("j17_tpch_q18")(spark, sf))
    // the HAVING-filtered aggregate carries sum_qty forward — a second
    // lineitem scan would mean the canonical IN-subquery shape came back
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("TPC-H Q6: all three predicates pushed to the scan, projection pruned to 4 columns") {
    val p = plan(Registry.queries("j19_tpch_q6")(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate") &&
      p.contains("l_discount") && p.contains("l_quantity"), p)
    val readSchema = p.substring(p.indexOf("ReadSchema"))
    assert(readSchema.contains("l_extendedprice") && !readSchema.contains("l_orderkey") &&
      !readSchema.contains("l_returnflag"), p)
  }

  test("bloom-pruned join: the Bloom gate filters lineitem BELOW its exchange") {
    val p = plan(Registry.queries("j18_bloom_pruned_join")(spark, sf))
    // the probe is a pure Column predicate (shiftright over the literal
    // word array) — it must sit in lineitem's Filter before any join
    // exchange, or the pruning pays the shuffle it exists to avoid
    val filterIdx = p.indexOf("shiftright")
    assert(filterIdx >= 0, s"Bloom probe not found in plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // exactly one lineitem scan: the gate and the exact join share it
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1, p)
  }

  test("TPC-H Q13: outer-join aggregate feeds tiny second aggregate, predicate stays in join") {
    val p = plan(Registry.queries("j21_tpch_q13")(spark, sf))
    // the priority filter must prune the orders SCAN (it lives in the
    // join condition semantically, but Catalyst pushes it to the
    // outer side's scan since it references only that side)
    assert(p.contains("PushedFilters") && p.contains("o_orderpriority"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("TPC-H Q21: single lineitem scan — the double correlation folds into one aggregate") {
    val p = plan(Registry.queries("j23_tpch_q21")(spark, sf))
    // the textbook EXISTS + NOT EXISTS spelling re-scans lineitem twice;
    // the decorrelated grouped-aggregate spelling must not
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("incremental agg: min/max rescan is semi-join-pruned, merge is full-outer") {
    val p = plan(Registry.queries("o19_incremental_agg")(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("TPC-H Q8: every dimension broadcasts — the fact never shuffles for a dim") {
    val p = plan(Registry.queries("j26_tpch_q8")(spark, sf))
    // nation (×2), region, supplier, and filtered part all ride
    // BroadcastHashJoins; a SortMergeJoin against any of them means a
    // dim dragged the 100 TB side through an exchange
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("TPC-H Q19: OR-of-ANDs stays an equi-join, single lineitem scan; Q15: one scan") {
    val q19 = plan(Registry.queries("j29_tpch_q19")(spark, sf))
    assert(!q19.contains("CartesianProduct") && !q19.contains("BroadcastNestedLoopJoin"), q19)
    assert("lineitem\\.parquet".r.findAllIn(q19).length == 1, q19)
    // Q15's aggregate view feeds both the revenue rows and their max —
    // it must be materialized (InMemoryTableScan on both consumers) so
    // the fact is scanned once; two independent lineitem subtrees here
    // would mean the view lost its cache
    val q15 = plan(Registry.queries("j28_tpch_q15")(spark, sf))
    assert("InMemoryTableScan".r.findAllIn(q15).length == 2, q15)
  }

  test("TPC-H Q9: single lineitem scan, nation broadcasts, no cartesian blow-up") {
    val p = plan(Registry.queries("j34_tpch_q9")(spark, sf))
    // the 6-table profit join must read the fact exactly once; the only
    // nested-loop allowed anywhere in the partsupp family is the 1-row
    // |supplier| scalar broadcast (a bounded BNLJ, never a cartesian)
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("TPC-H Q2/Q11: the shared candidate frame is cached once, read twice") {
    // Q2's decorrelated min and Q11's global-total HAVING both re-read
    // their grouped frame; losing the persist would re-derive partsupp
    // (and at 100 TB re-scan part) for each consumer
    for (q <- Seq("j33_tpch_q2", "j35_tpch_q11")) {
      val p = plan(Registry.queries(q)(spark, sf))
      assert("InMemoryTableScan".r.findAllIn(p).length == 2, s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("TPC-H Q16/Q20: broadcast anti-join exclusion; single lineitem scan for Q20") {
    val q16 = plan(Registry.queries("j36_tpch_q16")(spark, sf))
    assert(q16.contains("LeftAnti"), q16)
    assert(!q16.contains("CartesianProduct"), q16)
    val q20 = plan(Registry.queries("j37_tpch_q20")(spark, sf))
    assert("lineitem\\.parquet".r.findAllIn(q20).length == 1, q20)
    assert(q20.contains("BroadcastHashJoin"), q20)
    assert(!q20.contains("CartesianProduct"), q20)
  }

  test("approx table census plans without Expand; the exact census expands") {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val approx = plan(graft.ops.Profile.tableProfileApprox(
      graft.core.Tables.lineitem(spark, sf), cols))
    // the HLL spelling's whole point at 100 TB: one row per scanned row
    // through the aggregate, no multi-distinct row replication
    assert(!approx.contains("Expand"), approx)
    val exact = plan(Registry.queries("o23_table_profile")(spark, sf))
    assert(exact.contains("Expand"),
      "the exact multi-distinct census stopped expanding — update the o23b rationale")
  }

  test("retention cohorts: no window operator, count-distinct keeps partial aggregation") {
    val p = plan(Registry.queries("pipe_retention_cohorts")(spark, sf))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count(distinct "), p)
  }

  test("profile drift: ONE events scan — all totals derive from the checkpointed cell sketch") {
    // slice/bin are row-local and every total is Σ over cell rows; the
    // sketch-sized cell aggregate is checkpointed (column pruning would
    // otherwise specialize each consumer's subtree and re-scan events
    // per branch), so the drift query's own plan reads NO parquet at all.
    val p = plan(Registry.queries("a19_profile_drift")(spark, sf))
    assert(!p.contains("FileScan parquet"),
      s"every branch must derive from the checkpointed cells:\n$p")
  }

  test("snapshot diff: co-partitioned full-outer join, digests computed below the exchange") {
    val p = plan(Registry.queries("o16_snapshot_diff")(spark, sf))
    assert(p.contains("FullOuter"), p)
    assert(p.contains("xxhash64"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("interval islands: both window passes share one exchange and one sort") {
    val p = plan(Registry.queries("w12_interval_islands")(spark, sf))
    // island's running sum consumes the boundary flag, so two stacked
    // Window operators are structural — but they carry the SAME
    // partition spec + order, so the plan must pay exactly one
    // user_id hash exchange and one (user_id, start_us, event_id)
    // sort; a second sort means the window specs drifted apart
    assert("Window \\[".r.findAllIn(p).size == 2, p)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert("Sort \\[user_id[^\\]]*start_us".r.findAllIn(p).size == 1, p)
  }

  test("AUC rank-sum: the cumulative comes from the bucketed prefix sum, no global window") {
    // the naive AUC spelling is row_number over the whole fact (one
    // reducer); this plan must collapse to distinct scores first and
    // take its running negative count from ops/PrefixSum — the only
    // window partitioned by (group, bucket)
    val p = plan(Registry.queries("a20_auc_ranksum")(spark, sf))
    assert(!p.contains("row_number"), p)
    assert(p.contains("ps_b"), s"cumulative must come from the bucketed prefix sum:\n$p")
  }

  test("fuzzy edit-distance join: gram equi-join candidates, never a name cross join") {
    val p = plan(Registry.queries("dedup_editdist_fuzzy")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semantic dedup pair stage is a cell equi-join: no cartesian, no nested loop") {
    val p = plan(Registry.queries("dedup_semantic")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("IVFPQ is cell-bounded with broadcast probes: no cartesian, no corpus-side nested loop") {
    val p = plan(Registry.queries("sim_ivfpq_topk")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("rolling-features pipeline shares one hash exchange across all window frames") {
    // all five rolling features use the same Window.partitionBy(user)
    // .orderBy(ts) — one Exchange hashpartitioning, one sort; a second
    // exchange means a frame drifted off the shared partitioning
    val p = plan(Registry.queries("pipe_rolling_features")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("k-means final pass is join-free: map-side assignment + one aggregate") {
    // centroids are literals in the plan; only the per-cell aggregate
    // shuffles (plus the output sort)
    val p = plan(Registry.queries("sim_kmeans_cells")(spark, sf))
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("domain mixing is one window shuffle, no global sort before ranking") {
    val p = plan(Registry.queries("text_domain_mix")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("mixing/packing windows are never partitioned by the domain column alone") {
    // one window partition per domain = one reducer per domain; the
    // samplers must sub-partition by the hash/range bucket so a single
    // giant domain ("web" at 100 TB) still parallelizes
    for (q <- Seq("text_domain_mix", "text_token_mix", "text_pack_bins")) {
      val p = plan(Registry.queries(q)(spark, sf))
      val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
      assert(specs.nonEmpty, s"$q: expected a window in\n$p")
      specs.foreach { s =>
        assert(s.contains("mix_b") || s.contains("ps_b"),
          s"$q has a window partitioned without a bucket column: $s")
      }
    }
  }

  test("decontamination never self-joins the corpus gram table") {
    val p = plan(Registry.queries("text_decontaminate")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p) // benchmark gram set broadcast
  }

  test("daily pipeline stays at two shuffles: dedup + daily aggregate") {
    // coverage_hours uses the bit_or(1 << hour) bitset, not countDistinct
    // (whose rewrite would add a third exchange for the distinct phase)
    val p = plan(Registry.queries("pipe_daily_max")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("PQ ADC top-k: partial group-limit runs map-side before the one shuffle") {
    // a per-query window over the whole corpus would be one reducer per
    // query at scale; Spark's rank-limit pushdown must split it into a
    // Partial WindowGroupLimit (each task keeps 5 rows per query) below
    // the exchange and a Final above — pin both halves
    val p = plan(Registry.queries("sim_pq_adc_topk")(spark, sf))
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
    assert(p.contains("Final"), p)
    // the Q=5 query side broadcasts; the corpus side never shuffles
    // before the group-limit exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("flagship aggregate keeps map-side partial aggregation and codegen") {
    val df = Registry.queries("q1_agg")(spark, sf)
    assert("HashAggregate".r.findAllIn(plan(df)).size >= 2) // partial + final
    // codegen is only visible in the FINAL adaptive plan, as *(n) stage
    // markers on the operators inside each whole-stage-codegen region
    df.collect()
    val fin = plan(df)
    assert(fin.contains("isFinalPlan=true"))
    assert(fin.contains("*(1) HashAggregate") || fin.contains("WholeStageCodegen"))
  }

  test("CMS heavy hitters: the sketch gate filters BELOW the gram exchange") {
    // the whole point of the sketch is that the full-width gram shuffle
    // never runs: the estimate>=T filter must sit on the scan side of
    // the aggregate exchange, so only candidate occurrences shuffle
    val p = plan(Registry.queries("text_cms_heavy_hitters")(spark, sf))
    val lines = p.linesIterator.toIndexedSeq
    val firstExchange = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val gateFilter = lines.indexWhere(l => l.contains("Filter") && l.contains("least("))
    assert(firstExchange >= 0 && gateFilter >= 0,
      s"expected both an exchange and the CMS gate filter in:\n$p")
    assert(gateFilter > firstExchange,
      "printed plans are top-down: the gate (deeper) must print AFTER " +
        s"the exchange that consumes it — gate line $gateFilter, exchange line $firstExchange:\n$p")
  }

  test("bloom decontamination: membership test is a scan-side filter, not a join") {
    val p = plan(Registry.queries("text_decontaminate_bloom")(spark, sf))
    // probing the literal word array shows up as shiftright over an
    // element_at inside a Filter — before any join consumes the grams
    assert(p.contains("shiftright"), s"bloom probe missing from plan:\n$p")
    // exactly one verification join path against the bench grams (plus
    // the left-anti-free structure: no join before the bloom filter)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("z-order key query: no window operator, bounds are plan literals") {
    val p = plan(Registry.queries("o9_zorder_key")(spark, sf))
    assert(!p.contains("Window"), s"zkey must not need a window:\n$p")
    // bounds come from a driver scalar fetch (like the sink's commit
    // metadata) and ride into the plan as literals — the key compute is
    // join-free map-side arithmetic
    assert(!p.contains("Join"), s"zkey compute must be join-free:\n$p")
  }

  test("positional split: the exact global rank is bucket-parallel, not a single-reducer window") {
    // o3_time_split keeps the reference's row-position semantics (the
    // oracle is row_number over the time-sorted frame) but the Spark
    // plan must derive the rank from the bucketed prefix sum: its only
    // window is partitioned by (group, bucket) — 64-way parallel — and
    // no global row_number/empty-partition window appears anywhere
    val p = plan(Registry.queries("o3_time_split")(spark, sf))
    assert(!p.contains("row_number"),
      s"positional split must not use a global row_number window:\n$p")
    assert(p.contains("ps_b"),
      s"the rank must come from the bucketed prefix sum:\n$p")
  }

  test("by-order split: no window at all — thresholds are literals, labeling is map-side") {
    // o3_time_split pins the reference's positional semantics through a
    // global window (parity); this is the scale spelling of the SAME
    // split, and it must carry no window operator and no global sort
    // before the 3-row output aggregate
    val p = plan(Registry.queries("o3_time_split_bytime")(spark, sf))
    assert(!p.contains("Window"), s"by-order split must not need a window:\n$p")
  }

  test("stratified sample is a pure map-side filter: zero exchanges before the sort") {
    val p = plan(Registry.queries("o8_stratified_sample")(spark, sf))
    // the only exchange allowed is the final ORDER BY rangepartitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"stratified sampling must not shuffle:\n$p")
  }

  test("quality cascade and PII redaction are map-side only: no hash exchange") {
    // row-local expression pipelines — the only exchange allowed is the
    // final ORDER BY rangepartitioning; a hash exchange here means a
    // rule accidentally grew a join or aggregate
    for (q <- Seq("text_gopher_quality", "text_pii_redact")) {
      val p = plan(Registry.queries(q)(spark, sf))
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle:\n$p")
      assert(!p.contains("Join"), s"$q must be join-free:\n$p")
    }
  }

  test("LM scoring and KL drift scan the corpus exactly once (AQE stage reuse)") {
    // every branch that re-derives counts from the token table must be a
    // byte-identical subtree (explicit not-null filters make inferred
    // join constraints match), so AQE collapses them into ReusedExchange
    // instead of re-reading the corpus once per branch — at 100 TB the
    // difference between one scan and three
    // bigram LM: 2 scans is the structural floor — the scoring pass
    // carries doc_id while the training pass prunes it, so those
    // subtrees can never unify; what MUST reuse is the bigram-count
    // exchange feeding both the prob table and the context totals
    for ((q, maxScans) <- Seq(
        "text_bigram_lm_score" -> 2, "text_kl_drift" -> 1,
        // source rides through the explode; the distinct source×gram
        // table backs the pair self-join and the per-source totals
        "text_source_overlap" -> 1)) {
      val df = Registry.queries(q)(spark, sf)
      df.collect() // finalize the adaptive plan
      val full = df.queryExecution.executedPlan.toString
      val finalPlan = full.split("== Initial Plan ==").head
      val scans = "FileScan parquet".r.findAllIn(finalPlan).size
      assert(scans <= maxScans,
        s"$q reads the corpus $scans times (max $maxScans) in the final plan:\n$finalPlan")
      assert(finalPlan.contains("ReusedExchange"),
        s"$q should reuse the token-count exchange:\n$finalPlan")
    }
  }

  test("ridge lambda sweep: ONE lineitem scan scores every lambda — moments, not re-fits") {
    val p = plan(Registry.queries("pipe_ridge_lambda_sweep")(spark, sf))
    // the naive spelling re-scans the fact 2x per lambda (fit + score);
    // the moment spelling aggregates once and every λ derives algebraically
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("interval-overlap join is a HASH join on the time bin, never a theta-join") {
    // the naive `s0 <= w1 AND w0 <= s1` spelling plans as a nested-loop
    // over |ships|×|windows|; the binned spelling must stay an equi-join
    val p = plan(Registry.queries("j30_interval_overlap")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin"), p)
  }

  test("gap-fill and rolling corr: all window passes ride the aggregates' exchanges") {
    // w14: the only hash exchanges are the two tiny daily/spine
    // aggregates — the four carry windows sort locally on the spine
    // side's existing (event_type) distribution, adding NO exchange
    val p14 = plan(Registry.queries("w14_gap_fill")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p14).length <= 2, p14)
    assert("(?m)^[^\\n]*\\bSort ".r.findAllIn(p14).length <= 2, p14)
    // w15: the row_number pass and the frame-corr pass partition on the
    // same key — one hash exchange total for the window work
    val p15 = plan(Registry.queries("w15_rolling_corr")(spark, sf))
    assert("hashpartitioning\\(event_type".r.findAllIn(p15).length <= 1, p15)
  }

  test("k-fold CV: exactly two fact scans — moments once, scoring once, never per fold") {
    val p = plan(Registry.queries("pipe_kfold_cv")(spark, sf))
    assert("lineitem\\.parquet".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("grouped regression and histogram stay hash aggregates with map-side partials") {
    val p24 = plan(Registry.queries("a24_grouped_regression")(spark, sf))
    assert(p24.contains("HashAggregate"), p24)
    assert(!p24.contains("SortAggregate"), p24)
    val p25 = plan(Registry.queries("a25_histogram")(spark, sf))
    assert(p25.contains("HashAggregate"), p25)
    // the min/max bounds join must be a broadcast of the 1-row side
    assert(p25.contains("BroadcastNestedLoopJoin") || p25.contains("BroadcastHashJoin"), p25)
    assert(!p25.contains("SortMergeJoin"), p25)
  }

  test("BM25: the query-term filter lands BELOW the tf aggregate (posting-list subset shuffles, not the corpus)") {
    val p = plan(Registry.queries("text_bm25_search")(spark, sf))
    // the isin filter must appear before (deeper than) the first
    // HashAggregate over (doc_id, w) — i.e. inside the scan-side stage
    val filterIdx = p.indexOf("w#")
    assert(p.contains("HashAggregate"), p)
    val inSetIdx = math.max(p.indexOf("IN (spark,window,dup)"), math.max(p.indexOf("w IN"), p.indexOf("INSET")))
    assert(inSetIdx >= 0, s"term filter missing from plan:\n$p")
    // no shuffle of raw exploded words without the filter: the Exchange
    // above the filter carries only filtered rows — approximate check:
    // the plan contains no SortMergeJoin and only hash aggregates
    assert(!p.contains("SortAggregate"), p)
  }

  test("market basket: frequent-item prune is a BROADCAST semi-join below the pair self-join") {
    val p = plan(Registry.queries("pipe_market_basket")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    // the only nested-loop allowed is the 1-row basket-count crossJoin
    assert(!p.contains("CartesianProduct"), p)
  }

  test("prefix-filter join: equi-join on the gram key, never a cartesian/theta candidate join") {
    val p = plan(Registry.queries("dedup_prefix_filter")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("target encoding: one fact pass per aggregate, group table broadcast back") {
    val p = plan(Registry.queries("pipe_target_encoding")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("HashAggregate") && !p.contains("SortMergeJoin"), p)
  }

  test("KS test and PSI collapse to value-grain histograms before any window/spine work") {
    val ks = plan(Registry.queries("a34_ks_test")(spark, sf))
    assert(ks.contains("HashAggregate"), ks)
    assert(!ks.contains("SortMergeJoin"), ks)
    val psi = plan(Registry.queries("a35_psi")(spark, sf))
    assert(psi.contains("HashAggregate"), psi)
    assert(!psi.contains("SortMergeJoin"), psi)
  }

  test("corr matrix: ONE lineitem scan carries all k(k+1)/2 pair sums, no Expand") {
    val p = plan(Registry.queries("a45_corr_matrix")(spark, sf))
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      s"pairwise sums must share one scan:\n$p")
    assert(!p.contains("Expand"), s"no multi-distinct Expand:\n$p")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("incremental join refresh: exactly three delta joins, the base term reads the stored snapshot") {
    val p = plan(Registry.queries("j38_incremental_join_refresh")(spark, sf))
    val joins = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(j => p.sliding(j.length).count(_ == j)).sum
    assert(joins == 3, s"expected 3 delta-term joins (base x base must NOT re-join):\n$p")
    // the snapshot term arrives as the checkpointed RDD, not a re-join
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"stored snapshot should be read, not recomputed:\n$p")
  }

  test("substring spans: gram candidates via equi-join, island windows share the doc exchange") {
    val p = plan(Registry.queries("dedup_substring_spans")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram candidate join must stay an equi-join:\n$p")
    // lag + running-sum windows both partition by doc_id: one exchange
    // feeds both (a second hashpartitioning(doc_id) would betray a
    // re-shuffle between the two window passes)
    val docExchanges = "hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(docExchanges <= 1, s"island windows should share one doc_id exchange:\n$p")
  }

  test("DSIR scoring: the 1024-row bucket model joins by broadcast hash") {
    val p = plan(Registry.queries("pipe_dsir_resample")(spark, sf))
    // the lr model table must broadcast into the per-doc bucket counts
    // (the corpus-sized side never shuffles for the model); the only
    // nested-loop allowed is the sanctioned 1-row totals scalar join
    assert(p.contains("BroadcastHashJoin"), s"bucket model must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("LSH banding eval: truth and candidate stages are equi-joins, never all-pairs") {
    val p = plan(Registry.queries("dedup_lsh_eval")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"eval must stay gram/bucket equi-joins:\n$p")
  }

  test("scaled-IVF knn/pairs: shuffled-hash candidate joins, no corpus broadcast, no rank window") {
    // the all-rows-as-queries spellings must never broadcast the
    // corpus (nothing is small), never degrade to a cartesian, and the
    // per-query top-5 must ride the BoundedTopK aggregate instead of a
    // row_number window over every candidate
    val knn = plan(Registry.queries("sim_knn_label")(spark, sf))
    assert(!knn.contains("CartesianProduct") && !knn.contains("BroadcastNestedLoopJoin"),
      s"knn candidates must stay cell equi-joins:\n$knn")
    assert(knn.contains("ShuffledHashJoin"),
      s"the cell-id candidate join must be a shuffled hash join:\n$knn")
    assert(!knn.contains("row_number"),
      s"top-5 must be the bounded aggregate, not a rank window:\n$knn")
    val pairs = plan(Registry.queries("sim_threshold_pairs")(spark, sf))
    assert(!pairs.contains("CartesianProduct") && !pairs.contains("BroadcastNestedLoopJoin"),
      s"pair mining must stay cell equi-joins:\n$pairs")
    assert(pairs.contains("ShuffledHashJoin"),
      s"the cell-id self-join must be a shuffled hash join:\n$pairs")
  }

  test("Hilbert key: one events scan, the 16-step recurrence is join-free") {
    val p = plan(Registry.queries("o27_hilbert_key")(spark, sf))
    assert(!p.contains("Join"), s"hilbert chain must not join:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected one events scan, got $scans:\n$p")
  }

  test("Kruskal–Wallis ranks ride the bucketed prefix sum, not a global value sort") {
    val p = plan(Registry.queries("a56_kruskal_wallis")(spark, sf))
    assert(p.contains("ps_b#"),
      s"expected the (group, bucket)-partitioned prefix-sum window:\n$p")
  }

  test("strided spans: anchors are computed in the scan stage — no exchange below the explode") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val docs = graft.core.Tables.documents(spark, sf)
    val p = plan(DedupQueries.stridedAnchors(docs))
    // the winnow_anchors explode must sit directly on the scan: any
    // Exchange below it means the |corpus chars| rows shuffled before
    // anchor selection — the exact cost the kernel exists to avoid
    assert(p.contains("winnow_anchors"), s"expected the native kernel:\n$p")
    assert(!p.contains("Exchange"), s"anchor selection must be shuffle-free:\n$p")
    // and the full strided query still joins nothing all-pairs
    val full = plan(Registry.queries("dedup_substring_spans_strided")(spark, sf))
    assert(!full.contains("CartesianProduct") && !full.contains("BroadcastNestedLoopJoin"))
  }

  test("sketch tables: the range query scans ONLY the stored sketch rows, never events") {
    // the whole point of o28/o29: after the sketch table is built, the
    // union query's scan set is the sketch dir — one parquet scan, no
    // events path in the plan
    for ((q, tag, union) <- Seq(
        ("o28_hll_sketch_table", "hll_sketches",
          "hll_sketch_estimate(hll_union_agg(sk, false))"),
        ("o29_kll_sketch_table", "kll_sketches",
          "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5d)"))) {
      Registry.queries(q)(spark, sf).collect() // builds + persists the sketch table
      val sk = spark.read.parquet(graft.core.Scratch.path(tag, sf))
      val p = plan(sk.agg(expr(union)))
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans == 1 && !p.contains("events"), s"$q union must scan sketches only:\n$p")
    }
  }

  test("DP release and k-anonymity audit: one fact scan, noise/flags on the group frame") {
    for (q <- Seq("a62_dp_noisy_release", "a63_k_anonymity")) {
      val p = plan(Registry.queries(q)(spark, sf))
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$q expected one customer scan, got $scans:\n$p")
      assert(!p.contains("Join"), s"$q must be join-free:\n$p")
    }
  }

  test("ECE: one orders scan; the ECE fold is a window over the 10-row bin frame") {
    val p = plan(Registry.queries("a64_ece_reliability")(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected one orders scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"ECE must be join-free:\n$p")
  }

  test("erasure cascade: child levels are semi/anti HASH joins, never a theta join over the fact") {
    val p = plan(Registry.queries("o31_erasure_cascade")(spark, sf))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"cascade must express purge/keep as semi/anti joins:\n$p")
    // the only nested-loop joins allowed are the 1-row audit-frame
    // crossJoins; the fact-side purge joins must stay hash joins
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
  }

  /** Plan text of a frame INCLUDING every cached subtree it scans —
    * persisted intermediates (a74's factorial table) hide their window
    * shape behind InMemoryTableScan in the top-level plan. */
  private def planWithCached(df: DataFrame): String = {
    val top = df.queryExecution.executedPlan
    val cached = top.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan.toString
    }
    (top.toString +: cached).mkString("\n")
  }

  test("fisher exact: the ln-factorial cumsum is bucket-parallel, never a one-reducer window") {
    // the factorial table is the one row-count-sized frame in a74; its
    // prefix sum must come from ops/PrefixSum — the only window is
    // partitioned by (group, ps_b) — and the unpartitioned
    // running-sum spelling (windowspecdefinition over a bare ORDER BY
    // i) must not appear anywhere, including inside the persisted
    // subtree
    val p = planWithCached(Registry.queries("a74_fisher_exact")(spark, sf))
    assert(p.contains("ps_b"),
      s"ln-factorials must ride the bucketed prefix sum:\n$p")
    assert(!p.contains("windowspecdefinition(i#"),
      s"no unpartitioned window over the factorial frame:\n$p")
  }

  test("Mantel-Haenszel: the customer dimension broadcasts, one orders-side scan") {
    val p = plan(Registry.queries("a80_mantel_haenszel")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"orders x customer must be a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join for the dim:\n$p")
  }

  test("SPRT: the LLR cumsum windows per segment — no empty-partition window, no join") {
    val p = plan(Registry.queries("a81_sprt")(spark, sf))
    // the only join is the 4-row summary x first-crossing merge
    assert(!p.contains("windowspecdefinition(day"),
      s"trajectory window must be partitioned by segment:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("seasonal strength: one lineitem scan family, windows partitioned by flag") {
    val p = plan(Registry.queries("w30_seasonal_strength")(spark, sf))
    assert(!p.contains("windowspecdefinition(day"),
      s"the MA-7 frame must be partitioned by flag:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("CUPED: user-grain collapse then bounded moment frames; the only cross join is 1-row") {
    val p = plan(Registry.queries("a79_cuped")(spark, sf))
    // the moment frame is ONE row; its crossJoin to the 2-row arm frame
    // must broadcast, and no row-grain shuffle join may appear
    assert(!p.contains("SortMergeJoin"), s"no shuffle join anywhere:\n$p")
  }

  test("LLR collocations: margins re-aggregate the bigram table — equi-joins, no cartesian beyond the 1-row total") {
    val p = plan(Registry.queries("text_collocations_llr")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"no cartesian (the 1-row total broadcasts):\n$p")
    assert(p.contains("TakeOrdered") || p.contains("GlobalLimit"),
      s"top-15 must be a take-ordered, not a full sort materialization:\n$p")
  }

  test("sequence packing: pack ids derive from the bucketed cumsum, no global-order window") {
    val p = plan(Registry.queries("pipe_pack_sequences")(spark, sf))
    assert(p.contains("ps_b"),
      s"the token cumsum must ride the bucketed prefix sum:\n$p")
    assert(!p.contains("windowspecdefinition(doc_id"),
      s"no unpartitioned window over the corpus:\n$p")
  }

  test("WOE deciles: exact ntile arithmetic from the bucketed rank, no global-sort window") {
    // pipe_woe_iv keeps ntile(10) SEMANTICS (the oracle's spelling)
    // but must not plan ntile over an empty partition — the decile id
    // derives from the PrefixSum global rank; the only whole-frame
    // window left is the 10-row per-bin totals pass
    val p = planWithCached(Registry.queries("pipe_woe_iv")(spark, sf))
    assert(!p.contains("ntile"), s"no ntile window in the plan:\n$p")
    assert(p.contains("ps_b"),
      s"the decile rank must come from the bucketed prefix sum:\n$p")
  }

  test("qini uplift: user deciles from the bucketed rank — no ntile over the user grain") {
    // users scale with the corpus; the decile must derive from
    // ops/PrefixSum, and the only remaining unpartitioned window is
    // the cumulative pass over the 10-row decile table
    val p = planWithCached(Registry.queries("pipe_qini_uplift")(spark, sf))
    assert(!p.contains("ntile"), s"no ntile window in the plan:\n$p")
    assert(p.contains("ps_b"),
      s"the decile rank must come from the bucketed prefix sum:\n$p")
    assert(!p.contains("windowspecdefinition(score#"),
      s"no unpartitioned window over the user-grain frame:\n$p")
  }

  test("propensity strata: quintiles from the bucketed rank — no ntile over the user grain") {
    // the in-code promise at r13 ("at cluster scale this decomposes
    // like a47's bucketed ranks") is now the implementation: the
    // quintile id derives from PrefixSum over the zero-padded
    // (pq, user_id) digit-string key, including inside persisted
    // subtrees
    val p = planWithCached(Registry.queries("pipe_propensity_strata")(spark, sf))
    assert(!p.contains("ntile"), s"no ntile window in the plan:\n$p")
    assert(p.contains("ps_b"),
      s"the quintile rank must come from the bucketed prefix sum:\n$p")
  }

  test("snapshot MoR read: delete merges are broadcast anti hash joins, never a shuffle or cartesian") {
    // the o36 read path at its final snapshot: position deletes and
    // sequence-scoped equality deletes must both enter as BROADCAST
    // anti joins (the delete side is KBs; the data side pays no
    // shuffle), and the file-sequence tag rides a broadcast map join —
    // no SortMergeJoin or CartesianProduct anywhere in the scan plan
    val p = plan(Registry.queries("o36_snapshot_mor_read")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"delete merges must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join in the MoR read:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("epoch shuffle: the position derives from the bucketed rank — no unpartitioned rank window") {
    // row_number() over the whole corpus is the oracle's SEMANTICS;
    // the plan must carry the PrefixSum bucketed rank instead, and the
    // resume slice is a filter on it
    val p = plan(Registry.queries("pipe_epoch_shuffle")(spark, sf))
    assert(p.contains("ps_b"),
      s"the epoch position must come from the bucketed prefix sum:\n$p")
    assert(!p.contains("row_number"), s"no global row_number window:\n$p")
    assert(!p.contains("windowspecdefinition(hv#"),
      s"no unpartitioned window over the hash order:\n$p")
  }

  test("changefeed: delete matching is broadcast-join only — no shuffle join, no cartesian") {
    // both sides of the feed (insert-side anti-joins, delete-side
    // semi-joins) must broadcast the KB-sized delete generations; the
    // data scans pay no join shuffle
    val p = plan(Registry.queries("o40_snapshot_changefeed")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"deletes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join in the feed:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("epoch resume: the persisted-index slice is a pruned scan — no rank re-derivation") {
    // the resume plan must be a manifest-pruned parquet scan + filter:
    // no PrefixSum machinery (ps_b), no window, no hash shuffle — the
    // only exchange is the oracle ORDER BY's range partitioning
    val p = plan(Registry.queries("pipe_epoch_resume_persisted")(spark, sf))
    assert(!p.contains("ps_b"),
      s"resume must not re-derive the PrefixSum rank:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"no window in the resume plan:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"no hash shuffle in the resume plan:\n$p")
    assert(p.contains("PushedFilters"),
      s"the slice predicate must reach the scan:\n$p")
  }

  test("the sole known-untimed bench row is sf-independent: golden replay never touches the data dir") {
    // BenchCoverageSpec's knownUntimed admits only rows whose plans
    // touch no sf-scaled table — enforced here structurally: the
    // golden replay is handed a sentinel data dir that does not exist,
    // so ANY future read of the sf tables fails this test loudly, and
    // the produced plan must not reference the sentinel either
    val df = Registry.queries("pipe_golden_replay")(
      spark, "/nonexistent-sfdir-sentinel")
    assert(!df.queryExecution.executedPlan.toString
      .contains("nonexistent-sfdir-sentinel"))
    assert(df.count() > 0)
  }

  test("WOE approx: the exact contract arm rides the bucketed rank — whole plan ntile-free") {
    val p = planWithCached(Registry.queries("pipe_woe_iv_approx")(spark, sf))
    assert(!p.contains("ntile"), s"no ntile window in the plan:\n$p")
    assert(p.contains("ps_b"),
      s"the exact-IV arm must come from the bucketed prefix sum:\n$p")
    assert(!p.contains("windowspecdefinition(o_totalprice#"),
      s"no global-order window over the orders frame:\n$p")
  }

  test("simhash near-dup plan carries NO aggregate: lowest-matching-band dedup is map-side") {
    // the multi-band collision collapse is a pure filter (emit a pair
    // only from its lowest equal byte), so the old distinct()'s
    // HashAggregate pair and its exchange must never creep back — the
    // only exchanges are the pair materialization and the final sort
    val p = plan(Registry.queries("dedup_simhash")(spark, sf))
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate") &&
      !p.contains("ObjectHashAggregate"),
      s"dedup_simhash must not re-grow an aggregate:\n$p")
  }
}
