package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan properties PLANS.md documents — the properties
  * that make these operators viable at 100 TB. A regression here (a lost
  * pushdown, a broadcast that became a shuffle, a top-k that became a
  * global sort) would pass every row-level oracle while silently
  * destroying cluster-scale behavior, so it is pinned in CI instead.
  */
class PlanEvidenceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf

  private def planString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filter_pushdown reaches the parquet scan and prunes columns") {
    val p = planString(operators.Relational.queries("filter_pushdown")(s, dir))
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("PushedFilters: []"), "predicate did not reach the scan")
    // only the 5 projected + filtered columns are decoded, not all 11
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_tax"), s"unprojected column decoded: $read")
  }

  test("graph_triangle_incremental: no cartesian product; the batch probe broadcasts") {
    val p = planString(operators.Graph.queries("graph_triangle_incremental")(s, dir))
    assert(!p.contains("CartesianProduct"),
      "the batch-edge wedge probe must be a keyed join, never a cross product")
    // the ~3% batch-edge side broadcasts into the cached adjacency probe
    // at gate scale (driver-measured fallback past the broadcast bound)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("sim_ivf_incremental probes only artifact-sized tables map-side: centroids broadcast") {
    // the probe subplan is pinned UNCACHED (the session persist would
    // hide the join strategy behind an InMemoryRelation): the √n-row
    // centroid table rides a broadcast nested-loop, never a cartesian
    val p = planString(operators.Sim.incrProbedPlan(s, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), "centroid probe lost its broadcast")
    // and the shipped query (whichever leg the planner picks) never
    // degrades to a cross product
    val q = planString(operators.Sim.queries("sim_ivf_incremental")(s, dir))
    assert(!q.contains("CartesianProduct"), q.take(2000))
  }

  test("sim_ivf_incremental: no broadcast HINT on the batch-proportional ADC LUT side") {
    // the LUT (one row per batch-rep × probed cell) grows with the
    // BATCH — a static broadcast hint on it is a driver-memory wall at
    // the 512 k-corpus scale this query models (r13 verdict, What's
    // wrong #4). The intended hints are the √n-bounded artifact tables
    // (centroids, codebook, anchors): assert every hinted subtree is
    // LUT-free, so AQE alone decides the (qrep, cell) join strategy
    // from measured size. 'pdot' is the LUT build's partial-dot column
    // — it exists in no other subtree of this plan. The ADC leg is
    // FORCED here: the stats planner picks the exact leg at gate-sf
    // candidate volumes, and this pin is about the ADC plan's shape.
    val df = operators.Sim.ivfIncrementalWith(s, dir, Some(true))
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.nonEmpty, "expected the constant-sized artifact broadcasts to survive analysis")
    val bad = hints.filter(_.child.toString.contains("pdot"))
    assert(bad.isEmpty,
      s"a broadcast hint covers the batch-proportional ADC LUT subtree:\n${bad.map(_.toString.take(500)).mkString}")
  }

  test("dedup_minhash_pairs: no broadcast HINT on the per-content size table") {
    // the size prefilter's table has one row per distinct content — it
    // grows with the corpus, so a static broadcast hint on it is a
    // single-process memory wall at 100 TB (the dedup_ngram_minhash argument):
    // AQE alone picks that join's strategy from the measured size. 'nsh'
    // is the size table's column; the build must carry it (else this pin
    // is vacuous) and no hinted subtree may contain it.
    val build = operators.Dedup.corpusCaches.toMap.apply("dedup_minhash_pairs")(s, dir)
    val plan = build.queryExecution.analyzed
    assert(plan.toString.contains("nsh"), "the size prefilter left the dedup_minhash_pairs build")
    val bad = plan.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
        if h.child.toString.contains("nsh") => h
    }
    assert(bad.isEmpty,
      s"a broadcast hint covers the per-content size table:\n${bad.map(_.toString.take(500)).mkString}")
  }

  test("graph_cc_incremental: batch fold only — no cartesian, label fetch is pruned then keyed") {
    val p = planString(operators.Graph.queries("graph_cc_incremental")(s, dir))
    assert(!p.contains("CartesianProduct"),
      "the CC fold must stay keyed joins; a cross product means the " +
        "label-level graph leaked into a node-level product")
    // the resolution map is component-bounded: at gate scale it must
    // ride broadcasts into the node-sized relabel pass
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("dedup_incremental: neither artifact-read leg degrades to a cartesian product") {
    // the prune planner (round 16) may route either way at serve time;
    // both legs must stay keyed joins — a cross product would mean the
    // band-candidate generation leaked into a content-level product
    Seq(true, false).foreach { pr =>
      val p = planString(operators.Dedup.incrementalWith(s, dir, Some(pr)))
      assert(!p.contains("CartesianProduct"),
        s"prune=$pr leg lost its keyed joins:\n${p.take(2000)}")
    }
  }

  test("dimension joins broadcast instead of shuffling the fact side") {
    val p = planString(operators.Relational.queries("join_inner_hash")(s, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("join_shuffle_hash plans ShuffledHashJoin — no sort pass on either side") {
    val p = planString(operators.Relational.queries("join_shuffle_hash")(s, dir))
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("agg_multi_distinct plans one Expand, not one scan per distinct aggregate") {
    val df = operators.Relational.queries("agg_multi_distinct")(s, dir)
    // AdaptiveSparkPlan.toString prints Final AND Initial sections; count
    // scans in the final plan only (same convention as the sessionize pin)
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("Expand"), s"multi-distinct should rewrite via Expand:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 1, s"expected a single lineitem scan, got $scans:\n$p")
  }

  test("sort_limit plans TakeOrderedAndProject, not a global sort") {
    val p = planString(operators.Relational.queries("sort_limit")(s, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("agg_hash does partial (map-side) aggregation before the exchange") {
    val df = operators.Relational.queries("agg_hash")(s, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("text_length_clip runs no window; all distributed work is one histogram agg") {
    val df = operators.Train.queries("text_length_clip")(s, dir)
    val p = planString(df)
    // the returned frame is the folded histogram — every per-row pass
    // over documents already happened in the single scan+agg job the
    // builder ran; nothing row-sized reaches a window or second scan
    assert(!p.contains("Window"), s"global window crept back into text_length_clip:\n$p")
    assert(!p.contains("FileScan"), s"corpus re-scan in the emitted plan:\n$p")
    assert(df.count() == 10)
  }

  test("sessionize_events shuffles once on user_id: both windows + the session agg share it") {
    val df = operators.Flow.queries("sessionize_events")(s, dir)
    // AdaptiveSparkPlan.toString prints BOTH "== Final Plan ==" and
    // "== Initial Plan ==" sections — count exchanges in the final one only
    val p = planString(df).split("== Initial Plan ==").head
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange (user_id reused by lag window, sum window, and agg), got $hashExchanges:\n$p")
    assert(!p.contains("No Partition Defined"), p)
  }

  test("sample_weighted plans TakeOrderedAndProject; the rank window sees only 200 rows") {
    val df = operators.Sample.queries("sample_weighted")(s, dir)
    val p = planString(df)
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of bounded heaps:\n$p")
  }

  test("sql_star_revenue broadcasts the dimension tables") {
    val df = operators.Sql.queries("sql_star_revenue")(s, dir)
    val p = planString(df)
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 3, s"expected supplier/nation/region broadcasts, got $bhj:\n$p")
  }

  test("attribution_last_touch shuffles once on user_id; the lookback state is a window, not a self-join") {
    val df = operators.Flow.queries("attribution_last_touch")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"expected one user_id exchange, got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"purchases-x-clicks self-join crept in:\n$p")
  }

  test("text_vocab_encode broadcasts the 256-row vocab to the encode join") {
    val p = planString(operators.Text.queries("text_vocab_encode")(s, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("text_vocab_encode cuts the vocab via TakeOrderedAndProject; the rank window sees 256 rows") {
    val p = planString(operators.Text.queries("text_vocab_encode")(s, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cut must be bounded per-partition heaps, not a global rank window:\n$p")
  }

  test("graph_link_predict takes its top-20 via TakeOrderedAndProject, not a global sort window") {
    val p = planString(operators.Graph.queries("graph_link_predict")(s, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate-pair top-20 must be bounded per-partition heaps:\n$p")
  }

  test("flow_rfm_segments runs no NTILE; quintiles come from distributed rank + closed form") {
    val df = operators.Flow.queries("flow_rfm_segments")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    assert(!p.contains("ntile("),
      s"global NTILE window crept back into the user-grain table:\n$p")
    // each globalRank's per-partition offsets broadcast back to the rows
    assert(p.contains("BroadcastHashJoin"),
      s"partition offsets should broadcast, not shuffle:\n$p")
  }

  test("flow_max_concurrency: running sum is per-partition windows + broadcast offsets, no global cumulative window") {
    val df = operators.Flow.queries("flow_max_concurrency")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"partition-offset table should broadcast:\n$p")
    // the only Window must be partitioned by _pid — an unpartitioned
    // cumulative window over the sweep would be the single-task sort
    // this query exists to avoid
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("ROWS") && !l.contains("_pid")),
      s"global cumulative window crept into the sweep:\n$p")
  }

  test("flow_path_topk cuts its top-10 via TakeOrderedAndProject, not a global rank window") {
    val p = planString(operators.Flow.queries("flow_path_topk")(s, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"path top-10 must be bounded per-partition heaps:\n$p")
  }

  test("dq_sequence_gaps: successor lookup is per-range windows + broadcast boundary minima, no global lead window") {
    val df = operators.Ingest.queries("dq_sequence_gaps")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"boundary-minima table should broadcast:\n$p")
    // every lead() window must be partitioned by _pid; an unpartitioned
    // window over the distinct-key table is the single-task sort this
    // rework exists to remove
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("lead(k") && !l.contains("_pid")),
      s"global lead window crept back into the key table:\n$p")
  }

  test("train_mixture_sample selects via bounded top-k heaps; no window ever sorts the doc table") {
    val df = operators.Train.queries("train_mixture_sample")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("topk_by_value"),
      s"per-source selection must be the TopKByValue heap aggregate:\n$p")
    // the only windows are the three quota windows on the source-count
    // table; none may order by the per-doc hash priority
    assert(!p.linesIterator.exists(l => l.contains("Window") && l.contains("prio")),
      s"full-corpus rank window crept back in:\n$p")
  }

  test("agg_percentile_dist: histogram selection — no full-table shuffle, no global rank window, no percentile buffer") {
    val df = operators.Relational.queries("agg_percentile_dist")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    assert(!p.contains("percentile("),
      s"unbounded sort-based percentile buffer crept in:\n$p")
    // the only permissible range exchange is the final 3-row pct sort
    assert(!p.linesIterator.exists(l =>
        l.contains("rangepartitioning") && !l.contains("pct")),
      s"full-table range exchange crept in — selection should move only aggregates:\n$p")
    // the straddle-bucket rank must be partitioned by bucket; an
    // unpartitioned rank over lineitem is the single-task sort the
    // histogram-selection shape exists to remove
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("row_number") && !l.contains("b#")),
      s"global rank window crept into the value table:\n$p")
    // straddle buckets + located specs arrive broadcast
    assert(p.contains("BroadcastHashJoin"), s"bucket filter should broadcast:\n$p")
  }

  test("graph_connected_components: the finish partial-aggregates sizes map-side, never a lbl window") {
    val df = operators.Graph.queries("graph_connected_components")(s, dir)
    val p = planString(df)
    // fixpoint loop materializes rounds via localCheckpoint: the final
    // plan is label-table-sized work. Component sizes MUST come from a
    // groupBy (map-side partial count) + join-back, NOT a
    // lbl-partitioned window: WindowExec buffers its whole partition in
    // one task, and CC's output key is maximally skewed (the giant
    // component holds most nodes on a real graph), so the r16 window
    // form was a single-task sort of ~the whole graph at scale
    // (r16 ADVICE medium; guide §2.5). The join-back strategy is left
    // to AQE (broadcast vs skew-split SMJ) — only the window is banned.
    assert(!p.linesIterator.exists(l => l.contains("Window") && l.contains("lbl")),
      s"component sizes must not route every component row through one window task:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial_count")),
      s"component sizes should partial-aggregate map-side before the lbl exchange:\n$p")
    assert(p.contains("Join"), s"the size join-back is missing from the CC finish:\n$p")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("emb_covariance: one mergeable Gramian aggregate pass — the corpus never explodes to dimension pairs") {
    val df = operators.Sim.queries("emb_covariance")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("partial_gramian_of"),
      s"Gramian must partial-aggregate map-side:\n$p")
    // the only Generates are the two bounded sequence-explodes over the
    // ONE result row; a corpus-side posexplode would be the d^2/2 blowup
    val gen = "Generate".r.findAllIn(p).size
    assert(gen <= 4, s"unexpected corpus-side explode ($gen Generate nodes):\n$p")
  }

  test("flow_attribution_linear: purchases and touches share one user_id exchange; credit windows are purchase-local") {
    val df = operators.Flow.queries("flow_attribution_linear")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    // no unpartitioned window — both split windows partition by pid
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && !l.contains("pid")),
      s"credit windows must be purchase-local:\n$p")
  }

  test("dq_profile: the multi-distinct pass stays on HashAggregate; the string fold is a 1-column side scan") {
    val df = operators.Ingest.queries("dq_profile")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    // r16: metrics split into the Expand-backed multi-distinct HASH pass
    // plus a grouping-free string min/max fold (a string agg buffer is
    // immutable — one string min/max in the main pass forced the whole
    // 6x-Expand output through SortAggregate with a full 6-key sort).
    // Two scans, but the side scan reads ONE column and the Expand path
    // must never sort-aggregate.
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"expected the metric pass + the 1-column string fold, got $scans:\n$p")
    val expandIdx = p.indexOf("Expand")
    assert(expandIdx >= 0, s"multi-distinct Expand missing:\n$p")
    // keyless SortAggregate (the string fold) is fine — it needs no
    // Sort; a KEYED one means the distinct spine fell off the hash path
    assert(!"SortAggregate\\(key=\\[[^\\]]".r.findFirstIn(p).isDefined,
      s"keyed SortAggregate crept back into the profile:\n$p")
    assert(p.contains("ReadSchema: struct<o_orderstatus:string>"),
      s"the string fold must scan only o_orderstatus:\n$p")
  }

  test("flow_markov_transitions shuffles once on user_id; the matrix agg partial-aggregates map-side") {
    val df = operators.Flow.queries("flow_markov_transitions")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    // one user_id exchange for the lag window; the pair-count agg and the
    // per-source normalizing window ride on top of tiny intermediates
    assert(p.contains("partial_count"), s"pair counts must map-side combine:\n$p")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userExchanges == 1, s"expected one user_id exchange, got $userExchanges:\n$p")
  }

  test("join_interval_overlap plans a bounded Generate + broadcast bin join, no theta") {
    val df = operators.Relational.queries("join_interval_overlap")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("Generate explode"), s"month-bin explode missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"bin join should broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop theta crept back in:\n$p")
  }

  test("join_asof_nearest shuffles once: both directional windows share the user_id exchange") {
    val df = operators.Udf.queries("join_asof_nearest")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    val hashExchanges = "Exchange hashpartitioning\\(k".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"expected one shared k exchange for both windows, got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"nearest must stay a window shape, not a join:\n$p")
  }

  test("dq_checksum is one scan with map-side-combining fingerprint partials") {
    val df = operators.Ingest.queries("dq_checksum")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"fingerprint must be a single pass, got $scans scans:\n$p")
    assert(p.contains("partial_"), s"combiners must partial-aggregate:\n$p")
  }

  test("emb_pq_encode broadcasts the codebook; no corpus shuffle before the snap") {
    val df = operators.Sim.queries("emb_pq_encode")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), s"codebook should broadcast:\n$p")
  }

  test("sql_q18_big_orders plans the IN-subquery as a semi-join, never a fact-fact join") {
    val p = planString(operators.Sql.queries("sql_q18_big_orders")(s, dir))
      .split("== Initial Plan ==").head
    assert(p.contains("LeftSemi") || p.contains("ExistenceJoin"),
      s"HAVING-gated IN should plan as a semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
  }

  test("sim_cosine_topk_ivfpq: LUT and codebook broadcast; no cartesian on the corpus") {
    val df = operators.Sim.queries("sim_cosine_topk_ivfpq")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), s"LUT/probe joins should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus side must never cross-join:\n$p")
  }

  test("flow_path_topk collapses to one row per user before the path count") {
    val df = operators.Flow.queries("flow_path_topk")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    // events shuffle once on user_id (window + collapse share it); the
    // path count then aggregates user-grain rows
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected user_id + path (+final rank) exchanges only, got $exchanges:\n$p")
  }

  test("percentile family: NO row-ranking window survives — selection runs on collapsed distinct values") {
    // the round-9 degenerate-skew fix: straddle rows collapse to
    // (value, multiplicity) map-side, so the plan must contain no
    // row_number over data rows in any variant on the kernel (the old
    // formulation's per-bucket row_number is exactly what funneled ~n
    // rows into one task under a dominant value)
    Seq("agg_percentile_dist", "agg_percentile_grouped", "agg_percentile_weighted",
      "dq_outlier_iqr")
      .foreach { q =>
        val p = planString(SparkEntry.queries(q)(s, dir))
        assert(!p.contains("row_number"),
          s"$q: a row-ranking window reappeared in the physical plan:\n$p")
      }
  }

  test("emb_centroid_drift aggregates map-side before its exchanges") {
    // the drift gate's 100 TB claim is ONE map-side-combining scan: the
    // per-(label, period, dim) integer sums must show partial aggregation
    val p = planString(operators.Sim.queries("emb_centroid_drift")(s, dir))
    assert(p.contains("partial_sum"), s"per-dim sums lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_truss_support explodes triangles but never goes quadratic") {
    // support comes from a Generate (the intersection explode, 3 rows per
    // triangle) into a partially-aggregated count — no cartesian pair join
    val p = planString(operators.Graph.queries("graph_truss_support")(s, dir))
    assert(p.contains("Generate"), s"triangle explode missing:\n$p")
    assert(p.contains("partial_count"), s"support agg lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_incremental joins band keys — no cartesian pair generation") {
    val p = planString(operators.Dedup.queries("dedup_incremental")(s, dir))
    assert(!p.contains("CartesianProduct"),
      s"incremental dedup must stay candidate-bound:\n$p")
  }

  test("sim_ivf_incremental: no cartesian pair generation; candidates come from the cell equi-join") {
    val p = planString(operators.Sim.queries("sim_ivf_incremental")(s, dir))
    assert(!p.contains("CartesianProduct"),
      s"batch-vs-history scoring must stay cell-bound:\n$p")
  }

  test("sim_ivf_scaled: scoring is a cell equi-join — no cartesian beyond the bounded centroid broadcast") {
    // the ONLY nested-loop allowed is the ⌊√n⌋-row centroid broadcast
    // into the probe; candidate scoring must join on the assigned cell
    val p = planString(operators.Sim.queries("sim_ivf_scaled")(s, dir))
    assert(!p.contains("CartesianProduct"),
      s"scaled-IVF scoring must stay cell-bound:\n$p")
  }

  test("graph_ktruss: the final output join is windows- and cartesian-free") {
    val p = planString(operators.Graph.queries("graph_ktruss")(s, dir))
    assert(!p.contains("Window"), s"the peel output must stay window-free:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_semantic: within-cell pairing is an equi-join on the cell — no cartesian") {
    val p = planString(operators.Dedup.queries("dedup_semantic")(s, dir))
    assert(!p.contains("CartesianProduct"),
      s"SemDeDup pairing must stay cluster-blocked:\n$p")
  }

  test("graph_local_clustering: window-free, no cartesian — explode + hash-agg + one left join") {
    val p = planString(operators.Graph.queries("graph_local_clustering")(s, dir))
    assert(!p.contains("Window"), s"per-node triangle counting must stay window-free:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_betweenness_sample: no windows at all — both passes are joins + hash aggs") {
    val p = planString(operators.Graph.queries("graph_betweenness_sample")(s, dir))
    assert(!p.contains("Window"), s"Brandes passes must stay window-free:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_lm_ppl_filter: bucket edges via per-partition ranks + broadcast offsets, no global window") {
    val df = operators.Train.queries("text_lm_ppl_filter")(s, dir)
    val p = planString(df).split("== Initial Plan ==").head
    // the only row_number window must be partitioned by _pid (the
    // globalRank discipline); an unpartitioned rank over the scored
    // batch would be the single-task sort CCNet bucketing must avoid
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("row_number") && !l.contains("_pid")),
      s"global rank window crept into the scored batch:\n$p")
  }

  test("sim_ivfpq_residual_recall broadcasts the ADC lookup tables") {
    // the 100 TB economics: codebook/LUT broadcast, the corpus side
    // streams — a shuffled LUT join would move the corpus codes instead
    val p = planString(operators.Sim.queries("sim_ivfpq_residual_recall")(s, dir))
    assert(p.contains("BroadcastHashJoin"), s"LUT join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("AQE re-plans a small sort-merge join into a broadcast join") {
    import org.apache.spark.sql.functions._
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      // force the static planner to pick SMJ, then let AQE see the real
      // (tiny) stage size and flip it to broadcast at runtime
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
      val n = Tables(s, dir, "nation")
      val c = Tables(s, dir, "customer")
      val df = c.join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name").count()
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"AQE should have converted SMJ to broadcast:\n$p")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      s.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }
}
