package graft.operators

import graft.IndexStore.{artifact, corpusCached}
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over relational data: triangle counting on the
  * co-purchase graph (parts that appear in the same order share an edge).
  *
  * Triangle counting is THE canonical "naive SQL dies at scale" operator:
  * the textbook 3-way self-join enumerates every wedge (two-edge path),
  * and wedge count grows with the SQUARE of hot-node degree — a power-law
  * crawl graph has celebrity nodes with 10^6 neighbors, i.e. 10^12 wedges
  * from one node. The fix (Cohen's MapReduce algorithm / GraphX's
  * approach) is degree orientation: orient every undirected edge from the
  * lower-(degree, id) endpoint to the higher one. Every triangle then has
  * exactly ONE source vertex with two out-edges, and out-degree is bounded
  * by O(sqrt(m)) regardless of skew, so the wedge join is near-linear in
  * m. The oracle runs the naive 3-way join (fine at sf0.01); the Spark
  * side runs the oriented algorithm — same count, scale-safe plan.
  *
  * All outputs are integers except the clustering coefficient, a single
  * int/int -> double division (bit-identical across engines).
  */
object Graph {

  type Q = (SparkSession, String) => DataFrame

  /** The nightly batch slice of the co-purchase edge set — md5 parity
    * over the edge key at a fixed ~3% share (the PRODUCTION nightly
    * cadence, vs the doc/vector families' 25% gate share). Owned by
    * [[triangleIncremental]] and by the substrate artifacts' index
    * lifecycle (history = the other 97%).
    */
  private[graft] def isBatchEdge(a: Column, b: Column): Column =
    substring(md5(concat(lit("incrg|"), a.cast("string"), lit("|"),
      b.cast("string"))), 1, 2) < "08"

  /** Raw (u < v) co-order part pairs BEFORE the distinct collapse —
    * shared by the full edge build and the batch slice (where filtering
    * ahead of the distinct keeps that exchange batch-sized).
    */
  private def rawPairs(s: SparkSession, dir: String): DataFrame = {
    val pl = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    pl.as("a").join(pl.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
  }

  /** Frozen-index artifact builder: the HISTORY (non-batch) co-purchase
    * edge set — what [[graft.IndexBuild]] persists so a nightly session
    * composes the full graph as artifact ∪ batch slice instead of
    * re-collapsing the whole pair stream (the r12 verdict's
    * persist-the-graph-substrate ask). The split is [[isBatchEdge]]'s
    * fixed '08' parity, baked into the artifact rows like the dedup
    * groups' history split.
    */
  private[graft] def buildHistEdges(s: SparkSession, dir: String): DataFrame =
    rawPairs(s, dir).filter(!isBatchEdge(col("u"), col("v"))).distinct()

  /** Raw derivation of tonight's batch edge slice — what a production
    * pipeline receives as an INGESTED edge file. This synthetic corpus
    * has no edge table, so the slice must be derived from the co-order
    * pair stream; the index build STAGES it as `graph_batch_edges`
    * (input staging, not index state) so a cold serving session reads
    * tonight's edges as data — the production shape — instead of
    * paying a full-width pair scan to re-synthesize its own input. Read
    * through the session-cached [[graft.IndexStore.artifact]]: the
    * with-index composition consumes the batch slice from three places
    * (edges ∪, degree increments, triangle probe) — without the cache
    * each one would re-run the raw pair self-join, tripling the one
    * full-width scan a cold session pays.
    */
  private[graft] def buildBatchEdges(s: SparkSession, dir: String): DataFrame =
    rawPairs(s, dir).filter(isBatchEdge(col("u"), col("v"))).distinct()

  /** Derived builders (degrees, triangles) read the history edges through
    * [[graft.IndexStore.artifact]], so an [[graft.IndexStore.writeAll]]
    * build reads its own just-written upstream artifact instead of
    * re-deriving it.
    */
  private[graft] def buildHistDeg(s: SparkSession, dir: String): DataFrame =
    degOf(artifact(s, dir, "graph_hist_edges"))

  /** History-scoped normalized triangle set (x < y < z) — the oriented
    * enumeration run once by the index build; the serving session adds
    * only triangles closed by batch edges (see [[triangleRows]]).
    */
  private[graft] def buildHistTri(s: SparkSession, dir: String): DataFrame = {
    val he = artifact(s, dir, "graph_hist_edges")
    normTri(triangleRowsOfOriented(orientedOf(he, degOf(he).select(
      col("src").as("x"), col("d")))))
  }

  /** Symmetric degree table of an undirected (u < v) edge frame. */
  private def degOf(e: DataFrame): DataFrame =
    e.select(col("u").as("src")).unionAll(e.select(col("v").as("src")))
      .groupBy("src").agg(count(lit(1)).as("d"))

  /** Distinct undirected co-order part edges (u < v) — a shared corpus
    * artifact like the dedup shingle tables: both graph queries consume
    * it, and the unrolled PageRank plan references it many times, so it
    * is built once per (session, sf) and persisted (see Cached doc).
    * With an index root active the full set is COMPOSED: the persisted
    * history artifact (97% of edges, read back — never re-collapsed)
    * unioned with tonight's batch slice (disjoint by the md5 split, so
    * no cross-union distinct is needed) — the set is identical to the
    * in-session build (IndexLifecycleSpec pins the consumers).
    */
  private def edges(s: SparkSession, dir: String): DataFrame =
    graft.Cached.of(s, dir, "graph.edges") {
      if (graft.IndexStore.active.isDefined)
        artifact(s, dir, "graph_hist_edges")
          .unionAll(artifact(s, dir, "graph_batch_edges"))
      else rawPairs(s, dir).distinct()
    }

  /** Symmetric adjacency (both edge directions) over [[edges]], cached
    * PARTITIONED BY src: every PageRank iteration joins it on src, and a
    * pre-partitioned edge list means only the node-sized contribution
    * table moves through each iteration's exchange — the edge list (the
    * 100 TB-scale side) never reshuffles. This is the Pregel invariant:
    * partition the graph once, ship messages.
    *
    * Adjacency is deliberately NOT a persisted artifact: it is a pure
    * 2×-fanout map over the edge artifact plus the exchange above —
    * reading a persisted symmetric copy would move 2× the bytes off
    * storage to save a map, and plain parquet cannot carry the hash
    * partitioning that is adjacency's whole point (only a bucketed
    * catalog table could, and the exchange is paid either way).
    */
  private def adjacency(s: SparkSession, dir: String): DataFrame =
    graft.Cached.of(s, dir, "graph.adj") {
      val e = edges(s, dir)
      e.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
        .repartition(s.sparkContext.defaultParallelism, col("src"))
    }

  /** Node degrees over [[adjacency]]. With an index root active:
    * persisted history degrees ⊕ tonight's batch-edge endpoint
    * increments (a full-outer sum over the node-sized tables — exact
    * set algebra, no edge-sized work).
    */
  private def degrees(s: SparkSession, dir: String): DataFrame =
    graft.Cached.of(s, dir, "graph.deg") {
      if (graft.IndexStore.active.isDefined) {
        val hist = graft.IndexStore.loadOrBuild(s, "graph_hist_deg")(
          buildHistDeg(s, dir))
        degMerge(hist, degOf(artifact(s, dir, "graph_batch_edges")))
      } else adjacency(s, dir).groupBy("src").agg(count(lit(1)).as("d"))
    }

  /** Exact degree-table sum: deg(H ∪ B) = deg(H) ⊕ deg(B) for disjoint
    * edge sets — shared by the serving composition and the nightly merge.
    */
  private[graft] def degMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("src"), col("d").as("da"))
      .join(b.select(col("src"), col("d").as("db")), Seq("src"), "full_outer")
      .select(col("src"),
        (coalesce(col("da"), lit(0L)) + coalesce(col("db"), lit(0L))).as("d"))

  /** Force-materialize the shared graph artifacts before a timed run
    * (the same one-time corpus-prep policy as Dedup.prewarm). Only caches
    * consumed by >= 2 suite queries belong here — the full-graph
    * triEdgeRows / edgeSupports chain serves graph_truss_support alone,
    * so its one-time build rides that query's first run (r11 verdict
    * ask #5: warmup attribution + trim). The history CC labels and the
    * batch slice serve graph_cc_incremental alone but are warmed anyway,
    * so its number measures the nightly fold, not the one-time history
    * pointer-doubling.
    */
  def prewarm(s: SparkSession, dir: String): Unit =
    graft.Cached.warm(s, dir)(edges, adjacency, degrees, lpaLabels, triangleRows,
      artifact(_, _, "graph_y95_edges"), artifact(_, _, "graph_y95_trie"), edgeSup1995,
      artifact(_, _, "graph_hist_cc_labels"), ccBatchE)

  /** Degree-ordered orientation of [[edges]] — the shared substrate of
    * every triangle-based query ([[triangles]], [[trussSupport]],
    * [[localClustering]], [[ktruss]]). Each undirected edge points at
    * the endpoint with the higher (degree, id) key; the order is taken
    * by lexicographic STRUCT comparison, not the former d·2^30+id packed
    * long, which silently collides once node ids reach 2^30 (TPC-H
    * partkey passes that around SF 5400 — real id spaces at 100 TB do) —
    * a collision breaks the total order and drops cyclically-oriented
    * triangles with no error. Orientation caps outdeg at O(sqrt(m)), so
    * no out-neighbor list is ever celebrity-sized.
    */
  private def orientedEdges(s: SparkSession, dir: String): DataFrame =
    orientedOf(edges(s, dir), degrees(s, dir).select(col("src").as("x"), col("d")))

  /** [[orientedEdges]] over an arbitrary undirected (u < v) edge frame
    * with the given (x, d) degree table — shared with the year-sliced
    * truss substrate ([[buildY95TriE]]).
    */
  private def orientedOf(e: DataFrame, deg: DataFrame): DataFrame = {
    val key = deg.select(col("x"), struct(col("d"), col("x")).as("ok"))
    e.join(key.select(col("x").as("u"), col("ok").as("ku")), "u")
      .join(key.select(col("x").as("v"), col("ok").as("kv")), "v")
      .select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("s"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("t"))
  }

  private val triangles: Q = (s, dir) => {
    val e = edges(s, dir)
    val deg = degrees(s, dir).select(col("src").as("x"), col("d"))
    // count over the shared cached triangle substrate — one row per
    // triangle, built once per (session, sf) and reused by truss/
    // local-clustering/k-truss (see [[triangleRows]])
    val tri = triangleRows(s, dir).agg(count(lit(1)).as("t"))
    val stats = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("(d * (d - 1)) div 2")).as("n_wedges")))
      .crossJoin(tri)
    stats.select(
      col("n_nodes"), col("n_edges"), col("t").as("n_triangles"),
      ((col("t") * 3).cast("double") / col("n_wedges")).as("clustering"))
  }

  /** PageRank (3 iterations, damping 0.85) over the symmetric co-order
    * part graph, in EXACT integer arithmetic: ranks are scaled to 1e12,
    * per-edge contributions use integer division, and the damping step is
    * `(85 * s) div 100`. Floating-point PageRank is order-nondeterministic
    * (double sums depend on partition merge order); the integer form gives
    * bit-identical ranks in any engine and any partitioning — which is
    * what lets DuckDB verify it. Each iteration is one join + one hash
    * aggregation on the edge list, both partitioned by node — the standard
    * Pregel-style shape; rank state is 16 bytes/node. Intermediate bound:
    * sum of all ranks stays ~1e12 * N, and 85 * s fits int64 with >400x
    * headroom at N = 10^6 nodes.
    */
  private val pagerank: Q = (s, dir) => {
    val adj = adjacency(s, dir)
    val deg = degrees(s, dir)
    var r = deg.select(col("src").as("x"), lit(1000000000000L).as("r"))
    for (_ <- 1 to 3) {
      val contrib = r.join(deg, col("x") === col("src"))
        .select(col("src"), expr("r div d").as("c"))
      val incoming = adj.join(contrib, "src")
        .groupBy(col("dst")).agg(sum(col("c")).as("sin"))
      // rank state is nodes-sized (tiny next to edges): checkpoint each
      // round to cut lineage, so round N+1 plans against a leaf instead
      // of re-optimizing an N-deep join tree (same lesson as
      // dedup_clusters' localCheckpoint). LAZY (eager=false): the loop
      // has no convergence observable, so nothing needs a per-round
      // action — the query's final action computes all three rounds in
      // ONE job (each round's RDD is persist-marked and computed once),
      // instead of three eager materialize jobs plus the final one (r17)
      r = r.select(col("x")).join(incoming, col("x") === col("dst"), "left")
        .select(col("x"),
          (lit(150000000000L) + expr("(85 * coalesce(sin, 0L)) div 100")).as("r"))
        .localCheckpoint(false)
    }
    r.orderBy(col("r").desc, col("x"))
      .limit(100)
      .select(col("x").as("part"), col("r").as("rank_e12"))
  }

  /** Layered multi-source BFS, 3 hops, exact integer distances — the
    * reachability/k-hop-neighborhood primitive (fraud rings, link
    * expansion, influence radius). Sources are the graph nodes with
    * id % 97 == 0 (deterministic at every SF). Each hop is one join of the
    * adjacency list against the CURRENT FRONTIER ONLY (dist == h-1), then
    * a min-dist collapse — the textbook Pregel BFS: per-round cost is
    * O(frontier out-edges), state is one (node, dist) pair per reached
    * node, and the pre-partitioned adjacency never reshuffles. Rounds are
    * localCheckpointed so round h+1 plans against a leaf (the
    * dedup_clusters lineage lesson). The oracle is DuckDB's recursive CTE
    * with UNION-dedup — same layered min semantics.
    */
  private val bfs: Q = (s, dir) => {
    val adj = adjacency(s, dir)
    // LAZY checkpoints throughout (r17): the hop count is FIXED (no
    // per-round convergence read), so the query's final action computes
    // all three hops in one job — each hop's RDD is persist-marked and
    // computed once — instead of four eager materialize jobs + the final
    var dist = degrees(s, dir).filter(col("src") % 97 === 0)
      .select(col("src").as("x"), lit(0L).as("dist"))
      .localCheckpoint(false)
    for (h <- 1 to 3) {
      val frontier = dist.filter(col("dist") === (h - 1))
      val nxt = adj.join(frontier, adj("src") === frontier("x"))
        .select(col("dst").as("x"), lit(h.toLong).as("dist"))
      dist = dist.unionAll(nxt)
        .groupBy("x").agg(min(col("dist")).as("dist"))
        .localCheckpoint(false)
    }
    dist.select(col("x").as("part"), col("dist").as("hops")).orderBy("part")
  }

  /** Sampled-source betweenness centrality (Brandes 2001; the
    * source-sampling estimator of Bader et al. 2007) truncated at
    * radius 3 (the [[bfs]] 3-hop discipline) — the influence/bottleneck score a feature pipeline
    * derives from an interaction graph. Sources are the 4 smallest
    * id%97==0 nodes (the [[bfs]] source discipline, made fixed-count so
    * the state size |S|·n is a CHOSEN budget, not a corpus-scaling
    * one). Forward pass: 3 level-synchronous rounds keyed by (source,
    * node) — per round ONE frontier join against the src-partitioned
    * adjacency, a (source, node) hash-agg summing exact BIGINT path
    * counts, and an anti-join against the visited set (σ ≤ avg-degree³
    * here; ANSI sum would throw, not wrap, past 2^63). Backward pass:
    * dependencies accumulate level-by-level from the deepest frontier,
    * δ(v) = Σ_w (σv/σw)(1+δw) over edges into level h+1 — each term is
    * one deterministic IEEE chain routed through DECIMAL(28,18) so the
    * per-node sum is orderless-exact (the unigram_xent discipline), and
    * the final per-node betweenness is an exact DECIMAL sum across
    * sources. Both passes are bounded driver loops over
    * localCheckpointed node-sized state (the [[bfs]]/pagerank shape);
    * the edge list never reshuffles. The oracle unrolls all 5 rounds as
    * MATERIALIZED CTEs and replays every σ and δ exactly.
    */
  private val betweenness: Q = (s, dir) => {
    val adj = adjacency(s, dir)
    val srcs = degrees(s, dir).filter(col("src") % 97 === 0)
      .orderBy("src").limit(4).select(col("src").as("s"))
    // LAZY checkpoints throughout both passes (r17): every round budget
    // here is FIXED (3 forward hops, 2 backward levels — no convergence
    // observable), so no per-round action is needed. Each round's RDD is
    // persist-marked and computed exactly once when the query's final
    // aggregation runs — ONE job instead of six eager materialize jobs
    // plus the final one. The checkpoints still cut logical-plan lineage
    // (round N+1 plans against a LogicalRDD leaf), which is all they
    // were ever needed for.
    var vis = srcs.select(col("s"), col("s").as("v"), lit(0L).as("d"), lit(1L).as("sig"))
      .localCheckpoint(false)
    for (h <- 1 to 3) {
      val frontier = vis.filter(col("d") === (h - 1))
      val cand = adj.join(frontier, adj("src") === frontier("v"))
        .groupBy(col("s"), col("dst")).agg(sum(col("sig")).as("sig"))
      val nxt = cand.join(vis.select(col("s").as("s2"), col("v").as("v2")),
          col("s") === col("s2") && col("dst") === col("v2"), "left_anti")
        .select(col("s"), col("dst").as("v"), lit(h.toLong).as("d"), col("sig"))
      vis = vis.unionAll(nxt).localCheckpoint(false)
    }
    var wlvl = vis.filter(col("d") === 3)
      .select(col("s").as("ws"), col("v").as("wv"), col("sig").as("wsig"),
        lit(0).cast("decimal(38,18)").as("wdel"))
      .localCheckpoint(false)
    var acc: DataFrame = null
    for (h <- 2 to 1 by -1) {
      val lv = vis.filter(col("d") === h).select(col("s"), col("v"), col("sig"))
      val terms = lv.join(adj, adj("src") === lv("v"), "left")
        .join(wlvl, col("ws") === lv("s") && col("wv") === col("dst"), "left")
        .withColumn("term", expr(
          "cast((cast(sig as double) / wsig) * (1 + cast(wdel as double)) as decimal(28,18))"))
      val dh = terms.groupBy(col("s"), col("v"))
        .agg(first(col("sig")).as("sig"),
          coalesce(sum(col("term")), lit(0).cast("decimal(38,18)")).as("del"))
        .localCheckpoint(false)
      acc = if (acc == null) dh else acc.unionAll(dh)
      wlvl = dh.select(col("s").as("ws"), col("v").as("wv"),
        col("sig").as("wsig"), col("del").as("wdel"))
    }
    acc.groupBy(col("v").as("part"))
      .agg(sum(col("del")).as("bcd"))
      .filter(col("bcd") > 0)
      .select(col("part"), round(col("bcd").cast("double"), 6).as("bc"))
      .orderBy("part")
  }

  /** The graph slice of the `_corpus_cache` panel, in write order — the
    * dedup panel's discipline ([[graft.IndexStore.corpusCached]])
    * extended to the graph's whole-corpus derivations (r15 verdict ask
    * #7): the indexed warmup's remaining cost was NOT artifact reads but
    * the derivations composed ON TOP of them (the LPA rounds, the
    * batch-closed triangle probe, the bipartite batch slice), each
    * corpus-relative — a merged root's corpus has changed, so they carry
    * no merge rule and fall back to the in-session build on any `_src`
    * mismatch.
    */
  private[graft] def corpusCaches: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "graph_lpa" -> (lpaLabelsBuild _),
    "graph_tri_full" -> (triangleRowsBuild _),
    "graph_cc_batch" -> (batchBedges _))

  /** The 2-round synchronous LPA label table — shared by
    * graph_label_prop and graph_modularity (same rounds, same argmax
    * hash-agg discipline).
    */
  private def lpaLabels(s: SparkSession, dir: String): DataFrame =
    corpusCached(s, dir, "graph_lpa")(lpaLabelsBuild(s, dir))

  /** Synchronous label propagation (2 rounds) — community detection with
    * every nondeterminism squeezed out: labels start as node ids, each
    * round every node adopts the most frequent neighbor label with an
    * explicit (count DESC, label ASC) tie-break — the asynchronous/
    * random-order variants of LPA are irreproducible by construction,
    * this one is a pure function of the graph. Same Pregel shape as
    * [[pagerank]]: the cached src-partitioned adjacency never reshuffles;
    * each round moves only the node-sized label table, and the new label
    * is one hash-agg + one argmax window keyed on the node. Rounds are
    * localCheckpointed so the lineage (and the plan the driver compiles)
    * stays flat however many rounds run.
    */
  private def lpaLabelsBuild(s: SparkSession, dir: String): DataFrame = {
    val adj = adjacency(s, dir)
    // NOTE: labels keep their natural (shuffle.partitions) layout — an
    // earlier coalesce(4) "tiny table" squeeze was a parallelism clamp
    // that cost 5x on a 1.28 M-node 64x probe graph (every round's agg
    // and the downstream joins ran 4-wide); AQE already coalesces small
    // shuffle reads, so the explicit shrink bought nothing at sf0.1.
    // LAZY checkpoints (r17): fixed 2-round budget, no convergence read —
    // the consumer's materializing action (the corpusCached persist/count)
    // computes both rounds in one job instead of three eager ones
    var labels = adj.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(false)
    for (_ <- 1 to 2) {
      // gather neighbor labels through the SRC side — the adjacency
      // cache is partitioned by src, and the graph is symmetric, so
      // "labels of my neighbors" ≡ "labels carried by edges leaving my
      // neighbors toward me": join on src stays co-partitioned (only
      // the node-sized label table shuffles) and the group-by lands on
      // dst. The previous dst-side join reshuffled the full edge list
      // every round — 5x on the 7.4 M-edge 64x probe graph.
      val counts = adj.join(labels, adj("src") === labels("node"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      // argmax by (count DESC, lbl ASC) as a HASH AGG, not a sort window:
      // (c, -lbl) is unique per (dst, lbl) group, so max_by is total —
      // this removes the per-round sort of the neighbor-label table
      labels = counts.groupBy(col("dst").as("node"))
        .agg(max_by(col("lbl"),
          struct(col("c"), (-col("lbl")).as("nl"))).as("lbl"))
        .localCheckpoint(false)
    }
    labels
  }

  private val lpa: Q = (s, dir) => {
    val labels = lpaLabels(s, dir)
    val sizes = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("csize"))
    labels.join(sizes, col("lbl") === col("community"))
      .select(col("node"), col("lbl"), col("csize"))
      .orderBy("node")
  }

  /** Newman modularity of the LPA communities — the quality score that
    * tells you whether a community detection run found real structure
    * (Q near 0 ⇒ no better than random given the degree sequence).
    * Q = Σ_c [e_c/m − (d_c/2m)²] computed from EXACT integers:
    * Q·4m² = Σ_c [4m·e_c − d_c²], with the d_c² products routed through
    * DECIMAL(38,0) (the ts_autocorr overflow discipline — d_c ~ 2m at
    * 100 TB squares past BIGINT) and ONE final IEEE division. Cost: one
    * edge join against the broadcast-size label table for e_c, one
    * node-grain aggregate for d_c — both edge-linear; the community
    * table is output-bounded.
    */
  private val modularity: Q = (s, dir) => {
    val e = edges(s, dir)
    val labels = lpaLabels(s, dir)
    val mTab = e.agg(count(lit(1)).as("m"))
    val lu = labels.select(col("node").as("u"), col("lbl").as("cu"))
    val lv = labels.select(col("node").as("v"), col("lbl").as("cv"))
    val ec = e.join(lu, "u").join(lv, "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("e_c"))
    val dc = labels.join(degrees(s, dir), col("node") === col("src"))
      .groupBy(col("lbl").as("community")).agg(sum(col("d")).as("d_c"))
    val perC = dc.join(ec, Seq("community"), "left")
      .crossJoin(broadcast(mTab))
      .withColumn("qc",
        expr("cast(4 * m as decimal(19,0)) * cast(coalesce(e_c, 0) as decimal(19,0))") -
          expr("cast(d_c as decimal(19,0)) * cast(d_c as decimal(19,0))"))
    perC.agg(
        expr("cast(count(1) as bigint)").as("n_communities"),
        max(col("m")).as("m"),
        sum(col("qc")).as("qnum"))
      .select(col("n_communities"), col("m"),
        round(col("qnum").cast("double") / (lit(4.0) * col("m") * col("m")), 6)
          .as("modularity"))
  }

  /** Log2-binned degree distribution — the first diagnostic run on any
    * large graph (is it power-law? where do the celebrity nodes start?)
    * and the input to every skew-mitigation decision the other graph
    * operators document. The bin is the integer binary length of the
    * degree (length(bin(d)) − 1 = floor(log2 d)) — no float log, so bin
    * boundaries at exact powers of two are bit-safe in both engines.
    * Cost: one aggregation over the cached degree table; output is
    * O(log max-degree) rows at any scale.
    */
  private val degreeStats: Q = (s, dir) => {
    degrees(s, dir)
      .withColumn("bin", (length(expr("conv(cast(d as string), 10, 2)")) - 1).cast("bigint"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_nodes"), min(col("d")).as("min_deg"), max(col("d")).as("max_deg"))
      .orderBy("bin")
  }

  /** Common-neighbor link prediction — "which non-edges are most likely
    * edges": every eligible center contributes its neighbor pairs as
    * wedge candidates, pairs collapse to a common-neighbor count,
    * existing edges anti-join away, top-20 survive. Two scale guards,
    * both corpus-relative and exactly replayable:
    *  - HUB CAP: centers with degree > 2× average are excluded (exact
    *    integer cross-multiplication d·n_nodes ≤ 2·Σd) — celebrity
    *    centers contribute degree² wedges with almost no signal
    *    (Adamic-Adar weights them ~1/log d for the same reason);
    *  - FIXED FAN-OUT: each surviving center contributes at most 16
    *    neighbors to wedge generation (deterministic first-16 by id) —
    *    the GraphSAGE-style sampling discipline that bounds per-center
    *    cost at C(16,2) pairs NO MATTER the degree distribution. On
    *    this co-purchase graph the unsampled wedge set is ~50 M pairs
    *    (32 s); sampled it is ~2 M (sub-second) with the same top
    *    candidates surfacing.
    */
  private val linkPredict: Q = (s, dir) => {
    val deg = degrees(s, dir)
    val tot = deg.agg(sum(col("d")).as("sumd"), count(lit(1)).as("nn"))
    val centers = deg.crossJoin(broadcast(tot))
      .filter(col("d") * col("nn") <= lit(2) * col("sumd"))
      .select(col("src").as("c"))
    val a2 = adjacency(s, dir).join(centers, col("src") === col("c"))
      .withColumn("nrk", row_number().over(
        Window.partitionBy("src").orderBy("dst")))
      .filter(col("nrk") <= 16)
      .select(col("src"), col("dst"))
    val cn = a2.as("a").join(a2.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("u"), col("b.dst").as("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common"))
    val e = edges(s, dir)
    // top-20 via orderBy+limit → TakeOrderedAndProject (per-partition
    // heaps + driver merge of 20-row tops), NOT a global row_number
    // window (single-task sort of the full candidate table — ~2 M pairs
    // at sf0.1, unbounded with graph growth). The rank window then runs
    // over exactly 20 rows.
    val top = cn.join(e, cn("u") === e("u") && cn("v") === e("v"), "left_anti")
      .orderBy(col("common").desc, col("u"), col("v"))
      .limit(20)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("common").desc, col("u"), col("v"))))
      .orderBy("rk")
  }

  private val kcoreRounds = 12

  /** k-core decomposition (k=3, synchronous peel to FIXPOINT) — the
    * degeneracy primitive behind community cores, spam rings, and graph
    * sparsification: repeatedly delete nodes of degree < k until no
    * node qualifies; what survives is the actual 3-core. Each round's
    * candidate set derives from the SURVIVING node set left-joined to
    * the live degrees (coalesce(deg, 0) < k), so a node stripped of its
    * last edge by an earlier round is peeled as degree-0 — never
    * mislabeled a core survivor (the r7 advice fix). Each round is one
    * hash-agg (degrees from the live edge list) + anti-joins;
    * localCheckpoint per round keeps plan depth flat, the Pregel
    * invariant from graph_pagerank. Per-round cost is edge-linear;
    * removed nodes only shrink the frontier, so a 100 TB graph pays
    * O(rounds) edge passes, never quadratic work.
    *
    * Round budget: [[kcoreRounds]] — a safety valve the oracle unrolls
    * exactly. Peeling is monotone (a round that peels nothing leaves the
    * graph unchanged, so every later round also peels nothing), which
    * makes the early exit and the oracle's no-op tail rounds produce
    * identical output whenever the fixpoint lands within budget; RoundSevenOpsSpec asserts it does (re-peeling the
    * survivors removes nobody). Output: every node of the original edge
    * list with the round that removed it (0 = genuine 3-core member)
    * and its final degree (0 if peeled, ≥ k if it survived).
    */
  private val kcore: Q = (s, dir) => graft.NoAqe.during(s) {
    val k = 3
    // lazy base state (r17): round 1's peel observable is the first
    // action and materializes both checkpoints through its own job
    val e0 = edges(s, dir).select(col("u"), col("v")).localCheckpoint(false)
    val allNodes = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node"))).distinct().localCheckpoint(false)
    // LAZY round checkpoints (r17): the per-round convergence observable
    // (low.isEmpty) is the round's ONLY required action — it materializes
    // the round's peel frontier, and the next round's observable
    // materializes the carried state (removed / alive / e) as a side
    // effect of computing through it. One job per round; the
    // checkpoints still cut logical-plan lineage each round.
    val (coreE, _, peeled) = graft.Fixpoint.run("graph_kcore", kcoreRounds,
        (e0, allNodes, allNodes.limit(0).select(col("node"), lit(0L).as("removed_round")))) {
      case ((e, alive, removed), r) =>
        val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val low = alive.join(deg, Seq("node"), "left")
          .filter(coalesce(col("deg"), lit(0L)) < k)
          .select(col("node"), lit(r.toLong).as("removed_round"))
          .localCheckpoint(false)
        if (low.isEmpty) ((e, alive, removed), false)
        else ((e.join(low.select(col("node").as("u")), Seq("u"), "left_anti")
            .join(low.select(col("node").as("v")), Seq("v"), "left_anti")
            .localCheckpoint(false),
          alive.join(low.select("node"), Seq("node"), "left_anti").localCheckpoint(false),
          removed.unionAll(low).localCheckpoint(false)), true)
    }.state
    val finalDeg = coreE.select(col("u").as("node")).unionAll(coreE.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
    allNodes
      .join(peeled, Seq("node"), "left")
      .join(finalDeg, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("removed_round"), lit(0L)).as("removed_round"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
      .orderBy("node")
  }

  /** Min-label propagation to the min reachable id (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): every node of the
    * symmetric (src, dst) adjacency starts labeled with its own id and
    * each round maps the label table through `round`. Labels only ever
    * decrease, so the round changed something iff the exact label sum
    * dropped — one narrow aggregate job over the fresh checkpoint
    * instead of a node×node join per round ([[lblSum]]). Each round is
    * LAZILY checkpointed (eager=false: the no-arg overload is eager):
    * the sum job is the first action and materializes it, so a round is
    * one job; the pre-loop sum materializes the initial state the same way.
    */
  private def minLabels(name: String, adj: DataFrame, maxRounds: Int)(
      round: DataFrame => DataFrame): graft.Fixpoint.Result[DataFrame] = {
    val allNodes = adj.select(col("src").as("node")).distinct().localCheckpoint(false)
    val lbl0 = allNodes.select(col("node"), col("node").as("lbl")).localCheckpoint(false)
    val res = graft.Fixpoint.run(name, maxRounds, (lbl0, lblSum(lbl0))) {
      case ((lbl, sum), _) =>
        val next = round(lbl).localCheckpoint(false)
        val nextSum = lblSum(next)
        ((next, nextSum), nextSum.compareTo(sum) != 0)
    }
    res.copy(state = res.state._1)
  }

  /** One hop: every node takes the min label among itself and its
    * neighbors (one edge-linear join plus a map-side-combining min).
    */
  private def gather(adj: DataFrame, lbl: DataFrame): DataFrame =
    adj.join(lbl, col("src") === col("node"))
      .select(col("dst").as("node"), col("lbl"))
      .unionAll(lbl)
      .groupBy("node").agg(min(col("lbl")).as("lbl"))

  /** Hash-min (HCC) label rounds: [[gather]] per round, so after r
    * rounds every node carries the min id within graph distance r.
    */
  private[graft] def hashMinLabels(
      name: String, adj: DataFrame, maxRounds: Int): graft.Fixpoint.Result[DataFrame] =
    minLabels(name, adj, maxRounds)(gather(adj, _))

  /** Exact decimal label sum — the monotone-convergence observable of
    * [[minLabels]]. SUM over zero rows is NULL: an EMPTY graph is
    * legitimate input (the CC fold against an already-merged label
    * artifact leaves no component-connecting edges — the idempotent
    * re-serve) and must read as a converged fixpoint, not an NPE.
    * DECIMAL(38,0) keeps the sum exact at any node-id × node-count
    * scale a cluster can hold.
    */
  private def lblSum(df: DataFrame): java.math.BigDecimal = {
    val s = df.agg(sum(col("lbl").cast("decimal(38,0)")).as("s")).head().getDecimal(0)
    if (s == null) java.math.BigDecimal.ZERO else s
  }

  /** Hash-min + POINTER DOUBLING: each round gathers the neighbor
    * minimum ([[gather]]) and then JUMPS every label through the
    * previous round's label table (labels are node ids, so the jump is
    * one node-linear join). Reach doubles — gather adds one hop, the
    * lookup the previous round's full reach: reach_r = 2·reach_{r-1}+1
    * = 2^r − 1 on a path — so a diameter-d component converges in
    * O(log d) rounds, the property the plain hash-min budget cannot
    * offer on path-shaped graphs (Kiveris et al.; this is the
    * label-table formulation of their star-contraction idea;
    * RoundNineOpsSpec proves the separation on a diameter-50 path where
    * 8-round hash-min returns non-components). The lookup join is total
    * (labels are node ids and lbl covers every node) and labels only
    * decrease (lbl_{r-1}(u) ≤ u), so the fixpoint is the same unique
    * min-reachable-id labeling. Referencing the checkpointed `lbl` leaf
    * three times (gather join, union, lookup) is safe — the Spark 4
    * relation-dedup constraint bug (SURVEY §8a#3) trips only on the
    * DIRECT self-join of one checkpointed frame, which this never builds.
    */
  private[graft] def pointerDoubleLabels(
      name: String, adj: DataFrame, maxRounds: Int): graft.Fixpoint.Result[DataFrame] =
    minLabels(name, adj, maxRounds) { lbl =>
      gather(adj, lbl)
        .join(lbl.select(col("node").as("lbl"), col("lbl").as("lbl2")), "lbl")
        .select(col("node"), col("lbl2").as("lbl"))
    }

  private def componentsOutput(lbl: DataFrame): DataFrame = {
    // Component sizes via a map-side-partial groupBy + join-back (r17).
    // The r16 label-partitioned window count routed EVERY row of a
    // component through one window task (WindowExec sorts and buffers
    // the whole partition) — and on a real graph the giant component
    // holds most nodes, so at scale the window was a single-task sort
    // of ~the whole label table on exactly the skewed key CC produces
    // (guide §2.5; r16 ADVICE medium). The groupBy partial-aggregates
    // map-side — the hot label collapses to one row per map task before
    // the exchange — and the join-back is left to AQE: broadcast when
    // the component-size table measures small at runtime, skew-split
    // SMJ when it does not. No scale constant either way.
    val sizes = lbl.groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
    lbl.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("component"), col("n_nodes"))
      .orderBy("node")
  }

  private val ccRounds = 8

  /** Connected components by synchronous min-label propagation
    * ([[hashMinLabels]]): at fixpoint every node carries the minimum
    * node id reachable from it — the canonical component id. Adjacency
    * is cached pre-partitioned by src, so only the node-sized label
    * table moves (the Pregel invariant from graph_pagerank); rounds
    * needed = the eccentricity of each component's minimum node, small
    * for the co-purchase graph (dense overlap through shared orders).
    * For path-shaped / high-diameter graphs use the SHIPPED
    * pointer-doubling sibling `graph_cc_pointer_doubling`, which drops
    * rounds to O(log d).
    *
    * Round budget: [[ccRounds]], which the oracle unrolls. Propagation
    * is monotone (labels only decrease, a no-change round stays at
    * fixpoint forever), so the early exit and the oracle's no-op tail
    * agree whenever the fixpoint lands within budget; RoundEightOpsSpec
    * asserts one more round changes nothing and that both endpoints of
    * every edge agree at fixpoint. Output: every node with its
    * component id (= min reachable node id) and the component size.
    */
  private val connectedComponents: Q = (s, dir) =>
    componentsOutput(hashMinLabels("graph_connected_components", adjacency(s, dir), ccRounds).state)

  /** Connected components via [[pointerDoubleLabels]] — the O(log d)
    * variant a 100 TB graph of unknown diameter needs (8-round hash-min
    * silently returns non-components on any component whose min-node
    * eccentricity exceeds the budget, and the budget-mirroring oracle
    * cannot catch it). On the co-purchase graph both converge inside
    * their budgets to the SAME unique fixpoint (min reachable id), so
    * the oracle is the true-fixpoint replay; the convergence separation
    * is pinned in RoundNineOpsSpec on a diameter-50 path.
    */
  private val ccPointerDoubling: Q = (s, dir) =>
    componentsOutput(
      pointerDoubleLabels("graph_cc_pointer_doubling", adjacency(s, dir), 16).state)

  // ------------------------------------- incremental connected components

  /** The bipartite order–part graph: every distinct (order, part)
    * lineitem pair IS an edge, node-encoded part → 2p, order → 2o+1
    * (disjoint id spaces, exact at any corpus scale in int64). Unlike
    * the derived co-purchase graph, the RAW corpus rows are the edge
    * list here — so the nightly history/batch split is a pure row
    * predicate (md5 parity over the edge key at [[graft.Incr]]'s
    * shared gate share), pushdown-friendly, and the hermetic contract
    * is the full doc-family one: a scoring session with the history
    * rows PHYSICALLY DELETED reproduces the output bit-for-bit from
    * the persisted label artifact + tonight's batch rows alone.
    */
  private def isBatchCcExpr: String =
    "substr(md5(concat('incrcc|', cast(o as string), '|', " +
      s"cast(p as string))), 1, 2) < '${graft.Incr.batchThresh}'"

  private def bpairs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey").cast("long").as("o"),
        col("l_partkey").cast("long").as("p"))

  private def encodeB(df: DataFrame): DataFrame =
    df.select((col("p") * 2).as("u"), (col("o") * 2 + 1).as("v"))

  private[graft] def histBedges(s: SparkSession, dir: String): DataFrame =
    encodeB(bpairs(s, dir).filter(not(expr(isBatchCcExpr))).distinct())

  /** Tonight's batch edges: the predicate runs at the SCAN (before the
    * distinct), so a cold scoring session's only corpus work is
    * batch-sized.
    */
  private[graft] def batchBedges(s: SparkSession, dir: String): DataFrame =
    encodeB(bpairs(s, dir).filter(expr(isBatchCcExpr)).distinct())

  /** Tonight's bipartite batch slice, materialized ONCE per session:
    * the fold reads it from three consumers (both endpoint fetches and
    * the touched/new node sets), and without a session cache every
    * [[ccFoldLabels]] invocation re-paid the lineitem scan + distinct +
    * checkpoint inside its own clock — the residue that kept
    * graph_cc_incremental's committed bench number above the warm fold
    * cost (r15 verdict ask #3). It is one-time corpus prep exactly like
    * the co-purchase batch slice, so the graph prewarm builds it
    * (verdict-excepted single-consumer prewarm, as for the
    * `graph_hist_cc_labels` artifact). Only the SHIPPED suite query
    * consumes this cache: one-shot fold callers (the nightly merge, the
    * streaming spec's per-micro-batch scratch dirs) pass their own slice
    * to [[ccFoldLabels]] instead — a session-lifetime Cached entry per
    * scratch dir would grow unboundedly in a long-running stream.
    */
  private[graft] def ccBatchE(s: SparkSession, dir: String): DataFrame =
    corpusCached(s, dir, "graph_cc_batch")(
      batchBedges(s, dir).localCheckpoint(true))

  private def symAdj(s: SparkSession, e: DataFrame, width: Option[Int] = None): DataFrame =
    // eagerly materialized (r16): every consumer is an iterative label
    // loop whose gather join references the adjacency ONCE PER ROUND —
    // unchcheckpointed, the history CC build re-ran its lineitem scan +
    // md5 split + distinct + symmetrize 8× (measured 19.7 s of the graph
    // prewarm; 7.3 s after). The copy is edge-sized, the same bill the
    // persisted full-corpus adjacency cache already pays.
    e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      .repartition(width.getOrElse(s.sparkContext.defaultParallelism), col("src"))
      .localCheckpoint(true)

  /** Frozen-index artifact: the CONVERGED min-id component labels of the
    * history bipartite graph ([[pointerDoubleLabels]], fail-loud if the
    * round budget is exhausted before the fixpoint — a truncated label
    * table would silently mis-merge components forever after).
    */
  private[graft] def buildHistCcLabels(s: SparkSession, dir: String): DataFrame =
    pointerDoubleLabels("graph_hist_cc_labels", symAdj(s, histBedges(s, dir)), 20)
      .requireConverged("refusing to persist a non-fixpoint label artifact")

  /** Fold tonight's batch edges into a frozen history labeling and
    * return the FULL updated (node, lbl) table — the true min-id
    * fixpoint of history ∪ batch, computed without ever re-traversing
    * history: batch-edge endpoints are mapped to their history labels
    * (new nodes label themselves), connected components run on that
    * LABEL-LEVEL graph (batch-bounded — two hist labels connect only
    * through a batch edge), and the node-sized relabel is one pass of
    * history labels through the tiny resolution map. Only batch-touched
    * components move; everything else passes through unchanged. Shared
    * by the serving query and the nightly artifact merge.
    */
  private[graft] def ccFoldLabels(
      s: SparkSession, dir: String, histLbl: DataFrame,
      slice: Option[DataFrame] = None): DataFrame = {
    // the batch slice feeds three consumers (the fold's endpoint
    // fetches and the touched/new node sets) — materialized once per
    // fold by default (an eager checkpoint the caller's GC reclaims),
    // or passed in by the shipped query as the session-cached,
    // prewarmed [[ccBatchE]] so its bench clock excludes the slice
    // build. One-shot callers (nightly merge, per-micro-batch streaming
    // folds) MUST stay on the default: caching per scratch dir leaks.
    val bE = slice.getOrElse(batchBedges(s, dir).localCheckpoint(true))
    val bNodes = bE.select(explode(array(col("u"), col("v"))).as("node")).distinct()
    // prune the node-sized label table to batch-touched nodes BEFORE the
    // label fetch: the batch-bounded key set rides a semi-join (AQE
    // broadcasts it at any sane batch share), so history labels stream
    // map-side and only touched rows reach the fetch join
    val touched = histLbl.join(bNodes, Seq("node"), "left_semi")
    val fold = bE
      .join(touched.select(col("node").as("u"), col("lbl").as("hu")), Seq("u"), "left")
      .join(touched.select(col("node").as("v"), col("lbl").as("hv")), Seq("v"), "left")
      .select(coalesce(col("hu"), col("u")).as("fu"),
        coalesce(col("hv"), col("v")).as("fv"))
      // both-endpoints-in-one-component edges merge nothing; dropping
      // them never drops a fold node (part/order encodings can't
      // self-loop, and a new node never equals a history label)
      .filter(col("fu") =!= col("fv"))
      .select(col("fu").as("u"), col("fv").as("v"))
    // the fold graph is batch-bounded (two history labels connect only
    // through a batch edge), so its pointer-doubling rounds are
    // LATENCY-bound, not data-bound — AQE's per-stage materialization
    // only adds scheduler barriers here (the ktruss NoAqe lesson); the
    // full-graph callers (graph_cc_pointer_doubling, the history
    // artifact build) keep AQE for its skew/coalesce value. With AQE
    // off the rounds also lose its partition coalescing, so the fold
    // runs at a reduced shuffle width sized to its batch-bounded input
    // (full session width launched ~10 near-empty tasks per tiny stage
    // per round — pure scheduler latency, r15 verdict ask #3); the
    // width scales with the session's parallelism, not a constant, so
    // a cluster-sized batch still fans out
    val foldWidth = math.max(4, s.sparkContext.defaultParallelism / 4)
    val res = graft.NoAqe.during(s)(graft.ShuffleWidth.during(s, foldWidth)(
        pointerDoubleLabels("graph_cc_fold", symAdj(s, fold, Some(foldWidth)), 16)
          .requireConverged("refusing to fold a non-fixpoint labeling into history")))
      .select(col("node").as("olbl"), col("lbl").as("nlbl"))
    val hist2 = histLbl.join(res, col("lbl") === col("olbl"), "left")
      .select(col("node"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
    val newNodes = bNodes.join(histLbl.select("node"), Seq("node"), "left_anti")
      .join(res, col("node") === col("olbl"), "left")
      .select(col("node"), coalesce(col("nlbl"), col("node")).as("lbl"))
    hist2.unionAll(newNodes)
  }

  /** Incremental connected components — the r12 verdict's ask #4: the
    * frozen-history discipline applied to global graph connectivity.
    * History labels come from the persisted artifact (in-session build
    * without one); tonight's batch edges fold in via [[ccFoldLabels]]
    * (cost tracks the touched set, never history size). The output is
    * provably the full-graph min-id fixpoint — label values are
    * split-invariant, so the DuckDB oracle is the clean FULL RECOUNT
    * (pointer-doubling over history ∪ batch, unrolled), the strongest
    * oracle an incremental operator can get.
    */
  private val ccIncremental: Q = (s, dir) =>
    componentsOutput(
      ccFoldLabels(s, dir, artifact(s, dir, "graph_hist_cc_labels"), Some(ccBatchE(s, dir))))

  /** Nightly index UPDATE for the graph substrate artifacts — pure set
    * algebra over the persisted history tables plus batch-derived
    * increments (the raw co-purchase pair stream is read only for the
    * batch slice; the bipartite CC reads only batch rows):
    * edges union disjointly, degrees add ([[degMerge]]), the triangle
    * set gains exactly the batch-closed triangles (a history triangle
    * has no batch edge, so the union is disjoint; normalization makes
    * the representation orientation-free — see [[triangleRows]]), and
    * the CC labels fold through [[ccFoldLabels]]. IndexMergeSpec pins
    * every merged artifact row-identical to the full-corpus rebuild.
    */
  private[graft] def mergedArtifacts(
      s: SparkSession, dir: String, histRoot: String): Map[String, DataFrame] = {
    val histE = Tables.read(s, s"$histRoot/graph_hist_edges")
    val histD = Tables.read(s, s"$histRoot/graph_hist_deg")
    val histT = Tables.read(s, s"$histRoot/graph_hist_tri")
    val histL = Tables.read(s, s"$histRoot/graph_hist_cc_labels")
    // anti-join makes the merge idempotent (re-running tonight's fold
    // against an already-merged root adds nothing)
    val newE = artifact(s, dir, "graph_batch_edges").join(histE, Seq("u", "v"), "left_anti")
    val mergedE = histE.unionByName(newE)
    val mergedD = degMerge(histD, degOf(newE))
    Map(
      "graph_hist_edges" -> mergedE,
      "graph_hist_deg" -> mergedD,
      "graph_hist_tri" -> histT.unionByName(
        batchClosedTriangles(newE, batchAdjOf(mergedE, newE), mergedD)),
      "graph_hist_cc_labels" -> ccFoldLabels(s, dir, histL),
      // frozen calendar slice: copy-through (see buildY95Edges doc)
      "graph_y95_edges" -> Tables.read(s, s"$histRoot/graph_y95_edges"),
      "graph_y95_trie" -> Tables.read(s, s"$histRoot/graph_y95_trie"),
      // staged input, CONSUMED by this merge: tonight's batch is now
      // inside graph_hist_edges, and the composed serving path
      // (edges = hist ∪ staged, degrees = hist ⊕ deg(staged),
      // triangles = hist ∪ batch-closed(staged)) relies on the two
      // being DISJOINT — carrying the staging through unchanged would
      // double-count every batch edge for composed consumers. The
      // anti-join against the merged history writes exactly the
      // un-merged remainder (empty here; a production nightly stages
      // tomorrow's ingested edge file into the new root afterwards).
      "graph_batch_edges" ->
        artifact(s, dir, "graph_batch_edges").join(mergedE, Seq("u", "v"), "left_anti"))
  }

  /** Full-corpus rebuild comparators for IndexMergeSpec (the whole
    * corpus treated as history — what the merged artifacts must equal).
    */
  private[graft] def fullSubstrate(s: SparkSession, dir: String): Map[String, DataFrame] = {
    val e = rawPairs(s, dir).distinct()
    val d = degOf(e)
    val lbl = pointerDoubleLabels(
      "graph_cc_full", symAdj(s, encodeB(bpairs(s, dir).distinct())), 20).state
    Map(
      "graph_hist_edges" -> e,
      "graph_hist_deg" -> d,
      "graph_hist_tri" -> normTri(triangleRowsOfOriented(
        orientedOf(e, d.select(col("src").as("x"), col("d"))))),
      "graph_hist_cc_labels" -> lbl,
      "graph_y95_edges" -> buildY95Edges(s, dir),
      "graph_y95_trie" -> buildY95TriE(s, dir),
      // whole corpus treated as history ⇒ nothing left staged: the
      // merge CONSUMES the batch (see mergedArtifacts), so the rebuilt
      // comparator for the staging artifact is the empty edge set
      "graph_batch_edges" -> buildBatchEdges(s, dir).limit(0))
  }

  /** Degree assortativity (Newman's r) — do hubs attach to hubs? The
    * one-number summary that separates social-style graphs (r > 0) from
    * technological/web graphs (r < 0), and the diagnostic behind "will
    * hub-capping change this graph's behavior?" (see link_predict). r is
    * the Pearson correlation of endpoint degrees over DIRECTED edge
    * pairs (each undirected edge counted both ways, so Σx = Σy and one
    * sum table suffices). Every sum is an exact integer — degree
    * products route through DECIMAL(19,0)×DECIMAL(19,0) (the
    * ts_autocorr overflow discipline: deg² · |edges| passes BIGINT at
    * crawl scale) — and r is three IEEE ops on the exact sums, mirrored
    * verbatim in the oracle. Cost: the adjacency join against the
    * node-sized degree table twice (co-partitioned on src for the first;
    * the dst side reshuffles the node-sized degree table, not the
    * edges), then ONE map-side-combining aggregate.
    */
  private val assortativity: Q = (s, dir) => {
    val adj = adjacency(s, dir)
    val deg = degrees(s, dir)
    val pairs = adj
      .join(deg.select(col("src"), col("d").as("du")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("dv")), "dst")
    val sums = pairs.agg(
      count(lit(1)).as("bm"),
      sum(col("du")).as("sx"),
      sum(expr("cast(du as decimal(19,0)) * cast(dv as decimal(19,0))")).as("sxy"),
      sum(expr("cast(du as decimal(19,0)) * cast(du as decimal(19,0))")).as("sxx"))
    sums.select(
      (col("bm") / 2).cast("long").as("m"),
      round(
        (col("bm").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("bm").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6).as("assortativity"))
  }

  /** The shared triangle substrate, as the NORMALIZED (x < y < z)
    * triangle set — every consumer (count, per-node explode, per-edge
    * explode) is orientation-invariant, and normalization is what lets
    * the set be persisted and MERGED by pure set algebra (a new edge
    * can flip the degree orientation of an old triangle's
    * representation, but never its normalized form). With an index root
    * active: the persisted history triangles unioned with the triangles
    * tonight's batch edges close ([[batchClosedTriangles]] — the
    * batch-sized wedge probe, never a full re-enumeration; the two sets
    * are disjoint because a history triangle has no batch edge).
    */
  private[graft] def triangleRows(s: SparkSession, dir: String): DataFrame =
    corpusCached(s, dir, "graph_tri_full")(triangleRowsBuild(s, dir))

  private def triangleRowsBuild(s: SparkSession, dir: String): DataFrame =
    if (graft.IndexStore.active.isDefined) {
      val hist = graft.IndexStore.loadOrBuild(s, "graph_hist_tri")(
        buildHistTri(s, dir))
      val bE = artifact(s, dir, "graph_batch_edges")
      hist.unionAll(batchClosedTriangles(
        bE, batchAdjOf(edges(s, dir), bE), degrees(s, dir)))
    } else normTri(triangleRowsOfOriented(orientedEdges(s, dir)))

  /** (a, b, c) oriented triangle rows → the normalized (x < y < z) set. */
  private def normTri(tri: DataFrame): DataFrame =
    tri.select(
      least(col("a"), col("b"), col("c")).as("x"),
      (col("a") + col("b") + col("c")
        - least(col("a"), col("b"), col("c"))
        - greatest(col("a"), col("b"), col("c"))).as("y"),
      greatest(col("a"), col("b"), col("c")).as("z"))

  /** The symmetric adjacency of `e` RESTRICTED to sources in `batch`'s
    * endpoint set — everything [[batchClosedTriangles]] ever looks up
    * (the wedge probe runs from a batch-edge endpoint; the closing-edge
    * confirmation is keyed on one). The endpoint set is batch-bounded
    * and rides broadcast semi-joins into the edge scan, so a cold
    * serving session never symmetrizes, repartitions, or streams the
    * full edge set through the probe joins — the r14 verdict's
    * triangle-incremental prune (the dedup verify-prune discipline
    * applied to the graph artifact: a superset semi-join can never
    * drop a true candidate).
    */
  private[graft] def batchAdjOf(e: DataFrame, batch: DataFrame): DataFrame = {
    val bN = batch.select(explode(array(col("u"), col("v"))).as("bn")).distinct()
    e.join(bN.select(col("bn").as("u")), Seq("u"), "left_semi")
      .select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.join(bN.select(col("bn").as("v")), Seq("v"), "left_semi")
        .select(col("v").as("src"), col("u").as("dst")))
  }

  /** All triangles containing ≥ 1 edge of `batch`, normalized and
    * deduped — each batch edge probes the adjacency from its
    * lower-degree endpoint (candidates are Σ min(deg u, deg v), the
    * oriented-enumeration bound) and the closing edge is confirmed with
    * one hash join. Shared by [[triangleIncremental]], the with-index
    * [[triangleRows]] composition, and the nightly artifact merge —
    * every caller passes the [[batchAdjOf]]-pruned adjacency.
    */
  private[graft] def batchClosedTriangles(
      batch: DataFrame, adj: DataFrame, deg: DataFrame): DataFrame = {
    val b = batch
      .join(deg.select(col("src").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("src").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"),
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("p"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("o"))
    b.join(adj.select(col("src").as("p"), col("dst").as("w")), Seq("p"))
      .filter(col("w") =!= col("o"))
      .join(adj.select(col("src").as("o"), col("dst").as("w")), Seq("o", "w"))
      .select(least(col("u"), col("v"), col("w")).as("x"),
        (col("u") + col("v") + col("w")
          - least(col("u"), col("v"), col("w"))
          - greatest(col("u"), col("v"), col("w"))).as("y"),
        greatest(col("u"), col("v"), col("w")).as("z"))
      .distinct()
  }

  /** One row per triangle (a, b, c), found exactly once on its oriented
    * base edge — the degree-oriented edge-iterator over [[orientedEdges]].
    * Edge-iterator: a triangle {a,b,c} (a < b < c in key order) orients
    * to a->b, a->c, b->c and is found exactly once, on edge (a,b), as a
    * common out-neighbor of a and b. Intersecting out-neighbor LISTS per
    * edge avoids materializing the wedge set as rows (sum(outdeg^2)/2
    * rows — ~20M at sf0.1); the per-edge intersection stays inside
    * codegen and the only movement is the node-sized out-adjacency
    * table. Its normalized set ([[triangleRows]]) is SESSION-CACHED like
    * edges/adjacency/degrees: [[triangles]], [[trussSupport]],
    * [[localClustering]] and [[ktruss]] all consume it, and rebuilding the O(m^1.5) intersection per query was the
    * bench's graph tail (r10 verdict #3). Rows are output-bounded
    * (exactly T triangles), so the cache is triangle-sized, not
    * wedge-sized.
    */
  private def triangleRowsOfOriented(oriented: DataFrame): DataFrame = {
    val adjOut = oriented.groupBy(col("s"))
      .agg(collect_list(col("t")).as("nbrs"))
    oriented
      .join(adjOut.select(col("s").as("ja"), col("nbrs").as("na")), col("s") === col("ja"))
      .join(adjOut.select(col("s").as("jb"), col("nbrs").as("nb")), col("t") === col("jb"))
      .select(col("s").as("a"), col("t").as("b"),
        explode(expr("array_intersect(na, nb)")).as("c"))
  }

  /** Per-node triangle count and local clustering coefficient
    * (Watts–Strogatz): c(v) = 2·tri(v) / (d(v)·(d(v)−1)) — the
    * node-grain refinement of [[triangles]]' global coefficient and the
    * classic ego-density feature (spam/fraud nodes sit in sparse
    * neighborhoods, community cores in dense ones). Rides the SAME
    * oriented triangle substrate as [[trussSupport]]: each triangle row
    * explodes to its 3 member nodes (output-bounded), one hash-agg
    * counts per node, and one node-linear left join brings in
    * triangle-free nodes. The only float is the final 2t/d(d−1)
    * division, guarded for d = 1 (ANSI would throw on the zero
    * denominator, §8a#2 discipline).
    */
  private val localClustering: Q = (s, dir) => {
    val nodeTri = triangleRows(s, dir)
      .select(explode(array(col("x"), col("y"), col("z"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("n_tri"))
    degrees(s, dir).select(col("src").as("x"), col("d"))
      .join(nodeTri, Seq("x"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .select(col("x").as("part"), col("d").as("degree"), col("n_tri"),
        when(col("d") >= 2,
          round((col("n_tri") * 2).cast("double") / (col("d") * (col("d") - 1)), 6))
          .otherwise(lit(0.0)).as("local_cc"))
      .orderBy("part")
  }

  /** Base per-edge triangle supports — one hash-agg over
    * [[triEdgeRows]], session-cached: [[trussSupport]] histograms it and
    * every [[ktrussPeel]] run seeds its live supports from it.
    */
  private[graft] def edgeSupports(s: SparkSession, dir: String): DataFrame =
    graft.Cached.of(s, dir, "graph.edgeSup") {
      triEdgeRows(s, dir).groupBy("u", "v").agg(count(lit(1)).as("support"))
    }

  /** Per-edge triangle support and the truss histogram — the k-truss
    * substrate (an edge is in the k-truss iff its support ≥ k−2, after
    * peeling; one support pass is the standard first peel round and
    * already separates bridge edges from community-core edges, the
    * cohesion signal link-spam/community pipelines use). Reuses
    * [[triangles]]' degree-oriented edge-iterator — the O(m^1.5)-work
    * shape — but EXPLODES the per-edge common-neighbor intersection
    * into (a, b, c) triangle rows (output-bounded: 3 rows per
    * triangle), normalizes each triangle's three edges back to id
    * order, and hash-aggregates support. Zero-support edges re-enter
    * via one left join against the edge table. Output: one row per
    * support level with its edge count — bounded by the max support,
    * never by m.
    */
  private val trussSupport: Q = (s, dir) => {
    val e = edges(s, dir)
    val edgeSup = edgeSupports(s, dir)
    e.join(edgeSup, Seq("u", "v"), "left")
      .withColumn("support", coalesce(col("support"), lit(0L)))
      .groupBy("support").agg(count(lit(1)).as("n_edges"))
      .orderBy("support")
  }

  /** Id-normalized triangle-EDGE rows: 3 rows per triangle (x < y < z),
    * one per supported edge key (u, v) — the per-edge refinement of
    * [[triangleRows]], session-cached like it. [[trussSupport]]
    * aggregates it once; every [[ktrussPeel]] round joins the frontier
    * against it. Narrow long columns only (the array-of-struct variant
    * measured 2-3× slower to scan under the cache's columnar codec).
    */
  private[graft] def triEdgeRows(s: SparkSession, dir: String): DataFrame =
    graft.Cached.of(s, dir, "graft.triE")(
      triEdgeRowsOfNorm(triangleRows(s, dir)))

  /** (x, y, z, u, v) triangle-edge rows from (a, b, c) triangle rows. */
  private def triEdgeRowsOf(tri: DataFrame): DataFrame =
    triEdgeRowsOfNorm(normTri(tri))

  /** Same, from already-normalized (x < y < z) triangle rows. */
  private def triEdgeRowsOfNorm(t: DataFrame): DataFrame = {
    t.select(col("x"), col("y"), col("z"),
        explode(array(
          struct(col("x").as("u"), col("y").as("v")),
          struct(col("x").as("u"), col("z").as("v")),
          struct(col("y").as("u"), col("z").as("v")))).as("ed"))
      .select(col("x"), col("y"), col("z"),
        col("ed.u").as("u"), col("ed.v").as("v"))
  }

  /** The CURRENT-YEAR (1995) co-purchase slice and its truss substrate —
    * the scope [[ktrussPeel]]'s shipped query runs on: a production
    * cohesion gate decomposes the recent-activity graph, not all of
    * history (the same cost-bounding discipline as
    * graph_betweenness_sample's 4 fixed sources). The peel itself is
    * scope-agnostic; the full-graph bill is measured and recorded in
    * BASELINE.md (latency-bound: ~8 synchronous rounds at sf0.1).
    *
    * The year-1995 slice substrate is a FROZEN artifact by definition:
    * a closed calendar slice never gains edges from tonight's batch
    * (new activity is current-year), so its index lifecycle is
    * build-once / copy-through-on-merge — no set algebra needed, and
    * the merged == rebuilt pin is the identity. Persisting it removes
    * the second pair self-join + the slice triangle enumeration from
    * every cold session and from the graph prewarm.
    */
  private[graft] def buildY95Edges(s: SparkSession, dir: String): DataFrame = {
    val pl = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders").filter(year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    pl.as("a").join(pl.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct()
  }

  private[graft] def buildY95TriE(s: SparkSession, dir: String): DataFrame = {
    val e = artifact(s, dir, "graph_y95_edges")
    val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    triEdgeRowsOf(triangleRowsOfOriented(orientedOf(e, deg)))
  }

  private[graft] def edgeSup1995(s: SparkSession, dir: String): DataFrame =
    graft.Cached.of(s, dir, "graph.edgeSup.y95") {
      artifact(s, dir, "graph_y95_trie").groupBy("u", "v").agg(count(lit(1)).as("support"))
    }

  private val ktrussRounds = 12

  /** k-truss decomposition (k = 4, synchronous peel to FIXPOINT) over
    * the current-year (1995) co-purchase slice — the completion
    * graph_truss_support's single support pass points at: an edge is in
    * the 4-truss iff it survives repeated deletion of edges with
    * support < k−2 = 2 (each deletion can drop neighbors' supports, so
    * one pass is only the first round). The loop NEVER recounts
    * triangles on the shrinking graph: supports are maintained by
    * DECREMENT from the cached slice substrate (`graph_y95_trie`) — a dead
    * triangle is one touching a removed edge, and each surviving edge's
    * live support is its base support minus the dead triangles through
    * it — so a round's work is the frontier's triangle lookups, never a
    * fresh O(m^1.5) intersection or an edge-sized state rewrite. The
    * year scope is the production shape (a cohesion gate decomposes
    * recent activity) AND the cost-bounding discipline betweenness'
    * fixed sources set: peel depth is what a synchronous loop pays for
    * (each round is a full scheduler barrier — the full-history graph
    * peels in 8 rounds at sf0.1 and measures latency-bound at ~1.5 s a
    * round regardless of frontier size; BASELINE.md round-11), and the
    * yearly slice converges in 3-4 rounds at every sf with a non-trivial
    * decomposition (sf0.1: removals 16 640, 204, 0 → 164 k survivors).
    * Round budget [[ktrussRounds]], which the oracle unrolls;
    * peeling is monotone (a no-removal round leaves supports unchanged
    * forever), so the no-op tail keeps oracle and early-exit loop
    * identical whenever the fixpoint lands in budget.
    * RoundElevenOpsSpec pins the fixpoint (re-peeling survivors removes
    * nothing) and truss nesting (5-truss ⊆ 4-truss). Output: every
    * slice edge with the round that removed it (0 = in the 4-truss).
    */
  private[graft] def ktrussPeel(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e0 = artifact(s, dir, "graph_y95_edges")
    val triE = artifact(s, dir, "graph_y95_trie")
    val baseSup = edgeSup1995(s, dir)
    // AQE disabled for the LOOP ONLY — see graft.NoAqe (its per-stage
    // materialization latency dominated the peel: 19 → 14 s measured)
    graft.NoAqe.during(s) {
    // Per-round state is FRONTIER-sized, never edge-sized: the removed
    // sets (output-bounded) and the cumulative per-edge decrement table
    // (only edges that lost a triangle — supports never rise, so an
    // undamaged edge keeps its base support and can never newly fall
    // below threshold). A triangle dies exactly once, in the round its
    // FIRST edge is removed; a candidate with an edge removed in an
    // EARLIER round was decremented when it died and is dropped (the
    // rbT semi-join). The only graph-scale work per round is the
    // broadcast-probe of the cached triangle-edge table by the
    // frontier — sizes are measured driver-side (checkpointed
    // LogicalRDDs carry no stats), with a shuffle-join fallback for a
    // graph whose peel frontier outgrows the driver.
    // The state also carries the CUMULATIVE removed-edge count, tracked
    // driver-side like nLow: the removed set is the sum of every
    // frontier so far, so on a deep peel it outgrows the per-round
    // frontier — it needs the same >1e6 shuffle-join fallback as
    // lowE/decNew or a large peel OOMs the driver (ADVICE r11 #1)
    val (removed, _, _) = graft.Fixpoint.run("graph_ktruss", ktrussRounds,
        (List.empty[DataFrame], Option.empty[DataFrame], 0L)) {
      case (st @ (removedParts, decCum, nRemovedCum), r) =>
        def maybeBcast(df: DataFrame): DataFrame =
          if (nRemovedCum <= 1000000L) broadcast(df) else df
        val removedBefore = removedParts.reduceOption(_ unionAll _)
          .map(_.select(col("u"), col("v")))
        // the frontier: round 1 reads base supports; later rounds scan
        // only the (frontier-sized) decrement table, which carries each
        // damaged edge's base support — an edge with no lost triangle
        // still holds its round-1-surviving base support, so the round
        // never rescans the edge table
        val low = (if (r == 1)
            e0.join(baseSup, Seq("u", "v"), "left")
              .filter(coalesce(col("support"), lit(0L)) < k - 2)
          else {
            val d = decCum.get.filter(col("s0") - col("d") < k - 2)
            removedBefore.fold(d)(b => d.join(maybeBcast(b), Seq("u", "v"), "left_anti"))
          })
          .select(col("u"), col("v"), lit(r.toLong).as("removed_round"))
          // lazy (eager=false): the count below materializes it
          .localCheckpoint(false)
        val nLow = low.count()
        if (nLow == 0L) (st, false)
        else ((low :: removedParts,
          Some(peelRoundDec(triE, baseSup,
            low.select(col("u"), col("v")), nLow, removedBefore, maybeBcast, decCum)),
          nRemovedCum + nLow), true)
    }.state
    removed.reduceOption(_ unionAll _) match {
      case None => e0.select(col("u"), col("v"), lit(0L).as("removed_round"))
      case Some(rm) => e0.join(rm, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("removed_round"), lit(0L)).as("removed_round"))
    }
    }
  }

  /** One peel round's decrement bookkeeping, shared by [[ktrussPeel]]
    * and [[trussnessDecompose]]: from this round's frontier `lowE0`,
    * find the triangles it kills (minus those already dead — a triangle
    * touching an earlier-removed edge was decremented the round it
    * died; the rbT semi-join excludes the double count), decrement the
    * dead triangles' surviving edges, and fold the new decrements into
    * the cumulative per-edge table (which carries each damaged edge's
    * base support so later frontiers never rescan the edge table).
    * Broadcast decisions are driver-measured (checkpointed LogicalRDDs
    * carry no stats) with shuffle fallbacks past 1e6 rows.
    */
  private def peelRoundDec(
      triE: DataFrame, baseSup: DataFrame, lowE0: DataFrame, nLow: Long,
      removedBefore: Option[DataFrame], maybeBcast: DataFrame => DataFrame,
      decCum: Option[DataFrame]): DataFrame = {
    val lowE = if (nLow <= 1000000L) broadcast(lowE0) else lowE0
    // triangles touching this round's frontier (deduped — one may
    // hold two frontier edges), checkpointed: referenced twice below.
    // LAZY (r17): both references share the one checkpoint-marked RDD
    // instance, so its distinct's shuffle stage is scheduled once per
    // job and the persisted result is reused across rounds — no
    // standalone materialize job needed
    val cand = triE.join(lowE, Seq("u", "v"))
      .select("x", "y", "z").distinct().localCheckpoint(false)
    // candidates already dead: an edge removed in an earlier round
    val lost = removedBefore match {
      case None => cand
      case Some(b) =>
        val rbT = cand.select(
            col("x"), col("y"), col("z"),
            explode(array(
              struct(col("x").as("u"), col("y").as("v")),
              struct(col("x").as("u"), col("z").as("v")),
              struct(col("y").as("u"), col("z").as("v")))).as("ed"))
          .select(col("x"), col("y"), col("z"),
            col("ed.u").as("u"), col("ed.v").as("v"))
          .join(maybeBcast(b), Seq("u", "v"), "left_semi")
          .select("x", "y", "z").distinct()
        cand.join(rbT, Seq("x", "y", "z"), "left_anti")
    }
    // decrement the dead triangles' other edges (edges removed this
    // round are excluded; earlier-removed ones are filtered at
    // frontier time, so a stray decrement row is harmless); new
    // decrements pick up their edge's base support by probing the
    // cached support table map-side (every decremented edge was in a
    // triangle, so the inner join is total)
    val decNew = lost.select(explode(array(
        struct(col("x").as("u"), col("y").as("v")),
        struct(col("x").as("u"), col("z").as("v")),
        struct(col("y").as("u"), col("z").as("v")))).as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))
      .join(lowE, Seq("u", "v"), "left_anti")
      .groupBy("u", "v").agg(count(lit(1)).as("dn"))
    val decNewS =
      (if (nLow <= 1000000L) broadcast(decNew) else decNew)
        .join(baseSup, Seq("u", "v"))
        .select(col("u"), col("v"), col("dn"), col("support").as("s0n"))
    decCum.fold(
        decNewS.select(col("u"), col("v"), col("dn").as("d"), col("s0n").as("s0"))) { old =>
      old.join(decNewS, Seq("u", "v"), "full_outer")
        .select(col("u"), col("v"),
          (coalesce(col("d"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("d"),
          coalesce(col("s0"), col("s0n")).as("s0"))
    // LAZY (r17): the NEXT round's frontier count is the first action
    // over this table and materializes it (plus `cand`) as a side
    // effect — one job per peel round instead of three
    }.localCheckpoint(false)
  }

  private val ktruss: Q = (s, dir) => ktrussPeel(s, dir, 4).orderBy("u", "v")

  /** Incremental triangle accounting — the frozen-history discipline
    * (dedup/sim/text/train) extended to the GRAPH domain: tonight's
    * batch edges (md5-parity ~3% of the co-purchase edge set — the
    * PRODUCTION nightly share the two-share probes demonstrate, vs the
    * doc/vector families' 25% gate share) close new triangles against
    * the frozen graph,
    * and the job enumerates ONLY triangles containing ≥ 1 batch edge:
    * each batch edge probes the cached adjacency from its LOWER-degree
    * endpoint (the oriented-enumeration discipline — candidates are
    * Σ min(deg u, deg v) over the batch, not Σ deg) and the closing
    * edge is confirmed with one hash join. Work tracks the batch; the
    * O(m^1.5) history triangle enumeration is never re-run. A triangle
    * with 2-3 batch edges is found 2-3 times, so the normalized
    * (x, y, z) set dedupes before classification. Output: one row —
    * batch edge count and new-triangle counts split by how many of the
    * triangle's edges are batch (the accounting a nightly cohesion /
    * clustering-coefficient monitor needs). At 100 TB: the batch
    * probes broadcast (or shuffle on the probe key past the bound),
    * adjacency is the partitioned corpus table. The DuckDB oracle is
    * the reference formulation — enumerate ALL triangles and classify —
    * i.e. the full recount the incremental plan must equal.
    */
  private val triangleIncremental: Q = (s, dir) => {
    val e = edges(s, dir)
    val deg = degrees(s, dir)
    // the batch slice is PARITY-defined over the composed edge set, not
    // read from the staging artifact: the two coincide on an unmerged
    // root, but a MERGED root has consumed its staging (empty) while
    // the parity edges live on inside history — and the query's
    // contract (the oracle's full recount classifies by parity) must
    // hold from any root. The md5 filter is one map-side pass over the
    // artifact scan — session-cached, because the batch-sized slice is
    // consumed three times per run (probe, endpoint prune, accounting
    // count) and each reference would otherwise re-scan the edge set.
    val bE = graft.Cached.of(s, dir, "graph.batchPar")(
      e.filter(isBatchEdge(col("u"), col("v"))))
    // With a root active the probe never touches the full symmetric
    // adjacency: only the batch endpoints' neighborhoods are read off
    // the artifact ([[batchAdjOf]] — the r14 verdict's prune;
    // previously a cold with-index serve paid a full artifact
    // symmetrize+repartition for a batch-sized probe). WITHOUT a root
    // the shared [[adjacency]] cache is the cheaper probe side: it is
    // an already-paid session substrate (prewarmed, consumed by the
    // whole graph family), while the prune would rebuild endpoint
    // neighborhoods per run (measured +1.7 s in-suite at sf0.1).
    val adjProbe =
      if (graft.IndexStore.active.isDefined) batchAdjOf(e, bE)
      else adjacency(s, dir)
    val tri = batchClosedTriangles(bE, adjProbe, deg)
    val nbe = isBatchEdge(col("x"), col("y")).cast("int") +
      isBatchEdge(col("x"), col("z")).cast("int") +
      isBatchEdge(col("y"), col("z")).cast("int")
    val counts = tri.withColumn("nbe", nbe)
      .agg(count(lit(1)).as("tri_new"),
        coalesce(sum(when(col("nbe") === 1, 1L).otherwise(0L)), lit(0L)).as("tri_b1"),
        coalesce(sum(when(col("nbe") === 2, 1L).otherwise(0L)), lit(0L)).as("tri_b2"),
        coalesce(sum(when(col("nbe") === 3, 1L).otherwise(0L)), lit(0L)).as("tri_b3"))
    val nb = bE.agg(count(lit(1)).as("n_batch_edges"))
    counts.crossJoin(broadcast(nb))
      .select(col("n_batch_edges"), col("tri_new"),
        col("tri_b1"), col("tri_b2"), col("tri_b3"))
  }

  /** FULL truss decomposition of the 1995 slice by PEELING — every
    * edge's trussness (the max k with the edge inside the k-truss):
    * the r11-asked completion of [[ktrussPeel]], which fixes k = 4.
    * This is the REFERENCE formulation; the shipped `graph_trussness`
    * query is [[trussnessHIndex]] (2-8 rounds vs the peel's 21-32 on
    * these corpora), and RoundTwelveOpsSpec pins the two row-identical
    * — the strongest check either can get. The loop here is a
    * min-bucket peel, i.e. the level-synchronous
    * decomposition with empty levels and empty rounds SKIPPED: each
    * iteration's frontier is the survivors at the current level's
    * threshold — damaged edges from the (frontier-sized) cumulative
    * decrement table, undamaged ones from the base-support bucket
    * `support = k−3` (an undamaged edge's support never changes, and
    * one with a LOWER bucket was already removed at its own level, so
    * the level start never rescans the edge table; level 3 adds the
    * triangle-free edges) — and when the frontier is empty the level
    * advances, carrying ALL peel state (decrements + removed set)
    * across levels so each level starts exactly where the last ended.
    * Removed edges get trussness k−1; the loop runs to the empty
    * survivor set, so the output IS the complete decomposition
    * (RoundTwelveOpsSpec pins completeness and k-truss nesting against
    * [[ktrussPeel]]). Budgets: 40 nonempty rounds (the gate corpora
    * need 21-32), levels capped at 24 (max trussness here is 9-16).
    * Cost anatomy (the graph_ktruss discipline, BASELINE.md round-12):
    * the bill is nonempty-rounds × round-latency — rounds are a
    * property of the support structure, not the edge count, and every
    * round's data is frontier-sized. Every per-round checkpoint runs
    * through [[org.apache.spark.sql.graft.PlanUtil.resetStats]]: at
    * this round count the estimated-size lineage otherwise squares per
    * round into million-digit BigInts and stats estimation alone eats
    * the driver (see PlanUtil's doc for the measured blowup).
    */
  private[graft] def trussnessDecompose(s: SparkSession, dir: String): DataFrame = {
    val maxPeels = 40
    val kcap = 24
    val e0 = artifact(s, dir, "graph_y95_edges")
    val triE = artifact(s, dir, "graph_y95_trie")
    val baseSup = edgeSup1995(s, dir)
    val nEdges = e0.count()
    graft.NoAqe.during(s) {
      // triangle-free edges: trussness 2, the k=3 bucket
      val sup0 = e0.join(baseSup.select(col("u"), col("v")), Seq("u", "v"), "left_anti")
      var removedParts: List[DataFrame] = Nil
      var nRemovedCum = 0L
      def maybeBcast(df: DataFrame): DataFrame =
        if (nRemovedCum <= 1000000L) broadcast(df) else df
      var decCum: Option[DataFrame] = None
      var k = 3
      var peels = 0
      while (nRemovedCum < nEdges && k <= kcap && peels < maxPeels) {
        val removedBefore = removedParts.reduceOption(_ unionAll _)
          .map(_.select(col("u"), col("v")))
        val bucket = if (k == 3) sup0
          else baseSup.filter(col("support") === (k - 3).toLong)
            .select(col("u"), col("v"))
        val damaged = decCum.map(
          _.filter(col("s0") - col("d") <= (k - 3).toLong).select(col("u"), col("v")))
        val front0 = damaged.fold(bucket)(bucket.unionAll)
        val front = removedBefore
          .fold(front0)(b => front0.join(maybeBcast(b), Seq("u", "v"), "left_anti"))
        // count lazily first: an empty-level probe must not pay a
        // checkpoint (there are ~#levels of them between peels)
        val nLow = front.count()
        if (nLow == 0L) k += 1
        else {
          peels += 1
          // lazy (r17): the next level probe's count is the first action
          // and materializes this frontier through the persist mark
          val low = org.apache.spark.sql.graft.PlanUtil.resetStats(front
            .select(col("u"), col("v"), lit((k - 1).toLong).as("trussness"))
            .localCheckpoint(false))
          decCum = Some(org.apache.spark.sql.graft.PlanUtil.resetStats(
            peelRoundDec(triE, baseSup,
              low.select(col("u"), col("v")), nLow, removedBefore, maybeBcast, decCum)))
          removedParts ::= low
          nRemovedCum += nLow
        }
      }
      // every edge is removed exactly once, at its trussness level; a
      // budget-truncated exit (kcap/maxPeels hit first) would silently
      // drop the unremoved edges from the decomposition, so fail loud
      // instead — on a corpus that trips this, raise the budgets
      require(nRemovedCum >= nEdges,
        s"trussnessDecompose: budgets exhausted at k=$k after $peels peels " +
          s"with $nRemovedCum of $nEdges edges removed — raise kcap/maxPeels for this corpus")
      removedParts.reduceOption(_ unionAll _)
        .getOrElse(e0.select(col("u"), col("v"), lit(2L).as("trussness")))
    }
  }

  private val trussnessRounds = 12

  /** The SHIPPED full decomposition: the triangle-core h-index
    * iteration (Lü et al. 2016's h-index convergence for coreness,
    * generalized to trusses by Sariyüce et al., PVLDB 2018) instead of
    * the peel. ρ₀(e) = support(e); each round sets ρ(e) to the h-index
    * of {min(ρ(f), ρ(g)) : triangle (e, f, g)} clamped below the old
    * value; the fixpoint is exactly trussness − 2. Why this shape wins
    * distributed: the peel is ~21-32 SYNCHRONOUS frontier rounds on
    * these corpora (rounds = a property of the support cascade — the
    * measured bill was 40-54 s at sf0.1), while the h-index iteration
    * converges in 2-8 rounds HERE AND SHRINKS WITH DENSITY (sf0.001: 8,
    * sf0.01: 4, sf0.1: 2) — each round one scan of the cached triangle
    * table, three ρ-lookups (broadcast at this scale, driver-measured
    * with a shuffle fallback past 1e6 edges — at 100 TB they become
    * shuffle joins keyed by edge, same algorithm), one integer-exact
    * h-index hash-agg, one checkpoint. RoundTwelveOpsSpec pins the
    * h-index fixpoint row-identical to [[trussnessDecompose]]'s peel —
    * two independent algorithms, one answer — plus k-truss nesting
    * against [[ktrussPeel]]. The oracle unrolls [[trussnessRounds]] (the
    * clamp makes every round monotone, so budget-bound outputs stay
    * equal cross-engine even unconverged; gate corpora converge well
    * inside it).
    */
  private[graft] def trussnessHIndex(s: SparkSession, dir: String): DataFrame = {
    val e0 = artifact(s, dir, "graph_y95_edges")
    val triE = artifact(s, dir, "graph_y95_trie")
    val baseSup = edgeSup1995(s, dir)
    val nEdges = e0.count()
    def maybeBcast(df: DataFrame): DataFrame =
      if (nEdges <= 1000000L) broadcast(df) else df
    graft.NoAqe.during(s) {
      // one row per triangle: the triE row whose edge key IS (x, y) —
      // a filter on the cached substrate, no distinct, no new cache
      val tri = triE.filter(col("u") === col("x") && col("v") === col("y"))
        .select(col("x"), col("y"), col("z"))
      val rho0 = e0.join(baseSup, Seq("u", "v"), "left")
        .select(col("u"), col("v"), coalesce(col("support"), lit(0L)).as("r"))
        // lazy (r17): round 1's broadcast builds materialize it
        .localCheckpoint(false)
      val fin = graft.Fixpoint.run("graph_trussness", trussnessRounds, rho0) { (rho, _) =>
        val tr = tri
          .join(maybeBcast(rho.select(col("u").as("x"), col("v").as("y"), col("r").as("rxy"))),
            Seq("x", "y"))
          .join(maybeBcast(rho.select(col("u").as("x"), col("v").as("z"), col("r").as("rxz"))),
            Seq("x", "z"))
          .join(maybeBcast(rho.select(col("u").as("y"), col("v").as("z"), col("r").as("ryz"))),
            Seq("y", "z"))
        val contrib = tr.select(explode(array(
            struct(col("x").as("cu"), col("y").as("cv"), least(col("rxz"), col("ryz")).as("c")),
            struct(col("x").as("cu"), col("z").as("cv"), least(col("rxy"), col("ryz")).as("c")),
            struct(col("y").as("cu"), col("z").as("cv"), least(col("rxy"), col("rxz")).as("c")))).as("e"))
          .select(col("e.cu").as("u"), col("e.cv").as("v"), col("e.c").as("c"))
        // h-index = |{i : sorted_desc[i] ≥ i+1}| — exact integer fold,
        // tie-order-invariant, no window
        val h = contrib.groupBy("u", "v").agg(expr(
          """aggregate(transform(
            |  array_sort(collect_list(c), (l, r) -> CASE WHEN l > r THEN -1 WHEN l < r THEN 1 ELSE 0 END),
            |  (x, i) -> IF(x >= i + 1, 1L, 0L)), 0L, (acc, t) -> acc + t)""".stripMargin).as("hx"))
        val next = org.apache.spark.sql.graft.PlanUtil.resetStats(
          rho.join(h, Seq("u", "v"), "left")
            .select(col("u"), col("v"),
              least(col("r"), coalesce(col("hx"), lit(0L))).as("r"),
              (least(col("r"), coalesce(col("hx"), lit(0L))) =!= col("r")).as("moved"))
            // LAZY (r17): the moved-count below scans every partition, so
            // it fully materializes the round — one job instead of two
            .localCheckpoint(false))
        (next.select(col("u"), col("v"), col("r")), next.filter(col("moved")).count() > 0L)
      }.state
      fin.select(col("u"), col("v"), (col("r") + 2).as("trussness"))
    }
  }

  private val trussness: Q = (s, dir) => trussnessHIndex(s, dir).orderBy("u", "v")

  val queries: Map[String, Q] = Map(
    "graph_ktruss" -> ktruss,
    "graph_trussness" -> trussness,
    "graph_triangle_incremental" -> triangleIncremental,
    "graph_truss_support" -> trussSupport,
    "graph_local_clustering" -> localClustering,
    "graph_assortativity" -> assortativity,
    "graph_connected_components" -> connectedComponents,
    "graph_cc_pointer_doubling" -> ccPointerDoubling,
    "graph_cc_incremental" -> ccIncremental,
    "graph_kcore" -> kcore,
    "graph_link_predict" -> linkPredict,
    "graph_triangles" -> triangles,
    "graph_pagerank" -> pagerank,
    "graph_bfs_khop" -> bfs,
    "graph_betweenness_sample" -> betweenness,
    "graph_label_prop" -> lpa,
    "graph_modularity" -> modularity,
    "graph_degree_stats" -> degreeStats,
  )

  /** DuckDB replay of the fixpoint peel: [[kcoreRounds]] unrolled rounds
    * (the Spark side's round budget). Rounds past the fixpoint peel nothing —
    * peeling is monotone — so the no-op tail leaves the result equal to
    * the true fixpoint. Each round derives its candidates from the
    * surviving node set (a{r-1}) left-joined to the live degrees, so
    * isolated (degree-0) nodes are peeled, matching the Spark loop.
    */
  private val oKcore: String = {
    val rounds = (1 to kcoreRounds).map { r =>
      val (ep, ap) = (s"e${r - 1}", s"a${r - 1}")
      s"""d$r AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM
         |  (SELECT u AS node FROM $ep UNION ALL SELECT v FROM $ep) GROUP BY 1),
         |r$r AS MATERIALIZED (SELECT a.node FROM $ap a LEFT JOIN d$r d ON a.node = d.node
         |  WHERE COALESCE(d.deg, 0) < 3),
         |a$r AS MATERIALIZED (SELECT node FROM $ap WHERE node NOT IN (SELECT node FROM r$r)),
         |e$r AS MATERIALIZED (SELECT u, v FROM $ep WHERE u NOT IN (SELECT node FROM r$r)
         |  AND v NOT IN (SELECT node FROM r$r))""".stripMargin
    }.mkString(",\n")
    val rem = (1 to kcoreRounds)
      .map(r => s"SELECT node, $r AS removed_round FROM r$r")
      .mkString("\nUNION ALL ")
    s"""WITH pl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
       |alln AS MATERIALIZED (SELECT DISTINCT u AS node FROM e0 UNION SELECT v FROM e0),
       |a0 AS MATERIALIZED (SELECT node FROM alln),
       |$rounds,
       |rem AS MATERIALIZED ($rem),
       |fd AS MATERIALIZED (SELECT node, COUNT(*) AS core_deg FROM
       |  (SELECT u AS node FROM e$kcoreRounds UNION ALL SELECT v FROM e$kcoreRounds) GROUP BY 1)
       |SELECT alln.node,
       |  CAST(COALESCE(rem.removed_round, 0) AS BIGINT) AS removed_round,
       |  CAST(COALESCE(fd.core_deg, 0) AS BIGINT) AS core_deg
       |FROM alln LEFT JOIN rem USING (node) LEFT JOIN fd USING (node)
       |ORDER BY node""".stripMargin
  }

  /** DuckDB replay of hash-min propagation: [[ccRounds]] unrolled
    * materialized rounds (the Spark side's round budget); rounds past the fixpoint
    * are no-ops, so the tail leaves the result at the true fixpoint.
    */
  private val oCc: String = {
    val rounds = (1 to ccRounds).map { r =>
      s"""l$r AS MATERIALIZED (SELECT node, MIN(lbl) AS lbl FROM (
         |  SELECT a.dst AS node, l.lbl FROM adj a JOIN l${r - 1} l ON a.src = l.node
         |  UNION ALL SELECT node, lbl FROM l${r - 1}) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
       |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM adj),
       |$rounds,
       |cs AS MATERIALIZED (SELECT lbl, COUNT(*) AS n_nodes FROM l$ccRounds GROUP BY 1)
       |SELECT l$ccRounds.node, CAST(l$ccRounds.lbl AS BIGINT) AS component,
       |  CAST(cs.n_nodes AS BIGINT) AS n_nodes
       |FROM l$ccRounds JOIN cs USING (lbl) ORDER BY node""".stripMargin
  }

  /** Full-recount oracle for graph_cc_incremental: pointer-doubling
    * min-label fixpoint over the COMPLETE bipartite order–part graph
    * (history ∪ batch — the incremental fold must equal it exactly).
    * 8 doubling rounds reach 2^8−1 = 255 hops, far past any component
    * diameter these corpora produce; rounds past the fixpoint are
    * no-ops (labels are already stable), so the unrolled tail is safe.
    * Each round mirrors the Spark loop verbatim: gather one hop +
    * group-min, then jump THROUGH the previous round's table. Unlike
    * the engine loops (which fail loud on budget exhaustion,
    * [[buildHistCcLabels]] and [[ccFoldLabels]]), a fixed unroll would silently return
    * non-components on a corpus whose min-id eccentricity exceeds 255
    * — so the final SELECT mirrors the fail-loud: it appends a
    * sentinel row (node = −1) whenever the round BEYOND the budget (a
    * 9th, oracle-only round) still changes a label, which can only
    * hash-mismatch the engine side and turn the silent drift into a
    * red gate (ADVICE r14). Comparing l9 vs l8 — not l8 vs l7 — makes
    * the sentinel match the engine's convergence verdict ([[graft.Fixpoint]]):
    * a graph that legitimately converges AT round 8 (round 8
    * productive, l8 already the fixpoint) is a correct answer, not a
    * spurious red (ADVICE r15).
    */
  private val oCcIncr: String = {
    val rounds = (1 to 9).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT g.node, l2.lbl FROM (
         |    SELECT node, MIN(lbl) AS lbl FROM (
         |      SELECT a.dst AS node, l.lbl FROM adj a JOIN l${r - 1} l ON a.src = l.node
         |      UNION ALL SELECT node, lbl FROM l${r - 1}) GROUP BY node) g
         |  JOIN l${r - 1} l2 ON g.lbl = l2.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH bp AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS u,
       |    CAST(l_orderkey AS BIGINT) * 2 + 1 AS v FROM lineitem),
       |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM bp UNION ALL SELECT v, u FROM bp),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM adj),
       |$rounds,
       |cs AS (SELECT lbl, COUNT(*) AS n_nodes FROM l8 GROUP BY 1),
       |chg AS (SELECT CAST(COUNT(*) AS BIGINT) AS nch FROM l9 a
       |  JOIN l8 b ON a.node = b.node WHERE a.lbl <> b.lbl)
       |SELECT * FROM (
       |  SELECT l8.node, CAST(l8.lbl AS BIGINT) AS component,
       |    CAST(cs.n_nodes AS BIGINT) AS n_nodes
       |  FROM l8 JOIN cs USING (lbl)
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), nch FROM chg WHERE nch > 0
       |) ORDER BY node""".stripMargin
  }

  /** Unrolled DuckDB Brandes for graph_betweenness_sample (see the
    * query doc): v0..v3 are the forward (source, node, dist, σ) levels,
    * w3..w1 the backward δ levels.
    */
  private val oBetweenness: String = {
    val fwd = (1 to 3).map(h =>
      s"""c$h AS MATERIALIZED (SELECT t.s, adj.dst AS v, SUM(t.sig) AS sig
         |  FROM v${h - 1} t JOIN adj ON adj.src = t.v WHERE t.d = ${h - 1} GROUP BY 1, 2),
         |v$h AS MATERIALIZED (SELECT * FROM v${h - 1} UNION ALL
         |  SELECT c.s, c.v, $h AS d, c.sig FROM c$h c
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} p WHERE p.s = c.s AND p.v = c.v))"""
        .stripMargin).mkString(",\n")
    val bwd = (2 to 1 by -1).map(h =>
      s"""w$h AS MATERIALIZED (SELECT lv.s, lv.v, lv.sig,
         |  COALESCE(SUM(CAST((CAST(lv.sig AS DOUBLE) / w.sig) * (1 + CAST(w.del AS DOUBLE))
         |    AS DECIMAL(28,18))), CAST(0 AS DECIMAL(28,18))) AS del
         |  FROM (SELECT * FROM v3 WHERE d = $h) lv
         |  LEFT JOIN adj ON adj.src = lv.v
         |  LEFT JOIN w${h + 1} w ON w.s = lv.s AND w.v = adj.dst
         |  GROUP BY lv.s, lv.v, lv.sig)""".stripMargin).mkString(",\n")
    s"""WITH pl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
       |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
       |srcs AS (SELECT src AS s FROM (SELECT DISTINCT src FROM adj)
       |  WHERE src % 97 = 0 ORDER BY src LIMIT 4),
       |v0 AS MATERIALIZED (SELECT s, s AS v, 0 AS d, CAST(1 AS BIGINT) AS sig FROM srcs),
       |$fwd,
       |w3 AS MATERIALIZED (SELECT s, v, sig, CAST(0 AS DECIMAL(28,18)) AS del
       |  FROM v3 WHERE d = 3),
       |$bwd,
       |bcc AS (SELECT v AS part, SUM(del) AS bcd FROM (
       |    SELECT s, v, del FROM w2 UNION ALL SELECT s, v, del FROM w1) GROUP BY v)
       |SELECT part, round(CAST(bcd AS DOUBLE), 6) AS bc
       |FROM bcc WHERE bcd > 0 ORDER BY part""".stripMargin
  }

  /** DuckDB replay of the k-truss peel: [[ktrussRounds]] unrolled
    * materialized rounds (the Spark side's budget), each recomputing triangles and supports
    * on the surviving edge set — the reference formulation the Spark
    * side's decrement-maintained supports must equal round for round.
    * Rounds past the fixpoint peel nothing (monotonicity), so the no-op
    * tail leaves the result at the true fixpoint.
    */
  private val oKtruss: String = {
    val rounds = (1 to ktrussRounds).map { r =>
      val ep = s"e${r - 1}"
      s"""t$r AS MATERIALIZED (SELECT x.u AS a, x.v AS b, y.v AS c
         |  FROM $ep x JOIN $ep y ON x.v = y.u JOIN $ep z ON z.u = x.u AND z.v = y.v),
         |s$r AS MATERIALIZED (SELECT u, v, COUNT(*) AS s FROM (
         |  SELECT a AS u, b AS v FROM t$r UNION ALL SELECT a, c FROM t$r
         |  UNION ALL SELECT b, c FROM t$r) GROUP BY 1, 2),
         |r$r AS MATERIALIZED (SELECT e.u, e.v FROM $ep e
         |  LEFT JOIN s$r s ON e.u = s.u AND e.v = s.v WHERE COALESCE(s.s, 0) < 2),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM $ep e
         |  LEFT JOIN s$r s ON e.u = s.u AND e.v = s.v WHERE COALESCE(s.s, 0) >= 2)"""
        .stripMargin
    }.mkString(",\n")
    val rem = (1 to ktrussRounds).map(r => s"SELECT u, v, $r AS rr FROM r$r")
      .mkString("\nUNION ALL ")
    s"""WITH pl AS MATERIALIZED (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
       |  FROM lineitem l JOIN orders r ON l.l_orderkey = r.o_orderkey
       |  WHERE year(r.o_orderdate) = 1995),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
       |$rounds,
       |rem AS MATERIALIZED ($rem)
       |SELECT e0.u AS u, e0.v AS v, CAST(COALESCE(rem.rr, 0) AS BIGINT) AS removed_round
       |FROM e0 LEFT JOIN rem ON e0.u = rem.u AND e0.v = rem.v
       |ORDER BY e0.u, e0.v""".stripMargin
  }

  /** DuckDB replay of the full truss decomposition: [[trussnessRounds]]
    * unrolled materialized rounds of the triangle-core h-index iteration
    * (the Spark side's budget). Each round joins the static triangle table
    * against the previous ρ three times (one lookup per triangle
    * edge), takes per edge the h-index of the min-of-other-two
    * contributions — COUNT of ranks the descending contribution list
    * covers, tie-order invariant — and clamps below the previous ρ.
    * Every value is an exact integer, rounds past the fixpoint no-op
    * under the clamp, and the final ρ + 2 is the trussness. The peel
    * formulation ([[trussnessDecompose]]) is pinned row-identical in
    * RoundTwelveOpsSpec, so the oracle replays whichever side is
    * cheaper — and 12 h-index rounds beat ~32 peel rounds by the same
    * margin in DuckDB as in Spark.
    */
  private val oTrussness: String = {
    val rounds = (1 to trussnessRounds).map { i =>
      val rp = s"r${i - 1}"
      s"""tr$i AS MATERIALIZED (SELECT t.a, t.b, t.c, r1.r AS rab, r2.r AS rac, r3.r AS rbc
         |  FROM tri t
         |  JOIN $rp r1 ON r1.u = t.a AND r1.v = t.b
         |  JOIN $rp r2 ON r2.u = t.a AND r2.v = t.c
         |  JOIN $rp r3 ON r3.u = t.b AND r3.v = t.c),
         |h$i AS MATERIALIZED (SELECT u, v, COUNT(*) FILTER (WHERE c >= rnk) AS hx FROM (
         |  SELECT u, v, c, row_number() OVER (PARTITION BY u, v ORDER BY c DESC) AS rnk FROM (
         |    SELECT a AS u, b AS v, LEAST(rac, rbc) AS c FROM tr$i
         |    UNION ALL SELECT a, c, LEAST(rab, rbc) FROM tr$i
         |    UNION ALL SELECT b, c, LEAST(rab, rac) FROM tr$i))
         |  GROUP BY 1, 2),
         |r$i AS MATERIALIZED (SELECT p.u, p.v, LEAST(p.r, COALESCE(h.hx, 0)) AS r
         |  FROM $rp p LEFT JOIN h$i h ON p.u = h.u AND p.v = h.v)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH pl AS MATERIALIZED (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
       |  FROM lineitem l JOIN orders r ON l.l_orderkey = r.o_orderkey
       |  WHERE year(r.o_orderdate) = 1995),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
       |tri AS MATERIALIZED (SELECT x.u AS a, x.v AS b, y.v AS c
       |  FROM e0 x JOIN e0 y ON x.v = y.u JOIN e0 z ON z.u = x.u AND z.v = y.v),
       |r0 AS MATERIALIZED (SELECT e0.u, e0.v, COALESCE(s.sup, 0) AS r FROM e0 LEFT JOIN (
       |  SELECT u, v, COUNT(*) AS sup FROM (
       |    SELECT a AS u, b AS v FROM tri UNION ALL SELECT a, c FROM tri
       |    UNION ALL SELECT b, c FROM tri) GROUP BY 1, 2) s
       |  ON e0.u = s.u AND e0.v = s.v),
       |$rounds
       |SELECT u, v, CAST(r + 2 AS BIGINT) AS trussness FROM r$trussnessRounds ORDER BY u, v""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "graph_ktruss" -> oKtruss,
    "graph_trussness" -> oTrussness,
    // the reference formulation: enumerate ALL triangles of the full
    // co-purchase graph and classify each by its batch-edge count —
    // the full recount the batch-driven incremental plan must equal
    "graph_triangle_incremental" ->
      """WITH pl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |t AS MATERIALIZED (SELECT x.u AS a, x.v AS b, y.v AS c
        |  FROM e0 x JOIN e0 y ON x.v = y.u JOIN e0 z ON z.u = x.u AND z.v = y.v),
        |cl AS (SELECT
        |    (CASE WHEN substr(md5('incrg|' || CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)), 1, 2) < '08' THEN 1 ELSE 0 END) +
        |    (CASE WHEN substr(md5('incrg|' || CAST(a AS VARCHAR) || '|' || CAST(c AS VARCHAR)), 1, 2) < '08' THEN 1 ELSE 0 END) +
        |    (CASE WHEN substr(md5('incrg|' || CAST(b AS VARCHAR) || '|' || CAST(c AS VARCHAR)), 1, 2) < '08' THEN 1 ELSE 0 END) AS nbe
        |  FROM t),
        |ag AS (SELECT CAST(COUNT(*) FILTER (WHERE nbe >= 1) AS BIGINT) AS tri_new,
        |    CAST(COUNT(*) FILTER (WHERE nbe = 1) AS BIGINT) AS tri_b1,
        |    CAST(COUNT(*) FILTER (WHERE nbe = 2) AS BIGINT) AS tri_b2,
        |    CAST(COUNT(*) FILTER (WHERE nbe = 3) AS BIGINT) AS tri_b3
        |  FROM cl),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_batch_edges FROM e0
        |  WHERE substr(md5('incrg|' || CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 2) < '08')
        |SELECT nb.n_batch_edges, ag.tri_new, ag.tri_b1, ag.tri_b2, ag.tri_b3
        |FROM ag, nb""".stripMargin,
    "graph_assortativity" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |adj AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |pr AS (SELECT du.d AS du, dv.d AS dv FROM adj
        |  JOIN deg du ON adj.src = du.src JOIN deg dv ON adj.dst = dv.src),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS bm, SUM(du) AS sx,
        |    SUM(CAST(du AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0))) AS sxy,
        |    SUM(CAST(du AS DECIMAL(19,0)) * CAST(du AS DECIMAL(19,0))) AS sxx
        |  FROM pr)
        |SELECT CAST(bm // 2 AS BIGINT) AS m,
        |  round((CAST(bm AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / (CAST(bm AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS assortativity
        |FROM s""".stripMargin,
    "graph_connected_components" -> oCc,
    // pointer doubling converges to the SAME unique fixpoint (the min
    // reachable id — both loops are monotone min-propagations run to
    // no-change inside their budgets on this graph), so the oracle is
    // the same true-fixpoint replay
    "graph_cc_pointer_doubling" -> oCc,
    "graph_cc_incremental" -> oCcIncr,
    "graph_kcore" -> oKcore,
    "graph_link_predict" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |adj AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |tot AS (SELECT CAST(SUM(d) AS BIGINT) AS sumd, CAST(COUNT(*) AS BIGINT) AS nn FROM deg),
        |ctr AS (SELECT src FROM deg, tot WHERE d * nn <= 2 * sumd),
        |a2 AS (SELECT adj.src, adj.dst FROM adj JOIN ctr USING (src)
        |       QUALIFY row_number() OVER (PARTITION BY adj.src ORDER BY adj.dst) <= 16),
        |cn AS (SELECT a.dst AS u, b.dst AS v, CAST(COUNT(*) AS BIGINT) AS common
        |       FROM a2 a JOIN a2 b ON a.src = b.src AND a.dst < b.dst
        |       GROUP BY 1, 2),
        |ne AS (SELECT cn.* FROM cn LEFT JOIN e0 ON cn.u = e0.u AND cn.v = e0.v
        |       WHERE e0.u IS NULL),
        |k AS (SELECT *, row_number() OVER (ORDER BY common DESC, u, v) AS rk FROM ne)
        |SELECT u, v, common, rk FROM k WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "graph_degree_stats" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |adj AS (SELECT u AS src FROM e0 UNION ALL SELECT v FROM e0),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |b AS (SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS bin, d FROM deg)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  MIN(d) AS min_deg, MAX(d) AS max_deg
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // two unrolled synchronous rounds with the same (count DESC, lbl ASC)
    // argmax; QUALIFY keeps each round a single select
    "graph_label_prop" ->
      """WITH pl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM adj),
        |c1 AS MATERIALIZED (SELECT adj.src, l0.lbl, COUNT(*) AS c FROM adj
        |       JOIN l0 ON adj.dst = l0.node GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT src AS node, lbl FROM c1
        |       QUALIFY row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl ASC) = 1),
        |c2 AS MATERIALIZED (SELECT adj.src, l1.lbl, COUNT(*) AS c FROM adj
        |       JOIN l1 ON adj.dst = l1.node GROUP BY 1, 2),
        |l2 AS MATERIALIZED (SELECT src AS node, lbl FROM c2
        |       QUALIFY row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl ASC) = 1),
        |sz AS MATERIALIZED (SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS csize FROM l2 GROUP BY 1)
        |SELECT l2.node, l2.lbl, sz.csize FROM l2 JOIN sz ON l2.lbl = sz.community
        |ORDER BY l2.node""".stripMargin,
    "graph_modularity" ->
      """WITH pl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM adj),
        |c1 AS MATERIALIZED (SELECT adj.src, l0.lbl, COUNT(*) AS c FROM adj
        |       JOIN l0 ON adj.dst = l0.node GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT src AS node, lbl FROM c1
        |       QUALIFY row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl ASC) = 1),
        |c2 AS MATERIALIZED (SELECT adj.src, l1.lbl, COUNT(*) AS c FROM adj
        |       JOIN l1 ON adj.dst = l1.node GROUP BY 1, 2),
        |l2 AS MATERIALIZED (SELECT src AS node, lbl FROM c2
        |       QUALIFY row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl ASC) = 1),
        |deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS d FROM adj GROUP BY 1),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
        |ec AS (SELECT lu.lbl AS community, COUNT(*) AS e_c FROM e0
        |  JOIN l2 lu ON e0.u = lu.node JOIN l2 lv ON e0.v = lv.node
        |  WHERE lu.lbl = lv.lbl GROUP BY 1),
        |dc AS (SELECT l2.lbl AS community, SUM(deg.d) AS d_c
        |  FROM l2 JOIN deg ON l2.node = deg.node GROUP BY 1),
        |pc AS (SELECT dc.community,
        |    CAST(4 * mm.m AS DECIMAL(19,0)) * CAST(COALESCE(ec.e_c, 0) AS DECIMAL(19,0))
        |      - CAST(dc.d_c AS DECIMAL(19,0)) * CAST(dc.d_c AS DECIMAL(19,0)) AS qc,
        |    mm.m
        |  FROM dc LEFT JOIN ec USING (community), mm)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities, MAX(m) AS m,
        |  round(CAST(SUM(qc) AS DOUBLE) / (4.0 * MAX(m) * MAX(m)), 6) AS modularity
        |FROM pc""".stripMargin,
    // unrolled Brandes: 4 forward BFS/path-count rounds, then 3 backward
    // dependency levels, every σ exact BIGINT and every δ a
    // DECIMAL(28,18)-routed sum — replays the Spark loops verbatim
    "graph_betweenness_sample" -> oBetweenness,
    "graph_bfs_khop" ->
      """WITH RECURSIVE
        |pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |adj AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        |nodes AS (SELECT DISTINCT src FROM adj),
        |bfs(x, dist) AS (
        |  SELECT src, CAST(0 AS BIGINT) FROM nodes WHERE src % 97 = 0
        |  UNION
        |  SELECT adj.dst, bfs.dist + 1 FROM bfs JOIN adj ON adj.src = bfs.x
        |  WHERE bfs.dist < 3)
        |SELECT x AS part, MIN(dist) AS hops FROM bfs GROUP BY x ORDER BY part""".stripMargin,
    // naive id-ordered triangle enumeration (the triangles-oracle
    // discipline): same triangle set as the oriented edge-iterator, so
    // identical per-edge supports
    // naive triangle enumeration per node (the triangles-oracle
    // discipline), degrees from the symmetric edge union
    "graph_local_clustering" ->
      """WITH pl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |tri AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e e1
        |  JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |nt AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        |    SELECT a AS x FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |  GROUP BY x),
        |deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x)
        |SELECT deg.x AS part, deg.d AS degree,
        |  CAST(COALESCE(nt.n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN deg.d >= 2
        |    THEN round(CAST(2 * COALESCE(nt.n_tri, 0) AS DOUBLE) / (deg.d * (deg.d - 1)), 6)
        |    ELSE 0.0 END AS local_cc
        |FROM deg LEFT JOIN nt ON nt.x = deg.x ORDER BY part""".stripMargin,
    "graph_truss_support" ->
      """WITH pl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |tri AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e e1
        |  JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |sup AS (SELECT u, v, COUNT(*) AS support FROM (
        |    SELECT a AS u, b AS v FROM tri
        |    UNION ALL SELECT a, c FROM tri
        |    UNION ALL SELECT b, c FROM tri) GROUP BY u, v),
        |es AS (SELECT e.u, e.v, CAST(coalesce(sup.support, 0) AS BIGINT) AS support
        |  FROM e LEFT JOIN sup USING (u, v))
        |SELECT support, CAST(COUNT(*) AS BIGINT) AS n_edges
        |FROM es GROUP BY support ORDER BY support""".stripMargin,
    "graph_triangles" ->
      """WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT x, COUNT(*) AS d
        |  FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x),
        |tri AS (SELECT COUNT(*) AS t FROM e e1
        |  JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS w FROM deg)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
        |  CAST((SELECT t FROM tri) * 3 AS DOUBLE) / (SELECT w FROM w) AS clustering""".stripMargin,
    "graph_pagerank" ->
      """WITH pl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
        |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM adj GROUP BY src),
        |r0 AS MATERIALIZED (SELECT src AS x, CAST(1000000000000 AS BIGINT) AS r FROM deg),
        |c0 AS MATERIALIZED (SELECT deg.src, r0.r // deg.d AS c FROM r0 JOIN deg ON r0.x = deg.src),
        |s1 AS MATERIALIZED (SELECT adj.dst AS x, SUM(c0.c) AS sin FROM adj JOIN c0 ON adj.src = c0.src GROUP BY adj.dst),
        |r1 AS MATERIALIZED (SELECT r0.x, CAST(150000000000 + (85 * coalesce(s1.sin, 0)) // 100 AS BIGINT) AS r
        |       FROM r0 LEFT JOIN s1 ON r0.x = s1.x),
        |c1 AS MATERIALIZED (SELECT deg.src, r1.r // deg.d AS c FROM r1 JOIN deg ON r1.x = deg.src),
        |s2 AS MATERIALIZED (SELECT adj.dst AS x, SUM(c1.c) AS sin FROM adj JOIN c1 ON adj.src = c1.src GROUP BY adj.dst),
        |r2 AS MATERIALIZED (SELECT r1.x, CAST(150000000000 + (85 * coalesce(s2.sin, 0)) // 100 AS BIGINT) AS r
        |       FROM r1 LEFT JOIN s2 ON r1.x = s2.x),
        |c2 AS MATERIALIZED (SELECT deg.src, r2.r // deg.d AS c FROM r2 JOIN deg ON r2.x = deg.src),
        |s3 AS MATERIALIZED (SELECT adj.dst AS x, SUM(c2.c) AS sin FROM adj JOIN c2 ON adj.src = c2.src GROUP BY adj.dst),
        |r3 AS MATERIALIZED (SELECT r2.x, CAST(150000000000 + (85 * coalesce(s3.sin, 0)) // 100 AS BIGINT) AS r
        |       FROM r2 LEFT JOIN s3 ON r2.x = s3.x)
        |SELECT x AS part, r AS rank_e12 FROM r3
        |ORDER BY r DESC, x LIMIT 100""".stripMargin,
  )
}
