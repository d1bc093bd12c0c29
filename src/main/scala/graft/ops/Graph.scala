package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-analysis operators over edge tables — the graph layer of the
  * curation stack (site/domain authority weighting next to the
  * connected-components dedup in [[TextDedup]]).
  */
object Graph {

  def pagerank(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds > 0, s"rounds must be positive: $rounds")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    var rank = nodes.select(col("node"), lit(1000000L).as("rank"))
    for (_ <- 1 to rounds) {
      val contrib = rank.join(outdeg, "node")
        .select(col("node"), expr("rank DIV outdeg").as("c"))
        .join(e, col("node") === col("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("inflow"))
      rank = nodes.join(contrib, Seq("node"), "left")
        .withColumn("inflow", coalesce(col("inflow"), lit(0L)))
        .select(col("node"),
          (lit(150000L) + expr("(850000 * inflow) DIV 1000000")).as("rank"))
        .localCheckpoint(false)
    }
    rank
  }

  /** Triangle enumeration over an undirected edge list: canonical (hi, lo)
    * dedup, then two hash equi-joins — e1(a,b) ⋈ e2(b,c) on b, ⋈ e3(a,c)
    * on (a,c) — emit each triangle with a < b < c exactly once. Never
    * all-pairs: every join keys on node ids, so the plan is two key-bounded
    * shuffles whose fan-out is the true wedge count (the canonical
    * orientation means each wedge is generated once, from its smallest
    * vertex). The closing e3 probe is a semi-structural join that AQE can
    * broadcast when the edge list is small.
    *
    * @param edges (src, dst) directed or undirected; self-loops dropped
    * @return (a, b, c) one row per triangle, a < b < c
    */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(false)
    val e1 = e.select(col("lo").as("a"), col("hi").as("b"))
    val e2 = e.select(col("lo").as("b"), col("hi").as("c"))
    val e3 = e.select(col("lo").as("a"), col("hi").as("c"))
    e1.join(e2, Seq("b")).join(e3, Seq("a", "c")).select("a", "b", "c")
  }

  /** Single-source shortest paths by FIXED-ROUND distributed Bellman–Ford —
    * the weighted-graph distance primitive next to [[pagerank]] (same
    * discipline: deterministic round count, the edge list never moves, each
    * round is one key-bounded join + one min-aggregation, lineage cut per
    * round). After R rounds every node reachable within R hops carries its
    * R-HOP-OPTIMAL distance — exact shortest distance once R reaches the
    * hop count of its shortest path (R ≥ |V|−1 is always enough; real
    * graphs converge at their small hop diameter). The oracle unrolls the
    * same rounds as CTEs, so the gate pins the relaxation algebra, not a
    * convergence heuristic. Integer weights ⇒ exact min-plus arithmetic;
    * unreached nodes are absent (distance ∞ by absence, the same
    * encoding-as-absence rule as the raster no-data contract).
    *
    * Scale shape per round: |frontier| ≤ |V| rows join edges on `src`
    * (partial-aggregated min on `dst`), union with the running table, one
    * `node`-keyed min groupBy. At 10^12 edges the round cost is two
    * key-bounded shuffles — never all-pairs, never driver-side.
    *
    * @param edges  (src, dst, w) directed weighted edges, w ≥ 0 integer
    * @param source start node id
    * @param rounds relaxation rounds (R-hop exact horizon)
    * @return (node, dist) for nodes reached within `rounds` hops
    */
  def sssp(edges: DataFrame, source: Long, rounds: Int): DataFrame = {
    require(rounds > 0, s"rounds must be positive: $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("w").cast("long"))
    var dist = Seq((source, 0L)).toDF("node", "dist").localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint(false)
    }
    dist
  }

  /** Common-neighbor link prediction: for every NON-adjacent pair (a, b)
    * that shares at least one neighbor, count the shared neighbors and keep
    * the global top-k — the classic "people you may know" / co-citation
    * suggestion primitive next to [[triangles]] (same wedge generation, but
    * the closing edge must be ABSENT instead of present).
    *
    * Plan shape: canonical undirected dedup, adjacency doubled to (u, v)
    * both directions, one self-equi-join on the wedge MIDPOINT u with
    * `l.v < r.v` canonicalizing each candidate pair once per shared
    * neighbor, a (a, b)-keyed count, then a left-anti join against the edge
    * set to drop already-adjacent pairs. Every shuffle keys on node ids or
    * pairs — never all-pairs; the wedge fan-out is Σ deg(u)·(deg(u)−1)/2,
    * the same bound as triangle enumeration (a 100 TB deployment caps
    * hub degrees first, the standard wedge-sampling mitigation — the plan
    * is unchanged). The final top-k is a global sort of the candidate
    * COUNTS (|pairs with ≥1 shared neighbor| rows, already aggregated),
    * with a deterministic (cn desc, a, b) tie-break.
    *
    * @param edges (src, dst) directed or undirected; self-loops dropped
    * @param topK  suggestions to keep globally
    * @return (a, b, cn) top-k non-adjacent pairs by shared-neighbor count
    */
  def commonNeighbors(edges: DataFrame, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    val e = edges
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(false)
    val adj = e.select(col("lo").as("u"), col("hi").as("v"))
      .union(e.select(col("hi").as("u"), col("lo").as("v")))
    val wedges = adj.as("l").join(adj.as("r"),
        col("l.u") === col("r.u") && col("l.v") < col("r.v"))
      .select(col("l.v").as("a"), col("r.v").as("b"))
    val counts = wedges.groupBy("a", "b").agg(count(lit(1)).as("cn"))
    counts.join(e,
        counts("a") === e("lo") && counts("b") === e("hi"), "left_anti")
      .orderBy(col("cn").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** k-core decomposition by FIXED-ROUND peeling: repeatedly delete every
    * node whose degree in the SURVIVING subgraph is below `k`; after
    * enough rounds the survivors are exactly the k-core (the maximal
    * subgraph of minimum degree ≥ k) — the density filter of web-graph
    * curation (link-farm / spam cores, collaboration cliques) next to
    * [[pagerank]]'s authority weight and [[triangles]]' local density.
    * Same deterministic discipline as every iterative op here: a FIXED
    * round count the oracle unrolls as CTEs (peeling is monotone — once
    * the survivor set stops shrinking it is the k-core and further rounds
    * are identity, so "enough rounds" is checkable by the gate comparing
    * round R to R−1; real graphs peel in few rounds because each round
    * removes entire shells).
    *
    * Scale shape per round: the edge list never moves — two semi-joins of
    * the symmetric adjacency against the shrinking survivor set (node-keyed,
    * broadcast once survivors fit) + one src-keyed degree count; survivor
    * lineage cut per round. Never all-pairs, never driver-side.
    *
    * @param edges  (src, dst) directed or undirected; self-loops dropped
    * @param k      minimum surviving degree
    * @param rounds fixed peel rounds
    * @return (node, deg) survivors after `rounds` rounds with their
    *         final-round degree (deg ≥ k once converged)
    */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(rounds > 0, s"rounds must be positive: $rounds")
    val e = edges
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(false)
    val sym = e.select(col("lo").as("u"), col("hi").as("v"))
      .union(e.select(col("hi").as("u"), col("lo").as("v")))
      .localCheckpoint(false)
    var alive = sym.select(col("u").as("node")).distinct()
    var deg: DataFrame = null
    for (_ <- 1 to rounds) {
      deg = sym
        .join(alive.select(col("node").as("u")), "u")
        .join(alive.select(col("node").as("v")), "v")
        .groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .localCheckpoint(false)
      alive = deg.select("node")
    }
    deg
  }

  /** Degree-mixing sufficient statistics — everything degree assortativity
    * (Newman's r over edge-endpoint degrees) needs, as ONE exact-integer
    * row: over the symmetric directed edge set (each undirected edge in
    * both orientations, so the statistic is orientation-free and the
    * endpoint marginals coincide),
    * `m = |edges|, Σd_src, Σd_src·d_dst, Σd_src²`, plus the assembled
    * numerator `m·Σxy − (Σx)²` and denominator `m·Σx² − (Σx)²` —
    * `r = num/den` is one float division the CONSUMER performs; the engine
    * emits only integers (the same moments-not-ratios discipline as the
    * blur/Welford gates). Hub-attracts-hub (r>0) vs hub-attracts-leaf
    * (r<0) is the structural fingerprint distinguishing collaboration
    * graphs from web/link-farm graphs — a one-row diagnostic worth
    * computing before trusting [[pagerank]]-style authority scores.
    *
    * Plan shape: one degree count (node-keyed), one node-keyed join per
    * endpoint to tag edges with degrees, one global aggregation to a
    * single row. Never all-pairs; the edge list shuffles only on node ids.
    */
  def degreeMix(edges: DataFrame): DataFrame = {
    val e = edges
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(false)
    val sym = e.select(col("lo").as("u"), col("hi").as("v"))
      .union(e.select(col("hi").as("u"), col("lo").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    sym
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .agg(count(lit(1)).as("m"), sum(col("du")).as("sx"),
        sum(col("du") * col("dv")).as("sxy"),
        sum(col("du") * col("du")).as("sxx"))
      .select(col("m"), col("sx"), col("sxy"), col("sxx"),
        (col("m") * col("sxy") - col("sx") * col("sx")).as("num"),
        (col("m") * col("sxx") - col("sx") * col("sx")).as("den"))
  }

  /** Per-node clustering coefficient pieces in exact integers — the local
    * density score that separates link-farm hubs (high degree, near-zero
    * closure) from genuine communities (high closure) in web-graph
    * curation: `cc(v) = tri(v) / wedges(v)` with
    * `wedges(v) = deg(v)·(deg(v)−1)/2`. Emits `(node, deg, tri_cnt,
    * wedges)` — the coefficient is one float division away and every
    * column is bit-reproducible (deg·(deg−1) is always even, so the
    * halving is exact).
    *
    * Plan shape: [[triangles]]' canonical-orientation wedge join (two
    * key-bounded shuffles, each triangle a<b<c once), then each triangle
    * fans out to its three corners and aggregates per node with map-side
    * combine; degrees ride the same doubled-edge aggregation as
    * [[degreeMix]]. Never all-pairs; no iteration.
    *
    * @param edges (src, dst) Long node ids; self-loops/duplicates dropped
    * @return (node, deg, tri_cnt, wedges), one row per non-isolated node
    */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val e = edges
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(false)
    val deg = e.select(col("lo").as("node")).union(e.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val e1 = e.select(col("lo").as("a"), col("hi").as("b"))
    val e2 = e.select(col("lo").as("b"), col("hi").as("c"))
    val e3 = e.select(col("lo").as("a"), col("hi").as("c"))
    val tri = e1.join(e2, Seq("b")).join(e3, Seq("a", "c"))
    val triNodes = tri.select(col("a").as("node"))
      .union(tri.select(col("b").as("node")))
      .union(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
    deg.join(triNodes, Seq("node"), "left_outer")
      .select(col("node"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        expr("deg * (deg - 1) DIV 2").as("wedges"))
  }

  /** Per-edge triangle support — the k-truss primitive: `support(u,v)` =
    * number of triangles containing the edge, i.e. |N(u) ∩ N(v)|. The
    * truss decomposition (peel edges with support < k−2) is the
    * community-core extractor that survives where k-core admits
    * link-farm stars: a star hub has huge degree but every edge has
    * support 0. This op emits the support table that peeling (and the
    * `graph_clustering` closure view) consume.
    *
    * Plan shape: [[triangles]]' canonical-orientation wedge join (every
    * triangle a<b<c materialized once), then each triangle fans out to
    * its three canonical edges and aggregates per edge with map-side
    * combine; zero-support edges are restored by ONE left join against
    * the (deduplicated, checkpointed) edge list. Never all-pairs; no
    * iteration; shuffles keyed by node/edge only.
    *
    * @param edges (src, dst) Long node ids; self-loops/duplicates dropped
    * @return (lo, hi, support), one row per undirected edge
    */
  def trussSupport(edges: DataFrame): DataFrame = {
    val e = edges
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(false)
    val e1 = e.select(col("lo").as("a"), col("hi").as("b"))
    val e2 = e.select(col("lo").as("b"), col("hi").as("c"))
    val e3 = e.select(col("lo").as("a"), col("hi").as("c"))
    val tri = e1.join(e2, Seq("b")).join(e3, Seq("a", "c"))
    val sup = tri.select(col("a").as("lo"), col("b").as("hi"))
      .union(tri.select(col("b").as("lo"), col("c").as("hi")))
      .union(tri.select(col("a").as("lo"), col("c").as("hi")))
      .groupBy("lo", "hi").agg(count(lit(1)).as("support"))
    e.join(sup, Seq("lo", "hi"), "left_outer")
      .select(col("lo"), col("hi"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Bipartite projection with hub pruning — the co-occurrence graph
    * builder: from (src=user, dst=item) edges, emit item pairs that share
    * a user, weighted by how many users they share. This is how co-click /
    * co-citation / doc-domain graphs are minted from raw interaction logs
    * before any graph algorithm runs.
    *
    * The scale hazard of projection is quadratic hub fan-out: one user
    * touching d items mints d(d−1)/2 pairs, so a single power-law hub
    * (a crawler account, a boilerplate domain) can emit more pairs than
    * the rest of the corpus combined. `maxDegree` removes such hubs BEFORE
    * the self-join — standard practice (their co-occurrence carries no
    * signal) — which caps per-key fan-out at maxDegree² and makes the
    * join's output bound explicit: |users| · maxDegree². The degree
    * histogram and the prune are one key-bounded agg + one semi-join; the
    * pair self-join is keyed on user; the final agg is map-side combined.
    * Never all-pairs across items.
    *
    * @param maxDegree drop users with more than this many distinct items
    * @param minWeight emit only pairs sharing at least this many users
    * @return (item_a, item_b, w) with item_a < item_b
    */
  def biproject(edges: DataFrame, maxDegree: Long, minWeight: Long): DataFrame = {
    require(maxDegree >= 2 && minWeight >= 1,
      s"bad bounds: maxDegree=$maxDegree minWeight=$minWeight")
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val keep = e.groupBy("src").agg(count(lit(1)).as("du"))
      .filter(col("du") <= maxDegree).select("src")
    val k = e.join(keep, Seq("src"), "left_semi")
    val l = k.select(col("src"), col("dst").as("item_a"))
    val r = k.select(col("src"), col("dst").as("item_b"))
    l.join(r, Seq("src")).filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minWeight)
  }

  /** HITS hubs-and-authorities (Kleinberg) in exact fixed-point — the
    * second classic link-analysis score beside [[pagerank]], and the one
    * that separates CURATORS (hubs: pages pointing at many good
    * authorities) from CONTENT (authorities: pages pointed at by many
    * good hubs) — a distinction PageRank's single score cannot make, and
    * the standard mutual-reinforcement view for link-farm forensics.
    *
    * Fixed-round, integer-exact like [[pagerank]]: scores live in ppm
    * (start 10⁶), each round computes `auth_raw(v) = Σ hub(u→v)` then
    * L1-normalizes `auth = auth_raw·10⁶ DIV Σauth_raw` (truncating
    * division — both engines agree bit-for-bit), then the same for hubs
    * from the NEW authorities (the standard update order). Per round: two
    * edge joins + two key-bounded aggs + one broadcast scalar; the edge
    * list never moves.
    *
    * @return (node, auth, hub) ppm scores, one row per node
    */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds > 0, s"rounds must be positive: $rounds")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    var hub = nodes.select(col("node"), lit(1000000L).as("hub"))
    var auth = nodes.select(col("node"), lit(1000000L).as("auth"))
    def normalize(raw: DataFrame, out: String): DataFrame =
      nodes.join(raw, Seq("node"), "left")
        .withColumn("raw", coalesce(col("raw"), lit(0L)))
        .crossJoin(broadcast(raw.agg(sum(col("raw")).as("tot"))))
        .select(col("node"), expr("(raw * 1000000) DIV tot").as(out))
    for (_ <- 1 to rounds) {
      val araw = hub.join(e, col("node") === col("src"))
        .groupBy(col("dst").as("node")).agg(sum("hub").as("raw"))
      auth = normalize(araw, "auth").localCheckpoint(false)
      val hraw = auth.join(e, col("node") === col("dst"))
        .groupBy(col("src").as("node")).agg(sum("auth").as("raw"))
      hub = normalize(hraw, "hub").localCheckpoint(false)
    }
    auth.join(hub, Seq("node"))
  }

  /** Synchronous label-propagation communities (Raghavan–Albert–Kumara,
    * public): every node adopts the MOST FREQUENT label among its
    * neighbors each round, ties to the smallest label — so the fixed
    * rounds are fully deterministic and an oracle can unroll them. Labels
    * start as node ids over the canonical undirected graph. Unlike the
    * min-label propagation of connected components (pure connectivity),
    * mode-voting finds DENSE blocks — community structure INSIDE one
    * component; the near-duplicate-cluster / link-farm partitioner that
    * needs no target community count.
    *
    * Per round: one label join + one (node, label) count + one per-node
    * argmax window — all key-bounded (the window partitions by node, never
    * globally); the edge list never moves.
    */
  def labelPropagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds > 0, s"rounds must be positive: $rounds")
    val e = edges
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(false)
    val sym = e.select(col("lo").as("u"), col("hi").as("v"))
      .union(e.select(col("hi").as("u"), col("lo").as("v")))
      .localCheckpoint(false)
    var lbl = sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("node")
      .orderBy(col("cnt").desc, col("lbl").asc)
    for (_ <- 1 to rounds) {
      lbl = sym.join(lbl.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("node", "lbl")
        .localCheckpoint(false)
    }
    lbl
  }

  /** Directed-graph reciprocity moments — ONE exact-integer row: how much
    * of the link graph is mutual. Reciprocity separates conversational /
    * organic link structure (high) from broadcast or spam link structure
    * (near zero), a standard first diagnostic on any crawled web graph.
    * `r = n_recip / n_edges` is one float division away; both counted
    * pieces are emitted exactly.
    *
    * Plan shape: distinct directed edges (self-loops dropped), then ONE
    * self equi-join on the reversed key to count mutual pairs — keyed,
    * never all-pairs; node count is one more key-bounded agg.
    *
    * @param edges (src, dst) Long node ids
    * @return one row (n_nodes, n_edges, n_recip, n_mutual_pairs) —
    *         n_recip counts directed edges whose reverse exists,
    *         n_mutual_pairs = n_recip / 2 unordered mutual pairs
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(false)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val recip = e.join(rev, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_recip"))
    val nodes = e.select(col("src").as("n")).union(e.select(col("dst")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    val total = e.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(total).crossJoin(recip)
      .withColumn("n_mutual_pairs", expr("n_recip DIV 2"))
  }

}
