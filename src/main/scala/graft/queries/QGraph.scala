package graft
package queries

import graft.core.{FeatureRow, GeoJson, TileRow}
import graft.functions.cells
import graft.functions.raster._
import graft.functions.spatial._
import graft.ops.Elevation
import graft.synth.TileGen
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import Fixtures._
import OracleCtes._
import OracleCtes2._

/** Graph gates: centrality, components, motifs, resilience
  * (40 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QGraph {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem").selectExpr(
        "l_orderkey % 20000 AS src",
        "(l_orderkey*7 + l_linenumber*13) % 20000 AS dst")
      ops.Graph.triangles(edges).orderBy("a", "b", "c")
    }),
    // Common-neighbor link prediction: top-50 NON-adjacent pairs by shared
    // neighbors — the triangles wedge join with an anti-joined (absent)
    // closing edge instead of a present one.,
    "graph_suggest" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem").selectExpr(
        "l_orderkey % 20000 AS src",
        "(l_orderkey*7 + l_linenumber*13) % 20000 AS dst")
      ops.Graph.commonNeighbors(edges, 50)
        .orderBy(col("cn").desc, col("a"), col("b"))
    }),
    // Resource-allocation link prediction (ops.Graph.resourceAllocation):
    // graph_suggest's wedge join with the midpoint DISCOUNTED by degree —
    // Σ floor(10⁶/deg(u)) ppm over common neighbors, so hub-mediated
    // pairs stop dominating; exact integer score, same anti-join against
    // existing edges, deterministic (ra_ppm desc, a, b) top-50.,
    "graph_resource_alloc" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem").selectExpr(
        "l_orderkey % 20000 AS src",
        "(l_orderkey*7 + l_linenumber*13) % 20000 AS dst")
      ops.Graph.resourceAllocation(edges, 50)
        .orderBy(col("ra_ppm").desc, col("a"), col("b"))
    }),
    // DBSCAN density clustering (ops.SpatialJoin.dbscan): ε-pairs from the
    // hex-disk cover join, core flags by neighbor count, clusters by
    // large-star/small-star CC, min-label border assignment — on a
    // synthetic 12-cluster + lattice-noise point set.,
    "graph_sssp" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem").selectExpr(
        "l_orderkey % 20000 AS src",
        "(l_orderkey*7 + l_linenumber*13) % 20000 AS dst",
        "l_linenumber % 5 + 1 AS w")
      ops.Graph.sssp(edges, source = 0L, rounds = 4).orderBy("node")
    }),
    // Streaming dedup (streaming.StreamOps.dedupKeys — the 4th stateful
    // streaming row): dropDuplicates on (user, type, day) through a file
    // stream, append drain == batch SELECT DISTINCT bit-for-bit.,
    "graph_bipartite" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val bip = li.selectExpr("2 * (l_suppkey % 50) AS src",
        "2 * (l_partkey % 50) + 1 AS dst")
      val odd = li.selectExpr("200 + (l_suppkey % 40) AS src",
        "200 + (l_partkey % 40) AS dst")
      ops.Graph.bipartite(bip.unionAll(odd))
        .orderBy("comp")
    }),
    // Critical-path levels in a DAG (ops.Graph.longestPathLevels): the
    // earliest wave each task of a layered dependency graph can start in
    // (longest-path depth; max level = the critical path bounding
    // wall-clock under infinite parallelism — the build/ETL scheduler
    // read). Bellman-style MAX relaxation, one edges⋈levels join + two
    // key-bounded aggs per round, rounds = graph depth (9 here: layer of
    // src = o_orderkey % 8, dst one-or-two layers up, so strictly
    // acyclic). The oracle unrolls the same 9 rounds as MATERIALIZED
    // CTEs.
    // 4-cycle / rectangle census (ops.Graph.squares): Σ C(co-neighbours,
    // 2) over node pairs div 2 — each 4-cycle counted once per diagonal.
    // The coordinated-engagement (follow-back ring) signature next to
    // graph_triangles' clustering view; ONE wedge self-join + key-bounded
    // aggs, exact integers.,
    "graph_squares" -> ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 150 AS src",
          "(l_partkey * 3 + l_linenumber) % 150 AS dst")
      ops.Graph.squares(e)
    }),
    "graph_critical_path" -> ((s, dir) => {
      val e = t(s, dir, "orders").selectExpr(
        "(o_orderkey % 8) * 100 + (o_custkey % 20) AS src",
        """((o_orderkey % 8) + 1 + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) * 100
           + ((o_custkey * 7 + o_orderkey) % 20) AS dst""")
      ops.Graph.longestPathLevels(e, rounds = 9).orderBy("node")
    }),
    "graph_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
        .distinct()
      ops.Graph.pagerank(edges, rounds = 3)
        .withColumnRenamed("rank", "pr") // dodge the RANK keyword in DuckDB
        .orderBy("node")
    }),
    // Personalized PageRank (ops.Graph.personalizedPagerank): teleport
    // mass pinned to 3 seed nodes — "importance as seen from the seeds",
    // the related-items / local-community primitive. Same exact-integer
    // recurrence as graph_pagerank; non-seed nodes hold pure damped
    // inflow, so rank localizes around the seeds.
    // Sampled-source harmonic closeness (ops.Graph.closeness): 5 seed
    // hubs BFS-swept in ONE batched frontier plan (6 exact hop rounds,
    // (src0, node)-keyed min state — k sweeps share every scan/shuffle);
    // per source the reach count, farness Σd, and harmonic closeness
    // Σ⌊10⁶/d⌋ in exact integers. The oracle unrolls the same 6 rounds.,
    "graph_closeness" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 13 === 0)
        .selectExpr("l_suppkey % 400 AS a",
          "(l_partkey * 3 + l_linenumber) % 400 AS b")
        .filter(col("a") =!= col("b"))
      val edges = base.selectExpr("a AS src", "b AS dst")
        .unionAll(base.selectExpr("b AS src", "a AS dst")).distinct()
      ops.Graph.closeness(edges, sources = Seq(0L, 80L, 160L, 240L, 320L),
          rounds = 6)
        .orderBy("src0")
    }),
    "graph_ppr" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
        .distinct()
      ops.Graph.personalizedPagerank(edges, seeds = Seq(7L, 42L, 99L),
          rounds = 3)
        .withColumnRenamed("rank", "ppr")
        .orderBy("node")
    }),
    // Parallel maximal matching (ops.Graph.handshakeMatching): 3 rounds of
    // mutual-min handshakes on the undirected part graph — the
    // record-linkage primitive that pairs every node at most once, with
    // expected-O(log n) rounds instead of a sequential greedy edge scan.,
    "graph_matching" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .selectExpr("least(l_suppkey % 500, l_partkey % 500) AS a",
          "greatest(l_suppkey % 500, l_partkey % 500) AS b")
        .filter(col("a") =!= col("b"))
      ops.Graph.handshakeMatching(edges, rounds = 3).orderBy("a", "b")
    }),
    // Deterministic walk corpus (ops.Graph.deterministicWalks): 4-hop
    // walks from the %10 seeds, next hop = hash-argmin out-neighbour —
    // the node2vec/DeepWalk corpus generator, oracle-replayable because
    // the "randomness" is a literal hash.,
    "graph_walks" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
        .distinct()
      val seeds = edges.selectExpr("src AS seed")
        .filter(col("seed") % 10 === 0).distinct()
      ops.Graph.deterministicWalks(edges, seeds, steps = 4)
        .orderBy("seed", "step")
    }),
    // Materialized-path hierarchy (CONNECT_BY_PATH / file-tree paths):
    // the 40-node n DIV 3 forest rooted at 0, every node's root-to-node
    // path string built by one frontier join per depth level (4 rounds —
    // work ∝ tree depth); DuckDB replays it as a true recursive CTE.,
    "graph_degree_mix" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.degreeMix(edges)
    }),
    // Modularity of a given partition (ops.Graph.modularity): per-community
    // exact-integer Q pieces (4·m·in_c − d_c²) over the canonical
    // undirected graph — the community-quality score for any clustering;
    // the gate evaluates a node%16 bucket partition so the oracle stays a
    // pure GROUP BY. Two edge-keyed joins against the broadcastable
    // community map, map-side-combined aggs, no iteration.,
    "graph_modularity" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      val comms = s.range(500)
        .select(col("id").as("node"), (col("id") % 16).as("comm"))
      ops.Graph.modularity(edges, comms).orderBy("comm")
    }),
    // Per-node clustering coefficient pieces (ops.Graph.clusteringCoeff):
    // (deg, tri_cnt, wedges) in exact integers over the 20000-node wedge
    // graph — the link-farm / community discriminator; triangles' wedge
    // join + per-corner fan-out, both key-bounded.,
    "graph_clustering" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem").selectExpr(
        "l_orderkey % 20000 AS src",
        "(l_orderkey*7 + l_linenumber*13) % 20000 AS dst")
      ops.Graph.clusteringCoeff(edges).orderBy("node")
    }),
    // Per-edge triangle support (ops.Graph.trussSupport): the k-truss
    // peeling primitive — |N(u)∩N(v)| per edge, the community-core signal
    // a star-shaped link farm cannot fake (hub edges all have support 0).
    // Same wedge join as graph_clustering, fan-out to the 3 canonical
    // edges, zero-support edges restored by one left join.,
    "graph_truss" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem").selectExpr(
        "l_orderkey % 20000 AS src",
        "(l_orderkey*7 + l_linenumber*13) % 20000 AS dst")
      ops.Graph.trussSupport(edges).orderBy("lo", "hi")
    }),
    // Bipartite projection with hub pruning (ops.Graph.biproject): the
    // co-occurrence graph minted from (customer, order-bucket) interaction
    // edges — users over maxDegree=40 distinct items are dropped BEFORE
    // the user-keyed pair self-join (quadratic hub fan-out is the scale
    // hazard of projection), pairs sharing >=2 users survive.,
    "graph_biproject" -> ((s, dir) => {
      val edges = t(s, dir, "orders").selectExpr(
        "o_custkey % 400 AS src", "o_orderkey % 300 AS dst")
      ops.Graph.biproject(edges, maxDegree = 40L, minWeight = 2L)
        .orderBy("item_a", "item_b")
    }),
    // Reciprocity moments (ops.Graph.reciprocity): the mutual-link share
    // of a directed 500-node graph as ONE exact row — organic-vs-broadcast
    // link structure; one reversed-key semi-join, never all-pairs.,
    "graph_reciprocity" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem").selectExpr(
        "l_suppkey % 500 AS src", "(l_partkey * 3 + l_linenumber) % 500 AS dst")
      ops.Graph.reciprocity(edges)
    }),
    // k-core decomposition (ops.Graph.kcore): fixed-round peeling to the
    // maximal min-degree->=k subgraph — the link-farm / dense-community
    // filter of web-graph curation. Each round is two node-keyed
    // semi-joins + one degree count over an edge list that never moves;
    // the oracle unrolls the same 4 rounds as CTEs.,
    "graph_kcore" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.kcore(edges, k = 18, rounds = 4).orderBy("node")
    }),
    // HITS hubs-and-authorities (ops.Graph.hits): 3 exact fixed-point
    // rounds in ppm integers over the supplier→part graph — the
    // curator-vs-content separation PageRank's single score cannot make.
    // Per round: two edge joins + two key-bounded sums + one broadcast L1
    // total; the edge list never moves. The oracle unrolls the identical
    // rounds as CTEs (truncating // division = Spark's DIV on non-negative
    // scores).,
    "graph_hits" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.hits(edges, rounds = 3).orderBy("node")
    }),
    // Label-propagation communities (ops.Graph.labelPropagate): 3 fully
    // deterministic mode-vote sweeps (ties → smallest label) over the
    // canonical undirected 500-node graph — DENSE-block structure inside
    // one component, where min-label CC only sees connectivity. Per round
    // one label join + one (node,label) count + one node-keyed argmax
    // window; the oracle unrolls the identical rounds with QUALIFY.,
    "graph_labelprop" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.labelPropagate(edges, rounds = 3).orderBy("node")
    }),
    // Two-hop reach census (ops.Graph.twoHop): direct degree + exact
    // friend-of-friend audience per node — wedge join, self/direct
    // removed by one filter + one key anti-join, Σdeg² bounded. The
    // influence-radius primitive next to triangles/suggest.,
    "graph_twohop" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.twoHop(edges).orderBy("node")
    }),
    // Minimum spanning forest (ops.Graph.boruvkaMsf): Borůvka rounds —
    // per-component cheapest-edge picks + star-CC contraction, ≤ log₂|V|
    // rounds, the distributed MST next to sssp/labelprop. wkey composes
    // the weight with the canonical pair id in the low 12 bits, so
    // weights are DISTINCT and the forest unique; the oracle replays the
    // cycle property (edge ∈ MSF iff its far endpoint is unreachable via
    // strictly lighter edges) as ONE recursive reachability.,
    "graph_mst" -> ((s, dir) => {
      val edges = t(s, dir, "supplier").selectExpr(
        "s_suppkey % 64 AS src",
        "(s_suppkey * 13 + 7) % 64 AS dst",
        "(s_suppkey % 97) * 4096 + least(s_suppkey % 64, (s_suppkey * 13 + 7) % 64) * 64 + greatest(s_suppkey % 64, (s_suppkey * 13 + 7) % 64) AS wkey")
      ops.Graph.boruvkaMsf(edges).orderBy("a", "b")
    }),
    // Core decomposition by h-index iteration (ops.Graph.corenessHIndex):
    // 8 rounds of "h(v) ← h-index of neighbor values" starting from
    // degree — monotone to the exact coreness (Lü et al. 2016), each round
    // key-bounded join + rank window + max-agg; `stable` certifies the
    // fixpoint. The density layer under graph_kcore's fixed-k membership.,
    "graph_coreness" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.corenessHIndex(edges, rounds = 8).orderBy("node")
    }),
    // Sampled truncated-radius betweenness (ops.Graph.betweennessSampled):
    // Brandes forward path counts + backward dependency accumulation from
    // 3 sources within 4 hops, every σ ratio floored per term at ppm —
    // the bridge-detection centrality next to closeness/pagerank; oracle
    // unrolls both phases.,
    "graph_betweenness" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.betweennessSampled(edges, Seq(0L, 1L, 2L), rounds = 4)
        .orderBy("node")
    }),
    // BFS wavefront profile (ops.Graph.bfsProfile): per sampled source the
    // node count at each hop ≤ 4 — the expansion-rate read that sizes
    // frontier algorithms; forward phase of graph_betweenness without
    // path counts.,
    "graph_bfs_profile" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.bfsProfile(edges, Seq(0L, 1L, 2L), rounds = 4)
        .orderBy("src", "dist")
    }),
    // 1-D Earth Mover's Distance between epoch level histograms:
    // EMD = Σ|cdf_A − cdf_B| exact over the union of occupied levels —
    // the distribution-shift metric a radiometric-consistency gate uses
    // (stronger than mean/variance diffs, no optimization needed in 1-D).,
    "graph_conductance" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      val comp = ops.Graph.labelPropagate(edges, rounds = 3)
      val und = edges.filter(col("src") =!= col("dst"))
        .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
        .distinct()
      val deg = und.selectExpr("a AS u").unionAll(und.selectExpr("b AS u"))
        .groupBy("u").agg(count(lit(1)).as("d"))
      val tagged = und
        .join(comp.select(col("node").as("a"), col("lbl").as("la")),
          Seq("a"))
        .join(comp.select(col("node").as("b"), col("lbl").as("lb")),
          Seq("b"))
      val cut = tagged.filter(col("la") =!= col("lb"))
        .select(col("la").as("lbl"))
        .unionAll(tagged.filter(col("la") =!= col("lb"))
          .select(col("lb").as("lbl")))
        .groupBy("lbl").agg(count(lit(1)).as("cut"))
      val internal = tagged.filter(col("la") === col("lb"))
        .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("internal"))
      val vol = comp.join(deg.select(col("u").as("node"), col("d")),
          Seq("node"))
        .groupBy("lbl").agg(count(lit(1)).as("n_nodes"),
          sum("d").as("vol"))
      val m2 = und.agg((count(lit(1)) * 2).as("deg_total"))
      vol.join(cut, Seq("lbl"), "left").join(internal, Seq("lbl"), "left")
        .crossJoin(broadcast(m2))
        .withColumn("cut", coalesce(col("cut"), lit(0L)))
        .withColumn("internal", coalesce(col("internal"), lit(0L)))
        .withColumn("conduct_ppm", expr(
          "CASE WHEN least(vol, deg_total - vol) = 0 THEN 0L " +
            "ELSE cut * 1000000 DIV least(vol, deg_total - vol) END"))
        .select("lbl", "n_nodes", "vol", "internal", "cut",
          "conduct_ppm")
        .orderBy("lbl")
    }),
    // Clark–Evans nearest-neighbour pieces: per-point exact NN d², the
    // milli-floored NN distance sum (sqrt is the same IEEE double both
    // engines) and the bbox extent — everything the aggregation-index
    // R = d̄_obs/d̄_exp needs, no float accumulation anywhere.,
    "graph_motif_census" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.motifCensus(edges)
    }),
    // Corridor-compliance audit (ops.Trajectory.corridorAudit): per fix an
    // exact integer point-to-segment radius test against the literal
    // reference polyline (regionized, cross-multiplied — no division),
    // rolled up per trajectory with first/last violation. The
    // route-adherence QA next to traj_speed's teleport flags.,
    "graph_component_hist" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 31 === 0)
        .selectExpr("(l_suppkey * 131) % 3000 AS doc_a",
          "l_partkey % 3000 AS doc_b")
      val nodes = edges.selectExpr("doc_a AS doc_id")
        .union(edges.selectExpr("doc_b AS doc_id")).distinct()
      ops.TextDedup.connectedComponentsStar(edges, nodes)
        .groupBy("comp").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_components"))
        .withColumn("n_nodes", col("csize") * col("n_components"))
        .orderBy("csize")
    }),
    // Per-dimension variance ranking (the matryoshka/feature-selection
    // read): exact integer moments per embedding dimension, variance
    // numerator n·Σx²−(Σx)², rank by it — which dims carry the signal.,
    "graph_random_failure" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 31 === 0)
        .selectExpr("(l_suppkey * 131) % 3000 AS doc_a",
          "l_partkey % 3000 AS doc_b")
        .filter(col("doc_a") =!= col("doc_b"))
      val nodes = edges.selectExpr("doc_a AS doc_id")
        .union(edges.selectExpr("doc_b AS doc_id")).distinct()
      val removed = nodes.filter(col("doc_id") % 5 === 0)
      val lccBefore = ops.TextDedup.connectedComponentsStar(edges, nodes)
        .groupBy("comp").agg(count(lit(1)).as("sz"))
        .agg(max("sz").as("lcc_before"))
      val edges2 = edges
        .join(removed.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"),
          "left_anti")
        .join(removed.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"),
          "left_anti")
      val nodes2 = nodes.join(removed, Seq("doc_id"), "left_anti")
      val lccAfter = ops.TextDedup.connectedComponentsStar(edges2, nodes2)
        .groupBy("comp").agg(count(lit(1)).as("sz"))
        .agg(max("sz").as("lcc_after"))
      nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(removed.agg(count(lit(1)).as("n_removed")))
        .crossJoin(lccBefore).crossJoin(lccAfter)
        .withColumn("drop_ppm", expr(
          "(lcc_before - lcc_after) * 1000000 DIV lcc_before"))
    }),
    "graph_core_shells" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.corenessHIndex(edges, rounds = 8)
        .groupBy(col("coreness"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("stable"), 1L).otherwise(0L)).as("n_stable"))
        .orderBy("coreness")
    }),
    // Greedy quality-first budget fill: docs ranked (quality desc, id),
    // kept while the running token total stays ≤ 100k — the selection
    // policy curation_budget's arrival-order fill doesn't give; one
    // global rank window over metadata-size rows.,
    "graph_attack_resilience" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 31 === 0)
        .selectExpr("(l_suppkey * 131) % 3000 AS doc_a",
          "l_partkey % 3000 AS doc_b")
        .filter(col("doc_a") =!= col("doc_b"))
      val nodes = edges.selectExpr("doc_a AS doc_id")
        .union(edges.selectExpr("doc_b AS doc_id")).distinct()
      val und = edges.selectExpr("least(doc_a, doc_b) AS a",
        "greatest(doc_a, doc_b) AS b").distinct()
      val deg = und.selectExpr("a AS u").unionAll(und.selectExpr("b AS u"))
        .groupBy("u").agg(count(lit(1)).as("d"))
      // top-5 hubs via distributed TakeOrdered, not a global rank window
      val hubs = deg.orderBy(col("d").desc, col("u")).limit(5)
        .select(col("u").as("doc_id"))
      val lccBefore = ops.TextDedup.connectedComponentsStar(edges, nodes)
        .groupBy("comp").agg(count(lit(1)).as("sz"))
        .agg(max("sz").as("lcc_before"))
      val edges2 = edges
        .join(hubs.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"),
          "left_anti")
        .join(hubs.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"),
          "left_anti")
      val nodes2 = nodes.join(hubs, Seq("doc_id"), "left_anti")
      val lccAfter = ops.TextDedup.connectedComponentsStar(edges2, nodes2)
        .groupBy("comp").agg(count(lit(1)).as("sz"))
        .agg(max("sz").as("lcc_after"))
      nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(lccBefore).crossJoin(lccAfter)
        .withColumn("drop_ppm", expr(
          "(lcc_before - lcc_after) * 1000000 DIV lcc_before"))
    }),
    // Canonical-selection quality: per dedup cluster (size ≥ 2), does the
    // KEPT representative (min doc_id) carry the cluster's maximum
    // n_chars? The keep-policy audit over dedup_cluster_keep.,
    "graph_mst_weight_share" -> ((s, dir) => {
      val edges = t(s, dir, "supplier").selectExpr(
        "s_suppkey % 64 AS src",
        "(s_suppkey * 13 + 7) % 64 AS dst",
        "(s_suppkey % 97) * 4096 + least(s_suppkey % 64, (s_suppkey * 13 + 7) % 64) * 64 + greatest(s_suppkey % 64, (s_suppkey * 13 + 7) % 64) AS wkey")
      val und = edges.filter(col("src") =!= col("dst"))
        .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b",
          "wkey")
        .groupBy("a", "b").agg(min("wkey").as("wkey"))
      val msf = ops.Graph.boruvkaMsf(edges)
      msf.agg(count(lit(1)).as("msf_edges"),
          sum("wkey").as("msf_weight"))
        .crossJoin(und.agg(count(lit(1)).as("total_edges"),
          sum("wkey").as("total_weight")))
        .withColumn("share_ppm",
          expr("msf_weight * 1000000 DIV total_weight"))
    }),
    // Assignment stability under perturbation: every vector re-assigned
    // after the semCorpus ±0.001 per-dim shift — the index-maintenance
    // churn read (how often must postings move when embeddings refresh);
    // per trained centroid the churn ppm.,
    "graph_edge_betweenness" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      // top-20 via distributed TakeOrdered first; the rank window then
      // runs over a provably-20-row frame
      ops.Graph.edgeBetweennessSampled(edges, Seq(0L, 1L, 2L), rounds = 4)
        .orderBy(col("ebc_ppm").desc, col("a"), col("b")).limit(20)
        .withColumn("rk", row_number().over(
          Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("ebc_ppm"))).orderBy(col("ebc_ppm").desc, col("a"), col("b")))
          .cast("int"))
        .orderBy("rk")
    }),
    "graph_cyclomatic" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 31 === 0)
        .selectExpr("(l_suppkey * 131) % 3000 AS doc_a",
          "l_partkey % 3000 AS doc_b")
      val nodes = edges.selectExpr("doc_a AS doc_id")
        .union(edges.selectExpr("doc_b AS doc_id")).distinct()
      val und = edges.filter(col("doc_a") =!= col("doc_b"))
        .selectExpr("least(doc_a, doc_b) AS a",
          "greatest(doc_a, doc_b) AS b").distinct()
      val comps = ops.TextDedup.connectedComponentsStar(edges, nodes)
        .agg(countDistinct("comp").as("n_components"))
      und.agg(count(lit(1)).as("m"))
        .crossJoin(nodes.agg(count(lit(1)).as("n")))
        .crossJoin(comps)
        .withColumn("cyclomatic", expr("m - n + n_components"))
    }),
    // Double-fire telemetry audit: adjacent same-user events with equal
    // type and cents within 1 s — the client-retry / duplicate-ingestion
    // QA; one lag window.,
    "graph_small_world" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      val mot = ops.Graph.motifCensus(edges)
        .select("n_edges", "wedges", "n_triangles")
      val path = ops.Graph.bfsProfile(edges, Seq(0L, 1L, 2L), rounds = 4)
        .filter(col("dist") > 0)
        .agg(sum(expr("dist * n_nodes")).as("sum_dist"),
          sum("n_nodes").as("n_reached"))
      mot.crossJoin(path)
        .withColumn("transitivity_ppm",
          expr("3 * n_triangles * 1000000 DIV wedges"))
        .withColumn("avg_path_milli",
          expr("sum_dist * 1000 DIV n_reached"))
    }),
    // Median-threshold mask sensitivity: foreground counts at the median
    // level ±1 — how much the mask moves per threshold step (the
    // robustness read behind any fixed-threshold mask op).,
    "graph_degree_gini" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      val und = edges.filter(col("src") =!= col("dst"))
        .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
        .distinct()
      val deg = und.selectExpr("a AS u").unionAll(und.selectExpr("b AS u"))
        .groupBy("u").agg(count(lit(1)).as("d"))
      // node-scaled rows: exact rank i via the range-partitioned
      // two-phase row_number (ops.GlobalRank)
      val ranked = ops.GlobalRank.withRowNumber(deg, "i",
        Seq(col("d"), col("u")))
      ranked.agg(count(lit(1)).as("n"), sum("d").as("sum_d"),
          sum(expr("(2 * i - 1) * d")).as("wsum"))
        .withColumn("gini_num", expr("wsum - n * sum_d"))
        .withColumn("gini_den", expr("n * sum_d"))
        .withColumn("gini_milli", expr("gini_num * 1000 DIV gini_den"))
    }),
    // Embedding-norm histogram (the representation-health QC): exact
    // integer milli-norm² per vector bucketed at 10⁶ — collapsed or
    // bimodal norm mass flags a broken encoder before any ANN build.,
    "graph_bowtie" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 23 === 0)
        .selectExpr("(l_suppkey * 13 + l_orderkey) % 1000 AS src",
          "(l_partkey * 7 + l_linenumber) % 1000 AS dst")
      ops.Graph.bowtie(edges, pivot = 1L).orderBy("component")
    }),
    // Spearman rank correlation between daily-count series of event-type
    // pairs: exact integer sum of squared rank differences on common days
    // (ties broken by day, so both engines rank identically), rho in
    // milli by cross-multiplied floor division.,
    "graph_temporal_reach" -> ((s, dir) => {
      val edges = t(s, dir, "orders").selectExpr(
        "o_custkey % 300 AS u", "(o_custkey * 7 + o_orderkey) % 300 AS v",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS t")
      ops.Graph.temporalReach(edges, pivot = 1L).orderBy("node")
    }),
    "graph_voterank" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.voteRank(edges, k = 4).orderBy("round")
    }),
  )

  val sql: Map[String, String] = Map(
    "graph_triangles" ->
      """WITH e0 AS (SELECT DISTINCT
           greatest(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS hi,
           least(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS lo
           FROM lineitem
           WHERE l_orderkey % 20000 <> (l_orderkey*7 + l_linenumber*13) % 20000)
         SELECT CAST(e1.lo AS BIGINT) AS a, CAST(e1.hi AS BIGINT) AS b,
           CAST(e2.hi AS BIGINT) AS c
         FROM e0 e1 JOIN e0 e2 ON e2.lo = e1.hi
         JOIN e0 e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
         ORDER BY a, b, c""",
    "graph_suggest" ->
      """WITH e AS (SELECT DISTINCT
           greatest(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS hi,
           least(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS lo
           FROM lineitem
           WHERE l_orderkey % 20000 <> (l_orderkey*7 + l_linenumber*13) % 20000),
         adj AS (SELECT lo AS u, hi AS v FROM e
                 UNION ALL SELECT hi AS u, lo AS v FROM e),
         c AS (SELECT l.v AS a, r.v AS b, CAST(count(*) AS BIGINT) AS cn
               FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
               GROUP BY l.v, r.v)
         SELECT CAST(c.a AS BIGINT) AS a, CAST(c.b AS BIGINT) AS b, cn
         FROM c LEFT JOIN e ON c.a = e.lo AND c.b = e.hi
         WHERE e.lo IS NULL
         ORDER BY cn DESC, a, b LIMIT 50""",
    // the same wedge join with the midpoint's degree discount in exact ppm,
    "graph_resource_alloc" ->
      """WITH e AS (SELECT DISTINCT
           greatest(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS hi,
           least(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS lo
           FROM lineitem
           WHERE l_orderkey % 20000 <> (l_orderkey*7 + l_linenumber*13) % 20000),
         adj AS (SELECT lo AS u, hi AS v FROM e
                 UNION ALL SELECT hi AS u, lo AS v FROM e),
         deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1),
         w AS (SELECT l.v AS a, r.v AS b,
               CAST(1000000 AS BIGINT) // d.deg AS contrib
               FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
               JOIN deg d ON d.u = l.u),
         c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
               CAST(sum(contrib) AS BIGINT) AS ra_ppm
               FROM w GROUP BY 1, 2)
         SELECT CAST(c.a AS BIGINT) AS a, CAST(c.b AS BIGINT) AS b, cn, ra_ppm
         FROM c LEFT JOIN e ON c.a = e.lo AND c.b = e.hi
         WHERE e.lo IS NULL
         ORDER BY ra_ppm DESC, a, b LIMIT 50""",
    "graph_sssp" -> {
      val rounds = (1 to 4).map { i =>
        s"""d$i AS (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d${i - 1}
           UNION ALL
           SELECT e.dst AS node, d${i - 1}.dist + e.w AS dist
           FROM d${i - 1} JOIN e ON e.src = d${i - 1}.node) GROUP BY node)"""
      }.mkString(",\n         ")
      s"""WITH e AS (SELECT l_orderkey % 20000 AS src,
           (l_orderkey*7 + l_linenumber*13) % 20000 AS dst,
           l_linenumber % 5 + 1 AS w FROM lineitem),
         d0(node, dist) AS (SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
         $rounds
         SELECT node, dist FROM d4 ORDER BY node"""
    },
    "graph_bipartite" ->
      """WITH RECURSIVE li AS (
           SELECT 2 * (l_suppkey % 50) AS src, 2 * (l_partkey % 50) + 1 AS dst FROM lineitem
           UNION ALL
           SELECT 200 + (l_suppkey % 40), 200 + (l_partkey % 40) FROM lineitem),
         e AS (SELECT DISTINCT src AS a, dst AS b FROM li WHERE src <> dst),
         nodes AS (SELECT DISTINCT a AS n FROM e UNION SELECT DISTINCT b FROM e),
         reach(node, other) AS (
           SELECT n, n FROM nodes
           UNION
           SELECT r.node, CASE WHEN e.a = r.other THEN e.b ELSE e.a END
           FROM reach r JOIN e ON e.a = r.other OR e.b = r.other),
         uc AS (SELECT node, min(other) AS comp FROM reach GROUP BY 1),
         de AS (SELECT 2*a AS a, 2*b+1 AS b FROM e UNION ALL SELECT 2*a+1, 2*b FROM e),
         dn AS (SELECT 2*n AS n FROM nodes UNION ALL SELECT 2*n+1 FROM nodes),
         dreach(node, other) AS (
           SELECT n, n FROM dn
           UNION
           SELECT r.node, CASE WHEN de.a = r.other THEN de.b ELSE de.a END
           FROM dreach r JOIN de ON de.a = r.other OR de.b = r.other),
         dc AS (SELECT node, min(other) AS comp FROM dreach GROUP BY 1),
         confl AS (SELECT node // 2 AS n, count(DISTINCT comp) = 1 AS odd
           FROM dc GROUP BY 1)
         SELECT uc.comp, CAST(count(*) AS BIGINT) AS n_nodes,
           max(CASE WHEN confl.odd THEN 1 ELSE 0 END) = 0 AS is_bipartite
         FROM uc JOIN confl ON confl.n = uc.node
         GROUP BY 1 ORDER BY comp""",
    // one wedge self-join, Σ C(n,2) per diagonal pair, div 2,
    "graph_squares" ->
      """WITH base AS (SELECT l_suppkey % 150 AS src,
           (l_partkey * 3 + l_linenumber) % 150 AS dst
           FROM lineitem WHERE l_orderkey % 7 = 0),
         und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
           FROM base WHERE src <> dst),
         d AS (SELECT a AS u, b AS m FROM und UNION ALL SELECT b, a FROM und),
         co AS (SELECT l.u AS x, r.u AS y, count(*) AS n
           FROM d l JOIN d r ON l.m = r.m AND l.u < r.u GROUP BY 1, 2)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
           CAST(max(n) AS BIGINT) AS max_copairs,
           CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_diag_pairs,
           CAST(sum(n * (n - 1) // 2) // 2 AS BIGINT) AS n_squares
         FROM co""",
    // 9 unrolled MAX-relaxation rounds; MATERIALIZED so a9's expansion
    // doesn't re-read the orders parquet exponentially many times,
    "graph_critical_path" -> {
      val rounds = (1 to 9).map { k =>
        s"""a$k AS MATERIALIZED (
             SELECT n.node, GREATEST(n.lvl, coalesce(c.m, CAST(0 AS BIGINT))) AS lvl
             FROM a${k - 1} n LEFT JOIN (
               SELECT e.dst AS node, max(a.lvl) + 1 AS m
               FROM e JOIN a${k - 1} a ON a.node = e.src GROUP BY 1) c
             ON c.node = n.node)"""
      }.mkString(",\n         ")
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT
           (o_orderkey % 8) * 100 + (o_custkey % 20) AS src,
           ((o_orderkey % 8) + 1 + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) * 100
             + ((o_custkey * 7 + o_orderkey) % 20) AS dst
           FROM orders WHERE (o_orderkey % 8) * 100 + (o_custkey % 20) <>
             ((o_orderkey % 8) + 1 + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) * 100
             + ((o_custkey * 7 + o_orderkey) % 20)),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         a0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS lvl FROM nodes),
         $rounds
         SELECT node, lvl FROM a9 ORDER BY node"""
    },
    "graph_pagerank" -> pagerankOracleSql,
    "graph_closeness" -> {
      val rounds = (1 to 6).map { i =>
        s"""d$i AS (SELECT src0, node, min(dist) AS dist FROM (
           SELECT src0, node, dist FROM d${i - 1}
           UNION ALL
           SELECT d${i - 1}.src0, e.dst AS node, d${i - 1}.dist + 1 AS dist
           FROM d${i - 1} JOIN e ON e.src = d${i - 1}.node) GROUP BY 1, 2)"""
      }.mkString(",\n         ")
      s"""WITH b AS (SELECT l_suppkey % 400 AS a,
             (l_partkey * 3 + l_linenumber) % 400 AS b
           FROM lineitem WHERE l_orderkey % 13 = 0),
         e AS (SELECT DISTINCT src, dst FROM (
           SELECT a AS src, b AS dst FROM b WHERE a <> b
           UNION ALL
           SELECT b AS src, a AS dst FROM b WHERE a <> b)),
         d0(src0, node, dist) AS (
           SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), CAST(0 AS BIGINT)
           FROM (VALUES (0), (80), (160), (240), (320)) t(s)),
         $rounds
         SELECT src0, CAST(count(*) AS BIGINT) AS n_reach,
           CAST(sum(dist) AS BIGINT) AS hop_sum,
           CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_q
         FROM d6 WHERE dist > 0 GROUP BY src0 ORDER BY src0"""
    },
    // 3 unrolled mutual-min handshake rounds; matched endpoints drop out,
    "graph_ppr" -> pprOracleSql,
    // 3-step behavioural paths via two leads, global top-10,
    "graph_matching" -> {
      val rounds = (1 to 3).map { r =>
        s"""p$r AS (SELECT a, b FROM (SELECT *,
            row_number() OVER (PARTITION BY a ORDER BY h, b) AS ra,
            row_number() OVER (PARTITION BY b ORDER BY h, a) AS rb
          FROM l${r - 1}) WHERE ra = 1 AND rb = 1),
         t$r AS (SELECT a AS n FROM p$r UNION SELECT b FROM p$r),
         l$r AS (SELECT * FROM l${r - 1}
           WHERE a NOT IN (SELECT n FROM t$r) AND b NOT IN (SELECT n FROM t$r))"""
      }.mkString(",\n         ")
      val out = (1 to 3).map(r => s"SELECT a, b, $r AS round FROM p$r")
        .mkString("\n         UNION ALL ")
      s"""WITH e0 AS (SELECT DISTINCT least(l_suppkey % 500, l_partkey % 500) AS a,
           greatest(l_suppkey % 500, l_partkey % 500) AS b FROM lineitem
           WHERE least(l_suppkey % 500, l_partkey % 500) <> greatest(l_suppkey % 500, l_partkey % 500)),
         l0 AS (SELECT a, b, (a * 7919 + b * 104729) % 999983 AS h FROM e0),
         $rounds
         SELECT a, b, CAST(round AS INT) AS round FROM ($out)
         ORDER BY a, b"""
    },
    "graph_walks" -> {
      val hops = (1 to 4).map { k =>
        s"""w$k AS (SELECT seed, $k AS step, dst AS node FROM (
            SELECT w.seed, e.dst, row_number() OVER (PARTITION BY w.seed
              ORDER BY (w.node * 1009 + $k * 131 + e.dst * 7919) % 104729, e.dst) AS rn
            FROM w${k - 1} w JOIN e ON e.src = w.node) WHERE rn = 1)"""
      }.mkString(",\n         ")
      val out = (0 to 4).map(k => s"SELECT seed, step, node FROM w$k")
        .mkString("\n         UNION ALL ")
      s"""WITH e AS (SELECT DISTINCT l_suppkey % 500 AS src,
           l_partkey % 500 AS dst FROM lineitem),
         s0 AS (SELECT DISTINCT src AS seed FROM e WHERE src % 10 = 0),
         w0 AS (SELECT seed, 0 AS step, seed AS node FROM s0),
         $hops
         SELECT seed, CAST(step AS INT) AS step, node
         FROM ($out) ORDER BY seed, step"""
    },
    // recursive path materialization down the n//3 forest,
    "graph_degree_mix" ->
      """WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
         FROM lineitem WHERE l_orderkey % 7 = 0),
         e2 AS (SELECT hi, lo FROM e WHERE hi <> lo),
         sym AS (SELECT lo AS u, hi AS v FROM e2
                 UNION ALL SELECT hi AS u, lo AS v FROM e2),
         deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
                 FROM sym GROUP BY 1),
         t AS (SELECT a.d AS du, b.d AS dv FROM sym
               JOIN deg a ON a.node = sym.u JOIN deg b ON b.node = sym.v),
         s AS (SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(du) AS BIGINT) AS sx,
             CAST(sum(du * dv) AS BIGINT) AS sxy,
             CAST(sum(du * du) AS BIGINT) AS sxx FROM t)
         SELECT m, sx, sxy, sxx,
           CAST(m * sxy - sx * sx AS BIGINT) AS num,
           CAST(m * sxx - sx * sx AS BIGINT) AS den
         FROM s""",
    // same canonical graph; given partition = node % 16; per-community
    // exact-integer modularity pieces,
    "graph_modularity" ->
      """WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
         FROM lineitem WHERE l_orderkey % 7 = 0),
         e2 AS (SELECT hi, lo FROM e WHERE hi <> lo),
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e2),
         cm AS (SELECT range AS node, range % 16 AS comm FROM range(0,500)),
         sym AS (SELECT lo AS node FROM e2 UNION ALL SELECT hi AS node FROM e2),
         dc AS (SELECT c.comm, CAST(count(*) AS BIGINT) AS deg_sum,
             CAST(count(DISTINCT s.node) AS BIGINT) AS n_nodes
           FROM sym s JOIN cm c USING (node) GROUP BY 1),
         ie AS (SELECT cl.comm AS comm, CAST(count(*) AS BIGINT) AS in_edges
           FROM e2 JOIN cm cl ON cl.node = e2.lo JOIN cm ch ON ch.node = e2.hi
           WHERE cl.comm = ch.comm GROUP BY 1)
         SELECT dc.comm, dc.n_nodes,
           CAST(coalesce(ie.in_edges, 0) AS BIGINT) AS in_edges,
           dc.deg_sum, mm.m,
           CAST(4*mm.m*coalesce(ie.in_edges, 0) - dc.deg_sum*dc.deg_sum AS BIGINT) AS qnum
         FROM dc LEFT JOIN ie USING (comm) CROSS JOIN mm ORDER BY dc.comm""",
    // the triangle-enumeration graph; per-node triangle counts from the
    // 3-corner fan-out, wedges = deg*(deg-1)/2 exact,
    "graph_clustering" ->
      """WITH e0 AS (SELECT DISTINCT
           greatest(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS hi,
           least(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS lo
           FROM lineitem
           WHERE l_orderkey % 20000 <> (l_orderkey*7 + l_linenumber*13) % 20000),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
           (SELECT lo AS node FROM e0 UNION ALL SELECT hi FROM e0) GROUP BY 1),
         t AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c FROM e0 e1
           JOIN e0 e2 ON e2.lo = e1.hi JOIN e0 e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
         tn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri_cnt FROM
           (SELECT a AS node FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t) GROUP BY 1)
         SELECT CAST(deg.node AS BIGINT) AS node, deg.deg,
           CAST(coalesce(tn.tri_cnt, 0) AS BIGINT) AS tri_cnt,
           CAST(deg.deg * (deg.deg - 1) // 2 AS BIGINT) AS wedges
         FROM deg LEFT JOIN tn USING (node) ORDER BY node""",
    // same canonical edge family; each triangle credits its 3 canonical
    // edges, zero-support edges restored by the left join,
    "graph_truss" ->
      """WITH e0 AS (SELECT DISTINCT
           greatest(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS hi,
           least(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS lo
           FROM lineitem
           WHERE l_orderkey % 20000 <> (l_orderkey*7 + l_linenumber*13) % 20000),
         t AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c FROM e0 e1
           JOIN e0 e2 ON e2.lo = e1.hi JOIN e0 e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
         s AS (SELECT lo, hi, CAST(count(*) AS BIGINT) AS support FROM
           (SELECT a AS lo, b AS hi FROM t
            UNION ALL SELECT b AS lo, c AS hi FROM t
            UNION ALL SELECT a AS lo, c AS hi FROM t) GROUP BY 1, 2)
         SELECT CAST(e0.lo AS BIGINT) AS lo, CAST(e0.hi AS BIGINT) AS hi,
           CAST(coalesce(s.support, 0) AS BIGINT) AS support
         FROM e0 LEFT JOIN s USING (lo, hi) ORDER BY lo, hi""",
    // degree prune first, then the user-keyed pair self-join,
    "graph_biproject" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey % 400 AS src, o_orderkey % 300 AS dst FROM orders),
         keep AS (SELECT src FROM e0 GROUP BY src HAVING count(*) <= 40),
         k AS (SELECT e0.src, e0.dst FROM e0 JOIN keep USING (src)),
         p AS (SELECT a.dst AS item_a, b.dst AS item_b
           FROM k a JOIN k b ON a.src = b.src AND a.dst < b.dst)
         SELECT CAST(item_a AS BIGINT) AS item_a, CAST(item_b AS BIGINT) AS item_b,
           CAST(count(*) AS BIGINT) AS w
         FROM p GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY item_a, item_b""",
    // distinct directed edges, reversed-key semi-join for the mutual count,
    "graph_reciprocity" ->
      """WITH e0 AS (SELECT DISTINCT l_suppkey % 500 AS src,
           (l_partkey * 3 + l_linenumber) % 500 AS dst FROM lineitem
           WHERE l_suppkey % 500 <> (l_partkey * 3 + l_linenumber) % 500),
         r AS (SELECT CAST(count(*) AS BIGINT) AS n_recip FROM e0
           WHERE EXISTS (SELECT 1 FROM e0 x WHERE x.src = e0.dst AND x.dst = e0.src)),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM
           (SELECT src AS v FROM e0 UNION SELECT dst FROM e0)),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0)
         SELECT n_nodes, n_edges, n_recip,
           CAST(n_recip // 2 AS BIGINT) AS n_mutual_pairs
         FROM n, t, r""",
    "graph_kcore" -> kcoreOracleSql,
    "graph_hits" -> hitsOracleSql,
    "graph_labelprop" -> labelpropOracleSql,
    "graph_twohop" -> twoHopOracleSql,
    // unique-weight MSF by the cycle property: an edge is in the forest
    // iff its far endpoint is NOT reachable from the near one using
    // strictly lighter edges — one recursive reachability keyed by edge,
    "graph_mst" ->
      """WITH RECURSIVE raw AS (SELECT s_suppkey % 64 AS src,
           (s_suppkey * 13 + 7) % 64 AS dst,
           (s_suppkey % 97) * 4096
             + least(s_suppkey % 64, (s_suppkey * 13 + 7) % 64) * 64
             + greatest(s_suppkey % 64, (s_suppkey * 13 + 7) % 64) AS wkey
           FROM supplier),
         e AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             min(wkey) AS wkey
           FROM raw WHERE src <> dst GROUP BY 1, 2),
         r(a0, b0, w0, node) AS (
           SELECT a, b, wkey, a FROM e
           UNION
           SELECT r.a0, r.b0, r.w0,
             CASE WHEN g.a = r.node THEN g.b ELSE g.a END
           FROM r JOIN e g ON (g.a = r.node OR g.b = r.node)
             AND g.wkey < r.w0)
         SELECT CAST(e.a AS BIGINT) AS a, CAST(e.b AS BIGINT) AS b,
           CAST(e.wkey AS BIGINT) AS wkey
         FROM e WHERE NOT EXISTS (SELECT 1 FROM r
           WHERE r.a0 = e.a AND r.b0 = e.b AND r.node = e.b)
         ORDER BY a, b""",
    // degree start + 8 unrolled h-index rounds; stable = last two agree,
    "graph_coreness" -> {
      val rounds = (1 to 8).map(corenessRoundCte).mkString(",\n         ")
      s"""WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
           FROM lineitem WHERE l_orderkey % 7 = 0
             AND l_suppkey % 500 <> l_partkey % 500),
         sym AS (SELECT hi AS u, lo AS v FROM e
           UNION ALL SELECT lo, hi FROM e),
         h0 AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS h
           FROM sym GROUP BY 1),
         $rounds
         SELECT h8.node, h8.h AS coreness, h7.h AS h_prev,
           h8.h = h7.h AS stable
         FROM h8 JOIN h7 ON h7.node = h8.node ORDER BY h8.node"""
    },
    // both Brandes phases unrolled: BFS rounds with NOT-EXISTS visited
    // guards, then level-by-level dependency sums with the same per-term
    // floor,
    "graph_betweenness" -> {
      val fwd = (1 to 4).map { k =>
        s"""add$k AS (SELECT src, node, $k AS dist, sigma FROM (
            SELECT p.src, s.v AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
            FROM st${k - 1} p JOIN sym s ON s.u = p.node
            WHERE p.dist = ${k - 1} AND NOT EXISTS (SELECT 1 FROM st${k - 1} x
              WHERE x.src = p.src AND x.node = s.v)
            GROUP BY 1, 2) q),
           st$k AS (SELECT * FROM st${k - 1} UNION ALL SELECT * FROM add$k)"""
      }.mkString(",\n         ")
      val bwd = (3 to 0 by -1).map { k =>
        s"""dl$k AS (SELECT src, vn AS node, CAST(sum(term) AS BIGINT) AS dppm FROM (
            SELECT v.src, v.node AS vn,
              (v.sigma * (1000000 + COALESCE(d.dppm, 0))) // w.sigma AS term
            FROM st4 v JOIN sym s ON s.u = v.node
            JOIN st4 w ON w.src = v.src AND w.node = s.v AND w.dist = v.dist + 1
            LEFT JOIN da${k + 1} d ON d.src = w.src AND d.node = w.node
            WHERE v.dist = $k) t GROUP BY 1, 2),
           da$k AS (SELECT * FROM da${k + 1} UNION ALL SELECT * FROM dl$k)"""
      }.mkString(",\n         ")
      s"""WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
           FROM lineitem WHERE l_orderkey % 7 = 0
             AND l_suppkey % 500 <> l_partkey % 500),
         sym AS (SELECT hi AS u, lo AS v FROM e
           UNION ALL SELECT lo, hi FROM e),
         st0 AS (SELECT src, src AS node, 0 AS dist,
             CAST(1 AS BIGINT) AS sigma
           FROM (VALUES (CAST(0 AS BIGINT)), (1), (2)) s(src)),
         $fwd,
         da4 AS (SELECT src, node, CAST(0 AS BIGINT) AS dppm
           FROM st4 WHERE dist = 4),
         $bwd
         SELECT node, CAST(sum(dppm) AS BIGINT) AS bc_ppm
         FROM da0 WHERE node <> src GROUP BY 1 ORDER BY node"""
    },
    // forward BFS rounds only, per-wavefront counts,
    "graph_bfs_profile" -> {
      val fwd = (1 to 4).map { k =>
        s"""add$k AS (SELECT DISTINCT p.src, s.v AS node, $k AS dist
            FROM st${k - 1} p JOIN sym s ON s.u = p.node
            WHERE p.dist = ${k - 1} AND NOT EXISTS (SELECT 1 FROM st${k - 1} x
              WHERE x.src = p.src AND x.node = s.v)),
           st$k AS (SELECT * FROM st${k - 1} UNION ALL SELECT * FROM add$k)"""
      }.mkString(",\n         ")
      s"""WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
           FROM lineitem WHERE l_orderkey % 7 = 0
             AND l_suppkey % 500 <> l_partkey % 500),
         sym AS (SELECT hi AS u, lo AS v FROM e
           UNION ALL SELECT lo, hi FROM e),
         st0 AS (SELECT src, src AS node, 0 AS dist
           FROM (VALUES (CAST(0 AS BIGINT)), (1), (2)) s(src)),
         $fwd
         SELECT src, CAST(dist AS INT) AS dist,
           CAST(count(*) AS BIGINT) AS n_nodes
         FROM st4 GROUP BY 1, 2 ORDER BY src, dist"""
    },
    // both closed-form histograms full-outer on level, Σ|cdf gap|,
    "graph_conductance" -> {
      val rounds = (1 to 3).map { r =>
        s"""v$r AS (SELECT s.u AS node, l.lbl, count(*) AS cnt
             FROM sym s JOIN l${r - 1} l ON s.v = l.node GROUP BY 1, 2),
           l$r AS (SELECT node, lbl FROM v$r
             QUALIFY row_number() OVER (PARTITION BY node
               ORDER BY cnt DESC, lbl ASC) = 1)"""
      }.mkString(",\n         ")
      s"""WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
         FROM lineitem WHERE l_orderkey % 7 = 0),
         e2 AS (SELECT hi, lo FROM e WHERE hi <> lo),
         sym AS (SELECT lo AS u, hi AS v FROM e2
                 UNION ALL SELECT hi AS u, lo AS v FROM e2),
         l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
         $rounds,
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
           FROM sym GROUP BY 1),
         tg AS (SELECT e2.lo AS a, e2.hi AS b, la.lbl AS la, lb.lbl AS lb
           FROM e2 JOIN l3 la ON la.node = e2.lo
           JOIN l3 lb ON lb.node = e2.hi),
         cut AS (SELECT lbl, CAST(count(*) AS BIGINT) AS cut FROM (
             SELECT la AS lbl FROM tg WHERE la <> lb
             UNION ALL SELECT lb FROM tg WHERE la <> lb) u GROUP BY 1),
         intr AS (SELECT la AS lbl, CAST(count(*) AS BIGINT) AS internal
           FROM tg WHERE la = lb GROUP BY 1),
         vol AS (SELECT l3.lbl, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d) AS BIGINT) AS vol
           FROM l3 JOIN deg ON deg.u = l3.node GROUP BY 1),
         m2 AS (SELECT CAST(count(*) * 2 AS BIGINT) AS deg_total FROM e2)
         SELECT CAST(vol.lbl AS BIGINT) AS lbl, n_nodes, vol,
           COALESCE(internal, 0) AS internal, COALESCE(cut.cut, 0) AS cut,
           CASE WHEN least(vol, deg_total - vol) = 0 THEN CAST(0 AS BIGINT)
                ELSE COALESCE(cut.cut, 0) * 1000000
                  // least(vol, deg_total - vol) END AS conduct_ppm
         FROM vol LEFT JOIN cut ON cut.lbl = vol.lbl
         LEFT JOIN intr ON intr.lbl = vol.lbl CROSS JOIN m2
         ORDER BY lbl"""
    },
    // brute-force NN per point, milli-floored sqrt, bbox extent,
    "graph_motif_census" ->
      """WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS b,
           LEAST(l_suppkey % 500, l_partkey % 500) AS a
           FROM lineitem WHERE l_orderkey % 7 = 0
             AND l_suppkey % 500 <> l_partkey % 500),
         sym AS (SELECT a AS u FROM e UNION ALL SELECT b FROM e),
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
         base AS (SELECT CAST(sum(d*(d-1)//2) AS BIGINT) AS wedges,
             CAST(sum(d*(d-1)*(d-2)//6) AS BIGINT) AS claws FROM deg),
         ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
         tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
           FROM e e1 JOIN e e2 ON e2.a = e1.b
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         pe AS (SELECT CAST(sum((da.d - 1) * (db.d - 1)) AS BIGINT) AS pe
           FROM e JOIN deg da ON da.u = e.a JOIN deg db ON db.u = e.b)
         SELECT n_edges, wedges, claws, n_triangles,
           pe - 3 * n_triangles AS p3_paths
         FROM ne, base, tri, pe""",
    // the identical walk cumsum, the shared regionized segment test,
    "graph_component_hist" ->
      """WITH RECURSIVE raw AS (SELECT (l_suppkey * 131) % 3000 AS a,
           l_partkey % 3000 AS b
           FROM lineitem WHERE l_orderkey % 31 = 0),
         e AS (SELECT DISTINCT greatest(a, b) AS hi, least(a, b) AS lo
           FROM raw WHERE a <> b),
         nodes AS (SELECT DISTINCT x AS n FROM (SELECT a AS x FROM raw
           UNION ALL SELECT b FROM raw) u),
         r(n, m) AS (SELECT n, n FROM nodes
           UNION
           SELECT r.n, CASE WHEN e.hi = r.m THEN e.lo ELSE e.hi END
           FROM r JOIN e ON e.hi = r.m OR e.lo = r.m),
         comp AS (SELECT n, min(m) AS comp FROM r GROUP BY 1),
         cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS csize
           FROM comp GROUP BY 1)
         SELECT csize, CAST(count(*) AS BIGINT) AS n_components,
           csize * CAST(count(*) AS BIGINT) AS n_nodes
         FROM cs GROUP BY 1 ORDER BY csize""",
    // milli-floored moments per dimension, rank by variance numerator,
    "graph_random_failure" ->
      """WITH RECURSIVE raw AS (SELECT (l_suppkey * 131) % 3000 AS a,
           l_partkey % 3000 AS b
           FROM lineitem WHERE l_orderkey % 31 = 0),
         rw AS (SELECT a, b FROM raw WHERE a <> b),
         e AS (SELECT DISTINCT greatest(a, b) AS hi, least(a, b) AS lo
           FROM rw),
         nodes AS (SELECT DISTINCT x AS n FROM (SELECT a AS x FROM rw
           UNION ALL SELECT b FROM rw) u),
         rem AS (SELECT n FROM nodes WHERE n % 5 = 0),
         r(n, m) AS (SELECT n, n FROM nodes
           UNION
           SELECT r.n, CASE WHEN e.hi = r.m THEN e.lo ELSE e.hi END
           FROM r JOIN e ON e.hi = r.m OR e.lo = r.m),
         cmap1 AS (SELECT n, min(m) AS comp FROM r GROUP BY 1),
         csz1 AS (SELECT comp, count(*) AS sz FROM cmap1 GROUP BY 1),
         lcc1 AS (SELECT CAST(max(sz) AS BIGINT) AS lcc_before FROM csz1),
         e2 AS (SELECT hi, lo FROM e
           WHERE hi NOT IN (SELECT n FROM rem)
             AND lo NOT IN (SELECT n FROM rem)),
         nodes2 AS (SELECT n FROM nodes
           WHERE n NOT IN (SELECT n FROM rem)),
         r2(n, m) AS (SELECT n, n FROM nodes2
           UNION
           SELECT r2.n, CASE WHEN e2.hi = r2.m THEN e2.lo ELSE e2.hi END
           FROM r2 JOIN e2 ON e2.hi = r2.m OR e2.lo = r2.m),
         cmap2 AS (SELECT n, min(m) AS comp FROM r2 GROUP BY 1),
         csz2 AS (SELECT comp, count(*) AS sz FROM cmap2 GROUP BY 1),
         lcc2 AS (SELECT CAST(max(sz) AS BIGINT) AS lcc_after FROM csz2),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
         nr AS (SELECT CAST(count(*) AS BIGINT) AS n_removed FROM rem)
         SELECT n_nodes, n_removed, lcc_before, lcc_after,
           (lcc_before - lcc_after) * 1000000 // lcc_before AS drop_ppm
         FROM nn, nr, lcc1, lcc2""",
    // distinct (source, word) sets, pairwise Jaccard,
    "graph_core_shells" -> {
      val rounds = (1 to 8).map(corenessRoundCte).mkString(",\n         ")
      s"""WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
           FROM lineitem WHERE l_orderkey % 7 = 0
             AND l_suppkey % 500 <> l_partkey % 500),
         sym AS (SELECT hi AS u, lo AS v FROM e
           UNION ALL SELECT lo, hi FROM e),
         h0 AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS h
           FROM sym GROUP BY 1),
         $rounds
         SELECT h8.h AS coreness, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(CASE WHEN h8.h = h7.h THEN 1 ELSE 0 END) AS BIGINT)
             AS n_stable
         FROM h8 JOIN h7 ON h7.node = h8.node
         GROUP BY 1 ORDER BY coreness"""
    },
    // quality_score formula ranked desc, cumulative token gate,
    "graph_attack_resilience" ->
      """WITH RECURSIVE raw AS (SELECT (l_suppkey * 131) % 3000 AS a,
           l_partkey % 3000 AS b
           FROM lineitem WHERE l_orderkey % 31 = 0),
         rw AS (SELECT a, b FROM raw WHERE a <> b),
         e AS (SELECT DISTINCT greatest(a, b) AS hi, least(a, b) AS lo
           FROM rw),
         nodes AS (SELECT DISTINCT x AS n FROM (SELECT a AS x FROM rw
           UNION ALL SELECT b FROM rw) u),
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM (
             SELECT lo AS u FROM e UNION ALL SELECT hi FROM e) s
           GROUP BY 1),
         hubs AS (SELECT u FROM (SELECT u, d, row_number() OVER (
             ORDER BY d DESC, u) AS rk FROM deg) q WHERE rk <= 5),
         r(n, m) AS (SELECT n, n FROM nodes
           UNION
           SELECT r.n, CASE WHEN e.hi = r.m THEN e.lo ELSE e.hi END
           FROM r JOIN e ON e.hi = r.m OR e.lo = r.m),
         cmap1 AS (SELECT n, min(m) AS comp FROM r GROUP BY 1),
         csz1 AS (SELECT comp, count(*) AS sz FROM cmap1 GROUP BY 1),
         lcc1 AS (SELECT CAST(max(sz) AS BIGINT) AS lcc_before FROM csz1),
         e2 AS (SELECT hi, lo FROM e
           WHERE hi NOT IN (SELECT u FROM hubs)
             AND lo NOT IN (SELECT u FROM hubs)),
         nodes2 AS (SELECT n FROM nodes
           WHERE n NOT IN (SELECT u FROM hubs)),
         r2(n, m) AS (SELECT n, n FROM nodes2
           UNION
           SELECT r2.n, CASE WHEN e2.hi = r2.m THEN e2.lo ELSE e2.hi END
           FROM r2 JOIN e2 ON e2.hi = r2.m OR e2.lo = r2.m),
         cmap2 AS (SELECT n, min(m) AS comp FROM r2 GROUP BY 1),
         csz2 AS (SELECT comp, count(*) AS sz FROM cmap2 GROUP BY 1),
         lcc2 AS (SELECT CAST(max(sz) AS BIGINT) AS lcc_after FROM csz2),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes)
         SELECT n_nodes, lcc_before, lcc_after,
           (lcc_before - lcc_after) * 1000000 // lcc_before AS drop_ppm
         FROM nn, lcc1, lcc2""",
    // reach-CC clusters + corpus text lengths, keep = min id,
    "graph_mst_weight_share" ->
      """WITH RECURSIVE raw AS (SELECT s_suppkey % 64 AS src,
           (s_suppkey * 13 + 7) % 64 AS dst,
           (s_suppkey % 97) * 4096
             + least(s_suppkey % 64, (s_suppkey * 13 + 7) % 64) * 64
             + greatest(s_suppkey % 64, (s_suppkey * 13 + 7) % 64) AS wkey
           FROM supplier),
         e AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             min(wkey) AS wkey
           FROM raw WHERE src <> dst GROUP BY 1, 2),
         r(a0, b0, w0, node) AS (
           SELECT a, b, wkey, a FROM e
           UNION
           SELECT r.a0, r.b0, r.w0,
             CASE WHEN g.a = r.node THEN g.b ELSE g.a END
           FROM r JOIN e g ON (g.a = r.node OR g.b = r.node)
             AND g.wkey < r.w0),
         msf AS (SELECT e.a, e.b, e.wkey FROM e
           WHERE NOT EXISTS (SELECT 1 FROM r
             WHERE r.a0 = e.a AND r.b0 = e.b AND r.node = e.b)),
         m AS (SELECT CAST(count(*) AS BIGINT) AS msf_edges,
             CAST(sum(wkey) AS BIGINT) AS msf_weight FROM msf),
         t AS (SELECT CAST(count(*) AS BIGINT) AS total_edges,
             CAST(sum(wkey) AS BIGINT) AS total_weight FROM e)
         SELECT msf_edges, msf_weight, total_edges, total_weight,
           msf_weight * 1000000 // total_weight AS share_ppm
         FROM m, t""",
    // trained centroids, base vs perturbed assignment churn,
    "graph_edge_betweenness" -> {
      val fwd = (1 to 4).map { k =>
        s"""add$k AS (SELECT src, node, $k AS dist, sigma FROM (
            SELECT p.src, s.v AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
            FROM st${k - 1} p JOIN sym s ON s.u = p.node
            WHERE p.dist = ${k - 1} AND NOT EXISTS (SELECT 1 FROM st${k - 1} x
              WHERE x.src = p.src AND x.node = s.v)
            GROUP BY 1, 2) q),
           st$k AS (SELECT * FROM st${k - 1} UNION ALL SELECT * FROM add$k)"""
      }.mkString(",\n         ")
      val bwd = (3 to 0 by -1).map { k =>
        s"""tm$k AS (SELECT v.src, v.node AS vn, s.v AS wn,
              (v.sigma * (1000000 + COALESCE(d.dppm, 0))) // w.sigma AS term
            FROM st4 v JOIN sym s ON s.u = v.node
            JOIN st4 w ON w.src = v.src AND w.node = s.v AND w.dist = v.dist + 1
            LEFT JOIN da${k + 1} d ON d.src = w.src AND d.node = w.node
            WHERE v.dist = $k),
           dl$k AS (SELECT src, vn AS node, CAST(sum(term) AS BIGINT) AS dppm
            FROM tm$k GROUP BY 1, 2),
           da$k AS (SELECT * FROM da${k + 1} UNION ALL SELECT * FROM dl$k)"""
      }.mkString(",\n         ")
      s"""WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
           FROM lineitem WHERE l_orderkey % 7 = 0
             AND l_suppkey % 500 <> l_partkey % 500),
         sym AS (SELECT hi AS u, lo AS v FROM e
           UNION ALL SELECT lo, hi FROM e),
         st0 AS (SELECT src, src AS node, 0 AS dist,
             CAST(1 AS BIGINT) AS sigma
           FROM (VALUES (CAST(0 AS BIGINT)), (1), (2)) s(src)),
         $fwd,
         da4 AS (SELECT src, node, CAST(0 AS BIGINT) AS dppm
           FROM st4 WHERE dist = 4),
         $bwd,
         allt AS (SELECT * FROM tm3 UNION ALL SELECT * FROM tm2
           UNION ALL SELECT * FROM tm1 UNION ALL SELECT * FROM tm0),
         eb AS (SELECT least(vn, wn) AS a, greatest(vn, wn) AS b,
             CAST(sum(term) AS BIGINT) AS ebc_ppm
           FROM allt GROUP BY 1, 2),
         r AS (SELECT a, b, ebc_ppm, CAST(row_number() OVER (
             ORDER BY ebc_ppm DESC, a, b) AS INT) AS rk FROM eb)
         SELECT a, b, ebc_ppm, rk FROM r WHERE rk <= 20 ORDER BY rk"""
    },
    // per-block rank window, values at ranks 1000/9000,
    "graph_cyclomatic" ->
      """WITH RECURSIVE raw AS (SELECT (l_suppkey * 131) % 3000 AS a,
           l_partkey % 3000 AS b
           FROM lineitem WHERE l_orderkey % 31 = 0),
         e AS (SELECT DISTINCT greatest(a, b) AS hi, least(a, b) AS lo
           FROM raw WHERE a <> b),
         nodes AS (SELECT DISTINCT x AS n FROM (SELECT a AS x FROM raw
           UNION ALL SELECT b FROM raw) u),
         r(n, m) AS (SELECT n, n FROM nodes
           UNION
           SELECT r.n, CASE WHEN e.hi = r.m THEN e.lo ELSE e.hi END
           FROM r JOIN e ON e.hi = r.m OR e.lo = r.m),
         comp AS (SELECT n, min(m) AS comp FROM r GROUP BY 1),
         cc AS (SELECT CAST(count(DISTINCT comp) AS BIGINT) AS n_components
           FROM comp),
         me AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)
         SELECT m, n, n_components, m - n + n_components AS cyclomatic
         FROM me, nn, cc""",
    // lag window, equal-(type,cents) within 1 s,
    "graph_small_world" -> {
      val fwd = (1 to 4).map { k =>
        s"""add$k AS (SELECT DISTINCT p.src, s.v AS node, $k AS dist
            FROM st${k - 1} p JOIN sym s ON s.u = p.node
            WHERE p.dist = ${k - 1} AND NOT EXISTS (SELECT 1 FROM st${k - 1} x
              WHERE x.src = p.src AND x.node = s.v)),
           st$k AS (SELECT * FROM st${k - 1} UNION ALL SELECT * FROM add$k)"""
      }.mkString(",\n         ")
      s"""WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS b,
           LEAST(l_suppkey % 500, l_partkey % 500) AS a
           FROM lineitem WHERE l_orderkey % 7 = 0
             AND l_suppkey % 500 <> l_partkey % 500),
         symn AS (SELECT a AS u FROM e UNION ALL SELECT b FROM e),
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
           FROM symn GROUP BY 1),
         base AS (SELECT CAST(sum(d*(d-1)//2) AS BIGINT) AS wedges
           FROM deg),
         ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
         tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
           FROM e e1 JOIN e e2 ON e2.a = e1.b
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         sym AS (SELECT a AS u, b AS v FROM e
           UNION ALL SELECT b, a FROM e),
         st0 AS (SELECT src, src AS node, 0 AS dist
           FROM (VALUES (CAST(0 AS BIGINT)), (1), (2)) s(src)),
         $fwd,
         pth AS (SELECT CAST(sum(dist * 1) AS BIGINT) AS sum_dist,
             CAST(count(*) AS BIGINT) AS n_reached
           FROM st4 WHERE dist > 0)
         SELECT n_edges, wedges, n_triangles, sum_dist, n_reached,
           3 * n_triangles * 1000000 // wedges AS transitivity_ppm,
           sum_dist * 1000 // n_reached AS avg_path_milli
         FROM ne, base, tri, pth"""
    },
    // clamped level histogram, weighted median, ±1 foreground counts,
    "graph_degree_gini" ->
      """WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS b,
           LEAST(l_suppkey % 500, l_partkey % 500) AS a
           FROM lineitem WHERE l_orderkey % 7 = 0
             AND l_suppkey % 500 <> l_partkey % 500),
         sym AS (SELECT a AS u FROM e UNION ALL SELECT b FROM e),
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
           FROM sym GROUP BY 1),
         r AS (SELECT u, d, CAST(row_number() OVER (ORDER BY d, u)
             AS BIGINT) AS i FROM deg),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS sum_d,
             CAST(sum((2 * i - 1) * d) AS BIGINT) AS wsum FROM r)
         SELECT n, sum_d, wsum, wsum - n * sum_d AS gini_num,
           n * sum_d AS gini_den,
           (wsum - n * sum_d) * 1000 // (n * sum_d) AS gini_milli
         FROM a""",
    // milli-floored norm², 10⁶ buckets,
    "graph_bowtie" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT
           (l_suppkey * 13 + l_orderkey) % 1000 AS src,
           (l_partkey * 7 + l_linenumber) % 1000 AS dst
           FROM lineitem WHERE l_orderkey % 23 = 0
           AND (l_suppkey * 13 + l_orderkey) % 1000
             <> (l_partkey * 7 + l_linenumber) % 1000),
         f AS (SELECT CAST(1 AS BIGINT) AS node
           UNION SELECT e.dst FROM f JOIN e ON e.src = f.node),
         b AS (SELECT CAST(1 AS BIGINT) AS node
           UNION SELECT e.src FROM b JOIN e ON e.dst = b.node),
         nodes AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         cls AS (SELECT n.node,
             CASE WHEN fx.node IS NOT NULL AND bx.node IS NOT NULL THEN 'scc'
               WHEN bx.node IS NOT NULL THEN 'in'
               WHEN fx.node IS NOT NULL THEN 'out' ELSE 'disc' END AS component
           FROM nodes n
           LEFT JOIN (SELECT DISTINCT node FROM f) fx ON fx.node = n.node
           LEFT JOIN (SELECT DISTINCT node FROM b) bx ON bx.node = n.node)
         SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
         FROM cls GROUP BY 1 ORDER BY component""",
    // same (count, day) rank tie-break, same cross-multiplied milli floor,
    "graph_temporal_reach" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT o_custkey % 300 AS u,
           (o_custkey * 7 + o_orderkey) % 300 AS v,
           epoch_us(o_orderdate) // 86400000000 AS t
           FROM orders
           WHERE o_custkey % 300 <> (o_custkey * 7 + o_orderkey) % 300),
         p AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS arr
           UNION SELECT e.v, e.t FROM p JOIN e ON e.u = p.node
             AND e.t >= p.arr)
         SELECT node, CAST(min(arr) AS BIGINT) AS arr_day
         FROM p GROUP BY 1 ORDER BY node""",
    // three signed parity sums per 100-square block,
    "graph_voterank" -> {
      def electRound(k: Int): String = {
        val notIn = if (k == 1) ""
        else "WHERE node NOT IN (" +
          (1 until k).map(j => s"SELECT node FROM p$j").mkString(" UNION ALL ") + ")"
        s"""s$k AS (SELECT sym.u AS node, CAST(sum(a${k - 1}.ab) AS BIGINT) AS score
            FROM sym JOIN a${k - 1} ON a${k - 1}.node = sym.v GROUP BY 1),
           p$k AS (SELECT node, score FROM s$k $notIn
            ORDER BY score DESC, node LIMIT 1),
           a$k AS (SELECT a${k - 1}.node,
              CAST(CASE WHEN a${k - 1}.node = (SELECT node FROM p$k) THEN 0
                WHEN EXISTS (SELECT 1 FROM sym
                  WHERE sym.u = (SELECT node FROM p$k)
                    AND sym.v = a${k - 1}.node)
                THEN greatest(0, a${k - 1}.ab - (SELECT delta FROM dl))
                ELSE a${k - 1}.ab END AS BIGINT) AS ab
            FROM a${k - 1})"""
      }
      s"""WITH e AS (SELECT DISTINCT
           greatest(l_suppkey % 500, l_partkey % 500) AS hi,
           least(l_suppkey % 500, l_partkey % 500) AS lo
           FROM lineitem WHERE l_orderkey % 7 = 0
             AND l_suppkey % 500 <> l_partkey % 500),
         sym AS (SELECT hi AS u, lo AS v FROM e
           UNION ALL SELECT lo, hi FROM e),
         nodes AS (SELECT DISTINCT u AS node FROM sym),
         dl AS (SELECT 1000 * (SELECT CAST(count(*) AS BIGINT) FROM nodes)
             // (2 * (SELECT CAST(count(*) AS BIGINT) FROM e)) AS delta),
         a0 AS (SELECT node, CAST(1000 AS BIGINT) AS ab FROM nodes),
         ${electRound(1)},
         ${electRound(2)},
         ${electRound(3)},
         ${electRound(4)},
         u AS (SELECT 1 AS round, node, score FROM p1
           UNION ALL SELECT 2, node, score FROM p2
           UNION ALL SELECT 3, node, score FROM p3
           UNION ALL SELECT 4, node, score FROM p4)
         SELECT CAST(round AS BIGINT) AS round, node,
           score AS score_milli
         FROM u ORDER BY round"""
    },
  )
}
