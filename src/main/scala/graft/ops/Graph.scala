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

}
