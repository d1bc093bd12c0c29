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

/** Embedding / ANN gates: quantizers, LSH, recall, diagnostics
  * (43 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QAnn {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_power_iteration" -> ((s, dir) => {
      ops.Embeddings.powerIteration(t(s, dir, "embeddings"), rounds = 3,
        dims = 64).orderBy("rnd", "d")
    }),
    // PCA projection: every embedding scored against the round-3 principal
    // direction (integer dot in the trainer's milli-units) — the whitening /
    // spectral-quality column. One fan-out + one vec_id-keyed shuffle.,
    "ann_pca_project" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val v3 = ops.Embeddings.powerIteration(emb, rounds = 3, dims = 64)
        .filter(col("rnd") === 3).select("d", "v")
      ops.Embeddings.pcaProject(emb, v3).orderBy("vec_id")
    }),
    // Map algebra: terrain ruggedness index — Σ|neighbour − centre| over the
    // same 8 clamped neighbours; pure integer arithmetic.
    // Discrete Laplacian curvature: 4-neighbour second difference, integer
    // arithmetic on the int16 grid (sinks > 0, ridges < 0).,
    "ann_lsh_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .unionAll(e.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      ops.Embeddings.nearDupPairs(corpus).orderBy("id_a", "id_b")
    }),
    // One NN-descent round (ops.Embeddings.nnDescentRecall): a two-band
    // LSH seed kNN graph expanded by undirected neighbours-of-neighbours
    // and exact-re-ranked; the gate reports recall@3 vs the exact baseline
    // BEFORE and AFTER (18 → 22 hits of 75 at sf0.01) — the
    // graph-refinement step of every kNN-graph index build, with its
    // recall gain measured. (A single-band seed provably cannot gain: the
    // bucket partition is transitive.),
    "ann_nn_descent" -> ((s, dir) => {
      ops.Embeddings.nnDescentRecall(t(s, dir, "embeddings"), k = 3,
          nQueries = 25)
        .orderBy("qid")
    }),
    "ann_ivf_assign" -> ((s, dir) => {
      ops.Embeddings.ivfAssign(t(s, dir, "embeddings"), 8).orderBy("vec_id")
    }),
    // Greedy graph-ANN search (ops.Embeddings.greedyGraphSearch): the
    // HNSW/NSG navigating-graph shape — beam-1 descent over a degree-4
    // exact kNN graph from a fixed entry, 6 unrolled rounds, milli-floored
    // vectors so every distance is an exact integer; joined against the
    // brute-force NN so the gate also measures where greedy gets trapped
    // (is_exact = 0 motivates beam > 1). Per-round: one node-keyed join,
    // state = one row per query.,
    "ann_beam_search" -> ((s, dir) => {
      ops.Embeddings.greedyGraphSearch(t(s, dir, "embeddings"),
        corpusMod = 16, queryMod = 160, queryOff = 7, degree = 4, rounds = 6)
        .orderBy("query_id")
    }),
    // RESIDUAL quantization (2-level RQ, the additive cousin of PQ): coarse
    // code = nearest IVF centroid; the residual, quantized to exact
    // milli-units, is coded against a second 8-entry codebook by integer
    // argmin — code pair + exact integer reconstruction error per vector.
    // All second-level arithmetic is 64-bit integer, so the oracle replays
    // the argmin bit-for-bit.,
    "ann_rq_code" -> ((s, dir) => {
      import s.implicits._
      val asg = ops.Embeddings.ivfAssign(t(s, dir, "embeddings"), 8)
        .select(col("vec_id"), col("centroid").as("c1"))
      val e = t(s, dir, "embeddings")
        .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
      val rq = e.join(asg, "vec_id")
        .withColumn("rq", expr(
          """transform(sequence(0, 63),
             d -> CAST(FLOOR((element_at(v, d + 1)
               - (((c1*53 + d*17) % 13) - 6)) * 1000.0D) AS BIGINT))"""))
      val cents2 = (0L until 8L).toDF("k")
      rq.crossJoin(broadcast(cents2))
        .withColumn("d2", expr(
          """aggregate(sequence(0, 63), 0L,
             (acc, d) -> acc + (element_at(rq, d + 1)
               - (((k*37 + d*11) % 15) - 7) * 50)
               * (element_at(rq, d + 1) - (((k*37 + d*11) % 15) - 7) * 50))"""))
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("d2"), col("k"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c1"), col("k").as("c2"),
          col("d2").as("err_q"))
        .orderBy("vec_id")
    }),
    // IVF index-health diagnostic: per-centroid list sizes + exact ppm
    // share — the balance number that says whether nProbe pruning will
    // actually prune (a collapsed quantizer puts everything in one list).
    // One count over the assignment, a 1-row broadcast for the total.,
    "ann_ivf_balance" -> ((s, dir) => {
      val asg = ops.Embeddings.ivfAssign(t(s, dir, "embeddings"), 8)
      val tot = asg.agg(count(lit(1)).as("tot"))
      asg.groupBy("centroid").agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(tot))
        .selectExpr("centroid", "n_vecs",
          "(n_vecs * 1000000L) DIV tot AS share_ppm")
        .orderBy("centroid")
    }),
    // Product quantization (8 subspaces × 8 codes): the embedding
    // COMPRESSION step of an IVF-PQ index — per-row on the scan, no
    // shuffle; d2_r per subspace sums to the reconstruction error.,
    "ann_pq_code" -> ((s, dir) => {
      ops.Embeddings.pqCode(t(s, dir, "embeddings"), 8, 8)
        .orderBy("vec_id", "sub")
    }),
    // One Lloyd iteration of k-means — the IVF centroid TRAINING step:
    // per-row assignment on the scan, one partial-aggregated shuffle to
    // k·dims rows, quantized-integer sums for engine-exact means.,
    "ann_kmeans_step" -> ((s, dir) => {
      ops.Embeddings.kmeansStep(t(s, dir, "embeddings"), 8)
        .orderBy("centroid", "dim")
    }),
    // IVF top-k SEARCH (the scale path of ANN): queries probe only their
    // nProbe nearest centroid lists, exact cosine re-ranks candidates.,
    "ann_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.ivfSearch(e, e.filter(col("vec_id") < 5),
        kCentroids = 8, nProbe = 2, topK = 5).orderBy("qid", "rank")
    }),
    // Metadata-filtered ANN (ops.Embeddings.ivfSearchFiltered): top-5 among
    // corpus vectors with label = 2 only — the pre-filter strategy, exact
    // for the probed lists at any selectivity; the label predicate reaches
    // the parquet scan (PlanSpec asserts PushedFilters).,
    "ann_filtered_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.ivfSearchFiltered(e, e.filter(col("vec_id") < 5),
        kCentroids = 8, nProbe = 2, topK = 5, pred = col("label") === 2)
        .orderBy("qid", "rank")
    }),
    // Cosine RANGE search over the IVF index (the vector-space J5): all
    // pairs in the probed lists with cos >= 0.25 — no rank window at all;
    // the only exchange is the byte-gated probe join. cos is the left-fold
    // kernel, so the threshold compares bit-equal operands in both engines.,
    "ann_range_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.ivfRangeSearch(e, e.filter(col("vec_id") < 25),
        kCentroids = 8, nProbe = 2, minCos = 0.25)
        .orderBy("qid", "neighbor_id")
    }),
    // recall@5 of IVF-PQ vs the exact baseline: the PQ-fidelity number on
    // top of the coarse-probe loss (compare with ann_ivf_recall).,
    "ann_ivfpq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.ivfPqRecall(e, e.filter(col("vec_id") < 25),
        kCentroids = 8, nProbe = 2, nSub = 8, kCodes = 8, topK = 5)
        .orderBy("qid")
    }),
    // IVF-PQ: same coarse probe, candidates scored by asymmetric distance
    // over 8x1B PQ codes — corpus vectors never cross the join.,
    "ann_ivfpq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.ivfPqSearch(e, e.filter(col("vec_id") < 5),
        kCentroids = 8, nProbe = 2, nSub = 8, kCodes = 8, topK = 5)
        .orderBy("qid", "rank")
    }),
    // Recall@k of the IVF search vs the exact cosine baseline on the same
    // queries — the tuning number for nProbe (deterministic, so the oracle
    // reproduces the exact hit counts).,
    "ann_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.ivfRecall(e, e.filter(col("vec_id") < 25),
        kCentroids = 8, nProbe = 2, topK = 5).orderBy("qid")
    }),
    // The recall-vs-nProbe OPERATING CURVE — the table an ANN deployment
    // is tuned from: recall@5 at nProbe ∈ {1, 2, 4} against the exact
    // baseline, one row per (n_probe, query). Monotone in nProbe by
    // construction; the curve's knee picks the production setting.,
    "ann_recall_curve" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 25)
      Seq(1, 2, 4).map(np =>
        ops.Embeddings.ivfRecall(e, q, kCentroids = 8, nProbe = np, topK = 5)
          .withColumn("n_probe", lit(np)))
        .reduce(_ unionByName _)
        .orderBy("n_probe", "qid")
    }),
    // The coarse-quantizer TRAINING LOOP (iterated kmeansStep from the
    // deterministic seed): per-round centroid sums, oracle-replayed by
    // unrolled CTEs — means are exact-integer sums + one IEEE division,
    // so every round is bit-reproducible.,
    "ann_kmeans_train" -> ((s, dir) => {
      import s.implicits._
      val (_, hist) = trainedKmeans(s, dir)
      hist.toDF("round", "centroid", "dim", "n", "sum_q", "mean")
        .orderBy("round", "centroid", "dim")
    }),
    // The PQ-codebook training loop: same Lloyd fixpoint per subspace, all
    // subspaces trained in the same jobs (one scan + one bounded
    // aggregation per round).,
    "ann_pq_train" -> ((s, dir) => {
      import s.implicits._
      val (_, hist) = trainedPq(s, dir)
      hist.toDF("round", "sub", "code", "dim", "n", "sum_q", "mean")
        .orderBy("round", "sub", "code", "dim")
    }),
    // The production IVF-PQ read path with TRAINED quantizers (3 Lloyd
    // rounds each, data-Forgy seeded): trained-ADC shortlist of 50, exact
    // re-rank to top 5 — the fidelity fix ann_ivfpq_recall's diagnosis
    // calls for (the demo codebook's integer entries sit ~20x outside the
    // data's scale).,
    "ann_ivfpq_topk_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cents, _) = trainedKmeans(s, dir)
      val (cbs, _) = trainedPq(s, dir)
      ops.Embeddings.ivfPqSearchRefined(e, e.filter(col("vec_id") < 5),
        cents, cbs, nProbe = 2, shortlist = 50, topK = 5)
        .orderBy("qid", "rank")
    }),
    // Distance-to-centroid OOD gate on the TRAINED coarse quantizer:
    // per centroid the nearest-rank median micro-distance and how many
    // members exceed 2× it — the embedding-drift / outlier read an index
    // build monitors per cell.,
    "ann_ood_flags" -> ((s, dir) => {
      import graft.functions.vectors.vec_dist2
      val (cents, _) = trainedKmeans(s, dir)
      val dists = cents.indices.map { c =>
        struct(vec_dist2(col("v"), typedLit(cents(c).toSeq)).as("d2"),
          lit(c).as("c"))
      }
      val asg = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("best", least(dists: _*))
        .select(col("vec_id"), col("best").getField("c").as("centroid"),
          floor(col("best").getField("d2") * lit(1000000.0)).cast("long")
            .as("d2q"))
      val w = Window.partitionBy("centroid").orderBy("d2q", "vec_id")
      val wp = Window.partitionBy("centroid")
      val med = asg.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
        .filter(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("centroid"), col("d2q").as("med_d2q"))
      asg.join(med, Seq("centroid"))
        .groupBy("centroid")
        .agg(count(lit(1)).as("n"), max("med_d2q").as("med_d2q"),
          sum(when(col("d2q") > col("med_d2q") * 2, 1L).otherwise(0L))
            .as("n_flagged"))
        .orderBy("centroid")
    }),
    // Top-k token coverage curve: what share of all corpus tokens the
    // top 10/50/100/500 words carry — the head-heaviness read that sizes
    // stopword lists and vocabulary truncations.,
    "ann_pq_distortion" -> ((s, dir) => {
      val (cbs, _) = trainedPq(s, dir)
      ops.Embeddings.pqDistortion(t(s, dir, "embeddings"), cbs)
        .orderBy("sub", "code")
    }),
    // FULL OUTER reconciliation surface: pre- vs post-midpoint per-user
    // spend, status both/pre_only/post_only + coalesced delta.,
    "ann_ivfpq_recall_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cents, _) = trainedKmeans(s, dir)
      val (cbs, _) = trainedPq(s, dir)
      ops.Embeddings.ivfPqRecallTrained(e, e.filter(col("vec_id") < 25),
        cents, cbs, nProbe = 2, shortlist = 50, topK = 5).orderBy("qid")
    }),
    // Near-dup CLUSTERING: connected components over the MinHash pair graph
    // (min-label propagation), keep-set = component representative. The
    // dedup endgame at 100 TB: pairs alone do not say which docs to drop
    // when duplicates chain (a~b, b~c but not a~c).,
    "ann_cosine_hist" -> ((s, dir) => {
      import graft.functions.vectors.vec_dot
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val n = e.withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      val anc = n.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"))
      anc.crossJoin(n).filter(col("vec_id") =!= col("qid"))
        .withColumn("cos",
          vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
        .withColumn("bucket", expr("CAST(floor(cos * 10) AS INT)"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bucket")
    }),
    // Sequence-order audit: per user the adjacent (ts, event_id)-ordered
    // steps whose event_id moves BACKWARD — the clock-skew / out-of-order
    // ingestion QA; one lag window.,
    "ann_twonn_ratio_hist" -> ((s, dir) => {
      val q = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"),
          expr("transform(embedding, " +
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))")
            .as("eq"))
      val pairs = q.select(col("vec_id").as("aid"), col("eq").as("aeq"))
        .join(q, col("vec_id") =!= col("aid"))
        .withColumn("d2", aggregate(
          zip_with(col("aeq"), col("eq"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
      val top2 = pairs.withColumn("rn", row_number().over(
          Window.partitionBy("aid").orderBy(col("d2"), col("vec_id"))))
        .filter(col("rn") <= 2)
      top2.groupBy("aid")
        .agg(min(when(col("rn") === 1, col("d2"))).as("d1"),
          min(when(col("rn") === 2, col("d2"))).as("d2n"))
        .filter(col("d1") > 0)
        .withColumn("ratio_q", expr("d2n * 1000 DIV d1"))
        .withColumn("bucket", expr("least(ratio_q DIV 250, 20)").cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vecs"), min("ratio_q").as("min_ratio_q"),
          max("ratio_q").as("max_ratio_q"))
        .orderBy("bucket")
    }),
    // Template-prefix detection: documents sharing their first-5-word
    // prefix, groups of ≥3 — the doc-level boilerplate read above
    // dedup_lines' per-line df.,
    "ann_dim_variance" -> ((s, dir) => {
      val x = t(s, dir, "embeddings")
        .select(posexplode(expr("transform(embedding, " +
          "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"))
          .as(Seq("d", "xq")))
      x.groupBy(col("d").cast("int").as("d"))
        .agg(count(lit(1)).as("n"), sum("xq").as("s"),
          sum(expr("xq * xq")).as("ss"))
        .withColumn("var_num", expr("n * ss - s * s"))
        // global window input is the per-dimension aggregate: the frame
        // is bounded by the embedding dimensionality (64), not rows
        .withColumn("rank", row_number().over(
          Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("var_num"))).orderBy(col("var_num").desc, col("d"))).cast("int"))
        .orderBy("d")
    }),
    // Sampled silhouette audit (ops.Embeddings.silhouetteStats): are the
    // corpus labels cluster-shaped? Exact intra/nearest-inter squared-
    // distance sufficient stats per anchor, milli-floored mean comparison,
    // s_pos the decisive bit. Anchors×corpus sample join, never corpus².,
    "ann_silhouette" -> ((s, dir) => {
      ops.Embeddings.silhouetteStats(t(s, dir, "embeddings"),
        sampleMod = 20L).orderBy("aid")
    }),
    // Ordered LISTAGG surface: per nation the comma-joined sorted supplier
    // roster — Spark spells it sort_array(collect_list)+concat_ws where
    // DuckDB has string_agg(ORDER BY); same string either way.,
    "ann_knn_mutuality" -> ((s, dir) => {
      val q = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"),
          expr("transform(embedding, " +
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))")
            .as("eq"))
      val top5 = q.select(col("vec_id").as("aid"), col("eq").as("aeq"))
        .join(q, col("vec_id") =!= col("aid"))
        .withColumn("d2", aggregate(
          zip_with(col("aeq"), col("eq"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
        .withColumn("rn", row_number().over(
          Window.partitionBy("aid").orderBy(col("d2"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("aid"), col("vec_id").as("nb"))
      top5.agg(count(lit(1)).as("n_edges"))
        .crossJoin(top5.as("x").join(top5.as("y"),
            col("x.aid") === col("y.nb") && col("x.nb") === col("y.aid"))
          .agg(count(lit(1)).as("n_mutual")))
        .withColumn("mutual_ppm", expr("n_mutual * 1000000 DIV n_edges"))
    }),
    // Spanning-forest weight share: MSF weight vs total graph weight in
    // one row — how much of the network's cost a spanning backbone keeps;
    // composes the verified Borůvka forest.,
    "ann_assign_stability" -> ((s, dir) => {
      import graft.functions.vectors.vec_dist2
      val (cents, _) = trainedKmeans(s, dir)
      def assign(vcol: org.apache.spark.sql.Column) = {
        val dists = cents.indices.map { c =>
          struct(vec_dist2(vcol, typedLit(cents(c).toSeq)).as("d2"),
            lit(c).as("c"))
        }
        least(dists: _*).getField("c")
      }
      t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("vp", expr("transform(v, (x, i) -> " +
          "x + CAST((i % 5) - 2 AS DOUBLE) * 0.001)"))
        .withColumn("c0", assign(col("v")))
        .withColumn("c1", assign(col("vp")))
        .groupBy(col("c0").as("centroid"))
        .agg(count(lit(1)).as("n_base"),
          sum(when(col("c1") =!= col("c0"), 1L).otherwise(0L))
            .as("n_changed"))
        .withColumn("churn_ppm", expr("n_changed * 1000000 DIV n_base"))
        .orderBy("centroid")
    }),
    "ann_assign_margin" -> ((s, dir) => {
      import graft.functions.vectors.vec_dist2
      val (cents, _) = trainedKmeans(s, dir)
      val dcols = cents.indices.map { c =>
        struct(vec_dist2(col("v"), typedLit(cents(c).toSeq)).as("d2"),
          lit(c).as("c"))
      }
      t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("srt", slice(array_sort(array(dcols: _*)), 1, 2))
        .select(col("vec_id"),
          floor((element_at(col("srt"), 2).getField("d2") -
            element_at(col("srt"), 1).getField("d2")) * lit(1000000.0))
            .cast("long").as("margin_q"))
        .withColumn("bucket", expr("least(margin_q DIV 1000000, 20)")
          .cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vecs"), min("margin_q").as("min_margin"),
          max("margin_q").as("max_margin"))
        .orderBy("bucket")
    }),
    "ann_hubness" -> ((s, dir) => {
      val q = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"),
          expr("transform(embedding, " +
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))")
            .as("eq"))
      val top5 = q.select(col("vec_id").as("aid"), col("eq").as("aeq"))
        .join(q, col("vec_id") =!= col("aid"))
        .withColumn("d2", aggregate(
          zip_with(col("aeq"), col("eq"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
        .withColumn("rn", row_number().over(
          Window.partitionBy("aid").orderBy(col("d2"), col("vec_id"))))
        .filter(col("rn") <= 5)
      val indeg = q.select(col("vec_id"))
        .join(top5.groupBy("vec_id").agg(count(lit(1)).as("in_deg")),
          Seq("vec_id"), "left")
        .withColumn("in_deg", coalesce(col("in_deg"), lit(0L)))
      indeg.groupBy("in_deg").agg(count(lit(1)).as("n_vecs"))
        .orderBy("in_deg")
    }),
    "ann_pca_residual" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val v3 = ops.Embeddings.powerIteration(emb, rounds = 3, dims = 64)
        .filter(col("rnd") === 3).select("d", "v")
      val proj = ops.Embeddings.pcaProject(emb, v3)
        .withColumn("p", expr("(score + 1000000000) DIV 1000 - 1000000"))
      val pv = proj.agg(count(lit(1)).as("n"), sum("p").as("proj_s"),
        sum(expr("p * p")).as("proj_ss"))
      val x = emb.select(posexplode(expr("transform(embedding, " +
          "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"))
          .as(Seq("d", "xq")))
      val tv = x.groupBy("d")
        .agg(count(lit(1)).as("nd"), sum("xq").as("s"),
          sum(expr("xq * xq")).as("ss"))
        .agg(sum(expr("nd * ss - s * s")).as("total_var_num"),
          count(lit(1)).as("dims"))
      val v2 = v3.agg(sum(expr("v * v")).as("v2"))
      pv.crossJoin(tv).crossJoin(v2)
        .withColumn("proj_var_num", expr("n * proj_ss - proj_s * proj_s"))
        .select("n", "dims", "total_var_num", "v2", "proj_s", "proj_ss",
          "proj_var_num")
    }),
    "ann_knn_loocv" -> ((s, dir) => {
      val q = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"), col("label"),
          expr("transform(embedding, " +
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))")
            .as("eq"))
      val pairs = q.select(col("vec_id").as("aid"),
          col("label").as("alabel"), col("eq").as("aeq"))
        .join(q, col("vec_id") =!= col("aid"))
        .withColumn("d2", aggregate(
          zip_with(col("aeq"), col("eq"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
      val top5 = pairs.withColumn("rn", row_number().over(
          Window.partitionBy("aid").orderBy(col("d2"), col("vec_id"))))
        .filter(col("rn") <= 5)
      val vote = top5.groupBy("aid", "alabel", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(Window.partitionBy("aid")
          .orderBy(col("votes").desc, col("label"))))
        .filter(col("vr") === 1)
      vote.groupBy("alabel")
        .agg(count(lit(1)).as("n"),
          sum(when(col("label") === col("alabel"), 1L).otherwise(0L))
            .as("n_correct"))
        .orderBy("alabel")
    }),
    "ann_farthest_first" -> ((s, dir) => {
      ops.Embeddings.farthestFirst(t(s, dir, "embeddings"), k = 5)
        .orderBy("pick_no")
    }),
    "ann_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cents, _) = trainedKmeans(s, dir)
      ops.Embeddings.semDedup(semCorpus(e), cents, minCos = 0.95)
        .orderBy("vec_id")
    }),
    // Scalar SQ8 quantization — per-vector [mn,mx] byte codes + exact
    // reconstruction error; the cheapest vector-compression lane.,
    "ann_sq8" -> ((s, dir) => {
      ops.Embeddings.sq8(t(s, dir, "embeddings")).orderBy("vec_id")
    }),
    // Corpus-internal exact duplicate-SPAN dedup (Lee et al. 2022 style):
    // 8-gram sites hashed and counted corpus-wide over the dedup corpus;
    // non-canonical occurrences mark their tokens redundant; cleaned text
    // (md5) drops exactly those tokens. The exact-copy docs (+100000) make
    // every site a duplicate of its original's, so the copy side cleans
    // down to whatever IT holds canonically — rich, fully deterministic.,
    "ann_cosine_topk" -> ((s, dir) => {
      import graft.functions.vectors.vec_dot
      val e = t(s, dir, "embeddings")
        .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
      // broadcast the QUERY side (k rows), stream the corpus: the scale
      // shape (corpus partitions scan once, queries ride along), and the
      // stream side keeps the corpus scan's parallelism
      val pairs = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          (vec_dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("neighbor_id"))
      pairs.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("neighbor_id"), col("rank"), round(col("cos"), 4).as("cos_r"))
        .orderBy("qid", "rank")
    }),
    // Hard-negative mining — the contrastive-training data op (every
    // embedding trainer mines "closest wrong-label" pairs): per anchor
    // (vec_id % 50 = 0) the hardest NEGATIVE (max cosine among different-
    // label corpus vectors) and the nearest POSITIVE (max cosine, same
    // label), plus the margin in exact 1e4 quanta — anchors whose margin
    // is negative are the confusable cases a curriculum surfaces first.
    // Same broadcast-the-anchors / stream-the-corpus shape as
    // ann_cosine_topk; two filtered windows over one pair pass.,
    "ann_hard_negatives" -> ((s, dir) => {
      import graft.functions.vectors.vec_dot
      val e = t(s, dir, "embeddings")
        .selectExpr("vec_id", "label", "cast(embedding as array<double>) AS v")
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("v").as("qv"), col("nrm").as("qnrm"))
      val pairs = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          (vec_dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
      val byCos = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id"))
      val pos = pairs.filter(col("label") === col("qlabel"))
        .withColumn("rn", row_number().over(byCos)).filter(col("rn") === 1)
        .select(col("qid"), col("vec_id").as("pos_id"), col("cos").as("pcos"))
      val neg = pairs.filter(col("label") =!= col("qlabel"))
        .withColumn("rn", row_number().over(byCos)).filter(col("rn") === 1)
        .select(col("qid"), col("vec_id").as("neg_id"), col("cos").as("ncos"))
      pos.join(neg, "qid")
        .select(col("qid"), col("pos_id"), col("neg_id"),
          round(col("pcos"), 4).as("cos_pos_r"),
          round(col("ncos"), 4).as("cos_neg_r"),
          expr("CAST(round((pcos - ncos) * 10000.0D) AS BIGINT)").as("margin_q"))
        .orderBy("qid")
    }),
    // MMR diversified retrieval (ops.Embeddings.mmrDiversify): exact
    // cosine top-20 per query, then 4 greedy picks maximizing
    // 0.5·rel − 0.5·max-sim-to-selected — near-duplicate corpus vectors
    // can't monopolize the page. Every greedy round is a qid-keyed agg
    // over the nCand-bounded pool (no driver collect, corpus scanned
    // once); the oracle unrolls the 4 rounds as CTEs with the identical
    // IEEE scoring.,
    "ann_mmr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.mmrDiversify(e, e.filter(col("vec_id") < 3),
          nCand = 20, k = 4, lambda = 0.5)
        .select(col("qid"), col("step"), col("neighbor_id"),
          round(col("rel"), 4).as("rel_r"), round(col("score"), 4).as("score_r"))
        .orderBy("qid", "step")
    }),
    // Matryoshka prefix-dimension search: candidates by cosine on the
    // FIRST 16 dims (¼ the flops/bytes — the matryoshka-embedding
    // truncation trick), exact full-dim cosine re-rank of the top-50 —
    // the two-stage shape every modern embedding index runs. Broadcast
    // query side, one corpus scan, candidate set bounded per query.,
    "ann_matryoshka" -> ((s, dir) => {
      import graft.functions.vectors.vec_dot
      val e = t(s, dir, "embeddings")
        .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
        .withColumn("p", expr("slice(v, 1, 16)"))
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
        .withColumn("pnrm", sqrt(vec_dot(col("p"), col("p"))))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("p").as("qp"), col("nrm").as("qnrm"), col("pnrm").as("qpnrm"))
      e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
        .withColumn("pcos",
          vec_dot(col("qp"), col("p")) / (col("qpnrm") * col("pnrm")))
        .withColumn("prank", row_number().over(Window.partitionBy("qid")
          .orderBy(col("pcos").desc, col("vec_id").asc)))
        .filter(col("prank") <= 50)
        .withColumn("cos",
          vec_dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
        .withColumn("rank", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id").asc)))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"),
          round(col("cos"), 4).as("cos_r"))
        .orderBy("qid", "rank")
    }),
    // Reciprocal-rank fusion (Cormack et al., public): fuse the cosine
    // top-20 and the L2 top-20 per query into one list — score =
    // Σ 10⁶ DIV (60 + rank) in exact integers (the ppm-truncated RRF
    // constant-60 form), missing-from-a-list contributes 0, final top-10
    // by (score, neighbor) total order. The standard multi-retriever /
    // multi-index result merge; both candidate rankings are the labeled
    // exact baselines (broadcast query side, one corpus scan each).,
    "ann_rrf_fusion" -> ((s, dir) => {
      import graft.functions.vectors.vec_dot
      val e = t(s, dir, "embeddings")
        .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
      val scored = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
        .withColumn("dot", vec_dot(col("qv"), col("v")))
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          (col("dot") / (col("qnrm") * col("nrm"))).as("cos"),
          (col("qnrm") * col("qnrm") + col("nrm") * col("nrm")
            - lit(2.0) * col("dot")).as("l2sq"))
      def topk(ord: Seq[org.apache.spark.sql.Column], name: String) =
        scored.withColumn(name, row_number().over(
            Window.partitionBy("qid").orderBy(ord: _*)))
          .filter(col(name) <= 20).select("qid", "neighbor_id", name)
      val a = topk(Seq(col("cos").desc, col("neighbor_id").asc), "rank_a")
      val b = topk(Seq(col("l2sq").asc, col("neighbor_id").asc), "rank_b")
      a.join(b, Seq("qid", "neighbor_id"), "full_outer")
        .withColumn("score_ppm",
          coalesce(expr("1000000 DIV (60 + rank_a)"), lit(0L)) +
          coalesce(expr("1000000 DIV (60 + rank_b)"), lit(0L)))
        .withColumn("fused_rank", row_number().over(Window.partitionBy("qid")
          .orderBy(col("score_ppm").desc, col("neighbor_id").asc)))
        .filter(col("fused_rank") <= 10)
        .select("qid", "neighbor_id", "score_ppm", "fused_rank")
        .orderBy("qid", "fused_rank")
    }),
    // Bowtie macro-structure (ops.Graph.bowtie): forward/backward fixpoint
    // reachability from pivot 1 over the directed supplier->part graph,
    // classifying every node as scc/in/out/disc — the Broder web-graph
    // census that sizes a crawl frontier before link-based curation.,
    "ann_facility_greedy" -> ((s, dir) => {
      ops.Embeddings.facilityGreedy(t(s, dir, "embeddings"),
        candModulo = 5, r2 = 1.44, k = 4).orderBy("round")
    }),
    "ann_candidate_accounting" -> ((s, dir) => {
      import graft.functions.vectors.vec_dist2
      val emb = t(s, dir, "embeddings")
        .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
      def cent(c: Int) = expr(
        s"transform(sequence(0, 63), d -> CAST((($c * 53) + d * 17) % 13 - 6 AS DOUBLE))")
      val sizes = ops.Embeddings.ivfAssign(t(s, dir, "embeddings"), 8)
        .groupBy("centroid").agg(count(lit(1)).as("list_sz"))
      val q = emb.filter(col("vec_id") % 50 === 0)
      val probes = q.select(col("vec_id").as("qid"),
          explode(array((0 until 8).map(c =>
            struct(vec_dist2(col("v"), cent(c)).as("d2"),
              lit(c).as("c"))): _*)).as("pc"))
        .select(col("qid"), col("pc.d2").as("d2"), col("pc.c").as("centroid"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("d2").asc, col("centroid").asc)))
        .filter(col("rn") <= 2)
      val n = emb.agg(count(lit(1)).as("n_corpus"))
      probes.join(sizes, Seq("centroid"))
        .groupBy("qid")
        .agg(min(when(col("rn") === 1, col("centroid"))).as("c1"),
          min(when(col("rn") === 2, col("centroid"))).as("c2"),
          sum("list_sz").as("n_cand"))
        .crossJoin(broadcast(n))
        .withColumn("ratio_ppm", expr("1000000 * n_cand DIV n_corpus"))
        .orderBy("qid")
    }),
    // Echo-lag autocorrelation argmax (ops.MediaOps.echoLag).
  )

  val sql: Map[String, String] = Map(
    "ann_power_iteration" -> powerIterOracleSql(3),
    "ann_pca_project" -> pcaProjectOracleSql,
    // bipartite: transitive-closure CC on the original AND doubled graphs,
    // parity conflict = odd cycle,
    "ann_lsh_neardup" -> annLshOracleSql,
    "ann_nn_descent" -> nnDescentOracleSql,
    // per-pair longest aligned 8-gram run via gram join + gaps-and-islands,
    "ann_ivf_assign" -> ivfOracleSql,
    "ann_beam_search" -> greedySearchOracleSql(6),
    // coarse assign, milli-quantized residual, integer argmin vs the
    // second codebook,
    "ann_rq_code" ->
      """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cents AS (SELECT range AS c FROM range(0, 8)),
         d AS (SELECT vec_id, c,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> (v[d+1] - (((c*53 + d*17) % 13) - 6)) * (v[d+1] - (((c*53 + d*17) % 13) - 6)))),
             (p,q) -> p + q) AS d2
           FROM vv, cents),
         a1 AS (SELECT vec_id, c AS c1 FROM (SELECT vec_id, c, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d)
           WHERE rn = 1),
         rq AS (SELECT vv.vec_id, a1.c1, list_transform(range(0,64),
             d -> CAST(floor((vv.v[d+1] - (((a1.c1*53 + d*17) % 13) - 6)) * 1000.0) AS BIGINT)) AS rq
           FROM vv JOIN a1 USING (vec_id)),
         k2 AS (SELECT range AS k FROM range(0, 8)),
         dd AS (SELECT rq.vec_id, rq.c1, k2.k,
             list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0,64),
               d -> (rq.rq[d+1] - (((k2.k*37 + d*11) % 15) - 7) * 50)
                  * (rq.rq[d+1] - (((k2.k*37 + d*11) % 15) - 7) * 50))),
               (p,q) -> p + q) AS d2
           FROM rq, k2)
         SELECT vec_id, CAST(c1 AS INT) AS c1, CAST(k AS BIGINT) AS c2,
           CAST(d2 AS BIGINT) AS err_q
         FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
           FROM dd) WHERE rn = 1
         ORDER BY vec_id""",
    "ann_ivf_balance" ->
      s"""WITH asg AS ($ivfOracleSql),
         t AS (SELECT count(*) AS tot FROM asg)
         SELECT centroid, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) * 1000000 // tot AS BIGINT) AS share_ppm
         FROM asg, t GROUP BY centroid, tot ORDER BY centroid""",
    // same chunking as the engine: 1-based 10-element slices, ragged tail
    // kept as the last line; df over DISTINCT carrier docs,
    "ann_pq_code" ->
      """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         subs AS (SELECT range AS s FROM range(0, 8)),
         codes AS (SELECT range AS k FROM range(0, 8)),
         d AS (SELECT vec_id, s, k,
           list_reduce(list_prepend(0.0, list_transform(range(0,8),
             d -> (v[s*8 + d + 1] - (((s*29 + k*53 + d*17) % 13) - 6)) * (v[s*8 + d + 1] - (((s*29 + k*53 + d*17) % 13) - 6)))),
             (p,q) -> p + q) AS d2
           FROM vv, subs, codes)
         SELECT vec_id, CAST(s AS INT) AS sub, CAST(k AS INT) AS code,
           round(d2, 4) AS d2_r
         FROM (SELECT vec_id, s, k, d2,
             row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, k) AS rn FROM d)
         WHERE rn = 1 ORDER BY vec_id, sub""",
    // same assignment as ivfOracleSql (argmin over the deterministic seed
    // centroids, ties to the smaller c), then per-(centroid, dim) exact
    // integer sums of the floor-quantized components — the mean is one IEEE
    // division of exact integers,
    "ann_kmeans_step" ->
      """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cents AS (SELECT range AS c FROM range(0, 8)),
         d AS (SELECT vec_id, v, c,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> (v[d+1] - (((c*53 + d*17) % 13) - 6)) * (v[d+1] - (((c*53 + d*17) % 13) - 6)))),
             (p,q) -> p + q) AS d2
           FROM vv, cents),
         a AS (SELECT vec_id, v, centroid FROM (
             SELECT vec_id, v, c AS centroid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d)
           WHERE rn = 1),
         x AS (SELECT centroid, dm.range AS dim,
             CAST(floor(v[dm.range + 1] * 1000000.0) AS BIGINT) AS q
           FROM a, range(0, 64) dm)
         SELECT CAST(centroid AS INT) AS centroid, CAST(dim AS INT) AS dim,
           count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q,
           CAST(sum(q) AS BIGINT) / (count(*) * 1000000.0) AS mean
         FROM x GROUP BY 1, 2 ORDER BY centroid, dim""",
    "ann_ivf_topk" -> ivfTopkOracleSql,
    "ann_filtered_topk" -> ivfFilteredOracleSql,
    "ann_range_search" -> ivfRangeOracleSql,
    "ann_ivfpq_recall" -> ivfPqRecallOracleSql,
    "ann_ivfpq_topk" -> ivfPqOracleSql,
    "ann_ivf_recall" -> ivfRecallOracleSql,
    "ann_recall_curve" -> ivfRecallCurveOracleSql,
    "ann_kmeans_train" -> kmeansTrainOracleSql,
    "ann_pq_train" -> pqTrainOracleSql,
    "ann_ivfpq_topk_trained" -> ivfPqTrainedOracleSql,
    "ann_ood_flags" ->
      s"""WITH ${kmeansTrainCtes(8, 3)},
         cd AS (SELECT vec_id, c, list_reduce(list_prepend(0.0,
             list_transform(range(0,64),
               d -> (v[d+1]-cl[d+1])*(v[d+1]-cl[d+1]))), (p,q) -> p + q) AS d2
           FROM vv, cents3),
         ca AS (SELECT vec_id, c AS centroid,
             CAST(floor(d2 * 1000000.0) AS BIGINT) AS d2q FROM (
             SELECT vec_id, c, d2, row_number() OVER (PARTITION BY vec_id
               ORDER BY d2, c) AS rn FROM cd) q WHERE rn = 1),
         r AS (SELECT centroid, d2q, vec_id, row_number() OVER (
             PARTITION BY centroid ORDER BY d2q, vec_id) AS rn,
             count(*) OVER (PARTITION BY centroid) AS n FROM ca),
         med AS (SELECT centroid, d2q AS med_d2q FROM r
           WHERE rn = (n + 1) // 2)
         SELECT CAST(ca.centroid AS INT) AS centroid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(med.med_d2q) AS BIGINT) AS med_d2q,
           CAST(sum(CASE WHEN ca.d2q > med.med_d2q * 2 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_flagged
         FROM ca JOIN med ON med.centroid = ca.centroid
         GROUP BY 1 ORDER BY centroid""",
    // global rank + running coverage at the four head sizes,
    "ann_pq_distortion" ->
      s"""WITH ${kmeansTrainCtes(8, 3)}, ${pqTrainCtes(8, 16, 3)},
         pdf AS (SELECT vec_id, cb.s AS s, cb.k AS k,
             list_reduce(list_prepend(0.0, list_transform(range(0,8),
               dd -> (v[cb.s*8 + dd + 1]-cb.cl[dd+1])*(v[cb.s*8 + dd + 1]-cb.cl[dd+1]))),
               (p,q) -> p + q) AS d2
           FROM vv, cb3 cb),
         paf AS (SELECT vec_id, s, k AS code, d2 FROM (
             SELECT vec_id, s, k, d2, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d2, k) AS rn FROM pdf) q
           WHERE rn = 1),
         qd AS (SELECT s, code,
             CAST(floor(d2 * 1000000.0) AS BIGINT) AS d2q FROM paf)
         SELECT CAST(s AS INT) AS sub, CAST(code AS INT) AS code,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(d2q) AS BIGINT) AS sum_d2q,
           CAST(max(d2q) AS BIGINT) AS max_d2q
         FROM qd GROUP BY 1, 2 ORDER BY sub, code""",
    // FULL OUTER with coalesced key and status ladder,
    "ann_ivfpq_recall_trained" -> ivfPqTrainedRecallOracleSql,
    "ann_cosine_hist" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         anc AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
           WHERE vec_id % 50 = 0),
         p AS (SELECT CAST(floor(list_sum(list_transform(range(1, 65),
             i -> qv[i] * v[i])) / (qn * nrm) * 10) AS INT) AS bucket
           FROM anc, n WHERE n.vec_id <> anc.qid)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs
         FROM p GROUP BY 1 ORDER BY bucket""",
    // adjacent-step id inversions under (ts, event_id) order,
    "ann_twonn_ratio_hist" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS eq
           FROM embeddings),
         p AS (SELECT a.vec_id AS aid, e.vec_id,
             CAST(list_sum(list_transform(range(1,65),
               i -> (a.eq[i] - e.eq[i]) * (a.eq[i] - e.eq[i]))) AS BIGINT) AS d2
           FROM e a JOIN e ON e.vec_id <> a.vec_id),
         t2 AS (SELECT aid, rn, d2 FROM (
             SELECT aid, d2, row_number() OVER (PARTITION BY aid
               ORDER BY d2, vec_id) AS rn FROM p) q WHERE rn <= 2),
         r AS (SELECT aid,
             min(CASE WHEN rn = 1 THEN d2 END) AS d1,
             min(CASE WHEN rn = 2 THEN d2 END) AS d2n
           FROM t2 GROUP BY 1),
         v AS (SELECT d2n * 1000 // d1 AS ratio_q FROM r WHERE d1 > 0)
         SELECT CAST(least(ratio_q // 250, 20) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(min(ratio_q) AS BIGINT) AS min_ratio_q,
           CAST(max(ratio_q) AS BIGINT) AS max_ratio_q
         FROM v GROUP BY 1 ORDER BY bucket""",
    // first-5-word prefixes, groups of 3+,
    "ann_dim_variance" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS eq
           FROM embeddings),
         x AS (SELECT d.range AS d, eq[CAST(d.range AS INT) + 1] AS xq
           FROM e, range(0, 64) d),
         a AS (SELECT CAST(d AS INT) AS d, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xq) AS BIGINT) AS s,
             CAST(sum(xq * xq) AS BIGINT) AS ss
           FROM x GROUP BY 1)
         SELECT d, n, s, ss, n * ss - s * s AS var_num,
           CAST(row_number() OVER (ORDER BY n * ss - s * s DESC, d)
             AS INT) AS rank
         FROM a ORDER BY d""",
    // milli-floored mean comparison, lowest-label ties, same sample join,
    "ann_silhouette" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS eq
           FROM embeddings),
         anc AS (SELECT vec_id AS aid, label AS alabel, eq AS aeq
           FROM e WHERE vec_id % 20 = 0),
         p AS (SELECT aid, alabel, e.label,
             CAST(list_sum(list_transform(range(1,65),
               i -> (aeq[i] - eq[i]) * (aeq[i] - eq[i]))) AS BIGINT) AS d2
           FROM anc, e WHERE e.vec_id <> anc.aid),
         bl AS (SELECT aid, alabel, label, CAST(sum(d2) AS BIGINT) AS dsum,
             CAST(count(*) AS BIGINT) AS dn
           FROM p GROUP BY 1, 2, 3),
         a AS (SELECT aid, dsum AS a_sum, dn AS a_n,
             dsum * 1000 // dn AS a_mean_q FROM bl WHERE label = alabel),
         b AS (SELECT aid, label AS b_label, dsum AS b_sum, dn AS b_n,
             b_mean_q FROM (
             SELECT aid, label, dsum, dn, dsum * 1000 // dn AS b_mean_q,
               row_number() OVER (PARTITION BY aid
                 ORDER BY dsum * 1000 // dn, label) AS rn
             FROM bl WHERE label <> alabel) q WHERE rn = 1)
         SELECT anc.aid, anc.alabel, a_sum, a_n, a_mean_q, b_label, b_sum,
           b_n, b_mean_q, b_mean_q > a_mean_q AS s_pos
         FROM anc JOIN a ON a.aid = anc.aid JOIN b ON b.aid = anc.aid
         ORDER BY anc.aid""",
    // pooled-support exact KS: cumulative counts per arm at every distinct
    // per-user total, D as the cross-multiplied integer max,
    "ann_knn_mutuality" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS eq
           FROM embeddings),
         p AS (SELECT a.vec_id AS aid, e.vec_id,
             CAST(list_sum(list_transform(range(1,65),
               i -> (a.eq[i] - e.eq[i]) * (a.eq[i] - e.eq[i]))) AS BIGINT) AS d2
           FROM e a JOIN e ON e.vec_id <> a.vec_id),
         t5 AS (SELECT aid, vec_id AS nb FROM (
             SELECT aid, vec_id, row_number() OVER (PARTITION BY aid
               ORDER BY d2, vec_id) AS rn FROM p) q WHERE rn <= 5),
         ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM t5),
         mu AS (SELECT CAST(count(*) AS BIGINT) AS n_mutual
           FROM t5 x JOIN t5 y ON y.aid = x.nb AND y.nb = x.aid)
         SELECT n_edges, n_mutual,
           n_mutual * 1000000 // n_edges AS mutual_ppm
         FROM ne, mu""",
    // the MST cycle-property oracle + weight totals,
    "ann_assign_stability" ->
      s"""WITH ${kmeansTrainCtes(8, 3)},
         vp AS (SELECT vec_id, v, list_transform(range(0,64),
             d -> v[d+1] + CAST((d % 5) - 2 AS DOUBLE) * 0.001) AS pv
           FROM vv),
         cda AS (SELECT vec_id, c, list_reduce(list_prepend(0.0,
             list_transform(range(0,64),
               d -> (v[d+1]-cl[d+1])*(v[d+1]-cl[d+1]))), (p,q) -> p + q) AS d2
           FROM vp, cents3),
         caa AS (SELECT vec_id, c AS c0 FROM (
             SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
               ORDER BY d2, c) AS rn FROM cda) q WHERE rn = 1),
         cdb AS (SELECT vec_id, c, list_reduce(list_prepend(0.0,
             list_transform(range(0,64),
               d -> (pv[d+1]-cl[d+1])*(pv[d+1]-cl[d+1]))), (p,q) -> p + q) AS d2
           FROM vp, cents3),
         cab AS (SELECT vec_id, c AS c1 FROM (
             SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
               ORDER BY d2, c) AS rn FROM cdb) q WHERE rn = 1)
         SELECT CAST(c0 AS INT) AS centroid,
           CAST(count(*) AS BIGINT) AS n_base,
           CAST(sum(CASE WHEN c1 <> c0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(sum(CASE WHEN c1 <> c0 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // CAST(count(*) AS BIGINT) AS churn_ppm
         FROM caa JOIN cab ON cab.vec_id = caa.vec_id
         GROUP BY 1 ORDER BY centroid""",
    // octant ladder on segment deltas, lagged equality share,
    "ann_assign_margin" ->
      s"""WITH ${kmeansTrainCtes(8, 3)},
         cd AS (SELECT vec_id, c, list_reduce(list_prepend(0.0,
             list_transform(range(0,64),
               d -> (v[d+1]-cl[d+1])*(v[d+1]-cl[d+1]))), (p,q) -> p + q) AS d2
           FROM vv, cents3),
         t2 AS (SELECT vec_id, rn, d2 FROM (
             SELECT vec_id, d2, row_number() OVER (PARTITION BY vec_id
               ORDER BY d2, c) AS rn FROM cd) q WHERE rn <= 2),
         mg AS (SELECT vec_id, CAST(floor((max(CASE WHEN rn = 2 THEN d2 END)
               - max(CASE WHEN rn = 1 THEN d2 END)) * 1000000.0) AS BIGINT)
             AS margin_q
           FROM t2 GROUP BY 1)
         SELECT CAST(least(margin_q // 1000000, 20) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(min(margin_q) AS BIGINT) AS min_margin,
           CAST(max(margin_q) AS BIGINT) AS max_margin
         FROM mg GROUP BY 1 ORDER BY bucket""",
    // distinct audiences, arm counts, cross-multiplied χ² at 1e4 scale,
    "ann_hubness" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS eq
           FROM embeddings),
         p AS (SELECT a.vec_id AS aid, e.vec_id,
             CAST(list_sum(list_transform(range(1,65),
               i -> (a.eq[i] - e.eq[i]) * (a.eq[i] - e.eq[i]))) AS BIGINT) AS d2
           FROM e a JOIN e ON e.vec_id <> a.vec_id),
         t5 AS (SELECT vec_id FROM (
             SELECT aid, vec_id, row_number() OVER (PARTITION BY aid
               ORDER BY d2, vec_id) AS rn FROM p) q WHERE rn <= 5),
         ind AS (SELECT e.vec_id,
             CAST(COALESCE(cnt, 0) AS BIGINT) AS in_deg
           FROM e LEFT JOIN (SELECT vec_id, count(*) AS cnt FROM t5
             GROUP BY 1) c ON c.vec_id = e.vec_id)
         SELECT in_deg, CAST(count(*) AS BIGINT) AS n_vecs
         FROM ind GROUP BY 1 ORDER BY in_deg""",
    // distinct(A) vs distinct(A,B) per literal pair,
    "ann_pca_residual" ->
      s"""WITH ${powerIterCtes(3)},
         proj AS (SELECT vec_id, CAST(sum(xq * v) AS BIGINT) AS score
           FROM x JOIN v3 USING (d) GROUP BY 1),
         pq AS (SELECT (score + 1000000000) // 1000 - 1000000 AS p
           FROM proj),
         pv AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS BIGINT) AS proj_s,
             CAST(sum(p * p) AS BIGINT) AS proj_ss FROM pq),
         tv AS (SELECT CAST(sum(nd * ss - s * s) AS BIGINT) AS total_var_num,
             CAST(count(*) AS BIGINT) AS dims FROM (
             SELECT d, CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(xq) AS BIGINT) AS s,
               CAST(sum(xq * xq) AS BIGINT) AS ss FROM x GROUP BY 1) q),
         vv2 AS (SELECT CAST(sum(v * v) AS BIGINT) AS v2 FROM v3)
         SELECT n, dims, total_var_num, v2, proj_s, proj_ss,
           n * proj_ss - proj_s * proj_s AS proj_var_num
         FROM pv, tv, vv2""",
    // per-user cents by arm, exact moment pieces,
    "ann_knn_loocv" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS eq
           FROM embeddings),
         p AS (SELECT a.vec_id AS aid, a.label AS alabel, e.label,
             e.vec_id,
             CAST(list_sum(list_transform(range(1,65),
               i -> (a.eq[i] - e.eq[i]) * (a.eq[i] - e.eq[i]))) AS BIGINT) AS d2
           FROM e a JOIN e ON e.vec_id <> a.vec_id),
         t5 AS (SELECT aid, alabel, label FROM (
             SELECT aid, alabel, label, row_number() OVER (
               PARTITION BY aid ORDER BY d2, vec_id) AS rn FROM p) q
           WHERE rn <= 5),
         v AS (SELECT aid, alabel, label,
             CAST(count(*) AS BIGINT) AS votes FROM t5 GROUP BY 1, 2, 3),
         w AS (SELECT aid, alabel, label FROM (
             SELECT aid, alabel, label, row_number() OVER (PARTITION BY aid
               ORDER BY votes DESC, label) AS vr FROM v) q WHERE vr = 1)
         SELECT alabel, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN label = alabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
         FROM w GROUP BY 1 ORDER BY alabel""",
    // distinct (type,user) memberships, canonical pair self-join,
    "ann_farthest_first" -> farthestFirstOracleSql,
    // the identical NFD recurrence as a recursive CTE, one file per
    // iteration per partition,
    "ann_semdedup" -> semDedupOracleSql,
    "ann_sq8" -> sq8OracleSql,
    "ann_cosine_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
         p AS (SELECT qid, n.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qnrm * nrm) AS cos
           FROM q, n WHERE n.vec_id <> qid),
         r AS (SELECT qid, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank FROM p)
         SELECT qid, neighbor_id, rank, round(cos, 4) AS cos_r
         FROM r WHERE rank <= 10 ORDER BY qid, rank""",
    // hardest wrong-label / nearest same-label neighbour per anchor; the
    // margin in 1e4 quanta through the identical double pipeline,
    "ann_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 50 = 0),
         p AS (SELECT qid, qlabel, n.vec_id, n.label,
             list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qnrm * nrm) AS cos
           FROM q, n WHERE n.vec_id <> qid),
         pos AS (SELECT qid, vec_id AS pos_id, cos AS pcos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
           FROM p WHERE label = qlabel QUALIFY rn = 1),
         neg AS (SELECT qid, vec_id AS neg_id, cos AS ncos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
           FROM p WHERE label <> qlabel QUALIFY rn = 1)
         SELECT pos.qid, pos_id, neg_id,
           round(pcos, 4) AS cos_pos_r, round(ncos, 4) AS cos_neg_r,
           CAST(round((pcos - ncos) * 10000.0) AS BIGINT) AS margin_q
         FROM pos JOIN neg ON pos.qid = neg.qid ORDER BY pos.qid""",
    // prefix-cosine candidates, exact full-dim re-rank of the top-50,
    "ann_mmr" -> mmrOracleSql,
    // both exact rankings, then the integer-exact ppm-truncated RRF merge,
    "ann_matryoshka" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, v[1:16] AS p,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
             sqrt(list_sum(list_transform(v[1:16], x -> x * x))) AS pnrm FROM e),
         q AS (SELECT vec_id AS qid, v AS qv, p AS qp, nrm AS qnrm,
             pnrm AS qpnrm FROM n WHERE vec_id < 5),
         c0 AS (SELECT qid, n.vec_id AS neighbor_id, qv, n.v, qnrm, n.nrm,
             list_sum(list_transform(range(1, 17), i -> qp[i] * p[i])) / (qpnrm * n.pnrm) AS pcos
           FROM q, n WHERE n.vec_id <> qid),
         c1 AS (SELECT qid, neighbor_id, qv, v, qnrm, nrm,
             row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, neighbor_id) AS prank
           FROM c0 QUALIFY prank <= 50),
         r AS (SELECT qid, neighbor_id,
             list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qnrm * nrm) AS cos
           FROM c1),
         rk AS (SELECT qid, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank FROM r)
         SELECT qid, neighbor_id, rank, round(cos, 4) AS cos_r
         FROM rk WHERE rank <= 10 ORDER BY qid, rank""",
    // sign-bit packing as a 1-based list fold, xor()+bit_count ranking,
    "ann_rrf_fusion" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
         p AS (SELECT qid, n.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) AS dot,
             qnrm, nrm
           FROM q, n WHERE n.vec_id <> qid),
         s AS (SELECT qid, neighbor_id, dot / (qnrm * nrm) AS cos,
             qnrm * qnrm + nrm * nrm - 2.0 * dot AS l2sq FROM p),
         ra AS (SELECT qid, neighbor_id,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank_a
           FROM s QUALIFY rank_a <= 20),
         rb AS (SELECT qid, neighbor_id,
             row_number() OVER (PARTITION BY qid ORDER BY l2sq ASC, neighbor_id) AS rank_b
           FROM s QUALIFY rank_b <= 20),
         f AS (SELECT COALESCE(ra.qid, rb.qid) AS qid,
             COALESCE(ra.neighbor_id, rb.neighbor_id) AS neighbor_id,
             COALESCE(1000000 // (60 + rank_a), 0) +
             COALESCE(1000000 // (60 + rank_b), 0) AS score
           FROM ra FULL OUTER JOIN rb
           ON ra.qid = rb.qid AND ra.neighbor_id = rb.neighbor_id)
         SELECT qid, neighbor_id, CAST(score AS BIGINT) AS score_ppm,
           CAST(row_number() OVER (PARTITION BY qid
             ORDER BY score DESC, neighbor_id) AS INTEGER) AS fused_rank
         FROM f QUALIFY fused_rank <= 10 ORDER BY qid, fused_rank""",
    // orphan-FK audit: key left joins, null-parent counting,
    "ann_facility_greedy" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 5 = 0),
         edges AS MATERIALIZED (SELECT cid, e.vec_id AS pid FROM c, e
           WHERE list_sum(list_transform(range(1, 65),
             i -> (e.v[i] - cv[i]) * (e.v[i] - cv[i]))) <= CAST(1.44 AS DOUBLE)),
         g1 AS (SELECT cid, CAST(count(*) AS BIGINT) AS gain FROM edges
           GROUP BY 1 ORDER BY gain DESC, cid LIMIT 1),
         cov1 AS (SELECT DISTINCT pid FROM edges WHERE cid = (SELECT cid FROM g1)),
         g2 AS (SELECT cid, CAST(count(*) AS BIGINT) AS gain FROM edges
           WHERE cid <> (SELECT cid FROM g1)
             AND pid NOT IN (SELECT pid FROM cov1)
           GROUP BY 1 ORDER BY gain DESC, cid LIMIT 1),
         cov2 AS (SELECT pid FROM cov1 UNION
           SELECT pid FROM edges WHERE cid = (SELECT cid FROM g2)),
         g3 AS (SELECT cid, CAST(count(*) AS BIGINT) AS gain FROM edges
           WHERE cid NOT IN (SELECT cid FROM g1 UNION ALL SELECT cid FROM g2)
             AND pid NOT IN (SELECT pid FROM cov2)
           GROUP BY 1 ORDER BY gain DESC, cid LIMIT 1),
         cov3 AS (SELECT pid FROM cov2 UNION
           SELECT pid FROM edges WHERE cid = (SELECT cid FROM g3)),
         g4 AS (SELECT cid, CAST(count(*) AS BIGINT) AS gain FROM edges
           WHERE cid NOT IN (SELECT cid FROM g1 UNION ALL SELECT cid FROM g2
             UNION ALL SELECT cid FROM g3)
             AND pid NOT IN (SELECT pid FROM cov3)
           GROUP BY 1 ORDER BY gain DESC, cid LIMIT 1),
         u AS (SELECT 1 AS round, cid, gain FROM g1
           UNION ALL SELECT 2, cid, gain FROM g2
           UNION ALL SELECT 3, cid, gain FROM g3
           UNION ALL SELECT 4, cid, gain FROM g4)
         SELECT CAST(round AS BIGINT) AS round, CAST(cid AS BIGINT) AS center_id,
           gain, CAST(sum(gain) OVER (ORDER BY round) AS BIGINT) AS covered_total
         FROM u ORDER BY round""",
    // exact day-pair inversion/tie counts, milli-normalized,
    "ann_candidate_accounting" ->
      """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cents AS (SELECT range AS c FROM range(0, 8)),
         d AS (SELECT vec_id, c,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> (v[d+1] - (((c*53 + d*17) % 13) - 6)) * (v[d+1] - (((c*53 + d*17) % 13) - 6)))),
             (p,q) -> p + q) AS d2
           FROM vv, cents),
         asg AS (SELECT vec_id, CAST(c AS INT) AS centroid FROM (
           SELECT vec_id, c, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
           FROM d) t WHERE rn = 1),
         sizes AS (SELECT centroid, CAST(count(*) AS BIGINT) AS list_sz
           FROM asg GROUP BY 1),
         pr AS (SELECT vec_id AS qid, CAST(c AS INT) AS centroid,
             CAST(row_number() OVER (PARTITION BY vec_id
               ORDER BY d2, c) AS INT) AS rn
           FROM d WHERE vec_id % 50 = 0
           QUALIFY rn <= 2),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM vv)
         SELECT qid,
           CAST(min(CASE WHEN rn = 1 THEN centroid END) AS INT) AS c1,
           CAST(min(CASE WHEN rn = 2 THEN centroid END) AS INT) AS c2,
           CAST(sum(list_sz) AS BIGINT) AS n_cand, n_corpus,
           CAST(1000000 * sum(list_sz) // n_corpus AS BIGINT) AS ratio_ppm
         FROM pr JOIN sizes USING (centroid), n
         GROUP BY 1, n_corpus ORDER BY qid""",
    // per-lag shifted self-join autocorrelation, argmax with lag ties
  )
}
