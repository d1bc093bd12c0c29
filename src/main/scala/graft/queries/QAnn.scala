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

/** Embedding / ANN gates: exact and IVF / IVF-PQ search, quantizer
  * training, LSH near-dups, NN-descent, recall, SemDeDup (13 entries),
  * each with its DuckDB oracle SQL.
  */
object QAnn {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LSH near-duplicate embedding pairs (ops.Embeddings.nearDupPairs) over
    // the corpus plus exact copies of every 20th vector (+10000).
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
    // bucket partition is transitive.)
    "ann_nn_descent" -> ((s, dir) => {
      ops.Embeddings.nnDescentRecall(t(s, dir, "embeddings"), k = 3,
          nQueries = 25)
        .orderBy("qid")
    }),
    "ann_ivf_assign" -> ((s, dir) => {
      ops.Embeddings.ivfAssign(t(s, dir, "embeddings"), 8).orderBy("vec_id")
    }),
    // Product quantization (8 subspaces × 8 codes): the embedding
    // COMPRESSION step of an IVF-PQ index — per-row on the scan, no
    // shuffle; d2_r per subspace sums to the reconstruction error.
    "ann_pq_code" -> ((s, dir) => {
      ops.Embeddings.pqCode(t(s, dir, "embeddings"), 8, 8)
        .orderBy("vec_id", "sub")
    }),
    // One Lloyd iteration of k-means — the IVF centroid TRAINING step:
    // per-row assignment on the scan, one partial-aggregated shuffle to
    // k·dims rows, quantized-integer sums for engine-exact means.
    "ann_kmeans_step" -> ((s, dir) => {
      ops.Embeddings.kmeansStep(t(s, dir, "embeddings"), 8)
        .orderBy("centroid", "dim")
    }),
    // IVF top-k SEARCH (the scale path of ANN): queries probe only their
    // nProbe nearest centroid lists, exact cosine re-ranks candidates.
    "ann_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.ivfSearch(e, e.filter(col("vec_id") < 5),
        kCentroids = 8, nProbe = 2, topK = 5).orderBy("qid", "rank")
    }),
    // recall@5 of IVF-PQ vs the exact baseline: the PQ-fidelity number on
    // top of the coarse-probe loss (compare with ann_ivf_recall).
    "ann_ivfpq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.ivfPqRecall(e, e.filter(col("vec_id") < 25),
        kCentroids = 8, nProbe = 2, nSub = 8, kCodes = 8, topK = 5)
        .orderBy("qid")
    }),
    // IVF-PQ: same coarse probe, candidates scored by asymmetric distance
    // over 8x1B PQ codes — corpus vectors never cross the join.
    "ann_ivfpq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.ivfPqSearch(e, e.filter(col("vec_id") < 5),
        kCentroids = 8, nProbe = 2, nSub = 8, kCodes = 8, topK = 5)
        .orderBy("qid", "rank")
    }),
    // Recall@k of the IVF search vs the exact cosine baseline on the same
    // queries — the tuning number for nProbe (deterministic, so the oracle
    // reproduces the exact hit counts).
    "ann_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ops.Embeddings.ivfRecall(e, e.filter(col("vec_id") < 25),
        kCentroids = 8, nProbe = 2, topK = 5).orderBy("qid")
    }),
    // The coarse-quantizer TRAINING LOOP (iterated kmeansStep from the
    // deterministic seed): per-round centroid sums, oracle-replayed by
    // unrolled CTEs — means are exact-integer sums + one IEEE division,
    // so every round is bit-reproducible.
    "ann_kmeans_train" -> ((s, dir) => {
      import s.implicits._
      val (_, hist) = trainedKmeans(s, dir)
      hist.toDF("round", "centroid", "dim", "n", "sum_q", "mean")
        .orderBy("round", "centroid", "dim")
    }),
    // recall@k of IVF-PQ with the trained coarse quantizer
    // (ann_kmeans_train) and trained PQ codebooks, against the exact
    // baseline.
    "ann_ivfpq_recall_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cents, _) = trainedKmeans(s, dir)
      val (cbs, _) = trainedPq(s, dir)
      ops.Embeddings.ivfPqRecallTrained(e, e.filter(col("vec_id") < 25),
        cents, cbs, nProbe = 2, shortlist = 50, topK = 5).orderBy("qid")
    }),
    "ann_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cents, _) = trainedKmeans(s, dir)
      ops.Embeddings.semDedup(semCorpus(e), cents, minCos = 0.95)
        .orderBy("vec_id")
    }),
    // Exact cosine top-k: the brute-force baseline the recall gates compare
    // against. The query side (5 rows) is broadcast and the corpus streams.
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
  )

  val sql: Map[String, String] = Map(
    "ann_lsh_neardup" -> annLshOracleSql,
    "ann_nn_descent" -> nnDescentOracleSql,
    "ann_ivf_assign" -> ivfOracleSql,
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
    // division of exact integers
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
    "ann_ivfpq_recall" -> ivfPqRecallOracleSql,
    "ann_ivfpq_topk" -> ivfPqOracleSql,
    "ann_ivf_recall" -> ivfRecallOracleSql,
    "ann_kmeans_train" -> kmeansTrainOracleSql,
    "ann_ivfpq_recall_trained" -> ivfPqTrainedRecallOracleSql,
    "ann_semdedup" -> semDedupOracleSql,
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
  )
}
