package graft.ops

import graft.functions.vectors.{vec_dist2, vec_dot}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over an embedding column (`array<float>` in the input
  * table, cast to doubles for arithmetic parity with the oracle).
  *
  * Two paths, per the scale plan:
  *  - brute-force cosine top-k (SparkEntry `ann_cosine_topk`) — the exact
  *    baseline, broadcast the smaller side;
  *  - random-hyperplane LSH bucketing here — the 100 TB path: each vector
  *    maps to one bucket (one shuffle on bucket), candidate pairs exist only
  *    within buckets, exact cosine refines. Deterministic integer
  *    hyperplanes keep the oracle bit-compatible.
  */
object Embeddings {

  /** Deterministic hyperplane weight: `((j*97 + d*31) mod 19) - 9`. */
  private def planeWeight(j: Int): Column =
    transform(sequence(lit(0), lit(63)),
      d => ((lit(j) * 97 + d * 31) % 19 - 9).cast("double"))

  /** Sequential-fold dot product — a codegen'd expression (VecDotExpr); the
    * lambda form `aggregate(zip_with(...))` is interpreted per element and
    * ~5x slower. Fold order identical (left fold from 0.0).
    */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** `nPlanes`-bit random-hyperplane LSH bucket of a 64-dim vector. */
  def lshBucket(v: Column, nPlanes: Int): Column =
    (0 until nPlanes).map { j =>
      when(dot(v, planeWeight(j)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduceLeft(_ + _)

  /** Near-duplicate pairs: same LSH bucket AND exact cosine >= minCos.
    * Returns (id_a, id_b, cos_r) with cos rounded to 4 decimals.
    */
  def nearDupPairs(vecs: DataFrame, nPlanes: Int = 8,
                   minCos: Double = 0.999): DataFrame = {
    val v = vecs.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", lshBucket(col("v"), nPlanes))
      .withColumn("nrm", norm(col("v")))
    val a = v.select(col("bucket"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col("bucket"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_r"))
  }

  /** Deterministic centroid c (dim d = ((c*53 + d*17) mod 13) - 6). */
  private def centroid(c: Int): Column =
    transform(sequence(lit(0), lit(63)),
      d => ((lit(c) * 53 + d * 17) % 13 - 6).cast("double"))

  /** IVF-style coarse assignment: nearest of `k` deterministic centroids.
    * The coarse quantizer of an IVF index: at scale, probes search only
    * their centroid's list.
    */
  def ivfAssign(vecs: DataFrame, k: Int): DataFrame = {
    val v = vecs.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>").as("v"))
    val dists = (0 until k).map { c =>
      struct(vec_dist2(col("v"), centroid(c)).as("d2"), lit(c).as("c"))
    }
    v.withColumn("best", least(dists: _*))
      .select(col("vec_id"), col("best.c").as("centroid"),
        round(col("best.d2"), 4).as("d2_r"))
  }

  /** Shared coarse-probe scaffold of [[ivfSearch]] and [[ivfPqSearch]]:
    * corpus assigned to its nearest centroid, each query exploded to its
    * nProbe nearest centroid lists (lexicographic (d2, c) sort — same tie
    * order as the assignment's least()), and the query side byte-gated for
    * broadcast. The gate is LAZY: Catalyst's own plan statistics for the
    * query side (exact for local relations, parquet file sizes for scans —
    * no eager count() job re-running the query side's lineage per call).
    * The probe side replicates each query row nProbe times, so the estimate
    * is stats × nProbe; with CBO off a Filter passes its child's
    * sizeInBytes through un-reduced, which over-estimates and errs toward
    * the safe (shuffle-join) path.
    *
    * @return (corpus with `centroid`, probe side (qid, qv, centroid) with
    *         the broadcast hint applied when under the byte budget)
    */
  private def coarseProbe(vecs: DataFrame, queries: DataFrame,
                          kCentroids: Int, nProbe: Int,
                          broadcastMaxBytes: Long): (DataFrame, DataFrame) = {
    val dists = (0 until kCentroids).map { c =>
      struct(vec_dist2(col("v"), centroid(c)).as("d2"), lit(c).as("c"))
    }
    val corpus = vecs.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("centroid", least(dists: _*).getField("c"))
    val qdists = (0 until kCentroids).map { c =>
      struct(vec_dist2(col("qv"), centroid(c)).as("d2"), lit(c).as("c"))
    }
    val qprobe = queries.select(col("vec_id").cast("long").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("probe", explode(slice(array_sort(array(qdists: _*)), 1, nProbe)))
      .select(col("qid"), col("qv"), col("probe").getField("c").as("centroid"))
    val qBytes = queries.queryExecution.optimizedPlan.stats.sizeInBytes
    val probeSide =
      if (qBytes * nProbe <= BigInt(broadcastMaxBytes)) broadcast(qprobe)
      else qprobe
    (corpus, probeSide)
  }

  /** IVF top-k search — the scale path of ANN search: each query probes only
    * its `nProbe` nearest centroid LISTS instead of the whole corpus, then
    * exact cosine re-ranks the candidates. The corpus side carries its
    * centroid as the join key — at 100 TB the corpus is partitioned (and on
    * disk, partition-pruned) by centroid, and the only wide operation is the
    * per-query top-k window over candidates from nProbe lists.
    * Recall < 1 by design (a neighbor assigned to an unprobed list is
    * missed) — `ann_cosine_topk` is the exact baseline; [[ivfRecall]]
    * measures recall@k against it; determinism is total, so the oracle
    * replicates results bit-for-bit.
    *
    * The probe side is size-gated in BYTES, mirroring the kNN fallback
    * (SpatialJoin.knn): an analytics query set (few queries) broadcasts its
    * nProbe-exploded probe rows — zero shuffle on the corpus, candidate
    * generation rides the corpus scan; a query-HEAVY workload (batch
    * re-embedding, queries ≈ corpus) would materialize
    * queries × nProbe × ~vector-width bytes on the driver and every
    * executor, so past `broadcastMaxBytes` the candidates come from a plain
    * shuffle join on `centroid` instead — both sides hash-partition by
    * centroid list, which is exactly how the corpus is already laid out.
    *
    * @return (qid, neighbor_id, centroid, rank, cos_r)
    */
  def ivfSearch(vecs: DataFrame, queries: DataFrame, kCentroids: Int,
                nProbe: Int, topK: Int,
                broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (corpus0, probeSide) =
      coarseProbe(vecs, queries, kCentroids, nProbe, broadcastMaxBytes)
    val corpus = corpus0.withColumn("nrm", norm(col("v")))
    val cand = corpus.join(probeSide, Seq("centroid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        dot(col("v"), col("qv")) / (col("nrm") * norm(col("qv"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("centroid"),
        col("rank"), round(col("cos"), 4).as("cos_r"))
  }

  /** Metadata-FILTERED IVF top-k: ANN search restricted to corpus vectors
    * satisfying a scalar predicate (label, language, license, date…) — the
    * shape every retrieval deployment actually runs ("nearest neighbors
    * WHERE lang = 'en'"). This is the PRE-filter strategy: the predicate is
    * applied to the corpus BEFORE centroid assignment, so
    *
    *  - it lands on the parquet scan as a pushed data filter (row-group
    *    pruning if the table is clustered by the attribute; PlanSpec
    *    asserts `PushedFilters` — filtered-out vectors are never decoded,
    *    the 100 TB win over post-filtering a top-k' overfetch);
    *  - the returned top-k among survivors in the probed lists is EXACT for
    *    those lists — no recall cliff when the filter is selective, where
    *    post-filter (search-then-filter) returns k·selectivity rows and
    *    must guess the overfetch factor.
    *
    * The trade: probe-list sizes shrink with selectivity, so very selective
    * filters want a larger `nProbe` (the [[ivfRecall]] gate measures
    * exactly this number on the filtered corpus — same knob, same gate).
    * Centroid assignment is per-vector, so pre-filtering commutes with
    * assignment: the oracle replays it as a post-assignment semi-join.
    */
  def ivfSearchFiltered(vecs: DataFrame, queries: DataFrame, kCentroids: Int,
                        nProbe: Int, topK: Int, pred: Column,
                        broadcastMaxBytes: Long = 64L << 20): DataFrame =
    ivfSearch(vecs.filter(pred), queries, kCentroids, nProbe, topK,
      broadcastMaxBytes)

  /** Cosine RANGE search over the IVF index: every (query, vector) pair in
    * the probed centroid lists with cosine ≥ `minCos` — the vector-space
    * analogue of the spatial within-distance join (J5): candidates come
    * from the bucketed structure (probed lists), the refine is one codegen'd
    * scan predicate, and no per-query window is needed (unlike topK the
    * output size is data-dependent, so there is no rank shuffle at all —
    * the only exchange is the probe join itself, and that broadcasts under
    * the byte gate). cos is the shared left-fold [[dot]]/[[norm]] kernel,
    * bit-replayable by the oracle, so the threshold compares bit-equal
    * operands on both sides.
    */
  def ivfRangeSearch(vecs: DataFrame, queries: DataFrame, kCentroids: Int,
                     nProbe: Int, minCos: Double,
                     broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    val (corpus0, probeSide) =
      coarseProbe(vecs, queries, kCentroids, nProbe, broadcastMaxBytes)
    val corpus = corpus0.withColumn("nrm", norm(col("v")))
    corpus.join(probeSide, Seq("centroid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        dot(col("v"), col("qv")) / (col("nrm") * norm(col("qv"))))
      .filter(col("cos") >= lit(minCos))
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("centroid"),
        round(col("cos"), 4).as("cos_r"))
  }

  /** Exact brute-force cosine top-k: broadcast the query side (small by
    * contract), stream the corpus — one corpus scan, no shuffle before the
    * per-query top-k window. The exact baseline [[ivfRecall]] measures
    * [[ivfSearch]] against.
    */
  def cosineTopK(vecs: DataFrame, queries: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = vecs.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = queries.select(col("vec_id").cast("long").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("qnrm", norm(col("qv")))
    val pairs = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Shared recall summary: per query, how many of `approx`'s (qid,
    * neighbor_id) rows appear in `exact`'s — queries with zero hits kept
    * at recall 0 via the left outer join.
    */
  private def recallSummary(approx: DataFrame, exact: DataFrame,
                            queries: DataFrame, topK: Int): DataFrame = {
    val hits = approx.join(exact, Seq("qid", "neighbor_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    queries.select(col("vec_id").cast("long").as("qid")).distinct()
      .join(hits, Seq("qid"), "left_outer")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        (coalesce(col("hits"), lit(0L)) / lit(topK.toDouble)).as("recall"))
  }

  /** Recall@topK of [[ivfSearch]] against the exact [[cosineTopK]] baseline
    * on the same query set — the number a user tuning nProbe/kCentroids
    * needs. Hits and recall are exact rationals of deterministic sets, so an
    * independent engine reproduces them bit-for-bit.
    *
    * @return (qid, n_hits, recall) with recall = |ivf ∩ exact| / topK
    */
  def ivfRecall(vecs: DataFrame, queries: DataFrame, kCentroids: Int,
                nProbe: Int, topK: Int): DataFrame =
    recallSummary(
      ivfSearch(vecs, queries, kCentroids, nProbe, topK)
        .select(col("qid"), col("neighbor_id")),
      cosineTopK(vecs, queries, topK).select(col("qid"), col("neighbor_id")),
      queries, topK)

  /** Deterministic PQ codebook entry: subspace `s`, code `k`, local dim `d`
    * (same modular family as [[centroid]], offset by the subspace).
    */
  private def pqCentroid(s: Int, k: Int, dims: Int): Column =
    transform(sequence(lit(0), lit(dims - 1)),
      d => ((lit(s) * 29 + lit(k) * 53 + d * 17) % 13 - 6).cast("double"))

  /** Product quantization — the embedding COMPRESSION step of a scale ANN
    * index (IVF-PQ): the 64-dim vector splits into `nSub` contiguous
    * subspaces, each quantized independently to its nearest codebook entry,
    * so a float vector becomes `nSub` small codes (here 64×4B → 8×1B, 32×).
    * Per-row arithmetic on the corpus scan — no shuffle, no driver state;
    * the codebook is a deterministic closed form (training it is
    * [[kmeansStep]]'s job, per subspace).
    *
    * Emits one row per (vec_id, subspace): the assigned `code`, its
    * `d2_r` = round(residual ‖·‖², 4) — summing d2 over a vector's
    * subspaces is the PQ reconstruction error, the compression-fidelity
    * number. Ties break to the smaller code (lexicographic (d2, k) struct
    * min, matching [[ivfAssign]]).
    */
  def pqCode(vecs: DataFrame, nSub: Int, kCodes: Int): DataFrame = {
    require(64 % nSub == 0, s"nSub must divide 64, got $nSub")
    val dims = 64 / nSub
    val v = vecs.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>").as("v"))
    val subRows = (0 until nSub).map { s =>
      val sub = slice(col("v"), s * dims + 1, dims)
      val dists = (0 until kCodes).map { k =>
        struct(vec_dist2(sub, pqCentroid(s, k, dims)).as("d2"), lit(k).as("k"))
      }
      struct(lit(s).as("sub"), least(dists: _*).as("best"))
    }
    v.select(col("vec_id"), explode(array(subRows: _*)).as("sc"))
      .select(col("vec_id"), col("sc.sub").as("sub"),
        col("sc.best.k").as("code"), round(col("sc.best.d2"), 4).as("d2_r"))
  }

  /** One Lloyd iteration of k-means over the embedding column — the centroid
    * TRAINING step the IVF index needs (ivfAssign/ivfSearch use the
    * deterministic seed centroids; iterating this step refines them).
    *
    * Scale shape: assignment is per-row arithmetic on the corpus scan (no
    * shuffle); the mean recomputation is `posexplode` to (centroid, dim)
    * followed by ONE partial-aggregated shuffle whose output is exactly
    * k·dims rows — the classic distributed Lloyd step. Iterating collects
    * only the k×dims new centroid components to the driver (bounded, ~512
    * doubles), never any corpus data.
    *
    * Engine-exactness: per-component sums run on QUANTIZED integers
    * (`q = floor(v_d · 10^6)` — floor of the same IEEE product on both
    * engines), so the aggregation is order-independent exact 64-bit
    * arithmetic; the emitted mean is one IEEE division of exact integers.
    *
    * @return (centroid, dim, n, sum_q, mean) — n rows per centroid·dim;
    *         empty centroids emit no rows (standard Lloyd: empty clusters
    *         keep their old centroid, decided by the caller)
    */
  def kmeansStep(vecs: DataFrame, k: Int): DataFrame = {
    val dists = (0 until k).map { c =>
      struct(vec_dist2(col("v"), centroid(c)).as("d2"), lit(c).as("c"))
    }
    vecs.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("centroid", least(dists: _*).getField("c"))
      .select(col("centroid"), posexplode(col("v")).as(Seq("dim", "vd")))
      .withColumn("q", floor(col("vd") * lit(1000000.0)).cast("long"))
      .groupBy("centroid", "dim")
      .agg(count(lit(1)).as("n"), sum("q").as("sum_q"))
      .withColumn("mean", col("sum_q") / (col("n") * lit(1000000.0)))
  }

  // ------- trained quantizers: the Lloyd FIXPOINT of kmeansStep -------
  //
  // The closed-form demo centroids/codebooks above are integers in [-6, 6];
  // real embedding corpora (and the synthetic gate table) live near the unit
  // ball, so the demo PQ codebook quantizes everything onto whichever entry
  // is nearest the origin — the measured recall collapse (ann_ivfpq_recall:
  // 0.712 probe ceiling -> 0.024 with the demo codebook). Training is the
  // same kmeansStep round iterated a FIXED number of rounds from a
  // deterministic DATA seed (Forgy: the first k vectors by id — seeding at
  // the data's own scale; the integer closed form leaves all but the
  // origin-nearest entry empty forever, measured on the gate corpus). Each
  // round collects only k x dims (coarse) or nSub x kCodes x subDims (PQ)
  // quantized-integer sums to the driver — bounded state, never corpus
  // data — and every arithmetic step (exact integer sums, one IEEE division
  // per mean, left-fold d2) is replayable bit-for-bit by an independent
  // engine, so the per-round centroid tables themselves are oracle-gated
  // (ann_kmeans_train).

  /** One training-history row: (round, centroid, dim, n, sum_q, mean). */
  type TrainRow = (Int, Int, Int, Long, Long, Double)

  /** Deterministic Forgy seeds: the first `k` vectors by id (collected once;
    * k vectors, bounded). Requires vec_ids 0..k-1 present.
    */
  private def dataSeeds(v: DataFrame, k: Int): Array[Array[Double]] = {
    val seeds = v.filter(col("vec_id") < k).orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toArray)
    require(seeds.length == k, s"need vec_ids 0..${k - 1} as seeds, got ${seeds.length}")
    seeds
  }

  /** Iterated distributed Lloyd over the full vectors — the coarse-quantizer
    * training loop. Per round: assignment rides the corpus scan (no
    * shuffle), the recomputed means cross the shuffle as exactly k·64
    * partial-aggregated rows, and the driver folds them into the next
    * centroid array (empty clusters keep their previous centroid — standard
    * Lloyd). Means are exact-integer quantized sums divided once
    * (`sum(floor(v_d·10^6)) / (n·10^6)`), so every round's centroids are
    * IEEE-identical across engines and the loop is deterministic.
    *
    * @return (trained centroids, per-round history for the oracle gate)
    */
  def kmeansTrain(vecs: DataFrame, k: Int,
                  rounds: Int): (Array[Array[Double]], Seq[TrainRow]) = {
    val v = vecs.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>").as("v"))
    var cur = dataSeeds(v, k)
    val hist = Seq.newBuilder[TrainRow]
    for (r <- 1 to rounds) {
      val dists = (0 until k).map { c =>
        struct(vec_dist2(col("v"), typedLit(cur(c).toSeq)).as("d2"), lit(c).as("c"))
      }
      val sums = v.withColumn("centroid", least(dists: _*).getField("c"))
        .select(col("centroid"), posexplode(col("v")).as(Seq("dim", "vd")))
        .withColumn("q", floor(col("vd") * lit(1000000.0)).cast("long"))
        .groupBy("centroid", "dim")
        .agg(count(lit(1)).as("n"), sum("q").as("sum_q"))
        .collect()
      val next = cur.map(_.clone())
      sums.foreach { row =>
        val c = row.getInt(0); val d = row.getInt(1)
        val n = row.getLong(2); val sq = row.getLong(3)
        val mean = sq / (n * 1000000.0)
        next(c)(d) = mean
        hist += ((r, c, d, n, sq, mean))
      }
      cur = next
    }
    (cur, hist.result())
  }

  /** [[kmeansTrain]] per PQ subspace: each (vector, subspace) pair is a
    * `64/nSub`-dim training point, all subspaces train in the SAME Spark
    * jobs (one assignment scan + one nSub·kCodes·subDims-row aggregation
    * per round). History rows are (round, sub, code, dim, n, sum_q, mean).
    */
  def pqTrain(vecs: DataFrame, nSub: Int, kCodes: Int, rounds: Int):
      (Array[Array[Array[Double]]], Seq[(Int, Int, Int, Int, Long, Long, Double)]) = {
    require(64 % nSub == 0, s"nSub must divide 64, got $nSub")
    val dims = 64 / nSub
    val v = vecs.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>").as("v"))
    // Forgy per subspace: code k of subspace s seeds from vector k's s-th
    // subvector (same data-scale argument as the coarse seeds)
    val full = dataSeeds(v, kCodes)
    var cur = Array.tabulate(nSub, kCodes, dims)((s, k, d) => full(k)(s * dims + d))
    val hist = Seq.newBuilder[(Int, Int, Int, Int, Long, Long, Double)]
    for (r <- 1 to rounds) {
      val subRows = (0 until nSub).map { s =>
        val sub = slice(col("v"), s * dims + 1, dims)
        struct(lit(s).as("s"),
          least((0 until kCodes).map { k =>
            struct(vec_dist2(sub, typedLit(cur(s)(k).toSeq)).as("d2"), lit(k).as("k"))
          }: _*).getField("k").as("code"),
          sub.as("sv"))
      }
      val sums = v.select(explode(array(subRows: _*)).as("sc"))
        .select(col("sc.s").as("s"), col("sc.code").as("code"),
          posexplode(col("sc.sv")).as(Seq("dim", "vd")))
        .withColumn("q", floor(col("vd") * lit(1000000.0)).cast("long"))
        .groupBy("s", "code", "dim")
        .agg(count(lit(1)).as("n"), sum("q").as("sum_q"))
        .collect()
      val next = cur.map(_.map(_.clone()))
      sums.foreach { row =>
        val s = row.getInt(0); val k = row.getInt(1); val d = row.getInt(2)
        val n = row.getLong(3); val sq = row.getLong(4)
        val mean = sq / (n * 1000000.0)
        next(s)(k)(d) = mean
        hist += ((r, s, k, d, n, sq, mean))
      }
      cur = next
    }
    (cur, hist.result())
  }

  /** [[coarseProbe]] with TRAINED centroid literals instead of the closed
    * form — plan shape identical (constant arrays either way, same lazy
    * byte-gated probe broadcast).
    */
  private[graft] def coarseProbeWith(vecs: DataFrame, queries: DataFrame,
                              cents: Array[Array[Double]], nProbe: Int,
                              broadcastMaxBytes: Long): (DataFrame, DataFrame) = {
    val dists = cents.indices.map { c =>
      struct(vec_dist2(col("v"), typedLit(cents(c).toSeq)).as("d2"), lit(c).as("c"))
    }
    val corpus = vecs.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("centroid", least(dists: _*).getField("c"))
    val qdists = cents.indices.map { c =>
      struct(vec_dist2(col("qv"), typedLit(cents(c).toSeq)).as("d2"), lit(c).as("c"))
    }
    val qprobe = queries.select(col("vec_id").cast("long").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("probe", explode(slice(array_sort(array(qdists: _*)), 1, nProbe)))
      .select(col("qid"), col("qv"), col("probe").getField("c").as("centroid"))
    val qBytes = queries.queryExecution.optimizedPlan.stats.sizeInBytes
    val probeSide =
      if (qBytes * nProbe <= BigInt(broadcastMaxBytes)) broadcast(qprobe)
      else qprobe
    (corpus, probeSide)
  }

  /** [[ivfPqSearch]] with trained coarse centroids + PQ codebooks. The plan
    * is the same composed read path (coarse-probe join, vectors dropped
    * before the join, ADC over codes); only the quantizer constants change —
    * which is the whole fidelity story [[ivfPqRecall]] measures.
    */
  def ivfPqSearchTrained(vecs: DataFrame, queries: DataFrame,
                         cents: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]],
                         nProbe: Int, topK: Int,
                         broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nSub = codebooks.length
    val dims = 64 / nSub
    val (corpus0, probeSide) =
      coarseProbeWith(vecs, queries, cents, nProbe, broadcastMaxBytes)
    val corpus = corpus0
      .withColumn("codes", array((0 until nSub).map { s =>
        val sub = slice(col("v"), s * dims + 1, dims)
        least(codebooks(s).indices.map { k =>
          struct(vec_dist2(sub, typedLit(codebooks(s)(k).toSeq)).as("d2"), lit(k).as("k"))
        }: _*).getField("k")
      }: _*))
      .drop("v")
    val adc = (0 until nSub).map { s =>
      // literal kCodes x dims table, looked up by the stored code column
      val cbLit = typedLit(codebooks(s).map(_.toSeq).toSeq)
      vec_dist2(slice(col("qv"), s * dims + 1, dims),
        element_at(cbLit, element_at(col("codes"), s + 1) + 1))
    }.reduce(_ + _)
    val cand = corpus.join(probeSide, Seq("centroid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc", adc)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("adc"), 4).as("adc_r"))
  }

  /** The production IVF-PQ read path: [[ivfPqSearchTrained]]'s ADC scoring
    * narrows each query's probed lists to a `shortlist`-sized candidate set
    * (codes only — ~32x narrower traffic than vectors), then ONE bounded
    * equi-join fetches the true vectors for just those queries x shortlist
    * rows and exact L2 re-ranks to topK (FAISS's refine step, public
    * design). At 100 TB the shortlist side is tiny and broadcast; the
    * corpus-vector fetch is a broadcast-hash probe on vec_id, never a
    * second corpus shuffle.
    *
    * @return (qid, neighbor_id, rank, dist2_r) — topK by exact (dist2, id)
    */
  def ivfPqSearchRefined(vecs: DataFrame, queries: DataFrame,
                         cents: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]],
                         nProbe: Int, shortlist: Int, topK: Int,
                         broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val short = ivfPqSearchTrained(vecs, queries, cents, codebooks, nProbe,
        shortlist, broadcastMaxBytes)
      .select(col("qid"), col("neighbor_id"))
    val corpusVecs = vecs.select(col("vec_id").cast("long").as("neighbor_id"),
      col("embedding").cast("array<double>").as("v"))
    val q = queries.select(col("vec_id").cast("long").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("neighbor_id"))
    broadcast(short).join(corpusVecs, Seq("neighbor_id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("dist2", vec_dist2(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("qid"), col("neighbor_id"), col("rank"),
        round(col("dist2"), 4).as("dist2_r"))
  }

  /** recall@topK of the refined trained IVF-PQ path vs the exact L2
    * baseline — the acceptance number for the training loop (VERDICT r3:
    * within ~0.1 of the probe-only ceiling instead of the demo codebook's
    * 0.024; measured 0.608 vs ceiling 0.624 at the gate parameters).
    */
  def ivfPqRecallTrained(vecs: DataFrame, queries: DataFrame,
                         cents: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]],
                         nProbe: Int, shortlist: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pq = ivfPqSearchRefined(vecs, queries, cents, codebooks, nProbe,
        shortlist, topK)
      .select(col("qid"), col("neighbor_id"))
    val q = queries.select(col("vec_id").cast("long").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("vec_id"))
    val exact = vecs
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .withColumn("dist2", vec_dist2(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("neighbor_id"))
    recallSummary(pq, exact, queries, topK)
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023, public): cluster
    * the corpus with the TRAINED coarse quantizer ([[kmeansTrain]]), then
    * prune near-identical pairs WITHIN each cluster by exact cosine — the
    * published scale trick: k-means shrinks the candidate space from O(n²)
    * to Σ|cluster|², and clusters are the partition key, so candidate
    * generation is ONE shuffle on `centroid` (the same layout the IVF index
    * already stores). A duplicate pair spanning two clusters is missed by
    * design — that is SemDeDup's documented recall trade (raise k more
    * slowly than n, or re-run on cluster medoids, to bound it).
    *
    * Keep rule (deterministic): a vector is dropped iff some SAME-CLUSTER
    * partner with a smaller vec_id has cosine ≥ `minCos` — the survivor of
    * every duplicate group is its smallest id, mirroring the exact-dedup
    * keep rule. Cosine is the same left-fold dot / (na·nb) as
    * [[nearDupPairs]], so the oracle replays decisions bit-for-bit.
    *
    * @return (vec_id, centroid, n_dups, keep) — n_dups = smaller-id
    *         same-cluster partners at ≥ minCos; keep = (n_dups == 0)
    */
  def semDedup(vecs: DataFrame, cents: Array[Array[Double]],
               minCos: Double): DataFrame = {
    val dists = cents.indices.map { c =>
      struct(vec_dist2(col("v"), typedLit(cents(c).toSeq)).as("d2"), lit(c).as("c"))
    }
    val v = vecs.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("centroid", least(dists: _*).getField("c"))
      .withColumn("nrm", norm(col("v")))
    val a = v.select(col("centroid"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col("centroid"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dups = a.join(b, Seq("centroid"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= minCos)
      .groupBy(col("id_b").as("vec_id"))
      .agg(count(lit(1)).as("dup_cnt"))
    v.select(col("vec_id"), col("centroid"))
      .join(dups, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("centroid"),
        coalesce(col("dup_cnt"), lit(0L)).as("n_dups"),
        (coalesce(col("dup_cnt"), lit(0L)) === 0).as("keep"))
  }

  /** Scalar (SQ8) quantization — the cheapest embedding-compression lane of
    * a vector store (FAISS `SQ8`, public design): each component maps to a
    * byte code `min(255, floor((x − mn)·255/(mx − mn)))` against the
    * vector's own [mn, mx] range, 4→1 bytes per dim. Pure per-row
    * arithmetic on the corpus scan — no shuffle, no training state — and
    * every op (sub/mul/div/floor, reconstruction, left-fold squared error)
    * is IEEE correctly-rounded, so the DuckDB oracle reproduces codes and
    * error bit-for-bit. Constant vectors (mx == mn) code to all-zeros.
    *
    * @return (vec_id, mn, mx, codes_md5, err_q) — codes_md5 = md5 of the
    *         comma-joined codes (narrow, order-exact); err_q =
    *         floor(Σ (x − recon)² · 10^6), the compression-fidelity number
    *         per vector (floor-quantized, not rounded — floor of an IEEE
    *         product is engine-exact where round's last-digit tie handling
    *         is not)
    */
  def sq8(vecs: DataFrame): DataFrame = {
    val v = vecs.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
    val withCodes = v.withColumn("codes",
      transform(col("v"), x =>
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(255L),
            floor((x - col("mn")) * lit(255.0) / (col("mx") - col("mn")))
              .cast("long")))))
    withCodes
      .withColumn("err",
        aggregate(
          zip_with(col("v"), col("codes"), (x, q) => {
            val rec = col("mn") + q * (col("mx") - col("mn")) / lit(255.0)
            (x - rec) * (x - rec)
          }),
          lit(0.0), (acc, e) => acc + e))
      .select(col("vec_id"), col("mn"), col("mx"),
        md5(concat_ws(",", col("codes"))).as("codes_md5"),
        floor(col("err") * lit(1000000.0)).cast("long").as("err_q"))
  }

  /** recall@k of [[ivfPqSearch]] against the exact EUCLIDEAN top-k — ADC is
    * an L2 quantity, so the baseline is L2 (a cosine baseline would conflate
    * quantization loss with metric choice). This gate is the DIAGNOSTIC the
    * measured numbers prove out: on the sf0.01 synthetic embeddings the
    * coarse probe alone keeps recall 0.712 (identical under L2 and cosine),
    * while the 8-code-per-subspace demo codebook collapses it to 0.024 —
    * i.e. the measurement localizes the loss to PQ codebook capacity, the
    * actionable signal (raise kCodes / retrain with [[kmeansStep]]) a
    * 100 TB operator needs before trusting ADC rankings.
    */
  def ivfPqRecall(vecs: DataFrame, queries: DataFrame, kCentroids: Int,
                  nProbe: Int, nSub: Int, kCodes: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pq = ivfPqSearch(vecs, queries, kCentroids, nProbe, nSub, kCodes, topK)
      .select(col("qid"), col("neighbor_id"))
    val q = queries.select(col("vec_id").cast("long").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("vec_id"))
    val exact = vecs
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .withColumn("dist2", vec_dist2(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("neighbor_id"))
    recallSummary(pq, exact, queries, topK)
  }

  /** [[pqCentroid]] with the code as a COLUMN — the ADC path looks the
    * codebook entry up by the corpus row's stored code at query time.
    */
  private def pqCentroidCol(s: Int, k: Column, dims: Int): Column =
    transform(sequence(lit(0), lit(dims - 1)),
      d => ((lit(s * 29) + k * 53 + d * 17) % 13 - 6).cast("double"))

  /** IVF-PQ search — the composed 100 TB ANN read path: coarse-probe the
    * IVF lists ([[ivfSearch]]'s join shape, including its lazy byte-gated
    * broadcast), but score candidates by ASYMMETRIC DISTANCE (ADC): the
    * corpus side carries only its `nSub` PQ codes — the original vectors
    * are DROPPED before the join, so candidate traffic is ~32× narrower —
    * and each candidate's distance is Σₛ ‖q_sub − codebook(s, codeₛ)‖²,
    * an in-order fold the DuckDB oracle replays exactly (left-assoc sum
    * of per-subspace [[graft.functions.vectors.vec_dist2]] terms).
    * Recall vs [[ivfSearch]]'s exact re-rank is the PQ fidelity trade;
    * [[ivfPqRecall]] (`ann_ivfpq_recall`) is the measurement harness for
    * this path — `ann_ivf_recall` sees only the coarse-probe loss.
    *
    * @return (qid, neighbor_id, rank, adc_r) — topK by (adc asc, id)
    */
  def ivfPqSearch(vecs: DataFrame, queries: DataFrame, kCentroids: Int,
                  nProbe: Int, nSub: Int, kCodes: Int, topK: Int,
                  broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(64 % nSub == 0, s"nSub must divide 64, got $nSub")
    val dims = 64 / nSub
    val (corpus0, probeSide) =
      coarseProbe(vecs, queries, kCentroids, nProbe, broadcastMaxBytes)
    val corpus = corpus0
      .withColumn("codes", array((0 until nSub).map { s =>
        val sub = slice(col("v"), s * dims + 1, dims)
        least((0 until kCodes).map { k =>
          struct(vec_dist2(sub, pqCentroid(s, k, dims)).as("d2"), lit(k).as("k"))
        }: _*).getField("k")
      }: _*))
      .drop("v") // the point of PQ: only (centroid, codes) cross the join
    val adc = (0 until nSub).map { s =>
      vec_dist2(slice(col("qv"), s * dims + 1, dims),
        pqCentroidCol(s, element_at(col("codes"), s + 1), dims))
    }.reduce(_ + _)
    val cand = corpus.join(probeSide, Seq("centroid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc", adc)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("adc"), 4).as("adc_r"))
  }

  /** Project every embedding onto a direction vector (e.g. a leading
    * eigenvector) — the PCA-projection step of whitening /
    * spectral scoring. The corpus side explodes to (vec_id, d, xq) in the
    * same milli-unit quantization as the trainer and the 64-row direction
    * broadcasts into the dot-product join, so the plan is one fan-out
    * projection + ONE shuffle keyed by vec_id; the integer dot product is
    * an order-independent Long sum, bit-reproducible in any engine.
    *
    * @param emb       (vec_id, embedding)
    * @param direction (d, v) — one row per dimension, Long components
    * @return (vec_id, score)
    */
  def pcaProject(emb: DataFrame, direction: DataFrame): DataFrame = {
    val x = emb.select(col("vec_id").cast("long"),
        posexplode(col("embedding")).as(Seq("d", "xv")))
      .select(col("vec_id"), col("d").cast("long").as("d"),
        floor(col("xv").cast("double") * lit(1000.0)).cast("long").as("xq"))
    x.join(broadcast(direction.select(col("d").cast("long").as("d"),
        col("v").cast("long").as("v"))), "d")
      .groupBy("vec_id")
      .agg(sum(col("xq") * col("v")).cast("long").as("score"))
  }

  /** One NN-DESCENT round + recall audit (Dong et al. 2011, public) — the
    * k-NN-graph builder's core step: start from a two-band LSH approximate
    * k-NN graph, propose every neighbour-of-neighbour as a candidate
    * ("a neighbour's neighbour is likely a neighbour"), exact-cosine
    * re-rank, and measure recall@k against the exact baseline before and
    * after. The audit IS the op's value: it quantifies how much one
    * descent round closes the LSH graph's recall gap.
    *
    * Scale shape: the expansion join is knn⋈knn on the shared neighbour
    * key — |V|·k² candidate rows, never |V|² — and the re-rank joins
    * vectors back by key. Exactly the bounded-fanout discipline of the
    * band/bucket joins.
    *
    * @return (qid, hits_lsh, hits_nnd) for qid < nQueries — exact-top-k
    *         members found by the LSH graph vs after one descent round
    */
  def nnDescentRecall(vecs: DataFrame, k: Int,
                      nQueries: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vecs.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
      .localCheckpoint(false)
    // TWO independent 4-plane bands from one 8-plane code: a single-band
    // bucketing is an equivalence relation, so neighbour-of-neighbour can
    // never leave the bucket and descent provably gains nothing; with two
    // bands the seed graph overlaps and the expansion crosses bands
    val fb = e.withColumn("b8", lshBucket(col("v"), 8))
      .withColumn("band0", col("b8") % 16)
      .withColumn("band1", expr("b8 DIV 16"))
      .localCheckpoint(false)
    def bandPairs(c: String) = fb.select(col(c), col("vec_id").as("qid"))
      .join(fb.select(col(c), col("vec_id").as("nid")), Seq(c))
      .filter(col("qid") =!= col("nid")).select("qid", "nid")
    def score(pairs: DataFrame) = pairs
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn")), "qid")
      .join(e.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("nrm").as("nn")), "nid")
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    val cand0 = bandPairs("band0").unionAll(bandPairs("band1")).distinct()
    val knn0 = score(cand0).withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select("qid", "nid")
      .localCheckpoint(false)
    // undirected expansion (Dong et al.'s general-neighbour step): reverse
    // edges included so the proposal set reaches across bands
    val und = knn0.unionAll(
        knn0.select(col("nid").as("qid"), col("qid").as("nid")))
      .distinct().localCheckpoint(false)
    val expand = und
      .join(und.select(col("qid").as("nid"), col("nid").as("cid")), "nid")
      .select(col("qid"), col("cid").as("nid"))
      .filter(col("qid") =!= col("nid"))
    val cand1 = knn0.unionAll(expand).distinct()
    val knn1 = score(cand1).withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select("qid", "nid")
    val queries = vecs.filter(col("vec_id") < nQueries)
    val exact = cosineTopK(vecs, queries, k)
      .select(col("qid"), col("neighbor_id").as("nid"))
      .localCheckpoint(false)
    def hits(knn: DataFrame, tag: String) = knn
      .filter(col("qid") < nQueries)
      .join(exact, Seq("qid", "nid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as(tag))
    queries.select(col("vec_id").cast("long").as("qid"))
      .join(hits(knn0, "hits_lsh"), Seq("qid"), "left")
      .join(hits(knn1, "hits_nnd"), Seq("qid"), "left")
      .na.fill(0L, Seq("hits_lsh", "hits_nnd"))
  }

}
