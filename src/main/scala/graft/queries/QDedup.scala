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

/** Deduplication gates: exact, MinHash/LSH, SimHash, containment
  * (29 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QDedup {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val all = d.select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      all.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("h")
    }),
    // MinHash+LSH near-dup candidates over a corpus with exact and near
    // copies injected; the oracle replicates the whole pipeline (shingles →
    // 8 minhashes → 4 bands → bucket self-join) with identical arithmetic.,
    "dedup_minhash" -> ((s, dir) => {
      ops.TextDedup.minhashPairs(dedupCorpus(s, dir)).orderBy("doc_a", "doc_b")
    }),
    // LSH bucket-size skew audit (ops.TextDedup.minhashBucketStats): per
    // band the bucket histogram summary + Σ C(sz,2) exact candidate-pair
    // cost — the pre-join diagnostic that catches boilerplate hot buckets
    // BEFORE they melt the band self-join. Same signature derivation as
    // dedup_minhash, stopped at the bucket rollup.,
    "dedup_lsh_skew" -> ((s, dir) => {
      ops.TextDedup.minhashBucketStats(dedupCorpus(s, dir))
        .orderBy("band_id")
    }),
    // Winnowing fingerprint selection (ops.TextDedup.winnow): per document
    // the MOSS rightmost-min-per-window fingerprint set over 3-gram
    // hashes, rolled up — the position-aware dedup index companion to
    // dedup_minhash's set signatures; argmin rides ONE integer windowed
    // MIN via key packing.,
    "dedup_winnow" -> ((s, dir) => {
      ops.TextDedup.winnow(t(s, dir, "documents").select("doc_id", "text"))
        .orderBy("doc_id")
    }),
    // Cross-modal dedup verification: every MinHash TEXT candidate pair
    // re-scored in EMBEDDING space (injected copies map to their base
    // vector via id % 100000) — the modality-agreement check of multimodal
    // curation: a text near-dup whose embeddings disagree is a template,
    // not a duplicate. One key join per side onto the candidate set.,
    "dedup_cross_modal" -> ((s, dir) => {
      import graft.functions.vectors.vec_dot
      val pairs = ops.TextDedup.minhashPairs(dedupCorpus(s, dir))
        .select(col("doc_a"), col("doc_b"))
      val e = t(s, dir, "embeddings")
        .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      pairs
        .withColumn("ea", col("doc_a") % 100000)
        .withColumn("eb", col("doc_b") % 100000)
        .join(e.select(col("vec_id").as("ea"), col("v").as("va"),
          col("nrm").as("na")), "ea")
        .join(e.select(col("vec_id").as("eb"), col("v").as("vb"),
          col("nrm").as("nb")), "eb")
        .withColumn("cos",
          vec_dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .select(col("doc_a"), col("doc_b"), round(col("cos"), 4).as("cos_r"),
          (col("cos") >= 0.999).cast("int").as("vec_agree"))
        .orderBy("doc_a", "doc_b")
    }),
    // MinHash signature-agreement Jaccard estimate per band-join candidate
    // pair: n_agree lanes of 8 -> est_ppm = n_agree*1e6 div 8. The cheap
    // ranking pre-filter before any exact intersection at 100 TB; integer-
    // exact in both engines.,
    "dedup_minhash_est" -> ((s, dir) => {
      ops.TextDedup.minhashEstimatePairs(dedupCorpus(s, dir))
        .orderBy("doc_a", "doc_b")
    }),
    // MinHash LSH recall: of the exact-Jaccard >= 0.5 pairs (ground truth on
    // a deterministic doc_id % 40 == 0 subset, O(n^2/1600) bounded), what share
    // did the band join surface? The band/row tuning number for text dedup —
    // the counterpart of ann_ivf_recall. Counts are exact integers; the one
    // division is IEEE on the same ints in both engines.,
    "dedup_minhash_recall" -> ((s, dir) => {
      val sub = dedupCorpus(s, dir).filter(col("doc_id") % 40 === 0)
      val sh = sub.select(col("doc_id"),
        array_distinct(ops.TextDedup.shingles(col("text"), 3)).as("sh"))
      val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sb"))
      val truth = a.crossJoin(broadcast(b)).filter(col("doc_a") < col("doc_b"))
        .filter(size(array_intersect(col("sa"), col("sb"))) * 2 >=
          size(array_union(col("sa"), col("sb")))) // j >= 0.5 exactly, int math
        .select("doc_a", "doc_b")
      val detected = ops.TextDedup.minhashPairs(sub)
      val hit = truth.join(detected, Seq("doc_a", "doc_b"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(hit.agg(count(lit(1)).as("n_detected")))
        .withColumn("recall",
          col("n_detected").cast("double") / col("n_truth"))
    }),
    "dedup_simhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), ops.TextDedup.wordHashes(col("text")).as("hw"))
        .select(col("doc_id"),
          ops.TextDedup.simhashFromHashes(col("hw"), 16).as("simhash16"))
        .orderBy("doc_id")
    }),
    // SimHash near-dup pairs via multi-index Hamming bands (text twin of
    // img_phash_neardup): 48-bit simhash, 4×12-bit band equi-joins, exact
    // bit_count(xor) <= 3 refine — perfect recall at radius 3 by pigeonhole.,
    "dedup_simhash_neardup" -> ((s, dir) => {
      ops.TextDedup.simhashNearDup(dedupCorpus(s, dir))
        .orderBy("id_a", "id_b")
    }),
    // Vocabulary build (top-20 of the corpus's 31 distinct words, the
    // deterministic (count desc, word) cut) + per-doc OOV profile —
    // tokenizer coverage measurement; the 11 tail words are OOV.,
    "dedup_containment" -> ((s, dir) => {
      ops.TextDedup.containmentPairs(dedupCorpus(s, dir), shingleWords = 5,
        maxDf = 20, minPpm = 400000L).orderBy("id_a", "id_b")
    }),
    "dedup_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sub = d.filter(col("doc_id") % 25 === 0).select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" zz qq ww ee rr tt")).as("text")))
        // shingle once per doc BEFORE the pair join — shingling inside the
        // join condition would rerun split+distinct per PAIR (O(n²) texts)
        .select(col("doc_id"),
          array_distinct(ops.TextDedup.shingles(col("text"), 3)).as("s"))
      val a = sub.select(col("doc_id").as("doc_a"), col("s").as("sa"))
      val b = sub.select(col("doc_id").as("doc_b"), col("s").as("sb"))
      a.crossJoin(broadcast(b)).filter(col("doc_a") < col("doc_b"))
        .withColumn("j", round(
          size(array_intersect(col("sa"), col("sb"))) /
            size(array_union(col("sa"), col("sb"))), 6))
        .filter(col("j") >= 0.05)
        .select("doc_a", "doc_b", "j")
        .orderBy("doc_a", "doc_b")
    }),
    // Line-level boilerplate removal (ops.TextDedup.lineDedup — CCNet
    // style): 10-word lines, document-frequency count, drop lines in >50
    // docs. The gate PREPENDS a 10-word boilerplate to every third doc so
    // exactly that line crosses the df threshold.,
    "dedup_lines" -> ((s, dir) => {
      val bp = "terms of service copyright notice all rights reserved footer end"
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(lit(bp + " "), col("text")))
            .otherwise(col("text")).as("text"))
      ops.TextDedup.lineDedup(d, lineWords = 10, maxDf = 50)
        .orderBy("doc_id")
    }),
    // EXACT Jaccard-threshold join via prefix filtering
    // (ops.TextDedup.prefixJaccardJoin): the lossless counterpart of the
    // MinHash band join — rarest-first token prefixes bound the candidate
    // set with provably zero false negatives, so the result equals brute
    // force bit-for-bit (the oracle IS brute force) while the plan stays
    // key-bounded (PlanSpec: no cartesian anywhere).,
    "dedup_prefix_join" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sub = d.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" zz qq ww ee rr tt")).as("text")))
      ops.TextDedup.prefixJaccardJoin(sub, thresholdPpm = 600000L)
        .orderBy("doc_a", "doc_b")
    }),
    // Edit-distance verification layer (ops.TextDedup.editVerify): the
    // character-exact arbiter on the prefix-join candidates — banded
    // levenshtein(l, r, threshold) keeps pairs <= 30 edits apart (the
    // appended 18-char variant suffix passes, cross-doc pairs fail).
    // Candidates only: the corpus never self-joins on text.,
    "dedup_edit_verify" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sub = d.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" zz qq ww ee rr tt")).as("text")))
      val cands = ops.TextDedup.prefixJaccardJoin(sub, thresholdPpm = 600000L)
      ops.TextDedup.editVerify(cands, sub, maxDist = 30)
        .orderBy("doc_a", "doc_b")
    }),
    "dedup_cluster_keep" -> ((s, dir) => {
      val corpus = dedupCorpus(s, dir)
      val edges = ops.TextDedup.minhashPairs(corpus)
      ops.TextDedup.connectedComponents(edges, corpus.select("doc_id"))
        .withColumn("keep", col("doc_id") === col("comp"))
        .orderBy("doc_id")
    }),
    // Same clustering contract via alternating large-star/small-star
    // contraction (O(log n) rounds regardless of component diameter — the
    // adversarial-chain path); must land on the identical component map.,
    "dedup_cluster_star" -> ((s, dir) => {
      val corpus = dedupCorpus(s, dir)
      val edges = ops.TextDedup.minhashPairs(corpus)
      ops.TextDedup.connectedComponentsStar(edges, corpus.select("doc_id"))
        .withColumn("keep", col("doc_id") === col("comp"))
        .orderBy("doc_id")
    }),
    // Fixed-round integer-exact PageRank over a supplier→part edge graph —
    // the domain/site authority weight of web-corpus curation. 3 rounds ×
    // (one rank⋈edges join + one dst-keyed sum); the edge list never moves.
    // Per-component bipartiteness (ops.Graph.bipartite): doubled-graph
    // reduction over the SAME connected-components machinery as the dedup
    // endgame — family A is even→odd by construction (bipartite), family
    // B is a dense 40-node general graph (odd cycles).,
    "dedup_jaccard_hist" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sub = d.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" zz qq ww ee rr tt")).as("text")))
        .select(col("doc_id"),
          array_distinct(ops.TextDedup.shingles(col("text"), 3)).as("s"))
      val a = sub.select(col("doc_id").as("doc_a"), col("s").as("sa"))
      val b = sub.select(col("doc_id").as("doc_b"), col("s").as("sb"))
      a.crossJoin(broadcast(b)).filter(col("doc_a") < col("doc_b"))
        .select(expr("size(array_intersect(sa, sb))").cast("long").as("i"),
          expr("size(array_distinct(concat(sa, sb)))").cast("long").as("u"))
        .withColumn("ppm", expr("i * 1000000 DIV u"))
        .withColumn("bucket", expr("ppm DIV 100000").cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"), min("ppm").as("min_ppm"),
          max("ppm").as("max_ppm"))
        .orderBy("bucket")
    }),
    "dedup_rank_auc" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sub = d.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" zz qq ww ee rr tt")).as("text")))
        .select(col("doc_id"),
          array_distinct(ops.TextDedup.shingles(col("text"), 3)).as("s"))
      val pairs = sub.select(col("doc_id").as("doc_a"), col("s").as("sa"))
        .join(broadcast(sub.select(col("doc_id").as("doc_b"),
          col("s").as("sb"))), col("doc_a") < col("doc_b"))
        .select(
          expr("size(array_intersect(sa, sb)) * 1000000 DIV " +
            "size(array_distinct(concat(sa, sb)))").as("score"),
          (col("doc_a") % 100000 === col("doc_b") % 100000).as("pos"))
      val counts = pairs.groupBy("score")
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("k1"),
          sum(when(!col("pos"), 1L).otherwise(0L)).as("k2"))
        .withColumn("k", col("k1") + col("k2"))
      // global window input is the per-score aggregate: score is ppm in
      // [0, 10^6], so the frame is provably ≤ 1e6+1 rows at any data scale
      val w = Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("score"))).orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts.withColumn("before", sum("k").over(w) - col("k"))
        .withColumn("term", expr("k1 * (2 * before + k + 1)"))
        .agg(sum("k1").as("n_pos"), sum("k2").as("n_neg"),
          sum("term").as("r1_x2"))
        .withColumn("u1_x2", expr("r1_x2 - n_pos * (n_pos + 1)"))
        .withColumn("auc_ppm",
          expr("u1_x2 * 500000 DIV (n_pos * n_neg)"))
    }),
    // Interval-arithmetic surface: the first two days' events bucketed by
    // hour AFTER a +90-minute shift — timestamp + INTERVAL semantics
    // pinned across engines.,
    "dedup_keep_quality" -> ((s, dir) => {
      val corpus = dedupCorpus(s, dir)
      val lens = corpus.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"))
      val edges = ops.TextDedup.minhashPairs(corpus)
      val cc = ops.TextDedup.connectedComponentsStar(edges,
        corpus.select("doc_id"))
      val j = cc.join(lens, Seq("doc_id"))
      val per = j.groupBy("comp")
        .agg(count(lit(1)).as("size"), min("doc_id").as("kept"),
          max("n_chars").as("max_chars"))
        .filter(col("size") >= 2)
      per.join(j.select(col("doc_id").as("kept"),
          col("n_chars").as("kept_chars"), col("comp")),
          Seq("comp", "kept"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("kept_chars") === col("max_chars"), 1L)
            .otherwise(0L)).as("n_kept_best"))
        .withColumn("best_ppm",
          expr("n_kept_best * 1000000 DIV n_clusters"))
    }),
    // kNN-graph mutuality: share of exact 5-NN edges that are mutual —
    // low mutuality predicts poor graph-ANN navigability (the hubness
    // pathology's edge view).,
    "dedup_simhash_balance" -> ((s, dir) => {
      val sh = t(s, dir, "documents")
        .select(ops.TextDedup.wordHashes(col("text")).as("hw"))
        .select(ops.TextDedup.simhashFromHashes(col("hw"), 16).as("sh"))
      sh.select(posexplode(expr(
          "transform(sequence(0, 15), b -> shiftright(sh, b) % 2)"))
          .as(Seq("bit", "isset")))
        .groupBy(col("bit").cast("int").as("bit"))
        .agg(count(lit(1)).as("n_docs"), sum("isset").as("n_ones"))
        .withColumn("share_ppm", expr("n_ones * 1000000 DIV n_docs"))
        .orderBy("bit")
    }),
    // Residual variance after the top principal direction: total per-dim
    // variance numerators vs the projection's (scores ÷1000 to keep every
    // square a Long) — the "is one direction carrying the corpus"
    // spectral read; pieces only, divisions are the consumer's.,
    "dedup_keep" -> ((s, dir) => {
      val corpus = dedupCorpus(s, dir).withColumn("h", md5(col("text")))
      val keepers = corpus.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      corpus.join(keepers, Seq("h", "doc_id"), "left_semi")
        .select("doc_id").orderBy("doc_id")
    }),
    // Multimodal A/V plumbing (MediaOps scaladoc): opaque-binary media rows
    // with typed metadata, per-partition stub decoder, exact-integer
    // frame-sampling arithmetic. The stub digests REAL bytes from the
    // binary column; the oracle replays them closed-form.,
    "dedup_length_bias" -> ((s, dir) => {
      val corpus = dedupCorpus(s, dir)
      val pairs = ops.TextDedup.minhashPairs(corpus)
      val duped = pairs.selectExpr("doc_a AS doc_id")
        .union(pairs.selectExpr("doc_b AS doc_id")).distinct()
        .withColumn("is_dup", lit(1L))
      corpus
        .withColumn("len_bucket",
          expr("size(split(text, ' ')) DIV 20").cast("int"))
        .join(duped, Seq("doc_id"), "left")
        .groupBy("len_bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_duped"))
        .withColumn("rate_ppm", expr("n_duped * 1000000 DIV n_docs"))
        .orderBy("len_bucket")
    }),
    // Fade-in/out detection: the strictly-monotone energy prefix/suffix
    // lengths over the 128-sample windows — the ramp QA of an audio
    // mastering check; one lag/lead window per asset.,
    "dedup_cluster_purity" -> ((s, dir) => {
      val corpus = dedupCorpus(s, dir)
      val edges = ops.TextDedup.minhashPairs(corpus)
      val cc = ops.TextDedup.connectedComponentsStar(edges,
        corpus.select("doc_id"))
      val lab = cc.withColumn("base", col("doc_id") % 100000)
      val sz = lab.groupBy("comp").agg(count(lit(1)).as("size"))
      val maj = lab.groupBy("comp", "base").agg(count(lit(1)).as("k"))
        .withColumn("rn", row_number().over(Window.partitionBy("comp")
          .orderBy(col("k").desc, col("base"))))
        .filter(col("rn") === 1)
        .select(col("comp"), col("base").as("maj_base"),
          col("k").as("maj_k"))
      sz.join(maj, Seq("comp")).filter(col("size") >= 2)
        .withColumn("purity_ppm", expr("maj_k * 1000000 DIV size"))
        .orderBy("comp")
    }),
    // Small-world pieces: global transitivity 3Δ/wedges (exact ppm) +
    // truncated average path length from the sampled BFS — the two
    // numbers whose ratio-vs-random defines the small-world index;
    // composed from the motif census and BFS profile primitives.,
    "dedup_minhash_precision" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sub = d.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" zz qq ww ee rr tt")).as("text")))
      val cands = ops.TextDedup.minhashPairs(sub)
      val shs = sub.select(col("doc_id"),
        array_distinct(ops.TextDedup.shingles(col("text"), 3)).as("sset"))
      val truth = shs.select(col("doc_id").as("doc_a"), col("sset").as("sa"))
        .join(broadcast(shs.select(col("doc_id").as("doc_b"),
          col("sset").as("sb"))), col("doc_a") < col("doc_b"))
        .filter(expr("size(array_intersect(sa, sb)) * 2 >= " +
          "size(array_distinct(concat(sa, sb)))"))
        .select("doc_a", "doc_b")
      cands.agg(count(lit(1)).as("n_cand"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(cands.join(truth, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("tp")))
        .withColumn("fp", expr("n_cand - tp"))
        .withColumn("fn", expr("n_truth - tp"))
        .withColumn("precision_ppm", expr(
          "CASE WHEN n_cand = 0 THEN 0L ELSE tp * 1000000 DIV n_cand END"))
        .withColumn("recall_ppm", expr(
          "CASE WHEN n_truth = 0 THEN 0L ELSE tp * 1000000 DIV n_truth END"))
    }),
    // Count-Min error audit: estimate − exact over ALL keys (≥ 0 by the
    // CM overestimate property), histogrammed — the sketch-width sizing
    // read behind events_cm_topk.,
    "dedup_pair_degree_hist" -> ((s, dir) => {
      val pairs = ops.TextDedup.minhashPairs(dedupCorpus(s, dir))
      pairs.selectExpr("doc_a AS doc")
        .unionAll(pairs.selectExpr("doc_b AS doc"))
        .groupBy("doc").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    }),
    "dedup_shingle_df_hist" -> ((s, dir) => {
      dedupCorpus(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(ops.TextDedup.shingles(col("text"), 3)))
            .as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .groupBy("df").agg(count(lit(1)).as("n_shingles"))
        .orderBy("df")
    }),
    "dedup_spans" -> ((s, dir) => {
      ops.TextDedup.duplicateSpanStats(dedupCorpus(s, dir), n = 8)
        .orderBy("doc_id")
    }),
    // Longest common SPAN between document pairs — the plagiarism-locator
    // upgrade of dedup_spans' per-doc stats: 8-gram positions equi-join on
    // the gram (pairs only materialize where grams collide, never doc ×
    // doc), aligned-offset runs via gaps-and-islands, max run L ⇒ a shared
    // span of L+7 tokens. Report pairs sharing a ≥12-token span.,
    "dedup_lcs_span" -> ((s, dir) => {
      val docs = dedupCorpus(s, dir).filter(col("doc_id") % 5 === 0)
      val g = docs.select(col("doc_id"),
          posexplode(ops.Curation.wordNgrams(col("text"), 8))
            .as(Seq("pos", "g")))
      val m = g.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
          col("g"))
        .join(g.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
          col("g")), "g")
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "pa", "pb").distinct()
        .withColumn("off", col("pa") - col("pb"))
      val w = Window.partitionBy("doc_a", "doc_b", "off").orderBy("pa")
      m.withColumn("grp", col("pa") - row_number().over(w))
        .groupBy("doc_a", "doc_b", "off", "grp")
        .agg(count(lit(1)).as("run"))
        .groupBy("doc_a", "doc_b")
        .agg(max(col("run") + 7).as("span_tokens"),
          count(lit(1)).as("n_runs"))
        .filter(col("span_tokens") >= 12)
        .orderBy("doc_a", "doc_b")
    }),
    // Interval-overlap join, bin-bucketed (5-min bins): view exposure
    // windows x purchase attribution windows on exact epoch-millis — the
    // temporal range join; pairs dedup by first-shared-bin, no distinct.,
    "dedup_lsh_multiprobe" -> ((s, dir) => {
      import graft.functions.vectors.vec_dot
      val base = t(s, dir, "embeddings")
      val corpus = base.select(col("vec_id"), col("embedding"))
        .unionAll(base.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      val v = corpus.selectExpr("vec_id", "cast(embedding as array<double>) AS v")
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
        .withColumn("bucket", ops.Embeddings.lshBucket(col("v"), 8))
      val truth = v.select(col("vec_id").as("id_a"), col("v").as("va"),
          col("nrm").as("na"))
        .crossJoin(v.select(col("vec_id").as("id_b"), col("v").as("vb"),
          col("nrm").as("nb")))
        .filter(col("id_a") < col("id_b"))
        .filter(vec_dot(col("va"), col("vb")) / (col("na") * col("nb"))
          >= 0.999)
        .select("id_a", "id_b")
      val plain = v.select(col("vec_id").as("id_a"), col("bucket"))
        .join(v.select(col("vec_id").as("id_b"), col("bucket")), Seq("bucket"))
        .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
      val probes = v.select(col("vec_id").as("id_a"),
        explode(array(col("bucket") +: (0 until 8).map(j =>
          col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
      val multi = probes
        .join(v.select(col("vec_id").as("id_b"), col("bucket")), Seq("bucket"))
        .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(plain.agg(count(lit(1)).as("cand_plain")))
        .crossJoin(multi.agg(count(lit(1)).as("cand_multi")))
        .crossJoin(truth.join(plain, Seq("id_a", "id_b"))
          .agg(count(lit(1)).as("hit_plain")))
        .crossJoin(truth.join(multi, Seq("id_a", "id_b"))
          .agg(count(lit(1)).as("hit_multi")))
        .withColumn("recall_plain_ppm", expr("1000000 * hit_plain DIV n_truth"))
        .withColumn("recall_multi_ppm", expr("1000000 * hit_multi DIV n_truth"))
    }),
  )

  val sql: Map[String, String] = Map(
    "dedup_exact" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
         SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
         FROM all_docs GROUP BY 1 ORDER BY h""",
    "dedup_minhash" -> minhashOracleSql,
    // same banded CTE, stopped at the bucket histogram,
    "dedup_lsh_skew" ->
      s"""WITH $minhashCtes,
         bsz AS (SELECT band_id, band_key, CAST(count(*) AS BIGINT) AS sz
           FROM banded GROUP BY 1, 2)
         SELECT CAST(band_id AS INT) AS band_id,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
         FROM bsz GROUP BY 1 ORDER BY band_id""",
    // rightmost-min winnowing via the same packed-key windowed MIN,
    "dedup_winnow" ->
      s"""WITH sh AS (SELECT doc_id, $sqlShingles3 AS sh FROM documents),
         hv AS (SELECT doc_id, list_transform(sh,
             x -> ${sqlH60("x")} % 1048573) AS hv FROM sh),
         px AS (SELECT doc_id, unnest(range(0, len(hv))) AS p, hv FROM hv),
         pos AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
             hv[CAST(p AS INT) + 1] AS h FROM px),
         k AS (SELECT doc_id, pos, h,
             h * 1048576 + (1048575 - pos) AS key,
             CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS m
           FROM pos),
         wm AS (SELECT doc_id, m, pos, min(key) OVER (PARTITION BY doc_id
             ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
           FROM k),
         sel AS (SELECT DISTINCT doc_id, m, wmin // 1048576 AS h,
             1048575 - wmin % 1048576 AS sel_pos
           FROM wm WHERE pos <= m - 4)
         SELECT doc_id, CAST(max(m) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS n_fp, CAST(sum(h) AS BIGINT) AS fp_sum,
           CAST(min(h) AS BIGINT) AS fp_min, CAST(max(h) AS BIGINT) AS fp_max
         FROM sel GROUP BY 1 ORDER BY doc_id""",
    "dedup_cross_modal" -> crossModalOracleSql,
    "dedup_minhash_est" -> minhashEstOracleSql,
    "dedup_minhash_recall" -> minhashRecallOracleSql,
    "dedup_simhash" -> simhashOracleSql,
    "dedup_simhash_neardup" -> simhashNearDupOracleSql,
    "dedup_containment" ->
      s"""WITH corpus AS ($sqlDedupCorpus),
         w AS (SELECT doc_id, text, string_split(text,' ') AS ws FROM corpus),
         sh AS (SELECT doc_id,
             CASE WHEN len(ws) >= 5 THEN list_distinct(list_transform(
                 range(1, len(ws) - 3),
                 g -> array_to_string(list_slice(ws, g, g + 4), ' ')))
               ELSE [text] END AS shs FROM w),
         sz AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n FROM sh),
         ex AS (SELECT doc_id,
             CAST(('0x' || substring(md5(unnest(shs)), 1, 15)) AS BIGINT) AS sh
           FROM sh),
         kept AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM ex GROUP BY 1)
           WHERE df BETWEEN 2 AND 20),
         p AS (SELECT e.doc_id, e.sh FROM ex e JOIN kept k ON k.sh = e.sh),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS inter
           FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT pr.id_a, pr.id_b, sa.n AS na, sb.n AS nb, pr.inter,
           pr.inter * 1000000 // least(sa.n, sb.n) AS containment_ppm
         FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                 JOIN sz sb ON sb.doc_id = pr.id_b
         WHERE pr.inter * 1000000 // least(sa.n, sb.n) >= 400000
         ORDER BY id_a, id_b""",
    "dedup_jaccard" ->
      s"""WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
           UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' zz qq ww ee rr tt' AS text
             FROM documents WHERE doc_id % 25 = 0),
         sh AS (SELECT doc_id, list_distinct($sqlShingles3) AS s FROM sub)
         SELECT doc_a, doc_b, j FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))), 6) AS j
           FROM sh a, sh b WHERE a.doc_id < b.doc_id)
         WHERE j >= 0.05 ORDER BY doc_a, doc_b""",
    // brute force IS the oracle: the prefix filter is exact, so the full
    // quadratic enumeration over the small gate corpus must agree,
    "dedup_lines" ->
      """WITH d AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
             THEN 'terms of service copyright notice all rights reserved footer end ' || text
             ELSE text END AS text FROM documents),
         w AS (SELECT doc_id, string_split(text, ' ') AS w FROM d
               WHERE len(string_split(text, ' ')) > 0),
         l AS (SELECT doc_id,
             array_to_string(list_slice(w, CAST(i*10+1 AS BIGINT),
               CAST(i*10+10 AS BIGINT)), ' ') AS line
           FROM w, unnest(range(0, (len(w) + 9) // 10)) AS t(i)),
         df AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1),
         j AS (SELECT l.doc_id, df.df,
             len(string_split(l.line, ' ')) AS lw
           FROM l JOIN df USING (line))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN df <= 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept_lines,
           CAST(sum(CASE WHEN df <= 50 THEN lw ELSE 0 END) AS BIGINT)
             AS n_kept_words
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    // per-(vec, subspace) argmin over the deterministic PQ codebook, ties
    // to the smaller code; identical left-fold residual sums,
    "dedup_prefix_join" ->
      """WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
           UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' zz qq ww ee rr tt' AS text
             FROM documents WHERE doc_id % 25 = 0),
         w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM sub),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS i,
             CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS u
           FROM w a, w b WHERE a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, round(i / u, 6) AS j FROM p
         WHERE i * 1000000 >= 600000 * u ORDER BY doc_a, doc_b""",
    // prefix-join candidates re-verified by full-DP levenshtein <= 30
    // (the engine's banded threshold variant is exact within the bound),
    "dedup_edit_verify" ->
      """WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
           UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' zz qq ww ee rr tt' AS text
             FROM documents WHERE doc_id % 25 = 0),
         w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM sub),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS i,
             CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS u
           FROM w a, w b WHERE a.doc_id < b.doc_id),
         c AS (SELECT doc_a, doc_b FROM p WHERE i * 1000000 >= 600000 * u)
         SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
         FROM c JOIN sub a ON a.doc_id = c.doc_a JOIN sub b ON b.doc_id = c.doc_b
         WHERE levenshtein(a.text, b.text) <= 30
         ORDER BY doc_a, doc_b""",
    "dedup_cluster_keep" -> clusterOracleSql,
    // star contraction must land on the identical component map, so it
    // shares the recursive-CTE clustering oracle,
    "dedup_cluster_star" -> clusterOracleSql,
    "dedup_jaccard_hist" ->
      s"""WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
           UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' zz qq ww ee rr tt' AS text
             FROM documents WHERE doc_id % 25 = 0),
         sh AS (SELECT doc_id, list_distinct($sqlShingles3) AS s FROM sub),
         p AS (SELECT CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS i,
             CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS u
           FROM sh a, sh b WHERE a.doc_id < b.doc_id),
         v AS (SELECT i * 1000000 // u AS ppm FROM p)
         SELECT CAST(ppm // 100000 AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(ppm) AS BIGINT) AS min_ppm,
           CAST(max(ppm) AS BIGINT) AS max_ppm
         FROM v GROUP BY 1 ORDER BY bucket""",
    // the walk cumsum + sector VALUES, per-fix covering count histogram,
    "dedup_rank_auc" ->
      s"""WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
           UNION ALL SELECT doc_id + 200000, text || ' zz qq ww ee rr tt'
             FROM documents WHERE doc_id % 25 = 0),
         sh AS (SELECT doc_id, list_distinct($sqlShingles3) AS s FROM sub),
         p AS (SELECT CAST(len(list_intersect(a.s, b.s)) AS BIGINT)
               * 1000000
               // CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT)
               AS score,
             a.doc_id % 100000 = b.doc_id % 100000 AS pos
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         ct AS (SELECT score,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS k1,
             CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS k2
           FROM p GROUP BY 1),
         cum AS (SELECT k1, k2, k1 + k2 AS k,
             CAST(sum(k1 + k2) OVER (ORDER BY score) AS BIGINT)
               - (k1 + k2) AS bef
           FROM ct),
         agg AS (SELECT CAST(sum(k1) AS BIGINT) AS n_pos,
             CAST(sum(k2) AS BIGINT) AS n_neg,
             CAST(sum(k1 * (2 * bef + k + 1)) AS BIGINT) AS r1_x2
           FROM cum)
         SELECT n_pos, n_neg, r1_x2,
           r1_x2 - n_pos * (n_pos + 1) AS u1_x2,
           (r1_x2 - n_pos * (n_pos + 1)) * 500000 // (n_pos * n_neg)
             AS auc_ppm
         FROM agg""",
    // +90-minute shift then hour bucket,
    "dedup_keep_quality" ->
      s"""WITH RECURSIVE $minhashCtes,
         edges AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b ON a.band_id = b.band_id
             AND a.band_key = b.band_key
           WHERE a.doc_id < b.doc_id),
         reach(doc, other) AS (
           SELECT doc_id, doc_id FROM corpus
           UNION
           SELECT r.doc, CASE WHEN e.doc_a = r.other THEN e.doc_b
             ELSE e.doc_a END
           FROM reach r JOIN edges e ON e.doc_a = r.other
             OR e.doc_b = r.other),
         cmp AS (SELECT doc AS doc_id, min(other) AS comp
           FROM reach GROUP BY doc),
         lens AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
           FROM corpus),
         j AS (SELECT cmp.doc_id, comp, n_chars
           FROM cmp JOIN lens ON lens.doc_id = cmp.doc_id),
         per AS (SELECT comp, CAST(count(*) AS BIGINT) AS size,
             min(doc_id) AS kept, max(n_chars) AS max_chars
           FROM j GROUP BY 1),
         k AS (SELECT per.comp, per.size, per.max_chars,
             j.n_chars AS kept_chars
           FROM per JOIN j ON j.comp = per.comp AND j.doc_id = per.kept
           WHERE per.size >= 2)
         SELECT CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN kept_chars = max_chars THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept_best,
           CAST(sum(CASE WHEN kept_chars = max_chars THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS best_ppm
         FROM k""",
    // exact 5-NN edges, mutual-pair join,
    "dedup_simhash_balance" -> {
      val branches = (0 until 16).map { b =>
        s"""SELECT $b AS bit, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN list_sum(list_transform(hw,
              h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
              THEN 1 ELSE 0 END) AS BIGINT) AS n_ones FROM hw"""
      }.mkString("\n         UNION ALL ")
      s"""WITH hw AS (SELECT doc_id, list_transform(string_split(text,' '),
           w -> ${sqlH60("w")}) AS hw FROM documents),
         u AS ($branches)
         SELECT CAST(bit AS INT) AS bit, n_docs, n_ones,
           n_ones * 1000000 // n_docs AS share_ppm
         FROM u ORDER BY bit"""
    },
    // shared power-iteration replay, offset-floored projection quanta,
    // total/projection variance pieces,
    "dedup_keep" ->
      s"""WITH corpus AS ($sqlDedupCorpus),
         h AS (SELECT doc_id, md5(text) AS h FROM corpus),
         k AS (SELECT h, min(doc_id) AS doc_id FROM h GROUP BY 1)
         SELECT h.doc_id AS doc_id FROM h JOIN k ON h.h = k.h AND h.doc_id = k.doc_id
         ORDER BY h.doc_id""",
    // integrity: the perceptual hash itself is recomputed in SQL from the
    // closed-form grid (8x8 block means of exact int sums -> IEEE division
    // -> left-fold mean -> bit per block, bit 63 handled via signed wrap),
    // so the engine's decode+phash arithmetic is fully oracle-anchored.
    // phash_stored re-derives the value the generator wrote to the table's
    // phash column (same closed form), and the cap_* columns re-derive the
    // caption JSON's georeferencing from the tile corner — the row's
    // caption-equality invariant as recomputed quantities, not booleans,
    "dedup_length_bias" ->
      s"""WITH $minhashCtes,
         edges AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b ON a.band_id = b.band_id
             AND a.band_key = b.band_key
           WHERE a.doc_id < b.doc_id),
         duped AS (SELECT DISTINCT doc FROM (
             SELECT doc_a AS doc FROM edges
             UNION ALL SELECT doc_b FROM edges) u),
         lb AS (SELECT corpus.doc_id,
             CAST(len(string_split(text, ' ')) // 20 AS INT) AS len_bucket,
             CASE WHEN duped.doc IS NULL THEN 0 ELSE 1 END AS is_dup
           FROM corpus LEFT JOIN duped ON duped.doc = corpus.doc_id)
         SELECT len_bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_duped,
           CAST(sum(is_dup) AS BIGINT) * 1000000
             // CAST(count(*) AS BIGINT) AS rate_ppm
         FROM lb GROUP BY 1 ORDER BY len_bucket""",
    // window energies, monotone prefix/suffix lengths,
    "dedup_cluster_purity" ->
      s"""WITH RECURSIVE $minhashCtes,
         edges AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b ON a.band_id = b.band_id
             AND a.band_key = b.band_key
           WHERE a.doc_id < b.doc_id),
         reach(doc, other) AS (
           SELECT doc_id, doc_id FROM corpus
           UNION
           SELECT r.doc, CASE WHEN e.doc_a = r.other THEN e.doc_b
             ELSE e.doc_a END
           FROM reach r JOIN edges e ON e.doc_a = r.other
             OR e.doc_b = r.other),
         cmp AS (SELECT doc AS doc_id, min(other) AS comp
           FROM reach GROUP BY doc),
         lab AS (SELECT doc_id, comp, doc_id % 100000 AS base FROM cmp),
         sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS size
           FROM lab GROUP BY 1),
         maj AS (SELECT comp, base AS maj_base, k AS maj_k FROM (
             SELECT comp, base, CAST(count(*) AS BIGINT) AS k,
               row_number() OVER (PARTITION BY comp
                 ORDER BY count(*) DESC, base) AS rn
             FROM lab GROUP BY comp, base) q WHERE rn = 1)
         SELECT sz.comp, size, maj_base, maj_k,
           maj_k * 1000000 // size AS purity_ppm
         FROM sz JOIN maj ON maj.comp = sz.comp WHERE size >= 2
         ORDER BY sz.comp""",
    // motif closed forms + BFS rounds, composed pieces,
    "dedup_minhash_precision" -> {
      val sigs = (0 until 8).map { j =>
        s"list_min(list_transform(hv, h -> (${2 * j + 3}*h + ${5 * j + 7}) % 1048573)) AS m$j"
      }.mkString(", ")
      val bandRows = (0 until 4).map { b =>
        s"SELECT doc_id, $b AS band_id, m${2 * b}*1048573 + m${2 * b + 1} AS band_key FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
           UNION ALL SELECT doc_id + 200000, text || ' zz qq ww ee rr tt'
             FROM documents WHERE doc_id % 25 = 0),
         sh0 AS (SELECT doc_id, $sqlShingles3 AS sh FROM sub),
         hv AS (SELECT doc_id, list_transform(sh,
             x -> ${sqlH60("x")} % 1048573) AS hv FROM sh0),
         sig AS (SELECT doc_id, $sigs FROM hv),
         banded AS ($bandRows),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b ON a.band_id = b.band_id
             AND a.band_key = b.band_key
           WHERE a.doc_id < b.doc_id),
         shs AS (SELECT doc_id, list_distinct(sh) AS s FROM sh0),
         truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM shs a JOIN shs b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS BIGINT) * 2 >=
                 CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT)),
         tpq AS (SELECT CAST(count(*) AS BIGINT) AS tp FROM cand
           JOIN truth ON truth.doc_a = cand.doc_a
             AND truth.doc_b = cand.doc_b),
         nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
         SELECT n_cand, n_truth, tp, n_cand - tp AS fp,
           n_truth - tp AS fn,
           CASE WHEN n_cand = 0 THEN CAST(0 AS BIGINT)
                ELSE tp * 1000000 // n_cand END AS precision_ppm,
           CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT)
                ELSE tp * 1000000 // n_truth END AS recall_ppm
         FROM nc, nt, tpq"""
    },
    // the same three congruential hash rows over ALL keys, min counter,
    // overestimate histogram,
    "dedup_pair_degree_hist" ->
      s"""WITH $minhashCtes,
         edges AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b ON a.band_id = b.band_id
             AND a.band_key = b.band_key
           WHERE a.doc_id < b.doc_id),
         deg AS (SELECT doc, CAST(count(*) AS BIGINT) AS degree FROM (
             SELECT doc_a AS doc FROM edges
             UNION ALL SELECT doc_b FROM edges) u GROUP BY 1)
         SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
         FROM deg GROUP BY 1 ORDER BY degree""",
    // closed-form squared lag differences at the 6 literal lags,
    "dedup_shingle_df_hist" ->
      s"""WITH corpus AS ($sqlDedupCorpus),
         sh AS (SELECT doc_id, unnest(list_distinct($sqlShingles3)) AS sh
           FROM corpus),
         df AS (SELECT sh, CAST(count(*) AS BIGINT) AS df
           FROM sh GROUP BY 1)
         SELECT df, CAST(count(*) AS BIGINT) AS n_shingles
         FROM df GROUP BY 1 ORDER BY df""",
    // the same canonical graph, threshold VALUES, stats-only joins,
    "dedup_spans" -> dedupSpansOracleSql,
    "dedup_lcs_span" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL SELECT doc_id + 200000, text || ' zz qq ww ee rr tt' FROM documents WHERE doc_id % 7 = 0),
         d AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus WHERE doc_id % 5 = 0),
         gr AS (SELECT doc_id, CAST(g - 1 AS INT) AS pos,
             array_to_string(list_slice(w, CAST(g AS BIGINT), CAST(g AS BIGINT) + 7), ' ') AS gram
           FROM d, unnest(range(1, greatest(len(w) - 6, 1))) AS t(g)),
         m AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos AS pb
           FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         r AS (SELECT doc_a, doc_b, pa - pb AS off, pa,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
               ORDER BY pa) AS grp FROM m),
         runs AS (SELECT doc_a, doc_b, off, grp, count(*) AS run
           FROM r GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, CAST(max(run + 7) AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_runs
         FROM runs GROUP BY 1, 2 HAVING max(run + 7) >= 12
         ORDER BY doc_a, doc_b""",
    // header/detail cents reconciliation; all-integer deviations,
    "dedup_lsh_multiprobe" -> {
      val bucket = (0 until 8).map { j =>
        s"(CASE WHEN ${sqlPlaneDot(j)} >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      val probes = ("f.bucket" +: (0 until 8).map(j =>
        s"xor(f.bucket, ${1L << j})")).mkString(", ")
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
           UNION ALL SELECT vec_id + 10000 AS vec_id, embedding
           FROM embeddings WHERE vec_id % 20 = 0),
         vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM corpus),
         f AS (SELECT vec_id, v, $bucket AS bucket,
           sqrt(list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> v[d+1] * v[d+1])), (p,q) -> p + q)) AS nrm FROM vv),
         truth AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM f a JOIN f b ON a.vec_id < b.vec_id
           WHERE list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> a.v[d+1] * b.v[d+1])), (p,q) -> p + q) / (a.nrm * b.nrm)
             >= 0.999),
         plain AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM f a JOIN f b ON a.bucket = b.bucket
             AND a.vec_id < b.vec_id),
         pr AS (SELECT f.vec_id AS id_a, p AS bucket
           FROM f, unnest([$probes]) AS t(p)),
         multi AS (SELECT DISTINCT pr.id_a, b.vec_id AS id_b
           FROM pr JOIN f b ON b.bucket = pr.bucket
             AND pr.id_a < b.vec_id),
         agg AS (SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM plain) AS cand_plain,
           (SELECT CAST(count(*) AS BIGINT) FROM multi) AS cand_multi,
           (SELECT CAST(count(*) AS BIGINT) FROM truth JOIN plain
             USING (id_a, id_b)) AS hit_plain,
           (SELECT CAST(count(*) AS BIGINT) FROM truth JOIN multi
             USING (id_a, id_b)) AS hit_multi)
         SELECT n_truth, cand_plain, cand_multi, hit_plain, hit_multi,
           CAST(1000000 * hit_plain // n_truth AS BIGINT) AS recall_plain_ppm,
           CAST(1000000 * hit_multi // n_truth AS BIGINT) AS recall_multi_ppm
         FROM agg"""
    },
    // exact rectangle overlaps, one floor after the weighted sum
  )
}
