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

/** Deduplication gates: exact, MinHash/LSH, SimHash, containment,
  * clustering (10 entries),
  * each with its DuckDB oracle SQL.
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
    // 8 minhashes → 4 bands → bucket self-join) with identical arithmetic.
    "dedup_minhash" -> ((s, dir) => {
      ops.TextDedup.minhashPairs(dedupCorpus(s, dir)).orderBy("doc_a", "doc_b")
    }),
    // Cross-modal dedup verification: every MinHash TEXT candidate pair
    // re-scored in EMBEDDING space (injected copies map to their base
    // vector via id % 100000) — the modality-agreement check of multimodal
    // curation: a text near-dup whose embeddings disagree is a template,
    // not a duplicate. One key join per side onto the candidate set.
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
    // MinHash LSH recall: of the exact-Jaccard >= 0.5 pairs (ground truth on
    // a deterministic doc_id % 40 == 0 subset, O(n^2/1600) bounded), what share
    // did the band join surface? The band/row tuning number for text dedup —
    // the counterpart of ann_ivf_recall. Counts are exact integers; the one
    // division is IEEE on the same ints in both engines.
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
    // Asymmetric containment near-dup over the engineered-dup corpus: the
    // exact +100000 copies and suffixed +200000 near-copies both land at
    // containment_ppm = 1000000 while symmetric Jaccard on the suffixed
    // pairs is already < 1; df-capped posting-list join (maxDf=20) drops the
    // shared " zz qq ww ee rr tt" boilerplate shingles (df≈71).
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
    "dedup_cluster_keep" -> ((s, dir) => {
      val corpus = dedupCorpus(s, dir)
      val edges = ops.TextDedup.minhashPairs(corpus)
      ops.TextDedup.connectedComponents(edges, corpus.select("doc_id"))
        .withColumn("keep", col("doc_id") === col("comp"))
        .orderBy("doc_id")
    }),
    // Same clustering contract via alternating large-star/small-star
    // contraction (O(log n) rounds regardless of component diameter — the
    // adversarial-chain path); must land on the identical component map.
    "dedup_cluster_star" -> ((s, dir) => {
      val corpus = dedupCorpus(s, dir)
      val edges = ops.TextDedup.minhashPairs(corpus)
      ops.TextDedup.connectedComponentsStar(edges, corpus.select("doc_id"))
        .withColumn("keep", col("doc_id") === col("comp"))
        .orderBy("doc_id")
    }),
    // Exact-duplicate keepers: one doc per md5(text), the smallest doc_id.
    "dedup_keep" -> ((s, dir) => {
      val corpus = dedupCorpus(s, dir).withColumn("h", md5(col("text")))
      val keepers = corpus.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      corpus.join(keepers, Seq("h", "doc_id"), "left_semi")
        .select("doc_id").orderBy("doc_id")
    }),
  )

  val sql: Map[String, String] = Map(
    "dedup_exact" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
         SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
         FROM all_docs GROUP BY 1 ORDER BY h""",
    "dedup_minhash" -> minhashOracleSql,
    "dedup_cross_modal" -> crossModalOracleSql,
    "dedup_minhash_recall" -> minhashRecallOracleSql,
    "dedup_simhash" -> simhashOracleSql,
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
    "dedup_cluster_keep" -> clusterOracleSql,
    // star contraction must land on the identical component map, so it
    // shares the recursive-CTE clustering oracle
    "dedup_cluster_star" -> clusterOracleSql,
    "dedup_keep" ->
      s"""WITH corpus AS ($sqlDedupCorpus),
         h AS (SELECT doc_id, md5(text) AS h FROM corpus),
         k AS (SELECT h, min(doc_id) AS doc_id FROM h GROUP BY 1)
         SELECT h.doc_id AS doc_id FROM h JOIN k ON h.h = k.h AND h.doc_id = k.doc_id
         ORDER BY h.doc_id""",
  )
}
