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

/** Training-data curation gates: quotas, sampling, splits, packing,
  * decontamination (9 entries),
  * each with its DuckDB oracle SQL.
  */
object QCuration {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Curation quota sampling: keep the 30 best-quality docs per source —
    // the per-source/per-domain cap of corpus mixing (data-mixing primitive
    // before training). Exact two-phase top-k (ops.Curation.topKPerGroup):
    // few huge groups must not serialize the corpus into one window
    // partition per source.
    "curation_quota" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("src"), col("doc_id") % 5).as("source"),
          ops.TextDedup.qualityScore(col("text")).as("score"))
      ops.Curation.topKPerGroup(scored,
          col("source"), Seq(col("score").desc, col("doc_id")), 30)
        .select(col("doc_id"), col("source"), col("score"), col("rk"))
        .orderBy("source", "rk")
    }),
    // Same quota contract as curation_quota, computed by the typed
    // Aggregator instead of windows: one mergeable aggregation, O(k) state
    // per group, only k rows per group cross the shuffle. Same oracle.
    "curation_topk_agg" -> ((s, dir) => {
      import s.implicits._
      val scored = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("src"), col("doc_id") % 5).as("source"),
          ops.TextDedup.qualityScore(col("text")).as("score"))
        .as[ops.Curation.ScoredDoc]
      scored.groupByKey(_.source)
        .agg(new ops.Curation.TopKAgg(30).toColumn.name("topk"))
        .toDF("source", "topk")
        .select(col("source"), posexplode(col("topk.items")).as(Seq("i", "s")))
        .select(col("s.doc_id").as("doc_id"), col("source"),
          col("s.score").as("score"), (col("i") + 1).cast("int").as("rk"))
        .orderBy("source", "rk")
    }),
    // Benchmark decontamination: 13-gram overlap vs a deterministic eval
    // slice (doc_id % 50 == 7). Eval n-grams broadcast; corpus never
    // shuffles.
    "curation_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      ops.Curation.decontaminate(
          docs.filter(col("doc_id") % 50 =!= 7),
          docs.filter(col("doc_id") % 50 === 7), n = 13)
        .orderBy("doc_id")
    }),
    // The composed curation pipeline — the ops are designed to CHAIN: exact
    // dedup (md5 keeper) -> quality gate (length + Gopher word-rep) ->
    // 13-gram decontamination (broadcast eval grams, anti-join) ->
    // per-source token budget (md5-ordered cumsum cap). Four stages, four
    // key-bounded shuffles, one scan of the corpus text.
    "curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val s1 = dedupCorpus(s, dir)
        .withColumn("keeper",
          min("doc_id").over(Window.partitionBy(md5(col("text")))))
        .filter(col("doc_id") === col("keeper")).drop("keeper")
      val s2 = s1
        .withColumn("wlist", split(col("text"), " "))
        .withColumn("n_words", size(col("wlist")).cast("long"))
        .withColumn("n_distinct", size(array_distinct(col("wlist"))).cast("long"))
        .filter(col("n_words") >= 20 &&
          expr("(n_words - n_distinct) * 1000000 div n_words") < 500000)
      val evalGrams = docs.filter(col("doc_id") % 50 === 7)
        .select(explode(ops.Curation.wordNgrams(col("text"), 13)).as("ng"))
        .distinct()
      val contaminated = s2
        .select(col("doc_id"), explode(ops.Curation.wordNgrams(col("text"), 13)).as("ng"))
        .join(broadcast(evalGrams), "ng").select("doc_id").distinct()
      val s3 = s2.filter((col("doc_id") % 100000) % 50 =!= 7)
        .join(contaminated, Seq("doc_id"), "left_anti")
      val w4 = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      s3.withColumn("orig_id", col("doc_id") % 100000)
        .join(docs.select(col("doc_id").as("orig_id"), col("source")), "orig_id")
        .withColumn("cum", sum("n_words").over(
          w4.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum") <= 800)
        .select("doc_id", "source", "n_words", "cum")
        .orderBy("doc_id")
    }),
    // Fuzzy decontamination: LSH band candidates corpus x eval + exact
    // shingle-Jaccard verify. Corpus augmented with mutated eval copies
    // (+300000, trailing junk words) so the fuzzy path has real leakage to
    // catch — the exact 13-gram test misses edited copies by construction.
    "curation_decontam_fuzzy" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val eval = d.filter(col("doc_id") % 50 === 7)
      val corpus = d.filter(col("doc_id") % 50 =!= 7)
        .unionAll(eval.select((col("doc_id") + 300000).as("doc_id"),
          concat(col("text"), lit(" zz qq ww ee rr tt")).as("text")))
      ops.Curation.decontaminateFuzzy(corpus, eval)
        .orderBy("doc_id", "eval_id")
    }),
    // Sequence packing: concatenate each source's docs in doc_id order and
    // chop into 512-token training sequences — every doc gets (seq_id,
    // offset) of its start; docs straddle boundaries, as GPT-style packing
    // does. One shuffle (window per source), exact integer cumsums.
    "curation_pack" -> ((s, dir) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      t(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .withColumn("start_tok",
          coalesce(sum("n_tokens").over(w.rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("start_tok div 512").as("seq_id"),
          (col("start_tok") % 512).as("offset"))
        .orderBy("doc_id")
    }),
    // Token-budget sampling: keep each source's docs in deterministic
    // md5-hash order until the source's token cap — the data-mixing step
    // that hits per-source token targets, not row counts.
    "curation_budget" -> ((s, dir) => {
      val caps = typedLit(Map("src0" -> 1000L, "src1" -> 700L,
        "src2" -> 400L, "src3" -> 200L))
      val w = Window.partitionBy("source")
        .orderBy(col("h"), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("cum", sum("n_tokens").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum") <= coalesce(element_at(caps, col("source")), lit(800L)))
        .select("doc_id", "source", "n_tokens", "cum")
        .orderBy("doc_id")
    }),
    // Deterministic stratified sampling: per-source keep rates as a pure
    // md5-bucket filter on the scan (ops.Curation.stratifiedSample) —
    // reproducible across runs/partitionings, nested rates give nested
    // samples. src0..src3 get explicit rates, the other sources a default.
    "curation_stratified" -> ((s, dir) => {
      ops.Curation.stratifiedSample(
          t(s, dir, "documents").select("doc_id", "source"),
          col("doc_id"), col("source"),
          Map("src0" -> 800, "src1" -> 400, "src2" -> 200, "src3" -> 50),
          defaultPerMille = 100)
        .orderBy("doc_id")
    }),
    // Deterministic train/val/test split — assignment must be a pure
    // function of the row key (reproducible, join-free, engine-independent)
    // never a random() sample. The multiplicative hash keeps the arithmetic
    // in oracle-replicable BIGINT range; a production corpus with unbounded
    // ids would use xxhash64 (engine-internal, same shape).
    "curation_split" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id", "(doc_id * 40503 + 30013) % 65536 AS h")
        .selectExpr("doc_id", "h",
          """CASE WHEN h % 100 < 80 THEN 'train'
                  WHEN h % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split""")
        .orderBy("doc_id")
    }),
  )

  val sql: Map[String, String] = Map(
    "curation_quota" ->
      """WITH q AS (SELECT doc_id,
           CAST(len(string_split(text,' ')) AS DOUBLE) AS nw,
           CAST(len(list_filter(string_split(text,' '),
             w -> w='the' OR w='a' OR w='of' OR w='and' OR w='to')) AS DOUBLE) AS ns,
           CAST(length(replace(text,' ','')) AS DOUBLE) AS nc FROM documents),
         sc AS (SELECT doc_id, 'src' || CAST(doc_id % 5 AS VARCHAR) AS source,
           least(nw/100.0, 1.0)*0.4 + (ns/nw)*0.3 + least((nc/nw)/10.0, 1.0)*0.3 AS score FROM q),
         r AS (SELECT doc_id, source, score,
           CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS INTEGER) AS rk
           FROM sc)
         SELECT doc_id, source, score, rk FROM r WHERE rk <= 30
         ORDER BY source, rk""",
    // identical contract to curation_quota — the Aggregator must land on the
    // same rows, ranks and scores as the window formulations
    "curation_topk_agg" ->
      """WITH q AS (SELECT doc_id,
           CAST(len(string_split(text,' ')) AS DOUBLE) AS nw,
           CAST(len(list_filter(string_split(text,' '),
             w -> w='the' OR w='a' OR w='of' OR w='and' OR w='to')) AS DOUBLE) AS ns,
           CAST(length(replace(text,' ','')) AS DOUBLE) AS nc FROM documents),
         sc AS (SELECT doc_id, 'src' || CAST(doc_id % 5 AS VARCHAR) AS source,
           least(nw/100.0, 1.0)*0.4 + (ns/nw)*0.3 + least((nc/nw)/10.0, 1.0)*0.3 AS score FROM q),
         r AS (SELECT doc_id, source, score,
           CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS INTEGER) AS rk
           FROM sc)
         SELECT doc_id, source, score, rk FROM r WHERE rk <= 30
         ORDER BY source, rk""",
    "curation_decontam" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         grams AS (SELECT doc_id,
             array_to_string(list_slice(w, CAST(g AS BIGINT), CAST(g AS BIGINT) + 12), ' ') AS ng
           FROM toks, unnest(range(1, greatest(len(w) - 11, 1))) AS t(g)),
         bm AS (SELECT DISTINCT ng FROM grams WHERE doc_id % 50 = 7)
         SELECT doc_id, count(DISTINCT ng) AS n_hit_grams
         FROM grams WHERE doc_id % 50 <> 7 AND ng IN (SELECT ng FROM bm)
         GROUP BY doc_id ORDER BY doc_id""",
    "curation_pipeline" ->
      s"""WITH corpus AS ($sqlDedupCorpus),
         s1 AS (SELECT doc_id, text FROM (
             SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM corpus)
           WHERE doc_id = keeper),
         s2 AS (SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
           FROM s1),
         s2f AS (SELECT * FROM s2
           WHERE n_words >= 20 AND (n_words - n_distinct) * 1000000 // n_words < 500000),
         toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM s2f),
         grams AS (SELECT doc_id,
             array_to_string(list_slice(w, CAST(g AS BIGINT), CAST(g AS BIGINT) + 12), ' ') AS ng
           FROM toks, unnest(range(1, greatest(len(w) - 11, 1))) AS t(g)),
         bm AS (SELECT DISTINCT
             array_to_string(list_slice(w2, CAST(g AS BIGINT), CAST(g AS BIGINT) + 12), ' ') AS ng
           FROM (SELECT string_split(text, ' ') AS w2 FROM documents WHERE doc_id % 50 = 7),
             unnest(range(1, greatest(len(w2) - 11, 1))) AS t(g)),
         bad AS (SELECT DISTINCT doc_id FROM grams WHERE ng IN (SELECT ng FROM bm)),
         s3 AS (SELECT s2f.* FROM s2f
           WHERE (doc_id % 100000) % 50 <> 7 AND doc_id NOT IN (SELECT doc_id FROM bad)),
         s4 AS (SELECT s3.doc_id, d2.source, s3.n_words,
             CAST(sum(s3.n_words) OVER (PARTITION BY d2.source
               ORDER BY md5(CAST(s3.doc_id AS VARCHAR)), s3.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM s3 JOIN documents d2 ON s3.doc_id % 100000 = d2.doc_id)
         SELECT doc_id, source, n_words, cum FROM s4 WHERE cum <= 800 ORDER BY doc_id""",
    "curation_decontam_fuzzy" -> decontamFuzzyOracleSql,
    "curation_pack" ->
      """WITH d AS (SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
         c AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM d)
         SELECT doc_id, source, n_tokens,
           start_tok // 512 AS seq_id, start_tok % 512 AS offset
         FROM c ORDER BY doc_id""",
    "curation_budget" ->
      """WITH d AS (SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM d)
         SELECT doc_id, source, n_tokens, cum FROM c
         WHERE cum <= CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 700
           WHEN 'src2' THEN 400 WHEN 'src3' THEN 200 ELSE 800 END
         ORDER BY doc_id""",
    "curation_stratified" ->
      """SELECT doc_id, source FROM documents
         WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
               < (CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 400
                              WHEN 'src2' THEN 200 WHEN 'src3' THEN 50 ELSE 100 END)
         ORDER BY doc_id""",
    "curation_split" ->
      """SELECT doc_id, (doc_id * 40503 + 30013) % 65536 AS h,
           CASE WHEN ((doc_id * 40503 + 30013) % 65536) % 100 < 80 THEN 'train'
                WHEN ((doc_id * 40503 + 30013) % 65536) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
  )
}
