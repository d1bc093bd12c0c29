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

/** Training-data curation gates: quotas, splits, decontamination
  * (16 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QCuration {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curation_greedy_quality" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"),
          ops.TextDedup.qualityScore(col("text")).as("q"),
          expr("size(split(text, ' '))").cast("long").as("toks"))
        .select(col("doc_id"),
          expr("CAST(round(q * 1000) AS BIGINT)").as("q_milli"),
          col("toks"))
      // doc-scaled rows: the greedy token budget uses the
      // range-partitioned two-phase running sum (ops.GlobalRank), never a
      // global single-partition window (VERDICT r4 #3)
      ops.GlobalRank.withCumSum(scored, "toks", "cum_toks",
          Seq(col("q_milli").desc, col("doc_id")))
        .filter(col("cum_toks") <= 100000L)
        .agg(count(lit(1)).as("n_kept"), max("cum_toks").as("tokens_kept"),
          min("q_milli").as("min_quality_milli"))
    }),
    // DECIMAL money surface: exact decimal aggregation per status —
    // the fixed-point arithmetic path every financial rollup needs,
    // result pinned to DECIMAL(18,2) on both engines.,
    "curation_split_leakage" -> ((s, dir) => {
      val corpus = dedupCorpus(s, dir)
      val pairs = ops.TextDedup.minhashPairs(corpus)
        .withColumn("tr_a", col("doc_a") % 10 < 8)
        .withColumn("tr_b", col("doc_b") % 10 < 8)
      val sizes = corpus
        .agg(sum(when(col("doc_id") % 10 < 8, 1L).otherwise(0L))
            .as("n_train"),
          sum(when(col("doc_id") % 10 >= 8, 1L).otherwise(0L))
            .as("n_test"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("tr_a") =!= col("tr_b"), 1L).otherwise(0L))
            .as("n_cross"))
        .crossJoin(sizes)
        .withColumn("leak_ppm", expr(
          "CASE WHEN n_pairs = 0 THEN 0L " +
            "ELSE n_cross * 1000000 DIV n_pairs END"))
    }),
    // Hypsometric deciles: per tile the quantized level at each 10% of
    // cumulative area — the elevation-distribution curve geomorphology
    // reads (youthful vs senile terrain); reuses the level histogram.,
    "curation_quality_corr" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(ops.TextDedup.qualityScore(col("text")).as("q"),
          col("n_chars"))
        .select(expr("CAST(round(q * 1000) AS BIGINT)").as("x"),
          col("n_chars").as("y"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
          sum(expr("y * y")).as("syy"))
        .withColumn("corr_num", expr("n * sxy - sx * sy"))
        .withColumn("var_x_num", expr("n * sxx - sx * sx"))
        .withColumn("var_y_num", expr("n * syy - sy * sy"))
    }),
    // Multiset set-op surface: EXCEPT ALL / INTERSECT ALL vs distinct
    // EXCEPT over bucketed keys — the bag semantics reconciliation counts.,
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
    // per group, only k rows per group cross the shuffle. Same oracle.,
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
    // URL canonicalization + dedup (ops.Curation.urlDedup): the first web
    // dedup pass — scheme/host lowering, www/query/fragment/trailing-slash
    // stripping, min-doc_id keep per canonical URL. Fixture mints four
    // case/suffix variants per underlying page.,
    "curation_url_dedup" -> ((s, dir) => {
      val urls = t(s, dir, "documents").selectExpr("doc_id",
        """CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN concat('https://WWW.Example.com/path/',
             CAST(doc_id DIV 4 AS STRING), '/page?utm=123#frag')
           WHEN 1 THEN concat('https://example.com/path/',
             CAST(doc_id DIV 4 AS STRING), '/page')
           WHEN 2 THEN concat('http://Blog.Site.org/a/',
             CAST(doc_id % 97 AS STRING))
           ELSE concat('http://blog.site.org/a/',
             CAST(doc_id % 97 AS STRING), '/')
           END AS url""")
      ops.Curation.urlDedup(urls).orderBy("doc_id")
    }),
    // Domain-mixture reweighting (ops.Curation.mixtureWeights): per-source
    // ppm sampling weights + repetition budgets toward a uniform token
    // target, exact rational ppm arithmetic — the sampler knob downstream
    // of quota/stratified/budget.,
    "curation_mix" -> ((s, dir) => {
      ops.Curation.mixtureWeights(t(s, dir, "documents"),
          expr("size(split(text, ' '))"))
        .orderBy("source")
    }),
    // Custom-state streaming rollup (streaming.StreamOps.stateRollup):
    // mapGroupsWithState per-user (n, Σ, min, max) — the GroupState API
    // surface; every fold order-independent, drain takes each key's final
    // (max-n) emission, so the result IS the batch GROUP BY.,
    "curation_dsir" -> ((s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(ops.Curation.wordNgrams(col("text"), 2)).as("tok"))
      val corpusF = grams.groupBy("tok").agg(count(lit(1)).as("c_freq"))
      val targetF = grams.filter(col("doc_id") % 10 === 0)
        .groupBy("tok").agg(count(lit(1)).as("t_freq"))
      val ratios = corpusF.join(targetF, Seq("tok"), "left")
        .withColumn("ratio_q",
          expr("(coalesce(t_freq, 0L) * 1000000) div c_freq"))
      grams.join(ratios.select("tok", "ratio_q"), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), sum("ratio_q").as("weight_q"))
        .orderBy("doc_id")
    }),
    // Deterministic stratified sampling: per-source keep rates as a pure
    // md5-bucket filter on the scan (ops.Curation.stratifiedSample) —
    // reproducible across runs/partitionings, nested rates give nested
    // samples. src0..src3 get explicit rates, the other sources a default.
    // Benchmark decontamination: 13-gram overlap vs a deterministic eval
    // slice (doc_id % 50 == 7). Eval n-grams broadcast; corpus never shuffles.,
    "curation_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      ops.Curation.decontaminate(
          docs.filter(col("doc_id") % 50 =!= 7),
          docs.filter(col("doc_id") % 50 === 7), n = 13)
        .orderBy("doc_id")
    }),
    // Funnel analysis: view -> click -> purchase as a per-user state machine
    // folded over the (ts, event_id)-ordered event sequence with the codegen'd
    // higher-order `aggregate` — ONE shuffle (groupBy user_id), no self-joins.
    // Per-user sequences are memory-bounded (events/user, not events/table);
    // a pathological single-user firehose would move to repartition +
    // sortWithinPartitions + mapPartitions streaming fold.
    // Conversion-lag quartiles: per user, first 'view' → first subsequent
    // 'purchase'; exact selection quartiles over the per-user lags (rank
    // floor((n−1)p)+1 under the (lag, user) total order — the same
    // convention as events_quantiles). The step-timing number funnels'
    // counts don't carry.,
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
    // catch — the exact 13-gram test misses edited copies by construction.,
    "curation_decontam_fuzzy" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val eval = d.filter(col("doc_id") % 50 === 7)
      val corpus = d.filter(col("doc_id") % 50 =!= 7)
        .unionAll(eval.select((col("doc_id") + 300000).as("doc_id"),
          concat(col("text"), lit(" zz qq ww ee rr tt")).as("text")))
      ops.Curation.decontaminateFuzzy(corpus, eval)
        .orderBy("doc_id", "eval_id")
    }),
    // Event-type transition counts: the Markov matrix of consecutive
    // per-user events — one window shuffle, integer counts.,
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
    // that hits per-source token targets, not row counts.,
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
    "curation_stratified" -> ((s, dir) => {
      ops.Curation.stratifiedSample(
          t(s, dir, "documents").select("doc_id", "source"),
          col("doc_id"), col("source"),
          Map("src0" -> 800, "src1" -> 400, "src2" -> 200, "src3" -> 50),
          defaultPerMille = 100)
        .orderBy("doc_id")
    }),
    // Gopher-style repetition quality signals (ops.Curation.repetitionStats):
    // duplicate-word and top-bigram concentration as exact integers +
    // floor-quantized millionth ratios.,
    "curation_split" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id", "(doc_id * 40503 + 30013) % 65536 AS h")
        .selectExpr("doc_id", "h",
          """CASE WHEN h % 100 < 80 THEN 'train'
                  WHEN h % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split""")
        .orderBy("doc_id")
    }),
    // Hierarchical ROLLUP totals (event_type, hour) -> (event_type) -> ()
    // with sentinel labels instead of grouping nulls (engine-independent
    // null ordering is not worth relying on). The grand-total sum covers
    // EVERY row, so it aggregates exact integer cents (values carry 2
    // decimals; round() kills the *100 representation error) — a plain
    // double sum over the whole table is accumulation-order dependent and
    // would eventually disagree with the oracle at a rounding boundary.,
    "curation_cluster_balance" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ct = ops.Embeddings.ivfAssign(emb, 8).select("vec_id", "centroid")
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy("centroid", "label").agg(count(lit(1)).as("n"))
      val rt = ct.groupBy("centroid").agg(sum("n").as("row_tot"))
      val lt = ct.groupBy("label").agg(sum("n").as("col_tot"))
      val g = ct.agg(sum("n").as("grand"))
      ct.join(rt, Seq("centroid")).join(lt, Seq("label"))
        .crossJoin(broadcast(g))
        .withColumn("dev_q", expr("abs(n * grand - row_tot * col_tot)"))
        .select("centroid", "label", "n", "row_tot", "col_tot", "dev_q")
        .orderBy("centroid", "label")
    }),
  )

  val sql: Map[String, String] = Map(
    "curation_greedy_quality" ->
      """WITH s AS (SELECT doc_id,
           CAST(len(string_split(text,' ')) AS DOUBLE) AS nw,
           CAST(len(list_filter(string_split(text,' '),
             w -> w='the' OR w='a' OR w='of' OR w='and' OR w='to')) AS DOUBLE) AS ns,
           CAST(length(replace(text,' ','')) AS DOUBLE) AS nc,
           CAST(len(string_split(text,' ')) AS BIGINT) AS toks
           FROM documents),
         sc AS (SELECT doc_id, toks,
             CAST(round((least(nw/100.0, 1.0)*0.4 + (ns/nw)*0.3
               + least((nc/nw)/10.0, 1.0)*0.3) * 1000) AS BIGINT) AS q_milli
           FROM s),
         c AS (SELECT doc_id, q_milli, toks,
             CAST(sum(toks) OVER (ORDER BY q_milli DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_toks
           FROM sc)
         SELECT CAST(count(*) AS BIGINT) AS n_kept,
           CAST(max(cum_toks) AS BIGINT) AS tokens_kept,
           CAST(min(q_milli) AS BIGINT) AS min_quality_milli
         FROM c WHERE cum_toks <= 100000""",
    // decimal-pinned money rollup,
    "curation_split_leakage" ->
      s"""WITH $minhashCtes,
         edges AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b ON a.band_id = b.band_id
             AND a.band_key = b.band_key
           WHERE a.doc_id < b.doc_id),
         pr AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN (doc_a % 10 < 8) <> (doc_b % 10 < 8)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_cross FROM edges),
         sz AS (SELECT
             CAST(sum(CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN doc_id % 10 >= 8 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_test FROM corpus)
         SELECT n_pairs, n_cross, n_train, n_test,
           CASE WHEN n_pairs = 0 THEN CAST(0 AS BIGINT)
                ELSE n_cross * 1000000 // n_pairs END AS leak_ppm
         FROM pr, sz""",
    // clamped level CDF vs decile thresholds, min qualifying level,
    "curation_quality_corr" ->
      """WITH s AS (SELECT doc_id, n_chars,
           CAST(len(string_split(text,' ')) AS DOUBLE) AS nw,
           CAST(len(list_filter(string_split(text,' '),
             w -> w='the' OR w='a' OR w='of' OR w='and' OR w='to')) AS DOUBLE) AS ns,
           CAST(length(replace(text,' ','')) AS DOUBLE) AS nc FROM documents),
         sc AS (SELECT CAST(round((least(nw/100.0, 1.0)*0.4 + (ns/nw)*0.3
             + least((nc/nw)/10.0, 1.0)*0.3) * 1000) AS BIGINT) AS x,
             n_chars AS y
           FROM s),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
           FROM sc)
         SELECT n, sx, sy, sxy, sxx, syy,
           n * sxy - sx * sy AS corr_num,
           n * sxx - sx * sx AS var_x_num,
           n * syy - sy * sy AS var_y_num
         FROM a""",
    // bag-semantics EXCEPT ALL / INTERSECT ALL vs distinct EXCEPT,
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
    "curation_url_dedup" ->
      """WITH u AS (SELECT doc_id,
           CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN concat('https://WWW.Example.com/path/',
             CAST(doc_id // 4 AS VARCHAR), '/page?utm=123#frag')
           WHEN 1 THEN concat('https://example.com/path/',
             CAST(doc_id // 4 AS VARCHAR), '/page')
           WHEN 2 THEN concat('http://Blog.Site.org/a/',
             CAST(doc_id % 97 AS VARCHAR))
           ELSE concat('http://blog.site.org/a/',
             CAST(doc_id % 97 AS VARCHAR), '/')
           END AS url FROM documents),
         c AS (SELECT doc_id,
           lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' ||
           regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), '^www\.', '') ||
           CASE WHEN regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '') = ''
                THEN '/'
                ELSE regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '') END
           AS canon FROM u)
         SELECT doc_id, canon,
           doc_id = min(doc_id) OVER (PARTITION BY canon) AS keep
         FROM c ORDER BY doc_id""",
    "curation_mix" ->
      """WITH p AS (SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
           FROM documents GROUP BY source),
         t AS (SELECT CAST(sum(tok) AS BIGINT) AS total_tok,
           count(*) AS n_src FROM p),
         s AS (SELECT source, tok, tok * 1000000 // total_tok AS share_ppm,
           1000000 // n_src AS target_ppm FROM p, t),
         w AS (SELECT source, tok, share_ppm,
           target_ppm * 1000000 // greatest(share_ppm, 1) AS weight_ppm FROM s)
         SELECT source, tok, share_ppm, weight_ppm,
           (weight_ppm + 999999) // 1000000 AS epochs
         FROM w ORDER BY source""",
    // the stream's final state per key IS the batch GROUP BY,
    "curation_dsir" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         grams AS (SELECT doc_id,
             array_to_string(list_slice(w, CAST(g AS BIGINT), CAST(g AS BIGINT) + 1), ' ') AS tok
           FROM toks, unnest(range(1, greatest(len(w), 1))) AS t(g)),
         cf AS (SELECT tok, count(*) AS c_freq FROM grams GROUP BY 1),
         tf AS (SELECT tok, count(*) AS t_freq FROM grams WHERE doc_id % 10 = 0 GROUP BY 1),
         rt AS (SELECT cf.tok, (COALESCE(tf.t_freq, 0) * 1000000) // cf.c_freq AS ratio_q
           FROM cf LEFT JOIN tf USING (tok))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(ratio_q) AS BIGINT) AS weight_q
         FROM grams JOIN rt USING (tok) GROUP BY 1 ORDER BY doc_id""",
    // recursive-CTE UNION reachability both directions, same class rules,
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
    // same $5 bins over exact cents, same selection rank floor((n-1)p)+1;
    // quantile bin = first bin whose cumulative count reaches the rank,
    "curation_cluster_balance" ->
      """WITH vv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cents AS (SELECT range AS c FROM range(0, 8)),
         d AS (SELECT vec_id, label, c,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> (v[d+1] - (((c*53 + d*17) % 13) - 6)) * (v[d+1] - (((c*53 + d*17) % 13) - 6)))),
             (p,q) -> p + q) AS d2
           FROM vv, cents),
         asg AS (SELECT vec_id, label, CAST(c AS INT) AS centroid FROM (
           SELECT vec_id, label, c, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
           FROM d) t WHERE rn = 1),
         ct AS (SELECT centroid, label, CAST(count(*) AS BIGINT) AS n
           FROM asg GROUP BY 1, 2),
         rt AS (SELECT centroid, CAST(sum(n) AS BIGINT) AS row_tot
           FROM ct GROUP BY 1),
         lt AS (SELECT label, CAST(sum(n) AS BIGINT) AS col_tot
           FROM ct GROUP BY 1),
         g AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM ct)
         SELECT ct.centroid, ct.label, n, row_tot, col_tot,
           CAST(abs(n * grand - row_tot * col_tot) AS BIGINT) AS dev_q
         FROM ct JOIN rt ON rt.centroid = ct.centroid
           JOIN lt ON lt.label = ct.label, g
         ORDER BY ct.centroid, ct.label""",
  )
}
