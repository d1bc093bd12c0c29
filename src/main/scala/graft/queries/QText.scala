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

/** Text-analysis gates: language id, quality, tokenization, stats
  * (27 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QText {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_zipf_products" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        // top-50 via distributed TakeOrdered; rank window over 50 rows
        .orderBy(col("freq").desc, col("w")).limit(50)
        .withColumn("rank", row_number().over(
          Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("freq"))).orderBy(col("freq").desc, col("w"))).cast("int"))
        .withColumn("rank_x_freq", expr("rank * freq"))
        .select("rank", "w", "freq", "rank_x_freq")
        .orderBy("rank")
    }),
    // Straightness index per trajectory: net displacement² over Σ step²
    // in exact ppm — 10⁶ means a beeline, small means wandering; the
    // cheap commute-vs-wander classifier of mobility analytics.,
    "text_vocab_oov" -> ((s, dir) => {
      ops.Curation.vocabOov(t(s, dir, "documents"), vocabSize = 20)
        .orderBy("doc_id")
    }),
    // Self-trained add-one unigram LM surprisal (integer micro-nats) —
    // the cheap "perplexity filter" quality signal.
    // Bigram-LM surprisal: context-aware junk scoring — word-salad text
    // with a normal unigram profile but improbable transitions scores high.,
    "text_bigram_lm" -> ((s, dir) => {
      ops.Curation.bigramSurprisal(t(s, dir, "documents")).orderBy("doc_id")
    }),
    // Kneser–Ney bigram model (ops.Curation.knBigram): continuation-count
    // backoff in exact quarters + one ppb fixed-point quantization per
    // term — the published formula as deterministic integer arithmetic.
    // Ranking bounded by the distinct-bigram vocabulary.,
    "text_kn_bigram" -> ((s, dir) => {
      ops.Curation.knBigram(t(s, dir, "documents"), topK = 40).orderBy("rk")
    }),
    "text_perplexity" -> ((s, dir) => {
      ops.Curation.unigramSurprisal(t(s, dir, "documents")).orderBy("doc_id")
    }),
    // PII scrub over text with deterministically injected e-mails (docs
    // with id%3!=0) and phone numbers (id%2=0) — variable per-row counts
    // so the gate actually exercises 0/1 match cases of both patterns.,
    "text_pii_redact" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 =!= 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@mail.example.com"))).otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
            concat(lit(" call +1-415-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("scrub_text"))
      ops.Curation.redactPii(d, "scrub_text").orderBy("doc_id")
    }),
    // Asymmetric containment near-dup over the engineered-dup corpus: the
    // exact +100000 copies and suffixed +200000 near-copies both land at
    // containment_ppm = 1000000 while symmetric Jaccard on the suffixed
    // pairs is already < 1; df-capped posting-list join (maxDf=20) drops
    // the shared " zz qq ww ee rr tt" boilerplate shingles (df≈71).,
    "doc_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), ops.TextDedup.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),
    "quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), ops.TextDedup.qualityScore(col("text")).as("score"))
        .withColumn("keep", col("score") >= 0.5)
        .orderBy("doc_id")
    }),
    "text_coverage_curve" -> ((s, dir) => {
      val f = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      // ranks needed only to 500: distributed TakeOrdered bounds the
      // frame, so the rank/cumsum windows run over 500 rows
      val ranked = f.orderBy(col("freq").desc, col("w")).limit(500)
        .withColumn("rank", row_number().over(
          Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("freq"))).orderBy(col("freq").desc, col("w"))).cast("int"))
        .withColumn("cum_freq", sum("freq").over(
          Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("freq"))).orderBy(col("freq").desc, col("w"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = f.agg(sum("freq").as("total_freq"))
      ranked.filter(col("rank").isin(10, 50, 100, 500))
        .crossJoin(broadcast(tot))
        .withColumn("coverage_ppm",
          expr("cum_freq * 1000000 DIV total_freq"))
        .select("rank", "cum_freq", "total_freq", "coverage_ppm")
        .orderBy("rank")
    }),
    // Ordinal-pattern census (Bandt–Pompe permutation patterns, public):
    // per event_type the hourly-count series' sliding length-3 windows
    // mapped to their rank permutation (ties break by earlier position,
    // the standard convention) — the permutation-entropy input that
    // separates trending/oscillating/noisy series with zero arithmetic
    // beyond comparisons. One hour-ordered window per type + one
    // key-bounded count.,
    "text_lang_profile" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("size(split(text, ' '))")).cast("long").as("n_words"),
          sum("n_chars").as("sum_chars"),
          countDistinct("source").as("n_sources"))
        .withColumn("chars_per_doc_milli",
          expr("sum_chars * 1000 DIV n_docs"))
        .orderBy("lang")
    }),
    // Does the quality score just measure length? Exact Pearson moments
    // between the milli-quantized score and n_chars over all docs — the
    // filter-bias audit a curation pipeline runs before trusting its
    // quality gate. One row, pure integers.,
    "text_collocations" -> ((s, dir) => {
      ops.Curation.collocations(t(s, dir, "documents"), col("text"), 5L, 30)
    }),
    // Flesch readability pieces (ops.Curation.readability) in exact
    // integers — sentence/word/vowel-group counts and the floored
    // millipoint score, all codegen'd string expressions, one scan. The
    // corpus has no sentence punctuation, so the gate injects
    // deterministic terminators first (' table ' -> '. ') — a regex
    // replacement both engines replay identically.,
    "text_readability" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("txt", regexp_replace(col("text"), " table ", ". "))
      ops.Curation.readability(docs, col("txt")).orderBy("doc_id")
    }),
    // Simpson token diversity (ops.Curation.simpson): the log-free
    // repetitiveness score in exact ppm — Σc(c−1)/(n(n−1)); boilerplate
    // and keyword stuffing score high, diverse prose low. One explode +
    // two key-bounded aggs, no joins.,
    "text_simpson" -> ((s, dir) => {
      ops.Curation.simpson(t(s, dir, "documents"), col("text"))
        .orderBy("doc_id")
    }),
    "text_stats" -> ((s, dir) => {
      t(s, dir, "documents").selectExpr(
        "doc_id",
        "cast(length(text) as bigint) AS n_chars",
        "cast(size(split(text, ' ')) as bigint) AS n_words",
        "cast(size(filter(split(text, ' '), w -> w = 'the')) as bigint) AS n_the",
        "round(size(filter(split(text, ' '), w -> w = 'the')) / size(split(text, ' ')), 6) AS stop_ratio",
        "round(length(replace(text, ' ', '')) / size(split(text, ' ')), 6) AS avg_wlen")
        .orderBy("doc_id")
    }),
    // Curation quota sampling: keep the 30 best-quality docs per source —
    // the per-source/per-domain cap of corpus mixing (data-mixing primitive
    // before training). Exact two-phase top-k (ops.Curation.topKPerGroup):
    // few huge groups must not serialize the corpus into one window
    // partition per source.,
    "quality_repetition" -> ((s, dir) => {
      ops.Curation.repetitionStats(t(s, dir, "documents"), col("text"))
        .select("doc_id", "n_words", "n_distinct", "max_word_c",
          "n_bigrams", "max_bigram_c", "dup_word_q", "top_bigram_q")
        .orderBy("doc_id")
    }),
    // Language-ID confusion matrix (Cavnar–Trenkle rank-order character
    // n-gram profiles, ops.LangId — replaced the round-3 stopword vote its
    // own gate proved useless): profiles train on the 30% doc_id-hash
    // slice of the deterministic multilingual gate corpus, classification
    // runs on the held-out 70%. The acceptance criterion is DIAGONAL
    // DOMINANCE — no majority-class collapse.,
    "text_langid_confusion" -> ((s, dir) => {
      val corpus = ops.LangId.synthCorpus(t(s, dir, "documents").select("doc_id"))
      val prof = ops.LangId.trainProfiles(
        corpus.filter(col("doc_id") % 10 < 3), "lang", "text", 40)
      val ev = corpus.filter(col("doc_id") % 10 >= 3)
      ops.LangId.classify(ev, prof, 40)
        .filter(col("pred_rn") === 1)
        .select(col("doc_id"), col("lang").as("predicted"))
        .join(ev.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),
    // Per-document language prediction + out-of-place distance on the
    // held-out slice (same trained profiles).,
    "text_langid" -> ((s, dir) => {
      val corpus = ops.LangId.synthCorpus(t(s, dir, "documents").select("doc_id"))
      val prof = ops.LangId.trainProfiles(
        corpus.filter(col("doc_id") % 10 < 3), "lang", "text", 40)
      val ev = corpus.filter(col("doc_id") % 10 >= 3)
      ops.LangId.classify(ev, prof, 40)
        .filter(col("pred_rn") === 1)
        .select(col("doc_id"), col("lang").as("predicted"), col("dist"))
        .join(ev.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "predicted", "dist")
        .orderBy("doc_id")
    }),
    // Top-3 TF-IDF terms per document (ops.Curation.tfidfTopTerms):
    // wordcount-shaped tf shuffle + vocabulary-bounded df aggregate + term
    // join; idf quantized to integers so ranking is engine-exact (no ln).,
    "text_tfidf" -> ((s, dir) => {
      ops.Curation.tfidfTopTerms(t(s, dir, "documents"), 3)
        .orderBy("doc_id", "rk")
    }),
    // Quantized BM25 top terms (ops.Curation.bm25TopTerms): the Okapi
    // length-normalized retrieval scorer with idf AND the doc-length ratio
    // quantized to integers (k1=1.2, b=0.75 folded into the 44000/20000/
    // 6000/18 constants), so the whole ranking is exact 64-bit arithmetic
    // both engines replay bit-identically.,
    "text_bm25q" -> ((s, dir) => {
      ops.Curation.bm25TopTerms(t(s, dir, "documents"), 3)
        .orderBy("doc_id", "rk")
    }),
    // RAKE keyphrase extraction (ops.Curation.rakeKeywords): stopword-free
    // runs as candidate phrases, quantized deg/freq word scores summed per
    // phrase, per-doc top-3 — the zero-training keyphrase primitive. The
    // 4-word stopword list splits the synthetic corpus into real
    // multi-word phrases.,
    "text_rake" -> ((s, dir) => {
      ops.Curation.rakeKeywords(t(s, dir, "documents"),
          Seq("a", "the", "value", "table"), 3)
        .orderBy("doc_id", "rk")
    }),
    "token_count" -> ((s, dir) => {
      t(s, dir, "documents").selectExpr(
        "doc_id",
        "cast(size(split(text, ' ')) as bigint) AS n_ws_tokens",
        "cast(aggregate(split(text, ' '), 0, (acc, w) -> acc + cast((length(w) + 3) / 4 as int)) as bigint) AS n_bpe_tokens")
        .orderBy("doc_id")
    }),
    "text_vocab_growth" -> ((s, dir) => {
      val firstSeen = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(ops.Curation.wordNgrams(col("text"), 3)).as("tok"))
        .groupBy("tok").agg(min("doc_id").as("first_doc"))
      firstSeen
        .groupBy((expr("first_doc DIV 50") * 50 + 50).as("n_docs"))
        .agg(count(lit(1)).as("new_types"))
        // global window input is the per-50-doc-bucket aggregate: the
        // frame is corpus_size/50 rows — fine at gate scale; a 100 TB
        // corpus would widen the bucket (the curve's resolution knob)
        .withColumn("vocab", sum("new_types").over(Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("n_docs"))).orderBy("n_docs")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("n_docs")
    }),
    // Per-document n-gram NOVELTY — the memorization/leakage screen dual
    // to text_vocab_growth's corpus curve: for each doc (corpus ordered by
    // doc_id), how many of its distinct 3-grams appear HERE first. Low
    // novelty late in the corpus = near-duplicate or templated content;
    // gram-keyed shuffles bounded by the gram vocabulary.,
    "text_novelty" -> ((s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(ops.Curation.wordNgrams(col("text"), 3)).as("tok"))
        .distinct()
      val firstSeen = grams.groupBy("tok").agg(min("doc_id").as("first_doc"))
      grams.join(firstSeen, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_distinct"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_ppm",
          expr("(n_novel * 1000000) div n_distinct"))
        .orderBy("doc_id")
    }),
    // Term BURSTINESS (Church & Gale's variance-to-mean ratio, public):
    // topical terms clump into few documents (VMR ≫ 1), function words
    // spread evenly (VMR ≈ 1) — the zero-training topicality signal
    // complementing tf-idf. Exact integer moments over per-doc counts
    // (absent docs contribute 0 to both sums), ONE ppm division; top-20.,
    "text_burstiness" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("x"))
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      tf.groupBy("tok")
        .agg(count(lit(1)).as("df"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .filter(col("df") >= 5)
        .crossJoin(broadcast(nd))
        .withColumn("vmr_ppm",
          expr("((n_docs * sxx - sx * sx) * 1000000) div (n_docs * sx)"))
        // top-20 via distributed TakeOrdered; rank window over 20 rows
        .orderBy(col("vmr_ppm").desc, col("tok")).limit(20)
        .withColumn("rk", row_number().over(
          Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("vmr_ppm"))).orderBy(col("vmr_ppm").desc, col("tok"))))
        .select("tok", "df", "sx", "vmr_ppm", "rk")
        .orderBy("rk")
    }),
    // Moving-average type-token ratio (ops.Curation.mattr): the
    // length-robust lexical-diversity score — mean distinct-type count
    // over every sliding 50-token window, computed in ONE lag pass via
    // the previous-occurrence identity (never a per-window DISTINCT);
    // docs shorter than the window are dropped. Exact integers.,
    "text_mattr" -> ((s, dir) => {
      ops.Curation.mattr(t(s, dir, "documents"), col("text"), w = 50)
        .orderBy("doc_id")
    }),
    // BPE merge statistics (ops.TextDedup.bpePairStats): corpus-wide
    // adjacent character-pair counts — the counting step a BPE tokenizer
    // trainer iterates; ONE pair-keyed count, ranking bounded by the
    // |alphabet|² pair vocabulary, never the corpus.,
    "text_bpe_pairs" -> ((s, dir) => {
      ops.TextDedup.bpePairStats(t(s, dir, "documents"), topK = 20)
        .orderBy("rk")
    }),
    // Emerging hot-spot classification: per activity cell the
    // Mann-Kendall S over six 15-day bins (zero-filled) plus first/last
    // bin counts -> intensifying / diminishing / new / stable — the
    // space-time-cube trend census on the od-matrix cell walk.,
    "text_textrank" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "tok")
      // vocab-scaled rows: dense ids via the range-partitioned two-phase
      // row_number (ops.GlobalRank), never a global single-partition window
      val ids = ops.GlobalRank.withRowNumber(
        toks.select("tok").distinct(), "id", Seq(col("tok")))
      val tp = toks.join(ids, Seq("tok"))
        .select(col("doc_id"), col("pos"), col("id"))
      val co = (1 to 2).map { d =>
        tp.join(tp.selectExpr("doc_id", s"pos + $d AS pos", "id AS id2"),
          Seq("doc_id", "pos"))
          .select(col("id"), col("id2"))
      }.reduce(_ unionAll _).filter(col("id") =!= col("id2"))
      val edges = co.select(col("id").as("src"), col("id2").as("dst"))
        .unionAll(co.select(col("id2").as("src"), col("id").as("dst")))
        .distinct()
      ops.Graph.pagerank(edges, rounds = 3)
        .join(ids.withColumnRenamed("id", "node"), Seq("node"))
        .select(col("tok"), col("rank").as("pr"))
        .orderBy(col("pr").desc, col("tok")).limit(10)
    }),
  )

  val sql: Map[String, String] = Map(
    "text_zipf_products" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
           FROM documents),
         f AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
           FROM w GROUP BY 1),
         r AS (SELECT w, freq, CAST(row_number() OVER (
             ORDER BY freq DESC, w) AS INT) AS rank FROM f)
         SELECT rank, w, freq, rank * freq AS rank_x_freq
         FROM r WHERE rank <= 50 ORDER BY rank""",
    "text_vocab_oov" -> vocabOovOracleSql,
    "text_bigram_lm" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         bg AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ws)), g -> ws[g])) AS w1,
             unnest(list_transform(range(1, len(ws)), g -> ws[g+1])) AS w2
           FROM w WHERE len(ws) >= 2),
         cb AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2),
         cu AS (SELECT w1, count(*) AS c_x FROM bg GROUP BY 1),
         vv AS (SELECT count(DISTINCT w2) AS n_vocab FROM bg),
         sq AS (SELECT bg.doc_id,
             CAST(floor(1000000.0 * ln(
               CAST(cu.c_x + vv.n_vocab AS DOUBLE) /
               CAST(cb.c_xy + 1 AS DOUBLE))) AS BIGINT) AS sq
           FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN vv)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(sq) AS BIGINT) AS surprisal_q,
           CAST(sum(sq) AS BIGINT) // CAST(count(*) AS BIGINT) AS ppx_q
         FROM sq GROUP BY doc_id ORDER BY doc_id""",
    // KN replay: same quarters arithmetic, same two ppb floor divisions in
    // the same order,
    "text_kn_bigram" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         bg AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ws)), g -> ws[g])) AS w1,
             unnest(list_transform(range(1, len(ws)), g -> ws[g+1])) AS w2
           FROM w WHERE len(ws) >= 2),
         cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
           FROM bg GROUP BY 1, 2),
         cx AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_x,
             CAST(count(*) AS BIGINT) AS n1p_fol FROM cb GROUP BY 1),
         cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_cont
           FROM cb GROUP BY 1),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM cb),
         p AS (SELECT cb.w1, cb.w2, cb.c_xy,
             CAST(greatest(4 * cb.c_xy - 3, 0) * 1000000000 // (4 * cx.c_x)
               + (3 * cx.n1p_fol * (cont.n_cont * 1000000000 // nt.n_tot))
                 // (4 * cx.c_x) AS BIGINT) AS p_ppb
           FROM cb JOIN cx USING (w1) JOIN cont USING (w2) CROSS JOIN nt),
         r AS (SELECT w1, w2, c_xy, p_ppb,
             CAST(row_number() OVER (ORDER BY c_xy DESC, w1, w2) AS INT)
               AS rk FROM p)
         SELECT w1, w2, c_xy, p_ppb, rk FROM r WHERE rk <= 40 ORDER BY rk""",
    "text_perplexity" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         tok AS (SELECT doc_id, unnest(ws) AS wd FROM w),
         cnt AS (SELECT wd, count(*) AS c FROM tok GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                        count(*) AS n_vocab FROM cnt),
         sq AS (SELECT t.doc_id,
             CAST(floor(1000000.0 * ln(
               CAST(tot.n_total + tot.n_vocab AS DOUBLE) /
               CAST(cnt.c + 1 AS DOUBLE))) AS BIGINT) AS sq
           FROM tok t JOIN cnt ON cnt.wd = t.wd CROSS JOIN tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(sq) AS BIGINT) AS surprisal_q,
           CAST(sum(sq) AS BIGINT) // CAST(count(*) AS BIGINT) AS ppx_q
         FROM sq GROUP BY doc_id ORDER BY doc_id""",
    "text_pii_redact" ->
      """WITH d AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 3 <> 0 THEN ' contact user' ||
             CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
           CASE WHEN doc_id % 2 = 0 THEN ' call +1-415-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t,
             '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'))
             AS redacted_md5
         FROM d ORDER BY doc_id""",
    "doc_fingerprint" ->
      s"""SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text,' '), w -> ${sqlH60("w")} % 1048573)),
           (a,b) -> (a*31 + b) % 2147483647) AS fp
         FROM documents ORDER BY doc_id""",
    "quality_score" ->
      """WITH s AS (SELECT doc_id,
           CAST(len(string_split(text,' ')) AS DOUBLE) AS nw,
           CAST(len(list_filter(string_split(text,' '),
             w -> w='the' OR w='a' OR w='of' OR w='and' OR w='to')) AS DOUBLE) AS ns,
           CAST(length(replace(text,' ','')) AS DOUBLE) AS nc FROM documents)
         SELECT doc_id, score, score >= 0.5 AS keep FROM (
           SELECT doc_id, least(nw/100.0, 1.0)*0.4 + (ns/nw)*0.3 + least((nc/nw)/10.0, 1.0)*0.3 AS score
           FROM s) ORDER BY doc_id""",
    "text_coverage_curve" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
           FROM documents),
         f AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
           FROM w GROUP BY 1),
         r AS (SELECT w, freq, CAST(row_number() OVER (
             ORDER BY freq DESC, w) AS INT) AS rank,
             CAST(sum(freq) OVER (ORDER BY freq DESC, w
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_freq
           FROM f),
         t AS (SELECT CAST(sum(freq) AS BIGINT) AS total_freq FROM f)
         SELECT rank, cum_freq, total_freq,
           cum_freq * 1000000 // total_freq AS coverage_ppm
         FROM r, t WHERE rank IN (10, 50, 100, 500) ORDER BY rank""",
    // hourly counts, lead() triples, rank-by-comparison (ties to earlier
    // position), pattern = r0*100 + r1*10 + r2,
    "text_lang_profile" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(sum(n_chars) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT)
           AS chars_per_doc_milli
         FROM documents GROUP BY 1 ORDER BY lang""",
    // the quality_score formula, milli-quantized, exact Pearson moments,
    "text_collocations" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         bg AS (SELECT w[CAST(i AS INT)] AS w1, w[CAST(i AS INT)+1] AS w2
           FROM w, unnest(generate_series(1, len(w)-1)) AS g(i)),
         big AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2
           HAVING count(*) >= 5),
         uni AS (SELECT word, count(*) AS c
           FROM (SELECT unnest(w) AS word FROM w) GROUP BY 1),
         n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni)
         SELECT w1, w2, c_xy,
           (c_xy * n_total * 100000) // (cx.c * cy.c) AS lift_q
         FROM big JOIN uni cx ON big.w1 = cx.word
           JOIN uni cy ON big.w2 = cy.word, n
         ORDER BY lift_q DESC, w1, w2 LIMIT 30""",
    // same three congruential hashes as the engine's cmSketch; the sketch
    // rebuild, the exact top-20 selection (ties broken by user_id), and the
    // min-over-rows estimate are all replayed,
    "text_readability" ->
      """WITH d AS (SELECT doc_id, regexp_replace(text, ' table ', '. ', 'g') AS txt FROM documents),
         m AS (SELECT doc_id,
           CAST(length(regexp_replace(txt, '[.!?]+', '#', 'g'))
              - length(regexp_replace(txt, '[.!?]+', '', 'g')) AS BIGINT) AS n_sents,
           CAST(len(string_split(txt, ' ')) AS BIGINT) AS n_words,
           CAST(length(regexp_replace(lower(txt), '[aeiou]+', '#', 'g'))
              - length(regexp_replace(lower(txt), '[aeiou]+', '', 'g')) AS BIGINT) AS n_syll
           FROM d)
         SELECT doc_id, n_sents, n_words, n_syll,
           CAST((206835 * greatest(n_sents, 1) * greatest(n_words, 1)
               - 1015000 * greatest(n_words, 1) * greatest(n_words, 1)
               - 84600000 * n_syll * greatest(n_sents, 1))
             // (1000 * greatest(n_sents, 1) * greatest(n_words, 1)) AS BIGINT) AS flesch_milli
         FROM m ORDER BY doc_id""",
    // first significant digit of the exact cents column, 9-key census,
    // fixed-point Benford expectations (the nine ppm literals sum to 1e6)
    // exact selection quartiles per group, fences by cross-multiplication,
    "text_simpson" ->
      """WITH tk AS (SELECT doc_id, u.tok FROM documents,
           unnest(string_split(text, ' ')) AS u(tok)),
         c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
         d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(c*(c-1)) AS BIGINT) AS coll FROM c GROUP BY 1)
         SELECT doc_id, n_tokens, n_distinct, coll,
           CAST(CASE WHEN n_tokens > 1
                THEN coll * 1000000 // (n_tokens * (n_tokens - 1))
                ELSE 0 END AS BIGINT) AS simpson_ppm
         FROM d ORDER BY doc_id""",
    "text_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(list_filter(string_split(text, ' '), w -> w = 'the')) AS BIGINT) AS n_the,
           round(len(list_filter(string_split(text, ' '), w -> w = 'the')) / len(string_split(text, ' ')), 6) AS stop_ratio,
           round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 6) AS avg_wlen
         FROM documents ORDER BY doc_id""",
    // identical contract to curation_quota — the Aggregator must land on
    // the same rows, ranks and scores as the window formulations,
    "quality_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         w AS (SELECT doc_id, unnest(l) AS word FROM d),
         wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
         wa AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           count(*) AS n_distinct, max(c) AS max_word_c FROM wc GROUP BY 1),
         bg AS (SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(0, len(l) - 1)),
           i -> l[i] || chr(1) || l[i+1])) AS b FROM d),
         bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
         ba AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
           max(c) AS max_bigram_c FROM bc GROUP BY 1)
         SELECT doc_id, n_words, n_distinct, max_word_c, n_bigrams, max_bigram_c,
           ((n_words - n_distinct) * 1000000) // n_words AS dup_word_q,
           (max_bigram_c * 1000000) // n_bigrams AS top_bigram_q
         FROM wa JOIN ba USING (doc_id) ORDER BY doc_id""",
    "text_langid_confusion" ->
      s"""WITH $langIdCtes
         SELECT b.lang, p.predicted, count(*) AS n
         FROM pred p JOIN base b ON b.doc_id = p.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_langid" ->
      s"""WITH $langIdCtes
         SELECT p.doc_id, b.lang, p.predicted, p.dist
         FROM pred p JOIN base b ON b.doc_id = p.doc_id
         ORDER BY p.doc_id""",
    // same quantized-idf arithmetic: integer floor division on nonnegative
    // operands (`//` here, `div` in the engine), so score/rank are exact,
    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             (nd.n_docs * 1000) // dfq.df AS idf_q,
             tf.tf * ((nd.n_docs * 1000) // dfq.df) AS score
           FROM tf JOIN dfq USING (term), nd),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rk FROM sc)
         SELECT doc_id, term, tf, df, idf_q, score, rk
         FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",
    // quantized BM25: same integer-// pipeline with the doc-length ratio
    // pre-quantized to thousandths (k1=1.2, b=0.75 folded into constants),
    "text_bm25q" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         dlq AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         nd AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
             (SELECT CAST(sum(dl) AS BIGINT) FROM dlq) AS sum_len),
         sc AS (SELECT tf.doc_id, tf.term, tf.tf, dlq.dl,
             (dlq.dl * nd.n_docs * 1000) // nd.sum_len AS dlr_q,
             (((nd.n_docs * 1000) // dfq.df) * tf.tf * 44000) //
               (20000*tf.tf + 6000 + 18*((dlq.dl * nd.n_docs * 1000) // nd.sum_len)) AS score_q
           FROM tf JOIN dfq USING (term) JOIN dlq USING (doc_id), nd),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, term) AS INTEGER) AS rk FROM sc)
         SELECT doc_id, term, tf, dl, dlr_q, score_q, rk
         FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",
    // RAKE: stopword-free runs via a running stopword count (= phrase id),
    // word deg/freq over all phrase instances, quantized score, per-doc top-3,
    "text_rake" ->
      """WITH toks AS (SELECT doc_id, CAST(g AS INT) AS pos, w[CAST(g AS INT)] AS tok
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                unnest(range(1, len(w) + 1)) AS t(g)),
         tk AS (SELECT doc_id, pos, tok,
             CASE WHEN tok IN ('a','the','value','table') THEN 1 ELSE 0 END AS stop
           FROM toks WHERE tok <> ''),
         ph AS (SELECT doc_id, pos, tok, stop,
             sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
           FROM tk),
         pw AS (SELECT doc_id, pid, pos, tok FROM ph WHERE stop = 0),
         phr AS (SELECT doc_id, pid, string_agg(tok, ' ' ORDER BY pos) AS phrase,
             count(*) AS n_words FROM pw GROUP BY 1, 2),
         wstats AS (SELECT tok, (sum(n_words) * 1000) // count(*) AS wscore_q
           FROM pw JOIN phr USING (doc_id, pid) GROUP BY 1),
         psc AS (SELECT doc_id, pid, sum(wscore_q) AS score_q
           FROM pw JOIN wstats USING (tok) GROUP BY 1, 2),
         agg AS (SELECT doc_id, phrase, max(n_words) AS n_words,
             count(*) AS n_occur, max(score_q) AS score_q
           FROM phr JOIN psc USING (doc_id, pid) GROUP BY 1, 2),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score_q DESC, phrase) AS INTEGER) AS rk FROM agg)
         SELECT doc_id, phrase, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_occur AS BIGINT) AS n_occur,
           CAST(score_q AS BIGINT) AS score_q, rk
         FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",
    "token_count" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '), w -> (length(w) + 3) // 4)) AS BIGINT) AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",
    "text_vocab_growth" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         grams AS (SELECT doc_id,
             array_to_string(list_slice(w, CAST(g AS BIGINT), CAST(g AS BIGINT) + 2), ' ') AS tok
           FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS t(g)),
         fs AS (SELECT tok, min(doc_id) AS first_doc FROM grams GROUP BY 1),
         nt AS (SELECT (first_doc // 50) * 50 + 50 AS n_docs,
             count(*) AS new_types FROM fs GROUP BY 1)
         SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(new_types AS BIGINT) AS new_types,
           CAST(sum(new_types) OVER (ORDER BY n_docs
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
         FROM nt ORDER BY n_docs""",
    // per-doc distinct 3-grams vs the grams whose corpus-wide first doc is
    // this doc; ppm via one integer //,
    "text_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         grams AS (SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, CAST(g AS BIGINT), CAST(g AS BIGINT) + 2), ' ') AS tok
           FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS t(g)),
         fs AS (SELECT tok, min(doc_id) AS first_doc FROM grams GROUP BY 1),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
           FROM grams JOIN fs USING (tok) GROUP BY 1)
         SELECT doc_id, n_distinct, n_novel,
           (n_novel * 1000000) // n_distinct AS novelty_ppm
         FROM agg ORDER BY doc_id""",
    // VMR over exact per-doc count moments; df >= 5, top-20
    // previous-occurrence identity: token p is first-in-window(i) iff
    // prev(p) < i; per-token closed-form start-range overlap count,
    "text_burstiness" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS x FROM toks WHERE tok <> '' GROUP BY 1, 2),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         st AS (SELECT tok, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x*x) AS BIGINT) AS sxx
           FROM tf GROUP BY 1 HAVING count(*) >= 5),
         sc AS (SELECT tok, df, sx,
             ((nd.n_docs * sxx - sx * sx) * 1000000) // (nd.n_docs * sx) AS vmr_ppm
           FROM st, nd),
         r AS (SELECT *, CAST(row_number() OVER (ORDER BY vmr_ppm DESC, tok) AS INT) AS rk FROM sc)
         SELECT tok, df, sx, vmr_ppm, rk FROM r WHERE rk <= 20 ORDER BY rk""",
    "text_mattr" ->
      """WITH toks AS (SELECT doc_id, CAST(g AS BIGINT) - 1 AS p,
             list_extract(w, CAST(g AS BIGINT)) AS tok
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             unnest(range(1, len(w) + 1)) AS t(g)),
         pr AS (SELECT doc_id, p,
             coalesce(lag(p) OVER (PARTITION BY doc_id, tok ORDER BY p), -1) AS prev,
             count(*) OVER (PARTITION BY doc_id) AS L FROM toks),
         f AS (SELECT doc_id, L, least(p, L - 50) AS hi,
             greatest(p - 49, 0, prev + 1) AS lo
           FROM pr WHERE L >= 50)
         SELECT doc_id, CAST(max(L) AS BIGINT) AS n_tokens,
           CAST(sum(greatest(hi - lo + 1, 0)) AS BIGINT) AS distinct_sum,
           CAST(sum(greatest(hi - lo + 1, 0)) AS BIGINT) * 1000000
             // (50 * (CAST(max(L) AS BIGINT) - 49)) AS mattr_ppm
         FROM f GROUP BY doc_id ORDER BY doc_id""",
    "text_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         p AS (SELECT substr(w, CAST(g AS INT), 2) AS pair
           FROM w, unnest(range(1, len(w))) AS t(g) WHERE len(w) >= 2),
         c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1),
         r AS (SELECT pair, n,
             CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rk
           FROM c)
         SELECT pair, n, rk FROM r WHERE rk <= 20 ORDER BY rk""",
    // same cell walk, 15-day bins, zero-filled MK pairs + class rules,
    "text_textrank" -> {
      val rounds = (1 to 3).map { r =>
        s"""c$r AS (SELECT e.dst AS node, sum(rr.pr // o.outdeg) AS inflow
             FROM r${r - 1} rr JOIN outdeg o USING (node)
             JOIN e ON e.src = rr.node GROUP BY 1),
           r$r AS (SELECT n.node,
               150000 + (850000 * COALESCE(c.inflow, 0)) // 1000000 AS pr
             FROM nodes n LEFT JOIN c$r c USING (node))"""
      }.mkString(",\n         ")
      s"""WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         tp0 AS (SELECT doc_id, CAST(g AS BIGINT) - 1 AS pos,
             list_extract(w, CAST(g AS BIGINT)) AS tok
           FROM tw, unnest(range(1, len(w) + 1)) AS t(g)),
         ids AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS id
           FROM (SELECT DISTINCT tok FROM tp0) d),
         tp AS (SELECT doc_id, pos, id FROM tp0 JOIN ids USING (tok)),
         co AS (SELECT a.id AS u, b.id AS v FROM tp a JOIN tp b
           ON b.doc_id = a.doc_id
           AND (a.pos = b.pos + 1 OR a.pos = b.pos + 2)
           WHERE a.id <> b.id),
         e AS (SELECT u AS src, v AS dst FROM co
           UNION SELECT v, u FROM co),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         outdeg AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         $rounds
         SELECT tok, CAST(pr AS BIGINT) AS pr
         FROM r3 JOIN ids ON ids.id = r3.node
         ORDER BY pr DESC, tok LIMIT 10"""
    },
  )
}
