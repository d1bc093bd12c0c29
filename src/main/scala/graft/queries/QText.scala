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

/** Text-analysis gates: language id, quality, PII, TF-IDF,
  * tokenization, stats (11 entries),
  * each with its DuckDB oracle SQL.
  */
object QText {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PII scrub over text with deterministically injected e-mails (docs
    // with id%3!=0) and phone numbers (id%2=0) — variable per-row counts
    // so the gate actually exercises 0/1 match cases of both patterns.
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
    "text_collocations" -> ((s, dir) => {
      ops.Curation.collocations(t(s, dir, "documents"), col("text"), 5L, 30)
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
    // Gopher-style repetition quality signals
    // (ops.Curation.repetitionStats): duplicate-word and top-bigram
    // concentration as exact integers + floor-quantized millionth ratios.
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
    // DOMINANCE — no majority-class collapse.
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
    // held-out slice (same trained profiles).
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
    // join; idf quantized to integers so ranking is engine-exact (no ln).
    "text_tfidf" -> ((s, dir) => {
      ops.Curation.tfidfTopTerms(t(s, dir, "documents"), 3)
        .orderBy("doc_id", "rk")
    }),
    "token_count" -> ((s, dir) => {
      t(s, dir, "documents").selectExpr(
        "doc_id",
        "cast(size(split(text, ' ')) as bigint) AS n_ws_tokens",
        "cast(aggregate(split(text, ' '), 0, (acc, w) -> acc + cast((length(w) + 3) / 4 as int)) as bigint) AS n_bpe_tokens")
        .orderBy("doc_id")
    }),
  )

  val sql: Map[String, String] = Map(
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
    "text_lang_profile" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(sum(n_chars) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT)
           AS chars_per_doc_milli
         FROM documents GROUP BY 1 ORDER BY lang""",
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
    "text_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(list_filter(string_split(text, ' '), w -> w = 'the')) AS BIGINT) AS n_the,
           round(len(list_filter(string_split(text, ' '), w -> w = 'the')) / len(string_split(text, ' ')), 6) AS stop_ratio,
           round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 6) AS avg_wlen
         FROM documents ORDER BY doc_id""",
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
    // operands (`//` here, `div` in the engine), so score/rank are exact
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
    "token_count" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '), w -> (length(w) + 3) // 4)) AS BIGINT) AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",
  )
}
