package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Training-data deduplication / similarity operators over a `documents`
  * table (doc_id, text). Everything is built from org.apache.spark.sql
  * built-in functions (no UDFs) so the whole pipeline stays inside
  * whole-stage codegen and scales by partitioning alone; the only shuffles
  * are the band-bucket self-join (LSH) and final aggregations.
  *
  * The shared scalar hash is `md5`-based so an independent engine (the
  * DuckDB oracle) reproduces every value bit-for-bit:
  * `h(s) = conv(substring(md5(s), 1, 15), 16, 10)` — a 60-bit integer.
  */
object TextDedup {

  /** Modulus for minhash permutations (prime < 2^20 keeps a*h well under
    * Long overflow in ANSI mode: a < 2^8, h' < 2^20 ⇒ a*h'+b < 2^28).
    */
  val P = 1048573L

  /** 60-bit md5-derived hash of a string column (oracle-replicable). */
  def h60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Word array (whitespace tokenization — matches the reference corpus's
    * space-separated synthetic text).
    */
  def words(text: Column): Column = split(text, " ")

  /** Word n-gram shingles. Documents shorter than n words get the whole
    * text as their single shingle (guards Spark's descending `sequence`).
    *
    * The words array is LET-BOUND via a single-element `transform` before
    * the per-shingle lambda: a lambda variable is evaluated once per row,
    * whereas referencing the `split` expression directly re-executes it at
    * every `element_at` (n per shingle + 2 — O(m²·n) splits per document;
    * measured 21 s → 1.3 s for the posting build at sf0.1).
    */
  def shingles(text: Column, n: Int): Column =
    element_at(transform(array(words(text)), w =>
      when(size(w) >= n,
        transform(sequence(lit(1), size(w) - lit(n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(w, i + lit(o))): _*)))
        .otherwise(array(text))), 1)

  /** Reduced shingle hashes: `h60(shingle) mod P` per shingle. Materialize
    * this ONCE per document before fanning out to the minhash lanes —
    * Catalyst does not CSE the shingle+md5 subtree across array elements, so
    * deriving each lane from `text` directly costs nHashes× the hashing.
    */
  def shingleHashes(text: Column, shingleN: Int): Column =
    transform(shingles(text, shingleN), x => h60(x) % lit(P))

  /** MinHash signature over pre-hashed shingles: element j =
    * `min over h of ((2j+3)·h + (5j+7)) mod P`.
    */
  def minhashSigFromHashes(hv: Column, nHashes: Int): Column =
    array((0 until nHashes).map { j =>
      val a = 2L * j + 3L
      val b = 5L * j + 7L
      array_min(transform(hv, h => (lit(a) * h + lit(b)) % lit(P)))
    }: _*)

  /** LSH candidate pairs: docs sharing at least one band of `rowsPerBand`
    * consecutive signature values. Returns distinct (doc_a < doc_b).
    * The band self-join is the scale path: each doc emits `bands` rows,
    * buckets shuffle-join on (band_id, band_key) — never a cross join.
    */
  def minhashPairs(docs: DataFrame, shingleN: Int = 3, nHashes: Int = 8,
                   bands: Int = 4): DataFrame = {
    require(nHashes % bands == 0, "nHashes must be divisible by bands")
    val r = nHashes / bands
    // two projections so the hashed-shingle array is computed once per doc,
    // then the 8 lanes derive from the materialized column
    val sig = docs
      .select(col("doc_id"), shingleHashes(col("text"), shingleN).as("hv"))
      .select(col("doc_id"), minhashSigFromHashes(col("hv"), nHashes).as("sig"))
    // band key packs the band's rows into one long (values < P < 2^20)
    // lazy localCheckpoint: the banded signatures materialize once and both
    // sides of the self-join read the materialized partitions — without it
    // the doc_a/doc_b renames defeat exchange reuse and the whole
    // shingle+md5 pipeline executes twice
    val banded = sig.select(col("doc_id"),
      posexplode(array((0 until bands).map { bnd =>
        (0 until r).map(i => element_at(col("sig"), bnd * r + i + 1))
          .reduceLeft((acc, v) => acc * lit(P) + v)
      }: _*)).as(Seq("band_id", "band_key")))
      .localCheckpoint(false)
    val a = banded.select(col("band_id"), col("band_key"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_id"), col("band_key"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band_id", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Signature-agreement Jaccard ESTIMATE for the band-join candidates:
    * `est_ppm = n_agree · 10⁶ div nHashes` where n_agree counts lanes with
    * equal minhash values — the standard MinHash estimator (E[n_agree/n] =
    * Jaccard), integer-exact in both engines. The signature subtree is
    * computed once (lazy localCheckpoint) and feeds the band join AND both
    * sides of the estimate join, so the corpus shingles exactly once; the
    * candidate set is the same bucketed band join as [[minhashPairs]] —
    * never all-pairs. At 100 TB this is the cheap pre-filter that ranks
    * candidate pairs before any exact intersection is computed.
    *
    * @return (doc_a, doc_b, n_agree, est_ppm), doc_a < doc_b, one row per
    *         candidate pair
    */
  def minhashEstimatePairs(docs: DataFrame, shingleN: Int = 3,
                           nHashes: Int = 8, bands: Int = 4): DataFrame = {
    require(nHashes % bands == 0, "nHashes must be divisible by bands")
    val r = nHashes / bands
    val sig = docs
      .select(col("doc_id"), shingleHashes(col("text"), shingleN).as("hv"))
      .select(col("doc_id"), minhashSigFromHashes(col("hv"), nHashes).as("sig"))
      .localCheckpoint(false)
    val banded = sig.select(col("doc_id"),
      posexplode(array((0 until bands).map { bnd =>
        (0 until r).map(i => element_at(col("sig"), bnd * r + i + 1))
          .reduceLeft((acc, v) => acc * lit(P) + v)
      }: _*)).as(Seq("band_id", "band_key")))
    val a = banded.select(col("band_id"), col("band_key"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_id"), col("band_key"), col("doc_id").as("doc_b"))
    val pairs = a.join(b, Seq("band_id", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("n_agree",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
          lit(0), (s, v) => s + v).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        expr(s"n_agree * 1000000L div $nHashes").as("est_ppm"))
  }

  /** Connected components over an undirected near-dup pair graph by
    * iterative min-label propagation: every node starts as its own
    * component; each round every node takes the min label among itself and
    * its direct neighbors; fixpoint when no label shrinks. Rounds =
    * component diameter, which for near-duplicate graphs is small by
    * construction (exact copies form cliques via identical signatures;
    * near-copy chains are short) — at 10^9 nodes each round is one shuffle
    * join + one aggregation, both on the node id, so AQE reuses the
    * partitioning. `maxRounds` bounds the driver loop against adversarially
    * long chains (a path graph needs diameter rounds): past it the
    * computation aborts with a pointer to [[connectedComponentsStar]], the
    * O(log n)-round alternating star contraction, instead of silently
    * looping for hours.
    *
    * @param edges (doc_a, doc_b) undirected pairs, e.g. [[minhashPairs]]
    * @param nodes (doc_id) — every doc, including singletons
    * @param maxRounds abort threshold on propagation rounds (= the largest
    *                  component diameter this call is willing to chase)
    * @return (doc_id, comp) where comp = min doc_id of the component
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          maxRounds: Int = 50): DataFrame = {
    // symmetric edge list, materialized once: the upstream pair derivation
    // (minhash) is expensive and both directions read it
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(false)
    // propagate only over nodes that appear in an edge: an isolated node is
    // trivially its own component, and at 10^9 docs with a few percent
    // duplicates this keeps every round's joins proportional to the EDGE
    // set, not the corpus. left_semi against `nodes`: an edge endpoint
    // absent from `nodes` must neither appear in the output nor donate its
    // id as a component label (the output contract is rows for `nodes`)
    val active = sym.select(col("src").as("doc_id")).distinct()
      .join(nodes.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    var labels = active.select(col("doc_id"), col("doc_id").as("comp"))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponents: no fixpoint after $maxRounds rounds — a " +
            "component's diameter exceeds the guard (adversarial chain?); " +
            "use connectedComponentsStar (O(log n) rounds) or raise maxRounds")
      val viaNbr = sym
        .join(labels.select(col("doc_id").as("dst"), col("comp")), Seq("dst"))
        .select(col("src").as("doc_id"), col("comp"))
      val upd = labels.unionAll(viaNbr)
        .groupBy("doc_id").agg(min("comp").as("newcomp"))
      // LAZY checkpoint + count as the materializing action: one job per
      // round (the fixpoint probe and the checkpoint write share the pass)
      // instead of an eager-materialize job followed by a count job
      val merged = labels.join(upd, Seq("doc_id")).localCheckpoint(false)
      changed = merged.filter(col("newcomp") < col("comp")).count()
      labels = merged.select(col("doc_id"), col("newcomp").as("comp"))
      rounds += 1
    }
    labels.unionAll(
      nodes.join(active, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("comp")))
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the adversarial-input path: round count is O(log n) in the
    * component size regardless of diameter, where [[connectedComponents]]'s
    * label propagation needs diameter rounds (a 10^6-node path graph: ~20
    * star rounds vs 10^6 propagation rounds). Per round: two
    * group-by-node aggregations + two joins, all keyed on node id, plus an
    * exact set-difference fixpoint probe. Same output contract as
    * [[connectedComponents]]; edges incident to ids absent from `nodes` are
    * dropped (an absent endpoint neither appears in the output nor donates
    * its id — also the label-prop behavior, where an unlabeled endpoint
    * cannot relay).
    *
    * @return (doc_id, comp) where comp = min doc_id of the component
    */
  def connectedComponentsStar(edges: DataFrame, nodes: DataFrame,
                              maxRounds: Int = 64): DataFrame = {
    val nodeIds = nodes.select(col("doc_id")).localCheckpoint(false)
    // canonical (hi, lo) pairs, both endpoints known to `nodes`
    var e = edges
      .join(nodeIds.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(nodeIds.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(false)
    var rounds = 0
    var eCount = e.count()
    var done = eCount == 0L
    while (!done) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponentsStar: no fixpoint after $maxRounds rounds " +
            "(O(log n) expected — raise maxRounds only for astronomically " +
            "large components)")
      // large-star: every node u links its LARGER neighbors to
      // m(u) = min(u, neighbors(u)) — long chains fold toward small ids
      // without ever attaching a smaller node upward
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // small-star: every larger endpoint u links its (all-smaller)
      // neighborhood AND itself to the neighborhood min — stars flatten
      val smins = ls.groupBy("hi").agg(min(col("lo")).as("m"))
      val ss = ls.join(smins, Seq("hi"))
        .select(col("lo").as("a"), col("m"))
        .unionAll(smins.select(col("hi").as("a"), col("m")))
      val next = ss
        .select(greatest(col("a"), col("m")).as("hi"), least(col("a"), col("m")).as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
        .localCheckpoint(false)
      // exact fixpoint: both sides are DISTINCT sets, so |next| == |e| plus
      // next \ e == ∅ implies set equality — one count + one anti-join
      // probe instead of the two exceptAll scans it replaces
      val nextCount = next.count()
      done = nextCount == eCount &&
        next.join(e, Seq("hi", "lo"), "left_anti").isEmpty
      e = next
      eCount = nextCount
      rounds += 1
    }
    // fixpoint edges form stars: (member, component-min) once per non-root
    val comp = e.select(col("hi").as("doc_id"), col("lo").as("comp"))
    nodeIds
      .join(comp, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
  }

  /** Word-hash array for simhash — materialize once (see shingleHashes). */
  def wordHashes(text: Column): Column = transform(words(text), w => h60(w))

  /** SimHash over pre-hashed words: bit b set iff the sum over words of
    * ±1 (sign of bit b) is >= 0. `bits` <= 60 (h60 carries 60 hash bits).
    */
  def simhashFromHashes(hw: Column, bits: Int): Column =
    (0 until bits).map { b =>
      val vote = aggregate(hw, lit(0L),
        (acc, x) => acc + when(shiftright(x, b) % 2 === 1, 1L).otherwise(-1L))
      when(vote >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduceLeft(_ + _)

  /** Rolling (polynomial) document fingerprint:
    * fold over words of `acc*31 + (h60(w) mod P) mod (2^31-1)`.
    */
  def fingerprint(text: Column): Column =
    aggregate(words(text), lit(0L),
      (acc, w) => (acc * 31L + h60(w) % lit(P)) % lit(2147483647L))

  /** Composite quality score in [0,1]: length saturation (0.4), stopword
    * ratio (0.3), word-length saturation (0.3). Pure rational arithmetic —
    * no transcendental functions and deliberately NO rounding: the raw
    * double is oracle-identical, while round(x, 6) is not (Spark rounds the
    * exact binary expansion via BigDecimal HALF_UP, DuckDB half-away —
    * they disagree on ~1 in 5k values; caught at sf0.1).
    */
  def qualityScore(text: Column): Column =
    // let-bound words array (one split per row; see [[shingles]])
    element_at(transform(array(words(text)), w => {
      val nWords = size(w).cast("double")
      val stopRatio = size(filter(w, x => x === "the" || x === "a" || x === "of" ||
        x === "and" || x === "to")).cast("double") / nWords
      val avgWlen = length(regexp_replace(text, " ", "")).cast("double") / nWords
      least(nWords / lit(100.0), lit(1.0)) * 0.4 +
        stopRatio * 0.3 +
        least(avgWlen / lit(10.0), lit(1.0)) * 0.3
    }), 1)

  /** Containment near-dup detection — the asymmetric companion to Jaccard:
    * `|A∩B| / min(|A|,|B|)` over word-shingle sets is ≈1 when one document
    * CONTAINS the other (quote inclusion, boilerplate wrapping, truncated
    * re-crawls), cases a symmetric Jaccard threshold misses because the
    * union is dominated by the longer side.
    *
    * Candidate generation is an inverted-index self-join on the shingle,
    * bounded by a document-frequency cap: shingles appearing in more than
    * `maxDf` documents are dropped BEFORE the pair join (the standard
    * posting-list cut — a boilerplate shingle shared by 10⁶ documents
    * would otherwise emit 10¹² pairs). The intersection this computes is
    * therefore over shingles with 2 ≤ df ≤ maxDf — exact for genuinely
    * contained pairs (whose shared shingles are rare by construction once
    * boilerplate is capped) and a documented lower bound otherwise. Per
    * shingle the join emits ≤ maxDf² pairs, so the whole plan is
    * key-bounded: two shuffles on the shingle, one on the pair.
    *
    * Determinism: containment is quantized to ppm by integer division
    * (`inter·10⁶ div min(na,nb)`) — no float ratios in the output.
    *
    * @param shingleWords words per shingle
    * @param maxDf        posting-list cut: max documents per shingle
    * @param minPpm       emit pairs with containment_ppm ≥ this
    * @return (id_a, id_b, na, nb, inter, containment_ppm), id_a < id_b
    */
  def containmentPairs(docs: DataFrame, shingleWords: Int, maxDf: Int,
                       minPpm: Long): DataFrame = {
    require(shingleWords > 0 && maxDf >= 2, s"bad params: $shingleWords, $maxDf")
    val sh = docs.select(col("doc_id").cast("long"),
      array_distinct(shingles(col("text"), shingleWords)).as("shs"))
    val sizes = sh.select(col("doc_id"), size(col("shs")).cast("long").as("n"))
    // postings carry a 60-bit md5 key, not the shingle text: the two
    // posting shuffles and the pair join move 8-byte longs instead of
    // ~40-byte strings (measured 30.6 s → ~6 s at sf0.1). md5 is the
    // oracle-replicable hash; 60 bits over ~10⁷ distinct shingles keeps
    // the collision expectation ≪ 1 (and a collision only inflates one
    // pair's intersection by 1).
    // lazy localCheckpoint: the shingle+md5 subtree feeds the df count AND
    // both sides of the self-join — without the cut it re-tokenizes the
    // corpus once per consumer (~4×; the dominant cost at sf0.1)
    val posting = sh.select(col("doc_id"), explode(col("shs")).as("sht"))
      .select(col("doc_id"), h60(col("sht")).as("sh"))
      .localCheckpoint(false)
    val kept = posting.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("sh")
    val p = posting.join(kept, "sh")
    val pairs = p.as("a").join(p.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).cast("long").as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("containment_ppm",
        expr("inter * 1000000L div least(na, nb)"))
      .filter(col("containment_ppm") >= minPpm)
      .select("id_a", "id_b", "na", "nb", "inter", "containment_ppm")
  }

  /** Edit-distance verification layer over a candidate pair table — the
    * character-exact final arbiter of a dedup cascade: candidates come
    * from a BANDED generator ([[minhashPairs]], prefix-token or simhash
    * bands), this op re-reads the two texts and keeps pairs whose
    * Levenshtein distance is ≤ `maxDist`, emitting the exact distance.
    * Token-set measures (Jaccard) are blind to word-internal edits and
    * ordering; edit distance is the boilerplate-suffix / typo-variant
    * ruler, but is O(len²) per pair — which is why it NEVER runs all-pairs
    * and only verifies the banded candidates.
    *
    * Plan shape: two hash equi-joins key the (small) candidate table to
    * the docs table by id — texts travel only for candidate rows, the
    * corpus never self-joins. The distance itself is Spark's codegen'd
    * `levenshtein(l, r, threshold)` — the threshold variant runs the
    * BANDED O(maxDist·len) DP and returns −1 past the bound, so a far
    * pair costs O(maxDist·len), not O(len²); the oracle's full DP agrees
    * exactly on every kept row (the banded algorithm is exact within the
    * bound).
    *
    * @param cands   (doc_a, doc_b) candidate pairs from a banded generator
    * @param docs    (doc_id, text) corpus
    * @param maxDist inclusive edit-distance acceptance bound
    * @return (doc_a, doc_b, edit_dist) for pairs with distance ≤ maxDist
    */
  def editVerify(cands: DataFrame, docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val d = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
    cands
      .select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b"))
      .join(d.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .withColumn("edit_dist",
        levenshtein(col("ta"), col("tb"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0L)
      .select("doc_a", "doc_b", "edit_dist")
  }

  /** LINE-LEVEL boilerplate removal (CCNet-style): chunk each document
    * into consecutive `lineWords`-word lines (ragged tail = last line),
    * count each line's DOCUMENT frequency corpus-wide, and drop lines
    * appearing in more than `maxDf` documents — the navigation / footer /
    * legal-notice stripper that runs BEFORE document-level dedup in a web
    * curation pipeline (a boilerplate line inflates document similarity
    * and survives document-level dedup because its carriers differ
    * elsewhere). Emits per-document accounting rather than re-assembled
    * text so the gate pins every count; the text-rebuilding variant is the
    * same plan with a `sort_array(collect_list((li, line)))` reassembly.
    *
    * Scale shape: one explode (doc → lines), one line-keyed distinct-doc
    * count (map-side partial), one line-keyed join back, one doc-keyed
    * aggregation — all key-bounded; the df table is the only global state
    * and it is |distinct lines|, the thing boilerplate makes SMALL.
    *
    * @return (doc_id, n_lines, n_kept_lines, n_kept_words)
    */
  def lineDedup(docs: DataFrame, lineWords: Int, maxDf: Long): DataFrame = {
    require(lineWords > 0, s"lineWords must be > 0: $lineWords")
    require(maxDf > 0, s"maxDf must be > 0: $maxDf")
    val lines = docs
      .select(col("doc_id").cast("long").as("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, (size(w) + ${lineWords - 1}) div $lineWords - 1),
            i -> array_join(slice(w, i * $lineWords + 1, $lineWords), ' '))"""))
        .as("line"))
    val dfreq = lines.groupBy("line")
      .agg(count_distinct(col("doc_id")).as("df"))
    lines.join(dfreq, "line")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("df") <= maxDf, 1L).otherwise(0L)).as("n_kept_lines"),
        sum(when(col("df") <= maxDf, size(split(col("line"), " ")).cast("long"))
          .otherwise(0L)).as("n_kept_words"))
  }
}
