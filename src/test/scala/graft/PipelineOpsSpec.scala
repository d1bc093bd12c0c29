package graft

import graft.ops.{Embeddings, TextDedup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Brute-force equality specs for the training-data pipeline operators added
  * beyond the oracle gates: connected-components clustering and IVF top-k
  * search.
  */
class PipelineOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("asofJoin matches per-row brute force; tolerance nulls stale matches") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // colliding timestamps on purpose: ts drawn from a SMALL range so equal
    // left/right and right/right timestamps occur and exercise tie order
    val left = (0 until 300).map(i =>
      (i.toLong, (i % 7).toLong, rnd.nextInt(40).toLong))
    val right = (1000 until 1200).map(i =>
      (i.toLong, (i % 7).toLong, rnd.nextInt(40).toLong, i * 10))
    val leftDf = left.toDF("id", "k", "ts")
    val rightDf = right.toDF("id", "k", "ts", "v")
    def brute(tol: Option[Long]): Map[Long, Option[(Long, Long, Int)]] =
      left.map { case (lid, lk, lts) =>
        val m = right.filter(r => r._2 == lk && r._3 <= lts &&
            tol.forall(t => lts - r._3 <= t))
          .sortBy(r => (r._3, r._1)).lastOption
        lid -> m.map(r => (r._1, r._3, r._4))
      }.toMap
    for (tol <- Seq(None, Some(5L))) {
      val got = graft.ops.AsofJoin.asofJoin(leftDf, rightDf, Seq("k"),
          tsCol = "ts", seqCol = "id", payload = Seq("id", "v"),
          tolerance = tol)
        .select("id", "asof_id", "asof_ts", "asof_v")
        .as[(Long, Option[Long], Option[Long], Option[Int])].collect()
      assert(got.length == left.length, "exactly one output row per left row")
      got.foreach { case (lid, mid, mts, mv) =>
        val exp = brute(tol)(lid)
        assert(mid == exp.map(_._1) && mts == exp.map(_._2) &&
          mv == exp.map(_._3), s"left $lid (tol=$tol)")
      }
    }
  }

  test("asofJoin plan is join-free: one key exchange + window, no join node") {
    import spark.implicits._
    // AQE wraps exchanges into query stages invisible to plan.collect —
    // turn it off so the static plan shows the raw Exchange nodes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val leftDf = (0L until 100L).map(i => (i, i % 5, i * 3)).toDF("id", "k", "ts")
      val rightDf = (0L until 100L).map(i => (i, i % 5, i * 2, i)).toDF("id", "k", "ts", "v")
      val out = graft.ops.AsofJoin.asofJoin(leftDf, rightDf, Seq("k"),
        "ts", "id", Seq("v"))
      val plan = out.queryExecution.executedPlan
      val s = plan.toString
      assert(!s.contains("Join"), s"as-of must not plan a join:\n$s")
      assert(s.contains("Window"), s"expected the ordered fill window:\n$s")
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1,
        s"expected exactly one key shuffle, got ${exchanges.length}:\n$s")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("tfidfTopTerms matches brute force on a known corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana banana date"),
      (3L, "apple date date date"),
      (4L, "elderberry")).toDF("doc_id", "text")
    val got = graft.ops.Curation.tfidfTopTerms(docs, 2)
      .select("doc_id", "term", "tf", "df", "idf_q", "score", "rk")
      .as[(Long, String, Long, Long, Long, Long, Int)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._7).toList }
    // brute force: tf per doc, df over docs, idf_q = 4000/df, top-2
    val corpus = Map(1L -> "apple banana apple cherry",
      2L -> "banana banana date", 3L -> "apple date date date",
      4L -> "elderberry")
    val dfm = corpus.values.flatMap(_.split(" ").distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    corpus.foreach { case (id, text) =>
      val tf = text.split(" ").groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
      val exp = tf.map { case (t, f) =>
        val idf = 4000L / dfm(t); (t, f, dfm(t), idf, f * idf)
      }.toList.sortBy { case (t, _, _, _, sc) => (-sc, t) }.take(2)
      val g = got(id)
      assert(g.length == exp.length, s"doc $id")
      g.zip(exp).zipWithIndex.foreach { case ((a, e), i) =>
        assert(a._2 == e._1 && a._3 == e._2 && a._4 == e._3 &&
          a._5 == e._4 && a._6 == e._5 && a._7 == i + 1, s"doc $id rank ${i + 1}")
      }
    }
  }

  test("histogramQuantiles: width-1 degenerates to exact selection; bins match brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2000).map(i => (s"g${i % 3}", rnd.nextInt(10000).toLong))
    val df = rows.toDF("grp", "cents")
    def brute(width: Long): Map[String, (Long, Seq[Long])] =
      rows.groupBy(_._1).map { case (g, xs) =>
        val bins = xs.map(x => math.floorDiv(x._2, width) * width).sorted
        val n = bins.length
        g -> (n.toLong, Seq(0.5, 0.9, 0.99).map { p =>
          bins((math.floor((n - 1) * p).toLong + 1 - 1).toInt)
        })
      }
    for (width <- Seq(1L, 500L)) {
      val got = graft.ops.Quantiles.histogramQuantiles(
          df, "grp", col("cents"), width, Seq(0.5, 0.9, 0.99))
        .select("grp", "n", "p50_lo", "p90_lo", "p99_lo")
        .as[(String, Long, Long, Long, Long)].collect()
      got.foreach { case (g, n, p50, p90, p99) =>
        val (en, eq) = brute(width)(g)
        assert(n == en && p50 == eq(0) && p90 == eq(1) && p99 == eq(2),
          s"group $g width $width")
      }
    }
  }

  test("pqCode matches brute-force per-subspace argmin; codes compress 8:1") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextInt(2000) - 1000) / 97.0f)))
    val got = graft.ops.Embeddings.pqCode(vecs.toDF("vec_id", "embedding"), 8, 8)
      .select("vec_id", "sub", "code", "d2_r")
      .as[(Long, Int, Int, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got.size == 60 * 8)
    def cb(s: Int, k: Int, d: Int): Double = ((s * 29 + k * 53 + d * 17) % 13) - 6
    vecs.foreach { case (id, v) =>
      for (s <- 0 until 8) {
        val (bd2, bk) = (0 until 8).map { k =>
          val d2 = (0 until 8).foldLeft(0.0) { (acc, d) =>
            val diff = v(s * 8 + d).toDouble - cb(s, k, d); acc + diff * diff
          }
          (d2, k)
        }.min
        val (code, d2r) = got((id, s))
        assert(code == bk, s"vec $id sub $s")
        assert(d2r == BigDecimal(bd2).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          s"vec $id sub $s d2")
      }
    }
  }

  test("TopKAgg equals brute-force top-k across partition merges") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // duplicate scores on purpose: the doc_id tie-break must decide
    val rows = (0 until 5000).map(i =>
      graft.ops.Curation.ScoredDoc(i.toLong, s"s${i % 3}", rnd.nextInt(50) / 7.0))
    val ds = spark.createDataset(rows).repartition(7) // force real merges
    val got = ds.groupByKey(_.source)
      .agg(new graft.ops.Curation.TopKAgg(25).toColumn.name("topk"))
      .collect().map { case (src, buf) => src -> buf.items }.toMap
    rows.groupBy(_.source).foreach { case (src, xs) =>
      val exp = xs.sortBy(s => (-s.score, s.doc_id)).take(25)
      assert(got(src) == exp, s"group $src")
    }
  }

  test("kmeansStep matches brute-force Lloyd step with quantized sums") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 80).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextInt(2000) - 1000) / 97.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    def cent(c: Int, d: Int): Double = ((c * 53 + d * 17) % 13) - 6
    val assign = vecs.map { case (id, v) =>
      val best = (0 until 4).minBy { c =>
        val d2 = (0 until 64).foldLeft(0.0) { (acc, d) =>
          val diff = v(d).toDouble - cent(c, d); acc + diff * diff
        }
        (d2, c) // exact tuple order mirrors least(struct(d2, c))
      }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      id -> best
    }.toMap
    val exp = vecs.groupBy { case (id, _) => assign(id) }.flatMap { case (c, xs) =>
      (0 until 64).map { d =>
        val qs = xs.map(x => math.floor(x._2(d).toDouble * 1000000.0).toLong)
        (c, d) -> (qs.size.toLong, qs.sum)
      }
    }
    val got = graft.ops.Embeddings.kmeansStep(df, 4)
      .select("centroid", "dim", "n", "sum_q", "mean")
      .as[(Int, Int, Long, Long, Double)].collect()
    assert(got.length == exp.size)
    got.foreach { case (c, d, n, sq, mean) =>
      val (en, esq) = exp((c, d))
      assert(n == en && sq == esq, s"centroid $c dim $d")
      assert(mean == esq / (en * 1000000.0), s"mean $c $d")
    }
  }

  test("connectedComponents: chains, cliques, singletons, star") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20} (singleton),
    // {30,31,32,33} (star centered at 33 — max id center exercises label flow
    // against the edge direction)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (33L, 30L), (33L, 31L), (33L, 32L))
      .toDF("doc_a", "doc_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 30L, 31L, 32L, 33L)
      .toDF("doc_id")
    val got = TextDedup.connectedComponents(edges, nodes)
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L)
    assert(got == want)
  }

  test("minhash LSH pair join is a bucketed equi-join, never a cartesian") {
    import spark.implicits._
    val corpus = (0 until 300).map(i =>
      (i.toLong, s"w${i % 40} x${i % 7} y${i % 13} z${i % 5} common words tail ${i % 3}"))
      .toDF("doc_id", "text")
    val pairs = ops.TextDedup.minhashPairs(corpus)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"LSH candidate generation must stay an equi-join on (band_id, band_key):\n$plan")
    assert(plan.contains("band_key"), s"band key missing from join plan:\n$plan")
  }

  /** Union-find oracle with min-id roots. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("connectedComponents equals union-find on random graphs (3 seeds)") {
    import spark.implicits._
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      val edges = (0 until 90).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val nodes = (0L until n.toLong).toDF("doc_id")
      val got = ops.TextDedup.connectedComponents(
        edges.toDF("doc_a", "doc_b"), nodes)
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(n, edges), s"seed $seed")
    }
  }

  test("connectedComponents maxRounds guard fires on an adversarial chain") {
    import spark.implicits._
    // a 30-node path graph needs ~29 propagation rounds; the guard at 5
    // must abort instead of silently looping, and must name the escape hatch
    val edges = (0L until 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val nodes = (0L until 30L).toDF("doc_id")
    val ex = intercept[IllegalStateException] {
      TextDedup.connectedComponents(edges, nodes, maxRounds = 5).collect()
    }
    assert(ex.getMessage.contains("connectedComponentsStar"))
  }

  test("connectedComponentsStar equals union-find (chain, random, contract)") {
    import spark.implicits._
    // the adversarial chain the label-prop guard rejects: star contraction
    // folds it in O(log n) rounds well inside its default guard
    val chainEdges = (0L until 29L).map(i => (i, i + 1))
    val chainGot = TextDedup.connectedComponentsStar(
      chainEdges.toDF("doc_a", "doc_b"), (0L until 30L).toDF("doc_id"))
      .as[(Long, Long)].collect().toMap
    assert(chainGot == (0L until 30L).map(_ -> 0L).toMap)
    // random graphs vs union-find, same seeds as the label-prop test
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      val edges = (0 until 90).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = TextDedup.connectedComponentsStar(
        edges.toDF("doc_a", "doc_b"), (0L until n.toLong).toDF("doc_id"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(n, edges), s"seed $seed")
    }
    // node contract: an edge endpoint absent from `nodes` neither appears
    // in the output nor donates its id (same as the label-prop semantics)
    val got = TextDedup.connectedComponentsStar(
      Seq((0L, 99L), (99L, 5L), (5L, 7L)).toDF("doc_a", "doc_b"),
      Seq(0L, 5L, 7L, 8L).toDF("doc_id"))
      .as[(Long, Long)].collect().toMap
    // 99 is absent: 0—99 and 99—5 are dropped, 5—7 survives
    assert(got == Map(0L -> 0L, 5L -> 5L, 7L -> 5L, 8L -> 8L))
  }

  test("ivfSearch plan: centroid-list join, no cartesian") {
    import spark.implicits._
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 13 + d * 3) % 11) - 5).toFloat)
    val vecs = (0 until 400).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val out = ops.Embeddings.ivfSearch(vecs, vecs.filter($"vec_id" < 2),
      kCentroids = 8, nProbe = 2, topK = 3)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"IVF candidate generation must be an equi-join on centroid:\n$plan")
  }

  test("ivfSearch size gate: shuffle join engages past the byte budget") {
    import spark.implicits._
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 13 + d * 3) % 11) - 5).toFloat)
    val vecs = (0 until 400).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 2)
    // disable Catalyst's own stats-based broadcasting so the plans show
    // exactly what the GATE decided: under budget → forced broadcast hint
    // (survives threshold -1); over budget → no hint → shuffle join on
    // centroid (what a query-heavy workload must get)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bc = ops.Embeddings.ivfSearch(vecs, queries, 8, 2, 3)
      val sh = ops.Embeddings.ivfSearch(vecs, queries, 8, 2, 3,
        broadcastMaxBytes = 0L)
      val shRows = sh.collect()
      val bcRows = bc.collect()
      val shPlan = sh.queryExecution.executedPlan.toString
      val bcPlan = bc.queryExecution.executedPlan.toString
      assert(bcPlan.contains("BroadcastHashJoin"),
        s"under-budget path must broadcast the probe side:\n$bcPlan")
      assert(!shPlan.contains("BroadcastHashJoin"),
        s"query-heavy path must shuffle-join on centroid, not broadcast:\n$shPlan")
      assert(!shPlan.contains("Cartesian") && !shPlan.contains("BroadcastNestedLoop"))
      // both paths are the same operator: identical results
      assert(shRows.map(_.toSeq).toSet == bcRows.map(_.toSeq).toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ivfRecall: probing every list gives recall 1.0; fields are exact") {
    import spark.implicits._
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 17) - 8).toFloat)
    val vecs = (0 until 200).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 4)
    // nProbe = kCentroids ⇒ the IVF candidate set is the whole corpus ⇒
    // the search IS the exact baseline ⇒ recall exactly 1.0 per query
    val full = ops.Embeddings.ivfRecall(vecs, queries, kCentroids = 8,
      nProbe = 8, topK = 5).as[(Long, Long, Double)].collect()
    assert(full.length == 4 && full.forall { case (_, h, r) => h == 5L && r == 1.0 })
    // restricted probing can only lose neighbors: 0 <= recall <= 1 per query
    val part = ops.Embeddings.ivfRecall(vecs, queries, kCentroids = 8,
      nProbe = 1, topK = 5).as[(Long, Long, Double)].collect()
    assert(part.length == 4 && part.forall { case (_, h, r) =>
      h >= 0L && h <= 5L && r == h / 5.0 })
  }

  test("ivfSearch equals per-query brute force over the probed lists") {
    import spark.implicits._
    // deterministic synthetic embeddings, dim 64
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 17) - 8).toFloat)
    val vecs = (0 until 200).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = (0 until 3).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val got = Embeddings.ivfSearch(vecs, queries, kCentroids = 8, nProbe = 2, topK = 4)
      .select("qid", "neighbor_id", "rank").as[(Long, Long, Int)]
      .collect().toSet

    // scala-side oracle
    def centroid(c: Int): Array[Double] =
      Array.tabulate(64)(d => ((c * 53 + d * 17) % 13 - 6).toDouble)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < 64) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < 64) { s += a(i) * b(i); i += 1 }; s
    }
    val all = (0 until 200).map(i => i.toLong -> vec(i).map(_.toDouble)).toMap
    val assign = all.map { case (id, v) =>
      id -> (0 until 8).map(c => (d2(v, centroid(c)), c)).min._2
    }
    val want = (0 until 3).flatMap { qi =>
      val qv = all(qi.toLong)
      val probed = (0 until 8).map(c => (d2(qv, centroid(c)), c)).sorted.take(2)
        .map(_._2).toSet
      val cand = all.filter { case (id, _) =>
        id != qi.toLong && probed.contains(assign(id)) }
      val qn = math.sqrt(dot(qv, qv))
      cand.toSeq.map { case (id, v) =>
        (id, dot(v, qv) / (math.sqrt(dot(v, v)) * qn))
      }.sortBy { case (id, cos) => (-cos, id) }.take(4).zipWithIndex
        .map { case ((id, _), r) => (qi.toLong, id, r + 1) }
    }.toSet
    assert(got == want)
  }
  test("ivfPqSearch equals brute-force ADC over the probed lists") {
    import spark.implicits._
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 17) - 8).toFloat)
    val vecs = (0 until 200).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = (0 until 3).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val got = Embeddings.ivfPqSearch(vecs, queries, kCentroids = 8, nProbe = 2,
        nSub = 8, kCodes = 8, topK = 4)
      .select("qid", "neighbor_id", "rank").as[(Long, Long, Int)]
      .collect().toSet

    def centroid(c: Int): Array[Double] =
      Array.tabulate(64)(d => ((c * 53 + d * 17) % 13 - 6).toDouble)
    def pqCent(s: Int, k: Int): Array[Double] =
      Array.tabulate(8)(d => ((s * 29 + k * 53 + d * 17) % 13 - 6).toDouble)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    val all = (0 until 200).map(i => i.toLong -> vec(i).map(_.toDouble)).toMap
    val assign = all.map { case (id, v) =>
      id -> (0 until 8).map(c => (d2(v, centroid(c)), c)).min._2
    }
    val codes = all.map { case (id, v) =>
      id -> Array.tabulate(8) { s =>
        val sub = v.slice(s * 8, s * 8 + 8)
        (0 until 8).map(k => (d2(sub, pqCent(s, k)), k)).min._2
      }
    }
    val want = (0 until 3).flatMap { qi =>
      val qv = all(qi.toLong)
      val probed = (0 until 8).map(c => (d2(qv, centroid(c)), c)).sorted.take(2)
        .map(_._2).toSet
      val cand = all.keys.filter(id =>
        id != qi.toLong && probed.contains(assign(id)))
      cand.toSeq.map { id =>
        val adc = (0 until 8).map(s =>
          d2(qv.slice(s * 8, s * 8 + 8), pqCent(s, codes(id)(s)))).sum
        (id, adc)
      }.sortBy { case (id, adc) => (adc, id) }.take(4).zipWithIndex
        .map { case ((id, _), r) => (qi.toLong, id, r + 1) }
    }.toSet
    assert(got == want)
  }

  test("hllDistinct matches scalar re-implementation; estimate within sketch error") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 5000).map(i => (s"g${i % 4}", rnd.nextInt(3000).toLong))
    val df = rows.toDF("grp", "uid").repartition(7)
    def brute(ids: Seq[Long]): (Long, Long) = {
      val regs = Array.fill(32)(0)
      ids.foreach { id =>
        val h = (id * 1103515245L + 12345L) % 2147483648L
        val b = (h % 32).toInt
        val rest = h / 32
        val rk =
          if (rest == 0) 27
          else java.lang.Long.numberOfTrailingZeros(rest) + 1
        if (rk > regs(b)) regs(b) = rk
      }
      val nb = regs.count(_ > 0)
      val sumint = regs.filter(_ > 0).map(m => 1L << (40 - m)).sum +
        (32L - nb) * (1L << 40)
      (nb.toLong,
        math.floor(0.697d * 1125899906842624.0d / sumint.toDouble).toLong)
    }
    val got = graft.ops.Sketches.hllDistinct(df, "grp", "uid")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    rows.groupBy(_._1).foreach { case (g, xs) =>
      val exact = xs.map(_._2).distinct.size
      val (nb, est) = brute(xs.map(_._2))
      assert(got(g) == ((nb, est)), s"group $g")
      // sigma = 1.04/sqrt(32) ~ 18%; 3-sigma bound
      assert(math.abs(est - exact) <= 0.55 * exact, s"group $g est=$est exact=$exact")
    }
  }

  test("phashNearDup finds exactly the brute-force Hamming<=3 pairs via band join") {
    val size = 201
    val corners = Seq((10, 5), (11, 5), (12, 6))
    val grids = for { v <- 0 to 3; (lng, lat) <- corners } yield {
      val g = graft.synth.TileGen.grid(lng, lat, size, (sw, sl, r, c) => {
        val idx = ((8 * r + 7) / size) * 8 + (8 * c + 7) / size
        val high = ((sw + 180) * 31 + (sl + 90) * 17 + idx * idx * 7) % 64 < 32
        (graft.synth.TileGen.sampleAt(sw, sl, r, c) +
          (if (high != (idx < v)) 4000 else 0)).toShort
      })
      (s"t${lng}_${lat}_v$v", g)
    }
    val tiles = spark.createDataset(grids.map { case (id, g) =>
      graft.core.TileRow(id, graft.raster.Hgt.encode(g, size), size, size,
        "hgt", "{}", 0L)
    })(org.apache.spark.sql.Encoders.product[graft.core.TileRow])
    val hashes = grids.map { case (id, g) =>
      id -> graft.raster.Fidelity.phash(g, size) }
    val want = (for {
      (ia, pa) <- hashes; (ib, pb) <- hashes
      if ia < ib && java.lang.Long.bitCount(pa ^ pb) <= 3
    } yield (ia, ib, java.lang.Long.bitCount(pa ^ pb))).toSet
    assert(want.nonEmpty && want.size < hashes.size * (hashes.size - 1) / 2,
      s"corpus degenerate: ${want.size} pairs")
    import spark.implicits._
    val got = graft.ops.ImageOps.phashNearDup(tiles, 3)
      .as[(String, String, Int)].collect().toSet
    assert(got == want)
  }

  test("bloom semi-join: zero false negatives; pass set matches scalar bitmap exactly") {
    import spark.implicits._
    val m = 1 << 12
    val rnd = new scala.util.Random(5)
    val buildKeys = (0 until 400).map(_ => rnd.nextInt(100000).toLong).distinct
    val probeKeys = (0 until 3000).map(_ => rnd.nextInt(100000).toLong)
    val bc = graft.ops.Sketches.bloomBuild(
      buildKeys.toDF("k"), "k", m)
    // scalar reference bitmap with the same hashes
    val bits = new Array[Long]((m + 63) / 64)
    for (k <- buildKeys; j <- 0 until 3) {
      val p = (((k * graft.ops.Sketches.BloomA(j) + graft.ops.Sketches.BloomB(j))
        % 2147483648L) % m).toInt
      bits(p >> 6) |= 1L << (p & 63)
    }
    def ref(v: Long): Boolean = (0 until 3).forall { j =>
      val p = (((v * graft.ops.Sketches.BloomA(j) + graft.ops.Sketches.BloomB(j))
        % 2147483648L) % m).toInt
      (bits(p >> 6) & (1L << (p & 63))) != 0L
    }
    val got = probeKeys.toDF("k")
      .withColumn("pass", graft.ops.Sketches.bloomMightContain(bc, m, org.apache.spark.sql.functions.col("k")))
      .as[(Long, Boolean)].collect()
    val bset = buildKeys.toSet
    got.foreach { case (k, pass) =>
      assert(pass == ref(k), s"key $k")
      if (bset(k)) assert(pass, s"false negative on $k")
    }
    // the corpus must actually exercise both false positives and negatives
    assert(got.exists { case (k, p) => p && !bset(k) })
    assert(got.exists { case (k, p) => !p })
  }

  test("cmSketch/cmEstimate: estimates match a scalar sketch and never underestimate") {
    import spark.implicits._
    val w = 64
    val rnd = new scala.util.Random(3)
    val keys = (0 until 4000).map(_ => rnd.nextInt(300).toLong)
    val df = keys.toDF("k")
    val sk = graft.ops.Sketches.cmSketch(df, "k", w)
    val exact = keys.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val cand = exact.toSeq.sortBy { case (k, n) => (-n, k) }.take(30)
    val got = graft.ops.Sketches.cmEstimate(
        cand.toDF("k", "n_exact"), "k", sk, w)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // scalar reference sketch
    val ref = Array.ofDim[Long](3, w)
    for (k <- keys; j <- 0 until 3) {
      val p = (((k * graft.ops.Sketches.BloomA(j) + graft.ops.Sketches.BloomB(j))
        % 2147483648L) % w).toInt
      ref(j)(p) += 1
    }
    cand.foreach { case (k, n) =>
      val est = (0 until 3).map { j =>
        ref(j)((((k * graft.ops.Sketches.BloomA(j) + graft.ops.Sketches.BloomB(j))
          % 2147483648L) % w).toInt)
      }.min
      val (gn, gest) = got(k)
      assert(gn == n && gest == est, s"key $k")
      assert(gest >= n, s"underestimate on $k")
    }
    // w=64 on 300 keys must actually collide somewhere
    assert(cand.exists { case (k, n) => got(k)._2 > n })
  }

  test("bloom survives keys past the Long multiply-add overflow point (ADVICE r3)") {
    import spark.implicits._
    val m = 1 << 12
    // 1.2e10 * 1103515245 overflows Long; the signed remainder used to go
    // negative and index bits() out of bounds
    val huge = Seq(12000000000L, 9999999999L, Long.MaxValue / 3, 8400000001L)
    val bc = graft.ops.Sketches.bloomBuild(huge.toDF("k"), "k", m)
    val got = (huge ++ Seq(1L, 17L)).toDF("k")
      .withColumn("pass", graft.ops.Sketches.bloomMightContain(bc, m,
        org.apache.spark.sql.functions.col("k")))
      .as[(Long, Boolean)].collect().toMap
    huge.foreach(k => assert(got(k), s"false negative on huge key $k"))
  }

  test("cmEstimate keeps keys absent from the build (est 0 via left join)") {
    import spark.implicits._
    val w = 1 << 10 // wide enough that 3 fresh positions are all-zero w.h.p.
    val sk = graft.ops.Sketches.cmSketch((0L until 50L).toDF("k"), "k", w)
    val got = graft.ops.Sketches.cmEstimate(
        Seq(3L, 900000L, 900001L).toDF("k"), "k", sk, w)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(3L, 900000L, 900001L),
      "absent keys must not vanish from the estimate output")
    assert(got(3L) >= 1L)
    assert(got(900000L) == 0L && got(900001L) == 0L,
      "a key with an all-zero counter row must estimate 0, not min-over-nonzero")
  }

  test("asofJoin drops null-timestamp right rows instead of half-matching (ADVICE r3)") {
    import spark.implicits._
    val leftDf = Seq((1L, 0L, 10L)).toDF("id", "k", "ts")
    val rightDf = Seq((100L, 0L, Option.empty[Long], 7), (101L, 0L, Some(5L), 9))
      .toDF("id", "k", "ts", "v")
    val got = graft.ops.AsofJoin.asofJoin(leftDf, rightDf, Seq("k"),
        "ts", "id", Seq("id", "v"))
      .select("id", "asof_id", "asof_ts", "asof_v")
      .as[(Long, Option[Long], Option[Long], Option[Int])].collect()
    assert(got.toSeq == Seq((1L, Some(101L), Some(5L), Some(9))),
      "the null-ts right row's payload must not leak into matches")
    // and when the ONLY right row has a null ts, the left row is all-null
    val got2 = graft.ops.AsofJoin.asofJoin(leftDf,
        rightDf.filter($"id" === 100L), Seq("k"), "ts", "id", Seq("id", "v"))
      .select("id", "asof_id", "asof_ts", "asof_v")
      .as[(Long, Option[Long], Option[Long], Option[Int])].collect()
    assert(got2.toSeq == Seq((1L, None, None, None)),
      "no-match state must be consistently all-null")
  }

  test("viewshed visibility matches O(n^2) brute force on the profile output") {
    import spark.implicits._
    val corners = Seq((0, 0))
    val tiles = spark.createDataset(
      graft.synth.TileGen.tiles(corners, 601, "hgt"))(
      org.apache.spark.sql.Encoders.product[graft.core.TileRow])
    val rnd = new scala.util.Random(9)
    val verts = (0 until 400).map { i =>
      (i.toLong % 5, i.toLong, 0.05 + rnd.nextInt(900) / 1000.0,
        0.05 + rnd.nextInt(900) / 1000.0)
    }.toDF("line_id", "seq", "lng", "lat")
    val prof = graft.ops.Elevation.profile(verts, tiles)
      .select("line_id", "seq", "elev", "cum_dist_q")
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val want = prof.toSeq.flatMap { case (line, vs) =>
      val ratios = vs.zipWithIndex.map { case ((_, _, e, d), i) =>
        if (i == 0) Double.NaN else (e - vs.head._3) / math.max(d, 1L).toDouble
      }
      vs.zipWithIndex.map { case ((_, seq, _, _), i) =>
        val vis = i == 0 || (1 until i).forall(j => ratios(j) < ratios(i))
        (line, seq) -> vis
      }
    }.toMap
    val got = graft.ops.Elevation.viewshed(verts, tiles)
      .select("line_id", "seq", "visible")
      .as[(Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == want)
    assert(got.values.exists(_ == true) && got.values.exists(_ == false))
  }

  test("collocations match brute-force quantized lift on a controlled corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    // "new york"-style glued pair: alpha is ALWAYS followed by beta
    val docs = (0 until 80).map { i =>
      val ws = (0 until 30).flatMap { _ =>
        if (rnd.nextInt(4) == 0) Seq("alpha", "beta")
        else Seq(vocab(rnd.nextInt(vocab.size)))
      }
      (i.toLong, ws.mkString(" "))
    }
    val toks = docs.map(_._2.split(" ", -1).toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val n = toks.map(_.size).sum.toLong
    val big = toks.flatMap(ws => ws.zip(ws.tail)).groupBy(identity)
      .map { case (p, xs) => p -> xs.size.toLong }.filter(_._2 >= 5L)
    val want = big.toSeq.map { case ((a, b), cxy) =>
      (a, b, cxy, cxy * n * 100000L / (uni(a) * uni(b)))
    }.sortBy { case (a, b, _, l) => (-l, a, b) }.take(10)
    val got = graft.ops.Curation.collocations(
        docs.toDF("doc_id", "text"), col("text"), 5L, 10)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == want)
    // the glued pair must out-lift everything
    assert(got.head._1 == "alpha" && got.head._2 == "beta")
  }

  /** Scalar md5 bucket: first 8 hex digits mod 1000 — the op's keep rule. */
  private def md5Bucket(id: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) % 1000
  }

  test("stratifiedSample equals scalar md5 rule; nested rates nest") {
    import spark.implicits._
    val rows = (0L until 600L).map(i => (i, s"s${i % 4}"))
    val df = rows.toDF("doc_id", "stratum")
    val rates = Map("s0" -> 700, "s1" -> 300, "s2" -> 0)
    val got = graft.ops.Curation
      .stratifiedSample(df, col("doc_id"), col("stratum"), rates, 50)
      .as[(Long, String)].collect().toSet
    val want = rows.filter { case (id, st) =>
      md5Bucket(id) < rates.getOrElse(st, 50)
    }.toSet
    assert(got == want)
    assert(want.exists(_._2 == "s3") && !want.exists(_._2 == "s2"))
    // nested rates ⇒ nested samples (the ablation-corpus property)
    val lo = graft.ops.Curation
      .stratifiedSample(df, col("doc_id"), col("stratum"),
        Map("s0" -> 350, "s1" -> 150, "s2" -> 0), 25)
      .as[(Long, String)].collect().toSet
    assert(lo.subsetOf(got))
  }

  test("repetitionStats matches hand counts on a controlled corpus") {
    import spark.implicits._
    // doc 1: 6 words, 3 distinct, 'x' 4×; bigrams: x_x 2×, x_y, y_z, z_x of 5
    val docs = Seq(
      (1L, "x x x y z x"),
      (2L, "a b a b a"), // 5 words, 2 distinct, a 3×; bigrams a_b 2×, b_a 2×
      (3L, "solo")       // single word: no bigrams ⇒ dropped
    ).toDF("doc_id", "text")
    val got = graft.ops.Curation.repetitionStats(docs, col("text"))
      .select("doc_id", "n_words", "n_distinct", "max_word_c",
        "n_bigrams", "max_bigram_c", "dup_word_q", "top_bigram_q")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 6L, 3L, 4L, 5L, 2L, (3L * 1000000L) / 6L, (2L * 1000000L) / 5L),
      (2L, 5L, 2L, 3L, 4L, 2L, (3L * 1000000L) / 5L, (2L * 1000000L) / 4L)))
  }

  test("decontaminateFuzzy: subset of brute-force J>=tau pairs; catches all mutated copies") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def sentence(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val eval = (1000 until 1010).map(i => (i.toLong, sentence(20)))
    // corpus: unrelated docs + a lightly-edited copy of every eval doc
    val clean = (0 until 80).map(i => (i.toLong, sentence(20)))
    val mutated = eval.map { case (id, t) => (id + 9000, t + " xx yy") }
    val corpus = clean ++ mutated
    val got = graft.ops.Curation.decontaminateFuzzy(
        corpus.toDF("doc_id", "text"), eval.toDF("doc_id", "text"),
        minJaccard = 0.5)
      .select("doc_id", "eval_id").as[(Long, Long)].collect().toSet
    // brute-force exact-Jaccard truth (the LSH stage may MISS pairs — that
    // is its contract — but must never emit a pair below the verify gate)
    def sh(s: String): Set[String] =
      s.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val truth = (for {
      (cid, ct) <- corpus; (eid, et) <- eval
      j = sh(ct).intersect(sh(et)).size.toDouble / sh(ct).union(sh(et)).size
      if j >= 0.5
    } yield (cid, eid)).toSet
    assert(got.subsetOf(truth), s"emitted below-gate pairs: ${got.diff(truth)}")
    // every mutated copy shares 7 of 8 minhash lanes with its source on
    // average — all 10 must be flagged against their own eval doc
    val mustCatch = eval.map { case (id, _) => (id + 9000, id) }.toSet
    assert(mustCatch.subsetOf(got),
      s"missed mutated copies: ${mustCatch.diff(got)}")
  }

  test("wordNgrams: exact windows, short docs empty (sequence(1,0) guard)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x y z")).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        graft.ops.Curation.wordNgrams(col("text"), 3).as("ngs"))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Seq("a b c", "b c d")),
      (2L, Seq.empty[String]), // < n tokens: MUST be empty, not [1,0]-indexed
      (3L, Seq("x y z"))))
  }

  test("decontaminate matches brute-force n-gram intersection; clean corpus empty") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e")
    def sentence(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // small vocab + trigrams => real collisions between corpus and eval
    val corpus = (0 until 120).map(i => (i.toLong, sentence(4 + rnd.nextInt(10))))
    val eval = (1000 until 1010).map(i => (i.toLong, sentence(4 + rnd.nextInt(10))))
    def grams(s: String, n: Int): Set[String] =
      s.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    val evalGrams = eval.flatMap(d => grams(d._2, 3)).toSet
    val expected = corpus
      .map { case (id, t) => id -> grams(t, 3).intersect(evalGrams).size.toLong }
      .filter(_._2 > 0).toMap
    val got = graft.ops.Curation.decontaminate(
        corpus.toDF("doc_id", "text"), eval.toDF("doc_id", "text"), n = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
    assert(expected.nonEmpty, "degenerate test: no contamination generated")
    // disjoint-vocab corpus is clean
    val clean = Seq((9000L, "p q r s t u v w")).toDF("doc_id", "text")
    assert(graft.ops.Curation.decontaminate(clean, eval.toDF("doc_id", "text"), 3)
      .count() == 0L)
  }

  test("semDedup matches brute force; copies dropped, cross-cluster dups honestly missed") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextDouble() - 0.5)
    val base = (0 until 80).map(i => (i.toLong, vec()))
    // exact copies of every 10th vector
    val copies = base.filter(_._1 % 10 == 0).map { case (id, v) => (id + 1000, v) }
    val all = base ++ copies
    val df = all.toDF("vec_id", "embedding")
    val cents = Array.tabulate(4)(c => base(c)._2) // arbitrary fixed centroids
    val got = Embeddings.semDedup(df, cents, minCos = 0.999)
      .as[(Long, Int, Long, Boolean)].collect().sortBy(_._1)
    // brute force: assign to nearest centroid (ties to smaller c), pair within
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < 64) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) { s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    val assign = all.map { case (id, v) =>
      id -> cents.indices.minBy(c => (d2(v, cents(c)), c))
    }.toMap
    val vmap = all.toMap
    val expected = all.map { case (id, v) =>
      val nd = all.count { case (oid, ov) =>
        oid < id && assign(oid) == assign(id) && cos(ov, v) >= 0.999
      }
      (id, assign(id), nd.toLong, nd == 0)
    }.sortBy(_._1)
    assert(got.toSeq == expected)
    // every copy must be dropped (identical vector -> same cluster, cos 1)
    val keepMap = got.map(g => g._1 -> g._4).toMap
    copies.foreach { case (id, _) => assert(!keepMap(id), s"copy $id kept") }
    assert(vmap.size == all.size)
  }

  test("vocabOov matches brute force incl. the deterministic tie cut") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c d"), (2L, "b c c e"), (3L, "a d e e"), (4L, "f"))
      .toDF("doc_id", "text")
    // counts: a=4 b=3 c=3 e=3 d=2 f=1 -> top-3 = a, b, c (tie b/c/e broken
    // lexicographically: b, c before e)
    val got = graft.ops.Curation.vocabOov(docs, vocabSize = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 7L, 1L, 1.0 / 7),   // d OOV
      (2L, 4L, 1L, 0.25),      // e OOV
      (3L, 4L, 3L, 0.75),      // d e e OOV
      (4L, 1L, 1L, 1.0)))      // f OOV
  }

  test("sq8 codes round-trip within one quantization step") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Embeddings.sq8(df)
      .as[(Long, Double, Double, String, Long)].collect().sortBy(_._1)
    got.zip(vecs).foreach { case ((id, mn, mx, _, errQ), (vid, v)) =>
      assert(id == vid)
      val vd = v.map(_.toDouble)
      assert(mn == vd.min && mx == vd.max)
      // one quantization step is (mx-mn)/255; total sq error over 64 dims is
      // bounded by 64 * step^2
      val step = (mx - mn) / 255.0
      assert(errQ >= 0 && errQ <= math.ceil(64 * step * step * 1e6).toLong,
        s"vec $id err out of bound: $errQ")
    }
  }

  test("containmentPairs: copies hit 1e6 ppm, subsets score by the short side") {
    import spark.implicits._
    val body = (0 until 40).map(i => s"w${i % 17}x$i").mkString(" ")
    val docs = Seq(
      (1L, body),                          // original
      (2L, body),                          // exact copy -> containment 1.0
      (3L, body + " tail0 tail1 tail2 tail3 tail4 tail5"), // superset of 1
      (4L, "alpha beta gamma delta epsilon zeta")          // unrelated
    ).toDF("doc_id", "text")
    val got = TextDedup.containmentPairs(docs, shingleWords = 5, maxDf = 10,
        minPpm = 400000L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._6).toMap
    assert(got((1L, 2L)) == 1000000L)
    assert(got((1L, 3L)) == 1000000L, "superset must fully contain the original")
    assert(got((2L, 3L)) == 1000000L)
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // df cap: a shingle shared by all three dup docs (df=3 <= maxDf) counts;
    // rerun with maxDf=2 and the triple-shared shingles drop out entirely
    val capped = TextDedup.containmentPairs(docs, shingleWords = 5, maxDf = 2,
      minPpm = 1L).count()
    assert(capped == 0, "df cap must drop shingles shared by all three docs")
  }

  test("redactPii scrubs emails before phones and counts on the original") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at a.b+c@x-mail.example.org today"),
      (2L, "call +1-415-555-0100 or +44-200-555-0200"),
      (3L, "both ann@ex.io and +1-650-555-01234 here"), // 5th digit stays
      (4L, "nothing sensitive")
    ).toDF("doc_id", "text")
    val got = graft.ops.Curation.redactPii(docs, "text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 1 && got(1L)._3 == 0)
    assert(got(2L)._2 == 0 && got(2L)._3 == 2)
    assert(got(3L)._2 == 1 && got(3L)._3 == 1)
    assert(got(4L)._2 == 0 && got(4L)._3 == 0)
    // the redaction is the md5 of the placeholder-substituted text
    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(3L)._4 == md5("both <EMAIL> and <PHONE>4 here"))
    assert(got(4L)._4 == md5("nothing sensitive"))
  }

  test("unigramSurprisal: rare-token docs score higher; exact integer identity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the the the the the the the"),   // 8x the most common token
      (2L, "qq zz vv kk jj xx yy ww")            // 8 singletons
    ).toDF("doc_id", "text")
    val got = graft.ops.Curation.unigramSurprisal(docs)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // N = 16 tokens, V = 9 distinct; c(the)=8 -> ln(25/9); c(rare)=1 -> ln(25/2)
    def q(c: Long): Long = math.floor(1e6 * math.log(25.0 / (c + 1))).toLong
    assert(got(1L)._2 == 8 && got(1L)._3 == 8 * q(8))
    assert(got(2L)._2 == 8 && got(2L)._3 == 8 * q(1))
    assert(got(2L)._4 > got(1L)._4, "rare tokens must out-score common ones")
    assert(got(1L)._4 == got(1L)._3 / 8)
  }

  test("snapToSegments equals brute-force nearest within radius") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val probes = (0 until 80).map(i =>
      (i.toLong, rnd.nextDouble() * 2 - 1, rnd.nextDouble() * 2 - 1))
    val segs = (100 until 180).map { i =>
      val x1 = rnd.nextDouble() * 2 - 1; val y1 = rnd.nextDouble() * 2 - 1
      (i.toLong, x1, y1, x1 + rnd.nextDouble() * 0.1, y1 + rnd.nextDouble() * 0.1)
    } :+ (999L, 0.5, 0.5, 0.5, 0.5) // degenerate zero-length segment
    val r = 0.15
    val got = ops.SpatialJoin.snapToSegments(
        probes.toDF("probe_id", "px", "py"),
        segs.toDF("seg_id", "x1", "y1", "x2", "y2"), r)
      .as[(Long, Long, Double, Double)].collect().map(x => x._1 -> x).toMap
    probes.foreach { case (pid, px, py) =>
      val best = segs.map { case (sid, x1, y1, x2, y2) =>
        val (dx, dy) = (x2 - x1, y2 - y1)
        val len2 = dx * dx + dy * dy
        val t = if (len2 > 0)
          math.min(1.0, math.max(0.0, ((px - x1) * dx + (py - y1) * dy) / len2))
        else 0.0
        val (ddx, ddy) = (px - (x1 + t * dx), py - (y1 + t * dy))
        (ddx * ddx + ddy * ddy, sid, t)
      }.filter(_._1 <= r * r).sorted.headOption
      (best, got.get(pid)) match {
        case (Some((d2, sid, t)), Some((_, gsid, gt, gd2))) =>
          assert(gsid == sid && gt == t && gd2 == d2, s"probe $pid")
        case (None, None) => ()
        case other => fail(s"probe $pid: $other")
      }
    }
  }

  test("segmentIntersectJoin equals brute-force proper-crossing pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def mkSegs(n: Int, off: Int) = (0 until n).map { i =>
      val x1 = rnd.nextDouble(); val y1 = rnd.nextDouble()
      ((off + i).toLong, x1, y1,
        x1 + rnd.nextDouble() * 0.4 - 0.2, y1 + rnd.nextDouble() * 0.4 - 0.2)
    }
    val a = mkSegs(60, 0); val b = mkSegs(60, 1000)
    val got = ops.SpatialJoin.segmentIntersectJoin(
        a.toDF("seg_id", "x1", "y1", "x2", "y2"),
        b.toDF("seg_id", "x1", "y1", "x2", "y2"), cellSize = 0.1)
      .as[(Long, Long, Double, Double)].collect()
    def cross(px: Double, py: Double, qx: Double, qy: Double,
              rx: Double, ry: Double) = (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val want = for {
      (ai, ax1, ay1, ax2, ay2) <- a
      (bi, bx1, by1, bx2, by2) <- b
      d1 = cross(bx1, by1, bx2, by2, ax1, ay1)
      d2 = cross(bx1, by1, bx2, by2, ax2, ay2)
      d3 = cross(ax1, ay1, ax2, ay2, bx1, by1)
      d4 = cross(ax1, ay1, ax2, ay2, bx2, by2)
      if d1 * d2 < 0 && d3 * d4 < 0
    } yield {
      val t = d1 / (d1 - d2)
      (ai, bi, ax1 + t * (ax2 - ax1), ay1 + t * (ay2 - ay1))
    }
    assert(want.nonEmpty, "fixture produced no crossings — weak test")
    assert(got.sortBy(p => (p._1, p._2)).toSeq == want.sortBy(p => (p._1, p._2)),
      "pair sets differ (or a pair was emitted from more than one cell)")
  }

  test("pagerank: 3 rounds on a hand-walked 4-node graph (with a pure-source node)") {
    import spark.implicits._
    // 0->1, 0->2, 1->2, 2->0, 3->0 ; node 3 is a pure source
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 0L))
      .toDF("src", "dst")
    val got = graft.ops.Graph.pagerank(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    // driver-side replay in exact integer arithmetic
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 0L))
    val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val inflow = nodes.map(v =>
        v -> e.filter(_._2 == v).map(t => r(t._1) / outdeg(t._1)).sum).toMap
      r = nodes.map(v => v -> (150000L + 850000L * inflow(v) / 1000000L)).toMap
    }
    nodes.foreach(v => assert(got(v) == r(v), s"node $v"))
    // source node 3 (no in-edges) settles at pure teleport from round 1 on
    assert(got(3L) == 150000L)
  }

  test("labelPropagate: mode vote with min-label ties on two bridged triangles") {
    import spark.implicits._
    // triangles {0,1,2} and {3,4,5} bridged by 2-3
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
    val got = graft.ops.Graph.labelPropagate(e.toDF("src", "dst"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    // driver-side replay of the synchronous sweeps (neighbors only, ties
    // to the smallest label)
    val sym = e.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val nodes = sym.map(_._1).distinct
    var lbl = nodes.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      lbl = nodes.map { v =>
        val votes = sym.filter(_._1 == v).map(t => lbl(t._2))
          .groupBy(identity).map { case (l, vs) => (l, vs.size) }
        v -> votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }.toMap
    }
    nodes.foreach(v => assert(got(v) == lbl(v), s"node $v"))
    // both triangles collapse onto their smallest member's label
    assert(Set(0L, 1L, 2L).map(got) == Set(0L))
  }

  test("hex_disk column equals Hex.gridDisk for k in 0..3 (plan-time offsets)") {
    import spark.implicits._
    val cells = Seq((-119.3, 36.7, 9), (2.1, 48.8, 7), (-58.4, -34.6, 11))
      .map { case (lng, lat, res) => graft.geo.Hex.latLngToCell(lng, lat, res) }
    for (k <- 0 to 3; cell <- cells) {
      val got = Seq(cell).toDF("cell")
        .select(org.apache.spark.sql.functions.explode(
          graft.functions.cells.hex_disk(org.apache.spark.sql.functions.col("cell"), k)))
        .as[Long].collect().toSet
      assert(got == graft.geo.Hex.gridDisk(cell, k).toSet, s"k=$k cell=$cell")
      assert(got.size == 1 + 3 * k * (k + 1))
    }
  }

  test("ivfRangeSearch equals brute force over the probed lists at the threshold") {
    import spark.implicits._
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 17) - 8).toFloat)
    val vecs = (0 until 200).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = (0 until 3).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val minCos = 0.2
    val got = Embeddings.ivfRangeSearch(vecs, queries, kCentroids = 8,
        nProbe = 2, minCos = minCos)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    def centroid(c: Int): Array[Double] =
      Array.tabulate(64)(d => ((c * 53 + d * 17) % 13 - 6).toDouble)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < 64) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < 64) { s += a(i) * b(i); i += 1 }; s
    }
    val all = (0 until 200).map(i => i.toLong -> vec(i).map(_.toDouble)).toMap
    val assign = all.map { case (id, v) =>
      id -> (0 until 8).map(c => (d2(v, centroid(c)), c)).min._2
    }
    val want = (0 until 3).flatMap { qi =>
      val qv = all(qi.toLong)
      val probed = (0 until 8).map(c => (d2(qv, centroid(c)), c)).sorted.take(2)
        .map(_._2).toSet
      val qn = math.sqrt(dot(qv, qv))
      all.filter { case (id, _) => id != qi.toLong && probed.contains(assign(id)) }
        .toSeq
        .filter { case (_, v) => dot(v, qv) / (math.sqrt(dot(v, v)) * qn) >= minCos }
        .map { case (id, _) => (qi.toLong, id) }
    }.toSet
    assert(got.nonEmpty && got == want)
  }

  test("minhashEstimatePairs: candidates equal minhashPairs; n_agree matches recomputation; copies estimate 1.0") {
    import spark.implicits._
    val wordsPool = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def text(i: Int): String =
      (0 until 12).map(t => wordsPool((i * 7 + t * (1 + i % 3)) % 10)).mkString(" ")
    val docs = (0 until 60).map(i => (i.toLong, text(i))) ++
      (0 until 60).filter(_ % 5 == 0).map(i => (i + 1000L, text(i)))
    val df = docs.toDF("doc_id", "text")
    val est = ops.TextDedup.minhashEstimatePairs(df)
      .as[(Long, Long, Long, Long)].collect()
    val pairSet = ops.TextDedup.minhashPairs(df)
      .as[(Long, Long)].collect().toSet
    assert(est.map(r => (r._1, r._2)).toSet == pairSet)
    // scala-side oracle: h60 = first 15 hex chars of md5, lanes over mod-P
    val P = 1048573L
    def h60(x: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def sig(t: String): Array[Long] = {
      val ws = t.split(" ")
      val sh = if (ws.length >= 3)
        (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" "))
      else Seq(t)
      val hv = sh.map(x => h60(x) % P)
      Array.tabulate(8)(j => hv.map(h => ((2L * j + 3L) * h + (5L * j + 7L)) % P).min)
    }
    val byId = docs.toMap.map { case (id, t) => id -> sig(t) }
    est.foreach { case (a, b, nAgree, ppm) =>
      val expect = byId(a).zip(byId(b)).count { case (x, y) => x == y }
      assert(nAgree == expect, s"pair ($a,$b)")
      assert(ppm == nAgree * 1000000L / 8)
    }
    // every exact copy pair must be found with a full-agreement estimate
    (0 until 60).filter(_ % 5 == 0).foreach { i =>
      val row = est.find(r => r._1 == i.toLong && r._2 == i + 1000L)
      assert(row.exists(_._3 == 8L), s"copy pair $i missing or partial: $row")
    }
  }
  test("MediaOps: frame sampling and window squares match per-row brute force") {
    import spark.implicits._
    import graft.ops.MediaOps
    val meta = (1 to 40).map(i => (i.toLong, 1000L + (i % 20) * 500L,
        if (i % 2 == 0) 24000L else 30000L, 4096 + (i % 7) * 512))
      .toDF("media_id", "duration_ms", "fps_milli", "n_bytes")
    val media = MediaOps.synth(meta)
    val frames = MediaOps.frameSample(media, everyMs = 500L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val wins = MediaOps.windowSquares(media, winLen = 512)
      .as[(Long, Long, Long, Long)].collect().toSet
    def byte(id: Long, k: Long): Long = (id * 31 + k * 7) % 256
    val wantFrames = (1 to 40).flatMap { i =>
      val id = i.toLong
      val dur = 1000L + (i % 20) * 500L
      val fps = if (i % 2 == 0) 24000L else 30000L
      val n = 4096 + (i % 7) * 512
      (0L until dur by 500L).map { t =>
        val fn = t * fps / 1000000L
        val off = (fn * 997L) % (n - 16L)
        val dig = (0 until 16).foldLeft(0L)((d, j) =>
          (d * 131L + byte(id, off + j)) % 1000000007L)
        val lum = (0 until 16).map(j => byte(id, off + j)).sum / 16L
        (id, fn, t, dig, lum)
      }
    }.toSet
    assert(frames == wantFrames)
    val wantWins = (1 to 40).flatMap { i =>
      val id = i.toLong
      val n = 4096 + (i % 7) * 512
      (0L until (n / 512).toLong).map { w =>
        val s = (0 until 512).map { j =>
          val v = byte(id, w * 512 + j) - 128; v * v
        }.sum
        (id, w, 512L, s)
      }
    }.toSet
    assert(wins == wantWins)
    // the binary column is real: payload bytes round-trip the schema
    val one = media.filter($"media_id" === 5L).head()
    assert(one.bytes.length == 4096 + (5 % 7) * 512 &&
      (one.bytes(10) & 0xff) == ((5 * 31 + 10 * 7) % 256))
  }

  test("clippingAudit: hand-crafted runs, threshold inclusivity, clean media") {
    import spark.implicits._
    def media(id: Long, vs: Seq[Int]) = graft.ops.MediaOps.MediaRow(
      id, vs.map(v => (v + 128).toByte).toArray, "pcm", 1000L, 24000L)
    val rows = spark.createDataset(Seq(
      // runs: [125,126] then [-127,121,120] -> 5 clipped, 2 runs, max 3
      media(1L, Seq(0, 125, 126, 0, -127, 121, 120, -3)),
      media(2L, Seq(5, -10, 119, -119, 0)), // nothing reaches |120|
      media(3L, Seq(120))                   // single-sample run
    ))(org.apache.spark.sql.Encoders.product[graft.ops.MediaOps.MediaRow])
    val got = graft.ops.MediaOps.clippingAudit(rows, thr = 120)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((8L, 5L, 2L, 3L)))
    assert(got(2L) == ((5L, 0L, 0L, 0L)))
    assert(got(3L) == ((1L, 1L, 1L, 1L)))
  }

  test("speedFlags: teleports, dup-ts fixes, and first-fix semantics") {
    import spark.implicits._
    val pts = Seq(
      (1L, 1000000L, 1L, 10.0, 20.0),      // first fix: never flagged
      (1L, 2000000L, 2L, 10.0001, 20.0),   // 100 µdeg in 1s = 100 -> at limit
      (1L, 3000000L, 3L, 10.01, 20.0),     // 9900 µdeg in 1s -> flagged
      (1L, 3000000L, 4L, 10.02, 20.0),     // dt=0, displacement -> -1 flagged
      (1L, 3000000L, 5L, 10.02, 20.0),     // dt=0, no displacement -> ok
      (2L, 1000000L, 6L, 0.0, 0.0)         // lone fix
    ).toDF("traj_id", "ts_us", "tie", "lng", "lat")
    val got = graft.ops.Trajectory.speedFlags(pts, maxSpeedQ = 100L)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._2 -> (r._5, r._6)).toMap
    assert(got(1L) == ((0L, false)), "first fix")
    assert(got(2L) == ((100L, false)), "exactly at the limit is plausible")
    assert(got(3L)._2, "teleport flagged")
    assert(got(4L) == ((-1L, true)), "dt=0 with displacement is the inf sentinel")
    assert(got(5L) == ((0L, false)), "coincident duplicate fix is fine")
    assert(got(6L) == ((0L, false)), "lone fix")
  }

  test("sceneCuts: first frame never cuts; jumps above threshold do") {
    import spark.implicits._
    // two synthetic assets via the deterministic generator
    val meta = Seq((3L, 2000L, 24000L, 4096), (4L, 1500L, 30000L, 5120))
      .toDF("media_id", "duration_ms", "fps_milli", "n_bytes")
    val media = graft.ops.MediaOps.synth(meta)
    val got = graft.ops.MediaOps.sceneCuts(media, 500L, 40L)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    got.foreach { case (id, frames) =>
      assert(frames.head._4 == 0L && !frames.head._5, s"first frame of $id")
      frames.sliding(2).foreach {
        case Array((_, _, l0, _, _), (_, _, l1, d, c)) =>
          assert(d == math.abs(l1 - l0), "delta is |lum jump|")
          assert(c == (d > 40L), "cut iff above threshold")
        case _ => ()
      }
    }
  }

  test("cdc applyChanges: latest-wins, deletes terminal, inserts, seq order") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val changes = Seq(
      (1L, "a2", 11.0, 1L, "U"),  // update
      (1L, "a3", 12.0, 3L, "U"),  // later update wins over seq 1
      (2L, "xx", 0.0, 5L, "D"),   // delete (payload ignored)
      (4L, "d", 40.0, 1L, "I"),   // insert (key absent from base)
      (5L, "e", 50.0, 1L, "I"),   // insert then delete -> absent
      (5L, "xx", 0.0, 2L, "D"),
      (6L, "f", 60.0, 2L, "D"),   // delete then LATER re-insert -> present
      (6L, "f2", 61.0, 4L, "I")
    ).toDF("k", "name", "v", "seq", "op")
    val got = graft.ops.Cdc.applyChanges(base, changes, Seq("k"))
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      1L -> ("a3", 12.0),   // highest seq wins
      3L -> ("c", 30.0),    // untouched base row survives
      4L -> ("d", 40.0),
      6L -> ("f2", 61.0)))  // re-insert after delete
  }

  test("mixtureWeights: exact ppm shares, uniform target, ceil epochs") {
    import spark.implicits._
    val docs = Seq(
      ("a", "w w w w w w w w"), ("a", "w w"),   // a: 10 tokens
      ("b", "w w w w"),                          // b: 4
      ("c", "w"), ("c", "w")                     // c: 2
    ).toDF("source", "text")
    val got = graft.ops.Curation.mixtureWeights(docs,
        expr("size(split(text, ' '))"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // total 16 tokens, 3 sources, target 333333 ppm
    assert(got("a") == ((10L, 625000L, 333333L * 1000000L / 625000L,
      (333333L * 1000000L / 625000L + 999999L) / 1000000L)))
    assert(got("b") == ((4L, 250000L, 1333332L, 2L)))
    assert(got("c") == ((2L, 125000L, 2666664L, 3L)))
    // under-represented sources get weight > 1e6, over-represented < 1e6
    assert(got("a")._3 < 1000000L && got("c")._3 > 1000000L)
  }

  test("dataQuality check: each rule class counts violations exactly") {
    import spark.implicits._
    import graft.ops.DataQuality._
    val df = Seq(
      (1L, Some(10.0), "F"), (2L, Some(250.0), "O"), (3L, None, "P"),
      (2L, Some(-5.0), "F") // duplicate key 2, below-bounds value
    ).toDF("k", "v", "st")
    val ref = Seq(1L, 2L).toDF("rk") // key 3 missing from the reference
    val got = check(df, Seq(
      NotNull("v"), Bounds("v", 0.0, 100.0), InValues("st", Seq("F", "O")),
      MinRows(10L), Unique("k"), InTable("k", ref, "rk")))
      .as[(String, String, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(got(("not_null", "v")) == ((1L, 4L, false)))
    // nulls are NotNull's job: only 250.0 and -5.0 violate the bounds
    assert(got(("bounds", "v")) == ((2L, 4L, false)))
    assert(got(("in_values", "st")) == ((1L, 4L, false)))
    assert(got(("min_rows", "*")) == ((6L, 4L, false)))
    // totals switch to key counts for the key rules
    assert(got(("unique", "k")) == ((1L, 3L, false)))
    assert(got(("in_table", "k")) == ((1L, 3L, false)))
    // and a fully green suite reports passed everywhere
    val green = check(df.filter($"k" === 1L), Seq(NotNull("k"), Unique("k")))
      .as[(String, String, Long, Long, Boolean)].collect()
    assert(green.forall(_._5))
  }

  test("dataQuality profile: one row per column, numeric bounds, exact distincts") {
    import spark.implicits._
    val df = Seq((1L, Some(2.5), "x"), (2L, Some(7.0), "y"),
      (2L, None, "y")).toDF("k", "v", "s")
    val got = graft.ops.DataQuality.profile(df, Seq("k", "v", "s"))
      .as[(String, Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got("k") == ((3L, 0L, 2L, Some(1.0), Some(2.0))))
    assert(got("v") == ((3L, 1L, 2L, Some(2.5), Some(7.0))))
    // non-numeric: null bounds, distincts still exact
    assert(got("s") == ((3L, 0L, 2L, None, None)))
  }

  test("quadkey: Bing golden vectors and prefix property") {
    import spark.implicits._
    // bing maps tile-system doc example: tile (3, 5) at level 3 -> "213"
    val df = Seq((3, 5), (0, 0), (7, 7)).toDF("x", "y")
      .withColumn("qk", graft.functions.raster.quadkey($"x", $"y", 3))
    val got = df.as[(Int, Int, String)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((3, 5)) == "213")
    assert(got((0, 0)) == "000")
    assert(got((7, 7)) == "333")
    // parent at z2 = proper prefix of the z3 key (the pyramid range-scan
    // property): (3,5) at z3 has parent (1,2) at z2
    val parent = Seq((1, 2)).toDF("x", "y")
      .withColumn("qk", graft.functions.raster.quadkey($"x", $"y", 2))
      .as[(Int, Int, String)].collect().head._3
    assert(got((3, 5)).startsWith(parent))
  }

  test("hex_grid_distance: column arithmetic equals Hex.gridDistance") {
    import spark.implicits._
    val cells = Seq(
      (graft.geo.Hex.pack(9, 5, -3), graft.geo.Hex.pack(9, -2, 4)),
      (graft.geo.Hex.pack(9, 0, 0), graft.geo.Hex.pack(9, 0, 0)),
      (graft.geo.Hex.pack(7, -100, 250), graft.geo.Hex.pack(7, 40, 251)))
    val got = cells.toDF("a", "b")
      .withColumn("d", graft.functions.cells.hex_grid_distance($"a", $"b"))
      .as[(Long, Long, Long)].collect()
    for ((a, b, d) <- got)
      assert(d == graft.geo.Hex.gridDistance(a, b).toLong, (a, b))
    // neighbors sit at distance exactly 1
    val c0 = graft.geo.Hex.pack(9, 7, 7)
    val nb = graft.geo.Hex.neighbors(c0)
    val nd = nb.map(n => (c0, n)).toDF("a", "b")
      .withColumn("d", graft.functions.cells.hex_grid_distance($"a", $"b"))
      .as[(Long, Long, Long)].collect()
    assert(nd.forall(_._3 == 1L) && nd.length == 6)
  }

  test("dataQuality drift: ppm verdicts fire exactly on their planted causes") {
    import spark.implicits._
    val before = Seq((1L, Some(1.0), "a"), (2L, Some(2.0), "b"),
      (3L, Some(3.0), "c"), (4L, Some(4.0), "a")).toDF("k", "v", "s")
    // after: one row dropped (no null drift on k), v nulled once (25% ->
    // null drift), s loses a category (card drift), max(v) drops (bounds)
    val after = Seq((1L, Some(1.0), "a"), (2L, None, "b"),
      (3L, Some(3.0), "a")).toDF("k", "v", "s")
    val got = graft.ops.DataQuality.drift(before, after, Seq("k", "v", "s"),
        tolPpm = 100000L)
      .as[(String, Long, Long, Long, Long, Long, Long, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    val k = got("k"); val v = got("v"); val sCol = got("s")
    assert(!k._8 && !v._2.equals(0L), "sanity")
    assert(k._8 == false && k._10 == true) // k: no null drift, max moved 4->3
    assert(v._8 == true && v._10 == true)  // v: 0 -> 333333 ppm nulls
    assert(v._5 == 333333L)
    assert(sCol._9 == true && sCol._10 == false) // s: 3 -> 2 categories
    // identical snapshots: all verdicts false
    val same = graft.ops.DataQuality.drift(before, before, Seq("k", "v", "s"),
        tolPpm = 1L)
      .as[(String, Long, Long, Long, Long, Long, Long, Boolean, Boolean, Boolean)]
      .collect()
    assert(same.forall(r => !r._8 && !r._9 && !r._10))
  }

  test("lineDedup: boilerplate lines drop, ragged tails count, per-doc accounting exact") {
    import spark.implicits._
    // 3-word lines; "the same header" opens docs 1-3 (df 3 > maxDf 2)
    val docs = Seq(
      (1L, "the same header alpha beta gamma delta"),   // 3 lines, tail 1 word
      (2L, "the same header epsilon zeta"),             // 2 lines, tail 2 words
      (3L, "the same header"),                          // 1 line (all boilerplate)
      (4L, "unique words only here")                    // 2 lines, tail 1 word
    ).toDF("doc_id", "text")
    val got = graft.ops.TextDedup.lineDedup(docs, lineWords = 3, maxDf = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 2L, 4L))) // header dropped; alpha-beta-gamma + delta
    assert(got(2L) == ((2L, 1L, 2L))) // header dropped; epsilon-zeta kept
    assert(got(3L) == ((1L, 0L, 0L))) // fully boilerplate doc
    assert(got(4L) == ((2L, 2L, 4L))) // nothing dropped
  }

  test("activeSegments: hangover bridges 1-gaps, splits larger, per-media") {
    import spark.implicits._
    // media 1: actives 0,1,2,4 (the 1-hole at 3 is bridged by gap=1),
    // then 8 after a 3-hole (split); media 2: one isolated active
    val wins = Seq((1L, 0L, 1), (1L, 1L, 1), (1L, 2L, 1), (1L, 3L, 0),
      (1L, 4L, 1), (1L, 5L, 0), (1L, 6L, 0), (1L, 7L, 0), (1L, 8L, 1),
      (2L, 5L, 1), (2L, 6L, 0)).toDF("media_id", "win_no", "active")
    val got = graft.ops.MediaOps.activeSegments(wins, gap = 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 0L, 4L, 4L), (1L, 2L, 8L, 8L, 1L),
      (2L, 1L, 5L, 5L, 1L)))
  }

  test("Trajectory.frechet matches the recursive definition; orders where Hausdorff cannot") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // 8 random 5-point walks + trajectory 8 = reverse of trajectory 0
    val base = (0 until 8).map(t =>
      (0 until 5).map(i => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)))
    val all = base :+ base.head.reverse
    val pts = all.zipWithIndex.flatMap { case (vs, t) =>
      vs.zipWithIndex.map { case ((x, y), i) => (t.toLong, i.toLong, x, y) }
    }.toDF("traj_id", "seq", "px", "py")
    val pairs = (for { a <- 0 until 9; b <- (a + 1) until 9 }
      yield (a.toLong, b.toLong)).toDF("t1", "t2")
    val got = graft.ops.Trajectory.frechet(pts, pairs)
      .as[(Long, Long, Int, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    // reference: memoized recursive definition
    def ref(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long = {
      val memo = scala.collection.mutable.Map.empty[(Int, Int), Long]
      def d2(i: Int, j: Int) = {
        val dx = a(i)._1 - b(j)._1; val dy = a(i)._2 - b(j)._2
        dx * dx + dy * dy
      }
      def ca(i: Int, j: Int): Long = memo.getOrElseUpdate((i, j), {
        if (i == 0 && j == 0) d2(0, 0)
        else {
          val preds = Seq(
            if (i > 0) Some(ca(i - 1, j)) else None,
            if (j > 0) Some(ca(i, j - 1)) else None,
            if (i > 0 && j > 0) Some(ca(i - 1, j - 1)) else None).flatten
          math.max(d2(i, j), preds.min)
        }
      })
      ca(a.length - 1, b.length - 1)
    }
    for { a <- 0 until 9; b <- (a + 1) until 9 } {
      assert(got((a, b)) == ref(all(a), all(b)), s"pair ($a,$b)")
    }
    // trajectory 8 visits exactly trajectory 0's points (Hausdorff 0) but
    // in reverse order — Fréchet must see the difference unless the path
    // is a palindrome
    if (base.head != base.head.reverse) assert(got((0L, 8L)) > 0L)
  }
}
