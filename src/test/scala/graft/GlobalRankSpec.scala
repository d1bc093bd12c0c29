package graft

import graft.ops.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bit-equality specs for the range-partitioned two-phase global ranking
  * primitives (ops.GlobalRank) against the single-partition global window
  * they replace — the exactness the de-globalized registry queries
  * (events_rfm, dq_id_gap_census, store_rle_gain, …) rely on.
  *
  * Inputs use more range partitions than distinct keys in one case so some
  * partitions are EMPTY, exercising the boundary-carry skip.
  */
class GlobalRankSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def df(n: Int) = {
    import spark.implicits._
    // non-monotone, duplicate-heavy sort values; id breaks ties totally
    (0 until n).map(i => (i.toLong, ((i * 37) % 11).toLong, (i % 5).toLong))
      .toDF("id", "v", "grp")
  }

  test("withRowNumber equals global row_number for every row") {
    val in = df(500)
    val keys = Seq(col("v").desc, col("id").asc)
    val expect = in.withColumn("rn",
        row_number().over(Window.orderBy(keys: _*)).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = GlobalRank.withRowNumber(in, "rn", keys, numParts = 7)
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("withLag equals global lag incl. boundary carry and empty partitions") {
    val in = df(40) // 64 parts >> 40 rows: most range partitions are empty
    val keys = Seq(col("v").asc, col("id").asc)
    val expect = in.withColumn("p", lag("v", 1).over(Window.orderBy(keys: _*)))
      .select("id", "p").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    val got = GlobalRank.withLag(in, "v", "p", keys, numParts = 64)
      .select("id", "p").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got === expect)
  }

  test("withLags carries both columns through one shared order") {
    val in = df(200)
    val keys = Seq(col("v").asc, col("id").asc)
    val expect = in
      .withColumn("pv", lag("v", 1).over(Window.orderBy(keys: _*)))
      .withColumn("pg", lag("grp", 1).over(Window.orderBy(keys: _*)))
      .select("id", "pv", "pg").collect()
      .map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    val got = GlobalRank.withLags(in, Seq("v" -> "pv", "grp" -> "pg"), keys,
        numParts = 5)
      .select("id", "pv", "pg").collect()
      .map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    assert(got === expect)
  }

  test("withCumSum equals global running sum") {
    val in = df(300)
    val keys = Seq(col("v").desc, col("id").asc)
    val expect = in.withColumn("cs", sum("grp").over(Window.orderBy(keys: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = GlobalRank.withCumSum(in, "grp", "cs", keys, numParts = 6)
      .select("id", "cs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("withCumSum carries the running total through null values") {
    import spark.implicits._
    // non-null only on every 25th id (57, 82, ...): range partitions open
    // with runs of nulls after earlier values (one of them with a carried
    // total of exactly 0), and the global prefix itself starts null
    val in = (0 until 300).map { i =>
      (i.toLong, if (i >= 40 && i % 25 == 7) Some((i / 25 % 3 - 1).toLong) else None)
    }.toDF("id", "nv")
    val keys = Seq(col("id").asc)
    def rows(d: DataFrame) = d.select("id", "cs").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    val expect = rows(in.withColumn("cs", sum("nv").over(Window.orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val got = rows(GlobalRank.withCumSum(in, "nv", "cs", keys, numParts = 6))
    assert(got.keySet === expect.keySet)
    val wrong = expect.filter { case (id, cs) => got(id) != cs }
    assert(wrong.isEmpty, s"running sum differs at ids ${wrong.keys.toSeq.sorted}")
  }

  test("withNtile equals global ntile for ragged and even bucket sizes") {
    for ((n, b) <- Seq((100, 5), (103, 5), (3, 5), (17, 4))) {
      val in = df(n)
      val keys = Seq(col("v").asc, col("id").asc)
      val expect = in.withColumn("q", ntile(b).over(Window.orderBy(keys: _*)))
        .select("id", "q").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = GlobalRank.withNtile(in, "q", b, keys, numParts = 6)
        .select("id", "q").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === expect, s"n=$n b=$b")
    }
  }

  test("withNtile adds no Spark job to building its row numbering") {
    val in = df(100)
    val keys = Seq(col("v").asc, col("id").asc)
    val (_, rn) = Listened(spark.sparkContext)(
      GlobalRank.withRowNumber(in, "rn", keys, numParts = 6))
    val (_, nt) = Listened(spark.sparkContext)(
      GlobalRank.withNtile(in, "q", 5, keys, numParts = 6))
    assert(nt.jobs == rn.jobs,
      s"withNtile launched ${nt.jobs} jobs to build, withRowNumber ${rn.jobs}")
  }

  test("withPrecedingMin equals the global strictly-preceding min, nulls ignored") {
    import spark.implicits._
    // 64 parts >> 60 rows leaves most range partitions empty; every 7th
    // value is null
    val in = (0 until 60).map(i => (i.toLong, ((i * 37) % 11).toLong,
        if (i % 7 == 3) None else Some(((i * 13) % 17).toLong)))
      .toDF("id", "v", "y")
    val keys = Seq(col("v").asc, col("id").asc)
    def byId(d: DataFrame) = d.select("id", "m").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val expect = byId(in.withColumn("m", min("y").over(Window.orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, -1))))
    for (parts <- Seq(1, 4, 64))
      assert(byId(GlobalRank.withPrecedingMin(in, "y", "m", keys, numParts = parts)) === expect,
        s"numParts=$parts")
  }

  test("plans contain no unpartitioned-window exchange to a single partition") {
    val in = df(100)
    val keys = Seq(col("v").asc, col("id").asc)
    for (plan <- Seq(
        GlobalRank.withRowNumber(in, "rn", keys),
        GlobalRank.withLag(in, "v", "p", keys),
        GlobalRank.withCumSum(in, "grp", "cs", keys),
        GlobalRank.withPrecedingMin(in, "grp", "m", keys),
        GlobalRank.withNtile(in, "q", 5, keys))) {
      val phys = plan.queryExecution.executedPlan.toString
      // the only SinglePartition exchanges allowed are those feeding the
      // tiny per-range-partition aggregate (bounded by numParts rows):
      // their SUBTREE (more-indented following lines) must contain the
      // _gr_pid grouping; a full-input single-partition sort would not
      val lines = phys.linesIterator.toVector
      def indent(l: String) = l.takeWhile(c => !c.isLetter && c != '+').length
      val offenders = lines.zipWithIndex.collect {
        case (l, i) if l.contains("Exchange SinglePartition") =>
          val ind = indent(l)
          val subtree = lines.drop(i + 1).takeWhile(s => indent(s) > ind)
          (i, subtree.exists(_.contains("_gr_pid")))
      }.filterNot(_._2)
      assert(offenders.isEmpty, phys)
    }
  }
}
