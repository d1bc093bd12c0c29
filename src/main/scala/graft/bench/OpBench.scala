package graft.bench

import org.apache.spark.sql.SparkSession

/** Micro-bench for individual SparkEntry queries: times each named query
  * `passes` times through the noop sink (full evaluation — count() would let
  * column pruning skip operator work) and prints min/median wall seconds.
  *
  * Usage: runMain graft.bench.OpBench <sfDir> <q1,q2,...> [passes]
  * Env:   SPARK_GRAFT_CPUS (default 32)
  */
object OpBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val passes = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb session first-job warmup so pass 1 of the first query is
    // comparable to later passes
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    for (name <- names if name == "headline") {
      // plan audit + timing of the headline workload itself
      val k = sys.env.getOrElse("SPARK_GRAFT_HEADLINE_K", "1024").toInt
      val pts = Headline.points(spark, sfDir, k)
      val joined = graft.ops.Elevation.lookupBroadcast(pts,
        Headline.tiles(spark).as[graft.core.TileRow](
          org.apache.spark.sql.Encoders.product[graft.core.TileRow]))
      joined.agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("elev"))).explain("formatted")
      Headline.run(spark, sfDir, 1)
      val times = (1 to passes).map(_ => Headline.run(spark, sfDir, k)._2).sorted
      println(f"headline min=${times.head}%.2fs all=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    for (name <- names if name != "headline") {
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"$name%-20s min=${times.head}%.2fs med=${times(times.size / 2)}%.2fs all=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
