package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Session isolation of the Verify dump: queries run concurrently from a
  * thread pool, and some register session temp views (`orders_gs`, `pts`),
  * so each must be built in its own child session.
  */
class VerifySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  // a fresh SparkContext, as Verify.main starts one: child sessions inherit
  // the SQL conf the context was started with
  private lazy val spark = {
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.sql.session.timeZone", "America/Los_Angeles")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  test("each query is built in a child session that keeps its temp views") {
    for (name <- Seq("q_grouping_sets", "sql_surface")) {
      val child = Verify.build(spark, SparkEntry.queries, name, sfDir).sparkSession
      assert(child ne spark, name)
      for (k <- Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone"))
        assert(child.conf.get(k) === spark.conf.get(k), s"$name: $k")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
    assert(spark.conf.get("spark.sql.session.timeZone") === "America/Los_Angeles")
    for (view <- Seq("orders_gs", "pts"))
      assert(!spark.catalog.tableExists(view), s"$view leaked into the parent session")
  }
}
