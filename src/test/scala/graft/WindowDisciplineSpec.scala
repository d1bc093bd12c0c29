package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for the round-5 window discipline: NO registry query
  * may plan a global (empty-partition-spec) Window — the shape that moves
  * the whole input to one task. Checked on the OPTIMIZED logical plan,
  * i.e. after the optimizer has folded constant partition keys, so a
  * partition key the optimizer can eliminate (a bare literal) fails here
  * exactly as it would warn at run time.
  *
  * Complements the run-level evidence (a Verify run logs zero "No
  * Partition Defined" warnings) with a per-plan assertion that runs in CI
  * without executing the queries.
  */
class WindowDisciplineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def globalWindows(p: LogicalPlan): Seq[LWindow] =
    p.collect { case w: LWindow if w.partitionSpec.isEmpty => w }

  test("no core-tier query plans an unpartitioned window") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      // building the frame may run bounded driver-side training/collect
      // steps (sf0.001 fixtures); the plan check itself executes nothing
      val df =
        try SparkEntry.queries(name)(spark, sfDir)
        catch { case e: Throwable =>
          fail(s"$name failed to build at sf0.001: ${e.getMessage}")
        }
      if (globalWindows(df.queryExecution.optimizedPlan).nonEmpty)
        offenders += name
    }
    assert(offenders.isEmpty,
      s"queries planning a global window: ${offenders.mkString(", ")}")
  }
}
