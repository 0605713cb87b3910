package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A query that fails is recorded as an attempted, failed operation with
  * its error; it is never dropped from the run's record.
  */
class FailureRecordSpec extends AnyFunSuite {
  test("a failing query stays in the record as a failed operation") {
    val work = Files.createTempDirectory("perfbench-spec")
    val emptyData = Files.createDirectories(work.resolve("no-tables"))
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("wh").toString).getOrCreate()
    try {
      val args = new Args(Array("--panel", "b1_filter_project,b2_agg_q1",
        "--seed", "1", "--data", emptyData.toString, "--op-timeout-s", "60",
        "--hard-stop-s", "60", "--dump", "0"))
      val w = new QueryWorkload(spark, args, work, new Trace(false))
      w.prepare(1)
      val ops = w.timed(0).toMap.apply("ops").asInstanceOf[Vector[Json.Raw]].map(_.json)
      assert(ops.size == 2)
      assert(ops.forall(_.contains("\"ok\":false")))
      assert(ops.forall(_.contains("\"error\":\"")))
    } finally spark.stop()
  }
}
