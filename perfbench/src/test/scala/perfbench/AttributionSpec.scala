package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Jobs are attributed through the tag the benchmark sets on its own
  * thread, so a query that builds a `newSession()` child is still counted.
  * `dedup_jaccard` runs on `QueryGroup.cpuDenseSession`, a child session.
  */
class AttributionSpec extends AnyFunSuite {
  private val data =
    sys.env.getOrElse("PERFBENCH_TEST_DATA", "/root/testdata/sf0.01")

  test("dedup_jaccard on a child session reports operators.jobs > 0") {
    val work = Files.createTempDirectory("perfbench-spec")
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.extraListeners", classOf[JobListener].getName)
      .config("spark.sql.queryExecutionListeners",
        classOf[PlanListener].getName)
      .getOrCreate()
    try {
      val ctx = new Ctx(spark, 1, data, work)
      Trace.reset(); Trace.on = true
      val rec = ctx.query("dedup_jaccard", data)
      Trace.drain(); Trace.on = false
      assert(rec.ok, ctx.failures.mkString("; "))
      assert(Trace.countsOf(rec.op).jobs > 0)
      assert(Trace.countsOf(rec.op).tasks > 0)
      val layers =
        Main.perLayer(Seq(rec), new BatchMix(ctx), 2, rec.wallS, 0.0)
      assert(layers("operators.jobs") > 0)
      assert(layers("plans.analysis_ms") >= 0)
    } finally {
      spark.stop()
      Disk.delete(work)
    }
  }
}
