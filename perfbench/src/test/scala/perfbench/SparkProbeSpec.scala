package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SparkProbeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the per-layer split of a synthetic op sums to within 10% of its wall time") {
    val sc = spark.sparkContext
    sc.range(0, 2, 1, 2).count() // first job pays JVM/scheduler warm-up
    val probe = new SparkProbe(sc)
    sc.addSparkListener(probe)
    val tracer = new Tracer(enabled = true)
    tracer.beginOp(0, traced = true)
    probe.begin()
    val t0 = System.nanoTime()
    tracer.span("op") {
      tracer.span("driver.work")(Thread.sleep(300))
      tracer.span("spark.execute")(sc.range(0, 2, 1, 2).foreach(_ => Thread.sleep(400)))
      Thread.sleep(200)
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val m = probe.end()
    sc.removeSparkListener(probe)

    val spans = tracer.spans
    val self = Trace.selfNs(spans)
    val root = spans.find(_.name == "op").get
    assert(self.values.sum == root.durNs) // spans: exact split of the root
    val execMs = spans.find(_.name == "spark.execute").get.durNs / 1e6

    val jobMs = m("spark.job_ms")
    val gapMs = m("spark.driver_gap_ms")
    assert(m("spark.jobs") == 1.0 && m("spark.tasks") == 2.0)
    assert(math.abs(jobMs + gapMs - wallMs) <= 0.1 * wallMs)
    assert(math.abs(jobMs - execMs) <= 0.1 * wallMs)
    assert(math.abs(gapMs - (wallMs - execMs)) <= 0.1 * wallMs)
    assert(m("spark.executor_run_ms") >= 2 * 400 * 0.9)
  }
}
