package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Run `body` as traced op `i`, the way the runner does. */
  private def traced(t: Tracer, i: Int)(body: => Unit): OpSpan = {
    val op = new OpSpan(i, "test", s"op$i", 0)
    t.begin(op)
    op.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    body
    op.wallMs = (System.nanoTime() - t0) / 1e6
    t.end(op)
    op
  }

  test("an op known to run N jobs is credited exactly N jobs") {
    val t = new Tracer(spark)
    try {
      val sc = spark.sparkContext
      // each RDD action is exactly one job
      val three = traced(t, 0) { (1 to 3).foreach(_ => sc.parallelize(1 to 100, 4).count()) }
      sc.parallelize(1 to 10, 2).count() // untraced: credited to nobody
      val one = traced(t, 1) { sc.parallelize(1 to 100, 3).map(_ * 2).sum() }
      val none = traced(t, 2) { Thread.sleep(5) }
      assert(three.jobs.size == 3)
      assert(one.jobs.size == 1)
      assert(none.jobs.isEmpty)
      assert(three.sumJobs(_.tasks.toDouble) == 12)
      assert(one.sumJobs(_.tasks.toDouble) == 3)
      Seq(three, one, none).foreach { op =>
        assert(op.jobs.forall(_.endMs >= 0), "every credited job has ended")
        assert(math.abs(op.driverGapMs + op.jobBusyMs - op.wallMs) < 1e-9)
        assert(op.jobBusyMs <= op.wallMs)
      }
      assert(t.strayJobs == 0)
    } finally t.detach()
  }

  test("a Dataset action is credited its query execution and planning phases") {
    val t = new Tracer(spark)
    try {
      import spark.implicits._
      val op = traced(t, 10) {
        spark.range(1000).groupBy(($"id" % 7).as("k")).count().collect()
      }
      assert(op.queries.size == 1)
      val q = op.queries.head
      assert(q.exchanges == 1)
      assert(q.analysisMs >= 0 && q.optimizerMs >= 0 && q.planningMs >= 0)
      assert(op.jobs.nonEmpty)
    } finally t.detach()
  }
}
