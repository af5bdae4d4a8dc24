package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")

  override def afterAll(): Unit = spark.stop()

  test("jobs are attributed by the op local property; other threads' jobs are not") {
    val jobs = new JobListener
    val sc = spark.sparkContext
    sc.addSparkListener(jobs)
    try {
      val t0 = System.currentTimeMillis()
      sc.setLocalProperty(Trace.OpKey, "7")
      try spark.range(1000).selectExpr("sum(id)").collect()
      finally sc.setLocalProperty(Trace.OpKey, null)
      // a thread created while no op is set carries no op property
      val other = new Thread(() => { spark.range(10).count(); () })
      other.start(); other.join()
      val t1 = System.currentTimeMillis()
      org.apache.spark.BenchAccess.drainListeners(sc)
      val js = jobs.jobs.asScala.toSeq
      assert(js.exists(_.op.contains(7)))
      assert(js.exists(_.op.isEmpty))
      val op = OpRec(7, "q", t0, t1, (t1 - t0).toDouble, ok = true)
      val per = Attribution.perOp(Seq(op), js, jobs.stages.asScala.toSeq, Nil)(7)
      assert(per.jobs == js.count(_.op.contains(7)))
      assert(per.stages >= per.jobs)
      assert(per.tasks >= per.stages)
      assert(Attribution.unattributed(js, t0, t1) == js.count(_.op.isEmpty))
    } finally sc.removeSparkListener(jobs)
  }

  test("residual is op wall minus the union of job and planning intervals") {
    val op = OpRec(1, "x", 1000, 2000, 1000.0, ok = true)
    val jobs = Seq(JobRec(1, Some(1), 1100, 1300, Seq(1)), JobRec(2, Some(1), 1200, 1400, Seq(2)),
      JobRec(3, Some(2), 1500, 1900, Seq(3)))
    val stages = Seq(StageRec(1, 1, 50, 0, 0, 0), StageRec(2, 4, 120, 10, 20, 0),
      StageRec(3, 8, 999, 0, 0, 0))
    val plans = Seq(
      PlanRec(mainSession = true, Map("analysis" -> (1000L, 1050L),
        "optimization" -> (1050L, 1080L), "planning" -> (1080L, 1100L))),
      // a streaming query's execution on its own session is not the op's
      PlanRec(mainSession = false, Map("analysis" -> (1500L, 1900L))))
    val l = Attribution.perOp(Seq(op), jobs, stages, plans)(1)
    assert(l.jobs == 2)
    assert(l.stages == 2 && l.singleTaskStages == 1 && l.tasks == 5)
    assert(l.busyMs == 300)
    assert(l.taskRunMs == 170)
    assert(l.executions == 1)
    assert(l.analysisMs == 50 && l.optimizationMs == 30 && l.planningMs == 20)
    // covered: [1000, 1400) = 400 ms of a 1000 ms op
    assert(l.residualMs == 600.0)
  }
}
