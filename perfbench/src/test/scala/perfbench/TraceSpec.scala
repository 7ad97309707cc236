package perfbench

import java.util.Properties
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def job(r: TraceRecorder, id: Int, start: Long, end: Long, site: String,
                  sqlExecution: Boolean): Unit = {
    val props = new Properties
    if (sqlExecution) props.setProperty("spark.sql.execution.id", id.toString)
    val stage = new StageInfo(id, 0, site, 1, Seq.empty, Seq.empty, "", null,
      Seq.empty, None, 0, false, 0)
    r.onJobStart(SparkListenerJobStart(id, start, Seq(stage), props))
    r.onJobEnd(SparkListenerJobEnd(id, end, JobSucceeded))
  }

  test("jobs are attributed to the query and phase they started in") {
    val r = new TraceRecorder(4)
    // query q: build [1000, 1100), action [1100, 1300)
    job(r, 1, 1010, 1050, "parquet at Tables.scala:36", sqlExecution = false)
    job(r, 2, 1040, 1090, "localCheckpoint at Dedup.scala:88", sqlExecution = true)
    job(r, 3, 1150, 1400, "save at Harness.scala:112", sqlExecution = true)
    job(r, 4, 1500, 1600, "save at Harness.scala:112", sqlExecution = true)
    val q = QuerySpan("q", "dedup", 1000, 1100, 1300, ok = true)
    val m = r.summarize(Seq(q))
    assert(m("exec.jobs") == 3)
    assert(m("sources.meta_jobs") == 1)
    assert(math.abs(m("sources.meta_s") - 0.040) < 1e-9)
    assert(m("build.jobs") == 2)
    assert(math.abs(m("build.s") - 0.100) < 1e-9)
    // jobs cover [1010, 1090) and [1150, 1300) of the query: 230 of 300 ms
    assert(math.abs(m("driver.gap_s") - 0.070) < 1e-9)
    assert(math.abs(m("driver.gap_frac") - 0.070 / 0.300) < 1e-9)
  }

  test("job time attributed to a query never exceeds its wall time") {
    val r = new TraceRecorder(4)
    for (i <- 0 until 6) job(r, i, 990 + 20 * i, 1400, s"count at X.scala:$i", sqlExecution = true)
    val q = QuerySpan("q", "analytics", 1000, 1000, 1200, ok = true)
    val m = r.summarize(Seq(q))
    assert(m("driver.gap_s") >= 0.0)
    assert(m("driver.gap_frac") >= 0.0 && m("driver.gap_frac") <= 1.0)
  }

  test("every layer metric is reported, also for an empty pass") {
    val names = TraceRecorder.layerNames
    assert(names.contains("streaming.wal_commit_s") && names.contains("exec.skew"))
    assert(new TraceRecorder(4).summarize(Nil).values.forall(v => !v.isNaN))
  }
}
