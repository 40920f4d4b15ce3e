package graft

import graft.core.GraftSession
import org.scalatest.funsuite.AnyFunSuite

/** The pack runner's per-query cost record: every field is written,
  * the counts are consistent with each other and with the run's wall
  * time, every job lands on a query, and a second run of the same
  * query over the prebuilt artifacts costs the same jobs, stages and
  * tasks.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)
  private val dir = "/root/testdata/sf0.001"

  private val fields = Seq("jobs", "stages", "tasks", "task_run_s",
    "task_cpu_s", "gc_s", "busy_s", "idle_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "top_stages", "id", "span_ms", "cpu_ms", "max_task_ms",
    "median_task_ms", "name")

  test("each query run records a complete, repeatable cost") {
    val sc = spark.sparkContext
    val costs = new Bench.CostListener
    sc.addSparkListener(costs)
    try {
      Bench.prebuild(spark, dir)
      val qs = Seq("q241_pq_adc_recall", "q3_revenue_by_nation")
      val runs = for (i <- 1 to 2; q <- qs)
        yield Bench.runQuery(spark, q, dir, s"$q#$i")
      costs.settle(sc)
      assert(runs.forall(_.err.isEmpty), runs)
      val recorded = runs.map(r => r -> costs.cost(r.tag, r.sec))
      for ((r, c) <- recorded) {
        val json = "{" + c.json + "}"
        for (f <- fields)
          assert(json.contains("\"" + f + "\":"), s"${r.tag} misses $f")
        assert(c.jobs >= 1, r.tag)
        assert(c.tasks >= c.stages, r.tag)
        assert(c.busyS <= r.sec, r.tag)
        assert(c.topStages.nonEmpty && c.topStages.size <= 5, r.tag)
      }
      assert(costs.untaggedJobs === 0)
      for (q <- qs) {
        val Seq(a, b) = recorded.collect {
          case (r, c) if r.name == q => (c.jobs, c.stages, c.tasks)
        }
        assert(a === b, s"$q: (jobs, stages, tasks) differ across runs")
      }
    } finally sc.removeSparkListener(costs)
  }
}
