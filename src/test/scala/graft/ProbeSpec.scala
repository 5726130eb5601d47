package graft

/** graft.Probe's entry: one untimed warm run, then per-rep walls, the
  * last rep's job table and its executed plan, for the same rows the
  * SparkEntry query returns.
  */
class ProbeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("Probe.run reports every rep's wall, the last rep's jobs and its post-AQE plan") {
    val name = "q05_ratio_by_flag"
    val Seq(r) = Probe.run(spark, dir, reps = 2, Seq(name))
    assert(r.name == name)
    assert(r.walls.size == 2 && r.walls.forall(_ > 0.0), r.walls)
    assert(r.jobs.nonEmpty)
    assert(r.jobs.forall(j => j.stages >= 1 && j.tasks >= 1 && j.endMs >= j.startMs), r.jobs)
    assert(r.plan.contains("AdaptiveSparkPlan isFinalPlan=true"), r.plan)
    assert(r.rows > 0 && r.rows == SparkEntry.queries(name)(spark, dir).count())
  }
}
