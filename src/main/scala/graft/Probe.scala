package graft

import org.apache.spark.sql.SparkSession

/** Dev probe of SparkEntry queries: wall time per rep, then the Spark
  * jobs and the executed (post-AQE) plan of the last rep.
  *
  *   runMain graft.Probe <sfDir> <reps> <queryName>...
  *
  * Each query runs once untimed (JIT and codegen warm), then `reps`
  * timed runs. A timed run is what graft.Bench times: build the query
  * and count its rows. The job table (wall, stages, tasks, description
  * per job) tells a fixture-bound query, many tiny sequential jobs,
  * from a data-bound one, few large jobs. Between runs, outside the
  * timed region, every cached block is dropped, as graft.Bench does.
  * SPARK_GRAFT_CPUS sets the local core count (default: all cores).
  * To keep a plan, redirect stdout.
  */
object Probe {

  final case class Report(name: String, walls: Seq[Double], rows: Long,
                          jobs: Seq[JobLog.Job], plan: String)

  def run(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Seq[Report] = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    names.map { name =>
      val query = SparkEntry.queries(name)
      def once(): (Double, Long, Seq[JobLog.Job], String) = {
        val ((wall, rows, plan), jobs) = JobLog.record(spark) {
          val t0 = System.nanoTime()
          // the plan Dataset.count() runs, kept to read its final form
          val counted = query(spark, sfDir).groupBy().count()
          val rows = counted.collect().head.getLong(0)
          ((System.nanoTime() - t0) / 1e9, rows, counted.queryExecution.executedPlan)
        }
        dropCaches(spark)
        (wall, rows, jobs, plan.toString)
      }
      once()
      val timed = (1 to reps).map(_ => once())
      val (_, rows, jobs, plan) = timed.last
      Report(name, timed.map(_._1), rows, jobs, plan)
    }
  }

  private def dropCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def printReport(r: Report): Unit = {
    r.walls.zipWithIndex.foreach { case (w, i) =>
      println(f"[probe] ${r.name} rep${i + 1}: $w%.3f s")
    }
    println(f"===== ${r.name}: ${r.rows} rows, ${r.jobs.size} jobs, " +
      f"${r.jobs.map(_.wallS).sum}%.3f s in-job (last rep) =====")
    r.jobs.foreach { j =>
      println(f"  job ${j.id}%4d ${j.wallS}%8.3f s  stages=${j.stages}%3d tasks=${j.tasks}%5d  ${j.desc.take(100)}")
    }
    println(s"===== ${r.name}: executed plan (last rep) =====")
    println(r.plan)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = GraftSession.local(cpus)
    try args.drop(2).foreach { name =>
      run(spark, args(0), args(1).toInt, Seq(name)).foreach(printReport)
    } finally spark.stop()
  }
}
