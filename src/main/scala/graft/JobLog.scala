package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The Spark jobs one block of driver code submits, one row per job:
  * wall time, stage and task counts, and a description (the job
  * description when one is set, else the call site of its last stage).
  *
  * Jobs are attributed through a local property, which Spark copies into
  * every job the calling thread (or a thread it starts) submits, so jobs
  * of other threads on the same SparkContext are not counted. The
  * listener bus is asynchronous but ordered: after the block returns, a
  * sentinel job is submitted, and once its start event arrives every
  * event of the block's jobs has been delivered.
  */
object JobLog {

  final case class Job(id: Int, desc: String, startMs: Long, endMs: Long,
                       stages: Int, tasks: Int) {
    def wallS: Double = (endMs - startMs) / 1e3
  }

  private val TagKey = "graft.jobLog"

  /** Runs `body`, returning its result and the jobs it submitted, by id. */
  def record[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val sentinel = s"$tag-sentinel"
    val started = new ConcurrentHashMap[Int, Job]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))) match {
          case Some(`tag`) =>
            val desc = Option(e.properties.getProperty("spark.job.description"))
              .filter(_.nonEmpty)
              .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
            started.put(e.jobId, Job(e.jobId, desc, e.time, e.time,
              e.stageInfos.size, e.stageInfos.map(_.numTasks).sum))
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
    }
    val outer = sc.getLocalProperty(TagKey)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(TagKey, tag)
      val out = body
      sc.setLocalProperty(TagKey, sentinel)
      sc.parallelize(Seq(1), 1).count()
      require(drained.await(30, TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      val jobs = started.values.asScala.toSeq.sortBy(_.id)
        .map(j => j.copy(endMs = ended.getOrDefault(j.id, j.startMs)))
      (out, jobs)
    } finally {
      sc.setLocalProperty(TagKey, outer)
      sc.removeSparkListener(listener)
    }
  }
}
