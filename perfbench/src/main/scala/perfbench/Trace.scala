package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.aragon.AragonPipeline.Warehouse
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed region around one of the benchmark's own calls. Spans nest:
  * `parent` is the enclosing span's id (0 at top level).
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startNs: Long, val startMs: Long, val gcStartMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  var gcEndMs: Long = 0L
  def wallS: Double = (endNs - startNs) / 1e9
  def gcS: Double = (gcEndMs - gcStartMs) / 1e3
}

/** Per-job record built from listener events. `span` is the innermost
  * benchmark span active on the thread that submitted the job.
  */
final class JobRec(val jobId: Int, val span: Int, val startMs: Long, val callSite: String) {
  var endMs: Long = -1L
  var tasks = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  def wallS: Double = math.max(0L, endMs - startMs) / 1e3

  /** The innermost `graft/ext/<File>.scala` frame of the job's call site. */
  def extFile: Option[String] = callSite.linesIterator
    .find(_.trim.startsWith("graft.ext."))
    .flatMap(l => "\\(([A-Za-z0-9_]+)\\.scala".r.findFirstMatchIn(l).map(_.group(1)))

  def callSiteHas(frame: String): Boolean = callSite.contains(frame)
}

/** Job, stage and task metrics for jobs submitted inside a span. Jobs
  * without the span property (untraced calls) cost one property lookup.
  *
  * A job's call site is that of its SQL execution when it has one: jobs
  * that Spark submits from its own threads (broadcasts, adaptive query
  * stages) carry a call site without the caller's frames.
  */
final class TraceListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val executionSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      val own = Option(x.details).getOrElse("")
      val root = x.rootExecutionId.filter(_ != x.executionId).flatMap(r => Option(executionSite.get(r)))
      executionSite.put(x.executionId,
        if (own.linesIterator.exists(_.startsWith("graft.")) || root.isEmpty) own else root.get)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionSite.get(id.toLong)))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
      val rec = new JobRec(e.jobId, s.toInt, e.time, site)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(id => stageJob.put(id, rec))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
      }
    }

  /** Waits until every recorded job has ended (the bus is asynchronous). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

/** Spans kept in memory and written when the run ends. When `enabled`
  * is false a span only runs its body, so traced and untraced calls can
  * be interleaved in one run. The listener is registered only when
  * `listen` is set: an untraced run carries no tracing code at all.
  */
final class Tracer(sc: SparkContext, listen: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new TraceListener
  if (listen) sc.addSparkListener(listener)
  private var current = 0
  var enabled = false

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length + 1, name, current, System.nanoTime(),
        System.currentTimeMillis(), Tracer.gcMillis())
      spans += s
      val prev = current
      current = s.id
      setSpan(s.id, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcEndMs = Tracer.gcMillis()
        current = prev
        if (prev == 0) { sc.setLocalProperty(Tracer.SpanKey, null); sc.clearJobGroup() }
        else setSpan(prev, spans(prev - 1).name)
      }
    }

  private def setSpan(id: Int, name: String): Unit = {
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  private def descendantIds(s: Span): Set[Int] = {
    val ids = mutable.Set(s.id)
    spans.foreach(x => if (ids(x.parent)) ids += x.id) // parents precede children
    ids.toSet
  }

  /** Jobs submitted inside span `s` or any span nested in it. */
  def jobsOf(s: Span): Seq[JobRec] = {
    val ids = descendantIds(s)
    listener.jobs.values.asScala.filter(j => ids(j.span)).toSeq.sortBy(_.jobId)
  }

  /** Seconds of the span covered by at least one running job. */
  def inJobS(s: Span): Double = {
    val iv = jobsOf(s).map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    covered / 1e3
  }

  /** The Spark runtime split of one top-level span. */
  def runtime(s: Span): Map[String, Double] = {
    val js = jobsOf(s)
    val inJob = inJobS(s)
    Map(
      "spark.driver_gap_s" -> math.max(0.0, s.wallS - inJob),
      "spark.in_job_s" -> inJob,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spillBytes).sum.toDouble,
      "spark.gc_s" -> s.gcS,
      "spark.peak_exec_mem_bytes" -> (0L +: js.map(_.peakExecMem)).max.toDouble)
  }

  def toJson: String = {
    val sp = spans.map(s => Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "wall_s" -> s.wallS, "gc_s" -> s.gcS))
    val jb = listener.jobs.values.asScala.toSeq.sortBy(_.jobId).map(j => Json.obj(
      "job" -> j.jobId, "span" -> j.span, "start_ms" -> j.startMs, "wall_s" -> j.wallS,
      "tasks" -> j.tasks, "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes,
      "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
      "spill_bytes" -> j.spillBytes, "peak_exec_mem_bytes" -> j.peakExecMem,
      "ext_file" -> j.extFile.getOrElse(""),
      "call_site" -> j.callSite.linesIterator.find(_.startsWith("graft."))
        .getOrElse(j.callSite.linesIterator.take(1).mkString)))
    Json.obj("spans" -> Json.arr(sp.toSeq: _*), "jobs" -> Json.arr(jb: _*)).rendered
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** A `Warehouse` that gives its key-snapshot reads and appends their own
  * child spans; everything else is the wrapped warehouse's behaviour.
  */
final class TracedWarehouse(inner: Warehouse, tracer: Tracer) extends Warehouse {
  override def table(spark: SparkSession, name: String): Option[DataFrame] =
    tracer.span(s"sources.table:$name")(inner.table(spark, name))

  override def append(df: DataFrame, table: String): Unit =
    tracer.span(s"sources.append:$table")(inner.append(df, table))
}
