package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one run of a workload produced, before the oracle checks. */
final class Outcome {
  /** Seconds of each repeated set-up step; `setup_s` is their median. */
  val setupSteps = mutable.ArrayBuffer.empty[Double]
  /** Wall seconds of each timed operation of the workload's main kind,
    * with whether it was traced.
    */
  val ops = mutable.ArrayBuffer.empty[(Double, Boolean)]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Input items (CSV rows, page views, documents) over the timed wall. */
  var items = 0L
  var itemsWallS = 0.0
  /** Metrics named after the workload, for the human summary. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Extra fields handed to the oracle checks. */
  val checks = mutable.LinkedHashMap.empty[String, Any]

  def fail(msg: String): Unit = { failed += 1; failures += msg }

  /** Walls of alike operations, traced and untraced, that
    * `trace.overhead_frac` compares; the timed operations by default.
    */
  val overheadSamples = mutable.ArrayBuffer.empty[(Double, Boolean)]

  def overheadFrac: Double = {
    val xs = if (overheadSamples.nonEmpty) overheadSamples else ops
    Stats.median(xs.collect { case (w, true) => w }.toSeq) /
      Stats.median(xs.collect { case (w, false) => w }.toSeq) - 1.0
  }
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val runDir: File) {
  val tracer = new Tracer(spark.sparkContext, listen = trace)
  val out = new Outcome

  def dir(name: String): File = { val f = new File(runDir, name); f.mkdirs(); f }

  /** Runs `op(i)` until `seconds` have passed and at least `minOps` ran.
    * In a traced run every other operation is traced, so the untraced
    * ones give the baseline for `trace.overhead_frac`.
    */
  def measure(minOps: Int)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      tracer.enabled = trace && i % 2 == 0
      op(i)
      tracer.enabled = false
      i += 1
    }
  }

  /** Wall seconds of `body`, which must not include checks. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Ctx {
  /** Per-key median over per-operation metric maps. */
  def medians(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.flatMap(_.keys).distinct.map(k => k -> Stats.median(maps.flatMap(_.get(k)))).toMap
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). 0 when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --run-dir DIR --cpus C`. Writes DIR/result.json (always,
  * also on failure) and DIR/trace.json for a traced run.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "hospital_load" -> HospitalLoad.run,
    "dashboard" -> Dashboard.run,
    "corpus_build" -> CorpusBuild.run)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val runDir = new File(a("run-dir"))
    val resultFile = new File(runDir, "result.json")
    val started = System.nanoTime()
    var ctx: Ctx = null
    val body = try {
      val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
      val (spark, sessionS) = {
        val t0 = System.nanoTime()
        val s = graft.GraftSession.local(a("cpus"))
        (s, (System.nanoTime() - t0) / 1e9)
      }
      ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble, a("trace") == "1", runDir)
      run(ctx)
      if (ctx.trace) {
        ctx.tracer.listener.drain()
        write(new File(runDir, "trace.json"), ctx.tracer.toJson)
        ctx.out.layer("trace.overhead_frac") = ctx.out.overheadFrac
      }
      render(workload, ctx, sessionS, None, started)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload failed:")
        e.printStackTrace()
        render(workload, ctx, 0.0, Some(e.toString), started)
    }
    write(resultFile, body)
    if (ctx != null) ctx.spark.stop()
  }

  private def render(workload: String, ctx: Ctx, sessionS: Double, error: Option[String],
                     started: Long): String = {
    val o = Option(ctx).map(_.out).getOrElse(new Outcome)
    val walls = o.ops.map(_._1).toSeq
    Json.obj(
      "workload" -> workload,
      "error" -> error,
      "session_s" -> sessionS,
      "jvm_wall_s" -> (System.nanoTime() - started) / 1e9,
      "setup_steps_s" -> o.setupSteps.toSeq,
      "op_walls_s" -> walls,
      "op_traced" -> o.ops.map(_._2).toSeq,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "failures" -> o.failures.take(20).toSeq,
      "metrics" -> Map(
        "setup_s" -> Stats.median(o.setupSteps.toSeq),
        "op_p50_s" -> Stats.median(walls),
        "op_p90_s" -> Stats.quantile(walls, 0.9),
        "items_per_s" -> (if (o.itemsWallS > 0) o.items / o.itemsWallS else 0.0),
        "peak_rss_mb" -> peakRssMb()),
      "named" -> o.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layer" -> o.layer.toMap,
      "checks" -> o.checks.toMap).rendered
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  def write(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
}
