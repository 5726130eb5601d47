package perfbench

import java.io.File
import graft.aragon.AragonPipeline
import graft.aragon.AragonPipeline.{ParquetWarehouse, Warehouse}
import scala.collection.mutable

/** Workload `hospital_load`: the weekly HHS/CMS series loaded one file
  * after another into an initially empty parquet warehouse, each file
  * committed before the next starts. Nothing the program leaves behind
  * between files is freed by the benchmark.
  *
  * Timed operation: one `runHhs` call (`op_p50_s`).
  * `items_per_s` is input CSV rows of every loader call over their wall.
  * At least the five planted deliveries at the head of [[series]] are
  * loaded. Set-up: three fresh warehouses bootstrapped with a small week
  * each (`setup_s` is their median), which also warm the JIT.
  */
object HospitalLoad {

  /** The series: week 0, its month's snapshot, week 1, week 0 delivered
    * again, the snapshot delivered again with 25 new facilities, then
    * weekly files with each new month's snapshot after its first week.
    * The planted re-deliveries come first so that every run loads them.
    */
  def series(gen: HospitalGen): Iterator[Delivery] = {
    val head = Iterator(
      () => gen.hhsWeek(0), () => gen.quality(monthOf(gen, 0)),
      () => gen.hhsWeek(1), () => gen.hhsRedelivery(0),
      () => gen.quality(monthOf(gen, 0), extra = 25, suffix = "-reload"))
    val rest = Iterator.from(2).flatMap { w =>
      val month = monthOf(gen, w)
      if (month != monthOf(gen, w - 1)) Iterator(() => gen.hhsWeek(w), () => gen.quality(month))
      else Iterator(() => gen.hhsWeek(w))
    }
    (head ++ rest).map(_())
  }

  private def monthOf(gen: HospitalGen, w: Int) = gen.weekDate(w).withDayOfMonth(1)

  /** What a loader call reported: rows in, inserted, duplicate, invalid
    * and quarantined (bed rows for HHS files).
    */
  final case class Counts(in: Long, inserted: Long, duplicate: Long, invalid: Long,
                          quarantined: Long)

  /** Runs one delivery through the loader. Returns the wall seconds of
    * the loader call alone, what it reported, and a mismatch against the
    * planted accounting if there is one.
    */
  def load(c: Ctx, d: Delivery, wh: Warehouse, qdir: File): (Double, Counts, Option[String]) = {
    val s = c.spark
    d match {
      case h: HhsDelivery =>
        val (m, wall) = c.timed(c.tracer.span("aragon.runHhs") {
          AragonPipeline.runHhs(s, h.path, wh, qdir.getPath)
        })
        val got = HhsExpect(m.totalRows, m.hospitalsInserted, m.hospitalsDup,
          m.locationsInserted, m.locationsDup, m.bedsInserted, m.bedsDup, m.bedsInvalid,
          csvRows(new File(qdir, "hhs")))
        (wall, Counts(got.total, got.bedsInserted, got.bedsDup, got.bedsInvalid, got.quarantined),
          if (got == h.expect) None else Some(s"${h.label}: got $got, planted ${h.expect}"))
      case q: QualityDelivery =>
        val (m, wall) = c.timed(c.tracer.span("aragon.runQuality") {
          AragonPipeline.runQuality(s, q.path, java.sql.Date.valueOf(q.date), wh, qdir.getPath)
        })
        val got = QualityExpect(m.totalRows, m.inserted, m.duplicates, m.invalid,
          csvRows(new File(qdir, "quality")))
        (wall, Counts(got.total, got.inserted, got.duplicates, got.invalid, got.quarantined),
          if (got == q.expect) None else Some(s"${q.label}: got $got, planted ${q.expect}"))
    }
  }

  /** Data rows of the CSV part files a quarantine write left in `dir`. */
  def csvRows(dir: File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try math.max(0L, src.getLines().size.toLong - 1) finally src.close()
      }.sum

  def run(c: Ctx): Unit = {
    val o = c.out
    // set-up: three fresh warehouses, each bootstrapped with one small
    // week; the first also loads a snapshot and a second week, untimed,
    // so that every loader path is warm before the timed series
    (0 until 3).foreach { k =>
      val root = c.dir(s"bootstrap$k")
      val gen = new HospitalGen(c.seed, new File(root, "in"), nHospitals = 100, nCmsOnly = 10)
      val wh = new ParquetWarehouse(new File(root, "wh").getPath)
      series(gen).take(if (k == 0) 3 else 1).zipWithIndex.foreach { case (d, i) =>
        val (wall, _, err) = load(c, d, wh, new File(root, "quarantine"))
        err.foreach(m => throw new IllegalStateException(s"bootstrap: $m"))
        if (i == 0) o.setupSteps += wall
      }
    }

    val gen = new HospitalGen(c.seed, c.dir("in"))
    val whDir = c.dir("warehouse")
    val wh = new ParquetWarehouse(whDir.getPath)
    val traced = new TracedWarehouse(wh, c.tracer)
    val qdir = c.dir("quarantine")
    val deliveries = series(gen)
    val hhsSpans = mutable.ArrayBuffer.empty[(Span, Delivery)]
    val qualitySpans = mutable.ArrayBuffer.empty[Span]
    val qualityWalls = mutable.ArrayBuffer.empty[Double]
    val reported = mutable.ArrayBuffer.empty[Counts]
    var hhsCalls = 0
    c.measure(minOps = 5) { _ =>
      val d = deliveries.next()
      // odd HHS calls are traced, even ones not, and a snapshot follows
      // the HHS call after it, so both kinds get traced samples; the
      // overhead compares calls after the first, which alone loads into
      // an empty warehouse
      c.tracer.enabled = c.trace && hhsCalls % 2 == 1
      val nSpans = c.tracer.spans.length
      val (wall, counts, err) = load(c, d, if (c.tracer.enabled) traced else wh, qdir)
      o.attempted += 1
      err.foreach(o.fail)
      reported += counts
      o.items += counts.in
      o.itemsWallS += wall
      val top = if (c.tracer.enabled) Some(c.tracer.spans(nSpans)) else None
      d match {
        case _: HhsDelivery =>
          o.ops += ((wall, c.tracer.enabled))
          if (hhsCalls > 0) o.overheadSamples += ((wall, c.tracer.enabled))
          hhsCalls += 1
          top.foreach(s => hhsSpans += ((s, d)))
        case _ =>
          qualityWalls += wall
          top.foreach(qualitySpans += _)
      }
    }
    o.checks("warehouse") = whDir.getPath
    o.checks("expected_tables") = gen.expectedTables
    val hhsWalls = o.ops.map(_._1).toSeq
    o.named("load_rows_per_s") = (o.items / o.itemsWallS, "rows/s")
    o.named("load_file_p50_s") = (Stats.median(hhsWalls), "s")
    o.named("load_file_p90_s") = (Stats.quantile(hhsWalls, 0.9), "s")
    o.named("quality_file_p50_s") = (Stats.median(qualityWalls.toSeq), "s")
    o.named("files_loaded") = (o.attempted.toDouble, "count")

    if (c.trace) {
      val t = c.tracer
      t.listener.drain()
      def selfS(s: Span) = s.wallS - t.children(s).map(_.wallS).sum
      val perFile = hhsSpans.toSeq.map { case (s, d) =>
        val kids = t.children(s)
        val jobs = t.jobsOf(s)
        val snapshotJobs = jobs.filter(_.callSiteHas("AragonPipeline$.snapshot"))
        val appendIds = kids.filter(_.name.startsWith("sources.append:")).map(_.id).toSet
        // CSV bytes: what the loader's own jobs read (key snapshots read parquet)
        val csvRead = jobs.filter(j => j.span == s.id && !snapshotJobs.contains(j))
          .map(_.inputBytes).sum
        Map(
          "aragon.hhs_self_s" -> selfS(s),
          "aragon.jobs_per_file" -> jobs.size.toDouble,
          "sources.key_snapshot_s" -> (kids.filter(_.name.startsWith("sources.table:"))
            .map(_.wallS).sum + snapshotJobs.map(_.wallS).sum),
          "sources.append_s" -> kids.filter(k => appendIds(k.id)).map(_.wallS).sum,
          "sources.append_bytes" -> jobs.filter(j => appendIds(j.span)).map(_.outputBytes).sum.toDouble,
          "sources.quarantine_s" -> jobs.filter(_.callSiteHas("QuarantineSink$.write")).map(_.wallS).sum,
          "sources.csv_bytes_read_per_file_byte" -> csvRead.toDouble / d.bytes) ++ t.runtime(s)
      }
      o.layer ++= Ctx.medians(perFile)
      o.layer("aragon.quality_self_s") = Stats.median(qualitySpans.map(selfS).toSeq)
      o.layer("aragon.rows_in") = reported.map(_.in).sum.toDouble
      o.layer("aragon.rows_inserted") = reported.map(_.inserted).sum.toDouble
      o.layer("aragon.rows_duplicate") = reported.map(_.duplicate).sum.toDouble
      o.layer("aragon.rows_invalid") = reported.map(_.invalid).sum.toDouble
      o.layer("aragon.rows_quarantined") = reported.map(_.quarantined).sum.toDouble
    }
  }
}
