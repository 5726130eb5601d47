package perfbench

import java.io.File
import java.util.SplittableRandom
import graft.aragon.Reporting
import graft.aragon.AragonPipeline.ParquetWarehouse
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable

/** Workload `dashboard`: page views over a multi-year warehouse. One
  * page view re-reads the four warehouse tables and runs the nine
  * `Reporting` queries for a seeded week, ownership and snapshot date,
  * each `collect()`ed; the next page starts when the previous one ends.
  *
  * Set-up builds the warehouse with the engine's own loaders: [[Weeks]]
  * weekly HHS files (the 17 consumed columns; file width is
  * hospital_load's subject) loaded [[WeeksPerCall]] at a time through a
  * directory input, then one CMS snapshot per quarter. `setup_s` is the
  * median HHS loader call of the build.
  *
  * Timed operation: one page view (`op_p50_s`);
  * `items_per_s` is page views per second.
  */
object Dashboard {
  val Weeks = 104
  val WeeksPerCall = 26

  val Functions: Seq[String] = Seq("weeklyRecords", "weeklyRecordsPrior", "bedSummaryAt",
    "bedSummaryRecent4", "ratingBedUse", "totalBedUsage", "emergencyTop20",
    "ownershipBedUse", "topBottomStates")

  final case class Page(week: String, owner: String, date: String)

  /** (function, its parameters) → the frame; the parameters name the
    * result for the oracle check.
    */
  def queries(p: Page, beds: DataFrame, quality: DataFrame, hospitals: DataFrame,
              locations: DataFrame): Seq[(String, Map[String, String], DataFrame)] = Seq(
    ("weeklyRecords", Map("week" -> p.week), Reporting.weeklyRecords(beds, p.week)),
    ("weeklyRecordsPrior", Map("week" -> p.week), Reporting.weeklyRecordsPrior(beds, p.week)),
    ("bedSummaryAt", Map("week" -> p.week), Reporting.bedSummaryAt(beds, p.week)),
    ("bedSummaryRecent4", Map(), Reporting.bedSummaryRecent4(beds)),
    ("ratingBedUse", Map(), Reporting.ratingBedUse(quality, beds)),
    ("totalBedUsage", Map("week" -> p.week), Reporting.totalBedUsage(beds, p.week)),
    ("emergencyTop20", Map(), Reporting.emergencyTop20(quality, hospitals, locations)),
    ("ownershipBedUse", Map("owner" -> p.owner), Reporting.ownershipBedUse(quality, beds, p.owner)),
    ("topBottomStates", Map("date" -> p.date), Reporting.topBottomStates(quality, locations, p.date)))

  private def rowJson(r: Row): Json = Json.arr(r.toSeq: _*)

  def run(c: Ctx): Unit = {
    val o = c.out
    val s = c.spark
    val gen = new HospitalGen(c.seed, c.dir("in"), filler = false)
    val whDir = c.dir("warehouse")
    val wh = new ParquetWarehouse(whDir.getPath)
    val qdir = c.dir("quarantine")

    // set-up: the warehouse, through the loaders
    (0 until Weeks by WeeksPerCall).foreach { from =>
      val d = gen.hhsBatch(from, math.min(Weeks, from + WeeksPerCall))
      val (wall, _, err) = HospitalLoad.load(c, d, wh, qdir)
      err.foreach(m => throw new IllegalStateException(s"warehouse build: $m"))
      o.setupSteps += wall
    }
    val snapshots = (0 until Weeks by 13).map(w => gen.weekDate(w).withDayOfMonth(1))
    var qualityS = 0.0
    snapshots.foreach { date =>
      val (wall, _, err) = HospitalLoad.load(c, gen.quality(date), wh, qdir)
      err.foreach(m => throw new IllegalStateException(s"warehouse build: $m"))
      qualityS += wall
    }
    o.checks("warehouse") = whDir.getPath
    o.checks("expected_tables") = gen.expectedTables
    o.named("warehouse_bed_rows") = (gen.expectedTables("hospital_bed_information").toDouble, "count")
    o.named("warehouse_build_s") = (o.setupSteps.sum + qualityS, "s")

    // seeded page parameters: a few weeks, every ownership, every snapshot
    val rng = new SplittableRandom(HospitalGen.mix(c.seed, 4242L))
    val weeks = Seq.fill(6)(gen.weekDate(13 + rng.nextInt(Weeks - 13)).toString)
    def page(): Page = Page(weeks(rng.nextInt(weeks.length)),
      HospitalGen.Ownerships(rng.nextInt(HospitalGen.Ownerships.length)),
      snapshots(rng.nextInt(snapshots.length)).toString)

    val results = mutable.LinkedHashMap.empty[(String, Map[String, String]), Seq[Row]]
    val columns = mutable.HashMap.empty[String, Seq[String]]
    val pageKeys = mutable.ArrayBuffer.empty[Seq[Int]]
    val fnMs = mutable.ArrayBuffer.empty[Map[String, Double]]

    /** One page view. Returns its wall seconds, the planning share and
      * the results, which are checked after the clock stops.
      */
    def view(p: Page): (Double, Double, Seq[((String, Map[String, String]), Seq[Row])]) = {
      var planS = 0.0
      val ms = mutable.LinkedHashMap.empty[String, Double]
      val (out, wall) = c.timed(c.tracer.span("reporting.page") {
        def t(name: String) = wh.table(s, name).getOrElse(sys.error(s"no table $name"))
        val qs = queries(p, t("hospital_bed_information"), t("hospital_quality_information"),
          t("hospitals"), t("hospital_locations"))
        qs.map { case (fn, params, df) =>
          columns.getOrElseUpdate(fn, df.columns.toSeq)
          val t0 = System.nanoTime()
          val rows = c.tracer.span(s"reporting.$fn") {
            val p0 = System.nanoTime()
            df.queryExecution.executedPlan
            planS += (System.nanoTime() - p0) / 1e9
            df.collect().toSeq
          }
          ms(fn) = (System.nanoTime() - t0) / 1e6
          ((fn, params), rows)
        }
      })
      if (c.tracer.enabled) fnMs += ms.toMap
      (wall, planS, out)
    }

    // untimed warm-up: two page views
    (0 until 2).foreach(_ => view(page()))

    val planPerPage = mutable.ArrayBuffer.empty[Double]
    val pageSpans = mutable.ArrayBuffer.empty[Span]
    c.measure(minOps = 5) { _ =>
      val p = page()
      val nSpans = c.tracer.spans.length
      val (wall, planS, out) = view(p)
      o.attempted += 1
      o.ops += ((wall, c.tracer.enabled))
      o.items += 1
      o.itemsWallS += wall
      if (c.tracer.enabled) { planPerPage += planS * 1e3; pageSpans += c.tracer.spans(nSpans) }
      // check: a repeated (query, parameters) must give the same rows
      var ok = true
      pageKeys += out.map { case (key, rows) =>
        results.get(key) match {
          case Some(prev) if prev != rows =>
            ok = false
            o.failures += s"${key._1}${key._2} changed between page views"
          case None => results(key) = rows
          case _ =>
        }
        results.keys.toSeq.indexOf(key)
      }
      if (!ok) o.failed += 1
    }

    o.checks("results") = results.toSeq.map { case ((fn, params), rows) =>
      Json.obj("fn" -> fn, "params" -> params, "columns" -> columns(fn),
        "rows" -> Json.arr(rows.map(rowJson): _*))
    }
    o.checks("pages") = pageKeys.toSeq
    o.named("page_p50_s") = (Stats.median(o.ops.map(_._1).toSeq), "s")
    o.named("page_p90_s") = (Stats.quantile(o.ops.map(_._1).toSeq, 0.9), "s")

    if (c.trace) {
      val t = c.tracer
      t.listener.drain()
      o.layer ++= Ctx.medians(pageSpans.toSeq.map(s => Map(
        "reporting.jobs_per_page" -> t.jobsOf(s).size.toDouble,
        "sources.scan_bytes_per_page" -> t.jobsOf(s).map(_.inputBytes).sum.toDouble) ++
        t.runtime(s)))
      o.layer("plans.plan_ms_per_page") = Stats.median(planPerPage.toSeq)
      Functions.foreach(fn => o.layer(s"reporting.${fn}_ms") = Stats.median(fnMs.flatMap(_.get(fn)).toSeq))
    }
  }
}
