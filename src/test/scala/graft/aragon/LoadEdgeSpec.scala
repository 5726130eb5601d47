package graft.aragon

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{SparkPlan, columnar}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Edge semantics of the two loaders that the reference exercises only
  * implicitly: boolean-column insert rejection (quality), multi-file
  * deterministic dedup order (HHS), plus the loaders' cost shape: the
  * HHS load moves only the columns it consumes, and the quality load's
  * job count is pinned.
  */
class LoadEdgeSpec extends SparkTestBase {

  import spark.implicits._

  private def write(path: java.nio.file.Path, lines: String*): String = {
    Files.write(path, String.join("\n", lines: _*).getBytes("UTF-8"))
    path.toString
  }

  test("Quality: emergency_services outside {Yes,No,null} goes to the invalid split") {
    // The reference maps 'Not Available' → 0 (whole-frame replace,
    // load_quality.py:103); the boolean-column INSERT then rejects that
    // row into quarantine via the per-row fallback (:57-78). Here the
    // pre-validation routes it to invalid — same net row placement.
    val dir = Files.createTempDirectory("qedge")
    val csv = write(dir.resolve("q.csv"),
      "Facility ID,Hospital overall rating,Emergency Services,Hospital Type,Hospital Ownership",
      "F1,3,Yes,Acute,Private",
      "F2,2,Not Available,Acute,Private",
      "F3,4,,Acute,Private")
    val existing = Seq.empty[(String, java.sql.Date)].toDF("facility_id", "data_date")
    val r = QualityLoad.load(spark, csv, java.sql.Date.valueOf("2022-01-01"), existing)
    assert(r.metrics.totalRows == 3 && r.metrics.inserted == 2 && r.metrics.invalid == 1)
    val kept = r.quality.select("facility_id").as[String].collect().toSet
    assert(kept == Set("F1", "F3")) // empty string → null → insertable NULL
    val quarantined = r.quarantine.select("Facility ID").as[String].collect().toSet
    assert(quarantined == Set("F2"))
    r.unpersist()
  }

  test("HHS: multi-file input dedups deterministically in (file-name, file-order)") {
    val dir = Files.createTempDirectory("hedge")
    val header = ("hospital_pk,hospital_name,state,address,city,zip,fips_code," +
      "geocoded_hospital_address,collection_week," + AragonSchema.bedMetrics.mkString(","))
    def row(name: String, v: Int) =
      s"H1,$name,PA,addr,city,15213,42003,POINT (0 0),2022-01-07," +
        AragonSchema.bedMetrics.map(_ => v.toString).mkString(",")
    // b.csv holds the "later" duplicate — alphabetical file order must win
    write(dir.resolve("b.csv"), header, row("fromB", 2))
    write(dir.resolve("a.csv"), header, row("fromA", 1))
    val noPks = Seq.empty[String].toDF("hospital_pk")
    val noBeds = Seq.empty[(String, java.sql.Date)].toDF("hospital_pk", "collection_week")
    val r = HhsLoad.load(spark, s"$dir/*.csv", noPks, noPks, noBeds)
    assert(r.metrics.totalRows == 2 && r.metrics.hospitalsInserted == 1 &&
      r.metrics.bedsInserted == 1)
    assert(r.hospitals.select("hospital_name").as[String].head() == "fromA")
    assert(r.beds.select(AragonSchema.bedMetrics.head).as[Double].head() == 1.0)
    r.unpersist()
  }

  /** Every operator of `p`, descending into adaptive plans, query
    * stages, reused exchanges and the plans that built cached relations.
    */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case r: ReusedExchangeExec => operators(r.child)
    case s: columnar.InMemoryTableScanExec => s +: operators(s.relation.cachedPlan)
    case other => other +: other.children.flatMap(operators)
  }

  test("HHS: shuffles and the tagged cache carry only consumed columns; quarantine keeps all") {
    val dir = Files.createTempDirectory("hwide")
    val fillers = Seq("filler_a", "filler_b", "filler_c")
    val header = (Seq("hospital_pk", "hospital_name", "collection_week") ++ fillers.take(1) ++
      AragonSchema.locationCols ++ fillers.drop(1) ++ AragonSchema.bedMetrics).mkString(",")
    def row(pk: String, v: String, tag: String) =
      (Seq(pk, s"name $pk", "2022-01-07", s"0$tag") ++
        Seq("PA", "\"1 Main St, Suite 2\"", "city", "01520", "42003", "POINT (0 0)") ++
        Seq(s"1.50$tag", s"x-$tag") ++ AragonSchema.bedMetrics.map(_ => v)).mkString(",")
    val csv = write(dir.resolve("wide.csv"), header,
      row("H1", "1", "1"),
      row("H2", "-3", "2"), // negative bed metric → invalid → quarantined
      row("H1", "2", "3"),  // in-file duplicate → quarantined
      row("H3", "4", "4"))
    val noPks = Seq.empty[String].toDF("hospital_pk")
    val noBeds = Seq.empty[(String, java.sql.Date)].toDF("hospital_pk", "collection_week")
    val r = HhsLoad.load(spark, csv, noPks, noPks, noBeds)
    assert(r.metrics.totalRows == 4 && r.metrics.bedsInserted == 2 && r.metrics.bedsInvalid == 1)

    // quarantine: every input column, in file order, with the original text
    assert(r.quarantine.columns.toSeq == header.split(",").toSeq)
    val quarantined = r.quarantine.collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(quarantined == Set(
      Seq("H2", "name H2", "2022-01-07", "02", "PA", "1 Main St, Suite 2", "city", "01520",
        "42003", "POINT (0 0)", "1.502", "x-2") ++ AragonSchema.bedMetrics.map(_ => "-3"),
      Seq("H1", "name H1", "2022-01-07", "03", "PA", "1 Main St, Suite 2", "city", "01520",
        "42003", "POINT (0 0)", "1.503", "x-3") ++ AragonSchema.bedMetrics.map(_ => "2")))

    // the raw cache stays full width for quarantine, but what any plan
    // reads out of a cache, the tagged cache itself, and every exchange
    // (window shuffles, key broadcasts) hold no filler column
    val ops = operators(r.beds.queryExecution.executedPlan)
    val scans = ops.collect { case s: columnar.InMemoryTableScanExec => s }
    val exchanges = ops.collect { case e: Exchange => e }
    assert(scans.nonEmpty && exchanges.nonEmpty)
    def fillerIn(p: SparkPlan) = p.output.map(_.name).filter(fillers.contains)
    (scans ++ exchanges).foreach { p =>
      assert(fillerIn(p).isEmpty, s"${p.nodeName} outputs ${fillerIn(p)}")
    }
    val tagged = scans.head.relation
    assert(tagged.output.map(_.name).intersect(fillers).isEmpty)
    r.unpersist()
  }

  test("Quality: the load submits at most 6 Spark jobs before its outputs are written") {
    // Measured at 6 jobs on Spark 4.1 with AQE on: the CSV header read,
    // then the adaptive stages of the one metrics aggregation over the
    // cached tagged frame. One count() action per metric frame, each
    // re-planned over its own frame, makes it 12.
    val dir = Files.createTempDirectory("qjobs")
    val csv = write(dir.resolve("q.csv"),
      "Facility ID,Hospital overall rating,Emergency Services,Hospital Type,Hospital Ownership",
      "F1,3,Yes,Acute,Private",
      "F2,2,Not Available,Acute,Private",
      "F3,-1,No,Acute,Private",
      ",4,Yes,Acute,Private",
      "F4,4,No,Acute,Private")
    val date = java.sql.Date.valueOf("2022-01-01")
    val existing = Seq(("F4", date), ("F1", java.sql.Date.valueOf("2021-10-01")))
      .toDF("facility_id", "data_date")

    val group = "quality-load-job-pin"
    val sentinel = "quality-load-job-pin-done"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobs.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val r = try {
      sc.setJobGroup(group, "QualityLoad.load")
      val loaded = QualityLoad.load(spark, csv, date, existing)
      // the listener bus is asynchronous but ordered: once the sentinel
      // job's start arrives, every job the load submitted has arrived
      sc.setJobGroup(sentinel, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      loaded
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.contains(sentinel), "listener bus did not deliver the sentinel job")
    val loadJobs = jobs.toArray.count(_ == group)

    // null facility_id stays fresh (as under a left anti join); F4 is a
    // duplicate at this date, F1 only at another date
    assert(r.metrics == QualityLoad.Metrics(totalRows = 5, inserted = 2, duplicates = 1, invalid = 2))
    assert(r.quality.select("facility_id").as[String].collect().toSet == Set("F1", null))
    assert(r.quarantine.select("Facility ID").as[String].collect().toSet == Set("F2", "F3", "F4"))
    r.unpersist()
    assert(loadJobs <= 6, s"QualityLoad.load submitted $loadJobs jobs")
  }
}
