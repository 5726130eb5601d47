package graft.aragon

import graft.{JobLog, SparkTestBase}
import java.nio.file.Files
import org.apache.spark.sql.execution.{SparkPlan, columnar}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Edge semantics of the two loaders that the reference exercises only
  * implicitly: boolean-column insert rejection (quality), multi-file
  * deterministic dedup order (HHS), plus the loaders' cost shape: the
  * HHS load moves only the columns it consumes, and both loads' job
  * counts are pinned.
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
    val (r, jobs) = JobLog.record(spark)(QualityLoad.load(spark, csv, date, existing))
    val loadJobs = jobs.size

    // null facility_id stays fresh (as under a left anti join); F4 is a
    // duplicate at this date, F1 only at another date
    assert(r.metrics == QualityLoad.Metrics(totalRows = 5, inserted = 2, duplicates = 1, invalid = 2))
    assert(r.quality.select("facility_id").as[String].collect().toSet == Set("F1", null))
    assert(r.quarantine.select("Facility ID").as[String].collect().toSet == Set("F2", "F3", "F4"))
    r.unpersist()
    assert(loadJobs <= 6, s"QualityLoad.load submitted $loadJobs jobs")
  }

  test("HHS: the load submits at most 10 Spark jobs before its outputs are written") {
    // Measured at 10 jobs on Spark 4.1 with AQE on: the CSV header read,
    // then the adaptive stages of the one metrics aggregation over the
    // cached tagged frame, among them the three key-snapshot broadcasts
    // and the two window shuffles.
    val dir = Files.createTempDirectory("hjobs")
    val header = ("hospital_pk,hospital_name,state,address,city,zip,fips_code," +
      "geocoded_hospital_address,collection_week," + AragonSchema.bedMetrics.mkString(","))
    def row(pk: String, week: String, v: Int) =
      s"$pk,name $pk,PA,addr,city,15213,42003,POINT (0 0),$week," +
        AragonSchema.bedMetrics.map(_ => v.toString).mkString(",")
    val csv = write(dir.resolve("w.csv"), header,
      row("H1", "2022-01-07", 1),  // hospital and location exist, new week
      row("H2", "2022-01-07", -3), // negative bed metric → invalid
      row("H3", "2022-01-07", 2),
      row("H3", "2022-01-07", 5),  // in-file duplicate
      row("H4", "2022-01-07", 4))  // bed key already loaded
    val pks = Seq("H1", "H4").toDF("hospital_pk")
    val beds = Seq(("H1", java.sql.Date.valueOf("2021-12-31")),
      ("H4", java.sql.Date.valueOf("2022-01-07"))).toDF("hospital_pk", "collection_week")

    val (r, jobs) = JobLog.record(spark)(HhsLoad.load(spark, csv, pks, pks, beds))
    val loadJobs = jobs.size

    assert(r.metrics == HhsLoad.Metrics(totalRows = 5,
      hospitalsInserted = 2, hospitalsDup = 3, locationsInserted = 2, locationsDup = 3,
      bedsInserted = 2, bedsDup = 2, bedsInvalid = 1))
    assert(r.beds.select("hospital_fk").as[String].collect().toSet == Set("H1", "H3"))
    r.unpersist()
    assert(loadJobs <= 10, s"HhsLoad.load submitted $loadJobs jobs")
  }
}
