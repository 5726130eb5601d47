package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** Expected loader accounting of one HHS delivery, in the terms of
  * `HhsLoad.Metrics` plus the quarantine row count.
  */
final case class HhsExpect(total: Long, hospitalsInserted: Long, hospitalsDup: Long,
                           locationsInserted: Long, locationsDup: Long,
                           bedsInserted: Long, bedsDup: Long, bedsInvalid: Long,
                           quarantined: Long)

/** Expected loader accounting of one CMS delivery (`QualityLoad.Metrics`
  * plus the quarantine row count).
  */
final case class QualityExpect(total: Long, inserted: Long, duplicates: Long,
                               invalid: Long, quarantined: Long)

/** One file (or directory of files) handed to a loader, with what the
  * loader must report for it given every earlier delivery.
  */
sealed trait Delivery {
  def path: String
  def bytes: Long
  def label: String
}
final case class HhsDelivery(path: String, bytes: Long, label: String,
                             expect: HhsExpect) extends Delivery
final case class QualityDelivery(path: String, bytes: Long, label: String,
                                 date: LocalDate, expect: QualityExpect) extends Delivery

/** Seeded generator of the reference's two hospital feeds.
  *
  * HHS weekly files: 127 columns (the 17 the loader consumes plus
  * reference-style filler), one row per open hospital (~5k), quoted
  * strings, `NA` nulls, `-999999` sentinels and quoted addresses with
  * embedded commas. CMS monthly snapshots: the 38 columns of
  * Hospital_General_Information, `Not Available` ratings and `Yes`/`No`
  * emergency flags.
  *
  * Planted per week: [[NewPerWeek]] hospitals open, [[ClosedPerWeek]]
  * close, [[NegativePerWeek]] rows carry a negative bed metric and
  * [[InFileDupPerWeek]] hospitals appear twice in the same file. A small
  * share of CMS facilities carry `Not Available` as their emergency flag
  * (the loader routes those to its invalid split).
  *
  * The generator simulates the warehouse, so every delivery carries the
  * accounting the loader must report. Deliveries must be loaded in the
  * order they are produced.
  */
final class HospitalGen(seed: Long, outDir: File, nHospitals: Int = 5000,
                        nCmsOnly: Int = 300, filler: Boolean = true) {
  import HospitalGen._

  private val firstWeek = LocalDate.of(2020, 1, 3)

  // --- open/closed hospitals, advanced one week at a time --------------
  private val active = mutable.LinkedHashSet.empty[Int] ++ (0 until nHospitals)
  private var nextIdx = nHospitals
  private var weekCursor = 0

  // --- the simulated warehouse (keys the loaders have inserted) --------
  private val whHospitals = mutable.HashSet.empty[Int]
  private val whBeds = mutable.HashSet.empty[Long]
  private val whQuality = mutable.HashSet.empty[Long]

  /** Row model of each week's file, kept for re-delivery. */
  private val weekRows = mutable.HashMap.empty[Int, Array[HhsRow]]

  def weekDate(w: Int): LocalDate = firstWeek.plusDays(7L * w)

  def expectedTables: Map[String, Long] = Map(
    "hospitals" -> whHospitals.size.toLong,
    "hospital_locations" -> whHospitals.size.toLong,
    "hospital_bed_information" -> whBeds.size.toLong,
    "hospital_quality_information" -> whQuality.size.toLong)

  /** Advances the open-hospital set to week `w` and returns its row model. */
  private def rowsOf(w: Int): Array[HhsRow] = weekRows.getOrElseUpdate(w, {
    require(w == weekCursor, s"weeks are generated in order ($w vs $weekCursor)")
    val rng = new SplittableRandom(mix(seed, 1000L + w))
    if (w > 0) {
      val ids = active.toArray
      val closing = pick(rng, ids.length, ClosedPerWeek).map(ids(_))
      closing.foreach(active -= _)
      (0 until NewPerWeek).foreach { _ => active += nextIdx; nextIdx += 1 }
    }
    weekCursor += 1
    val ids = active.toArray.sorted
    val negative = pick(rng, ids.length, NegativePerWeek).toSet
    val base = ids.indices.map(i => HhsRow(ids(i), w, negative(i)))
    val dups = pick(rng, ids.length, InFileDupPerWeek).sorted
      .map(i => HhsRow(ids(i), w, negative = false))
    (base ++ dups).toArray
  })

  /** The weekly file of week `w`, written to `dir`. */
  private def writeWeek(dir: File, w: Int, name: String): File = {
    val f = new File(dir, name)
    val rng = new SplittableRandom(mix(seed, 2000L + w))
    val wk = weekDate(w).toString
    withWriter(f) { out =>
      out.write(if (filler) HhsHeader else HhsNarrowHeader)
      out.write('\n')
      val sb = new java.lang.StringBuilder(1024)
      rowsOf(w).foreach { r =>
        sb.setLength(0)
        hhsLine(sb, r, wk, rng)
        out.append(sb).write('\n')
      }
    }
    f
  }

  private def hhsLine(sb: java.lang.StringBuilder, r: HhsRow, week: String,
                      rng: SplittableRandom): Unit = {
    val h = hospital(r.idx)
    def q(s: String): Unit = { sb.append('"').append(s).append('"') }
    def c(): Unit = { sb.append(',') }
    q(h.pk); c(); sb.append(week); c(); q(h.state); c()
    if (filler) { q(h.pk); c() }
    q(h.name); c(); q(h.address); c(); q(h.city); c(); q(h.zip); c()
    if (filler) { q(Subtypes(r.idx % Subtypes.length)); c() }
    sb.append(h.fips); c()
    if (filler) { sb.append(if (r.idx % 3 == 0) "false" else "true"); c() }
    val bad = if (r.negative) rng.nextInt(BedMetrics.length) else -1
    var m = 0
    var i = 0
    while (i < NumericCols) {
      if (MetricSlot(i) >= 0) {
        // magnitude >= 1, so the loader's truncating `>= 0` guard rejects it
        if (m == bad) sb.append('-').append(Tenths(10 + rng.nextInt(500)))
        else metricCell(sb, h, m, rng)
        m += 1
        c()
      } else if (filler) {
        val u = rng.nextInt(100)
        if (u < 15) sb.append("NA")
        else if (u < 18) sb.append("-999999")
        else sb.append(Tenths(rng.nextInt(5000)))
        c()
      }
      i += 1
    }
    if (filler) {
      sb.append(h.geo); c(); q(s"[${h.pk.hashCode & 0xffff}, ${r.idx}]"); c()
      sb.append("NA")
    } else sb.append(h.geo)
  }

  /** One of the eight bed metrics: `NA` (5%), the sentinel (2%) or a
    * value with three decimals, so that the dashboard's two-decimal
    * rounding is visible in its results.
    */
  private def metricCell(sb: java.lang.StringBuilder, h: Hospital, m: Int,
                         rng: SplittableRandom): Unit = {
    val u = rng.nextInt(100)
    if (u < 5) sb.append("NA")
    else if (u < 7) sb.append("-999999")
    else {
      val cap = h.capacity
      val milli = m match {
        case 0 => cap * 1000 + rng.nextInt(4000)
        case 1 => cap * 100 + rng.nextInt(2000)
        case 2 => rng.nextInt(8) * 1000 // a coverage count of days
        case 3 => rng.nextInt(cap * 100 + 1000)
        case 4 => cap * 100 + rng.nextInt(3000)
        case 5 => rng.nextInt(cap * 100 + 1000)
        case 6 => rng.nextInt(cap * 200 + 1000)
        case _ => rng.nextInt(cap * 50 + 1000)
      }
      val frac = milli % 1000
      sb.append(milli / 1000).append('.')
      if (frac < 100) sb.append('0')
      if (frac < 10) sb.append('0')
      sb.append(frac)
    }
  }

  private def hhsAccount(rows: Iterable[HhsRow]): HhsExpect = {
    val seenPk = mutable.HashSet.empty[Int]
    val seenBed = mutable.HashSet.empty[Long]
    val newPks = mutable.ArrayBuffer.empty[Int]
    val newBeds = mutable.ArrayBuffer.empty[Long]
    var total, hosp, fresh, invalid, beds, quarantined = 0L
    rows.foreach { r =>
      total += 1
      val key = bedKey(r.idx, r.week)
      val keepHosp = seenPk.add(r.idx) && !whHospitals(r.idx)
      val isFresh = seenBed.add(key) && !whBeds(key)
      val keepBed = isFresh && !r.negative
      if (keepHosp) { hosp += 1; newPks += r.idx }
      if (isFresh) fresh += 1
      if (isFresh && r.negative) invalid += 1
      if (keepBed) { beds += 1; newBeds += key }
      if (!(keepHosp && keepBed)) quarantined += 1
    }
    whHospitals ++= newPks
    whBeds ++= newBeds
    HhsExpect(total, hosp, total - hosp, hosp, total - hosp, beds, total - fresh,
      invalid, quarantined)
  }

  /** The next weekly HHS file as its own delivery. */
  def hhsWeek(w: Int): HhsDelivery = {
    val dir = new File(outDir, "hhs"); dir.mkdirs()
    val f = writeWeek(dir, w, s"${weekDate(w)}-hhs-data.csv")
    HhsDelivery(f.getPath, f.length, s"hhs ${weekDate(w)}", hhsAccount(rowsOf(w)))
  }

  /** The same week delivered a second time under another file name. */
  def hhsRedelivery(w: Int): HhsDelivery = {
    require(weekRows.contains(w), s"week $w was never delivered")
    val dir = new File(outDir, "hhs"); dir.mkdirs()
    val f = writeWeek(dir, w, s"${weekDate(w)}-hhs-data-redelivered.csv")
    HhsDelivery(f.getPath, f.length, s"hhs ${weekDate(w)} again", hhsAccount(rowsOf(w)))
  }

  /** Weeks `from until to` as one directory input (the loader reads the
    * files in path order, which is week order).
    */
  def hhsBatch(from: Int, to: Int): HhsDelivery = {
    val dir = new File(outDir, s"hhs-batch-$from-$to"); dir.mkdirs()
    val files = (from until to).map(w => writeWeek(dir, w, s"${weekDate(w)}-hhs-data.csv"))
    HhsDelivery(dir.getPath, files.map(_.length).sum, s"hhs weeks $from-${to - 1}",
      hhsAccount((from until to).flatMap(w => rowsOf(w))))
  }

  // --- CMS snapshots -------------------------------------------------

  private def qualityRows(date: LocalDate, extra: Int): Seq[Int] = {
    // open hospitals at the snapshot's week plus the CMS-only facilities
    val w = math.max(0, ((date.toEpochDay - firstWeek.toEpochDay) / 7).toInt)
    require(w < weekCursor, s"snapshot $date is ahead of the weekly series")
    val open = rowsOf(w).iterator.map(_.idx).toSeq.distinct
    open ++ (0 until nCmsOnly + extra).map(CmsOnlyBase + _)
  }

  /** The CMS snapshot dated `date`; `extra` adds facilities that are new
    * in a corrected re-delivery of the same date.
    */
  def quality(date: LocalDate, extra: Int = 0, suffix: String = ""): QualityDelivery = {
    val dir = new File(outDir, "cms"); dir.mkdirs()
    val f = new File(dir, s"Hospital_General_Information-$date$suffix.csv")
    val ids = qualityRows(date, extra)
    val snap = date.toEpochDay
    withWriter(f) { out =>
      out.write(CmsHeader)
      out.write('\n')
      val sb = new java.lang.StringBuilder(512)
      ids.foreach { idx => sb.setLength(0); cmsLine(sb, idx, snap); out.append(sb).write('\n') }
    }
    var ins, dup, inv = 0L
    val newKeys = mutable.ArrayBuffer.empty[Long]
    ids.foreach { idx =>
      val key = (idx.toLong << 20) | (snap & 0xfffff)
      if (whQuality(key)) dup += 1
      else if (cmsInvalid(idx, snap)) inv += 1
      else { ins += 1; newKeys += key }
    }
    whQuality ++= newKeys
    val total = ids.length.toLong
    QualityDelivery(f.getPath, f.length, s"cms $date$suffix", date,
      QualityExpect(total, ins, dup, inv, total - ins))
  }

  private def cmsInvalid(idx: Int, snap: Long): Boolean =
    (mix(seed, idx * 7919L + snap) & 0x3ff) < 5 // ~0.5% carry 'Not Available'

  private def cmsLine(sb: java.lang.StringBuilder, idx: Int, snap: Long): Unit = {
    val h = hospital(idx)
    val r = mix(seed, idx * 31L + snap / 90) // ratings drift once a quarter
    def q(s: String): Unit = { sb.append('"').append(s).append('"') }
    def c(): Unit = { sb.append(',') }
    q(h.pk); c(); q(h.name); c(); q(h.address); c(); q(h.city); c(); q(h.state); c()
    q(h.zip); c(); q(Counties(idx % Counties.length)); c()
    q(f"(${200 + idx % 700}%03d) 555-${idx % 10000}%04d"); c()
    q(HospitalTypes(idx % HospitalTypes.length)); c()
    q(Ownerships((idx / 3) % Ownerships.length)); c()
    q(if (cmsInvalid(idx, snap)) "Not Available" else if (idx % 7 == 0) "No" else "Yes"); c()
    q(if (idx % 4 == 0) "Y" else ""); c()
    val rating = ((r >>> 8) % 6).toInt
    q(if (rating == 0) "Not Available" else rating.toString); c()
    q(if (rating == 0) "16" else ""); c()
    var i = 0
    while (i < 24) {
      if (CmsFootnoteCol(i)) q(if ((r >>> (i + 16) & 3) == 0) "5" else "")
      else q(if ((r >>> (i + 16) & 7) == 0) "Not Available" else ((r >>> (i * 2)) & 15).toString)
      if (i < 23) c()
      i += 1
    }
  }

  private val hospitals = mutable.HashMap.empty[Int, Hospital]

  private def hospital(idx: Int): Hospital = hospitals.getOrElseUpdate(idx, {
    val r = new SplittableRandom(mix(seed, 77L + idx))
    val st = idx % States.length
    val seq = if (idx >= CmsOnlyBase) 9000 + idx - CmsOnlyBase else idx / States.length + 1
    val pk = f"${st + 1}%02d$seq%04d"
    val name = s"${Names(r.nextInt(Names.length))} ${Kinds(r.nextInt(Kinds.length))}"
    val street = s"${100 + r.nextInt(9000)} ${Streets(r.nextInt(Streets.length))}"
    val address = r.nextInt(5) match {
      case 0 => s"$street, SUITE ${1 + r.nextInt(400)}"
      case 1 => s"$street, P O BOX ${1 + r.nextInt(900)}"
      case _ => street
    }
    val fips = if (r.nextInt(10) == 0) "NA" else f"${st * 1000 + r.nextInt(999)}%05d"
    val geo = if (r.nextInt(10) < 3) "NA"
      else f"POINT (${-70 - r.nextInt(90) - r.nextInt(100) / 100.0}%.2f ${20 + r.nextInt(40) + r.nextInt(100) / 100.0}%.2f)"
    Hospital(pk, name, States(st), address, Cities(r.nextInt(Cities.length)),
      f"${r.nextInt(99999)}%05d", fips, geo, 20 + r.nextInt(400))
  })
}

object HospitalGen {
  val NewPerWeek = 3
  val ClosedPerWeek = 2
  val NegativePerWeek = 4
  val InFileDupPerWeek = 5

  private val CmsOnlyBase = 1 << 24

  final case class HhsRow(idx: Int, week: Int, negative: Boolean)
  final case class Hospital(pk: String, name: String, state: String, address: String,
                            city: String, zip: String, fips: String, geo: String,
                            capacity: Int)

  def bedKey(idx: Int, week: Int): Long = (idx.toLong << 16) | week

  /** SplitMix64 finaliser over two words: stable per-entity streams. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `k` distinct indices below `n`, in draw order. */
  def pick(rng: SplittableRandom, n: Int, k: Int): Seq[Int] = {
    val out = mutable.LinkedHashSet.empty[Int]
    while (out.size < math.min(k, n)) out += rng.nextInt(n)
    out.toSeq
  }

  def withWriter(f: File)(body: BufferedWriter => Unit): Unit = {
    val out = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
    try body(out) finally out.close()
  }

  /** 0.0 … 999.9 pre-formatted, so a value costs one table lookup. */
  private val Tenths: Array[String] =
    Array.tabulate(10000)(i => s"${i / 10}.${i % 10}")

  val BedMetrics: Seq[String] = graft.aragon.AragonSchema.bedMetrics

  private val FillerBases: Seq[String] = Seq(
    "total_beds", "inpatient_beds", "inpatient_beds_used", "total_staffed_adult_icu_beds",
    "staffed_adult_icu_bed_occupancy", "staffed_icu_adult_patients_confirmed_and_suspected_covid",
    "total_adult_patients_hospitalized_confirmed_and_suspected_covid",
    "total_adult_patients_hospitalized_confirmed_covid",
    "total_pediatric_patients_hospitalized_confirmed_and_suspected_covid",
    "total_pediatric_patients_hospitalized_confirmed_covid",
    "previous_day_admission_adult_covid_suspected",
    "previous_day_admission_pediatric_covid_confirmed",
    "previous_day_admission_pediatric_covid_suspected", "previous_day_total_ed_visits",
    "previous_day_covid_ed_visits", "previous_day_admission_influenza_confirmed",
    "total_patients_hospitalized_confirmed_influenza", "icu_patients_confirmed_influenza",
    "staffed_icu_pediatric_patients_confirmed_covid") ++
    Seq("18-19", "20-29", "30-39", "40-49", "50-59", "60-69", "70-79", "80+", "unknown")
      .map(a => s"previous_day_admission_adult_covid_confirmed_$a") ++
    Seq("18-19", "20-29", "30-39", "40-49", "50-59", "60-69", "70-79")
      .map(a => s"previous_day_admission_adult_covid_suspected_$a")

  private val FillerNames: Seq[String] = for {
    b <- FillerBases; s <- Seq("_7_day_avg", "_7_day_sum", "_7_day_coverage")
  } yield b + s

  private val NumericCols = BedMetrics.length + FillerNames.length // 113

  /** Slot i of the numeric block holds bed metric MetricSlot(i), or -1
    * for filler. The eight metrics are spread through the block, as in
    * the reference feed.
    */
  private val MetricSlot: Array[Int] = {
    val a = Array.fill(NumericCols)(-1)
    BedMetrics.indices.foreach(m => a(3 + m * 13) = m)
    a
  }

  private val NumericHeader: Seq[String] = {
    val fill = FillerNames.iterator
    (0 until NumericCols).map(i => if (MetricSlot(i) >= 0) BedMetrics(MetricSlot(i)) else fill.next())
  }

  val HhsHeader: String = (Seq("hospital_pk", "collection_week", "state", "ccn",
    "hospital_name", "address", "city", "zip", "hospital_subtype", "fips_code",
    "is_metro_micro") ++ NumericHeader ++
    Seq("geocoded_hospital_address", "hhs_ids", "is_corrected")).mkString(",")

  /** The 17 consumed columns only (used where file width is not the point). */
  val HhsNarrowHeader: String = (Seq("hospital_pk", "collection_week", "state",
    "hospital_name", "address", "city", "zip", "fips_code") ++ BedMetrics ++
    Seq("geocoded_hospital_address")).mkString(",")

  private val CmsFootnoteCol: Array[Boolean] = Array(
    false, false, false, false, false, true, // MORT
    false, false, false, false, false, true, // Safety
    false, false, false, false, false, true, // READM
    false, false, true,                      // Pt Exp
    false, false, true)                      // TE

  val CmsHeader: String = (Seq("Facility ID", "Facility Name", "Address", "City/Town",
    "State", "ZIP Code", "County/Parish", "Telephone Number", "Hospital Type",
    "Hospital Ownership", "Emergency Services",
    "Meets criteria for birthing friendly designation", "Hospital overall rating",
    "Hospital overall rating footnote") ++
    Seq("MORT", "Safety", "READM").flatMap(g => Seq(s"$g Group Measure Count",
      s"Count of Facility $g Measures", s"Count of $g Measures Better",
      s"Count of $g Measures No Different", s"Count of $g Measures Worse",
      s"$g Group Footnote")) ++
    Seq("Pt Exp Group Measure Count", "Count of Facility Pt Exp Measures",
      "Pt Exp Group Footnote", "TE Group Measure Count", "Count of Facility TE Measures",
      "TE Group Footnote")).map(h => "\"" + h + "\"").mkString(",")

  val Ownerships: Seq[String] = Seq("Government - Federal",
    "Government - Hospital District or Authority", "Government - Local",
    "Government - State", "Physician", "Proprietary", "Tribal",
    "Voluntary non-profit - Church", "Voluntary non-profit - Other",
    "Voluntary non-profit - Private", "Department of Defense")

  private val HospitalTypes = Seq("Acute Care Hospitals", "Critical Access Hospitals",
    "Psychiatric", "Childrens", "Acute Care - Veterans Administration",
    "Acute Care - Department of Defense")
  private val Subtypes = Seq("Short Term", "Critical Access Hospitals", "Childrens Hospitals",
    "Long Term")
  private val States = Seq("AL", "AK", "AS", "AZ", "AR", "CA", "CO", "CT", "DE", "DC",
    "FL", "GA", "GU", "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA",
    "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "MP",
    "OH", "OK", "OR", "PA", "PR", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "VI",
    "WA", "WV", "WI", "WY")
  private val Names = Seq("MERCY", "ST JOSEPH", "GOOD SAMARITAN", "PROVIDENCE", "BAPTIST",
    "METHODIST", "UNIVERSITY", "COMMUNITY", "REGIONAL", "MEMORIAL", "VALLEY", "LAKESIDE",
    "RIVERSIDE", "SUMMIT", "PINE RIDGE", "LBJ TROPICAL")
  private val Kinds = Seq("HOSPITAL", "MEDICAL CENTER", "HEALTH SYSTEM", "GENERAL HOSPITAL",
    "CHILDRENS HOSPITAL", "REHABILITATION HOSPITAL")
  private val Streets = Seq("MAIN STREET", "HOSPITAL DRIVE", "MEDICAL PARKWAY",
    "FAGAALU VILLAGE", "OAK AVENUE", "STATE ROUTE 9", "HEALTH CENTER ROAD")
  private val Cities = Seq("PAGO PAGO", "SPRINGFIELD", "FRANKLIN", "CLINTON", "MADISON",
    "GREENVILLE", "SALEM", "FAIRVIEW", "GEORGETOWN", "RIVERSIDE")
  private val Counties = Seq("JEFFERSON", "WASHINGTON", "FRANKLIN", "LINCOLN", "JACKSON",
    "MONROE", "MADISON")
}
