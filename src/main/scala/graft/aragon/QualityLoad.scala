package graft.aragon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Cleaning, Validate}
import AragonSchema._

/** The CMS quality snapshot load (reference load_quality.py, SURVEY.md
  * §3 E2) as one Spark job.
  *
  * Reference shape: column-pruned pandas scan → vectorized clean → ONE
  * batched IN-list dup probe → 500-row executemany with row-at-a-time
  * fallback. Spark shape: single scan → clean of the 5 consumed columns
  * → ONE cached tagged frame: a broadcast left join vs the (facility_id
  * @ data_date) snapshot flags duplicates, and a `__valid` flag
  * pre-validates what the DB CHECK would reject, so the sink write is
  * clean (the idiomatic replacement for the batch-then-row fallback,
  * SURVEY §3 E2). One aggregation over that frame yields the metrics;
  * the output and the quarantine ids are filters of it.
  *
  * Note the reference does NOT dedupe in-file facility_id duplicates
  * (no unique constraint on the serial-pk table) — we reproduce that:
  * no intra-batch dedup here.
  */
object QualityLoad {

  private val RowId = "__row_id"
  private val EsRaw = "__es_raw"

  final case class Metrics(totalRows: Long, inserted: Long, duplicates: Long, invalid: Long)

  final case class Result(quality: DataFrame, quarantine: DataFrame, metrics: Metrics,
                          private val caches: Seq[DataFrame] = Nil) {
    def unpersist(): Unit = caches.foreach(_.unpersist())
  }

  /** S2/S3: one scan, all columns as raw strings (quarantine needs the
    * full original row, reference load_quality.py:142).
    */
  def readRaw(spark: SparkSession, csvPath: String): DataFrame =
    spark.read.option("header", "true").csv(csvPath)
      .withColumn(RowId, monotonically_increasing_id())

  /** P5-P7: header normalize, whole-frame 'Not Available'→0 (the
    * reference's df.replace hits every column), Yes/No→bool, rating→
    * float, literal data_date.
    */
  def clean(raw: DataFrame, date: java.sql.Date): DataFrame = {
    val pruned = raw.select((qualitySourceCols.map(col) :+ col(RowId)): _*)
    val renamed = Cleaning.normalizeHeaders(pruned)
    val naMapped = renamed.columns.filter(_ != RowId).foldLeft(renamed) {
      (d, c) => Cleaning.mapValues(d, c, Map("Not Available" -> "0"))
    }
    val typed = naMapped
      // keep the pre-boolean text: values outside {Yes, No, null} (e.g.
      // 'Not Available' → "0" via the whole-frame remap above) must be
      // routed to the invalid split, mirroring the reference where the
      // boolean-column INSERT rejects them into quarantine
      // (load_quality.py:103-105 + per-row fallback :57-78)
      .withColumn(EsRaw, col("emergency_services"))
      .withColumn("hospital_overall_rating", col("hospital_overall_rating").cast(DoubleType))
      .withColumn("emergency_services",
        when(col("emergency_services") === "Yes", true)
          .when(col("emergency_services") === "No", false)
          .otherwise(lit(null).cast(BooleanType)))
    Cleaning.withLiteral(typed, "data_date", date, DateType)
  }

  /** Full E2 pipeline for one snapshot file.
    *
    * @param existingKeys snapshot of (facility_id, data_date) already loaded
    */
  def load(spark: SparkSession, csvPath: String, date: java.sql.Date,
           existingKeys: DataFrame): Result = {

    val raw = readRaw(spark, csvPath).cache()
    val typed = clean(raw, date)

    // D3: one batched probe ≡ a broadcast left join on facility_id at
    // this date; a null facility_id never matches, so it stays fresh
    val existingAtDate = existingKeys.toDF("facility_id", "data_date")
      .filter(col("data_date") === lit(date)).select("facility_id")
      .dropDuplicates().withColumn("__exists", lit(true))

    // P10: CHECK (hospital_overall_rating >= 0) pre-validated, plus the
    // BOOLEAN-column constraint on emergency_services: anything outside
    // {Yes, No, null} fails the reference's insert → quarantine
    val tagged = typed
      .join(broadcast(existingAtDate), Seq("facility_id"), "left")
      .withColumn("__fresh", col("__exists").isNull)
      .withColumn("__valid", Validate.validPredicate(Seq(
        col("hospital_overall_rating").isNull || col("hospital_overall_rating") >= 0,
        col(EsRaw).isNull || col(EsRaw).isin("Yes", "No"))))
      .withColumn("__keep", col("__fresh") && col("__valid"))
      .cache()

    val droppedIds = tagged.filter(!col("__keep")).select(RowId)
    val quarantine = raw.join(droppedIds, Seq(RowId), "left_semi").drop(RowId)

    // Metrics: ONE aggregation action over the tagged frame
    def cnt(c: org.apache.spark.sql.Column) = count(when(c, 1))
    val m = tagged.agg(
      count(lit(1)).as("total"),
      cnt(col("__keep")).as("nValid"),
      cnt(col("__fresh") && !col("__valid")).as("nInvalid")).head()
    val total = m.getLong(0)
    val metrics = Metrics(
      totalRows = total,
      inserted = m.getLong(1),
      duplicates = total - m.getLong(1) - m.getLong(2),
      invalid = m.getLong(2))

    // S8 (reference: logging_module.py + load_quality.py:145-146)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"Quality load $csvPath @$date: ${metrics.inserted} inserted of " +
        s"${metrics.totalRows} (${metrics.duplicates} duplicates, ${metrics.invalid} invalid)")

    // DDL column order (ipynb cell-3 insert order, load_quality.py:114)
    val out = tagged.filter(col("__keep")).select(
      col("facility_id"), col("hospital_type"), col("hospital_ownership"),
      col("emergency_services"), col("hospital_overall_rating"), col("data_date"))

    Result(out, quarantine, metrics, caches = Seq(raw, tagged))
  }
}
