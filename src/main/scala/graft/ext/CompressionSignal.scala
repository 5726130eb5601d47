package graft.ext

import java.util.zip.Deflater

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Compression-ratio quality signal: how small a document's UTF-8
  * bytes deflate is a cheap, language-agnostic repetitiveness measure
  * — boilerplate, keyword stuffing, and template spam compress far
  * better than natural prose, which is why deflate ratio appears as a
  * screening feature in web-curation pipelines alongside the Gopher
  * rules ([[QualityFilter]]) and the n-gram repetition stats
  * ([[TextAnalysis.repetitionStats]]). Unlike those, the signal needs
  * no tokenizer and catches repetition at EVERY granularity at once
  * (character, word, phrase, paragraph) within the deflate window.
  *
  * Imperative codec work → mapPartitions (the [[Multimodal]] /
  * [[Warc]] judgment call), ONE `Deflater` instance reused across the
  * partition (reset per row — allocation-free steady state). Output is
  * deterministic for a given JDK deflate implementation and pinned
  * level, and partition-layout-invariant (each row compresses alone);
  * it is NOT oracle-mirrorable cross-engine (DuckDB exposes no
  * deflate), so the gate is rows-only and the semantics are pinned in
  * CompressionSignalSpec instead: planted templates/repeats compress
  * below the threshold, prose-like text above, ratios invariant to
  * repartitioning.
  *
  * 100 TB shape: zero shuffles — a narrow per-row pass that rides the
  * ingest scan; compose `ratio` with the other admission screens.
  */
object CompressionSignal {

  final case class DocBytes(id: Long, text: String)
  final case class Ratioed(id: Long, n_raw: Long, n_gz: Long)

  implicit private val inEnc: Encoder[DocBytes] = Encoders.product[DocBytes]
  implicit private val outEnc: Encoder[Ratioed] = Encoders.product[Ratioed]

  /** Deflated size of one byte string at the pinned level. */
  private[ext] def deflatedSize(bytes: Array[Byte], deflater: Deflater): Long = {
    deflater.reset()
    deflater.setInput(bytes)
    deflater.finish()
    val buf = new Array[Byte](8 * 1024)
    var total = 0L
    while (!deflater.finished()) total += deflater.deflate(buf)
    total
  }

  /** Per-document raw and deflated byte counts. `ratio` downstream is
    * the caller's division (kept as two exact longs here so thresholds
    * stay integer-comparable: flag when n_gz * k < n_raw).
    */
  def sizes(df: DataFrame, id: Column, text: Column,
            level: Int = Deflater.DEFAULT_COMPRESSION): DataFrame =
    df.select(id.cast("long").as("id"), text.as("text")).as[DocBytes]
      .mapPartitions { it =>
        val d = new Deflater(level)
        it.map { r =>
          val bytes = r.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Ratioed(r.id, bytes.length.toLong, deflatedSize(bytes, d))
        }
      }
      .toDF()

  /** Screening face: documents flagged when they compress more than
    * `k`-fold (n_gz * k < n_raw) — the repetitive-content reject.
    */
  def flagged(df: DataFrame, id: Column, text: Column, k: Int = 4): DataFrame =
    sizes(df, id, text)
      .select(col("id"), col("n_raw"), col("n_gz"),
              (col("n_gz") * k < col("n_raw")).as("too_compressible"))

  /** The ORACLE-CHECKABLE twin of the deflate signal (the q29/q46
    * portable-twin pattern): LZ77-style fixed-window match coverage.
    * A position i of a document is COVERED when the `gram`-length
    * character n-gram starting there already occurred with start
    * distance ≤ `window` — exactly the back-references deflate's LZ77
    * stage would emit (deflate then Huffman-codes them, which is the
    * only part this proxy drops). Coverage fraction n_cov/n_pos is a
    * pure integer statistic: deterministic, partition-invariant, and
    * expressible in any SQL engine — gate q203 hash-matches it
    * cross-engine, giving the compression-signal family the checkable
    * face q117's JDK-deflate gate (rows-only by necessity) cannot
    * have.
    *
    * The nearest earlier occurrence is within the window iff ANY is,
    * so per position one LAG over (id, gram) ordered by position
    * replaces the quadratic all-pairs self-join — O(P log P) total,
    * one shuffle on (id, gram). Shuffle rows carry (id, pos,
    * gram-string): `gram` characters each, a bounded constant factor
    * of the corpus (grams could shuffle as digests for very large
    * `gram`, at the cost of the exact-string contract).
    *
    * Flag rule, integer-exact: too_repetitive ⇔
    * n_cov · 10 ≥ n_pos · thresholdTenths (and n_pos > 0).
    */
  def lzCoverage(df: DataFrame, id: Column, text: Column,
                 gram: Int = 8, window: Int = 64,
                 thresholdTenths: Int = 6): DataFrame = {
    require(gram >= 2 && window >= 1, "gram >= 2 and window >= 1")
    require(thresholdTenths >= 0 && thresholdTenths <= 10,
      "thresholdTenths in [0, 10]")
    val base = df.select(id.cast("long").as("id"), text.as("__t"))
    val pos = base.filter(length(col("__t")) >= gram)
      .select(col("id"),
        explode(sequence(lit(1), length(col("__t")) - (gram - 1))).as("i"),
        col("__t"))
      .select(col("id"), col("i"), col("__t").substr(col("i"), lit(gram)).as("g"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id", "g").orderBy("i")
    val cov = pos
      .withColumn("__gap", col("i") - lag(col("i"), 1).over(w))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("__gap") <= window, 1L).otherwise(0L)).as("n_cov"))
    base.select(col("id")).join(cov, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_cov"), lit(0L)).as("n_cov"),
        (coalesce(col("n_cov"), lit(0L)) * 10 >=
          coalesce(col("n_pos"), lit(0L)) * thresholdTenths &&
          coalesce(col("n_pos"), lit(0L)) > 0L).as("too_repetitive"))
  }
}
