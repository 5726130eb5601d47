package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate fingerprinting, at two widths.
  *
  * Each token hashes to w bits; bit i of the document fingerprint is
  * set iff Σ_tokens (±1 for bit i of the token hash) >= 0. Near-dups
  * have small Hamming distance between fingerprints.
  *
  * Spark shape: explode tokens → ONE aggregate
  * ([[graft.functions.SimHashAgg]]) per document. Both widths use it:
  * a token hash in [0, 2^32) votes −1 on every high bit, so those bits
  * stay clear and the 64-bit fold IS the 32-bit fingerprint. Candidate
  * pairing at scale uses the pigeonhole trick: split the w bits into
  * `bands` chunks — any pair within Hamming distance `bands - 1`
  * shares ≥1 exact chunk, so a chunk-equality bucket join finds all
  * such pairs with a linear shuffle; `bit_count(xor)` then gives the
  * exact distance.
  *
  * Why two widths: fingerprint width is behaviour, not speed. At the
  * same `maxDist = 3, bands = 4`, q29's input (the full sf0.1
  * `documents` plus 20 planted near-dups) gives 459 pairs at 64 bits
  * (xxhash64 tokens, [[nearDupPairs]]) and 96,933 at 32 bits (md5
  * tokens, [[nearDupPairsPortable]]): three differing bits out of 32
  * is a far looser threshold than three out of 64. The 32-bit form
  * exists because its every step has a portable SQL mirror (q46).
  */
object SimHash {

  /** (id, simhash) per document — one custom TypedImperativeAggregate
    * (graft.functions.SimHashAgg) rather than 64 conditional sums: the
    * wide-sum form exceeds codegen field limits and drops the whole
    * stage to interpreted execution.
    */
  def fingerprints(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("__id"), explode(TextAnalysis.tokens(text)).as("__t"))
      .groupBy("__id")
      .agg(graft.functions.SimHashAgg.simhash(xxhash64(col("__t"))).as("simhash"))
      .select(col("__id").as("id"), col("simhash"))

  /** Pigeonhole band join + exact Hamming filter over a fingerprint
    * frame (id, <fpCol>). Band b's chunk is bits [b·width, (b+1)·width)
    * of the fingerprint, `(f >>> b·width) & (2^width − 1)` (applied to
    * the fp frame AND to both pair sides for the first-shared-band
    * dedup); for fingerprints in [0, 2^32) that equals the oracle's
    * `(f // 2^(b·width)) % 2^width`. Complete for
    * maxDist < bands (recall-complete; `maxBucket` can trade that off,
    * below). Shared by both widths, so fixes (like the band-column
    * disambiguation) live in one place.
    *
    * Hot-band guard: the band join runs over DISTINCT fingerprints
    * only. Identical documents are the pathological bucket case — a
    * group of m exact duplicates used to contribute m²·bands raw join
    * rows before dropDuplicates; collapsed, it contributes ONE banding
    * row, and its member pairs come back via an output-proportional
    * expansion (intra-group pairs are Hamming 0 by construction;
    * cross-group pairs inherit the Hamming of their fingerprint pair,
    * since every member shares the group's exact fingerprint). The
    * output pair set is identical to the uncollapsed join.
    *
    * `maxBucket` (default unlimited, keeping recall completeness)
    * additionally drops band buckets holding more than that many
    * DISTINCT fingerprints — the boilerplate-band case (a license
    * header pinning one chunk across a huge corpus slice). Pairs in a
    * dropped bucket are still found through any other band they share,
    * so the cap degrades recall only for pairs whose every shared band
    * is hot.
    */
  private def bandedPairs(fps: DataFrame, fpCol: String, bands: Int,
                          width: Int, maxDist: Int,
                          maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mask = if (width == 64) -1L else (1L << width) - 1
    def chunk(c: String, b: Int): Column =
      shiftrightunsigned(col(c), b * width).bitwiseAND(mask)
    val chunks = array((0 until bands).map { b =>
      struct(lit(b).as("band"), chunk(fpCol, b).as("chunk"))
    }: _*)
    // the fingerprint frame feeds six plan branches (distinct→band
    // sides, both expansion sides, both intra sides); materialize it
    // once — 16 bytes per doc — so the fingerprint aggregation is not
    // re-run per branch. Checkpoint-block retention is documented on
    // MinHashLsh.bandedCandidates; same tradeoff here.
    val fpsM = fps.localCheckpoint(false)
    val banded = fpsM.select(col(fpCol)).distinct().withColumn("__bc", explode(chunks))
    val guarded =
      if (maxBucket == Int.MaxValue) banded
      else banded
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__bc"))))
        .filter(col("__n") <= maxBucket).drop("__n")
    val a = guarded.select(col(fpCol).as("__f1"), col("__bc").as("__bc1"))
    val b2 = guarded.select(col(fpCol).as("__f2"), col("__bc").as("__bc2"))
    val joined = a
      .join(b2, col("__bc1") === col("__bc2") && col("__f1") < col("__f2"))
    // a qualifying pair matches in one band per shared chunk, so the
    // raw join emits it up to `bands` times. With no bucket cap every
    // shared band survives the guard, so "this row's band is the
    // pair's FIRST shared band" is a row-local scalar dedup — the
    // dropDuplicates shuffle of the pair stream (the dominant term of
    // the quadratic-output gates at ×100) disappears. With a cap the
    // first shared band may sit in a dropped bucket, so fall back to
    // the shuffle dedup.
    val deduped =
      if (maxBucket == Int.MaxValue) {
        val minBand = (0 until bands).foldRight(lit(bands): Column) {
          (b, rest) =>
            when(chunk("__f1", b) === chunk("__f2", b), lit(b)).otherwise(rest)
        }
        joined.filter(col("__bc1.band") === minBand)
      } else joined.dropDuplicates("__f1", "__f2")
    val fpPairs = deduped
      .withColumn("hamming",
        bit_count(col("__f1").bitwiseXOR(col("__f2"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("__f1"), col("__f2"), col("hamming"))
    val m1 = fpsM.select(col("id").as("__i1"), col(fpCol).as("__f1"))
    val m2 = fpsM.select(col("id").as("__i2"), col(fpCol).as("__f2"))
    // shuffle-hash build on the id-map sides: the pair stream is the
    // quadratic-OUTPUT term (pairs grow with near-dup cluster sizes²,
    // the corpus-proportional fp map does not), so a sort-merge join
    // would SORT the larger side twice — once per expansion — while a
    // per-partition hash of the fp map streams the pairs unsorted.
    // Same rows either way; the build side is the one partition
    // sizing governs at corpus scale.
    val cross = fpPairs
      .join(m1.hint("shuffle_hash"), "__f1")
      .join(m2.hint("shuffle_hash"), "__f2")
      .select(least(col("__i1"), col("__i2")).as("id1"),
        greatest(col("__i1"), col("__i2")).as("id2"), col("hamming"))
    val intra = fpsM.select(col("id").as("id1"), col(fpCol).as("__f"))
      .join(fpsM.select(col("id").as("id2"), col(fpCol).as("__f")), "__f")
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), lit(0L).as("hamming"))
    cross.unionByName(intra)
  }

  /** All pairs with Hamming(simhash) <= maxDist, found via the
    * pigeonhole band join (complete as long as bands > maxDist).
    */
  def nearDupPairs(df: DataFrame, id: Column, text: Column,
                   maxDist: Int = 3, bands: Int = 4,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    require(bands > maxDist, "pigeonhole completeness needs bands > maxDist")
    require(64 % bands == 0, "bands must divide 64")
    // the fingerprint barrier lives inside bandedPairs (the collapse
    // introduced six consumers of this frame; ReuseExchange alone only
    // dedupes up to the exchange, re-running the final aggregate per
    // consumer)
    val fps = fingerprints(df, id, text)
    bandedPairs(fps, "simhash", bands, 64 / bands, maxDist, maxBucket)
  }

  // ---- engine-portable variant (oracle-checkable end to end) ---------

  /** 32-bit SimHash from the md5-derived portable token hash — every
    * step (token hash, per-bit votes, fingerprint assembly, chunk
    * bands, Hamming distance) expressible in portable SQL (the q46
    * oracle mirrors the per-bit votes as a tokens × 32 explode and two
    * keyed aggregations). Spark folds the same votes in SimHashAgg:
    * the token hash is < 2^32, so only the low 32 bits can be set.
    */
  def fingerprintsPortable(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("__id"), explode(TextAnalysis.tokens(text)).as("__t"))
      .groupBy("__id")
      .agg(graft.functions.SimHashAgg.simhash(
        MinHashLsh.portableHash32(col("__t"))).as("simhash32"))
      .select(col("__id").as("id"), col("simhash32"))

  /** Pigeonhole band join + exact Hamming over the portable 32-bit
    * fingerprints (complete for maxDist < bands, as above).
    */
  def nearDupPairsPortable(df: DataFrame, id: Column, text: Column,
                           maxDist: Int = 3, bands: Int = 4,
                           maxBucket: Int = Int.MaxValue): DataFrame = {
    require(bands > maxDist, "pigeonhole completeness needs bands > maxDist")
    require(32 % bands == 0, "bands must divide 32")
    val fps = fingerprintsPortable(df, id, text)
    bandedPairs(fps, "simhash32", bands, 32 / bands, maxDist, maxBucket)
  }
}
