package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Validate-and-split (SURVEY.md §2.2 P9–P11): route rows that fail a
  * set of predicates to a quarantine branch instead of failing the job —
  * the reference's invalid-row bookkeeping (load_hhs.py:104-127 negative
  * bed-metric guards; CHECK hospital_overall_rating >= 0 in the DDL).
  *
  * Rows where a predicate is NULL count as VALID (the reference only
  * rejects `not null AND value < 0`); pass explicit isNotNull predicates
  * to tighten. The two frames partition the input exactly: every input
  * row lands in exactly one side (property-tested in ValidateSpec).
  *
  * Scale: both sides are narrow filters over the same scan; Spark will
  * read the source twice unless the caller caches — at 100 TB prefer a
  * single pass that flags rows and filters both sides from one cached
  * frame (see the tagged frame in `graft.aragon.HhsLoad.load`) or accept
  * the double scan when the source is columnar and the predicate prunes
  * well.
  */
object Validate {

  /** Conjunction where NULL predicate results count as valid. */
  def validPredicate(preds: Seq[Column]): Column =
    preds.map(p => coalesce(p, lit(true))).reduce(_ && _)

  def validateSplit(df: DataFrame, preds: Seq[Column]): (DataFrame, DataFrame) = {
    val ok = validPredicate(preds)
    (df.filter(ok), df.filter(!ok))
  }

  /** Single-pass variant: tag rows instead of splitting, so one scan can
    * feed both sinks (filter on `__valid` downstream).
    */
  def tagged(df: DataFrame, preds: Seq[Column], flag: String = "__valid"): DataFrame =
    df.withColumn(flag, validPredicate(preds))

  /** Non-negativity guards over a set of numeric columns — the exact
    * shape of load_hhs.py:104-127 (null passes, negative rejects).
    */
  def nonNegative(cols: Seq[String]): Seq[Column] =
    cols.map(c => col(c).isNull || col(c) >= 0)

  /** S9 metrics as a zero-extra-pass observation: attach valid/invalid
    * counters to the frame so whatever action the caller runs anyway
    * (the sink write) ALSO produces the load accounting — no second
    * count() job over the data. `obs.get` blocks until the first action
    * on the returned frame completes.
    */
  def observedSplit(df: DataFrame, preds: Seq[Column]):
      (DataFrame, DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val ok = validPredicate(preds)
    val observed = df.observe(obs,
      count(lit(1)).as("total"),
      count(when(ok, 1)).as("valid"),
      count(when(!ok, 1)).as("invalid"))
    (observed.filter(ok), observed.filter(!ok), obs)
  }
}
