package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — dataset versioning for training corpora:
  * what changed between crawl N−1 and crawl N, as (doc_id, status ∈
  * added | removed | changed). Drives incremental maintenance
  * downstream (the changed/removed set feeds [[Forget]] retraction,
  * the added/changed set feeds [[ExactDedup.incrementalAdmit]]-style
  * re-admission) and release notes ("+1.2M docs, −40k takedowns,
  * 300k re-crawled").
  *
  * Scale shape: both snapshots reduce to (id, digest) at the scan —
  * the one full-outer join shuffles 16-byte digests, never text, and
  * the output is difference-proportional (unchanged documents, the
  * overwhelming majority of a re-crawl, produce no row).
  */
object CorpusDiff {

  /** @return (doc_id, status) — one row per differing document */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val a = before.select(col(idCol).as("doc_id"),
      md5(col(textCol).cast("binary")).as("__ha"))
    val b = after.select(col(idCol).as("doc_id"),
      md5(col(textCol).cast("binary")).as("__hb"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") =!= col("__hb"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
  }

  /** Per-status counts plus the unchanged remainder — the one-line
    * release summary. Two digest-keyed aggregates, no text shuffle.
    */
  def diffSummary(before: DataFrame, after: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val d = snapshotDiff(before, after, idCol, textCol)
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
    val unchanged = before.select(col(idCol).as("doc_id"),
        md5(col(textCol).cast("binary")).as("__h"))
      .join(after.select(col(idCol).as("doc_id"),
        md5(col(textCol).cast("binary")).as("__h")),
        Seq("doc_id", "__h"), "left_semi")
      .agg(count(lit(1)).as("n"))
      .select(lit("unchanged").as("status"), col("n"))
    d.unionByName(unchanged)
  }
}
