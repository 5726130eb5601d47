package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval quality metrics — the measurement layer every retrieval
  * experiment needs over the lexical/vector/hybrid rankers:
  * recall@k, MRR@k, and nDCG@k per query against a graded relevance
  * table (qrels).
  *
  * Portability discipline: nDCG's rank discounts `1/log2(r+1)` are
  * the only transcendental in the family, and rank is bounded by k —
  * so the k discount values are DRIVER-COMPUTED double literals
  * injected identically into the plan and the oracle SQL (the q139
  * k1/b rule: interpolating the shortest-repr literal guarantees the
  * same double; computing log2 in two engines does not). Per-term
  * gains are floored onto the 1e-12 grid before the one grouped sum
  * (the LinkGraph rule), the final recall / MRR / nDCG divisions are
  * single IEEE ops, and queries with no relevant documents score 0
  * across the board rather than NULL (a ranking evaluated on them IS
  * worth 0).
  *
  * Scale shape: qrels are evaluation state — thousands of rows — so
  * both joins broadcast the qrels side; the per-query aggregates are
  * map-side-combinable. Nothing corpus-proportional happens here at
  * all: the expensive part was the ranker.
  */
object RetrievalEval {

  /** 1/log2(r+1) for r = 1..k, computed once on the driver. */
  def discounts(k: Int): Seq[Double] =
    (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  /** Per-query metrics:
    * (query_id, n_rel, hits, recall, mrr, dcg, idcg, ndcg).
    *
    * @param results (query_id, rank, doc_id) — ranks 1-based, ≤ k rows
    *                per query used
    * @param qrels   (query_id, doc_id, rel) — graded; rel ≤ 0 rows are
    *                ignored (the TREC convention for judged-irrelevant)
    */
  def evaluate(results: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val grid = 1.0e12
    val disc = array(discounts(k).map(lit): _*)

    val rel = qrels.filter(col("rel") > 0)
      .select(col("query_id"), col("doc_id"), col("rel").cast("long").as("rel"))
    val nRel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))

    val hitsRows = results.filter(col("rank") <= k)
      .join(broadcast(rel), Seq("query_id", "doc_id"))
    val perQuery = hitsRows.groupBy(col("query_id")).agg(
      count(lit(1)).as("hits"),
      min(col("rank")).as("__first"),
      (sum(floor(col("rel").cast("double") *
        element_at(disc, col("rank").cast("int")) * lit(grid)))
        .cast("double") / lit(grid)).as("dcg"))

    // ideal DCG from qrels alone: the query's top-k rels, best first
    val wIdeal = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id").asc)
    val idcg = rel.withColumn("__r", row_number().over(wIdeal))
      .filter(col("__r") <= k)
      .groupBy(col("query_id"))
      .agg((sum(floor(col("rel").cast("double") *
        element_at(disc, col("__r").cast("int")) * lit(grid)))
        .cast("double") / lit(grid)).as("idcg"))

    nRel.join(perQuery, Seq("query_id"), "left")
      .join(idcg, Seq("query_id"), "left")
      .select(
        col("query_id"),
        col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_rel").cast("double")).as("recall"),
        when(col("__first").isNull, 0.0)
          .otherwise(lit(1.0) / col("__first").cast("double")).as("mrr"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        coalesce(col("idcg"), lit(0.0)).as("idcg"),
        when(coalesce(col("idcg"), lit(0.0)) === 0.0, 0.0)
          .otherwise(coalesce(col("dcg"), lit(0.0)) / col("idcg"))
          .as("ndcg"))
  }
}
