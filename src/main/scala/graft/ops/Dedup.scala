package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.3 D1–D4) — the reference's
  * signature operation, generalized.
  *
  * The reference implements three variants of the same idea (per-row SQL
  * probe at load_hhs.py:8-32, batched IN-list probe at
  * load_quality.py:13-31): "drop incoming rows whose key already exists
  * in the target". In Spark all three are ONE operator: a left_anti join
  * against the existing-key snapshot.
  *
  * Scale notes (100 TB): the existing-key side is usually much smaller
  * than the incoming batch → broadcast it (default here). When both
  * sides are huge, pass broadcastExisting=false and let AQE pick a
  * shuffled join; the anti-join then shuffles on the key columns only
  * (keys are projected before the join, so the shuffle payload is
  * minimal).
  */
object Dedup {

  /** D1/D2/D3: drop rows of `incoming` whose key tuple appears in
    * `existing`. Keys are projected + de-dup'd on the existing side
    * first so the broadcast/shuffle carries only distinct keys.
    */
  def antiDedup(incoming: DataFrame, keys: Seq[String], existing: DataFrame,
                broadcastExisting: Boolean = true): DataFrame = {
    val keyCols = keys.map(col)
    val snap0 = existing.select(keyCols: _*).dropDuplicates(keys)
    val snap = if (broadcastExisting) broadcast(snap0) else snap0
    incoming.join(snap, keys, "left_anti")
  }

  /** D4 complement: the rows that WOULD be dropped (quarantine side). */
  def duplicatesOf(incoming: DataFrame, keys: Seq[String], existing: DataFrame,
                   broadcastExisting: Boolean = true): DataFrame = {
    val snap0 = existing.select(keys.map(col): _*).dropDuplicates(keys)
    val snap = if (broadcastExisting) broadcast(snap0) else snap0
    incoming.join(snap, keys, "left_semi")
  }

  /** Plain distinct on a projection (intra-batch set dedup). */
  def distinctOn(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()
}
