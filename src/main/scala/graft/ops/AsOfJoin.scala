package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** As-of (point-in-time) join — for each left row, the single right row
  * whose timestamp is nearest at-or-before (backward) or at-or-after
  * (forward) the left row's timestamp, per key. The operator Spark SQL
  * lacks natively; standard in time-series/feature-store workloads
  * (e.g. "attach the most recent prior 'view' to every 'click'").
  *
  * Spark shape — union + running window, NOT a range join:
  *   tag right rows side=0 and left rows side=1, union them, sort each
  *   key partition by (ts, side), and carry the last non-null right
  *   payload forward (`last(_, ignoreNulls)` over an unbounded-preceding
  *   row frame). One shuffle of |L|+|R| rows on the key; no per-pair
  *   work at all. A range-join formulation (l JOIN r ON r.ts <= l.ts
  *   then max per left row) materializes O(|L|·|R|/key) intermediate
  *   pairs — quadratic on hot keys; this merge form is linear and is
  *   what survives 100 TB.
  *
  * Determinism: rows tie on (ts, side) only if the right side has
  * duplicate (key, ts) rows — pre-aggregate the right side to one row
  * per (key, ts), or pass `rightTieBreak` columns to pin the winner:
  * among tied right rows the GREATEST tie-break tuple wins, in BOTH
  * directions (nulls lose to any non-null value).
  * At equal timestamps the right row sorts BEFORE the left row
  * (side 0 < 1), so "at-or-before"/"at-or-after" includes exact ties.
  */
object AsOfJoin {

  /** Most recent right row at-or-before each left row (left outer:
    * unmatched left rows keep null right payload).
    *
    * Output columns: keys, then every non-key left column, then every
    * non-key non-timestamp right column (null when no match).
    */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               rightTieBreak: Seq[String] = Nil,
               tolerance: Option[Long] = None): DataFrame =
    asof(left, right, keys, leftTs, rightTs, rightTieBreak, forward = false,
      tolerance)

  /** Earliest right row at-or-after each left row. */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTs: String, rightTs: String,
              rightTieBreak: Seq[String] = Nil,
              tolerance: Option[Long] = None): DataFrame =
    asof(left, right, keys, leftTs, rightTs, rightTieBreak, forward = true,
      tolerance)

  /** `tolerance`: drop matches whose timestamp gap exceeds this bound
    * (pandas/polars `merge_asof(tolerance=...)` semantics — a view
    * from last week should not attribute a click today). Numeric
    * timestamp columns only (the gap is computed by subtraction in
    * the column's own unit); the match stays a left outer null.
    */
  private def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String,
                   rightTieBreak: Seq[String], forward: Boolean,
                   tolerance: Option[Long]): DataFrame = {
    val lPayload = left.columns.toSeq.filterNot(keys.contains)
    val rPayload = right.columns.toSeq.filterNot(c => keys.contains(c) || c == rightTs)
    require(lPayload.intersect(rPayload).isEmpty,
      s"overlapping non-key columns: ${lPayload.intersect(rPayload).mkString(",")}")

    val lType = StructType(left.schema.fields.filter(f => lPayload.contains(f.name)))
    // the matched right timestamp rides along as a reserved struct
    // field so a tolerance bound can compare it to the left timestamp
    val rType = StructType(right.schema.fields.filter(f => rPayload.contains(f.name))
      :+ org.apache.spark.sql.types.StructField("__rts", right.schema(rightTs).dataType))
    tolerance.foreach { t =>
      require(t >= 0, s"tolerance must be >= 0, got $t")
      require(right.schema(rightTs).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        "tolerance requires a numeric timestamp column")
    }

    // all name-based references backtick-quoted: a payload column named
    // "a.b" must resolve as one name, not a struct path
    def q(n: String): Column = col("`" + n + "`")

    // join semantics for nulls: a null-timestamp right row precedes/
    // follows nothing (r.ts <= l.ts is never true), so drop it up front
    // rather than let null-ordering place it somewhere meaningful
    val rSide = right.where(q(rightTs).isNotNull).select(
      keys.map(q) ++
        Seq(q(rightTs).as("__ts"), lit(0).as("__side"),
          lit(null).cast(lType).as("__l"),
          struct(rPayload.map(q) :+ q(rightTs).as("__rts"): _*).as("__r")) ++
        rightTieBreak.map(c => q(c).as(s"__tb_$c")): _*)
    val lSide = left.select(
      keys.map(q) ++
        Seq(q(leftTs).as("__ts"), lit(1).as("__side"),
          struct(lPayload.map(q): _*).as("__l"),
          lit(null).cast(rType).as("__r")) ++
        rightTieBreak.map(c => lit(null).cast(
          right.schema(c).dataType).as(s"__tb_$c")): _*)

    // backward: ascending scan, right-before-left at ties; forward:
    // descending scan, still right-before-left at ties (side 0 first
    // works for both because the frame ends at the current row).
    // Tie-breaks sort ASCENDING in both directions: `last()` takes the
    // row scanned latest, so the greatest tie-break tuple wins whether
    // the timestamp scan runs asc or desc — one documented convention
    // instead of a per-direction surprise. nulls_first makes null
    // tie-breaks lose to any non-null value.
    val ord =
      (if (forward) Seq(col("__ts").desc) else Seq(col("__ts").asc)) ++
        Seq(col("__side").asc) ++
        rightTieBreak.map(c => col(s"__tb_$c").asc_nulls_first)
    val w = Window.partitionBy(keys.map(q): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // join semantics for nulls, continued: a null-timestamp left row
    // and a null join KEY never match anything in the equivalent range
    // join (NULL = NULL is not a match) — emit them with null payload
    val matchable = col("__ts").isNotNull &&
      keys.map(q(_).isNotNull).reduce(_ && _)
    val matched = last(col("__r"), ignoreNulls = true).over(w)
    val withinTol = tolerance match {
      case None => matched
      case Some(tol) =>
        val gap =
          if (forward) matched.getField("__rts") - col("__ts")
          else col("__ts") - matched.getField("__rts")
        when(gap <= tol, matched)
    }
    lSide.unionByName(rSide)
      .withColumn("__m", when(matchable, withinTol).otherwise(lit(null).cast(rType)))
      .filter(col("__side") === 1)
      .select(keys.map(q) ++
        lPayload.map(c => col("__l").getField(c).as(c)) ++
        rPayload.map(c => col("__m").getField(c).as(c)): _*)
  }
}
