package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-marker) attachment — SURVEY §2.3 J15's interval
  * join semantics, expressed as a single window pass instead of a range
  * join: each row picks up the latest qualifying value at or before its
  * own position within its key group.
  *
  * At scale this is one hash shuffle on the key (same partitioning a
  * range join would need) and a streaming sort within partitions — no
  * O(n·m) interval probing, no broadcast of the marker set.
  */
object AsOf {

  /** Attach `last value where markerCond` (at or before each row) as
    * `as`; rows before any marker get null.
    *
    * @param orderCols total order within a key group — include a
    *                  tie-breaker for determinism
    */
  def attachLastMarker(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      markerCond: Column,
      value: Column,
      as: String): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, last(when(markerCond, value), ignoreNulls = true).over(w))
  }

  /** TWO-TABLE backward as-of join (the trades×quotes shape): each left
    * row picks up the right row with the greatest `rTimeCol` at or
    * before its `lTimeCol` within the same keys — DuckDB's
    * `ASOF LEFT JOIN`, Pandas' `merge_asof`.
    *
    * Implemented with the UNION trick, not a range join: tag right
    * rows source=0 and left rows source=1, union, and run ONE
    * last-non-null window ordered by (time, source) — right rows sort
    * before left rows at equal time, so "at or before" is inclusive.
    * Plan: one hash shuffle on the keys + one sort, regardless of how
    * many right rows precede each left row. A range join would probe
    * O(left × right-per-key); this is O((left + right) log) and AQE-
    * skew-splittable.
    *
    * Right rows should be unique per (keys, rTimeCol) — pre-aggregate
    * duplicates — otherwise which same-timestamp row wins is
    * order-undefined (true of every as-of engine, incl. DuckDB's).
    *
    * @param valueCols right columns to attach; they appear on the
    *                  output suffixed `_asof`
    * @param tolerance optional maximum staleness: a matched right row
    *                  only attaches when `lTime - rTime <= tolerance`
    *                  (merge_asof's `tolerance`); older matches yield
    *                  nulls. Expressed as a Column so numeric epochs
    *                  take a numeric literal and timestamps an INTERVAL
    * @return every left row (all its columns), plus the attached
    *         `<value>_asof` columns (null when no right row precedes) */
  def joinAsOf(
      left: DataFrame, right: DataFrame, keyCols: Seq[String],
      lTimeCol: String, rTimeCol: String,
      valueCols: Seq[String],
      tolerance: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(!valueCols.contains("__rt"),
      "joinAsOf: '__rt' is reserved for the carried match time")
    val leftPayload = left.columns.filterNot(keyCols.contains).toSeq
    // ONE struct per right row (never null for a right row, even when
    // every value field is SQL NULL) so (a) a matched row's NULL values
    // stay NULL instead of leaking the previous non-null value forward,
    // and (b) all attached columns come from the SAME right row — the
    // semantics DuckDB ASOF JOIN / merge_asof guarantee. The struct
    // also carries the matched right TIME (`__rt`) so the tolerance
    // check compares against the row that actually matched.
    val vType = StructType(valueCols.map(c =>
      right.schema(right.schema.fieldIndex(c))) :+
      StructField("__rt", right.schema(right.schema.fieldIndex(rTimeCol)).dataType))
    val lSide = left.select(
      keyCols.map(col) ++
        Seq(col(lTimeCol).as("__t"), lit(1).as("__src")) ++
        leftPayload.map(col) :+
        lit(null).cast(vType).as("__vs"): _*)
    val rSide = right.select(
      keyCols.map(col) ++
        Seq(col(rTimeCol).as("__t"), lit(0).as("__src")) ++
        leftPayload.map(c => lit(null).as(c)) :+
        struct(valueCols.map(col) :+ col(rTimeCol).as("__rt"): _*).as("__vs"): _*)
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t"), col("__src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inTol = tolerance.fold(lit(true))(tol =>
      col("__t") - col("__vs").getField("__rt") <= tol)
    lSide.unionByName(rSide)
      .withColumn("__vs", last(col("__vs"), ignoreNulls = true).over(w))
      .filter(col("__src") === 1)
      .select(keyCols.map(col) ++ leftPayload.map(col) ++
        valueCols.map(c =>
          when(inTol, col("__vs").getField(c)).as(s"${c}_asof")): _*)
  }

  /** Forward as-of: attach `first value where markerCond` at or AFTER
    * each row as `as`; rows after the last marker get null. Same single
    * shuffle + sort — the ORDER flips (not the frame): a running
    * unbounded-preceding frame over the reversed order is O(n) per
    * partition, where the direct unbounded-following frame re-scans to
    * partition end per row — O(n²) on a hot key (see
    * [[graft.ops.Fills.fillDownUp]]). Requires orderCols unique per
    * partition row (an event-time axis, as in every as-of use). */
  def attachNextMarker(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      markerCond: Column,
      value: Column,
      as: String): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(_.desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, last(when(markerCond, value), ignoreNulls = true).over(w))
  }
}
