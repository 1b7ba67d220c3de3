package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `tidyr::fill()`-style window fills (SURVEY §2.5 W1) — last/first
  * non-null over a running frame; one window spec shared by all filled
  * columns so Catalyst plans a single Window node (one shuffle+sort). */
object Fills {

  /** down-then-up ("downup"). The up side is a running frame over the
    * REVERSED order, O(n) per partition; an unbounded-FOLLOWING frame
    * re-scans to the partition end per row, O(n²) (PLANS.md round-9).
    * Requires the order columns to be unique per partition row. */
  def fillDownUp(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column], cols: Seq[String]): DataFrame = {
    val wDown = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wUp = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(_.desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        coalesce(
          last(col(c), ignoreNulls = true).over(wDown),
          last(col(c), ignoreNulls = true).over(wUp)))
    }
  }
}
