package graft.fia

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Population scaling of the annualized+estimated table to state-level
  * per-area carbon (`vignettes/pop_scaling.qmd:98-166`): domain
  * indicators, a computed per-year expansion factor (the FIA-provided
  * EXPNS is wrong for annualized data — more plots per year), plot-level
  * tree and area totals, and the yearly rollup ratio.
  *
  * R `sum(x, na.rm = TRUE)` over all-NA groups is 0, hence the
  * `coalesce(sum(...), 0)` wrappers (SURVEY §7.4.2).
  *
  * The whole read is one pass over a single exchange on YEAR: the
  * per-year distinct-plot count is windowed (SURVEY A2's window form),
  * as the year's top `dense_rank` of `plot_ID`, a scalar per row.
  * `size(collect_set(plot_ID))` over the year counts the same, but the
  * window writes the year's whole id array into every row before
  * `size` reads it: at 600 plots that copy was most of the read's CPU
  * time (JFR samples in `SpecificUnsafeProjection.writeFields`), and it
  * grows with rows × plots per year. Every later grain — condition,
  * plot, year — contains YEAR, so the YEAR hash partitioning already
  * satisfies each aggregate. One scan, one shuffle, no join and no
  * broadcast: a collect runs 2 Spark jobs (`JobBudgetSpec`). The plot's
  * area is summed over its distinct condition groups, the grain the
  * carbon partials are first summed at; per-row arithmetic is the
  * three-leg formulation's (`PopScalePropSpec` keeps it as the
  * reference), only the summation order differs. Rows with a NULL
  * `plot_ID` or `YEAR` are dropped up front: that formulation's inner
  * joins drop them too, and its distinct count ignores NULLs.
  */
object PopScale {

  /** @param estimated output of [[EstimateCarbon.fiaEstimate]]
    * @param stateArea total state acres (e.g. RI = 781730.1) */
  def carbonPerAcre(estimated: DataFrame, stateArea: Double): DataFrame = {
    val dom = estimated
      .withColumn("aDI",
        when(col("COND_STATUS_CD") === 1 && col("INTENSITY") === 1, 1).otherwise(0))
      .withColumn("tDI",
        when(col("STATUSCD") === 1, 1).otherwise(0) * col("aDI"))
      .filter(col("plot_ID").isNotNull && col("YEAR").isNotNull)
      .withColumn("plotRank",
        dense_rank().over(Window.partitionBy(col("YEAR")).orderBy(col("plot_ID"))))
      .withColumn("EXPNS",
        lit(stateArea) / max(col("plotRank")).over(Window.partitionBy(col("YEAR"))))

    dom
      .groupBy(col("plot_ID"), col("YEAR"), col("CONDID"), col("COND_STATUS_CD"),
        col("CONDPROP_UNADJ"), col("EXPNS"), col("aDI"))
      .agg(sum(col("CARBON_AG") * col("TPA_UNADJ") * col("EXPNS") * col("tDI") / 2000)
        .as("carbCond"))
      .groupBy(col("plot_ID"), col("YEAR"))
      .agg(
        coalesce(sum(col("carbCond")), lit(0.0)).as("carbPlot"),
        coalesce(sum(col("CONDPROP_UNADJ") * col("EXPNS") * col("aDI")), lit(0.0))
          .as("forArea"))
      .groupBy(col("YEAR"))
      .agg(
        coalesce(sum(col("carbPlot")), lit(0.0)).as("carbon_total"),
        coalesce(sum(col("forArea")), lit(0.0)).as("AREA_TOTAL"))
      .withColumn("carbon_ton_acre", col("carbon_total") / col("AREA_TOTAL"))
  }
}
