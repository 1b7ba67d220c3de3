package graft.fia

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Annualize

/** `expand_data |> interpolate_data |> adjust_mortality` as ONE group
  * pass per `(plot_ID, tree_ID)`: the [[graft.ops.Annualize]] grid, then
  * the FIA finish on the tree's rows (decode, dead/fallen rewrite, the
  * mortyr variant's MORTYR rewrite). The rest is row-local. use_mortyr
  * ("any MORTYR in the input") is global: the pass rewrites as if it held
  * and keeps DECAYCD / STANDING_DEAD_CD's pre-fill values, and a scalar
  * subquery over the pass output (re-reading its reused shuffle) picks.
  * With no MORTYR no tree has a MORTYR_eff, so only the fill-up differs. */
object FiaAnnualize {

  val variants: Seq[String] = Seq("midpt", "mortyr")

  private val sentinelCols = Seq(
    "STATUSCD", "RECONCILECD", "DECAYCD", "STANDING_DEAD_CD",
    "STDORGCD", "CONDID", "COND_STATUS_CD")
  private val linearCols = Seq("ACTUALHT", "DIA", "HT", "CULL", "CR", "CONDPROP_UNADJ")
  private val stepCols = Seq("PLT_CN") ++ sentinelCols
  private val fillCols = Seq("INTENSITY", "SPCD", "ECOSUBCD", "DESIGNCD", "PROP_BASIS", "MORTYR")
  private val keyCols = Seq("plot_ID", "tree_ID")
  // the columns the mortyr fill-up rewrites, and their pre-fill copies
  private val filledUp = Seq("DECAYCD", "STANDING_DEAD_CD")
  private val preFill = filledUp.map("__prefill_" + _)

  /** use_mortyr: any non-null MORTYR in `df`, as an uncorrelated scalar
    * subquery (building a frame on it runs no job). */
  def anyMortyr(df: DataFrame): Column =
    coalesce(df.filter(col("MORTYR").isNotNull).select(lit(true)).limit(1).scalar(), lit(false))

  /** Sentinel out (R/interpolate_data.R:62-68), CULL only for DIA >= 5,
    * and the below-measurability rewrite (R/interpolate_data.R:92-110),
    * in place; as in SQL, a rule fires only when its condition is TRUE. */
  private def decoder(schema: StructType): Array[Any] => Unit = {
    val sentinel = sentinelCols.filter(schema.fieldNames.contains).map(schema.fieldIndex).toArray
    val Seq(dia, ht, aht, cull, spcd, status, sdc) =
      Seq("DIA", "HT", "ACTUALHT", "CULL", "SPCD", "STATUSCD", "STANDING_DEAD_CD")
        .map(schema.fieldIndex)
    val jenkins = RefData.jenkinsBySpcd
    v => {
      sentinel.foreach(i => if (v(i) == 999) v(i) = null)
      def lt(i: Int, c: Double) = v(i) != null && v(i).asInstanceOf[Double] < c
      if (lt(dia, 5)) v(cull) = null
      val deadFallen = Option(v(spcd)).flatMap(s => jenkins.get(s.asInstanceOf[Int])).exists(g =>
        if (g < 10) lt(dia, 1) || lt(ht, 4.5) || lt(aht, 4.5)
        else g == 10 && (lt(dia, 1) || lt(ht, 1) || lt(aht, 1)))
      if (deadFallen) { v(status) = 2; v(sdc) = 0 }
    }
  }

  /** `adjust_mortality(use_mortyr = TRUE)` (`R/adjust_mortality.R:24-129`)
    * in place on one tree's rows in ascending YEAR: MORTYR_eff, first_dead,
    * the STATUSCD case, then DECAYCD/STANDING_DEAD_CD filled up. */
  private def mortality(schema: StructType): Array[Array[Any]] => Unit = {
    val Seq(year, mortyr, status, decay, sdc) =
      Seq("YEAR", "MORTYR", "STATUSCD", "DECAYCD", "STANDING_DEAD_CD").map(schema.fieldIndex)
    rows => {
      def yr(v: Array[Any]) = v(year).asInstanceOf[Int]
      val eff = rows.filter(_(mortyr) != null).map { v =>
        val m = v(mortyr).asInstanceOf[Int]
        if (yr(v) == m && v(status) == 1) m + 1 else m
      }.maxOption
      val firstDead = rows.filter(_(status) == 2).map(yr).minOption
      for (e <- eff; fd <- firstDead; v <- rows) {
        if (e < fd && yr(v) >= e && yr(v) < fd) v(status) = 2
        else if (e > fd && yr(v) < e && yr(v) >= fd) v(status) = 1
      }
      for (c <- Seq(decay, sdc)) {
        var next: Any = null
        rows.reverseIterator.foreach(v => if (v(c) != null) next = v(c) else v(c) = next)
      }
    }
  }

  /** `schema` plus pre-fill copies of DECAYCD / STANDING_DEAD_CD, and
    * the function appending a row's values as those copies. */
  private def withPreFill(schema: StructType): (StructType, Array[Any] => Array[Any]) = {
    val idx = filledUp.map(schema.fieldIndex)
    (StructType(schema.fields ++ filledUp.zip(preFill).map { case (c, p) => schema(c).copy(name = p) }),
      v => v ++ idx.map(v(_)))
  }

  /** Where `useMortyr` fails, restore the pre-fill copies; drop them. */
  private def chooseFill(df: DataFrame, useMortyr: Column): DataFrame =
    df.withColumns(Map(filledUp.zip(preFill).map { case (c, p) =>
      c -> when(useMortyr, col(c)).otherwise(col(p))
    }: _*)).drop(preFill: _*)

  /** Sentinel 999 in (R/expand_data.R:25-39: survey-year NAs step-
    * interpolate as real values; CULL NA -> 0 for linear interp), the
    * grid, the decode; with `variants`, both variants and pre-fill copies. */
  private def groupPass(dataTidy: DataFrame, variants: Boolean): DataFrame = {
    val pre = sentinelCols.foldLeft(dataTidy) { (d, c) =>
      if (d.columns.contains(c))
        d.withColumn(c, when(col(c).isNull, lit(999)).otherwise(col(c)))
      else d
    }.withColumn("CULL", when(col("CULL").isNull, lit(0.0)).otherwise(col("CULL")))
      .withColumnRenamed("INVYR", "YEAR")
    val cfg = Annualize.Config(
      keyCols = keyCols,
      yearCol = "YEAR",
      linearCols = linearCols.filter(pre.columns.contains),
      stepCols = stepCols.filter(pre.columns.contains),
      fillDownUpCols = fillCols.filter(pre.columns.contains))
    val grid = pre.schema.add(cfg.flagCol, BooleanType, nullable = false)
    val decode = decoder(grid)
    val adjust = mortality(grid)
    val (filled, copyFill) = withPreFill(grid)
    val out = if (variants) filled.add("variant", StringType, nullable = false) else grid
    Annualize.withFinish(pre, cfg, out) { rows =>
      rows.foreach(decode)
      if (!variants) rows.iterator
      else {
        val mortyr = rows.map(v => copyFill(v) :+ "mortyr")
        adjust(mortyr)
        rows.iterator.map(v => copyFill(v) :+ "midpt") ++ mortyr.iterator
      }
    }
  }

  /** TPA_UNADJ by the DESIGNCD rules, first rule with DIA in [min_DIA,
    * max_DIA) (the rules do not overlap, so this is the reference's range
    * join); SPCD leads, as after the reference's species join. */
  private def withTpa(annual: DataFrame): DataFrame = {
    def rule(r: (Int, Double, Double, Double)) =
      (col("DESIGNCD") === r._1 && col("DIA") >= r._2 && col("DIA") < r._3, lit(r._4))
    val first = rule(RefData.tpaRules.head)
    val tpa = RefData.tpaRules.tail.map(rule).foldLeft(when(first._1, first._2)) {
      case (chain, (cond, value)) => chain.when(cond, value)
    }
    annual.select((col("SPCD") +: annual.columns.filterNot(_ == "SPCD").map(col)) :+
      tpa.as("TPA_UNADJ"): _*)
  }

  /** `adjust_mortality`'s masking, row-local. */
  private def mask(df: DataFrame): DataFrame = {
    val measured = Seq("DIA", "HT", "ACTUALHT", "CULL", "CR")
    // R %in% returns FALSE for NA (Spark isin yields null -> coalesce)
    val nonSampled =
      (col("STATUSCD") === 0 &&
        coalesce(col("RECONCILECD").isin(5, 6, 9), lit(false))) ||
        (col("COND_STATUS_CD") =!= 1)

    // masking in dependency WAVES (each withColumn re-analyzes the
    // whole post-kernel plan, so batch what is independent): DECAYCD
    // reads the REWRITTEN STANDING_DEAD_CD, and the non-sampled wave
    // reads the fallen wave's outputs — 12 analyzer passes become 4
    df
      // STANDING_DEAD_CD only for dead trees (null STATUSCD -> null)
      .withColumn("STANDING_DEAD_CD",
        when(col("STATUSCD") === 2, col("STANDING_DEAD_CD")))
      // DECAYCD only for standing dead (post-rewrite value)
      .withColumn("DECAYCD",
        when(col("STANDING_DEAD_CD") === 1, col("DECAYCD")))
      // fallen trees: no measurements (null condition keeps value,
      // mirroring if_else(cond, NA, x, missing = x))
      .withColumns(Map(measured.map(c0 => c0 ->
        when(col("STANDING_DEAD_CD") === 0, lit(null)).otherwise(col(c0))): _*))
      // non-sampled conditions: no measurements
      .withColumns(Map(measured.map(c0 => c0 ->
        when(nonSampled, lit(null)).otherwise(col(c0))): _*))
  }

  /** Both variants of `fia_annualize()` with a `variant` column, from
    * one group pass; `mortyr` decides use_mortyr over the pass output. */
  def bothVariants(
      spark: SparkSession, dataTidy: DataFrame,
      mortyr: DataFrame => Column = anyMortyr): DataFrame = {
    val annual = groupPass(dataTidy, variants = true)
    mask(withTpa(chooseFill(annual, mortyr(annual))))
  }

  /** expand + interpolate: the group pass without variants. */
  def expandInterpolate(spark: SparkSession, dataTidy: DataFrame): DataFrame =
    withTpa(groupPass(dataTidy, variants = false))

  /** `adjust_mortality(use_mortyr)` over annual rows: the same per-tree
    * rewrite in its own group pass, then the masking. The rows are dense
    * per tree (one per year, as [[expandInterpolate]] emits them), so a
    * grid with nothing to interpolate passes them through unchanged. */
  def adjustMortality(dataInterpolated: DataFrame, useMortyr: Boolean = true): DataFrame =
    mask(if (!useMortyr) dataInterpolated else {
      val cfg = Annualize.Config(keyCols, "YEAR", flagCol = "__regrid")
      val grid = dataInterpolated.schema.add(cfg.flagCol, BooleanType, nullable = false)
      val adjust = mortality(grid)
      val (out, copyFill) = withPreFill(grid)
      val adjusted = Annualize.withFinish(dataInterpolated, cfg, out) { rows =>
        val copies = rows.map(copyFill)
        adjust(copies)
        copies.iterator
      }
      chooseFill(adjusted, anyMortyr(adjusted)).drop(cfg.flagCol)
    })

  /** `fia_annualize()` (`R/fia_annualize.R:29-34`). */
  def annualize(spark: SparkSession, dataTidy: DataFrame, useMortyr: Boolean = true): DataFrame =
    adjustMortality(expandInterpolate(spark, dataTidy), useMortyr)
}
