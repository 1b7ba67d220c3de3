package graft.fia

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Fills

/** `fia_tidy()` (`R/fia_tidy.R:19-141`): per-table filter/cast/project,
  * the 3 left joins, per-tree MORTYR/SPCD normalization, ACTUALHT
  * coalesce, and the empty-plot-preserving full join.
  *
  * Scale notes: the TREE join keys carry plot identity, so a real
  * deployment bucket-partitions all four tables by PLT_CN; here the
  * joins shuffle on their keys and AQE handles sizing. COND/PLOTGEOM are
  * small per-plot tables but scale with the fact, so they are NOT
  * broadcast.
  */
object Tidy {

  /** @param tables map with keys PLOT, COND, TREE, PLOTGEOM (raw schema). */
  def fiaTidy(tables: Map[String, DataFrame]): DataFrame = {
    val plotgeom = tables("PLOTGEOM")
      .filter(col("INVYR") >= 2000)
      .select(col("CN").cast(StringType).as("PLT_CN"), col("INVYR"), col("ECOSUBCD"))

    val plot = Ids.addCompositeIds(
      tables("PLOT").filter(col("INVYR") >= 2000)
        .withColumn("CN", col("CN").cast(StringType)))
      .select(col("plot_ID"), col("CN").as("PLT_CN"), col("INVYR"),
        col("DESIGNCD"), col("INTENSITY"))

    val cond = Ids.addCompositeIds(
      tables("COND").filter(col("INVYR") >= 2000)
        .withColumn("PLT_CN", col("PLT_CN").cast(StringType)))
      .select(col("plot_ID"), col("PLT_CN"), col("INVYR"), col("CONDID"),
        col("CONDPROP_UNADJ"), col("PROP_BASIS"), col("COND_STATUS_CD"),
        col("STDORGCD"))

    val tree = Ids.addCompositeIds(
      tables("TREE").filter(col("INVYR") >= 2000)
        .withColumn("PLT_CN", col("PLT_CN").cast(StringType)))
      .select(col("plot_ID"), col("tree_ID"), col("INVYR"), col("PLT_CN"),
        col("CONDID"), col("MORTYR"), col("STATUSCD"), col("RECONCILECD"),
        col("DECAYCD"), col("STANDING_DEAD_CD"), col("DIA"), col("CR"),
        col("HT"), col("ACTUALHT"), col("CULL"), col("SPCD"))

    // J1-J3 (dplyr na_matches="na": CONDID can be null on treeless rows)
    val j1 = plot.join(tree, Seq("plot_ID", "PLT_CN", "INVYR"), "left")
    val j2 = j1.join(plotgeom, Seq("INVYR", "PLT_CN"), "left")
    val condR = cond
      .withColumnRenamed("CONDID", "CONDID_c")
      .withColumnRenamed("plot_ID", "plot_ID_c")
      .withColumnRenamed("PLT_CN", "PLT_CN_c")
      .withColumnRenamed("INVYR", "INVYR_c")
    val j3 = j2.join(condR,
      j2("plot_ID") === condR("plot_ID_c") && j2("INVYR") === condR("INVYR_c") &&
        j2("PLT_CN") === condR("PLT_CN_c") && j2("CONDID") <=> condR("CONDID_c"),
      "left")
      .drop("plot_ID_c", "PLT_CN_c", "INVYR_c", "CONDID_c")

    // per-tree normalization: MORTYR fill updown; SPCD := last recorded
    // (ordered by INVYR — NEWS.md:30 intent, SURVEY §7.4.5); keyed with
    // plot_ID so treeless rows do not share one null-key partition
    val filled = Fills.fillDownUp(j3, Seq("plot_ID", "tree_ID"), Seq(col("INVYR")), Seq("MORTYR"))
    val wAll = Window.partitionBy(col("plot_ID"), col("tree_ID")).orderBy(col("INVYR"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val data0 = filled.withColumn("SPCD", last(col("SPCD"), ignoreNulls = false).over(wAll))

    // empty-plot restore (R/fia_tidy.R:104-136)
    val allPlots = data0.select(col("plot_ID"), col("INVYR")).distinct()
      .join(plot, Seq("plot_ID", "INVYR"), "left")

    val data1 = data0.withColumn("ACTUALHT", coalesce(col("ACTUALHT"), col("HT")))

    val keys = Seq("plot_ID", "PLT_CN", "INVYR", "DESIGNCD", "INTENSITY")
    val ap = keys.foldLeft(allPlots)((d, k) => d.withColumnRenamed(k, k + "_r"))
    val condFull = keys.map(k => data1(k) <=> ap(k + "_r")).reduce(_ && _)
    val joined = data1.join(ap, condFull, "full")
    val merged = keys.foldLeft(joined) { (d, k) =>
      d.withColumn(k, coalesce(d(k), d(k + "_r")))
    }.drop(keys.map(_ + "_r"): _*)

    merged.select(
      (Seq("plot_ID", "tree_ID", "INVYR") ++
        merged.columns.filterNot(Seq("plot_ID", "tree_ID", "INVYR").contains)).map(col): _*)
  }
}
