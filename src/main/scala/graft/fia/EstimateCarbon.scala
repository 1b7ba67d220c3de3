package graft.fia

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `fia_estimate()` = `prep_carbon()` + `estimate_carbon()`
  * (`R/prep_carbon.R:11-95`, `R/estimate_carbon.R:2-107`), row-local:
  * every reference table is a driver-held map looked up per row
  * ([[RefData]]), and the NSVB prediction is one [[Nsvb.kernel]] call, so
  * the estimate adds no join, no shuffle and no job to the plan.
  */
object EstimateCarbon {

  /** R `if_else(cond, yes, no)` — null condition yields null
    * (dplyr's `missing` defaults to NA). */
  private def ifElse(cond: Column, yes: Column, no: Column): Column =
    when(cond, yes).when(!cond, no)

  /** `prep_carbon()` — reference lookups + Walker-code prerequisites.
    * The columns keep the order the reference's joins gave them: the join
    * keys DECAYCD, SFTWD_HRDWD and SPCD lead, the looked-up fields follow
    * the input's columns, then the derived ones. */
  def prepCarbon(spark: SparkSession, dataMortyr: DataFrame): DataFrame = {
    val species = dataMortyr.withColumns(Map(
      "JENKINS_SPGRPCD" -> RefData.speciesField(_.jenkins)(col("SPCD")),
      "SFTWD_HRDWD" -> RefData.speciesField(_.sftwdHrdwd)(col("SPCD")),
      "CARBON_RATIO_LIVE" -> RefData.speciesField(_.carbonRatioLive)(col("SPCD")),
      "WDSG" -> RefData.speciesField(_.wdsg)(col("SPCD"))))
    def decay(i: Int, decaycd: Column = col("DECAYCD")): Column =
      RefData.lookup(RefData.decayProp.map { case (k, v) => k -> v(i) })(col("SFTWD_HRDWD"), decaycd)
    val live = col("STATUSCD") === 1
    val lead = Seq("DECAYCD", "SFTWD_HRDWD", "SPCD")
    species.select(
      Seq(ifElse(live, lit(0), col("DECAYCD")).as("DECAYCD"), col("SFTWD_HRDWD"), col("SPCD")) ++
        dataMortyr.columns.filterNot(lead.contains).map {
          case "STANDING_DEAD_CD" => ifElse(live, lit(0), col("STANDING_DEAD_CD")).as("STANDING_DEAD_CD")
          case "CULL" => when(col("CULL").isNull, lit(0.0)).otherwise(col("CULL")).as("CULL")
          case c0 => col(c0)
        } ++ Seq(
        col("JENKINS_SPGRPCD"), col("CARBON_RATIO_LIVE"), col("WDSG"),
        ifElse(live, decay(0, lit(3)), lit(1.0)).as("CULL_DECAY_RATIO"),
        decay(0).as("DENSITY_PROP"), decay(1).as("BARK_LOSS_PROP"), decay(2).as("BRANCH_LOSS_PROP"),
        RefData.lookup(RefData.carbonRatioDead)(col("SFTWD_HRDWD"), col("DECAYCD")).as("CARBON_RATIO"),
        ifElse(live, lit(1.0), decay(0)).as("DECAY_WD"),
        Division.division(col("ECOSUBCD")).as("DIVISION"),
        Division.province(col("ECOSUBCD")).as("PROVINCE"),
        ifElse(live, lit(1.0), decay(1)).as("DECAY_BK"),
        ifElse(live, col("CARBON_RATIO_LIVE") * 100,
          RefData.lookup(RefData.carbonRatioDead)(col("SFTWD_HRDWD"), col("DECAYCD")) * 100).as("C_FRAC"),
        ifElse(live, lit(1.0), decay(2)).as("DECAY_BR")): _*)
  }

  /** `estimate_carbon()`: DRYBIO_AG and CARBON_AG of every row, from one
    * [[Nsvb.kernel]] call whose inputs carry the model prerequisites
    * (median crown ratio, CR/CULL/STDORGCD fills, the planted-pine SPCD
    * label), so the returned rows keep their own values. Rows outside the
    * model domain (woodland JENKINS >= 10, missing height) get null, as
    * the reference's filter-then-left-join gave them. */
  def estimateCarbon(spark: SparkSession, dataPrepped: DataFrame): DataFrame = {
    val (missSft, missHwd) = RefData.crPropDefaults
    val sft = col("SFTWD_HRDWD")
    val crmn = RefData.lookup(RefData.medianCrProp)(sft, col("PROVINCE"))
    val stdorgcd = when(col("STDORGCD").isNull, lit(0)).otherwise(col("STDORGCD"))
    // planted loblolly/slash have their own coefficient rows ("1_131")
    val spcd = when(col("SPCD").isin(111, 131) && stdorgcd === 1,
      concat(lit("1_"), col("SPCD").cast(StringType)))
      .otherwise(col("SPCD").cast(StringType))
    val inputs = Map(
      "DBH" -> col("DIA"), "THT" -> col("HT"),
      "CR" -> when(col("CR").isNull && col("STATUSCD") === 1, lit(0.0)).otherwise(col("CR")),
      "CRmn" -> when(crmn.isNull && sft === "S", lit(missSft))
        .when(crmn.isNull && sft === "H", lit(missHwd)).otherwise(crmn),
      "CULL" -> when(col("CULL").isNull, lit(0.0)).otherwise(col("CULL")),
      "BROKEN_TOP" -> !(col("HT") === col("ACTUALHT")),
      "SPCD" -> spcd,
      // R paste() renders NA as the string "NA"
      "SPCD_DIVISION" -> concat(spcd, lit(" "), coalesce(col("DIVISION"), lit("NA"))),
      "SPCD_NUMERIC" -> regexp_replace(spcd, "1_", "").cast(DoubleType)) ++
      Seq("ACTUALHT", "WDSG", "JENKINS_SPGRPCD", "SFTWD_HRDWD", "STANDING_DEAD_CD",
        "CULL_DECAY_RATIO", "DECAY_WD", "DECAY_BK", "DECAY_BR", "C_FRAC").map(c0 => c0 -> col(c0))
    val guard = col("JENKINS_SPGRPCD") < 10 && col("HT").isNotNull
    dataPrepped.select(col("*"), Nsvb.kernel(inputs, Seq("BIOMASS", "CARBON")).as("__nsvb"))
      .select(dataPrepped.columns.map(col) ++ Seq(
        when(guard, col("__nsvb.BIOMASS")).as("DRYBIO_AG"),
        when(guard, col("__nsvb.CARBON")).as("CARBON_AG")): _*)
  }

  /** `fia_estimate()` (`R/fia_estimate.R:20-24`). */
  def fiaEstimate(spark: SparkSession, data: DataFrame): DataFrame =
    estimateCarbon(spark, prepCarbon(spark, data))
}
