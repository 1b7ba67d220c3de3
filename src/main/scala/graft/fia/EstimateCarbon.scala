package graft.fia

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `fia_estimate()` = `prep_carbon()` + `estimate_carbon()`
  * (`R/prep_carbon.R:11-95`, `R/estimate_carbon.R:2-107`): reference
  * joins, NSVB prerequisites, the predictCRM2 DAG, and the re-attach of
  * DRYBIO_AG/CARBON_AG onto the full annualized table. All reference
  * tables broadcast; the fact table shuffles only at the final re-attach
  * join (and that one co-partitions with downstream per-tree use).
  */
object EstimateCarbon {

  /** R `if_else(cond, yes, no)` — null condition yields null
    * (dplyr's `missing` defaults to NA). */
  private def ifElse(cond: Column, yes: Column, no: Column): Column =
    when(cond, yes).when(!cond, no)

  /** `prep_carbon()` — reference joins + Walker-code prerequisites. */
  def prepCarbon(spark: SparkSession, dataMortyr: DataFrame): DataFrame = {
    val refSp = RefData.refSpecies(spark)
      .select(col("SPCD").cast(IntegerType).as("SPCD"), col("JENKINS_SPGRPCD"),
        col("SFTWD_HRDWD"), col("CARBON_RATIO_LIVE"), col("WDSG"))
    val decay = RefData.decayProp(spark)
    val cullRatio = decay.filter(col("DECAYCD") === 3)
      .select(col("SFTWD_HRDWD"), col("DENSITY_PROP").as("CULL_DECAY_RATIO"))
    val deadRatio = RefData.carbonRatioDead(spark)

    // ONE withColumns wave: every derivation reads only join outputs /
    // unmodified inputs (no column reads another wave member), and each
    // withColumn call re-analyzes the whole post-kernel plan — batched,
    // the analyzer walks it once instead of ten times per variant
    dataMortyr
      .join(broadcast(refSp), Seq("SPCD"), "left")
      .join(broadcast(cullRatio), Seq("SFTWD_HRDWD"), "left")
      .join(broadcast(decay), Seq("DECAYCD", "SFTWD_HRDWD"), "left")
      .join(broadcast(deadRatio), Seq("DECAYCD", "SFTWD_HRDWD"), "left")
      .withColumns(Map(
        "CULL_DECAY_RATIO" ->
          ifElse(col("STATUSCD") === 1, col("CULL_DECAY_RATIO"), lit(1.0)),
        "STANDING_DEAD_CD" ->
          ifElse(col("STATUSCD") === 1, lit(0), col("STANDING_DEAD_CD")),
        "DECAYCD" -> ifElse(col("STATUSCD") === 1, lit(0), col("DECAYCD")),
        "DECAY_WD" -> ifElse(col("STATUSCD") === 1, lit(1.0), col("DENSITY_PROP")),
        "DECAY_BK" -> ifElse(col("STATUSCD") === 1, lit(1.0), col("BARK_LOSS_PROP")),
        "DECAY_BR" -> ifElse(col("STATUSCD") === 1, lit(1.0), col("BRANCH_LOSS_PROP")),
        "C_FRAC" -> ifElse(col("STATUSCD") === 1,
          col("CARBON_RATIO_LIVE") * 100, col("CARBON_RATIO") * 100),
        "PROVINCE" -> Division.province(col("ECOSUBCD")),
        "DIVISION" -> Division.division(col("ECOSUBCD")),
        "CULL" -> when(col("CULL").isNull, lit(0.0)).otherwise(col("CULL"))))
  }

  /** `estimate_carbon()` — crown-ratio join + prerequisites +
    * predictCRM2, evaluated IN PLACE with the model-domain guard
    * masking the outputs. The reference (and rounds 1–9a here) FILTERED
    * to the model domain, ran predictCRM2, and LEFT-JOINED the
    * predictions back (J13) — a corpus-sized self-join that was the
    * estimate stage's only shuffle-bearing operator. Every predictCRM2
    * expression null-propagates and the Brent UDF is boxed-null-safe,
    * so out-of-domain rows (woodland JENKINS ≥ 10, missing height,
    * empty plots) flow through the DAG harmlessly and
    * `when(guard, …)` nulls their outputs — exactly the rows the join
    * path left unmatched. Same values (composed DuckDB oracle + pinned
    * checksums); the estimate stage is pure projections + broadcast
    * joins, with zero Exchange (PLANS.md round-9). */
  def estimateCarbon(spark: SparkSession, dataPrepped: DataFrame): DataFrame = {
    val medCr = RefData.medianCrProp(spark)
      .withColumn("SFTWD_HRDWD", when(col("hwd_yn") === "N", lit("S")).otherwise(lit("H")))
      .select(col("Province").as("PROVINCE"), col("SFTWD_HRDWD"), col("CRmn"))
    val (missSft, missHwd) = RefData.crPropDefaults

    val guard = col("JENKINS_SPGRPCD") < 10 && col("HT").isNotNull

    // The model-PREREQUISITE rewrites below (species relabeling,
    // CR/CULL/STDORGCD fills) are model-internal and must not leak
    // into the returned rows — the join path never touched them.
    // Stash the originals, restore on output.
    val stash = Seq("SPCD", "CR", "STDORGCD", "CULL")
    // one withColumns wave (the stashes are independent) — each
    // withColumn call re-analyzes the whole post-kernel plan
    val stashed = dataPrepped.withColumns(
      Map(stash.map(c0 => s"__orig_$c0" -> col(c0)): _*))

    // three dependency WAVES (not one): SPCD reads the wave-1 STDORGCD
    // rewrite, and SPCD_DIVISION reads the wave-2 SPCD string — within
    // a wave every expression evaluates against the wave's INPUT
    val fiadb0 = stashed
      .join(broadcast(medCr), Seq("SFTWD_HRDWD", "PROVINCE"), "left")
      .withColumns(Map(
        "CRmn" -> when(col("CRmn").isNull && col("SFTWD_HRDWD") === "S", lit(missSft))
          .when(col("CRmn").isNull && col("SFTWD_HRDWD") === "H", lit(missHwd))
          .otherwise(col("CRmn")),
        "BROKEN_TOP" -> !(col("HT") === col("ACTUALHT")),
        "CR" -> when(col("CR").isNull && col("STATUSCD") === 1, lit(0.0))
          .otherwise(col("CR")),
        "STDORGCD" -> when(col("STDORGCD").isNull, lit(0)).otherwise(col("STDORGCD")),
        "CULL" -> when(col("CULL").isNull, lit(0.0)).otherwise(col("CULL")),
        "DBH" -> col("DIA"),
        "THT" -> col("HT")))
      // planted loblolly/slash -> separate coefficient rows ("1_131");
      // SPCD becomes a string from here on (SURVEY §7.4.9)
      .withColumn("SPCD",
        when(col("SPCD").isin(111, 131) && col("STDORGCD") === 1,
          concat(lit("1_"), col("SPCD").cast(StringType)))
          .otherwise(col("SPCD").cast(StringType)))
      // R paste() renders NA as the string "NA"
      .withColumn("SPCD_DIVISION",
        concat(col("SPCD"), lit(" "), coalesce(col("DIVISION"), lit("NA"))))

    val predicted = Nsvb.predict(spark, fiadb0)
    val restored = dataPrepped.columns.toSeq.map {
      case c0 if stash.contains(c0) => col(s"__orig_$c0").as(c0)
      case c0 => col(c0)
    }
    predicted.select(restored ++ Seq(
      when(guard, col("BIOMASS")).as("DRYBIO_AG"),
      when(guard, col("CARBON")).as("CARBON_AG")): _*)
  }

  /** `fia_estimate()` (`R/fia_estimate.R:20-24`). */
  def fiaEstimate(spark: SparkSession, data: DataFrame): DataFrame =
    estimateCarbon(spark, prepCarbon(spark, data))
}
