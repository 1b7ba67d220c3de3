package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fia._

/** Every target `Nsvb.predict` emits, pinned bit for bit over the
  * synthetic state (both mortality variants). The pipeline exposes only
  * BIOMASS and CARBON (as DRYBIO_AG / CARBON_AG); this spec guards the
  * volume, height and weight targets no pipeline output carries.
  *
  * Per column the checksum is `bit_xor(xxhash64(plot_ID, tree_ID, YEAR,
  * variant, string(c)))`: the string cast prints each double's shortest
  * round-trip form, so it tells -0.0 from 0.0 where the double hash
  * does not; a null leaves the key's hash. */
class NsvbPinSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  /** The NSVB inputs as `estimateCarbon` prepares them, with a crown
    * ratio median per softwood/hardwood instead of the province table. */
  private def nsvbInput(prepped: DataFrame): DataFrame = prepped
    .filter("JENKINS_SPGRPCD < 10 AND HT IS NOT NULL")
    .withColumn("CRmn", when(col("SFTWD_HRDWD") === "S", lit(43.9))
      .when(col("SFTWD_HRDWD") === "H", lit(41.6)))
    .withColumn("BROKEN_TOP", !(col("HT") === col("ACTUALHT")))
    .withColumn("CR", when(col("CR").isNull && col("STATUSCD") === 1, lit(0.0))
      .otherwise(col("CR")))
    .withColumn("STDORGCD", coalesce(col("STDORGCD"), lit(0)))
    .withColumn("SPCD",
      when(col("SPCD").isin(111, 131) && col("STDORGCD") === 1,
        concat(lit("1_"), col("SPCD").cast("string")))
        .otherwise(col("SPCD").cast("string")))
    .withColumn("SPCD_DIVISION",
      concat(col("SPCD"), lit(" "), coalesce(col("DIVISION"), lit("NA"))))
    .withColumn("DBH", col("DIA")).withColumn("THT", col("HT"))

  private val pins: Map[String, Long] = Map(
    "AGB" -> 9218075521526464758L,
    "AGB_Reduction_Factor" -> -63282577365293788L,
    "BARK_REDUCTION" -> -8801263408342001039L,
    "BIOMASS" -> 6570996383535918311L,
    "BKSGAdj" -> 8275877086105584613L,
    "BRANCH_REDUCTION" -> -8937844831669711602L,
    "Bark" -> -2367584310665670584L,
    "BarkF" -> 4946561316208090124L,
    "Bark_Reduced" -> -5951152452598112338L,
    "Branch" -> 6601059163785883060L,
    "BranchF" -> 463552331707696978L,
    "Branch_Reduced" -> -7719227579218488861L,
    "CARBON" -> 6783098463989681302L,
    "CR" -> -4200406893051569833L,
    "CRprop_HT" -> -3740503943608360815L,
    "CULL_REDUCTION" -> 2590730158605011774L,
    "Diff" -> 9023288423774007222L,
    "FOLIAGE" -> 4816787082746301228L,
    "FOLIAGE_REDUCTION" -> -3947555261846721184L,
    "Foliage_Reduced" -> 4816787082746301228L,
    "HT4" -> 9004788324934868461L,
    "HTSAW" -> 4532099284971308199L,
    "HT_RAT_ADJ" -> 9082747301166372768L,
    "SND_WOOD_DECAY" -> -6403825596594614412L,
    "SPCD_NUMERIC" -> 2814701538550483067L,
    "Total" -> 5160995067571975451L,
    "TotalC" -> 7083890581988566150L,
    "Total_Reduced" -> 6570996383535918311L,
    "VMERBK_GROSS" -> 2055271196959435416L,
    "VMERBK_PRESENT" -> 2055271196959435416L,
    "VMERBK_SOUND" -> 3552454334836431512L,
    "VMERIB_GROSS" -> -3894648858358830710L,
    "VMERIB_PRESENT" -> -3894648858358830710L,
    "VMERIB_SOUND" -> -2874029794929625236L,
    "VMEROB_GROSS" -> -7733952541432179458L,
    "VMEROB_PRESENT" -> -7733952541432179458L,
    "VMEROB_SOUND" -> 6203939089692009345L,
    "VSAWBK_GROSS" -> 7939951673882995231L,
    "VSAWBK_PRESENT" -> 7939951673882995231L,
    "VSAWBK_SOUND" -> 8666558422156574580L,
    "VSAWIB_GROSS" -> -67984734475949504L,
    "VSAWIB_PRESENT" -> -67984734475949504L,
    "VSAWIB_SOUND" -> 7397054547101579827L,
    "VSAWOB_GROSS" -> -8162906181697353462L,
    "VSAWOB_PRESENT" -> -8162906181697353462L,
    "VSAWOB_SOUND" -> -75084248004747159L,
    "VSTPBK_GROSS" -> 8339335415258892923L,
    "VSTPBK_PRESENT" -> 8339335415258892923L,
    "VSTPBK_SOUND" -> -4219303432382236343L,
    "VSTPIB_GROSS" -> -5013249302065099065L,
    "VSTPIB_PRESENT" -> -5013249302065099065L,
    "VSTPIB_SOUND" -> 5496220116449177682L,
    "VSTPOB_GROSS" -> 1604780943616684329L,
    "VSTPOB_PRESENT" -> 1604780943616684329L,
    "VSTPOB_SOUND" -> -6766232318110913361L,
    "VTOPBK_GROSS" -> -5361497868343137959L,
    "VTOPBK_PRESENT" -> -6974146959775600271L,
    "VTOPBK_SOUND" -> 5354422649279745675L,
    "VTOPIB_GROSS" -> 1278285283247186130L,
    "VTOPIB_PRESENT" -> -4534129797804431560L,
    "VTOPIB_SOUND" -> 4904055663147398306L,
    "VTOPOB_GROSS" -> 2215461005962051208L,
    "VTOPOB_PRESENT" -> 3214885038258532158L,
    "VTOPOB_SOUND" -> 9148548062852594501L,
    "VTOTBK_GROSS" -> 3767775932225738296L,
    "VTOTBK_PRESENT" -> -6518322571456317343L,
    "VTOTBK_SOUND" -> -5951652994835853431L,
    "VTOTIB_GROSS" -> -7852160610300539864L,
    "VTOTIB_PRESENT" -> -8344356023976833796L,
    "VTOTIB_SOUND" -> 3338571965282762316L,
    "VTOTOB_GROSS" -> -6010740501619906460L,
    "VTOTOB_PRESENT" -> 3373054691091334340L,
    "VTOTOB_SOUND" -> 7017157346940932421L,
    "WDSGAdj" -> 3001325777478726486L,
    "WMERBCH" -> 8180401719285670438L,
    "WMERBK" -> -845260548565832000L,
    "WMERIB" -> -2825938741443005461L,
    "WMEROB" -> -4026554444612329077L,
    "WOOD_REDUCTION" -> 2060068587937261718L,
    "WSAWBK" -> -4176260504197800285L,
    "WSAWIB" -> -128727141792052205L,
    "WSAWOB" -> 4522452772046588883L,
    "WSTPBK" -> 8610078848250025677L,
    "WSTPIB" -> -9032113358518533860L,
    "WSTPOB" -> -128249188852630527L,
    "WTOPBK" -> -7068833768686990706L,
    "WTOPIB" -> 8831742594611695298L,
    "WTOPOB" -> 7176785329637024338L,
    "WTOTBCH" -> 463552331707696978L,
    "WTOTBK" -> 4946561316208090124L,
    "WTOTIB" -> -4357795115685433154L,
    "WTOTOB" -> -5361743858854869798L,
    "Wood" -> 8055220335194877411L,
    "WoodF" -> -4357795115685433154L,
    "Wood_Reduced" -> 3046560296446613837L,
    "broken_crn_prop" -> 3786851946674041507L,
    "k" -> -5799669918725450221L,
    "saw" -> 9055930760134354461L)

  test("predict reproduces every pinned target column") {
    val tabs = SyntheticState.tables(spark, 1500, gapYears = Seq(3, 5, 5, 7, 9))
    val annual = FiaAnnualize.bothVariants(spark, Tidy.fiaTidy(tabs))
    val input = nsvbInput(EstimateCarbon.prepCarbon(spark, annual))
    val out = Nsvb.predict(spark, input)
    val targets = out.columns.filterNot(input.columns.contains).toSeq :+ "CR"
    val key = Seq("plot_ID", "tree_ID", "YEAR", "variant").map(col)
    val sums = out.select(targets.map(t =>
        expr(s"bit_xor(xxhash64(plot_ID, tree_ID, YEAR, variant, CAST(`$t` AS STRING)))")
          .as(t)): _*)
      .collect()(0)
    val got = targets.map(t => t -> sums.getAs[Long](t)).toMap
    assert(out.select(key: _*).distinct().count() == out.count(), "key not unique")
    assert(got == pins, got.toSeq.sortBy(_._1)
      .map { case (t, h) => s"\"$t\" -> ${h}L" }.mkString("\n", ",\n", "\n"))
  }
}
