package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fia._

/** End-to-end FIA pipeline tests on the synthetic XX-state fixture
  * (FIXTURES.md §3 scenario coverage; golden values independently
  * computed from the reference equations + coefficient CSVs). */
class FiaPipelineSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  private lazy val tables = Ingest.load(spark, "src/test/resources/fixture", Seq("XX"))
  private lazy val tidy = Tidy.fiaTidy(tables).cache()
  private lazy val interp = FiaAnnualize.expandInterpolate(spark, tidy).cache()
  private lazy val midpt = FiaAnnualize.adjustMortality(interp, useMortyr = false).cache()
  private lazy val mortyr = FiaAnnualize.adjustMortality(interp, useMortyr = true).cache()
  private lazy val est = EstimateCarbon.fiaEstimate(spark, midpt).cache()

  private def one(df: DataFrame, cond: String): org.apache.spark.sql.Row = {
    val rows = df.filter(cond).collect()
    assert(rows.length == 1, s"expected 1 row for [$cond], got ${rows.length}")
    rows.head
  }

  // --- tidy ---

  test("tidy: empty plot survives with null tree_ID") {
    val r = tidy.filter("plot_ID = '99_1_1_2'").collect()
    assert(r.length == 1)
    assert(r.head.isNullAt(r.head.fieldIndex("tree_ID")))
    assert(r.head.getAs[Int]("INVYR") == 2010)
  }

  test("tidy: ACTUALHT coalesced from HT") {
    val r = one(tidy, "tree_ID = '99_1_1_1_1_1' AND INVYR = 2005")
    assert(r.getAs[Double]("ACTUALHT") == 60.0)
  }

  test("tidy: SPCD overwritten with last recorded (T9: 131 -> 316)") {
    val rows = tidy.filter("tree_ID = '99_1_1_1_1_9'").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[Int]("SPCD") == 316))
  }

  test("tidy: MORTYR filled to all rows of the tree") {
    val rows = tidy.filter("tree_ID = '99_1_1_1_1_2'").collect()
    assert(rows.forall(_.getAs[Int]("MORTYR") == 2006))
  }

  test("tidy: no duplicate (tree_ID, INVYR)") {
    val dups = tidy.filter("tree_ID IS NOT NULL")
      .groupBy("tree_ID", "INVYR").count().filter("count > 1").count()
    assert(dups == 0)
  }

  // --- annualize ---

  test("annualize: T1 densified to 11 years with interpolated DIA") {
    val rows = interp.filter("tree_ID = '99_1_1_1_1_1'").collect()
    assert(rows.length == 11)
    val r2007 = one(interp, "tree_ID = '99_1_1_1_1_1' AND YEAR = 2007")
    // 10 + (12-10) * ((2007-2005)/(2010-2005)) = 10.8
    assert(math.abs(r2007.getAs[Double]("DIA") - 10.8) < 1e-12)
    assert(r2007.getAs[Boolean]("interpolated"))
    assert(!one(interp, "tree_ID = '99_1_1_1_1_1' AND YEAR = 2010")
      .getAs[Boolean]("interpolated"))
  }

  test("annualize: TPA tiers (sapling 74.965282, tree 6.018046)") {
    assert(one(interp, "tree_ID = '99_1_1_1_1_1' AND YEAR = 2005")
      .getAs[Double]("TPA_UNADJ") == 6.018046)
    assert(one(interp, "tree_ID = '99_1_1_1_1_5' AND YEAR = 2005")
      .getAs[Double]("TPA_UNADJ") == 74.965282)
  }

  test("annualize: sapling CULL nulled for DIA < 5") {
    val r = one(interp, "tree_ID = '99_1_1_1_1_5' AND YEAR = 2005")
    assert(r.isNullAt(r.fieldIndex("CULL")))
  }

  test("midpt: T2 STATUSCD switches at midpoint (dead from 2008)") {
    val rows = midpt.filter("tree_ID = '99_1_1_1_1_2'")
      .select("YEAR", "STATUSCD").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(rows(2005) == 1 && rows(2006) == 1 && rows(2007) == 1)
    assert(rows(2008) == 2 && rows(2009) == 2 && rows(2010) == 2)
  }

  test("mortyr: T2 MORTYR 2006 pulls death earlier than midpoint") {
    // tree is (interpolated-)alive in MORTYR 2006, so the effective
    // mortality year nudges to 2007 (R/adjust_mortality.R:50-58)
    val rows = mortyr.filter("tree_ID = '99_1_1_1_1_2'")
      .select("YEAR", "STATUSCD").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(rows(2005) == 1 && rows(2006) == 1)
    assert(rows(2007) == 2 && rows(2008) == 2 && rows(2009) == 2 && rows(2010) == 2)
  }

  test("midpt: T3 fallen-dead years have measurements nulled") {
    val r = one(midpt, "tree_ID = '99_1_1_1_1_3' AND YEAR = 2009")
    assert(r.getAs[Int]("STATUSCD") == 2)
    assert(r.getAs[Int]("STANDING_DEAD_CD") == 0)
    for (c <- Seq("DIA", "HT", "ACTUALHT", "CULL", "CR"))
      assert(r.isNullAt(r.fieldIndex(c)), s"$c should be null")
  }

  test("midpt: T4 single survey carries forward nothing to other years") {
    assert(midpt.filter("tree_ID = '99_1_1_1_1_4'").count() == 1)
  }

  test("midpt: T7 non-sampled condition years have measurements nulled") {
    val r = one(midpt, "tree_ID = '99_1_1_1_1_7' AND YEAR = 2015")
    assert(r.getAs[Int]("COND_STATUS_CD") == 2)
    for (c <- Seq("DIA", "HT", "ACTUALHT", "CULL", "CR"))
      assert(r.isNullAt(r.fieldIndex(c)), s"$c should be null")
  }

  // --- estimate ---

  test("estimate: empty plot row retained with null carbon") {
    val r = one(est, "plot_ID = '99_1_1_2'")
    assert(r.isNullAt(r.fieldIndex("CARBON_AG")))
  }

  test("estimate: woodland species excluded from carbon") {
    val rows = est.filter("tree_ID = '99_1_1_1_1_6'").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("CARBON_AG"))))
  }

  test("estimate: live loblolly gets positive carbon") {
    val r = one(est, "tree_ID = '99_1_1_1_1_1' AND YEAR = 2005")
    assert(!r.isNullAt(r.fieldIndex("CARBON_AG")))
    assert(r.getAs[Double]("CARBON_AG") > 0)
    assert(r.getAs[Double]("DRYBIO_AG") > r.getAs[Double]("CARBON_AG"))
  }

  test("nsvb: VTOTIB_GROSS matches the eq-3 closed form (golden)") {
    val prepped = EstimateCarbon.prepCarbon(spark, midpt)
    val fiadb = prepped
      .filter("JENKINS_SPGRPCD < 10 AND HT IS NOT NULL")
      .withColumn("CRmn", lit(40.0))
      .withColumn("BROKEN_TOP", !(col("HT") === col("ACTUALHT")))
      .withColumn("STDORGCD", coalesce(col("STDORGCD"), lit(0)))
      .withColumn("SPCD",
        when(col("SPCD").isin(111, 131) && col("STDORGCD") === 1,
          concat(lit("1_"), col("SPCD"))).otherwise(col("SPCD").cast("string")))
      .withColumn("SPCD_DIVISION",
        concat(col("SPCD"), lit(" "), coalesce(col("DIVISION"), lit("NA"))))
      .withColumn("DBH", col("DIA")).withColumn("THT", col("HT"))
    val out = Nsvb.predict(spark, fiadb)
    val r = one(out, "tree_ID = '99_1_1_1_1_1' AND YEAR = 2005")
    // python: a*10^b*60^c with volib '131 230' coefficients
    assert(math.abs(r.getAs[Double]("VTOTIB_GROSS") - 13.294895225885202) < 1e-9)
    // Brent merch height, independently computed
    assert(math.abs(r.getAs[Double]("HT4") - 47.46043894725234) < 1e-3)
    assert(math.abs(r.getAs[Double]("HTSAW") - 27.07161603654769) < 1e-3)
  }

  test("estimate: planted loblolly uses 1_131 coefficient rows") {
    val prepped = EstimateCarbon.prepCarbon(spark, midpt)
    val r = one(
      EstimateCarbon.estimateCarbon(spark, prepped)
        .filter("tree_ID = '99_1_1_1_1_10' AND YEAR = 2005"), "1 = 1")
    assert(!r.isNullAt(r.fieldIndex("CARBON_AG")))
  }

  test("nsvb: sapling merch volumes are null but biomass present") {
    val r = one(est, "tree_ID = '99_1_1_1_1_5' AND YEAR = 2005")
    assert(!r.isNullAt(r.fieldIndex("DRYBIO_AG")))
  }

  // --- write ---

  test("writeParquet writes run's variants as one frame: one group pass, the union's rows") {
    val results = Pipeline.run(spark, tables)
    def groupPasses(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case m: org.apache.spark.sql.catalyst.plans.logical.MapGroups => m
    }.size
    val union = results.map { case (v, df) => df.withColumn("variant", lit(v)) }
      .reduce(_ unionByName _)
    val written = Pipeline.written(results)
    assert(groupPasses(union) == 2 && groupPasses(written) == 1)
    assert(written.schema == union.schema.map(f =>
      if (f.name == "variant") written.schema("variant") else f).foldLeft(
        new org.apache.spark.sql.types.StructType)(_ add _))
    assert(written.exceptAll(union).isEmpty && union.exceptAll(written).isEmpty)
    // frames of another shape (perfbench's traced build writes per-stage
    // ones) keep the union
    val other = results.map { case (v, df) => v -> df.filter(col("YEAR") > 0) }
    assert(groupPasses(Pipeline.written(other)) == 2)
    // a subset of run's variants writes only those
    val midptOnly = Pipeline.written(results - "mortyr")
    assert(groupPasses(midptOnly) == 1 && midptOnly.filter(col("variant") =!= "midpt").isEmpty)
  }
}
