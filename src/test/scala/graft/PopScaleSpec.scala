package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite
import graft.fia._

/** Population scaling over the fixture pipeline output. */
class PopScaleSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private lazy val estimated = {
    val tables = Ingest.load(spark, "src/test/resources/fixture", Seq("XX"))
    val tidy = Tidy.fiaTidy(tables)
    val midpt = FiaAnnualize.annualize(spark, tidy, useMortyr = false)
    EstimateCarbon.fiaEstimate(spark, midpt)
  }

  test("carbon per acre: positive, finite, spanning the annualized years") {
    val pop = PopScale.carbonPerAcre(estimated, stateArea = 1000.0)
      .orderBy("YEAR").collect()
    assert(pop.length == 11) // 2005..2015
    val y2005 = pop.find(_.getAs[Int]("YEAR") == 2005).get
    assert(y2005.getAs[Double]("AREA_TOTAL") > 0)
    assert(y2005.getAs[Double]("carbon_ton_acre") > 0)
    // the 2010-only empty plot contributes area (aDI=1) but no carbon
    val y2010 = pop.find(_.getAs[Int]("YEAR") == 2010).get
    assert(y2010.getAs[Double]("AREA_TOTAL") > 0)
  }

  test("plan over a parquet input: one scan, one shuffle, no broadcast, no join") {
    val dir = java.nio.file.Files.createTempDirectory("pop_scale_plan").toString + "/est"
    estimated.write.parquet(dir)
    val pop = PopScale.carbonPerAcre(spark.read.parquet(dir), stateArea = 1000.0)
    assert(pop.collect().length == 11)
    val h = new AdaptiveSparkPlanHelper {}
    val plan = pop.queryExecution.executedPlan
    def count(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Any]): Int =
      h.collectWithSubqueries(plan)(pf).size
    assert(count { case s: FileSourceScanExec => s } == 1, plan.toString)
    assert(count { case e: ShuffleExchangeExec => e } == 1, plan.toString)
    assert(count { case e: BroadcastExchangeExec => e } == 0, plan.toString)
    assert(count { case j: BaseJoinExec => j } == 0, plan.toString)
  }
}
