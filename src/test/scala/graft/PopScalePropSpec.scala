package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.fia.{Incremental, PopScale, SyntheticState}

/** ScalaCheck parity of `PopScale.carbonPerAcre` (one exchange on YEAR,
  * a windowed plot count) with the three-leg formulation it replaced,
  * kept here as the reference: the per-year distinct-plot count
  * broadcast back, the tree leg, the distinct area leg and their join.
  * Generated estimated frames hold NULL `CARBON_AG`, plots outside the
  * domain (`aDI = 0`), treeless plots (area, no carbon), repeated
  * condition rows and rows with a NULL `plot_ID` or `YEAR`. Both sides
  * must give the same years, columns and types, values equal within
  * 1e-12 relative (only the summation order differs), or the same error
  * condition. */
class PopScalePropSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(40)

  /** The three-leg plan the one-pass [[PopScale.carbonPerAcre]] replaced. */
  private def reference(estimated: DataFrame, stateArea: Double): DataFrame = {
    val dom = estimated
      .withColumn("aDI",
        when(col("COND_STATUS_CD") === 1 && col("INTENSITY") === 1, 1).otherwise(0))
      .withColumn("tDI",
        when(col("STATUSCD") === 1, 1).otherwise(0) * col("aDI"))
    val nPlots = dom.groupBy(col("YEAR"))
      .agg(countDistinct(col("plot_ID")).as("n_plots"))
    val withExpns = dom.join(broadcast(nPlots), Seq("YEAR"))
      .withColumn("EXPNS", lit(stateArea) / col("n_plots"))
    val treeTotals = withExpns
      .groupBy(col("plot_ID"), col("YEAR"))
      .agg(coalesce(
        sum(col("CARBON_AG") * col("TPA_UNADJ") * col("EXPNS") * col("tDI") / 2000),
        lit(0.0)).as("carbPlot"))
    val areaTotals = withExpns
      .select(col("plot_ID"), col("YEAR"), col("CONDID"), col("COND_STATUS_CD"),
        col("CONDPROP_UNADJ"), col("EXPNS"), col("aDI"))
      .distinct()
      .groupBy(col("plot_ID"), col("YEAR"))
      .agg(coalesce(
        sum(col("CONDPROP_UNADJ") * col("EXPNS") * col("aDI")), lit(0.0)).as("forArea"))
    treeTotals.join(areaTotals, Seq("plot_ID", "YEAR"))
      .groupBy(col("YEAR"))
      .agg(
        coalesce(sum(col("carbPlot")), lit(0.0)).as("carbon_total"),
        coalesce(sum(col("forArea")), lit(0.0)).as("AREA_TOTAL"))
      .withColumn("carbon_ton_acre", col("carbon_total") / col("AREA_TOTAL"))
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  /** Same years, columns, types and values (1e-12 relative), or the same
    * error condition on both sides. */
  private def agree(estimated: DataFrame, stateArea: Double): Either[String, Int] = {
    def run(df: DataFrame): Either[String, (StructType, Array[Row])] =
      try Right((df.schema, df.orderBy("YEAR").collect()))
      catch { case e: SparkThrowable => Left(String.valueOf(e.getCondition)) }
    (run(PopScale.carbonPerAcre(estimated, stateArea)), run(reference(estimated, stateArea))) match {
      case (Left(a), Left(b)) => if (a == b) Right(0) else Left(s"errors differ: $a vs $b")
      case (Right((sa, ra)), Right((sb, rb))) =>
        if (sa.map(f => (f.name, f.dataType)) != sb.map(f => (f.name, f.dataType)))
          Left(s"schema ${sa.simpleString} vs ${sb.simpleString}")
        else if (ra.length != rb.length) Left(s"${ra.length} years vs ${rb.length}")
        else ra.zip(rb).collectFirst {
          case (x, y) if !x.toSeq.zip(y.toSeq).forall { case (u, v) => close(u, v) } => s"$x vs $y"
        }.toLeft(ra.length)
      case (a, b) => Left(s"one side failed: $a vs $b")
    }
  }

  private val schema = StructType(Seq(
    StructField("plot_ID", StringType), StructField("YEAR", IntegerType),
    StructField("CONDID", IntegerType), StructField("COND_STATUS_CD", IntegerType),
    StructField("INTENSITY", IntegerType), StructField("CONDPROP_UNADJ", DoubleType),
    StructField("STATUSCD", IntegerType), StructField("TPA_UNADJ", DoubleType),
    StructField("CARBON_AG", DoubleType)))

  /** One condition's rows in one year: its trees (one row each, a
    * repeated condition row per tree), or one treeless row. */
  private def condRows(plot: String, year: Int, condid: Int): Gen[List[Row]] = for {
    status <- Gen.frequency(4 -> 1, 1 -> 2)
    intensity <- Gen.frequency(4 -> 1, 1 -> 2)
    prop <- Gen.oneOf(0.25, 0.5, 0.75, 1.0, 0.3333333333333333)
    nTrees <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 4))
    trees <- Gen.listOfN(nTrees, for {
      statuscd <- Gen.frequency(3 -> 1, 1 -> 2)
      tpa <- Gen.oneOf(6.018046, 24.072184, 74.965282)
      carbon <- Gen.frequency(4 -> Gen.choose(0.0, 900.0).map(Double.box),
        1 -> Gen.const(null))
    } yield Row(plot, year, condid, status, intensity, prop, statuscd, tpa, carbon))
  } yield
    if (trees.isEmpty) List(Row(plot, year, condid, status, intensity, prop, null, null, null))
    else trees

  private val frameGen: Gen[List[Row]] = for {
    nPlots <- Gen.choose(1, 6)
    plots <- Gen.listOfN(nPlots, for {
      years <- Gen.someOf(2001 to 2004).map(_.toList).suchThat(_.nonEmpty)
      nCond <- Gen.choose(1, 3)
    } yield (years, nCond))
    rows <- Gen.sequence[List[List[Row]], List[Row]](plots.zipWithIndex.flatMap {
      case ((years, nCond), p) =>
        for (y <- years; c <- 1 to nCond) yield condRows(s"40_1_$p", y, c)
    })
    orphans <- Gen.frequency(2 -> Gen.const(Nil), 1 -> Gen.oneOf(
      List(Row(null, 2001, 1, 1, 1, 1.0, 1, 6.018046, 100.0)),
      List(Row("40_1_0", null, 1, 1, 1, 1.0, 1, 6.018046, 100.0)),
      List(Row(null, null, 1, 1, 1, 1.0, 1, 6.018046, 100.0))))
    dup <- Gen.oneOf(true, false)
  } yield {
    val all = rows.flatten ++ orphans
    if (dup) all ++ all.take(2) else all
  }

  test("one pass == the three-leg reference on generated estimated frames") {
    val r = SCTest.check(params, Prop.forAll(frameGen) { rows =>
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      agree(df, 781730.1).fold(why => Prop.falsified :| why, _ => Prop.passed)
    })
    assert(r.passed, s"${r.status}")
  }

  test("one pass == the three-leg reference on the seeded 600-plot state (midpt)") {
    val dir = java.nio.file.Files.createTempDirectory("pop_scale_prop").toString
    val tabs = SyntheticState.tables(spark, 600, Seq(3, 5, 5, 7, 9))
    Incremental.bothVariants(spark, tabs).filter(col("variant") === "midpt")
      .write.parquet(s"$dir/midpt")
    val got = agree(spark.read.parquet(s"$dir/midpt"), 781730.1)
    assert(got.isRight, got.swap.getOrElse(""))
    assert(got.toOption.get > 10, s"only ${got.toOption.get} years")
  }
}
