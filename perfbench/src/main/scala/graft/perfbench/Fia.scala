package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.fia._
import graft.ops.Layout

/** The FIA side of the benchmark: the seeded raw state, the state
  * build and its output. */
object Fia {
  val Tables = Seq("PLOT", "PLOTGEOM", "COND", "TREE")
  val Variants = Seq("midpt", "mortyr")
  val Gaps = Seq(3, 5, 5, 7, 9)
  val StateAcres = 781730.1

  /** Seeded PLOT-number offset: shifts every plot (and so tree) id. */
  def plotOffset(seed: Long): Int = 10000 * (1 + Math.floorMod(seed, 1000L).toInt)

  /** `SyntheticState.tables` with the organic gap mix and every PLOT
    * number shifted by the seed's offset. */
  def seededTables(spark: SparkSession, nPlots: Int, seed: Long): Map[String, DataFrame] =
    SyntheticState.tables(spark, nPlots, Gaps).map { case (t, df) =>
      t -> (if (df.columns.contains("PLOT")) df.withColumn("PLOT", col("PLOT") + plotOffset(seed))
            else df)
    }

  /** The state build, `Pipeline.runBucketed` + `Pipeline.writeParquet`;
    * returns the schema of the pipeline's output. While tracing it runs
    * call for call from here, with every stage's output materialized so
    * each layer can be timed alone. This copy must follow
    * `runBucketed`'s sequence of calls: the workload checks that the
    * traced build writes what the untraced one wrote, but a change in
    * stage structure alone would only show as per-stage figures of
    * stages the program no longer runs. */
  def build(ctx: Ctx, raw: Map[String, DataFrame], stageDir: String, out: String): StructType = {
    val spark = ctx.spark
    if (!ctx.tracing) {
      val results = Pipeline.runBucketed(spark, raw, stageDir)
      Pipeline.writeParquet(results, out)
      results("midpt").schema
    } else {
      val cached = mutable.ArrayBuffer.empty[DataFrame]
      def stage(layer: String)(make: => DataFrame): DataFrame = ctx.span(layer) {
        val df = ctx.span(s"$layer.plan") { val d = make; d.queryExecution.executedPlan; d }
        ctx.span(s"$layer.exec") { val m = df.persist(); m.count(); cached += m; m }
      }
      val tidy = stage("fia.Tidy")(Tidy.fiaTidy(raw))
      val kernel = stage("fia.FiaAnnualize")(FiaAnnualize.expandInterpolate(spark, tidy))
      ctx.span("ops.Layout") {
        Layout.writeBucketed(kernel, "perfbench_annual", stageDir, "tree_ID",
          spark.conf.get("spark.sql.shuffle.partitions").toInt, Some("YEAR"))
      }
      val annual = spark.table("perfbench_annual")
      val results = Variants.map { v =>
        val mort = stage("fia.FiaAnnualize")(
          FiaAnnualize.adjustMortality(annual, useMortyr = v == "mortyr"))
        v -> Ids.splitCompositeIds(
          stage("fia.EstimateCarbon")(EstimateCarbon.fiaEstimate(spark, mort)))
      }.toMap
      ctx.span("fia.Pipeline") { Pipeline.writeParquet(results, out) }
      cached.foreach(_.unpersist(true))
      results("midpt").schema
    }
  }

  /** Checksum of one variant's output with the seed taken out: the ids
    * that embed the PLOT number are dropped and PLOT is shifted back, so
    * the value depends on the pipeline's output alone. */
  def unseeded(out: DataFrame, seed: Long): Checksum =
    Checksum.of(out.drop("plot_ID", "tree_ID", "row_id")
      .withColumn("PLOT", (col("PLOT").cast("int") - plotOffset(seed)).cast("string")))

  /** One variant of a build's output as written, with the pipeline's
    * column order and types (the partition column comes back last and
    * as a number). */
  def readOutput(spark: SparkSession, out: String, variant: String,
      schema: StructType): DataFrame =
    spark.read.parquet(s"$out/variant=$variant")
      .select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)

  /** The build's per-stage metrics from the traced run. */
  def buildLayers(t: Tracer, out: String): Map[String, Any] = {
    val ann = t.layer("fia.FiaAnnualize")
    val lay = t.layer("ops.Layout")
    val sink = t.layer("fia.Pipeline")
    Map(
      "fia.Tidy.exec_s" -> t.layer("fia.Tidy.exec").durS,
      "fia.FiaAnnualize.plan_s" -> t.layer("fia.FiaAnnualize.plan").durS,
      "fia.FiaAnnualize.exec_s" -> t.layer("fia.FiaAnnualize.exec").durS,
      "fia.FiaAnnualize.shuffle_bytes" -> ann.shuffleBytes,
      "fia.FiaAnnualize.spill_bytes" -> ann.spillBytes,
      "fia.FiaAnnualize.jobs" -> ann.jobs,
      "fia.EstimateCarbon.plan_s" -> t.layer("fia.EstimateCarbon.plan").durS,
      "fia.EstimateCarbon.exec_s" -> t.layer("fia.EstimateCarbon.exec").durS,
      "fia.EstimateCarbon.jobs" -> t.layer("fia.EstimateCarbon").jobs,
      "ops.Layout.exec_s" -> lay.durS, "ops.Layout.bytes_written" -> lay.fs.bytesWritten,
      "ops.Layout.spill_bytes" -> lay.spillBytes,
      "fia.Pipeline.exec_s" -> sink.durS, "fia.Pipeline.bytes_written" -> sink.fs.bytesWritten,
      "fia.Pipeline.files_written" -> DirScan.dataFiles(out).size)
  }
}
