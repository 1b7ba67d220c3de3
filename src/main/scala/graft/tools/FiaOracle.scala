package graft
package tools

import org.apache.spark.sql.functions._

/** Dev-only: dump each stage of the composed FIA pipeline over the
  * materialized synthetic state, so the DuckDB oracle SQL for
  * `q_fia_pipeline_oracle` can be validated stage by stage.
  * Usage: runMain graft.tools.FiaOracle <sfDir> <outDir>
  */
object FiaOracle {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/tmp/fia_oracle_stages"
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.fia._

    val base = SyntheticState.materialize(spark, sfDir)
    val ts = Seq("PLOT", "PLOTGEOM", "COND", "TREE")
      .map(n => n -> spark.read.parquet(s"$base/$n")).toMap

    val tidy = Tidy.fiaTidy(ts)
    tidy.write.mode("overwrite").parquet(s"$out/tidy")
    val interp = FiaAnnualize.expandInterpolate(spark, tidy).persist()
    interp.write.mode("overwrite").parquet(s"$out/interp")
    val midpt = FiaAnnualize.adjustMortality(interp, useMortyr = false)
    val mortyr = FiaAnnualize.adjustMortality(interp, useMortyr = true)
    val ann = midpt.withColumn("variant", lit("midpt"))
      .unionByName(mortyr.withColumn("variant", lit("mortyr")))
    ann.write.mode("overwrite").parquet(s"$out/ann")
    val prep = EstimateCarbon.prepCarbon(spark, ann)
    prep.write.mode("overwrite").parquet(s"$out/prep")
    // estimate runs PER VARIANT (as Pipeline.run does) — estimating over
    // the union would cross-match variants at the re-attach join
    val est = Seq("midpt", "mortyr").map { v =>
      EstimateCarbon.estimateCarbon(spark,
        EstimateCarbon.prepCarbon(spark,
          (if (v == "midpt") midpt else mortyr).withColumn("variant", lit(v))))
    }.reduce(_ unionByName _)
    Ids.splitCompositeIds(est).write.mode("overwrite").parquet(s"$out/final")
    println(s"[dev] stages written to $out (tidy=${tidy.count()}, interp=${interp.count()}, ann=${ann.count()})")
    spark.stop()
  }
}
