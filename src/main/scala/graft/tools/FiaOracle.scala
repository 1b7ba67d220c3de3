package graft
package tools

/** Dev-only: dump each stage of the composed FIA pipeline over the
  * materialized synthetic state, so the DuckDB oracle SQL for
  * `q_fia_pipeline_oracle` can be validated stage by stage. Prints the
  * staged input dir, which `dev/fia_oracle_dev.py` takes as its input.
  * Usage: runMain graft.tools.FiaOracle <sfDir> <outDir>
  */
object FiaOracle {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/tmp/fia_oracle_stages"
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.fia._

    println(s"[dev] input: ${QueriesFiaPipeline.materialize(spark, sfDir)}")
    val ts = QueriesFiaPipeline.stagedRaw(spark, sfDir)

    val tidy = Tidy.fiaTidy(ts)
    tidy.write.mode("overwrite").parquet(s"$out/tidy")
    val interp = FiaAnnualize.expandInterpolate(spark, tidy)
    interp.write.mode("overwrite").parquet(s"$out/interp")
    val ann = FiaAnnualize.bothVariants(spark, tidy)
    ann.write.mode("overwrite").parquet(s"$out/ann")
    val prep = EstimateCarbon.prepCarbon(spark, ann)
    prep.write.mode("overwrite").parquet(s"$out/prep")
    val est = EstimateCarbon.estimateCarbon(spark, prep)
    Ids.splitCompositeIds(est).write.mode("overwrite").parquet(s"$out/final")
    println(s"[dev] stages written to $out (tidy=${tidy.count()}, interp=${interp.count()}, ann=${ann.count()})")
    spark.stop()
  }
}
