package graft.fia

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end state pipeline (`scripts/state-parquet.R:10-49`):
  * load -> tidy -> annualize (midpt + mortyr variants) -> estimate ->
  * split ids -> parquet partitioned by STATECD, as ONE lazy frame
  * ([[Incremental.bothVariants]]). */
object Pipeline {

  /** Each mortality variant of [[Incremental.bothVariants]], as a filter
    * of that one frame. */
  def run(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] = {
    val both = Incremental.bothVariants(spark, tables)
    FiaAnnualize.variants.map(v => v -> both.filter(col("variant") === v).drop("variant")).toMap
  }

  /** [[run]]. `stageDir` and `buckets` are ignored: they sized a
    * `tree_ID`-bucketed stage for mortality windows that no longer
    * exist, the rewrite runs inside the interpolation's group pass. */
  def runBucketed(
      spark: SparkSession, tables: Map[String, DataFrame],
      stageDir: String, buckets: Int = 0): Map[String, DataFrame] = run(spark, tables)

  /** All variants in one write job: `outDir/variant=<v>/STATECD=<s>`. */
  def writeParquet(results: Map[String, DataFrame], outDir: String): Unit =
    results.map { case (variant, df) => df.withColumn("variant", lit(variant)) }
      .reduce(_ unionByName _)
      .write.mode("overwrite")
      .partitionBy("variant", "STATECD")
      .parquet(outDir)
}
