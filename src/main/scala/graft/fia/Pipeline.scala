package graft.fia

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end state pipeline (`scripts/state-parquet.R:10-49`):
  * load -> tidy -> annualize (midpt + mortyr variants) -> estimate ->
  * split ids -> parquet partitioned by STATECD. */
object Pipeline {

  /** Both mortality variants share the expensive expand+interpolate pass
    * (the reference docs call interpolate "the slowest step" — here it
    * runs once and both variants branch from it).
    *
    * The reuse point is persist() + a LOGICAL re-root
    * (`createDataFrame(cached.rdd, schema)`): the downstream stages are
    * ~60 sequential withColumn calls × 2 variants, and each call runs a
    * full analyzer pass over its input's logical plan — over the deep
    * kernel subtree that was ~6 s of driver-side analysis per
    * composition (docs/PLANS.md, round-8 pipeline driver-analysis fix:
    * 10.6 s → 6.4 s end-to-end). Re-rooting puts a leaf under those
    * chains so each pass walks a small tree. Unlike localCheckpoint (same win), the
    * backing RDD KEEPS its lineage — an executor loss recomputes
    * through the cache instead of failing the job, which is the
    * property that matters on a real cluster. Values are identical;
    * the per-variant checksums (PipelineScaleSpec) and the composed
    * DuckDB oracle pin that. */
  def run(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] = {
    val tidy = Tidy.fiaTidy(tables)
    val interpolated = FiaAnnualize.expandInterpolate(spark, tidy)
    // reuse the kernel output for both variants
    val cached = interpolated.persist()
    val reroot = spark.createDataFrame(cached.rdd, cached.schema)
    val midpt = FiaAnnualize.adjustMortality(reroot, useMortyr = false)
    val mortyr = FiaAnnualize.adjustMortality(reroot, useMortyr = true)
    Map(
      "midpt" -> Ids.splitCompositeIds(EstimateCarbon.fiaEstimate(spark, midpt)),
      "mortyr" -> Ids.splitCompositeIds(EstimateCarbon.fiaEstimate(spark, mortyr)))
  }

  /** The scale path ([[run]] with a BUCKETED stage): persist the
    * kernel output as a tree_ID-bucketed, (tree_ID, YEAR)-sorted table
    * between the kernel and the mortality variants, then branch both
    * variants off the bucketed scan.
    *
    * Why: the mortyr variant's window chain (whole-partition
    * MORTYR_eff/first_dead aggregates + the ordered fill-up) and the
    * NSVB re-attach self-join all require hashpartitioning(tree_ID) and
    * a (tree_ID[, YEAR]) sort. Branched from an in-memory cache, EACH
    * consumer re-shuffles and re-sorts the wide annual table — at 30×
    * bench data those sorts spill and the full recompute went
    * super-linear (PLANS.md round-8: 17.6× time for 30× data; knobs
    * moved it ±20%). The bucketed layout pays the shuffle+sort ONCE at
    * write; every downstream window/join consumes the layout from disk
    * with NO Exchange and pre-sorted buckets (plan-proven in
    * BucketingSpec, time-proven in BENCH_SCALE_r09).
    *
    * `buckets` is a LAYOUT decision ∝ table size (rows per bucket
    * should fit an executor's sort buffer — the same rule as
    * spark.sql.files.maxPartitionBytes); at 100 TB this table is the
    * lakehouse artifact downstream consumers share, not a temp file.
    * Values are identical to [[run]] — PipelineScaleSpec asserts
    * checksum equality and the composed DuckDB oracle pins the output.
    */
  def runBucketed(
      spark: SparkSession, tables: Map[String, DataFrame],
      stageDir: String, buckets: Int = 0): Map[String, DataFrame] = {
    val tidy = Tidy.fiaTidy(tables)
    val interpolated = FiaAnnualize.expandInterpolate(spark, tidy)
    val n =
      if (buckets > 0) buckets
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val tbl = s"graft_pipeline_annual_${math.abs(stageDir.hashCode)}"
    graft.ops.Layout.writeBucketed(
      interpolated, tbl, stageDir, "tree_ID", n, Some("YEAR"))
    val annual = spark.table(tbl)
    Map(
      "midpt" -> Ids.splitCompositeIds(EstimateCarbon.fiaEstimate(
        spark, FiaAnnualize.adjustMortality(annual, useMortyr = false))),
      "mortyr" -> Ids.splitCompositeIds(EstimateCarbon.fiaEstimate(
        spark, FiaAnnualize.adjustMortality(annual, useMortyr = true))))
  }

  def writeParquet(results: Map[String, DataFrame], outDir: String): Unit =
    results.foreach { case (variant, df) =>
      df.write.mode("overwrite")
        .partitionBy("STATECD")
        .parquet(s"$outDir/variant=$variant")
    }
}
