package graft.fia

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
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
    written(results).write.mode("overwrite")
      .partitionBy("variant", "STATECD")
      .parquet(outDir)

  /** The frame [[writeParquet]] writes: each result with its `variant`
    * column, as one union. [[run]]'s own results are written as the one
    * frame they filter, so its per-tree group pass runs once for every
    * variant instead of once per variant. */
  private[graft] def written(results: Map[String, DataFrame]): DataFrame = {
    val union = results.map { case (variant, df) => df.withColumn("variant", lit(variant)) }
      .reduce(_ unionByName _)
    val filtered = results.toSeq.map { case (v, df) => filteredOn(df.queryExecution.analyzed, v) }
    if (filtered.exists(_.isEmpty) || !filtered.forall(_.get.sameResult(filtered.head.get))) union
    else GraftBridge.dataFrame(union.sparkSession, filtered.head.get)
      .filter(col("variant").isin(results.keys.toSeq: _*))
      .select(union.columns.map(col): _*)
  }

  /** The frame that `plan` keeps the `variant = v` rows of and drops
    * `variant` from, [[run]]'s shape: `Project` over `Filter`. */
  private def filteredOn(plan: LogicalPlan, v: String): Option[LogicalPlan] = plan match {
    case Project(cols, Filter(EqualTo(a: Attribute, Literal(value, _)), child))
        if a.name == "variant" && String.valueOf(value) == v &&
          child.output.exists(_.exprId == a.exprId) &&
          cols.map(_.exprId) == child.output.filterNot(_.exprId == a.exprId).map(_.exprId) =>
      Some(child)
    case _ => None
  }
}
