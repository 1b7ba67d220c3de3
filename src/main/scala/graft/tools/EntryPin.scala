package graft
package tools

import org.apache.spark.sql.functions._

/** Dev harness: prints the flagship-entry pin values EntrySpec asserts
  * (row count, CARBON_AG null/non-null split, xxhash64 checksum over the
  * keyed, 1e-6-rounded carbon output). Run after any deliberate NSVB /
  * annualize semantics change and update the spec with the new values. */
object EntryPin {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    val nullCarbon = df.filter(col("CARBON_AG").isNull).count()
    // bit_xor: order-independent, no ANSI long-sum overflow
    val checksum = df.select(xxhash64(
        col("tree_ID"), col("YEAR"), round(col("CARBON_AG"), 6)).as("h"))
      .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
    println(s"[entrypin] rows=$n nullCarbon=$nullCarbon nonNull=${n - nullCarbon} checksum=$checksum")

    // Pipeline-scale pins (PipelineScaleSpec): the composed workload over
    // the bench-tier synthetic state, per mortality variant.
    val tabs = graft.fia.SyntheticState.tables(spark, 6000)
    println(s"[pipelinepin] treeRows=${tabs("TREE").count()}")
    val results = graft.fia.Pipeline.run(spark, tabs)
    for ((variant, vdf) <- results.toSeq.sortBy(_._1)) {
      val vn = vdf.count()
      val vNull = vdf.filter(col("CARBON_AG").isNull).count()
      val vSum = vdf.select(xxhash64(
          col("tree_ID"), col("YEAR"), round(col("CARBON_AG"), 6)).as("h"))
        .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
      println(s"[pipelinepin] variant=$variant rows=$vn nullCarbon=$vNull checksum=$vSum")
    }
    // Exchange counts for the one-Exchange-kernel claim (PLANS.md)
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange (hash|range)partitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    val tidy = graft.fia.Tidy.fiaTidy(tabs)
    val kernel = graft.fia.FiaAnnualize.expandInterpolate(spark, tidy)
    println(s"[pipelinepin] tidyShuffles=${shuffles(tidy)} kernelShuffles=${shuffles(kernel)}")
    spark.stop()
  }
}
