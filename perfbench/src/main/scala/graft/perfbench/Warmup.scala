package graft.perfbench

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A short Spark session that loads the classes every benchmark run
  * needs first (session start, parquet write and read, a join, an
  * aggregation, a window, a range repartition), so that `run.py` can
  * archive them with `-XX:ArchiveClassesAtExit` after a build.
  * Usage: `Warmup <work dir>`. */
object Warmup {
  def main(argv: Array[String]): Unit = {
    val dir = argv(0)
    val spark = graft.GraftSession.builder(math.min(4, Runtime.getRuntime.availableProcessors()))
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(2000).select(col("id"), (col("id") % 7).as("k"), rand(1).as("x"))
      .write.partitionBy("k").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    t.join(broadcast(t.groupBy("k").agg(sum("x").as("s"))), "k")
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.parquet(s"$dir/u")
    Checksum.of(spark.read.parquet(s"$dir/u"))
    spark.stop()
  }
}
