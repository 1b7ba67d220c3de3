package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration this engine expects.
  *
  * Tuned for the driver's local[32] harness but every knob is the one
  * you would also set on a real cluster: shuffle partitions sized to
  * parallelism (not the 200 default), AQE on (runtime coalescing +
  * skew-join handling), UTC timestamps for oracle parity.
  */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      // register the engine's native SQL functions (vec_dot, ...) in
      // every session this factory produces
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the generated-class cache defaults to 100 entries; a 58-query
      // suite evicts and recompiles hot plans mid-run (measured: 0.8s
      // queries ballooning to 5s). Static conf, so it must be set here.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // events.parquet carries INT64 TIMESTAMP(NANOS); Spark reads it as
      // LongType nanos with this flag instead of failing the scan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // sets file modes without forking `chmod` per created file
      .config("spark.hadoop.fs.file.impl", classOf[graft.ops.NioLocalFileSystem].getName)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
