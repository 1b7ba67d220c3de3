package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout-for-scale helpers: at 100 TB, how a table lands on disk
  * decides every later scan's cost. Two composable levers:
  *
  *   1. directory partitioning (`partitionBy`) — a filter on the
  *      partition column becomes partition PRUNING: pruned directories
  *      are never listed, opened, or read;
  *   2. in-file ordering (`repartitionByRange` + `sortWithinPartitions`)
  *      — parquet row-group min/max stats become selective, so filters
  *      on the sort column skip row groups inside the surviving files,
  *      and downstream range queries read near-minimal bytes.
  *
  * `repartitionByRange` samples the column to build balanced range
  * bounds (one shuffle), so output files are evenly sized even under
  * value skew — unlike `partitionBy` alone, which writes one directory
  * per value with whatever skew the data has.
  */
object Layout {

  /** Write `df` partitioned by a derived low-cardinality column and
    * range-ordered inside each partition by `sortCol`.
    *
    * @param numRangePartitions TOTAL number of range partitions across
    *   the whole write (≈ total output files, spread over the
    *   directory partitions as the range bounds fall) — NOT a
    *   files-per-directory knob. Size it as data volume / target file
    *   size (e.g. ~128 MB files). */
  def writeRangeLayout(
      df: DataFrame, path: String, partCol: String, sortCol: String,
      numRangePartitions: Int = 4): Unit =
    df.repartitionByRange(numRangePartitions, col(partCol), col(sortCol))
      .sortWithinPartitions(col(partCol), col(sortCol))
      .write.mode("overwrite")
      .partitionBy(partCol)
      .parquet(path)

  /** Read back with a partition filter; the physical plan must show the
    * filter under PartitionFilters (pruning), not PushedFilters. */
  def readPruned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative integer columns: bit i of `a` lands at position 2i,
    * bit i of `b` at 2i+1. Rows close in Z-value are close in BOTH
    * dimensions, so range-partitioning + sorting by the Z-value makes
    * parquet row-group min/max stats selective for filters on EITHER
    * column — the multi-column generalization of [[writeRangeLayout]]'s
    * single sort key. Pure bit-arithmetic column expression (shifts,
    * masks, adds) — whole-stage codegen, no UDF.
    */
  def zOrderValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val al = a.cast("long"); val bl = b.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Write `df` clustered by the Z-order of (`colA`, `colB`): range
    * partition + in-file sort on the interleaved value. Filters on
    * either column then skip most files via row-group stats without
    * choosing a single "primary" sort column. */
  def writeZOrderLayout(
      df: DataFrame, path: String, colA: String, colB: String,
      numRangePartitions: Int = 4, bits: Int = 16): Unit =
    df.withColumn("__z", zOrderValue(col(colA), col(colB), bits))
      .repartitionByRange(numRangePartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .parquet(path)

  /** Write `df` as a BUCKETED table: rows are hash-partitioned into
    * `numBuckets` files by `bucketCol` and sorted inside each bucket.
    * Bucketing is the strongest co-location lever Spark has: a join or
    * aggregation keyed on the bucket column consumes the table's
    * layout as its required distribution, so the Exchange (and with
    * sorted buckets, the Sort) disappears from the plan entirely —
    * the 100 TB fact⋈fact join becomes a per-bucket merge with ZERO
    * network movement, decided at PLAN time, not runtime.
    *
    * The `repartition(numBuckets, bucketCol)` before the write makes
    * exactly ONE file per bucket, which is what lets the reader treat
    * each bucket as pre-sorted (many files per bucket would re-sort).
    * Bucketed tables live in the session catalog (`saveAsTable` with
    * an explicit external `path`), because bucket metadata is catalog
    * state — a bare parquet directory cannot carry it. */
  def writeBucketed(
      df: DataFrame, table: String, path: String,
      bucketCol: String, numBuckets: Int,
      sortCol: Option[String] = None): Unit = {
    val w = df.repartition(numBuckets, col(bucketCol))
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
    sortCol.fold(w.sortBy(bucketCol))(s => w.sortBy(bucketCol, s))
      .saveAsTable(table)
  }

  /** Compact a directory of small parquet files into ≈`targetBytes`
    * outputs — the other half of layout hygiene at scale: a 100 TB
    * table accreted from streaming micro-batches or incremental
    * merges degenerates into millions of KB-sized files whose
    * per-file open/footer/seek overhead dominates scan time.
    *
    * `coalesce` (not `repartition`): compaction must not SHUFFLE the
    * table it is tidying — coalesce unions input splits into fewer
    * tasks with zero network movement. The trade-off is bin-packing
    * by file count rather than perfectly even bytes; for compaction
    * the cheap pass is the right one (the files being merged are
    * small and numerous, which is the premise).
    *
    * @return (input file count, output file count, total input bytes) */
  def compactSmallFiles(
      spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long): (Int, Int, Long) = {
    val files = listDataFiles(spark, inPath)
    require(files.nonEmpty, s"compactSmallFiles: no .parquet files under $inPath")
    val nIn = files.size
    val total = totalBytes(spark, files)
    // coalesce cannot EXCEED the reader's partition count (file splits
    // may already combine below the target), so the request is a cap;
    // the returned count is what actually landed on disk.
    val nReq = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val df = Upsert.readSnapshotData(spark, inPath) // sidecar, else mergeSchema (evolved-column safety)
    // the output filters the columns its source files filter
    Bloom.write(df.coalesce(nReq).write.mode("overwrite"), Bloom.columnsOf(spark, files.head))
      .parquet(outPath)
    Upsert.writeSchemaSidecar(outPath, df.schema)
    (nIn, listDataFiles(spark, outPath).size, total)
  }

  /** OPTIMIZE: compaction WITH re-clustering — the Delta
    * `OPTIMIZE … ZORDER BY` shape. [[compactSmallFiles]] merges files
    * but preserves whatever row order accretion left behind; a table
    * built by many upsert/append commits ends up with OVERLAPPING
    * per-file key ranges, so min/max pruning (and the commit engine's
    * footer-bounds pruning) degrades to reading everything. This pass
    * re-range-partitions and sorts, landing ≈`targetBytes` files with
    * DISJOINT key ranges — pruning restored, read from the new files'
    * footers by the next commit or `Upsert.readWhere` (nothing to
    * re-stamp). One shuffle, by design: re-clustering IS a
    * data movement; run it at maintenance cadence, not per commit.
    *
    * @return (input files, output files, total input bytes) */
  def optimizeTable(
      spark: SparkSession, inPath: String, outPath: String,
      sortCol: String, targetBytes: Long): (Int, Int, Long) = {
    val files = listDataFiles(spark, inPath)
    require(files.nonEmpty, s"optimizeTable: no .parquet files under $inPath")
    val total = totalBytes(spark, files)
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val df = Upsert.readSnapshotData(spark, inPath) // sidecar, else mergeSchema (evolved-column safety)
    Bloom.write(df.repartitionByRange(nOut, col(sortCol))
        .sortWithinPartitions(col(sortCol)).write.mode("overwrite"),
      Bloom.columnsOf(spark, files.head))
      .parquet(outPath)
    Upsert.writeSchemaSidecar(outPath, df.schema)
    (files.size, listDataFiles(spark, outPath).size, total)
  }

  /** [[optimizeTable]] with TWO cluster columns — the full Delta
    * `OPTIMIZE … ZORDER BY (a, b)` shape: re-range-partition + sort on
    * the Morton interleave ([[zOrderValue]]), so filters on EITHER
    * column prune via row-group and footer min/max without electing a
    * primary sort key. Same single-shuffle maintenance-cadence contract
    * as [[optimizeTable]].
    *
    * @return (input files, output files, total input bytes) */
  def optimizeTableZOrder(
      spark: SparkSession, inPath: String, outPath: String,
      colA: String, colB: String, targetBytes: Long,
      bits: Int = 16): (Int, Int, Long) = {
    val files = listDataFiles(spark, inPath)
    require(files.nonEmpty, s"optimizeTableZOrder: no .parquet files under $inPath")
    val total = totalBytes(spark, files)
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val df = Upsert.readSnapshotData(spark, inPath) // sidecar, else mergeSchema (evolved-column safety)
    Bloom.write(df.withColumn("__z", zOrderValue(col(colA), col(colB), bits))
        .repartitionByRange(nOut, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode("overwrite"), Bloom.columnsOf(spark, files.head))
      .parquet(outPath)
    Upsert.writeSchemaSidecar(outPath, df.schema)
    (files.size, listDataFiles(spark, outPath).size, total)
  }

  /** Leaf `.parquet` files under `path`, honoring the Spark/Hive
    * hidden convention: any path SEGMENT starting with `_` or `.`
    * (e.g. a `_dv` sidecar dir) is metadata, not data. */
  private[graft] def listDataFiles(
      spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(path)
    val scheme = p.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // local fast path: RawLocalFileSystem's recursive listFiles
      // stats each entry through DeprecatedRawLocalFileStatus (a
      // process fork per file for permissions on this Hadoop build) —
      // ~2 s for a 500-file table, paid by EVERY commit verb. The NIO
      // walk is milliseconds and byte-equivalent for the data-file
      // listing (paths come back file:-qualified like Hadoop's).
      import java.nio.file.{Files, Paths}
      val root = Paths.get(p.toUri.getPath)
      if (!Files.exists(root))
        throw new java.io.FileNotFoundException(s"$path does not exist")
      if (Files.isRegularFile(root)) Seq("file:" + root)
      else {
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        val stream = Files.walk(root)
        try {
          val it = stream.iterator()
          while (it.hasNext) {
            val f = it.next()
            if (f.getFileName.toString.endsWith(".parquet") &&
                Files.isRegularFile(f)) {
              val rel = root.relativize(f)
              var hidden = false
              var i = 0
              while (i < rel.getNameCount && !hidden) {
                val seg = rel.getName(i).toString
                hidden = seg.startsWith("_") || seg.startsWith(".")
                i += 1
              }
              if (!hidden) buf += "file:" + f
            }
          }
        } finally stream.close()
        buf.toSeq.sorted
      }
    } else {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.getFileStatus(p).isFile) Seq(p.toString)
      else {
        val rootDepth = p.toUri.getPath.split('/').length
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val s = it.next()
          val segs = s.getPath.toUri.getPath.split('/').drop(rootDepth)
          val hidden = segs.exists(seg => seg.startsWith("_") || seg.startsWith("."))
          if (s.isFile && !hidden && s.getPath.getName.endsWith(".parquet"))
            buf += s.getPath.toString
        }
        buf.toSeq.sorted
      }
    }
  }

  /** At least one non-hidden regular `.parquet` file exists under the
    * LOCAL dir — the short-circuit form of [[listDataFiles]]' data-file
    * convention (same hidden-segment rule, same regular-file check),
    * kept beside it so the convention lives in one file. */
  private[graft] def localDataFileExists(dir: String): Boolean = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) false
    else {
      val s = Files.walk(root)
      try s.anyMatch { p =>
        p.getFileName.toString.endsWith(".parquet") &&
          Files.isRegularFile(p) && {
            val rel = root.relativize(p)
            !(0 until rel.getNameCount).exists { i =>
              val seg = rel.getName(i).toString
              seg.startsWith("_") || seg.startsWith(".")
            }
          }
      } finally s.close()
    }
  }

  /** Total size of `files` — NIO for local paths (a Hadoop
    * getFileStatus forks per file for permissions on this build;
    * seconds for a wide table), Hadoop FS for remote schemes. */
  private[graft] def totalBytes(
      spark: SparkSession, files: Seq[String]): Long =
    files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val scheme = p.toUri.getScheme
      if (scheme == null || scheme == "file")
        java.nio.file.Files.size(java.nio.file.Paths.get(p.toUri.getPath))
      else
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
    }.sum

  /** Per-row-group, per-column footer statistics as a DataFrame — the
    * data-skipping MANIFEST for a parquet table: (file, row_group,
    * column, min_value, max_value, num_values, null_count). This is the
    * primitive behind lakehouse pruning — a planner (or an ad-hoc
    * `WHERE`) consults the manifest to decide which row groups a
    * predicate can skip, the explicit form of what
    * [[writeRangeLayout]]/[[writeZOrderLayout]] arrange for the engine
    * to do implicitly. min/max surface as Statistics#minAsString /
    * maxAsString (type-faithful text; cast numerics back as needed).
    *
    * Scale shape: only FOOTERS are read — a few KB per file regardless
    * of data size — and files are processed in parallel via
    * mapPartitions over the path list (a 100 TB table's manifest is a
    * footer read per file, not a data scan). The path LIST (not the
    * data) is collected driver-side: one string per file, the same
    * order of driver memory any planner's file index already holds. */
  def parquetFileStats(spark: SparkSession, path: String): DataFrame = {
    val files = listDataFiles(spark, path)
    require(files.nonEmpty,
      s"parquetFileStats: no .parquet files under $path — wrong path or non-parquet table")
    import spark.implicits._
    // The session's hadoopConfiguration must travel to the executors:
    // a bare `new Configuration()` would drop fs.s3a/hdfs settings and
    // credentials and break any non-local filesystem.
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val par = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files).repartition(par).mapPartitions { paths =>
      import scala.jdk.CollectionConverters._
      val conf = serConf.value
      paths.flatMap { f =>
        readFooter(conf, f).getBlocks.asScala.zipWithIndex.flatMap { case (bg, gi) =>
          bg.getColumns.asScala.map { cc =>
            val st = Option(cc.getStatistics)
            (f, gi, cc.getPath.toDotString,
              st.map(_.minAsString).orNull, st.map(_.maxAsString).orNull,
              cc.getValueCount, st.map(_.getNumNulls).getOrElse(-1L))
          }
        }
      }
    }.toDF("file", "row_group", "column",
      "min_value", "max_value", "num_values", "null_count")
  }

  /** The one read of engine-written parquet: the schema resolves
    * without a Spark job. Spark's own inference opens a footer inside a
    * one-task job per read — a fixed cost every index load, `_dv`
    * read and change-feed leg used to pay. The schema, in order:
    *
    *   1. `schema`, when the caller knows it — a snapshot's
    *      `_schema.json` (`Upsert.readSchemaSidecar`);
    *   2. with `mergeSchema`, Spark's merged inference over every file
    *      (a sidecar-less snapshot whose files may predate an
    *      evolution — `Upsert.readSnapshotData`'s fallback);
    *   3. the Spark schema Spark wrote into the first data file's
    *      footer ([[SparkSchemaKey]]), read on the driver;
    *   4. Spark's own inference (a foreign writer: no such key).
    *
    * Partition directories are still discovered and appended, as on
    * an inferred read. `basePath` keeps them on a direct file read. */
  private[graft] def readParquet(
      spark: SparkSession, paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      basePath: Option[String] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val r = basePath.fold(spark.read)(b => spark.read.option("basePath", b))
    schema.orElse(if (mergeSchema) None else paths.headOption.flatMap(footerSchema(spark, _))) match {
      case Some(s) => r.schema(s).parquet(paths: _*)
      case None => (if (mergeSchema) r.option("mergeSchema", "true") else r).parquet(paths: _*)
    }
  }

  /** Footer key under which Spark's writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema in the footer of the first data file under
    * `path` (a file or a directory); None without a data file, without
    * the key, or when it does not parse. */
  private def footerSchema(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] =
    scala.util.Try(listDataFiles(spark, path)).toOption.flatMap(_.headOption)
      .flatMap(f => Option(readFooter(spark.sparkContext.hadoopConfiguration, f)
        .getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)))
      .flatMap(json => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(json)).toOption)
      .collect { case s: org.apache.spark.sql.types.StructType => s }

  /** One parquet file's footer (row-group metadata and column stats;
    * no data pages) — behind [[parquetFileStats]], [[readParquet]]'s
    * schema and `Bloom.columnsOf`. */
  private[graft] def readFooter(
      conf: org.apache.hadoop.conf.Configuration, file: String)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata =
    withFooter(conf, file)(_.getFooter)

  /** `use` over one parquet file opened for its footer — the single
    * footer open: [[readFooter]], and the commit engine's per-file
    * pass (`Upsert.footerFacts`), which reads the bounds and probes
    * the Bloom filters in the same open. */
  private[graft] def withFooter[T](
      conf: org.apache.hadoop.conf.Configuration, file: String)(
      use: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try use(reader) finally reader.close()
  }
}
