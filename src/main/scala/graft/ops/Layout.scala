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
    df.coalesce(nReq).write.mode("overwrite").parquet(outPath)
    Upsert.writeSchemaSidecar(outPath, df.schema)
    (nIn, listDataFiles(spark, outPath).size, total)
  }

  /** OPTIMIZE: compaction WITH re-clustering — the Delta
    * `OPTIMIZE … ZORDER BY` shape. [[compactSmallFiles]] merges files
    * but preserves whatever row order accretion left behind; a table
    * built by many upsert/append commits ends up with OVERLAPPING
    * per-file key ranges, so min/max pruning (and the upsert manifest)
    * degrades to reading everything. This pass re-range-partitions and
    * sorts, landing ≈`targetBytes` files with DISJOINT key ranges —
    * pruning restored. One shuffle, by design: re-clustering IS a
    * data movement; run it at maintenance cadence, not per commit.
    *
    * @return (input files, output files, total input bytes) */
  def optimizeTable(
      spark: SparkSession, inPath: String, outPath: String,
      sortCol: String, targetBytes: Long): (Int, Int, Long) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val files = listDataFiles(spark, inPath)
    require(files.nonEmpty, s"optimizeTable: no .parquet files under $inPath")
    val fs = new HPath(inPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = totalBytes(spark, files)
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val df = Upsert.readSnapshotData(spark, inPath) // sidecar, else mergeSchema (evolved-column safety)
    df.repartitionByRange(nOut, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(outPath)
    Upsert.writeSchemaSidecar(outPath, df.schema)
    var written = 0
    val it = fs.listFiles(new HPath(outPath), true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) written += 1
    }
    // carry the source's stamped manifest keys (plus the cluster
    // column) through the rewrite — OPTIMIZE exists to RESTORE pruning,
    // so it must not silently drop the zero-footer-read stamp. AFTER
    // the output count: the manifest's own parquet must not count as a
    // data file.
    Upsert.restampAfterRewrite(spark, inPath, outPath, Seq(sortCol))
    (files.size, written, total)
  }

  /** [[optimizeTable]] with TWO cluster columns — the full Delta
    * `OPTIMIZE … ZORDER BY (a, b)` shape: re-range-partition + sort on
    * the Morton interleave ([[zOrderValue]]), so filters on EITHER
    * column prune via row-group min/max without electing a primary
    * sort key. Same single-shuffle maintenance-cadence contract as
    * [[optimizeTable]].
    *
    * @return (input files, output files, total input bytes) */
  def optimizeTableZOrder(
      spark: SparkSession, inPath: String, outPath: String,
      colA: String, colB: String, targetBytes: Long,
      bits: Int = 16): (Int, Int, Long) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val files = listDataFiles(spark, inPath)
    require(files.nonEmpty, s"optimizeTableZOrder: no .parquet files under $inPath")
    val fs = new HPath(inPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = totalBytes(spark, files)
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val df = Upsert.readSnapshotData(spark, inPath) // sidecar, else mergeSchema (evolved-column safety)
    df.withColumn("__z", zOrderValue(col(colA), col(colB), bits))
      .repartitionByRange(nOut, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(outPath)
    Upsert.writeSchemaSidecar(outPath, df.schema)
    var written = 0
    val it = fs.listFiles(new HPath(outPath), true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) written += 1
    }
    // same stamp carry as optimizeTable: both Z-order columns prune
    // via the manifest after the rewrite, plus whatever was stamped
    // (after the count — the manifest parquet is not a data file)
    Upsert.restampAfterRewrite(spark, inPath, outPath, Seq(colA, colB))
    (files.size, written, total)
  }

  /** Per-FILE Bloom filter over a key column — the data-skipping index
    * for POINT lookups on columns the layout is NOT clustered by:
    * row-group min/max (and the upsert manifest built from it) prune
    * nothing when every file spans the whole key domain, but a Bloom
    * bit-set per file still answers "definitely not here" for a key.
    * This is the role of Delta's Bloom index / Iceberg's bloom column
    * metrics, built from this engine's own pieces.
    *
    * Shape: ONE aggregation pass over (file, key) — `input_file_name`
    * keys the groupBy, each key sets `numHashes` bits derived from two
    * independent md5-based 60-bit hashes (Kirsch-Mitzenmacher double
    * hashing: bit_i = h1 + i*h2 mod m), and the per-file OR of bit
    * arrays is a `max` aggregate over positional flags — partial
    * aggregation applies, the shuffle carries one m-bit array per
    * (file, partition).
    *
    * @param bitsPerFile m — sized for the expected keys/file and the
    *   target false-positive rate (m ≈ 1.44 · n · log2(1/p)) */
  def bloomManifest(
      spark: SparkSession, path: String, keyCol: String,
      bitsPerFile: Int = 1 << 14, numHashes: Int = 5): DataFrame =
    bloomOf(spark.read.parquet(path), keyCol, bitsPerFile, numHashes)

  /** [[bloomManifest]] over an explicit file list — the incremental
    * path: a COW commit carrying a Bloom sidecar only needs fresh
    * filters for the files it just wrote. */
  def bloomManifestFor(
      spark: SparkSession, files: Seq[String], keyCol: String,
      bitsPerFile: Int, numHashes: Int): DataFrame =
    bloomOf(spark.read.parquet(files: _*), keyCol, bitsPerFile, numHashes)

  private def bloomOf(
      df: DataFrame, keyCol: String,
      bitsPerFile: Int, numHashes: Int): DataFrame = {
    val words = bitsPerFile / 64
    val h1 = Dedup.hash60(col(keyCol).cast("string"))
    val h2 = Dedup.hash60(concat(lit("b2:"), col(keyCol).cast("string")))
    // bit positions for this key: h1 + i*h2 mod m
    val bits = sequence(lit(0), lit(numHashes - 1)).cast("array<long>")
    val positions = transform(bits,
      i => pmod(h1 + i * pmod(h2, lit(bitsPerFile.toLong)), lit(bitsPerFile.toLong)))
    // (file, word, bit) rows → two-stage partial aggregation. NOT one
    // lambda-aggregate per word per row: an earlier shape evaluated
    // `words` higher-order aggregates for every input row and cost 3.6 s
    // on a 1.5M-row table; this shape is numHashes exploded rows per
    // input row, partial-aggregated to ≤ files×words tiny pairs.
    val perWord = df
      .select(input_file_name().as("file"), explode(positions).as("p"))
      .select(col("file"), shiftright(col("p"), 6).cast("int").as("w"),
        expr("shiftleft(1L, cast(p % 64 AS INT))").as("bit"))
      .groupBy(col("file"), col("w"))
      .agg(expr("bit_or(bit)").as("bits"))
    perWord
      .groupBy("file")
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("m"))
      .select(col("file"),
        expr(s"transform(sequence(0, ${words - 1}), " +
          "i -> coalesce(element_at(m, cast(i AS INT)), 0L))").as("bloom"))
  }

  /** Read only the files whose Bloom filter MAY contain one of `keys`
    * (plus the exact residual filter — Bloom false positives read a
    * file for nothing but never corrupt the answer).
    *
    * @param manifest output of [[bloomManifest]] (collected driver-side:
    *   one m-bit array per file, the same order of memory as any file
    *   index) */
  def readBloomPruned(
      spark: SparkSession, manifest: DataFrame, keyCol: String,
      keys: Seq[Long], bitsPerFile: Int = 1 << 14, numHashes: Int = 5)
      : (DataFrame, Int, Int) = {
    import spark.implicits._
    val rows = manifest.collect().map { r =>
      r.getString(0) -> r.getSeq[Long](1).toArray
    }
    // same double-hash as the builder, computed via a 1-row Spark plan
    // so the md5 arithmetic is bit-identical to the aggregation side
    val probe = spark.createDataset(keys).toDF("k")
      .select(col("k"),
        Dedup.hash60(col("k").cast("string")).as("h1"),
        Dedup.hash60(concat(lit("b2:"), col("k").cast("string"))).as("h2"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    def mayContain(bloom: Array[Long], h1: Long, h2: Long): Boolean =
      (0 until numHashes).forall { i =>
        val p = java.lang.Math.floorMod(
          h1 + i * java.lang.Math.floorMod(h2, bitsPerFile.toLong), bitsPerFile.toLong)
        (bloom((p / 64).toInt) & (1L << (p % 64))) != 0
      }
    val hit = rows.collect {
      case (f, bloom) if probe.exists { case (h1, h2) => mayContain(bloom, h1, h2) } => f
    }
    val data =
      if (hit.isEmpty)
        spark.read.parquet(rows.head._1).limit(0) // empty, correct schema
      else spark.read.parquet(hit.toIndexedSeq: _*)
    (data.filter(col(keyCol).isin(keys: _*)), rows.length, hit.length)
  }

  /** Sidecar dir holding a snapshot's per-file Bloom filters. */
  private[graft] def bloomSidecarDir(tablePath: String) = s"$tablePath/_bloom"

  /** Materialize [[bloomManifest]] as a `_bloom` sidecar of the table,
    * keyed by file BASENAME (same convention as the upsert `_manifest`:
    * basenames survive the link/copy into the next snapshot, full paths
    * don't) with the filter parameters stored alongside, so a probe
    * can't silently hash with mismatched bits/numHashes.
    * [[graft.ops.Upsert]] commits CARRY this sidecar forward — linked
    * files keep their filter words verbatim, only freshly written files
    * get an aggregation pass — so a point-lookup index on a 100 TB
    * table costs one build, then ∝ touched files per commit. */
  def writeBloomSidecar(
      spark: SparkSession, tablePath: String, keyCol: String,
      bitsPerFile: Int = 1 << 14, numHashes: Int = 5): Unit =
    bloomManifest(spark, tablePath, keyCol, bitsPerFile, numHashes)
      .select(substring_index(col("file"), "/", -1).as("file"),
        lit(keyCol).as("key"), lit(bitsPerFile).as("bits"),
        lit(numHashes).as("hashes"), col("bloom"))
      .coalesce(1).write.mode("overwrite").parquet(bloomSidecarDir(tablePath))

  /** [[readBloomPruned]] driven by the table's `_bloom` sidecar. Every
    * data file must have a filter row — a drifted sidecar fails loudly
    * instead of silently skipping a file the filter never saw. */
  def readBloomPrunedFromSidecar(
      spark: SparkSession, tablePath: String, keyCol: String,
      keys: Seq[Long]): (DataFrame, Int, Int) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val sc = spark.read.parquet(bloomSidecarDir(tablePath))
      .filter(col("key") === keyCol)
      .select("file", "bits", "hashes", "bloom").collect()
    require(sc.nonEmpty,
      s"no Bloom sidecar rows for key '$keyCol' under $tablePath — " +
        "build one with writeBloomSidecar")
    val bits = sc.head.getInt(1); val hashes = sc.head.getInt(2)
    val byName = listDataFiles(spark, tablePath)
      .map(f => new HPath(f).getName -> f).toMap
    val scNames = sc.map(_.getString(0)).toSet
    require(byName.keySet == scNames,
      s"Bloom sidecar drift under $tablePath: files without filters " +
        s"${byName.keySet.diff(scNames).take(3)} / stale filter rows " +
        s"${scNames.diff(byName.keySet).take(3)} — rebuild the sidecar")
    import spark.implicits._
    val manifest = spark.createDataset(
      sc.toIndexedSeq.map(r => (byName(r.getString(0)), r.getSeq[Long](3))))
      .toDF("file", "bloom")
    readBloomPruned(spark, manifest, keyCol, keys, bits, hashes)
  }

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
  /** Leaf `.parquet` files under `path`, honoring the Spark/Hive
    * hidden convention: any path SEGMENT starting with `_` or `.`
    * (e.g. a `_manifest` sidecar dir) is metadata, not data. */
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

  def parquetFileStats(spark: SparkSession, path: String): DataFrame = {
    val files = listDataFiles(spark, path)
    require(files.nonEmpty,
      s"parquetFileStats: no .parquet files under $path — wrong path or non-parquet table")
    parquetFileStatsFor(spark, files)
  }

  /** [[parquetFileStats]] over an explicit file list — the incremental
    * path: a caller holding a cached manifest only needs footer reads
    * for the files it just wrote. */
  def parquetFileStatsFor(spark: SparkSession, files: Seq[String]): DataFrame = {
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

  /** One parquet file's footer (row-group metadata and column stats;
    * no data pages) — the single footer reader behind
    * [[parquetFileStatsFor]] and the commit engine's bounds fold
    * (`Upsert.footerBounds`). */
  private[graft] def readFooter(
      conf: org.apache.hadoop.conf.Configuration, file: String)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try reader.getFooter finally reader.close()
  }
}
