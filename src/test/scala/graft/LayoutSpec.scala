package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Layout

class LayoutSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("range layout write yields partition pruning on the derived column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumn("o_year", year($"o_orderdate"))
    Layout.writeRangeLayout(orders, dir, "o_year", "o_orderdate")

    val pruned = Layout.readPruned(spark, dir).filter($"o_year" === 1997)
    val plan = pruned.queryExecution.executedPlan.toString

    // the year filter must land in PartitionFilters (directory pruning),
    // and the pruned scan must touch only the 1997 directory's files
    assert(plan.contains("PartitionFilters") &&
      plan.split("PartitionFilters", 2)(1).take(200).contains("o_year"),
      s"expected o_year in PartitionFilters:\n$plan")
    // row counts survive the layout round-trip (collect() drives THIS
    // Dataset's queryExecution, so its scan metrics populate below)
    assert(pruned.collect().length ==
      orders.filter($"o_year" === 1997).count().toInt)

    // post-pruning scan metrics: only the 1997 directory's files are read
    val allFiles = Layout.readPruned(spark, dir).inputFiles.length
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec leaf")
    val filesRead = scans.head.metrics("numFiles").value
    assert(filesRead > 0 && filesRead < allFiles,
      s"pruning should read fewer than all $allFiles files, read $filesRead")
  }

  test("zOrderValue interleaves bits exactly") {
    import spark.implicits._
    // reference implementation, bit by bit
    def morton(a: Long, b: Long): Long =
      (0 until 16).map { i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L),
      (0L, 65535L), (12345L, 54321L), (65535L, 65535L))
    val got = cases.toDF("a", "b")
      .select(Layout.zOrderValue(col("a"), col("b")).as("z"))
      .as[Long].collect()
    assert(got.toSeq == cases.map { case (a, b) => morton(a, b) })
  }

  test("z-order layout keeps per-file min/max tight on BOTH dimensions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    // two independent uniform dims: a single-column sort would leave the
    // OTHER column's per-file range at ~full width; z-clustering bounds
    // both, which is exactly what file/row-group min-max skipping needs
    val df = spark.range(40000).select(
      (col("id") % 200).as("x"),
      ((col("id") * 7919) % 200).as("y"),
      col("id").as("payload"))
    Layout.writeZOrderLayout(df, dir, "x", "y", numRangePartitions = 16, bits = 8)
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max($"x") - min($"x")).as("rx"), (max($"y") - min($"y")).as("ry"))
      .agg(avg($"rx").as("ax"), avg($"ry").as("ay"), count(lit(1)).as("nf"))
      .as[(Double, Double, Long)].collect().head
    val (ax, ay, nf) = ranges
    assert(nf >= 8, s"want multiple files, got $nf")
    assert(ax < 150 && ay < 150,
      s"z-clustering should bound both dims' per-file ranges (<150 of 199): x=$ax y=$ay")
  }

  test("parquetFileStats manifest matches the data and proves range-layout skipping") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest").toString
    val df = spark.range(20000).select(col("id").as("k"), (col("id") * 3).as("v"))
    df.repartitionByRange(8, col("k")).sortWithinPartitions(col("k"))
      .write.mode("overwrite").parquet(dir)
    val manifest = Layout.parquetFileStats(spark, dir)
      .filter($"column" === "k")
      .select($"file", $"min_value".cast("long"), $"max_value".cast("long"),
        $"num_values", $"null_count")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // footer stats must agree with an actual scan, file by file
    val actual = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min($"k").as("mn"), max($"k").as("mx"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(manifest.nonEmpty && manifest.length >= 8)
    manifest.foreach { case (f, mn, mx, n, nulls) =>
      val key = actual.keys.find(_.endsWith(f.split('/').last)).get
      assert((mn, mx, n) == actual(key), s"footer stats diverge from data for $f")
      assert(nulls == 0)
    }
    // the manifest PROVES skipping: for a point predicate, the row
    // groups whose [min,max] exclude it cover nearly all of the table
    val hit = manifest.count { case (_, mn, mx, _, _) => mn <= 9999 && 9999 <= mx }
    assert(hit < manifest.length / 2,
      s"range layout should let a point predicate skip most row groups ($hit of ${manifest.length} hit)")
  }

  test("compactSmallFiles merges a shatter shuffle-free and preserves every row") {
    import spark.implicits._
    val in = "/tmp/graft_compactspec/in"; val out = "/tmp/graft_compactspec/out"
    val src = spark.range(20000).select(
      $"id", (rand(7) * 100).cast("long").as("v"))
    src.repartition(32).write.mode("overwrite").parquet(in)

    val reader = spark.read.parquet(in)
    val (nIn, nOut, bytes) = graft.ops.Layout.compactSmallFiles(
      spark, in, out, targetBytes = math.max(1L, bytes0(in) / 4))
    assert(nIn == 32 && nOut <= 8, s"expected ~4-8 outputs, got $nOut from $nIn")
    val outFiles = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(outFiles == nOut, s"declared $nOut files, wrote $outFiles")

    // value-invisible: the compacted copy is row-for-row the input
    val back = spark.read.parquet(out)
    assert(back.count() == 20000)
    assert(back.exceptAll(reader).isEmpty && reader.exceptAll(back).isEmpty)
    assert(bytes > 0)
  }

  /** total parquet bytes under a dir (test helper). */
  private def bytes0(dir: String): Long =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum

  test("optimizeTable restores disjoint per-file key ranges (pruning revived)") {
    import spark.implicits._
    val in = "/tmp/graft_optspec/in"; val out = "/tmp/graft_optspec/out"
    // accreted table: round-robin keys — every file spans the key domain
    spark.range(40000).select($"id".as("k"), ($"id" * 3).as("v"))
      .repartition(16).write.mode("overwrite").parquet(in)
    def ranges(p: String) = graft.ops.Layout.parquetFileStats(spark, p)
      .filter($"column" === "k")
      .groupBy($"file")
      .agg(min($"min_value".cast("long")).as("mn"),
        max($"max_value".cast("long")).as("mx"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    def overlaps(rs: Array[(Long, Long)]) =
      rs.sliding(2).count { case Array((_, amx), (bmn, _)) => bmn <= amx; case _ => false }
    assert(overlaps(ranges(in)) > 0, "fixture broken: accreted ranges should overlap")

    val (nIn, nOut, _) = graft.ops.Layout.optimizeTable(
      spark, in, out, "k", targetBytes = 128 << 10)
    assert(nIn == 16 && nOut >= 2)
    val rOut = ranges(out)
    assert(overlaps(rOut) == 0, s"optimized ranges must be disjoint: ${rOut.toSeq}")
    // value-invisible
    val a = spark.read.parquet(in); val b = spark.read.parquet(out)
    assert(b.count() == 40000 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("dynamic partition pruning triggers when the filter arrives via a join") {
    import spark.implicits._
    val tbl = "/tmp/graft_dppspec/fact"
    spark.range(20000).select($"id".as("v"), ($"id" % 20).as("part"))
      .write.mode("overwrite").partitionBy("part").parquet(tbl)
    // DPP plans only when the dim side carries a SELECTIVE predicate
    // beyond the join itself — and the predicate must survive to the
    // optimized plan, so the dim is a parquet scan (a filtered
    // LocalRelation constant-folds the Filter away before DPP runs)
    val dimPath = "/tmp/graft_dppspec/dim"
    Seq((3L, "a"), (7L, "b"), (9L, "zz")).toDF("pk", "name")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"name" =!= "zz")
    val fact = spark.read.parquet(tbl)
    val joined = fact.join(dim, fact("part") === dim("pk"))
    val plan = joined.queryExecution.executedPlan.toString
    // static pruning is impossible (no literal partition predicate);
    // the runtime subquery must appear under PartitionFilters
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in PartitionFilters:\n$plan")
    assert(joined.count() == 2000)
  }

  test("bloom manifest prunes point lookups where min/max cannot") {
    import spark.implicits._
    val dir = "/tmp/graft_bloomspec"
    // UNCLUSTERED layout: round-robin keys — every file spans the whole
    // key domain, so min/max bounds prune nothing for any point key
    graft.ops.Bloom.write(spark.range(64000).select($"id".as("k"), ($"id" * 7).as("v"))
      .repartition(16) // round-robin
      .write.mode("overwrite"), Seq("k")).parquet(dir)

    // min/max CANNOT skip: every file's [mn, mx] contains the probe key
    val bounds = graft.ops.Layout.parquetFileStats(spark, dir)
      .filter($"column" === "k")
      .groupBy($"file")
      .agg(min($"min_value".cast("long")).as("mn"),
        max($"max_value".cast("long")).as("mx"))
      .collect()
    val probeKey = 31337L
    assert(bounds.forall(r => r.getLong(1) <= probeKey && probeKey <= r.getLong(2)),
      "fixture broken: min/max should be useless on a round-robin layout")

    // bloom prunes to a small fraction of files and the answer is exact
    val (data, nFiles, nHit) = graft.ops.Bloom.readPruned(
      spark, dir, "k", Seq(probeKey))
    assert(nFiles == 16)
    assert(nHit < 8, s"bloom should prune most of 16 files, read $nHit")
    val got = data.collect()
    assert(got.length == 1 && got(0).getLong(0) == probeKey &&
      got(0).getLong(1) == probeKey * 7)

    // an absent key reads at most a false-positive file or two, finds nothing
    val (miss, _, missHit) = graft.ops.Bloom.readPruned(
      spark, dir, "k", Seq(999999999L))
    assert(missHit <= 2, s"absent key should prune nearly everything, read $missHit")
    assert(miss.count() == 0)
  }

  test("readParquet: engine-written artifacts get the schema Spark's inference gives") {
    import spark.implicits._
    import graft.ops.{AnnIndex, Fs, Similarity, Upsert}
    val base = java.nio.file.Files.createTempDirectory("layout_read").toString
    val tbl = s"$base/t"; val idx = s"$base/index"
    spark.range(300).select($"id", ($"id" % 3).as("p"),
        array(($"id" % 7 + 1).cast("float"), ($"id" % 5 + 1).cast("float")).as("embedding"),
        map(lit("k"), $"id").as("m"), struct($"id".as("x"), lit("y").as("y")).as("st"))
      .repartition(3).write.parquet(s"$tbl/v0")
    Fs.writeTextAtomic(Fs.of(tbl, spark), new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    spark.range(10).select($"id", ($"id" % 3).as("p")).write.partitionBy("p").parquet(s"$base/part")
    Upsert.deleteByKeyDV(spark, s"$tbl/v0", s"$tbl/v1", Seq(3L, 4L).toDF("id"), "id")
    Fs.writeTextAtomic(Fs.of(tbl, spark), new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v1")
    Upsert.materializeCdf(spark, tbl, 1L)
    val corpus = Upsert.readSnapshot(spark, tbl, 0L).select($"id", $"embedding")
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 2, codes = 4)
    AnnIndex.write(corpus, corpus.filter($"id" < 4).select($"id".as("cid"), $"embedding"), cb, idx)
    val cases = Seq(
      s"$tbl/v0" -> None, s"$base/part" -> None, s"$tbl/v1/_dv" -> None,
      s"$tbl/_cdf/v1" -> None, s"$idx/codebook.parquet" -> None,
      s"$idx/centroids.parquet" -> None, s"$idx/codes.parquet" -> None)
    for ((p, schema) <- cases)
      assert(Layout.readParquet(spark, Seq(p), schema).schema == spark.read.parquet(p).schema, p)
    val index = AnnIndex.read(spark, idx)
    assert(index.centroids.schema == spark.read.parquet(s"$idx/centroids.parquet").schema)
    assert(index.encoded.schema == spark.read.parquet(s"$idx/codes.parquet").schema)
  }

  test("source gate: AnnIndex, Bloom and Upsert read parquet only through Layout.readParquet") {
    import scala.jdk.CollectionConverters._
    def lines(n: String) = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"src/main/scala/graft/ops/$n.scala")).asScala.zipWithIndex
    val patterns = Seq("read.parquet(", "\"mergeSchema\"")
    assert(lines("Layout").exists(_._1.contains("def readParquet(")),
      "the gate found no Layout.readParquet")
    val bad = for {
      n <- Seq("AnnIndex", "Bloom", "Upsert")
      (l, i) <- lines(n)
      p <- patterns if l.contains(p)
    } yield s"ops/$n.scala:${i + 1}: ${l.trim}"
    assert(bad.isEmpty, s"parquet reads outside Layout.readParquet:\n${bad.mkString("\n")}")
  }
}
