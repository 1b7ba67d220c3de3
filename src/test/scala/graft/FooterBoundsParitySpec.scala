package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, Similarity, Upsert}

/** Pins the two placements of [[graft.ops.Upsert.footerBounds]] — the
  * one footer fold behind every manifest row and AnnIndex's id pruning
  * — row-for-row equal: in-process on the driver (at or below
  * `DriverFooterMaxFiles` files) and inside a `mapPartitions` past it.
  * The fixtures exercise every fold subtlety: multiple row groups per
  * file, integral AND string keys, all-null columns, partition-dir
  * keys, non-ASCII strings (UTF8String binary order vs Java's UTF-16
  * order — the case a naive String.compareTo would get wrong), and
  * stats text the key's type cannot parse.
  */
class FooterBoundsParitySpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private val base = "/tmp/graft_footerparity"

  /** The fold on each side of the placement bound, as row sets. */
  private def bothPlacements(
      files: Seq[String], keys: Seq[(String, DataType)], root: String)
      : (Set[(String, String, String, String)], Set[(String, String, String, String)]) =
    (Upsert.footerBounds(spark, files, keys, root, maxDriverFiles = Int.MaxValue).toSet,
      Upsert.footerBounds(spark, files, keys, root, maxDriverFiles = 0).toSet)

  test("driver-side footer bounds equal the distributed pass") {
    import spark.implicits._
    val dir = s"$base/flat"
    // small row groups force several blocks per file; 😀 (surrogate
    // pair) sorts ABOVE ￿ in UTF-8 binary order but BELOW it in
    // UTF-16 code-unit order — the ordering trap
    val df = Seq(
      (5L, "m", "￿"), (1L, "a", "😀x"), (9L, "z", "zz"),
      (3L, "k", "aa"), (7L, "q", "￾"), (2L, "b", "😀a"))
      .toDF("k", "s", "u")
      .withColumn("allnull", lit(null).cast("string"))
    df.repartition(2).write
      .option("parquet.block.size", "1024")
      .mode("overwrite").parquet(dir)

    val files = graft.ops.Layout.listDataFiles(spark, dir)
    val keys = Seq("k" -> LongType, "s" -> StringType, "u" -> StringType,
      "allnull" -> StringType)
    val (local, dist) = bothPlacements(files, keys, dir)
    assert(local == dist,
      s"local-vs-distributed footer bounds diverged:\n local=$local\n dist=$dist")
    // parity alone would pass two equally wrong placements: the
    // integral key's bounds must also equal each file's data min/max
    val truth = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"k"), max($"k")).head()
      (Upsert.relPath(dir, f), "k", r.getLong(0).toString, r.getLong(1).toString)
    }.toSet
    assert(local.filter(_._2 == "k") == truth, s"k bounds: $local vs $truth")
    // the all-null string column's handling (parquet-java renders its
    // empty min/max as "" on both placements) is covered by the set
    // equality above — the invariant is PARITY, not a rendering
  }

  test("malformed stats: a string column requested as a LongType key has unknown bounds on both placements") {
    import spark.implicits._
    val dir = s"$base/malformed"
    Seq((1L, "apple"), (2L, "pear"), (3L, "fig"), (4L, "kiwi"))
      .toDF("k", "s")
      .repartition(2).write.mode("overwrite").parquet(dir)
    val files = graft.ops.Layout.listDataFiles(spark, dir)
    // the stats text of `s` does not parse as a long: the SQL cast
    // yields NULL, so the fold cannot bound it — neither placement
    // throws, and both emit an unknown-bounds (NULL, NULL) row per file
    // (an absent row would read as "all NULL" and prune the file)
    val keys = Seq("k" -> LongType, "s" -> LongType)
    val (local, dist) = bothPlacements(files, keys, dir)
    assert(local == dist, s"local=$local\n dist=$dist")
    assert(local.filter(_._2 == "s") ==
      files.map(f => (Upsert.relPath(dir, f), "s", null, null)).toSet,
      s"unparseable stats must give unknown-bounds rows: $local")
    assert(local.count(_._2 == "k") == files.size, local.toString)
  }

  test("partition-directory keys resolve without reading footers") {
    import spark.implicits._
    val dir = s"$base/hive"
    Seq((1L, "x", "p1"), (2L, "y", "p2"), (3L, "z", "p1"))
      .toDF("k", "v", "part")
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val files = graft.ops.Layout.listDataFiles(spark, dir)
    val keys = Seq("part" -> StringType, "k" -> LongType)
    val (local, dist) = bothPlacements(files, keys, dir)
    assert(local == dist)
    // partition values ride as identical mn == mx rows
    assert(local.exists(t => t._2 == "part" && t._3 == "p1" && t._4 == "p1"))
  }

  test("AnnIndex id pruning: same waves, same answers on both sides of DriverFooterMaxFiles") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = e.select($"vec_id".as("id"), $"embedding")
    val cents = e.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"embedding")
    val queries = e.filter($"vec_id" >= 10 && $"vec_id" < 30)
      .select($"vec_id".as("qid"), $"embedding")
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val root = java.nio.file.Files.createTempDirectory("footer_ann").toString
    val tbl = s"$root/table"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    val few = s"$root/few"; val many = s"$root/many"
    AnnIndex.write(corpus, cents, cb, few, numRangePartitions = 8,
      source = Some((tbl, "id")))
    AnnIndex.write(corpus, cents, cb, many, numRangePartitions = 40,
      source = Some((tbl, "id")))
    def codes(idx: String) = graft.ops.Layout.listDataFiles(spark, s"$idx/codes.parquet")
    assert(codes(few).size <= Upsert.DriverFooterMaxFiles, codes(few).size.toString)
    assert(codes(many).size > Upsert.DriverFooterMaxFiles, codes(many).size.toString)

    // the fold AnnIndex runs (id as a long key), both placements, on
    // the wide codes dir — equal to each other and to the data
    val manyFiles = codes(many)
    val (local, dist) =
      bothPlacements(manyFiles, Seq("id" -> LongType), s"$many/codes.parquet")
    assert(local == dist)
    val truth = manyFiles.flatMap { f =>
      val r = spark.read.parquet(f).agg(min($"id"), max($"id")).head()
      if (r.isNullAt(0)) None
      else Some((Upsert.relPath(s"$many/codes.parquet", f), "id",
        r.getLong(0).toString, r.getLong(1).toString))
    }.toSet
    assert(local == truth)

    // one wave, applied to both indexes: the driver-side fold prunes
    // the narrow index, the distributed one the wide index
    spark.sql(s"UPDATE '$tbl' ON id SET embedding = " +
      "transform(embedding, x -> -x) WHERE id = 41 OR id = 453").collect()
    assert(AnnIndex.applyCdf(spark, few) == ((2L, 2L)))
    assert(AnnIndex.applyCdf(spark, many) == ((2L, 2L)))
    def top(idx: String) = AnnIndex.topKLive(spark, idx, queries, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val got = top(few)
    assert(got.nonEmpty && got == top(many))
  }
}
