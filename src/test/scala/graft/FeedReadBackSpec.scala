package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Fs, Upsert}

/** `Upsert.changeDataFeed` serves a one-commit interval from the
  * commit's materialized `_cdf/v<to>` dir. The served feed must be the
  * diff it replaces: the same multiset of rows, the same columns in the
  * same order, on every commit shape; anything else takes the diff. */
class FeedReadBackSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def served(df: DataFrame): Boolean = df.inputFiles.exists(_.contains("/_cdf/"))

  /** The feed of (from, to] against the diff, and whether it was served. */
  private def check(tbl: String, from: Long, to: Long, readBack: Boolean): Unit = {
    val got = Upsert.changeDataFeed(spark, tbl, from, to)
    val want = Upsert.diffFeed(spark, tbl, from, to)
    assert(got.columns.toSeq == want.columns.toSeq, s"(v$from, v$to] columns")
    val (g, w) = (sorted(got), sorted(want))
    assert(w.nonEmpty, s"(v$from, v$to] feeds nothing: the case proves nothing")
    assert(g == w, s"(v$from, v$to]: served ${g.size} rows, the diff ${w.size}")
    assert(served(got) == readBack,
      s"(v$from, v$to] was ${if (readBack) "not " else ""}read back from _cdf")
  }

  private def merge(tbl: String, view: String, evolve: Boolean = false): Unit =
    spark.sql(s"MERGE ${if (evolve) "WITH SCHEMA EVOLUTION " else ""}INTO '$tbl' " +
      s"USING (SELECT * FROM $view) ON id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()

  test("a one-commit feed read back from _cdf equals the diff: MERGE, DV delete, evolution, version gap") {
    import spark.implicits._
    val tbl = java.nio.file.Files.createTempDirectory("feed_readback").toString + "/t"
    val fs = Fs.of(tbl, spark)
    def setCurrent(v: Long): Unit =
      Fs.writeTextAtomic(fs, new org.apache.hadoop.fs.Path(tbl, "CURRENT"), s"v$v")
    spark.range(200).select($"id", ($"id" * 10).as("v"), concat(lit("s"), $"id").as("s"))
      .repartitionByRange(4, $"id").sortWithinPartitions("id")
      .write.parquet(s"$tbl/v0")
    setCurrent(0)
    Upsert.materializeCdf(spark, tbl, 0L)

    // v1: a MERGE with updates and inserts
    spark.range(300, 305).toDF("id").union(Seq(5L, 50L, 150L).toDF("id"))
      .select($"id", lit(-1L).as("v"), lit("m").as("s"))
      .createOrReplaceTempView("readback_v1")
    merge(tbl, "readback_v1")
    Upsert.materializeCdf(spark, tbl, 1L)
    check(tbl, 0, 1, readBack = true)

    // v2: a deletion-vector delete (no data file rewritten)
    Upsert.deleteByKeyDV(spark, s"$tbl/v1", s"$tbl/v2", Seq(7L, 60L).toDF("id"), "id")
    setCurrent(2)
    Upsert.materializeCdf(spark, tbl, 2L)
    check(tbl, 1, 2, readBack = true)

    // v3: a schema-evolving MERGE (new column `w`), folding v2's DV
    Seq((10L, 1L, "e", 0.5), (400L, 2L, "e", 1.5)).toDF("id", "v", "s", "w")
      .createOrReplaceTempView("readback_v3")
    merge(tbl, "readback_v3", evolve = true)
    Upsert.materializeCdf(spark, tbl, 3L)
    check(tbl, 2, 3, readBack = true)

    // v5 after an aborted claim of v4: the claim is discarded, leaving
    // a gap, so v5 is still the first snapshot after v3
    val claimed = graft.plans.LakehouseSql.claimNextVersion(tbl)
    assert(claimed == 4L)
    Seq((20L, 3L, "g", 2.5)).toDF("id", "v", "s", "w").createOrReplaceTempView("readback_v5")
    merge(tbl, "readback_v5")
    assert(Upsert.currentVersion(tbl).contains(5L))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$tbl/v$claimed"))
    Upsert.materializeCdf(spark, tbl, 5L)
    check(tbl, 3, 5, readBack = true)

    // re-materializing a commit rewrites its dir from the diff, not
    // from the dir it overwrites
    Upsert.materializeCdf(spark, tbl, 1L)
    check(tbl, 0, 1, readBack = true)

    // fallbacks: a two-commit interval, and a feed dir that never
    // finished (no _SUCCESS), take the diff
    check(tbl, 1, 3, readBack = false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$tbl/_cdf/v3/_SUCCESS"), false)
    check(tbl, 2, 3, readBack = false)
  }

  test("a crashed writer's lingering claim is not the base of the next commit's feed") {
    import spark.implicits._
    val tbl = java.nio.file.Files.createTempDirectory("feed_claim").toString + "/t"
    spark.range(50).select($"id", ($"id" * 10).as("v"), concat(lit("s"), $"id").as("s"))
      .write.parquet(s"$tbl/v0")
    Fs.writeTextAtomic(Fs.of(tbl, spark), new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    Upsert.materializeCdf(spark, tbl, 0L)
    // v1 claimed and never built; the MERGE publishes v2 past it
    assert(graft.plans.LakehouseSql.claimNextVersion(tbl) == 1L)
    Seq((5L, -1L, "m"), (70L, 7L, "m")).toDF("id", "v", "s").createOrReplaceTempView("claim_v2")
    merge(tbl, "claim_v2")
    assert(Upsert.currentVersion(tbl).contains(2L))
    Upsert.materializeCdf(spark, tbl, 2L)
    val feed = graft.ops.Layout.readParquet(spark, Seq(s"$tbl/_cdf/v2")).drop("_commit_version")
    val want = Upsert.changeDataFeed(spark, tbl, 0L, 2L)
    assert(sorted(want).nonEmpty)
    assert(sorted(feed) == sorted(want))
  }
}
