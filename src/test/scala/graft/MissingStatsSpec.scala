package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Upsert

/** A file written without footer statistics (or with stats its key
  * type cannot parse) has UNKNOWN key bounds: every commit probe must
  * treat it as a candidate. Read as "no non-null key" (the all-NULL
  * rule) it was pruned, so a MERGE appended a second row for a key it
  * held and a DELETE kept the key. */
class MissingStatsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private val base = "/tmp/graft_missingstats"

  /** A 2-file table: `withStats` as one file with footer statistics,
    * `noStats` as one file written with statistics disabled. */
  private def twoFiles(dir: String, withStats: DataFrame, noStats: DataFrame): Unit = {
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
    withStats.coalesce(1).write.parquet(dir)
    noStats.coalesce(1).write.mode("append")
      .option("parquet.column.statistics.enabled", "false").parquet(dir)
  }

  private def rows(dir: String): Seq[(String, String)] =
    spark.read.parquet(dir).collect().map(r => (r.get(0).toString, r.getString(1))).sorted.toSeq

  test("MERGE and DELETE of a key that lives in a stats-less file: long key") {
    import spark.implicits._
    val tbl = s"$base/long/v0"
    twoFiles(tbl, (1L to 10L).map(k => (k, "a")).toDF("k", "v"),
      (100L to 110L).map(k => (k, "b")).toDF("k", "v"))
    Upsert.upsertByKey(spark, tbl, s"$base/long/v1", Seq((105L, "NEW")).toDF("k", "v"), "k")
    val merged = rows(s"$base/long/v1")
    assert(merged.size == 21, merged.toString)
    assert(merged.filter(_._1 == "105") == Seq(("105", "NEW")), merged.toString)
    Upsert.deleteByKey(spark, tbl, s"$base/long/v2", Seq(107L).toDF("k"), "k")
    val deleted = rows(s"$base/long/v2")
    assert(deleted.size == 20 && !deleted.exists(_._1 == "107"), deleted.toString)
  }

  test("MERGE and DELETE of a key that lives in a stats-less file: string key") {
    import spark.implicits._
    val tbl = s"$base/str/v0"
    twoFiles(tbl, (1 to 10).map(k => (f"a$k%03d", "a")).toDF("k", "v"),
      (100 to 110).map(k => (f"b$k%03d", "b")).toDF("k", "v"))
    Upsert.upsertByKey(spark, tbl, s"$base/str/v1", Seq(("b105", "NEW")).toDF("k", "v"), "k")
    val merged = rows(s"$base/str/v1")
    assert(merged.size == 21, merged.toString)
    assert(merged.filter(_._1 == "b105") == Seq(("b105", "NEW")), merged.toString)
    Upsert.deleteByKey(spark, tbl, s"$base/str/v2", Seq("b107").toDF("k"), "k")
    val deleted = rows(s"$base/str/v2")
    assert(deleted.size == 20 && !deleted.exists(_._1 == "b107"), deleted.toString)
  }

  test("a winner's stats-less fresh file makes a loser's rebase refuse") {
    import spark.implicits._
    import graft.plans.LakehouseSql
    val tbl = s"$base/rebase"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    (1L to 40L).map(k => (k, "a")).toDF("k", "v").coalesce(1).write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    val a = LakehouseSql.claimNextVersion(tbl)
    val b = LakehouseSql.claimNextVersion(tbl)
    // both writers insert key 50, which no v0 file can hold: pure
    // appends, and the winner's fresh file carries no statistics
    spark.conf.set("parquet.column.statistics.enabled", "false")
    try Upsert.upsertByKey(spark, s"$tbl/v0", s"$tbl/v$a",
      Seq((50L, "A")).toDF("k", "v"), "k")
    finally spark.conf.unset("parquet.column.statistics.enabled")
    Upsert.upsertByKey(spark, s"$tbl/v0", s"$tbl/v$b",
      Seq((50L, "B")).toDF("k", "v"), "k")
    LakehouseSql.publishOrAbort(tbl, "v0", a, "MERGE")
    val e = intercept[IllegalStateException](
      LakehouseSql.publishOrAbort(tbl, "v0", b, "MERGE"))
    assert(e.getMessage.contains("appended"), e.getMessage)
    val cur = graft.streaming.Streams.currentSnapshot(tbl).get
    assert(spark.read.parquet(cur).filter($"k" === 50L).count() == 1)
  }
}
