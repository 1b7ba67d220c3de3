package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end lakehouse lifecycle: the layout/maintenance operators
  * composing as one workflow — small-file ingest → compaction →
  * versioned COW commits → time travel → bloom point lookups on the
  * live snapshot → vacuum — with exactness asserted at every step.
  * Each piece has its own spec; this proves the COMPOSITION (shared
  * directory layouts, manifest handoffs, link survival under vacuum).
  */
class LakehouseScenarioSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("ingest → compact → commit chain → time travel → bloom lookup → vacuum") {
    import spark.implicits._
    import graft.ops.{Bloom, Layout, Upsert}
    val base = "/tmp/graft_lakehouse_scenario"
    val raw = s"$base/raw"; val tbl = s"$base/table"

    // 1. micro-batch ingest left 32 small files
    Bloom.write(spark.range(50000).select($"id".as("k"), ($"id" % 1000).as("v"))
      .repartition(32).write.mode("overwrite"), Seq("k")).parquet(raw)

    // 2. compaction: shuffle-free, row-preserving, into the v0 snapshot
    val (nIn, nOut, _) = Layout.compactSmallFiles(
      spark, raw, s"$tbl/v0", targetBytes = 64 << 10)
    assert(nIn == 32 && nOut < 32)
    assert(spark.read.parquet(s"$tbl/v0").count() == 50000)

    // 3. two COW commits: v1 updates a key slice, v2 appends new keys
    val up1 = spark.range(100, 600).select($"id".as("k"), lit(-1L).as("v"))
    Upsert.upsertByKey(spark, s"$tbl/v0", s"$tbl/v1", up1, "k")
    val up2 = spark.range(90000, 90100).select($"id".as("k"), lit(-2L).as("v"))
    val (c2, r2, _) = Upsert.upsertByKey(spark, s"$tbl/v1", s"$tbl/v2", up2, "k")
    assert(r2 == 0, "append-only delivery must rewrite nothing")
    assert(Upsert.snapshotVersions(tbl) == Seq(0L, 1L, 2L))

    // 4. current state is exact
    val cur = spark.read.parquet(s"$tbl/v2")
    assert(cur.count() == 50100)
    assert(cur.filter($"k" === 200L).select("v").as[Long].head() == -1L)
    assert(cur.filter($"k" === 90050L).select("v").as[Long].head() == -2L)

    // 5. time travel: v0 predates the update
    assert(Upsert.readSnapshot(spark, tbl, 0L)
      .filter($"k" === 200L).select("v").as[Long].head() == 200L % 1000)

    // 6. bloom point lookup on the live snapshot prunes and answers exactly
    val (hitData, nFiles, nHit) = Bloom.readPruned(
      spark, s"$tbl/v2", "k", Seq(90050L))
    assert(nHit < nFiles, s"bloom must prune: read $nHit of $nFiles")
    assert(hitData.select("v").as[Long].collect().toSeq == Seq(-2L))

    // 7. vacuum old history; the survivor (which shares inodes with the
    // vacuumed snapshots via hard links) still reads completely
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v2") finally w.close()
    assert(Upsert.vacuum(tbl, keep = 1) == Seq(0L, 1L))
    assert(spark.read.parquet(s"$tbl/v2").count() == 50100)
    val (postVacuum, _, _) = Bloom.readPruned(
      spark, s"$tbl/v2", "k", Seq(200L))
    assert(postVacuum.select("v").as[Long].collect().toSeq == Seq(-1L))
  }
}
