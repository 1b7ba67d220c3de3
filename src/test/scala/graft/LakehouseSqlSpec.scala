package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.plans.LakehouseSql: the SQL surface for the lakehouse verbs.
  * Statements run through plain `spark.sql` (the parser is injected by
  * GraftExtensions) and must lower onto the same COW engine as the
  * programmatic API. */
class LakehouseSqlSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import graft.ops.Upsert

  private val base = "/tmp/graft_lakesqlspec"

  test("MERGE INTO a versioned table commits the next version and swaps CURRENT") {
    import spark.implicits._
    val tbl = s"$base/versioned"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(2000).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()

    spark.range(100, 150).select($"id".as("k"), lit(-1L).as("v"))
      .createOrReplaceTempView("lakesql_upd")
    val stats = spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM lakesql_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    assert(stats.getLong(2) == 50, s"rows_merged: $stats")
    // committed as v1, pointer swapped, values exact
    assert(Upsert.snapshotVersions(tbl) == Seq(0L, 1L))
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v1"))
    val cur = spark.read.parquet(s"$tbl/v1")
    assert(cur.count() == 2000)
    assert(cur.filter($"v" === -1L).count() == 50)
    // old snapshot untouched (snapshot isolation)
    assert(spark.read.parquet(s"$tbl/v0").filter($"v" === -1L).count() == 0)

    // DESCRIBE HISTORY: one row per snapshot, current flagged
    val hist = spark.sql(s"DESCRIBE HISTORY '$tbl'").collect()
      .map(r => (r.getLong(0), r.getBoolean(3)))
    assert(hist.toSeq == Seq((0L, false), (1L, true)), hist.toSeq.toString)

    // RESTORE commits the old state as a NEW version and swaps CURRENT
    val rest = spark.sql(s"RESTORE '$tbl' TO VERSION 0").collect()(0)
    assert(rest.getLong(0) == 0L && rest.getLong(1) == 2L)
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v2"))
    val restored = spark.read.parquet(s"$tbl/v2")
    assert(restored.filter($"v" === -1L).count() == 0, "v2 must equal v0's state")
    assert(restored.count() == 2000)
    // v1 still exists — restore preserves history
    assert(Upsert.snapshotVersions(tbl) == Seq(0L, 1L, 2L))
    // restoring a vacuumed/unknown version refuses with inventory
    val re = intercept[IllegalArgumentException] {
      spark.sql(s"RESTORE '$tbl' TO VERSION 9")
    }
    assert(re.getMessage.contains("not found"), re.getMessage)

    // a versioned table must refuse an INTO clause (ambiguous commit)
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        s"""MERGE INTO '$tbl' USING (SELECT * FROM lakesql_upd) ON k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT * INTO '$base/elsewhere'""".stripMargin)
    }
    assert(e.getMessage.contains("versioned table"), e.getMessage)
  }

  test("DELETE FROM / VACUUM / CLONE / OPTIMIZE round-trip through SQL") {
    import spark.implicits._
    val tbl = s"$base/plain"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(1000).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(tbl)

    // DELETE with a subquery source over the table itself
    val del = spark.sql(
      s"""DELETE FROM '$tbl'
         |WHERE k IN (SELECT k FROM parquet.`$tbl` WHERE k < 250)
         |INTO '$base/deleted'""".stripMargin).collect()(0)
    assert(del.getLong(2) == 250)
    assert(spark.read.parquet(s"$base/deleted").count() == 750)
    assert(spark.read.parquet(s"$base/deleted").agg(min($"k")).head.getLong(0) == 250)

    // CLONE: hard-link shallow clone
    val cl = spark.sql(s"CLONE '$base/deleted' TO '$base/cloned'").collect()(0)
    assert(cl.getLong(0) >= 1)
    assert(spark.read.parquet(s"$base/cloned").count() == 750)

    // OPTIMIZE: re-cluster the clone by key
    val opt = spark.sql(
      s"OPTIMIZE '$base/cloned' BY k TARGET 1 MB INTO '$base/opt'").collect()(0)
    assert(opt.getLong(1) >= 1)
    val optRead = spark.read.parquet(s"$base/opt")
    assert(optRead.count() == 750)

    // VACUUM a hand-built versioned layout through SQL
    val vt = s"$base/vac"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(vt))
    for (v <- 0 to 2)
      spark.range(10).toDF("k").write.parquet(s"$vt/v$v")
    val cw = new java.io.PrintWriter(s"$vt/CURRENT", "UTF-8")
    try cw.print("v2") finally cw.close()
    val vac = spark.sql(s"VACUUM '$vt' RETAIN 1 SNAPSHOTS").collect()(0)
    assert(vac.getString(0) == "0,1")
    assert(Upsert.snapshotVersions(vt) == Seq(2L))
  }

  test("graft_table TVF: current / version-pinned / DV-honoring SQL reads") {
    import spark.implicits._
    val tbl = s"$base/tvf"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(1000).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()
    spark.range(100, 150).select($"id".as("k"), lit(-1L).as("v"))
      .createOrReplaceTempView("tvf_upd")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM tvf_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()

    // bare form reads CURRENT (v1: 50 keys updated to -1)
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$tbl') WHERE v = -1")
      .collect()(0).getLong(0) == 50)
    // VERSION AS OF 0: pre-merge state
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$tbl', 0) WHERE v = -1")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql(s"SELECT sum(v) FROM graft_table('$tbl', 0)")
      .collect()(0).getLong(0) == 999L * 1000 / 2)

    // a DV-carrying snapshot: SQL must not resurrect soft-deleted rows
    val dvTbl = s"$base/tvf_dv"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dvTbl))
    spark.range(500).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(dvTbl)
    val dvOut = s"$base/tvf_dv_out"
    Upsert.deleteByKeyDV(spark, dvTbl, dvOut,
      spark.range(0, 100).toDF("k"), "k")
    assert(spark.sql(s"SELECT count(*), min(k) FROM graft_table('$dvOut')")
      .collect()(0) match { case r => r.getLong(0) == 400 && r.getLong(1) == 100 })

    // filters over the TVF reach the parquet scan (it is a plain
    // relation to Catalyst, not an opaque subquery)
    val plan = spark.sql(s"SELECT v FROM graft_table('$tbl', 0) WHERE k = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,7)]"), plan)

    // unknown version refuses with the snapshot inventory
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table('$tbl', 9)").collect()
    }
    assert(e.getMessage.contains("not found"), e.getMessage)
  }

  test("VACUUM OLDER THAN: age-based reclaim; CURRENT and newest survive any age") {
    import spark.implicits._
    val tbl = s"$base/vage"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    for (v <- 0 to 3)
      spark.range(10).toDF("k").write.parquet(s"$tbl/v$v")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v1") finally w.close() // current is NOT the newest
    // backdate v0..v2 a week; v3 (the newest) stays fresh
    val weekAgo = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
    for (v <- 0 to 2)
      assert(new java.io.File(s"$tbl/v$v").setLastModified(weekAgo))

    val del = spark.sql(s"VACUUM '$tbl' OLDER THAN 24 HOURS").collect()(0)
    // v0 and v2 are old and unprotected; v1 survives as CURRENT
    // despite its age; v3 survives as the newest
    assert(del.getString(0) == "0,2", del.getString(0))
    assert(Upsert.snapshotVersions(tbl) == Seq(1L, 3L))
    assert(spark.read.parquet(s"$tbl/v1").count() == 10)

    // nothing is younger than the cutoff now — a re-run deletes nothing
    assert(spark.sql(s"VACUUM '$tbl' OLDER THAN 24 HOURS")
      .collect()(0).getString(0) == "")
  }

  test("CONVERT TO VERSIONED lifts a plain snapshot; verbs work on the result") {
    import spark.implicits._
    val src = s"$base/conv_src"; val dst = s"$base/conv_dst"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(src))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dst))
    spark.range(300).select($"id".as("k"), $"id".as("v"))
      .write.mode("overwrite").parquet(src)
    val conv = spark.sql(s"CONVERT '$src' TO VERSIONED '$dst'").collect()(0)
    assert(conv.getLong(0) >= 1 && conv.getLong(1) == 0L)
    assert(graft.streaming.Streams.currentSnapshot(dst).get.endsWith("/v0"))

    // the full verb set works on the converted table
    spark.sql("SELECT CAST(5 AS BIGINT) AS k, CAST(-5 AS BIGINT) AS v")
      .createOrReplaceTempView("conv_upd")
    spark.sql(
      s"""MERGE INTO '$dst' USING (SELECT * FROM conv_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(spark.sql(s"SELECT v FROM graft_table('$dst') WHERE k = 5")
      .collect()(0).getLong(0) == -5L)
    // source untouched
    assert(spark.read.parquet(src).filter($"v" === -5L).count() == 0)

    // refusals: already-versioned source, pre-existing destination
    val e1 = intercept[IllegalArgumentException] {
      spark.sql(s"CONVERT '$dst' TO VERSIONED '$base/conv_x'")
    }
    assert(e1.getMessage.contains("already a versioned table"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"CONVERT '$src' TO VERSIONED '$dst'")
    }
    assert(e2.getMessage.contains("refusing to overwrite"), e2.getMessage)
  }

  test("optimistic concurrency: disjoint claims, first committer wins, loser discards") {
    import spark.implicits._
    import graft.plans.LakehouseSql
    val tbl = s"$base/occ"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(100).select($"id".as("k"), $"id".as("v"))
      .write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()

    // two committers claim against the same base: numbers are disjoint
    val a = LakehouseSql.claimNextVersion(tbl)
    val b = LakehouseSql.claimNextVersion(tbl)
    assert(a == 1L && b == 2L)
    spark.read.parquet(s"$tbl/v0").write.mode("append").parquet(s"$tbl/v$a")
    spark.read.parquet(s"$tbl/v0").write.mode("append").parquet(s"$tbl/v$b")

    // first publish wins
    LakehouseSql.publishOrAbort(tbl, "v0", a, "TEST")
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v1"))
    // second publish against the stale base refuses, discards its claim
    val e = intercept[IllegalStateException] {
      LakehouseSql.publishOrAbort(tbl, "v0", b, "TEST")
    }
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(!new java.io.File(s"$tbl/v$b").exists, "losing claim must be discarded")
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v1"))

    // a lingering claim (crashed writer) is skipped by the REAL verb:
    // MERGE claims past it and commits; readers resolving CURRENT
    // never see the empty dir
    val crashed = LakehouseSql.claimNextVersion(tbl)
    assert(crashed == 2L)
    spark.range(5, 8).select($"id".as("k"), lit(-7L).as("v"))
      .createOrReplaceTempView("occ_upd")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM occ_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v3"))
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$tbl') WHERE v = -7")
      .collect()(0).getLong(0) == 3)
  }

  test("optimistic concurrency under real thread contention: no lost or corrupt commits") {
    import spark.implicits._
    val tbl = s"$base/occ_threads"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(1000).select($"id".as("k"), lit(0L).as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()

    // 4 writers x 4 attempts each, all MERGEing disjoint key slices of
    // one table with no external coordination. Invariants that must
    // hold REGARDLESS of interleaving: every attempt either commits or
    // refuses with the concurrent-commit error (nothing else), the
    // version chain has exactly one snapshot per win, and the final
    // state equals v0 with each winning merge's slice applied
    // (committed work is never lost, refused work leaves no trace).
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val committed =
      java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Boolean]())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = for (t <- 0 until 4; i <- 0 until 4) yield {
      pool.submit(new Runnable {
        override def run(): Unit = {
          val view = s"occ_mt_${t}_$i"
          // slice [t*250 + i*50, +50): disjoint across all (t, i)
          spark.range(t * 250 + i * 50, t * 250 + i * 50 + 50)
            .select($"id".as("k"), lit(t * 100L + i + 1L).as("v"))
            .createOrReplaceTempView(view)
          try {
            spark.sql(
              s"""MERGE INTO '$tbl' USING (SELECT * FROM $view) ON k
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
            wins.incrementAndGet(); committed.add((t, i)); ()
          } catch {
            case e: IllegalStateException
                if e.getMessage.contains("concurrent commit") =>
              losses.incrementAndGet(); ()
          }
        }
      })
    }
    tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()

    assert(wins.get + losses.get == 16, s"wins=$wins losses=$losses")
    assert(wins.get >= 1)
    // one snapshot per win, CURRENT at the head of the chain
    val versions = Upsert.snapshotVersions(tbl)
    assert(versions.size == wins.get + 1, s"versions=$versions wins=$wins")
    assert(graft.streaming.Streams.currentSnapshot(tbl).get
      .endsWith(s"/v${versions.max}"))
    // final state = v0 + exactly the winning slices
    val cur = spark.read.parquet(graft.streaming.Streams.currentSnapshot(tbl).get)
    assert(cur.count() == 1000)
    val got = cur.filter($"v" =!= 0L).select($"v").distinct()
      .as[Long].collect().toSet
    val want = committed.toArray.map { case (t: Int, i: Int) => t * 100L + i + 1L }.toSet
    assert(got == want, s"committed slices $want but read back $got")
  }

  test("commit waves around vacuum: truncated log never breaks writers, readers, or rebase") {
    import spark.implicits._
    val tbl = s"$base/occ_vacuum"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(1000).select($"id".as("k"), lit(0L).as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(s"$tbl/seed")
    spark.sql(s"CONVERT '$tbl/seed' TO VERSIONED '$tbl/t'").collect()
    val t = s"$tbl/t"

    // NOTE on scope: vacuum between commit WAVES, not during — running
    // retention shorter than in-flight commit duration is operator
    // error in any OCC lakehouse (Delta's retentionDurationCheck exists
    // for exactly this); what the engine DOES guarantee is that a
    // truncated log is indistinguishable from an untruncated one for
    // every writer, reader, and conflict-rebase that starts after it.
    def wave(tag: String, lo: Int): Set[Long] = {
      val committed = java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Boolean]())
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val tasks = for (w <- 0 until 4; i <- 0 until 2) yield {
        pool.submit(new Runnable {
          override def run(): Unit = {
            val view = s"vacwave_${tag}_${w}_$i"
            val slice = lo + w * 100 + i * 50
            spark.range(slice, slice + 50)
              .select($"id".as("k"), lit(slice.toLong + 1L).as("v"))
              .createOrReplaceTempView(view)
            try {
              spark.sql(
                s"""MERGE INTO '$t' USING (SELECT * FROM $view) ON k
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
              committed.add(slice.toLong + 1L); ()
            } catch {
              case e: IllegalStateException
                  if e.getMessage.contains("concurrent commit") => ()
            }
          }
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      import scala.jdk.CollectionConverters._
      committed.asScala.map(Long.unbox).toSet
    }
    def logEntries() = new java.io.File(s"$t/_commitlog").list()
      .filter(_.matches("\\d+\\.json")).map(_.stripSuffix(".json").toLong).sorted.toSeq

    val wave1 = wave("a", 0)
    assert(wave1.nonEmpty)
    val afterW1 = Upsert.snapshotVersions(t).max
    spark.sql(s"VACUUM '$t' RETAIN 2 SNAPSHOTS").collect()
    val kept = Upsert.snapshotVersions(t)
    assert(kept.size == 2 && logEntries().forall(_ >= kept.min),
      s"log ${logEntries()} must hold retained versions only (kept $kept)")
    // the checkpoint records the highest RECLAIMED entry — with claimed-
    // but-never-published version numbers in the chain (lost CAS races)
    // that may sit below kept.min - 1, never at or above kept.min
    assert(Upsert.commitLogCheckpoint(t).exists(_ < kept.min),
      s"checkpoint ${Upsert.commitLogCheckpoint(t)} vs kept $kept")

    // wave 2 starts from the truncated log: claims, CAS, and the
    // disjoint-merge rebase walk must all work exactly as before
    val wave2 = wave("b", 1000)
    assert(wave2.nonEmpty)
    assert(Upsert.snapshotVersions(t).max > afterW1)

    // every committed slice from BOTH waves survives; refused work
    // left no trace
    val cur = spark.read.parquet(graft.streaming.Streams.currentSnapshot(t).get)
    val got = cur.filter($"v" =!= 0L).select($"v").distinct().as[Long].collect().toSet
    assert(got == (wave1 ++ wave2), s"want ${wave1 ++ wave2}, got $got")

    // final vacuum: the log shrinks to the retention window again
    spark.sql(s"VACUUM '$t' RETAIN 1 SNAPSHOTS").collect()
    val last = Upsert.snapshotVersions(t)
    assert(last.size == 1 && logEntries() == Seq(last.head))
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$t')")
      .collect()(0).getLong(0) == cur.count())
  }

  test("OPTIMIZE on a versioned table commits in place; DV-carrying input refuses") {
    import spark.implicits._
    val tbl = s"$base/opt_versioned"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    // a fragmented v0: many small files with overlapping key ranges
    spark.range(2000).select($"id".as("k"), $"id".as("v"))
      .repartition(8).write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()

    val opt = spark.sql(s"OPTIMIZE '$tbl' BY k TARGET 64 MB").collect()(0)
    assert(opt.getLong(0) == 8, s"files_in: $opt")
    assert(opt.getLong(1) == 1, s"files_out: $opt")
    // committed as v1, CURRENT swapped, data identical
    assert(graft.ops.Upsert.snapshotVersions(tbl) == Seq(0L, 1L))
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v1"))
    val cur = spark.read.parquet(s"$tbl/v1")
    assert(cur.count() == 2000)
    assert(cur.agg(sum($"v")).head.getLong(0) == 1999L * 2000 / 2)
    // no .inprogress residue, no unclaimed dirs
    assert(!new java.io.File(s"$tbl/v1.inprogress").exists)
    // the re-clustered layout ships a manifest for its cluster key...
    assert(new java.io.File(s"$tbl/v1/_manifest/_SUCCESS").isFile)
    assert(graft.ops.Upsert.readCommitInfo(s"$tbl/v1")
      .map(_._1).contains("OPTIMIZE"))
    // ...and a following MERGE consumes the optimized snapshot cleanly
    spark.range(5, 8).select($"id".as("k"), lit(-9L).as("v"))
      .createOrReplaceTempView("optv_upd")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM optv_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val merged = spark.sql(s"SELECT * FROM graft_table('$tbl')")
    assert(merged.count() == 2000)
    assert(merged.filter($"v" === -9L).count() == 3)

    // a versioned table refuses INTO (same contract as MERGE/DELETE)
    val e1 = intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE '$tbl' BY k INTO '$base/opt_elsewhere'")
    }
    assert(e1.getMessage.contains("versioned table"), e1.getMessage)

    // ZORDER BY (a, b): in-place too — commits v3 on the post-MERGE
    // chain, values identical to v2's state
    val zOpt = spark.sql(s"OPTIMIZE '$tbl' ZORDER BY (k, v) TARGET 64 MB")
      .collect()(0)
    assert(zOpt.getLong(1) >= 1, zOpt.toString)
    val zCur = graft.streaming.Streams.currentSnapshot(tbl).get
    assert(zCur.endsWith("/v3"), zCur)
    val z = spark.read.parquet(zCur)
    assert(z.count() == 2000)
    assert(z.agg(sum($"v")).head.getLong(0) == 1999L * 2000 / 2 - 18 - 27)
    // point filters on EITHER column stay exact over the new layout
    assert(z.filter($"k" === 1234L).count() == 1)
    assert(z.filter($"v" === 777L).count() == 1)
    assert(z.filter($"v" === -9L).count() == 3)

    // a DV-carrying current snapshot refuses inside the claim (checked
    // against the RESOLVED src — a pre-claim check would race a
    // concurrent DV publish) and the claim is discarded
    val dvSrc = s"$base/opt_dv_src"; val dvTbl = s"$base/opt_dv"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dvSrc))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dvTbl))
    spark.range(500).select($"id".as("k"), $"id".as("v"))
      .write.mode("overwrite").parquet(dvSrc)
    spark.sql(s"CONVERT '$dvSrc' TO VERSIONED '$dvTbl'").collect()
    graft.ops.Upsert.deleteByKeyDV(spark, s"$dvTbl/v0", s"$dvTbl/v1",
      spark.range(0, 50).toDF("k"), "k")
    val cw = new java.io.PrintWriter(s"$dvTbl/CURRENT", "UTF-8")
    try cw.print("v1") finally cw.close()
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE '$dvTbl' BY k")
    }
    assert(e2.getMessage.contains("deletion-vector"), e2.getMessage)
    // the refusal discarded its claim — the version chain is untouched
    assert(graft.ops.Upsert.snapshotVersions(dvTbl) == Seq(0L, 1L))
  }

  test("MERGE WITH SCHEMA EVOLUTION adds columns; plain MERGE refuses drift; graft_cdf TVF") {
    import spark.implicits._
    val tbl = s"$base/evo"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(500).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()

    spark.range(100, 120)
      .select($"id".as("k"), lit(-1L).as("v"), lit("fresh").as("tag"))
      .createOrReplaceTempView("evo_upd")
    // plain MERGE refuses the new column (silent drift is a bug) —
    // and the failed verb must DISCARD its claimed version: a
    // half-built v1 zombie would poison time travel and CDF
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO '$tbl' USING (SELECT * FROM evo_upd) ON k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    assert(e.getMessage != null)
    assert(graft.ops.Upsert.snapshotVersions(tbl) == Seq(0L),
      "a failed MERGE must not leave its claimed version behind")
    // ...but WITH SCHEMA EVOLUTION commits it
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO '$tbl'
         |USING (SELECT * FROM evo_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val cur = spark.sql(s"SELECT * FROM graft_table('$tbl')")
    assert(cur.columns.toSet == Set("k", "v", "tag"))
    assert(cur.count() == 500)
    assert(cur.filter($"tag" === "fresh").count() == 20)
    // rows in byte-copied files surface the new column as null
    assert(cur.filter($"tag".isNull).count() == 480)

    // graft_cdf: the v0→v1 diff in SQL — 20 inserts + 20 deletes
    // (every merged key existed before), keys exactly 100..119
    val cdf = spark.sql(
      s"SELECT k, v, _change_type FROM graft_cdf('$tbl', 0, 1)")
    val byType = cdf.groupBy($"_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("insert" -> 20L, "delete" -> 20L), byType.toString)
    assert(cdf.filter($"_change_type" === "insert")
      .agg(min($"k"), max($"k"), min($"v")).collect()(0)
      match { case r => r.getLong(0) == 100 && r.getLong(1) == 119 && r.getLong(2) == -1 })
    // feed filters push to the scan side (it is a real plan, not a view)
    assert(cdf.filter($"k" === 105).count() == 2)
  }

  test("commit audit trail: operations in DESCRIBE HISTORY; TIMESTAMP AS OF travel") {
    import spark.implicits._
    val tbl = s"$base/audit"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(1000).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()
    // v0 is hand-staged (pre-audit-trail): no _commitinfo, ts falls
    // back to the dir mtime — backdate it a week
    val weekAgo = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
    assert(new java.io.File(s"$tbl/v0").setLastModified(weekAgo))

    spark.range(100, 150).select($"id".as("k"), lit(-1L).as("v"))
      .createOrReplaceTempView("audit_upd")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM audit_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()

    // history: operation + commit_ts columns; v0 pre-audit (null op,
    // mtime fallback), v1 stamped MERGE with a fresh timestamp
    val hist = spark.sql(s"DESCRIBE HISTORY '$tbl'").collect()
      .map(r => (r.getLong(0), r.getString(4), r.getTimestamp(5).getTime))
      .sortBy(_._1)
    assert(hist(0)._2 == null && hist(0)._3 == weekAgo, hist.mkString(","))
    assert(hist(1)._2 == "MERGE" && hist(1)._3 > weekAgo, hist.mkString(","))

    // TIMESTAMP AS OF an hour ago → v0 (pre-merge values)
    val hourAgo = java.time.Instant
      .ofEpochMilli(System.currentTimeMillis() - 3600 * 1000).toString
    assert(spark.sql(
      s"SELECT count(*) FROM graft_table('$tbl', '$hourAgo') WHERE v = -1")
      .collect()(0).getLong(0) == 0)
    // an instant before every commit refuses with the inventory
    val tooEarly = java.time.Instant.ofEpochMilli(weekAgo - 1000).toString
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table('$tbl', '$tooEarly')").collect()
    }
    assert(e.getMessage.contains("at or before"), e.getMessage)

    // RESTORE TO TIMESTAMP: resolves v0, commits it as v2 (op RESTORE)
    val rest = spark.sql(s"RESTORE '$tbl' TO TIMESTAMP '$hourAgo'").collect()(0)
    assert(rest.getLong(0) == 0L && rest.getLong(1) == 2L, rest.toString)
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$tbl') WHERE v = -1")
      .collect()(0).getLong(0) == 0)
    val ops = spark.sql(s"DESCRIBE HISTORY '$tbl'").collect()
      .map(r => (r.getLong(0), r.getString(4))).sortBy(_._1)
    assert(ops.map(_._2).toSeq == Seq(null, "MERGE", "RESTORE"),
      ops.mkString(","))

    // an in-flight OCC claim must never win AS-OF resolution — not
    // while empty, and not once its first linked files land (a
    // half-built table is worse than an empty one: it READS)
    val claimed = graft.plans.LakehouseSql.claimNextVersion(tbl)
    val now = java.time.Instant.now().toString
    assert(graft.ops.Upsert.versionAsOfTimestamp(
      tbl, System.currentTimeMillis()) == claimed - 1,
      "AS OF now must skip the empty claimed version")
    // simulate mid-build state: some files linked, no _commitinfo yet
    graft.ops.Upsert.cloneSnapshot(spark, s"$tbl/v0", s"$tbl/v$claimed")
    new java.io.File(s"$tbl/v$claimed/_commitinfo").delete()
    assert(graft.ops.Upsert.versionAsOfTimestamp(
      tbl, System.currentTimeMillis()) == claimed - 1,
      "AS OF now must skip a partially-built unstamped claim")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$tbl/v$claimed"))
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$tbl', '$now')")
      .collect()(0).getLong(0) == 1000)

    // programmatic verbs stamp too: DELETE_DV then COMPACT_DELETES
    val dvOut = s"$base/audit_dv"; val cdOut = s"$base/audit_cd"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dvOut))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(cdOut))
    graft.ops.Upsert.deleteByKeyDV(spark, s"$tbl/v0", dvOut,
      spark.range(0, 50).toDF("k"), "k")
    assert(graft.ops.Upsert.readCommitInfo(dvOut).map(_._1).contains("DELETE_DV"))
    graft.ops.Upsert.compactDeletes(spark, dvOut, cdOut)
    val cd = graft.ops.Upsert.readCommitInfo(cdOut).get
    assert(cd._1 == "COMPACT_DELETES" &&
      cd._3.toMap.get("dv_keys_folded").contains(50L), cd.toString)
  }

  test("composite ON keys: MERGE / UPDATE / DELETE on the tuple grain") {
    import spark.implicits._
    val tbl = s"$base/composite"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(300)
      .select(($"id" / 3).cast("long").as("k1"),
        pmod($"id", lit(3L)).as("k2"), $"id".as("v"))
      .repartitionByRange(4, $"k1", $"k2")
      .write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()

    // MERGE on the full tuple: one replace + one brand-new tuple
    Seq((5L, 1L, -1L), (5L, 9L, -7L)).toDF("k1", "k2", "v")
      .createOrReplaceTempView("lakesql_comp_upd")
    val m = spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM lakesql_comp_upd)
         |ON k1 AND k2
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    assert(m.getLong(2) == 2, s"rows_merged: $m")
    val v1 = spark.read.parquet(s"$tbl/v1")
    assert(v1.count() == 301)
    assert(v1.filter($"k1" === 5 && $"k2" === 1).select("v").as[Long].head() == -1L)
    // the tuple sharing k1 = 5 but k2 = 0 rides along verbatim
    assert(v1.filter($"k1" === 5 && $"k2" === 0).select("v").as[Long].head() == 15L)

    // predicate UPDATE on the tuple grain
    val u = spark.sql(
      s"UPDATE '$tbl' ON k1 AND k2 SET v = v + 1000 WHERE k2 = 2 AND k1 < 3")
      .collect()(0)
    assert(u.getLong(2) == 3, s"rows_updated: $u")
    val v2 = spark.read.parquet(s"$tbl/v2")
    assert(v2.filter($"k1" === 1 && $"k2" === 2).select("v").as[Long].head() == 1005L)

    // predicate DELETE on the tuple grain
    val d = spark.sql(s"DELETE FROM '$tbl' ON k1 AND k2 WHERE v = -7")
      .collect()(0)
    assert(d.getLong(2) == 1, s"rows_deleted: $d")
    assert(spark.read.parquet(s"$tbl/v3").count() == 300)
  }

  test("catalog names: CREATE GRAFT TABLE, MERGE / SELECT / time-travel by name") {
    import spark.implicits._
    val tbl = s"$base/named"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(100).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(2, $"k").write.parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()

    val created = spark.sql(s"CREATE GRAFT TABLE mytbl AT '$tbl'").collect()(0)
    assert(created.getString(0) == "mytbl" && created.getString(1) == tbl)
    assert(spark.sql("SHOW GRAFT TABLES").collect()
      .exists(r => r.getString(0) == "mytbl" && r.getString(1) == tbl))

    // MERGE by name commits v1 through the same claim + CAS path
    spark.range(3).select($"id".as("k"), lit(-1L).as("v"))
      .createOrReplaceTempView("named_upd")
    val stats = spark.sql(
      """MERGE INTO 'mytbl' USING (SELECT * FROM named_upd) ON k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    assert(stats.getLong(2) == 3)
    assert(Upsert.snapshotVersions(tbl) == Seq(0L, 1L))

    // SELECT and time travel by name through the TVF
    assert(spark.sql("SELECT * FROM graft_table('mytbl')")
      .filter($"v" === -1L).count() == 3)
    assert(spark.sql("SELECT * FROM graft_table('mytbl', 0)")
      .filter($"v" === -1L).count() == 0)
    // DESCRIBE HISTORY / RESTORE by name
    assert(spark.sql("DESCRIBE HISTORY 'mytbl'").collect().length == 2)
    spark.sql("RESTORE 'mytbl' TO VERSION 0")
    assert(spark.sql("SELECT * FROM graft_table('mytbl')")
      .filter($"v" === -1L).count() == 0)

    // a bare unregistered name refuses with the remedy named
    val e = intercept[IllegalArgumentException] {
      spark.sql("DESCRIBE HISTORY 'nosuchname'")
    }
    assert(e.getMessage.contains("CREATE GRAFT TABLE"), e.getMessage)

    // DROP forgets the alias; storage untouched
    assert(spark.sql("DROP GRAFT TABLE mytbl").collect()(0).getBoolean(0))
    assert(new java.io.File(s"$tbl/v0").isDirectory)
    assert(!spark.sql("SHOW GRAFT TABLES").collect()
      .exists(_.getString(0) == "mytbl"))
  }

  test("near-miss grammar fails loudly; ordinary SQL delegates untouched") {
    // quoted-path MERGE that doesn't match the full grammar → our error,
    // not Spark's catalog error
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"MERGE INTO '$base/x' USING (SELECT 1) ON k")
    }
    assert(e.getMessage.contains("supported grammar"), e.getMessage)
    // OPTIMIZE near-misses (wrong ZORDER arity) fail loudly too
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE '$base/x' ZORDER BY (a, b, c)")
    }
    assert(e2.getMessage.contains("supported grammar"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE '$base/x' ZORDER BY (a)")
    }
    assert(e3.getMessage.contains("supported grammar"), e3.getMessage)
    // ordinary statements (incl. catalog-table DELETE syntax Spark
    // owns) still parse through the delegate
    assert(spark.sql("SELECT 1 + 1 AS two").collect()(0).getInt(0) == 2)
    spark.sql("CREATE OR REPLACE TEMP VIEW lakesql_probe AS SELECT 41 AS x")
    assert(spark.sql("SELECT x + 1 FROM lakesql_probe").collect()(0).getInt(0) == 42)
  }

  test("durable catalog: names survive the session when spark.graft.catalog.dir is set") {
    import spark.implicits._
    import graft.plans.GraftCatalog
    val root = s"$base/durcat"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    spark.range(10).select($"id".as("k"), $"id".as("v"))
      .write.mode("overwrite").parquet(s"$root/data")
    spark.conf.set(GraftCatalog.DirKey, s"$root/names")
    try {
      spark.sql(s"CREATE GRAFT TABLE durtbl AT '$root/data'").collect()
      assert(new java.io.File(s"$root/names/durtbl.tbl").isFile,
        "durable mode must persist the name to the warehouse root")

      // a FRESH session — different in-memory namespace, same conf —
      // resolves the name from disk
      val s2 = spark.newSession()
      s2.conf.set(GraftCatalog.DirKey, s"$root/names")
      assert(s2.sql("SHOW GRAFT TABLES").collect()
        .exists(r => r.getString(0) == "durtbl"))
      assert(s2.sql("SELECT count(*) AS n FROM graft_table('durtbl')")
        .collect()(0).getLong(0) == 10)

      // re-CREATE repoints atomically; DROP removes durably for all
      spark.range(3).select($"id".as("k"), $"id".as("v"))
        .write.mode("overwrite").parquet(s"$root/data2")
      s2.sql(s"CREATE GRAFT TABLE durtbl AT '$root/data2'").collect()
      assert(spark.sql("SELECT count(*) AS n FROM graft_table('durtbl')")
        .collect()(0).getLong(0) == 3)
      s2.sql("DROP GRAFT TABLE durtbl").collect()
      assert(!new java.io.File(s"$root/names/durtbl.tbl").exists)
      assert(GraftCatalog.get(spark, "durtbl").isEmpty)

      // a PATH-shaped ref never consults the durable catalog: Hadoop's
      // Path(parent, child) resolves an absolute child on its own, so
      // without the identifier guard a stray '<abs>.tbl' file would
      // hijack every '<abs>' path reference to its contents
      val hijack = s"$root/victim"
      spark.range(1).select($"id".as("k"), $"id".as("v"))
        .write.mode("overwrite").parquet(hijack)
      val w = new java.io.PrintWriter(s"$hijack.tbl", "UTF-8")
      try w.print(s"$root/data2") finally w.close()
      assert(GraftCatalog.get(spark, hijack).isEmpty,
        "path-shaped names must never resolve through the catalog")
      assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$hijack')")
        .collect()(0).getLong(0) == 1,
        "the path ref must read ITS OWN parquet, not the .tbl redirect")
      // and programmatic registration refuses non-identifier names
      val badName = intercept[IllegalArgumentException] {
        GraftCatalog.register(spark, "../escape", "/nope")
      }
      assert(badName.getMessage.contains("identifier"), badName.getMessage)

      // without the conf, the same name is session-scoped as before
      spark.conf.unset(GraftCatalog.DirKey)
      spark.sql(s"CREATE GRAFT TABLE durtbl AT '$root/data'").collect()
      assert(GraftCatalog.get(spark, "durtbl").isDefined)
      assert(!new java.io.File(s"$root/names/durtbl.tbl").exists,
        "in-memory mode must not write the warehouse root")
      spark.sql("DROP GRAFT TABLE durtbl").collect()
    } finally {
      spark.conf.unset(GraftCatalog.DirKey)
    }
  }

  test("conflict-aware OCC: disjoint-partition writers both publish; overlap aborts") {
    import spark.implicits._
    import graft.plans.LakehouseSql
    val root = s"$base/rebase"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    val seed = s"$root/seed"; val tbl = s"$root/tbl"
    // one file per partition dir, so same-partition writers provably
    // collide and cross-partition writers provably don't
    spark.range(200)
      .select(($"id" % 2).as("dt"), $"id".as("k"), lit(0L).as("v"))
      .repartition(1)
      .write.mode("overwrite").partitionBy("dt").parquet(seed)
    spark.sql(s"CONVERT '$seed' TO VERSIONED '$tbl'").collect()

    // two uncoordinated writers build against the same base — the
    // decomposed protocol (claim → build → publish) makes the
    // interleaving deterministic; the SQL MERGE path runs exactly this
    val a = LakehouseSql.claimNextVersion(tbl)
    val b = LakehouseSql.claimNextVersion(tbl)
    assert(a == 1L && b == 2L)
    val upA = spark.range(10)
      .select(lit(0L).as("dt"), ($"id" * 2).as("k"), lit(-1L).as("v"))
    val upB = spark.range(10)
      .select(lit(1L).as("dt"), ($"id" * 2 + 1).as("k"), lit(-2L).as("v"))
    Upsert.upsertByKeys(spark, s"$tbl/v0", s"$tbl/v$a", upA, Seq("dt", "k"))
    Upsert.upsertByKeys(spark, s"$tbl/v0", s"$tbl/v$b", upB, Seq("dt", "k"))

    LakehouseSql.publishOrAbort(tbl, "v0", a, "MERGE")
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v1"))
    // B lost the race, but its change touched only partition dt=1 —
    // publish REBASES (relink, no job re-run) instead of aborting
    LakehouseSql.publishOrAbort(tbl, "v0", b, "MERGE")
    val cur = graft.streaming.Streams.currentSnapshot(tbl).get
    assert(cur.endsWith("/v3"), s"rebased publish must claim a fresh version: $cur")
    assert(!new java.io.File(s"$tbl/v2").exists,
      "the abandoned claim must be discarded")
    val got = spark.read.parquet(cur)
    assert(got.count() == 200)
    assert(got.filter($"v" === -1L).count() == 10, "winner's change lost")
    assert(got.filter($"v" === -2L).count() == 10, "rebased change lost")

    // the rebase RELINKED: the winner's dt=0 rewrite rides into v3 as
    // a hard link (same inode — zero bytes moved, no Spark job re-run)
    val aTxn = Upsert.readTxnInfo(s"$tbl/v1").get
    assert(aTxn.fresh.nonEmpty)
    def ino(p: String): Any = java.nio.file.Files.getAttribute(
      java.nio.file.Paths.get(p), "unix:ino")
    aTxn.fresh.foreach { f =>
      assert(ino(s"$tbl/v1/$f") == ino(s"$tbl/v3/$f"),
        s"$f must be hard-linked into the rebased snapshot")
    }
    // manifest carried through the rebase: pruning stays metadata-only
    assert(Upsert.cachedBounds(spark, s"$tbl/v3", "dt").isDefined)
    // audit + txn sidecars restamped for the published version: the
    // rebased snapshot carries B's change description (dt=1 only)
    assert(Upsert.readCommitInfo(s"$tbl/v3").map(_._1).contains("MERGE"))
    val bTxn = Upsert.readTxnInfo(s"$tbl/v3").get
    assert(bTxn.touched.nonEmpty &&
      bTxn.touched.forall(_.startsWith("dt=1/")), bTxn.touched.toString)

    // OVERLAP: same-partition writers still conflict — the second
    // publish aborts with the file named
    val c = LakehouseSql.claimNextVersion(tbl)
    val d = LakehouseSql.claimNextVersion(tbl)
    val upC = spark.range(5)
      .select(lit(0L).as("dt"), ($"id" * 2).as("k"), lit(-3L).as("v"))
    val upD = spark.range(5)
      .select(lit(0L).as("dt"), ($"id" * 2 + 100).as("k"), lit(-4L).as("v"))
    Upsert.upsertByKeys(spark, s"$tbl/v3", s"$tbl/v$c", upC, Seq("dt", "k"))
    Upsert.upsertByKeys(spark, s"$tbl/v3", s"$tbl/v$d", upD, Seq("dt", "k"))
    LakehouseSql.publishOrAbort(tbl, "v3", c, "MERGE")
    val e = intercept[IllegalStateException] {
      LakehouseSql.publishOrAbort(tbl, "v3", d, "MERGE")
    }
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(e.getMessage.contains("rewrote"), e.getMessage)
    assert(!new java.io.File(s"$tbl/v$d").exists)
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith(s"/v$c"))
  }

  test("OCC opt-out: spark.graft.occ.rebase=false forces abort-always (Serializable)") {
    import spark.implicits._
    import graft.plans.LakehouseSql
    val root = s"$base/rebase_optout"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    val seed = s"$root/seed"; val tbl = s"$root/tbl"
    spark.range(200)
      .select(($"id" % 2).as("dt"), $"id".as("k"), lit(0L).as("v"))
      .repartition(1)
      .write.mode("overwrite").partitionBy("dt").parquet(seed)
    spark.sql(s"CONVERT '$seed' TO VERSIONED '$tbl'").collect()
    val a = LakehouseSql.claimNextVersion(tbl)
    val b = LakehouseSql.claimNextVersion(tbl)
    val upA = spark.range(10)
      .select(lit(0L).as("dt"), ($"id" * 2).as("k"), lit(-1L).as("v"))
    val upB = spark.range(10)
      .select(lit(1L).as("dt"), ($"id" * 2 + 1).as("k"), lit(-2L).as("v"))
    Upsert.upsertByKeys(spark, s"$tbl/v0", s"$tbl/v$a", upA, Seq("dt", "k"))
    Upsert.upsertByKeys(spark, s"$tbl/v0", s"$tbl/v$b", upB, Seq("dt", "k"))
    LakehouseSql.publishOrAbort(tbl, "v0", a, "MERGE")
    // these changes are provably disjoint — WITH rebase on, B would
    // publish (the previous test). A read-dependent pipeline that
    // needs Serializable opts out per statement: the same race now
    // aborts with the retry remedy.
    spark.conf.set(LakehouseSql.RebaseConf, "false")
    try {
      val e = intercept[IllegalStateException] {
        LakehouseSql.publishOrAbort(tbl, "v0", b, "MERGE")
      }
      assert(e.getMessage.contains("concurrent commit"), e.getMessage)
      assert(e.getMessage.contains("abort-always"), e.getMessage)
      assert(!new java.io.File(s"$tbl/v$b").exists,
        "the claimed snapshot must be discarded on abort")
      assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith(s"/v$a"))
    } finally spark.conf.unset(LakehouseSql.RebaseConf)
  }

  test("TIMESTAMP AS OF prefers commit-log timestamps: a copied table (mtimes reset) resolves identically") {
    import spark.implicits._
    val root = s"$base/ttcopy"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    val tbl = s"$root/tbl"
    // three unstamped (no _commitinfo — pre-audit/foreign shape)
    // versions, each published through the commit log
    for (v <- 0L to 2L) {
      spark.range(10 * (v + 1)).toDF("k").write.parquet(s"$tbl/v$v")
      Upsert.writeCommitLogEntry(tbl, v, math.max(0, v - 1), "MERGE")
      Thread.sleep(5) // distinct publish timestamps
    }
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v2")
    val cut = Upsert.readCommitLogEntry(tbl, 1L).get.ts
    assert(Upsert.versionAsOfTimestamp(tbl, cut) == 1L)

    // copy the whole table — every directory mtime resets to NOW, the
    // signal the old dirMtime fallback keyed on
    val copy = s"$root/copy"
    org.apache.hadoop.fs.FileUtil.copy(
      graft.ops.Fs.of(tbl, spark), new org.apache.hadoop.fs.Path(tbl),
      graft.ops.Fs.of(copy, spark), new org.apache.hadoop.fs.Path(copy),
      false, spark.sparkContext.hadoopConfiguration)
    assert(Upsert.versionAsOfTimestamp(copy, cut) == 1L,
      "a copied table must resolve TIMESTAMP AS OF via its commit log, not mtime")
    assert(Upsert.commitTimestamp(copy, 1L) == cut)
    // and cross-check: with mtime alone every version would look
    // newer than the cut — the require below documents the hazard
    val mtime = new java.io.File(s"$copy/v1").lastModified
    assert(mtime > cut, "precondition: the copy actually reset mtimes")
    // DESCRIBE HISTORY on the copy reads the verb + ts from the log
    // (these snapshots carry no _commitinfo)
    val hist = spark.sql(s"DESCRIBE HISTORY '$copy'").collect()
      .map(r => r.getLong(0) -> (r.getString(4), r.getTimestamp(5).getTime))
      .toMap
    assert(hist(1L)._1 == "MERGE", s"history verb from log: ${hist(1L)}")
    assert(hist(1L)._2 == cut, "history ts must be the log's publish ts")
  }

  test("OCC walk cap: a loser too far behind aborts with the retry remedy instead of walking") {
    import spark.implicits._
    import graft.plans.LakehouseSql
    val root = s"$base/rebase_cap"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    val seed = s"$root/seed"; val tbl = s"$root/tbl"
    spark.range(300)
      .select(($"id" % 3).as("dt"), $"id".as("k"), lit(0L).as("v"))
      .repartition(1)
      .write.mode("overwrite").partitionBy("dt").parquet(seed)
    spark.sql(s"CONVERT '$seed' TO VERSIONED '$tbl'").collect()
    def up(dt: Long, v: Long) = spark.range(10)
      .select(lit(dt).as("dt"), ($"id" * 3 + dt).as("k"), lit(v).as("v"))
    // two winners publish chained commits; the loser built against v0
    val w1 = LakehouseSql.claimNextVersion(tbl)
    val w2 = LakehouseSql.claimNextVersion(tbl)
    val l = LakehouseSql.claimNextVersion(tbl)
    Upsert.upsertByKeys(spark, s"$tbl/v0", s"$tbl/v$w1", up(0, -1), Seq("dt", "k"))
    LakehouseSql.publishOrAbort(tbl, "v0", w1, "MERGE")
    Upsert.upsertByKeys(spark, s"$tbl/v$w1", s"$tbl/v$w2", up(1, -2), Seq("dt", "k"))
    LakehouseSql.publishOrAbort(tbl, s"v$w1", w2, "MERGE")
    Upsert.upsertByKeys(spark, s"$tbl/v0", s"$tbl/v$l", up(2, -3), Seq("dt", "k"))
    // walk = 2 intervening winners; cap 1 forces the bounded abort
    spark.conf.set(LakehouseSql.MaxRebaseWalkConf, "1")
    try {
      val e = intercept[IllegalStateException] {
        LakehouseSql.publishOrAbort(tbl, "v0", l, "MERGE")
      }
      assert(e.getMessage.contains("walk capped"), e.getMessage)
      assert(!new java.io.File(s"$tbl/v$l").exists)
    } finally spark.conf.unset(LakehouseSql.MaxRebaseWalkConf)
    // with the default cap the same shape rebases fine (disjoint dt)
    val l2 = LakehouseSql.claimNextVersion(tbl)
    Upsert.upsertByKeys(spark, s"$tbl/v0", s"$tbl/v$l2", up(2, -3), Seq("dt", "k"))
    LakehouseSql.publishOrAbort(tbl, "v0", l2, "MERGE")
    val got = spark.read.parquet(graft.streaming.Streams.currentSnapshot(tbl).get)
    assert(got.filter($"v" === -1L).count() == 10)
    assert(got.filter($"v" === -2L).count() == 10)
    assert(got.filter($"v" === -3L).count() == 10)
  }

  test("conflict-aware OCC: a winner's append inside the loser's key range refuses") {
    import spark.implicits._
    import graft.plans.LakehouseSql
    val root = s"$base/rebase_append"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    val seed = s"$root/seed"; val tbl = s"$root/tbl"
    spark.range(100).select($"id".as("k"), lit(0L).as("v"))
      .repartitionByRange(2, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(seed)
    spark.sql(s"CONVERT '$seed' TO VERSIONED '$tbl'").collect()

    // both writers PURE-APPEND new keys (no file both rewrote), but
    // the winner's fresh file lands inside the loser's evict range —
    // the loser's pruning ran against the old manifest and never saw
    // it, so a rebase would commit a possible duplicate key
    val a = LakehouseSql.claimNextVersion(tbl)
    val b = LakehouseSql.claimNextVersion(tbl)
    val upA = spark.range(200, 210).select($"id".as("k"), lit(-1L).as("v"))
    val upB = spark.range(205, 215).select($"id".as("k"), lit(-2L).as("v"))
    Upsert.upsertByKey(spark, s"$tbl/v0", s"$tbl/v$a", upA, "k")
    Upsert.upsertByKey(spark, s"$tbl/v0", s"$tbl/v$b", upB, "k")
    LakehouseSql.publishOrAbort(tbl, "v0", a, "MERGE")
    val e = intercept[IllegalStateException] {
      LakehouseSql.publishOrAbort(tbl, "v0", b, "MERGE")
    }
    assert(e.getMessage.contains("inside this commit's key range"), e.getMessage)
    // DISJOINT key ranges rebase fine even on a flat table
    val c = LakehouseSql.claimNextVersion(tbl)
    val d = LakehouseSql.claimNextVersion(tbl)
    Upsert.upsertByKey(spark, s"$tbl/v1", s"$tbl/v$c",
      spark.range(300, 310).select($"id".as("k"), lit(-3L).as("v")), "k")
    Upsert.upsertByKey(spark, s"$tbl/v1", s"$tbl/v$d",
      spark.range(400, 410).select($"id".as("k"), lit(-4L).as("v")), "k")
    LakehouseSql.publishOrAbort(tbl, "v1", c, "MERGE")
    LakehouseSql.publishOrAbort(tbl, "v1", d, "MERGE")
    val cur = spark.read.parquet(graft.streaming.Streams.currentSnapshot(tbl).get)
    assert(cur.count() == 130) // 100 seed + A's, C's, D's appends
    assert(cur.filter($"v" === -3L).count() == 10)
    assert(cur.filter($"v" === -4L).count() == 10)
  }

  test("rebase keeps the Bloom filters: every rebased file probes without a rebuild") {
    import spark.implicits._
    import graft.plans.LakehouseSql
    val root = s"$base/rebase_bloom"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    val seed = s"$root/seed"; val tbl = s"$root/tbl"
    graft.ops.Bloom.write(spark.range(200).select($"id".as("k"), lit(0L).as("v"))
      .repartitionByRange(2, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite"), Seq("k")).parquet(seed)
    spark.sql(s"CONVERT '$seed' TO VERSIONED '$tbl'").collect()
    // two writers on DISJOINT key ranges; B loses and rebases
    val a = LakehouseSql.claimNextVersion(tbl)
    val b = LakehouseSql.claimNextVersion(tbl)
    Upsert.upsertByKey(spark, s"$tbl/v0", s"$tbl/v$a",
      spark.range(300, 310).select($"id".as("k"), lit(-1L).as("v")), "k")
    Upsert.upsertByKey(spark, s"$tbl/v0", s"$tbl/v$b",
      spark.range(400, 410).select($"id".as("k"), lit(-2L).as("v")), "k")
    LakehouseSql.publishOrAbort(tbl, "v0", a, "MERGE")
    LakehouseSql.publishOrAbort(tbl, "v0", b, "MERGE")
    val cur = graft.streaming.Streams.currentSnapshot(tbl).get
    assert(cur.endsWith("/v3"), s"expected a rebased publish: $cur")
    assert(graft.ops.Layout.listDataFiles(spark, cur).forall(f =>
      graft.ops.Bloom.columnsOf(spark, f) == Seq("k")),
      "every file of the rebased snapshot must carry its filter")
    // point lookups answer correctly on both the winner's and the
    // rebased loser's keys — no rebuild paid
    val (hits, nFiles, nHit) = graft.ops.Bloom.readPruned(
      spark, cur, "k", Seq(305L, 405L, 55L))
    assert(hits.count() == 3, "bloom-pruned lookup lost rows after rebase")
    assert(nHit < nFiles, s"filter must prune some files ($nHit/$nFiles)")
    // a key that exists nowhere probes empty through the filters
    assert(graft.ops.Bloom.readPruned(
      spark, cur, "k", Seq(999999L))._1.count() == 0)
  }

  test("commit log: closes the pointer absence window, survives pointer loss") {
    import spark.implicits._
    val root = s"$base/commitlog"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    val seed = s"$root/seed"; val tbl = s"$root/tbl"
    spark.range(50).select($"id".as("k"), lit(0L).as("v"))
      .write.mode("overwrite").parquet(seed)
    spark.sql(s"CONVERT '$seed' TO VERSIONED '$tbl'").collect()
    spark.range(5).select($"id".as("k"), lit(-1L).as("v"))
      .createOrReplaceTempView("clog_upd")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM clog_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(new java.io.File(s"$tbl/_commitlog/1.json").isFile,
      "every publish must append a commit-log entry")

    // the pointer vanishes (the HDFS delete+rename window, or plain
    // operator error): the log still resolves the table
    assert(new java.io.File(s"$tbl/CURRENT").delete())
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v1"))
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$tbl') WHERE v = -1")
      .collect()(0).getLong(0) == 5)
    // and the NEXT commit publishes against the logged version — then
    // heals the pointer
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM clog_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v2"))
    assert(scala.io.Source.fromFile(s"$tbl/CURRENT").mkString.trim == "v2")

    // a table with v<N> dirs and NO pointer or log refuses loudly
    // instead of silently reading the table root (every version at
    // once) — the old getOrElse(dir) fallback
    val tbl2 = s"$root/noptr"
    spark.sql(s"CONVERT '$seed' TO VERSIONED '$tbl2'").collect()
    assert(new java.io.File(s"$tbl2/CURRENT").delete())
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.currentSnapshot(tbl2)
    }
    assert(e.getMessage.contains("no CURRENT"), e.getMessage)
  }

  test("vacuum truncates the commit log to the retention window; checkpoint blocks republish") {
    import spark.implicits._
    val root = s"$base/clogtrunc"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    val seed = s"$root/seed"; val tbl = s"$root/tbl"
    spark.range(50).select($"id".as("k"), lit(0L).as("v"))
      .write.mode("overwrite").parquet(seed)
    spark.sql(s"CONVERT '$seed' TO VERSIONED '$tbl'").collect()
    (1 to 4).foreach { i =>
      spark.range(i * 100, i * 100 + 5).select($"id".as("k"), lit(-i.toLong).as("v"))
        .createOrReplaceTempView("trunc_upd")
      spark.sql(
        s"""MERGE INTO '$tbl' USING (SELECT * FROM trunc_upd) ON k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    def logEntries() = new java.io.File(s"$tbl/_commitlog").list()
      .filter(_.matches("\\d+\\.json")).map(_.stripSuffix(".json").toLong).sorted.toSeq
    assert(logEntries() == Seq(1L, 2L, 3L, 4L))

    // vacuum keep=2 retains v3, v4 — log entries below v3 are reclaimed
    // and the checkpoint records the truncation high-water mark
    assert(Upsert.vacuum(tbl, keep = 2) == Seq(0L, 1L, 2L))
    assert(logEntries() == Seq(3L, 4L),
      "entries for vacuumed versions must be reclaimed — the listing " +
        "every read pays must be bounded by retention, not table age")
    assert(Upsert.commitLogCheckpoint(tbl).contains(2L))

    // the table still resolves, reads, and time-travels over retained history
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v4"))
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$tbl')")
      .collect()(0).getLong(0) == 70)
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$tbl', 3)")
      .collect()(0).getLong(0) == 65)

    // the next commit publishes normally past the checkpoint…
    spark.range(900, 905).select($"id".as("k"), lit(-9L).as("v"))
      .createOrReplaceTempView("trunc_upd2")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM trunc_upd2) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(logEntries() == Seq(3L, 4L, 5L))

    // …but republishing a RECLAIMED version is still caught: the
    // checkpoint carries the duplicate-publish guard the deleted
    // entries' create-exclusive can no longer provide
    val dup = intercept[IllegalArgumentException] {
      Upsert.writeCommitLogEntry(tbl, 1L, 0L, "MERGE")
    }
    assert(dup.getMessage.contains("truncated"), dup.getMessage)
  }

  test("STAMP STATS ON: SQL-declared stats columns prune reads; versioned tables stamp CURRENT") {
    import spark.implicits._
    val root = s"$base/stampstats"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    val seed = s"$root/seed"; val tbl = s"$root/tbl"
    // clustered by c so per-file c-bounds are disjoint and pruning can bite
    spark.range(8000)
      .select($"id".as("k"), ($"id" / 4).cast("long").as("c"), lit(1L).as("v"))
      .repartitionByRange(8, $"c").sortWithinPartitions($"c")
      .write.mode("overwrite").parquet(seed)
    spark.sql(s"CONVERT '$seed' TO VERSIONED '$tbl'").collect()

    val r = spark.sql(s"STAMP STATS ON '$tbl' COLUMNS (c, k)").collect()(0)
    assert(r.getLong(0) > 0 && r.getString(1) == "c,k", r.toString)
    // the stamp landed on the CURRENT snapshot, not the table root
    val cur = graft.streaming.Streams.currentSnapshot(tbl).get
    assert(new java.io.File(s"$cur/_manifest/_keys.json").isFile)

    val pred = $"c" >= 100L && $"c" < 200L
    val (cands, total) = Upsert.statsPrunedFiles(spark, cur, pred)
    assert(total == 8 && cands.size == 1, s"${cands.size}/$total")
    assert(Upsert.readWhere(spark, cur, pred).count() == 400)

    // works through a registered catalog name too
    spark.sql(s"CREATE GRAFT TABLE stamp_stats_t AT '$tbl'").collect()
    val r2 = spark.sql("STAMP STATS ON 'stamp_stats_t' COLUMNS (v)").collect()(0)
    assert(r2.getLong(0) > 0)
    // an unknown column refuses loudly
    val bad = intercept[IllegalArgumentException] {
      spark.sql(s"STAMP STATS ON '$tbl' COLUMNS (nope)").collect()
    }
    assert(bad.getMessage.contains("no column"), bad.getMessage)
  }

  test("NaN and -0.0 keys: UPDATE, DELETE and MERGE refuse; CURRENT stays put") {
    import spark.implicits._
    val tbl = s"$base/floatkeys"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    Seq((Double.NaN, 1L), (-0.0, 2L), (0.0, 3L), (1.5, 4L))
      .toDF("k", "v").write.parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()
    spark.createDataFrame(Seq((Double.NaN, -1L), (-0.0, -2L)))
      .toDF("k", "v").createOrReplaceTempView("lakesql_floatkeys")
    def refuses(stmt: String): Unit = {
      val e = intercept[IllegalArgumentException](spark.sql(stmt).collect())
      assert(e.getMessage.contains("only integral or string keys"), e.getMessage)
      assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v0"))
      assert(Upsert.snapshotVersions(tbl) == Seq(0L))
    }
    refuses(s"UPDATE '$tbl' ON k SET v = 0 WHERE isnan(k) OR k = 0")
    refuses(s"DELETE FROM '$tbl' ON k WHERE isnan(k) OR k = 0")
    refuses(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM lakesql_floatkeys) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the predicate verbs refuse at entry, before the matched-key scan:
    // a predicate that fails when evaluated is never reached
    refuses(s"UPDATE '$tbl' ON k SET v = 0 WHERE raise_error('scanned') IS NULL")
    refuses(s"DELETE FROM '$tbl' ON k WHERE raise_error('scanned') IS NULL")
    assert(spark.read.parquet(s"$tbl/v0").count() == 4)
  }

  test("NULL keys in a batch: MERGE, the key-set DELETE and CDC refuse; CURRENT stays put") {
    import spark.implicits._
    val tbl = s"$base/nullbatch"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    Seq((Option(1L), 10L), (Option.empty[Long], 20L))
      .toDF("k", "v").write.parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()
    // the stored NULL-keyed row upserted again: NULL never equi-joins,
    // so the engine could not evict the stored copy and would hold two
    Seq((Option.empty[Long], 21L), (Option(2L), 30L)).toDF("k", "v")
      .createOrReplaceTempView("lakesql_nullbatch")
    def unmoved(): Unit = {
      assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v0"))
      assert(Upsert.snapshotVersions(tbl) == Seq(0L))
    }
    val e1 = intercept[IllegalArgumentException](spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM lakesql_nullbatch) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
    assert(e1.getMessage.contains("1 row(s) with a NULL in 'k'"), e1.getMessage)
    unmoved()
    // the batch verbs refuse the same way when called directly
    val cdc = Seq((Option.empty[Long], 0L, "d")).toDF("k", "v", "op")
    val e2 = intercept[IllegalArgumentException](Upsert.applyCdcBatchKeys(
      spark, s"$tbl/v0", s"$base/nullbatch_cdc", cdc, Seq("k"), "op"))
    assert(e2.getMessage.contains("applyCdcBatchKeys"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](Upsert.deleteByKeys(
      spark, s"$tbl/v0", s"$base/nullbatch_del", cdc.select("k"), Seq("k")))
    assert(e3.getMessage.contains("deleteByKeys"), e3.getMessage)
    unmoved()
    assert(spark.read.parquet(s"$tbl/v0").count() == 2)
  }
}
