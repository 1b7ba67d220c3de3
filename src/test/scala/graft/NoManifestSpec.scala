package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-file bounds come from the footers alone: no verb writes, reads
  * or carries a `_manifest` bounds sidecar, and no source names one. */
class NoManifestSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(2)
  import graft.ops.Upsert

  private val base = "/tmp/graft_nomanifestspec"

  test("source gate: no bounds sidecar, stamp or cache in src/main") {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                finally st.close()
    assert(files.exists(_.toString.replace('\\', '/').endsWith("ops/Upsert.scala")),
      "the gate found no ops/Upsert.scala")
    val banned = Seq("_manifest", "ManifestKeys", "cachedBounds",
      "writeStatsSidecar", "restampAfterRewrite")
    val bad = for {
      f <- files
      (l, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if l.contains(b)
    } yield s"$f:${i + 1}: $b"
    assert(bad.isEmpty, s"bounds sidecar code in src/main:\n${bad.mkString("\n")}")
  }

  test("no verb leaves a _manifest dir: DML, DV delete, CLONE, OPTIMIZE, RESTORE, rebase") {
    import spark.implicits._
    import graft.plans.LakehouseSql
    val root = s"$base/verbs"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    val seed = s"$root/seed"; val tbl = s"$root/tbl"
    // one file per partition dir, as in LakehouseSqlSpec's
    // disjoint-writer case, so the second writer rebases
    spark.range(200)
      .select(($"id" % 2).as("dt"), $"id".as("k"), lit(0L).as("v"))
      .repartition(1)
      .write.partitionBy("dt").parquet(seed)
    spark.sql(s"CONVERT '$seed' TO VERSIONED '$tbl'").collect()

    val a = LakehouseSql.claimNextVersion(tbl)
    val b = LakehouseSql.claimNextVersion(tbl)
    Upsert.upsertByKeys(spark, s"$tbl/v0", s"$tbl/v$a",
      spark.range(10).select(lit(0L).as("dt"), ($"id" * 2).as("k"), lit(-1L).as("v")),
      Seq("dt", "k"))
    Upsert.upsertByKeys(spark, s"$tbl/v0", s"$tbl/v$b",
      spark.range(10).select(lit(1L).as("dt"), ($"id" * 2 + 1).as("k"), lit(-2L).as("v")),
      Seq("dt", "k"))
    LakehouseSql.publishOrAbort(tbl, "v0", a, "MERGE")
    LakehouseSql.publishOrAbort(tbl, "v0", b, "MERGE")
    val rebased = graft.streaming.Streams.currentSnapshot(tbl).get
    assert(Upsert.readTxnInfo(rebased).isDefined && rebased.endsWith("/v3"),
      s"the second writer must rebase: $rebased")

    spark.range(5).select(($"id" % 2).as("dt"), ($"id" + 500).as("k"), lit(7L).as("v"))
      .createOrReplaceTempView("nomanifest_upd")
    spark.sql(s"MERGE INTO '$tbl' USING (SELECT * FROM nomanifest_upd) ON dt AND k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
    spark.sql(s"UPDATE '$tbl' ON dt AND k SET v = v + 1 WHERE k < 5").collect()
    spark.sql(s"DELETE FROM '$tbl' ON dt AND k WHERE k = 7").collect()
    val cur = graft.streaming.Streams.currentSnapshot(tbl).get
    Upsert.deleteByKeyDV(spark, cur, s"$root/dv",
      Seq((0L, 8L)).toDF("dt", "k"), "k")
    spark.sql(s"CLONE '$cur' TO '$root/clone'").collect()
    spark.sql(s"OPTIMIZE '$tbl' BY k").collect()
    spark.sql(s"OPTIMIZE '$tbl' ZORDER BY (dt, k)").collect()
    spark.sql(s"RESTORE '$tbl' TO VERSION 0").collect()
    assert(Upsert.snapshotVersions(tbl).size >= 9)

    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    val sidecars = try st.iterator().asScala
        .filter(p => p.getFileName.toString == "_manifest").toList
      finally st.close()
    assert(sidecars.isEmpty, s"bounds sidecars written: ${sidecars.mkString(", ")}")
    // the chain still reads: the restored version equals v0
    val restored = spark.sql(s"SELECT * FROM graft_table('$tbl')")
    assert(restored.count() == 200 && restored.filter($"v" =!= 0L).isEmpty)
  }
}
