package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.ops.Upsert.updateWhere / deleteWhere — the predicate COW
  * verbs — plus their SQL surface (`UPDATE ... ON ... SET ... WHERE`,
  * `DELETE FROM ... ON ... WHERE`). */
class UpdateWhereSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import graft.ops.Upsert

  private val base = "/tmp/graft_updatewherespec"

  private def md5(f: java.io.File): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString

  private def rangeTable(tbl: String, n: Long = 8000, files: Int = 8): Unit = {
    import spark.implicits._
    spark.range(n).select($"id".as("k"), ($"id" * 3).as("v"), $"id".as("w"))
      .repartitionByRange(files, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(tbl)
  }

  test("updateWhere rewrites only intersecting files; SET reads the pre-update row") {
    import spark.implicits._
    val tbl = s"$base/upd_table"; val out = s"$base/upd_out"
    rangeTable(tbl)
    val highFile = new java.io.File(tbl).listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.getName)
    val highMd5 = md5(highFile)

    // v := w + 1 and w := v must BOTH read the old row (SQL UPDATE
    // semantics): a sequential apply would see the new v in w's rhs
    val (copied, rewritten, n) = Upsert.updateWhere(
      spark, tbl, out, "k", $"k" >= 100 && $"k" <= 299,
      Seq("v" -> ($"w" + 1), "w" -> $"v"))
    assert(n == 200)
    assert(rewritten >= 1 && copied >= 6, s"copied=$copied rewritten=$rewritten")

    val res = spark.read.parquet(out)
    assert(res.count() == 8000)
    val hit = res.filter($"k" === 150).head()
    assert(hit.getLong(1) == 151 && hit.getLong(2) == 450,
      s"swap must read pre-update values: $hit") // v=old w+1, w=old v
    val miss = res.filter($"k" === 5000).head()
    assert(miss.getLong(1) == 15000 && miss.getLong(2) == 5000)
    // schema unchanged, untouched file hard-linked byte-identical
    assert(res.schema == spark.read.parquet(tbl).schema)
    val outHigh = new java.io.File(out).listFiles()
      .filter(f => f.getName == highFile.getName)
    assert(outHigh.length == 1 && md5(outHigh(0)) == highMd5,
      "untouched file must carry over byte-identical")
    assert(Upsert.readCommitInfo(out).get._1 == "UPDATE")
  }

  test("updateWhere on a non-unique key: rows sharing a key ride along verbatim") {
    import spark.implicits._
    val tbl = s"$base/nonuq_table"; val out = s"$base/nonuq_out"
    spark.range(1000)
      .select(($"id" % 500).as("k"),
        when($"id" < 500, "a").otherwise("b").as("tag"),
        $"id".as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(tbl)

    val (_, _, n) = Upsert.updateWhere(
      spark, tbl, out, "k", $"tag" === "a" && $"k" < 10,
      Seq("v" -> lit(-1L)))
    assert(n == 10)
    val res = spark.read.parquet(out)
    assert(res.count() == 1000, "no row may vanish on a shared key")
    assert(res.filter($"v" === -1L).count() == 10)
    // the tag=b rows sharing k<10 were evicted with their key and must
    // come back with their ORIGINAL values
    assert(res.filter($"tag" === "b" && $"k" < 10 && $"v" =!= -1L).count() == 10)
    assert(res.filter($"tag" === "b" && $"v" === -1L).count() == 0)
  }

  test("updateWhere matching nothing commits a pure link; deleteWhere ditto") {
    import spark.implicits._
    val tbl = s"$base/noop_table"; val out = s"$base/noop_out"
    rangeTable(tbl, n = 2000, files = 4)
    val (c, r, n) = Upsert.updateWhere(
      spark, tbl, out, "k", $"k" > 1000000, Seq("v" -> lit(0L)))
    assert(n == 0 && r == 0 && c == 4)
    assert(spark.read.parquet(out).count() == 2000)
    assert(Upsert.readCommitInfo(out).get._1 == "UPDATE")

    val out2 = s"$base/noop_out2"
    val (c2, r2, n2) = Upsert.deleteWhere(spark, tbl, out2, "k", $"k" < 0)
    assert(n2 == 0 && r2 == 0 && c2 == 4)
    assert(spark.read.parquet(out2).count() == 2000)
  }

  test("updateWhere over a DV-carrying snapshot: soft-deleted rows stay deleted") {
    import spark.implicits._
    val tbl = s"$base/dv_table"; val v1 = s"$base/dv_v1"; val out = s"$base/dv_out"
    rangeTable(tbl, n = 4000, files = 4)
    // soft-delete keys 0..99, then predicate-update k < 200: the
    // deleted keys match the predicate range but are NOT live — they
    // must neither update nor resurrect, and the output is DV-free
    Upsert.deleteByKeyDV(spark, tbl, v1,
      spark.range(100).select($"id".as("k")), "k")
    val (_, _, n) = Upsert.updateWhere(
      spark, v1, out, "k", $"k" < 200, Seq("v" -> lit(-7L)))
    assert(n == 100, s"only the LIVE half of k<200 matches, got $n")
    val res = spark.read.parquet(out)
    assert(res.filter($"k" < 100).count() == 0, "soft-deleted keys resurrected")
    assert(res.filter($"v" === -7L).count() == 100)
    assert(res.count() == 3900)
    assert(!new java.io.File(s"$out/_dv/_SUCCESS").exists, "output must be DV-free")
  }

  test("deleteWhere: NULL predicate rows and shared-key survivors stay") {
    import spark.implicits._
    val tbl = s"$base/delw_table"; val out = s"$base/delw_out"
    spark.range(600)
      .select(($"id" % 300).as("k"),
        when($"id" < 300, when($"id" % 3 === 0, lit(null: String)).otherwise("x"))
          .otherwise("keep").as("c"),
        $"id".as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(tbl)

    // c = 'x' matches 200 rows; c IS NULL is NOT a match (three-valued)
    val (_, _, n) = Upsert.deleteWhere(spark, tbl, out, "k", $"c" === "x")
    assert(n == 200)
    val res = spark.read.parquet(out)
    assert(res.count() == 400)
    assert(res.filter($"c" === "x").count() == 0)
    assert(res.filter($"c".isNull).count() == 100, "NULL predicate must survive")
    // every matched key was shared with a 'keep' row — all re-inserted
    assert(res.filter($"c" === "keep").count() == 300)
    val stats = Upsert.readCommitInfo(out).get._3.toMap
    assert(stats("rows_deleted") == 200 && stats("rows_reinserted") >= 200,
      stats.toString)
  }

  test("SQL UPDATE on a versioned table commits in place; grammar refusals") {
    import spark.implicits._
    val tbl = s"$base/sql_versioned"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(2000).select($"id".as("k"), $"id".as("v"), lit("p").as("s"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()

    // the SET clause carries a comma inside a function call — the
    // top-level splitter must not split there
    val stats = spark.sql(
      s"""UPDATE '$tbl' ON k
         |SET v = v * 10, s = concat(s, '-u')
         |WHERE k >= 100 AND k < 150""".stripMargin).collect()(0)
    assert(stats.getLong(2) == 50, stats.toString)
    assert(Upsert.snapshotVersions(tbl) == Seq(0L, 1L))
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v1"))
    val cur = spark.read.parquet(s"$tbl/v1")
    assert(cur.filter($"s" === "p-u").count() == 50)
    assert(cur.filter($"k" === 120).head().getLong(1) == 1200)
    assert(cur.count() == 2000)
    assert(Upsert.readCommitInfo(s"$tbl/v1").get._1 == "UPDATE")

    // predicate DELETE through SQL on the same versioned table
    val del = spark.sql(
      s"DELETE FROM '$tbl' ON k WHERE s = 'p-u'").collect()(0)
    assert(del.getLong(2) == 50, del.toString)
    assert(spark.read.parquet(s"$tbl/v2").count() == 1950)
    assert(Upsert.readCommitInfo(s"$tbl/v2").get._1 == "DELETE")

    // near-miss grammar fails loudly with OUR message
    val e1 = intercept[IllegalArgumentException] {
      spark.sql(s"UPDATE '$tbl' SET v = 1 WHERE k = 1") // missing ON
    }
    assert(e1.getMessage.contains("graft lakehouse statement"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"UPDATE '$tbl' ON k SET v WHERE k = 1") // no assignment
    }
    assert(e2.getMessage.contains("SET clause"), e2.getMessage)
    // an unquoted catalog UPDATE is NOT ours — it must fall through to
    // Spark's parser (whatever error that raises, not our grammar's)
    val e3 = intercept[Exception] {
      spark.sql("UPDATE sometable SET v = 1 WHERE k = 1").collect()
    }
    assert(!e3.getMessage.contains("graft lakehouse statement"), e3.getMessage)
  }

  test("a predicate matching NULL-keyed rows refuses loudly (both verbs)") {
    import spark.implicits._
    val tbl = s"$base/nullkey_table"
    Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "b"))
      .toDF("k", "c").write.mode("overwrite").parquet(tbl)
    val e1 = intercept[IllegalArgumentException] {
      Upsert.updateWhere(spark, tbl, s"$base/nullkey_out", "k",
        $"c" === "b", Seq("c" -> lit("z")))
    }
    assert(e1.getMessage.contains("NULL"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Upsert.deleteWhere(spark, tbl, s"$base/nullkey_out2", "k", $"c" === "b")
    }
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
    // a non-deterministic predicate would match different rows in the
    // stats and payload scans — refuse, both Column and SQL-text forms
    val e3 = intercept[IllegalArgumentException] {
      Upsert.updateWhere(spark, tbl, s"$base/nullkey_outx", "k",
        rand() < 0.5, Seq("c" -> lit("z")))
    }
    assert(e3.getMessage.contains("non-deterministic"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      Upsert.deleteWhere(spark, tbl, s"$base/nullkey_outy", "k",
        expr("rand() < 0.5"))
    }
    assert(e4.getMessage.contains("non-deterministic"), e4.getMessage)
    // now()/current_date() report deterministic but are stamped per
    // QueryExecution — the verbs run several — so they refuse too
    val e5 = intercept[IllegalArgumentException] {
      Upsert.deleteWhere(spark, tbl, s"$base/nullkey_outz", "k",
        expr("current_timestamp() > timestamp'2020-01-01 00:00:00'"))
    }
    assert(e5.getMessage.contains("time-dependent"), e5.getMessage)
    val e6 = intercept[IllegalArgumentException] {
      Upsert.updateWhere(spark, tbl, s"$base/nullkey_outw", "k",
        expr("c < current_date()"), Seq("c" -> lit("z")))
    }
    assert(e6.getMessage.contains("time-dependent"), e6.getMessage)

    // NULL-keyed rows NOT matched by the predicate are fine — they
    // survive untouched like any other unmatched row
    val (_, _, n) = Upsert.updateWhere(spark, tbl, s"$base/nullkey_out3", "k",
      $"c" === "a", Seq("c" -> lit("z")))
    assert(n == 1)
    val res = spark.read.parquet(s"$base/nullkey_out3")
    assert(res.count() == 2 && res.filter($"c" === "z").count() == 1)
    assert(res.filter($"k".isNull && $"c" === "b").count() == 1)
  }

  test("change data feed across an UPDATE interval: delete + insert per updated key") {
    import spark.implicits._
    val tbl = s"$base/cdf_versioned"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(1000).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()

    spark.sql(s"UPDATE '$tbl' ON k SET v = v + 1000000 WHERE k >= 10 AND k < 40")
    val feed = Upsert.changeDataFeed(spark, tbl, 0, 1)
      .select($"k", $"v", $"_change_type").collect()
    val dels = feed.filter(_.getString(2) == "delete")
    val ins = feed.filter(_.getString(2) == "insert")
    assert(dels.length == 30 && ins.length == 30, s"feed size: ${feed.length}")
    assert(dels.map(_.getLong(0)).sorted.toSeq == (10L until 40L),
      "delete images must be exactly the updated keys")
    assert(dels.forall(r => r.getLong(1) == r.getLong(0)), "old images")
    assert(ins.forall(r => r.getLong(1) == r.getLong(0) + 1000000), "new images")
  }

  test("DESCRIBE DETAIL: versioned, plain-snapshot, DV-carrying, and non-tables") {
    import spark.implicits._
    val tbl = s"$base/detail_versioned"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(500).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(2, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(s"$tbl/v0")
    val w = new java.io.PrintWriter(s"$tbl/CURRENT", "UTF-8")
    try w.print("v0") finally w.close()
    spark.sql(s"UPDATE '$tbl' ON k SET v = v + 1 WHERE k < 5")

    val d = spark.sql(s"DESCRIBE DETAIL '$tbl'").collect()(0)
    assert(d.getBoolean(1), "is_versioned")
    assert(d.getLong(2) == 1L, s"current_version: $d")
    assert(d.getLong(3) == 2L, s"n_snapshots: $d")
    assert(d.getLong(4) >= 2L && d.getLong(5) > 0L, s"files/bytes: $d")
    assert(d.getAs[Boolean]("has_schema"), "UPDATE stamps the schema sidecar")
    assert(d.getAs[Long]("dv_bytes") == 0L, "no DV")
    assert(d.getAs[String]("last_operation") == "UPDATE", s"last_operation: $d")
    assert(d.getAs[java.sql.Timestamp]("last_commit_ts") != null)
    assert(!d.schema.fieldNames.contains("has_manifest"))

    // plain DV-carrying snapshot: describes itself, reports dv_bytes
    val plain = s"$base/detail_plain"; val dvOut = s"$base/detail_dv"
    spark.range(100).select($"id".as("k"), $"id".as("v"))
      .write.mode("overwrite").parquet(plain)
    Upsert.deleteByKeyDV(spark, plain, dvOut,
      spark.range(10).select($"id".as("k")), "k")
    val d2 = spark.sql(s"DESCRIBE DETAIL '$dvOut'").collect()(0)
    assert(!d2.getBoolean(1) && d2.getLong(3) == 0L, s"plain: $d2")
    assert(d2.getAs[Long]("dv_bytes") > 0L, s"dv_bytes: $d2")
    assert(d2.getAs[String]("last_operation") == "DELETE_DV", s"op: $d2")

    val e = intercept[IllegalArgumentException] {
      spark.sql(s"DESCRIBE DETAIL '$base/nowhere'").collect()
    }
    assert(e.getMessage.contains("not a graft table"), e.getMessage)
  }

  test("UPDATE/DELETE-WHERE refuse a stream-owned versioned table") {
    import spark.implicits._
    val tbl = s"$base/streamowned"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tbl))
    spark.range(10).select($"id".as("k"), $"id".as("v"))
      .write.mode("overwrite").parquet(s"$tbl/v0")
    for ((f, c) <- Seq("CURRENT" -> "v0", "_WRITER" -> "stream:q1")) {
      val w = new java.io.PrintWriter(s"$tbl/$f", "UTF-8")
      try w.print(c) finally w.close()
    }
    val e1 = intercept[IllegalStateException] {
      spark.sql(s"UPDATE '$tbl' ON k SET v = 0 WHERE k = 1")
    }
    assert(e1.getMessage.contains("streaming sink"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      spark.sql(s"DELETE FROM '$tbl' ON k WHERE k = 1")
    }
    assert(e2.getMessage.contains("streaming sink"), e2.getMessage)
  }

  test("splitTopLevel: commas inside parens and quotes do not split") {
    import graft.plans.LakehouseSql.splitTopLevel
    assert(splitTopLevel("a = f(x, y), b = 'a,b', c = 1") ==
      Seq("a = f(x, y)", " b = 'a,b'", " c = 1"))
    assert(splitTopLevel("a = 'it''s, quoted', b = 2") ==
      Seq("a = 'it''s, quoted'", " b = 2"))
    assert(splitTopLevel("solo = 1") == Seq("solo = 1"))
  }

  test("SET string literals containing WHERE do not split the clause early") {
    import spark.implicits._
    import graft.plans.LakehouseSql.indexOfTopLevelKeyword
    assert(indexOfTopLevelKeyword("a = 'see WHERE x' WHERE k = 1", "WHERE") == 18)
    assert(indexOfTopLevelKeyword("a = f(1 WHERE)", "WHERE") == -1) // parens
    assert(indexOfTopLevelKeyword("nowhere = 1 WHERE k", "WHERE") == 12) // word bounds
    val tbl = s"$base/wherelit_table"
    spark.range(100).select($"id".as("k"), lit("p").as("s"))
      .write.mode("overwrite").parquet(tbl)
    val stats = spark.sql(
      s"""UPDATE '$tbl' ON k SET s = 'see WHERE clause' WHERE k < 10
         |INTO '$base/wherelit_out'""".stripMargin).collect()(0)
    assert(stats.getLong(2) == 10, stats.toString)
    val res = spark.read.parquet(s"$base/wherelit_out")
    assert(res.filter($"s" === "see WHERE clause").count() == 10)
  }

  test("winnowFingerprints refuses a document beyond maxDocChars at scan time") {
    import spark.implicits._
    val df = Seq((1, "x" * 200), (2, "y" * 50)).toDF("id", "text")
    val e = intercept[Exception] {
      graft.ops.TextAnalysis
        .winnowFingerprints(df, "id", "text", 8, 4, maxDocChars = 100)
        .collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("exceeds 100 chars"), msgs)
    // under the cap: normal output
    val ok = graft.ops.TextAnalysis
      .winnowFingerprints(df, "id", "text", 8, 4, maxDocChars = 500)
      .collect()
    assert(ok.nonEmpty)
  }
}
