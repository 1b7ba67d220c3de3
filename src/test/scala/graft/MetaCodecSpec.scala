package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The JSON metadata records (table in `ops.Fs`'s scaladoc): the text
  * earlier writers produced reads back unchanged, hostile strings
  * round-trip through every record, and DESCRIBE HISTORY opens each
  * record of a version once. */
class MetaCodecSpec extends AnyFunSuite {

  import graft.ops.{AnnIndex, Fs, Upsert}

  private lazy val spark = GraftSession.local(2)

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private def put(p: String, txt: String): Unit =
    Fs.writeTextAtomic(Fs.of(p, spark), new Path(p), txt)

  private def text(p: String): String =
    Fs.readTextIfExists(Fs.of(p, spark), new Path(p)).get

  // quote, backslash, bracket, comma, newline, tab and non-ASCII
  private val hostile = "q\"b\\s]c,d\ne\tf é✓"

  test("golden: text the hand-rolled writers produced reads back through the json4s readers") {
    spark
    val t = tmp("metacodec_golden")
    val snap = s"$t/v2"
    put(s"$snap/_commitinfo",
      """{"operation":"MERGE","ts":1700000000000,"rows_matched":3,"files_rewritten":-1}""")
    assert(Upsert.readCommitInfo(snap).contains(
      ("MERGE", 1700000000000L, Seq("rows_matched" -> 3L, "files_rewritten" -> -1L))))

    put(s"$snap/_txn.json",
      """{"keys":["k","c"],"kind":"long","mn":"1","mx":"9","touched":["a.parquet","b.parquet"],""" +
        """"fresh":["x.parquet"],"fbFile":["x.parquet"],"fbMn":["1"],"fbMx":["9"]}""")
    val txn = Upsert.TxnInfo(Seq("k", "c"), "long", Some("1"), Some("9"),
      Set("a.parquet", "b.parquet"), Seq("x.parquet"), Seq(("x.parquet", "1", "9")))
    assert(Upsert.readTxnInfo(snap).contains(txn))
    put(s"$snap/_txn.json",
      """{"keys":["k"],"kind":"string","touched":[],"fresh":[],"fbFile":[],"fbMn":[],"fbMx":[]}""")
    assert(Upsert.readTxnInfo(snap).contains(
      Upsert.TxnInfo(Seq("k"), "string", None, None, Set.empty, Nil, Nil)))

    put(s"$t/_commitlog/2.json", """{"version":2,"base":1,"verb":"MERGE","ts":1700000000001}""")
    assert(Upsert.readCommitLogEntry(t, 2L).contains(
      Upsert.CommitLogEntry(2L, 1L, "MERGE", 1700000000001L)))
    put(s"$t/_commitlog/_base.json", """{"version":1,"ts":1700000000002}""")
    assert(Upsert.commitLogCheckpoint(t).contains(1L))
    put(s"$t/_cdf/_low_watermark.json", """{"min_feed_version":5,"ts":1700000000003}""")
    assert(Upsert.cdfLowWatermark(t).contains(5L))
    put(s"$t/_cdf_applied.json", """{"applied":4,"ts":1700000000004}""")
    assert(graft.streaming.Streams.readApplied(spark, t).contains(4L))
  }

  test("golden: the json4s writers produce the hand-rolled writers' text") {
    spark
    val t = tmp("metacodec_writers")
    val snap = s"$t/v1"
    Upsert.writeTxnInfo(snap, Upsert.TxnInfo(Seq("k"), "long", Some("1"), Some("9"),
      Set("b.parquet", "a.parquet"), Seq("x.parquet"), Seq(("x.parquet", "1", "9"))))
    assert(text(s"$snap/_txn.json") ==
      """{"keys":["k"],"kind":"long","mn":"1","mx":"9","touched":["a.parquet","b.parquet"],""" +
        """"fresh":["x.parquet"],"fbFile":["x.parquet"],"fbMn":["1"],"fbMx":["9"]}""")
    Upsert.writeCommitInfo(snap, "MERGE", Seq("rows_matched" -> 3L))
    val ts = Upsert.readCommitInfo(snap).get._2
    assert(text(s"$snap/_commitinfo") ==
      s"""{"operation":"MERGE","ts":$ts,"rows_matched":3}""")
    Upsert.writeCommitLogEntry(t, 1L, 0L, "MERGE")
    val e = Upsert.readCommitLogEntry(t, 1L).get
    assert(text(s"$t/_commitlog/1.json") ==
      s"""{"version":1,"base":0,"verb":"MERGE","ts":${e.ts}}""")
    graft.streaming.Streams.writeApplied(spark, t, 7L)
    assert(text(s"$t/_cdf_applied.json").startsWith("""{"applied":7,"ts":"""))
  }

  test("hostile strings round-trip through every record, INDEX_OK included") {
    import spark.implicits._
    val t = tmp("metacodec_hostile")
    val snap = s"$t/v1"
    Upsert.writeCommitInfo(snap, hostile, Seq(hostile -> 3L, "n" -> -2L))
    val info = Upsert.readCommitInfo(snap).get
    assert(info._1 == hostile && info._3 == Seq(hostile -> 3L, "n" -> -2L))

    val txn = Upsert.TxnInfo(Seq(hostile, "k"), "string", Some(hostile), Some(hostile + "]"),
      Set(s"$hostile.parquet", "a=]/b.parquet"), Seq(s"f$hostile.parquet"),
      Seq((s"f$hostile.parquet", hostile, hostile + ",")))
    Upsert.writeTxnInfo(snap, txn)
    assert(Upsert.readTxnInfo(snap).contains(txn))

    Upsert.writeCommitLogEntry(t, 1L, 0L, hostile)
    assert(Upsert.readCommitLogEntry(t, 1L).map(e => (e.version, e.base, e.verb))
      .contains((1L, 0L, hostile)))

    // an index stamped with a hostile table path and id column; the
    // path is a real directory, so it keeps to ASCII (a JVM whose
    // file-name encoding is not UTF-8 cannot create the rest)
    val tbl = s"$t/tbl ${hostile.filter(_ < 128)}"
    put(s"$tbl/CURRENT", "v0")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 40)
    val corpus = e.select($"vec_id".as("id"), $"embedding")
    val cents = e.filter($"vec_id" < 4).select($"vec_id".as("cid"), $"embedding")
    val cb = ops.Similarity.pqCodebook(corpus, "id", "embedding", numSub = 4, codes = 4)
    val idx = s"$t/index"
    AnnIndex.write(corpus, cents, cb, idx, numRangePartitions = 1,
      source = Some((tbl, hostile)))
    assert(AnnIndex.readStamp(idx).contains((tbl, 0L, hostile)))
    val m = AnnIndex.readMarker(idx).get
    assert(m.numSub == 4 && m.codes == 4 && m.advance.isEmpty && m.qerrBase.exists(_ > 0))
    assert(AnnIndex.read(spark, idx).stamp.contains((tbl, 0L, hostile)))
  }

  test("DESCRIBE HISTORY opens an unstamped version's _commitinfo and log entry once each") {
    import spark.implicits._
    val t = tmp("metacodec_history")
    val tbl = s"$t/tbl"
    spark.range(50).select($"id".as("k"), $"id".as("v")).write.parquet(s"$t/src")
    spark.sql(s"CONVERT '$t/src' TO VERSIONED '$tbl'")
    spark.range(5).select($"id".as("k"), lit(-1L).as("v"))
      .createOrReplaceTempView("metacodec_upd")
    spark.sql(s"MERGE INTO '$tbl' USING (SELECT * FROM metacodec_upd) ON k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
    assert(Upsert.vacuum(tbl, keep = 1) == Seq(0L))
    // v1 is logged, but its audit stamp is gone (a foreign copy)
    assert(Fs.of(tbl, spark).delete(new Path(s"$tbl/v1/_commitinfo"), false))
    val logged = Upsert.readCommitLogEntry(tbl, 1L).get
    Fs.Audit.enable()
    val rows = try spark.sql(s"DESCRIBE HISTORY '$tbl'").collect()
      finally Fs.Audit.disable()
    val ops = Fs.Audit.snapshot()
    assert(rows.map(r => (r.getLong(0), r.getString(4), r.getTimestamp(5).getTime)).toSeq ==
      Seq((1L, "MERGE", logged.ts)))
    assert(ops.get("open:_commitinfo").contains(1L) && ops.get("open:_commitlog").contains(1L),
      s"metadata opens: $ops")
  }

  test("source gate: no hand-rolled JSON in ops, plans or streaming") {
    import scala.jdk.CollectionConverters._
    // a regex literal that reads a JSON field, and hand escaping of
    // quotes or backslashes: every record goes through Fs.json/readJson
    val fieldRegex = """":.*"\)?\.r\b""".r
    val handEscape = """replace(?:All)?\("(?:"")?\\\\""".r
    val offenders = Seq("ops", "plans", "streaming").flatMap { d =>
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"src/main/scala/graft/$d"))
      val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                  finally st.close()
      files.flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if fieldRegex.findFirstIn(line).isDefined ||
              handEscape.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
        }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  private def lit(v: Long) = org.apache.spark.sql.functions.lit(v)
}
