package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, Similarity}

class AnnIndexSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private def fixture = {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    (e.select($"vec_id".as("id"), $"embedding"),
      e.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"embedding"),
      e.filter($"vec_id" >= 10 && $"vec_id" < 30).select($"vec_id".as("qid"), $"embedding"))
  }

  test("reloaded index returns bit-identical top-k to the inline fit") {
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val dir = java.nio.file.Files.createTempDirectory("ann_index").toString

    val inline = Similarity.ivfPqTopK(queries, corpus, cents, cb, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

    AnnIndex.write(corpus, cents, cb, dir)
    val reloaded = AnnIndex.topK(queries, AnnIndex.read(spark, dir), k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

    assert(inline.nonEmpty)
    assert(reloaded == inline, "persist/reload changed the top-k")
  }

  test("codebook round-trips exactly through parquet") {
    val (corpus, cents, _) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val dir = java.nio.file.Files.createTempDirectory("ann_cb").toString
    AnnIndex.write(corpus, cents, cb, dir)
    val got = AnnIndex.read(spark, dir).codebook
    assert(got.length == cb.length)
    for (mi <- cb.indices) {
      assert(got(mi).length == cb(mi).length)
      for (c <- cb(mi).indices)
        assert(got(mi)(c).toSeq == cb(mi)(c).toSeq,
          s"codebook[$mi][$c] drifted through parquet")
    }
  }

  test("append: delta encoded with existing artifacts == full rebuild, bit-identical probe") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    // base keeps the first 8 ids (the codebook seeds), delta is a
    // deterministic slice of the rest
    val base = corpus.filter($"id" < 8 || $"id" % 5 =!= 3)
    val delta = corpus.filter($"id" >= 8 && $"id" % 5 === 3)
    assert(delta.count() > 0)
    val cb = Similarity.pqCodebook(base, "id", "embedding", numSub = 8, codes = 8)

    val full = java.nio.file.Files.createTempDirectory("ann_full").toString
    AnnIndex.write(corpus, cents, cb, full)
    val expect = AnnIndex.topK(queries, AnnIndex.read(spark, full), k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

    val inc = java.nio.file.Files.createTempDirectory("ann_inc").toString
    AnnIndex.write(base, cents, cb, inc)
    AnnIndex.append(delta, inc)
    val got = AnnIndex.topK(queries, AnnIndex.read(spark, inc), k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

    assert(expect.nonEmpty && got == expect,
      "appended index must answer probes exactly like the full rebuild")
    // append refuses an unbuilt index dir
    val bad = java.nio.file.Files.createTempDirectory("ann_nope").toString
    val e = intercept[IllegalArgumentException](AnnIndex.append(delta, bad))
    assert(e.getMessage.contains("INDEX_OK"))
  }

  test("read() refuses a directory without the completion marker") {
    val dir = java.nio.file.Files.createTempDirectory("ann_bad").toString
    val e = intercept[IllegalArgumentException](AnnIndex.read(spark, dir))
    assert(e.getMessage.contains("INDEX_OK"))
  }

  test("staleness contract: delete-only divergence reconciles; anything else refuses loudly") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_stale").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))
    assert(AnnIndex.readStamp(idxDir).contains((tbl, 0L, "id")))

    // fresh index: topKLive == topK
    val expect = AnnIndex.topK(queries, AnnIndex.read(spark, idxDir), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val live0 = AnnIndex.topKLive(spark, idxDir, queries, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(live0 == expect && expect.nonEmpty)

    // versioned DELETE past the stamp → reconcile: probe == index of
    // the SURVIVING corpus (rebuilt with the same immutable artifacts)
    spark.sql(s"DELETE FROM '$tbl' ON id WHERE id >= 40 AND id % 3 = 1").collect()
    val live1 = AnnIndex.topKLive(spark, idxDir, queries, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val surviving = corpus.filter(!($"id" >= 40 && $"id" % 3 === 1))
    val rebuilt = java.nio.file.Files.createTempDirectory("ann_rebuilt").toString
    AnnIndex.write(surviving, cents, cb, rebuilt)
    val want = AnnIndex.topK(queries, AnnIndex.read(spark, rebuilt), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(live1 == want, "reconciled probe must equal the surviving-rows index")
    assert(live1 != expect, "the delete must change some neighborhood at this scale")
    // the stale handle would still serve deleted ids — that's the
    // silent failure topKLive exists to close
    val deleted = corpus.filter($"id" >= 40 && $"id" % 3 === 1)
      .select("id").as[Long].collect().toSet
    assert(expect.exists(t => deleted.contains(t._2)),
      "precondition: the stale top-k actually contains a deleted id")
    assert(!live1.exists(t => deleted.contains(t._2)),
      "reconciled probe must never return a deleted id")

    // a MERGE past the stamp (rows the index never saw) must REFUSE
    corpus.filter($"id" < 4).withColumn("embedding", $"embedding")
      .createOrReplaceTempView("ann_stale_upd")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM ann_stale_upd) ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val e1 = intercept[IllegalStateException](
      AnnIndex.topKLive(spark, idxDir, queries, 3, 2))
    assert(e1.getMessage.contains("MERGE") &&
      e1.getMessage.contains("AnnIndex.append"), e1.getMessage)

    // append across a gap containing the DELETE refuses too (r14): the
    // deleted rows' encodings would survive in codes.parquet, and a
    // stamp==CURRENT index serves them with no reconcile — the trust-
    // the-caller heal this used to permit was exactly the hole
    val eApp = intercept[IllegalStateException](
      AnnIndex.append(corpus.filter($"id" < 4), idxDir))
    assert(eApp.getMessage.contains("DELETE"), eApp.getMessage)
    // the honest remedy — rebuild from the CURRENT live rows — re-stamps
    // and probes work again
    val liveNow = graft.ops.Upsert.readWithDeletes(spark,
      graft.streaming.Streams.currentSnapshot(tbl).get)
      .select($"id", $"embedding")
    AnnIndex.write(liveNow, cents, cb, idxDir, source = Some((tbl, "id")))
    assert(AnnIndex.readStamp(idxDir).exists(_._2 > 0L))
    AnnIndex.topKLive(spark, idxDir, queries, 3, 2).collect()

    // an UNSTAMPED index refuses topKLive (no contract to check)
    val plain = java.nio.file.Files.createTempDirectory("ann_plain").toString
    AnnIndex.write(corpus, cents, cb, plain)
    val e2 = intercept[IllegalStateException](
      AnnIndex.topKLive(spark, plain, queries, 3, 2))
    assert(e2.getMessage.contains("no source stamp"), e2.getMessage)

    // a table RESTORED below the stamp refuses (index is from the future)
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    // (commit log outranks the pointer; simulate by stamping above cur)
    val stamp = AnnIndex.readStamp(idxDir).get
    if (graft.ops.Upsert.currentVersion(tbl).exists(_ < stamp._2)) {
      val e3 = intercept[IllegalStateException](
        AnnIndex.topKLive(spark, idxDir, queries, 3, 2))
      assert(e3.getMessage.contains("restored"), e3.getMessage)
    }
  }

  test("vacuum in the gap: reclaimed evidence refuses instead of silently reconciling") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_vacgap").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))

    // v1: a MERGE inserting rows the index has never seen
    corpus.filter($"id" < 10).select(($"id" + 1000).as("id"), $"embedding")
      .createOrReplaceTempView("ann_vacgap_ins")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM ann_vacgap_ins) ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    // v2, v3: delete-only commits — the arm the reconcile path accepts
    spark.sql(s"DELETE FROM '$tbl' ON id WHERE id >= 40 AND id % 7 = 1").collect()
    spark.sql(s"DELETE FROM '$tbl' ON id WHERE id >= 40 AND id % 7 = 2").collect()
    // vacuum reclaims v0 and v1 — dir, _commitinfo, AND commit-log
    // entry — so the MERGE at v1 is now indistinguishable from an
    // OCC-discarded number by per-version evidence alone. The old walk
    // classified it benign, reconciled against the delete-only tail,
    // and every probe silently missed the merged vectors forever
    // (round-13 verdict #1).
    assert(graft.ops.Upsert.vacuum(tbl, keep = 2).contains(1L))
    assert(graft.ops.Upsert.commitLogCheckpoint(tbl).exists(_ >= 1L))
    val e = intercept[IllegalStateException](
      AnnIndex.topKLive(spark, idxDir, queries, 3, 2))
    assert(e.getMessage.contains("RECLAIMED") &&
      e.getMessage.contains("rebuild"), e.getMessage)
    // append across the same unprovable gap refuses identically
    val e2 = intercept[IllegalStateException](
      AnnIndex.append(corpus.filter($"id" < 10)
        .select(($"id" + 1000).as("id"), $"embedding"), idxDir))
    assert(e2.getMessage.contains("RECLAIMED"), e2.getMessage)
  }

  test("vacuumed snapshot dir with a surviving commit-log entry adjudicates by the logged verb") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_logverb").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))
    corpus.filter($"id" < 10).select(($"id" + 1000).as("id"), $"embedding")
      .createOrReplaceTempView("ann_logverb_ins")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM ann_logverb_ins) ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    spark.sql(s"DELETE FROM '$tbl' ON id WHERE id >= 40 AND id % 7 = 3").collect()
    // simulate the vacuum crash window: v1's dir (and its _commitinfo)
    // reclaimed, but its commit-log entry not yet truncated — the
    // SECOND evidence trail must still name the MERGE
    graft.ops.Fs.of(tbl, spark)
      .delete(new org.apache.hadoop.fs.Path(s"$tbl/v1"), true)
    assert(graft.ops.Upsert.readCommitLogEntry(tbl, 1L).map(_.verb).contains("MERGE"))
    val e = intercept[IllegalStateException](
      AnnIndex.topKLive(spark, idxDir, queries, 3, 2))
    assert(e.getMessage.contains("MERGE"), e.getMessage)
  }

  test("append verifies the stamp advance against the change feed instead of trusting the caller") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_verify").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))

    // v1: insert-only MERGE with its change feed materialized
    val fresh = corpus.filter($"id" < 10)
      .select(($"id" + 1000).as("id"), $"embedding")
    fresh.createOrReplaceTempView("ann_verify_ins")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM ann_verify_ins) ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    graft.ops.Upsert.materializeCdf(spark, tbl, 1L)

    // an append that MISSES some of the MERGE's rows refuses — the old
    // behavior advanced the stamp on the caller's word and the index
    // silently never returned the missed vectors (round-13 verdict #2)
    val e1 = intercept[IllegalStateException](
      AnnIndex.append(fresh.filter($"id" % 2 === 0), idxDir))
    assert(e1.getMessage.contains("MISSES"), e1.getMessage)
    // a refused append must leave the index untouched (no partial files)
    assert(AnnIndex.readStamp(idxDir).contains((tbl, 0L, "id")))
    assert(AnnIndex.read(spark, idxDir).encoded
      .filter($"id" >= 1000).count() == 0)

    // already-encoded contamination refuses UP FRONT (partial overlap
    // is neither a fresh delta nor a clean retry — re-encoding the
    // encoded rows would land duplicate encodings)
    val e2a = intercept[IllegalArgumentException](
      AnnIndex.append(fresh.unionAll(corpus.filter($"id" < 2)), idxDir))
    assert(e2a.getMessage.contains("already encoded"), e2a.getMessage)

    // a delta with ids the gap never inserted AND the index never saw
    // refuses in the walk: they are absent from the table entirely
    val e2 = intercept[IllegalStateException](
      AnnIndex.append(fresh.unionAll(corpus.filter($"id" < 2)
        .select(($"id" + 9999).as("id"), $"embedding")), idxDir))
    assert(e2.getMessage.contains("never inserted"), e2.getMessage)

    // the COMPLETE delta verifies and advances, and says so
    AnnIndex.append(fresh, idxDir)
    assert(AnnIndex.readStamp(idxDir).contains((tbl, 1L, "id")))
    assert(AnnIndex.readMarker(idxDir).flatMap(_.advance).contains("verified"))
    assert(AnnIndex.topKLive(spark, idxDir, queries, 3, 2).count() > 0)

    // retrying the SAME append is IDEMPOTENT: the rows already landed
    // (the crashed-before-marker shape), so the retry re-verifies and
    // re-stamps without re-encoding — the codes table must not grow
    val nCodes = AnnIndex.read(spark, idxDir).encoded.count()
    AnnIndex.append(fresh, idxDir)
    assert(AnnIndex.read(spark, idxDir).encoded.count() == nCodes,
      "a retry of a landed append must not re-encode")
    assert(AnnIndex.readStamp(idxDir).contains((tbl, 1L, "id")))

    // at stamp==CURRENT a delta of NEW ids is a GHOST append — probes
    // would return ids the table does not hold, stamped 'verified'
    val eGhost = intercept[IllegalStateException](
      AnnIndex.append(corpus.filter($"id" < 2)
        .select(($"id" + 7777).as("id"), $"embedding"), idxDir))
    assert(eGhost.getMessage.contains("GHOST"), eGhost.getMessage)

    // a retry whose ids all overlap but whose EMBEDDINGS changed is
    // not a retry — the stored encodings diverge from the delta's
    // vectors, and a silent no-op would keep the stale twins scoring
    // under a 'verified' stamp
    val eDiv = intercept[IllegalStateException](
      AnnIndex.append(
        fresh.select($"id", reverse($"embedding").as("embedding")), idxDir))
    assert(eDiv.getMessage.contains("DIVERGE"), eDiv.getMessage)

    // v2: an UPDATE past the stamp — append cannot express changed
    // rows, with or without a feed
    spark.sql(s"UPDATE '$tbl' ON id SET embedding = embedding WHERE id < 2").collect()
    val e3 = intercept[IllegalStateException](
      AnnIndex.append(fresh.limit(1), idxDir))
    assert(e3.getMessage.contains("UPDATE"), e3.getMessage)
  }

  test("append without a materialized feed advances but records the assumption; deletes refuse") {
    import spark.implicits._
    val (corpus, cents, _) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_assume").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))
    val fresh = corpus.filter($"id" < 6)
      .select(($"id" + 2000).as("id"), $"embedding")
    fresh.createOrReplaceTempView("ann_assume_ins")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM ann_assume_ins) ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    // no materializeCdf: nothing to verify against — the advance stays
    // the caller's assertion, but the marker RECORDS that
    AnnIndex.append(fresh, idxDir)
    assert(AnnIndex.readStamp(idxDir).contains((tbl, 1L, "id")))
    assert(AnnIndex.readMarker(idxDir).flatMap(_.advance).contains("assumed"))

    // a DELETE in the gap refuses regardless of feeds: append cannot
    // remove encodings — the remedy is topKLive's reconcile or rebuild
    spark.sql(s"DELETE FROM '$tbl' ON id WHERE id >= 2000").collect()
    val e = intercept[IllegalStateException](
      AnnIndex.append(fresh.limit(1), idxDir))
    assert(e.getMessage.contains("DELETE") &&
      e.getMessage.contains("topKLive"), e.getMessage)
  }

  test("stamp marker round-trips a table path containing quotes and backslashes") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_esc").toString
    // legal on POSIX; unescaped it breaks the stamp JSON and the index
    // silently degrades to unstamped (round-13 advice)
    val tbl = base + """/we"ird\dir/table"""
    val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))
    assert(AnnIndex.readStamp(idxDir).contains((tbl, 0L, "id")),
      "the stamp must survive JSON-hostile characters in the table path")
    // and the contract actually engages: fresh probe works
    assert(AnnIndex.topKLive(spark, idxDir, queries, 3, 2).count() > 0)
  }

  test("filtered probe: metadata allow-list fills k from the filtered corpus") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val dir = java.nio.file.Files.createTempDirectory("ann_filter").toString
    AnnIndex.write(corpus, cents, cb, dir)
    val keep = corpus.filter($"id" % 3 =!= 1).select($"id")
    val got = AnnIndex.topK(queries, AnnIndex.read(spark, dir), 3, 2,
        keepIds = Some(keep))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // oracle: the inline fit over the pre-filtered corpus with the
    // SAME immutable artifacts — k fills from the filtered corpus
    val want = Similarity.ivfPqTopK(queries,
        corpus.filter($"id" % 3 =!= 1), cents, cb, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == want && got.nonEmpty)
    assert(!got.exists(_._2 % 3 == 1), "filtered ids must never rank")
    // post-filtering the unfiltered top-k instead UNDER-FILLS k — the
    // failure mode the pushed predicate exists to close
    val post = AnnIndex.topK(queries, AnnIndex.read(spark, dir), 3, 2)
      .filter($"id" % 3 =!= 1)
    assert(post.count() < got.size,
      "precondition: post-filtering must actually under-fill at this scale")
  }

  test("topKLive composes the metadata filter with the delete reconcile") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_livefilter").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))
    // delete-only divergence AND a caller predicate: the live-id
    // semi-join and the allow-list stack — the probe is the index of
    // (surviving ∩ allowed)
    spark.sql(s"DELETE FROM '$tbl' ON id WHERE id >= 40 AND id % 3 = 1").collect()
    val keep = corpus.filter($"id" % 2 === 0).select($"id")
    val got = AnnIndex.topKLive(spark, idxDir, queries, 3, 2,
        keepIds = Some(keep))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val want = Similarity.ivfPqTopK(queries,
        corpus.filter(!($"id" >= 40 && $"id" % 3 === 1) && $"id" % 2 === 0),
        cents, cb, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == want && got.nonEmpty)
    assert(got.forall(t => t._2 % 2 == 0 && !(t._2 >= 40 && t._2 % 3 == 1)))
  }

  test("reconcile materializes the delete divergence once and re-stamps at CURRENT") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_reconcile").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))
    spark.sql(s"DELETE FROM '$tbl' ON id WHERE id >= 40 AND id % 3 = 1").collect()

    val deleted = corpus.filter($"id" >= 40 && $"id" % 3 === 1).count()
    assert(AnnIndex.reconcile(spark, idxDir) == deleted,
      "reconcile must drop exactly the deleted rows' encodings")
    // stamp advanced to CURRENT, recorded as verified — every later
    // probe takes the stamp==cur fast path (no per-probe semi-join)
    assert(AnnIndex.readStamp(idxDir).contains((tbl, 1L, "id")))
    assert(AnnIndex.readMarker(idxDir).flatMap(_.advance).contains("verified"))
    assert(AnnIndex.read(spark, idxDir).encoded
      .filter($"id" >= 40 && $"id" % 3 === 1).count() == 0)
    // the materialized index answers exactly like the surviving-rows
    // rebuild with the same immutable artifacts
    val got = AnnIndex.topKLive(spark, idxDir, queries, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val rebuilt = java.nio.file.Files.createTempDirectory("ann_rec_want").toString
    AnnIndex.write(corpus.filter(!($"id" >= 40 && $"id" % 3 === 1)),
      cents, cb, rebuilt)
    val want = AnnIndex.topK(queries, AnnIndex.read(spark, rebuilt), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // idempotent: a second reconcile at stamp==CURRENT is a no-op
    assert(AnnIndex.reconcile(spark, idxDir) == 0L)
    // and a MERGE past the new stamp refuses — reconcile only
    // materializes delete-shaped divergence
    corpus.filter($"id" < 3).select(($"id" + 3000).as("id"), $"embedding")
      .createOrReplaceTempView("ann_rec_ins")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM ann_rec_ins) ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val e = intercept[IllegalStateException](AnnIndex.reconcile(spark, idxDir))
    assert(e.getMessage.contains("MERGE"), e.getMessage)
  }

  test("applyCdf applies insert+update+delete net divergence; probe == rebuild over CURRENT") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_apply").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    val idxDir2 = s"$base/index2" // second stamp for the vacuum arm
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))
    AnnIndex.write(corpus, cents, cb, idxDir2, source = Some((tbl, "id")))

    // three shapes in the gap, two of which append/reconcile refuse:
    // changed embeddings, removed rows, brand-new rows
    spark.sql(s"UPDATE '$tbl' ON id SET embedding = " +
      "transform(embedding, x -> -x) WHERE id >= 40 AND id % 5 = 2").collect()
    spark.sql(s"DELETE FROM '$tbl' ON id WHERE id >= 40 AND id % 5 = 4").collect()
    corpus.filter($"id" < 3)
      .select(($"id" + 5000).as("id"), reverse($"embedding").as("embedding"))
      .createOrReplaceTempView("ann_apply_ins")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM ann_apply_ins) ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()

    // the probe path names applyCdf as the incremental remedy
    val eLive = intercept[IllegalStateException](
      AnnIndex.topKLive(spark, idxDir, queries, 3, 2))
    assert(eLive.getMessage.contains("applyCdf"), eLive.getMessage)

    val nUpd = corpus.filter($"id" >= 40 && $"id" % 5 === 2).count()
    val nDel = corpus.filter($"id" >= 40 && $"id" % 5 === 4).count()
    val (dropped, appended) = AnnIndex.applyCdf(spark, idxDir)
    assert(dropped == nUpd + nDel,
      s"dropped $dropped, want updated $nUpd + deleted $nDel")
    assert(appended == nUpd + 3,
      s"appended $appended, want re-encoded $nUpd + 3 merged inserts")
    assert(AnnIndex.readStamp(idxDir).contains((tbl, 3L, "id")))
    assert(AnnIndex.readMarker(idxDir).flatMap(_.advance).contains("verified"))

    // fast path now; answers exactly like a rebuild over CURRENT with
    // the same immutable artifacts
    val got = AnnIndex.topKLive(spark, idxDir, queries, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val rebuilt = java.nio.file.Files.createTempDirectory("ann_apply_want").toString
    AnnIndex.write(
      graft.ops.Upsert.readWithDeletes(spark, s"$tbl/v3")
        .select($"id", $"embedding"),
      cents, cb, rebuilt)
    val want = AnnIndex.topK(queries, AnnIndex.read(spark, rebuilt), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == want && got.nonEmpty,
      "applied index must answer probes exactly like the rebuild")
    // idempotent at stamp==CURRENT
    assert(AnnIndex.applyCdf(spark, idxDir) == ((0L, 0L)))

    // vacuum arm: the second index is still stamped v0; reclaiming v0
    // removes the diff base, so applyCdf refuses instead of guessing
    spark.sql(s"VACUUM '$tbl' RETAIN 1 SNAPSHOTS").collect()
    val eVac = intercept[IllegalStateException](
      AnnIndex.applyCdf(spark, idxDir2))
    assert(eVac.getMessage.contains("RECLAIMED") &&
      eVac.getMessage.contains("rebuild"), eVac.getMessage)
  }

  test("applyCdf rewrites only the files holding touched ids; the rest survive on disk") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_filegran").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    // enough files that a narrow wave provably misses most of them
    AnnIndex.write(corpus, cents, cb, idxDir,
      numRangePartitions = 8, source = Some((tbl, "id")))
    def fileStamps: Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$idxDir/codes.parquet")
      d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    }
    val before = fileStamps
    assert(before.size >= 6, s"fixture too small for the file-count check: $before")
    // a two-id wave: the rewrite may touch only the files holding them
    spark.sql(s"UPDATE '$tbl' ON id SET embedding = " +
      "transform(embedding, x -> -x) WHERE id = 41 OR id = 53").collect()
    val (dropped, appended) = AnnIndex.applyCdf(spark, idxDir)
    assert(dropped == 2 && appended == 2, s"($dropped, $appended)")
    val after = fileStamps
    val survivors = before.count { case (n, st) => after.get(n).contains(st) }
    assert(survivors >= before.size - 3,
      s"a 2-id wave rewrote ${before.size - survivors} of ${before.size} " +
        "codes files — the rewrite is not file-granular")
    // and the maintained index still answers exactly like a rebuild
    val got = AnnIndex.topKLive(spark, idxDir, queries, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val rebuilt = java.nio.file.Files.createTempDirectory("ann_fg_want").toString
    AnnIndex.write(
      graft.ops.Upsert.readWithDeletes(spark, s"$tbl/v1")
        .select($"id", $"embedding"),
      cents, cb, rebuilt)
    val want = AnnIndex.topK(queries, AnnIndex.read(spark, rebuilt), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("codes Bloom filters: sound prune, in every file a writer lands, safe fallbacks") {
    import spark.implicits._
    val (corpus, cents, _) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_bloom").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    val codesDir = s"$idxDir/codes.parquet"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir,
      numRangePartitions = 8, source = Some((tbl, "id")))
    def codesFiles = graft.ops.Layout.listDataFiles(spark, codesDir)
    def allFiltered = codesFiles.forall(f =>
      graft.ops.Bloom.columnsOf(spark, f) == Seq("id"))
    def prune(ids: Seq[Long], cap: Int = AnnIndex.MaxProbe) =
      AnnIndex.candidateCodes(spark, codesDir, codesFiles, ids.toDF("id"), cap)
    def basenames(fs: Seq[String]) = fs.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    // the build filters every codes file
    assert(allFiltered)

    // SOUND: every file that truly holds a touched id survives the prune
    val touched = Seq(41L, 53L, 97L).toDF("id")
    val holders = spark.read.parquet(codesFiles: _*)
      .select(col("id"), col("_metadata.file_path").as("f"))
      .join(touched, Seq("id")).select("f").distinct()
      .collect().map(_.getString(0)).toSet
    assert(holders.nonEmpty)
    val kept = prune(Seq(41L, 53L, 97L))
    assert(basenames(holders.toSeq).subsetOf(basenames(kept)),
      "the Bloom prune dropped a file that holds a touched id")

    // EFFECTIVE: ids absent from the corpus prune every file
    val absent = Seq(10000001L, 10000002L, 10000003L)
    assert(prune(absent).isEmpty)

    // append filters the fresh files
    val fresh = corpus.filter($"id" < 5)
      .select(($"id" + 1000000L).as("id"), $"embedding")
    fresh.createOrReplaceTempView("ann_bloom_ins")
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM ann_bloom_ins) ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    graft.ops.Upsert.materializeCdf(spark, tbl, 1L)
    AnnIndex.append(fresh, idxDir)
    assert(allFiltered)
    val keptFresh = prune(Seq(1000000L))
    assert(keptFresh.nonEmpty && keptFresh.size < codesFiles.size,
      s"appended-id prune kept ${keptFresh.size} of ${codesFiles.size}")

    // maintenance (applyCdf) and optimize keep every file filtered + the prune sound
    spark.sql(s"UPDATE '$tbl' ON id SET embedding = " +
      "transform(embedding, x -> -x) WHERE id = 41").collect()
    AnnIndex.applyCdf(spark, idxDir)
    assert(allFiltered)
    AnnIndex.optimize(spark, idxDir)
    assert(allFiltered)
    val kept41 = prune(Seq(41L))
    val holds41 = spark.read.parquet(codesFiles: _*)
      .select(col("id"), col("_metadata.file_path").as("f"))
      .filter($"id" === 41L).select("f").collect().map(_.getString(0)).toSet
    assert(basenames(holds41.toSeq).subsetOf(basenames(kept41)))

    // conservative fallbacks: a wave past the cap skips the Bloom leg
    // (the range [41, 10000001] spans every file's id bounds)
    val wide = Seq(41L, 10000001L)
    assert(prune(wide).size < codesFiles.size)
    assert(prune(wide, cap = 1) == codesFiles)
    // and files written without a filter are candidates
    val rows = spark.read.parquet(codesFiles: _*).localCheckpoint()
    val old = codesFiles
    rows.write.mode("append").parquet(codesDir)
    old.foreach(f => graft.ops.Fs.of(idxDir, spark).delete(new org.apache.hadoop.fs.Path(f), false))
    assert(codesFiles.forall(f => graft.ops.Bloom.columnsOf(spark, f).isEmpty))
    assert(prune(wide) == codesFiles)
    // and an index without filters still maintains correctly
    spark.sql(s"UPDATE '$tbl' ON id SET embedding = " +
      "transform(embedding, x -> -x) WHERE id = 53").collect()
    val (d2, a2) = AnnIndex.applyCdf(spark, idxDir)
    assert(d2 == 1 && a2 == 1)
  }

  test("maintenance mutators serialize: racing applyCdf passes have exactly-once effect") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_race").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))
    spark.sql(s"UPDATE '$tbl' ON id SET embedding = " +
      "transform(embedding, x -> -x) WHERE id >= 40 AND id % 7 = 2").collect()

    // four racing maintainers: without the _MAINTLOCK serialization
    // their marker-delete/rewrite/swap sequences interleave (an index
    // left unreadable at best, a marker stamped over foreign bytes at
    // worst); with it exactly ONE pass applies and the losers observe
    // stamp==CURRENT and no-op
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence((1 to 4).map(_ => Future(AnnIndex.applyCdf(spark, idxDir)))),
      5.minutes)
    val nUpd = corpus.filter($"id" >= 40 && $"id" % 7 === 2).count()
    assert(results.map(_._1).sum == nUpd && results.map(_._2).sum == nUpd,
      s"racing passes must have exactly-once effect, got $results (want one ($nUpd, $nUpd))")
    assert(results.count(_ == ((0L, 0L))) == 3)
    assert(AnnIndex.readStamp(idxDir).contains((tbl, 1L, "id")))
    // the index is readable and correct after the race
    val got = AnnIndex.topKLive(spark, idxDir, queries, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val rebuilt = java.nio.file.Files.createTempDirectory("ann_race_want").toString
    AnnIndex.write(
      graft.ops.Upsert.readWithDeletes(spark, s"$tbl/v1")
        .select($"id", $"embedding"),
      cents, cb, rebuilt)
    val want = AnnIndex.topK(queries, AnnIndex.read(spark, rebuilt), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("long gaps refuse at the walk cap with the applyCdf remedy; listings stay O(1)") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_walkcap").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))
    // a delete-shaped commit wave the index has not seen (queries and
    // seeds survive every arm)
    (0 until 4).foreach(i =>
      spark.sql(s"DELETE FROM '$tbl' ON id WHERE id >= 40 AND id % 11 = $i").collect())

    // within the cap the walk adjudicates as before
    spark.conf.set(AnnIndex.MaxWalkConf, "4")
    try {
      assert(AnnIndex.topKLive(spark, idxDir, queries, 3, 2).count() > 0)

      // the walks' metadata cost is O(1) LISTINGS per adjudication
      // (snapshot dir + _commitlog), NOT a listing/probe per gap
      // version — the per-version reads are verb evidence only
      graft.ops.Fs.Audit.enable()
      AnnIndex.topKLive(spark, idxDir, queries, 3, 2).count()
      val ops = graft.ops.Fs.Audit.disable()
      val listings = ops.collect { case (k, n) if k.startsWith("list:") => n }.sum
      assert(listings <= 6L,
        s"a 4-version gap adjudication issued $listings listings — " +
          s"the walk is not batched: $ops")

      // past the cap: refuse BEFORE paying per-version reads, naming
      // the walk-free remedy
      spark.conf.set(AnnIndex.MaxWalkConf, "3")
      val e = intercept[IllegalStateException](
        AnnIndex.topKLive(spark, idxDir, queries, 3, 2))
      assert(e.getMessage.contains("walk cap") &&
        e.getMessage.contains("applyCdf"), e.getMessage)
      val eRec = intercept[IllegalStateException](
        AnnIndex.reconcile(spark, idxDir))
      assert(eRec.getMessage.contains("walk cap"), eRec.getMessage)

      // the named remedy works: applyCdf diffs endpoints (no walk),
      // and the probe then answers like a rebuild over CURRENT
      AnnIndex.applyCdf(spark, idxDir)
      val got = AnnIndex.topKLive(spark, idxDir, queries, 3, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      val rebuilt = java.nio.file.Files.createTempDirectory("ann_walk_want").toString
      AnnIndex.write(
        graft.ops.Upsert.readWithDeletes(spark, s"$tbl/v4")
          .select($"id", $"embedding"),
        cents, cb, rebuilt)
      val want = AnnIndex.topK(queries, AnnIndex.read(spark, rebuilt), 3, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      assert(got == want && got.nonEmpty)
    } finally spark.conf.unset(AnnIndex.MaxWalkConf)
  }

  test("subset-built index backfills rows the table already holds; true ghosts still refuse") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_subset").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    // index deliberately built over a SUBSET of the table (seeds kept)
    val rest = corpus.filter($"id" >= 8 && $"id" % 7 === 3)
    AnnIndex.write(corpus.filter($"id" < 8 || $"id" % 7 =!= 3),
      cents, cb, idxDir, source = Some((tbl, "id")))
    // appending the remaining rows is a legitimate backfill: the ids
    // exist in the table at CURRENT, so this is not a ghost append
    AnnIndex.append(rest, idxDir)
    assert(AnnIndex.readStamp(idxDir).contains((tbl, 0L, "id")))
    // the backfilled index answers exactly like a full build
    val full = java.nio.file.Files.createTempDirectory("ann_subset_want").toString
    AnnIndex.write(corpus, cents, cb, full)
    val got = AnnIndex.topKLive(spark, idxDir, queries, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val want = AnnIndex.topK(queries, AnnIndex.read(spark, full), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // a delta mixing table rows with ids the table does NOT hold is
    // still a ghost append
    val eGhost = intercept[IllegalStateException](
      AnnIndex.append(corpus.filter($"id" < 2)
        .select(($"id" + 8888).as("id"), $"embedding"), idxDir))
    assert(eGhost.getMessage.contains("GHOST"), eGhost.getMessage)
  }

  test("maintenance on a nonexistent index path names the artifact, not a raw NIO error") {
    val e = intercept[IllegalArgumentException](
      AnnIndex.reconcile(spark,
        s"/tmp/graft_no_such_index_${System.nanoTime()}"))
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("applyCdf measures quantization drift; a planted shift trips the threshold, in-distribution does not") {
    import spark.implicits._
    val (corpus, cents, _) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val base = java.nio.file.Files.createTempDirectory("ann_drift").toString
    val tbl = s"$base/table"; val idxDir = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    AnnIndex.write(corpus, cents, cb, idxDir, source = Some((tbl, "id")))
    // the build records the corpus-mean quantization error as baseline
    val b0 = AnnIndex.readMarker(idxDir).flatMap(_.qerrBase)
    assert(b0.exists(_ > 0), s"no quantization baseline recorded: $b0")

    spark.conf.set(AnnIndex.MaxDriftConf, "10.0")
    try {
      // in-distribution wave: a 0.1% rescale (an identity update nets
      // to NOTHING in the endpoint diff) — the re-encode quantizes
      // like the corpus, ratio ~1, no refusal
      spark.sql(s"UPDATE '$tbl' ON id SET embedding = " +
        "transform(embedding, x -> x * CAST(1.001 AS FLOAT)) " +
        "WHERE id >= 40 AND id % 9 = 1").collect()
      AnnIndex.applyCdf(spark, idxDir)
      val r1 = AnnIndex.readMarker(idxDir).flatMap(_.qerrRatio)
      assert(r1.exists(r => r > 0 && r < 10.0), s"in-distribution ratio: $r1")
      assert(AnnIndex.readMarker(idxDir).flatMap(_.qerrBase) == b0,
        "the baseline must survive the marker rewrite")

      // planted distribution shift: scale the vectors x100 — squared
      // quantization error explodes against artifacts fitted on the
      // unscaled corpus, and the pass REFUSES before touching files
      spark.sql(s"UPDATE '$tbl' ON id SET embedding = " +
        "transform(embedding, x -> x * CAST(100.0 AS FLOAT)) " +
        "WHERE id >= 40 AND id % 9 = 2").collect()
      val e = intercept[IllegalStateException](AnnIndex.applyCdf(spark, idxDir))
      assert(e.getMessage.contains("DRIFTED") &&
        e.getMessage.contains("rebuild"), e.getMessage)
      // refused pass left the index intact (stamp unmoved, readable)
      assert(AnnIndex.readStamp(idxDir).exists(_._2 == 1L))

      // threshold unset: the same wave applies and RECORDS the drift
      spark.conf.unset(AnnIndex.MaxDriftConf)
      AnnIndex.applyCdf(spark, idxDir)
      assert(AnnIndex.readMarker(idxDir).flatMap(_.qerrRatio).exists(_ > 10.0))
      assert(AnnIndex.readMarker(idxDir).flatMap(_.qerrBase) == b0)
    } finally spark.conf.unset(AnnIndex.MaxDriftConf)
  }

  test("optimize compacts under the maintenance lock: bit-identical probes, races excluded") {
    import spark.implicits._
    val (corpus, cents, queries) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val idxDir = java.nio.file.Files.createTempDirectory("ann_optimize").toString
    val base = corpus.filter($"id" < 8 || $"id" % 5 =!= 3)
    val delta = corpus.filter($"id" >= 8 && $"id" % 5 === 3)
    AnnIndex.write(base, cents, cb, idxDir, numRangePartitions = 4)
    AnnIndex.append(delta, idxDir) // accumulates extra small files
    val markerBefore = graft.ops.Fs.readTextIfExists(graft.ops.Fs.of(idxDir),
      new org.apache.hadoop.fs.Path(s"$idxDir/INDEX_OK")).get
    val got0 = AnnIndex.topK(queries, AnnIndex.read(spark, idxDir), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

    val (nb, na) = AnnIndex.optimize(spark, idxDir, numRangePartitions = 2)
    assert(nb > 2 && na <= 2, s"optimize went $nb -> $na files")
    // row-preserving and marker-preserving: probes bit-identical, the
    // recorded stamp/advance text untouched
    val got1 = AnnIndex.topK(queries, AnnIndex.read(spark, idxDir), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got1 == got0 && got0.nonEmpty)
    assert(graft.ops.Fs.readTextIfExists(graft.ops.Fs.of(idxDir),
      new org.apache.hadoop.fs.Path(s"$idxDir/INDEX_OK")).contains(markerBefore))

    // racing optimizes serialize under _MAINTLOCK — the loser
    // re-clusters the winner's output instead of double-swapping, and
    // the index stays readable and bit-identical throughout
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((1 to 3).map(_ =>
      Future(AnnIndex.optimize(spark, idxDir, numRangePartitions = 2)))), 5.minutes)
    val got2 = AnnIndex.topK(queries, AnnIndex.read(spark, idxDir), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got2 == got0)

    // an index missing its marker (crashed mid-swap) refuses to
    // optimize with the artifact message, not a half-swap
    graft.ops.Fs.of(idxDir).delete(
      new org.apache.hadoop.fs.Path(s"$idxDir/INDEX_OK"), false)
    val e = intercept[IllegalArgumentException](AnnIndex.optimize(spark, idxDir))
    assert(e.getMessage.contains("INDEX_OK"), e.getMessage)
  }

  test("the persisted codes table is cell-clustered (skippable row groups)") {
    val (corpus, cents, _) = fixture
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val dir = java.nio.file.Files.createTempDirectory("ann_layout").toString
    AnnIndex.write(corpus, cents, cb, dir)
    // footer manifest over the codes table: cell min/max ranges of
    // distinct files must not all overlap — the clustering that lets a
    // probe skip most of the table at scale
    val stats = graft.ops.Layout.parquetFileStats(spark, s"$dir/codes.parquet")
      .filter(col("column") === "cell")
      .select(col("file"), col("min_value").cast("long"), col("max_value").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(stats.nonEmpty)
    if (stats.map(_._1).distinct.length > 1) {
      val ordered = stats.sortBy(_._2)
      val disjoint = ordered.sliding(2).forall {
        case Array((_, _, hi), (_, lo, _)) => lo >= hi
        case _ => true
      }
      assert(disjoint, s"codes files' cell ranges overlap: ${ordered.toSeq}")
    }
  }
}
