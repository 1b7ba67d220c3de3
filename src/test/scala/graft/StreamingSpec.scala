package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.{col, sum, when}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.streaming.Streams.{AnnualRow, Survey}

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("windowed event counts run over the batch parquet as a stream") {
    val q = Streams.windowedEventCounts(spark, "/root/testdata/sf0.001")
      .writeStream.outputMode("append")
      .format("memory").queryName("wincounts")
      .start()
    q.processAllAvailable()
    q.stop()
    // append mode only emits closed windows; with a 1h watermark over a
    // 30-day batch, all but the last window close
    val n = spark.sql("SELECT count(*) FROM wincounts").collect()(0).getLong(0)
    assert(n > 0, "expected closed windows in the memory sink")
  }

  test("windowed counts: streaming complete-mode output EQUALS the batch aggregation") {
    // The strongest property a streaming op can have: same input, same
    // answer as batch. Complete mode emits every window, so the memory
    // sink must match groupBy(window) over the same parquet exactly.
    val dir = "/root/testdata/sf0.001"
    val q = Streams.windowedEventCounts(spark, dir)
      .writeStream.outputMode("complete")
      .format("memory").queryName("wincounts_all")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT window.start, event_type, n, max_v FROM wincounts_all")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = Tables.events(spark, dir)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "6 hours"), col("event_type"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.max(col("value")).as("max_v"))
      .select(col("window.start"), col("event_type"), col("n"), col("max_v"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch,
      s"stream/batch diverged: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("incremental annualization recomputes a tree's series on arrival") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Survey]
    val q = Streams.annualizeSurveys(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("annual")
      .start()

    input.addData(Survey("t1", 2005, 10.0), Survey("t1", 2010, 12.0))
    q.processAllAvailable()
    val first = spark.table("annual").as[AnnualRow].collect()
    assert(first.count(_.tree_ID == "t1") == 6) // 2005..2010
    val d2007 = first.find(r => r.YEAR == 2007).get
    assert(math.abs(d2007.DIA - 10.8) < 1e-12 && d2007.interpolated)

    // a new survey arrives -> the series extends and re-emits
    input.addData(Survey("t1", 2015, 14.0))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("annual").as[AnnualRow].collect()
    assert(all.count(_.tree_ID == "t1") == 6 + 11) // first emit + re-emit
    assert(all.exists(r => r.YEAR == 2012 && math.abs(r.DIA - 12.8) < 1e-12))
  }

  test("session windows merge events within the gap and close on watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = Streams.sessionizedCounts(events, "ts", "user_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    // user 1: two events 10 min apart (one session), then one 2h later
    // (a second session); user 2: a single event
    input.addData((t(10, 0), 1L), (t(10, 10), 1L), (t(12, 30), 1L), (t(10, 5), 2L))
    q.processAllAvailable()
    // advance the watermark far past every session end so they all emit
    input.addData((t(20, 0), 99L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions")
      .select("user_id", "n_events").as[(Long, Long)].collect().sorted
    assert(rows.count(_._1 == 1L) == 2, s"user 1 should have 2 sessions: ${rows.toSeq}")
    assert(rows.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(1L, 2L))
    assert(rows.count(_._1 == 2L) == 1 && rows.filter(_._1 == 2L).head._2 == 1L)
  }

  test("streaming dedup keeps first doc per fingerprint within the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.dedupDocuments(docs, "ts", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_docs")
      .start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    input.addData(
      (t(0), "a", "the quick fox"),
      (t(1), "b", "THE  quick fox!"), // same normalized fingerprint as a
      (t(2), "c", "something else"))
    q.processAllAvailable()
    input.addData((t(3), "d", "the quick fox")) // still a duplicate
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_docs").select("doc_id").as[String].collect().toSet
    assert(kept == Set("a", "c"), s"expected first-per-fingerprint, got $kept")
  }

  test("stream-static enrichment joins each micro-batch to the dimension") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val stream = input.toDF().toDF("user_id", "value")
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = Streams.enrichWithDim(stream, dim, Seq("user_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched")
      .start()
    input.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enriched")
      .select("user_id", "tier").as[(Long, Option[String])].collect().toMap
    assert(rows == Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
  }

  test("stream-stream join correlates events within the time bound only") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val q = Streams.correlateStreams(
        clicks.toDF().toDF("ts", "user_id"),
        buys.toDF().toDF("ts", "user_id"),
        "user_id", "ts", within = "1 hour")
      .select(col("l.user_id"), col("l.ts").as("click_ts"), col("r.ts").as("buy_ts"))
      .writeStream.outputMode("append")
      .format("memory").queryName("correlated")
      .start()
    // user 1 buys 30 min after click (match); user 2 buys 3h after (no
    // match); user 3 buys with no click (no match)
    clicks.addData((t(10, 0), 1L), (t(10, 0), 2L))
    buys.addData((t(10, 30), 1L), (t(13, 0), 2L), (t(10, 15), 3L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("correlated")
      .select("user_id").as[Long].collect().toSeq
    assert(rows == Seq(1L), s"only user 1 is inside the window, got $rows")
  }

  test("left-outer stream-stream join: non-converters emit null-padded after watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val q = Streams.correlateStreamsLeftOuter(
        clicks.toDF().toDF("ts", "user_id"),
        buys.toDF().toDF("ts", "user_id"),
        "user_id", "ts", within = "1 hour", delay = "30 minutes")
      .select(col("l.user_id"), col("r.ts").as("buy_ts"))
      .writeStream.outputMode("append")
      .format("memory").queryName("lo_correlated")
      .start()
    // user 1 converts in-window; user 2's buy is 3h late (outside);
    // user 4 never buys
    clicks.addData((t(10, 0), 1L), (t(10, 0), 2L), (t(10, 0), 4L))
    buys.addData((t(10, 30), 1L), (t(13, 0), 2L))
    q.processAllAvailable()
    // advance BOTH watermarks far past click+within so the state store
    // can emit its null verdicts for users 2 and 4
    clicks.addData((t(18, 0), 99L))
    buys.addData((t(18, 0), 98L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("lo_correlated")
      .select($"user_id", $"buy_ts".isNull.as("noBuy"))
      .as[(Long, Boolean)].collect().toSet
    assert(rows.contains((1L, false)), s"converter must match: $rows")
    assert(rows.contains((2L, true)) && rows.contains((4L, true)),
      s"non-converters must emit null-padded: $rows")
  }

  test("foreachBatch sink writes per-batch dirs and replays idempotently") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val input = MemoryStream[Long]
    val q = Streams.sinkBatchesIdempotent(input.toDF().toDF("v"), out, ckpt)
    input.addData(1L, 2L, 3L)
    q.processAllAvailable()
    input.addData(4L, 5L)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out)
    assert(got.select("v").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // batch_id is a partition column: each micro-batch landed in its own dir
    assert(got.select("batch_id").distinct().count() == 2)
    // replaying a batch id overwrites its own directory — rows don't double
    Seq(1L, 2L, 3L).toDF("v").write.mode("overwrite").parquet(s"$out/batch_id=0")
    assert(spark.read.parquet(out).count() == 5)
  }

  test("streaming minhash near-dup flags collisions against earlier batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Streams.nearDupCandidatesMinHash(
        input.toDF().toDF("id", "text"), "id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup")
      .start()

    input.addData((1L, "alpha beta gamma delta"), (2L, "totally unrelated content row"))
    q.processAllAvailable()
    assert(spark.table("neardup").count() == 0) // nothing collides yet

    // identical token set arrives in a LATER batch -> candidate vs history
    input.addData((3L, "delta gamma beta alpha"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("neardup")
      .as[Streams.DupCandidate].collect()
    assert(out.nonEmpty)
    assert(out.forall(c => c.id == 3L && c.dup_of == 1L))
    assert(out.map(_.band).distinct.length == 2) // collides on both bands
  }

  test("streaming minhash near-dup EQUALS the batch LSH over the same corpus") {
    // The stream-vs-batch parity check (round-7 verdict #6), on the real
    // documents table. Two properties:
    //   (1) single batch: the stream's (id, dup_of, band) pairs are
    //       EXACTLY the batch bucket pairs (canon = min id per bucket);
    //   (2) split into two micro-batches: emitted pair sets differ by
    //       canon choice (first-seen vs global min) but must induce the
    //       SAME duplicate clusters — the semantics that matter.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docRows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long"), $"text").as[(Long, String)].collect().toSeq

    def batchPairs: Set[(Long, Long, Int)] =
      Streams.bandedBuckets(docRows.toDF("id", "text"), "id", "text",
          numPerms = 6, bandSize = 3)
        .groupBy("band", "sig")
        .agg(functions.min($"id").as("canon"),
          functions.collect_set($"id").as("ids"))
        .select($"band", $"canon", functions.explode($"ids").as("id"))
        .filter($"id" =!= $"canon")
        .select($"id", $"canon", $"band")
        .as[(Long, Long, Int)].collect().toSet

    def runStream(batches: Seq[Seq[(Long, String)]], name: String): Set[(Long, Long, Int)] = {
      val input = MemoryStream[(Long, String)]
      val q = Streams.nearDupCandidatesMinHash(
          input.toDF().toDF("id", "text"), "id", "text")
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
        .start()
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[Streams.DupCandidate].collect()
        .map(c => (c.id, c.dup_of, c.band)).toSet
    }

    val expected = batchPairs
    assert(expected.nonEmpty, "fixture has no near-dup buckets — parity check is vacuous")

    // (1) one micro-batch: first-seen canon == global min -> exact parity
    val oneShot = runStream(Seq(docRows), "neardup_parity1")
    assert(oneShot == expected,
      s"single-batch stream diverged from batch LSH: only-stream=${(oneShot -- expected).take(3)} " +
        s"only-batch=${(expected -- oneShot).take(3)}")

    // (2) two micro-batches: same clusters (union-find over pair edges)
    val (a, b) = docRows.splitAt(docRows.length / 2)
    val twoShot = runStream(Seq(a, b), "neardup_parity2")
    def clusters(pairs: Set[(Long, Long, Int)]): Set[Set[Long]] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (i, j, _) => parent(find(i)) = find(j) }
      parent.keys.groupBy(find).values.map(_.toSet).filter(_.size > 1).toSet
    }
    assert(clusters(twoShot) == clusters(expected),
      "two-batch stream induced different duplicate clusters than batch LSH")
  }

  test("event-time TTL drops buckets behind the watermark, keeps live ones") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = Streams.nearDupCandidatesMinHashEventTime(
        input.toDF().toDF("ts", "id", "text"), "id", "ts", "text",
        delay = "0 seconds", ttlMs = 10 * 60 * 1000L) // 10 min TTL
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_et")
      .start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

    input.addData((t(10, 0), 1L, "alpha beta gamma delta"))
    q.processAllAvailable()
    // same token set 5 min later, inside the TTL -> pairs with doc 1
    input.addData((t(10, 5), 2L, "delta gamma beta alpha"))
    q.processAllAvailable()
    // unrelated doc 2h later pushes the watermark far past 10:05 + TTL
    input.addData((t(12, 0), 50L, "totally unrelated content row"))
    q.processAllAvailable()
    // doc 1's bucket is now expired history: doc 3 with the SAME token
    // set must NOT pair with it, becoming the bucket's new canonical doc
    input.addData((t(12, 1), 3L, "alpha beta gamma delta"))
    q.processAllAvailable()
    // ...and a clone inside doc 3's TTL window still flags, against doc 3
    input.addData((t(12, 2), 4L, "beta alpha delta gamma"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("neardup_et").as[Streams.DupCandidate].collect()
    assert(out.map(c => (c.id, c.dup_of)).toSet == Set((2L, 1L), (4L, 3L)),
      s"got ${out.toSeq}")
  }

  test("event-time TTL state PLATEAUS under constant input — bounded by horizon, not history") {
    // The 100 TB streaming concern is state, not throughput: with a
    // constant rate of NEW buckets per batch and a TTL much shorter than
    // the stream, stateOperators.numRowsTotal must level off (old
    // buckets expire as the watermark advances) instead of growing with
    // history.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = Streams.nearDupCandidatesMinHashEventTime(
        input.toDF().toDF("ts", "id", "text"), "id", "ts", "text",
        delay = "0 seconds", ttlMs = 10 * 60 * 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_plateau")
      .start()
    val nBatches = 6
    val docsPerBatch = 8
    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    for (b <- 0 until nBatches) {
      // batch-unique vocabularies -> every batch creates fresh buckets;
      // batches land 1 h apart, far past the 10 min TTL
      val rows = (0 until docsPerBatch).map { d =>
        (java.sql.Timestamp.valueOf(f"2026-01-01 ${10 + b}%02d:00:00"),
          (b * 100 + d).toLong,
          (0 until 6).map(w => s"b${b}d${d}w$w").mkString(" "))
      }
      input.addData(rows: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      counts += q.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
        .lastOption.map(_.numRowsTotal).getOrElse(0L)
    }
    q.stop()
    val perBatchBuckets = counts.head // batch 0's fresh-bucket count
    assert(perBatchBuckets > 0)
    // history would be nBatches * perBatchBuckets; the horizon holds at
    // most ~2 batches' worth (current + not-yet-GC'd previous)
    assert(counts.last <= 2 * perBatchBuckets,
      s"state grew with history: $counts")
    // plateau: the tail is flat (same fresh load, same expiry), not rising
    assert(counts.takeRight(3).distinct.size == 1,
      s"tail not flat: $counts")
  }

  test("streaming windowed approx-distinct registers EQUAL the batch HLL bit-for-bit") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val stream = Streams.approxDistinctRegistersByWindow(
      input.toDF().toDF("ts", "user"), "ts", "user", "10 minutes")
    val q = stream.writeStream.format("memory").queryName("hllwin")
      .outputMode("complete").start()
    // two micro-batches, duplicate users within and across batches
    input.addData((ts(1), "a"), (ts(2), "b"), (ts(3), "a"), (ts(12), "c"))
    q.processAllAvailable()
    input.addData((ts(4), "d"), (ts(13), "c"), (ts(14), "a"))
    q.processAllAvailable()
    val got = spark.table("hllwin")
      .select($"w.start".cast("long").as("w0"), $"bucket", $"m_j")
    // batch reference over the SAME rows
    val all = Seq((ts(1), "a"), (ts(2), "b"), (ts(3), "a"), (ts(12), "c"),
      (ts(4), "d"), (ts(13), "c"), (ts(14), "a")).toDF("ts", "user")
    val batch = graft.ops.Sketches.hllRegistersBy(
      all.select(functions.window($"ts", "10 minutes").as("w"), $"user")
        .select($"w.start".cast("long").as("grp"), $"user"), "grp", "user")
      .select($"grp".as("w0"), $"bucket", $"m_j")
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "streaming registers must equal the batch sketch exactly")
    q.stop()
  }

  test("streaming CDC sink with deletes: upsert/delete ops land in one commit each") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tbl = java.nio.file.Files.createTempDirectory("cdctbl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdcckpt").toString
    val input = MemoryStream[(Long, Long, String, String)]
    val q = Streams.upsertSink(
      input.toDF().toDF("k", "seq", "v", "op"), tbl, ckpt,
      keyCol = "k", orderCol = "seq", opCol = Some("op"))
    // batch 0: three inserts
    input.addData((1L, 1L, "a", "c"), (2L, 2L, "b", "c"), (3L, 3L, "c", "c"))
    q.processAllAvailable()
    // batch 1: delete key 2, update key 3, insert key 9; key 1 deleted
    // then re-inserted in the SAME batch (last-per-key wins)
    input.addData((2L, 4L, null, "d"), (3L, 5L, "c2", "u"),
      (9L, 6L, "z", "c"), (1L, 7L, null, "d"), (1L, 8L, "a2", "c"))
    q.processAllAvailable()
    q.stop()
    val cur = spark.read.parquet(Streams.currentSnapshot(tbl).get)
    val state = cur.select($"k", $"v").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "a2", 3L -> "c2", 9L -> "z"),
      s"CDC state wrong: $state")
    assert(!cur.columns.contains("op"), "op column must not be stored")
  }

  test("composite-key streaming CDC sink: tuple-granular merges and deletes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tbl = java.nio.file.Files.createTempDirectory("cdccomp").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdccompck").toString
    val input = MemoryStream[(Long, Long, Long, String, String)]
    val q = Streams.upsertSinkKeys(
      input.toDF().toDF("k1", "k2", "seq", "v", "op"), tbl, ckpt,
      keyCols = Seq("k1", "k2"), orderCol = "seq", opCol = Some("op"))
    // batch 0: tuples sharing k1 but differing in k2 are DISTINCT keys
    input.addData((1L, 0L, 1L, "a", "c"), (1L, 1L, 2L, "b", "c"),
      (2L, 0L, 3L, "c", "c"))
    q.processAllAvailable()
    // batch 1: delete (1,0) only; update (1,1); same-batch last-per-TUPLE
    // on (2,0); insert a new tuple reusing k1=2
    input.addData((1L, 0L, 4L, null, "d"), (1L, 1L, 5L, "b2", "u"),
      (2L, 0L, 6L, "mid", "u"), (2L, 0L, 7L, "c2", "u"),
      (2L, 9L, 8L, "z", "c"))
    q.processAllAvailable()
    q.stop()
    val cur = spark.read.parquet(Streams.currentSnapshot(tbl).get)
    val state = cur.select($"k1", $"k2", $"v").as[(Long, Long, String)]
      .collect().map { case (a, b, v) => (a, b) -> v }.toMap
    assert(state == Map((1L, 1L) -> "b2", (2L, 0L) -> "c2", (2L, 9L) -> "z"),
      s"composite CDC state wrong: $state")
  }

  test("table ownership: SQL commits refuse a stream-owned table; other writers refused") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tbl = java.nio.file.Files.createTempDirectory("owntbl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ownckpt").toString
    val input = MemoryStream[(Long, Long, String)]
    val q = Streams.upsertSink(
      input.toDF().toDF("k", "seq", "v"), tbl, ckpt,
      keyCol = "k", orderCol = "seq")
    input.addData((1L, 1L, "a"), (2L, 2L, "b"))
    q.processAllAvailable()
    q.stop()

    // a SQL MERGE against the stream-owned table refuses loudly
    spark.sql("SELECT CAST(5 AS BIGINT) AS k, CAST(9 AS BIGINT) AS seq, 'x' AS v")
      .createOrReplaceTempView("own_upd")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO '$tbl' USING (SELECT * FROM own_upd) ON k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    assert(e.getMessage.contains("streaming sink"), e.getMessage)

    // a DIFFERENT streaming query (new checkpoint) is also refused
    val ckpt2 = java.nio.file.Files.createTempDirectory("ownckpt2").toString
    val input2 = MemoryStream[(Long, Long, String)]
    val q2 = Streams.upsertSink(
      input2.toDF().toDF("k", "seq", "v"), tbl, ckpt2,
      keyCol = "k", orderCol = "seq")
    input2.addData((7L, 1L, "q"))
    val e2 = intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    assert(e2.getMessage.contains("owned by"), e2.getMessage)

    // deleting the marker hands ownership over: the SQL MERGE commits
    assert(new java.io.File(tbl, "_WRITER").delete())
    spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM own_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val state = spark.read.parquet(Streams.currentSnapshot(tbl).get)
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "a", 2L -> "b", 5L -> "x"), state.toString)
  }

  test("streaming upsert sink: snapshots accumulate CDC state exactly") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tbl = java.nio.file.Files.createTempDirectory("cowtbl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cowckpt").toString
    val input = MemoryStream[(Long, Long, String)]
    val q = Streams.upsertSink(
      input.toDF().toDF("k", "seq", "v"), tbl, ckpt,
      keyCol = "k", orderCol = "seq")
    // batch 0: keys 1..4; key 2 arrives twice — last (seq) wins
    input.addData((1L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "b2"),
      (3L, 4L, "c"), (4L, 5L, "d"))
    q.processAllAvailable()
    val s0 = Streams.currentSnapshot(tbl).get
    assert(spark.read.parquet(s0).count() == 4)
    assert(spark.read.parquet(s0).filter($"k" === 2L)
      .select("v").as[String].collect().toSeq == Seq("b2"))
    // batch 1: update key 3, insert key 9
    input.addData((3L, 6L, "c9"), (9L, 7L, "z"))
    q.processAllAvailable()
    q.stop()
    val s1 = Streams.currentSnapshot(tbl).get
    assert(s1 != s0, "pointer must advance to the new snapshot")
    val cur = spark.read.parquet(s1)
    assert(cur.count() == 5)
    assert(cur.filter($"k" === 3L).select("v").as[String].head() == "c9")
    assert(cur.filter($"k" === 9L).select("v").as[String].head() == "z")
    // snapshot isolation: the OLD snapshot still reads its own state
    assert(spark.read.parquet(s0).filter($"k" === 3L)
      .select("v").as[String].head() == "c")
    // equals the batch upsert of the full CDC log (last seq per key)
    val log = Seq((1L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "b2"), (3L, 4L, "c"),
      (4L, 5L, "d"), (3L, 6L, "c9"), (9L, 7L, "z")).toDF("k", "seq", "v")
    val expect = log.withColumn("__rn",
        org.apache.spark.sql.functions.row_number()
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy($"k").orderBy($"seq".desc)))
      .filter($"__rn" === 1).drop("__rn")
    assert(cur.exceptAll(expect).isEmpty && expect.exceptAll(cur).isEmpty)
    // CDF is opt-in: the default sink must not pay the per-batch feed
    // shuffle+write for subscribers that don't exist
    assert(!new java.io.File(s"$tbl/_cdf").exists,
      "default (cdf=false) sink materialized a change feed")
  }

  test("streaming sink on a DV-carrying snapshot folds the deletes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tbl = java.nio.file.Files.createTempDirectory("dvsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dvsinkck").toString
    val input = MemoryStream[(Long, Long, String)]
    val q = Streams.upsertSink(
      input.toDF().toDF("k", "seq", "v"), tbl, ckpt,
      keyCol = "k", orderCol = "seq")
    input.addData((1L, 1L, "a"), (2L, 2L, "b"), (3L, 3L, "c"), (4L, 4L, "d"))
    q.processAllAvailable()
    // out-of-band merge-on-read maintenance ON the sink's table while
    // the query is idle: soft-delete key 2, swap the DV-carrying
    // snapshot in place of v0 (the stream's next prev)
    val staged = s"$tbl/_staged_dv"
    graft.ops.Upsert.deleteByKeyDV(spark, s"$tbl/v0", staged,
      Seq(2L).toDF("k"), "k")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$tbl/v0"))
    assert(new java.io.File(staged).renameTo(new java.io.File(s"$tbl/v0")))
    // next micro-batch commits against the DV-carrying snapshot: the
    // fold must keep key 2 gone and ship a DV-free snapshot
    input.addData((9L, 5L, "z"))
    q.processAllAvailable()
    q.stop()
    val curPath = Streams.currentSnapshot(tbl).get
    assert(!new java.io.File(s"$curPath/_dv").exists,
      "streamed commit must fold the DV, not carry or drop it")
    val cur = spark.read.parquet(curPath)
    assert(cur.filter($"k" === 2L).count() == 0,
      "DV-deleted key resurrected through the streaming sink")
    assert(cur.filter($"k" === 9L).count() == 1)
    assert(cur.count() == 4) // 1,3,4,9
  }

  test("CDC mirror: derived table maintained from the feed equals the source snapshot") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val src = java.nio.file.Files.createTempDirectory("mirsrc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mirsrcck").toString
    val input = MemoryStream[(Long, Long, String, String)] // k, seq, v, op
    val q = Streams.upsertSink(
      input.toDF().toDF("k", "seq", "v", "op"), src, ckpt,
      keyCol = "k", orderCol = "seq", opCol = Some("op"), cdf = true)
    input.addData((1L, 1L, "a", "c"), (2L, 2L, "b", "c"), (3L, 3L, "c", "c"))
    q.processAllAvailable()
    input.addData((2L, 4L, "b2", "u"), (4L, 5L, "d", "c"))
    q.processAllAvailable()
    input.addData((3L, 6L, null, "d"), (5L, 7L, "e", "c"))
    q.processAllAvailable()
    q.stop()

    val dst = java.nio.file.Files.createTempDirectory("mirdst").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("mirdstck").toString
    val mq = Streams.mirrorFromCdf(spark, src, dst, ckpt2, keyCol = "k")
    mq.processAllAvailable()
    mq.stop()

    val srcCur = spark.read.parquet(Streams.currentSnapshot(src).get)
    val dstCur = spark.read.parquet(Streams.currentSnapshot(dst).get)
    assert(dstCur.columns.sorted.toSeq == srcCur.columns.sorted.toSeq,
      s"mirror schema drift: ${dstCur.columns.toSeq} vs ${srcCur.columns.toSeq}")
    val d1 = dstCur.exceptAll(srcCur.select(dstCur.columns.map(col): _*))
    val d2 = srcCur.select(dstCur.columns.map(col): _*).exceptAll(dstCur)
    assert(d1.isEmpty && d2.isEmpty,
      s"mirror diverged: dst=${dstCur.collect().toSeq} src=${srcCur.collect().toSeq}")
    // the deleted key is gone, the update applied
    assert(dstCur.filter($"k" === 3L).count() == 0)
    assert(dstCur.filter($"k" === 2L).select("v").as[String].head() == "b2")
    // and the mirror materialized its own feed (derived tables chain)
    assert(new java.io.File(s"$dst/_cdf").isDirectory)
  }

  test("vacuumed feed versions refuse the mirror loudly instead of silently diverging") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val src = java.nio.file.Files.createTempDirectory("gapsrc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gapsrcck").toString
    val input = MemoryStream[(Long, Long, String, String)]
    val q = Streams.upsertSink(
      input.toDF().toDF("k", "seq", "v", "op"), src, ckpt,
      keyCol = "k", orderCol = "seq", opCol = Some("op"), cdf = true)
    (0 until 4).foreach { i =>
      input.addData((i.toLong, i.toLong, s"x$i", "c"))
      q.processAllAvailable()
    }

    // a mirror consumes everything; its applied high-water mark lands
    // on the mirror table
    val dst = java.nio.file.Files.createTempDirectory("gapdst").toString
    val ck2 = java.nio.file.Files.createTempDirectory("gapdstck").toString
    val mq = Streams.mirrorFromCdf(spark, src, dst, ck2, keyCol = "k")
    mq.processAllAvailable(); mq.stop()
    assert(graft.ops.Fs.readTextIfExists(graft.ops.Fs.of(dst, spark),
        new org.apache.hadoop.fs.Path(dst, "_cdf_applied.json"))
      .exists(_.contains("\"applied\":3")))

    // two more commits, then vacuum down to ONE snapshot: feeds v0..v4
    // reclaim, the low watermark stamps v5
    (4 until 6).foreach { i =>
      input.addData((i.toLong, i.toLong, s"x$i", "c"))
      q.processAllAvailable()
    }
    q.stop()
    assert(graft.ops.Upsert.vacuum(src, keep = 1).nonEmpty)
    assert(graft.ops.Upsert.cdfLowWatermark(src).contains(5L))

    // the stale mirror (applied v3, needs v4 first) must refuse at
    // attach: v4's feed can never be delivered again
    val stale = intercept[IllegalArgumentException] {
      Streams.mirrorFromCdf(spark, src, dst, ck2, keyCol = "k")
    }
    assert(stale.getMessage.contains("truncated below"), stale.getMessage)
    // a FRESH mirror can't attach to a torn prefix either
    val fresh = intercept[IllegalArgumentException] {
      Streams.mirrorFromCdf(spark, src,
        java.nio.file.Files.createTempDirectory("gapdst2").toString,
        java.nio.file.Files.createTempDirectory("gapdstck2").toString,
        keyCol = "k")
    }
    assert(fresh.getMessage.contains("never consumed"), fresh.getMessage)

    // the per-batch guard catches a gap even when the attach-time
    // marker is bypassed: a delivered batch starting past applied+1
    // fails the micro-batch loudly
    val dst3 = java.nio.file.Files.createTempDirectory("gapdst3").toString
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(dst3, spark),
      new org.apache.hadoop.fs.Path(dst3, "_cdf_applied.json"),
      """{"applied":1,"ts":0}""")
    val in2 = MemoryStream[(Long, Long, Long)] // k, __srcv, seq
    val gq = Streams.upsertSinkKeys(
      in2.toDF().toDF("k", "__srcv", "seq"), dst3,
      java.nio.file.Files.createTempDirectory("gapck3").toString,
      Seq("k"), orderCol = "seq", dropCols = Seq("__srcv"),
      srcVersionCol = Some("__srcv"))
    in2.addData((10L, 3L, 1L), (11L, 4L, 2L)) // versions 3,4 — but 2 never arrived
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      gq.processAllAvailable()
    }
    assert(boom.getMessage.contains("change-feed gap") ||
      Option(boom.getCause).exists(_.getMessage.contains("change-feed gap")),
      boom.getMessage)
    gq.stop()
  }

  test("feed-gap adjudication: rebase-skipped and zero-change versions are benign; reclaimed, undelivered and unfed versions are harmful") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("adjsrc").toString
    val fs = graft.ops.Fs.of(src, spark)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    // a minimal healthy source: snapshot v1 + its feed
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$src/v1")
    Seq((1L, "a", "insert", 1L)).toDF("k", "v", "_change_type", "_commit_version")
      .write.parquet(s"$src/_cdf/v1")
    graft.ops.Fs.writeTextAtomic(fs, hp(s"$src/CURRENT"), "v1")
    // v2: claimed but never published (OCC rebase discard) — no
    // snapshot, no feed, no log entry → benign
    assert(Streams.feedGapHarm(spark, src, 2L, 3L).isEmpty,
      "a never-published version number must be benign")
    // v2: zero-change commit — feed dir exists with ZERO rows → benign
    Seq.empty[(Long, String, String, Long)]
      .toDF("k", "v", "_change_type", "_commit_version")
      .write.parquet(s"$src/_cdf/v2")
    assert(Streams.feedGapHarm(spark, src, 2L, 3L).isEmpty,
      "an empty materialized feed must be benign")
    // v2: feed holds UNDELIVERED rows → harmful (out-of-order delivery)
    Seq((2L, "b", "insert", 2L)).toDF("k", "v", "_change_type", "_commit_version")
      .write.mode("overwrite").parquet(s"$src/_cdf/v2")
    assert(Streams.feedGapHarm(spark, src, 2L, 3L)
      .exists(_.contains("out-of-order")), "undelivered rows must refuse")
    // v2: published (snapshot dir) but feed never materialized → harmful
    fs.delete(hp(s"$src/_cdf/v2"), true)
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$src/v2")
    assert(Streams.feedGapHarm(spark, src, 2L, 3L)
      .exists(_.contains("never materialized")),
      "a published version with no feed must refuse")
    fs.delete(hp(s"$src/v2"), true)
    // v2: at/below the reclaim checkpoints → harmful
    graft.ops.Fs.writeTextAtomic(fs, hp(s"$src/_cdf/_low_watermark.json"),
      """{"min_feed_version":3,"ts":0}""")
    assert(Streams.feedGapHarm(spark, src, 2L, 3L)
      .exists(_.contains("reclaimed")), "a vacuumed version must refuse")
  }

  test("feed-gap adjudication pays ONE Spark job for the whole gap, not one per version") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("adjbatch").toString
    val fs = graft.ops.Fs.of(src, spark)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$src/v1")
    Seq((1L, "a", "insert", 1L)).toDF("k", "v", "_change_type", "_commit_version")
      .write.parquet(s"$src/_cdf/v1")
    graft.ops.Fs.writeTextAtomic(fs, hp(s"$src/CURRENT"), "v1")
    // a LONG benign gap: v2..v6 are all zero-change commits — feed dirs
    // with zero-row parquet footers, so "has undelivered rows" needs a
    // read, but never more than one for the whole gap (the old shape
    // paid one Spark job PER version inside the micro-batch commit)
    for (g <- 2L to 6L)
      Seq.empty[(Long, String, String, Long)]
        .toDF("k", "v", "_change_type", "_commit_version")
        .write.parquet(s"$src/_cdf/v$g")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(Streams.feedGapHarm(spark, src, 2L, 7L).isEmpty,
        "five zero-change versions must all be benign")
      // let the async listener bus drain before counting
      val deadline = System.nanoTime() + 5e9.toLong
      var last = -1
      while (System.nanoTime() < deadline && jobs.get() != last) {
        last = jobs.get(); Thread.sleep(200)
      }
      assert(jobs.get() <= 2,
        s"a 5-version gap must row-check in one batched read, " +
          s"ran ${jobs.get()} jobs (the per-version shape runs 5+)")
    } finally spark.sparkContext.removeSparkListener(l)
    // and the FIRST harmful version still wins when classes mix:
    // v3 holds undelivered rows, v4 was published but never fed
    Seq((3L, "c", "insert", 3L)).toDF("k", "v", "_change_type", "_commit_version")
      .write.mode("overwrite").parquet(s"$src/_cdf/v3")
    fs.delete(hp(s"$src/_cdf/v4"), true)
    Seq((4L, "d")).toDF("k", "v").write.parquet(s"$src/v4")
    val why = Streams.feedGapHarm(spark, src, 2L, 7L)
    assert(why.exists(w => w.contains("v3") && w.contains("out-of-order")),
      s"the FIRST harmful version (v3) must be named, got $why")
  }

  test("a mirror survives a feed whose version numbers skip (OCC-rebase shape) instead of wedging") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // source ground truth: published chain v1, v3 (v2 claimed and
    // discarded by a rebase), feeds materialized for both
    val src = java.nio.file.Files.createTempDirectory("skipsrc").toString
    val fs = graft.ops.Fs.of(src, spark)
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$src/v1")
    Seq((1L, "a", "insert", 1L)).toDF("k", "v", "_change_type", "_commit_version")
      .write.parquet(s"$src/_cdf/v1")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$src/v3")
    Seq((2L, "b", "insert", 3L)).toDF("k", "v", "_change_type", "_commit_version")
      .write.parquet(s"$src/_cdf/v3")
    graft.ops.Fs.writeTextAtomic(fs,
      new org.apache.hadoop.fs.Path(s"$src/CURRENT"), "v3")
    // mirror already applied v1; the next delivery starts at v3 —
    // before the ground-truth adjudication this wedged with a false
    // "reclaimed (vacuumed)" refusal on a healthy, complete feed
    val dst = java.nio.file.Files.createTempDirectory("skipdst").toString
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(dst, spark),
      new org.apache.hadoop.fs.Path(dst, "_cdf_applied.json"),
      """{"applied":1,"ts":0}""")
    val in = MemoryStream[(Long, String, Long, Long)] // k, v, __srcv, seq
    val q = Streams.upsertSinkKeys(
      in.toDF().toDF("k", "v", "__srcv", "seq"), dst,
      java.nio.file.Files.createTempDirectory("skipck").toString,
      Seq("k"), orderCol = "seq", dropCols = Seq("__srcv", "seq"),
      srcVersionCol = Some("__srcv"), srcTableDir = Some(src))
    in.addData((2L, "b", 3L, 1L))
    q.processAllAvailable() // must NOT throw
    q.stop()
    assert(graft.ops.Fs.readTextIfExists(graft.ops.Fs.of(dst, spark),
        new org.apache.hadoop.fs.Path(dst, "_cdf_applied.json"))
      .exists(_.contains("\"applied\":3")), "applied mark must advance past the skip")
    // and a HARMFUL gap through the same path still refuses: v2 feed
    // appears later holding rows that were never delivered
    Seq((9L, "z", "insert", 2L)).toDF("k", "v", "_change_type", "_commit_version")
      .write.parquet(s"$src/_cdf/v2")
    val dst2 = java.nio.file.Files.createTempDirectory("skipdst2").toString
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(dst2, spark),
      new org.apache.hadoop.fs.Path(dst2, "_cdf_applied.json"),
      """{"applied":1,"ts":0}""")
    val in2 = MemoryStream[(Long, String, Long, Long)]
    val q2 = Streams.upsertSinkKeys(
      in2.toDF().toDF("k", "v", "__srcv", "seq"), dst2,
      java.nio.file.Files.createTempDirectory("skipck2").toString,
      Seq("k"), orderCol = "seq", dropCols = Seq("__srcv", "seq"),
      srcVersionCol = Some("__srcv"), srcTableDir = Some(src))
    in2.addData((2L, "b", 3L, 1L))
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    assert(boom.getMessage.contains("change-feed gap") ||
      Option(boom.getCause).exists(_.getMessage.contains("change-feed gap")),
      boom.getMessage)
    q2.stop()
  }

  test("CDF stream: downstream aggregate maintained from the feed equals snapshot recompute") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tbl = java.nio.file.Files.createTempDirectory("cdftbl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdfckpt").toString
    val input = MemoryStream[(Long, Long, Long, String)] // k, seq, amount, grp
    val q = Streams.upsertSink(
      input.toDF().toDF("k", "seq", "amount", "grp"), tbl, ckpt,
      keyCol = "k", orderCol = "seq", cdf = true)
    // three commits: inserts, an update (delete+insert in the feed),
    // and a mixed batch
    input.addData((1L, 1L, 10L, "a"), (2L, 2L, 20L, "b"), (3L, 3L, 30L, "a"))
    q.processAllAvailable()
    input.addData((2L, 4L, 25L, "b"), (4L, 5L, 40L, "a"))
    q.processAllAvailable()
    input.addData((1L, 6L, 11L, "a"), (5L, 7L, 50L, "b"))
    q.processAllAvailable()
    q.stop()

    // every commit materialized its feed version
    val feedDirs = new java.io.File(s"$tbl/_cdf").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(feedDirs.length == 3, s"expected 3 feed versions, got ${feedDirs.toSeq}")

    // subscribe from scratch and maintain a per-group sum from the
    // change images alone: +amount on insert, -amount on delete
    val feed = Streams.cdfStream(spark, tbl)
    val sink = java.nio.file.Files.createTempDirectory("cdfsink").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("cdfckpt2").toString
    val fq = feed
      .withColumn("delta",
        when($"_change_type" === "insert", $"amount").otherwise(-$"amount"))
      .writeStream
      .option("checkpointLocation", ckpt2)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        b.write.mode("append").parquet(sink); ()
      }
      .start()
    fq.processAllAvailable()
    fq.stop()

    val maintained = spark.read.parquet(sink)
      .groupBy("grp").agg(sum("delta").as("total"))
    val recomputed = spark.read.parquet(Streams.currentSnapshot(tbl).get)
      .groupBy("grp").agg(sum("amount").as("total"))
    assert(maintained.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(maintained).isEmpty,
      "feed-maintained aggregate must equal the snapshot recompute")
    // and the feed carries commit provenance
    assert(spark.read.parquet(s"$tbl/_cdf/v*")
      .select("_commit_version").distinct().count() == 3)
  }

  test("CDF stream schema: a column added in v2 reaches subscribers; v0 rows read NULL") {
    import spark.implicits._
    val tbl = java.nio.file.Files.createTempDirectory("cdfevolve").toString + "/tbl"
    spark.range(4).select($"id".as("k"), functions.lit(0L).as("v"))
      .coalesce(1).write.parquet(s"$tbl/v0")
    graft.ops.Upsert.writeCommitInfo(s"$tbl/v0", "STREAM_INIT")
    graft.ops.Upsert.materializeCdf(spark, tbl, 0)
    graft.ops.Upsert.upsertByKey(spark, s"$tbl/v0", s"$tbl/v1",
      spark.range(4, 6).select($"id".as("k"), functions.lit(1L).as("v")), "k")
    graft.ops.Upsert.materializeCdf(spark, tbl, 1)
    graft.ops.Upsert.upsertByKey(spark, s"$tbl/v1", s"$tbl/v2",
      spark.range(6, 8).select($"id".as("k"), functions.lit(2L).as("v"),
        functions.lit("y").as("tag")), "k", allowSchemaEvolution = true)
    graft.ops.Upsert.materializeCdf(spark, tbl, 2)
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v2")

    val feed = Streams.cdfStream(spark, tbl)
    assert(feed.schema.fieldNames.contains("tag"), feed.schema.simpleString)
    val sink = java.nio.file.Files.createTempDirectory("cdfevolvesink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdfevolveckpt").toString
    val q = feed.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], _: Long) => b.write.mode("append").parquet(sink); () }
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(sink)
      .select($"k", $"_commit_version", $"tag").as[(Long, Long, String)].collect().sorted.toSeq
    assert(got == (0L until 4L).map(k => (k, 0L, null: String)) ++
      (4L until 6L).map(k => (k, 1L, null: String)) ++ (6L until 8L).map(k => (k, 2L, "y")))
  }

  test("rate-limited CDF catch-up: N backlogged versions drain in bounded micro-batches") {
    import spark.implicits._
    val tbl = java.nio.file.Files.createTempDirectory("cdfrate").toString + "/tbl"
    // a backlog of 6 commits, each materializing a ONE-file feed
    // version (the admission-control contract: k files/version ×
    // maxFilesPerTrigger = versions/trigger)
    spark.range(20).select($"id".as("k"), functions.lit(0L).as("v"))
      .coalesce(1).write.parquet(s"$tbl/v0")
    graft.ops.Upsert.writeCommitInfo(s"$tbl/v0", "STREAM_INIT")
    graft.ops.Upsert.materializeCdf(spark, tbl, 0, feedFilesPerVersion = 1)
    for (i <- 1 to 5) {
      val up = spark.range(2).select(($"id" + i * 2).as("k"), functions.lit(i.toLong).as("v"))
      graft.ops.Upsert.upsertByKey(spark, s"$tbl/v${i - 1}", s"$tbl/v$i", up, "k")
      graft.ops.Upsert.materializeCdf(spark, tbl, i, feedFilesPerVersion = 1)
    }
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v5")
    for (i <- 0 to 5)
      assert(new java.io.File(s"$tbl/_cdf/v$i").listFiles()
        .count(_.getName.endsWith(".parquet")) == 1,
        s"feedFilesPerVersion=1 must bound v$i's feed to one file")

    // late subscriber with maxFilesPerTrigger=2: the 6-version backlog
    // must drain over >= ceil(6/2) = 3 micro-batches, each admitting
    // at most 2 versions — never one giant batch
    val ckpt = java.nio.file.Files.createTempDirectory("cdfrateckpt").toString
    val sink = java.nio.file.Files.createTempDirectory("cdfratesink").toString
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxVersionsInBatch = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Streams.cdfStream(spark, tbl, maxFilesPerTrigger = Some(2))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val nv = b.select("_commit_version").distinct().count().toInt
        if (nv > 0) {
          batches.incrementAndGet()
          maxVersionsInBatch.getAndUpdate(m => math.max(m, nv))
          b.write.mode("append").parquet(sink)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(batches.get >= 3, s"6 versions / cap 2 needs >=3 batches, got ${batches.get}")
    assert(maxVersionsInBatch.get <= 2,
      s"a micro-batch admitted ${maxVersionsInBatch.get} versions past the cap")

    // catch-up parity: replaying the rate-limited feed reproduces the
    // CURRENT snapshot exactly (last image per key wins)
    val replay = spark.read.parquet(sink)
      .withColumn("__ord", $"_commit_version" * 2 +
        when($"_change_type" === "insert", 1).otherwise(0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("__ord").desc)
    val rebuilt = replay
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"__rn" === 1 && $"_change_type" === "insert")
      .select("k", "v")
    val want = spark.read.parquet(
      Streams.currentSnapshot(tbl).get).select("k", "v")
    assert(rebuilt.exceptAll(want).isEmpty && want.exceptAll(rebuilt).isEmpty,
      "rate-limited replay must equal the snapshot")
  }

  test("streaming ANN maintainer: the index follows the table through a commit wave") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = e.select($"vec_id".as("id"), $"embedding")
    val cents = e.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"embedding")
    val queries = e.filter($"vec_id" >= 10 && $"vec_id" < 30)
      .select($"vec_id".as("qid"), $"embedding")
    val base = java.nio.file.Files.createTempDirectory("annmaint").toString
    val tbl = s"$base/table"; val idx = s"$base/index"
    corpus.write.parquet(s"$tbl/v0")
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
      new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    graft.ops.Upsert.materializeCdf(spark, tbl, 0L)
    val cb = graft.ops.Similarity.pqCodebook(
      corpus, "id", "embedding", numSub = 8, codes = 8)
    graft.ops.AnnIndex.write(corpus, cents, cb, idx, source = Some((tbl, "id")))

    // wired to the wrong table: refuses at attach, not on first commit
    val eAtt = intercept[IllegalArgumentException](
      Streams.annIndexMaintainer(spark, s"$base/other", idx, s"$base/ck0"))
    assert(eAtt.getMessage.contains("stamped to"), eAtt.getMessage)

    // a path-spelling variant of the SAME table (trailing slash) is
    // not a wiring error — the attach check compares normalized paths
    val mqSlash = Streams.annIndexMaintainer(spark, s"$tbl/", idx, s"$base/ck1")
    mqSlash.stop()

    val mq = Streams.annIndexMaintainer(spark, tbl, idx, s"$base/ck")
    try {
      mq.processAllAvailable() // v0's own feed: stamp==CURRENT, no-op
      assert(graft.ops.AnnIndex.readStamp(idx).contains((tbl, 0L, "id")))
      // an embedding-changing UPDATE, then a DELETE — shapes append
      // cannot express; each commit's feed triggers one applyCdf pass
      spark.sql(s"UPDATE '$tbl' ON id SET embedding = " +
        "transform(embedding, x -> -x) WHERE id >= 40 AND id % 5 = 2").collect()
      graft.ops.Upsert.materializeCdf(spark, tbl, 1L)
      mq.processAllAvailable()
      assert(graft.ops.AnnIndex.readStamp(idx).contains((tbl, 1L, "id")),
        "maintainer must advance the stamp with the commit")
      spark.sql(s"DELETE FROM '$tbl' ON id WHERE id >= 40 AND id % 5 = 4").collect()
      graft.ops.Upsert.materializeCdf(spark, tbl, 2L)
      mq.processAllAvailable()
    } finally mq.stop()
    assert(graft.ops.AnnIndex.readStamp(idx).contains((tbl, 2L, "id")))
    assert(graft.ops.AnnIndex.readMarker(idx).flatMap(_.advance).contains("verified"))

    // probes ride the stamp==CURRENT fast path and answer exactly like
    // a rebuild over the table's current state with the same artifacts
    val got = graft.ops.AnnIndex.topKLive(spark, idx, queries, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val rebuilt = java.nio.file.Files.createTempDirectory("annmaint_want").toString
    graft.ops.AnnIndex.write(
      graft.ops.Upsert.readWithDeletes(spark, s"$tbl/v2")
        .select($"id", $"embedding"),
      cents, cb, rebuilt)
    val want = graft.ops.AnnIndex.topK(
        queries, graft.ops.AnnIndex.read(spark, rebuilt), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == want && got.nonEmpty,
      "maintained index must answer probes exactly like the rebuild")
  }
}
