package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A Hadoop filesystem with a NON-`file` scheme that stores bytes
  * locally — `graftmock:/tmp/x` resolves to `/tmp/x` through the
  * Hadoop API only. Any lingering `java.io.File` call in the lakehouse
  * layer would interpret the full `graftmock:/…` string as a RELATIVE
  * local path (creating a literal `graftmock:` directory in the cwd)
  * or simply miss the table — both detectable below. */
class GraftMockFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import GraftMockFileSystem.lag
  override def getScheme: String = "graftmock"
  override def getUri: java.net.URI = java.net.URI.create("graftmock:///")
  // RawLocalFileSystem's DeprecatedRawLocalFileStatus loads permissions
  // LAZILY via `new java.io.File(path.toUri)`, which rejects any scheme
  // but `file` — materialize plain statuses (default permissions) so
  // listings under the mock scheme don't trip Hadoop's own internals.
  private def solid(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(f: Path): FileStatus =
    { lag(); solid(super.getFileStatus(f)) }
  override def listStatus(f: Path): Array[FileStatus] =
    { lag(); super.listStatus(f).map(solid) }
  // the other RPC-shaped entry points (each FileSystem convenience
  // overload funnels into these)
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
    { lag(); super.open(f, bufferSize) }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    { lag(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress) }
  override def rename(src: Path, dst: Path): Boolean = { lag(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { lag(); super.delete(f, recursive) }
}

/** Latency injection for [[GraftMockFileSystem]] (round-13 verdict
  * #7): a fixed per-op delay turns the local mock into a
  * latency-shaped object store, so a spec can assert the commit
  * protocol's wall-time is COUPLED to its op count — the regression
  * guard that keeps the publish path from quietly re-tripling RPCs
  * (Bench's layer profile counts ops as `fs_ops`; this proves the ops
  * ARE the latency).
  * Ops are tallied by issuing thread class: driver-side protocol ops
  * run sequentially (their sleeps ADD — wall-time floor), task-side
  * data ops overlap across executor threads (upper bound only). */
object GraftMockFileSystem {
  @volatile var opDelayMs: Long = 0
  val driverOps = new java.util.concurrent.atomic.AtomicLong(0)
  val taskOps = new java.util.concurrent.atomic.AtomicLong(0)
  def reset(): Unit = { driverOps.set(0); taskOps.set(0) }
  private def lag(): Unit = {
    if (Thread.currentThread().getName.startsWith("Executor task launch"))
      taskOps.incrementAndGet()
    else driverOps.incrementAndGet()
    val d = opDelayMs
    if (d > 0) Thread.sleep(d)
  }
}

/** graft.ops.Fs + the lakehouse layer on a non-local scheme: every
  * sidecar, pointer, claim, lock, and verb must route through the
  * Hadoop FileSystem abstraction (VERDICT r10 #3 / ADVICE: sidecars
  * written via java.io landed in a bogus local directory on hdfs/s3a
  * paths). The mock keeps bytes on the local disk, so the spec can
  * ALSO assert the artifacts landed where the scheme says they live. */
class FsSubstrateSpec extends AnyFunSuite {

  import graft.ops.Upsert

  private lazy val spark = {
    val s = GraftSession.local(4)
    s.sparkContext.hadoopConfiguration.set(
      "fs.graftmock.impl", classOf[GraftMockFileSystem].getName)
    s
  }

  private val local = "/tmp/graft_fsmock"
  private def base = s"graftmock:$local"

  test("COW verb chain over a non-file scheme, artifacts land through the scheme") {
    import spark.implicits._
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(local))
    new java.io.File("graftmock:").delete() // stale bypass artifact, if any

    spark.range(800).select($"id".as("k"), ($"id" * 2).as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.parquet(s"$base/s0")

    // MERGE commit: footer bounds, link→copy fallback (non-file
    // scheme never hard-links), schema/txn/commitinfo sidecars
    val (c, r, n) = Upsert.upsertByKey(spark, s"$base/s0", s"$base/s1",
      spark.range(100, 140).select($"id".as("k"), lit(-1L).as("v")), "k")
    assert(n == 40 && c + r == 4 && r >= 1)
    val s1 = Upsert.readWithDeletes(spark, s"$base/s1")
    assert(s1.count() == 800)
    assert(s1.filter($"v" === -1L).count() == 40)

    // the sidecars live where the scheme stores bytes — and NOT in a
    // bogus cwd-relative "graftmock:" directory (the java.io failure
    // mode this spec exists to catch)
    for (f <- Seq("_schema.json", "_commitinfo", "_txn.json"))
      assert(new java.io.File(s"$local/s1/$f").isFile, s"missing $f")
    assert(!new java.io.File("graftmock:").exists,
      "a raw java.io call resolved the scheme as a relative path")

    // DV soft delete + fold
    val (linked, dvN) = Upsert.deleteByKeyDV(spark, s"$base/s1", s"$base/s2",
      spark.range(5).select(($"id" * 10).as("k")), "k")
    assert(linked == 4 && dvN == 5)
    assert(Upsert.readWithDeletes(spark, s"$base/s2").count() == 795)
    val (_, _, folded) = Upsert.compactDeletes(spark, s"$base/s2", s"$base/s3")
    assert(folded == 5)
    assert(!new java.io.File(s"$local/s3/_dv").exists)

    // clone + commit audit read-back through the scheme
    assert(Upsert.cloneSnapshot(spark, s"$base/s3", s"$base/clone") > 0)
    assert(Upsert.readCommitInfo(s"$base/s3").map(_._1).contains("COMPACT_DELETES"))
  }

  test("versioned SQL verbs over a non-file scheme: claim, lease lock, CAS publish") {
    import spark.implicits._
    val tblLocal = s"$local/versioned"
    val tbl = s"graftmock:$tblLocal"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tblLocal))

    spark.range(300).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(2, $"k").write.parquet(s"$base/convert_src")
    spark.sql(s"CONVERT '$base/convert_src' TO VERSIONED '$tbl'")
    assert(Upsert.snapshotVersions(tbl) == Seq(0L))

    // MERGE claims the next version through the remote-claim branch
    // (v1/_CLAIM create-exclusive) and publishes under the lease lock
    spark.range(10).select($"id".as("k"), lit(-3L).as("v"))
      .createOrReplaceTempView("fsmock_upd")
    val stats = spark.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM fsmock_upd) ON k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    assert(stats.getLong(2) == 10)
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v1"))
    assert(spark.read.parquet(s"$tbl/v1").filter($"v" === -3L).count() == 10)
    // the claim marker is allowed to remain; it must be hidden from reads
    assert(spark.read.parquet(s"$tbl/v1").columns.toSeq == Seq("k", "v"))

    // the publish appended a commit-log entry THROUGH the scheme (the
    // log is what closes the pointer's delete+rename absence window on
    // exactly these rename-refuses-existing filesystems)
    assert(new java.io.File(s"$tblLocal/_commitlog/1.json").isFile,
      "commit-log entry must land where the scheme stores bytes")
    assert(Upsert.readCommitLogEntry(tbl, 1L).map(_.base).contains(0L))
    // pointer gone mid-swap: the log still resolves the table, reads
    // stay correct, all through the Hadoop API
    val curPtr = new java.io.File(s"$tblLocal/CURRENT")
    val ptrBytes = java.nio.file.Files.readAllBytes(curPtr.toPath)
    assert(curPtr.delete())
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v1"))
    assert(spark.read.parquet(
      graft.streaming.Streams.currentSnapshot(tbl).get)
      .filter($"v" === -3L).count() == 10)
    java.nio.file.Files.write(curPtr.toPath, ptrBytes)
    // conflict metadata stamped through the scheme as well
    assert(new java.io.File(s"$tblLocal/v1/_txn.json").isFile)
    assert(Upsert.readTxnInfo(s"$tbl/v1").exists(_.keys == Seq("k")))

    // DESCRIBE HISTORY / DETAIL / RESTORE / VACUUM all resolve the scheme
    val hist = spark.sql(s"DESCRIBE HISTORY '$tbl'").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    val detail = spark.sql(s"DESCRIBE DETAIL '$tbl'").collect()(0)
    assert(detail.getBoolean(1) && detail.getLong(2) == 1L)
    spark.sql(s"RESTORE '$tbl' TO VERSION 0")
    assert(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v2"))
    assert(spark.read.parquet(s"$tbl/v2").filter($"v" === -3L).count() == 0)
    val deleted = Upsert.vacuum(tbl, keep = 1)
    assert(deleted == Seq(0L, 1L))
    assert(!new java.io.File(s"$tblLocal/v0").exists)

    // nothing leaked into a cwd-relative scheme-named directory
    assert(!new java.io.File("graftmock:").exists,
      "a raw java.io call resolved the scheme as a relative path")
  }

  test("latency-shaped store: publish and read wall-time track op-count x RTT") {
    import spark.implicits._
    val tblLocal = s"$local/latency"
    val tbl = s"graftmock:$tblLocal"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tblLocal))
    spark.range(200).select($"id".as("k"), $"id".as("v"))
      .repartitionByRange(2, $"k")
      .write.mode("overwrite").parquet(s"$base/lat_src") // prior-run leftover
    spark.sql(s"CONVERT '$base/lat_src' TO VERSIONED '$tbl'")
    def mergeOnce(lo: Long): Unit = {
      spark.range(lo, lo + 8).select($"id".as("k"), lit(-9L).as("v"))
        .createOrReplaceTempView("lat_upd")
      spark.sql(s"MERGE INTO '$tbl' USING (SELECT * FROM lat_upd) ON k" +
        " WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        .collect()
      ()
    }
    mergeOnce(1000) // warm: JIT, codegen, FS instance init
    try {
      // Differencing two wall-times is only as stable as the noisier
      // side — one host burst during either pass fakes a
      // (de)coupling verdict. min-of-3 per condition: the fastest
      // pass is each floor's contention-free estimate (the same
      // adjudication rule the bench artifacts use), paired with its
      // own op counts.
      def timedMerge(lo: Long, delay: Long): (Double, Long, Long) = {
        GraftMockFileSystem.reset(); GraftMockFileSystem.opDelayMs = delay
        val m = System.nanoTime(); mergeOnce(lo)
        val t = (System.nanoTime() - m) / 1e6
        (t, GraftMockFileSystem.driverOps.get,
          GraftMockFileSystem.driverOps.get + GraftMockFileSystem.taskOps.get)
      }
      // MERGE publish with no delay: the op counts + compute floor
      val bases = (0 until 3).map(i => timedMerge(2000 + 10 * i, 0))
      val (t0, d0, a0) = bases.minBy(_._1)
      // REGRESSION GUARD: the total RPC budget of one small MERGE
      // publish through the mock (driver protocol + task data I/O +
      // Spark's own listings). The Fs-substrate subset is 16 metadata
      // ops (docs/PLANS.md, round 13; Bench's `fs_ops` on q_sql_merge
      // tracks it); this ceiling covers EVERYTHING the
      // store would bill, so a future round that quietly re-triples
      // round-trips fails here instead of in production latency.
      // measured 94 on the r14 HEAD (16 of them Fs-substrate metadata
      // ops; the rest are Spark's committer/listing
      // machinery); 140 = measured + ~50% headroom for Spark-version
      // drift, NOT for protocol growth
      assert(d0 <= 140, s"driver-side FS ops per MERGE publish grew to $d0")
      // the same merge shape under a fixed 25 ms per-op RTT: the extra
      // wall-time must be explained by the ops (driver ops are
      // sequential — their sleeps ADD — so they floor it; task ops
      // overlap across executor threads — they only bound it above)
      val rtt = 25L
      val delayeds = (0 until 3).map(i => timedMerge(3000 + 10 * i, rtt))
      val (t1, d1, a1) = delayeds.minBy(_._1)
      val extra = t1 - t0
      info(f"MERGE publish: driverOps=$d1 allOps=$a1 rtt=${rtt}ms " +
        f"base=$t0%.0fms delayed=$t1%.0fms extra=$extra%.0fms")
      assert(extra >= 0.5 * d1 * rtt,
        f"publish wall-time is DECOUPLED from its op count: extra=" +
          f"$extra%.0fms < half the sequential-op floor ${d1 * rtt}ms")
      assert(extra <= 1.5 * a1 * rtt + 2000,
        f"extra=$extra%.0fms exceeds every op sleeping serially " +
          f"(${a1 * rtt}ms) — something else dominates")
      // pure-metadata read path: CURRENT resolution is sequential
      // driver ops only, so wall-time ~= ops x RTT TIGHTLY
      GraftMockFileSystem.opDelayMs = 0
      val n = 20
      // min-of-3 on the no-delay side too — it is the subtrahend, and
      // a burst there would push rextra below the coupling band
      val tr0 = (0 until 3).map { _ =>
        GraftMockFileSystem.reset()
        val r0 = System.nanoTime()
        (1 to n).foreach(_ =>
          assert(graft.ops.Upsert.currentVersion(tbl).isDefined))
        (System.nanoTime() - r0) / 1e6
      }.min
      val cr0 = GraftMockFileSystem.driverOps.get
      GraftMockFileSystem.opDelayMs = rtt; GraftMockFileSystem.reset()
      val r1 = System.nanoTime()
      (1 to n).foreach(_ =>
        assert(graft.ops.Upsert.currentVersion(tbl).isDefined))
      val tr1 = (System.nanoTime() - r1) / 1e6
      val cr1 = GraftMockFileSystem.driverOps.get
      assert(cr1 == cr0, s"resolution op count must be deterministic ($cr0 vs $cr1)")
      val rextra = tr1 - tr0; val rexp = cr1.toDouble * rtt
      info(f"CURRENT resolution x$n: ops=$cr1 extra=$rextra%.0fms expected~$rexp%.0fms")
      assert(rextra >= 0.7 * rexp && rextra <= 1.6 * rexp + 500,
        f"read path decoupled from op count: extra=$rextra%.0fms, ops x rtt=$rexp%.0fms")
    } finally { GraftMockFileSystem.opDelayMs = 0 }
  }

  test("source gate: no raw java.io writes in the lakehouse layer; no raw CURRENT writes anywhere") {
    // The invariant this suite exists for, enforced at the SOURCE
    // level so no sanctioned exception can creep back in: every
    // sidecar/pointer/marker write in the ops/plans/streaming layer
    // goes through graft.ops.Fs (scheme-proof, checksum-shadow-proof),
    // and NOTHING in src/main — bench staging included — writes a
    // CURRENT pointer with raw java.io.
    import scala.jdk.CollectionConverters._
    def sources(root: String): Seq[java.nio.file.Path] = {
      val p = java.nio.file.Paths.get(root)
      if (!java.nio.file.Files.isDirectory(p)) return Seq.empty
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    val layerBad = Seq("ops", "plans", "streaming")
      .flatMap(d => sources(s"src/main/scala/graft/$d"))
      .filterNot(_.getFileName.toString == "Fs.scala")
      .flatMap { f =>
        val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        Seq("new java.io.PrintWriter", "new java.io.FileWriter",
          "Source.fromFile", "FileUtil.fullyDelete")
          .filter(txt.contains).map(hit => s"$f: $hit")
      }
    assert(layerBad.isEmpty,
      s"raw java.io writes in the lakehouse layer:\n${layerBad.mkString("\n")}")
    val ptrBad = sources("src/main/scala/graft").flatMap { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      if (txt.contains("PrintWriter") &&
          """PrintWriter\([^)]*CURRENT""".r.findFirstIn(txt).isDefined)
        Some(f.toString)
      else None
    }
    assert(ptrBad.isEmpty,
      s"raw CURRENT pointer writes outside ops.Fs:\n${ptrBad.mkString("\n")}")
  }
}
