package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, Fs, Similarity, Upsert}

/** `corpus_maintain`: an embedding corpus kept as a versioned graft
  * table, with an IVF-PQ index bound to it and kept CURRENT by the
  * streaming maintainer.
  *
  * Inputs: 10,000 seeded 64-dim vectors (every component a seeded hash
  * of id and dimension), range-clustered on `id` into 16 files; the
  * index has 16 cells (the first 16 vectors), a codebook of 8
  * subspaces × 16 codes, and 32 range files. The seed also salts the
  * edit sets and the query vectors.
  *
  * The cycle:
  *  1. index build: an IVF-PQ index bound to the table's CURRENT
  *     (`Similarity.pqCodebook` + `AnnIndex.write`), the bulk op; the
  *     streaming maintainer (`Streams.annIndexMaintainer`) is attached
  *     to it after;
  *  2. a refresh wave: one source commit in SQL text through
  *     `plans.LakehouseSql`, a MERGE that gives 20 ids (one in every 500
  *     from a seeded offset, so every run touches the same number of
  *     files) new vectors and inserts 20 new ids; then
  *     `Upsert.materializeCdf` and the maintainer's `processAllAvailable`
  *     (which runs `AnnIndex.applyCdf`); then three `AnnIndex.topKLive`
  *     reads, the middle one filtered by a metadata allow-list.
  * One wave is what the time budget leaves: each further wave costs
  * 6-8 s in every run.
  * Checks after the wave: the index is stamped at CURRENT, covers
  * exactly CURRENT's ids, and answers a fixed probe set exactly as the
  * inline replay does. */
final class CorpusMaintain(ctx: Ctx) extends Workload {
  import ctx.{report, spark}

  private val NVectors = 10000
  private val Dim = 64
  private val NumSub = 8
  private val Codes = 16
  private val Cells = 16
  private val TableFiles = 16
  private val IndexFiles = 32
  private val K = 10
  private val Probes = 4
  private val Reads = 3
  private val QueriesPerRead = 4
  private val EditIds = 20
  val bulkOp = "index_build"
  val commitSpan = "plans.LakehouseSql"

  private val tbl = s"${ctx.root}/corpus"
  private var idx = ""
  private var stagedTbl = ""
  private var mq: org.apache.spark.sql.streaming.StreamingQuery = _
  private var lastBatch = -1L
  private var refresh = Map.empty[String, Any]
  private var buildRows = 0L
  private var builds = 0

  /** Seeded vectors for the ids in `ids` (column `id`). */
  private def vectors(ids: DataFrame, salt: Long): DataFrame =
    ids.select(col("id"), array((0 until Dim).map(i =>
      ((pmod(xxhash64(col("id"), lit(i), lit(salt)), lit(2001L)) - 1000) / 1000.0)
        .cast("float")): _*).as("embedding"))

  private def queries(from: Long, n: Int, salt: Long): DataFrame =
    vectors(spark.range(from, from + n).toDF("id"), salt).withColumnRenamed("id", "qid")

  // the fixed probe set the check replays
  private lazy val probe = queries(1L << 40, 8, ctx.seed * 7919 + 1).persist()

  def stage(dir: String): Unit = {
    val t = s"$dir/corpus"
    vectors(spark.range(NVectors).toDF("id"), ctx.seed)
      .repartitionByRange(TableFiles, col("id")).sortWithinPartitions("id")
      .write.parquet(s"$t/v0")
    Fs.writeTextAtomic(Fs.of(t), new org.apache.hadoop.fs.Path(t, "CURRENT"), "v0")
    stagedTbl = t
  }

  private def current: Long = Upsert.currentVersion(tbl).get
  private def live(v: Long): DataFrame =
    Upsert.readWithDeletes(spark, s"$tbl/v$v").select("id", "embedding")
  private lazy val centroids =
    spark.read.parquet(s"$tbl/v0").filter(col("id") < Cells)
      .select(col("id").as("cid"), col("embedding")).persist()

  def prepare(): Unit = {
    Fs.of(tbl).rename(new org.apache.hadoop.fs.Path(stagedTbl), new org.apache.hadoop.fs.Path(tbl))
    Upsert.materializeCdf(spark, tbl, 0L)
  }

  def cycle(): Unit = {
    ctx.bothWays(indexBuild())
    mq = graft.streaming.Streams.annIndexMaintainer(spark, tbl, idx, s"${ctx.root}/ck")
    mq.processAllAvailable()
    lastBatch = Option(mq.lastProgress).fold(-1L)(_.batchId)
    wave()
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.select("qid", "id", "rank").collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(2)))

  /** The inline replay a probe must equal: the live corpus encoded with
    * the index's own centroids and codebook, ranked in one query. */
  private def replay(corpus: DataFrame): Seq[Row] = {
    val index = AnnIndex.read(spark, idx)
    sorted(Similarity.ivfPqTopK(probe, corpus, index.centroids, index.codebook, K, Probes))
  }

  // ---- the bulk op: an index build over CURRENT ----------------------

  private def indexBuild(): Unit = {
    val corpus = live(current)
    idx = s"${ctx.root}/index$builds"
    builds += 1
    ctx.op("index_build") {
      ctx.span("ops.AnnIndex.write") {
        val cb = Similarity.pqCodebook(corpus, "id", "embedding", NumSub, Codes)
        AnnIndex.write(corpus, centroids, cb, idx, IndexFiles, source = Some((tbl, "id")))
      }
    }
    // the whole corpus: the waves' coverage checks hold the index to it
    buildRows = NVectors
  }

  // ---- the refresh wave ------------------------------------------------

  private def wave(): Unit = {
    val prev = current
    val stride = NVectors / EditIds
    val off = new java.util.Random(ctx.seed).nextInt(stride)
    // the edited ids get new vectors, and as many new ids arrive
    vectors(spark.range(EditIds).select((col("id") * stride + off).as("id"))
      .union(spark.range(NVectors, NVectors + EditIds).toDF("id")), ctx.seed * 31)
      .createOrReplaceTempView("perfbench_merge")
    val sql = s"MERGE INTO '$tbl' USING (SELECT id, embedding FROM perfbench_merge) ON id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    val changed = 2 * EditIds
    val before = DirScan.inodes(Seq(tbl, idx))
    val v = ctx.op("refresh") {
      ctx.span("plans.LakehouseSql") { spark.sql(sql).collect() }
      val v = current
      ctx.span("ops.Upsert.materializeCdf") { Upsert.materializeCdf(spark, tbl, v) }
      ctx.span("streaming.Streams") { mq.processAllAvailable() }
      v
    }
    val written = DirScan.newBytes(before, Seq(tbl, idx))
    val progress = mq.recentProgress.filter(_.batchId > lastBatch)
    lastBatch = Option(mq.lastProgress).fold(lastBatch)(_.batchId)

    // the reads, every other one filtered by a metadata allow-list
    for (i <- 0 until Reads) {
      val q = queries(i.toLong * QueriesPerRead, QueriesPerRead, ctx.seed * 7919 + 2)
      ctx.op("read") {
        ctx.span("ops.AnnIndex.topK") {
          val keep = if (i % 2 == 0) None
                     else Some(live(v).select("id").filter(col("id") % 3 =!= 1))
          AnnIndex.topKLive(spark, idx, q, K, Probes, keepIds = keep).collect()
        }
      }
    }

    // the index serves exactly CURRENT
    val stamped = AnnIndex.readStamp(idx).map(_._2)
    report.check(stamped.contains(v),
      s"corpus_maintain: index stamped at $stamped, CURRENT is v$v")
    val ids = Checksum.of(AnnIndex.read(spark, idx).encoded.select("id"))
    val want = Checksum.of(live(v).select("id"))
    report.check(ids == want,
      s"corpus_maintain: index ids $ids differ from CURRENT v$v ids $want")

    val info = Upsert.readCommitInfo(s"$tbl/v$v").map(_._3.toMap).getOrElse(Map.empty)
    val fresh = (DirScan.dataFiles(s"$tbl/v$v") -- DirScan.dataFiles(s"$tbl/v$prev")).toSeq
    refresh = Map(
      "changed_rows" -> changed,
      "touched_files" -> info.getOrElse("files_rewritten", -1L),
      "copied_files" -> info.getOrElse("files_copied", -1L), "fresh_files" -> fresh.size,
      "bytes_written" -> written, "delivered_bytes" -> changed * (8L + 4L * Dim),
      "batches" -> progress.length,
      "applycdf_s" -> progress.map(p =>
        Option(p.durationMs.get("addBatch")).fold(0L)(_.longValue)).sum / 1e3) ++
      (if (!ctx.tracing) Map.empty else Map(
        "inserted_rows" -> spark.read.parquet(s"$tbl/_cdf/v$v")
          .filter(col("_change_type") === "insert").count(),
        "fresh_rows" -> fresh.map(f => DirScan.rows(java.nio.file.Paths.get(s"$tbl/v$v/$f"))).sum))
  }

  // ---- final checks and metrics --------------------------------------

  def finish(): Unit = {
    mq.stop()
    report.check(sorted(AnnIndex.topKLive(spark, idx, probe, K, Probes)) == replay(live(current)),
      "corpus_maintain: probe top-k differs from the inline replay")
    report.detail("input_fingerprint") = Checksum.digest(Seq(
      Checksum.of(spark.read.parquet(s"$tbl/v0")), Checksum.of(probe)).map(_.toString))
    report.detail("inputs") = Map("vectors" -> NVectors, "dim" -> Dim, "cells" -> Cells,
      "codebook" -> s"${NumSub}x$Codes", "table_files" -> TableFiles,
      "index_files" -> IndexFiles, "k" -> K, "probes" -> Probes,
      "reads" -> Reads, "queries_per_read" -> QueriesPerRead,
      "edit_ids" -> EditIds, "index_rows" -> buildRows)
    report.detail("refresh") = refresh
    probe.unpersist(); centroids.unpersist()

    val rate = buildRows / Stats.median(ctx.times("index_build"))
    // reads run once per wave, traced or not
    val reads = ctx.samples.collect { case ("read", s, _) => s }.toSeq
    val e2e = report.endToEnd
    e2e("bulk_rows_per_s") = Metric(rate, "rows/s")
    // the wave runs once, traced or not
    e2e("refresh_s") = Metric(ctx.samples.collect { case ("refresh", s, _) => s }.head, "s")
    e2e("read_p50_s") = Metric(Stats.median(reads), "s")
    e2e("write_amp") = Metric(num("bytes_written") / num("delivered_bytes"), "ratio")
    report.detail("workload_metrics") = Map(
      "index_build_rows_per_s" -> Metric(rate, "rows/s"),
      "index_refresh_s" -> e2e("refresh_s"),
      "read_p50_s" -> e2e("read_p50_s"), "read_samples" -> reads.size,
      "write_amp" -> e2e("write_amp"),
      "error_rate" -> Metric(report.failed.toDouble / report.attempted, "ratio"))

    if (ctx.tracer.enabled) layers()
  }

  private def num(k: String): Double = refresh(k).asInstanceOf[Number].doubleValue

  private def layers(): Unit = {
    val t = ctx.tracer
    val sql = t.layer("plans.LakehouseSql")
    val streams = t.layer("streaming.Streams")
    val topk = t.layer("ops.AnnIndex.topK")
    val write = t.layer("ops.AnnIndex.write")
    report.detail("layers") = Common.commitDetail(t, "plans.LakehouseSql",
        num("touched_files"), num("copied_files"), num("inserted_rows") / num("fresh_rows")) ++ Map(
      "plans.LakehouseSql.pre_job_s" -> t.preJobS("plans.LakehouseSql"),
      "plans.LakehouseSql.exec_s" -> sql.durS,
      "ops.Upsert.materializeCdf_s" -> t.layer("ops.Upsert.materializeCdf").durS,
      "streaming.Streams.refresh_s" -> streams.durS,
      "streaming.Streams.batches" -> num("batches"),
      "ops.AnnIndex.applycdf_s" -> num("applycdf_s"),
      "ops.AnnIndex.applycdf_jobs" -> streams.jobs,
      "ops.AnnIndex.applycdf_idle_s" -> streams.idleS,
      "ops.AnnIndex.applycdf_fs_ops" -> streams.fs.ops,
      "ops.AnnIndex.topk_s" -> topk.durS, "ops.AnnIndex.topk_jobs" -> topk.jobs,
      "ops.AnnIndex.topk_idle_s" -> topk.idleS, "ops.AnnIndex.topk_fs_ops" -> topk.fs.ops,
      "ops.AnnIndex.write_s" -> write.durS, "ops.AnnIndex.write_jobs" -> write.jobs)
  }
}
