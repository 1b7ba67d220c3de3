package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.fia._
import graft.ops.{Fs, Upsert}
import graft.plans.LakehouseSql

/** `fia_maintain`: a state's annualized output, built once and then
  * kept as a graft table across yearly FIA deliveries.
  *
  * Inputs: `SyntheticState.tables` with the organic survey-gap mix
  * `Seq(3, 5, 5, 7, 9)`, every PLOT number shifted by the seed's offset.
  * The seed also ranks the plots by a salted hash; the first ranks fill
  * the delivery slots in order. A slot's plot arrives whole if it has
  * one survey, else its latest survey arrives. Set-up stages the raw
  * tables partitioned by slot.
  *
  * The cycle:
  *  1. the state build (the bulk op, the reference's production query,
  *     `scripts/state-parquet.R:10-49`) of the rows no slot holds: load
  *     the staged parquet, `Pipeline.runBucketed`, and
  *     `Pipeline.writeParquet` for both mortality variants;
  *  2. the build's output committed as the table's `v0`,
  *     range-clustered on `row_id` into 48 files and keyed on
  *     `(row_id, YEAR, variant)`. `row_id` is `tree_ID`, or `plot_ID` on
  *     the plot-level rows the pipeline emits for treeless plots (their
  *     `tree_ID` is NULL, and a NULL key is never evicted by a commit);
  *  3. each delivery in turn: recompute the dirty plots
  *     (`Incremental.restrictToDirty` + `bothVariants`), remove the
  *     stale rows and upsert the recomputed ones in ONE `Upsert` commit,
  *     then three reads: the previous version (time travel), the change
  *     feed of the new version, and `PopScale.carbonPerAcre` on CURRENT.
  *
  * Two sizes. The benchmark's (`fia_maintain`): 600 plots and one small
  * delivery of 24 plots, under both of the commit engine's driver-local
  * bounds. By hand (`fia_maintain_full`): 2000 plots, the small delivery
  * then a large one of 1300 plots, over both bounds; it sets
  * `spark.sql.files.openCostInBytes` to 128 MB for its own session (one
  * scan split per file), so that the commit writes one fresh file per
  * touched file and the large delivery's fresh files pass
  * `DriverFooterMaxFiles`. A run of it takes 2-3 minutes.
  *
  * Each delivery's key-tuple and fresh-file counts must fall on the
  * intended side of both bounds; a run whose traffic does not refuses to
  * report. Checks: time travel reads the previous version's rows, each
  * change feed connects the two versions' checksums exactly, and after
  * the last delivery every plot has arrived, so CURRENT must equal
  * `Incremental.bothVariants` over the full raw tables, bit for bit. For
  * the benchmark's size that reference is pinned below with the seed's
  * offset taken out (the offset changes ids only); the traced run
  * recomputes it and checks the pin, and also checks the traced build
  * (which runs `runBucketed`'s calls one by one, see [[Fia.build]])
  * against the untraced one. `fia_maintain_full` computes the reference
  * in every run. */
final class FiaMaintain(ctx: Ctx, full: Boolean) extends Workload {
  import ctx.{report, spark}
  import Fia.Tables

  private val NPlots = if (full) 2000 else 600
  /** (kind, plots) of each delivery slot, in delivery order. */
  private val Slots = if (full) Seq("small" -> 24, "large" -> 1300) else Seq("small" -> 24)
  private val TableFiles = 48
  private val PlotKeyCols = Seq("STATECD", "UNITCD", "COUNTYCD", "PLOT")
  private val KeyCols = Seq("row_id", "YEAR", "variant")
  // bothVariants over the full 600-plot state, without the seed's offset
  private val Reference = Checksum(56586L, 121758872262297L, 121394431510078L)
  val bulkOp = "build"
  val commitSpan = "ops.Upsert"

  private val tbl = s"${ctx.root}/table"
  private var rawDir = ""
  private var fingerprint = ""
  private var builds = 0
  private var buildRows = 0L
  private var buildSum: Option[Checksum] = None
  private var v0S = 0.0
  private var lastBuild: (String, StructType) = _
  private var version = 0L
  private val versionSum = mutable.Map.empty[Long, Checksum]
  private val deliveries = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def plotKey: Column = concat_ws("_", PlotKeyCols.map(col): _*)

  def stage(dir: String): Unit = {
    val state = Fia.seededTables(spark, NPlots, ctx.seed)
    // each plot's surveys (CN, INVYR), on the driver: a few thousand rows
    val surveys = state("PLOT").select(plotKey.as("k"), col("INVYR"), col("CN")).collect()
      .groupBy(_.getString(0)).toSeq
      .sortBy { case (k, _) => scala.util.hashing.MurmurHash3.stringHash(k, ctx.seed.toInt) -> k }
    // the seeded ranking fills the slots in order; a slot's plot
    // delivers its only survey, or its latest
    val starts = Slots.map(_._2).scanLeft(0)(_ + _)
    val delivered = Slots.indices.map { d =>
      surveys.slice(starts(d), starts(d + 1)).map { case (_, rows) =>
        rows.maxBy(_.getInt(1)) }.map(r => (s"${r.getString(0)}_${r.getInt(1)}", r.get(2)))
    }
    def tag(byKey: Column, keys: Seq[Seq[Any]]): Column =
      keys.indices.foldRight(lit(-1)) { (d, rest) =>
        when(byKey.isin(keys(d): _*), lit(d)).otherwise(rest)
      }
    // the plot surveys and the delivery's membership, with the seed's
    // offset in the PLOT numbers, determine every generated table
    fingerprint = Checksum.digest(surveys.flatMap(_._2.map(_.mkString(","))).sorted ++
      delivered.map(_.map(_._1).sorted.mkString(",")))
    val byPlotSurvey = tag(concat_ws("_", plotKey, col("INVYR")), delivered.map(_.map(_._1)))
    Tables.foreach { t =>
      val slot = if (t == "PLOTGEOM") tag(col("CN"), delivered.map(_.map(_._2))) else byPlotSurvey
      state(t).withColumn("delivery", slot)
        .write.mode("overwrite").partitionBy("delivery").parquet(s"$dir/$t")
    }
    rawDir = dir
  }

  /** Raw tables after `n` deliveries (the base plus slots 0..n-1). */
  private def raw(n: Int): Map[String, DataFrame] = Tables.map(t =>
    t -> spark.read.parquet(s"$rawDir/$t").filter(col("delivery") < n).drop("delivery")).toMap

  /** The rows of delivery slot `d`. */
  private def batch(d: Int): Map[String, DataFrame] = Tables.map(t =>
    t -> spark.read.parquet(s"$rawDir/$t").filter(col("delivery") === d).drop("delivery")).toMap

  private def snapshot(v: Long): DataFrame = Upsert.readSnapshot(spark, tbl, v)

  /** Pipeline output with the table's never-NULL leading key. */
  private def keyed(out: DataFrame): DataFrame =
    out.withColumn("row_id", coalesce(col("tree_ID"), col("plot_ID")))

  /** `bothVariants` over the full raw tables: the reference CURRENT
    * must equal after the last delivery. */
  private def reference(): Checksum =
    Fia.unseeded(keyed(Incremental.bothVariants(spark, raw(Slots.size))), ctx.seed)

  def prepare(): Unit =
    if (full) spark.conf.set("spark.sql.files.openCostInBytes", 128L << 20)

  def cycle(): Unit = {
    ctx.bothWays(build())
    commitV0()
    Slots.indices.foreach(delivery)
  }

  // ---- the bulk op: the state build, then its output as v0 ------------

  private def build(): Unit = {
    val n = builds
    builds += 1
    val (out, stageDir) = (s"${ctx.root}/out$n", s"${ctx.root}/annual$n")
    val schema = ctx.op("build") { Fia.build(ctx, raw(0), stageDir, out) }
    buildRows = DirScan.dataFiles(out).toSeq
      .map(f => DirScan.rows(java.nio.file.Paths.get(out, f))).sum
    lastBuild = (out, schema)
    if (ctx.tracer.enabled) {
      // the traced build must write what the untraced one wrote
      val sum = Checksum.of(output(out, schema))
      buildSum.foreach(s => report.check(s == sum,
        s"fia_maintain build $n: output $sum differs from the previous build's $s"))
      buildSum = Some(sum)
    }
  }

  /** Both variants of a build's output, as `bothVariants` gives them. */
  private def output(out: String, schema: StructType): DataFrame =
    Fia.Variants.map(v => Fia.readOutput(spark, out, v, schema).withColumn("variant", lit(v)))
      .reduce(_ unionByName _)

  private def commitV0(): Unit = {
    val (out, schema) = lastBuild
    v0S = ctx.time("commit v0") {
      keyed(output(out, schema))
        .repartitionByRange(TableFiles, col("row_id"))
        .sortWithinPartitions(KeyCols.map(col): _*)
        .write.parquet(s"$tbl/v0")
      Fs.writeTextAtomic(Fs.of(tbl), new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    }._2
    versionSum(0L) = Checksum.of(snapshot(0L))
  }

  // ---- one yearly delivery -------------------------------------------

  private def delivery(d: Int): Unit = {
    val kind = Slots(d)._1
    val small = kind == "small"
    val prev = version
    val before = DirScan.inodes(Seq(tbl))
    val (rec, next, tuples) = ctx.op(s"delivery_$kind") {
      val dirty = Incremental.dirtyPlotIds(batch(d))
      val rec = ctx.span("fia.Incremental") {
        val r = keyed(Incremental.bothVariants(spark,
          Incremental.restrictToDirty(raw(d + 1), dirty))).persist()
        r.count(); r
      }
      val stale = snapshot(prev).join(broadcast(dirty), Seq("plot_ID"), "left_semi")
        .join(rec.select(KeyCols.map(col): _*), KeyCols, "left_anti")
      val cdc = rec.withColumn("__op", lit("u"))
        .unionByName(stale.withColumn("__op", lit("d")))
      ctx.span("ops.Upsert") {
        val next = LakehouseSql.claimNextVersion(tbl)
        val (_, _, nUp, nDel) = Upsert.applyCdcBatchKeys(
          spark, s"$tbl/v$prev", s"$tbl/v$next", cdc, KeyCols, "__op")
        LakehouseSql.publishOrAbort(tbl, s"v$prev", next, "MERGE")
        (rec, next, nUp + nDel)
      }
    }
    version = next

    // traffic: which side of the driver-local bounds this commit fell on
    val prevFiles = DirScan.dataFiles(s"$tbl/v$prev")
    val nextFiles = DirScan.dataFiles(s"$tbl/v$next")
    val fresh = (nextFiles -- prevFiles).toSeq
    val info = Upsert.readCommitInfo(s"$tbl/v$next").map(_._3.toMap).getOrElse(Map.empty)
    val under = tuples <= Upsert.DriverLocalizeMaxKeys && fresh.size <= Upsert.DriverFooterMaxFiles
    val over = tuples > Upsert.DriverLocalizeMaxKeys && fresh.size > Upsert.DriverFooterMaxFiles
    if (!(if (small) under else over))
      throw new IllegalStateException(s"fia_maintain delivery $d ($kind)" +
        s": $tuples key tuples and ${fresh.size} fresh files are not on the intended side of " +
        s"DriverLocalizeMaxKeys=${Upsert.DriverLocalizeMaxKeys} and " +
        s"DriverFooterMaxFiles=${Upsert.DriverFooterMaxFiles} (commit info: $info)")
    val written = DirScan.newBytes(before, Seq(tbl))

    // three reads beside the write
    val oldRows = ctx.op("read") {
      ctx.span("ops.Upsert.read") {
        snapshot(prev).agg(count(lit(1)), sum("CARBON_AG")).head().getLong(0)
      }
    }
    val feed = ctx.op("read") {
      ctx.span("ops.Upsert.read") {
        val f = Upsert.changeDataFeed(spark, tbl, prev, next).persist(); f.count(); f
      }
    }
    ctx.op("read") {
      ctx.span("fia.PopScale") {
        PopScale.carbonPerAcre(snapshot(next).filter(col("variant") === "midpt"), Fia.StateAcres)
          .collect()
      }
    }

    // checks: time travel returns the previous version's rows, and the
    // feed carries exactly the difference between the two versions
    report.check(oldRows == versionSum(prev).rows,
      s"fia_maintain delivery $d: time travel to v$prev read $oldRows rows, " +
        s"expected ${versionSum(prev).rows}")
    val cols = rec.columns.toSeq.map(col)
    def side(t: String) = Checksum.of(feed.filter(col("_change_type") === t).select(cols: _*))
    val (ins, del) = (side("insert"), side("delete"))
    versionSum(next) = Checksum.of(snapshot(next))
    report.check(ins.rows > 0 && versionSum(prev) + ins - del == versionSum(next),
      s"fia_maintain delivery $d: change feed v$prev->v$next (+$ins -$del) does not " +
        s"connect ${versionSum(prev)} to ${versionSum(next)}")
    val freshRows = fresh.map(f => DirScan.rows(java.nio.file.Paths.get(s"$tbl/v$next/$f"))).sum

    deliveries += Map(
      "slot" -> d, "kind" -> kind,
      "key_tuples" -> tuples, "touched_files" -> info.getOrElse("files_rewritten", -1L),
      "copied_files" -> info.getOrElse("files_copied", -1L), "fresh_files" -> fresh.size,
      "recomputed_rows" -> rec.count(), "changed_rows" -> ins.rows, "fresh_rows" -> freshRows,
      "bytes_written" -> written,
      "delivered_bytes" -> Tables.map(t => DirScan.bytes(s"$rawDir/$t/delivery=$d")).sum,
      "cdf_files_ratio" -> ((prevFiles -- nextFiles).size + fresh.size).toDouble /
        (prevFiles ++ nextFiles).size)
    feed.unpersist(); rec.unpersist()
  }

  // ---- final checks and metrics --------------------------------------

  /** Samples of an op kind, traced or not (deliveries and reads run
    * once per cycle either way). */
  private def times(kind: String): Seq[Double] =
    ctx.samples.collect { case (`kind`, s, _) => s }.toSeq

  def finish(): Unit = {
    val got = Fia.unseeded(snapshot(version), ctx.seed)
    val want = if (full) reference() else Reference
    report.check(got == want,
      s"fia_maintain: CURRENT v$version $got != bothVariants over the full raw tables $want")
    if (!full && ctx.tracer.enabled) {
      val ref = reference()
      report.check(ref == Reference,
        s"fia_maintain: bothVariants over the full raw tables $ref != pinned $Reference")
    }

    report.detail("input_fingerprint") = fingerprint
    report.detail("inputs") = Map("plots" -> NPlots, "plot_offset" -> Fia.plotOffset(ctx.seed),
      "survey_gaps" -> Fia.Gaps, "table_files" -> TableFiles, "slots" -> Slots.toMap,
      "build_rows" -> buildRows, "v0_rows" -> versionSum(0L).rows, "final_rows" -> got.rows)
    report.detail("deliveries") = deliveries
    report.detail("commit_v0_s") = v0S

    def sumOf(k: String) = deliveries.map(_(k).asInstanceOf[Number].doubleValue).sum
    val build = Stats.median(ctx.times("build"))
    val small = Stats.median(times("delivery_small"))
    val e2e = report.endToEnd
    e2e("bulk_rows_per_s") = Metric(buildRows / build, "rows/s")
    e2e("refresh_s") = Metric(small, "s")
    e2e("read_p50_s") = Metric(Stats.median(times("read")), "s")
    e2e("write_amp") = Metric(sumOf("bytes_written") / sumOf("delivered_bytes"), "ratio")
    report.detail("workload_metrics") = Map(
      "tree_years_per_s" -> e2e("bulk_rows_per_s"), "build_s" -> Metric(build, "s"),
      "delivery_small_s" -> e2e("refresh_s"),
      "read_p50_s" -> e2e("read_p50_s"), "read_samples" -> times("read").size,
      "write_amp" -> e2e("write_amp"),
      "error_rate" -> Metric(report.failed.toDouble / report.attempted, "ratio")) ++
      (if (full) Map("delivery_large_s" -> Metric(Stats.median(times("delivery_large")), "s"))
       else Map.empty)

    if (ctx.tracer.enabled) layers()
  }

  private def layers(): Unit = {
    val t = ctx.tracer
    def n(k: String) = deliveries.map(_(k).asInstanceOf[Number].doubleValue).sum
    val reads = t.layer("ops.Upsert.read")
    val inc = t.layer("fia.Incremental")
    val pop = t.layer("fia.PopScale")
    report.detail("layers") = Fia.buildLayers(t, s"${ctx.root}/out${builds - 1}") ++
      Common.commitDetail(t, "ops.Upsert", n("touched_files"), n("copied_files"),
        n("changed_rows") / n("fresh_rows")) ++ Map(
      "fia.Incremental.exec_s" -> inc.durS, "fia.Incremental.jobs" -> inc.jobs,
      "fia.Incremental.useful_ratio" -> n("changed_rows") / n("recomputed_rows"),
      "ops.Upsert.read_s" -> reads.durS, "ops.Upsert.read_jobs" -> reads.jobs,
      // time travel opens every file of its snapshot; the feed opens
      // only the files the commit changed
      "ops.Upsert.files_read_ratio" -> (1.0 + n("cdf_files_ratio") / deliveries.size) / 2,
      "fia.PopScale.exec_s" -> pop.durS, "fia.PopScale.jobs" -> pop.jobs)
  }
}
