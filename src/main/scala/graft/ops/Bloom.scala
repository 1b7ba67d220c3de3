package graft.ops

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Per-FILE Bloom filters over a key column: data skipping for POINT
  * lookups where every file spans the key domain and min/max prune
  * nothing (Delta's Bloom index / Iceberg's bloom column metrics).
  *
  * One sidecar shape serves a table's `_bloom` dir and the ANN index's
  * `codes_bloom.parquet`: rows `(file, key, bits, hashes, bloom)`, one
  * per (file BASENAME, key) — basenames survive the link into the next
  * snapshot — with the parameters on every row, so a probe can't hash
  * with mismatched bits. A key sets `hashes` bits h1 + i*h2 mod m
  * (Kirsch-Mitzenmacher) from two md5-based 60-bit hashes. */
object Bloom {

  /** A table snapshot's sidecar dir name. */
  val TableDir = "_bloom"

  private def tableSidecar(tablePath: String) = s"$tablePath/$TableDir"

  private def codesSidecar(indexPath: String) = s"$indexPath/codes_bloom.parquet"

  /** The sidecar row every writer lands ([[rows]]): every read passes
    * it, so none pays a schema-inference job. */
  private[graft] val Shape = org.apache.spark.sql.types.StructType.fromDDL(
    "file string, key string, bits int, hashes int, bloom array<bigint>")

  /** Table default m, sized for the expected keys/file and the target
    * false-positive rate (m ≈ 1.44 · n · log2(1/p)). */
  val TableBits = 1 << 14
  val TableHashes = 5

  /** ANN codes-file parameters. A false positive costs one extra file
    * in the maintenance membership scan, never a wrong answer — but it
    * COMPOUNDS over the wave: a non-holder file survives a K-id probe
    * with probability ≈ K·p, so the per-key rate p must be sized for
    * the maintainer's batch size, not for a point lookup. 4 KB / 7
    * hashes give p ≈ 6e-4 at ~2k rows/file — a 16-id micro-batch keeps
    * ~1% of non-holders, a 500-id wave ~26% (still a 4× scan cut;
    * raise the bits for bigger waves). */
  private[graft] val CodesBits = 1 << 15
  private[graft] val CodesHashes = 7

  /** ANN probe-size cap: the touched ids' hashes ride to the driver; a
    * larger wave would hit most files anyway and skips the prune. */
  private[graft] val MaxProbe = 100000

  /** (key, h1, h2) per row of `keys`: the one hash, as a Spark plan on
    * the build and the probe side alike. */
  private def probeHashes(keys: DataFrame, key: String): DataFrame = {
    val s = col(key).cast("string")
    keys.select(col(key), Dedup.hash60(s).as("h1"),
      Dedup.hash60(concat(lit("b2:"), s)).as("h2"))
  }

  /** ONE capped job: [[probeHashes]] of `keys` on the driver, None past
    * `cap` (limit(cap+1) bounds what reaches the driver). */
  private[graft] def collectProbe(keys: DataFrame, key: String,
      cap: Int = MaxProbe): Option[Array[Row]] =
    Some(probeHashes(keys, key).limit(cap + 1).collect()).filter(_.length <= cap)

  /** The build: one sidecar row per file, in ONE aggregation pass.
    * (file, word, bit) rows partial-aggregate to ≤ files×words pairs;
    * one lambda-aggregate per word per row cost 3.6 s on 1.5M rows. */
  private def rows(spark: SparkSession, files: Seq[String], key: String,
      bits: Int, numHashes: Int): DataFrame = {
    val m = lit(bits.toLong)
    val positions = transform(
      sequence(lit(0), lit(numHashes - 1)).cast("array<long>"),
      i => pmod(col("h1") + i * pmod(col("h2"), m), m))
    probeHashes(Layout.readParquet(spark, files), key)
      .select(input_file_name().as("file"), explode(positions).as("p"))
      .select(col("file"), shiftright(col("p"), 6).cast("int").as("w"),
        expr("shiftleft(1L, cast(p % 64 AS INT))").as("bit"))
      .groupBy(col("file"), col("w"))
      .agg(expr("bit_or(bit)").as("bits"))
      .groupBy("file")
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("m"))
      .select(substring_index(col("file"), "/", -1).as("file"),
        lit(key).as("key"), lit(bits).as("bits"), lit(numHashes).as("hashes"),
        expr(s"transform(sequence(0, ${bits / 64 - 1}), " +
          "i -> coalesce(element_at(m, cast(i AS INT)), 0L))").as("bloom"))
  }

  private def save(rows: DataFrame, dir: String, append: Boolean): Unit =
    rows.coalesce(1).write.mode(if (append) "append" else "overwrite").parquet(dir)

  /** Build the table's `_bloom` sidecar for `keyCol` over every data
    * file. Commits [[carry]] it forward, so a point-lookup index costs
    * one build, then ∝ the files each commit writes. */
  def writeSidecar(
      spark: SparkSession, tablePath: String, keyCol: String,
      bitsPerFile: Int = TableBits, numHashes: Int = TableHashes): Unit =
    save(rows(spark, Layout.listDataFiles(spark, tablePath), keyCol, bitsPerFile, numHashes),
      tableSidecar(tablePath), append = false)

  /** The ANN index's filters (key `id`): `Some(before)` appends rows for
    * the codes files not in `before` (maintenance, ∝ the files written;
    * deleted files' rows stay behind, ignored by the prune), None
    * rebuilds (build and optimize). Advisory: a lost write only loses
    * the prune. */
  private[graft] def writeCodes(spark: SparkSession, indexPath: String,
      since: Option[Set[String]]): Unit = {
    val files = Layout.listDataFiles(spark, s"$indexPath/codes.parquet")
      .filterNot(since.getOrElse(Set.empty[String]))
    if (files.nonEmpty)
      save(rows(spark, files, "id", CodesBits, CodesHashes), codesSidecar(indexPath), since.isDefined)
    else if (since.isEmpty) // a stale sidecar must not survive
      Fs.of(indexPath, spark).delete(new org.apache.hadoop.fs.Path(codesSidecar(indexPath)), true)
  }

  /** (bits, hashes) per key of `snapshotDir`'s sidecar, keys whose rows
    * agree only; empty (and no job) without a sidecar. */
  private[graft] def params(
      spark: SparkSession, snapshotDir: String): Map[String, (Int, Int)] = {
    val dir = tableSidecar(snapshotDir)
    if (!Fs.of(dir, spark).exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) Map.empty
    else Layout.readParquet(spark, Seq(dir), Some(Shape)).select("key", "bits", "hashes").collect()
      .groupMap(_.getString(0))(r => (r.getInt(1), r.getInt(2)))
      .collect { case (k, ps) if ps.distinct.length == 1 => k -> ps.head }
  }

  /** Carry a flat snapshot's sidecar from `fromDir` into `outDir`: rows
    * of `keys` ([[params]]) ride verbatim for every file not `dropped`,
    * and the `fresh` files' rows are built here, or taken from the
    * sidecar of `builtIn`, whose commit built them. No keys writes
    * nothing: absent means "rebuild", never an incomplete filter. */
  private[graft] def carry(spark: SparkSession, fromDir: String, outDir: String,
      keys: Map[String, (Int, Int)], dropped: Set[String], fresh: Seq[String],
      builtIn: Option[String] = None): Unit =
    if (keys.nonEmpty) {
      def of(dir: String, names: Seq[String], in: Boolean) =
        Layout.readParquet(spark, Seq(tableSidecar(dir)), Some(Shape))
          .filter(col("key").isin(keys.keys.toSeq: _*) && col("file").isin(names: _*) === in)
      val added = builtIn match {
        case Some(dir) => Seq(of(dir, fresh.map(basename), in = true))
        case None if fresh.nonEmpty =>
          keys.toSeq.sorted.map { case (k, (b, h)) => rows(spark, fresh, k, b, h) }
        case None => Nil
      }
      save((of(fromDir, dropped.toSeq, in = false) +: added).reduce(_ unionByName _),
        tableSidecar(outDir), append = false)
    }

  /** The one probe: per basename of the sidecar at `dir`, may the file
    * hold a key of `probe`? DISTRIBUTED over the rows for `key` with the
    * probe hashes broadcast: the driver never holds filter words (GBs
    * at a production file count), only verdicts, OR-ed per basename.
    * None when the sidecar is absent or unreadable: with the known
    * [[Shape]] an absent dir refuses at analysis but a corrupt file
    * only at the collect, so the guard covers both. */
  private def verdicts(spark: SparkSession, dir: String, key: String,
      probe: Array[(Long, Long)]): Option[Map[String, Boolean]] = {
    val bc = spark.sparkContext.broadcast(probe)
    val mayContain = udf { (bloom: Seq[Long], bits: Int, hashes: Int) =>
      val m = bits.toLong
      bc.value.exists { case (h1, h2) =>
        (0 until hashes).forall { i =>
          val p = java.lang.Math.floorMod(h1 + i * java.lang.Math.floorMod(h2, m), m)
          (bloom((p / 64).toInt) & (1L << (p % 64))) != 0
        }
      }
    }
    try Some(Layout.readParquet(spark, Seq(dir), Some(Shape))
        .filter(col("key") === key)
        .select(col("file"), mayContain(col("bloom"), col("bits"), col("hashes")))
        .collect().groupMapReduce(_.getString(0))(_.getBoolean(1))(_ || _))
    catch { case NonFatal(_) => None }
    finally bc.unpersist(false)
  }

  private def basename(f: String) = f.substring(f.lastIndexOf('/') + 1)

  /** Read only the table's files whose `_bloom` filter for `keyCol`
    * MAY hold one of `keys`, with the exact residual filter. Every data
    * file must have a filter row: a drifted sidecar fails loudly
    * instead of silently skipping a file the filter never saw.
    *
    * @return (rows, data files, files read) */
  def readPruned(
      spark: SparkSession, tablePath: String, keyCol: String,
      keys: Seq[Long]): (DataFrame, Int, Int) = {
    import spark.implicits._
    val probe = probeHashes(keys.toDF(keyCol), keyCol).collect() // local, no job
      .map(r => (r.getLong(1), r.getLong(2)))
    val may = verdicts(spark, tableSidecar(tablePath), keyCol, probe)
      .filter(_.nonEmpty).getOrElse(throw new IllegalArgumentException(
        s"no Bloom sidecar rows for key '$keyCol' under $tablePath — " +
          "build one with Bloom.writeSidecar"))
    val byName = Layout.listDataFiles(spark, tablePath).map(f => basename(f) -> f).toMap
    require(byName.keySet == may.keySet,
      s"Bloom sidecar drift under $tablePath: files without filters " +
        s"${byName.keySet.diff(may.keySet).take(3)} / stale filter rows " +
        s"${may.keySet.diff(byName.keySet).take(3)} — rebuild the sidecar")
    val hit = byName.collect { case (n, f) if may(n) => f }.toSeq.sorted
    val data =
      if (hit.isEmpty) Layout.readParquet(spark, Seq(byName.values.head)).limit(0) // empty, correct schema
      else Layout.readParquet(spark, hit)
    (data.filter(col(keyCol).isin(keys: _*)), byName.size, hit.size)
  }

  /** The ANN index's advisory prune: `files` minus those whose filter
    * proves they hold none of the ids `probe` ([[collectProbe]])
    * carries. Prunes nothing past the cap (None) or when the sidecar is
    * absent, unreadable or empty; a file without a filter row is always
    * a candidate. */
  private[graft] def pruneCodes(spark: SparkSession, indexPath: String,
      files: Seq[String], probe: Option[Array[Row]]): Seq[String] =
    probe.flatMap(rows => verdicts(spark, codesSidecar(indexPath), "id",
        rows.map(r => (r.getLong(1), r.getLong(2)))))
      .filter(_.nonEmpty)
      .fold(files)(may => files.filter(f => may.getOrElse(basename(f), true)))
}
