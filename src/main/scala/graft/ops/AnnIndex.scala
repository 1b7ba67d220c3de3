package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index: build once, probe many times.
  *
  * [[Similarity.ivfPqTopK]] recomputes cell assignment and PQ codes on
  * every invocation — fine for a gate, wrong for the production
  * workflow, where the expensive pass over the corpus (one scan: cell
  * argmax + PQ encode) should happen ONCE and every later query batch
  * should read only the small artifacts. This object gives that index a
  * durable on-disk form, all parquet:
  *
  *   path/centroids.parquet   (cid, embedding)        — coarse quantizer
  *   path/codebook.parquet    (subspace, code, vec)   — PQ codebook
  *   path/codes.parquet       (id, cell, codes)       — encoded corpus,
  *       range-clustered by `cell` so a probe's candidate read skips
  *       most row groups via footer min/max stats (the
  *       [[Layout.writeRangeLayout]] idea applied to the index: at 100 TB
  *       the codes table is the big artifact, and cell-clustering makes
  *       each probe touch ~probes/C of it)
  *   path/INDEX_OK            marker: written LAST, so a half-written
  *       index (crashed build) is never readable
  *
  * The probe path ([[topK]]) feeds the reloaded artifacts through
  * [[Similarity.ivfPqTopKEncoded]] — the same scoring code the inline
  * fit uses, so a reloaded index returns bit-identical top-k
  * (AnnIndexSpec asserts equality against [[Similarity.ivfPqTopK]]).
  *
  * MUTATOR CONCURRENCY: [[append]], [[reconcile]] and [[applyCdf]]
  * serialize under a per-index `_MAINTLOCK`
  * ([[Fs.withPathLock]] — the same OS-lock/lease primitive the
  * lakehouse CURRENT swap uses). Without it, an append landing files
  * into `codes.parquet` while a concurrent rewrite deletes-and-swaps
  * that directory would silently drop the appended rows; under the
  * lock the loser of a maintenance race simply observes
  * stamp==CURRENT and no-ops. Readers never take the lock — the
  * INDEX_OK marker is the visibility point.
  */
object AnnIndex {

  /** In-memory handle to a (re)loaded index.
    * @param stamp the indexed SOURCE snapshot, when the index was
    *   built from a versioned table: (tableDir, version, idCol) —
    *   what [[topKLive]] adjudicates staleness against. */
  final case class Index(
      centroids: DataFrame,
      codebook: Array[Array[Array[Float]]],
      encoded: DataFrame,
      stamp: Option[(String, Long, String)] = None)

  /** One corpus scan: assign cells, PQ-encode, write all artifacts.
    *
    * @param source when the corpus came from a VERSIONED table, its
    *   table dir + the id column name there — stamped (with the
    *   table's resolved current version) into INDEX_OK, which is what
    *   gives the persisted index a staleness contract at all: a probe
    *   through [[topKLive]] compares the stamp to the table's current
    *   version and refuses or reconciles instead of silently serving
    *   ids a later DELETE removed (the same silent-divergence class
    *   the CDC mirrors refuse via `_cdf_applied.json`). Unstamped
    *   indexes (ad-hoc corpora) keep the old caller-owns-freshness
    *   behavior. */
  def write(
      corpus: DataFrame, centroids: DataFrame,
      cb: Array[Array[Array[Float]]], path: String,
      numRangePartitions: Int = 4,
      source: Option[(String, String)] = None): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val stamp = source.map { case (tbl, idCol) =>
      val v = Upsert.currentVersion(tbl).getOrElse(throw new IllegalArgumentException(
        s"AnnIndex.write: source '$tbl' is not a versioned table (no " +
          "CURRENT pointer or commit log) — omit `source` for ad-hoc corpora"))
      (tbl, v, idCol)
    }
    centroids.select(col("cid"), col("embedding"))
      .write.mode("overwrite").parquet(s"$path/centroids.parquet")
    cb.zipWithIndex.flatMap { case (codes, mi) =>
      codes.zipWithIndex.map { case (vec, c) => (mi, c, vec.toSeq) }
    }.toSeq.toDF("subspace", "code", "vec")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebook.parquet")
    // quantization-error BASELINE rides the encode job itself
    // (CollectMetrics — no second corpus pass): the corpus-mean
    // squared L2 between each vector and its PQ reconstruction,
    // recorded in the marker so a later update wave has a number to
    // measure distribution drift against (see [[applyCdf]])
    val obs = new org.apache.spark.sql.Observation()
    // ONE corpus pass: the encode materializes via localCheckpoint
    // (the checkpoint action runs under withAction, so the qerr metric
    // fires here), and the range write's boundary SAMPLING plus the
    // shuffle itself then read the checkpointed (id, cell, codes)
    // blocks — ~30× narrower than the float corpus — instead of
    // re-running the scan+encode per consumer (repartitionByRange
    // samples its child to pick boundaries, so the un-checkpointed
    // shape paid the corpus encode TWICE; guide §1.2: fix the number
    // of passes before anything else).
    val enc = Similarity.pqEncode(
        Similarity.nearestCell(
          corpus.select(col("id"), col("embedding")), centroids),
        "embedding", cb)
      .observe(obs, avg(quantErr(cb)).as("qerr_mean"))
      .select(col("id"), col("cell"), col("codes"))
      .localCheckpoint()
    // range-cluster on (cell, id), not cell alone: probes still skip
    // by the leading cell bounds, but a heavy cell can now SPLIT
    // across files — file count scales with the corpus (fixed rows
    // per file) instead of capping at the cell count, which is what
    // makes the maintenance layer's file-granular rewrite
    // delta-proportional at any scale
    enc.repartitionByRange(numRangePartitions, col("cell"), col("id"))
      .sortWithinPartitions(col("cell"), col("id"))
      .write.mode("overwrite").parquet(s"$path/codes.parquet")
    enc.unpersist(false)
    // per-file id Bloom sidecar: what makes the maintenance layer's
    // candidate selection metadata-only (see [[rewriteCodesDelta]])
    appendCodesBloom(spark, path,
      Layout.listDataFiles(spark, s"$path/codes.parquet"), rebuild = true)
    val qerr = Option(obs.get.getOrElse("qerr_mean", null)) // null on an empty corpus
      .map(b => qerrJson(b.asInstanceOf[Double], None))
    // through the Fs substrate (scheme-proof; FsSubstrateSpec's source
    // gate forbids raw java.io writes in the ops layer)
    Fs.writeTextAtomic(Fs.of(path),
      new org.apache.hadoop.fs.Path(s"$path/INDEX_OK"),
      markerText(cb, stamp, None, qerr))
  }

  /** Per-row PQ quantization error: the squared L2 between the row's
    * own `embedding` and its code reconstruction — exactly
    * [[Similarity.adcDistance]] with the vector as its own query. A
    * pure column expression over a frame that carries both `embedding`
    * and `codes`. */
  private def quantErr(cb: Array[Array[Array[Float]]]) =
    Similarity.adcDistance(col("embedding"), col("codes"), cb)

  // locale-proof number rendering (Double.toString is locale-fixed)
  private def qerrJson(base: Double, last: Option[(Double, Double)]): String =
    s"""{"qerrBase":$base""" +
      last.fold("") { case (l, r) => s""","qerrLast":$l,"qerrRatio":$r""" } + "}"

  private def readMarkerDouble(path: String, field: String): Option[Double] =
    Fs.readTextIfExists(Fs.of(path),
        new org.apache.hadoop.fs.Path(s"$path/INDEX_OK"))
      .flatMap(txt => (s""""$field":([-+0-9.eE]+)""").r
        .findFirstMatchIn(txt).map(_.group(1).toDouble))

  /** The build-time corpus-mean quantization error, if recorded. */
  def readQerrBase(path: String): Option[Double] =
    readMarkerDouble(path, "qerrBase")

  /** The last maintenance pass's delta-mean quantization error over
    * the build-time baseline, if a pass recorded one — the
    * distribution-drift signal: ~1 means updates quantize as well as
    * the corpus the artifacts were fitted on; a growing ratio means
    * recall is degrading and a rebuild (artifact refit) is due. */
  def readQerrRatio(path: String): Option[Double] =
    readMarkerDouble(path, "qerrRatio")

  // The stamp line is JSON; a table path (or id column) containing a
  // quote or backslash must round-trip through it, or readStamp would
  // silently return None and a stamped index would degrade to
  // unstamped — the misleading "built from an ad-hoc corpus" refusal.
  private def jesc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def junesc(s: String): String =
    s.replaceAll("""\\(.)""", "$1")
  // a JSON string body with escapes: runs of non-quote/non-backslash
  // or backslash-escaped pairs
  private val jstr = """((?:[^"\\]|\\.)*)"""

  private def markerText(
      cb: Array[Array[Array[Float]]],
      stamp: Option[(String, Long, String)],
      advance: Option[String] = None,
      qerr: Option[String] = None): String =
    s"numSub=${cb.length} codes=${cb(0).length}" +
      stamp.fold("") { case (tbl, v, idCol) =>
        val adv = advance.fold("")(a => s""","advance":"$a"""")
        s"""\n{"src":"${jesc(tbl)}","srcVersion":$v,"idCol":"${jesc(idCol)}"$adv}"""
      } +
      qerr.fold("")(q => s"\n$q")

  /** The marker's quantization-error record, re-rendered for a
    * mutator that rewrites the marker but did not measure (append,
    * reconcile) — the baseline must survive every marker rewrite or
    * the drift signal dies on the first maintenance pass. Read BEFORE
    * the marker comes off. */
  private def qerrCarry(path: String): Option[String] =
    readQerrBase(path).map { b =>
      val last = for {
        l <- readMarkerDouble(path, "qerrLast")
        r <- readMarkerDouble(path, "qerrRatio")
      } yield (l, r)
      qerrJson(b, last)
    }

  /** The (tableDir, version, idCol) source stamp of a persisted
    * index, when it was built from a versioned table. */
  def readStamp(path: String): Option[(String, Long, String)] =
    Fs.readTextIfExists(Fs.of(path),
        new org.apache.hadoop.fs.Path(s"$path/INDEX_OK"))
      .flatMap { txt =>
        for {
          src <- s""""src":"$jstr"""".r.findFirstMatchIn(txt).map(m => junesc(m.group(1)))
          v <- """"srcVersion":(-?\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
          idc <- s""""idCol":"$jstr"""".r.findFirstMatchIn(txt).map(m => junesc(m.group(1)))
        } yield (src, v, idc)
      }

  /** How the stamp last advanced: "verified" (every intervening
    * commit's effect was proved insert-only and covered by the
    * appended delta, via the source's change feed) or "assumed" (some
    * intervening commit had no materialized feed, so the advance is
    * the caller's assertion — recorded, not hidden). Absent on a
    * freshly built index. */
  def readStampAdvance(path: String): Option[String] =
    Fs.readTextIfExists(Fs.of(path),
        new org.apache.hadoop.fs.Path(s"$path/INDEX_OK"))
      .flatMap(txt => """"advance":"(\w+)"""".r.findFirstMatchIn(txt)
        .map(_.group(1)))

  // Commit verbs whose row-set effect the index layer understands.
  // delete-shaped: rows only ever removed — the encoded corpus stays a
  // SUPERSET of the live rows, so a probe reconciles via a live-id
  // semi-join. row-preserving: files rewritten, row set identical
  // (compaction/clustering) — nothing for the index to see.
  private val deleteShaped = Set("DELETE", "DELETE_DV", "COMPACT_DELETES")
  private val rowPreserving = Set("OPTIMIZE")
  // verbs that may add rows and, when the commit's change feed is
  // materialized, can be VERIFIED insert-only + delta-covered
  private val appendable = Set("MERGE", "CDC")

  /** Walk cap: adjudicating a gap costs up to one verb read per
    * PUBLISHED version, and a maintainer lagging thousands of commits
    * must not pay thousands of driver round-trips before refusing —
    * mirrors `spark.graft.occ.maxRebaseWalk`'s 64-commit cap on the
    * OCC rebase walk. Past the cap the walk-based paths refuse and
    * name [[applyCdf]], whose cost is the ENDPOINT snapshot diff (no
    * per-version walk at all). */
  private[graft] val MaxWalkConf = "spark.graft.ann.maxWalk"

  /** Optional drift threshold for [[applyCdf]]: when set, a pass
    * whose delta-mean quantization error exceeds `threshold ×
    * qerrBase` REFUSES (before any file moves) instead of recording
    * the ratio and proceeding. Unset by default — in-place updates
    * routinely quantize a little differently than the corpus mean and
    * the right threshold is workload-specific. */
  private[graft] val MaxDriftConf = "spark.graft.ann.maxDriftRatio"

  /** Per-codes-file id Bloom sidecar parameters. The sidecar makes
    * [[rewriteCodesDelta]]'s candidate selection metadata-only for
    * the files it covers: a file whose filter says "definitely no
    * touched id here" is excluded without opening its footer or
    * scanning its id column. A false positive costs one extra file in
    * the membership scan, never a wrong answer — but it COMPOUNDS
    * over the wave: a non-holder file survives a K-id probe with
    * probability ≈ K·p, so the per-key rate p must be sized for the
    * maintainer's batch size, not for a point lookup. Defaults
    * (4 KB / 7 hashes) give p ≈ 6e-4 at ~2k rows/file — a 16-id
    * micro-batch keeps ~1% of non-holders, a 500-id wave ~26% (still
    * a 4× scan cut; raise bits for bigger waves). */
  private[graft] val BloomBitsConf = "spark.graft.ann.bloomBits"
  private[graft] val BloomHashesConf = "spark.graft.ann.bloomHashes"

  /** Probe-size cap for the Bloom path: testing the filters needs the
    * touched ids' hashes on the driver, so a wave larger than this
    * skips the Bloom prune (falls back to bounds + membership scan,
    * which at that wave size would hit most files anyway). */
  private[graft] val BloomMaxProbeConf = "spark.graft.ann.bloomMaxProbe"

  /** The staleness walks' metadata for the gap (stamped, cur], built
    * BATCHED — the [[graft.streaming.Streams.feedGapHarm]] shape: one
    * snapshot-dir listing, one `_commitlog` listing, one `_cdf`
    * listing (when feeds matter), then at most ONE verb read per
    * PUBLISHED gap version — instead of 1–3 sequential driver
    * round-trips per version. On an object store each round-trip is
    * an RPC; a 64-version gap was ~190 sequential calls, now 3
    * listings + ≤64 parallel-friendly reads. */
  private final class GapEvidence(
      snap: Set[Long], logged: Set[Long], feeds: Set[Long],
      val verb: Map[Long, String]) {
    /** On the published chain: a retained snapshot dir or a surviving
      * commit-log entry (which outlives a vacuumed snapshot until log
      * truncation). A claimed-but-never-published number is an
      * OCC-rebase discard: benign, not published. */
    def published(v: Long): Boolean = snap(v) || logged(v)
    def hasFeed(v: Long): Boolean = feeds(v)
  }

  /** Build [[GapEvidence]], enforcing the two guards every walk needs
    * FIRST: the walk cap (see [[MaxWalkConf]]) and the reclaim-horizon
    * rule — a gap extending below the commit-log truncation
    * checkpoint or the oldest retained snapshot has had its evidence
    * trail reclaimed, so benign-vs-harmful is UNPROVABLE and the walk
    * refuses instead of silently passing a vacuumed published MERGE
    * (probes would miss its rows forever — mirrors
    * [[graft.streaming.Streams.feedGapHarm]]'s ground-truth rule). */
  private def gapEvidence(
      spark: SparkSession, who: String, path: String, tbl: String,
      stamped: Long, cur: Long, needFeeds: Boolean): GapEvidence = {
    val maxWalk = spark.conf.get(MaxWalkConf, "64").toInt
    if (cur - stamped > maxWalk)
      throw new IllegalStateException(
        s"$who: index at $path lags '$tbl' by ${cur - stamped} versions " +
          s"(v$stamped -> v$cur), past the $maxWalk-version walk cap " +
          s"($MaxWalkConf) — refusing to pay a driver metadata read per " +
          "gap version. Remedy: AnnIndex.applyCdf (its cost is the " +
          "endpoint snapshot diff — no per-version walk), or rebuild " +
          "with AnnIndex.write")
    val snap = Upsert.snapshotVersions(tbl).toSet
    val cp = Upsert.commitLogCheckpoint(tbl)
    val oldestKept = if (snap.nonEmpty) Some(snap.min) else None
    if (cp.exists(stamped < _) || oldestKept.exists(stamped + 1 < _))
      throw new IllegalStateException(
        s"$who: index at $path was stamped at v$stamped of '$tbl' but " +
          "versions in the gap were RECLAIMED (commit-log checkpoint " +
          cp.fold("-")(c => s"v$c") + ", oldest retained snapshot " +
          oldestKept.fold("-")(o => s"v$o") + ") — whether a vacuumed " +
          "in-between version changed rows the index has not seen is no " +
          "longer provable. Remedy: rebuild with AnnIndex.write")
    val logged = Upsert.commitLogVersions(tbl)
    val feeds =
      if (!needFeeds) Set.empty[Long]
      else Fs.listDirs(Fs.of(tbl),
          new org.apache.hadoop.fs.Path(s"$tbl/_cdf"))
        .map(_.getName).filter(_.matches("v\\d+"))
        .map(_.drop(1).toLong).toSet
    // verb evidence per PUBLISHED gap version: the snapshot's
    // `_commitinfo` first, the commit-log entry second (a vacuumed
    // published version still adjudicates by its logged verb instead
    // of masquerading as never-published)
    val verb = ((stamped + 1) to cur).flatMap { v =>
      val w =
        if (snap(v))
          Upsert.readCommitInfo(s"$tbl/v$v").map(_._1)
            .orElse(if (logged(v)) Upsert.readCommitLogVerb(tbl, v) else None)
        else if (logged(v)) Upsert.readCommitLogVerb(tbl, v)
        else None
      w.map(v -> _)
    }.toMap
    new GapEvidence(snap, logged, feeds, verb)
  }

  /** Append a delta batch to a persisted index: encode the NEW vectors
    * with the index's EXISTING centroids and codebook (one delta-sized
    * pass — the standing corpus is never rescanned) and land them as
    * additional cell-clustered files in the codes table. This is the
    * lakehouse maintenance shape applied to the ANN index:
    * centroids/codebook are immutable artifacts (IVF's standard
    * contract — refitting them is a REBUILD, not an append), the codes
    * table is the growing one, and each append's own files are
    * cell-clustered so probes keep skipping row groups; accumulated
    * small appends re-cluster with [[optimize]] — the index's OWN
    * compaction verb, which honors the `_MAINTLOCK` and marker
    * contract (a caller-driven [[Layout.optimizeTable]] over
    * `codes.parquet` would race this append and could drop its
    * files). A probe after append is bit-identical to a probe of
    * an index rebuilt over the full corpus with the same artifacts
    * (AnnIndexSpec + `q_ann_append` vs the inline-fit oracle).
    *
    * A STAMPED index's append VERIFIES the stamp advance against the
    * source's ground truth instead of trusting the caller (round-13
    * verdict #2 — the last trust-the-caller edge): the walk over
    * (stamp, CURRENT] refuses delete-shaped and UPDATE verbs outright
    * (append cannot express either — the old encoded row for an id
    * would survive in codes.parquet), and for MERGE/CDC versions whose
    * change feed is materialized it proves the commit insert-only and
    * the delta COMPLETE (a delivery-sized anti-join: every inserted id
    * must appear in the delta, and — when every gap version verified —
    * every delta id must be one the gap inserted, so an append can
    * neither miss new rows nor double-encode existing ones). Versions
    * with no feed keep the caller's assertion, but the marker records
    * `advance: assumed` instead of hiding it. The adjudication runs
    * BEFORE any file lands, so a refused append leaves the index
    * untouched. */
  def append(delta: DataFrame, path: String,
      numRangePartitions: Int = 1): Unit =
    Fs.withPathLock(path, "_MAINTLOCK")(appendLocked(delta, path, numRangePartitions))

  private def appendLocked(delta: DataFrame, path: String,
      numRangePartitions: Int): Unit = {
    require(Fs.of(path).exists(new org.apache.hadoop.fs.Path(s"$path/INDEX_OK")),
      s"AnnIndex.append: $path has no INDEX_OK marker — build the index first")
    val spark = delta.sparkSession
    val idx = read(spark, path)
    // Already-encoded adjudication (one index-bounded semi-join,
    // maintenance-time): a delta FULLY encoded already is a RETRY of
    // an append that landed its rows but crashed before the marker
    // advance — recover by re-verifying and re-stamping, never by
    // re-encoding (duplicate encodings collapse in the scorer's
    // candidate distinct while the bytes match, but they bloat the
    // codes table and a later divergence would leave the stale twin
    // scoring). A PARTIAL overlap has no safe interpretation.
    val deltaIds = delta.select(col("id")).distinct()
    // both adjudication counts in ONE job: distinct delta ids LEFT-join
    // the encoded id set with a presence marker — count(*) is nDelta,
    // count(marker) is nAlready (identical to the old semi-join-then-
    // count pair, which paid two jobs and two scans of the codes table)
    val cnt = deltaIds
      .join(idx.encoded.select(col("id")).distinct()
        .withColumn("__enc", lit(1)), Seq("id"), "left")
      .agg(count(lit(1)), count(col("__enc"))).head()
    val nDelta = cnt.getLong(0)
    val nAlready = cnt.getLong(1)
    require(nAlready == 0 || nAlready == nDelta, {
      s"AnnIndex.append: ${nAlready} of the delta's $nDelta ids are " +
        s"already encoded in $path — a partial overlap is neither a " +
        "fresh delta nor a clean retry of a crashed append. Remedy: " +
        "append exactly the new vectors, or rebuild with AnnIndex.write"
    })
    val retryOfLanded = nAlready == nDelta && nDelta > 0
    if (retryOfLanded) {
      // The retry interpretation must not rest on id overlap alone: a
      // caller re-appending the SAME ids with CHANGED embedding values
      // (the later-divergence case) would otherwise get a silent no-op
      // and the stale encodings would keep scoring under a 'verified'
      // stamp. Re-encode the (delta-sized) vectors with the immutable
      // artifacts and compare against the stored bytes — a clean retry
      // reproduces them exactly (the encode is deterministic); any
      // mismatch is divergence and refuses loudly.
      val fresh = Similarity.pqEncode(
          Similarity.nearestCell(
            delta.select(col("id"), col("embedding")), idx.centroids),
          "embedding", idx.codebook)
        .select(col("id"), col("cell").as("c1"), col("codes").as("k1"))
      val stored = idx.encoded.join(deltaIds, Seq("id"), "left_semi")
        .select(col("id"), col("cell").as("c0"), col("codes").as("k0"))
      val diverged = stored.join(fresh, Seq("id"))
        .filter(!(col("c0") <=> col("c1") && col("k0") <=> col("k1")))
      if (!diverged.isEmpty) {
        val sample = diverged.select(col("id")).distinct().limit(5)
          .collect().map(_.get(0)).mkString(", ")
        throw new IllegalStateException(
          s"AnnIndex.append: the delta's ids are all already encoded in " +
            s"$path but their stored encodings DIVERGE from the delta's " +
            s"vectors (e.g. ids $sample) — this is not a retry of a " +
            "crashed append; the embeddings changed since they were " +
            "encoded. Remedy: commit the changed vectors to the source " +
            "table and run AnnIndex.applyCdf, or rebuild with " +
            "AnnIndex.write")
      }
    }
    val advance: Option[(String, Long, String, String)] =
      idx.stamp.map { case (tbl, stamped, idCol) =>
        val cur = Upsert.currentVersion(tbl).getOrElse(
          throw new IllegalStateException(
            s"AnnIndex.append: indexed source '$tbl' is gone or lost its " +
              "CURRENT pointer — rebuild the index"))
        if (cur < stamped)
          throw new IllegalStateException(
            s"AnnIndex.append: index at $path was stamped at v$stamped of " +
              s"'$tbl' but the table is now at v$cur (restored to an older " +
              "version?) — rebuild the index")
        if (cur == stamped && nDelta > 0 && !retryOfLanded) {
          // The table has not moved, so a never-encoded delta id is
          // EITHER a ghost (absent from the table — appending it would
          // make probes return ids the table does not hold, stamped
          // 'verified') OR a legitimate backfill of an index built
          // over a SUBSET of the corpus. Adjudicate against the
          // table's CURRENT snapshot instead of refusing both: only
          // ids genuinely absent refuse.
          val live = Upsert.readWithDeletes(spark, s"$tbl/v$cur")
            .select(col(idCol).as("id"))
          val ghosts = deltaIds.join(live, Seq("id"), "left_anti")
          if (!ghosts.isEmpty) {
            val sample = ghosts.limit(5).collect().map(_.get(0)).mkString(", ")
            throw new IllegalStateException(
              s"AnnIndex.append: index at $path is already stamped at " +
                s"'$tbl''s CURRENT (v$cur) and the delta carries ids the " +
                s"table does not hold (e.g. $sample) — appending them " +
                "would make probes return GHOST ids (and stamp the lie " +
                "'verified'). Remedy: commit the rows to the table " +
                "first, or rebuild with AnnIndex.write")
          }
        }
        val mode =
          if (cur == stamped) "verified" // nothing intervened
          else adjudicateAppend(spark, path, tbl, stamped, cur, idCol, delta)
        (tbl, cur, idCol, mode)
      }
    if (!retryOfLanded) {
      val codesDir = s"$path/codes.parquet"
      val before = Layout.listDataFiles(spark, codesDir).toSet
      Similarity.pqEncode(
          Similarity.nearestCell(
            delta.select(col("id"), col("embedding")), idx.centroids),
          "embedding", idx.codebook)
        .select(col("id"), col("cell"), col("codes"))
        .repartitionByRange(numRangePartitions, col("cell"), col("id"))
        .sortWithinPartitions(col("cell"), col("id"))
        .write.mode("append").parquet(codesDir)
      appendCodesBloom(spark, path,
        Layout.listDataFiles(spark, codesDir).filterNot(before),
        rebuild = false)
    }
    advance.foreach { case (tbl, v, idCol, mode) =>
      Fs.writeTextAtomic(Fs.of(path),
        new org.apache.hadoop.fs.Path(s"$path/INDEX_OK"),
        markerText(idx.codebook, Some((tbl, v, idCol)), Some(mode),
          qerrCarry(path)))
    }
  }

  /** The verification walk behind [[append]]'s stamp advance. Returns
    * "verified" when every gap version's row-set effect was proved
    * (insert-only + delta-covered via its change feed, or inherently
    * row-preserving), "assumed" when some MERGE/CDC version had no
    * materialized feed; throws on anything append cannot express. */
  private def adjudicateAppend(
      spark: SparkSession, path: String, tbl: String,
      stamped: Long, cur: Long, idCol: String, delta: DataFrame): String = {
    val ev = gapEvidence(spark, "AnnIndex.append", path, tbl,
      stamped, cur, needFeeds = true)
    var allVerified = true
    val feedDirs = Seq.newBuilder[String]
    ((stamped + 1) to cur).foreach { v =>
      val verb = ev.verb.get(v)
      if (ev.published(v)) verb match {
        case Some(w) if deleteShaped(w) =>
          throw new IllegalStateException(
            s"AnnIndex.append: v$v of '$tbl' committed a $w — append " +
              "cannot express row removal (the encoded rows would " +
              "survive in codes.parquet). Remedy: probe with topKLive " +
              "(delete-only divergence reconciles without an append), " +
              "AnnIndex.applyCdf, or rebuild with AnnIndex.write")
        case Some("UPDATE") =>
          throw new IllegalStateException(
            s"AnnIndex.append: v$v of '$tbl' committed an UPDATE — " +
              "append cannot express changed embeddings (the old " +
              "encoding for the id would survive in codes.parquet and " +
              "probes would score both). Remedy: AnnIndex.applyCdf, or " +
              "rebuild with AnnIndex.write")
        case Some(w) if rowPreserving(w) => () // row set unchanged
        case Some(w) if appendable(w) =>
          if (ev.hasFeed(v)) feedDirs += s"$tbl/_cdf/v$v"
          else allVerified = false // no ground truth — caller's word
        case Some(w) =>
          throw new IllegalStateException(
            s"AnnIndex.append: v$v of '$tbl' committed a $w — append " +
              "cannot prove its row-set effect. Remedy: rebuild with " +
              "AnnIndex.write")
        case None =>
          throw new IllegalStateException(
            s"AnnIndex.append: v$v of '$tbl' exists but carries no " +
              "_commitinfo and no commit-log entry (foreign-written?) — " +
              "append cannot prove its row-set effect. Remedy: rebuild " +
              "with AnnIndex.write")
      } // an unpublished claimed number is an OCC-rebase discard: benign
    }
    val dirs = feedDirs.result()
    if (dirs.nonEmpty) {
      // ONE read over every verifiable gap version's change images
      // (delivery-sized), not a Spark job per version
      val changes = spark.read.parquet(dirs: _*)
      // an update materializes as delete+insert in the feed — either
      // half is something append cannot express
      if (!changes.filter(col("_change_type") === "delete").isEmpty)
        throw new IllegalStateException(
          s"AnnIndex.append: the gap (v${stamped + 1}..v$cur] of '$tbl' " +
            "carries delete-type change images (an UPDATE or DELETE " +
            "inside a MERGE/CDC commit) — append cannot express row " +
            "removal or changed embeddings. Remedy: AnnIndex.applyCdf, " +
            "or rebuild with AnnIndex.write")
      val inserted = changes.filter(col("_change_type") === "insert")
        .select(col(idCol).as("id")).distinct()
      val deltaIds = delta.select(col("id")).distinct()
      val missing = inserted.except(deltaIds)
      if (!missing.isEmpty) {
        val sample = missing.limit(5).collect().map(_.get(0)).mkString(", ")
        throw new IllegalStateException(
          s"AnnIndex.append: the delta MISSES rows the gap " +
            s"(v${stamped + 1}..v$cur] of '$tbl' inserted (e.g. ids " +
            s"$sample) — advancing the stamp would legitimize an index " +
            "that silently never returns them. Remedy: append the full " +
            "set of new vectors, or rebuild with AnnIndex.write")
      }
      if (allVerified) {
        // with ground truth for EVERY gap version, a delta id the gap
        // never inserted is either already encoded (the append would
        // double-encode it) or not in the table at all
        val ghost = deltaIds.except(inserted)
        if (!ghost.isEmpty) {
          val sample = ghost.limit(5).collect().map(_.get(0)).mkString(", ")
          throw new IllegalStateException(
            s"AnnIndex.append: the delta carries ids the gap " +
              s"(v${stamped + 1}..v$cur] of '$tbl' never inserted (e.g. " +
              s"$sample) — they are either already encoded (the append " +
              "would create duplicate encodings) or absent from the " +
              "table. Remedy: append exactly the new vectors, or " +
              "rebuild with AnnIndex.write")
        }
      }
    }
    if (allVerified) "verified" else "assumed"
  }

  /** FILE-GRANULAR codes rewrite — the maintenance kernel behind
    * [[reconcile]] and [[applyCdf]]: drop every `touched` id's old
    * encoding and land `newCodes`, rewriting ONLY the codes files that
    * actually HOLD a touched id and leaving every other file untouched
    * on disk (the [[Upsert.upsertByKey]] economics applied to the
    * index). The pre-r15 shape rewrote the ENTIRE codes table per pass
    * — at 100 TB the codes table is ~3 TB and a streaming maintainer
    * pays the pass per micro-batch, so the rewrite must cost ∝ the
    * files the delta touches, not the corpus.
    *
    * Cost shape, leg by leg:
    *   - Bloom prune: ONE read of the `codes_bloom.parquet` sidecar
    *     (per-file id Bloom filters, maintained by every codes
    *     writer) excludes files that definitely hold no touched id —
    *     metadata-only, works for ANY id type, and for a small wave
    *     cuts both later legs to the true hit set. Conservative
    *     everywhere: a file without a filter row, an unreadable
    *     sidecar, or a wave past [[BloomMaxProbeConf]] just skips the
    *     prune (pre-sidecar indexes behave exactly as before);
    *   - bounds prune: one parallel FOOTER pass over the surviving
    *     files (KB per file) keeps only files whose typed id bounds
    *     can hold a touched id — exact only for integral ids, so
    *     other id types skip this leg, never the membership scan;
    *   - membership: one column-pruned scan of the candidates' `id`
    *     column against the (delivery-sized) touched set — the only
    *     potentially corpus-proportional leg, now bounded by the
    *     Bloom hit set (plus ~2% false positives) instead of the
    *     corpus;
    *   - rewrite: full-row read of ONLY the hit files, anti-join,
    *     union the new codes, land as fresh (cell,id)-clustered files
    *     beside the survivors, then delete the hit files.
    *
    * Crash-safe via the marker contract every mutator honors: the
    * refusal-free work (prune, membership, counts) runs BEFORE
    * INDEX_OK is removed; the unreadable window covers only the
    * append-new/delete-old/re-stamp sequence, and a crash inside it
    * leaves an index that refuses to load (duplicate or half-dropped
    * files are unreachable behind the missing marker).
    *
    * @param touched one column `id`, DISTINCT (callers guarantee it —
    *   membership multiplicity is the dropped-row count)
    * @param newCodes (id, cell, codes) replacement encodings
    * @param markerTxt INDEX_OK content to stamp after the swap
    * @return encoded rows dropped */
  private def bloomSidecar(path: String) = s"$path/codes_bloom.parquet"

  /** Append per-file id Bloom rows for `freshFiles` to the index's
    * sidecar (`rebuild = true` replaces it wholesale — build and
    * optimize, whose passes are corpus-bound anyway). Append-only on
    * the maintenance paths so the cost is ∝ the files just written:
    * rows for since-deleted basenames stay behind and are ignored at
    * probe time (the probe intersects with the live listing), and
    * [[optimize]]'s rebuild is the compaction point. Advisory by
    * construction — a crash that loses this write only loses the
    * prune, never correctness. */
  private def appendCodesBloom(spark: SparkSession, path: String,
      freshFiles: Seq[String], rebuild: Boolean): Unit = {
    if (freshFiles.isEmpty) {
      if (rebuild) // nothing to index — a stale sidecar must not survive
        Fs.of(path).delete(
          new org.apache.hadoop.fs.Path(bloomSidecar(path)), true)
      return
    }
    val bits = spark.conf.get(BloomBitsConf, (1 << 15).toString).toInt
    val hashes = spark.conf.get(BloomHashesConf, "7").toInt
    val rows = Layout.bloomManifestFor(spark, freshFiles, "id", bits, hashes)
      .select(substring_index(col("file"), "/", -1).as("file"),
        lit(bits).as("bits"), lit(hashes).as("hashes"), col("bloom"))
    val mode = if (rebuild) "overwrite" else "append"
    rows.coalesce(1).write.mode(mode).parquet(bloomSidecar(path))
  }

  /** The Bloom prune behind [[rewriteCodesDelta]]: among `files`
    * (full paths), drop every file whose sidecar filter proves it
    * holds none of `touched`'s ids. Returns `files` untouched when
    * the sidecar is absent/unreadable or the wave exceeds
    * [[BloomMaxProbeConf]]; a file without a filter row always
    * survives. Package-private so the spec can pin the prune
    * directly. */
  private[graft] def bloomPruneCodes(spark: SparkSession, path: String,
      files: Seq[String], touched: DataFrame): Seq[String] = {
    val cap = spark.conf.get(BloomMaxProbeConf, "100000").toInt
    // ONE capped job replaces the old limit+count probe followed by a
    // full probe-hash collect: limit(cap+1) bounds what reaches the
    // driver, and an over-cap wave skips the prune exactly as before
    val probeRows = probeHashes(touched).limit(cap + 1).collect()
    if (probeRows.length > cap) return files
    bloomPruneCodesProbe(spark, path, files,
      probeRows.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** The touched ids' sidecar probe hashes, as a Spark plan (same
    * double [[Dedup.hash60]] as the builder — bit-identical md5
    * arithmetic on both sides). */
  private def probeHashes(touched: DataFrame): DataFrame =
    touched.select(Dedup.hash60(col("id").cast("string")).as("h1"),
      Dedup.hash60(concat(lit("b2:"), col("id").cast("string"))).as("h2"))

  /** [[bloomPruneCodes]] from ALREADY-COLLECTED probe hashes — the
    * maintenance path computes ids + hashes + bounds in one capped
    * collect and feeds every leg from it. */
  private def bloomPruneCodesProbe(spark: SparkSession, path: String,
      files: Seq[String], probe: Array[(Long, Long)]): Seq[String] = {
    val sidecarDf =
      try {
        val df = spark.read.parquet(bloomSidecar(path))
          .select("file", "bits", "hashes", "bloom")
        df.schema // an absent/corrupt sidecar must refuse HERE, not mid-job
        df
      } catch { case _: Throwable => return files }
    // filter tests run DISTRIBUTED over the sidecar with the (capped,
    // delivery-sized) probe hashes broadcast — the broadcast-Bloom-
    // probe shape the runtime join prune already uses. The driver
    // never holds the filter words (file-count × 4 KB — GBs at a
    // production file count), only (basename, verdict) rows, the same
    // order as the file listing being pruned.
    val bc = spark.sparkContext.broadcast(probe)
    val mayContain = udf { (bloom: Seq[Long], bits: Int, hashes: Int) =>
      bc.value.exists { case (h1, h2) =>
        (0 until hashes).forall { i =>
          val p = java.lang.Math.floorMod(
            h1 + i * java.lang.Math.floorMod(h2, bits.toLong), bits.toLong)
          (bloom((p / 64).toInt) & (1L << (p % 64))) != 0
        }
      }
    }
    // a basename may carry at most one row (files are write-once and
    // get one row in the same mutation) — but if a retried write ever
    // left two, ANY row saying "may" keeps the file (conservative)
    val may = scala.collection.mutable.Map.empty[String, Boolean]
    val verdicts =
      try sidecarDf
        .select(col("file"),
          mayContain(col("bloom"), col("bits"), col("hashes")).as("hit"))
        .collect()
      finally bc.unpersist(false)
    verdicts.foreach { r =>
      val f = r.getString(0)
      may(f) = may.getOrElse(f, false) || r.getBoolean(1)
    }
    if (may.isEmpty) return files // an empty sidecar adjudicates nothing
    files.filter { f =>
      val base = f.substring(f.lastIndexOf('/') + 1)
      may.getOrElse(base, true) // uncovered file: always a candidate
    }
  }

  private def rewriteCodesDelta(
      spark: SparkSession, path: String, touched: DataFrame,
      newCodes: Option[DataFrame], numRangePartitions: Int,
      markerTxt: String): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val codesDir = s"$path/codes.parquet"
    val allFiles = Layout.listDataFiles(spark, codesDir)
    val integralId = touched.schema("id").dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    // Materialize the touched set ONCE: it feeds the capped driver
    // collect below, the membership join, and (through the tagged
    // frame) the survivor anti-join — for reconcile the set is an
    // index-wide anti-join whose subtree previously re-executed per
    // consumer (membership, then twice under the range write's
    // boundary sampling; guide §1.2).
    val touchedChk = touched.localCheckpoint()
    // ONE capped job collects (id, h1, h2): the Bloom probe hashes AND
    // the id bounds ride the same delivery-sized collect — previously
    // three separate jobs (cap probe, hash collect, min/max agg)
    val cap = spark.conf.get(BloomMaxProbeConf, "100000").toInt
    val probeRows = touchedChk
      .select(col("id"),
        Dedup.hash60(col("id").cast("string")).as("h1"),
        Dedup.hash60(concat(lit("b2:"), col("id").cast("string"))).as("h2"))
      .limit(cap + 1).collect()
    val withinCap = probeRows.length <= cap
    // Bloom first: one sidecar read can exclude most files before the
    // per-file footer pass even starts — on an object store that is
    // the difference between one RPC and one per file
    val files =
      if (!withinCap) allFiles
      else bloomPruneCodesProbe(spark, path, allFiles,
        probeRows.map(r => (r.getLong(1), r.getLong(2))))
    val candidates: Seq[String] =
      if (!integralId) files
      else {
        // typed id bounds of the wave: driver-side off the capped
        // collect when it fit, one agg job past the cap (min/max over
        // non-null ids — identical to the old agg-with-cast)
        val bounds0: Option[(Long, Long)] =
          if (withinCap) {
            val ids = probeRows.iterator.map(_.get(0))
              .filter(_ != null).map(_.asInstanceOf[Number].longValue).toSeq
            if (ids.isEmpty) None else Some((ids.min, ids.max))
          } else {
            val r = touchedChk.agg(
              min(col("id")).cast("long"), max(col("id")).cast("long")).head()
            if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
          }
        bounds0 match {
          case None => Seq.empty
          case Some((tmin, tmax)) =>
            // (file, id-min, id-max) per candidate file from the commit
            // engine's footer fold (driver-side for a few-files wave,
            // distributed past Upsert's bound); a file whose id stats
            // fold to nothing has no row
            val byRel = files.map(f => Upsert.relPath(codesDir, f) -> f).toMap
            val bounds: Seq[(String, Option[Long], Option[Long])] =
              Upsert.footerBounds(spark, files, Seq("id" -> LongType), codesDir)
                .map { case (rel, _, mn, mx) =>
                  (byRel(rel), Option(mn).map(_.toLong), Option(mx).map(_.toLong))
                }
            val statted = bounds.map(_._1).toSet
            // a file without typed id stats cannot be pruned — keep it
            bounds.filter { case (_, mn, mx) =>
              mn.isEmpty || mx.isEmpty || (mx.get >= tmin && mn.get <= tmax)
            }.map(_._1) ++ files.filterNot(statted)
        }
      }
    // ONE column-pruned read of the candidate files serves BOTH the
    // exact membership test and the survivor rows: each candidate row
    // is tagged with its file and whether the wave touched it, then
    // (a) the hit files + dropped counts come from one grouped collect
    // and (b) the survivors filter straight off the tagged frame —
    // previously the hit files were read twice (membership scan, then
    // a fresh full-row read for the anti-join) plus once more under
    // the range write's boundary sampling.
    val tagged =
      if (candidates.isEmpty) None
      else Some(spark.read.parquet(candidates: _*)
        .select(col("id"), col("cell"), col("codes"),
          col("_metadata.file_path").as("__f"))
        .join(touchedChk.select(col("id")).withColumn("__t", lit(1)),
          Seq("id"), "left")
        .localCheckpoint())
    val hitCounts = tagged.fold(Array.empty[org.apache.spark.sql.Row])(
      _.filter(col("__t").isNotNull)
        .groupBy(col("__f")).agg(count(lit(1)).as("n")).collect())
    val dropped = hitCounts.iterator.map(_.getLong(1)).sum
    // `_metadata.file_path` and the listing may qualify the same file
    // differently (file:/ vs file:///) — compare by URI path
    def canon(s: String): String = new HPath(s).toUri.getPath
    val hitFilesRaw = hitCounts.map(_.getString(0)).toSeq
    val hitKeys = hitFilesRaw.map(canon).toSet
    val toRewrite = files.filter(f => hitKeys.contains(canon(f)))
    val kept =
      if (toRewrite.isEmpty) None
      else tagged.map(_.filter(col("__t").isNull &&
          col("__f").isin(hitFilesRaw: _*))
        .select(col("id"), col("cell"), col("codes")))
    val pieces = kept.toSeq ++
      newCodes.map(_.select(col("id"), col("cell"), col("codes"))).toSeq
    val fs = Fs.of(path)
    val marker = new HPath(s"$path/INDEX_OK")
    fs.delete(marker, false) // unreadable during the swap — loud, not stale
    // land the replacement BESIDE the survivors (the read above is by
    // explicit file path, so appending into the same directory is
    // safe), then drop the hit files
    pieces.reduceOption(_ unionByName _).foreach(
      _.repartitionByRange(numRangePartitions, col("cell"), col("id"))
        .sortWithinPartitions(col("cell"), col("id"))
        .write.mode("append").parquet(codesDir))
    // Bloom rows for the files just landed (∝ the delta, like the
    // rewrite itself); the deleted files' rows stay behind harmlessly
    // until optimize's sidecar rebuild
    val before = allFiles.toSet
    appendCodesBloom(spark, path,
      Layout.listDataFiles(spark, codesDir).filterNot(before),
      rebuild = false)
    toRewrite.foreach(f => fs.delete(new HPath(f), false))
    Fs.writeTextAtomic(fs, marker, markerTxt)
    tagged.foreach(_.unpersist(false))
    touchedChk.unpersist(false)
    dropped
  }

  /** Materialize the delete reconcile ONCE: restrict the codes table
    * to the source's live ids and re-stamp at CURRENT. After heavy
    * deletes, [[topKLive]] pays the live-id semi-join on EVERY probe
    * (correct, delivery-sized — but forever); reconcile is the
    * maintenance move that converts that recurring cost into one
    * FILE-GRANULAR rewrite ([[rewriteCodesDelta]] — only the codes
    * files holding a dead id are rewritten, the rest survive on
    * disk), the same economics as COMPACT_DELETES folding deletion
    * vectors. Refuses unless the divergence is
    * provably delete-shaped-or-row-preserving — the exact walk
    * [[topKLive]] runs, reclaim-horizon guard included. Crash-safe via
    * the marker contract: INDEX_OK is removed BEFORE the rewrite and
    * re-written (with the advanced stamp) only after it, so a crash
    * mid-rewrite leaves an index that refuses to load instead of one
    * that silently probes a half-written corpus.
    *
    * @return number of encoded rows dropped */
  def reconcile(spark: SparkSession, path: String,
      numRangePartitions: Int = 4): Long =
    Fs.withPathLock(path, "_MAINTLOCK")(
      reconcileLocked(spark, path, numRangePartitions))

  private def reconcileLocked(spark: SparkSession, path: String,
      numRangePartitions: Int): Long = {
    val idx = read(spark, path)
    val (tbl, stamped, idCol) = idx.stamp.getOrElse(
      throw new IllegalStateException(
        s"AnnIndex.reconcile: index at $path carries no source stamp — " +
          "nothing to reconcile against; rebuild with write(source = ...)"))
    val cur = Upsert.currentVersion(tbl).getOrElse(
      throw new IllegalStateException(
        s"AnnIndex.reconcile: indexed source '$tbl' is gone or lost its " +
          "CURRENT pointer — rebuild the index"))
    if (cur < stamped)
      throw new IllegalStateException(
        s"AnnIndex.reconcile: index at $path was built at v$stamped of " +
          s"'$tbl' but the table is now at v$cur (restored to an older " +
          "version?) — rebuild the index")
    if (cur == stamped) return 0L
    val ev = gapEvidence(spark, "AnnIndex.reconcile", path, tbl,
      stamped, cur, needFeeds = false)
    ((stamped + 1) to cur).foreach { v =>
      val verb = ev.verb.get(v)
      if (ev.published(v) && !verb.exists(deleteShaped) && !verb.exists(rowPreserving))
        throw new IllegalStateException(
          s"AnnIndex.reconcile: v$v of '$tbl' committed " +
            verb.fold("an unknown change")(w => s"a $w") +
            " — reconcile only materializes DELETE-shaped divergence. " +
            "Remedy: AnnIndex.applyCdf (any CDF-expressible shape), " +
            "AnnIndex.append the new vectors, or rebuild with " +
            "AnnIndex.write")
    }
    // the dead set: encoded ids the table no longer holds (DV
    // honored) — delivery-sized after deletes, and the only ids whose
    // files need rewriting
    val live = Upsert.readWithDeletes(spark, s"$tbl/v$cur")
      .select(col(idCol).as("id"))
    val dead = idx.encoded.select(col("id"))
      .join(live, Seq("id"), "left_anti").distinct()
    rewriteCodesDelta(spark, path, dead, None, numRangePartitions,
      markerText(idx.codebook, Some((tbl, cur, idCol)), Some("verified"),
        qerrCarry(path)))
  }

  /** Apply the source table's NET divergence since the stamp —
    * inserts, updates, AND deletes — in one maintenance pass, and
    * re-stamp verified. [[append]] expresses insert-only gaps and
    * [[reconcile]] delete-only ones; this is the general move for the
    * shapes both refuse (MERGE upserts, UPDATEs that changed
    * embeddings): diff the STAMPED snapshot against CURRENT with
    * [[Upsert.changeDataFeed]] (row-level change images computed from
    * only the files the commits actually changed — cost ∝ changed
    * data, never a corpus rescan), drop every touched id's old
    * encoding, encode the final insert images with the index's
    * immutable centroids + codebook, and rewrite ONLY the codes files
    * the touched ids live in ([[rewriteCodesDelta]] — the write cost
    * is ∝ the files the delta hits, not the codes table, which is the
    * amortization a per-micro-batch streaming maintainer needs). No
    * per-version verb walk is needed: the ENDPOINT diff is the ground
    * truth (an intervening delete+reinsert nets to its final image by
    * construction, an update surfaces as delete+insert of the same
    * id), so the advance is recorded `verified`. The quantization
    * artifacts are NOT refit — IVF's standard contract; an update
    * wave that drifted the embedding distribution itself degrades
    * recall until a rebuild, which is a retrain decision, not an
    * index-consistency one.
    *
    * Crash-safe via the same marker contract as [[reconcile]]:
    * INDEX_OK is removed before the rewrite and re-written (stamped
    * at CURRENT) only after the swap, so a crash mid-apply leaves an
    * index that refuses to load instead of one that silently probes a
    * half-applied corpus.
    *
    * Refuses when the stamped snapshot was vacuumed — the diff has no
    * base and the divergence is unprovable (the reclaim-horizon rule
    * the walk-based paths enforce, expressed over snapshots instead
    * of commit-log evidence).
    *
    * @param embCol the embedding column's name IN THE SOURCE TABLE
    * @return (encodings dropped, encodings appended) */
  def applyCdf(spark: SparkSession, path: String,
      embCol: String = "embedding",
      numRangePartitions: Int = 4): (Long, Long) =
    Fs.withPathLock(path, "_MAINTLOCK")(
      applyCdfLocked(spark, path, embCol, numRangePartitions))

  private def applyCdfLocked(spark: SparkSession, path: String,
      embCol: String, numRangePartitions: Int): (Long, Long) = {
    import org.apache.hadoop.fs.{Path => HPath}
    // adjudicate staleness from the MARKER alone (driver fs reads)
    // before loading any index artifact: a maintainer polls this verb
    // once per micro-batch and most polls are no-ops — the up-to-date
    // exit must cost zero Spark jobs, not a codebook collect plus two
    // parquet reads
    require(Fs.of(path).exists(new HPath(s"$path/INDEX_OK")),
      s"AnnIndex: $path has no INDEX_OK marker — missing or incomplete index")
    val (tbl, stamped, idCol) = readStamp(path).getOrElse(
      throw new IllegalStateException(
        s"AnnIndex.applyCdf: index at $path carries no source stamp — " +
          "nothing to diff against; rebuild with write(source = ...)"))
    val cur = Upsert.currentVersion(tbl).getOrElse(
      throw new IllegalStateException(
        s"AnnIndex.applyCdf: indexed source '$tbl' is gone or lost its " +
          "CURRENT pointer — rebuild the index"))
    if (cur < stamped)
      throw new IllegalStateException(
        s"AnnIndex.applyCdf: index at $path was stamped at v$stamped of " +
          s"'$tbl' but the table is now at v$cur (restored to an older " +
          "version?) — rebuild the index")
    if (cur == stamped) return (0L, 0L)
    if (!Fs.of(tbl).exists(new HPath(s"$tbl/v$stamped")))
      throw new IllegalStateException(
        s"AnnIndex.applyCdf: the stamped snapshot v$stamped of '$tbl' " +
          "was RECLAIMED (vacuumed) — the divergence since the stamp " +
          "has no diff base and is unprovable. Remedy: rebuild with " +
          "AnnIndex.write")
    val idx = read(spark, path)
    // delivery-sized; localCheckpoint so the file-diff excepts run
    // once, not once per downstream use
    val feed = Upsert.changeDataFeed(spark, tbl, stamped, cur)
      .select(col(idCol).as("id"), col(embCol).as("embedding"),
        col("_change_type"))
      .localCheckpoint()
    // both integrity refusals from ONE pass over the (checkpointed,
    // delivery-sized) feed — previously two separate isEmpty jobs
    val bad = feed.agg(
      count(when(col("id").isNull, 1)).as("null_ids"),
      count(when(col("_change_type") === "insert" && col("embedding").isNull, 1))
        .as("null_emb")).head()
    require(bad.getLong(0) == 0,
      s"AnnIndex.applyCdf: change images of '$tbl' carry a NULL $idCol " +
        "— the index cannot address them; fix the key, then rebuild")
    require(bad.getLong(1) == 0,
      s"AnnIndex.applyCdf: insert images of '$tbl' carry a NULL " +
        s"$embCol (schema-evolution backfill?) — encoding needs the " +
        "vector; rebuild with AnnIndex.write once the column is " +
        "populated")
    val ins = feed.filter(col("_change_type") === "insert")
      .select(col("id"), col("embedding"))
    val touched = feed.select(col("id")).distinct()
    // ONE delta-sized pass: the encode materializes via localCheckpoint
    // with the insert count AND the wave's mean quantization error
    // riding it as observed metrics — previously the encode expression
    // executed up to three times (the qerr agg, then twice under the
    // range write's boundary sampling) plus a separate ins.count() job.
    val obs = new org.apache.spark.sql.Observation()
    val newCodes = Similarity.pqEncode(
        Similarity.nearestCell(ins, idx.centroids), "embedding",
        idx.codebook)
      .observe(obs, count(lit(1)).as("n_enc"),
        avg(quantErr(idx.codebook)).as("qerr_mean"))
      .select(col("id"), col("cell"), col("codes"))
      .localCheckpoint()
    val metrics = obs.get
    val appended = metrics("n_enc").asInstanceOf[Long]
    // drift telemetry: the wave's mean quantization error against the
    // build-time baseline. The artifacts are immutable, so an update
    // wave that drifted the embedding distribution quantizes WORSE —
    // recall degrades until a rebuild (artifact refit). Recording the
    // ratio per pass is what makes that rebuild a data-driven decision;
    // setting [[MaxDriftConf]] turns it into a refusal (BEFORE any
    // file moves, so a refused pass leaves the index untouched).
    val base = readQerrBase(path)
    val deltaQerr =
      Option(metrics.getOrElse("qerr_mean", null)).map(_.asInstanceOf[Double])
    val qerrLine = base.map { b =>
      val last = deltaQerr.filter(_ => b > 0).map(l => (l, l / b))
      last.foreach { case (_, r) =>
        val thr = spark.conf.get(MaxDriftConf, "").trim
        if (thr.nonEmpty && r > thr.toDouble)
          throw new IllegalStateException(
            s"AnnIndex.applyCdf: the wave's mean quantization error is " +
              s"${r}x the build-time baseline, past $MaxDriftConf=$thr — " +
              "the embedding distribution has DRIFTED from the corpus the " +
              "immutable centroids/codebook were fitted on, and applying " +
              "the wave would silently degrade recall. Remedy: rebuild " +
              "with AnnIndex.write (refits the artifacts), or raise the " +
              "threshold if the drift is acceptable")
      }
      qerrJson(b, last)
    }
    val dropped = rewriteCodesDelta(spark, path, touched, Some(newCodes),
      numRangePartitions,
      markerText(idx.codebook, Some((tbl, cur, idCol)), Some("verified"),
        qerrLine))
    newCodes.unpersist(false)
    feed.unpersist(false)
    (dropped, appended)
  }

  /** Re-cluster the codes table INSIDE the index's own lock and
    * marker discipline — the compaction move for accumulated small
    * appends and file-granular rewrite deltas. The pre-r15 remedy
    * (caller-driven [[Layout.optimizeTable]] over `codes.parquet`)
    * ran OUTSIDE `_MAINTLOCK` and the INDEX_OK contract, so a swap
    * racing an [[append]] could drop the appended files and a crash
    * mid-swap left a marker over a half-swapped corpus. This verb
    * takes the lock, removes the marker, re-clusters on (cell, id),
    * swaps at file granularity, and re-stamps the marker TEXT
    * VERBATIM — compaction is row-preserving, and preserving the
    * recorded stamp AND advance means it can never launder an
    * `advance: assumed` into a fresh-looking index. Probes are
    * bit-identical before/after (spec-pinned); a crash mid-swap
    * leaves an index that refuses to load, same as every mutator.
    *
    * @return (data files before, data files after) */
  def optimize(spark: SparkSession, path: String,
      numRangePartitions: Int = 4): (Int, Int) =
    Fs.withPathLock(path, "_MAINTLOCK")(
      optimizeLocked(spark, path, numRangePartitions))

  private def optimizeLocked(spark: SparkSession, path: String,
      numRangePartitions: Int): (Int, Int) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = Fs.of(path)
    val marker = new HPath(s"$path/INDEX_OK")
    // preserved verbatim: stamp, advance, and any later marker fields
    val markerTxt = Fs.readTextIfExists(fs, marker).getOrElse(
      throw new IllegalArgumentException(
        s"AnnIndex.optimize: $path has no INDEX_OK marker — missing or " +
          "incomplete index; build it first"))
    val codesDir = s"$path/codes.parquet"
    val before = Layout.listDataFiles(spark, codesDir)
    // explicit file paths: appending the re-clustered rows into the
    // same directory is safe while the sources still exist
    val clustered = spark.read.parquet(before: _*)
      .select(col("id"), col("cell"), col("codes"))
      .repartitionByRange(numRangePartitions, col("cell"), col("id"))
      .sortWithinPartitions(col("cell"), col("id"))
    fs.delete(marker, false) // unreadable during the swap — loud, not stale
    clustered.write.mode("append").parquet(codesDir)
    before.foreach(f => fs.delete(new HPath(f), false))
    val after = Layout.listDataFiles(spark, codesDir)
    // sidecar compaction point: maintenance passes append Bloom rows
    // and leave deleted files' rows behind; the rebuild here drops
    // them along with the files
    appendCodesBloom(spark, path, after, rebuild = true)
    Fs.writeTextAtomic(fs, marker, markerTxt)
    (before.size, after.size)
  }

  /** Load the index artifacts; refuses a directory without the marker
    * (a crashed build must fail loudly, not probe a partial corpus). */
  def read(spark: SparkSession, path: String): Index = {
    require(Fs.of(path).exists(new org.apache.hadoop.fs.Path(s"$path/INDEX_OK")),
      s"AnnIndex: $path has no INDEX_OK marker — missing or incomplete index")
    val cbRows = spark.read.parquet(s"$path/codebook.parquet")
      .select("subspace", "code", "vec")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val numSub = cbRows.map(_._1).max + 1
    val cb = Array.tabulate(numSub) { mi =>
      cbRows.filter(_._1 == mi).sortBy(_._2).map(_._3)
    }
    Index(
      spark.read.parquet(s"$path/centroids.parquet"),
      cb,
      spark.read.parquet(s"$path/codes.parquet"),
      readStamp(path))
  }

  /** Probe a (re)loaded index: same contract as
    * [[Similarity.ivfPqTopK]] — (qid, id, rank 1..k) by ADC asc.
    * NO staleness check (the Index handle may be unstamped) — the
    * versioned-table contract lives in [[topKLive]].
    *
    * @param keepIds optional one-column (`id`) allow-list — the ids
    *   satisfying a caller's metadata predicate (language, license,
    *   date…). Pushed into the encoded corpus BEFORE ranking, so the
    *   top-k fills from the FILTERED corpus; post-filtering an
    *   unfiltered top-k instead silently under-fills k (round-13
    *   verdict #4). The semi-join is the same mechanism [[topKLive]]
    *   reconciles deletes with. */
  def topK(queries: DataFrame, index: Index, k: Int, probes: Int,
      saltBuckets: Int = 8, keepIds: Option[DataFrame] = None): DataFrame = {
    val encoded = keepIds.fold(index.encoded)(keep =>
      index.encoded.join(keep.select(col("id")), Seq("id"), "left_semi"))
    Similarity.ivfPqTopKEncoded(
      queries, encoded, index.centroids, index.codebook,
      k, probes, saltBuckets)
  }

  /** Probe a persisted index WITH its staleness contract — the entry
    * point for indexes stamped with a versioned source ([[write]]'s
    * `source`). Adjudication against the source's commit history:
    *
    *   - stamp == the table's current version → probe as-is;
    *   - every version after the stamp is DELETE-SHAPED (verbs
    *     DELETE / DELETE_DV / COMPACT_DELETES — rows only ever
    *     removed, no embedding the index hasn't seen) → RECONCILE:
    *     the encoded corpus is semi-joined against the table's LIVE
    *     ids (deletion vectors honored) before scoring, so the probe
    *     returns exactly the index of the surviving corpus — a
    *     delivery-sized fix instead of a rebuild;
    *   - anything else (MERGE/UPDATE/unknown verb, an unstamped
    *     index passed here) → REFUSE loudly, naming the remedy — the
    *     failure this closes is a probe silently serving deleted or
    *     stale ids after the table moved (AnnIndexSpec; `q_ann_delete`
    *     pins the reconciled probe against the surviving-rows oracle).
    *
    * The walk's evidence is vacuum-proof (round-13 verdict #1): a gap
    * that extends below the table's reclaim horizon (commit-log
    * truncation checkpoint / oldest retained snapshot) REFUSES — below
    * it, a vacuumed published MERGE and an OCC-discarded number are
    * indistinguishable — and a version whose snapshot dir was vacuumed
    * but whose commit-log entry survives adjudicates by the logged
    * verb instead of passing as never-published.
    *
    * @param keepIds optional metadata-predicate allow-list, as in
    *   [[topK]] — composed with the staleness reconcile (the filter
    *   and the live-id semi-join stack). */
  def topKLive(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, probes: Int, saltBuckets: Int = 8,
      keepIds: Option[DataFrame] = None): DataFrame = {
    val idx = read(spark, path)
    val (tbl, stamped, idCol) = idx.stamp.getOrElse(
      throw new IllegalStateException(
        s"AnnIndex.topKLive: index at $path carries no source stamp — " +
          "it was built from an ad-hoc corpus; probe with topK (caller " +
          "owns freshness) or rebuild with write(source = ...)"))
    val cur = Upsert.currentVersion(tbl).getOrElse(
      throw new IllegalStateException(
        s"AnnIndex.topKLive: indexed source '$tbl' is gone or lost its " +
          "CURRENT pointer — rebuild the index"))
    val encoded =
      if (cur == stamped) idx.encoded
      else if (cur < stamped)
        throw new IllegalStateException(
          s"AnnIndex.topKLive: index at $path was built at v$stamped of " +
            s"'$tbl' but the table is now at v$cur (restored to an older " +
            "version?) — rebuild the index")
      else {
        val ev = gapEvidence(spark, "AnnIndex.topKLive", path, tbl,
          stamped, cur, needFeeds = false)
        ((stamped + 1) to cur).foreach { v =>
          val verb = ev.verb.get(v)
          if (ev.published(v) && !verb.exists(deleteShaped) &&
              !verb.exists(rowPreserving))
            throw new IllegalStateException(
              s"AnnIndex.topKLive: index at $path was built at v$stamped " +
                s"of '$tbl' but v$v committed " +
                verb.fold("an unknown change (no _commitinfo and no " +
                  "commit-log entry — foreign-written)")(w => s"a $w") +
                " — the index has not seen its rows and a probe would " +
                "silently return stale results. Remedy: AnnIndex.applyCdf " +
                "(applies the net insert/update/delete divergence by " +
                "diffing the stamped snapshot against CURRENT), " +
                "AnnIndex.append for insert-only deltas (verified " +
                "against the change feed when materialized), or rebuild " +
                "with AnnIndex.write")
        }
        // delete-only divergence: the encoded corpus is a superset of
        // the live rows — restrict to live ids (DV honored) and the
        // probe IS the index of the surviving corpus
        val live = Upsert.readWithDeletes(spark, s"$tbl/v$cur")
          .select(col(idCol).as("id"))
        idx.encoded.join(live, Seq("id"), "left_semi")
      }
    val filtered = keepIds.fold(encoded)(keep =>
      encoded.join(keep.select(col("id")), Seq("id"), "left_semi"))
    Similarity.ivfPqTopKEncoded(
      queries, filtered, idx.centroids, idx.codebook, k, probes, saltBuckets)
  }
}
