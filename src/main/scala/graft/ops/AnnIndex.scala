package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

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

  private implicit val jsonFormats: Formats = DefaultFormats

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
    // every codes file carries an `id` Bloom filter: what makes the
    // maintenance layer's candidate selection metadata-only (see
    // [[candidateCodes]])
    Bloom.write(enc.repartitionByRange(numRangePartitions, col("cell"), col("id"))
        .sortWithinPartitions(col("cell"), col("id"))
        .write.mode("overwrite"), Seq("id"))
      .parquet(s"$path/codes.parquet")
    enc.unpersist(false)
    val qerr = Option(obs.get.getOrElse("qerr_mean", null)) // null on an empty corpus
      .map(_.asInstanceOf[Double])
    writeMarker(path, Marker(cb.length, cb(0).length, qerrBase = qerr)
      .stampedAt(stamp, None))
  }

  /** Per-row PQ quantization error: the squared L2 between the row's
    * own `embedding` and its code reconstruction — exactly
    * [[Similarity.adcDistance]] with the vector as its own query. A
    * pure column expression over a frame that carries both `embedding`
    * and `codes`. */
  private def quantErr(cb: Array[Array[Array[Float]]]) =
    Similarity.adcDistance(col("embedding"), col("codes"), cb)

  /** The INDEX_OK marker: the codebook shape, the source stamp
    * (src, srcVersion, idCol) of an index built from a versioned
    * table, how the stamp last `advance`d — "verified" (every
    * intervening commit's effect was proved, via the source's change
    * feed or the endpoint diff) or "assumed" (some intervening commit
    * had no materialized feed, so the advance is the caller's
    * assertion — recorded, not hidden); absent on a freshly built
    * index — and the quantization-error record: `qerrBase`, the
    * build-time corpus mean, and `qerrLast`/`qerrRatio`, the last
    * maintenance pass's delta mean and its ratio to the base (the
    * distribution-drift signal: ~1 means updates quantize as well as
    * the corpus the artifacts were fitted on; a growing ratio means
    * recall is degrading and a rebuild is due). A mutator rewrites
    * the marker as a copy of the one it read, so the baseline
    * survives every marker rewrite. */
  private[graft] final case class Marker(
      numSub: Int, codes: Int,
      src: Option[String] = None, srcVersion: Option[Long] = None,
      idCol: Option[String] = None, advance: Option[String] = None,
      qerrBase: Option[Double] = None, qerrLast: Option[Double] = None,
      qerrRatio: Option[Double] = None) {
    def stamp: Option[(String, Long, String)] =
      for (s <- src; v <- srcVersion; i <- idCol) yield (s, v, i)
    def stampedAt(st: Option[(String, Long, String)], how: Option[String]): Marker =
      copy(src = st.map(_._1), srcVersion = st.map(_._2), idCol = st.map(_._3),
        advance = how)
  }

  private def markerPath(path: String) = new org.apache.hadoop.fs.Path(s"$path/INDEX_OK")

  /** Through the Fs substrate (scheme-proof; FsSubstrateSpec's source
    * gate forbids raw java.io writes in the ops layer). */
  private def writeMarker(path: String, m: Marker): Unit =
    Fs.writeTextAtomic(Fs.of(path), markerPath(path), Fs.json(Extraction.decompose(m)))

  /** The index's marker, None when the index is missing or incomplete.
    * Each verb reads it once. */
  private[graft] def readMarker(path: String): Option[Marker] =
    Fs.readJson(Fs.of(path), markerPath(path)).map(_.extract[Marker])

  private def requireMarker(path: String, who: String): Marker =
    readMarker(path).getOrElse(throw new IllegalArgumentException(
      s"$who: $path has no INDEX_OK marker — missing or incomplete index"))

  /** The (tableDir, version, idCol) source stamp of a persisted
    * index, when it was built from a versioned table. */
  def readStamp(path: String): Option[(String, Long, String)] =
    readMarker(path).flatMap(_.stamp)

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
            .orElse(if (logged(v)) Upsert.readCommitLogEntry(tbl, v).map(_.verb) else None)
        else if (logged(v)) Upsert.readCommitLogEntry(tbl, v).map(_.verb)
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
    val marker = requireMarker(path, "AnnIndex.append")
    val spark = delta.sparkSession
    val idx = load(spark, path, marker)
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
      Bloom.write(Similarity.pqEncode(
          Similarity.nearestCell(
            delta.select(col("id"), col("embedding")), idx.centroids),
          "embedding", idx.codebook)
        .select(col("id"), col("cell"), col("codes"))
        .repartitionByRange(numRangePartitions, col("cell"), col("id"))
        .sortWithinPartitions(col("cell"), col("id"))
        .write.mode("append"), Seq("id"))
        .parquet(s"$path/codes.parquet")
    }
    advance.foreach { case (tbl, v, idCol, mode) =>
      writeMarker(path, marker.stampedAt(Some((tbl, v, idCol)), Some(mode)))
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
      val changes = Layout.readParquet(spark, dirs)
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

  /** ANN probe-size cap: a wave of at most this many touched ids
    * rides to the driver for the Bloom leg of [[candidateCodes]]; a
    * larger wave would hit most files anyway and skips it. */
  private[graft] val MaxProbe = 100000

  /** The codes `files` that may hold an id of `touched`, from ONE
    * per-file footer pass ([[Upsert.footerFacts]]; on the driver for a
    * few files, distributed past Upsert's bound) that answers both
    * legs: the file's `id` Bloom filter probed with the wave's ids
    * (collected in one capped job) and, for an integral id, the file's
    * id bounds against the wave's range. Conservative: a file without
    * a filter, with an unreadable one or with unknown bounds is a
    * candidate, and a wave past `cap` ids skips the Bloom leg (its
    * range then costs one agg job). */
  private[graft] def candidateCodes(spark: SparkSession, codesDir: String,
      files: Seq[String], touched: DataFrame, cap: Int = MaxProbe): Seq[String] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integralId = touched.schema("id").dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val ids = Some(touched.select(col("id")).limit(cap + 1).collect().map(_.get(0)))
      .filter(_.length <= cap).map(_.filter(_ != null))
    val range: Option[(Long, Long)] =
      if (!integralId) None
      else ids match {
        case Some(a) =>
          val l = a.map(_.asInstanceOf[Number].longValue)
          if (l.isEmpty) None else Some((l.min, l.max))
        case None =>
          val r = touched.agg(min(col("id")).cast("long"), max(col("id")).cast("long")).head()
          if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
      }
    if (integralId && range.isEmpty) Seq.empty // no non-null touched id
    else Upsert.footerFacts(spark, files, if (integralId) Seq("id" -> LongType) else Nil,
        codesDir, ids.map(Bloom.Probe("id", _)))
      .collect { case f if !f.mayHold.contains(false) && range.forall { case (lo, hi) =>
          // no row: the file holds no non-null id
          f.bounds.exists { case (_, _, mn, mx) =>
            mn == null || (mx.toLong >= lo && mn.toLong <= hi) } } => f.file }
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
    *   - candidates ([[candidateCodes]]): ONE footer pass per codes
    *     file (KB each) answers both bounds and membership: the `id`
    *     Bloom filter every codes writer puts in each file excludes
    *     files that definitely hold no touched id (any id type), and
    *     for an integral id the file's id bounds must reach the wave's
    *     range. Conservative: a file without a filter, an unreadable
    *     filter or a wave past [[MaxProbe]] ids just skips the Bloom
    *     leg;
    *   - membership: one column-pruned scan of the candidates' `id`
    *     column against the (delivery-sized) touched set — the only
    *     potentially corpus-proportional leg, now bounded by the
    *     candidate set (the hit files plus the filters' false
    *     positives) instead of the corpus;
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
    * @param marker INDEX_OK content to stamp after the swap
    * @return encoded rows dropped */
  private def rewriteCodesDelta(
      spark: SparkSession, path: String, touched: DataFrame,
      newCodes: Option[DataFrame], numRangePartitions: Int,
      marker: Marker): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    val codesDir = s"$path/codes.parquet"
    val allFiles = Layout.listDataFiles(spark, codesDir)
    // Materialize the touched set ONCE: it feeds the capped driver
    // collect of the candidate pass, the membership join, and (through
    // the tagged frame) the survivor anti-join — for reconcile the set
    // is an index-wide anti-join whose subtree previously re-executed
    // per consumer (membership, then twice under the range write's
    // boundary sampling; guide §1.2).
    val touchedChk = touched.localCheckpoint()
    val candidates = candidateCodes(spark, codesDir, allFiles, touchedChk)
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
      else Some(Layout.readParquet(spark, candidates)
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
    val toRewrite = candidates.filter(f => hitKeys.contains(canon(f)))
    val kept =
      if (toRewrite.isEmpty) None
      else tagged.map(_.filter(col("__t").isNull &&
          col("__f").isin(hitFilesRaw: _*))
        .select(col("id"), col("cell"), col("codes")))
    val pieces = kept.toSeq ++
      newCodes.map(_.select(col("id"), col("cell"), col("codes"))).toSeq
    val fs = Fs.of(path)
    fs.delete(markerPath(path), false) // unreadable during the swap — loud, not stale
    // land the replacement BESIDE the survivors (the read above is by
    // explicit file path, so appending into the same directory is
    // safe), then drop the hit files
    pieces.reduceOption(_ unionByName _).foreach(p =>
      Bloom.write(p.repartitionByRange(numRangePartitions, col("cell"), col("id"))
        .sortWithinPartitions(col("cell"), col("id"))
        .write.mode("append"), Seq("id")).parquet(codesDir))
    toRewrite.foreach(f => fs.delete(new HPath(f), false))
    writeMarker(path, marker)
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
    val marker = requireMarker(path, "AnnIndex.reconcile")
    val idx = load(spark, path, marker)
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
      marker.stampedAt(Some((tbl, cur, idCol)), Some("verified")))
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
    val marker = requireMarker(path, "AnnIndex.applyCdf")
    val (tbl, stamped, idCol) = marker.stamp.getOrElse(
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
    val idx = load(spark, path, marker)
    // delivery-sized; localCheckpoint so the feed (a one-commit
    // interval's materialized `_cdf` dir, else the file diff) is read
    // once, not once per downstream use. Both integrity refusals ride
    // the checkpoint as observed metrics — no separate agg job.
    val chk = new org.apache.spark.sql.Observation()
    val feed = Upsert.changeDataFeed(spark, tbl, stamped, cur)
      .select(col(idCol).as("id"), col(embCol).as("embedding"),
        col("_change_type"))
      .observe(chk, count(when(col("id").isNull, 1)).as("null_ids"),
        count(when(col("_change_type") === "insert" && col("embedding").isNull, 1))
          .as("null_emb"))
      .localCheckpoint()
    val bad = chk.get
    require(bad("null_ids") == 0L,
      s"AnnIndex.applyCdf: change images of '$tbl' carry a NULL $idCol " +
        "— the index cannot address them; fix the key, then rebuild")
    require(bad("null_emb") == 0L,
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
    val deltaQerr =
      Option(metrics.getOrElse("qerr_mean", null)).map(_.asInstanceOf[Double])
    val last = marker.qerrBase.filter(_ > 0).flatMap(b => deltaQerr.map(l => (l, l / b)))
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
    val dropped = rewriteCodesDelta(spark, path, touched, Some(newCodes),
      numRangePartitions,
      marker.stampedAt(Some((tbl, cur, idCol)), Some("verified"))
        .copy(qerrLast = last.map(_._1), qerrRatio = last.map(_._2)))
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
    * swaps at file granularity, and re-stamps the marker exactly as
    * read — compaction is row-preserving, and preserving the
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
    val marker = requireMarker(path, "AnnIndex.optimize")
    val codesDir = s"$path/codes.parquet"
    val before = Layout.listDataFiles(spark, codesDir)
    // explicit file paths: appending the re-clustered rows into the
    // same directory is safe while the sources still exist
    val clustered = Layout.readParquet(spark, before)
      .select(col("id"), col("cell"), col("codes"))
      .repartitionByRange(numRangePartitions, col("cell"), col("id"))
      .sortWithinPartitions(col("cell"), col("id"))
    fs.delete(markerPath(path), false) // unreadable during the swap — loud, not stale
    Bloom.write(clustered.write.mode("append"), Seq("id")).parquet(codesDir)
    before.foreach(f => fs.delete(new HPath(f), false))
    val after = Layout.listDataFiles(spark, codesDir)
    writeMarker(path, marker)
    (before.size, after.size)
  }

  /** Load the index artifacts; refuses a directory without the marker
    * (a crashed build must fail loudly, not probe a partial corpus). */
  def read(spark: SparkSession, path: String): Index =
    load(spark, path, requireMarker(path, "AnnIndex"))

  private def load(spark: SparkSession, path: String, marker: Marker): Index = {
    // footer schemas: the codebook collect is the load's only job
    val cbRows = Layout.readParquet(spark, Seq(s"$path/codebook.parquet"))
      .select("subspace", "code", "vec")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val numSub = cbRows.map(_._1).max + 1
    val cb = Array.tabulate(numSub) { mi =>
      cbRows.filter(_._1 == mi).sortBy(_._2).map(_._3)
    }
    Index(
      Layout.readParquet(spark, Seq(s"$path/centroids.parquet")),
      cb,
      Layout.readParquet(spark, Seq(s"$path/codes.parquet")),
      marker.stamp)
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
