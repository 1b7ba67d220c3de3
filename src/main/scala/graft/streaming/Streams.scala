package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.fia.Interp
import org.json4s._

/** Structured Streaming surface (SURVEY §2.9).
  *
  * The reference is batch-only; these are the engine's streaming
  * extensions: (1) watermarked tumbling-window aggregation over the
  * `events` table shape, and (2) incremental annualization — the
  * reference's whole-pipeline recompute becomes a keyed stateful
  * operator: when a new survey row for a tree arrives, only that tree's
  * annual series is recomputed from its accumulated survey state.
  */
object Streams {

  private implicit val jsonFormats: Formats = DefaultFormats

  /** Watermarked tumbling-window counts per event type.
    *
    * `readStream` needs an explicit schema, but hardcoding the physical
    * `ts` encoding broke when the testdata switched INT64-nanos →
    * TIMESTAMP_NTZ(micros): nanos read under a micros schema are off by
    * 1000×. Instead, take the schema from the files themselves (one
    * cheap footer read, no data scan) and normalize `ts` with the same
    * type-dispatch the batch path uses ([[graft.Tables.normalizeTs]]),
    * so both encodings — and plain TIMESTAMP — stream correctly.
    */
  def windowedEventCounts(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // `[e]vents.parquet` is a glob matching exactly events.parquet: the sf
    // dirs hold single-FILE tables, and FileStreamSource rejects a literal
    // file path ("basePath must be a directory") but accepts a glob, whose
    // base resolves to the parent dir. Works for directory tables too.
    val stream = graft.Tables.normalizeTs(
      spark.readStream.schema(fileSchema).parquet(s"$dir/[e]vents.parquet"), "ts")
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("max_v"))
  }

  /** One tree survey arriving on the stream. */
  final case class Survey(tree_ID: String, YEAR: Int, DIA: Double)
  /** One annualized output row (recomputed tail for the tree). */
  final case class AnnualRow(tree_ID: String, YEAR: Int, DIA: Double, interpolated: Boolean)

  /** Incremental annualization: per-tree state accumulates surveys; each
    * new arrival re-emits the tree's full interpolated series (Update
    * semantics — downstream sinks upsert by (tree_ID, YEAR)). This is
    * the `flatMapGroupsWithState` design sketched in SURVEY §2.9. */
  def annualizeSurveys(surveys: Dataset[Survey]): Dataset[AnnualRow] = {
    import surveys.sparkSession.implicits._

    def update(
        treeId: String,
        rows: Iterator[Survey],
        state: GroupState[Map[Int, Double]]): Iterator[AnnualRow] = {
      val prev = state.getOption.getOrElse(Map.empty[Int, Double])
      val next = prev ++ rows.map(s => s.YEAR -> s.DIA)
      state.update(next)
      if (next.isEmpty) Iterator.empty
      else {
        val lo = next.keys.min; val hi = next.keys.max
        val years = Array.range(lo, hi + 1)
        val ys = years.map(y => next.getOrElse(y, Double.NaN))
        val interp = Interp.interExtraPolate(years, ys, extrapolate = true)
        years.indices.iterator.map { i =>
          AnnualRow(treeId, years(i), interp(i), !next.contains(years(i)))
        }
      }
    }

    surveys
      .groupByKey(_.tree_ID)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming session windows: the streaming counterpart of
    * [[graft.ops.Sessionize]] — events for a user merge into one session
    * while gaps stay under `gap`; a session closes (and, in Append mode,
    * emits) once the watermark passes its end. State per key is one open
    * session, so state size is O(active users), not O(events). */
  def sessionizedCounts(
      events: DataFrame, tsCol: String, userCol: String,
      gap: String = "30 minutes", delay: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Stream-static enrichment: join each micro-batch against a static
    * dimension with a broadcast hash join — stateless (no watermark
    * required; unmatched stream rows pass through with nulls under
    * "left"). The static side's plan is re-bound per micro-batch, so a
    * dimension refreshed in place (e.g. an overwritten parquet dir) is
    * picked up without restarting the query. */
  def enrichWithDim(
      stream: DataFrame, dim: DataFrame, keys: Seq[String],
      joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Stream-stream event-time join: correlate two event streams per user
    * within a bounded time window (`right.ts` in `[left.ts, left.ts +
    * within]`). Both sides carry watermarks AND the join condition bounds
    * event-time distance, so each side's buffered state is evictable —
    * O(events per watermark delay), never the full history. Append-only
    * (inner join) output. */
  def correlateStreams(
      left: DataFrame, right: DataFrame, userCol: String, tsCol: String,
      within: String = "1 hour", delay: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(tsCol, delay).as("l")
    val r = right.withWatermark(tsCol, delay).as("r")
    l.join(r,
      col(s"l.$userCol") === col(s"r.$userCol") &&
        col(s"r.$tsCol") >= col(s"l.$tsCol") &&
        col(s"r.$tsCol") <= col(s"l.$tsCol") + expr(s"INTERVAL $within"))
  }

  /** [[correlateStreams]]' LEFT-OUTER form — the "did NOT convert"
    * query, which an inner join cannot answer: every left event emits,
    * matched within the time bound or NULL-padded once the watermark
    * proves no match can still arrive. The interval condition on BOTH
    * sides is what lets the state store evict: without the time bound
    * an outer stream-stream join would buffer the left side forever
    * waiting for its null verdict. Null-padded rows surface only after
    * the watermark passes `left ts + within` — late output by design,
    * the price of a correct negative. */
  def correlateStreamsLeftOuter(
      left: DataFrame, right: DataFrame, userCol: String, tsCol: String,
      within: String = "1 hour", delay: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(tsCol, delay).as("l")
    val r = right.withWatermark(tsCol, delay).as("r")
    l.join(r,
      col(s"l.$userCol") === col(s"r.$userCol") &&
        col(s"r.$tsCol") >= col(s"l.$tsCol") &&
        col(s"r.$tsCol") <= col(s"l.$tsCol") + expr(s"INTERVAL $within"),
      "leftOuter")
  }

  /** Streaming exact dedup for a document stream: keep the first row per
    * normalized-content fingerprint, with state bounded by the event-time
    * watermark (`dropDuplicatesWithinWatermark` — duplicate state for a
    * fingerprint is dropped once the watermark passes it, so state stays
    * O(docs-per-delay), not O(all docs ever). The batch equivalent is
    * [[graft.ops.Dedup.exactDedup]]. */
  def dedupDocuments(
      docs: DataFrame, tsCol: String, textCol: String,
      delay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.ops.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("fp")

  /** A streaming LSH near-duplicate candidate: `id` collided with the
    * bucket whose first-seen (canonical) doc is `dup_of`, on `band`. */
  final case class DupCandidate(id: Long, dup_of: Long, band: Int)

  /** Streaming MinHash-LSH near-duplicate candidates against history:
    * each arriving doc's banded MinHash signature is computed in the
    * PROJECTION — per-row `array_min` fold over the token array, no
    * aggregation shuffle (the batch [[graft.ops.Dedup.minHashWide]]
    * amortizes the same hashes via groupBy instead; identical
    * signatures by construction) — bands explode, and a keyed stateful
    * operator remembers the FIRST doc id seen per (band, signature)
    * bucket. A later doc hashing into a seen bucket emits a candidate
    * pair. Collisions are CANDIDATES, exactly as in the batch LSH path:
    * verify with exact Jaccard downstream.
    *
    * State is one long per live bucket. Pass `stateTtlMs = Some(ms)` to
    * expire idle buckets with a processing-time timeout (bounding state
    * to buckets seen per TTL window instead of ever — what a production
    * deployment with a processing-time trigger wants); the default keeps
    * NoTimeout, which dedups against ALL history. */
  /** Shared projection for the streaming LSH paths: each doc row becomes
    * one row per band carrying (id, band, sig) plus any passthrough
    * columns (e.g. the watermarked event-time column). Signature math is
    * identical to [[graft.ops.Dedup.minHashWide]] by construction.
    * private[graft]: StreamingSpec drives the SAME projection over a
    * batch frame to assert stream-vs-batch parity. */
  private[graft] def bandedBuckets(
      docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int, bandSize: Int, passthrough: Seq[String] = Nil): DataFrame = {
    require(numPerms % bandSize == 0, "numPerms must divide into bands")
    val numBands = numPerms / bandSize
    val toks = array_distinct(split(col(textCol), " "))
    val mh = (0 until numPerms).map { p =>
      array_min(transform(toks, t =>
        graft.ops.Dedup.hash60(concat(lit(p.toString), lit(":"), t))))
    }
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until bandSize).map(o => mh(b * bandSize + o)): _*).as("sig"))
    }
    val keep = passthrough.map(col)
    docs
      .select(col(idCol).cast("long").as("id") +: explode(array(bands: _*)).as("s") +: keep: _*)
      .select(col("id") +: col("s.band").as("band") +: col("s.sig").as("sig") +: keep: _*)
  }

  def nearDupCandidatesMinHash(
      docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 6, bandSize: Int = 3,
      stateTtlMs: Option[Long] = None): Dataset[DupCandidate] = {
    import docs.sparkSession.implicits._
    bandedBuckets(docs, idCol, textCol, numPerms, bandSize)
      .as[(Long, Int, String)]
      .groupByKey { case (_, band, sig) => (band, sig) }
      .flatMapGroupsWithState(
        OutputMode.Append,
        stateTtlMs.map(_ => GroupStateTimeout.ProcessingTimeTimeout)
          .getOrElse(GroupStateTimeout.NoTimeout)) {
        (key: (Int, String), rows: Iterator[(Long, Int, String)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val ids = rows.map(_._1).toArray.distinct.sorted
            val canon = state.getOption.getOrElse(ids.head)
            if (!state.exists) state.update(canon)
            stateTtlMs.foreach(state.setTimeoutDuration)
            ids.iterator.filter(_ != canon).map(i => DupCandidate(i, canon, key._1))
          }
      }
  }

  /** Event-time TTL variant of [[nearDupCandidatesMinHash]]: buckets
    * whose last-seen EVENT time has fallen `ttlMs` behind the watermark
    * no longer count as history, so a new doc landing in such a bucket
    * becomes the bucket's new canonical doc instead of pairing with the
    * expired one. State is bounded by event-time progress — replaying
    * old data cannot pin state alive the way a processing-time TTL
    * allows, and a stalled source doesn't expire state spuriously.
    *
    * Mechanics: the watermark (from `withWatermark(tsCol, delay)` applied
    * here) drives TWO things. (1) Correctness: each invocation compares
    * the stored last-seen event time against `getCurrentWatermarkMs` and
    * discards stale canon — this check, not the timeout callback, defines
    * expiry, because a timed-out key that receives data in the very batch
    * its timeout would fire gets the data invocation (hasTimedOut=false)
    * with its old state still attached. (2) Garbage collection:
    * `EventTimeTimeout` + `setTimeoutTimestamp(lastSeen + ttlMs)` removes
    * idle buckets' state once the watermark passes, so the store holds
    * only buckets inside the TTL horizon. */
  def nearDupCandidatesMinHashEventTime(
      docs: DataFrame, idCol: String, tsCol: String, textCol: String,
      numPerms: Int = 6, bandSize: Int = 3,
      delay: String = "10 minutes",
      ttlMs: Long = 30 * 60 * 1000L): Dataset[DupCandidate] = {
    import docs.sparkSession.implicits._
    bandedBuckets(
        docs.withWatermark(tsCol, delay),
        idCol, textCol, numPerms, bandSize, passthrough = Seq(tsCol))
      .withColumnRenamed(tsCol, "ts")
      .as[(Long, Int, String, java.sql.Timestamp)]
      .groupByKey { case (_, band, sig, _) => (band, sig) }
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, String), rows: Iterator[(Long, Int, String, java.sql.Timestamp)],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toArray
            val ids = batch.map(_._1).distinct.sorted
            val maxTs = batch.map(_._4.getTime).max
            val wm = state.getCurrentWatermarkMs
            // stale canon = expired history, even if the GC callback
            // hasn't fired for this key yet
            val live = state.getOption.filter { case (_, last) => last + ttlMs > wm }
            val canon = live.map(_._1).getOrElse(ids.head)
            state.update((canon, math.max(maxTs, live.map(_._2).getOrElse(Long.MinValue))))
            state.setTimeoutTimestamp(math.max(maxTs + ttlMs, wm + 1))
            ids.iterator.filter(_ != canon).map(i => DupCandidate(i, canon, key._1))
          }
      }
  }

  /** Idempotent batch sink: `foreachBatch` writing each micro-batch to
    * a `batch_id=<id>` directory with overwrite — the standard
    * exactly-once-to-storage pattern. A batch replayed after a failure
    * re-runs with the SAME batch id and overwrites its own directory,
    * so retries are no-ops instead of duplicates; readers see
    * effectively-once data without a transactional sink. Returns the
    * started query. */
  def sinkBatchesIdempotent(
      df: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      }
      .start()

  /** Streaming CDC sink: each micro-batch MERGEs into a copy-on-write
    * table via [[graft.ops.Upsert.upsertByKey]] — the lakehouse commit
    * loop as a streaming sink. Every batch writes a NEW snapshot
    * directory `v<id>` (footer-pruned rewrite + byte-copied
    * untouched files against the previous snapshot) and then swaps the
    * `CURRENT` pointer; readers resolve [[currentSnapshot]] and never
    * observe a half-written table. A batch replayed after a failure
    * re-runs with the same id, rebuilding `v<id>` from `v<id-1>` and
    * re-swapping — idempotent, the same exactly-once-to-storage
    * argument as [[sinkBatchesIdempotent]] plus snapshot isolation.
    *
    * Within each batch, duplicate keys keep the LAST row per key in
    * event-time order (`orderCol`), the usual CDC convention.
    *
    * @param opCol optional CDC op column: rows whose value is `"d"`
    *   (Debezium's delete code) DELETE their key; all other rows
    *   upsert. Last-per-key still applies first, so a delete followed
    *   by a re-insert within one batch lands as the re-insert.
    * @param cdf when true, each commit also materializes its change
    *   feed under `_cdf/v<id>` (the subscription surface for
    *   [[cdfStream]]/[[mirrorFromCdf]]). OFF by default: the feed
    *   costs an exceptAll shuffle plus a parquet write per micro-batch
    *   and its version dirs persist until [[graft.ops.Upsert.vacuum]]
    *   — a sink nobody subscribes to must not pay that on every
    *   batch. */
  def upsertSink(
      df: DataFrame, tableDir: String, checkpointDir: String,
      keyCol: String, orderCol: String, opCol: Option[String] = None,
      dropCols: Seq[String] = Nil, cdf: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    upsertSinkKeys(df, tableDir, checkpointDir, Seq(keyCol), orderCol,
      opCol, dropCols, cdf)

  /** [[upsertSink]] on a COMPOSITE key: last-per-TUPLE within each
    * batch, tuple-granular MERGE commits
    * ([[graft.ops.Upsert.upsertByKeys]]) — the natural-grain CDC sink
    * (e.g. a (tree_ID, YEAR) annualized table maintained from a
    * stream). */
  /** @param srcVersionCol when set (the CDC-mirror path), the column
    *   holding each change image's SOURCE commit version. The sink
    *   then (a) REFUSES a batch whose lowest version skips past the
    *   last applied one AND the skip is proven harmful — the
    *   fingerprint of feed versions reclaimed by vacuum before
    *   delivery, which a file source would otherwise swallow
    *   silently — and (b) records the applied high-water mark in
    *   `<tableDir>/_cdf_applied.json` after each commit, which is
    *   what makes the start-time gap check in [[mirrorFromCdf]]
    *   possible at all. Version numbers on a healthy feed are NOT
    *   consecutive: an OCC rebase discards claimed versions (chain
    *   1,3,4) and a zero-change commit materializes an EMPTY feed dir
    *   that never advances the applied mark — so a gap is adjudicated
    *   against the source's ground truth (via `srcTableDir`) instead
    *   of arithmetic consecutiveness, refusing only versions that
    *   were actually reclaimed, were published without a feed, or
    *   hold undelivered change rows (out-of-order delivery).
    * @param srcTableDir the feed's SOURCE table (set by
    *   [[mirrorFromCdfKeys]]) — the ground truth a version gap is
    *   adjudicated against. Without it a gap falls back to the strict
    *   refusal (no evidence to prove it benign). */
  def upsertSinkKeys(
      df: DataFrame, tableDir: String, checkpointDir: String,
      keyCols: Seq[String], orderCol: String, opCol: Option[String] = None,
      dropCols: Seq[String] = Nil, cdf: Boolean = false,
      cdfFilesPerVersion: Int = 0, srcVersionCol: Option[String] = None,
      srcTableDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        // feed-gap guard (see @param srcVersionCol): versions must
        // arrive as an unbroken prefix extension of what was applied.
        // The applied mark is read ONCE per batch and reused for the
        // post-commit stamp below.
        val srcSpan: Option[(Long, Long)] = srcVersionCol.flatMap { c =>
          val r = batch.agg(min(col(c)), max(col(c))).collect()(0)
          if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
        }
        val applied: Option[Long] =
          if (srcVersionCol.isEmpty) None else readApplied(spark, tableDir)
        srcSpan.foreach { case (mn, _) =>
          applied.foreach { a =>
            val harm: Option[String] =
              if (mn <= a + 1) None
              else srcTableDir match {
                case Some(src) => feedGapHarm(spark, src, a + 1, mn)
                case None => Some(s"versions ${a + 1}..${mn - 1} were " +
                  "skipped and no source table dir is available to prove " +
                  "the gap benign")
              }
            harm.foreach(why => throw new IllegalStateException(
              s"upsertSink: change-feed gap — this mirror applied source " +
                s"version $a but the next delivered batch starts at v$mn, " +
                s"and the gap is not benign: $why. The mirror cannot catch " +
                "up incrementally: rebuild it (drop the mirror table and " +
                "its checkpoint, re-run before the feed is vacuumed, or " +
                "raise the source's retention)"))
          }
        }
        // table ownership: batch-id versioning is only replay-safe
        // with ONE writer — this sink. The marker hands SQL/
        // programmatic committers (whose claimed versions would
        // collide with future batch ids) a loud refusal instead of a
        // silent lost commit; a replay of THIS query (same
        // checkpoint) passes.
        val ownerPath = new org.apache.hadoop.fs.Path(tableDir, "_WRITER")
        val ofs = graft.ops.Fs.of(tableDir, spark)
        val owner = s"stream:$checkpointDir"
        graft.ops.Fs.readTextIfExists(ofs, ownerPath).map(_.trim) match {
          case Some(have) if have != owner => throw new IllegalStateException(
            s"upsertSink: '$tableDir' is owned by '$have' — one writer " +
              s"per versioned table; this query is '$owner'")
          case Some(_) => ()
          case None =>
            graft.ops.Fs.writeTextAtomic(ofs, ownerPath, owner)
        }
        // last row per key TUPLE within the batch (CDC upsert convention)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*).orderBy(col(orderCol).desc)
        val perKey = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          // bookkeeping columns (e.g. mirrorFromCdf's synthesized
          // ordering) resolve last-per-key but must not be STORED
          .drop(dropCols: _*)
        // previous snapshot = LARGEST version BELOW this batch id —
        // NOT the CURRENT pointer: a replayed batch runs after its own
        // swap already happened, and resolving CURRENT would feed
        // v<id> into its own rebuild (input deleted as output)
        val prev = {
          val vs = graft.ops.Upsert.snapshotVersions(tableDir).filter(_ < id)
          if (vs.isEmpty) None else Some(s"$tableDir/v${vs.max}")
        }
        val next = s"$tableDir/v$id"
        (prev, opCol) match {
          case (Some(p), Some(op)) =>
            graft.ops.Upsert.applyCdcBatchKeys(spark, p, next, perKey, keyCols, op)
          case (Some(p), None) =>
            graft.ops.Upsert.upsertByKeys(spark, p, next, perKey, keyCols)
          case (None, Some(op)) =>
            val init = perKey.filter(col(op) =!= "d").drop(op)
            init.write.mode("overwrite").parquet(next)
            // the verb-backed arms stamp inside Upsert; the initial
            // snapshot stamps here so history is gapless — and the
            // schema sidecar starts the lineage sweep-free
            graft.ops.Upsert.writeCommitInfo(next, "STREAM_INIT")
            graft.ops.Upsert.writeSchemaSidecar(next, init.schema)
          case (None, None) =>
            perKey.write.mode("overwrite").parquet(next)
            graft.ops.Upsert.writeCommitInfo(next, "STREAM_INIT")
            graft.ops.Upsert.writeSchemaSidecar(next, perKey.schema)
        }
        // materialize this commit's change feed BEFORE the pointer
        // swap (a reader following CURRENT always finds the feed
        // complete) — the write-side half of the CDC loop; cdfStream
        // is the subscription side
        if (cdf) graft.ops.Upsert.materializeCdf(
          spark, tableDir, id, cdfFilesPerVersion)
        // atomic pointer swap: write-then-rename so a reader sees the
        // old CURRENT or the new one, never a partial file
        graft.ops.Fs.writeTextAtomic(ofs,
          new org.apache.hadoop.fs.Path(tableDir, "CURRENT"), s"v$id")
        // applied high-water AFTER the swap: a replayed batch re-stamps
        // the same (monotone max) value — idempotent like the commit
        srcSpan.foreach { case (_, mx) =>
          writeApplied(spark, tableDir, math.max(applied.getOrElse(Long.MinValue), mx))
        }
      }
      .start()

  /** `_cdf_applied.json`: the highest source version a mirror table
    * has applied, stamped after each commit by [[upsertSinkKeys]]. */
  private[graft] def writeApplied(spark: SparkSession, tableDir: String, v: Long): Unit =
    graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tableDir, spark), appliedPath(tableDir),
      graft.ops.Fs.json(JObject("applied" -> JLong(v), "ts" -> JLong(System.currentTimeMillis()))))

  private[graft] def readApplied(spark: SparkSession, tableDir: String): Option[Long] =
    graft.ops.Fs.readJson(graft.ops.Fs.of(tableDir, spark), appliedPath(tableDir))
      .map(doc => (doc \ "applied").extract[Long])

  private def appliedPath(tableDir: String) =
    new org.apache.hadoop.fs.Path(tableDir, "_cdf_applied.json")

  /** Adjudicate a delivered-version gap against the SOURCE table's
    * ground truth — the feed listing, the commit log, and the vacuum
    * low watermark — instead of arithmetic consecutiveness. Published
    * version numbers legitimately skip (an OCC rebase discards the
    * claimed numbers it lost with: chain 1,3,4) and a zero-change
    * commit materializes an EMPTY feed dir whose delivery never
    * advances the applied mark, so `mn > applied + 1` alone proves
    * nothing. A skipped version `g` is benign iff
    *   - its feed dir exists and holds ZERO rows (zero-change
    *     commit), or
    *   - its feed dir is absent AND it is above both reclaim
    *     checkpoints AND neither a snapshot dir nor a commit-log
    *     entry exists for it (the number was claimed but never
    *     published — the OCC-rebase shape).
    * and harmful iff
    *   - it sits at or below the feed low watermark or the commit
    *     log's truncation checkpoint (actually reclaimed — the
    *     original vacuum fingerprint), or
    *   - its feed dir holds undelivered change ROWS (out-of-order
    *     delivery: applying later versions first would let these
    *     stale images overwrite newer ones on arrival), or
    *   - it was published (snapshot or log entry exists) but its feed
    *     was never materialized (producer broke the cdf contract —
    *     the mirror would silently miss its changes forever).
    *
    * @return Some(reason) naming the FIRST harmful version, None when
    *   every version in [from, until) is provably benign */
  private[graft] def feedGapHarm(
      spark: SparkSession, srcTableDir: String,
      from: Long, until: Long): Option[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = graft.ops.Fs.of(srcTableDir, spark)
    val wm = graft.ops.Upsert.cdfLowWatermark(srcTableDir)
    val logCp = graft.ops.Upsert.commitLogCheckpoint(srcTableDir)
    // one listing each, reused across the gap — not one RPC per version
    lazy val snapVs = graft.ops.Upsert.snapshotVersions(srcTableDir).toSet
    val feedVs = graft.ops.Fs.listDirs(fs, new HPath(s"$srcTableDir/_cdf"))
      .filter(_.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).toSet
    // Metadata-only classification first; feed dirs that hold parquet
    // files are row-checked afterwards in ONE Spark job for the WHOLE
    // gap. (The old shape read each version's feed separately — a long
    // benign gap paid a Spark job per version inside a micro-batch
    // commit; round-13 verdict #5. A zero-change commit materializes
    // only zero-row parquet footers, so "has undelivered rows" needs a
    // read, but never more than one.)
    val metaHarm = scala.collection.mutable.Map.empty[Long, String]
    val rowCheck = scala.collection.mutable.ArrayBuffer.empty[Long]
    (from until until).foreach { g =>
      if (wm.exists(g < _) || logCp.exists(g <= _))
        metaHarm(g) = s"v$g was reclaimed (feed low watermark " +
          s"${wm.fold("-")(w => s"v$w")}, commit-log checkpoint " +
          s"${logCp.fold("-")(c => s"v$c")})"
      else if (feedVs.contains(g)) {
        if (graft.ops.Fs.listFiles(fs, new HPath(s"$srcTableDir/_cdf/v$g"))
            .exists(_.getName.endsWith(".parquet")))
          rowCheck += g
        // no parquet files at all: zero-change commit, nothing missed
      } else if (snapVs.contains(g) ||
          graft.ops.Upsert.readCommitLogEntry(srcTableDir, g).isDefined)
        metaHarm(g) = s"v$g was published but its feed was never " +
          "materialized (the producer stopped calling materializeCdf?)"
      // else: claimed-but-never-published number (OCC rebase discard)
    }
    if (rowCheck.nonEmpty) {
      // one read over every candidate dir; a file only surfaces here if
      // it holds ≥1 row, and its PATH names the feed version — no trust
      // in column contents needed
      val vOf = """/_cdf/v(\d+)/""".r
      val filesWithRows = spark.read
        .parquet(rowCheck.map(g => s"$srcTableDir/_cdf/v$g").toSeq: _*)
        .select(org.apache.spark.sql.functions.input_file_name().as("f"))
        .distinct().collect().map(_.getString(0))
      filesWithRows
        .flatMap(f => vOf.findFirstMatchIn(f).map(_.group(1).toLong))
        .foreach { g =>
          if (!metaHarm.contains(g))
            metaHarm(g) = s"v$g's feed is materialized WITH change rows " +
              "but was not delivered before this batch (out-of-order " +
              "delivery)"
        }
    }
    metaHarm.keys.minOption.map(metaHarm)
  }

  /** Subscribe to a versioned COW table's change data feed as a STREAM
    * — the READ-side half of the CDC loop ([[upsertSink]] writes the
    * table and materializes each commit's feed under `_cdf/v<id>`;
    * batch chains call [[graft.ops.Upsert.materializeCdf]] directly).
    * This is a standard file-source subscription over the feed's
    * version dirs — new commits surface as new files at the next
    * trigger, offsets/exactly-once bookkeeping ride the file source's
    * own checkpoint — the same consumption shape as Delta CDF.
    *
    * Rows are the change images: table columns + `_change_type`
    * (insert/delete; an update is delete+insert) + `_commit_version`.
    * A downstream aggregate maintained from the feed equals a
    * recompute from the latest snapshot (StreamingSpec). Replayed
    * commits rewrite their feed dir, so delivery is at-least-once —
    * consumers key idempotence off `_commit_version`.
    *
    * ADMISSION CONTROL (`maxFilesPerTrigger`): a subscriber that
    * attaches late — or falls behind — faces the whole backlog as ONE
    * micro-batch, the 100 TB failure mode for any feed consumer (the
    * first trigger shuffles months of changes at once). Passing a
    * file cap bounds each micro-batch; with the producer writing k
    * files per feed version ([[graft.ops.Upsert.materializeCdf]]'s
    * `feedFilesPerVersion` / [[upsertSink]]'s `cdfFilesPerVersion`),
    * a cap of k·m is exactly "max m versions per trigger", and a
    * backlog of N versions drains over ⌈N/m⌉ bounded batches
    * (StreamingSpec pins this arithmetic). Catch-up still converges:
    * the file source checkpoints per-file offsets, so progress is
    * monotone regardless of the cap. */
  def cdfStream(
      spark: SparkSession, tableDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // Refuse a table that is not materializing its feed — upsertSink's
    // `cdf` flag defaults to FALSE, and a subscriber pointed at a
    // producer left at the default would otherwise hang on a silently
    // empty feed forever (a misconfigured producer/consumer pair must
    // fail loudly, not feed nothing).
    val cdfFs = graft.ops.Fs.of(tableDir, spark)
    val cdfRoot = new org.apache.hadoop.fs.Path(s"$tableDir/_cdf")
    require(cdfFs.exists(cdfRoot),
      s"cdfStream: $tableDir has no _cdf change feed — the producer is " +
        "not materializing it; pass cdf = true to Streams.upsertSink " +
        "(or call Upsert.materializeCdf per commit in a batch chain)")
    // Staleness check, same failure mode later in the table's life: a
    // producer that RAN with cdf = true and was restarted with the
    // default leaves old feed versions behind — the subscriber would
    // replay those and then silently starve. A correctly configured
    // producer materializes every commit's feed, and vacuum never
    // reclaims CURRENT's, so CURRENT without a feed dir = cdf is off.
    val current = graft.ops.Upsert.currentVersion(tableDir).map(v => s"v$v")
    current.foreach { v =>
      require(cdfFs.exists(new org.apache.hadoop.fs.Path(cdfRoot, v)),
        s"cdfStream: $tableDir's CURRENT ($v) has no materialized feed " +
          s"under _cdf — the producer stopped materializing the change " +
          "feed (restarted with cdf = false?); re-enable cdf = true on " +
          "Streams.upsertSink or call Upsert.materializeCdf for the " +
          "missing commits")
    }
    val glob = s"$tableDir/_cdf/v*"
    // file streams need an explicit schema: the footer of the newest
    // feed version (CURRENT's), read on the driver with no job. Schema
    // evolution only adds columns, so the newest feed is the widest,
    // and an older version's rows read an added column as NULL.
    val newest = current.getOrElse(cdfFs.listStatus(cdfRoot).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).maxByOption(_.drop(1).toLong).getOrElse(
        throw new IllegalArgumentException(s"cdfStream: $tableDir/_cdf holds no feed version")))
    val schema = graft.ops.Layout.readParquet(spark, Seq(s"$cdfRoot/$newest")).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger
      .foreach { k =>
        require(k > 0, s"cdfStream: maxFilesPerTrigger must be positive, got $k")
        reader.option("maxFilesPerTrigger", k)
      }
    reader.parquet(glob)
  }

  /** Maintain a DERIVED COW table purely from another table's change
    * feed — incremental materialized-view maintenance, the full CDC
    * loop closed: [[upsertSink]] writes the source and its feed,
    * [[cdfStream]] subscribes, and this sink applies each feed batch
    * as a CDC commit on the mirror (cost ∝ changes, the source is
    * never rescanned). Change images translate directly: a delete
    * image deletes its key, an insert image upserts; an UPDATE arrives
    * as delete(old)+insert(new) for the same key, resolved by ordering
    * inserts above deletes within a commit (`2·version + isInsert`).
    * The mirror materializes its own `_cdf` in turn by default (`cdf =
    * true` — a mirror node exists to sit in a CDC chain), so derived
    * tables chain; pass `cdf = false` for a terminal mirror. After
    * draining, the mirror's CURRENT equals the source's CURRENT
    * exactly (StreamingSpec). */
  def mirrorFromCdf(
      spark: SparkSession, srcTableDir: String, dstTableDir: String,
      checkpointDir: String, keyCol: String, cdf: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    mirrorFromCdfKeys(spark, srcTableDir, dstTableDir, checkpointDir,
      Seq(keyCol), cdf)

  /** [[mirrorFromCdf]] on a COMPOSITE key. */
  def mirrorFromCdfKeys(
      spark: SparkSession, srcTableDir: String, dstTableDir: String,
      checkpointDir: String, keyCols: Seq[String], cdf: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // start-time feed-gap check: feed versions below the source's low
    // watermark were vacuumed and can NEVER be delivered — a file
    // source would simply not see them, and the mirror would diverge
    // silently and forever. A mirror is only attachable when its
    // applied high-water mark reaches the watermark; in particular a
    // FRESH mirror cannot attach to a feed whose history was already
    // partially reclaimed (it would build from a torn prefix).
    graft.ops.Upsert.cdfLowWatermark(srcTableDir).foreach { wm =>
      val applied = readApplied(spark, dstTableDir)
      require(applied.exists(_ + 1 >= wm),
        s"mirrorFromCdf: $srcTableDir's change feed is truncated below " +
          s"v$wm (vacuum), and this mirror has " +
          applied.map(a => s"only applied through v$a").getOrElse("never consumed it") +
          " — the reclaimed versions can never be delivered, so an " +
          "incremental catch-up would silently diverge. Rebuild the " +
          "mirror from scratch before the feed is vacuumed, or raise " +
          "the source's retention")
    }
    val feed = cdfStream(spark, srcTableDir)
      .withColumn("__op",
        when(col("_change_type") === "delete", lit("d")).otherwise(lit("u")))
      .withColumn("__ord",
        col("_commit_version") * 2 +
          when(col("_change_type") === "insert", 1).otherwise(0))
      .withColumnRenamed("_commit_version", "__srcv")
      .drop("_change_type")
    upsertSinkKeys(feed, dstTableDir, checkpointDir, keyCols,
      orderCol = "__ord", opCol = Some("__op"),
      dropCols = Seq("__ord", "__srcv"), cdf = cdf,
      srcVersionCol = Some("__srcv"), srcTableDir = Some(srcTableDir))
  }

  /** Keep a persisted ANN index ([[graft.ops.AnnIndex]]) continuously
    * CURRENT against its source table — the CDC loop closed over the
    * vector index instead of a mirror table: [[upsertSink]] (or any
    * batch chain materializing its feed) commits the source,
    * [[cdfStream]] subscribes, and each micro-batch triggers ONE
    * [[graft.ops.AnnIndex.applyCdf]] maintenance pass, after which
    * probes ride the stamp==CURRENT fast path with no per-probe
    * staleness work.
    *
    * The feed batch is a TRIGGER SIGNAL, not the applied data:
    * `applyCdf` reads its own ground truth (the stamped-snapshot diff
    * against CURRENT), so at-least-once delivery, replayed batches,
    * and multi-commit batches are all safe — a replay finds
    * stamp==CURRENT and is a no-op, a batch spanning k commits is one
    * maintenance pass instead of k. The price of that safety is the
    * same contract applyCdf enforces in batch: the stamped snapshot
    * must outlive the gap (vacuum ahead of the maintainer refuses
    * loudly with the rebuild remedy, never serves stale probes).
    * The ground truth is still the stamp→CURRENT interval; when that
    * interval is one commit whose feed the producer materialized, the
    * interval's feed IS that commit's `_cdf` dir, and
    * [[graft.ops.Upsert.changeDataFeed]] reads it back instead of
    * diffing the snapshots again. With every index artifact read under
    * its footer schema as well, a one-commit pass (3,000 vectors, a
    * 40-row MERGE) runs 18 Spark jobs instead of 29 (JobBudgetSpec).
    *
    * @param maxFilesPerTrigger admission control, as [[cdfStream]] —
    *   bounds how many backlogged feed versions one maintenance pass
    *   absorbs (each pass's cost is one codes rewrite regardless, so
    *   LARGER batches amortize better; cap only to bound the diff's
    *   change volume) */
  def annIndexMaintainer(
      spark: SparkSession, srcTableDir: String, indexPath: String,
      checkpointDir: String, embCol: String = "embedding",
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // a maintainer wired to the wrong table (or to an unstamped index)
    // must refuse at attach, not on the first commit
    val stamp = graft.ops.AnnIndex.readStamp(indexPath)
    // normalize both sides before comparing: a trailing slash,
    // relative-vs-absolute spelling, or scheme-qualified variant of
    // the same directory must not refuse a correctly wired maintainer
    def qual(p: String): org.apache.hadoop.fs.Path =
      graft.ops.Fs.of(p, spark)
        .makeQualified(new org.apache.hadoop.fs.Path(p))
    require(stamp.exists(s => qual(s._1) == qual(srcTableDir)),
      s"annIndexMaintainer: index at $indexPath is " +
        stamp.fold("unstamped (built from an ad-hoc corpus)")(s =>
          s"stamped to '${s._1}'") +
        s" — it cannot follow '$srcTableDir'; build it with " +
        "AnnIndex.write(source = (tableDir, idCol))")
    cdfStream(spark, srcTableDir, maxFilesPerTrigger).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: Dataset[Row], batchId: Long) =>
        graft.ops.AnnIndex.applyCdf(spark, indexPath, embCol)
        // surface the drift signal per pass (applyCdf refuses past
        // spark.graft.ann.maxDriftRatio when the caller set it; the
        // log line is the "watch it trend" half of the telemetry)
        graft.ops.AnnIndex.readMarker(indexPath).flatMap(_.qerrRatio).foreach(r =>
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"annIndexMaintainer batch $batchId: quantization drift " +
              s"ratio $r vs build baseline at $indexPath"))
        ()
      }
      .start()
  }

  /** Streaming approximate-distinct per event-time window, as the
    * engine-exact HLL register table ([[graft.ops.Sketches]]): the
    * register update `max(rho)` is a MERGEABLE aggregate, so Structured
    * Streaming maintains it incrementally with state bounded by
    * windows × 64 registers — a streaming `COUNT(DISTINCT)` would hold
    * every distinct value in state forever. Registers stream out;
    * [[graft.ops.Sketches.hllSummary]] turns any snapshot of them into
    * estimates, and because the register math is identical to the
    * batch path, stream-vs-batch register parity is bit-exact
    * (spec-asserted). */
  def approxDistinctRegistersByWindow(
      events: DataFrame, tsCol: String, valueCol: String,
      windowDuration: String, watermarkDelay: Option[String] = None): DataFrame = {
    import graft.ops.{Dedup, Sketches}
    val src = watermarkDelay.fold(events)(d => events.withWatermark(tsCol, d))
    val h = Dedup.hash60(col(valueCol))
    src
      .select(window(col(tsCol), windowDuration).as("w"),
        pmod(h, lit(Sketches.M.toLong)).as("bucket"),
        shiftright(h, Sketches.P).as("suffix"))
      .select(col("w"), col("bucket"),
        when(col("suffix") === 0L, lit(55))
          .otherwise(instr(lpad(bin(col("suffix")), 54, "0"), "1"))
          .as("rho"))
      .groupBy(col("w"), col("bucket"))
      .agg(max(col("rho")).as("m_j"))
  }

  /** Resolve the current snapshot path of a versioned table: max of
    * the CURRENT pointer and the `_commitlog` (see
    * [[graft.ops.Upsert.currentVersion]] — the log closes the
    * pointer's rename absence window). A directory holding `v<N>`
    * snapshots but NO resolvable pointer refuses loudly: the old
    * contract returned None and callers fell back to reading the
    * table ROOT — every version at once — silently. None only for a
    * genuinely unversioned directory (a plain snapshot). */
  def currentSnapshot(tableDir: String): Option[String] =
    graft.ops.Upsert.currentVersion(tableDir) match {
      case Some(v) => Some(s"$tableDir/v$v")
      case None =>
        require(graft.ops.Upsert.snapshotVersions(tableDir).isEmpty,
          s"$tableDir holds v<N> snapshot directories but no CURRENT " +
            "pointer and no _commitlog — reading the table root would " +
            "see every version at once; restore the pointer or publish " +
            "through the commit protocol")
        None
    }
}
