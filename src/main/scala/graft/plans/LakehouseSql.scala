package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

import graft.ops.{Layout, Upsert}

/** SQL surface for the engine's lakehouse verbs — real users reach
  * MERGE/DELETE/VACUUM/OPTIMIZE/CLONE as SQL text first, not as Scala
  * calls. [[GraftSqlParser]] (injected by
  * [[graft.GraftExtensions]] via `injectParser`) intercepts these
  * statements in `spark.sql(...)` and lowers them onto the SAME
  * programmatic engine the Column API uses ([[graft.ops.Upsert]] /
  * [[graft.ops.Layout]]), so the two surfaces cannot diverge; every
  * other statement delegates verbatim to Spark's parser.
  *
  * Tables are addressed by PATH (quoted), matching the engine's
  * catalog-free snapshot layout. Two addressing modes:
  *
  *  - a plain snapshot directory: the statement must name the
  *    copy-on-write output with `INTO '<outPath>'` (snapshots are
  *    immutable; the caller owns the pointer swap);
  *  - a VERSIONED table directory (the `v<id>` + `CURRENT` layout of
  *    [[graft.streaming.Streams.upsertSink]]): `INTO` is omitted —
  *    the commit lands as the next version and `CURRENT` swaps
  *    atomically, which is `MERGE INTO table` semantics.
  *
  * Grammar (keywords case-insensitive; `<query>` is any SELECT the
  * session can run, including temp views and graft's injected
  * functions):
  * {{{
  * MERGE [WITH SCHEMA EVOLUTION] INTO '<table>' USING (<query>) ON <key> [AND <key> ...]
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *              [INTO '<outPath>']
  * DELETE FROM '<table>' WHERE <keyCol> IN (<query>)  [INTO '<outPath>']
  * DELETE FROM '<table>' ON <key> [AND <key> ...] WHERE <predicate>  [INTO '<outPath>']
  * UPDATE '<table>' ON <key> [AND <key> ...] SET <col> = <expr> [, ...] WHERE <predicate>  [INTO '<outPath>']
  * VACUUM '<tableDir>' RETAIN <n> SNAPSHOTS
  * VACUUM '<tableDir>' OLDER THAN <n> HOURS
  * OPTIMIZE '<table>' BY <sortCol> [TARGET <mb> MB]  [INTO '<outPath>']
 * OPTIMIZE '<table>' ZORDER BY (<a>, <b>) [TARGET <mb> MB]  [INTO '<outPath>']
  * CLONE '<src>' TO '<dst>'
  * DESCRIBE HISTORY '<tableDir>'
  * DESCRIBE DETAIL '<tableDir | snapshotDir>'
  * RESTORE '<tableDir>' TO VERSION <n>
  * RESTORE '<tableDir>' TO TIMESTAMP '<ts>'
  * CONVERT '<snapshotDir>' TO VERSIONED '<tableDir>'
  * CREATE GRAFT TABLE <name> AT '<dir>'
  * DROP GRAFT TABLE <name>
  * SHOW GRAFT TABLES
  * }}}
  * Every quoted `'<table>'` reference above (and the
  * `graft_table`/`graft_cdf` TVF first argument) also accepts a NAME
  * registered with `CREATE GRAFT TABLE` — a session-scoped alias map
  * ([[GraftCatalog]]); paths remain the storage truth.
  * `RESTORE` follows Delta semantics: the restored state lands as a
  * NEW version (hard-linked clone of the target snapshot) and
  * `CURRENT` swaps to it — history is preserved, the restore is
  * itself a commit, and a later vacuum can still reclaim it.
  * The MERGE shape is Delta's canonical key-upsert (`UPDATE SET *` /
  * `INSERT *`); partial-clause merges are not this engine's verb — the
  * statement refuses rather than half-applies.
  *
  * `UPDATE` and predicate `DELETE` name the table's pruning key with
  * `ON <keyCol>` (this engine's snapshots are footer-pruned by a
  * declared key, not a transaction log's per-file row tracking): the
  * matched rows' keys bound the copy-on-write rewrite, and rows
  * sharing a key with a matched row ride along verbatim — see
  * [[graft.ops.Upsert.updateWhere]] / [[graft.ops.Upsert.deleteWhere]]
  * for the exact semantics (predicates are three-valued, SET reads the
  * pre-update row, schema never changes).
  */
object LakehouseSql {

  /** A verb's table reference: a registered catalog name resolves to
    * its path; anything path-shaped (contains `/` or a scheme) passes
    * through; a bare unregistered name refuses with the remedy named
    * (falling through to "no parquet files under ./name" would send
    * users chasing a phantom relative directory). */
  private[graft] def resolveRef(spark: SparkSession, ref: String): String =
    GraftCatalog.get(spark, ref).getOrElse {
      if (ref.contains('/') || ref.contains(':')) ref
      else throw new IllegalArgumentException(
        s"unknown graft table name '$ref' — register it with " +
          s"CREATE GRAFT TABLE $ref AT '<dir>', or pass a path")
    }

  // `ON a` or `ON a AND b AND ...` — composite keys join on the full
  // tuple (pruning rides the leading component); [[splitKeys]] breaks
  // the match back apart
  private val keyList = """[\w.]+(?:\s+AND\s+[\w.]+)*"""
  private[graft] def splitKeys(s: String): Seq[String] =
    s.split("""(?i)\s+AND\s+""").map(_.trim).toSeq
  private val merge = (
    s"""(?is)^\\s*MERGE\\s+(?:(WITH)\\s+SCHEMA\\s+EVOLUTION\\s+)?INTO\\s+'([^']+)'\\s+USING\\s+\\((.*)\\)\\s+ON\\s+($keyList)\\s+""" +
      """WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+""" +
      """WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*(?:INTO\s+'([^']+)')?\s*;?\s*$""").r
  private val delete =
    """(?is)^\s*DELETE\s+FROM\s+'([^']+)'\s+WHERE\s+([\w.]+)\s+IN\s+\((.*)\)\s*(?:INTO\s+'([^']+)')?\s*;?\s*$""".r
  private val deleteWhere =
    s"""(?is)^\\s*DELETE\\s+FROM\\s+'([^']+)'\\s+ON\\s+($keyList)\\s+WHERE\\s+(.*?)\\s*(?:INTO\\s+'([^']+)')?\\s*;?\\s*$$""".r
  // the SET/WHERE boundary is found by [[indexOfTopLevelKeyword]], not
  // the regex — a SET string literal containing the word WHERE must
  // not split the clause early
  private val update =
    s"""(?is)^\\s*UPDATE\\s+'([^']+)'\\s+ON\\s+($keyList)\\s+SET\\s+(.*?)\\s*(?:INTO\\s+'([^']+)')?\\s*;?\\s*$$""".r
  private val assignRe = """(?s)^\s*([\w.]+)\s*=\s*(.+?)\s*$""".r
  private val vacuum =
    """(?is)^\s*VACUUM\s+'([^']+)'\s+RETAIN\s+(\d+)\s+SNAPSHOTS?\s*;?\s*$""".r
  private val vacuumAge =
    """(?is)^\s*VACUUM\s+'([^']+)'\s+OLDER\s+THAN\s+(\d+)\s+HOURS?\s*;?\s*$""".r
  private val optimize =
    """(?is)^\s*OPTIMIZE\s+'([^']+)'\s+BY\s+([\w.]+)\s*(?:TARGET\s+(\d+)\s+MB)?\s*(?:INTO\s+'([^']+)')?\s*;?\s*$""".r
  private val optimizeZ =
    """(?is)^\s*OPTIMIZE\s+'([^']+)'\s+ZORDER\s+BY\s+\(\s*([\w.]+)\s*,\s*([\w.]+)\s*\)\s*(?:TARGET\s+(\d+)\s+MB)?\s*(?:INTO\s+'([^']+)')?\s*;?\s*$""".r
  private val cloneRe =
    """(?is)^\s*CLONE\s+'([^']+)'\s+TO\s+'([^']+)'\s*;?\s*$""".r
  private val history =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+'([^']+)'\s*;?\s*$""".r
  private val detail =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+'([^']+)'\s*;?\s*$""".r
  private val convert =
    """(?is)^\s*CONVERT\s+'([^']+)'\s+TO\s+VERSIONED\s+'([^']+)'\s*;?\s*$""".r
  private val restore =
    """(?is)^\s*RESTORE\s+'([^']+)'\s+TO\s+VERSION\s+(\d+)\s*;?\s*$""".r
  private val restoreTs =
    """(?is)^\s*RESTORE\s+'([^']+)'\s+TO\s+TIMESTAMP\s+'([^']+)'\s*;?\s*$""".r
  private val createTbl =
    """(?is)^\s*CREATE\s+GRAFT\s+TABLE\s+([A-Za-z_]\w*)\s+AT\s+'([^']+)'\s*;?\s*$""".r
  private val dropTbl =
    """(?is)^\s*DROP\s+GRAFT\s+TABLE\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val showTbl =
    """(?is)^\s*SHOW\s+GRAFT\s+TABLES\s*;?\s*$""".r
  // a MERGE/DELETE that LOOKS like ours but doesn't match the grammar
  // must fail loudly, not fall through to Spark's parser (whose error
  // would point users at catalogs this engine doesn't use)
  private val mergeish =
    """(?is)^\s*MERGE\s+(?:WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+'.*""".r
  private val deleteish = """(?is)^\s*DELETE\s+FROM\s+'.*""".r
  private val optimizeish = """(?is)^\s*OPTIMIZE\s+'.*""".r
  private val updateish = """(?is)^\s*UPDATE\s+'.*""".r

  /** Split on `sep` at paren depth 0 outside single-quoted strings —
    * the SET-clause comma splitter (an assignment's expression may
    * itself contain commas inside function calls or quoted text; SQL's
    * `''` escape re-enters the string state naturally on the next
    * quote). */
  private[graft] def splitTopLevel(s: String, sep: Char = ','): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; var last = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case x if x == sep && depth == 0 =>
          out += s.substring(last, i); last = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(last)
    out.toSeq
  }

  /** Index of the first occurrence of standalone keyword `kw` at paren
    * depth 0 outside single-quoted strings, case-insensitive; -1 when
    * absent. Word boundaries: the char on each side must not be a
    * letter, digit, or underscore. */
  private[graft] def indexOfTopLevelKeyword(s: String, kw: String): Int = {
    def wordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var depth = 0; var inStr = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, kw.length) &&
              (i == 0 || !wordChar(s.charAt(i - 1))) &&
              (i + kw.length >= s.length || !wordChar(s.charAt(i + kw.length))))
            return i
      }
      i += 1
    }
    -1
  }

  /** The graft statement for `sqlText`, if it is one. */
  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case merge(evo, tbl, src, key, out) =>
      Some(GraftMergeCommand(tbl, Option(out), splitKeys(key), src,
        schemaEvolution = evo != null))
    case delete(tbl, key, src, out) =>
      Some(GraftDeleteCommand(tbl, Option(out), key, src))
    case deleteWhere(tbl, key, pred, out) =>
      Some(GraftDeleteWhereCommand(tbl, Option(out), splitKeys(key), pred))
    case update(tbl, key, body, out) =>
      val wi = indexOfTopLevelKeyword(body, "WHERE")
      if (wi < 0) throw new IllegalArgumentException(
        "UPDATE needs a WHERE clause (top-level, outside quotes/" +
          "parens): " + body.trim.take(120))
      val (setC, pred) = (body.substring(0, wi), body.substring(wi + 5))
      val assigns = splitTopLevel(setC).map {
        case assignRe(c, e) => (c, e)
        case bad => throw new IllegalArgumentException(
          s"UPDATE SET clause: expected <col> = <expr>, got '${bad.trim}'")
      }
      Some(GraftUpdateCommand(tbl, Option(out), splitKeys(key), assigns, pred))
    case vacuum(dir, keep) =>
      Some(GraftVacuumCommand(dir, keep.toInt))
    case vacuumAge(dir, hours) =>
      Some(GraftVacuumAgeCommand(dir, hours.toLong))
    case optimize(tbl, sortCol, mb, out) =>
      Some(GraftOptimizeCommand(tbl, Option(out), Seq(sortCol),
        Option(mb).map(_.toLong << 20).getOrElse(128L << 20)))
    case optimizeZ(tbl, a, b, mb, out) =>
      Some(GraftOptimizeCommand(tbl, Option(out), Seq(a, b),
        Option(mb).map(_.toLong << 20).getOrElse(128L << 20)))
    case cloneRe(src, dst) => Some(GraftCloneCommand(src, dst))
    case history(dir) => Some(GraftHistoryCommand(dir))
    case detail(dir) => Some(GraftDetailCommand(dir))
    case restore(dir, v) => Some(GraftRestoreCommand(dir, v.toLong))
    case restoreTs(dir, ts) =>
      Some(GraftRestoreCommand(dir, -1L, Some(parseTsMillis(ts))))
    case convert(src, dst) => Some(GraftConvertCommand(src, dst))
    case createTbl(name, dir) => Some(GraftCreateTableCommand(name, dir))
    case dropTbl(name) => Some(GraftDropTableCommand(name))
    case showTbl() => Some(GraftShowTablesCommand())
    case t if mergeish.matches(t) || deleteish.matches(t) ||
        optimizeish.matches(t) || updateish.matches(t) =>
      throw new IllegalArgumentException(
        "graft lakehouse statement didn't match the supported grammar — " +
          "see graft.plans.LakehouseSql (MERGE needs USING (<query>) ON " +
          "<keyCol> WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN " +
          "INSERT *; DELETE needs WHERE <keyCol> IN (<query>) or ON " +
          "<keyCol> WHERE <predicate>; UPDATE needs ON <keyCol> SET " +
          "<col> = <expr> WHERE <predicate>; OPTIMIZE " +
          "needs BY <col> or ZORDER BY (<a>, <b>)): " + t.trim.take(120))
    case _ => None
  }

  // ---- optimistic-concurrency commit protocol (versioned tables) ----
  //
  // Claim: `Files.createDirectory(v<next>)` is the filesystem's
  // compare-and-create — two concurrent committers can never claim the
  // same version number, so each builds its snapshot in a disjoint dir
  // with no coordination (the commit engine preserves a claimed EMPTY
  // dir instead of delete-recreating it).
  // Publish: the CURRENT swap is a base-version compare-and-swap under
  // an exclusive OS file lock (`_COMMITLOCK`): if the table advanced
  // past the base this commit read, the claimed snapshot is deleted
  // and the statement fails loudly — first committer wins, the loser
  // rebases and retries. This is Delta's optimistic protocol with the
  // log-record conditional-PUT swapped for a posix lock; an
  // object-store port would use the store's conditional write.
  // Crash story: a claimed-but-never-published v<id> is invisible to
  // readers (they resolve CURRENT) and is reclaimed by VACUUM with the
  // other non-retained versions.

  private[graft] def withCommitLock[T](tablePath: String)(body: => T): T =
    // the generic mutator lock ([[graft.ops.Fs.withPathLock]]):
    // JVM-level intern-synchronized queueing, then an OS file lock on
    // the local scheme / a create-exclusive lease on remote ones —
    // shared with the ANN index's maintenance rewrites, which need the
    // identical single-mutator guarantee
    graft.ops.Fs.withPathLock(tablePath)(body)

  /** Refuse to commit to a table owned by a streaming sink: the
    * sink's batch-id versioning would collide with claimed versions
    * (a replayed batch delete-recreates `v<id>`, destroying a SQL
    * commit that claimed the same number). One writer TYPE per table. */
  private[graft] def requireNotStreamOwned(tablePath: String, verb: String): Unit =
    graft.ops.Fs.readTextIfExists(graft.ops.Fs.of(tablePath),
        new org.apache.hadoop.fs.Path(tablePath, "_WRITER"))
      .map(_.trim).filter(_.startsWith("stream:")).foreach { owner =>
        throw new IllegalStateException(
          s"$verb: '$tablePath' is owned by a streaming sink ($owner) — " +
            "stop the query and delete _WRITER to take ownership, or " +
            "route the change through the stream")
      }

  /** Atomically claim the next version number of a versioned table.
    * Local fast path: `Files.createDirectory` is the filesystem's
    * compare-and-create. Remote schemes claim by CREATE-EXCLUSIVE of a
    * `v<n>/_CLAIM` marker (atomic on HDFS) — the commit engine treats
    * a dir holding only `_CLAIM` as claimed-empty, and the
    * underscore-hidden marker is invisible to every reader. */
  private[graft] def claimNextVersion(tablePath: String): Long = {
    val scheme = new org.apache.hadoop.fs.Path(tablePath).toUri.getScheme
    val local = scheme == null || scheme == "file"
    var next = -1L
    var claimed = false
    while (!claimed) {
      next = Upsert.snapshotVersions(tablePath).maxOption.getOrElse(-1L) + 1
      claimed =
        if (local)
          try {
            java.nio.file.Files.createDirectory(java.nio.file.Paths.get(
              new org.apache.hadoop.fs.Path(s"$tablePath/v$next").toUri.getPath))
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        else
          graft.ops.Fs.createExclusive(graft.ops.Fs.of(tablePath),
            new org.apache.hadoop.fs.Path(s"$tablePath/v$next/_CLAIM"), "")
    }
    next
  }

  /** The table's resolved current version name (`v<n>`): max of the
    * CURRENT pointer and the commit log — see
    * [[graft.ops.Upsert.currentVersion]]. */
  private[graft] def resolveCurrentName(tablePath: String): Option[String] =
    graft.ops.Upsert.currentVersion(tablePath).map(v => s"v$v")

  /** Publish claimed `v<next>` as CURRENT. If the table still sits at
    * `baseCurrent`, the publish is one commit-log append plus the
    * pointer swap. If a concurrent commit won the race, CONFLICT
    * DETECTION runs instead of a blanket abort: the loser's `_txn`
    * sidecar (touched/fresh file sets + evict-key range) is checked
    * against every intervening winner's, and when the changes are
    * provably disjoint — no file both rewrote, no winner-appended
    * file whose lead-key bounds intersect the loser's evict range,
    * same lead key, same schema, no deletion vectors in play — the
    * loser's change REBASES onto the new current snapshot by
    * relinking ([[graft.ops.Upsert.rebaseRelink]]; metadata-only, the
    * Spark job is NOT re-run) under a fresh claimed version and
    * publishes. Anything unprovable aborts exactly as before, with
    * the reason named. This is Delta's logical conflict resolution
    * (two writers MERGEing disjoint partitions both succeed) built on
    * this engine's per-file footer bounds.
    *
    * ISOLATION LEVEL: WriteSerializable-equivalent (Delta's default),
    * NOT Serializable. The conflict check tracks what the loser WROTE
    * (touched/fresh files, evict-key range), not what it READ — so a
    * commit whose source rows were DERIVED from reading the base
    * snapshot can be rebased into a state no serial execution
    * produces (write skew): two writers each read the other's
    * partition and write their own, both rebase cleanly, and the
    * combined result reflects neither serial order. Pipelines whose
    * MERGE sources depend on reading the same table should force the
    * pre-r12 abort-always behavior by setting the session conf
    * `spark.graft.occ.rebase = false` around the statement (checked
    * per publish — a per-statement opt-out): every lost race then
    * aborts with the retry remedy, which restores Serializable at the
    * cost of retrying the Spark job. */
  private[graft] val RebaseConf = "spark.graft.occ.rebase"
  private[graft] def publishOrAbort(
      tablePath: String, baseCurrent: String, next: Long, verb: String): Unit =
    withCommitLock(tablePath) {
      val fs = graft.ops.Fs.of(tablePath)
      val now = resolveCurrentName(tablePath).getOrElse(
        throw new IllegalStateException(
          s"$verb: '$tablePath' lost its CURRENT pointer and commit " +
            "log mid-commit"))
      if (now == baseCurrent) publishLocked(fs, tablePath, next, now, verb)
      else {
        val rebaseOn = org.apache.spark.sql.SparkSession.active.conf
          .get(RebaseConf, "true").toBoolean
        val attempt =
          if (rebaseOn) tryRebase(tablePath, baseCurrent, now, next)
          else Left(s"$RebaseConf=false forces abort-always — " +
            "Serializable isolation for read-dependent pipelines")
        attempt match {
          case Right(rebased) =>
            RebaseStats.rebases.incrementAndGet()
            fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/v$next"), true)
            publishLocked(fs, tablePath, rebased, now, verb)
          case Left(why) =>
            RebaseStats.aborts.incrementAndGet()
            fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/v$next"), true)
            throw new IllegalStateException(
              s"$verb: concurrent commit detected on '$tablePath' — this " +
                s"commit read $baseCurrent but the table is now at $now, " +
                s"and a conflict-free rebase was not possible ($why); the " +
                s"claimed snapshot v$next was discarded — rebase on $now " +
                "and retry")
        }
      }
    }

  /** Commit-log append + pointer swap, under the held lock. Log
    * first: a crash between the two leaves the log ahead of the
    * pointer, and readers resolve max — the new snapshot (fully built
    * before publish was called) becomes visible either way. */
  private def publishLocked(
      fs: org.apache.hadoop.fs.FileSystem, tablePath: String,
      next: Long, base: String, verb: String): Unit = {
    graft.ops.Upsert.writeCommitLogEntry(
      tablePath, next, base.drop(1).toLong, verb)
    graft.ops.Fs.writeTextAtomic(fs,
      new org.apache.hadoop.fs.Path(tablePath, "CURRENT"), s"v$next")
  }

  /** Session conf capping the winners-chain walk a losing commit may
    * pay before rebasing (default 64). A loser's walk reads one
    * `_txn.json` per intervening winner, so under a sustained loss
    * streak the per-retry cost grows with how far behind the loser
    * fell; past the cap the publish aborts with the retry remedy —
    * rebuilding against fresh CURRENT is then cheaper than walking
    * (and the abort path's cost is bounded by construction).
    * `graft.tools.RebaseProbe` measures commits/sec and walk lengths
    * under contention (docs/PLANS.md, round 13: rebase walk is capped). */
  private[graft] val MaxRebaseWalkConf = "spark.graft.occ.maxRebaseWalk"

  /** Rebase-walk telemetry, updated on every conflict adjudication —
    * how `graft.tools.RebaseProbe` reports mean/max chain length without
    * touching the publish path's behavior. */
  private[graft] object RebaseStats {
    import java.util.concurrent.atomic.AtomicLong
    val walks = new AtomicLong; val walked = new AtomicLong
    val maxWalk = new AtomicLong
    val rebases = new AtomicLong; val aborts = new AtomicLong
    def record(n: Int): Unit = {
      walks.incrementAndGet(); walked.addAndGet(n.toLong)
      maxWalk.accumulateAndGet(n.toLong, math.max(_, _))
    }
    def reset(): Unit =
      Seq(walks, walked, maxWalk, rebases, aborts).foreach(_.set(0L))
  }

  /** Conflict detection + rebase (see [[publishOrAbort]]). Returns
    * the freshly claimed, fully relinked version to publish, or the
    * reason the rebase is unsafe. Runs under the commit lock — the
    * current version cannot move underneath it. */
  private def tryRebase(
      tablePath: String, baseCurrent: String, now: String,
      next: Long): Either[String, Long] = {
    import graft.ops.{Fs, Upsert}
    val baseV = baseCurrent.drop(1).toLong
    val nowV = now.drop(1).toLong
    if (nowV <= baseV)
      return Left(s"table moved backwards ($baseCurrent -> $now)")
    val maxWalk = org.apache.spark.sql.SparkSession.active.conf
      .get(MaxRebaseWalkConf, "64").toInt
    // walk the published chain now -> base through the commit log;
    // claimed-but-unpublished version numbers in the range are not on
    // the chain and don't block
    var v = nowV
    val winners = scala.collection.mutable.ListBuffer.empty[Long]
    while (v != baseV) {
      if (winners.size >= maxWalk)
        return Left(s"more than $maxWalk commits intervened since this " +
          s"commit's base $baseCurrent (walk capped by $MaxRebaseWalkConf) " +
          "— rebuilding against the current snapshot is cheaper than " +
          "walking the chain")
      Upsert.readCommitLogEntry(tablePath, v).map(_.base) match {
        case Some(b) if b < v && b >= baseV => winners += v; v = b
        case Some(b) =>
          return Left(s"commit chain of v$v points outside " +
            s"($baseCurrent, v$nowV] (base v$b)")
        case None =>
          return Left(s"v$v has no commit-log entry (published before " +
            "the log existed, by a foreign writer, or reclaimed by a " +
            "concurrent vacuum's log truncation)")
      }
    }
    RebaseStats.record(winners.size)
    val loserDir = s"$tablePath/v$next"
    val nowDir = s"$tablePath/$now"
    val L = Upsert.readTxnInfo(loserDir).getOrElse(
      return Left("this commit wrote no _txn sidecar (whole-table verb)"))
    val fs = Fs.of(tablePath)
    val spark = org.apache.spark.sql.SparkSession.active
    if (Upsert.dvFiles(spark, nowDir).isDefined || Upsert.dvFiles(spark, loserDir).isDefined)
      return Left("a deletion vector is in play — fold it first")
    if (Upsert.readSchemaSidecar(nowDir) != Upsert.readSchemaSidecar(loserDir))
      return Left("concurrent schema change")
    def le(a: String, b: String): Boolean =
      if (L.kind == "long") a.toLong <= b.toLong else a <= b
    for (w <- winners) {
      val wDir = s"$tablePath/v$w"
      val W = Upsert.readTxnInfo(wDir).getOrElse(
        return Left(s"winner v$w wrote no _txn sidecar (whole-table verb)"))
      val wActive = W.touched.nonEmpty || W.fresh.nonEmpty
      if (wActive) {
        val overlap = L.touched & W.touched
        if (overlap.nonEmpty)
          return Left(s"both commits rewrote ${overlap.head}" +
            (if (overlap.size > 1) s" (+${overlap.size - 1} more)" else ""))
        if (L.keys.headOption != W.keys.headOption || L.kind != W.kind)
          return Left(s"different merge keys (${L.keys.headOption.getOrElse("?")}" +
            s" vs ${W.keys.headOption.getOrElse("?")})")
        // a winner-appended file whose lead bounds intersect the
        // loser's evict range may hold keys the loser should have
        // evicted — the loser's pruning ran against the OLD file set
        // and never saw it
        (L.mn, L.mx) match {
          case (Some(lm), Some(lx)) =>
            val clash = try {
              W.freshBounds.find { case (_, wm, wx) => // NULL: unknown bounds
                wm == null || (le(wm, lx) && le(lm, wx)) }
            } catch {
              case _: NumberFormatException =>
                return Left("unparseable key bounds in a _txn sidecar")
            }
            clash.foreach { case (f, _, _) =>
              return Left(s"winner v$w appended $f inside this commit's " +
                s"key range [$lm, $lx]")
            }
          case _ => ()
        }
        if ((L.fresh.toSet & (W.fresh.toSet ++ W.touched)).nonEmpty)
          return Left("fresh-file name collision across the commits")
      }
    }
    // disjoint: claim a fresh version (strictly above nowV — v$nowV
    // exists, so claimNextVersion can't hand back a smaller number;
    // CURRENT stays monotonic) and relink — no Spark job re-run
    val rebased = claimNextVersion(tablePath)
    try {
      Upsert.rebaseRelink(spark,
        nowDir, loserDir, s"$tablePath/v$rebased", L.touched, L.fresh.toSet)
      Right(rebased)
    } catch {
      case e: Throwable =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/v$rebased"), true)
        throw e
    }
  }

  /** Resolve a path argument and run a COW verb against it: a
    * versioned table dir (CURRENT pointer present) claims the next
    * version, runs `body(currentSnapshot, claimedDir)`, and publishes
    * through the CAS above; a plain snapshot dir requires the
    * statement's explicit `INTO` and runs `body(tablePath, outPath)`.
    * A `body` that THROWS on a versioned table discards its claim —
    * an in-process verb failure (schema drift refusal, a bad source
    * query) must not leave a half-built zombie snapshot that time
    * travel or CDF could later read as real; only process death
    * leaves a lingering claim (the protocol's documented crash story:
    * invisible to CURRENT readers, reclaimed by VACUUM). */
  private[plans] def withCow[T](
      tablePath: String, explicitOut: Option[String], verb: String)(
      body: (String, String) => T): T = {
    // max(pointer, commit log) — a table whose pointer swap crashed
    // after the log write must commit against the LOGGED version, not
    // the stale pointer (the CAS would otherwise pass and lose it)
    val curTxt = resolveCurrentName(tablePath)
    if (curTxt.isDefined) {
      require(explicitOut.isEmpty,
        s"$verb: '$tablePath' is a versioned table (CURRENT present) — " +
          "the commit lands as the next version; drop the INTO clause")
      requireNotStreamOwned(tablePath, verb)
      val current = curTxt.get
      val next = claimNextVersion(tablePath)
      val r =
        try body(s"$tablePath/$current", s"$tablePath/v$next")
        catch {
          case e: Throwable =>
            graft.ops.Fs.of(tablePath).delete(
              new org.apache.hadoop.fs.Path(s"$tablePath/v$next"), true)
            throw e
        }
      publishOrAbort(tablePath, current, next, verb)
      r
    } else {
      require(explicitOut.isDefined,
        s"$verb: '$tablePath' is a plain snapshot (no CURRENT pointer) — " +
          "name the copy-on-write output with INTO '<outPath>'")
      body(tablePath, explicitOut.get)
    }
  }

  private[plans] def longAttrs(names: String*): Seq[Attribute] =
    names.map(n => AttributeReference(n, LongType, nullable = false)())

  /** Timestamp literal for `TO TIMESTAMP` / TIMESTAMP AS OF: ISO-8601
    * instant (`2026-08-14T12:00:00Z`) or the SQL-conventional local
    * form (`2026-08-14 12:00:00`, session-machine zone — matching how
    * the commit stamps were taken). */
  private[graft] def parseTsMillis(s: String): Long =
    try java.time.Instant.parse(s).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.sql.Timestamp.valueOf(s).getTime
        catch {
          case _: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"unparseable timestamp '$s' — use ISO-8601 " +
                "(2026-08-14T12:00:00Z) or 'yyyy-MM-dd HH:mm:ss'")
        }
    }
}

/** Name → path catalog for graft tables: `CREATE GRAFT TABLE n AT
  * '<dir>'` registers a name every SQL verb and the
  * `graft_table`/`graft_cdf` TVFs then accept in place of the raw
  * path. PATHS REMAIN THE STORAGE TRUTH — the catalog is a pure alias
  * map.
  *
  * TWO MODES, switched by the `spark.graft.catalog.dir` conf:
  *
  *  - UNSET (default): session-scoped, in-memory — a name dies with
  *    the session. Scope boundary: the id rides the session's SQL
  *    conf, so a CLONED session shares its parent's namespace by
  *    design; sibling sessions built from separate builders do not.
  *  - SET to a warehouse root: DURABLE — each name is one small text
  *    file `<dir>/<name>.tbl` holding the path, written through
  *    [[graft.ops.Fs]] (atomic tmp+rename; any scheme Hadoop mounts).
  *    The directory IS the catalog: names survive restarts and are
  *    visible to every session and process sharing the conf, `DROP`
  *    deletes durably, re-`CREATE` repoints atomically. The in-memory
  *    map is bypassed entirely in this mode — one source of truth, no
  *    staleness. Resolution costs one metadata read per name (the
  *    same class of read every verb already does on CURRENT).
  */
object GraftCatalog {
  /** Conf key: warehouse root for durable names (see scaladoc). */
  val DirKey = "spark.graft.catalog.dir"

  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  // a lazily stamped per-session id in the (session-scoped) SQL conf —
  // SparkSession exposes no public session UUID, and keying by the
  // session object would pin it in this map forever
  private def sessionId(spark: SparkSession): String = synchronized {
    val k = "spark.graft.catalog.sessionId"
    spark.conf.getOption(k).getOrElse {
      val id = java.util.UUID.randomUUID().toString
      spark.conf.set(k, id)
      id
    }
  }
  private def key(spark: SparkSession, name: String) =
    (sessionId(spark), name.toLowerCase(java.util.Locale.ROOT))
  private def durableDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(DirKey).filter(_.nonEmpty)
  // Catalog names are plain identifiers (the CREATE grammar's charset).
  // This is load-bearing for the durable branch: resolveRef probes
  // `get` with PATH-shaped refs too, and Hadoop's Path(parent, child)
  // resolves an absolute child ON ITS OWN — without this guard a stray
  // `/data/x.tbl` file would hijack every `'/data/x'` path reference.
  private def isIdent(name: String): Boolean =
    name.nonEmpty && (name.head.isLetter || name.head == '_') &&
      name.forall(c => c.isLetterOrDigit || c == '_')
  private def nameFile(dir: String, name: String) =
    new org.apache.hadoop.fs.Path(dir,
      name.toLowerCase(java.util.Locale.ROOT) + ".tbl")

  def register(spark: SparkSession, name: String, path: String): Unit = {
    require(isIdent(name),
      s"graft table name must be a plain identifier, got '$name'")
    durableDir(spark) match {
      case Some(d) =>
        graft.ops.Fs.writeTextAtomic(
          graft.ops.Fs.of(d, spark), nameFile(d, name), path)
      case None => tables.put(key(spark, name), path); ()
    }
  }
  def drop(spark: SparkSession, name: String): Boolean =
    isIdent(name) && (durableDir(spark) match {
      case Some(d) =>
        val fs = graft.ops.Fs.of(d, spark)
        val p = nameFile(d, name)
        fs.exists(p) && fs.delete(p, false)
      case None => tables.remove(key(spark, name)) != null
    })
  def get(spark: SparkSession, name: String): Option[String] =
    if (!isIdent(name)) None
    else durableDir(spark) match {
      case Some(d) =>
        graft.ops.Fs.readTextIfExists(
          graft.ops.Fs.of(d, spark), nameFile(d, name)).map(_.trim)
      case None => Option(tables.get(key(spark, name)))
    }
  def list(spark: SparkSession): Seq[(String, String)] =
    durableDir(spark) match {
      case Some(d) =>
        val fs = graft.ops.Fs.of(d, spark)
        graft.ops.Fs.listFiles(fs, new org.apache.hadoop.fs.Path(d))
          .filter(_.getName.endsWith(".tbl"))
          .map(p => p.getName.stripSuffix(".tbl") ->
            graft.ops.Fs.readText(fs, p).trim)
          .sortBy(_._1)
      case None =>
        import scala.jdk.CollectionConverters._
        val sid = sessionId(spark)
        tables.asScala.collect {
          case ((s0, n), p) if s0 == sid => (n, p)
        }.toSeq.sortBy(_._1)
    }
}

/** `MERGE [WITH SCHEMA EVOLUTION] INTO` lowered onto
  * [[graft.ops.Upsert.upsertByKeys]]: the source query's rows upsert
  * by the `ON` key tuple (`ON a` or `ON a AND b` — the composite form
  * matches on the FULL tuple and prunes on the leading component) into
  * a new COW snapshot (file-granular footer pruning; untouched files
  * link). `WITH SCHEMA EVOLUTION` (Delta's clause) lets the source
  * carry NEW columns — rows in byte-copied files surface them as null;
  * without it, schema drift refuses. Returns the commit stats row. */
case class GraftMergeCommand(
    tablePath: String, outPath: Option[String], keyCols: Seq[String],
    sourceSql: String, schemaEvolution: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    LakehouseSql.longAttrs("files_copied", "files_rewritten", "rows_merged")
  override def run(spark: SparkSession): Seq[Row] =
    LakehouseSql.withCow(
      LakehouseSql.resolveRef(spark, tablePath), outPath, "MERGE") { (in, out) =>
      val (c, r, n) = Upsert.upsertByKeys(spark, in, out,
        spark.sql(sourceSql), keyCols, allowSchemaEvolution = schemaEvolution)
      Seq(Row(c.toLong, r.toLong, n))
    }
}

/** `DELETE FROM ... WHERE k IN (...)` lowered onto
  * [[graft.ops.Upsert.deleteByKey]]. */
case class GraftDeleteCommand(
    tablePath: String, outPath: Option[String], keyCol: String,
    sourceSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    LakehouseSql.longAttrs("files_copied", "files_rewritten", "keys_requested")
  override def run(spark: SparkSession): Seq[Row] =
    LakehouseSql.withCow(
      LakehouseSql.resolveRef(spark, tablePath), outPath, "DELETE") { (in, out) =>
      val (c, r, n) =
        Upsert.deleteByKey(spark, in, out, spark.sql(sourceSql), keyCol)
      Seq(Row(c.toLong, r.toLong, n))
    }
}

/** `DELETE FROM ... ON <keyCol> WHERE <predicate>` lowered onto
  * [[graft.ops.Upsert.deleteWhere]] — the general-predicate form;
  * matched rows' keys bound the COW rewrite. */
case class GraftDeleteWhereCommand(
    tablePath: String, outPath: Option[String], keyCols: Seq[String],
    predicateSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    LakehouseSql.longAttrs("files_copied", "files_rewritten", "rows_deleted")
  override def run(spark: SparkSession): Seq[Row] =
    LakehouseSql.withCow(
      LakehouseSql.resolveRef(spark, tablePath), outPath, "DELETE") { (in, out) =>
      val (c, r, n) = Upsert.deleteWhereKeys(spark, in, out, keyCols,
        org.apache.spark.sql.functions.expr(predicateSql))
      Seq(Row(c.toLong, r.toLong, n))
    }
}

/** `UPDATE '<t>' ON <keyCol> SET ... WHERE ...` lowered onto
  * [[graft.ops.Upsert.updateWhere]]: assignments apply where the
  * predicate holds (reading the pre-update row, each cast to the
  * column's existing type); the matched rows' keys bound the COW
  * rewrite and rows sharing a key ride along verbatim. */
case class GraftUpdateCommand(
    tablePath: String, outPath: Option[String], keyCols: Seq[String],
    assignments: Seq[(String, String)], predicateSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    LakehouseSql.longAttrs("files_copied", "files_rewritten", "rows_updated")
  override def run(spark: SparkSession): Seq[Row] =
    LakehouseSql.withCow(
      LakehouseSql.resolveRef(spark, tablePath), outPath, "UPDATE") { (in, out) =>
      val fx = org.apache.spark.sql.functions
      val (c, r, n) = Upsert.updateWhereKeys(spark, in, out, keyCols,
        fx.expr(predicateSql),
        assignments.map { case (cn, e) => (cn, fx.expr(e)) })
      Seq(Row(c.toLong, r.toLong, n))
    }
}

/** `VACUUM ... RETAIN n SNAPSHOTS` lowered onto
  * [[graft.ops.Upsert.vacuum]] (never drops CURRENT; reclaims `_cdf`
  * feeds below the oldest retained snapshot). */
case class GraftVacuumCommand(tableDir: String, keep: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("versions_deleted", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(Upsert.vacuum(
      LakehouseSql.resolveRef(spark, tableDir), keep).mkString(",")))
}

/** `VACUUM ... OLDER THAN n HOURS` — time-based retention
  * ([[graft.ops.Upsert.vacuumOlderThan]]): CURRENT and the newest
  * snapshot always survive regardless of age. */
case class GraftVacuumAgeCommand(tableDir: String, hours: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("versions_deleted", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(Upsert.vacuumOlderThan(
      LakehouseSql.resolveRef(spark, tableDir),
      hours * 3600L * 1000L).mkString(",")))
}

/** `OPTIMIZE ... BY col [INTO ...]` lowered onto
  * [[graft.ops.Layout.optimizeTable]] (re-cluster into disjoint key
  * ranges; revives footer min/max pruning), or `ZORDER BY (a, b)`
  * onto [[graft.ops.Layout.optimizeTableZOrder]] (Morton-interleaved
  * clustering — filters on either column prune). On a versioned table
  * the optimized layout commits as the next version (Delta's in-place
  * OPTIMIZE shape); a plain snapshot needs an explicit `INTO`. */
case class GraftOptimizeCommand(
    inPath: String, explicitOut: Option[String], sortCols: Seq[String],
    targetBytes: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    LakehouseSql.longAttrs("files_in", "files_out", "bytes")
  override def run(spark: SparkSession): Seq[Row] = {
    // a VERSIONED table commits the optimized layout as the next
    // version (Delta's OPTIMIZE shape) through the same claim + CAS
    // protocol as the DML verbs; a plain snapshot still needs INTO.
    def cluster(src: String, dst: String): (Int, Int, Long) = sortCols match {
      case Seq(c) => Layout.optimizeTable(spark, src, dst, c, targetBytes)
      case Seq(a, b) =>
        Layout.optimizeTableZOrder(spark, src, dst, a, b, targetBytes)
      case other => throw new IllegalArgumentException(
        s"OPTIMIZE: 1 (BY) or 2 (ZORDER BY) cluster columns, got $other")
    }
    LakehouseSql.withCow(LakehouseSql.resolveRef(spark, inPath),
        explicitOut, "OPTIMIZE") { (src, out) =>
      // A deletion-vector sidecar must not ride along: the cluster
      // pass reads data files only, so the rewritten layout would
      // silently DROP the _dv and resurrect soft-deleted rows —
      // refuse with the fold named. Checked INSIDE the claim against
      // the RESOLVED src (a pre-claim check races a concurrent
      // deleteByKeyDV publish); withCow discards the claim on refusal.
      require(Upsert.dvFiles(spark, src).isEmpty,
        s"OPTIMIZE: '$src' carries a deletion-vector sidecar — run " +
          "Upsert.compactDeletes first (it deletes AND compacts)")
      val (i, o, b) =
        if (explicitOut.isDefined) cluster(src, out)
        else {
          // Spark's overwrite delete-recreates the output dir, which
          // would reopen the claimed-version race window — write beside
          // the claim and move files in (the claimed dir itself is
          // never deleted). The `.inprogress` suffix keeps the tmp
          // invisible to snapshotVersions' `v<id>` match.
          val tmp = s"$out.inprogress"
          val fs = graft.ops.Fs.of(out, spark)
          val tmpP = new org.apache.hadoop.fs.Path(tmp)
          fs.delete(tmpP, true)
          val r =
            try cluster(src, tmp)
            catch { case e: Throwable =>
              fs.delete(tmpP, true)
              throw e
            }
          val dst = new org.apache.hadoop.fs.Path(out)
          if (!fs.exists(dst)) fs.mkdirs(dst)
          for (f <- fs.listStatus(tmpP)) {
            val to = new org.apache.hadoop.fs.Path(dst, f.getPath.getName)
            // a silent rename failure followed by the tmp delete below
            // would publish a snapshot MISSING data files — refuse loudly
            if (!fs.rename(f.getPath, to))
              throw new java.io.IOException(
                s"OPTIMIZE: rename ${f.getPath} -> $to failed; " +
                  "the claimed snapshot is incomplete and was not published")
          }
          fs.delete(tmpP, true)
          Upsert.writeCommitInfo(out, "OPTIMIZE", Seq(
            "files_in" -> r._1.toLong, "files_out" -> r._2.toLong))
          r
        }
      Seq(Row(i.toLong, o.toLong, b))
    }
  }
}

/** `CLONE ... TO ...` lowered onto
  * [[graft.ops.Upsert.cloneSnapshot]] (hard-link shallow clone,
  * sidecars carried). */
case class GraftCloneCommand(srcPath: String, dstPath: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = LakehouseSql.longAttrs("files_cloned")
  override def run(spark: SparkSession): Seq[Row] = {
    val n = Upsert.cloneSnapshot(
      spark, LakehouseSql.resolveRef(spark, srcPath), dstPath)
    Upsert.writeCommitInfo(dstPath, "CLONE", Seq("files_cloned" -> n.toLong))
    Seq(Row(n.toLong))
  }
}

/** `DESCRIBE HISTORY` over a versioned table dir: one row per
  * snapshot (version, data files, bytes, current flag, plus the
  * `_commitinfo` audit stamp — operation name and commit timestamp;
  * null operation marks a snapshot that predates the audit trail,
  * whose timestamp falls back to the directory mtime). Byte totals
  * count hard links at full size — the row answers "what does time
  * travel to v reach", not "unique bytes on disk". */
case class GraftHistoryCommand(tableDirRef: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)(),
    AttributeReference("is_current", org.apache.spark.sql.types.BooleanType,
      nullable = false)(),
    AttributeReference("operation", StringType, nullable = true)(),
    AttributeReference("commit_ts", org.apache.spark.sql.types.TimestampType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val tableDir = LakehouseSql.resolveRef(spark, tableDirRef)
    val versions = Upsert.snapshotVersions(tableDir)
    require(versions.nonEmpty,
      s"DESCRIBE HISTORY: no v<id> snapshots under $tableDir")
    val cur = graft.streaming.Streams.currentSnapshot(tableDir)
      .map(_.split('/').last)
    versions.map { v =>
      // a claimed-but-unpublished version legitimately lists zero files
      val files = Layout.listDataFiles(spark, s"$tableDir/v$v")
      val bytes = Layout.totalBytes(spark, files)
      // no _commitinfo (foreign/pre-audit snapshot): the commit-log
      // entry still knows the verb and the publish timestamp — a
      // copied table's history reads the same as the original's
      val (op, ts) = Upsert.commitStamp(tableDir, v)
      Row(v, files.size.toLong, bytes, cur.contains(s"v$v"), op.orNull,
        new java.sql.Timestamp(ts))
    }
  }
}

/** `DESCRIBE DETAIL '<dir>'` — one-row table-level summary (Delta's
  * everyday introspection verb next to DESCRIBE HISTORY): resolves a
  * versioned dir through CURRENT (a plain snapshot dir describes
  * itself), and reports file/byte counts, whether its files carry
  * Bloom filters (one footer), whether it carries a schema sidecar,
  * its deletion-vector bytes and who owns the table. Metadata-only —
  * file listings, size sums and one footer, no Spark job over data. */
case class GraftDetailCommand(tableDirRef: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("is_versioned", org.apache.spark.sql.types.BooleanType,
      nullable = false)(),
    AttributeReference("current_version", LongType, nullable = true)(),
    AttributeReference("n_snapshots", LongType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)(),
    AttributeReference("has_bloom", org.apache.spark.sql.types.BooleanType,
      nullable = false)(),
    AttributeReference("has_schema", org.apache.spark.sql.types.BooleanType,
      nullable = false)(),
    AttributeReference("dv_bytes", LongType, nullable = false)(),
    AttributeReference("writer", StringType, nullable = true)(),
    AttributeReference("last_operation", StringType, nullable = true)(),
    AttributeReference("last_commit_ts",
      org.apache.spark.sql.types.TimestampType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val tableDir = LakehouseSql.resolveRef(spark, tableDirRef)
    val cur = graft.streaming.Streams.currentSnapshot(tableDir)
    val versioned = cur.isDefined
    val snapshot = cur.getOrElse(tableDir)
    val files =
      try Layout.listDataFiles(spark, snapshot)
      catch { case _: java.io.FileNotFoundException => Seq.empty[String] }
    require(versioned || files.nonEmpty,
      s"DESCRIBE DETAIL: no CURRENT pointer and no .parquet files " +
        s"under '$tableDir' — not a graft table")
    val bytes = Layout.totalBytes(spark, files)
    val sfs = graft.ops.Fs.of(snapshot, spark)
    val dvBytes =
      Upsert.dvFiles(spark, snapshot).fold(0L)(_.map(_.getLen).sum)
    val writer = graft.ops.Fs.readTextIfExists(sfs,
      new org.apache.hadoop.fs.Path(tableDir, "_WRITER")).map(_.trim)
    val info = Upsert.readCommitInfo(snapshot)
    Seq(Row(
      tableDir, versioned,
      cur.map(c => java.lang.Long.valueOf(c.split('/').last.drop(1).toLong))
        .orNull,
      if (versioned) Upsert.snapshotVersions(tableDir).size.toLong else 0L,
      files.size.toLong, bytes,
      files.headOption.exists(graft.ops.Bloom.columnsOf(spark, _).nonEmpty),
      Upsert.readSchemaSidecar(snapshot).isDefined,
      dvBytes,
      writer.orNull,
      info.map(_._1).orNull,
      info.map(i => new java.sql.Timestamp(i._2)).orNull))
  }
}

/** `RESTORE ... TO VERSION n` / `TO TIMESTAMP 'ts'`: Delta semantics
  * — the restored state is committed as a NEW version (hard-linked
  * clone, sidecars carried) and `CURRENT` swaps to it. The timestamp
  * form resolves through the `_commitinfo` audit stamps at run time
  * ([[graft.ops.Upsert.versionAsOfTimestamp]]). */
case class GraftRestoreCommand(
    tableDirRef: String, versionArg: Long, tsMillis: Option[Long] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    LakehouseSql.longAttrs("restored_version", "new_version", "files_linked")
  override def run(spark: SparkSession): Seq[Row] = {
    val tableDir = LakehouseSql.resolveRef(spark, tableDirRef)
    val version = tsMillis
      .map(Upsert.versionAsOfTimestamp(tableDir, _)).getOrElse(versionArg)
    val versions = Upsert.snapshotVersions(tableDir)
    require(versions.contains(version),
      s"RESTORE: snapshot v$version not found under $tableDir " +
        s"(have: ${versions.mkString(",")}) — vacuumed or never written")
    require(graft.streaming.Streams.currentSnapshot(tableDir).isDefined,
      s"RESTORE: '$tableDir' has no CURRENT pointer — not a versioned table")
    // same claim + CAS-publish protocol as the COW verbs: a concurrent
    // commit between reading CURRENT and publishing the restore refuses
    val (next, n) = LakehouseSql.withCow(tableDir, None, "RESTORE") { (_, out) =>
      val n = Upsert.cloneSnapshot(spark, s"$tableDir/v$version", out)
      Upsert.writeCommitInfo(out, "RESTORE", Seq(
        "restored_version" -> version, "files_linked" -> n.toLong))
      (new org.apache.hadoop.fs.Path(out).getName.drop(1).toLong, n)
    }
    Seq(Row(version, next, n.toLong))
  }
}

/** `CONVERT '<src>' TO VERSIONED '<dst>'` — the CONVERT-TO-DELTA
  * analog: lift an existing plain parquet snapshot into the versioned
  * layout (`<dst>/v0` as a hard-linked clone, sidecars carried,
  * `CURRENT → v0`), from where MERGE/DELETE/RESTORE/time travel all
  * work. The SOURCE is never mutated (snapshots are immutable); a
  * pre-existing destination refuses rather than overwrites. */
case class GraftConvertCommand(srcPathRef: String, dstPath: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    LakehouseSql.longAttrs("files_linked", "version")
  override def run(spark: SparkSession): Seq[Row] = {
    val srcPath = LakehouseSql.resolveRef(spark, srcPathRef)
    val sfs = graft.ops.Fs.of(srcPath, spark)
    val dfs = graft.ops.Fs.of(dstPath, spark)
    require(!sfs.exists(new org.apache.hadoop.fs.Path(s"$srcPath/CURRENT")),
      s"CONVERT: '$srcPath' is already a versioned table")
    require(!dfs.exists(new org.apache.hadoop.fs.Path(dstPath)),
      s"CONVERT: destination '$dstPath' already exists — refusing to overwrite")
    val n = Upsert.cloneSnapshot(spark, srcPath, s"$dstPath/v0")
    Upsert.writeCommitInfo(s"$dstPath/v0", "CONVERT", Seq(
      "files_linked" -> n.toLong))
    graft.ops.Fs.writeTextAtomic(dfs,
      new org.apache.hadoop.fs.Path(dstPath, "CURRENT"), "v0")
    Seq(Row(n.toLong, 0L))
  }
}


/** `CREATE GRAFT TABLE <name> AT '<dir>'` — register a session-scoped
  * alias in [[GraftCatalog]]. Re-creating an existing name repoints it
  * (the catalog is an alias map, not storage). */
case class GraftCreateTableCommand(name: String, path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    GraftCatalog.register(spark, name, path)
    Seq(Row(name, path))
  }
}

/** `DROP GRAFT TABLE <name>` — forget the alias (storage untouched). */
case class GraftDropTableCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("dropped", org.apache.spark.sql.types.BooleanType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftCatalog.drop(spark, name)))
}

/** `SHOW GRAFT TABLES` — the session's registered aliases. */
case class GraftShowTablesCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftCatalog.list(spark).map { case (n, p) => Row(n, p) }
}

/** Session parser wrapper: graft lakehouse statements lower to their
  * commands; EVERYTHING else — including every identifier/type/schema
  * entry point — delegates verbatim to Spark's parser. Injected via
  * `SparkSessionExtensions.injectParser` by [[graft.GraftExtensions]],
  * so plain `spark.sql(...)` reaches the engine's MERGE with no
  * special session setup. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  @throws[ParseException]
  override def parsePlan(sqlText: String): LogicalPlan =
    LakehouseSql.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))
  @throws[ParseException]
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  @throws[ParseException]
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  @throws[ParseException]
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  @throws[ParseException]
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  @throws[ParseException]
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  @throws[ParseException]
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  @throws[ParseException]
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  @throws[ParseException]
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
