package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.json4s.JValue
import org.json4s.jackson.JsonMethods

/** Small-file metadata I/O for the lakehouse layer, routed through the
  * Hadoop [[FileSystem]] abstraction so the commit substrate works on
  * any scheme Hadoop can mount (`file:`, `hdfs:`, `s3a:`…), not just
  * the local filesystem `java.io.File` reaches. Every sidecar the
  * commit engine stamps (`_schema.json`, `_commitinfo`, `CURRENT`,
  * `_manifest/_keys.json`) goes through here — a raw `java.io` call in
  * the lakehouse layer is a bug (it silently resolves against the
  * LOCAL working directory on a remote-scheme table; FsSubstrateSpec
  * guards the invariant).
  *
  * Durability notes, encoded once here instead of at each call site:
  *  - [[writeTextAtomic]] writes `.name.tmp` then renames. On a POSIX
  *    local filesystem Hadoop's rename is `rename(2)` — an atomic
  *    replace, same guarantee the old `Files.move(..., ATOMIC_MOVE)`
  *    gave. On HDFS rename refuses an existing destination, so the
  *    fallback deletes first — a sub-millisecond absence window that
  *    production formats close with a transaction log; documented, not
  *    hidden.
  *  - [[createExclusive]] is the create-if-absent CAS primitive
  *    (`FileSystem.create(path, overwrite = false)` — atomic on HDFS
  *    and local; object stores without atomic create need a locking
  *    layer, as Delta's S3 LogStore documents).
  *
  * The JSON metadata records, each written and read by one pair of
  * functions through [[json]] and [[readJson]] (json4s; `_schema.json`
  * is Spark's own `StructType.json`):
  *
  * {{{
  * path (under the table or index dir)  fields                         writer / reader
  * v<n>/_manifest/_keys.json            ["<key column>", ...]          Upsert.writeManifestKeys / readManifestKeys
  * v<n>/_commitinfo                     operation, ts, <stat>: Long... Upsert.writeCommitInfo / readCommitInfo
  * v<n>/_txn.json                       keys, kind, mn?, mx?, touched, Upsert.writeTxnInfo / readTxnInfo
  *                                      fresh, fbFile, fbMn, fbMx
  * _commitlog/<v>.json                  version, base, verb, ts        Upsert.writeCommitLogEntry / readCommitLogEntry
  * _commitlog/_base.json                version, ts                    Upsert.truncateCommitLog / commitLogCheckpoint
  * _cdf/_low_watermark.json             min_feed_version, ts           Upsert.reclaimMetadata / cdfLowWatermark
  * _cdf_applied.json (mirror table)     applied, ts                    Streams.writeApplied / readApplied
  * INDEX_OK (ANN index)                 numSub, codes, src?,           AnnIndex.writeMarker / readMarker
  *                                      srcVersion?, idCol?, advance?,
  *                                      qerrBase?, qerrLast?, qerrRatio?
  * }}}
  * `?` marks a field that is absent when it has no value.
  */
object Fs {

  /** A metadata record as text: compact JSON, fields in the order
    * given, absent (`JNothing`) fields dropped. */
  def json(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  /** The record at `path` parsed, None when it is absent. A present
    * but unparseable record throws: it means corruption or a foreign
    * writer, and no reader may silently drop it. */
  def readJson(fs: FileSystem, path: Path): Option[JValue] =
    readTextIfExists(fs, path).map(JsonMethods.parse(_))

  /** Opt-in metadata-op audit: counts every FS
    * round-trip issued THROUGH this substrate, keyed by
    * `op:artifact` (e.g. `create:_commitlog`, `rename:CURRENT`).
    * Since the lakehouse layer is required to route all small-file
    * metadata I/O through Fs (FsSubstrateSpec), this audits the
    * commit protocol's per-publish RPC cost — the number that, on a
    * real object store, IS the commit latency. Off by default; a
    * single volatile read per op when disabled. Bench's per-query
    * layer profile records its deltas as `fs_ops`. */
  object Audit {
    @volatile private var on = false
    private val counts =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    def enable(): Unit = { counts.clear(); on = true }
    def disable(): Map[String, Long] = { on = false; snapshot() }
    def snapshot(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      counts.asScala.map { case (k, v) => k -> v.get }.toMap
    }
    /** Artifact class of a metadata path — the commit protocol's
      * vocabulary, so the audit table reads as a protocol trace. */
    private def cls(p: Path): String = {
      val n = p.getName
      val parent = Option(p.getParent).map(_.getName).getOrElse("")
      if (parent == "_commitlog" || n == "_commitlog") "_commitlog"
      else if (parent == "_cdf" || n == "_cdf") "_cdf"
      else if (parent == "_manifest" && n != "_manifest") s"_manifest/$n"
      else if (n.startsWith(".") && n.endsWith(".tmp"))
        cls(new Path(p.getParent, n.stripPrefix(".").stripSuffix(".tmp")))
      else n
    }
    private[ops] def rec(op: String, p: Path): Unit = if (on)
      counts.computeIfAbsent(s"$op:${cls(p)}",
        _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
  }

  def of(path: String, spark: SparkSession): FileSystem =
    of(path, spark.sparkContext.hadoopConfiguration)

  /** The filesystem for `path`. On the local scheme this is the RAW
    * filesystem (no `.crc` checksum shadows): the lakehouse metadata
    * files (CURRENT, `_commitinfo`, `_schema.json`) are also touched by
    * non-Hadoop writers — test fixtures, external tooling, the engine's
    * own pre-migration files — and a checksummed write here would leave
    * a `.crc` that fails loudly the moment any such writer updates the
    * data file without it. */
  def of(path: String, conf: Configuration): FileSystem =
    new Path(path).getFileSystem(conf) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other => other
    }

  /** The active session's Hadoop configuration (which carries
    * fs.<scheme>.impl registrations and credentials), falling back to
    * defaults off-session — lets path-only lakehouse APIs
    * (snapshotVersions, vacuum, commitTimestamp…) resolve custom
    * schemes without threading a SparkSession through every
    * signature. */
  def activeConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def of(path: String): FileSystem = of(path, activeConf())

  def readText(fs: FileSystem, path: Path): String = {
    Audit.rec("open", path)
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** [[readText]] when `path` is a file, None otherwise. ONE round
    * trip on both the present and the absent path (open + catch),
    * not the old exists → getFileStatus → open triple — this helper
    * sits under every CURRENT/sidecar/checkpoint resolution, so on an
    * object store the triple tripled the metadata RPCs of every read
    * and every publish (docs/PLANS.md, round 13: commit-path metadata
    * cost). A directory maps to None (the
    * old `isFile` contract); any other I/O failure on a regular file
    * still rethrows. */
  def readTextIfExists(fs: FileSystem, path: Path): Option[String] =
    try Some(readText(fs, path))
    catch {
      case _: java.io.FileNotFoundException => None
      case e: java.io.IOException =>
        // scheme-specific "is a directory" shapes land here; only a
        // genuine regular-file failure may propagate
        if (fs.exists(path) && fs.getFileStatus(path).isFile) throw e
        else None
    }

  /** Write `text` via tmp + rename (see durability notes above).
    * No explicit parent mkdirs: Hadoop's recursive `create` makes
    * missing parents itself — the old exists+mkdirs pair was one
    * wasted round-trip per write (docs/PLANS.md, round 13). */
  def writeTextAtomic(fs: FileSystem, path: Path, text: String): Unit = {
    val parent = path.getParent
    val tmp = new Path(parent, s".${path.getName}.tmp")
    Audit.rec("create", tmp); Audit.rec("rename", path)
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!fs.rename(tmp, path)) {
      // HDFS-style semantics: rename refuses an existing destination
      fs.delete(path, false)
      if (!fs.rename(tmp, path))
        throw new java.io.IOException(s"writeTextAtomic: rename $tmp -> $path failed")
    }
  }

  /** Single-round-trip overwrite create — for metadata files in a
    * snapshot directory NO READER CAN RESOLVE YET (pre-publish build
    * outputs: `_txn.json`, `_commitinfo`, `_schema.json`, a fresh
    * commit's `_manifest/_keys.json`): the publish itself (commit-log
    * append + pointer swap) is the atomic visibility point, so the
    * tmp+rename dance buys nothing there and costs two extra FS
    * round-trips per file — on an object store, two extra RPCs per
    * commit per sidecar (docs/PLANS.md, round 13: 34 -> 16 ops per
    * MERGE publish; Bench's `fs_ops` tracks it per query). Files
    * a concurrent reader may resolve (CURRENT, live-snapshot stamps)
    * must keep [[writeTextAtomic]]. Hadoop `create` makes parent
    * directories itself. */
  def createText(fs: FileSystem, path: Path, text: String): Unit = {
    Audit.rec("create", path)
    val out = fs.create(path, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Atomically create `path` with `text` IFF it does not exist —
    * the compare-and-set primitive the OCC commit protocol claims
    * versions with. Returns false ONLY on already-exists (someone else
    * holds it); a genuine I/O failure (permissions, network, quota)
    * rethrows — misreporting it as contention would send the operator
    * hunting for a lease that was never created. */
  def createExclusive(fs: FileSystem, path: Path, text: String): Boolean = {
    Audit.rec("create", path)
    try {
      val out = fs.create(path, false)
      try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      // Hadoop's local create throws plain IOException("... already
      // exists") on some builds — match the message, rethrow the rest
      case e: java.io.IOException
          if String.valueOf(e.getMessage).contains("already exists") => false
    }
  }

  /** Serialize the MUTATORS of a directory-rooted artifact — a
    * versioned table's publish (the OCC CURRENT swap), an ANN index's
    * maintenance rewrite — across threads and processes. JVM-level
    * first (interned-path synchronized queues same-process callers),
    * then scheme-dispatched: an exclusive OS file lock on the local
    * scheme (`FileChannel.lock`), a create-exclusive LEASE file with a
    * bounded spin on remote schemes (atomic on HDFS; an object store
    * without atomic create needs a real locking service, as Delta's
    * S3 LogStore documents). The lease is deleted on release; a
    * crashed holder leaves a stale lease that blocks callers LOUDLY
    * (the error names the file to delete) instead of letting two
    * mutators interleave silently. Readers never take this lock —
    * visibility is the artifact's own atomic pointer/marker swap. */
  def withPathLock[T](dirPath: String, lockName: String = "_COMMITLOCK")
      (body: => T): T =
    s"$dirPath/$lockName".intern.synchronized {
      val scheme = new Path(dirPath).toUri.getScheme
      if (scheme == null || scheme == "file") {
        // local fast path: an OS file lock (FileChannel.lock throws —
        // does NOT block — on same-process contention, which the
        // intern-synchronized above already serializes). Opening the
        // lock file under a missing directory would surface a raw
        // NoSuchFileException BEFORE the caller's own artifact-missing
        // require (which runs inside the lock) can fire — check first
        // and name the real problem.
        if (!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(new Path(dirPath).toUri.getPath)))
          throw new IllegalArgumentException(
            s"withPathLock: $dirPath does not exist — nothing to lock; " +
              "build the artifact first")
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(
            new Path(s"$dirPath/$lockName").toUri.getPath),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val lock = ch.lock()
          try body finally lock.release()
        } finally ch.close()
      } else {
        val fs = Fs.of(dirPath)
        val lease = new Path(dirPath, s"$lockName.lease")
        val deadline = System.currentTimeMillis() + 60000
        var held = false
        while (!held) {
          held = createExclusive(fs, lease,
            s"pid=${ProcessHandle.current().pid()}")
          if (!held) {
            if (System.currentTimeMillis() > deadline)
              throw new IllegalStateException(
                s"withPathLock: could not acquire $lease within 60s — " +
                  "a concurrent mutator holds it, or a crashed one " +
                  "left a stale lease (delete it to recover)")
            Thread.sleep(50)
          }
        }
        try body finally { fs.delete(lease, false); () }
      }
    }

  /** Child directories of `dir` (empty when `dir` is absent). */
  def listDirs(fs: FileSystem, dir: Path): Seq[Path] = {
    Audit.rec("list", dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath).toSeq
  }

  /** Plain files directly under `dir` (empty when absent). */
  def listFiles(fs: FileSystem, dir: Path): Seq[Path] = {
    Audit.rec("list", dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).filter(_.isFile).map(_.getPath).toSeq
  }
}
