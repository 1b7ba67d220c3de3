package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.ops.{Fs, Upsert}

/** Where the oracle gates stage their fixtures, under one rule: no run
  * reads bytes staged by another run.
  *
  * A fixture lives at `/tmp/graft_fixtures_<user>/<md5(sfDir)>/<name>`.
  * [[once]] wipes that path and builds it on its first call in a JVM,
  * then hands it out without touching disk; [[fresh]] wipes it on every
  * call. Whatever an earlier process left there (bytes from an older
  * generator or pipeline, a regenerated testdata dir, a half-written
  * stage) is deleted before anything reads it, so no marker file or
  * version token has to decide whether it is stale.
  *
  * Nothing is deleted at exit: the DuckDB compare reads some fixtures
  * after the JVM that staged them is gone ([[staged]]), and the next
  * JVM wipes them before it reads them.
  *
  * One JVM at a time stages under an sf dir: the first wipe takes a
  * lock on `<root>/<md5(sfDir)>/.lock` until the JVM exits, and a
  * second JVM fails fast, naming the holder's pid. */
object Fixtures {

  private val root = s"/tmp/graft_fixtures_${System.getProperty("user.name", "u")}"

  def path(sfDir: String, name: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"$root/$h/$name"
  }

  private val held = new ConcurrentHashMap[String, java.nio.channels.FileLock]()

  /** This JVM's lock on an sf dir's fixture root `d`: taken on first
    * use, released by the OS when the process exits. */
  private[graft] def claim(d: String): Unit =
    held.computeIfAbsent(d, { _ =>
      import java.nio.file.{Files, Paths, StandardOpenOption => O}
      val f = Files.createDirectories(Paths.get(d)).resolve(".lock")
      val ch = java.nio.channels.FileChannel.open(f, O.CREATE, O.READ, O.WRITE)
      val lock = ch.tryLock()
      if (lock == null) {
        ch.close()
        throw new IllegalStateException(s"fixtures under $d are held by pid " +
          s"${Files.readString(f).trim} ($f); a second JVM would wipe them")
      }
      ch.truncate(0).write(java.nio.ByteBuffer.wrap(ProcessHandle.current().pid().toString.getBytes))
      lock
    })

  private val locks = new ConcurrentHashMap[String, AnyRef]()
  private val built = ConcurrentHashMap.newKeySet[String]()
  private val latest = new ConcurrentHashMap[String, String]()

  private def wipe(spark: SparkSession, name: String, p: String): String = {
    claim(new java.io.File(p).getParent)
    Fs.of(p, spark).delete(new Path(p), true)
    latest.put(name, p)
    p
  }

  /** The fixture `name` for `sfDir`, built by `build(path)` on the first
    * call in this JVM. Concurrent first callers share one build; a build
    * that throws is not remembered, so the next call retries it. */
  def once(spark: SparkSession, sfDir: String, name: String)(
      build: String => Unit): String = {
    val p = path(sfDir, name)
    if (!built.contains(p)) locks.computeIfAbsent(p, _ => new AnyRef).synchronized {
      if (!built.contains(p)) {
        build(wipe(spark, name, p))
        built.add(p)
      }
    }
    latest.put(name, p)
    p
  }

  /** An empty path for a gate that commits into its own table. */
  def fresh(spark: SparkSession, sfDir: String, name: String): String =
    wipe(spark, name, path(sfDir, name))

  /** A fresh versioned table (v0 + CURRENT) whose v0 is a hard-linked
    * clone of the snapshot `seed`. */
  def versioned(spark: SparkSession, sfDir: String, name: String, seed: String): String = {
    val tbl = fresh(spark, sfDir, name)
    Upsert.cloneSnapshot(spark, seed, s"$tbl/v0")
    Fs.writeTextAtomic(Fs.of(tbl, spark), new Path(tbl, "CURRENT"), "v0")
    tbl
  }

  /** The path last handed out for `name`, for oracle SQL that names a
    * staged file: Verify dumps that SQL after its gates ran. */
  def staged(name: String): String =
    latest.getOrDefault(name, path("unstaged", name))
}
