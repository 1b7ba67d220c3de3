package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** `Fixtures`: one build per (sfDir, name) per JVM, nothing read that an
  * earlier process staged, and no gate staging around it. */
class FixturesSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(2)

  /** An sf dir no other test or run stages under; its fixture root is
    * removed afterwards. */
  private def withSfDir(body: String => Unit): Unit = {
    val sfDir = s"fixtures-spec-${System.nanoTime()}"
    try body(sfDir)
    finally org.apache.hadoop.fs.FileUtil.fullyDelete(
      Paths.get(Fixtures.path(sfDir, "x")).getParent.toFile)
  }

  test("once builds at most once per (sfDir, name) under 8 concurrent callers") {
    spark
    withSfDir { sfDir =>
      val builds = new AtomicInteger()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val start = new java.util.concurrent.CountDownLatch(1)
      try {
        val calls = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            Fixtures.once(spark, sfDir, "shared") { p =>
              builds.incrementAndGet()
              Thread.sleep(200) // keep the build open while the others arrive
              Files.createDirectories(Paths.get(p))
              Files.writeString(Paths.get(p, "data"), "built")
            }
          }
        }))
        start.countDown()
        val paths = calls.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).toSet
        assert(builds.get == 1, s"${builds.get} builds for one fixture")
        assert(paths == Set(Fixtures.path(sfDir, "shared")))
        assert(Files.readString(Paths.get(paths.head, "data")) == "built")
      } finally pool.shutdownNow()
      // later calls hand out the path without building
      Fixtures.once(spark, sfDir, "shared")(_ => builds.incrementAndGet())
      assert(builds.get == 1)
      // another name, or another sf dir, is another fixture
      Fixtures.once(spark, sfDir, "other")(_ => builds.incrementAndGet())
      assert(builds.get == 2)
    }
  }

  test("a path left by an earlier process is wiped before the build sees it") {
    spark
    withSfDir { sfDir =>
      val p = Paths.get(Fixtures.path(sfDir, "planted"))
      Files.createDirectories(p)
      Files.writeString(p.resolve("junk.parquet"), "stale bytes")
      // the marker an earlier gate would have trusted as "up to date"
      Files.writeString(p.resolve("STAGED"), s"$sfDir:orders:123")
      var seen: Option[Boolean] = None
      Fixtures.once(spark, sfDir, "planted") { q =>
        seen = Some(Files.exists(Paths.get(q)))
      }
      assert(seen.contains(false), "the build saw what an earlier process left")
      assert(!Files.exists(p.resolve("junk.parquet")) && !Files.exists(p.resolve("STAGED")))

      Files.createDirectories(p)
      Files.writeString(p.resolve("junk.parquet"), "stale bytes")
      assert(!Files.exists(Paths.get(Fixtures.fresh(spark, sfDir, "planted"))),
        "fresh must wipe on every call")
    }
  }

  test("a build that throws is not remembered: the next call builds again") {
    spark
    withSfDir { sfDir =>
      val builds = new AtomicInteger()
      val e = intercept[IllegalStateException] {
        Fixtures.once(spark, sfDir, "flaky") { p =>
          builds.incrementAndGet()
          Files.createDirectories(Paths.get(p))
          Files.writeString(Paths.get(p, "half"), "written")
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage == "build failed")
      var sawHalf = true
      Fixtures.once(spark, sfDir, "flaky") { p =>
        builds.incrementAndGet()
        sawHalf = Files.exists(Paths.get(p, "half"))
      }
      assert(builds.get == 2 && !sawHalf,
        "the retry must rebuild from an empty path")
    }
  }

  test("a second JVM on the same sf dir fails fast, naming the holder's pid") {
    spark
    withSfDir { sfDir =>
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val child = new ProcessBuilder(javaBin, "-Xmx64m",
          "-cp", System.getProperty("java.class.path"),
          "graft.FixturesLockHolder", sfDir)
        .redirectError(ProcessBuilder.Redirect.INHERIT).start()
      try {
        val out = new java.io.BufferedReader(
          new java.io.InputStreamReader(child.getInputStream, "UTF-8"))
        assert(out.readLine() == "held", "the child JVM did not take the lock")
        val e = intercept[IllegalStateException] {
          Fixtures.once(spark, sfDir, "x")(_ => fail("built under another JVM's lock"))
        }
        assert(e.getMessage.contains(s"pid ${child.pid()}"), e.getMessage)
        intercept[IllegalStateException](Fixtures.fresh(spark, sfDir, "x"))
      } finally {
        child.destroy()
        child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      // the OS drops the lock with its holder: this JVM now stages
      var built = false
      Fixtures.once(spark, sfDir, "x")(_ => built = true)
      assert(built)
    }
  }

  test("source gate: gates stage only through Fixtures — no /tmp literal, no stage marker") {
    import scala.jdk.CollectionConverters._
    val st = Files.walk(Paths.get("src/main/scala"))
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                finally st.close()
    assert(files.exists(_.getFileName.toString == "Fixtures.scala"),
      "the gate found no Fixtures.scala")
    val markers = """\bSTAGED\b|SEED_STAGED|_stage_marker|\bNPLOTS\b""".r
    val bad = files.flatMap { f =>
      val exempt = f.getFileName.toString == "Fixtures.scala" ||
        f.toString.replace('\\', '/').contains("/graft/tools/")
      val lines = Files.readAllLines(f).asScala.zipWithIndex
      lines.collect {
        case (l, i) if !exempt && l.contains("\"/tmp") => s"$f:${i + 1}: /tmp literal"
        case (l, i) if markers.findFirstIn(l).isDefined => s"$f:${i + 1}: stage marker"
      }
    }
    assert(bad.isEmpty, s"staging outside graft.Fixtures:\n${bad.mkString("\n")}")
  }

  test("q_stats_prune's layout: two builds in one JVM, unrelated jobs between, write identical files") {
    import org.apache.spark.sql.functions._
    // orders-shaped: unique o_orderkey, o_custkey scattered over 1..1500
    val orders = spark.range(15000).select(col("id").as("o_orderkey"),
      (pmod(col("id") * 7919L, lit(1500L)) + 1L).as("o_custkey"),
      (col("id") % 3).cast("string").as("o_orderstatus"))
    val root = Files.createTempDirectory("statsprune_layout").toString
    /** Each data file's partition index and its rows, in file order. */
    def build(out: String): Seq[(String, Seq[org.apache.spark.sql.Row])] = {
      QueriesCorpus.statsPruneLayout(orders, out)
      graft.ops.Layout.listDataFiles(spark, out).map { f =>
        new org.apache.hadoop.fs.Path(f).getName.take(10) ->
          spark.read.parquet(f).collect().toSeq
      }
    }
    try {
      val first = build(s"$root/a")
      // unrelated jobs advance the RDD ids a range sampler seeds from
      for (n <- Seq(3, 7, 16))
        spark.range(5000).repartitionByRange(n, col("id") % 97).count()
      val second = build(s"$root/b")
      assert(first.size > 1 && first.map(_._2.size).sum == orders.count())
      assert(first == second, "the two builds wrote different files")
      // the gate's predicate prunes on this layout
      val pred = col("o_custkey").between(lit(100L), lit(400L))
      val (cands, total) = graft.ops.Upsert.statsPrunedFiles(spark, s"$root/a", pred)
      assert(cands.nonEmpty && cands.size < total, s"${cands.size}/$total")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }
}

/** Child JVM for FixturesSpec: takes sf dir `args(0)`'s fixture lock, says
  * "held", and keeps it until its stdin closes or it is killed. */
object FixturesLockHolder {
  def main(args: Array[String]): Unit = {
    Fixtures.claim(new java.io.File(Fixtures.path(args(0), "x")).getParent)
    println("held")
    System.out.flush()
    while (System.in.read() >= 0) ()
  }
}
