package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench stdout contract: the FINAL line must survive a 2000-char
  * stdout tail cut with sbt's epilogue printed after it. Rounds 4 and 5 both
  * shipped `parsed: null` driver artifacts because the full per-query times
  * line (~2.3-3.5 KB) exceeded that window — this spec makes the bound an
  * executable invariant against the REAL query-name set, not a fixture.
  */
class BenchLineSpec extends AnyFunSuite {

  private def realNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  test("compact line stays under budget for the real query set, worst case") {
    // Worst case: every query present, 7-digit millisecond times.
    val results = realNames.map(n => n -> Some(9999.999))
    val line = Bench.compactLine(results, totalSec = 9999999.999, nFail = 0,
      sfDir = "/root/testdata/sf0.1", file = "bench_full.json",
      plansFile = "bench_full.json.plans", cpus = 32)
    assert(line.length <= Bench.MaxLineChars,
      s"final bench line ${line.length} chars > ${Bench.MaxLineChars}")
    // the line + sbt's "[success] Total time ..." epilogue (<=85 chars +
    // 2 newlines) must survive the driver's 2000-char tail capture
    assert(line.length + 87 <= 2000)
    assert(!line.contains("\n"))
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    assert((parsed \\ "metric").values == "total")
    // the timing-regime marker: artifacts must be self-documenting about
    // WHAT was timed (hash-fold action), so cross-round diffs spanning a
    // regime change can't be misread as perf regressions
    assert((parsed \\ "action").values == "hash")
    // the plan-fingerprint pointer: driver artifacts must name the
    // plans sidecar so plan-vs-host adjudication works from them alone
    assert((parsed \\ "plans_file").values == "bench_full.json.plans")
    // resolved parallelism: the scaling probe reads cpus/master from the
    // line instead of inferring "env var ignored" from flat ratios
    assert((parsed \\ "cpus").values == 32L)
    assert((parsed \\ "master").values == "local[32]")
  }

  test("every driver-tracked query survives truncation, worst case") {
    // Round 15's PERF fabricated 5 "dropped_from_bench" entries because
    // slowest-first truncation pushed sub-1.1s TRACKED queries off the
    // cap. Pin the fix: all TrackedQueries present even at 7-digit ms.
    val results = realNames.map(n => n -> Some(9999.999))
    val line = Bench.compactLine(results, totalSec = 9999999.999, nFail = 0,
      sfDir = "/root/testdata/sf0.1", file = "bench_full.json",
      plansFile = "bench_full.json.plans", cpus = 32)
    val missingTracked = Bench.TrackedQueries
      .filter(realNames.contains(_))
      .filterNot(n => line.contains("\"" + n + "\":"))
    assert(missingTracked.isEmpty,
      s"tracked queries dropped from the line: ${missingTracked.mkString(", ")}")
    // every tracked name must be a real query (a rename/drop in the
    // query set would silently strand the priority list)
    val stale = Bench.TrackedQueries.filterNot(realNames.contains(_))
    assert(stale.isEmpty, s"TrackedQueries names unknown queries: $stale")
  }

  test("failed queries survive truncation; slowest timings kept first") {
    val results = Seq(
      "q_fast" -> Some(0.001),
      "q_slow" -> Some(42.5),
      "q_broken" -> None,
      "q_mid" -> Some(1.25))
    val line = Bench.compactLine(results, 43.751, nFail = 1, "sf", "f.json")
    assert(line.contains("\"q_broken\":\"error\""))
    assert(line.indexOf("\"q_slow\":42500") < line.indexOf("\"q_mid\":1250"))
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    assert((parsed \\ "failed").values == 1L)
  }

  test("layer profile records: split sums to the timed seconds; jobs, shuffle and FS ops attributed per pass") {
    val spark = GraftSession.local(2)
    val sc = spark.sparkContext
    val profile = LayerProfile.attach(sc)
    val dir = java.nio.file.Files.createTempDirectory("graft_layers").toFile
    try {
      def profiled(tag: String)(query: => org.apache.spark.sql.DataFrame) = {
        val ((stamps, forced), fsOps) = profile.pass(tag)(Bench.timedRun(query))
        val (ex, sc0) = LayerProfile.planCounts(forced.queryExecution.executedPlan)
        (stamps, fsOps, ex, sc0)
      }
      def parsed(tag: String, r: (LayerProfile.Stamps, Map[String, Long], Int, Int)) = {
        org.apache.spark.ListenerDrain(sc)
        org.json4s.jackson.JsonMethods.parse(LayerProfile.record(
          tag, 1, r._1, profile.counters(tag), r._2, r._3, r._4))
      }
      def long(j: org.json4s.JValue, f: String) = (j \ f).values.asInstanceOf[BigInt].toLong
      def dbl(j: org.json4s.JValue, f: String) = (j \ f).values.asInstanceOf[Double]

      val shuffle = parsed("q_shuffle#1", profiled("q_shuffle#1")(
        spark.range(2000).selectExpr("id % 7 as k").groupBy("k").count()))
      assert(math.abs(dbl(shuffle, "construct_s") + dbl(shuffle, "plan_s") +
        dbl(shuffle, "exec_s") - dbl(shuffle, "seconds")) < 1e-6)
      assert(long(shuffle, "jobs") >= 1 && long(shuffle, "stages") >= 2, shuffle)
      assert(long(shuffle, "shuffle_write_bytes") > 0, shuffle)
      assert(long(shuffle, "exchanges") >= 1, shuffle)
      // every job names the action's caller, also the ones adaptive
      // execution submits from its own threads
      val sites = (shuffle \ "job_sites").values.asInstanceOf[List[String]]
      assert(sites.size == long(shuffle, "jobs"))
      assert(sites.forall(_.contains("Bench.scala")), sites)

      // driver-only work: FS ops show, no Spark work is attributed
      val fsTag = "q_fs#1"
      val (_, fsOps) = profile.pass(fsTag)(graft.ops.Fs.writeTextAtomic(
        graft.ops.Fs.of(dir.toString, spark),
        new org.apache.hadoop.fs.Path(dir.toString, "CURRENT"), "v0"))
      val driverOnly = parsed(fsTag,
        (LayerProfile.Stamps(0, 0, 0, 0), fsOps, 0, 0))
      assert(long(driverOnly, "jobs") == 0 && long(driverOnly, "tasks") == 0, driverOnly)
      val ops = (driverOnly \ "fs_ops").values.asInstanceOf[Map[String, _]].keySet
      assert(ops.exists(_.startsWith("create:")) && ops.exists(_.startsWith("rename:")), ops)

      // the first pass's counters stay its own
      assert(long(parsed("q_shuffle#1", (LayerProfile.Stamps(0, 0, 0, 0), Map.empty, 0, 0)),
        "jobs") == long(shuffle, "jobs"))
      assert(profile.overheadS >= 0)
    } finally {
      sc.removeSparkListener(profile)
      graft.ops.Fs.Audit.disable()
      org.apache.hadoop.fs.FileUtil.fullyDelete(dir)
    }
  }

  test("truncation drops fastest queries and reports the omitted count") {
    // Force truncation with many long-named queries.
    val results = (1 to 500).map(i => f"q_synthetic_query_name_$i%03d" -> Some(i.toDouble))
    val line = Bench.compactLine(results, 125250.0, 0, "sf", "f.json")
    assert(line.length <= Bench.MaxLineChars)
    // Slowest (i=500) kept, fastest (i=1) dropped.
    assert(line.contains("\"q_synthetic_query_name_500\":500000"))
    assert(!line.contains("\"q_synthetic_query_name_001\""))
    assert(line.contains("\"omitted\":"))
  }
}
