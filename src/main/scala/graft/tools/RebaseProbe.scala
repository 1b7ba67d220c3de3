package graft
package tools

import org.apache.spark.sql.functions._

/** Dev probe: commit throughput under sustained multi-writer
  * contention, with and without conflict-aware rebase (round-13
  * verdict #3). N uncoordinated writers each publish M MERGE commits
  * against their OWN partition of one versioned table — every publish
  * races every other writer, so (N-1)/N of them lose the CAS and
  * either REBASE (relink, no job re-run; `spark.graft.occ.rebase` on)
  * or ABORT + rebuild from fresh CURRENT (off). Reports commits/sec,
  * rebases/aborts, and the winners-chain walk lengths
  * (LakehouseSql.RebaseStats) — the evidence PLANS.md cites for the
  * walk cap (`spark.graft.occ.maxRebaseWalk`).
  *
  * Run: sbt "runMain graft.tools.RebaseProbe [writers] [commitsEach]" */
object RebaseProbe {
  def main(args: Array[String]): Unit = {
    val writers = args.headOption.map(_.toInt).getOrElse(8)
    val each = args.lift(1).map(_.toInt).getOrElse(6)
    val spark = GraftSession.local(16)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.plans.LakehouseSql

    def run(rebase: Boolean): Unit = {
      val base = s"/tmp/graft_devrebase_${System.nanoTime()}"
      val tbl = s"$base/tbl"
      spark.range(writers.toLong * 1000)
        .select(($"id" % writers).as("dt"), $"id".as("k"), lit(0L).as("v"))
        .repartition(1)
        .write.partitionBy("dt").parquet(s"$tbl/v0")
      graft.ops.Fs.writeTextAtomic(graft.ops.Fs.of(tbl, spark),
        new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
      spark.conf.set(LakehouseSql.RebaseConf, rebase.toString)
      LakehouseSql.RebaseStats.reset()
      val done = new java.util.concurrent.atomic.AtomicLong
      val retries = new java.util.concurrent.atomic.AtomicLong
      val t0 = System.nanoTime()
      val threads = (0 until writers).map { w =>
        new Thread(() => {
          for (i <- 0 until each) {
            var committed = false
            while (!committed) {
              val baseCur = graft.streaming.Streams.currentSnapshot(tbl).get
                .split('/').last
              val next = LakehouseSql.claimNextVersion(tbl)
              val up = spark.range(16)
                .select(lit(w.toLong).as("dt"),
                  ($"id" * each + i).as("k"), lit(-(i + 1).toLong).as("v"))
              graft.ops.Upsert.upsertByKeys(
                spark, s"$tbl/$baseCur", s"$tbl/v$next", up, Seq("dt", "k"))
              try {
                LakehouseSql.publishOrAbort(tbl, baseCur, next, "MERGE")
                committed = true; done.incrementAndGet()
              } catch {
                case e: IllegalStateException
                    if e.getMessage.contains("concurrent commit") =>
                  retries.incrementAndGet()
              }
            }
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      val s = LakehouseSql.RebaseStats
      val total = writers.toLong * each
      println(f"== rebase=$rebase%-5s writers=$writers each=$each: " +
        f"$total commits in $sec%.1f s = ${total / sec}%.2f commits/s; " +
        f"retries=${retries.get}, rebases=${s.rebases.get}, " +
        f"aborts=${s.aborts.get}; walk mean=" +
        f"${if (s.walks.get == 0) 0.0 else s.walked.get.toDouble / s.walks.get}%.1f " +
        f"max=${s.maxWalk.get}")
      spark.conf.unset(LakehouseSql.RebaseConf)
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
    }

    run(rebase = true)
    run(rebase = false)
    spark.stop()
  }
}
