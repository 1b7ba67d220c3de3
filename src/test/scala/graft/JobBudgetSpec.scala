package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, Fs, Similarity, Upsert}

/** Spark-job budgets of the index maintenance path and of the
  * population-scaling read. At a small delta the path is bound by
  * per-job fixed cost, so the job count is the figure to hold: a budget
  * here fails the change that adds a job.
  * Before engine-written parquet resolved its schema without a job and
  * a one-commit feed was read back from `_cdf`, the same fixture ran
  * 4 jobs to load the index, 2 to build the feed and 29 in applyCdf. */
class JobBudgetSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  /** `f`'s result and the Spark jobs it ran: a listener keyed on a
    * local property of this thread (propagated to the threads Spark
    * starts for it), and a marker job that drains the listener bus. */
  private def jobs[T](f: => T): (T, Int) = {
    val phase = "graft.spec.jobBudget"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty(phase))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(phase, "measured")
      val out = f
      sc.setLocalProperty(phase, "marker")
      spark.range(1).count()
      val before = Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(p => p != null && p != "marker").toList
      (out, before.count(_ == "measured"))
    } finally {
      sc.setLocalProperty(phase, null)
      sc.removeSparkListener(l)
    }
  }

  private def vectors(ids: DataFrame, salt: Long): DataFrame =
    ids.select(col("id"), array((0 until 16).map(i =>
      ((pmod(xxhash64(col("id"), lit(i), lit(salt)), lit(2001L)) - 1000) / 1000.0)
        .cast("float")): _*).as("embedding"))

  test("maintenance budget: build <= 7, load 1 job, one-commit feed 0, applyCdf <= 14") {
    val base = java.nio.file.Files.createTempDirectory("job_budget").toString
    val tbl = s"$base/table"; val idx = s"$base/index"
    vectors(spark.range(3000).toDF("id"), 1L)
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.parquet(s"$tbl/v0")
    Fs.writeTextAtomic(Fs.of(tbl, spark), new org.apache.hadoop.fs.Path(tbl, "CURRENT"), "v0")
    Upsert.materializeCdf(spark, tbl, 0L)
    val corpus = Upsert.readWithDeletes(spark, s"$tbl/v0")
    val cents = corpus.filter(col("id") < 8).select(col("id").as("cid"), col("embedding"))
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 4, codes = 8)
    val (_, build) = jobs(AnnIndex.write(corpus, cents, cb, idx,
      numRangePartitions = 8, source = Some((tbl, "id"))))
    // one SQL MERGE: 20 updated ids and 20 new ones
    vectors(spark.range(20).select((col("id") * 150 + 7).as("id"))
        .union(spark.range(3000, 3020).toDF("id")), 2L)
      .createOrReplaceTempView("job_budget_merge")
    spark.sql(s"MERGE INTO '$tbl' USING (SELECT * FROM job_budget_merge) ON id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
    Upsert.materializeCdf(spark, tbl, 1L)

    val (_, read) = jobs(AnnIndex.read(spark, idx))
    val (_, feed) = jobs(Upsert.changeDataFeed(spark, tbl, 0L, 1L))
    val ((dropped, appended), apply) = jobs(AnnIndex.applyCdf(spark, idx))
    info(s"jobs: AnnIndex.write $build, AnnIndex.read $read, " +
      s"changeDataFeed(0, 1) $feed, applyCdf $apply")
    assert(read == 1, s"AnnIndex.read ran $read jobs (the codebook collect is the one)")
    assert(feed == 0, s"constructing the one-commit feed ran $feed jobs")
    assert(dropped == 20 && appended == 40)
    assert(build <= 7, s"AnnIndex.write ran $build jobs")
    assert(apply <= 14, s"AnnIndex.applyCdf ran $apply jobs")
  }

  test("population scaling budget: carbonPerAcre collect <= 2 jobs") {
    // the fixture pipeline output, read back from parquet as the table
    // reads give it; the three-leg plan this replaced ran 9 jobs here
    val dir = java.nio.file.Files.createTempDirectory("job_budget_pop").toString + "/est"
    val tidy = graft.fia.Tidy.fiaTidy(
      graft.fia.Ingest.load(spark, "src/test/resources/fixture", Seq("XX")))
    graft.fia.EstimateCarbon.fiaEstimate(spark,
      graft.fia.FiaAnnualize.annualize(spark, tidy, useMortyr = false)).write.parquet(dir)
    val pop = graft.fia.PopScale.carbonPerAcre(spark.read.parquet(dir), stateArea = 1000.0)
    val (rows, n) = jobs(pop.collect())
    info(s"jobs: PopScale.carbonPerAcre collect $n")
    assert(rows.length == 11)
    assert(n <= 2, s"PopScale.carbonPerAcre collect ran $n jobs")
  }
}
