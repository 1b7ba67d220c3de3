package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The co-located join story (SURVEY §1.4 / build prompt): persisting
  * both sides of a recurring join bucketed by the join key lets Spark
  * plan a SortMergeJoin with NO Exchange on either side — at 100 TB the
  * repeated shuffle of the fact table is the dominant cost this removes. */
class BucketingSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("bucketed tables join without a shuffle") {
    // warehouse dir is a static conf; tables land in ./spark-warehouse
    // (gitignored) under the default session. DROP TABLE doesn't know
    // about locations left by a previous JVM — remove them directly.
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    for (t <- Seq("li_b", "o_b")) {
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete())
        dir.delete()
      }
    }

    val dir = "/root/testdata/sf0.001"
    Tables.lineitem(spark, dir)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, dir)
      .withColumnRenamed("o_orderkey", "l_orderkey")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("o_b")

    val joined = spark.table("li_b").join(spark.table("o_b"), Seq("l_orderkey"))
      .groupBy("o_orderstatus").agg(sum("l_quantity").as("q"))
    val plan = joined.queryExecution.executedPlan.toString

    // the join itself must not shuffle either side: the only Exchange
    // allowed is the final single-column aggregation
    val joinSection = plan.split("SortMergeJoin|BroadcastHashJoin").last
    assert(joinSection.contains("Scan"), s"unexpected plan:\n$plan")
    assert(
      !joinSection.contains("Exchange hashpartitioning(l_orderkey"),
      s"join should read bucketed layout without shuffling:\n$plan")
    assert(joined.collect().nonEmpty)
  }

  test("Layout.writeBucketed: one file per bucket, Exchange-free join, exact values") {
    val dir = "/root/testdata/sf0.001"
    val base = "/tmp/graft_bktspec"
    graft.ops.Layout.writeBucketed(
      Tables.orders(spark, dir), "bspec_o", s"$base/o",
      "o_custkey", 8, Some("o_orderkey"))
    graft.ops.Layout.writeBucketed(
      Tables.customer(spark, dir), "bspec_c", s"$base/c",
      "c_custkey", 8)

    // exactly one data file per bucket — the pre-write repartition's job
    for (p <- Seq(s"$base/o", s"$base/c")) {
      val files = new java.io.File(p).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
      assert(files.length == 8, s"$p: expected 8 bucket files, got ${files.length}")
    }

    val o = spark.table("bspec_o"); val c = spark.table("bspec_c")
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
    // force the sort-merge path: at spec scale AQE would broadcast the
    // small side, which makes "no Exchange" true for the wrong reason —
    // the claim under test is that the BUCKET LAYOUT satisfies the
    // join's required distribution on BOTH sides
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val plan = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    assert(plan.contains("SortMergeJoin"),
      s"expected the sort-merge path with broadcast disabled:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle either side:\n$plan")

    // the layout is value-invisible: same join count as plain parquet
    val expect = Tables.orders(spark, dir).join(
      Tables.customer(spark, dir),
      col("o_custkey") === col("c_custkey")).count()
    assert(joined.count() == expect)
  }
}
