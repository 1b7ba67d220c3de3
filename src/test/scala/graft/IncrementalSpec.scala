package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental (CDC) pipeline maintenance equals the full recompute —
  * the plot-locality argument in [[graft.fia.Incremental]] made
  * empirical, plus non-vacuity proofs that the delivery split actually
  * exercises both eviction paths (brand-new plots AND stale rows of
  * plots whose delivery adds a survey).
  */
class IncrementalSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import graft.fia.{Incremental, SyntheticState}

  private lazy val full = SyntheticState.tables(spark, 400)
  private lazy val split = Incremental.splitDelivery(full)

  test("delivery split is a row partition and non-vacuous on every table") {
    val (old, batch) = split
    for (t <- Seq("PLOT", "COND", "TREE", "PLOTGEOM")) {
      val (o, b, f) = (old(t).count(), batch(t).count(), full(t).count())
      assert(o + b == f, s"$t rows must partition exactly: $o + $b != $f")
      assert(o > 0 && b > 0, s"$t split is vacuous: old=$o batch=$b")
    }
  }

  test("delivery contains plots with history in the old snapshot (stale-row path)") {
    val (old, batch) = split
    val key = Seq("STATECD", "UNITCD", "COUNTYCD", "PLOT")
    val updPlots = batch("PLOT").select(key.map(col): _*).distinct()
      .join(old("PLOT").select(key.map(col): _*).distinct(), key, "left_semi")
    // these plots have OLD OUTPUT rows computed from partial history —
    // the anti-join must evict them or the merge would keep stale data
    assert(updPlots.count() > 0, "no plot has both old history and new rows")
  }

  test("incremental merge equals the full recompute bit-for-bit") {
    val (old, batch) = split
    val oldOut = Incremental.bothVariants(spark, old)
    val dirty = Incremental.dirtyPlotIds(batch)
    val merged = Incremental.merge(spark, oldOut, full, dirty).cache()
    val fullOut = Incremental.bothVariants(spark, full).cache()
    try {
      assert(merged.count() == fullOut.count())
      assert(merged.exceptAll(fullOut).isEmpty, "merged has rows full lacks")
      assert(fullOut.exceptAll(merged).isEmpty, "full has rows merged lacks")
    } finally { merged.unpersist(); fullOut.unpersist() }
  }

  test("stale rows of updated plots are genuinely different before eviction") {
    val (old, batch) = split
    val oldOut = Incremental.bothVariants(spark, old)
    val dirty = Incremental.dirtyPlotIds(batch)
    val stale = oldOut.join(broadcast(dirty), Seq("plot_ID"), "left_semi")
    // at least one dirty plot had output under the old snapshot — the
    // merge's anti-join is doing real eviction, not dropping nothing
    assert(stale.count() > 0, "anti-join evicts nothing; split too weak")
  }

  test("a delivery without MORTYR keeps the state's mortyr flag") {
    // the state records MORTYR, the delivered plots none; a delivered
    // dead tree has STANDING_DEAD_CD NA at its first dead survey and 1
    // at a later one, which only the full run's DECAYCD /
    // STANDING_DEAD_CD fill-up (use_mortyr over the WHOLE input) repairs
    val base = SyntheticState.tables(spark, 400)
    val delivered = pmod(col("PLOT"), lit(10)) === 0
    val firstDeadSurvey = pmod(col("PLT_CN"), lit(10L)) === 1 // PLT_CN = plot*10 + survey
    val tree = base("TREE")
      .withColumn("MORTYR", when(delivered, lit(null)).otherwise(col("MORTYR")))
      .withColumn("STANDING_DEAD_CD",
        when(delivered && col("STATUSCD") === 2 && col("STANDING_DEAD_CD") === 1 &&
          firstDeadSurvey, lit(null)).otherwise(col("STANDING_DEAD_CD")))
    val full = base + ("TREE" -> tree)
    def side(inBatch: Boolean): Map[String, DataFrame] = {
      val plot = full("PLOT").filter(if (inBatch) delivered else !delivered)
      Map("PLOT" -> plot,
        "COND" -> full("COND").filter(if (inBatch) delivered else !delivered),
        "TREE" -> tree.filter(if (inBatch) delivered else !delivered),
        "PLOTGEOM" -> full("PLOTGEOM").join(plot.select(col("CN")), Seq("CN"), "left_semi"))
    }
    val (old, batch) = (side(inBatch = false), side(inBatch = true))
    val dirty = Incremental.dirtyPlotIds(batch)
    // non-vacuous: the case exists, and only the state has MORTYR
    assert(tree.filter(delivered && col("STATUSCD") === 2 &&
      col("STANDING_DEAD_CD").isNull).count() > 0, "no NA-then-1 dead tree delivered")
    assert(old("TREE").filter(col("MORTYR").isNotNull).count() > 0)
    assert(batch("TREE").filter(col("MORTYR").isNotNull).count() == 0)

    val oldOut = Incremental.bothVariants(spark, old)
    val merged = Incremental.merge(spark, oldOut, full, dirty).cache()
    val fullOut = Incremental.bothVariants(spark, full).cache()
    try {
      assert(merged.count() == fullOut.count())
      assert(merged.exceptAll(fullOut).isEmpty, "merged has rows full lacks")
      assert(fullOut.exceptAll(merged).isEmpty, "full has rows merged lacks")
    } finally { merged.unpersist(); fullOut.unpersist() }
  }

  test("(coalesce(tree_ID, plot_ID), YEAR, variant) is a key of the output") {
    val out = Incremental.bothVariants(spark, SyntheticState.tables(spark, 6000))
    val key = Seq(coalesce(col("tree_ID"), col("plot_ID")), col("YEAR"), col("variant"))
    assert(out.filter(col("tree_ID").isNull).count() > 0, "no treeless rows")
    assert(out.groupBy(key: _*).count().filter(col("count") > 1).isEmpty,
      "maintenance key repeats")
  }
}
