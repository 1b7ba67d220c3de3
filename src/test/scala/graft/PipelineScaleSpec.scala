package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Composed-pipeline gate at bench scale: the XX fixture (EntrySpec)
  * proves the pipeline's semantics on 66 rows; this pins the SAME
  * composition (tidy → annualize → NSVB, both mortality variants) over
  * the ~87k-TREE-row synthetic state that `q_fia_pipeline_oracle` times
  * in Bench — row counts, CARBON_AG null split, and an order-independent
  * checksum per variant, so a regression anywhere in the composed path
  * cannot slip through as "still returns rows" at scale. Deliberate
  * semantics changes: re-run `graft.tools.EntryPin`, update the pins.
  */
class PipelineScaleSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("bench-tier synthetic state is ~100k TREE rows, fully deterministic") {
    val tabs = graft.fia.SyntheticState.tables(spark, 6000)
    assert(tabs("TREE").count() == 87364)
    assert(tabs("PLOT").count() == 12082)
    // regenerating under a different partitioning yields identical rows
    val again = graft.fia.SyntheticState.tables(spark, 6000)("TREE").repartition(7)
    assert(again.exceptAll(tabs("TREE")).isEmpty &&
      tabs("TREE").exceptAll(again).isEmpty)
  }

  test("composed pipeline output is pinned per variant: counts, null split, checksum") {
    val results = graft.fia.Pipeline.run(spark,
      graft.fia.SyntheticState.tables(spark, 6000))
    val pins = Map( // from graft.tools.EntryPin
      "midpt" -> (261619L, 52670L, -8551959680462182238L),
      "mortyr" -> (261619L, 52670L, -2999349178173450929L))
    for ((variant, (rows, nullCarbon, checksum)) <- pins) {
      val vdf = results(variant).cache()
      try {
        assert(vdf.count() == rows, s"$variant rows")
        assert(vdf.filter(col("CARBON_AG").isNull).count() == nullCarbon,
          s"$variant null split")
        val got = vdf.select(xxhash64(
            col("tree_ID"), col("YEAR"), round(col("CARBON_AG"), 6)).as("h"))
          .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
        assert(got == checksum, s"$variant checksum drifted: $got")
      } finally vdf.unpersist()
    }
    // the two variants genuinely differ (mortyr nudges death timing)
    assert(pins("midpt")._3 != pins("mortyr")._3)
  }

  test("bucketed-stage path (runBucketed) is value-identical to the in-memory path") {
    // same pins as the in-memory test above (graft.tools.EntryPin): the
    // layout must be value-invisible — only the PLAN changes
    val results = graft.fia.Pipeline.runBucketed(spark,
      graft.fia.SyntheticState.tables(spark, 6000),
      "/tmp/graft_pipeline_stage_spec", buckets = 8)
    val pins = Map(
      "midpt" -> (261619L, 52670L, -8551959680462182238L),
      "mortyr" -> (261619L, 52670L, -2999349178173450929L))
    for ((variant, (rows, nullCarbon, checksum)) <- pins) {
      val vdf = results(variant).cache()
      try {
        assert(vdf.count() == rows, s"$variant rows (bucketed)")
        assert(vdf.filter(col("CARBON_AG").isNull).count() == nullCarbon,
          s"$variant null split (bucketed)")
        val got = vdf.select(xxhash64(
            col("tree_ID"), col("YEAR"), round(col("CARBON_AG"), 6)).as("h"))
          .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
        assert(got == checksum, s"$variant bucketed checksum drifted: $got")
      } finally vdf.unpersist()
    }
  }

  test("annualize kernel adds exactly ONE shuffle over tidy (PLANS.md claim)") {
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange (hash|range)partitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    val tabs = graft.fia.SyntheticState.tables(spark, 6000)
    val tidy = graft.fia.Tidy.fiaTidy(tabs)
    val kernel = graft.fia.FiaAnnualize.expandInterpolate(spark, tidy)
    val (t, k) = (shuffles(tidy), shuffles(kernel))
    // expand + interpolate + step/fill for all 14 columns ride ONE
    // Exchange on (plot_ID, tree_ID); the TPA range join and the
    // species-threshold join stay broadcast (no extra shuffle)
    assert(k == t + 1, s"kernel shuffles $k vs tidy $t — expected exactly one more")
  }
}
