package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fia.{EstimateCarbon, FiaAnnualize, NsvbKernel, SyntheticState, Tidy}

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

  test("both variants plan one hash Exchange past tidy's and no Window above it") {
    // the main plan only: Spark's `collect` does not descend into the
    // mortyr flag's scalar subquery
    def main(df: org.apache.spark.sql.DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    def hashExchanges(df: org.apache.spark.sql.DataFrame): Int = main(df).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }.size
    def windows(df: org.apache.spark.sql.DataFrame): Int =
      main(df).collect { case w: WindowExec => w }.size
    val tabs = graft.fia.SyntheticState.tables(spark, 6000)
    val tidy = graft.fia.Tidy.fiaTidy(tabs)
    val both = graft.fia.Incremental.bothVariants(spark, tabs)
    // the per-tree group pass is the one shuffle; TPA, masking, NSVB and
    // the id split stay row-local or broadcast
    assert(hashExchanges(both) == hashExchanges(tidy) + 1,
      s"both ${hashExchanges(both)} vs tidy ${hashExchanges(tidy)} — expected exactly one more")
    assert(windows(both) == windows(tidy),
      s"a Window above tidy: both ${windows(both)} vs tidy ${windows(tidy)}")
  }

  test("building the pipeline frames runs no Spark job") {
    val tabs = graft.fia.SyntheticState.tables(spark, 6000)
    val phase = "graft.spec.phase"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty(phase))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(phase, "construct")
      graft.fia.Pipeline.run(spark, tabs)
      graft.fia.Incremental.bothVariants(spark, tabs)
      sc.setLocalProperty(phase, "marker")
      spark.range(1).count()
      // the listener bus delivers in order: every construction job
      // arrives before the marker job
      val before = Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(p => p != null && p != "marker").toList
      assert(before.count(_ == "construct") == 0,
        s"construction ran ${before.count(_ == "construct")} jobs")
    } finally {
      sc.setLocalProperty(phase, null)
      sc.removeSparkListener(l)
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

  test("the FIA plans hold no Join above tidy's") {
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    val tabs = SyntheticState.tables(spark, 6000)
    val tidy = Tidy.fiaTidy(tabs)
    for (df <- Seq(graft.fia.Incremental.bothVariants(spark, tabs),
        FiaAnnualize.annualize(spark, tidy)))
      assert(joins(df) == joins(tidy), s"${joins(df)} joins vs tidy's ${joins(tidy)}")
  }

  test("the estimate is one kernel call and its field extraction; prep and estimate keep their schemas") {
    val tabs = SyntheticState.tables(spark, 6000)
    val prepped = EstimateCarbon.prepCarbon(spark,
      FiaAnnualize.bothVariants(spark, Tidy.fiaTidy(tabs)))
    // the schemas the reference's joins gave (key columns first)
    def render(df: org.apache.spark.sql.DataFrame): String = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.typeName}${if (f.nullable) "" else "!"}").mkString(", ")
    val prepSchema = "DECAYCD:integer, SFTWD_HRDWD:string, SPCD:integer, plot_ID:string, " +
      "tree_ID:string, YEAR:integer, PLT_CN:string, DESIGNCD:integer, INTENSITY:integer, " +
      "CONDID:integer, MORTYR:integer, STATUSCD:integer, RECONCILECD:integer, " +
      "STANDING_DEAD_CD:integer, DIA:double, CR:double, HT:double, ACTUALHT:double, " +
      "CULL:double, ECOSUBCD:string, CONDPROP_UNADJ:double, PROP_BASIS:string, " +
      "COND_STATUS_CD:integer, STDORGCD:integer, interpolated:boolean!, variant:string!, " +
      "TPA_UNADJ:double, JENKINS_SPGRPCD:integer, CARBON_RATIO_LIVE:double, WDSG:double, " +
      "CULL_DECAY_RATIO:double, DENSITY_PROP:double, BARK_LOSS_PROP:double, " +
      "BRANCH_LOSS_PROP:double, CARBON_RATIO:double, DECAY_WD:double, DIVISION:string, " +
      "PROVINCE:string, DECAY_BK:double, C_FRAC:double, DECAY_BR:double"
    assert(render(prepped) == prepSchema)
    // over an opaque leaf, so only the estimate's own operators remain
    val leaf = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], prepped.schema)
    val est = EstimateCarbon.estimateCarbon(spark, leaf)
    assert(render(est) == prepSchema + ", DRYBIO_AG:double, CARBON_AG:double")
    val plan: LogicalPlan = est.queryExecution.optimizedPlan
    assert(plan.collect { case p => p.nodeName } == Seq("Project", "Project", "LogicalRDD"),
      plan.treeString)
    val kernels = plan.collect { case p => p.expressions.flatMap(_.collect { case k: NsvbKernel => k }) }
    assert(kernels.map(_.size) == Seq(0, 1, 0), plan.treeString)
  }
}
