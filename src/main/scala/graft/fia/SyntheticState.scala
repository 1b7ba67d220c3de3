package graft.fia

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic synthetic FIA state at parameterizable scale, for
  * gating the COMPOSED pipeline (tidy → annualize → NSVB) beyond the
  * 66-row XX fixture: the fixture proves semantics, this proves the
  * composition's plan and throughput at ~100k TREE rows (the
  * `scripts/state-parquet.R:10-49` workload shape).
  *
  * Everything is a pure column expression over `spark.range` — no
  * driver-side loops, no RNG: every attribute derives from
  * `xxhash64(ids, salt)`, so the same `nPlots` yields bit-identical
  * tables on any partitioning (the pinned pipeline checksum in
  * PipelineScaleSpec depends on this). Output schemas match
  * [[Ingest]]'s exactly, so `Pipeline.run` consumes the result as if
  * it were a loaded state.
  *
  * The population exercises every pipeline branch the fixture does,
  * at scale: multi/single-survey plots, empty plots, live growth,
  * standing-dead with and without recorded MORTYR, fallen dead with
  * null measurements, late recruits (absent from the first survey),
  * saplings (DIA < 5 ⇒ CULL null, sapling TPA tier), broken tops
  * (ACTUALHT < HT), planted stands, and a non-sampled condition.
  */
object SyntheticState {

  /** pmod(xxhash64(...)) in [0, mod) — the deterministic "random". */
  private def h(mod: Int, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(mod.toLong)).cast(IntegerType)

  private val ecoCodes = Seq("232Hd", "M242Bf", "221Aa", "331Fb", "M261Eg")
  // all present in the bundled REF_SPECIES/NSVB coefficient tables
  private val spcds = Seq(131, 316, 475, 202, 802, 833, 110, 122)

  /** The four raw tables for `nPlots` plots (≈ 16 TREE rows per plot:
    * ~2 surveys × ~8 trees). `nPlots = 6000` ⇒ ~96k TREE rows.
    *
    * @param gapYears per-plot re-measurement interval, hash-picked from
    *   this list (repeat a value to weight it). The default `Seq(5)`
    *   reproduces the fixed 5-year panel bit-for-bit (every pinned
    *   checksum predates the parameter); an ORGANIC tier passes e.g.
    *   `Seq(3, 5, 5, 7, 9)` — FIA's eastern 5/7-yr and western 10-yr
    *   cycles mixed — so the annualizer sees a realistic survey-gap
    *   distribution (variable densification fan-out per plot), not one
    *   tiled interval. */
  def tables(spark: SparkSession, nPlots: Int,
      gapYears: Seq[Int] = Seq(5)): Map[String, DataFrame] = {
    val gapArr = array(gapYears.map(lit): _*)
    val p = spark.range(nPlots).toDF("p")
      .withColumn("nsurv", lit(1) + h(3, col("p"), lit("nsurv")))
      .withColumn("base", lit(2004) + h(4, col("p"), lit("base")))
      .withColumn("gap", element_at(gapArr, h(gapYears.size, col("p"), lit("gap")) + 1))
      .withColumn("STATECD", (lit(40) + pmod(col("p"), lit(3))).cast(IntegerType))
      .withColumn("UNITCD", lit(1))
      .withColumn("COUNTYCD", lit(1) + h(40, col("p"), lit("cty")))
      .withColumn("PLOT", col("p").cast(IntegerType))
      .withColumn("empty_plot", h(23, col("p"), lit("empty")) === 0)
      .withColumn("two_cond", h(7, col("p"), lit("2c")) === 0)
      .withColumn("planted", h(10, col("p"), lit("org")) === 0)

    // one row per (plot, survey occasion)
    val ps = p
      .withColumn("k", explode(sequence(lit(0), col("nsurv") - 1)))
      .withColumn("INVYR", (col("base") + col("k") * col("gap")).cast(IntegerType))
      .withColumn("PLT_CN", col("p") * 10 + col("k"))

    val plot = ps.select(
      col("PLT_CN").as("CN"), col("INVYR"), col("STATECD"), col("UNITCD"),
      col("COUNTYCD"), col("PLOT"),
      lit(1).as("DESIGNCD"), lit(1).as("INTENSITY"))

    val ecoArr = array(ecoCodes.map(lit): _*)
    val plotgeom = ps.select(
      col("PLT_CN").as("CN"), col("INVYR"),
      element_at(ecoArr, h(ecoCodes.size, col("p"), lit("eco")) + 1).as("ECOSUBCD"))

    def condRow(condid: Int, prop: Column, status: Column): DataFrame = ps.select(
      (col("PLT_CN") * 100 + condid).as("CN"), col("PLT_CN"), col("INVYR"),
      col("STATECD"), col("UNITCD"), col("COUNTYCD"), col("PLOT"),
      lit(condid).as("CONDID"), prop.cast(DoubleType).as("CONDPROP_UNADJ"),
      lit("SUBP").as("PROP_BASIS"), status.as("COND_STATUS_CD"),
      when(col("planted"), 1).otherwise(0).as("STDORGCD"))
    val cond = condRow(1, when(col("two_cond"), 0.6).otherwise(1.0), lit(1))
      .unionByName(condRow(2, lit(0.4), lit(2)).where(col("two_cond")))

    // trees: identity is (plot, t); one row per survey the tree appears in
    val t0 = ps.filter(!col("empty_plot"))
      .withColumn("nt", lit(6) + h(5, col("p"), lit("nt")))
      .withColumn("t", explode(sequence(lit(0), col("nt") - 1)))
    // fate 0: standing dead from survey 1 on; 1: fallen dead; 2: broken
    // top; 3: late recruit (absent from survey 0); else: plain live
    val t1 = t0
      .withColumn("fate", h(10, col("p"), col("t"), lit("fate")))
      .withColumn("dia0",
        (lit(20) + h(160, col("p"), col("t"), lit("dia"))).cast(DoubleType) / 10.0)
      .withColumn("grow",
        (lit(5) + h(15, col("p"), col("t"), lit("gr"))).cast(DoubleType) / 10.0)
      .filter(!(col("fate") === 3 && col("k") === 0))
    val dead = col("fate") === 0 && col("k") >= 1
    val fallen = col("fate") === 1 && col("k") >= 1
    val gone = dead || fallen // no live measurements from death onward
    val dia = col("dia0") + col("k") * col("grow")
    val ht = round(dia * lit(6.0) + lit(10.0), 1)
    val tree = t1.select(
      ((col("p") * 100 + col("t")) * 10 + col("k")).as("CN"),
      col("PLT_CN"), col("INVYR"), col("STATECD"), col("UNITCD"),
      col("COUNTYCD"), col("PLOT"),
      (lit(1) + pmod(col("t"), lit(4))).cast(IntegerType).as("SUBP"),
      (col("t") + 1).cast(IntegerType).as("TREE"),
      when(col("two_cond") && col("t") === 0, 2).otherwise(1).as("CONDID"),
      when(dead && h(2, col("p"), col("t"), lit("my")) === 0,
        col("base") + 1 + h(4, col("p"), col("t"), lit("myy")))
        .otherwise(lit(null)).cast(IntegerType).as("MORTYR"),
      when(gone, 2).otherwise(1).as("STATUSCD"),
      lit(null).cast(IntegerType).as("RECONCILECD"),
      when(dead, lit(1) + h(3, col("p"), col("t"), lit("dk")))
        .otherwise(lit(null)).cast(IntegerType).as("DECAYCD"),
      when(dead, 1).when(fallen, 0)
        .otherwise(lit(null)).cast(IntegerType).as("STANDING_DEAD_CD"),
      when(fallen, lit(null)).otherwise(dia).cast(DoubleType).as("DIA"),
      when(gone, lit(null))
        .otherwise((lit(20) + h(60, col("p"), col("t"), lit("cr"))).cast(DoubleType))
        .cast(DoubleType).as("CR"),
      when(fallen, lit(null)).otherwise(ht).cast(DoubleType).as("HT"),
      when(col("fate") === 2, ht - lit(5.0))
        .otherwise(lit(null)).cast(DoubleType).as("ACTUALHT"),
      when(fallen || dia < 5, lit(null))
        .otherwise(h(5, col("p"), col("t"), lit("cl")).cast(DoubleType))
        .cast(DoubleType).as("CULL"),
      element_at(array(spcds.map(lit): _*),
        h(spcds.size, col("p"), col("t"), lit("sp")) + 1).as("SPCD"),
      lit(null).cast(DoubleType).as("TPA_UNADJ"),
      lit(null).cast(DoubleType).as("CARBON_AG"),
      lit(null).cast(DoubleType).as("DRYBIO_AG"))

    Map("PLOT" -> plot, "PLOTGEOM" -> plotgeom, "COND" -> cond, "TREE" -> tree)
  }

  /** Scale tier for a testdata dir: the pipeline gate rides the same
    * `sfDir` contract as every other query, but its input is generated,
    * not read — only the tier is taken from the path. */
  def nPlotsFor(sfDir: String): Int =
    if (sfDir.endsWith("sf0.1")) 6000
    else if (sfDir.endsWith("sf0.01")) 2000
    else 600
}
