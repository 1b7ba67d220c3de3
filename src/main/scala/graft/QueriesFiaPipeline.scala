package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.fia.{Incremental, Pipeline, RefData, SyntheticState}

/** `q_fia_pipeline_oracle` — the COMPOSED reference workload
  * (tidy → expand → interpolate → adjust-mortality ×2 variants → NSVB
  * estimate → id split) gated against an INDEPENDENT DuckDB
  * re-implementation of every stage, chained into one SQL pipeline over
  * the SAME parquet input ([[materialize]] writes the raw tables; both
  * engines read those files).
  *
  * This is the independent check a self-pinned gate cannot provide
  * (round-5 verdict item #2): rows + schema + value hash over all 49
  * output columns. Since round 8 it is the SINGLE registry entry for
  * the composed pipeline (the un-oracled twin was folded in, round-7
  * verdict #1); the in-memory-input variant stays value-pinned by
  * PipelineScaleSpec's order-independent checksum.
  *
  * Exactness: every interpolation/mask/join stage reproduces the Spark
  * arithmetic in the same IEEE op order and matches bit-for-bit
  * (validated stage-by-stage in dev/fia_oracle_dev.py). The one
  * divergence class left is last-ulp `pow()` differences between the
  * JVM and libm inside the NSVB closed forms (measured max rel diff
  * 8e-16), so the two carbon outputs are quantized to milli-units on
  * both sides: at that quantum the expected boundary-collision count
  * over ~350k values is ~0.002. The composed output's carbon columns
  * (DRYBIO_AG / CARBON_AG = BIOMASS / CARBON) depend only on
  * closed-form targets — the Brent `findHT` targets feed merch/saw
  * columns that `estimate_carbon` drops at the re-attach — so the
  * oracle needs no root-finding.
  */
object QueriesFiaPipeline {

  private val ref = "/root/repo/src/main/resources/graft/refdata"
  // a def, not a val: the oracle SQL reads the input the gates staged
  // for the sf dir they ran on (Verify dumps the SQL after its gates ran)
  private def in = Fixtures.staged("fia_input")

  // ---- fixtures --------------------------------------------------------

  private val rawNames = Seq("PLOT", "PLOTGEOM", "COND", "TREE")

  /** The raw synthetic tables for `sfDir`'s tier
    * ([[SyntheticState.nPlotsFor]]), staged once per JVM. The DuckDB
    * oracle reads the same files, so both engines consume identical
    * bytes. Returns the directory. */
  def materialize(spark: SparkSession, sfDir: String): String =
    Fixtures.once(spark, sfDir, "fia_input") { p =>
      SyntheticState.tables(spark, SyntheticState.nPlotsFor(sfDir))
        .foreach { case (t, df) => df.write.parquet(s"$p/$t") }
    }

  /** The [[materialize]]d raw tables, read back. */
  def stagedRaw(spark: SparkSession, sfDir: String): Map[String, DataFrame] = {
    val base = materialize(spark, sfDir)
    // footer schemas: no inference job per table on every call
    rawNames.map(t => t -> graft.ops.Layout.readParquet(spark, Seq(s"$base/$t"))).toMap
  }

  /** The OLD OUTPUT for `sfDir`'s tier — `bothVariants` over the old
    * side of [[Incremental.splitDelivery]], the state a real deployment
    * already has on disk before a delivery arrives — staged once per
    * JVM. Returns the directory. */
  def materializeOldOutput(spark: SparkSession, sfDir: String): String =
    Fixtures.once(spark, sfDir, "fia_old_output") { p =>
      val (old, _) = Incremental.splitDelivery(stagedRaw(spark, sfDir))
      Incremental.bothVariants(spark, old).write.parquet(p)
    }

  // ---- Spark side ------------------------------------------------------

  private def milli(c: org.apache.spark.sql.Column) =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity,
      lit(null)).otherwise(floor(c * 1000.0)).cast(LongType)

  /** Both mortality variants of the composed pipeline over the staged
    * input: the one lazy frame that PipelineScaleSpec pins per variant. */
  def fiaPipelineOracle(s: SparkSession, dir: String): DataFrame =
    Incremental.bothVariants(s, stagedRaw(s, dir))
      .withColumn("drybio_milli", milli(col("DRYBIO_AG")))
      .withColumn("carbon_milli", milli(col("CARBON_AG")))
      .drop("DRYBIO_AG", "CARBON_AG")

  /** `q_fia_incremental` — CDC maintenance of the composed output
    * ([[graft.fia.Incremental]]): a deterministic "delivery" (~4% new
    * plots + ~5% plots gaining a survey — `Incremental.splitDelivery`'s
    * pmod 25/20 predicates) is merged into the materialized old
    * output (anti-join stale plots + recompute only dirty raw rows).
    * Because the pipeline is plot-local, the merged result must equal
    * the FULL recompute bit-for-bit — so the oracle is the SAME
    * full-pipeline DuckDB SQL as `q_fia_pipeline_oracle`:
    * the strongest possible check that incremental maintenance loses
    * nothing and staleness is fully evicted. */
  def fiaIncremental(s: SparkSession, dir: String): DataFrame = {
    val full = stagedRaw(s, dir)
    val oldOut = graft.ops.Layout.readParquet(s, Seq(materializeOldOutput(s, dir)))
    val (_, batch) = Incremental.splitDelivery(full)
    val merged = Incremental.merge(s, oldOut, full, Incremental.dirtyPlotIds(batch))
    merged
      .withColumn("drybio_milli", milli(col("DRYBIO_AG")))
      .withColumn("carbon_milli", milli(col("CARBON_AG")))
      .drop("DRYBIO_AG", "CARBON_AG")
  }

  // ---- DuckDB side -----------------------------------------------------
  // The SQL mirrors dev/fia_oracle_dev.py (validated stage-by-stage
  // against Spark dumps at sf0.001: tidy, interp, ann, prep, final all
  // exact). Per-column interpolation follows fia/Interp.scala's op order.

  private val linearCols = Seq("ACTUALHT", "DIA", "HT", "CULL", "CR", "CONDPROP_UNADJ")
  private val stepCols = Seq("PLT_CN", "STATUSCD", "RECONCILECD", "DECAYCD",
    "STANDING_DEAD_CD", "STDORGCD", "CONDID", "COND_STATUS_CD")
  private val fillCols = Seq("INTENSITY", "SPCD", "ECOSUBCD", "DESIGNCD", "PROP_BASIS", "MORTYR")
  private val sentCols = stepCols.filterNot(_ == "PLT_CN")
  private val measuredCols = Seq("DIA", "HT", "ACTUALHT", "CULL", "CR")

  private def rawSql = s"""
plot_raw AS (SELECT * FROM read_parquet('$in/PLOT/*.parquet')),
pg_raw   AS (SELECT * FROM read_parquet('$in/PLOTGEOM/*.parquet')),
cond_raw AS (SELECT * FROM read_parquet('$in/COND/*.parquet')),
tree_raw AS (SELECT * FROM read_parquet('$in/TREE/*.parquet'))"""

  private val tidySql = s"""
plotg AS (SELECT CAST(CN AS VARCHAR) AS PLT_CN, INVYR, ECOSUBCD
          FROM pg_raw WHERE INVYR >= 2000),
plott AS (SELECT concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT) AS plot_ID,
                 CAST(CN AS VARCHAR) AS PLT_CN, INVYR, DESIGNCD, INTENSITY
          FROM plot_raw WHERE INVYR >= 2000),
condt AS (SELECT concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT) AS plot_ID,
                 CAST(PLT_CN AS VARCHAR) AS PLT_CN, INVYR, CONDID,
                 CONDPROP_UNADJ, PROP_BASIS, COND_STATUS_CD, STDORGCD
          FROM cond_raw WHERE INVYR >= 2000),
treet AS (SELECT concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT) AS plot_ID,
                 concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT, SUBP, TREE) AS tree_ID,
                 INVYR, CAST(PLT_CN AS VARCHAR) AS PLT_CN, CONDID, MORTYR,
                 STATUSCD, RECONCILECD, DECAYCD, STANDING_DEAD_CD,
                 DIA, CR, HT, ACTUALHT, CULL, SPCD
          FROM tree_raw WHERE INVYR >= 2000),
j1 AS (SELECT p.plot_ID, t.tree_ID, p.INVYR, p.PLT_CN, p.DESIGNCD, p.INTENSITY,
              t.CONDID, t.MORTYR, t.STATUSCD, t.RECONCILECD, t.DECAYCD,
              t.STANDING_DEAD_CD, t.DIA, t.CR, t.HT, t.ACTUALHT, t.CULL, t.SPCD
       FROM plott p LEFT JOIN treet t
         ON p.plot_ID = t.plot_ID AND p.PLT_CN = t.PLT_CN AND p.INVYR = t.INVYR),
j2 AS (SELECT j1.*, g.ECOSUBCD FROM j1
       LEFT JOIN plotg g ON j1.INVYR = g.INVYR AND j1.PLT_CN = g.PLT_CN),
j3 AS (SELECT j2.*, c.CONDPROP_UNADJ, c.PROP_BASIS, c.COND_STATUS_CD, c.STDORGCD
       FROM j2 LEFT JOIN condt c
         ON j2.plot_ID = c.plot_ID AND j2.INVYR = c.INVYR
        AND j2.PLT_CN = c.PLT_CN AND j2.CONDID IS NOT DISTINCT FROM c.CONDID),
tidy AS (SELECT * REPLACE (
    coalesce(
      last_value(MORTYR IGNORE NULLS) OVER
        (PARTITION BY tree_ID ORDER BY INVYR
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      first_value(MORTYR IGNORE NULLS) OVER
        (PARTITION BY tree_ID ORDER BY INVYR
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS MORTYR,
    last_value(SPCD) OVER
      (PARTITION BY tree_ID ORDER BY INVYR
       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS SPCD,
    coalesce(ACTUALHT, HT) AS ACTUALHT)
  FROM j3)"""

  private def interpSql: String = {
    val sent = sentCols.map(c =>
      s"CASE WHEN $c IS NULL THEN 999 ELSE $c END AS $c").mkString(",\n    ")
    val gCols = (linearCols ++ stepCols ++ fillCols).map("p." + _).mkString(", ")
    val pre = s"""
pre AS (SELECT * REPLACE (
    $sent,
    CASE WHEN CULL IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CULL END AS CULL)
  FROM (SELECT * EXCLUDE (INVYR), INVYR AS YEAR FROM tidy)),
bounds AS (SELECT plot_ID, tree_ID, min(YEAR) AS mn, max(YEAR) AS mx
           FROM pre GROUP BY plot_ID, tree_ID),
grid AS (SELECT plot_ID, tree_ID,
                CAST(unnest(generate_series(mn, mx)) AS INT) AS YEAR
         FROM bounds),
g AS (SELECT grid.plot_ID, grid.tree_ID, grid.YEAR, $gCols,
             p.YEAR IS NULL AS interpolated
      FROM grid LEFT JOIN pre p
        ON grid.plot_ID IS NOT DISTINCT FROM p.plot_ID
       AND grid.tree_ID IS NOT DISTINCT FROM p.tree_ID
       AND grid.YEAR = p.YEAR)"""
    val anch = linearCols.map { c =>
      s"""
an_$c AS (SELECT plot_ID, tree_ID, YEAR, $c,
    row_number() OVER (PARTITION BY plot_ID, tree_ID ORDER BY YEAR) AS rn,
    count(*) OVER (PARTITION BY plot_ID, tree_ID) AS cnt
  FROM pre WHERE $c IS NOT NULL),
e_$c AS (SELECT plot_ID, tree_ID, max(cnt) AS cnt_$c,
    max(CASE WHEN rn = 1 THEN YEAR END) AS x1_$c,
    max(CASE WHEN rn = 1 THEN $c END) AS y1_$c,
    max(CASE WHEN rn = 2 THEN YEAR END) AS x2_$c,
    max(CASE WHEN rn = 2 THEN $c END) AS y2_$c,
    max(CASE WHEN rn = cnt - 1 THEN YEAR END) AS xl2_$c,
    max(CASE WHEN rn = cnt - 1 THEN $c END) AS yl2_$c,
    max(CASE WHEN rn = cnt THEN YEAR END) AS xl_$c,
    max(CASE WHEN rn = cnt THEN $c END) AS yl_$c
  FROM an_$c GROUP BY plot_ID, tree_ID)"""
    }.mkString(",")
    val wexprs =
      (linearCols ++ stepCols).flatMap { c =>
        Seq(
          s"last_value($c IGNORE NULLS) OVER wdown AS pv_$c",
          s"last_value(CASE WHEN $c IS NOT NULL THEN YEAR END IGNORE NULLS) OVER wdown AS py_$c",
          s"first_value($c IGNORE NULLS) OVER wup AS nv_$c",
          s"first_value(CASE WHEN $c IS NOT NULL THEN YEAR END IGNORE NULLS) OVER wup AS ny_$c")
      } ++ fillCols.map { c =>
        s"coalesce(last_value($c IGNORE NULLS) OVER wdown, " +
          s"first_value($c IGNORE NULLS) OVER wup) AS fill_$c"
      }
    val w = s"""
w AS (SELECT g.*,
    ${wexprs.mkString(",\n    ")}
  FROM g
  WINDOW wdown AS (PARTITION BY plot_ID, tree_ID ORDER BY YEAR
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wup AS (PARTITION BY plot_ID, tree_ID ORDER BY YEAR
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))"""
    val linSel = linearCols.map { c =>
      s"""
  CASE WHEN cnt_$c IS NULL THEN NULL
       WHEN cnt_$c = 1 THEN pv_$c
       WHEN $c IS NOT NULL THEN $c
       WHEN pv_$c IS NULL THEN y1_$c + (CAST(w.YEAR - x1_$c AS DOUBLE) * (y2_$c - y1_$c)) / CAST(x2_$c - x1_$c AS DOUBLE)
       WHEN nv_$c IS NULL THEN yl_$c + (CAST(w.YEAR - xl_$c AS DOUBLE) * (yl_$c - yl2_$c)) / CAST(xl_$c - xl2_$c AS DOUBLE)
       ELSE pv_$c + (nv_$c - pv_$c) * (CAST(w.YEAR - py_$c AS DOUBLE) / CAST(ny_$c - py_$c AS DOUBLE))
  END AS $c"""
    }
    val stepSel = stepCols.map { c =>
      s"""
  CASE WHEN pv_$c IS NULL THEN NULL
       WHEN nv_$c IS NULL THEN pv_$c
       WHEN 2 * (w.YEAR - py_$c) < ny_$c - py_$c THEN pv_$c
       ELSE nv_$c
  END AS $c"""
    }
    val fillSel = fillCols.map(c => s"  fill_$c AS $c")
    val ejoins = linearCols.map(c =>
      s"LEFT JOIN e_$c ON w.plot_ID IS NOT DISTINCT FROM e_$c.plot_ID " +
        s"AND w.tree_ID IS NOT DISTINCT FROM e_$c.tree_ID").mkString("\n  ")
    val interp0 = s"""
interp0 AS (SELECT w.plot_ID, w.tree_ID, w.YEAR, w.interpolated,
  ${linSel.mkString(",")},
  ${stepSel.mkString(",")},
${fillSel.mkString(",")}
  FROM w
  $ejoins)"""
    val sentDec = sentCols.map(c =>
      s"CASE WHEN $c = 999 THEN NULL ELSE $c END AS $c").mkString(",\n    ")
    val decoded = s"""
decoded AS (SELECT * REPLACE (
    $sentDec)
  FROM (SELECT * REPLACE (CASE WHEN DIA < 5 THEN NULL ELSE CULL END AS CULL)
        FROM interp0)),
tpa AS (SELECT CAST(CAST(DESIGNCD AS DOUBLE) AS INT) AS DESIGNCD, CAST(min_DIA AS DOUBLE) AS min_DIA,
               CAST(max_DIA AS DOUBLE) AS max_DIA, CAST(TPA_UNADJ AS DOUBLE) AS TPA_UNADJ
        FROM read_csv('$ref/DESIGNCD_TPA.csv', all_varchar = true, nullstr = ['NA', ''])),
refjk AS (SELECT CAST(CAST(SPCD AS DOUBLE) AS INT) AS SPCD,
                 CAST(CAST(JENKINS_SPGRPCD AS DOUBLE) AS INT) AS JENKINS_SPGRPCD
          FROM read_csv('$ref/REF_SPECIES.csv', all_varchar = true, nullstr = ['NA', ''])),
withtpa AS (SELECT d.*, t.TPA_UNADJ FROM decoded d
            LEFT JOIN tpa t ON d.DESIGNCD = t.DESIGNCD
              AND d.DIA >= t.min_DIA AND d.DIA < t.max_DIA),
interp AS (SELECT wt.* REPLACE (
    CASE WHEN ((r.JENKINS_SPGRPCD < 10 AND (wt.DIA < 1 OR wt.HT < 4.5 OR wt.ACTUALHT < 4.5))
            OR (r.JENKINS_SPGRPCD = 10 AND (wt.DIA < 1 OR wt.HT < 1 OR wt.ACTUALHT < 1)))
         THEN 2 ELSE wt.STATUSCD END AS STATUSCD,
    CASE WHEN ((r.JENKINS_SPGRPCD < 10 AND (wt.DIA < 1 OR wt.HT < 4.5 OR wt.ACTUALHT < 4.5))
            OR (r.JENKINS_SPGRPCD = 10 AND (wt.DIA < 1 OR wt.HT < 1 OR wt.ACTUALHT < 1)))
         THEN 0 ELSE wt.STANDING_DEAD_CD END AS STANDING_DEAD_CD)
  FROM withtpa wt LEFT JOIN refjk r ON wt.SPCD = r.SPCD)"""
    pre + "," + anch + "," + w + "," + interp0 + "," + decoded
  }

  private def maskSql(name: String, src: String): String = {
    val m3 = measuredCols.map(c =>
      s"CASE WHEN STANDING_DEAD_CD = 0 THEN NULL ELSE $c END AS $c").mkString(",\n    ")
    val ns = "((STATUSCD = 0 AND coalesce(RECONCILECD IN (5, 6, 9), false)) " +
      "OR COND_STATUS_CD <> 1)"
    val m4 = measuredCols.map(c =>
      s"CASE WHEN $ns THEN NULL ELSE $c END AS $c").mkString(",\n    ")
    s"""
${name}_m1 AS (SELECT * REPLACE (
    CASE WHEN STATUSCD = 2 THEN STANDING_DEAD_CD END AS STANDING_DEAD_CD)
  FROM $src),
${name}_m2 AS (SELECT * REPLACE (
    CASE WHEN STANDING_DEAD_CD = 1 THEN DECAYCD END AS DECAYCD)
  FROM ${name}_m1),
${name}_m3 AS (SELECT * REPLACE (
    $m3)
  FROM ${name}_m2),
${name}_m4 AS (SELECT * REPLACE (
    $m4)
  FROM ${name}_m3)"""
  }

  private def adjustSql: String = {
    val mort = """
mort0 AS (SELECT i.*,
    max(CASE WHEN YEAR = MORTYR AND STATUSCD = 1 THEN MORTYR + 1 ELSE MORTYR END)
      OVER (PARTITION BY tree_ID) AS MORTYR_eff,
    min(CASE WHEN STATUSCD = 2 THEN YEAR END)
      OVER (PARTITION BY tree_ID) AS first_dead
  FROM interp i),
mort1 AS (SELECT * REPLACE (
    CASE WHEN MORTYR_eff IS NULL THEN STATUSCD
         WHEN MORTYR_eff = first_dead THEN STATUSCD
         WHEN MORTYR_eff < first_dead AND YEAR >= MORTYR_eff AND YEAR < first_dead THEN 2
         WHEN MORTYR_eff > first_dead AND YEAR < MORTYR_eff AND YEAR >= first_dead THEN 1
         ELSE STATUSCD END AS STATUSCD)
  FROM mort0),
mort2 AS (SELECT * EXCLUDE (MORTYR_eff, first_dead) REPLACE (
    first_value(DECAYCD IGNORE NULLS) OVER wup AS DECAYCD,
    first_value(STANDING_DEAD_CD IGNORE NULLS) OVER wup AS STANDING_DEAD_CD)
  FROM mort1
  WINDOW wup AS (PARTITION BY tree_ID ORDER BY YEAR
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))"""
    mort + "," + maskSql("mid", "interp") + "," + maskSql("mor", "mort2") + """,
ann AS (SELECT *, 'midpt' AS variant FROM mid_m4
        UNION ALL
        SELECT *, 'mortyr' AS variant FROM mor_m4)"""
  }

  private val prepSql = s"""
refsp AS (SELECT CAST(CAST(SPCD AS DOUBLE) AS INT) AS SPCD,
    CAST(CAST(JENKINS_SPGRPCD AS DOUBLE) AS INT) AS JENKINS_SPGRPCD,
    CAST(SFTWD_HRDWD AS VARCHAR) AS SFTWD_HRDWD,
    CAST(CARBON_RATIO_LIVE AS DOUBLE) AS CARBON_RATIO_LIVE,
    CAST(WOOD_SPGR_GREENVOL_DRYWT AS DOUBLE) AS WDSG
  FROM read_csv('$ref/REF_SPECIES.csv', all_varchar = true, nullstr = ['NA', ''])),
decayp AS (SELECT CAST(SFTWD_HRDWD AS VARCHAR) AS SFTWD_HRDWD,
    CAST(CAST(DECAYCD AS DOUBLE) AS INT) AS DECAYCD,
    CAST(DENSITY_PROP AS DOUBLE) AS DENSITY_PROP, CAST(BARK_LOSS_PROP AS DOUBLE) AS BARK_LOSS_PROP,
    CAST(BRANCH_LOSS_PROP AS DOUBLE) AS BRANCH_LOSS_PROP
  FROM read_csv('$ref/REF_TREE_DECAY_PROP.csv', all_varchar = true, nullstr = ['NA', ''])),
cullr AS (SELECT SFTWD_HRDWD, DENSITY_PROP AS CULL_DECAY_RATIO FROM decayp WHERE DECAYCD = 3),
deadr AS (SELECT CAST(SFTWD_HRDWD AS VARCHAR) AS SFTWD_HRDWD,
    CAST(CAST(DECAYCD AS DOUBLE) AS INT) AS DECAYCD,
    CAST(CARBON_RATIO AS DOUBLE) AS CARBON_RATIO
  FROM read_csv('$ref/REF_TREE_CARBON_RATIO_DEAD.csv', all_varchar = true, nullstr = ['NA', ''])),
prep0 AS (SELECT a.*, r.JENKINS_SPGRPCD, r.SFTWD_HRDWD, r.CARBON_RATIO_LIVE, r.WDSG
  FROM ann a LEFT JOIN refsp r ON a.SPCD = r.SPCD),
prep1 AS (SELECT p.*, c.CULL_DECAY_RATIO FROM prep0 p
  LEFT JOIN cullr c ON p.SFTWD_HRDWD = c.SFTWD_HRDWD),
prep2 AS (SELECT p.*, d.DENSITY_PROP, d.BARK_LOSS_PROP, d.BRANCH_LOSS_PROP FROM prep1 p
  LEFT JOIN decayp d ON p.DECAYCD = d.DECAYCD AND p.SFTWD_HRDWD = d.SFTWD_HRDWD),
prep3 AS (SELECT p.*, d.CARBON_RATIO FROM prep2 p
  LEFT JOIN deadr d ON p.DECAYCD = d.DECAYCD AND p.SFTWD_HRDWD = d.SFTWD_HRDWD),
prov AS (SELECT *,
    CASE WHEN length(trim(ECOSUBCD)) = 0 THEN ''
         WHEN length(trim(ECOSUBCD)) = 4 THEN substr(trim(ECOSUBCD), 1, 3)
         WHEN length(trim(ECOSUBCD)) = 7 THEN substr(trim(ECOSUBCD), 1, length(trim(ECOSUBCD)) - 3)
         ELSE substr(trim(ECOSUBCD), 1, length(trim(ECOSUBCD)) - 2) END AS PROVINCE
  FROM prep3),
prep AS (SELECT * REPLACE (
    CASE WHEN STATUSCD = 1 THEN CULL_DECAY_RATIO WHEN NOT (STATUSCD = 1) THEN CAST(1.0 AS DOUBLE) END AS CULL_DECAY_RATIO,
    CASE WHEN STATUSCD = 1 THEN 0 WHEN NOT (STATUSCD = 1) THEN STANDING_DEAD_CD END AS STANDING_DEAD_CD,
    CASE WHEN STATUSCD = 1 THEN 0 WHEN NOT (STATUSCD = 1) THEN DECAYCD END AS DECAYCD,
    CASE WHEN CULL IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CULL END AS CULL),
    CASE WHEN STATUSCD = 1 THEN CAST(1.0 AS DOUBLE) WHEN NOT (STATUSCD = 1) THEN DENSITY_PROP END AS DECAY_WD,
    CASE WHEN STATUSCD = 1 THEN CAST(1.0 AS DOUBLE) WHEN NOT (STATUSCD = 1) THEN BARK_LOSS_PROP END AS DECAY_BK,
    CASE WHEN STATUSCD = 1 THEN CAST(1.0 AS DOUBLE) WHEN NOT (STATUSCD = 1) THEN BRANCH_LOSS_PROP END AS DECAY_BR,
    CASE WHEN STATUSCD = 1 THEN CARBON_RATIO_LIVE * 100 WHEN NOT (STATUSCD = 1) THEN CARBON_RATIO * 100 END AS C_FRAC,
    CASE WHEN length(PROVINCE) = 0 THEN ''
         ELSE substr(PROVINCE, 1, length(PROVINCE) - 1) || '0' END AS DIVISION
  FROM prov)"""

  // coefficient tables needed by the carbon outputs (Brent-fed targets
  // are dropped at the re-attach and need no oracle)
  private val coefCols = Seq("a", "b", "c", "b2", "a0", "b0", "b1", "a1", "c1")
  private val coefHave: Seq[(String, Seq[String])] = Seq(
    "volib" -> (coefCols :+ "equation"),
    "total_biomass" -> (coefCols :+ "equation"),
    "bark_biomass" -> Seq("a", "b", "c", "b2", "a0", "b0", "b1", "equation"),
    "branch_biomass" -> Seq("a", "b", "c", "a0", "b0", "b1", "equation"),
    "rcumib" -> Seq("alpha", "beta"))
  private val levelKeys = Seq("SPCD_DIVISION", "SPCD", "JENKINS_SPGRPCD")

  private def coefCtes: String =
    coefHave.flatMap { case (t, have) =>
      val casts = have.map(c => s"CAST($c AS DOUBLE) AS $c").mkString(", ")
      val base =
        s"""co_$t AS (SELECT $casts, CAST(SPCD_DIVISION AS VARCHAR) AS SPCD_DIVISION,
           |  CAST(SPCD AS VARCHAR) AS SPCD,
           |  CAST(CAST(JENKINS_SPGRPCD AS DOUBLE) AS INT) AS JENKINS_SPGRPCD
           |  FROM read_csv('$ref/coefs/${t}_coefs.csv', all_varchar = true, nullstr = ['NA', '']))""".stripMargin
      val lvls = levelKeys.zipWithIndex.map { case (key, li) =>
        val cols = (coefCols ++ Seq("equation", "alpha", "beta")).map { c =>
          if (have.contains(c)) s"$c AS ${c}_${li}_$t"
          else s"CAST(NULL AS DOUBLE) AS ${c}_${li}_$t"
        }.mkString(", ")
        s"l${li}_$t AS (SELECT $key AS k_${li}_$t, $cols, 1 AS m_${li}_$t " +
          s"FROM co_$t WHERE $key IS NOT NULL)"
      }
      base +: lvls
    }.mkString(",\n")

  private def eqExpr(t: String, li: Int): String = {
    def c(x: String) = s"${x}_${li}_$t"
    s"""CASE
  WHEN ${c("equation")} = 3 THEN ${c("a")} * pow(DBH, ${c("b")}) * pow(THT, ${c("c")})
  WHEN ${c("equation")} = 3.1 THEN ${c("a")} * pow(DBH, ${c("b")}) * pow(THT, ${c("c")}) * WDSG
  WHEN ${c("equation")} = 4 THEN (CASE
    WHEN DBH < k THEN ${c("a0")} * pow(DBH, ${c("b0")}) * pow(THT, ${c("c")})
    WHEN NOT (DBH < k) THEN ${c("a0")} * pow(k, ${c("b0")} - ${c("b1")}) * pow(DBH, ${c("b1")}) * pow(THT, ${c("c")}) END)
  WHEN ${c("equation")} = 5 THEN ${c("a")} * pow(DBH, ${c("a1")} * pow(1 - exp(-${c("b1")} * DBH), ${c("c1")})) * pow(THT, ${c("c")})
  WHEN ${c("equation")} = 50 THEN ${c("a")} * pow(DBH, ${c("b")}) * pow(THT, ${c("c")}) * exp(-(${c("b2")} * DBH))
END"""
  }

  private def targetExpr(t: String, jenkins31: Boolean = false): String = {
    val parts = (0 until 3).map { li =>
      val e =
        if (jenkins31 && li == 2)
          s"a_${li}_$t * pow(DBH, b_${li}_$t) * pow(THT, c_${li}_$t) * WDSG"
        else eqExpr(t, li)
      s"WHEN m_${li}_$t IS NOT NULL THEN ($e)"
    }
    "CASE " + parts.mkString(" ") + " END"
  }

  private def hraExpr: String = {
    val parts = (0 until 3).map { li =>
      s"WHEN m_${li}_rcumib IS NOT NULL THEN " +
        s"(pow(1 - pow(1 - ACTUALHT / THT, alpha_${li}_rcumib), beta_${li}_rcumib))"
    }
    "CASE " + parts.mkString(" ") + " END"
  }

  private def estimateSql: String = {
    val (missSft, missHwd) = RefData.crPropDefaults
    val joins = coefHave.flatMap { case (t, _) =>
      levelKeys.zipWithIndex.map { case (key, li) =>
        s"LEFT JOIN l${li}_$t ON f.$key = l${li}_$t.k_${li}_$t"
      }
    }
    val sel = "f.*" +: coefHave.flatMap { case (t, _) =>
      levelKeys.indices.map(li => s"l${li}_$t.* EXCLUDE (k_${li}_$t)")
    }
    val spcdStr =
      "CASE WHEN SPCD IN (111, 131) AND (CASE WHEN STDORGCD IS NULL THEN 0 ELSE STDORGCD END) = 1 " +
        "THEN '1_' || CAST(SPCD AS VARCHAR) ELSE CAST(SPCD AS VARCHAR) END"
    s"""
medcr AS (SELECT CAST(Province AS VARCHAR) AS PROVINCE,
    CASE WHEN CAST(hwd_yn AS VARCHAR) = 'N' THEN 'S' ELSE 'H' END AS SFTWD_HRDWD,
    CAST(CRmn AS DOUBLE) AS CRmn
  FROM read_csv('$ref/median_crprop.csv', all_varchar = true, nullstr = ['NA', ''])),
fb0 AS (SELECT * FROM prep WHERE JENKINS_SPGRPCD < 10 AND HT IS NOT NULL),
fb1 AS (SELECT f.*, m.CRmn FROM fb0 f
  LEFT JOIN medcr m ON f.SFTWD_HRDWD = m.SFTWD_HRDWD AND f.PROVINCE = m.PROVINCE),
fiadb0 AS (SELECT * EXCLUDE (CRmn, STDORGCD, SPCD, CULL, CR),
    CASE WHEN CRmn IS NULL AND SFTWD_HRDWD = 'S' THEN CAST($missSft AS DOUBLE)
         WHEN CRmn IS NULL AND SFTWD_HRDWD = 'H' THEN CAST($missHwd AS DOUBLE)
         ELSE CRmn END AS CRmn,
    NOT (HT = ACTUALHT) AS BROKEN_TOP,
    CASE WHEN CR IS NULL AND STATUSCD = 1 THEN CAST(0.0 AS DOUBLE) ELSE CR END AS CR,
    CASE WHEN STDORGCD IS NULL THEN 0 ELSE STDORGCD END AS STDORGCD,
    $spcdStr AS SPCD,
    CASE WHEN CULL IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CULL END AS CULL,
    ($spcdStr) || ' ' || coalesce(DIVISION, 'NA') AS SPCD_DIVISION,
    DIA AS DBH, HT AS THT,
    CASE WHEN CAST(regexp_replace(($spcdStr), '1_', '') AS DOUBLE) < 300
         THEN CAST(9.0 AS DOUBLE) ELSE CAST(11.0 AS DOUBLE) END AS k
  FROM fb1),
$coefCtes,
est0 AS (SELECT ${sel.mkString(", ")} FROM fiadb0 f
  ${joins.mkString("\n  ")}),
est1 AS (SELECT *,
    ${targetExpr("volib")} AS VTOTIB_GROSS,
    ${targetExpr("total_biomass", jenkins31 = true)} AS Total,
    ${targetExpr("bark_biomass")} AS Bark,
    ${targetExpr("branch_biomass", jenkins31 = true)} AS Branch,
    $hraExpr AS HRA_raw
  FROM est0),
est2 AS (SELECT *,
    CASE WHEN ACTUALHT < THT THEN HRA_raw WHEN NOT (ACTUALHT < THT) THEN CAST(1.0 AS DOUBLE) END AS HT_RAT_ADJ,
    CASE WHEN CR IS NULL THEN NULL ELSE greatest(CR, CAST(1.0 AS DOUBLE)) END AS CRx,
    VTOTIB_GROSS * WDSG * 62.4 AS Wood,
    CASE WHEN STANDING_DEAD_CD < 1 THEN 1 - ((1 - CULL_DECAY_RATIO) * CULL) / 100
         WHEN NOT (STANDING_DEAD_CD < 1) THEN CAST(1.0 AS DOUBLE) END AS CULL_REDUCTION
  FROM est1),
est3 AS (SELECT *,
    HT_RAT_ADJ * DECAY_BK * DECAY_WD AS BARK_REDUCTION,
    HT_RAT_ADJ * CULL_REDUCTION * DECAY_WD AS WOOD_REDUCTION,
    CASE WHEN STANDING_DEAD_CD = 1 THEN CRmn / 100
         WHEN NOT (STANDING_DEAD_CD = 1) THEN 1 - (ACTUALHT / THT) * (1 - CRx / 100) END AS CRprop_HT
  FROM est2),
est4 AS (SELECT *,
    CASE WHEN ((ACTUALHT - (1 - CRprop_HT) * THT) / (CRprop_HT * THT)) IS NULL THEN NULL
         ELSE greatest((ACTUALHT - (1 - CRprop_HT) * THT) / (CRprop_HT * THT), CAST(0.0 AS DOUBLE))
    END AS bcp_raw
  FROM est3),
est5 AS (SELECT *,
    CASE WHEN NOT BROKEN_TOP THEN CAST(1.0 AS DOUBLE)
         ELSE (CASE WHEN bcp_raw < 0.01 THEN CAST(0.0 AS DOUBLE)
                    WHEN NOT (bcp_raw < 0.01) THEN bcp_raw END)
    END AS bcp
  FROM est4),
est6 AS (SELECT *, bcp * DECAY_BR * DECAY_WD AS BRANCH_REDUCTION FROM est5),
est7 AS (SELECT *,
    Wood * WOOD_REDUCTION AS Wood_Reduced,
    Bark * BARK_REDUCTION AS Bark_Reduced,
    Branch * BRANCH_REDUCTION AS Branch_Reduced
  FROM est6),
est8 AS (SELECT *,
    (Wood_Reduced + Bark_Reduced + Branch_Reduced) / (Wood + Bark + Branch) AS AGB_Reduction_Factor
  FROM est7),
est9 AS (SELECT *, Total * AGB_Reduction_Factor AS BIOMASS FROM est8),
predicted AS (SELECT variant, plot_ID, tree_ID, YEAR,
    BIOMASS AS DRYBIO_AG, BIOMASS * (C_FRAC / 100) AS CARBON_AG
  FROM est9),
final AS (SELECT p.*, pr.DRYBIO_AG, pr.CARBON_AG,
    ${Seq("STATECD", "UNITCD", "COUNTYCD", "PLOT", "SUBP", "TREE").zipWithIndex.map {
      case (n, i) =>
        s"CASE WHEN p.tree_ID IS NULL THEN NULL ELSE split_part(p.tree_ID, '_', ${i + 1}) END AS $n"
    }.mkString(",\n    ")}
  FROM prep p LEFT JOIN predicted pr
    ON p.variant = pr.variant AND p.plot_ID = pr.plot_ID
   AND p.tree_ID IS NOT DISTINCT FROM pr.tree_ID AND p.YEAR = pr.YEAR)"""
  }

  /** The full chained oracle: same milli-quantization as the Spark side. */
  def oracleSql: String =
    s"""WITH $rawSql, $tidySql, $interpSql, $adjustSql, $prepSql, $estimateSql
       |SELECT * EXCLUDE (DRYBIO_AG, CARBON_AG),
       |  CASE WHEN isnan(DRYBIO_AG) OR NOT isfinite(DRYBIO_AG) THEN NULL
       |       ELSE CAST(floor(DRYBIO_AG * 1000.0) AS BIGINT) END AS drybio_milli,
       |  CASE WHEN isnan(CARBON_AG) OR NOT isfinite(CARBON_AG) THEN NULL
       |       ELSE CAST(floor(CARBON_AG * 1000.0) AS BIGINT) END AS carbon_milli
       |FROM final""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fia_pipeline_oracle" -> (fiaPipelineOracle _),
    "q_fia_incremental" -> (fiaIncremental _))

  def oracles: Map[String, String] = Map(
    "q_fia_pipeline_oracle" -> oracleSql,
    "q_fia_incremental" -> oracleSql)
}
