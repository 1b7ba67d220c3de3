package graft.fia

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** NSVB (National Scale Volume and Biomass) prediction DAG — the Spark
  * re-expression of `predictCRM2()` (`R/predictCRM2.R:4-626`).
  *
  * Structural rewrites vs the reference (SURVEY §4):
  *   - the reference's per-target {3-level coefficient merge, row-split
  *     by equation + eval(parse(...)), anti-join combine, re-merge by ID}
  *     becomes: 3 broadcast left joins (one per fallback level) + a
  *     `when`-chain equation dispatch + a first-match-level CASE — all
  *     pure column expressions in one plan, no row splitting, no unions,
  *     and the fact table never shuffles;
  *   - rows the reference drops via inner merges (no coefficient match at
  *     any level) here simply carry null predictions — identical final
  *     output after estimate_carbon's left join back;
  *   - R's null semantics are preserved expression-by-expression
  *     (`pmax` propagates NA -> guarded greatest; `ifelse(NA,..)` -> NA
  *     -> `when(c, x).when(!c, y)` which yields null on null conditions).
  *
  * `findHT` (equations 7/12) is the one non-algebraic step: a per-row
  * bounded scalar minimization (R `stats::optimise`) of the taper
  * derivative, implemented as a Scala UDF over [[Brent]].
  */
object Nsvb {

  private val LEVELS = Seq("SPCD_DIVISION", "SPCD", "JENKINS_SPGRPCD")

  /** kz-objective merch height search (`R/predictCRM2.R:729-765`):
    * height at which stem diameter tapers to `dlim`; saplings -> null. */
  def findHt(dbh: Double, tht: Double, dlim: Double,
      alpha: Double, beta: Double, a: Double, b: Double, c: Double): Double = {
    // taper-derived diameter at height h (op order matches the R source).
    // The h-invariant prefix of the left-associated product is hoisted
    // out of the Brent loop: `k0` is computed by the IDENTICAL op
    // sequence the inline form used (a prefix of a left-assoc chain),
    // so every kz(h) value is bit-for-bit unchanged while the ~20
    // Brent iterations per row each save two pow() and four mult/div —
    // this UDF runs twice per output row (HT4, HTSAW) and dominated
    // the NSVB stage's per-task compute (guide §1.2 step 2).
    val k0 = a * math.pow(dbh, b) * math.pow(tht, c) / .005454154 / tht * alpha * beta
    def kz(h: Double): Double = {
      val pd = math.sqrt(
        k0 *
          math.pow(1 - h / tht, alpha - 1) *
          math.pow(1 - math.pow(1 - h / tht, alpha), beta - 1))
      math.abs(pd - dlim)
    }
    Brent.minimize(kz, 0.0, tht)
  }

  private val findHtUdf = udf(
    (dbh: java.lang.Double, tht: java.lang.Double, dlim: java.lang.Double,
     alpha: java.lang.Double, beta: java.lang.Double,
     a: java.lang.Double, b: java.lang.Double, c: java.lang.Double) => {
      if (dbh == null || dbh < 5.0 || tht == null || dlim == null ||
          alpha == null || beta == null || a == null || b == null || c == null) null
      else java.lang.Double.valueOf(findHt(dbh, tht, dlim, alpha, beta, a, b, c))
    })

  /** R `pmax(x, k)` — propagates null (Spark greatest would ignore it). */
  private def pmaxLit(x: Column, k: Double): Column =
    when(x.isNull, lit(null)).otherwise(greatest(x, lit(k)))

  /** R `ifelse(cond, a, b)` — null condition yields null. */
  private def ifelseNa(cond: Column, a: Column, b: Column): Column =
    when(cond, a).when(!cond, b)

  /** Segment volume (`findVol`, `R/predictCRM2.R:767-785`):
    * ((1-(1-hu/THT)^alpha)^beta - (1-(1-hl/THT)^alpha)^beta) * vol. */
  private def volSeg(hl: Column, hu: Column, tht: Column,
      alpha: Column, beta: Column, vol: Column): Column = {
    val vl = pow(lit(1) - pow(lit(1) - (hl / tht), alpha), beta) * vol
    val vu = pow(lit(1) - pow(lit(1) - (hu / tht), alpha), beta) * vol
    vu - vl
  }

  /** Closed-form equation dispatch for the volume/biomass coefficient
    * tables (equations 3, 3.1, 4, 5, 50 — `equation_forms_and_calls.csv`). */
  private def closedForm(eq: Column, c: String => Column): Column = {
    val dbh = col("DBH"); val tht = col("THT")
    when(eq === 3.0, c("a") * pow(dbh, c("b")) * pow(tht, c("c")))
      .when(eq === 3.1, c("a") * pow(dbh, c("b")) * pow(tht, c("c")) * col("WDSG"))
      .when(eq === 4.0,
        when(dbh < col("k"), c("a0") * pow(dbh, c("b0")) * pow(tht, c("c")))
          .when(!(dbh < col("k")),
            c("a0") * pow(col("k"), c("b0") - c("b1")) * pow(dbh, c("b1")) * pow(tht, c("c"))))
      .when(eq === 5.0,
        c("a") * pow(dbh, c("a1") * pow(lit(1) - exp(-c("b1") * dbh), c("c1"))) * pow(tht, c("c")))
      .when(eq === 50.0,
        c("a") * pow(dbh, c("b")) * pow(tht, c("c")) * exp(-(c("b2") * dbh)))
  }

  /** Run the full predictCRM2 DAG. Input must carry the columns produced
    * by prep/estimate_carbon: DBH, THT, CULL, ACTUALHT, CR, CRmn, WDSG,
    * SPCD (string), SPCD_DIVISION, JENKINS_SPGRPCD, SFTWD_HRDWD,
    * STANDING_DEAD_CD, CULL_DECAY_RATIO, DECAY_WD, DECAY_BK, DECAY_BR,
    * C_FRAC, BROKEN_TOP. Adds all volume/weight targets + BIOMASS,
    * CARBON, AGB. */
  /** Join + evaluate one prediction target across the 3 fallback levels:
    * per level, broadcast-left-join the level's coefficient rows and
    * evaluate its equation; combine with first-MATCHED-level-wins (exact
    * `combineLevels2` semantics — a matched level wins even if its
    * prediction is null). Public so a single target (e.g. a gross-volume
    * query) can run without the whole DAG. */
  def levelFallbackTarget(
      df: DataFrame,
      sets: Seq[DataFrame],
      lhs: String,
      formula: (Column, String => Column) => Column,
      eqOverride: Option[Double] = None,
      jenkinsEq31: Boolean = false): DataFrame = {
    var d = df
    val levelPred = LEVELS.zipWithIndex.map { case (level, li) =>
      val sfx = s"__${lhs}_$li"
      val levelDims = sets.map { cs =>
        val keep = cs.columns.filterNot(LEVELS.contains).toSeq
        cs.filter(col(level).isNotNull).select((level +: keep).map(col): _*)
      }
      val merged = levelDims.reduce { (x, y) =>
        val shared = x.columns.intersect(y.columns).filterNot(_ == level).toSeq
        x.join(y.drop(shared: _*), Seq(level))
      }
      val dim = merged.columns.foldLeft(merged) { (dd, n) =>
        dd.withColumnRenamed(n, n + sfx)
      }.withColumn(s"__m$sfx", lit(1))
      d = d.join(broadcast(dim), col(level) === col(level + sfx), "left")

      def cf(name: String): Column = {
        val full = name + sfx
        if (d.columns.contains(full)) col(full) else lit(null).cast(DoubleType)
      }
      val baseEq: Column = eqOverride.map(e => lit(e)).getOrElse(cf("equation"))
      val eq =
        if (jenkinsEq31 && level == "JENKINS_SPGRPCD") lit(3.1) else baseEq
      (col(s"__m$sfx"), formula(eq, cf))
    }
    val combined = levelPred.foldRight(lit(null).cast(DoubleType): Column) {
      case ((m, p), acc) => when(m.isNotNull, p).otherwise(acc)
    }
    d = d.withColumn(lhs, combined)
    // drop the per-level scratch columns
    val scratch = d.columns.filter(n => LEVELS.indices.exists(li => n.endsWith(s"__${lhs}_$li")))
    d.drop(scratch.toSeq: _*)
  }

  /** The closed-form dispatch, usable with [[levelFallbackTarget]]. */
  def closedFormDispatch: (Column, String => Column) => Column = closedForm _

  /** Pre-merged per-level coefficient dims.
    *
    * [[levelFallbackTarget]] joins each target's coefficient table(s)
    * separately — 3 joins per target, 45 for the full DAG, and plan
    * construction cost grows with each join over an ever-wider fact.
    * Since all 9 coefficient tables are keyed by the same 3 fallback
    * levels, `predict` instead merges them driver-side into ONE dim per
    * level (key + every table's coefficient columns + a per-table
    * presence flag) and broadcast-left-joins the fact exactly 3 times
    * for the whole DAG. Per-target "matched at level" is then a pure
    * column predicate: every table in the target's set has its presence
    * flag — identical to the previous per-target inner-merge semantics.
    * Built from the parsed CSVs (no jobs); each dim is a LocalRelation
    * of a few hundred rows. */
  private case class CoefDims(
      dims: Seq[DataFrame], // one per LEVELS entry, keyed __k<li>
      tableCols: Map[String, Seq[String]]) { // coef cols per table

    /** Coefficient resolver for a target's table set at one level:
      * first table in the set that has the column (matches the old
      * x-keeps-shared-columns merge order). */
    def cf(tables: Seq[String], li: Int)(name: String): Column =
      tables.find(t => tableCols(t).contains(name))
        .map(t => col(s"__c_${t}_${name}_$li"))
        .getOrElse(lit(null).cast(DoubleType))

    /** "This level matched" for a table set: every table has a row for
      * the fact's key (old inner-merge-then-left-join semantics). */
    def matched(tables: Seq[String], li: Int): Column =
      tables.map(t => col(s"__m_${t}_$li").isNotNull).reduce(_ && _)

    def scratch(d: DataFrame): Seq[String] =
      d.columns.filter(n =>
        n.startsWith("__k") || n.startsWith("__c_") || n.startsWith("__m_")).toSeq
  }

  private def buildCoefDims(spark: SparkSession): CoefDims = {
    val local: Seq[(String, (StructType, Seq[Row]))] =
      RefData.coefNames.map(n => n -> RefData.coefsLocal(n))
    val tableCols: Map[String, Seq[String]] = local.map { case (n, (schema, _)) =>
      n -> schema.fieldNames.filterNot(LEVELS.contains).toSeq
    }.toMap
    val dims = LEVELS.zipWithIndex.map { case (level, li) =>
      val keyType = if (level == "JENKINS_SPGRPCD") IntegerType else StringType
      // per table: rows keyed by this level's (non-null) value
      val byKey: Seq[(String, Map[Any, Row])] = local.map { case (n, (schema, rows)) =>
        val ki = schema.fieldIndex(level)
        val m = rows.filter(r => !r.isNullAt(ki)).map(r => r.get(ki) -> r).toMap
        n -> m
      }
      val keys = byKey.flatMap(_._2.keys).distinct
      val fields = StructField(s"__k$li", keyType, nullable = true) +:
        local.flatMap { case (n, (schema, _)) =>
          tableCols(n).map(c =>
            StructField(s"__c_${n}_${c}_$li", schema(c).dataType, nullable = true)) :+
            StructField(s"__m_${n}_$li", BooleanType, nullable = true)
        }
      val data = keys.map { k =>
        val vals = Seq[Any](k) ++ local.flatMap { case (n, (schema, _)) =>
          byKey.collectFirst { case (`n`, m) => m }.get.get(k) match {
            case Some(r) => tableCols(n).map(c => r.get(schema.fieldIndex(c))) :+ true
            case None => tableCols(n).map(_ => null) :+ null
          }
        }
        Row.fromSeq(vals)
      }
      spark.createDataFrame(
        java.util.Arrays.asList(data: _*), StructType(fields))
    }
    CoefDims(dims, tableCols)
  }

  def predict(spark: SparkSession, fiadb: DataFrame): DataFrame = {
    val cd = buildCoefDims(spark)

    // SPCD_NUMERIC's expression composes into k/saw directly (Catalyst
    // collapses the projections to the identical physical expressions
    // the old three sequential withColumn calls produced) so the whole
    // prologue is ONE analyzer pass instead of three — every
    // withColumn call re-analyzes the full post-kernel plan, and the
    // DAG below runs twice per composed pipeline (one per mortality
    // variant), so analyzer passes are the driver-side cost here
    // (measured: construction, not execution, dominates the composed
    // gates — OPTIMIZATION_r15.md; Bench's layer profile records the
    // construct_s / plan_s / exec_s split per query).
    val spcdNum = regexp_replace(col("SPCD"), "1_", "").cast(DoubleType)
    var d = fiadb
      .withColumns(Map(
        "SPCD_NUMERIC" -> spcdNum,
        "k" -> when(spcdNum < 300, lit(9.0)).otherwise(lit(11.0)),
        "saw" -> when(spcdNum < 300, lit(7.0)).otherwise(lit(9.0))))

    // The only joins of the whole DAG: one broadcast per fallback level.
    LEVELS.zipWithIndex.foreach { case (level, li) =>
      d = d.join(broadcast(cd.dims(li)), col(level) === col(s"__k$li"), "left")
    }

    // A prediction target as a COLUMN (the old per-target withColumn
    // chain, verbatim expression): targets with no mutual dependency
    // batch into one withColumns wave each — the 15 sequential target
    // passes plus their interleaved rewrites become 6 waves.
    def targetCol(
        tables: Seq[String],
        formula: (Column, String => Column) => Column,
        eqOverride: Option[Double] = None,
        jenkinsEq31: Boolean = false): Column = {
      val levelPred = LEVELS.zipWithIndex.map { case (level, li) =>
        val c = cd.cf(tables, li) _
        val baseEq: Column = eqOverride.map(e => lit(e)).getOrElse(c("equation"))
        val eq =
          if (jenkinsEq31 && level == "JENKINS_SPGRPCD") lit(3.1) else baseEq
        (cd.matched(tables, li), formula(eq, c))
      }
      levelPred.foldRight(lit(null).cast(DoubleType): Column) {
        case ((m, p), acc) => when(m, p).otherwise(acc)
      }
    }

    val cfClosed = closedForm _
    def findHtFormula(dlim: Column)(eq: Column, c: String => Column): Column =
      findHtUdf(col("DBH"), col("THT"), dlim, c("alpha"), c("beta"), c("a"), c("b"), c("c"))
    def volFormula(hl: Column, hu: String, vol: String)(
        eq: Column, c: String => Column): Column =
      volSeg(hl, col(hu), col("THT"), c("alpha"), c("beta"), col(vol))
    def stumpFormula(vol: String)(eq: Column, c: String => Column): Column =
      // findVol(hl=0, hu=1): fixed heights
      volSeg(lit(0), lit(1), col("THT"), c("alpha"), c("beta"), col(vol))
    def htRatFormula(eq: Column, c: String => Column): Column =
      pow(lit(1) - pow(lit(1) - col("ACTUALHT") / col("THT"), c("alpha")), c("beta"))

    def wave(cols: (String, Column)*): Unit = d = d.withColumns(Map(cols: _*))

    // --- volumes (R/predictCRM2.R:40-171), biomass components
    // (R/predictCRM2.R:358-417) and the height/ratio searches, in
    // dependency waves. Every expression is the old per-target one with
    // its interleaved rewrite composed in place (pmax floor, sapling
    // stump mask, broken-top ratio default) — identical values, and
    // identical physical plans after projection collapse.
    // Wave A: reads only base/coefficient columns.
    wave(
      "VTOTIB_GROSS" -> targetCol(Seq("volib"), cfClosed),
      "VTOTBK_GROSS" -> targetCol(Seq("volbk"), cfClosed),
      "HT4" -> pmaxLit(
        targetCol(Seq("rcumob", "volob"), findHtFormula(lit(4.0)), Some(7)), 5),
      "HTSAW" -> pmaxLit(
        targetCol(Seq("rcumob", "volob"), findHtFormula(col("saw")), Some(12)), 5),
      "HT_RAT_ADJ" -> ifelseNa(col("ACTUALHT") < col("THT"),
        targetCol(Seq("rcumib"), htRatFormula, Some(6.1)), lit(1.0)),
      "Total" -> targetCol(Seq("total_biomass"), cfClosed, jenkinsEq31 = true),
      "Bark" -> targetCol(Seq("bark_biomass"), cfClosed),
      "Branch" -> targetCol(Seq("branch_biomass"), cfClosed, jenkinsEq31 = true),
      "FOLIAGE" -> targetCol(Seq("foliage"), cfClosed))
    // Wave B: reads wave A (VTOTIB/HT4/HTSAW).
    wave(
      "VTOTOB_GROSS" -> (col("VTOTIB_GROSS") + col("VTOTBK_GROSS")),
      "VMERIB_GROSS" -> targetCol(Seq("rcumib"),
        volFormula(lit(1), "HT4", "VTOTIB_GROSS"), Some(8)),
      // no stump volumes for saplings (mask composed over eq 10)
      "VSTPIB_GROSS" -> when(col("DBH") < 5.0, lit(null)).otherwise(
        targetCol(Seq("rcumib"), stumpFormula("VTOTIB_GROSS"), Some(10))),
      "VSAWIB_GROSS" -> targetCol(Seq("rcumib"),
        volFormula(lit(1), "HTSAW", "VTOTIB_GROSS"), Some(13)))
    // Wave C: reads VTOTOB_GROSS.
    wave(
      "VMEROB_GROSS" -> targetCol(Seq("rcumib"),
        volFormula(lit(1), "HT4", "VTOTOB_GROSS"), Some(9)),
      "VSTPOB_GROSS" -> when(col("DBH") < 5.0, lit(null)).otherwise(
        targetCol(Seq("rcumib"), stumpFormula("VTOTOB_GROSS"), Some(11))),
      "VSAWOB_GROSS" -> targetCol(Seq("rcumib"),
        volFormula(lit(1), "HTSAW", "VTOTOB_GROSS"), Some(14)))
    // Wave D/E: bark and top differences over the masked stumps.
    wave(
      "VMERBK_GROSS" -> (col("VMEROB_GROSS") - col("VMERIB_GROSS")),
      "VSTPBK_GROSS" -> (col("VSTPOB_GROSS") - col("VSTPIB_GROSS")),
      "VSAWBK_GROSS" -> (col("VSAWOB_GROSS") - col("VSAWIB_GROSS")),
      "VTOPIB_GROSS" -> (col("VTOTIB_GROSS") - col("VMERIB_GROSS") - col("VSTPIB_GROSS")),
      "VTOPOB_GROSS" -> (col("VTOTOB_GROSS") - col("VMEROB_GROSS") - col("VSTPOB_GROSS")))
    wave("VTOPBK_GROSS" -> (col("VTOPOB_GROSS") - col("VTOPIB_GROSS")))

    // --- broken-top present volumes (R/predictCRM2.R:244-289).
    wave(
      "VTOTIB_PRESENT" -> col("VTOTIB_GROSS") * col("HT_RAT_ADJ"),
      "VTOTBK_PRESENT" -> col("VTOTBK_GROSS") * col("HT_RAT_ADJ"),
      "VMERIB_PRESENT" -> ifelseNa(col("ACTUALHT") < col("HT4"),
        (col("VTOTIB_GROSS") * col("HT_RAT_ADJ")) - col("VSTPIB_GROSS"),
        col("VMERIB_GROSS")),
      "VMERBK_PRESENT" -> ifelseNa(col("ACTUALHT") < col("HT4"),
        (col("VTOTBK_GROSS") * col("HT_RAT_ADJ")) - col("VSTPBK_GROSS"),
        col("VMERBK_GROSS")),
      "VSAWIB_PRESENT" -> ifelseNa(col("ACTUALHT") < col("HTSAW"),
        (col("VTOTIB_GROSS") * col("HT_RAT_ADJ")) - col("VSTPIB_GROSS"),
        col("VSAWIB_GROSS")),
      "VSAWBK_PRESENT" -> ifelseNa(col("ACTUALHT") < col("HTSAW"),
        (col("VTOTBK_GROSS") * col("HT_RAT_ADJ")) - col("VSTPBK_GROSS"),
        col("VSAWBK_GROSS")),
      "VSTPIB_PRESENT" -> col("VSTPIB_GROSS"),
      "VSTPBK_PRESENT" -> col("VSTPBK_GROSS"),
      "VSTPOB_PRESENT" -> col("VSTPOB_GROSS"))
    wave(
      "VTOTOB_PRESENT" -> (col("VTOTIB_PRESENT") + col("VTOTBK_PRESENT")),
      "VMEROB_PRESENT" -> (col("VMERIB_PRESENT") + col("VMERBK_PRESENT")),
      "VSAWOB_PRESENT" -> (col("VSAWIB_PRESENT") + col("VSAWBK_PRESENT")),
      "VTOPIB_PRESENT" ->
        (col("VTOTIB_PRESENT") - col("VMERIB_PRESENT") - col("VSTPIB_PRESENT")),
      "VTOPBK_PRESENT" ->
        (col("VTOTBK_PRESENT") - col("VMERBK_PRESENT") - col("VSTPBK_PRESENT")))
    wave("VTOPOB_PRESENT" -> (col("VTOPIB_PRESENT") + col("VTOPBK_PRESENT")))

    // broken top below bole height -> top vols zero
    val topZero = (col("ACTUALHT") < col("HT4")) && col("HT4").isNotNull
    wave(Seq("VTOPIB_PRESENT", "VTOPBK_PRESENT", "VTOPOB_PRESENT")
      .map(c0 => c0 -> when(topZero, lit(0.0)).otherwise(col(c0))): _*)

    // --- cull/sound reductions (R/predictCRM2.R:292-324)
    wave("SND_WOOD_DECAY" ->
      ifelseNa(col("CULL") < 99, lit(1) - col("CULL") / 100, lit(0.0)))
    wave(
      (Seq("VTOTIB", "VMERIB", "VSTPIB", "VTOPIB", "VSAWIB")
        .map(b => s"${b}_SOUND" -> col(s"${b}_PRESENT") * col("SND_WOOD_DECAY")) ++
        Seq("VTOTBK", "VSTPBK", "VMERBK", "VTOPBK", "VSAWBK")
          .map(b => s"${b}_SOUND" -> col(s"${b}_PRESENT") * col("DECAY_BK"))): _*)
    wave(Seq("VTOT", "VMER", "VSTP", "VTOP", "VSAW")
      .map(b => s"${b}OB_SOUND" -> (col(s"${b}IB_SOUND") + col(s"${b}BK_SOUND"))): _*)

    // --- sawlog minimum DBH (9" softwood / 11" hardwood) -> NA
    val sawCols = Seq(
      "VSAWIB_GROSS", "VSAWOB_GROSS", "VSAWBK_GROSS",
      "VSAWIB_PRESENT", "VSAWOB_PRESENT", "VSAWBK_PRESENT",
      "VSAWIB_SOUND", "VSAWOB_SOUND", "VSAWBK_SOUND")
    val sawNa =
      (col("SFTWD_HRDWD") === "S" && col("DBH") < 9.0 && col("DBH").isNotNull) ||
        (col("SFTWD_HRDWD") === "H" && col("DBH") < 11.0 && col("DBH").isNotNull)
    wave(sawCols.map(c0 => c0 -> when(sawNa, lit(null)).otherwise(col(c0))): _*)

    // (biomass components Total/Bark/Branch/FOLIAGE ride wave A above —
    // they read only base/coefficient columns)

    // --- weights + reduction factors (R/predictCRM2.R:419-466)
    wave(
      "Wood" -> col("VTOTIB_GROSS") * col("WDSG") * 62.4,
      "CULL_REDUCTION" -> ifelseNa(col("STANDING_DEAD_CD") < 1,
        lit(1) - ((lit(1) - col("CULL_DECAY_RATIO")) * col("CULL")) / 100,
        lit(1.0)),
      "BARK_REDUCTION" -> col("HT_RAT_ADJ") * col("DECAY_BK") * col("DECAY_WD"),
      "CR" -> pmaxLit(col("CR"), 1))
    wave(
      "WOOD_REDUCTION" ->
        col("HT_RAT_ADJ") * col("CULL_REDUCTION") * col("DECAY_WD"),
      // composed: the base crown proportion, then the standing-dead
      // override (R does two mutates; same value)
      "CRprop_HT" -> ifelseNa(
        col("STANDING_DEAD_CD") === 1,
        col("CRmn") / 100,
        lit(1) - (col("ACTUALHT") / col("THT")) * (lit(1) - col("CR") / 100)))
    wave("broken_crn_prop" -> pmaxLit2(
      (col("ACTUALHT") - (lit(1) - col("CRprop_HT")) * col("THT")) /
        (col("CRprop_HT") * col("THT")),
      lit(0.0)))
    wave("broken_crn_prop" ->
      when(!col("BROKEN_TOP"), lit(1.0)).otherwise(
        ifelseNa(col("broken_crn_prop") < 0.01, lit(0.0), col("broken_crn_prop"))))
    wave(
      "BRANCH_REDUCTION" ->
        col("broken_crn_prop") * col("DECAY_BR") * col("DECAY_WD"),
      "FOLIAGE_REDUCTION" ->
        ifelseNa(col("STANDING_DEAD_CD") === 1, lit(0.0), col("broken_crn_prop")))

    // --- component harmonization (R/predictCRM2.R:469-505)
    wave(
      "Wood_Reduced" -> col("Wood") * col("WOOD_REDUCTION"),
      "Bark_Reduced" -> col("Bark") * col("BARK_REDUCTION"),
      "Branch_Reduced" -> col("Branch") * col("BRANCH_REDUCTION"),
      "Foliage_Reduced" -> col("FOLIAGE") * col("FOLIAGE_REDUCTION"))
    wave(
      "AGB_Reduction_Factor" ->
        (col("Wood_Reduced") + col("Bark_Reduced") + col("Branch_Reduced")) /
          (col("Wood") + col("Bark") + col("Branch")),
      "TotalC" ->
        (col("Wood_Reduced") + col("Bark_Reduced") + col("Branch_Reduced")))
    wave("Total_Reduced" -> col("Total") * col("AGB_Reduction_Factor"))
    wave("Diff" -> (col("Total_Reduced") - col("TotalC")))
    wave(
      "WoodF" -> ((col("Diff") * (col("Wood_Reduced") / col("TotalC"))) + col("Wood_Reduced")),
      "BarkF" -> ((col("Diff") * (col("Bark_Reduced") / col("TotalC"))) + col("Bark_Reduced")),
      "BranchF" -> ((col("Diff") * (col("Branch_Reduced") / col("TotalC"))) + col("Branch_Reduced")))

    // --- per-segment weights via adjusted specific gravities (L508-546)
    wave(
      "WDSGAdj" -> col("WoodF") / col("VTOTIB_PRESENT") / 62.4,
      "BKSGAdj" -> col("BarkF") / col("VTOTBK_PRESENT") / 62.4)
    val segs = Seq("WMER" -> "VMER", "WSTP" -> "VSTP", "WTOP" -> "VTOP", "WSAW" -> "VSAW")
    wave(segs.flatMap { case (seg, v) =>
      Seq(
        s"${seg}IB" -> col(s"${v}IB_PRESENT") * col("WDSGAdj") * 62.4,
        s"${seg}BK" -> col(s"${v}BK_PRESENT") * col("BKSGAdj") * 62.4)
    }: _*)
    wave(segs.map { case (seg, _) =>
      s"${seg}OB" -> (col(s"${seg}IB") + col(s"${seg}BK"))
    }: _*)
    wave(
      "WTOTIB" -> col("WoodF"),
      "WTOTBK" -> col("BarkF"),
      "WTOTOB" -> (col("WoodF") + col("BarkF")),
      "WTOTBCH" -> col("BranchF"),
      "FOLIAGE" -> col("Foliage_Reduced"),
      "BIOMASS" -> col("Total_Reduced"))
    wave(
      "WMERBCH" -> (col("WTOTBCH") + col("WTOPOB")),
      "CARBON" -> col("BIOMASS") * (col("C_FRAC") / 100),
      "AGB" -> (col("BIOMASS") + col("FOLIAGE")))

    // --- sapling NA-ing (R/predictCRM2.R:550-579)
    val sapCols = Seq(
      "VMERBK_GROSS", "VMERBK_SOUND", "VMERIB_GROSS", "VMERIB_SOUND",
      "VSAWBK_GROSS", "VSAWBK_SOUND", "VSAWIB_GROSS", "VSAWIB_SOUND",
      "VSTPBK_GROSS", "VSTPBK_SOUND", "VSTPIB_GROSS", "VSTPIB_SOUND",
      "VTOPBK_GROSS", "VTOPBK_SOUND", "VTOPIB_GROSS", "VTOPIB_SOUND",
      "WMERBK", "WMERIB", "WSTPBK", "WSTPIB", "WTOPBK", "WTOPIB")
    wave(sapCols.map(c0 => c0 -> when(col("DBH") < 5, lit(null)).otherwise(col(c0))): _*)

    d.drop(cd.scratch(d): _*)
  }

  /** R `pmax(x, y)` with column y — null-propagating. */
  private def pmaxLit2(x: Column, y: Column): Column =
    when(x.isNull || y.isNull, lit(null)).otherwise(greatest(x, y))
}
