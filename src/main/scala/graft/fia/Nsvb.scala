package graft.fia

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** NSVB (National Scale Volume and Biomass) prediction: `predictCRM2()`
  * (`R/predictCRM2.R:4-626`, Westfall et al. 2024) as ONE per-row kernel.
  *
  * A tree-year is a [[Tree]] whose every target is a `lazy val`, so a
  * caller pays only for what it reads: the carbon estimate reads BIOMASS
  * and CARBON and never runs the [[findHt]] search. Coefficients come from
  * maps keyed by the three fallback levels (SPCD_DIVISION, SPCD,
  * JENKINS_SPGRPCD), parsed once per JVM from the bundled CSVs: no join
  * and no broadcast job. The first level at which every table of a
  * target has a row wins, even when its prediction is null; a row matched
  * at no level predicts null.
  *
  * In a plan the kernel is one expression, [[NsvbKernel]] (a struct of
  * the requested targets) whose generated code reads the inputs as
  * primitives. Each operator keeps the semantics of the Column expression
  * it stands for (NsvbSemanticsSpec): `pow`/`exp` are `StrictMath`'s, as
  * in Spark's `Pow`/`Exp`; `+ - * /` keep their association order; a null
  * input yields null; comparisons follow `SQLOrderingUtil` (NaN largest,
  * NaN = NaN); a zero divisor raises DIVIDE_BY_ZERO (the session is ANSI);
  * R's `ifelse(NA, ..)` is null and its `pmax` propagates null.
  */
object Nsvb {

  // ---- SQL semantics over primitive doubles ----

  /** SQL NULL among the kernel's doubles: a quiet-NaN bit pattern that no
    * arithmetic yields from the canonical NaNs [[arg]] admits. Every
    * operator tests for it first, so it never reaches arithmetic. */
  private final val NullBits = 0x7ff8_0000_00c0_ffeeL
  val Null: Double = java.lang.Double.longBitsToDouble(NullBits)
  private[graft] def isNull(x: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(x) == NullBits
  /** A kernel input: NULL, else the value with any NaN made canonical. */
  def arg(isNull: Boolean, x: Double): Double = if (isNull) Null else if (x != x) Double.NaN else x

  // SQL booleans are ints: 1 TRUE, 0 FALSE, -1 NULL; a `when` fires on TRUE
  private[graft] def lt(a: Double, b: Double): Int =
    if (isNull(a) || isNull(b)) -1 else if (SQLOrderingUtil.compareDoubles(a, b) < 0) 1 else 0
  private[graft] def equal(a: Double, b: Double): Int =
    if (isNull(a) || isNull(b)) -1 else if (SQLOrderingUtil.compareDoubles(a, b) == 0) 1 else 0
  private[graft] def eqStr(a: UTF8String, b: UTF8String): Int = if (a == null) -1 else if (a == b) 1 else 0
  private[graft] def notNull(a: Double): Int = if (isNull(a)) 0 else 1
  private[graft] def not(c: Int): Int = if (c < 0) c else 1 - c
  private[graft] def and(a: Int, b: Int): Int = if (a == 0 || b == 0) 0 else if (a < 0 || b < 0) -1 else 1
  private[graft] def or(a: Int, b: Int): Int = if (a == 1 || b == 1) 1 else if (a < 0 || b < 0) -1 else 0
  /** `when(c, a).otherwise(b)`. */
  private[graft] def when(c: Int, a: => Double, b: => Double): Double = if (c == 1) a else b
  /** R `ifelse(c, a, b)`: `when(c, a).when(!c, b)`, NULL on a NULL `c`. */
  private[graft] def ifelse(c: Int, a: => Double, b: => Double): Double =
    if (c == 1) a else if (c == 0) b else Null

  private[graft] def add(a: Double, b: Double): Double = if (isNull(a) || isNull(b)) Null else a + b
  private[graft] def sub(a: Double, b: Double): Double = if (isNull(a) || isNull(b)) Null else a - b
  private[graft] def mul(a: Double, b: Double): Double = if (isNull(a) || isNull(b)) Null else a * b
  private[graft] def div(a: Double, b: Double): Double =
    if (isNull(a) || isNull(b)) Null
    else if (b == 0) throw GraftBridge.divideByZero()
    else a / b
  private[graft] def neg(a: Double): Double = if (isNull(a)) Null else -a
  private[graft] def pow(a: Double, b: Double): Double =
    if (isNull(a) || isNull(b)) Null else StrictMath.pow(a, b)
  private[graft] def exp(a: Double): Double = if (isNull(a)) Null else StrictMath.exp(a)
  /** Spark `greatest`: skips NULL; of equal values keeps the first. */
  private[graft] def greatest(a: Double, b: Double): Double =
    if (isNull(a)) b else if (isNull(b) || SQLOrderingUtil.compareDoubles(b, a) <= 0) a else b
  /** R `pmax(a, b)`: NULL when either is. */
  private[graft] def pmax(a: Double, b: Double): Double =
    if (isNull(a) || isNull(b)) Null else greatest(a, b)

  // ---- coefficients ----

  private val coefCols = Seq("a", "b", "c", "b2", "a0", "b0", "b1", "a1", "c1", "alpha", "beta", "equation")
  private final val A = 0; private final val B = 1; private final val C = 2
  private final val B2 = 3; private final val A0 = 4; private final val B0 = 5
  private final val B1 = 6; private final val A1 = 7; private final val C1 = 8
  private final val ALPHA = 9; private final val BETA = 10; private final val EQ = 11
  // tables, in `RefData.coefNames` order
  private final val VOLIB = 0; private final val VOLBK = 1; private final val VOLOB = 2
  private final val RCUMIB = 3; private final val RCUMOB = 4; private final val TOTAL = 5
  private final val BARK = 6; private final val BRANCH = 7; private final val FOLIAGE = 8

  /** Per fallback level: key -> per table the row's coefficients (by
    * `coefCols`, NULL where absent or NA), or null where the table has no
    * row for the key. String keys are `UTF8String`s, JENKINS keys ints. */
  private lazy val levels: Array[java.util.HashMap[Any, Array[Array[Double]]]] = {
    val parsed = RefData.coefNames.map(RefData.coefsLocal)
    Array("SPCD_DIVISION", "SPCD", "JENKINS_SPGRPCD").map { level =>
      val byKey = new java.util.HashMap[Any, Array[Array[Double]]]
      for (((schema, rows), t) <- parsed.zipWithIndex; r <- rows if !r.isNullAt(schema.fieldIndex(level))) {
        val key = r.get(schema.fieldIndex(level)) match {
          case s: String => UTF8String.fromString(s)
          case k => k
        }
        byKey.computeIfAbsent(key, _ => new Array(parsed.size))(t) = coefCols.map { c =>
          if (!schema.fieldNames.contains(c) || r.isNullAt(schema.fieldIndex(c))) Null
          else r.getDouble(schema.fieldIndex(c))
        }.toArray
      }
      byKey
    }
  }

  // ---- the kernel ----

  /** Numeric inputs (booleans and ints as doubles), then string inputs. */
  val numInputs: Seq[String] = Seq("DBH", "THT", "ACTUALHT", "CR", "CRmn", "WDSG", "CULL",
    "SPCD_NUMERIC", "JENKINS_SPGRPCD", "STANDING_DEAD_CD", "CULL_DECAY_RATIO",
    "DECAY_WD", "DECAY_BK", "DECAY_BR", "C_FRAC", "BROKEN_TOP")
  val strInputs: Seq[String] = Seq("SPCD", "SPCD_DIVISION", "SFTWD_HRDWD")

  /** kz-objective merch height search (`R/predictCRM2.R:729-765`):
    * height at which stem diameter tapers to `dlim`. */
  def findHt(dbh: Double, tht: Double, dlim: Double,
      alpha: Double, beta: Double, a: Double, b: Double, c: Double): Double = {
    // taper-derived diameter at height h (op order matches the R source);
    // `k0` is the h-invariant prefix of the left-associated product,
    // computed by the identical op sequence, hoisted out of the loop
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

  /** One tree-year's targets, named as `predictCRM2()` names them, each
    * computed at most once, on first read. Where the DAG computed a
    * column for every row before a CASE read it (the crown share of
    * broken_crn_prop), the target reads it before branching, so a zero
    * divisor raises where it did. */
  private[fia] final class Tree(x: Array[Double], s: Array[UTF8String]) {
    private val dbh = x(0); private val tht = x(1); private val aht = x(2)
    private val cr = x(3); private val crmn = x(4); private val wdsg = x(5)
    private val cull = x(6); private val spcdNum = x(7); private val jenkins = x(8)
    private val sdc = x(9); private val cullDecayRatio = x(10); private val decayWd = x(11)
    private val decayBk = x(12); private val decayBr = x(13); private val cFrac = x(14)
    private val brokenTop = if (isNull(x(15))) -1 else if (x(15) != 0) 1 else 0
    private val sftwdHrdwd = s(2)
    // per level, the key's coefficient rows (null: no table has the key)
    private val byLevel = Array(levels(0).get(s(1)), levels(1).get(s(0)),
      if (isNull(jenkins)) null else levels(2).get(jenkins.toInt))

    /** The first level at which tables `t` and `u` (when >= 0) have rows. */
    private def level(t: Int, u: Int = -1): Int =
      byLevel.indexWhere(r => r != null && r(t) != null && (u < 0 || r(u) != null))
    private def coefs(t: Int): Array[Double] = {
      val li = level(t)
      if (li < 0) null else byLevel(li)(t)
    }

    /** Closed forms 3, 3.1, 4, 5, 50 (`equation_forms_and_calls.csv`) of
      * table `t`; with `eq31` the JENKINS level uses 3.1. */
    private def closed(t: Int, eq31: Boolean = false): Double = {
      val li = level(t)
      if (li < 0) return Null
      val c = byLevel(li)(t)
      val e = if (eq31 && li == 2) 3.1 else c(EQ)
      def abc = mul(mul(c(A), pow(dbh, c(B))), pow(tht, c(C)))
      if (equal(e, 3.0) == 1) abc
      else if (equal(e, 3.1) == 1) mul(abc, wdsg)
      else if (equal(e, 4.0) == 1) {
        val small = lt(dbh, k)
        if (small == 1) mul(mul(c(A0), pow(dbh, c(B0))), pow(tht, c(C)))
        else if (not(small) == 1)
          mul(mul(mul(c(A0), pow(k, sub(c(B0), c(B1)))), pow(dbh, c(B1))), pow(tht, c(C)))
        else Null
      } else if (equal(e, 5.0) == 1)
        mul(mul(c(A), pow(dbh, mul(c(A1), pow(sub(1, exp(mul(neg(c(B1)), dbh))), c(C1))))),
          pow(tht, c(C)))
      else if (equal(e, 50.0) == 1) mul(abc, exp(neg(mul(c(B2), dbh))))
      else Null
    }

    /** [[findHt]] with `rcumob`'s taper and `volob`'s volume; null for
      * saplings and on any null argument. */
    private def height(dlim: Double): Double = {
      val li = level(RCUMOB, VOLOB)
      if (li < 0) return Null
      val r = byLevel(li)(RCUMOB); val v = byLevel(li)(VOLOB)
      val args = Seq(dbh, tht, dlim, r(ALPHA), r(BETA), v(A), v(B), v(C))
      if (args.exists(isNull) || dbh < 5.0) Null
      else findHt(dbh, tht, dlim, r(ALPHA), r(BETA), v(A), v(B), v(C))
    }

    /** `findVol` (`R/predictCRM2.R:767-785`): the share of `vol` between
      * heights `hl` and `hu`, by `rcumib`'s taper. */
    private def volSeg(hl: Double, hu: Double, vol: Double): Double = {
      val c = coefs(RCUMIB)
      def below(h: Double) = mul(pow(sub(1, pow(sub(1, div(h, tht)), c(ALPHA))), c(BETA)), vol)
      if (c == null) Null else sub(below(hu), below(hl))
    }

    private def sapling(v: Double): Double = when(lt(dbh, 5), Null, v)
    private lazy val sawNa = or(
      and(and(eqStr(sftwdHrdwd, S), lt(dbh, 9.0)), notNull(dbh)),
      and(and(eqStr(sftwdHrdwd, H), lt(dbh, 11.0)), notNull(dbh)))
    private def sawMin(v: Double): Double = when(sawNa, Null, v)

    lazy val SPCD_NUMERIC: Double = spcdNum
    lazy val k: Double = if (lt(spcdNum, 300) == 1) 9.0 else 11.0
    lazy val saw: Double = if (lt(spcdNum, 300) == 1) 7.0 else 9.0

    // gross volumes (R/predictCRM2.R:40-171) and heights
    lazy val VTOTIB_GROSS: Double = closed(VOLIB)
    lazy val VTOTBK_GROSS: Double = closed(VOLBK)
    lazy val VTOTOB_GROSS: Double = add(VTOTIB_GROSS, VTOTBK_GROSS)
    lazy val HT4: Double = pmax(height(4.0), 5)
    lazy val HTSAW: Double = pmax(height(saw), 5)
    lazy val HT_RAT_ADJ: Double = ifelse(lt(aht, tht), {
      val c = coefs(RCUMIB)
      if (c == null) Null else pow(sub(1, pow(sub(1, div(aht, tht)), c(ALPHA))), c(BETA))
    }, 1.0)
    private lazy val vmeribGross = volSeg(1, HT4, VTOTIB_GROSS)
    private lazy val vstpibGross = when(lt(dbh, 5.0), Null, volSeg(0, 1, VTOTIB_GROSS))
    private lazy val vsawibGross = volSeg(1, HTSAW, VTOTIB_GROSS)
    lazy val VMEROB_GROSS: Double = volSeg(1, HT4, VTOTOB_GROSS)
    lazy val VSTPOB_GROSS: Double = when(lt(dbh, 5.0), Null, volSeg(0, 1, VTOTOB_GROSS))
    private lazy val vsawobGross = volSeg(1, HTSAW, VTOTOB_GROSS)
    private lazy val vmerbkGross = sub(VMEROB_GROSS, vmeribGross)
    private lazy val vstpbkGross = sub(VSTPOB_GROSS, vstpibGross)
    private lazy val vsawbkGross = sub(vsawobGross, vsawibGross)
    private lazy val vtopibGross = sub(sub(VTOTIB_GROSS, vmeribGross), vstpibGross)
    lazy val VTOPOB_GROSS: Double = sub(sub(VTOTOB_GROSS, VMEROB_GROSS), VSTPOB_GROSS)
    lazy val VMERIB_GROSS: Double = sapling(vmeribGross)
    lazy val VSTPIB_GROSS: Double = sapling(vstpibGross)
    lazy val VSAWIB_GROSS: Double = sapling(sawMin(vsawibGross))
    lazy val VSAWOB_GROSS: Double = sawMin(vsawobGross)
    lazy val VMERBK_GROSS: Double = sapling(vmerbkGross)
    lazy val VSTPBK_GROSS: Double = sapling(vstpbkGross)
    lazy val VSAWBK_GROSS: Double = sapling(sawMin(vsawbkGross))
    lazy val VTOPIB_GROSS: Double = sapling(vtopibGross)
    lazy val VTOPBK_GROSS: Double = sapling(sub(VTOPOB_GROSS, vtopibGross))

    // broken-top present volumes (R/predictCRM2.R:244-289)
    lazy val VTOTIB_PRESENT: Double = mul(VTOTIB_GROSS, HT_RAT_ADJ)
    lazy val VTOTBK_PRESENT: Double = mul(VTOTBK_GROSS, HT_RAT_ADJ)
    lazy val VTOTOB_PRESENT: Double = add(VTOTIB_PRESENT, VTOTBK_PRESENT)
    private def present(below: Int, ib: Boolean, whole: Double): Double = {
      val (tot, stp) = if (ib) (VTOTIB_GROSS, vstpibGross) else (VTOTBK_GROSS, vstpbkGross)
      ifelse(below, sub(mul(tot, HT_RAT_ADJ), stp), whole)
    }
    lazy val VMERIB_PRESENT: Double = present(lt(aht, HT4), ib = true, vmeribGross)
    lazy val VMERBK_PRESENT: Double = present(lt(aht, HT4), ib = false, vmerbkGross)
    lazy val VMEROB_PRESENT: Double = add(VMERIB_PRESENT, VMERBK_PRESENT)
    private lazy val vsawibPresent = present(lt(aht, HTSAW), ib = true, vsawibGross)
    private lazy val vsawbkPresent = present(lt(aht, HTSAW), ib = false, vsawbkGross)
    lazy val VSAWIB_PRESENT: Double = sawMin(vsawibPresent)
    lazy val VSAWBK_PRESENT: Double = sawMin(vsawbkPresent)
    lazy val VSAWOB_PRESENT: Double = sawMin(add(vsawibPresent, vsawbkPresent))
    lazy val VSTPIB_PRESENT: Double = vstpibGross
    lazy val VSTPBK_PRESENT: Double = vstpbkGross
    lazy val VSTPOB_PRESENT: Double = VSTPOB_GROSS
    private lazy val vtopibPresent = sub(sub(VTOTIB_PRESENT, VMERIB_PRESENT), VSTPIB_PRESENT)
    private lazy val vtopbkPresent = sub(sub(VTOTBK_PRESENT, VMERBK_PRESENT), VSTPBK_PRESENT)
    // a top broken below bole height has no top volume
    private def top(v: Double): Double = when(and(lt(aht, HT4), notNull(HT4)), 0.0, v)
    lazy val VTOPIB_PRESENT: Double = top(vtopibPresent)
    lazy val VTOPBK_PRESENT: Double = top(vtopbkPresent)
    lazy val VTOPOB_PRESENT: Double = top(add(vtopibPresent, vtopbkPresent))

    // cull and decay reductions (R/predictCRM2.R:292-324)
    lazy val SND_WOOD_DECAY: Double = ifelse(lt(cull, 99), sub(1, div(cull, 100)), 0.0)
    lazy val VTOTIB_SOUND: Double = mul(VTOTIB_PRESENT, SND_WOOD_DECAY)
    private lazy val vmeribSound = mul(VMERIB_PRESENT, SND_WOOD_DECAY)
    private lazy val vstpibSound = mul(VSTPIB_PRESENT, SND_WOOD_DECAY)
    private lazy val vtopibSound = mul(VTOPIB_PRESENT, SND_WOOD_DECAY)
    private lazy val vsawibSound = mul(vsawibPresent, SND_WOOD_DECAY)
    lazy val VTOTBK_SOUND: Double = mul(VTOTBK_PRESENT, decayBk)
    private lazy val vmerbkSound = mul(VMERBK_PRESENT, decayBk)
    private lazy val vstpbkSound = mul(VSTPBK_PRESENT, decayBk)
    private lazy val vtopbkSound = mul(VTOPBK_PRESENT, decayBk)
    private lazy val vsawbkSound = mul(vsawbkPresent, decayBk)
    lazy val VTOTOB_SOUND: Double = add(VTOTIB_SOUND, VTOTBK_SOUND)
    lazy val VMEROB_SOUND: Double = add(vmeribSound, vmerbkSound)
    lazy val VSTPOB_SOUND: Double = add(vstpibSound, vstpbkSound)
    lazy val VTOPOB_SOUND: Double = add(vtopibSound, vtopbkSound)
    lazy val VSAWOB_SOUND: Double = sawMin(add(vsawibSound, vsawbkSound))
    lazy val VMERIB_SOUND: Double = sapling(vmeribSound)
    lazy val VSTPIB_SOUND: Double = sapling(vstpibSound)
    lazy val VTOPIB_SOUND: Double = sapling(vtopibSound)
    lazy val VSAWIB_SOUND: Double = sapling(sawMin(vsawibSound))
    lazy val VMERBK_SOUND: Double = sapling(vmerbkSound)
    lazy val VSTPBK_SOUND: Double = sapling(vstpbkSound)
    lazy val VTOPBK_SOUND: Double = sapling(vtopbkSound)
    lazy val VSAWBK_SOUND: Double = sapling(sawMin(vsawbkSound))

    // biomass components (R/predictCRM2.R:358-417) and their reductions
    // (R/predictCRM2.R:419-466)
    lazy val Total: Double = closed(TOTAL, eq31 = true)
    lazy val Bark: Double = closed(BARK)
    lazy val Branch: Double = closed(BRANCH, eq31 = true)
    private lazy val foliage = closed(FOLIAGE)
    lazy val Wood: Double = mul(mul(VTOTIB_GROSS, wdsg), 62.4)
    lazy val CULL_REDUCTION: Double = ifelse(lt(sdc, 1),
      sub(1, div(mul(sub(1, cullDecayRatio), cull), 100)), 1.0)
    lazy val BARK_REDUCTION: Double = mul(mul(HT_RAT_ADJ, decayBk), decayWd)
    lazy val CR: Double = pmax(cr, 1)
    lazy val WOOD_REDUCTION: Double = mul(mul(HT_RAT_ADJ, CULL_REDUCTION), decayWd)
    lazy val CRprop_HT: Double = ifelse(equal(sdc, 1), div(crmn, 100),
      sub(1, mul(div(aht, tht), sub(1, div(CR, 100)))))
    private lazy val crownShare = pmax(
      div(sub(aht, mul(sub(1, CRprop_HT), tht)), mul(CRprop_HT, tht)), 0.0)
    lazy val broken_crn_prop: Double = {
      val share = crownShare
      when(not(brokenTop), 1.0, ifelse(lt(share, 0.01), 0.0, share))
    }
    lazy val BRANCH_REDUCTION: Double = mul(mul(broken_crn_prop, decayBr), decayWd)
    lazy val FOLIAGE_REDUCTION: Double = ifelse(equal(sdc, 1), 0.0, broken_crn_prop)

    // component harmonization (R/predictCRM2.R:469-505)
    lazy val Wood_Reduced: Double = mul(Wood, WOOD_REDUCTION)
    lazy val Bark_Reduced: Double = mul(Bark, BARK_REDUCTION)
    lazy val Branch_Reduced: Double = mul(Branch, BRANCH_REDUCTION)
    lazy val Foliage_Reduced: Double = mul(foliage, FOLIAGE_REDUCTION)
    lazy val TotalC: Double = add(add(Wood_Reduced, Bark_Reduced), Branch_Reduced)
    lazy val AGB_Reduction_Factor: Double = div(TotalC, add(add(Wood, Bark), Branch))
    lazy val Total_Reduced: Double = mul(Total, AGB_Reduction_Factor)
    lazy val Diff: Double = sub(Total_Reduced, TotalC)
    private def harmonized(reduced: Double) = add(mul(Diff, div(reduced, TotalC)), reduced)
    lazy val WoodF: Double = harmonized(Wood_Reduced)
    lazy val BarkF: Double = harmonized(Bark_Reduced)
    lazy val BranchF: Double = harmonized(Branch_Reduced)

    // per-segment weights via adjusted specific gravities (L508-546)
    lazy val WDSGAdj: Double = div(div(WoodF, VTOTIB_PRESENT), 62.4)
    lazy val BKSGAdj: Double = div(div(BarkF, VTOTBK_PRESENT), 62.4)
    private def ib(v: Double) = mul(mul(v, WDSGAdj), 62.4)
    private def bk(v: Double) = mul(mul(v, BKSGAdj), 62.4)
    lazy val WMEROB: Double = add(ib(VMERIB_PRESENT), bk(VMERBK_PRESENT))
    lazy val WSTPOB: Double = add(ib(VSTPIB_PRESENT), bk(VSTPBK_PRESENT))
    lazy val WTOPOB: Double = add(ib(VTOPIB_PRESENT), bk(VTOPBK_PRESENT))
    lazy val WSAWOB: Double = add(ib(VSAWIB_PRESENT), bk(VSAWBK_PRESENT))
    lazy val WMERIB: Double = sapling(ib(VMERIB_PRESENT))
    lazy val WMERBK: Double = sapling(bk(VMERBK_PRESENT))
    lazy val WSTPIB: Double = sapling(ib(VSTPIB_PRESENT))
    lazy val WSTPBK: Double = sapling(bk(VSTPBK_PRESENT))
    lazy val WTOPIB: Double = sapling(ib(VTOPIB_PRESENT))
    lazy val WTOPBK: Double = sapling(bk(VTOPBK_PRESENT))
    lazy val WSAWIB: Double = ib(VSAWIB_PRESENT)
    lazy val WSAWBK: Double = bk(VSAWBK_PRESENT)
    lazy val WTOTOB: Double = add(WoodF, BarkF)
    lazy val WMERBCH: Double = add(BranchF, WTOPOB)
    lazy val BIOMASS: Double = Total_Reduced
    lazy val CARBON: Double = mul(BIOMASS, div(cFrac, 100))
    lazy val AGB: Double = add(BIOMASS, Foliage_Reduced)
  }
  private val S = UTF8String.fromString("S")
  private val H = UTF8String.fromString("H")

  /** Every target, in `predict`'s column order. */
  private val targets: IndexedSeq[(String, Tree => Double)] = Vector(
    "SPCD_NUMERIC" -> (_.SPCD_NUMERIC), "k" -> (_.k), "saw" -> (_.saw),
    "VTOTIB_GROSS" -> (_.VTOTIB_GROSS), "VTOTBK_GROSS" -> (_.VTOTBK_GROSS),
    "HT_RAT_ADJ" -> (_.HT_RAT_ADJ), "FOLIAGE" -> (_.Foliage_Reduced), "Bark" -> (_.Bark),
    "Total" -> (_.Total), "HTSAW" -> (_.HTSAW), "HT4" -> (_.HT4), "Branch" -> (_.Branch),
    "VTOTOB_GROSS" -> (_.VTOTOB_GROSS), "VMERIB_GROSS" -> (_.VMERIB_GROSS),
    "VSTPIB_GROSS" -> (_.VSTPIB_GROSS), "VSAWIB_GROSS" -> (_.VSAWIB_GROSS),
    "VMEROB_GROSS" -> (_.VMEROB_GROSS), "VSTPOB_GROSS" -> (_.VSTPOB_GROSS),
    "VSAWOB_GROSS" -> (_.VSAWOB_GROSS), "VTOPIB_GROSS" -> (_.VTOPIB_GROSS),
    "VTOPOB_GROSS" -> (_.VTOPOB_GROSS), "VSAWBK_GROSS" -> (_.VSAWBK_GROSS),
    "VMERBK_GROSS" -> (_.VMERBK_GROSS), "VSTPBK_GROSS" -> (_.VSTPBK_GROSS),
    "VTOPBK_GROSS" -> (_.VTOPBK_GROSS), "VSAWIB_PRESENT" -> (_.VSAWIB_PRESENT),
    "VTOTIB_PRESENT" -> (_.VTOTIB_PRESENT), "VTOTBK_PRESENT" -> (_.VTOTBK_PRESENT),
    "VSTPBK_PRESENT" -> (_.VSTPBK_PRESENT), "VSTPOB_PRESENT" -> (_.VSTPOB_PRESENT),
    "VSAWBK_PRESENT" -> (_.VSAWBK_PRESENT), "VMERIB_PRESENT" -> (_.VMERIB_PRESENT),
    "VSTPIB_PRESENT" -> (_.VSTPIB_PRESENT), "VMERBK_PRESENT" -> (_.VMERBK_PRESENT),
    "VMEROB_PRESENT" -> (_.VMEROB_PRESENT), "VTOTOB_PRESENT" -> (_.VTOTOB_PRESENT),
    "VTOPBK_PRESENT" -> (_.VTOPBK_PRESENT), "VTOPIB_PRESENT" -> (_.VTOPIB_PRESENT),
    "VSAWOB_PRESENT" -> (_.VSAWOB_PRESENT), "VTOPOB_PRESENT" -> (_.VTOPOB_PRESENT),
    "SND_WOOD_DECAY" -> (_.SND_WOOD_DECAY), "VTOPIB_SOUND" -> (_.VTOPIB_SOUND),
    "VMERBK_SOUND" -> (_.VMERBK_SOUND), "VSTPBK_SOUND" -> (_.VSTPBK_SOUND),
    "VTOPBK_SOUND" -> (_.VTOPBK_SOUND), "VMERIB_SOUND" -> (_.VMERIB_SOUND),
    "VSAWIB_SOUND" -> (_.VSAWIB_SOUND), "VTOTIB_SOUND" -> (_.VTOTIB_SOUND),
    "VTOTBK_SOUND" -> (_.VTOTBK_SOUND), "VSTPIB_SOUND" -> (_.VSTPIB_SOUND),
    "VSAWBK_SOUND" -> (_.VSAWBK_SOUND), "VTOPOB_SOUND" -> (_.VTOPOB_SOUND),
    "VTOTOB_SOUND" -> (_.VTOTOB_SOUND), "VSTPOB_SOUND" -> (_.VSTPOB_SOUND),
    "VSAWOB_SOUND" -> (_.VSAWOB_SOUND), "VMEROB_SOUND" -> (_.VMEROB_SOUND),
    "Wood" -> (_.Wood), "CULL_REDUCTION" -> (_.CULL_REDUCTION),
    "BARK_REDUCTION" -> (_.BARK_REDUCTION), "WOOD_REDUCTION" -> (_.WOOD_REDUCTION),
    "CRprop_HT" -> (_.CRprop_HT), "broken_crn_prop" -> (_.broken_crn_prop),
    "BRANCH_REDUCTION" -> (_.BRANCH_REDUCTION), "FOLIAGE_REDUCTION" -> (_.FOLIAGE_REDUCTION),
    "Wood_Reduced" -> (_.Wood_Reduced), "Bark_Reduced" -> (_.Bark_Reduced),
    "Branch_Reduced" -> (_.Branch_Reduced), "Foliage_Reduced" -> (_.Foliage_Reduced),
    "AGB_Reduction_Factor" -> (_.AGB_Reduction_Factor), "TotalC" -> (_.TotalC),
    "Total_Reduced" -> (_.Total_Reduced), "Diff" -> (_.Diff), "WoodF" -> (_.WoodF),
    "BarkF" -> (_.BarkF), "BranchF" -> (_.BranchF), "WDSGAdj" -> (_.WDSGAdj),
    "BKSGAdj" -> (_.BKSGAdj), "WSTPIB" -> (_.WSTPIB), "WSAWIB" -> (_.WSAWIB),
    "WSAWBK" -> (_.WSAWBK), "WTOPIB" -> (_.WTOPIB), "WSTPBK" -> (_.WSTPBK),
    "WMERBK" -> (_.WMERBK), "WMERIB" -> (_.WMERIB), "WTOPBK" -> (_.WTOPBK),
    "WMEROB" -> (_.WMEROB), "WSTPOB" -> (_.WSTPOB), "WTOPOB" -> (_.WTOPOB),
    "WSAWOB" -> (_.WSAWOB), "WTOTBCH" -> (_.BranchF), "WTOTOB" -> (_.WTOTOB),
    "WTOTBK" -> (_.BarkF), "WTOTIB" -> (_.WoodF), "BIOMASS" -> (_.BIOMASS),
    "WMERBCH" -> (_.WMERBCH), "CARBON" -> (_.CARBON), "AGB" -> (_.AGB), "CR" -> (_.CR))
  private val targetIndex: Map[String, Int] = targets.map(_._1).zipWithIndex.toMap
  def targetName(i: Int): String = targets(i)._1

  /** The targets `ids` of one row, as a struct value (NULL as null). */
  def row(x: Array[Double], s: Array[UTF8String], ids: Array[Int]): InternalRow = {
    val tree = new Tree(x, s)
    new GenericInternalRow(ids.map { i =>
      val v = targets(i)._2(tree)
      if (isNull(v)) null else v: Any
    })
  }

  /** The kernel as a column: a struct of `names` (targets), from the
    * input columns in `in` (input name -> column; an absent input is
    * null). */
  def kernel(in: Map[String, Column], names: Seq[String]): Column = {
    def arg(n: String, t: DataType) = GraftBridge.expression(in.getOrElse(n, lit(null)).cast(t))
    GraftBridge.column(NsvbKernel(
      numInputs.map(arg(_, DoubleType)) ++ strInputs.map(arg(_, StringType)),
      names.map(targetIndex)))
  }

  /** Every target over `fiadb`, which carries the inputs (SPCD as its
    * coefficient string, SPCD_NUMERIC derived here): the input columns
    * with CR floored at 1, then the other targets in `targets` order. */
  def predict(spark: SparkSession, fiadb: DataFrame): DataFrame = {
    val in = (numInputs ++ strInputs).filter(fiadb.columns.contains).map(n => n -> col(n)).toMap +
      ("SPCD_NUMERIC" -> regexp_replace(col("SPCD"), "1_", "").cast(DoubleType))
    val names = targets.map(_._1)
    val k = fiadb.select(col("*"), kernel(in, names).as("__nsvb"))
    k.select(fiadb.columns.map(c => if (c == "CR") col("__nsvb.CR").as(c) else col(c)) ++
      names.filterNot(_ == "CR").map(t => col("__nsvb." + t).as(t)): _*)
  }
}

/** [[Nsvb]]'s kernel as one Catalyst expression: the struct of targets
  * `ids` from the inputs (`Nsvb.numInputs` as doubles, then
  * `Nsvb.strInputs` as strings). The generated code evaluates each input
  * as a primitive into two arrays of the generated class and calls
  * `Nsvb.row`. */
case class NsvbKernel(children: Seq[Expression], ids: Seq[Int]) extends Expression {
  private def nNum = Nsvb.numInputs.size
  override def nullable: Boolean = false
  override lazy val dataType: DataType =
    StructType(ids.map(i => StructField(Nsvb.targetName(i), DoubleType)))
  override def prettyName: String = "nsvb"

  override def eval(input: InternalRow): Any = {
    val vals = children.map(_.eval(input))
    Nsvb.row(
      vals.take(nNum).map(v => Nsvb.arg(v == null, if (v == null) 0.0 else v.asInstanceOf[Double])).toArray,
      vals.drop(nNum).map(_.asInstanceOf[UTF8String]).toArray,
      ids.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nums = ctx.addMutableState("double[]", "nsvbNums",
      v => s"$v = new double[$nNum];")
    val strs = ctx.addMutableState("UTF8String[]", "nsvbStrs",
      v => s"$v = new UTF8String[${children.size - nNum}];")
    val idArr = ctx.addReferenceObj("nsvbIds", ids.toArray, "int[]")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      val set =
        if (i < nNum) s"$nums[$i] = graft.fia.Nsvb.arg(${e.isNull}, ${e.value});"
        else s"$strs[${i - nNum}] = ${e.isNull} ? null : ${e.value};"
      s"${e.code}\n$set"
    }
    ev.copy(code = code"""
      ${ctx.splitExpressionsWithCurrentInputs(fill, "nsvbArgs")}
      final boolean ${ev.isNull} = false;
      final InternalRow ${ev.value} = graft.fia.Nsvb.row($nums, $strs, $idArr);""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NsvbKernel = copy(children = newChildren)
}
