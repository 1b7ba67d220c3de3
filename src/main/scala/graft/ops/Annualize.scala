package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import graft.fia.Interp

/** Per-entity time-series densification + interpolation.
  *
  * The Spark-native re-expression of the reference's
  * `expand_data |> interpolate_data` core (`R/expand_data.R:18-87`,
  * `R/interpolate_data.R:34-60`): for each key group, densify the year
  * axis to a regular grid, then
  *   - linearly interpolate/extrapolate `linearCols`
  *     (`R/inter_extra_polate.R`),
  *   - midpoint-switch `stepCols` (`R/step_interp.R`),
  *   - fill `fillDownUpCols` down-then-up (time-invariant attributes,
  *     `tidyr::fill(.direction="downup")`),
  *   - leave every other column null on generated rows,
  *   - flag generated rows with `interpolated = true`.
  *
  * Execution: ONE hash shuffle on the key columns, then a streaming
  * per-group kernel (`groupByKey.flatMapGroups` plans as MapGroupsExec).
  * Groups are per-entity time series (a handful of rows each) so there is
  * no skew risk at scale and memory per group is bounded; 100 TB of trees
  * partitions evenly across executors. This deliberately does all 14+
  * column interpolations of the reference in a single pass instead of 14
  * grouped mutates.
  */
object Annualize {

  // column-dispatch kinds for the kernel's row-assembly loop
  private final val KindCopy = 0
  private final val KindYear = 1
  private final val KindLinear = 2
  private final val KindStep = 3
  private final val KindFill = 4
  private final val KindKey = 5

  final case class Config(
      keyCols: Seq[String],
      yearCol: String,
      linearCols: Seq[String] = Nil,
      stepCols: Seq[String] = Nil,
      fillDownUpCols: Seq[String] = Nil,
      /** None = each group's [min, max] observed year (reference
        * `tidyr::full_seq`); Some = a fixed global range, which also
        * exercises extrapolation beyond the observed anchors. */
      range: Option[(Int, Int)] = None,
      extrapolate: Boolean = true,
      flagCol: String = "interpolated")

  def apply(df: DataFrame, cfg: Config): DataFrame =
    withFinish(df, cfg, df.schema.add(cfg.flagCol, BooleanType, nullable = false))(_.iterator)

  /** [[apply]]'s group pass with a per-group `finish`: it gets the
    * group's grid rows in ascending year order (value arrays of the input
    * columns plus the flag) and emits rows of `out`. */
  def withFinish(df: DataFrame, cfg: Config, out: StructType)(
      finish: Array[Array[Any]] => Iterator[Array[Any]]): DataFrame = {
    val schema = df.schema
    val fields = schema.fields
    val nIn = fields.length
    val yearIdx = schema.fieldIndex(cfg.yearCol)
    require(
      fields(yearIdx).dataType == IntegerType,
      s"${cfg.yearCol} must be IntegerType, got ${fields(yearIdx).dataType}")
    cfg.linearCols.foreach { c =>
      require(
        schema(c).dataType == DoubleType,
        s"linear col $c must be DoubleType, got ${schema(c).dataType}")
    }
    val keyIdx = cfg.keyCols.map(schema.fieldIndex).toArray
    val linIdx = cfg.linearCols.map(schema.fieldIndex).toArray
    val stepIdx = cfg.stepCols.map(schema.fieldIndex).toArray
    val fillIdx = cfg.fillDownUpCols.map(schema.fieldIndex).toArray
    val range = cfg.range
    val extrapolate = cfg.extrapolate

    // Per-column dispatch table, built ONCE per operator call: the row
    // assembly loop runs nIn × outputRows times (millions of cells per
    // task at scale), and the old per-cell Map.contains/apply lookups
    // plus key-set probes were the loop's hottest instructions — a flat
    // int switch replaces them (guide §1.2: per-task work, after the
    // shuffle shape is right).
    val colKind = new Array[Int](nIn)
    val colPos = new Array[Int](nIn)
    // assigned in REVERSE precedence of the old if-chain
    // (year > linear > step > fill > key > copy), so overlaps resolve
    // exactly as before
    keyIdx.foreach(ci => colKind(ci) = KindKey)
    fillIdx.zipWithIndex.foreach { case (ci, p) => colKind(ci) = KindFill; colPos(ci) = p }
    stepIdx.zipWithIndex.foreach { case (ci, p) => colKind(ci) = KindStep; colPos(ci) = p }
    linIdx.zipWithIndex.foreach { case (ci, p) => colKind(ci) = KindLinear; colPos(ci) = p }
    colKind(yearIdx) = KindYear

    // null-safe group key (dplyr group_by treats NA as its own group)
    val keyOf = (r: Row) =>
      keyIdx.map(i => if (r.isNullAt(i)) "\u0000" else r.get(i).toString).mkString("\u0001")

    implicit val rowEnc = Encoders.row(out)
    implicit val strEnc = Encoders.STRING

    df.groupByKey(keyOf)
      .flatMapGroups { (_: String, it: Iterator[Row]) =>
        val rows = it.toArray.sortBy(_.getInt(yearIdx))
        val (lo, hi) = range.getOrElse(
          (rows.head.getInt(yearIdx), rows.last.getInt(yearIdx)))
        val nYears = hi - lo + 1
        val years = Array.tabulate(nYears)(lo + _)
        // observed row per grid year (input years are unique per group)
        val obs = new Array[Row](nYears)
        rows.foreach { r =>
          val y = r.getInt(yearIdx)
          if (y >= lo && y <= hi) obs(y - lo) = r
        }
        val template = rows.head

        // run each kernel once per column over the dense grid
        val linOut: Array[Array[Double]] = linIdx.map { ci =>
          val ys = Array.tabulate(nYears) { j =>
            val r = obs(j)
            if (r == null || r.isNullAt(ci)) Double.NaN else r.getDouble(ci)
          }
          Interp.interExtraPolate(years, ys, extrapolate)
        }
        def observed(ci: Int): Array[AnyRef] = Array.tabulate[AnyRef](nYears) { j =>
          val r = obs(j)
          if (r == null || r.isNullAt(ci)) null else r.get(ci).asInstanceOf[AnyRef]
        }
        val stepOut = stepIdx.map(ci => Interp.stepInterp[AnyRef](years, observed(ci)))
        val fillOut = fillIdx.map { ci =>
          val vs = observed(ci)
          // down then up
          var last: AnyRef = null
          var j = 0
          while (j < nYears) { if (vs(j) != null) last = vs(j) else vs(j) = last; j += 1 }
          var nxt: AnyRef = null
          j = nYears - 1
          while (j >= 0) { if (vs(j) != null) nxt = vs(j) else vs(j) = nxt; j -= 1 }
          vs
        }

        finish(Array.tabulate(nYears) { j =>
          val src = obs(j)
          val vals = new Array[Any](nIn + 1)
          var ci = 0
          while (ci < nIn) {
            vals(ci) = (colKind(ci): @annotation.switch) match {
              case KindYear => years(j)
              case KindLinear =>
                val d = linOut(colPos(ci))(j)
                if (d.isNaN) null else java.lang.Double.valueOf(d)
              case KindStep => stepOut(colPos(ci))(j)
              case KindFill => fillOut(colPos(ci))(j)
              case KindKey => template.get(ci)
              case _ => if (src != null) src.get(ci) else null
            }
            ci += 1
          }
          vals(nIn) = java.lang.Boolean.valueOf(src == null)
          vals
        }).map(new GenericRowWithSchema(_, out): Row)
      }
  }
}
