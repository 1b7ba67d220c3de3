package graft.fia

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types._
import scala.io.Source
import scala.reflect.runtime.universe.TypeTag

/** Bundled NSVB reference tables (mirrors `data-raw/prep_internal_data.R:
  * 1-50`): TPA rules, REF_SPECIES, decay/carbon-ratio props, median crown
  * proportions, and the 9 coefficient tables. All are tiny (≤2,697 rows):
  * each is parsed once per JVM from its classpath resource into a map
  * that expressions look rows up in, so no plan joins them and no job
  * broadcasts them.
  *
  * CSVs are parsed with a minimal RFC-4180 reader (quoted fields, BOM,
  * "NA"/"Inf" tokens) — no external dependencies.
  */
object RefData {

  /** Parse one CSV line honoring double quotes. */
  private[fia] def splitCsvLine(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
          else inQ = false
        } else sb += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += sb.result(); sb.clear()
        case _ => sb += c
      }
      i += 1
    }
    out += sb.result()
    out.toArray
  }

  /** Read a classpath CSV into (header, rows-as-string-maps). */
  private[fia] def readCsv(resource: String): (Array[String], Seq[Array[String]]) = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing resource $resource")
    val src = Source.fromInputStream(in, "UTF-8")
    try {
      val lines = src.getLines().toVector
      val header = splitCsvLine(lines.head.replace("\ufeff", ""))
      (header, lines.tail.filter(_.nonEmpty).map(splitCsvLine))
    } finally src.close()
  }

  private def dOpt(s: String): Any = s match {
    case "" | "NA" => null
    case "Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case v => v.toDouble
  }
  private def iOpt(s: String): Any = s match {
    case "" | "NA" => null
    case v => v.toDouble.toInt // some int columns are written as "1.0"
  }
  private def sOpt(s: String): Any = s match {
    case "" | "NA" => null
    case v => v
  }

  /** Parse a classpath CSV into (schema, rows) driver-side, keeping only
    * `fields` (name -> target type); values parsed per type with
    * NA -> null. */
  private[fia] def loadLocal(
      resource: String, fields: Seq[(String, DataType)]): (StructType, Seq[Row]) = {
    val (header, rows) = readCsv(resource)
    val idx = fields.map { case (n, _) =>
      val i = header.indexOf(n)
      require(i >= 0, s"$resource missing column $n (has ${header.mkString(",")})")
      i
    }
    val schema = StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })
    val data = rows.map { r =>
      Row.fromSeq(fields.zip(idx).map { case ((_, t), i) =>
        val raw = if (i < r.length) r(i) else ""
        t match {
          case DoubleType => dOpt(raw)
          case IntegerType => iOpt(raw)
          case StringType => sOpt(raw)
          case other => throw new IllegalArgumentException(other.toString)
        }
      })
    }
    (schema, data)
  }

  private val base = "/graft/refdata"

  private def typed[T](r: Row, i: Int): Option[T] = if (r.isNullAt(i)) None else Some(r.getAs[T](i))

  /** DESIGNCD TPA assignment rules (30 rows; `data-raw/DESIGNCD_TPA.csv`),
    * in CSV order: (DESIGNCD, min_DIA, max_DIA, TPA_UNADJ). */
  lazy val tpaRules: Seq[(Int, Double, Double, Double)] =
    loadLocal(s"$base/DESIGNCD_TPA.csv", Seq(
      "DESIGNCD" -> IntegerType, "min_DIA" -> DoubleType,
      "max_DIA" -> DoubleType, "TPA_UNADJ" -> DoubleType))._2
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))

  /** The REF_SPECIES fields prep_carbon reads (R/prep_carbon.R:14-21), NA
    * as None; `wdsg` is WOOD_SPGR_GREENVOL_DRYWT. */
  final case class Species(jenkins: Option[Int], sftwdHrdwd: Option[String],
      carbonRatioLive: Option[Double], wdsg: Option[Double])

  /** REF_SPECIES by SPCD. */
  lazy val species: Map[Int, Species] =
    loadLocal(s"$base/REF_SPECIES.csv", Seq(
      "SPCD" -> IntegerType, "JENKINS_SPGRPCD" -> IntegerType,
      "SFTWD_HRDWD" -> StringType, "CARBON_RATIO_LIVE" -> DoubleType,
      "WOOD_SPGR_GREENVOL_DRYWT" -> DoubleType))._2
      .collect { case r if !r.isNullAt(0) =>
        r.getInt(0) -> Species(typed(r, 1), typed(r, 2), typed(r, 3), typed(r, 4))
      }.toMap

  /** SPCD -> JENKINS_SPGRPCD. */
  def jenkinsBySpcd: Map[Int, Int] =
    species.collect { case (spcd, Species(Some(j), _, _, _)) => spcd -> j }

  /** A REF_SPECIES field at the row's SPCD, as the species join gave it:
    * null for a null or unknown SPCD. */
  def speciesField[T: TypeTag](f: Species => Option[T])(spcd: Column): Column =
    udf((s: Int) => species.get(s).flatMap(f)).apply(spcd)

  /** Decay proportions by (SFTWD_HRDWD, DECAYCD) (10 rows): DENSITY_PROP,
    * BARK_LOSS_PROP, BRANCH_LOSS_PROP. */
  lazy val decayProp: Map[(String, Int), Seq[Option[Double]]] =
    loadLocal(s"$base/REF_TREE_DECAY_PROP.csv", Seq(
      "SFTWD_HRDWD" -> StringType, "DECAYCD" -> IntegerType,
      "DENSITY_PROP" -> DoubleType, "BARK_LOSS_PROP" -> DoubleType,
      "BRANCH_LOSS_PROP" -> DoubleType))._2
      .map(r => (r.getString(0), r.getInt(1)) -> (2 to 4).map(typed[Double](r, _))).toMap

  /** Dead-tree CARBON_RATIO by (SFTWD_HRDWD, DECAYCD) (10 rows). */
  lazy val carbonRatioDead: Map[(String, Int), Option[Double]] =
    loadLocal(s"$base/REF_TREE_CARBON_RATIO_DEAD.csv", Seq(
      "SFTWD_HRDWD" -> StringType, "DECAYCD" -> IntegerType,
      "CARBON_RATIO" -> DoubleType))._2
      .map(r => (r.getString(0), r.getInt(1)) -> typed[Double](r, 2)).toMap

  /** Median crown proportion CRmn by (SFTWD_HRDWD, Province); hwd_yn N is
    * S, else H (R/estimate_carbon.R:11-13). */
  lazy val medianCrProp: Map[(String, String), Option[Double]] =
    loadLocal(s"$base/median_crprop.csv", Seq(
      "Province" -> StringType, "hwd_yn" -> StringType, "CRmn" -> DoubleType))._2
      .map(r => (if (r.getString(1) == "N") "S" else "H", r.getString(0)) -> typed[Double](r, 2))
      .toMap

  /** A two-part-keyed table's value at the row's key, as a left join gave
    * it: null when a key part is null or the key is absent. */
  def lookup[K: TypeTag](table: Map[(String, K), Option[Double]])(
      a: Column, b: Column): Column =
    udf((x: String, y: K) => table.get((x, y)).flatten).apply(a, b)

  /** The UNDEFINED-province fallbacks (miss_sft, miss_hwd):
    * first/second UNDEFINED row in CSV order (R/estimate_carbon.R:24-36). */
  def crPropDefaults: (Double, Double) = {
    val (header, rows) = readCsv(s"$base/median_crprop.csv")
    val pi = header.indexOf("Province"); val ci = header.indexOf("CRmn")
    val undef = rows.filter(r => r(pi) == "UNDEFINED").map(r => r(ci).toDouble)
    (undef(0), undef(1))
  }

  val coefNames: Seq[String] = Seq(
    "volib", "volbk", "volob", "rcumib", "rcumob",
    "total_biomass", "bark_biomass", "branch_biomass", "foliage")

  private def coefFields(name: String): Seq[(String, DataType)] = {
    val (header, _) = readCsv(s"$base/coefs/${name}_coefs.csv")
    val numeric = Seq("a", "b", "c", "b2", "a0", "b0", "b1", "a1", "c1",
      "alpha", "beta", "equation").filter(header.contains)
    numeric.map(_ -> (DoubleType: DataType)) ++
      Seq("SPCD_DIVISION" -> StringType, "SPCD" -> StringType,
        "JENKINS_SPGRPCD" -> IntegerType)
  }

  /** One coefficient table (183-424 rows): the coefficient columns it
    * has, then the three fallback-level keys. */
  def coefsLocal(name: String): (StructType, Seq[Row]) =
    loadLocal(s"$base/coefs/${name}_coefs.csv", coefFields(name))
}
