package graft.fia

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.io.Source

/** Bundled NSVB reference tables (mirrors `data-raw/prep_internal_data.R:
  * 1-50`): TPA rules, REF_SPECIES, decay/carbon-ratio props, median crown
  * proportions, and the 9 coefficient tables. All are tiny (≤2,697 rows)
  * — they load from classpath resources into DataFrames that every join
  * broadcasts.
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
      resource: String, fields: Seq[(String, DataType)],
      rename: Map[String, String] = Map.empty): (StructType, Seq[Row]) = {
    val (header, rows) = readCsv(resource)
    val idx = fields.map { case (n, _) =>
      val i = header.indexOf(n)
      require(i >= 0, s"$resource missing column $n (has ${header.mkString(",")})")
      i
    }
    val schema = StructType(fields.map { case (n, t) =>
      StructField(rename.getOrElse(n, n), t, nullable = true)
    })
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

  /** Build a DataFrame from a classpath CSV — a LocalRelation, so every
    * downstream broadcast is computed driver-side without a job. */
  private def load(
      spark: SparkSession, resource: String, fields: Seq[(String, DataType)],
      rename: Map[String, String] = Map.empty): DataFrame = {
    val (schema, data) = loadLocal(resource, fields, rename)
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  private val base = "/graft/refdata"

  /** DESIGNCD TPA assignment rules (30 rows; `data-raw/DESIGNCD_TPA.csv`). */
  def tpaRules(spark: SparkSession): DataFrame =
    load(spark, s"$base/DESIGNCD_TPA.csv", Seq(
      "DESIGNCD" -> IntegerType, "min_DIA" -> DoubleType,
      "max_DIA" -> DoubleType, "TPA_UNADJ" -> DoubleType))

  /** Species reference, columns used by prep_carbon (R/prep_carbon.R:14-21)
    * + the interpolation woodland check. SPCD kept as string to match the
    * type it has from prep_carbon onward. */
  def refSpecies(spark: SparkSession): DataFrame =
    load(spark, s"$base/REF_SPECIES.csv", Seq(
      "SPCD" -> StringType, "JENKINS_SPGRPCD" -> IntegerType,
      "SFTWD_HRDWD" -> StringType, "CARBON_RATIO_LIVE" -> DoubleType,
      "WOOD_SPGR_GREENVOL_DRYWT" -> DoubleType),
      rename = Map("WOOD_SPGR_GREENVOL_DRYWT" -> "WDSG"))

  /** SPCD -> JENKINS_SPGRPCD, parsed driver-side for per-row lookups. */
  def jenkinsBySpcd: Map[Int, Int] =
    loadLocal(s"$base/REF_SPECIES.csv", Seq("SPCD" -> IntegerType, "JENKINS_SPGRPCD" -> IntegerType))
      ._2.collect { case r if !r.isNullAt(0) && !r.isNullAt(1) => r.getInt(0) -> r.getInt(1) }.toMap

  /** Decay proportions by (SFTWD_HRDWD, DECAYCD) (10 rows). */
  def decayProp(spark: SparkSession): DataFrame =
    load(spark, s"$base/REF_TREE_DECAY_PROP.csv", Seq(
      "SFTWD_HRDWD" -> StringType, "DECAYCD" -> IntegerType,
      "DENSITY_PROP" -> DoubleType, "BARK_LOSS_PROP" -> DoubleType,
      "BRANCH_LOSS_PROP" -> DoubleType))

  /** Dead-tree carbon ratio by (SFTWD_HRDWD, DECAYCD) (10 rows). */
  def carbonRatioDead(spark: SparkSession): DataFrame =
    load(spark, s"$base/REF_TREE_CARBON_RATIO_DEAD.csv", Seq(
      "SFTWD_HRDWD" -> StringType, "DECAYCD" -> IntegerType,
      "CARBON_RATIO" -> DoubleType))

  /** Median crown proportion by (Province, SFTWD_HRDWD); hwd_yn N->S,
    * Y->H (R/estimate_carbon.R:11-13). Keeps CSV order so the UNDEFINED
    * fallback rows can be read positionally. */
  def medianCrProp(spark: SparkSession): DataFrame =
    load(spark, s"$base/median_crprop.csv", Seq(
      "Province" -> StringType, "hwd_yn" -> StringType, "CRmn" -> DoubleType))

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

  /** One coefficient table (183-424 rows). All coefficient columns the
    * equations reference exist in the output (missing ones as null
    * literals are added by the caller when needed). */
  def coefs(spark: SparkSession, name: String): DataFrame =
    load(spark, s"$base/coefs/${name}_coefs.csv", coefFields(name))

  /** Same, parsed driver-side (for pre-merging dims without jobs). */
  def coefsLocal(name: String): (StructType, Seq[Row]) =
    loadLocal(s"$base/coefs/${name}_coefs.csv", coefFields(name))
}
