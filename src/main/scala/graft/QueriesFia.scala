package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.fia.{Nsvb, RefData}

/** Gate query for the NSVB coefficient machinery (SURVEY §2.7): the
  * kernel's 3-level coefficient fallback + closed-form equation dispatch
  * (`Nsvb.kernel`, target VTOTIB_GROSS) evaluated over
  * synthetic trees derived from `part`, with a DuckDB oracle that reads
  * the SAME bundled coefficient CSVs and re-implements the dispatch
  * independently. JVM Math.pow/exp and DuckDB's libm agree bitwise on
  * these inputs (verified), so the compare is exact. */
object QueriesFia {

  private val spcds = Seq("131", "316", "110", "202", "833", "621", "802", "6135")
  private val refBase = "/root/repo/src/main/resources/graft/refdata"

  /** Synthetic trees: deterministic DBH/THT, species cycling through
    * div-level, SPCD-level, and JENKINS-level coefficient matches. */
  private def nsvbVolume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val trees = Tables.part(s, dir).select(
      $"p_partkey".as("id"),
      (lit(5.0) + ($"p_partkey" % 20).cast(DoubleType)).as("DBH"),
      (lit(30.0) + ($"p_partkey" % 50).cast(DoubleType)).as("THT"),
      element_at(array(spcds.map(lit): _*), ($"p_partkey" % 8).cast(IntegerType) + 1).as("SPCD"),
      element_at(array(lit("230"), lit("220")), ($"p_partkey" % 2).cast(IntegerType) + 1).as("DIVISION"))
      .withColumn("SPCD_DIVISION", concat($"SPCD", lit(" "), $"DIVISION"))
    val vtotib = Nsvb.kernel(Map(
      "DBH" -> $"DBH", "THT" -> $"THT", "SPCD" -> $"SPCD", "SPCD_DIVISION" -> $"SPCD_DIVISION",
      "SPCD_NUMERIC" -> $"SPCD".cast(DoubleType),
      "JENKINS_SPGRPCD" -> RefData.speciesField(_.jenkins)($"SPCD".cast(IntegerType))),
      Seq("VTOTIB_GROSS")).getField("VTOTIB_GROSS")
    // JVM and libm pow may differ in the last ulp on some inputs, so
    // the hashed output is quantized to micro-units
    trees.select($"id", $"SPCD_DIVISION",
      floor(vtotib * 1e6).cast(LongType).as("vtotib_micro"))
  }

  private def eqSql(x: String): String =
    s"""CASE
       |  WHEN eq_$x = 3 THEN a_$x * pow(DBH, b_$x) * pow(THT, c_$x)
       |  WHEN eq_$x = 4 THEN (CASE
       |    WHEN DBH < k THEN a0_$x * pow(DBH, b0_$x) * pow(THT, c_$x)
       |    WHEN NOT (DBH < k) THEN a0_$x * pow(k, b0_$x - b1_$x) * pow(DBH, b1_$x) * pow(THT, c_$x) END)
       |  WHEN eq_$x = 5 THEN a_$x * pow(DBH, a1_$x * pow(1 - exp(-b1_$x * DBH), c1_$x)) * pow(THT, c_$x)
       |  WHEN eq_$x = 50 THEN a_$x * pow(DBH, b_$x) * pow(THT, c_$x) * exp(-(b2_$x * DBH))
       |END""".stripMargin

  private def lvlSelect(x: String, key: String, keyAs: String): String =
    s"""SELECT $key AS $keyAs, a AS a_$x, b AS b_$x, c AS c_$x, b2 AS b2_$x,
       |  a0 AS a0_$x, b0 AS b0_$x, b1 AS b1_$x, a1 AS a1_$x, c1 AS c1_$x,
       |  equation AS eq_$x, 1 AS m_$x
       |FROM co WHERE $key IS NOT NULL""".stripMargin

  private val nsvbVolumeSql: String = {
    val spcdList = spcds.map(sc => s"'$sc'").mkString("[", ", ", "]")
    s"""WITH trees AS (
       |  SELECT p_partkey AS id,
       |    CAST(5.0 AS DOUBLE) + CAST(p_partkey % 20 AS DOUBLE) AS DBH,
       |    CAST(30.0 AS DOUBLE) + CAST(p_partkey % 50 AS DOUBLE) AS THT,
       |    ($spcdList)[CAST(p_partkey % 8 AS INT) + 1] AS SPCD,
       |    (['230', '220'])[CAST(p_partkey % 2 AS INT) + 1] AS DIVISION
       |  FROM part),
       |t AS (
       |  SELECT trees.*, SPCD || ' ' || DIVISION AS SPCD_DIVISION,
       |    CASE WHEN CAST(SPCD AS INT) < 300 THEN CAST(9.0 AS DOUBLE)
       |         ELSE CAST(11.0 AS DOUBLE) END AS k
       |  FROM trees),
       |ref AS (
       |  SELECT CAST(SPCD AS VARCHAR) AS SPCD,
       |         CAST(JENKINS_SPGRPCD AS INT) AS JENKINS_SPGRPCD
       |  FROM read_csv('$refBase/REF_SPECIES.csv', nullstr = ['NA', ''])),
       |t2 AS (SELECT t.*, ref.JENKINS_SPGRPCD FROM t LEFT JOIN ref USING (SPCD)),
       |co AS (
       |  SELECT CAST(a AS DOUBLE) AS a, CAST(b AS DOUBLE) AS b, CAST(c AS DOUBLE) AS c,
       |    CAST(b2 AS DOUBLE) AS b2, CAST(a0 AS DOUBLE) AS a0, CAST(b0 AS DOUBLE) AS b0,
       |    CAST(b1 AS DOUBLE) AS b1, CAST(a1 AS DOUBLE) AS a1, CAST(c1 AS DOUBLE) AS c1,
       |    CAST(equation AS DOUBLE) AS equation,
       |    CAST(SPCD_DIVISION AS VARCHAR) AS SPCD_DIVISION,
       |    CAST(SPCD AS VARCHAR) AS SPCD,
       |    CAST(JENKINS_SPGRPCD AS INT) AS JENKINS_SPGRPCD
       |  FROM read_csv('$refBase/coefs/volib_coefs.csv', nullstr = ['NA', ''])),
       |l0 AS (${lvlSelect("0", "SPCD_DIVISION", "sd_0")}),
       |l1 AS (${lvlSelect("1", "SPCD", "sp_1")}),
       |l2 AS (${lvlSelect("2", "JENKINS_SPGRPCD", "jk_2")}),
       |j AS (
       |  SELECT t2.*, l0.* EXCLUDE (sd_0), l1.* EXCLUDE (sp_1), l2.* EXCLUDE (jk_2)
       |  FROM t2
       |  LEFT JOIN l0 ON t2.SPCD_DIVISION = l0.sd_0
       |  LEFT JOIN l1 ON t2.SPCD = l1.sp_1
       |  LEFT JOIN l2 ON t2.JENKINS_SPGRPCD = l2.jk_2)
       |SELECT id, SPCD_DIVISION,
       |  CAST(floor((CASE WHEN m_0 IS NOT NULL THEN ${eqSql("0")}
       |       WHEN m_1 IS NOT NULL THEN ${eqSql("1")}
       |       WHEN m_2 IS NOT NULL THEN ${eqSql("2")}
       |  END) * 1000000.0) AS BIGINT) AS vtotib_micro
       |FROM j""".stripMargin
  }

  // The COMPOSED reference workload is registered once, as
  // `q_fia_pipeline_oracle` (QueriesFiaPipeline): the former un-oracled
  // twin `q_fia_pipeline` ran the same tidy → annualize → NSVB workload
  // from the in-memory synthetic state but had no DuckDB comparison and
  // so read as a permanent red row in the driver artifact (round-7
  // verdict #1). The in-memory variant stays value-pinned by
  // PipelineScaleSpec's order-independent checksum.
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_nsvb_volume" -> (nsvbVolume _)
  ) ++ QueriesFiaPipeline.queries

  // def: the pipeline oracle SQL embeds the tier-keyed staged-input
  // path, which follows the Verify run (QueriesFiaPipeline.in)
  def oracles: Map[String, String] = Map(
    "q_nsvb_volume" -> nsvbVolumeSql
  ) ++ QueriesFiaPipeline.oracles
}
