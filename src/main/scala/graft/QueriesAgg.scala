package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Aggregation / window / sort / set-op families (SURVEY §2.4-2.6)
  * plus the population-scaling flagship (vignettes/pop_scaling.qmd). */
object QueriesAgg {

  import Queries.dsum

  // --- A9: grouping sets (rollup)
  private def rollupAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
  }

  private val rollupAggSql =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  // --- A9 companion: full cube with grouping_id (distinguishes "null
  //     because aggregated away" from "null in the data")
  private def cubeAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().cast(IntegerType).as("gid"))
  }

  private val cubeAggSql =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |  count(*) AS n,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  // --- A10: pivot (long -> wide)
  private def pivotAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum($"l_quantity"))
  }

  private val pivotAggSql =
    """SELECT l_returnflag,
      |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS "F",
      |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS "O"
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // --- A2: per-year expansion factor as a grouped mutate (window, not
  //     collapse) — vignettes/pop_scaling.qmd:119-124
  private def windowExpns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", year($"o_orderdate").cast(IntegerType).as("yr"))
    val n = o.groupBy($"yr").agg(countDistinct($"o_custkey").as("n_custs"))
    o.join(broadcast(n), Seq("yr"))
      .withColumn("expns", lit(1000.0) / $"n_custs")
      .select($"o_orderkey", $"yr", $"n_custs", $"expns")
  }

  private val windowExpnsSql =
    """WITH n AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |         count(DISTINCT o_custkey) AS n_custs
      |  FROM orders GROUP BY 1)
      |SELECT o.o_orderkey, n.yr, n.n_custs, 1000.0 / n.n_custs AS expns
      |FROM orders o JOIN n ON CAST(year(o.o_orderdate) AS INT) = n.yr""".stripMargin

  // --- A6/W5-W7: first-death-year windows + status rewrite
  //     (adjust_mortality shape, R/adjust_mortality.R:50-87)
  private def firstDead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val panel = Tables.orders(s, dir)
      .groupBy($"o_custkey".as("id"), year($"o_orderdate").cast(IntegerType).as("yr"))
      .agg(max($"o_orderstatus").as("status"))
    val w = Window.partitionBy($"id")
    panel
      .withColumn("first_f", min(when($"status" === "F", $"yr")).over(w))
      .withColumn("last_yr", max($"yr").over(w))
      .withColumn("status_adj",
        when($"first_f".isNotNull && $"yr" >= $"first_f", lit("F")).otherwise($"status"))
  }

  private val firstDeadSql =
    """WITH panel AS (
      |  SELECT o_custkey AS id, CAST(year(o_orderdate) AS INT) AS yr,
      |         max(o_orderstatus) AS status
      |  FROM orders GROUP BY 1, 2)
      |SELECT id, yr, status,
      |  min(CASE WHEN status = 'F' THEN yr END) OVER (PARTITION BY id) AS first_f,
      |  max(yr) OVER (PARTITION BY id) AS last_yr,
      |  CASE WHEN min(CASE WHEN status = 'F' THEN yr END) OVER (PARTITION BY id) IS NOT NULL
      |            AND yr >= min(CASE WHEN status = 'F' THEN yr END) OVER (PARTITION BY id)
      |       THEN 'F' ELSE status END AS status_adj
      |FROM panel""".stripMargin

  // --- W8: lag/lead with defaults (annualized slopes,
  //     scripts/06-check-annualized.R:46-49)
  private def lagLead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val panel = Tables.orders(s, dir)
      .groupBy($"o_custkey".as("id"), year($"o_orderdate").cast(IntegerType).as("yr"))
      .agg(max($"o_totalprice").as("m"))
    val w = Window.partitionBy($"id").orderBy($"yr")
    panel
      .withColumn("prev_m", lag($"m", 1).over(w))
      .withColumn("next_yr", coalesce(lead($"yr", 1).over(w), lit(-1989)))
      .withColumn("slope",
        (lead($"m", 1).over(w) - $"m") / (lead($"yr", 1).over(w) - $"yr").cast(DoubleType))
  }

  private val lagLeadSql =
    """WITH panel AS (
      |  SELECT o_custkey AS id, CAST(year(o_orderdate) AS INT) AS yr,
      |         max(o_totalprice) AS m
      |  FROM orders GROUP BY 1, 2)
      |SELECT id, yr, m,
      |  lag(m, 1) OVER w AS prev_m,
      |  coalesce(lead(yr, 1) OVER w, -1989) AS next_yr,
      |  (lead(m, 1) OVER w - m) / CAST(lead(yr, 1) OVER w - yr AS DOUBLE) AS slope
      |FROM panel
      |WINDOW w AS (PARTITION BY id ORDER BY yr)""".stripMargin

  // --- O2: union-all of tagged projections + aggregate
  private def unionAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val a = o.filter($"o_orderstatus" === "F")
      .select(lit("fin").as("src"), year($"o_orderdate").cast(IntegerType).as("yr"))
    val b = o.filter($"o_orderstatus" === "O")
      .select(lit("open").as("src"), year($"o_orderdate").cast(IntegerType).as("yr"))
    a.unionByName(b).groupBy($"src", $"yr").agg(count(lit(1)).as("n"))
  }

  private val unionAllSql =
    """SELECT src, yr, count(*) AS n FROM (
      |  SELECT 'fin' AS src, CAST(year(o_orderdate) AS INT) AS yr
      |  FROM orders WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT 'open' AS src, CAST(year(o_orderdate) AS INT) AS yr
      |  FROM orders WHERE o_orderstatus = 'O'
      |) GROUP BY src, yr""".stripMargin

  // --- O1/O3: deterministic top-k (exact decimal totals, tie-broken)
  private def topK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(dsum($"o_totalprice", 2).as("total_spend"))
      .orderBy($"total_spend".desc, $"o_custkey".asc)
      .limit(10)
  }

  private val topKSql =
    """SELECT o_custkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_spend
      |FROM orders GROUP BY o_custkey
      |ORDER BY total_spend DESC, o_custkey ASC LIMIT 10""".stripMargin

  // --- A1: distinct pairs
  private def distinctPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_custkey", year($"o_orderdate").cast(IntegerType).as("yr"))
      .dropDuplicates("o_custkey", "yr")
  }

  private val distinctPairsSql =
    """SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS INT) AS yr FROM orders""".stripMargin

  // --- A7: duplicate-grain assertion (expect empty)
  private def dupCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_orderkey", $"l_linenumber")
      .agg(count(lit(1)).as("n"))
      .filter($"n" > 1)
  }

  private val dupCheckSql =
    """SELECT l_orderkey, l_linenumber, count(*) AS n FROM lineitem
      |GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin

  // --- The population-scaling flagship (vignettes/pop_scaling.qmd:98-166):
  //     domain indicators P14 -> per-year EXPNS A2 -> plot-level tree and
  //     area totals A3/A4 (distinct cond rows) -> yearly rollup A5 with
  //     ratio, in one pass over a single exchange on yr (fia.PopScale's
  //     plan): every grain below contains yr, so the yr partitioning
  //     satisfies all three aggregates and the oracle's join J14 needs no
  //     join here. The (id, yr, aDI) groups are the distinct area rows,
  //     and the (id, yr) groups of a year are its n_plots.
  private def popScale(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dom = Tables.orders(s, dir).select(
      $"o_custkey".as("id"),
      year($"o_orderdate").cast(IntegerType).as("yr"),
      when($"o_orderstatus" === "O", 1).otherwise(0).as("aDI"),
      (when($"o_orderpriority".like("1%"), 1).otherwise(0) *
        when($"o_orderstatus" === "O", 1).otherwise(0)).as("tDI"),
      $"o_totalprice")
    // expns (= 1000/n_plots) is constant within a year, so it is factored
    // out of the per-plot sums: the sums stay exact (decimal / integer)
    // across every aggregation level and the irrational factor is applied
    // once per year at the end — identical double ops in both engines.
    dom.filter($"id".isNotNull && $"yr".isNotNull)
      .repartition($"yr")
      .groupBy($"id", $"yr", $"aDI")
      .agg(sum(($"o_totalprice" * $"tDI").cast(DecimalType(28, 2))).as("carb_dec"))
      .groupBy($"id", $"yr")
      .agg(sum($"carb_dec").as("carb_dec"), sum($"aDI").as("area_units"))
      .groupBy($"yr")
      .agg(
        sum($"carb_dec").cast(DoubleType).as("carb_t"),
        sum($"area_units").as("area_t"),
        count(lit(1)).as("n_plots"))
      .withColumn("expns", lit(1000.0) / $"n_plots")
      .select(
        $"yr",
        ($"carb_t" * $"expns" / 2000).as("total_carbon"),
        ($"area_t" * $"expns").as("total_area"),
        (($"carb_t" * $"expns" / 2000) / ($"area_t" * $"expns")).as("tons_per_acre"))
  }

  private val popScaleSql =
    """WITH dom AS (
      |  SELECT o_custkey AS id, CAST(year(o_orderdate) AS INT) AS yr,
      |    CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS aDI,
      |    (CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) *
      |      (CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS tDI,
      |    o_totalprice
      |  FROM orders),
      |n AS (SELECT yr, count(DISTINCT id) AS n_plots FROM dom GROUP BY yr),
      |tree AS (
      |  SELECT id, yr, sum(CAST(o_totalprice * tDI AS DECIMAL(28,2))) AS carb_dec
      |  FROM dom GROUP BY id, yr),
      |area AS (
      |  SELECT id, yr, CAST(sum(aDI) AS BIGINT) AS area_units
      |  FROM (SELECT DISTINCT id, yr, aDI FROM dom) GROUP BY id, yr),
      |tot AS (
      |  SELECT tree.yr,
      |    CAST(sum(carb_dec) AS DOUBLE) AS carb_t,
      |    CAST(sum(area_units) AS BIGINT) AS area_t
      |  FROM tree JOIN area USING (id, yr)
      |  GROUP BY tree.yr)
      |SELECT tot.yr,
      |  carb_t * (1000.0 / n_plots) / 2000 AS total_carbon,
      |  area_t * (1000.0 / n_plots) AS total_area,
      |  (carb_t * (1000.0 / n_plots) / 2000) / (area_t * (1000.0 / n_plots)) AS tons_per_acre
      |FROM tot JOIN n USING (yr)""".stripMargin

  // --- A8 + W8: transition-flag tally (sapling_transitions shape,
  //     scripts/05-check_saplings.R:64-127): per-entity lagged status ->
  //     0/1 transition flags -> per-year sums
  private def transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val panel = Tables.orders(s, dir)
      .groupBy($"o_custkey".as("id"), year($"o_orderdate").cast(IntegerType).as("yr"))
      .agg(max($"o_orderstatus").as("status"))
    val w = Window.partitionBy($"id").orderBy($"yr")
    panel
      .withColumn("prev", lag($"status", 1).over(w))
      .groupBy($"yr")
      .agg(
        sum(when($"prev" === "O" && $"status" === "F", 1).otherwise(0)).as("o_to_f"),
        sum(when($"prev" === "F" && $"status" === "O", 1).otherwise(0)).as("f_to_o"),
        sum(when($"prev" === $"status", 1).otherwise(0)).as("stayed"),
        sum(when($"prev".isNull, 1).otherwise(0)).as("first_seen"))
  }

  private val transitionsSql =
    """WITH panel AS (
      |  SELECT o_custkey AS id, CAST(year(o_orderdate) AS INT) AS yr,
      |         max(o_orderstatus) AS status
      |  FROM orders GROUP BY 1, 2),
      |lagged AS (
      |  SELECT yr, status, lag(status, 1) OVER (PARTITION BY id ORDER BY yr) AS prev
      |  FROM panel)
      |SELECT yr,
      |  CAST(sum(CASE WHEN prev = 'O' AND status = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS o_to_f,
      |  CAST(sum(CASE WHEN prev = 'F' AND status = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS f_to_o,
      |  CAST(sum(CASE WHEN prev = status THEN 1 ELSE 0 END) AS BIGINT) AS stayed,
      |  CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS first_seen
      |FROM lagged GROUP BY yr""".stripMargin

  // --- A10 melt: unpivot wide numeric attributes into long form.
  //     Spark's native unpivot (= melt) generator; value columns are
  //     cast to a common type first, as unpivot requires.
  private def unpivotAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey", $"p_size".cast(DoubleType).as("p_size"), $"p_retailprice")
      .unpivot(Array($"p_partkey"), Array($"p_size", $"p_retailprice"), "attr", "val")
  }

  private val unpivotAggSql =
    """UNPIVOT (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size, p_retailprice FROM part)
      |ON p_size, p_retailprice INTO NAME attr VALUE val""".stripMargin

  // --- set operations: INTERSECT / EXCEPT (set semantics, dedup) over
  //     two year slices of the same table, tagged and unioned.
  private def setOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def custkeys(yr: Int) = Tables.orders(s, dir)
      .filter(year($"o_orderdate") === yr).select($"o_custkey")
    custkeys(1997).intersect(custkeys(1998)).withColumn("tag", lit("both"))
      .unionByName(
        custkeys(1997).except(custkeys(1998)).withColumn("tag", lit("only_1997")))
  }

  private val setOpsSql =
    """WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
      |     b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
      |SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT o_custkey, 'only_1997' AS tag FROM (SELECT * FROM a EXCEPT SELECT * FROM b)""".stripMargin

  // --- statistical aggregates (corr / sample stddev) with a
  //     DETERMINISTIC distributed reduction: float sums are
  //     order-dependent and partial-agg merge order is not stable
  //     run-to-run, so the power sums (Σx, Σx², Σxy) accumulate as
  //     decimals (exact, associative) and only the final combination
  //     runs in IEEE doubles — bit-identical on any cluster layout and
  //     in the oracle engine. Precision 19 (not 18): engines back
  //     p ≤ 18 decimals with int64, whose product overflows before
  //     widening; p ≥ 19 forces int128 multiply on both sides.
  private def statsMoments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x = $"l_quantity".cast(DecimalType(19, 4))
    val y = $"l_extendedprice".cast(DecimalType(19, 4))
    val d = (c: Column) => c.cast(DoubleType)
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .select($"l_returnflag", $"n",
        round((d($"n") * d($"sxy") - d($"sx") * d($"sy")) /
          (sqrt(d($"n") * d($"sxx") - d($"sx") * d($"sx")) *
            sqrt(d($"n") * d($"syy") - d($"sy") * d($"sy"))), 6).as("corr_qty_price"),
        round(sqrt((d($"n") * d($"sxx") - d($"sx") * d($"sx")) /
          (d($"n") * (d($"n") - 1.0))), 6).as("stddev_qty"))
  }

  private val statsMomentsSql =
    """WITH m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(19,4))) AS sx,
      |    sum(CAST(l_extendedprice AS DECIMAL(19,4))) AS sy,
      |    sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS sxx,
      |    sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy,
      |    sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |    AS corr_qty_price,
      |  round(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6) AS stddev_qty
      |FROM m""".stripMargin

  // --- equi-width histogram: one partial-aggregated groupBy over a
  //     closed-form bucket id — at any scale this is a single shuffle
  //     of (n_buckets) partials, never a sort. Bucket arithmetic is
  //     identical integer-exact floor((x-lo)/w) on both sides.
  private def histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = 0.0; val w = 50000.0
    Tables.orders(s, dir)
      .select(floor(($"o_totalprice" - lo) / w).cast(IntegerType).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", $"bucket" * w)
      .withColumn("hi", ($"bucket" + 1) * w)
  }

  private val histogramSql =
    """WITH b AS (
      |  SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bucket FROM orders)
      |SELECT bucket, count(*) AS n,
      |       bucket * 50000.0 AS lo, (bucket + 1) * 50000.0 AS hi
      |FROM b GROUP BY bucket""".stripMargin

  // --- fuzzy vocabulary matching (edit-distance near-pairs on the
  //     distinct value domain; see ops.Dedup.fuzzyVocabPairs)
  private def fuzzyPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.fuzzyVocabPairs(Tables.part(s, dir), "p_name", maxDist = 2)

  // --- same contract through the deletion-neighborhood BLOCKED equi
  //     join (the unbounded-vocabulary path — no nested loop); exact
  //     recall, so the brute-force oracle is shared with q_fuzzy_pairs
  private def fuzzyBlocked(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.fuzzyVocabPairsBlocked(Tables.part(s, dir), "p_name", maxDist = 2)

  private val fuzzyPairsSql =
    """WITH vocab AS (SELECT p_name AS name, count(*) AS n_rows FROM part GROUP BY 1)
      |SELECT a.name AS name_a, b.name AS name_b,
      |       CAST(levenshtein(a.name, b.name) AS INT) AS dist,
      |       a.n_rows AS rows_a, b.n_rows AS rows_b
      |FROM vocab a JOIN vocab b
      |  ON a.name < b.name
      | AND abs(length(a.name) - length(b.name)) <= 2
      | AND levenshtein(a.name, b.name) <= 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_unpivot" -> (unpivotAgg _),
    "q_histogram" -> (histogram _),
    "q_set_ops" -> (setOps _),
    "q_stats_moments" -> (statsMoments _),
    "q_fuzzy_pairs" -> (fuzzyPairs _),
    "q_fuzzy_blocked" -> (fuzzyBlocked _),
    "q_transitions" -> (transitions _),
    "q_rollup" -> (rollupAgg _),
    "q_cube" -> (cubeAgg _),
    "q_pivot" -> (pivotAgg _),
    "q_window_expns" -> (windowExpns _),
    "q_first_dead" -> (firstDead _),
    "q_lag_lead" -> (lagLead _),
    "q_union_all" -> (unionAll _),
    "q_topk" -> (topK _),
    "q_distinct_pairs" -> (distinctPairs _),
    "q_dup_check" -> (dupCheck _),
    "q_pop_scale" -> (popScale _))

  val oracles: Map[String, String] = Map(
    "q_unpivot" -> unpivotAggSql,
    "q_histogram" -> histogramSql,
    "q_set_ops" -> setOpsSql,
    "q_stats_moments" -> statsMomentsSql,
    "q_fuzzy_pairs" -> fuzzyPairsSql,
    "q_fuzzy_blocked" -> fuzzyPairsSql,
    "q_transitions" -> transitionsSql,
    "q_rollup" -> rollupAggSql,
    "q_cube" -> cubeAggSql,
    "q_pivot" -> pivotAggSql,
    "q_window_expns" -> windowExpnsSql,
    "q_first_dead" -> firstDeadSql,
    "q_lag_lead" -> lagLeadSql,
    "q_union_all" -> unionAllSql,
    "q_topk" -> topKSql,
    "q_distinct_pairs" -> distinctPairsSql,
    "q_dup_check" -> dupCheckSql,
    "q_pop_scale" -> popScaleSql)
}
