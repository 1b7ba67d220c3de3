package graft
package tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness: generate an ORGANIC scale tier with the FULL driver
  * table set (`region nation customer supplier part orders lineitem
  * events documents embeddings`) so the whole 150+-query bench can run
  * at ~sf1 (10× the driver's sf0.1), not just the 5 ops the per-op
  * scale probes cover (VERDICT r10 #4).
  *
  * ORGANIC, not tiled: every column is drawn per-row from seeded
  * hash-based distributions (Zipf token frequencies over the sf
  * vocabulary head, TPC-H-like sparse order keys, 1..7 lines per
  * order, clustered embeddings) rather than unioning k disguised
  * copies of sf0.1 — replicas preserve the source's distribution by
  * construction and never stress shared-head bucket pressure, the
  * round-10 lesson. Schemas and value domains match sf0.1 exactly
  * (same categorical sets, key ranges ×k, same `ts` encoding) so
  * every bench query runs unmodified.
  *
  * Fully deterministic (xxhash64 of ids — no Math.random), 32 output
  * splits per table so scan-side kernels parallelize (docs/PLANS.md
  * rule 1). Usage:
  * {{{ runMain graft.tools.SfGen /tmp/graft_sf1 10 }}}
  */
object SfGen {

  private def h(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    abs(xxhash64(c))

  /** uniform [0,1) from a seeded column */
  private def u(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (h(c) % 1000000L).cast("double") / 1000000.0

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val spark = GraftSession.local(
      math.min(32, Runtime.getRuntime.availableProcessors()))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val marker = new java.io.File(s"$out/TIER_OK")
    if (marker.exists) { println(s"[sfgen] $out already built"); return }
    new java.io.File(out).mkdirs()

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[sfgen] $name done")
    }

    // dimensions are scale-invariant: carry them verbatim
    for (t <- Seq("region", "nation"))
      write(spark.read.parquet(s"$src/$t.parquet"), t)

    val nCust = 15000L * k
    val nSupp = 1000L * k
    val nPart = 20000L * k
    val nOrd = 150000L * k

    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    write(spark.range(nCust).select(
      $"id".as("c_custkey"),
      format_string("Customer#%09d", $"id").as("c_name"),
      pmod(h($"id" * 31L), lit(25L)).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u($"id" * 37L) * 11000.0, 2).as("c_acctbal"),
      element_at(segs, (pmod(h($"id" * 41L), lit(5L)) + 1L).cast("int"))
        .as("c_mktsegment")), "customer")

    write(spark.range(nSupp).select(
      $"id".as("s_suppkey"),
      format_string("Supplier#%09d", $"id").as("s_name"),
      pmod(h($"id" * 43L), lit(25L)).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u($"id" * 47L) * 11000.0, 2).as("s_acctbal")),
      "supplier")

    val adjs = array(Seq("large", "hot", "blue", "small", "dark", "light",
      "red", "green", "shiny", "cold").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "washer", "gear", "cog", "plate",
      "pin", "cap", "rod", "nut").map(lit): _*)
    val types = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD").map(lit): _*)
    write(spark.range(nPart).select(
      $"id".as("p_partkey"),
      concat(
        element_at(adjs, (pmod(h($"id" * 53L), lit(10L)) + 1L).cast("int")),
        lit(" "),
        element_at(nouns, (pmod(h($"id" * 59L), lit(10L)) + 1L).cast("int")))
        .as("p_name"),
      concat(lit("Brand#"), pmod(h($"id" * 61L), lit(20L))).as("p_brand"),
      element_at(types, (pmod(h($"id" * 67L), lit(6L)) + 1L).cast("int"))
        .as("p_type"),
      (pmod(h($"id" * 71L), lit(50L)) + 1L).cast("int").as("p_size"),
      round(lit(900.0) + u($"id" * 73L) * 1200.0, 2).as("p_retailprice")),
      "part")

    // sparse TPC-H-style order keys: each id owns a disjoint 40-block,
    // so keys are unique, sparse, and monotone with id
    val statuses = array(Seq("F", "O", "P").map(lit): _*)
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW").map(lit): _*)
    val orders = spark.range(nOrd).select(
      ($"id" * 40L + pmod(h($"id" * 79L), lit(40L))).as("o_orderkey"),
      pmod(h($"id" * 83L), lit(nCust)).as("o_custkey"),
      element_at(statuses, (pmod(h($"id" * 89L), lit(3L)) + 1L).cast("int"))
        .as("o_orderstatus"),
      round(lit(1000.0) + u($"id" * 97L) * 499000.0, 2).as("o_totalprice"),
      (lit("1995-01-01").cast("timestamp") +
        make_dt_interval(pmod(h($"id" * 101L), lit(2400L)).cast("int")))
        .as("o_orderdate"),
      element_at(prios, (pmod(h($"id" * 103L), lit(5L)) + 1L).cast("int"))
        .as("o_orderpriority"))
    write(orders, "orders")

    // 1..7 lines per order (avg 4, like sf0.1's 600k/150k); line columns
    // seeded by (orderkey, linenumber)
    val flags = array(Seq("A", "N", "R").map(lit): _*)
    val li = orders.select($"o_orderkey", $"o_orderdate")
      .withColumn("l_linenumber",
        explode(sequence(lit(1),
          (pmod(h($"o_orderkey" * 107L), lit(7L)) + 1L).cast("int"))))
    val lseed = $"o_orderkey" * 7L + $"l_linenumber"
    write(li.select(
      $"o_orderkey".as("l_orderkey"),
      pmod(h(lseed * 109L), lit(nPart)).as("l_partkey"),
      pmod(h(lseed * 113L), lit(nSupp)).as("l_suppkey"),
      $"l_linenumber",
      (pmod(h(lseed * 127L), lit(50L)) + 1L).cast("double").as("l_quantity"),
      round((pmod(h(lseed * 127L), lit(50L)) + 1L).cast("double") *
        (lit(900.0) + u(lseed * 131L) * 1200.0), 2).as("l_extendedprice"),
      (pmod(h(lseed * 137L), lit(11L)).cast("double") / 100.0).as("l_discount"),
      (pmod(h(lseed * 139L), lit(9L)).cast("double") / 100.0).as("l_tax"),
      element_at(flags, (pmod(h(lseed * 149L), lit(3L)) + 1L).cast("int"))
        .as("l_returnflag"),
      when(pmod(h(lseed * 151L), lit(2L)) === 0L, "F").otherwise("O")
        .as("l_linestatus"),
      ($"o_orderdate" +
        make_dt_interval((pmod(h(lseed * 157L), lit(120L)) + 1L).cast("int")))
        .as("l_shipdate")), "lineitem")

    // events: the SPAN scales with k (30·k days), users with k — event
    // DENSITY per unit time stays constant, which is how real logs
    // grow. A fixed span with 10× the events would densify every
    // time bucket 10× and turn every time-co-residency join's TRUE
    // OUTPUT quadratic (observed: q_overlap_join 638 s at the first
    // fixed-span cut of this tier) — that measures the data shape,
    // not the engine.
    val eTypes = array(Seq("view", "view", "view", "view", "click", "click",
      "click", "purchase", "signup", "error").map(lit): _*)
    val nEvt = 100000L * k
    write(spark.range(nEvt).select(
      $"id".as("event_id"),
      (lit("2024-01-01").cast("timestamp") + make_dt_interval(
        lit(0), lit(0), lit(0),
        (u($"id" * 163L) * 30L * k * 86400L).cast("decimal(18,6)")))
        .as("ts"),
      pmod(h($"id" * 167L), lit(1500L * k)).as("user_id"),
      element_at(eTypes, (pmod(h($"id" * 173L), lit(10L)) + 1L).cast("int"))
        .as("event_type"),
      // exponential with mean 50, capped at sf0.1's max — sf0.1's value
      // is this shape (median 34.8 ≈ 50·ln2; 0.24% ≥ 300), and a
      // UNIFORM value made every `value >= 300` predicate select 190×
      // more rows, turning threshold-gated joins into different
      // workloads rather than scaled ones
      round(least(lit(560.21),
        -lit(50.0) * log(lit(1.0) - u($"id" * 179L) * 0.999999)), 2)
        .as("value"),
      concat(lit("{\"k\": "), pmod(h($"id" * 181L), lit(100L)), lit("}"))
        .as("props")), "events")

    // documents: Zipf over the sf VOCABULARY HEAD (the 31 tokens every
    // sf doc is built from — a genuinely shared head is what stresses
    // dedup bucket pressure) with a long synthetic tail; organic length
    // spread and ~5% planted near-dups like the round-10 generator
    val headVocab = spark.read.parquet(s"$src/documents.parquet")
      .select(explode(split($"text", " ")).as("tok"))
      .distinct().orderBy($"tok").as[String].collect()
    require(headVocab.nonEmpty, "sf0.1 documents vocabulary is empty?")
    val headArr = array(headVocab.map(lit).toSeq: _*)
    val vocabTail = 50000L
    val nDocs = 5000L * k
    val langs = array(Seq("en", "en", "en", "de", "es", "fr", "zh").map(lit): _*)
    val isDup = pmod($"id", lit(20L)) === 19L
    val srcId = when(isDup, $"id" - 1L).otherwise($"id")
    // length profile matches sf0.1 (~7–90 tokens, avg ≈ 48 ≈ the sf
    // docs' 297-char average): 10× docs then means ≈10× tokens, so
    // per-query scale ratios read directly (a 40–400 profile made the
    // "10×" tier ~49× in token volume and every text kernel look
    // super-linear)
    val len = (h(srcId * 7919L) % 84L + 7L).cast("int")
    val toks = transform(sequence(lit(1), len), i => {
      val z = (u(srcId * 104729L + i.cast("long")) *
        u(srcId * 104729L + i.cast("long")) *
        (headVocab.length + vocabTail)).cast("long")
      val mutated = isDup && h($"id" * 31L + i.cast("long")) % 30L === 0L
      val zz = when(mutated, z + vocabTail).otherwise(z)
      when(zz < headVocab.length,
        element_at(headArr, (zz + 1L).cast("int")))
        .otherwise(concat(lit("w"), zz))
    })
    val docs = spark.range(nDocs).select(
      $"id".as("doc_id"),
      array_join(toks, " ").as("text"),
      element_at(langs, (pmod(h($"id" * 191L), lit(7L)) + 1L).cast("int"))
        .as("lang"),
      concat(lit("src"), pmod(h($"id" * 193L), lit(20L))).as("source"))
      .withColumn("n_chars", length($"text"))
    write(docs, "documents")

    // embeddings: WEAK cluster structure (0.25·center + unit noise —
    // within-label cos ≈ 0.06, matching the sf0.1 shape where labels
    // are near-tags) plus ~2% planted near-dups (vector 49 mod 50
    // echoes its predecessor with ±0.05 noise). A first cut with TIGHT
    // clusters (cos ≈ 0.94 within label) made every within-cell pair a
    // semantic near-dup — 20M-edge connected components at 10× — which
    // benchmarks the data shape, not the engine; planted pairs keep
    // the dedup output real AND linear in corpus size.
    val nVec = 2000L * k
    val dim = 64
    val vecDup = pmod($"id", lit(50L)) === 49L
    val vecSrc = when(vecDup, $"id" - 1L).otherwise($"id")
    val lbl = pmod(h(vecSrc * 197L), lit(10L))
    val emb = transform(sequence(lit(0), lit(dim - 1)), i => {
      val center = (u(lbl * 64L + i.cast("long")) * 2.0 - 1.0) * 0.25
      val noise = (u(vecSrc * 211L + i.cast("long") * 199L) * 2.0 - 1.0)
      val dupJitter = when(vecDup,
        (u($"id" * 223L + i.cast("long")) * 2.0 - 1.0) * 0.05).otherwise(0.0)
      (center + noise + dupJitter).cast("float")
    })
    write(spark.range(nVec).select(
      $"id".as("vec_id"), emb.as("embedding"), lbl.cast("int").as("label")),
      "embeddings")

    val w = new java.io.PrintWriter(marker, "UTF-8")
    try w.print(s"k=$k") finally w.close()
    println(s"[sfgen] tier complete at $out (k=$k)")
    spark.stop()
  }
}
