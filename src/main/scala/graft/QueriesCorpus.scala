package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Dedup, Sampling, TextAnalysis}

/** Round-3 training-data-pipeline wave: dataset splitting, systematic
  * weighted sampling, benchmark decontamination, n-gram LM statistics,
  * frequency spectra, keep-best dedup, graph triangle counting,
  * integer-exact outlier detection, and the SQL-API surface — all
  * oracle-gated cross-engine (md5 hashing + integer/decimal arithmetic,
  * so results reproduce bit-for-bit in DuckDB). */
object QueriesCorpus {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  // --- stable train/val/test split (ops.Sampling.trainValTestSplit):
  //     hash-mod assignment, scan-side only; per-split corpus stats.
  private def trainSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("split",
        Sampling.trainValTestSplit($"doc_id".cast(StringType), "split"))
      .groupBy($"split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount($"text").cast(LongType)).as("n_tokens"),
        min($"doc_id").as("min_id"),
        max($"doc_id").as("max_id"))
  }

  private val trainSplitSql =
    """WITH b AS (
      |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS nt,
      |    CAST(CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 100 AS h
      |  FROM documents)
      |SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM b GROUP BY 1""".stripMargin

  // --- systematic weighted sampling (ops.Sampling.systematicByWeight):
  //     two-level prefix sum, no global sort; sampled ids + crossing
  //     positions are integer-exact in both engines.
  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.systematicByWeight(
      docs(s, dir).select($"doc_id", $"n_chars"),
      "doc_id", "n_chars", step = 10000L)
      .select($"doc_id", $"n_chars", $"cum")
  }

  private val weightedSampleSql =
    """WITH c AS (
      |  SELECT doc_id, n_chars,
      |    CAST(sum(n_chars) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM documents)
      |SELECT doc_id, n_chars, cum FROM c
      |WHERE cum % 10000 < n_chars""".stripMargin

  // --- benchmark decontamination (ops.Dedup.ngramContamination):
  //     docs < 100 act as the benchmark set; shared distinct 8-gram
  //     shingle counts per corpus doc.
  private def contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    Dedup.ngramContamination(
      d.filter($"doc_id" >= 100), d.filter($"doc_id" < 100),
      "doc_id", "text", n = 8)
      .select($"id".as("doc_id"), $"n_shared")
  }

  private val contaminationSql =
    """WITH g AS (
      |  SELECT doc_id, array_to_string(l[i:i+7], ' ') AS tok FROM (
      |    SELECT doc_id, string_split(text, ' ') AS l,
      |      unnest(generate_series(1, len(string_split(text, ' ')) - 7)) AS i
      |    FROM documents)),
      |bench AS (SELECT DISTINCT tok FROM g WHERE doc_id < 100),
      |corpus AS (SELECT DISTINCT doc_id, tok FROM g WHERE doc_id >= 100)
      |SELECT corpus.doc_id, count(*) AS n_shared
      |FROM corpus JOIN bench USING (tok)
      |GROUP BY 1""".stripMargin

  // --- corpus bigram statistics (ops.TextAnalysis.ngramCounts): top-25
  //     bigrams by occurrence count, ties broken lexicographically.
  private def topBigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.ngramCounts(docs(s, dir), "text", n = 2)
      .orderBy($"n".desc, $"gram".asc)
      .limit(25)
  }

  private val topBigramsSql =
    """WITH b AS (
      |  SELECT l[i] || ' ' || l[i+1] AS gram FROM (
      |    SELECT string_split(text, ' ') AS l,
      |      unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
      |    FROM documents))
      |SELECT gram, count(*) AS n FROM b
      |GROUP BY 1 ORDER BY n DESC, gram ASC LIMIT 25""".stripMargin

  // --- token frequency spectrum (count-of-counts — the Zipf/Good-Turing
  //     table): two partial-aggregated shuffles, output is #distinct
  //     frequencies rows.
  private def freqSpectrum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("f"))
      .groupBy($"f").agg(count(lit(1)).as("n_toks"))
  }

  private val freqSpectrumSql =
    """WITH cnt AS (
      |  SELECT tok, count(*) AS f FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok)
      |SELECT f, count(*) AS n_toks FROM cnt GROUP BY f""".stripMargin

  // --- keep-best exact dedup: one survivor per normalized fingerprint,
  //     chosen by highest token count (then lowest id) — the "keep the
  //     richest duplicate" variant of q_exact_dedup.
  private def keepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"fp").orderBy($"nt".desc, $"doc_id".asc)
    docs(s, dir)
      .select($"doc_id",
        TextAnalysis.fingerprint($"text").as("fp"),
        TextAnalysis.tokenCount($"text").as("nt"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"fp", $"nt")
  }

  private val keepBestSql =
    s"""SELECT doc_id, ${QueriesText.fpSql} AS fp,
       |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS nt
       |FROM documents
       |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY nt DESC, doc_id ASC) = 1""".stripMargin

  // --- distributed triangle counting (ops.Graph.triangleCount) over the
  //     parts-bought-together co-occurrence graph.
  private def triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .filter(pmod($"l_orderkey", lit(50)) === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p"))
      .distinct()
    val edges = li.as("a").join(li.as("b"), "ok")
      .filter(col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
    graft.ops.Graph.triangleCount(edges, "u", "v")
  }

  private val trianglesSql =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |  WHERE l_orderkey % 50 = 0),
      |e AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p),
      |n AS (SELECT count(DISTINCT x) AS n_nodes FROM
      |  (SELECT u AS x FROM e UNION SELECT v AS x FROM e)),
      |m AS (SELECT count(*) AS n_edges FROM e),
      |t AS (
      |  SELECT count(*) AS n_triangles
      |  FROM e ab JOIN e bc ON ab.v = bc.u JOIN e ac
      |    ON ac.u = ab.u AND ac.v = bc.v)
      |SELECT n_nodes, n_edges, n_triangles FROM n, m, t""".stripMargin

  // --- quantized PageRank (ops.Graph.pageRankQuantized) over the same
  //     symmetrized parts-co-occurrence graph as q_triangles: damping
  //     0.85, 10 iterations, all arithmetic in integer 1e-9 units with
  //     integral division — long sums are order-independent, so unlike
  //     double PageRank the ranks carry a ZERO-tolerance oracle. The
  //     DuckDB side replays the iterations as 10 generated chained CTEs
  //     (no recursion needed for a fixed count).
  private def pageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .filter(pmod($"l_orderkey", lit(50)) === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p"))
      .distinct()
    val half = li.as("a").join(li.as("b"), "ok")
      .filter(col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
    val edges = half.union(half.select(col("v").as("u"), col("u").as("v")))
    graft.ops.Graph.pageRankQuantized(edges, "u", "v", iters = 10)
  }

  private val pageRankSql = {
    val iterCtes = (1 to 10).map { k =>
      s"""it$k AS (
         |  SELECT nd.node, bb.base + (coalesce(s.s, 0) * 85) // 100 AS pr
         |  FROM nodes nd CROSS JOIN bb
         |  LEFT JOIN (
         |    SELECT e.v AS node, sum(p.pr // d.deg) AS s
         |    FROM e JOIN it${k - 1} p ON e.u = p.node
         |    JOIN outdeg d ON e.u = d.u
         |    GROUP BY 1) s ON nd.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |  WHERE l_orderkey % 50 = 0),
       |half AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p),
       |e AS (SELECT u, v FROM half UNION SELECT v AS u, u AS v FROM half),
       |nodes AS (SELECT DISTINCT u AS node FROM e UNION SELECT DISTINCT v FROM e),
       |nn AS (SELECT count(*) AS n FROM (SELECT DISTINCT node FROM nodes)),
       |bb AS (SELECT CAST(15000000000 // (100 * n) AS BIGINT) AS base,
       |              CAST(1000000000 // n AS BIGINT) AS pr0 FROM nn),
       |outdeg AS (SELECT u, count(*) AS deg FROM e GROUP BY 1),
       |it0 AS (SELECT node, pr0 AS pr FROM (SELECT DISTINCT node FROM nodes) CROSS JOIN bb),
       |$iterCtes
       |SELECT node, CAST(pr AS BIGINT) AS pr FROM it10""".stripMargin
  }

  // --- integer-exact z-score outliers: value has <= 2 decimals, so
  //     v100 = round(value*100) is exact; |x - mean| > 2*stddev_pop
  //     rewrites to (n*x - s)^2 > 4*(n*s2 - s^2) — all integer (decimal
  //     on the Spark side, HUGEINT in DuckDB), so the boundary decision
  //     is bit-exact in both engines.
  private def outliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val e = Tables.events(s, dir)
      .select($"event_type", round($"value" * 100).cast(d38).as("v"))
    val agg = e.groupBy($"event_type")
      .agg(
        count(lit(1)).cast(d38).as("n"),
        sum($"v").as("sv"),
        sum($"v" * $"v").as("sv2"))
    e.join(agg, "event_type")
      .filter(
        ($"n" * $"v" - $"sv") * ($"n" * $"v" - $"sv") >
          lit(4) * ($"n" * $"sv2" - $"sv" * $"sv"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_outliers"))
      .join(agg.select($"event_type", $"n".cast(LongType).as("n")), "event_type")
      .select($"event_type", $"n", $"n_outliers")
  }

  private val outliersSql =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |agg AS (
      |  SELECT event_type, count(*) AS n, sum(v) AS sv, sum(v * v) AS sv2
      |  FROM e GROUP BY 1),
      |o AS (
      |  SELECT e.event_type, count(*) AS n_outliers
      |  FROM e JOIN agg USING (event_type)
      |  WHERE (n * v - sv) * (n * v - sv) > 4 * (n * sv2 - sv * sv)
      |  GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n, n_outliers
      |FROM o JOIN agg USING (event_type)""".stripMargin

  // --- the SQL API surface (SURVEY §2.1 S5): the same engine consumed
  //     through spark.sql over registered temp views — join + decimal-
  //     exact aggregate + window, all planned by Catalyst from SQL text.
  private def sqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(
      """SELECT n_name, c_name, rev, rk FROM (
        |  SELECT n_name, c_name, rev,
        |    row_number() OVER (PARTITION BY n_name ORDER BY rev DESC, c_name) AS rk
        |  FROM (
        |    SELECT n_name, c_name,
        |      CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS rev
        |    FROM nation
        |    JOIN customer ON c_nationkey = n_nationkey
        |    JOIN orders ON o_custkey = c_custkey
        |    GROUP BY n_name, c_name))
        |WHERE rk <= 3""".stripMargin)
  }

  private val sqlSurfaceSql =
    """SELECT n_name, c_name, rev, CAST(rk AS INT) AS rk FROM (
      |  SELECT n_name, c_name, rev,
      |    row_number() OVER (PARTITION BY n_name ORDER BY rev DESC, c_name) AS rk
      |  FROM (
      |    SELECT n_name, c_name,
      |      CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS rev
      |    FROM nation
      |    JOIN customer ON c_nationkey = n_nationkey
      |    JOIN orders ON o_custkey = c_custkey
      |    GROUP BY n_name, c_name))
      |WHERE rk <= 3""".stripMargin

  // --- Z-order (Morton) clustering value (ops.Layout.zOrderValue): the
  //     multi-column data-skipping sort key, bit-exact in both engines.
  private def zorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select(
      $"o_orderkey",
      graft.ops.Layout.zOrderValue(
        $"o_custkey".bitwiseAND(lit(65535L)),
        $"o_orderkey".bitwiseAND(lit(65535L)), bits = 16).as("z"))
  }

  private val zorderSql: String = {
    val terms = (0 until 16).map { i =>
      s"(((o_custkey & 65535) >> $i) & 1) * ${1L << (2 * i)} + " +
        s"(((o_orderkey & 65535) >> $i) & 1) * ${1L << (2 * i + 1)}"
    }
    s"""SELECT o_orderkey, CAST(${terms.mkString(" + ")} AS BIGINT) AS z
       |FROM orders""".stripMargin
  }

  // --- n-gram repetition ratio (the C4/Gopher repetitious-text quality
  //     filter): per doc, total vs distinct 3-gram counts and an
  //     integer-exact "over 20% repeated" flag (5*(n3-nd3) > n3).
  private def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", split($"text", " ").as("__toks"))
      .select($"doc_id", TextAnalysis.ngramArray($"__toks", 3).as("g"))
      .select($"doc_id",
        size($"g").as("n3"),
        size(array_distinct($"g")).as("nd3"))
      .withColumn("repetitious",
        (lit(5) * ($"n3" - $"nd3") > $"n3").cast(IntegerType))
  }

  private val repetitionSql =
    """WITH g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(l) >= 3 THEN
      |      [array_to_string(l[i:i+2], ' ') FOR i IN generate_series(1, len(l) - 2)]
      |    ELSE [] END AS grams
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
      |SELECT doc_id,
      |  CAST(len(grams) AS INT) AS n3,
      |  CAST(len(list_distinct(grams)) AS INT) AS nd3,
      |  CAST(CASE WHEN 5 * (len(grams) - len(list_distinct(grams))) > len(grams)
      |    THEN 1 ELSE 0 END AS INT) AS repetitious
      |FROM g""".stripMargin

  // --- vocabulary build + OOV mapping (tokenizer-at-scale shape):
  //     min-frequency vocab with deterministic ids (freq desc, token
  //     asc), corpus mapped through it; per-doc token/OOV counts plus
  //     an id-sum checksum proving the mapping itself matches.
  private def vocabOov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val occ = docs(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val cnt = occ.groupBy($"tok").agg(count(lit(1)).as("f"))
    // global rank over the vocab — fine: the min-frequency cut keeps the
    // vocab orders of magnitude smaller than the corpus (here 31 rows;
    // a 100 TB corpus's word vocab is ~1e7 — still one task's work)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"f".desc, $"tok".asc)
    val vocab = cnt.filter($"f" >= 5)
      .withColumn("vid", row_number().over(w).cast(LongType))
    occ.join(broadcast(vocab.select($"tok", $"vid")), Seq("tok"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        count(when($"vid".isNull, 1)).as("n_oov"),
        coalesce(sum($"vid"), lit(0L)).as("vid_sum"))
  }

  private val vocabOovSql =
    """WITH occ AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnt AS (SELECT tok, count(*) AS f FROM occ GROUP BY tok),
      |vocab AS (
      |  SELECT tok, CAST(row_number() OVER (ORDER BY f DESC, tok ASC) AS BIGINT) AS vid
      |  FROM cnt WHERE f >= 5)
      |SELECT doc_id, count(*) AS n_tok,
      |  count(CASE WHEN vid IS NULL THEN 1 END) AS n_oov,
      |  COALESCE(CAST(sum(vid) AS BIGINT), 0) AS vid_sum
      |FROM occ LEFT JOIN vocab USING (tok)
      |GROUP BY doc_id""".stripMargin

  // --- deterministic corpus shuffle (ops.Sampling.deterministicShuffle):
  //     reproducible global training order without a single-task sort.
  private def shuffleOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.deterministicShuffle(
      docs(s, dir).select($"doc_id"), "doc_id", salt = "epoch0")
      .select($"doc_id", $"shuffle_key", $"pos")
  }

  private val shuffleOrderSql =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST(CAST('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS shuffle_key
      |  FROM documents)
      |SELECT doc_id, shuffle_key,
      |  CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
      |FROM h""".stripMargin

  // --- schema-evolution union (multi-source corpus ingestion):
  //     unionByName with missing columns null-filled, per-source
  //     completeness counts.
  private def schemaUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val src0 = d.filter($"source" === "src0").select($"doc_id", $"source", $"lang")
    val rest = d.filter($"source" =!= "src0").select($"doc_id", $"source", $"n_chars")
    src0.unionByName(rest, allowMissingColumns = true)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n"),
        count($"lang").as("n_lang"),
        count($"n_chars").as("n_nchars"))
  }

  private val schemaUnionSql =
    """WITH u AS (
      |  SELECT doc_id, source, lang, NULL AS n_chars FROM documents WHERE source = 'src0'
      |  UNION ALL BY NAME
      |  SELECT doc_id, source, n_chars FROM documents WHERE source <> 'src0')
      |SELECT source, count(*) AS n, count(lang) AS n_lang,
      |  count(n_chars) AS n_nchars
      |FROM u GROUP BY source""".stripMargin

  // --- GPT-style sequence packing: contiguous token stream chunked
  //     into 512-token context windows, doc -> (bin, offset) via the
  //     two-level prefix sum (no global window over the corpus)
  private def packSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Packing.packSequences(
      docs(s, dir).select($"doc_id".as("id"),
        size(split($"text", " ")).cast("long").as("n_tokens")),
      "id", "n_tokens", capacity = 512L, bucketSpan = 100L)
  }

  private val packSequencesSql =
    """WITH t AS (SELECT doc_id AS id, len(string_split(text, ' ')) AS n_tokens FROM documents),
      |c AS (
      |  SELECT id, n_tokens,
      |    coalesce(sum(n_tokens) OVER (
      |      ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
      |  FROM t)
      |SELECT id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(cum0 // 512 AS BIGINT) AS bin,
      |  CAST(cum0 % 512 AS BIGINT) AS offset
      |FROM c""".stripMargin

  // --- domain mixing: deterministic weighted interleave key per doc
  //     (src0 oversampled 3x, src1 2x, the rest 1x)
  private def domainMix(s: SparkSession, dir: String): DataFrame =
    graft.ops.Mixing.mixKeys(docs(s, dir), "doc_id", "source",
      weights = Map("src0" -> 3.0, "src1" -> 2.0), bucketSpan = 100L)

  private val domainMixSql =
    """WITH r AS (
      |  SELECT doc_id AS id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS src_rank
      |  FROM documents)
      |SELECT id, source, CAST(src_rank AS BIGINT) AS src_rank,
      |  round((src_rank - 0.5) /
      |    (CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0 ELSE 1.0 END), 6) AS mix_key
      |FROM r""".stripMargin

  // --- token-budget chunking with overlap (chunk 8, overlap 2): the
  //     standard context-window preprocessing step; a pure narrow scan
  private def chunkText(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextPrep.chunkByTokens(docs(s, dir), "doc_id", "text",
      chunkSize = 8, overlap = 2)

  private val chunkTextSql =
    """WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
      |n AS (SELECT id, toks, len(toks) AS n FROM t),
      |c AS (SELECT id, toks,
      |        CAST(unnest(generate_series(0, greatest(0, (n - 8 + 5) // 6))) AS INT) AS chunk_idx
      |      FROM n)
      |SELECT id, chunk_idx,
      |  array_to_string(list_slice(toks, chunk_idx * 6 + 1, chunk_idx * 6 + 8), ' ') AS chunk_text,
      |  CAST(len(list_slice(toks, chunk_idx * 6 + 1, chunk_idx * 6 + 8)) AS INT) AS n_tokens
      |FROM c""".stripMargin

  // --- PII scrubbing: deterministic fake PII planted per doc_id (email
  //     on even ids, IPv4 on multiples of 3, phone on multiples of 5),
  //     then the shared RE2-compatible pattern chain redacts it
  /** The deterministic planting transform, reusable on any
    * (doc_id, text) subset — the composed prep pipeline plants the
    * identical PII on its rule-gated survivors. */
  private def plantPii(d: DataFrame): DataFrame =
    d.select(col("doc_id").as("id"),
      concat_ws(" ", col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("u"), col("doc_id").cast("string"), lit("@mail.example.com"))),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("192.168."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7"))),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("555-"), lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
            lit("-1234")))).as("text"))

  private def piiDocs(s: SparkSession, dir: String): DataFrame =
    plantPii(docs(s, dir))

  private def scrubPii(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextPrep.scrubPii(piiDocs(s, dir), "text")
      .select(col("id"), col("scrubbed"), col("redactions"))

  private val scrubPiiSql = {
    // standard-SQL single-quoted strings pass backslashes through
    // verbatim, so the shared Java/RE2 patterns embed unchanged
    val repl = graft.ops.TextPrep.piiPatterns.foldLeft("text2") {
      case (c, (pat, tag)) => s"regexp_replace($c, '$pat', '$tag', 'g')"
    }
    val counts = graft.ops.TextPrep.piiPatterns.map { case (_, tag) =>
      s"(length(scrubbed) - length(regexp_replace(scrubbed, '$tag', '', 'g'))) / ${tag.length}"
    }.mkString(" + ")
    s"""WITH p AS (
       |  SELECT doc_id AS id,
       |    concat_ws(' ', text,
       |      CASE WHEN doc_id % 2 = 0 THEN 'u' || CAST(doc_id AS VARCHAR) || '@mail.example.com' END,
       |      CASE WHEN doc_id % 3 = 0 THEN '192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.7' END,
       |      CASE WHEN doc_id % 5 = 0 THEN '555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234' END
       |    ) AS text2
       |  FROM documents),
       |s AS (SELECT id, $repl AS scrubbed FROM p)
       |SELECT id, scrubbed, CAST($counts AS INT) AS redactions FROM s""".stripMargin
  }

  // --- corpus-level boilerplate removal (CCNet/RefinedWeb shape):
  //     6-token segments, drop those shared by >1 distinct docs,
  //     reassemble survivors in document order
  private def boilerplate(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextPrep.removeBoilerplate(docs(s, dir), "doc_id", "text",
      segTokens = 6, maxDocFreq = 1)

  private val boilerplateSql =
    """WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
      |n AS (SELECT id, toks, len(toks) AS n FROM t),
      |c AS (SELECT id, toks,
      |        CAST(unnest(generate_series(0, greatest(0, (n - 1) // 6))) AS INT) AS chunk_idx
      |      FROM n),
      |g AS (SELECT id, chunk_idx,
      |        array_to_string(list_slice(toks, chunk_idx * 6 + 1, chunk_idx * 6 + 6), ' ') AS seg
      |      FROM c),
      |f AS (SELECT seg AS fseg
      |      FROM (SELECT seg, count(DISTINCT id) AS seg_df FROM g GROUP BY 1)
      |      WHERE seg_df > 1),
      |m AS (SELECT g.id, g.chunk_idx, g.seg, (fseg IS NOT NULL) AS boiler
      |      FROM g LEFT JOIN f ON g.seg = f.fseg)
      |SELECT id,
      |  coalesce(array_to_string(list(seg ORDER BY chunk_idx) FILTER (WHERE NOT boiler), ' '), '') AS clean_text,
      |  count(*) FILTER (WHERE NOT boiler) AS kept_segments,
      |  count(*) FILTER (WHERE boiler) AS removed_segments
      |FROM m GROUP BY id""".stripMargin

  // --- composed prep pipeline (rule gate -> PII scrub -> chunk): the
  //     shard-producing tail of a training-data pipeline. Gopher-style
  //     rule filter on the raw text, the deterministic PII planting +
  //     scrub of q_scrub_pii on the survivors, then token-budget
  //     chunking of the scrubbed text. Every stage is oracle-exact on
  //     its own (q_gopher_rules, q_scrub_pii, q_chunk_text); this gate
  //     proves they stay exact THROUGH composition — filter
  //     cardinality, regex chain order, and chunk arithmetic included.
  private def prepPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val passed = docs(s, dir)
      .filter(size(graft.ops.TextAnalysis.ruleFailures($"text")) === 0)
    val scrubbed = graft.ops.TextPrep.scrubPii(plantPii(passed), "text")
    graft.ops.TextPrep.chunkByTokens(
      scrubbed.select($"id", $"scrubbed"), "id", "scrubbed",
      chunkSize = 8, overlap = 2)
  }

  private val prepPipelineSql = {
    val repl = graft.ops.TextPrep.piiPatterns.foldLeft("text2") {
      case (c, (pat, tag)) => s"regexp_replace($c, '$pat', '$tag', 'g')"
    }
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT doc_id, text, toks, len(toks) AS n,
       |        list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS mwl,
       |        len(list_distinct(toks)) * 1.0 / len(toks) AS ttr
       |      FROM t),
       |passed AS (
       |  SELECT doc_id, text FROM s
       |  WHERE n >= 25 AND n <= 90 AND mwl <= 5.0
       |    AND (list_contains(toks, 'the') OR list_contains(toks, 'a'))
       |    AND ttr >= 0.35),
       |p AS (
       |  SELECT doc_id AS id,
       |    concat_ws(' ', text,
       |      CASE WHEN doc_id % 2 = 0 THEN 'u' || CAST(doc_id AS VARCHAR) || '@mail.example.com' END,
       |      CASE WHEN doc_id % 3 = 0 THEN '192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.7' END,
       |      CASE WHEN doc_id % 5 = 0 THEN '555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234' END
       |    ) AS text2
       |  FROM passed),
       |sc AS (SELECT id, string_split($repl, ' ') AS ctoks FROM p),
       |nn AS (SELECT id, ctoks, len(ctoks) AS n FROM sc),
       |c AS (SELECT id, ctoks,
       |        CAST(unnest(generate_series(0, greatest(0, (n - 8 + 5) // 6))) AS INT) AS chunk_idx
       |      FROM nn)
       |SELECT id, chunk_idx,
       |  array_to_string(list_slice(ctoks, chunk_idx * 6 + 1, chunk_idx * 6 + 8), ' ') AS chunk_text,
       |  CAST(len(list_slice(ctoks, chunk_idx * 6 + 1, chunk_idx * 6 + 8)) AS INT) AS n_tokens
       |FROM c""".stripMargin
  }

  // --- the registered-function SQL surface (VERDICT r6 #8): the engine's
  //     injected functions beyond vec_dot — scrub_pii, token_count,
  //     hash60, norm_text — consumed through spark.sql text. The
  //     builders round-trip through the same Column operators the
  //     DataFrame gates use, so this gate pins BOTH that registration
  //     works and that SQL-path results match the ops exactly.
  private def sqlFunctions(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir).createOrReplaceTempView("documents_sqlfn")
    s.sql(
      """SELECT doc_id,
        |  scrub_pii(text) AS scrubbed,
        |  token_count(text) AS n_tokens,
        |  hash60(norm_text(text)) AS fp60
        |FROM documents_sqlfn""".stripMargin)
  }

  private val sqlFunctionsSql = {
    val repl = graft.ops.TextPrep.piiPatterns.foldLeft("text") {
      case (c, (pat, tag)) => s"regexp_replace($c, '$pat', '$tag', 'g')"
    }
    val norm =
      "regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')"
    s"""SELECT doc_id,
       |  $repl AS scrubbed,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |  CAST(CAST('0x' || substr(md5($norm), 1, 15) AS UBIGINT) AS BIGINT) AS fp60
       |FROM documents""".stripMargin
  }

  // --- parquet footer-stats manifest (ops.Layout.parquetFileStats):
  //     the data-skipping primitive — per-row-group min/max/null counts
  //     read from footers only, no data scan. The gate copies one
  //     orders file into a fixture and pins the int64 columns' stats
  //     exactly against DuckDB's parquet_metadata() on the same footer.
  //     The oracle SQL needs the literal path; Verify dumps oracleSql
  //     AFTER the queries run, so the (def) SQL embeds the path the
  //     gate staged (Fixtures.staged).
  private def fileStats(s: SparkSession, dir: String): DataFrame = {
    val src0 = java.nio.file.Paths.get(s"$dir/orders.parquet")
    // a directory-shaped table (multi-file scale tiers) stages ONE part
    // file — stats are per-file, so a single footer is the whole gate,
    // and the oracle reads the same staged file
    val src =
      if (!java.nio.file.Files.isDirectory(src0)) src0
      else {
        import scala.jdk.CollectionConverters._
        val ls = java.nio.file.Files.list(src0)
        try ls.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.toString).head
        finally ls.close()
      }
    val out = Fixtures.once(s, dir, "file_stats") { p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(p, "orders.parquet"))
    }
    graft.ops.Layout.parquetFileStats(s, s"$out/orders.parquet")
      .filter(col("column").isin("o_orderkey", "o_custkey"))
      .select(col("column"), col("row_group").cast("int").as("row_group"),
        col("min_value").cast("long").as("min_v"),
        col("max_value").cast("long").as("max_v"),
        col("num_values"), col("null_count"))
  }

  private def fileStatsSql = {
    val p = Fixtures.staged("file_stats") + "/orders.parquet"
    s"""SELECT path_in_schema AS column, CAST(row_group_id AS INT) AS row_group,
       |  CAST(stats_min_value AS BIGINT) AS min_v,
       |  CAST(stats_max_value AS BIGINT) AS max_v,
       |  CAST(num_values AS BIGINT) AS num_values,
       |  CAST(stats_null_count AS BIGINT) AS null_count
       |FROM parquet_metadata('$p')
       |WHERE path_in_schema IN ('o_orderkey', 'o_custkey')""".stripMargin
  }

  // --- bucketed co-located join (ops.Layout.writeBucketed): both fact
  //     tables land hash-bucketed on the join key, so the join consumes
  //     the on-disk layout as its distribution — no Exchange on either
  //     side (plan-asserted in LayoutSpec). The gate stages the
  //     bucketed tables once per JVM (re-registered for a session whose
  //     catalog lacks them) and aggregates the joined result; the
  //     oracle joins the ORIGINAL parquet, so the bucketing layer must
  //     be value-invisible.
  private def ensureBucketed(s: SparkSession, dir: String): (String, String) = {
    def tables(base: String) = {
      val h = new java.io.File(base).getParentFile.getName
      (s"graft_bkt_orders_$h", s"graft_bkt_customer_$h")
    }
    def write(base: String): Unit = {
      val (to, tc) = tables(base)
      graft.ops.Layout.writeBucketed(
        Tables.orders(s, dir), to, s"$base/orders",
        "o_custkey", 8, Some("o_orderkey"))
      graft.ops.Layout.writeBucketed(
        Tables.customer(s, dir), tc, s"$base/customer",
        "c_custkey", 8)
    }
    val base = Fixtures.once(s, dir, "bucketed")(write)
    if (!s.catalog.tableExists(tables(base)._1)) write(base)
    tables(base)
  }

  /** The orders seed most gates over orders share, built once per JVM:
    * 16 files, range-clustered on o_orderkey (tight disjoint key ranges,
    * the layout the commit verbs are fast against) or, unclustered,
    * round-robin (overlapping ranges, min/max pruning dead). No gate
    * writes into it: each takes its own hard-linked clone
    * ([[ordersClone]], `Fixtures.versioned`). */
  private def ordersSeed(s: SparkSession, dir: String, clustered: Boolean = true): String =
    Fixtures.once(s, dir, if (clustered) "orders_range" else "orders_rr") { p =>
      val o = Tables.orders(s, dir)
      (if (clustered) o.repartitionByRange(16, col("o_orderkey"))
          .sortWithinPartitions(col("o_orderkey"))
       else o.repartition(16)).write.parquet(p)
    }

  /** The gate's fixture dir, holding its own clone of [[ordersSeed]] at
    * `<dir>/<at>`, so no gate's sidecar writes are visible to another. */
  private def ordersClone(s: SparkSession, dir: String, gate: String,
      at: String = "table", clustered: Boolean = true): String = {
    val seed = ordersSeed(s, dir, clustered)
    Fixtures.once(s, dir, gate)(b =>
      graft.ops.Upsert.cloneSnapshot(s, seed, s"$b/$at"))
  }

  /** The q_upsert delivery over `orders`: keys ≤ max/8 with doubled
    * price, plus the 500 highest keys shifted by 1e9 with status 'N'.
    * Shared by q_upsert, q_sql_merge, q_sql_merge_named, q_cdf and
    * q_sql_cdf, which all answer to the same oracle. */
  private def upsertDelivery(orders: DataFrame, cut: Long): DataFrame =
    orders.filter(col("o_orderkey") <= cut)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(
        orders.orderBy(col("o_orderkey").desc).limit(500)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
          .withColumn("o_orderstatus", lit("N")))

  private def maxKeyEighth(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).collect()(0).getLong(0) / 8

  private def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (to, tc) = ensureBucketed(s, dir)
    val o = s.table(to); val c = s.table(tc)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(c("c_mktsegment").as("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        Queries.dsum(o("o_totalprice"), 2).as("sum_price"))
  }

  private val bucketedJoinSql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // --- small-file compaction (ops.Layout.compactSmallFiles): a 64-file
  //     shatter of lineitem is compacted back to ~targetBytes outputs
  //     with a shuffle-free coalesce; the gate aggregates the COMPACTED
  //     copy while the oracle aggregates the original table — compaction
  //     must be value-invisible. The shatter is staged once per JVM;
  //     the compaction itself runs every time because it IS the
  //     operator under test.
  private def compact(s: SparkSession, dir: String): DataFrame = {
    val base = Fixtures.once(s, dir, "compact")(b =>
      Tables.lineitem(s, dir).repartition(64).write.parquet(s"$b/shatter"))
    val in = s"$base/shatter"; val out = s"$base/compacted"
    val (nIn, nOut, bytes) =
      graft.ops.Layout.compactSmallFiles(s, in, out, targetBytes = 8L << 20)
    require(nIn == 64 && nOut < nIn,
      s"compaction must shrink the file count: $nIn -> $nOut ($bytes bytes)")
    s.read.parquet(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("l_quantity")).as("sum_qty"))
  }

  private val compactSql =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // --- copy-on-write upsert (ops.Upsert): MERGE INTO over a
  //     key-clustered parquet table, file-granular — the footer stats
  //     prune the rewrite to files whose key range intersects
  //     the update batch; everything else is byte-copied. The table is
  //     a clone of the range-clustered orders seed; the update batch
  //     (upsertDelivery) is a contiguous key slice plus 500 brand-new
  //     keys, so only the low-key files rewrite and the rest byte-copy
  //     — and the whole merge is expressible as plain SQL over the
  //     original table for the oracle. The upsert runs every time — it
  //     IS the operator under test.
  private def upsert(s: SparkSession, dir: String): DataFrame = {
    val (tbl, out, cut) = stagedOrdersRange(s, dir, "upsert")
    val updates = upsertDelivery(s.read.parquet(tbl), cut)
    val (nCopied, nRewritten, _) =
      graft.ops.Upsert.upsertByKey(s, tbl, out, updates, "o_orderkey")
    require(nRewritten > 0 && nCopied > 0,
      s"upsert must split copy/rewrite: copied=$nCopied rewritten=$nRewritten")
    s.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  // --- GENERAL DATA SKIPPING (ops.Upsert.statsPrunedFiles +
  //     readWhere): per-file bounds for a column that is NOT a commit
  //     key, folded from the footers at read time — files whose bounds
  //     can't satisfy the predicate are never scanned. The staged
  //     table is orders clustered by o_custkey ([[statsPruneLayout]]);
  //     the gate REQUIRES the pruning to bite (files read < total) and
  //     aggregates the pruned read, so it passes only if skipping never
  //     drops a matching row.
  private def statsPrune(s: SparkSession, dir: String): DataFrame = {
    val tbl = Fixtures.once(s, dir, "statsprune")(
      statsPruneLayout(Tables.orders(s, dir), _))
    val pred = col("o_custkey").between(lit(100L), lit(400L))
    val (cands, total) = graft.ops.Upsert.statsPrunedFiles(s, tbl, pred)
    require(cands.nonEmpty && cands.size < total,
      s"stats pruning must bite: ${cands.size}/$total files")
    graft.ops.Upsert.readWhere(s, tbl, pred)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  /** q_stats_prune's fixture: `orders` written to `path` in up to 16
    * files clustered by o_custkey, with file boundaries that depend on
    * the data alone — one min/max aggregate, a computed range id, a
    * hash repartition on it and a sort within each file. (A
    * `repartitionByRange` samples with a seed taken from the RDD id,
    * so its boundaries depend on what ran earlier in the JVM.) */
  private[graft] def statsPruneLayout(orders: DataFrame, path: String): Unit = {
    val n = 16
    val r = orders.agg(min(col("o_custkey")), max(col("o_custkey"))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val width = (hi - lo) / n + 1
    orders
      .repartition(n, floor((col("o_custkey") - lo) / width))
      .sortWithinPartitions(col("o_custkey"), col("o_orderkey"))
      .write.parquet(path)
  }

  private val statsPruneSql =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_custkey BETWEEN 100 AND 400
      |GROUP BY o_orderstatus""".stripMargin

  private val upsertSql =
    """WITH upd AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey <= (SELECT max(o_orderkey) / 8 FROM orders)
      |  UNION ALL
      |  SELECT * FROM (
      |    SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
      |           o_totalprice, o_orderdate, o_orderpriority
      |    FROM orders ORDER BY o_orderkey DESC LIMIT 500)),
      |merged AS (
      |  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      |  UNION ALL SELECT * FROM upd)
      |SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY o_orderstatus""".stripMargin

  // --- COMPOSITE-KEY upsert (ops.Upsert.upsertByKeys): MERGE on the
  //     natural (l_orderkey, l_linenumber) grain — the tuple-eviction
  //     case a single surrogate key can't express. The staged table is
  //     a 5-column lineitem projection DEDUPED to the tuple grain (the
  //     driver's generator repeats tuples; the verb's contract is
  //     unique keys) and range-clustered by the LEADING key, which is
  //     all pruning consults. The update batch doubles prices on a
  //     contiguous leading-key slice AND appends 500 brand-new tuples
  //     reusing EXISTING high orderkeys with shifted line numbers — so
  //     touched files must evict by the FULL tuple (rows sharing an
  //     orderkey but not the line number ride along verbatim) while
  //     the new tuples append into files whose leading bounds already
  //     cover them.
  private def stagedLineitemComposite(
      s: SparkSession, dir: String, gate: String): (String, String, Long) = {
    val seed = Fixtures.once(s, dir, "lineitem_composite") { p =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(max(col("l_quantity")).as("l_quantity"),
          max(col("l_extendedprice")).as("l_extendedprice"),
          max(col("l_returnflag")).as("l_returnflag"))
        .repartitionByRange(16, col("l_orderkey"), col("l_linenumber"))
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
        .write.parquet(p)
    }
    val base = Fixtures.once(s, dir, gate)(b =>
      graft.ops.Upsert.cloneSnapshot(s, seed, s"$b/table"))
    (s"$base/table", s"$base/out",
      maxKeyEighth(s.read.parquet(s"$base/table"), "l_orderkey"))
  }

  private def compositeUpdates(
      s: SparkSession, tbl: String, cut: Long): DataFrame = {
    val li = s.read.parquet(tbl)
    li.filter(col("l_orderkey") <= cut)
      .withColumn("l_extendedprice", col("l_extendedprice") * 2)
      .unionByName(
        li.orderBy(col("l_orderkey").desc, col("l_linenumber").desc)
          .limit(500)
          .withColumn("l_linenumber", col("l_linenumber") + lit(100))
          .withColumn("l_returnflag", lit("X")))
  }

  private def upsertComposite(s: SparkSession, dir: String): DataFrame = {
    val (tbl, out, cut) = stagedLineitemComposite(s, dir, "upsertcomp")
    val (nCopied, nRewritten, _) = graft.ops.Upsert.upsertByKeys(
      s, tbl, out, compositeUpdates(s, tbl, cut),
      Seq("l_orderkey", "l_linenumber"))
    require(nRewritten > 0 && nCopied > 0,
      s"composite upsert must split copy/rewrite: " +
        s"copied=$nCopied rewritten=$nRewritten")
    s.read.parquet(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("l_extendedprice"), 2).as("sum_price"))
  }

  private val upsertCompositeSql =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |         max(l_quantity) AS l_quantity,
      |         max(l_extendedprice) AS l_extendedprice,
      |         max(l_returnflag) AS l_returnflag
      |  FROM lineitem GROUP BY 1, 2),
      |upd AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity,
      |         l_extendedprice * 2 AS l_extendedprice, l_returnflag
      |  FROM li WHERE l_orderkey <= (SELECT max(l_orderkey) / 8 FROM li)
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber + 100 AS l_linenumber, l_quantity,
      |         l_extendedprice, 'X' AS l_returnflag
      |  FROM (SELECT * FROM li ORDER BY l_orderkey DESC, l_linenumber DESC
      |        LIMIT 500)),
      |merged AS (
      |  SELECT * FROM li WHERE NOT EXISTS (
      |    SELECT 1 FROM upd u
      |    WHERE u.l_orderkey = li.l_orderkey
      |      AND u.l_linenumber = li.l_linenumber)
      |  UNION ALL SELECT * FROM upd)
      |SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY l_returnflag""".stripMargin

  // --- PARTITIONED-layout upsert (ops.Upsert.upsertByKeys over a Hive
  //     partitionBy output — the engine's own production sink shape,
  //     fia.Pipeline S4): bounds rows key files by snapshot-RELATIVE
  //     path, the leading key is the PARTITION column (whose bounds
  //     come from the directory names — partition pruning expressed as
  //     bounds rows, zero footer reads), and fresh files land back
  //     under partitionBy so the output reads as one consistent
  //     partitioned table. The update batch doubles one partition's
  //     low-key slice and appends 300 rows into a brand-new partition;
  //     only the touched partition's low files may rewrite (asserted).
  private def upsertPartitioned(s: SparkSession, dir: String): DataFrame = {
    val base = Fixtures.once(s, dir, "upsertpart")(b =>
      Tables.orders(s, dir)
        .repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.partitionBy("o_orderstatus").parquet(s"$b/table"))
    val tbl = s"$base/table"; val out = s"$base/out"
    val orders = s.read.parquet(tbl)
    val cut = maxKeyEighth(orders, "o_orderkey")
    val updates = orders
      .filter(col("o_orderstatus") === "F" && col("o_orderkey") <= cut)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(
        orders.orderBy(col("o_orderkey").desc).limit(300)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
          .withColumn("o_orderstatus", lit("N")))
    val (nCopied, nRewritten, _) = graft.ops.Upsert.upsertByKeys(
      s, tbl, out, updates, Seq("o_orderstatus", "o_orderkey"))
    val fFiles = graft.ops.Layout.parquetFileStats(s, tbl)
      .select("file").distinct().collect()
      .count(_.getString(0).contains("o_orderstatus=F"))
    require(nRewritten > 0 && nRewritten <= fFiles && nCopied > 0,
      s"partitioned upsert must rewrite only within the F partition " +
        s"($fFiles files): copied=$nCopied rewritten=$nRewritten")
    require(new java.io.File(s"$out/o_orderstatus=N").isDirectory,
      "the new partition dir must exist in the output")
    s.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  private val upsertPartitionedSql =
    """WITH upd AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders
      |  WHERE o_orderstatus = 'F'
      |    AND o_orderkey <= (SELECT max(o_orderkey) / 8 FROM orders)
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
      |         'N' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |  FROM (SELECT * FROM orders ORDER BY o_orderkey DESC LIMIT 300)),
      |merged AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders o WHERE NOT EXISTS (
      |    SELECT 1 FROM upd u
      |    WHERE u.o_orderstatus = o.o_orderstatus
      |      AND u.o_orderkey = o.o_orderkey)
      |  UNION ALL SELECT * FROM upd)
      |SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY o_orderstatus""".stripMargin

  // --- SQL composite MERGE (`ON a AND b` through the injected
  //     parser): the SAME delivery as q_upsert_composite driven by SQL
  //     text — shares its oracle, so the statement must land the
  //     identical snapshot.
  private def sqlMergeComposite(s: SparkSession, dir: String): DataFrame = {
    val (tbl, out, cut) = stagedLineitemComposite(s, dir, "sqlmergecomp")
    compositeUpdates(s, tbl, cut)
      .createOrReplaceTempView("sqlmergecomp_updates")
    val stats = s.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM sqlmergecomp_updates)
         |ON l_orderkey AND l_linenumber
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |INTO '$out'""".stripMargin).collect()(0)
    require(stats.getLong(0) > 0 && stats.getLong(1) > 0,
      s"SQL composite MERGE must split copy/rewrite: $stats")
    s.read.parquet(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("l_extendedprice"), 2).as("sum_price"))
  }

  // --- SQL MERGE (plans.LakehouseSql via the injected parser): the
  //     SAME deterministic delivery as q_upsert, but driven entirely by
  //     SQL text through spark.sql — the statement must lower onto the
  //     COW commit engine and land the identical snapshot, so the gate
  //     shares q_upsert's oracle. The update batch rides a temp view so
  //     the USING subquery exercises the delegate parser inside ours.
  private def sqlMerge(s: SparkSession, dir: String): DataFrame = {
    val (tbl, out, cut) = stagedOrdersRange(s, dir, "sqlmerge")
    upsertDelivery(s.read.parquet(tbl), cut)
      .createOrReplaceTempView("sqlmerge_updates")
    val stats = s.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM sqlmerge_updates)
         |ON o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |INTO '$out'""".stripMargin).collect()(0)
    require(stats.getLong(0) > 0 && stats.getLong(1) > 0,
      s"SQL MERGE must split copy/rewrite: $stats")
    s.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  // --- catalog-name MERGE (plans.GraftCatalog): q_sql_merge's exact
  //     delivery addressed through a CREATE GRAFT TABLE alias instead
  //     of the raw path — shares q_upsert's oracle, so name resolution
  //     must be value-invisible.
  private def sqlMergeNamed(s: SparkSession, dir: String): DataFrame = {
    val (tbl, out, cut) = stagedOrdersRange(s, dir, "sqlmergenamed")
    upsertDelivery(s.read.parquet(tbl), cut)
      .createOrReplaceTempView("sqlmergenamed_updates")
    s.sql(s"CREATE GRAFT TABLE merge_src AT '$tbl'")
    val stats = s.sql(
      s"""MERGE INTO 'merge_src' USING (SELECT * FROM sqlmergenamed_updates)
         |ON o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |INTO '$out'""".stripMargin).collect()(0)
    require(stats.getLong(0) > 0 && stats.getLong(1) > 0,
      s"named SQL MERGE must split copy/rewrite: $stats")
    s.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  // --- SQL DELETE: q_delete's slice delete, expressed as the DELETE
  //     FROM statement, sharing q_delete's oracle.
  private def sqlDelete(s: SparkSession, dir: String): DataFrame = {
    val (tbl, out, cut) = stagedOrdersRange(s, dir, "sqldelete")
    val stats = s.sql(
      s"""DELETE FROM '$tbl'
         |WHERE o_orderkey IN
         |  (SELECT o_orderkey FROM parquet.`$tbl` WHERE o_orderkey <= $cut)
         |INTO '$out'""".stripMargin).collect()(0)
    require(stats.getLong(0) > 0 && stats.getLong(1) > 0,
      s"SQL DELETE must split copy/rewrite: $stats")
    s.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  // --- SQL RESTORE / DESCRIBE HISTORY (plans.LakehouseSql): stage
  //     orders as a VERSIONED table (v0 + CURRENT), MERGE a mutation
  //     batch (commits v1, swaps CURRENT), then RESTORE TO VERSION 0 —
  //     Delta semantics: the restore lands as a NEW commit (v2 = v0's
  //     state) with history preserved. The gate aggregates the
  //     post-restore CURRENT snapshot against the PRISTINE orders
  //     oracle, so it passes only if the restore truly reverted the
  //     mutations; DESCRIBE HISTORY invariants are require()d inline.
  //     The versioned-verb gates MUTATE their table (each call appends
  //     commits), so the table is a fresh hard-linked clone of the
  //     orders seed on every call.
  private def sqlRestore(s: SparkSession, dir: String): DataFrame = {
    val tbl = Fixtures.versioned(s, dir, "sqlrestore", ordersSeed(s, dir))
    val orders = s.read.parquet(s"$tbl/v0")
    val cut = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0) / 4
    orders.filter(col("o_orderkey") <= cut)
      .withColumn("o_totalprice", col("o_totalprice") * 3)
      .createOrReplaceTempView("sqlrestore_updates")
    s.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM sqlrestore_updates)
         |ON o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val rest = s.sql(s"RESTORE '$tbl' TO VERSION 0").collect()(0)
    require(rest.getLong(1) == 2L, s"restore must commit v2: $rest")
    val hist = s.sql(s"DESCRIBE HISTORY '$tbl'").collect()
    require(hist.length == 3 && hist.count(_.getBoolean(3)) == 1 &&
      hist.find(_.getBoolean(3)).exists(_.getLong(0) == 2L),
      s"history must keep all 3 commits with v2 current: ${hist.mkString(",")}")
    // the _commitinfo audit trail: v1 stamped by the MERGE, v2 by the
    // RESTORE (v0 is hand-staged — pre-audit, null operation)
    require(hist.sortBy(_.getLong(0)).map(_.getString(4)).toSeq ==
      Seq(null, "MERGE", "RESTORE"),
      s"history operations: ${hist.map(_.getString(4)).mkString(",")}")
    val cur = graft.streaming.Streams.currentSnapshot(tbl).get
    s.read.parquet(cur)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  private val sqlRestoreSql =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  // --- SQL time travel (graft_table TVF): stage orders versioned,
  //     MERGE a mutation batch (v1 becomes CURRENT), then aggregate
  //     `graft_table(tbl, 0)` — VERSION AS OF the pre-merge snapshot —
  //     entirely through spark.sql. Oracle: the pristine orders
  //     aggregate, so the gate passes only if the version-pinned read
  //     bypasses the mutations that CURRENT carries (require()d
  //     different inline).
  private def sqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val tbl = Fixtures.versioned(s, dir, "sqltt", ordersSeed(s, dir))
    val orders = s.read.parquet(s"$tbl/v0")
    val cut = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0) / 4
    orders.filter(col("o_orderkey") <= cut)
      .withColumn("o_totalprice", col("o_totalprice") * 3)
      .createOrReplaceTempView("sqltt_updates")
    s.sql(
      s"""MERGE INTO '$tbl' USING (SELECT * FROM sqltt_updates)
         |ON o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    def agg(src: String) = s.sql(
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
         |FROM $src GROUP BY o_orderstatus""".stripMargin)
    val current = agg(s"graft_table('$tbl')").collect().toSet
    val asOf0 = agg(s"graft_table('$tbl', 0)")
    require(asOf0.collect().toSet != current,
      "time travel must see PRE-merge values; CURRENT must carry the merge")
    asOf0
  }

  // --- SQL OPTIMIZE, in place on a versioned table: stage a
  //     FRAGMENTED v0 (round-robin layout — overlapping key ranges,
  //     min/max pruning dead), then `OPTIMIZE BY o_orderkey` with NO
  //     INTO: the re-clustered layout must commit as v1 through the
  //     same claim + CAS protocol as MERGE, swap CURRENT, and change
  //     no row (oracle: the pristine orders aggregate). VACUUM RETAIN
  //     1 then reclaims v0 — layout maintenance end-to-end in SQL.
  private def sqlOptimize(s: SparkSession, dir: String): DataFrame = {
    val tbl = Fixtures.versioned(s, dir, "sqlopt",
      ordersSeed(s, dir, clustered = false))
    val opt = s.sql(s"OPTIMIZE '$tbl' BY o_orderkey TARGET 64 MB").collect()(0)
    require(opt.getLong(0) == 16 && opt.getLong(1) < 16,
      s"optimize must compact the fragmented layout: $opt")
    require(graft.streaming.Streams.currentSnapshot(tbl).get.endsWith("/v1"),
      "optimize must commit v1 and swap CURRENT")
    val vac = s.sql(s"VACUUM '$tbl' RETAIN 1 SNAPSHOTS").collect()(0)
    require(vac.getString(0) == "0", s"vacuum must reclaim v0: $vac")
    s.read.parquet(s"$tbl/v1")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  // --- commit-log retention end-to-end: a versioned orders table takes
  //     three MERGE commits (v1..v3, each doubling a disjoint eighth of
  //     the key range), then VACUUM RETAIN 2 reclaims v0+v1 AND
  //     truncates `_commitlog/` below the oldest retained snapshot
  //     (checkpointed in `_base.json`) — the metadata-growth guard for
  //     production commit rates, where the per-read log listing must be
  //     bounded by RETENTION, not table age. The gate aggregates the
  //     post-vacuum CURRENT; the oracle replays the three merges over
  //     pristine orders, so it passes only if truncation left the
  //     committed data and its resolution untouched. Log-shape
  //     invariants (entries reclaimed, checkpoint advanced, resolution
  //     intact) are require()d inline.
  private def vacuumLog(s: SparkSession, dir: String): DataFrame = {
    val tbl = Fixtures.versioned(s, dir, "vaclog", ordersSeed(s, dir))
    val orders = s.read.parquet(s"$tbl/v0")
    val mx = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    (1 to 3).foreach { i =>
      // (mx*(i-1)/8, mx*i/8] in floor arithmetic, with the FIRST range
      // open-ended below (the synthetic keyspace starts at 0, which
      // `> 0` would drop) — the three ranges tile (-inf, floor(3*mx/8)]
      // exactly, which is what the oracle's real-valued
      // `o_orderkey <= 3*max/8` selects over integer keys
      val lower = if (i == 1) lit(true)
                  else col("o_orderkey") > mx * (i - 1) / 8
      orders.filter(lower && col("o_orderkey") <= mx * i / 8)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .createOrReplaceTempView("vaclog_upd")
      s.sql(
        s"""MERGE INTO '$tbl' USING (SELECT * FROM vaclog_upd) ON o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    def logEntries = graft.ops.Fs.listFiles(graft.ops.Fs.of(tbl, s),
        new org.apache.hadoop.fs.Path(s"$tbl/_commitlog"))
      .map(_.getName).filter(_.matches("\\d+\\.json"))
      .map(_.stripSuffix(".json").toLong).sorted
    require(logEntries == Seq(1L, 2L, 3L), s"3 publishes must log: $logEntries")
    val vac = s.sql(s"VACUUM '$tbl' RETAIN 2 SNAPSHOTS").collect()(0)
    require(vac.getString(0) == "0,1", s"vacuum must reclaim v0,v1: $vac")
    require(logEntries == Seq(2L, 3L),
      s"vacuum must truncate log entries below the oldest retained " +
        s"snapshot — the listing every read pays must be bounded by " +
        s"retention: $logEntries")
    require(graft.ops.Upsert.commitLogCheckpoint(tbl).contains(1L),
      "truncation must checkpoint its high-water mark")
    val cur = graft.streaming.Streams.currentSnapshot(tbl).get
    require(cur.endsWith("/v3"),
      s"the truncated log + pointer must still resolve CURRENT: $cur")
    s.read.parquet(cur)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  private val vacuumLogSql =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(CAST(CASE WHEN o_orderkey <= 3 * (SELECT max(o_orderkey) FROM orders) / 8
      |                     THEN o_totalprice * 2 ELSE o_totalprice END
      |           AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  // --- SQL CONVERT + versioned DELETE: lift a plain snapshot into
  //     the versioned layout (`CONVERT ... TO VERSIONED` — the
  //     CONVERT-TO-DELTA analog), then DELETE FROM with NO INTO —
  //     the delete lands as v1 via the commit protocol. Oracle:
  //     q_delete's surviving-rows aggregate, so the gate passes only
  //     if conversion preserved every row AND the versioned delete
  //     removed exactly the requested slice.
  private def sqlConvert(s: SparkSession, dir: String): DataFrame = {
    val seed = ordersClone(s, dir, "sqlconv", at = "seed") + "/seed"
    val tbl = Fixtures.fresh(s, dir, "sqlconv_table")
    s.sql(s"CONVERT '$seed' TO VERSIONED '$tbl'").collect()
    val cut = maxKeyEighth(s.read.parquet(seed), "o_orderkey")
    val stats = s.sql(
      s"""DELETE FROM '$tbl'
         |WHERE o_orderkey IN
         |  (SELECT o_orderkey FROM parquet.`$seed` WHERE o_orderkey <= $cut)"""
        .stripMargin).collect()(0)
    require(stats.getLong(0) > 0 && stats.getLong(1) > 0,
      s"versioned DELETE must split copy/rewrite: $stats")
    val cur = graft.streaming.Streams.currentSnapshot(tbl).get
    require(cur.endsWith("/v1"), s"versioned DELETE must commit v1, got $cur")
    s.read.parquet(cur)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  // --- bloom point-lookup pruning (ops.Bloom.write / readPruned):
  //     the gate's own UNCLUSTERED (round-robin) copy of orders, written
  //     with a Parquet Bloom filter on o_orderkey in every file, so
  //     min/max stats prune nothing — the per-file filter still skips
  //     most files for a point-key set. Probe keys are every 1009th
  //     orderkey (deterministic, oracle-expressible); the gate returns
  //     the looked-up rows, which must equal the plain SQL point lookup
  //     regardless of which files the bloom read (false positives read
  //     bytes, never change answers).
  private def bloomPrune(s: SparkSession, dir: String): DataFrame = {
    val tbl = Fixtures.once(s, dir, "bloom") { p =>
      graft.ops.Bloom.write(Tables.orders(s, dir).repartition(16).write, Seq("o_orderkey"))
        .parquet(p)
    }
    val keys = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 1009 === 0)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
    val (data, nFiles, nHit) = graft.ops.Bloom.readPruned(s, tbl, "o_orderkey", keys)
    require(nFiles == 16 && nHit <= nFiles,
      s"bloom prune shape unexpected: $nHit of $nFiles files")
    data.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  private val bloomPruneSql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders WHERE o_orderkey % 1009 = 0""".stripMargin

  // --- merge-on-read delete (Upsert.deleteByKeyDV / readWithDeletes):
  //     the deletion-vector trade — a delete that rewrites NO data file
  //     (the deleted key set lands as a `_dv` sidecar, byte-identity of
  //     every data file is spec-proven in UpsertSpec) and reads
  //     subtract the DV as a broadcast anti-join. Two accumulated DV
  //     commits, then the merge-on-read result is oracled against the
  //     plain filtered table.
  private def dvDelete(s: SparkSession, dir: String): DataFrame = {
    val base = ordersClone(s, dir, "dv", at = "chain/v0")
    val v0 = s"$base/chain/v0"
    val orders = s.read.parquet(v0)
    graft.ops.Upsert.deleteByKeyDV(s, v0, s"$base/chain/v1",
      orders.filter(col("o_orderkey") % 997 === 0).select("o_orderkey"),
      "o_orderkey")
    graft.ops.Upsert.deleteByKeyDV(s, s"$base/chain/v1", s"$base/chain/v2",
      orders.filter(col("o_orderkey") % 499 === 0).select("o_orderkey"),
      "o_orderkey")
    graft.ops.Upsert.readWithDeletes(s, s"$base/chain/v2")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  private val dvDeleteSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderkey % 997 <> 0 AND o_orderkey % 499 <> 0""".stripMargin

  // --- URL canonicalization + keep-best dedup (TextPrep.canonicalizeUrl):
  //     the CommonCrawl-style pre-filter — URLs differing only in
  //     scheme/www/fragment/tracking-params/param-order/trailing-slash
  //     are one document; keep the longest text per canonical key. The
  //     URL column is synthesized deterministically from (doc_id,
  //     source) with all the noise classes planted, identically in both
  //     engines, so the oracle replays canonicalization end to end.
  private def urlDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // noise classes CYCLE within a (source, path) group — testdata's
    // source is doc_id%20, so www (%3) and the suffix ((id div 20)%4)
    // must not be functions of doc_id%20 or no two URLs would ever
    // canonicalize equal: suffixes {utm-noised, re-ordered} merge to
    // one key, {trailing-slash, fragment} to another
    val sfx = expr("(doc_id DIV 20) % 4")
    val url = concat(
      lit("https://"),
      when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
      col("source"), lit(".example.com/p/"),
      (col("doc_id") % 5).cast(StringType),
      when(sfx === 0, lit("?utm_source=feed&x=1&b=2"))
        .when(sfx === 1, lit("?b=2&x=1"))
        .when(sfx === 2, lit("/"))
        .otherwise(lit("#frag")))
    val canon = docs(s, dir)
      .select(col("doc_id"), col("n_chars"),
        graft.ops.TextPrep.canonicalizeUrl(url).as("canon_url"))
    val w = Window.partitionBy(col("canon_url"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    canon
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy(col("canon_url"))))
      .filter(col("__rn") === 1)
      .select(col("canon_url"), col("doc_id"), col("n_dups"))
  }

  private val urlDedupSql =
    """WITH u AS (
      |  SELECT doc_id, n_chars,
      |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
      |    source || '.example.com/p/' || CAST(doc_id % 5 AS VARCHAR) ||
      |    CASE (doc_id // 20) % 4 WHEN 0 THEN '?utm_source=feed&x=1&b=2'
      |                            WHEN 1 THEN '?b=2&x=1'
      |                            WHEN 2 THEN '/' ELSE '#frag' END AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_chars, base ||
      |    CASE WHEN length(joined) > 0 THEN '?' || joined ELSE '' END AS canon_url
      |  FROM (
      |    SELECT doc_id, n_chars,
      |      regexp_replace(regexp_replace(u3, '\?.*$', ''), '/+$', '') AS base,
      |      array_to_string(list_sort(list_filter(
      |        string_split(CASE WHEN strpos(u3, '?') > 0
      |                          THEN regexp_replace(u3, '^[^?]*\?', '')
      |                          ELSE '' END, '&'),
      |        p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)=')
      |             AND p <> '')), '&') AS joined
      |    FROM (
      |      SELECT doc_id, n_chars,
      |        regexp_replace(regexp_replace(regexp_replace(
      |          lower(trim(url)), '^https?://', ''), '^www\.', ''), '#.*$', '') AS u3
      |      FROM u)))
      |SELECT canon_url, doc_id, n_dups FROM (
      |  SELECT canon_url, doc_id,
      |    row_number() OVER (PARTITION BY canon_url
      |                       ORDER BY n_chars DESC, doc_id ASC) AS rn,
      |    CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_dups
      |  FROM c)
      |WHERE rn = 1""".stripMargin

  // --- incremental Bloom maintenance (Bloom.write + the commit's
  //     fresh write): v0 is written ONCE with a Parquet Bloom filter on
  //     o_orderkey, a delivery is committed, and the v1 snapshot is
  //     probed — linked files keep the filter inside their bytes, and
  //     the files the commit wrote filter what their source filtered
  //     (UpsertSpec proves every fresh file carries one; this gate pins
  //     that the lookup still answers exactly, across untouched,
  //     rewritten, and appended files).
  private def bloomCarry(s: SparkSession, dir: String): DataFrame = {
    val base = Fixtures.once(s, dir, "bloomcarry") { b =>
      graft.ops.Bloom.write(Tables.orders(s, dir).repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")).write, Seq("o_orderkey"))
        .parquet(s"$b/chain/v0")
    }
    val v0 = s"$base/chain/v0"
    val orders = s.read.parquet(v0)
    val cut = maxKeyEighth(orders, "o_orderkey")
    val updates = orders.filter(col("o_orderkey") <= cut)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(
        orders.orderBy(col("o_orderkey").desc).limit(500)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))
    val v1 = s"$base/chain/v1"
    graft.ops.Upsert.upsertByKey(s, v0, v1, updates, "o_orderkey")
    // deterministic probe keys spanning all three file classes
    val keys = s.read.parquet(v1)
      .filter(col("o_orderkey") % 1009 === 0)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
    val (data, nFiles, nHit) = graft.ops.Bloom.readPruned(s, v1, "o_orderkey", keys)
    require(nHit <= nFiles, s"bloom carry shape unexpected: $nHit of $nFiles")
    data.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  private val bloomCarrySql =
    """WITH mx AS (SELECT max(o_orderkey) / 8 AS cut FROM orders),
      |merged AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey <= (SELECT cut FROM mx)
      |         THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, o_totalprice
      |  FROM (SELECT * FROM orders ORDER BY o_orderkey DESC LIMIT 500)
      |)
      |SELECT o_orderkey, o_custkey, o_totalprice
      |FROM merged WHERE o_orderkey % 1009 = 0""".stripMargin

  // --- change data feed (ops.Upsert.changeDataFeed): the row-level
  //     diff between two COW snapshots, computed from changed files
  //     only (shared hard-linked files cancel). The chain is the SAME
  //     deterministic delivery as q_upsert, laid out as v0 → v1, so the
  //     feed is SQL-expressible: inserts = the update batch exactly
  //     (after images), deletes = the old versions of the updated keys
  //     (the appended 500 have no before image).
  private def cdf(s: SparkSession, dir: String): DataFrame = {
    val chain = cdfChain(s, dir, "cdf")
    graft.ops.Upsert.changeDataFeed(s, chain, 0L, 1L)
      .select(col("o_orderkey"), col("o_totalprice"), col("_change_type"))
  }

  // --- graft_cdf TVF: q_cdf's exact delivery, but the feed is read
  //     through `SELECT ... FROM graft_cdf(dir, 0, 1)` — plain SQL is
  //     enough to subscribe a CDC consumer. Shares q_cdf's oracle.
  private def sqlCdf(s: SparkSession, dir: String): DataFrame = {
    val chain = cdfChain(s, dir, "sqlcdf")
    s.sql(
      s"""SELECT o_orderkey, o_totalprice, _change_type
         |FROM graft_cdf('$chain', 0, 1)""".stripMargin)
  }

  /** The gate's v0 → v1 chain: a clone of the orders seed as v0, the
    * q_upsert delivery committed as v1. Returns the chain dir. */
  private def cdfChain(s: SparkSession, dir: String, gate: String): String = {
    val chain = ordersClone(s, dir, gate, at = "chain/v0") + "/chain"
    val orders = s.read.parquet(s"$chain/v0")
    graft.ops.Upsert.upsertByKey(s, s"$chain/v0", s"$chain/v1",
      upsertDelivery(orders, maxKeyEighth(orders, "o_orderkey")), "o_orderkey")
    chain
  }

  private val cdfSql =
    """WITH mx AS (SELECT max(o_orderkey) / 8 AS cut FROM orders),
      |ins AS (
      |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 'insert' AS _change_type
      |  FROM orders WHERE o_orderkey <= (SELECT cut FROM mx)
      |  UNION ALL
      |  SELECT * FROM (
      |    SELECT o_orderkey + 1000000000 AS o_orderkey, o_totalprice,
      |           'insert' AS _change_type
      |    FROM orders ORDER BY o_orderkey DESC LIMIT 500)),
      |del AS (
      |  SELECT o_orderkey, o_totalprice, 'delete' AS _change_type
      |  FROM orders WHERE o_orderkey <= (SELECT cut FROM mx))
      |SELECT * FROM ins UNION ALL SELECT * FROM del""".stripMargin

  // --- one-pass multi-column profile (ops.Quality.profileNumeric): the
  //     ingest schema-health report — exact distinct counts combine in
  //     ONE scan via Catalyst's Expand; oracle recomputes each column's
  //     stats independently in DuckDB.
  private val profileCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey")

  private def profile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.profileNumeric(Tables.lineitem(s, dir), profileCols)

  private def profileSql: String =
    profileCols.map { c =>
      s"""SELECT '$c' AS column, count($c) AS n_values,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
         |  CAST(sum(CAST($c AS DECIMAL(28,4))) AS DOUBLE) AS sum_v
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")

  // --- temperature-0.5 mixture weights (Mixing.temperatureWeightsSqrt,
  //     the GPT-3/PaLM nᵢ^τ rule at τ = 1/2): √ is IEEE-correctly-
  //     rounded in every engine, and the normalization is all-integer
  //     after micro-quantization, so the mixture table hashes exactly.
  private def tempMix(s: SparkSession, dir: String): DataFrame =
    graft.ops.Mixing.temperatureWeightsSqrt(
      docs(s, dir), "source", size(split(col("text"), " ")))

  private val tempMixSql =
    """WITH c AS (
      |  SELECT source AS domain,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |q AS (SELECT domain, n_tokens,
      |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS sq
      |      FROM c),
      |z AS (SELECT sum(sq) AS z, sum(n_tokens) AS nz FROM q)
      |SELECT domain, n_tokens,
      |  CAST((sq * 1000000) // z AS BIGINT) AS weight_q,
      |  CAST((((sq * 1000000) // z) * nz) // n_tokens AS BIGINT) AS boost_q
      |FROM q, z""".stripMargin

  // --- composed: the LEARNED temperature weights drive the
  //     deterministic low-discrepancy training order (Mixing.mixKeys) —
  //     the end-to-end mixture pipeline: count → reweight → interleave.
  //     The tiny weight table collects driver-side (one row per domain,
  //     what any mixture recipe holds); the oracle recomputes both
  //     stages in SQL.
  private def tempMixOrder(s: SparkSession, dir: String): DataFrame = {
    val weights = graft.ops.Mixing.temperatureWeightsSqrt(
        docs(s, dir), "source", size(split(col("text"), " ")))
      .select(col("domain"), col("weight_q")).collect()
      .map(r => r.getString(0) -> r.getLong(1) / 1e6).toMap
    graft.ops.Mixing.mixKeys(docs(s, dir), "doc_id", "source", weights)
  }

  private val tempMixOrderSql =
    """WITH c AS (
      |  SELECT source AS domain,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |q AS (SELECT domain,
      |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS sq
      |      FROM c),
      |z AS (SELECT sum(sq) AS z FROM q),
      |w AS (SELECT domain,
      |        CAST(CAST((sq * 1000000) // z AS BIGINT) AS DOUBLE) / 1e6 AS wt
      |      FROM q, z),
      |r AS (SELECT doc_id AS id, source,
      |        CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
      |          AS src_rank
      |      FROM documents)
      |SELECT r.id, r.source, r.src_rank,
      |  round((r.src_rank - 0.5) / w.wt, 6) AS mix_key
      |FROM r JOIN w ON r.source = w.domain""".stripMargin

  // --- copy-on-write DELETE (ops.Upsert.deleteByKey): same staged
  //     range-clustered table as q_upsert; a contiguous key slice is
  //     deleted (low files rewrite minus the keys, the rest hard-link)
  //     and the surviving aggregate must equal plain SQL over the
  //     original minus the slice.
  private def delete(s: SparkSession, dir: String): DataFrame = {
    val (tbl, out, cut) = stagedOrdersRange(s, dir, "delete")
    val keys = s.read.parquet(tbl)
      .filter(col("o_orderkey") <= cut).select(col("o_orderkey"))
    val (nCopied, nRewritten, _) =
      graft.ops.Upsert.deleteByKey(s, tbl, out, keys, "o_orderkey")
    require(nRewritten > 0 && nCopied > 0,
      s"delete must split copy/rewrite: copied=$nCopied rewritten=$nRewritten")
    s.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  private val deleteSql =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey > (SELECT max(o_orderkey) / 8 FROM orders)
      |GROUP BY o_orderstatus""".stripMargin

  /** (table, out, max(o_orderkey)/8) for a commit-verb gate: its clone
    * of the range-clustered orders seed, and where the verb writes its
    * result snapshot — the shared setup of the MERGE/DELETE/UPDATE
    * gates. */
  private def stagedOrdersRange(
      s: SparkSession, dir: String, gate: String): (String, String, Long) = {
    val base = ordersClone(s, dir, gate)
    (s"$base/table", s"$base/out",
      maxKeyEighth(s.read.parquet(s"$base/table"), "o_orderkey"))
  }

  // --- SQL UPDATE (plans.LakehouseSql.GraftUpdateCommand): the
  //     predicate verb over a range-clustered snapshot — matched keys
  //     sit in the low files only, so the statement must split
  //     copy/rewrite; the SET clause includes a comma inside a
  //     function call (the top-level splitter's real-world case) and
  //     the oracle re-derives the whole updated table in DuckDB.
  private def sqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val (tbl, out, cut) = stagedOrdersRange(s, dir, "sqlupdate")
    val stats = s.sql(
      s"""UPDATE '$tbl' ON o_orderkey
         |SET o_totalprice = o_totalprice * 2 + 10,
         |    o_orderpriority = concat('U-', o_orderpriority)
         |WHERE o_orderkey <= $cut AND o_orderstatus = 'F'
         |INTO '$out'""".stripMargin).collect()(0)
    require(stats.getLong(0) > 0 && stats.getLong(1) > 0 &&
        stats.getLong(2) > 0,
      s"SQL UPDATE must split copy/rewrite and match rows: $stats")
    s.read.parquet(out)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  private val sqlUpdateSql =
    """WITH updd AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey <= (SELECT max(o_orderkey) / 8 FROM orders)
      |              AND o_orderstatus = 'F'
      |         THEN o_totalprice * 2 + 10 ELSE o_totalprice END AS o_totalprice,
      |    o_orderdate,
      |    CASE WHEN o_orderkey <= (SELECT max(o_orderkey) / 8 FROM orders)
      |              AND o_orderstatus = 'F'
      |         THEN concat('U-', o_orderpriority)
      |         ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders)
      |SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM updd GROUP BY o_orderpriority""".stripMargin

  // --- SQL predicate DELETE (GraftDeleteWhereCommand): general WHERE,
  //     keys bounded to the low files by the range predicate.
  private def sqlDeleteWhere(s: SparkSession, dir: String): DataFrame = {
    val (tbl, out, cut) = stagedOrdersRange(s, dir, "sqldelw")
    val stats = s.sql(
      s"""DELETE FROM '$tbl' ON o_orderkey
         |WHERE o_orderkey <= $cut AND o_orderstatus <> 'F'
         |INTO '$out'""".stripMargin).collect()(0)
    require(stats.getLong(0) > 0 && stats.getLong(1) > 0 &&
        stats.getLong(2) > 0,
      s"SQL DELETE WHERE must split copy/rewrite and match rows: $stats")
    s.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  private val sqlDeleteWhereSql =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE NOT (o_orderkey <= (SELECT max(o_orderkey) / 8 FROM orders)
      |           AND o_orderstatus <> 'F')
      |GROUP BY o_orderstatus""".stripMargin

  // --- OPTIMIZE (Layout.optimizeTable): re-clusters an accreted
  //     round-robin copy into disjoint key ranges (one shuffle — the
  //     maintenance pass that revives pruning); data must be
  //     value-invisible, so the oracle aggregates the original table.
  private def optimize(s: SparkSession, dir: String): DataFrame = {
    val base = ordersClone(s, dir, "optimize", at = "in", clustered = false)
    val in = s"$base/in"; val out = s"$base/out"
    val (nIn, nOut, _) = graft.ops.Layout.optimizeTable(
      s, in, out, "o_orderkey", targetBytes = 4L << 20)
    require(nIn == 16 && nOut >= 1, s"optimize shape unexpected: $nIn -> $nOut")
    s.read.parquet(out)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Queries.dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  private val optimizeSql =
    """SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // --- dynamic partition pruning: the fact is directory-partitioned by
  //     nation key; the dim-side filter is only known at RUNTIME (it
  //     comes through a join), so static pruning can't help — Spark
  //     plans a dynamicpruning subquery that evaluates the dim first
  //     and prunes fact partitions before scanning them (spec-asserted
  //     in LayoutSpec; the gate pins values against the plain join).
  private def dpp(s: SparkSession, dir: String): DataFrame = {
    val tbl = Fixtures.once(s, dir, "dpp")(
      Tables.customer(s, dir).write.partitionBy("c_nationkey").parquet(_))
    val fact = s.read.parquet(tbl)
    val dim = Tables.nation(s, dir)
      .filter(col("n_name").isin("NATION_1", "NATION_3", "NATION_5"))
    fact.join(dim, fact("c_nationkey") === dim("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        Queries.dsum(col("c_acctbal"), 2).as("sum_bal"))
  }

  private val dppSql =
    """SELECT n_name, count(*) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_5')
      |GROUP BY n_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dpp" -> (dpp _),
    "q_optimize" -> (optimize _),
    "q_delete" -> (delete _),
    "q_temp_mix_order" -> (tempMixOrder _),
    "q_temp_mix" -> (tempMix _),
    "q_profile" -> (profile _),
    "q_bucketed_join" -> (bucketedJoin _),
    "q_compact" -> (compact _),
    "q_bloom_prune" -> (bloomPrune _),
    "q_bloom_carry" -> (bloomCarry _),
    "q_url_dedup" -> (urlDedup _),
    "q_dv_delete" -> (dvDelete _),
    "q_cdf" -> (cdf _),
    "q_upsert" -> (upsert _),
    "q_stats_prune" -> (statsPrune _),
    "q_upsert_composite" -> (upsertComposite _),
    "q_upsert_partitioned" -> (upsertPartitioned _),
    "q_sql_merge" -> (sqlMerge _),
    "q_sql_merge_composite" -> (sqlMergeComposite _),
    "q_sql_merge_named" -> (sqlMergeNamed _),
    "q_sql_delete" -> (sqlDelete _),
    "q_sql_update" -> (sqlUpdate _),
    "q_sql_delete_where" -> (sqlDeleteWhere _),
    "q_sql_restore" -> (sqlRestore _),
    "q_sql_time_travel" -> (sqlTimeTravel _),
    "q_sql_optimize" -> (sqlOptimize _),
    "q_vacuum_log" -> (vacuumLog _),
    "q_sql_convert" -> (sqlConvert _),
    "q_sql_cdf" -> (sqlCdf _),
    "q_pagerank" -> (pageRank _),
    "q_file_stats" -> (fileStats _),
    "q_sql_functions" -> (sqlFunctions _),
    "q_prep_pipeline" -> (prepPipeline _),
    "q_chunk_text" -> (chunkText _),
    "q_scrub_pii" -> (scrubPii _),
    "q_boilerplate" -> (boilerplate _),
    "q_domain_mix" -> (domainMix _),
    "q_pack_sequences" -> (packSequences _),
    "q_vocab_oov" -> (vocabOov _),
    "q_shuffle_order" -> (shuffleOrder _),
    "q_schema_union" -> (schemaUnion _),
    "q_zorder" -> (zorder _),
    "q_repetition" -> (repetition _),
    "q_train_split" -> (trainSplit _),
    "q_weighted_sample" -> (weightedSample _),
    "q_contamination" -> (contamination _),
    "q_top_bigrams" -> (topBigrams _),
    "q_freq_spectrum" -> (freqSpectrum _),
    "q_keep_best" -> (keepBest _),
    "q_triangles" -> (triangles _),
    "q_outliers" -> (outliers _),
    "q_sql_surface" -> (sqlSurface _))

  def oracles: Map[String, String] = Map(
    "q_dpp" -> dppSql,
    "q_optimize" -> optimizeSql,
    "q_delete" -> deleteSql,
    "q_temp_mix_order" -> tempMixOrderSql,
    "q_temp_mix" -> tempMixSql,
    "q_profile" -> profileSql,
    "q_bucketed_join" -> bucketedJoinSql,
    "q_compact" -> compactSql,
    "q_bloom_prune" -> bloomPruneSql,
    "q_bloom_carry" -> bloomCarrySql,
    "q_url_dedup" -> urlDedupSql,
    "q_dv_delete" -> dvDeleteSql,
    "q_cdf" -> cdfSql,
    "q_upsert" -> upsertSql,
    "q_stats_prune" -> statsPruneSql,
    "q_upsert_composite" -> upsertCompositeSql,
    "q_upsert_partitioned" -> upsertPartitionedSql,
    "q_sql_merge" -> upsertSql,
    "q_sql_merge_composite" -> upsertCompositeSql,
    "q_sql_merge_named" -> upsertSql,
    "q_sql_delete" -> deleteSql,
    "q_sql_update" -> sqlUpdateSql,
    "q_sql_delete_where" -> sqlDeleteWhereSql,
    "q_sql_restore" -> sqlRestoreSql,
    "q_sql_time_travel" -> sqlRestoreSql,
    "q_sql_optimize" -> sqlRestoreSql,
    "q_vacuum_log" -> vacuumLogSql,
    "q_sql_convert" -> deleteSql,
    "q_sql_cdf" -> cdfSql,
    "q_pagerank" -> pageRankSql,
    "q_file_stats" -> fileStatsSql,
    "q_sql_functions" -> sqlFunctionsSql,
    "q_prep_pipeline" -> prepPipelineSql,
    "q_chunk_text" -> chunkTextSql,
    "q_scrub_pii" -> scrubPiiSql,
    "q_boilerplate" -> boilerplateSql,
    "q_domain_mix" -> domainMixSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_vocab_oov" -> vocabOovSql,
    "q_shuffle_order" -> shuffleOrderSql,
    "q_schema_union" -> schemaUnionSql,
    "q_zorder" -> zorderSql,
    "q_repetition" -> repetitionSql,
    "q_train_split" -> trainSplitSql,
    "q_weighted_sample" -> weightedSampleSql,
    "q_contamination" -> contaminationSql,
    "q_top_bigrams" -> topBigramsSql,
    "q_freq_spectrum" -> freqSpectrumSql,
    "q_keep_best" -> keepBestSql,
    "q_triangles" -> trianglesSql,
    "q_outliers" -> outliersSql,
    "q_sql_surface" -> sqlSurfaceSql)
}
