package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Dedup, TextAnalysis}

/** Training-data text-pipeline families: token counting, quality
  * scoring, language ID, fingerprinting, exact dedup, Jaccard near-dup,
  * MinHash-LSH, SimHash — all over the `documents` table with
  * cross-engine oracles (hashing is md5-based, so even the MinHash
  * signatures reproduce exactly in DuckDB). */
object QueriesText {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  // --- token counting (whitespace + BPE-ish regex)
  private def tokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(
      $"doc_id",
      TextAnalysis.tokenCount($"text").as("n_tokens"),
      TextAnalysis.tokenCountBpe($"text").as("n_tokens_bpe"))
  }

  private val tokenStatsSql =
    """SELECT doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_tokens_bpe
      |FROM documents""".stripMargin

  // --- per-language token-count quantiles (exact percentile: Spark
  // `percentile` and DuckDB `quantile_cont` use the same p*(n-1) index
  // rule; inputs are small ints so the interpolation arithmetic is
  // IEEE-exact in both engines)
  private def tokenQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"lang", TextAnalysis.tokenCount($"text").as("nt"))
      .groupBy($"lang")
      .agg(
        expr("percentile(nt, 0.25)").as("q25"),
        expr("percentile(nt, 0.5)").as("q50"),
        expr("percentile(nt, 0.75)").as("q75"),
        count(lit(1)).as("n"))
  }

  private val tokenQuantilesSql =
    """WITH s AS (
      |  SELECT lang, len(regexp_split_to_array(trim(text), '\s+')) AS nt
      |  FROM documents)
      |SELECT lang,
      |  quantile_cont(nt, 0.25) AS q25,
      |  quantile_cont(nt, 0.5) AS q50,
      |  quantile_cont(nt, 0.75) AS q75,
      |  count(*) AS n
      |FROM s GROUP BY lang""".stripMargin

  // --- engine-exact HyperLogLog over order keys (n >> m regime where
  // the raw estimate is meaningful; one row: exact distinct count
  // alongside the fully reproducible sketch)
  private def hllTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vals = Tables.lineitem(s, dir)
      .select($"l_orderkey".cast(StringType).as("v"))
    val exact = vals.agg(count_distinct($"v").as("n_exact"))
    exact.crossJoin(graft.ops.Sketches.hllDistinct(vals, "v"))
  }

  private val hllTokensSql =
    """WITH vals AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS v FROM lineitem),
      |h AS (
      |  SELECT CAST(CAST('0x' || substr(md5(v), 1, 15) AS UBIGINT) AS BIGINT) AS h
      |  FROM vals),
      |r AS (
      |  SELECT h % 64 AS bucket,
      |    CASE WHEN (h >> 6) = 0 THEN 55
      |         ELSE instr(lpad(bin(h >> 6), 54, '0'), '1') END AS rho
      |  FROM h),
      |regs AS (SELECT bucket, max(rho) AS m_j FROM r GROUP BY bucket),
      |s AS (
      |  SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - m_j)) AS BIGINT)
      |           + (64 - count(*)) * 36028797018963968 AS s_fixed,
      |         count(*) AS n_regs
      |  FROM regs),
      |e AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_exact FROM vals)
      |SELECT e.n_exact, s.s_fixed, s.n_regs,
      |  CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE) * CAST(36028797018963968.0 AS DOUBLE)
      |    / CAST(s_fixed AS DOUBLE) AS hll_est
      |FROM e, s""".stripMargin

  // --- HLL merge: per-shard sketches (one per l_linestatus) compose
  //     by element-wise register max into EXACTLY the whole-stream
  //     sketch — the property that makes per-file/per-day sketches
  //     usable without re-scanning; output matches q_hll_distinct's
  //     sketch columns by construction
  private def hllMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vals = Tables.lineitem(s, dir)
      .select($"l_linestatus".cast(StringType).as("grp"),
        $"l_orderkey".cast(StringType).as("v"))
    graft.ops.Sketches.hllSummary(
      graft.ops.Sketches.hllMergeRegisters(
        graft.ops.Sketches.hllRegistersBy(vals, "grp", "v")))
  }

  private val hllMergeSql =
    """WITH vals AS (
      |  SELECT CAST(l_linestatus AS VARCHAR) AS grp,
      |         CAST(l_orderkey AS VARCHAR) AS v
      |  FROM lineitem),
      |h AS (
      |  SELECT grp,
      |    CAST(CAST('0x' || substr(md5(v), 1, 15) AS UBIGINT) AS BIGINT) AS h
      |  FROM vals),
      |r AS (
      |  SELECT grp, h % 64 AS bucket,
      |    CASE WHEN (h >> 6) = 0 THEN 55
      |         ELSE instr(lpad(bin(h >> 6), 54, '0'), '1') END AS rho
      |  FROM h),
      |regs_by AS (SELECT grp, bucket, max(rho) AS m_j FROM r GROUP BY 1, 2),
      |regs AS (SELECT bucket, max(m_j) AS m_j FROM regs_by GROUP BY 1),
      |s AS (
      |  SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - m_j)) AS BIGINT)
      |           + (64 - count(*)) * 36028797018963968 AS s_fixed,
      |         count(*) AS n_regs
      |  FROM regs)
      |SELECT s.s_fixed, s.n_regs,
      |  CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE) * CAST(36028797018963968.0 AS DOUBLE)
      |    / CAST(s_fixed AS DOUBLE) AS hll_est
      |FROM s""".stripMargin

  // --- quality-score components
  private def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cols = TextAnalysis.qualityColumns($"text").map { case (n, c) => c.as(n) }
    docs(s, dir).select(($"doc_id" +: cols): _*)
  }

  private val qualityScoreSql =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_chars_c,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
      |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS n_punct,
      |  CAST(len(regexp_extract_all(text, '\b(the|a|an|and|or|of|to|in|is)\b')) AS DOUBLE)
      |    / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS stop_ratio,
      |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
      |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
      |  CAST(length(text) AS DOUBLE)
      |    / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS mean_tok_len
      |FROM documents""".stripMargin

  // --- language-ID heuristic (stopword scoring, deterministic argmax)
  private def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scores = TextAnalysis.langScores($"text").map { case (l, c) => c.as(s"score_$l") }
    docs(s, dir).select(
      ($"doc_id" +: $"lang" +: TextAnalysis.langId($"text").as("lang_pred") +: scores): _*)
  }

  private val langIdSql = {
    val score = TextAnalysis.langMarkers
      .map { case (l, p) => s"CAST(len(regexp_extract_all(text, '$p')) AS INT) AS score_$l" }
    val names = TextAnalysis.langMarkers.map { case (l, _) => s"score_$l" }
    val best = s"greatest(${names.mkString(", ")})"
    val caseChain = TextAnalysis.langMarkers
      .map { case (l, _) => s"WHEN score_$l = $best AND score_$l > 0 THEN '$l'" }
      .mkString(" ")
    s"""WITH s AS (
       |  SELECT doc_id, lang, ${score.mkString(",\n    ")}
       |  FROM documents)
       |SELECT doc_id, lang, CASE $caseChain ELSE 'und' END AS lang_pred,
       |  ${names.mkString(", ")}
       |FROM s""".stripMargin
  }

  private[graft] val fpSql =
    "md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  // --- exact-duplicate groups by normalized fingerprint
  private def fingerprintGroups(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(docs(s, dir), "doc_id", "text")

  private val fingerprintGroupsSql =
    s"""SELECT $fpSql AS fp, min(doc_id) AS canonical_id, count(*) AS group_size
       |FROM documents GROUP BY 1""".stripMargin

  // --- exact dedup kept-set
  private def exactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(docs(s, dir), "doc_id", "text")

  private val exactDedupSql =
    s"""SELECT doc_id, $fpSql AS fp FROM documents
       |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1""".stripMargin

  // --- token-set Jaccard near-duplicate degree, document-frequency cut
  //     at 100: the synthetic vocab is ~30 ubiquitous tokens (df≈80% of
  //     corpus) + one rare marker — the cut drops the stop-word-grade
  //     tokens exactly as a production pipeline would, and is what keeps
  //     the inverted-index self-join non-quadratic at scale
  private def jaccardDegree(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardNearDupDegree(docs(s, dir), "doc_id", "text", 0.8,
      maxDocFreq = Some(100))

  private val jaccardDegreeSql =
    """WITH toks0 AS (
      |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents),
      |toks AS (
      |  SELECT id, tok FROM toks0
      |  WHERE tok NOT IN (SELECT tok FROM toks0 GROUP BY tok HAVING count(*) > 100)),
      |sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY 1),
      |inter AS (
      |  SELECT a.id AS i, b.id AS j, count(*) AS inter
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT i, j
      |  FROM inter JOIN sizes s1 ON i = s1.id JOIN sizes s2 ON j = s2.id
      |  WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) > 0.8),
      |deg AS (
      |  SELECT id, count(*) AS near_dups
      |  FROM (SELECT i AS id FROM pairs UNION ALL SELECT j AS id FROM pairs)
      |  GROUP BY 1)
      |SELECT d.doc_id AS id, coalesce(deg.near_dups, 0) AS near_dups
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN deg ON d.doc_id = deg.id""".stripMargin

  // --- word-bigram (shingle) Jaccard near-duplicate degree; df cut at
  //     40 binds lightly (drops the ~2% hottest shingles) — same
  //     posting-list bound as q_jaccard_neardup
  private def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardDegree(docs(s, dir), "doc_id", "text", 2, 0.6,
      maxDocFreq = Some(40))

  private val ngramJaccardSql =
    """WITH ts AS (SELECT doc_id AS id, string_split(text, ' ') AS ts FROM documents),
      |toks0 AS (
      |  SELECT id, unnest(list_distinct([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])) AS tok
      |  FROM ts WHERE len(ts) >= 2),
      |toks AS (
      |  SELECT id, tok FROM toks0
      |  WHERE tok NOT IN (SELECT tok FROM toks0 GROUP BY tok HAVING count(*) > 40)),
      |sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY 1),
      |inter AS (
      |  SELECT a.id AS i, b.id AS j, count(*) AS inter
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT i, j
      |  FROM inter JOIN sizes s1 ON i = s1.id JOIN sizes s2 ON j = s2.id
      |  WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) > 0.6),
      |deg AS (
      |  SELECT id, count(*) AS near_dups
      |  FROM (SELECT i AS id FROM pairs UNION ALL SELECT j AS id FROM pairs)
      |  GROUP BY 1)
      |SELECT d.doc_id AS id, coalesce(deg.near_dups, 0) AS near_dups
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN deg ON d.doc_id = deg.id""".stripMargin

  // --- winnowing fingerprints (k=8 char grams, window w=4): per-doc
  // fingerprint-set summary (count/min/max keeps the gate output small
  // while pinning the full selected set)
  private def winnowFp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.winnowFingerprints(docs(s, dir), "doc_id", "text", 8, 4)
      .groupBy($"id")
      .agg(count(lit(1)).as("n_fp"), min($"fp").as("min_fp"), max($"fp").as("max_fp"))
  }

  private val winnowFpSql =
    """WITH pos AS (
      |  SELECT doc_id AS id, i,
      |    CAST(CAST('0x' || substr(md5(substring(text, CAST(i AS INT), 8)), 1, 15) AS UBIGINT) AS BIGINT) AS h
      |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i
      |        FROM documents WHERE length(text) >= 8)),
      |w AS (
      |  SELECT id, i,
      |    min(h) OVER (PARTITION BY id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      |  FROM pos),
      |sel AS (SELECT DISTINCT id, fp FROM w WHERE i >= 4)
      |SELECT id, count(*) AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp
      |FROM sel GROUP BY id""".stripMargin

  // --- composed corpus curation (the flagship training-data pipeline):
  // quality gate -> language gate -> exact dedup -> LSH near-dup removal;
  // gate output is the curated corpus summary
  private def docCurate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.DocPipeline
      .curate(docs(s, dir).filter($"doc_id" < 2000), "doc_id", "text",
        minTokens = 30, lang = "en", threshold = 0.9)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount($"text").cast(LongType)).as("n_tokens"),
        min($"doc_id").as("min_id"),
        max($"doc_id").as("max_id"))
  }

  /** Inline DuckDB equivalent of [[TextAnalysis.langId]] over `textExpr`. */
  private def langCaseSql(textExpr: String): String = {
    val scores = TextAnalysis.langMarkers.map { case (_, p) =>
      s"len(regexp_extract_all($textExpr, '$p'))"
    }
    val best = s"greatest(${scores.mkString(", ")})"
    val chain = TextAnalysis.langMarkers.zip(scores)
      .map { case ((l, _), sc) => s"WHEN $sc = $best AND $sc > 0 THEN '$l'" }
      .mkString(" ")
    s"CASE $chain ELSE 'und' END"
  }

  private val docCurateSql = {
    val nTok = "len(regexp_split_to_array(trim(text), '\\s+'))"
    s"""WITH gated AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id < 2000 AND $nTok >= 30 AND ${langCaseSql("text")} = 'en'),
       |d AS (
       |  SELECT doc_id, text FROM gated
       |  QUALIFY row_number() OVER (PARTITION BY $fpSql ORDER BY doc_id) = 1),
       |toks AS (
       |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM d),
       |mh AS (
       |  SELECT id, p,
       |    min(CAST(CAST('0x' || substr(md5(p || ':' || tok), 1, 15) AS UBIGINT) AS BIGINT)) AS mh
       |  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS p) perms
       |  GROUP BY 1, 2),
       |bands0 AS (
       |  SELECT id, CAST(p // 3 AS INT) AS band,
       |    concat_ws('_',
       |      max(CASE WHEN p % 3 = 0 THEN mh END),
       |      max(CASE WHEN p % 3 = 1 THEN mh END),
       |      max(CASE WHEN p % 3 = 2 THEN mh END)) AS band_sig
       |  FROM mh GROUP BY 1, 2),
       |bsz AS (SELECT band, band_sig, count(*) AS bucket_n FROM bands0 GROUP BY 1, 2),
       |bands AS (
       |  SELECT bands0.* FROM bands0 JOIN bsz USING (band, band_sig)
       |  WHERE bucket_n <= 100),
       |cand AS (
       |  SELECT DISTINCT l.id AS i, r.id AS j
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.band_sig = r.band_sig AND l.id < r.id),
       |sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY 1),
       |inter AS (
       |  SELECT c.i, c.j, count(*) AS inter
       |  FROM cand c
       |  JOIN toks a ON a.id = c.i
       |  JOIN toks b ON b.id = c.j AND a.tok = b.tok
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT i, j FROM inter
       |  JOIN sizes s1 ON i = s1.id JOIN sizes s2 ON j = s2.id
       |  WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) > 0.9),
       |curated AS (
       |  SELECT * FROM d WHERE doc_id NOT IN (SELECT j FROM pairs))
       |SELECT count(*) AS n_docs, CAST(sum($nTok) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM curated""".stripMargin
  }

  // --- MinHash-LSH pairs (6 perms, bands of 3, verified Jaccard > 0.8).
  // The synthetic corpus is near-dup-dense (tiny shared vocabulary), so
  // the pair set grows quadratically with corpus size — the gate query
  // bounds the corpus to 2000 docs; the operator itself is unbounded.
  private def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.minHashLshPairs(docs(s, dir).filter($"doc_id" < 2000), "doc_id", "text",
      numPerms = 6, bandSize = 3, threshold = 0.8, maxBucket = Some(100))
  }

  private val minhashLshSql =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents WHERE doc_id < 2000),
      |mh AS (
      |  SELECT id, p,
      |    min(CAST(CAST('0x' || substr(md5(p || ':' || tok), 1, 15) AS UBIGINT) AS BIGINT)) AS mh
      |  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS p) perms
      |  GROUP BY 1, 2),
      |bands0 AS (
      |  SELECT id, CAST(p // 3 AS INT) AS band,
      |    concat_ws('_',
      |      max(CASE WHEN p % 3 = 0 THEN mh END),
      |      max(CASE WHEN p % 3 = 1 THEN mh END),
      |      max(CASE WHEN p % 3 = 2 THEN mh END)) AS band_sig
      |  FROM mh GROUP BY 1, 2),
      |bsz AS (SELECT band, band_sig, count(*) AS bucket_n FROM bands0 GROUP BY 1, 2),
      |bands AS (
      |  SELECT bands0.* FROM bands0 JOIN bsz USING (band, band_sig)
      |  WHERE bucket_n <= 100),
      |cand AS (
      |  SELECT DISTINCT l.id AS i, r.id AS j
      |  FROM bands l JOIN bands r
      |    ON l.band = r.band AND l.band_sig = r.band_sig AND l.id < r.id),
      |sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY 1),
      |inter AS (
      |  SELECT c.i, c.j, count(*) AS inter
      |  FROM cand c
      |  JOIN toks a ON a.id = c.i
      |  JOIN toks b ON b.id = c.j AND a.tok = b.tok
      |  GROUP BY 1, 2)
      |SELECT i, j, jac FROM (
      |  SELECT i, j,
      |    CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) AS jac
      |  FROM inter JOIN sizes s1 ON i = s1.id JOIN sizes s2 ON j = s2.id)
      |WHERE jac > 0.8""".stripMargin

  // --- incremental (cross-corpus) dedup: a new batch (doc_id >= 400)
  //     checked against the standing history (doc_id < 400) by MinHash
  //     band collision + exact-Jaccard verify. No history×history or
  //     batch×batch pairing is generated — the incremental-ingest shape.
  private def incrDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    Dedup.minHashLshPairsAgainst(
      d.filter($"doc_id" < 400), d.filter($"doc_id" >= 400),
      "doc_id", "text", numPerms = 6, bandSize = 3, threshold = 0.8,
      maxBucket = Some(100))
  }

  private val incrDedupSql =
    """WITH htoks AS (
      |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents WHERE doc_id < 400),
      |btoks AS (
      |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents WHERE doc_id >= 400),
      |hmh AS (
      |  SELECT id, p,
      |    min(CAST(CAST('0x' || substr(md5(p || ':' || tok), 1, 15) AS UBIGINT) AS BIGINT)) AS mh
      |  FROM htoks CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS p) perms
      |  GROUP BY 1, 2),
      |bmh AS (
      |  SELECT id, p,
      |    min(CAST(CAST('0x' || substr(md5(p || ':' || tok), 1, 15) AS UBIGINT) AS BIGINT)) AS mh
      |  FROM btoks CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS p) perms
      |  GROUP BY 1, 2),
      |hb0 AS (
      |  SELECT id, CAST(p // 3 AS INT) AS band,
      |    concat_ws('_',
      |      max(CASE WHEN p % 3 = 0 THEN mh END),
      |      max(CASE WHEN p % 3 = 1 THEN mh END),
      |      max(CASE WHEN p % 3 = 2 THEN mh END)) AS band_sig
      |  FROM hmh GROUP BY 1, 2),
      |bb0 AS (
      |  SELECT id, CAST(p // 3 AS INT) AS band,
      |    concat_ws('_',
      |      max(CASE WHEN p % 3 = 0 THEN mh END),
      |      max(CASE WHEN p % 3 = 1 THEN mh END),
      |      max(CASE WHEN p % 3 = 2 THEN mh END)) AS band_sig
      |  FROM bmh GROUP BY 1, 2),
      |hsz AS (SELECT band, band_sig, count(*) AS bucket_n FROM hb0 GROUP BY 1, 2),
      |bsz AS (SELECT band, band_sig, count(*) AS bucket_n FROM bb0 GROUP BY 1, 2),
      |hb AS (SELECT hb0.* FROM hb0 JOIN hsz USING (band, band_sig) WHERE bucket_n <= 100),
      |bb AS (SELECT bb0.* FROM bb0 JOIN bsz USING (band, band_sig) WHERE bucket_n <= 100),
      |cand AS (
      |  SELECT DISTINCT h.id AS hist_id, b.id AS new_id
      |  FROM hb h JOIN bb b ON h.band = b.band AND h.band_sig = b.band_sig),
      |sizes_h AS (SELECT id, count(*) AS sz FROM htoks GROUP BY 1),
      |sizes_b AS (SELECT id, count(*) AS sz FROM btoks GROUP BY 1),
      |inter AS (
      |  SELECT c.hist_id, c.new_id, count(*) AS inter
      |  FROM cand c
      |  JOIN htoks a ON a.id = c.hist_id
      |  JOIN btoks b ON b.id = c.new_id AND a.tok = b.tok
      |  GROUP BY 1, 2)
      |SELECT hist_id, new_id, jac FROM (
      |  SELECT hist_id, new_id,
      |    CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) AS jac
      |  FROM inter JOIN sizes_h s1 ON hist_id = s1.id JOIN sizes_b s2 ON new_id = s2.id)
      |WHERE jac > 0.8""".stripMargin

  // --- count-min sketch heavy hitters (ops.Sketches.cms*): estimate the
  //     top-25 tokens' counts from a 4x256 counter matrix; the oracle
  //     rebuilds the identical sketch (same md5 row hashes, same integer
  //     counters), so estimates — over-counts included — match exactly.
  private def cmsHeavy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val occ = docs(s, dir).select(explode(split($"text", " ")).as("tok"))
    // One tokenize+count pass feeds BOTH the sketch and the exact top-25
    // (materialized once — Spark does not dedupe the shared subplan),
    // and the d md5 row-hashes are paid per vocab entry, not per
    // occurrence.
    val cnt = occ.groupBy($"tok").agg(count(lit(1)).as("exact_n"))
      .localCheckpoint(true)
    val counters = graft.ops.Sketches
      .cmsCountersWeighted(cnt, "tok", "exact_n", depth = 4, width = 256)
    val top = cnt.orderBy($"exact_n".desc, $"tok".asc).limit(25)
    graft.ops.Sketches.cmsEstimate(counters, top, "tok", depth = 4, width = 256)
      .join(broadcast(top), Seq("tok"))
      .select($"tok", $"exact_n", $"cms_est")
  }

  private val cmsHeavySql =
    """WITH occ AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnt AS (SELECT tok, count(*) AS exact_n FROM occ GROUP BY tok),
      |hashes AS (
      |  SELECT tok, exact_n, i,
      |    CAST(CAST('0x' || substr(md5(i || ':' || tok), 1, 15) AS UBIGINT) AS BIGINT) % 256 AS b
      |  FROM cnt CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) d),
      |counters AS (SELECT i, b, CAST(sum(exact_n) AS BIGINT) AS c FROM hashes GROUP BY i, b),
      |top AS (SELECT tok, exact_n FROM cnt ORDER BY exact_n DESC, tok ASC LIMIT 25)
      |SELECT t.tok, t.exact_n, min(c.c) AS cms_est
      |FROM top t
      |JOIN hashes h ON t.tok = h.tok
      |JOIN counters c ON h.i = c.i AND h.b = c.b
      |GROUP BY t.tok, t.exact_n""".stripMargin

  // --- near-duplicate clusters: LSH pairs -> connected components
  //     (ops.Graph min-label propagation). The oracle computes the same
  //     transitive closure with a recursive CTE — min reachable id is
  //     the component label in both engines.
  private def dupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minHashLshPairs(docs(s, dir).filter($"doc_id" < 2000),
      "doc_id", "text", numPerms = 6, bandSize = 3, threshold = 0.8,
      maxBucket = Some(100))
    graft.ops.Graph.connectedComponents(pairs, "i", "j")
      .select($"node".as("doc_id"), $"lab".as("component"))
  }

  // --- same clustering through the large-star/small-star rewrite (the
  //     O(log^2 n)-round path for high-diameter graphs); identical
  //     result, identical oracle.
  private def dupClustersStar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minHashLshPairs(docs(s, dir).filter($"doc_id" < 2000),
      "doc_id", "text", numPerms = 6, bandSize = 3, threshold = 0.8,
      maxBucket = Some(100))
    graft.ops.Graph.connectedComponentsStar(pairs, "i", "j")
      .select($"node".as("doc_id"), $"lab".as("component"))
  }

  private val dupClustersSql =
    s"""WITH RECURSIVE pairs AS (
       |$minhashLshSql
       |),
       |und AS (SELECT i AS a, j AS b FROM pairs
       |        UNION SELECT j AS a, i AS b FROM pairs),
       |reach AS (
       |  SELECT DISTINCT a AS node, a AS lab FROM und
       |  UNION
       |  SELECT u.a AS node, r.lab FROM und u JOIN reach r ON u.b = r.node)
       |SELECT node AS doc_id, min(lab) AS component FROM reach GROUP BY node""".stripMargin

  // --- 64-bit SimHash (production width; bits 0..59 from md5 chars
  //     1-15, bits 60..63 from the low nibble of md5 chars 17-31)
  private def simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash64(docs(s, dir), "doc_id", "text")

  /** The 64 majority-vote bit terms, ascending — partial sums stay
    * ≤ 2⁶³−1 until the (negative) bit-63 literal lands, so the addition
    * chain never overflows DuckDB's checked BIGINT arithmetic. */
  private def simhash64Bits: String =
    (0 until 64).map { b =>
      val vote =
        if (b < 60) s"(h1 >> $b) % 2 = 1" else s"(h2 >> ${b - 60}) % 2 = 1"
      val value =
        if (b == 63) "CAST(-9223372036854775808 AS BIGINT)" else s"${1L << b}"
      s"CASE WHEN sum(CASE WHEN $vote THEN 1 ELSE -1 END) > 0 THEN $value ELSE 0 END"
    }.mkString(" + ")

  private def simhash64Sql(docFilter: String): String =
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents$docFilter),
       |h AS (
       |  SELECT id,
       |    CAST(CAST('0x' || substr(md5(tok), 1, 15) AS UBIGINT) AS BIGINT) AS h1,
       |    CAST(CAST('0x' || substr(md5(tok), 17, 15) AS UBIGINT) AS BIGINT) AS h2
       |  FROM toks)
       |SELECT id, $simhash64Bits AS simhash FROM h GROUP BY id""".stripMargin

  private val simhashSql = simhash64Sql("")

  // --- SimHash near-dup retrieval: banded k+1-block bucket join
  //     (scalable) on the Spark side, brute-force all-pairs on the
  //     oracle side — identical output by the pigeonhole recall
  //     guarantee (see Dedup.simHashNearDupPairs).
  //
  //     The gate corpus is BOUNDED to doc_id < 500: the synthetic
  //     documents table draws from a 31-token vocabulary, so documents
  //     genuinely ARE near-duplicates of each other en masse — the
  //     result-pair count itself (not the banding) goes ~quadratic with
  //     corpus size (measured: 3,007 pairs at 500 docs vs 262,383 at
  //     5,000), and the DuckDB brute-force oracle pays n² on top. The
  //     "unrelated docs rarely collide" argument that justified dropping
  //     the round-4 bound holds for REAL corpora, not this one.
  //     DedupScaleSpec asserts the candidates-∝-true-pairs property on
  //     this exact gated corpus.
  private val simhashDocBound = 500
  private def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDupPairs(
      docs(s, dir).filter(col("doc_id") < simhashDocBound),
      "doc_id", "text", maxHamming = 3)

  private val simhashPairsSql =
    s"""WITH sh AS (
       |${simhash64Sql(s" WHERE doc_id < $simhashDocBound")}
       |)
       |SELECT a.id AS i, b.id AS j,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sh a JOIN sh b ON a.id < b.id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  // --- TF-IDF top-3 terms per document. Score doubles are rounded to
  //     6 dp on both sides; ranking uses the raw double with a term
  //     tiebreak (equal (tf, df) pairs produce bit-identical doubles in
  //     both engines, so ties are broken identically).
  private def tfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(docs(s, dir), "doc_id", "text", k = 3)

  private val tfidfSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |         tf.tf * ln(1.0 + CAST(n.n AS DOUBLE) / df.df) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, score,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
      |  FROM scored)
      |SELECT doc_id, term, round(score, 6) AS tfidf, rk
      |FROM ranked WHERE rk <= 3""".stripMargin

  // --- per-language top-k frequent tokens (exact heavy hitters):
  // explode -> two-level count (map-side partial agg) -> per-lang rank.
  // At 100 TB the same shape holds: the token count shuffle carries
  // (lang, token) partials, and ranking only shuffles the distinct
  // (lang, token) space, not the corpus.
  private def topkTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = docs(s, dir)
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"lang", $"tok")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"lang").orderBy($"cnt".desc, $"tok".asc)
    counts
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"lang", $"rk", $"tok", $"cnt")
  }

  private val topkTokensSql =
    """WITH toks AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      |counts AS (
      |  SELECT lang, tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY 1, 2)
      |SELECT lang,
      |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rk,
      |  tok, cnt
      |FROM counts
      |QUALIFY rk <= 5""".stripMargin

  // --- the same top-k via the bounded-buffer Aggregator (ops.TopK):
  // identical results to the window form, but the shuffle after the
  // token count carries only k items per language instead of the whole
  // vocabulary — the heavy-hitters scale path. Shares the window form's
  // oracle SQL because the outputs must agree exactly.
  private def topkHeap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = docs(s, dir)
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"lang", $"tok")
      .agg(count(lit(1)).as("cnt"))
    counts
      .groupBy($"lang")
      .agg(graft.ops.TopK.topK(5)($"cnt", $"tok").as("top"))
      .select($"lang", posexplode($"top"))
      .select(
        $"lang", ($"pos" + 1).cast(LongType).as("rk"),
        $"col._2".as("tok"), $"col._1".as("cnt"))
  }

  // --- deterministic stratified sampling: multiplicative-hash bucket on
  // the id, per-stratum keep rate via a rate table. Unlike rand()-based
  // sampling this is reproducible across engines, retries, and
  // partitionings — the property a training-data pipeline needs for
  // auditable splits. The modulus keeps the product far from 2^63.
  private def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = (col("doc_id") % 100003L) * 2654435761L % 1000L
    val rate = when($"lang" === "en", 500L)
      .when($"lang" === "zh", 250L)
      .otherwise(100L)
    docs(s, dir)
      .withColumn("bucket", bucket)
      .filter($"bucket" < rate)
      .select($"doc_id", $"lang", $"bucket")
  }

  private val stratifiedSampleSql =
    """SELECT doc_id, lang, (doc_id % 100003) * 2654435761 % 1000 AS bucket
      |FROM documents
      |WHERE (doc_id % 100003) * 2654435761 % 1000 <
      |  CASE WHEN lang = 'en' THEN 500 WHEN lang = 'zh' THEN 250 ELSE 100 END""".stripMargin

  // --- per-doc cross-entropy under the corpus's own MLE bigram LM
  //     (CCNet-style LM quality filter)
  private def bigramXent(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramCrossEntropy(docs(s, dir), "doc_id", "text")

  private val bigramXentSql =
    """WITH ts AS (SELECT doc_id AS id, string_split(text, ' ') AS ts FROM documents),
      |occ AS (
      |  SELECT id, unnest([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]) AS gram
      |  FROM ts WHERE len(ts) >= 2),
      |cb AS (SELECT gram, count(*) AS n FROM occ GROUP BY 1),
      |ctx AS (SELECT string_split(gram, ' ')[1] AS w1, sum(n) AS cn FROM cb GROUP BY 1),
      |scored AS (
      |  SELECT id,
      |    CAST(round(ln(CAST(n AS DOUBLE) / CAST(cn AS DOUBLE)), 6) AS DECIMAL(28,6)) AS lp
      |  FROM (SELECT id, gram, string_split(gram, ' ')[1] AS w1 FROM occ)
      |  JOIN cb USING (gram) JOIN ctx USING (w1)),
      |agg AS (
      |  SELECT id, count(*) AS n_bigrams,
      |    round(-CAST(sum(lp) AS DOUBLE) / count(*), 6) AS xent
      |  FROM scored GROUP BY 1)
      |SELECT d.doc_id AS id, coalesce(agg.n_bigrams, 0) AS n_bigrams, agg.xent
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN agg ON d.doc_id = agg.id""".stripMargin

  // --- Gopher-style rule filter: failed-rule names (sorted) + pass
  //     flag, so the gate pins both the filter decision and the
  //     reject-reasons breakdown
  private def gopherRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val failed = TextAnalysis.ruleFailures($"text")
    // the operator's native output is the sorted ARRAY; the gate projects
    // it to a CSV string because the driver's pandas canonicalizer can't
    // sort ndarray cells (round 6: "unhashable type: 'numpy.ndarray'")
    docs(s, dir).select(
      $"doc_id",
      size(split($"text", " ")).as("n_tokens"),
      array_join(failed, ",").as("failed_rules"),
      (size(failed) === 0).as("passes"))
  }

  private val gopherRulesSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, toks, len(toks) AS n,
      |        list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS mwl,
      |        len(list_distinct(toks)) * 1.0 / len(toks) AS ttr
      |      FROM t),
      |r AS (SELECT doc_id, CAST(n AS INT) AS n_tokens,
      |        list_sort(list_filter([
      |          CASE WHEN n < 25 THEN 'too_few_tokens' END,
      |          CASE WHEN n > 90 THEN 'too_many_tokens' END,
      |          CASE WHEN mwl > 5.0 THEN 'mean_word_len' END,
      |          CASE WHEN NOT (list_contains(toks, 'the') OR list_contains(toks, 'a')) THEN 'no_stopword' END,
      |          CASE WHEN ttr < 0.35 THEN 'low_ttr' END], x -> x IS NOT NULL)) AS failed_rules
      |      FROM s)
      |SELECT doc_id, n_tokens,
      |  coalesce(array_to_string(failed_rules, ','), '') AS failed_rules,
      |  len(failed_rules) = 0 AS passes FROM r""".stripMargin

  // --- BPE tokenizer training (ops.Bpe): the corpus collapses to
  //     (word, count) once, then every merge iterates over the VOCAB —
  //     the Sennrich trainer optimization, which is also the 100 TB
  //     shape (corpus-sized work happens exactly once). The oracle
  //     re-learns the same merges in DuckDB: chained MATERIALIZED CTEs,
  //     one (pairs → argmax → replace) stage per merge, with the same
  //     (count DESC, pair ASC) tie order and the same literal
  //     `replace('|x||y|','|xy|')` greedy merge application over the
  //     wrapped-symbol encoding (see ops.Bpe) — validated against a
  //     classic driver-side BPE trainer before shipping.
  private val bpeK = 8

  private def bpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.train(s, docs(s, dir), "text", bpeK)

  // the driver-side training envelope must learn the SAME merges as the
  // distributed loop — same DuckDB training-replay oracle
  private def bpeLocal(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.trainLocalWithVocab(s, docs(s, dir), "text", bpeK)._1

  // hashed linear classifier inference (TextAnalysis.hashedLinearScore)
  // — the CCNet/LLaMA-style quality filter as one scan + one
  // partial-aggregated shuffle; logits in integer micro-units so the
  // label decision replays exactly
  private def linearScore(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.hashedLinearScore(
      docs(s, dir), "doc_id", "text", buckets = 1L << 20, biasMicro = 2500L)

  private val linearScoreSql =
    """SELECT doc_id,
      |  CAST(sum(w) + 2500 AS BIGINT) AS score_micro,
      |  CAST(count(*) AS BIGINT) AS n_toks,
      |  CAST(CASE WHEN sum(w) + 2500 >= 0 THEN 1 ELSE 0 END AS INTEGER) AS label
      |FROM (
      |  SELECT doc_id,
      |    (CAST(CAST('0x' || substr(md5(tok), 1, 15) AS UBIGINT) AS BIGINT)
      |      % 1048576) % 2001 - 1000 AS w
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE length(tok) > 0)
      |GROUP BY doc_id""".stripMargin

  // EXACT-SUBSTRING dedup (Dedup.removeDuplicateSpans, the ExactSubstr
  // method): every 8-token window occurring more than once in the
  // corpus marks its span; covered tokens are removed and the doc
  // reassembles. The oracle replays the full cover computation —
  // n-gram hashes, global dup counts, covered-index union, ordered
  // reassembly — so the REMOVAL DECISION is pinned, not just counts.
  private val substrN = 8

  private def substrDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.removeDuplicateSpans(docs(s, dir), "doc_id", "text", substrN)

  private def substrDedupSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |grams AS (
       |  SELECT doc_id, p AS pos,
       |    CAST(CAST('0x' || substr(md5(array_to_string(l[p+1:p+$substrN], ' ')), 1, 15) AS UBIGINT) AS BIGINT) AS h
       |  FROM (SELECT doc_id, l, unnest(range(0, len(l) - $substrN + 1)) AS p
       |        FROM toks WHERE len(l) >= $substrN)),
       |duph AS (SELECT h FROM grams GROUP BY h HAVING count(*) > 1),
       |covered AS (
       |  SELECT DISTINCT doc_id, idx FROM (
       |    SELECT g.doc_id, unnest(range(g.pos, g.pos + $substrN)) AS idx
       |    FROM grams g JOIN duph USING (h))),
       |tokens AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS idx, l[CAST(i AS INT) + 1] AS tok
       |  FROM (SELECT doc_id, l, unnest(range(0, len(l))) AS i FROM toks)),
       |kept AS (
       |  SELECT t.doc_id, t.idx, t.tok FROM tokens t
       |  WHERE NOT EXISTS (SELECT 1 FROM covered c
       |                    WHERE c.doc_id = t.doc_id AND c.idx = t.idx)),
       |reb AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS dedup_text,
       |    CAST(count(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(r.dedup_text, '') AS dedup_text,
       |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_toks
       |FROM documents d LEFT JOIN reb r USING (doc_id)""".stripMargin

  // corpus-scale TOKENIZATION under the learned BPE — the production
  // shape: encode each DISTINCT word once (vocab-sized projection,
  // no shuffle), broadcast-join the per-word token count back to the
  // occurrences, per-doc sum. The corpus is never re-tokenized per
  // occurrence; cost = one corpus scan + a vocab-sized encode. The
  // oracle replays the training CTEs and derives each word's token
  // count from the final vocab's wrapped symbol string.
  private def bpeCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val merges = graft.ops.Bpe.train(s, d, "text", bpeK)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val words = d.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0 && col("word").rlike("^[a-z]+$"))
    val encoded = graft.ops.Bpe.encodeWords(
      words.select("word").distinct(), "word", merges)
      .select(col("word"), size(col("tokens")).as("n_tok"))
    words.join(broadcast(encoded), Seq("word"))
      .groupBy("doc_id")
      .agg(sum("n_tok").as("bpe_tokens"), count(lit(1)).as("n_words"))
  }

  private def bpeCorpusSql: String =
    s"""WITH ${bpeCtes(bpeK)},
       |doc_words AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
       |    FROM documents)
       |  WHERE length(word) > 0 AND regexp_matches(word, '^[a-z]+$$')),
       |tok AS (SELECT word,
       |  (length(s) - length(replace(s, '|', ''))) // 2 AS n_tok
       |  FROM bpe_v$bpeK)
       |SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS bpe_tokens,
       |  CAST(count(*) AS BIGINT) AS n_words
       |FROM doc_words JOIN tok USING (word)
       |GROUP BY doc_id""".stripMargin

  private def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = graft.ops.Bpe.trainWithVocab(s, docs(s, dir), "text", bpeK)
    graft.ops.Bpe.vocabSymbols(vocab)
  }

  // held-out words ABSENT from the corpus: encoding them exercises the
  // learned merges on unseen input, which q_bpe_vocab (the corpus's own
  // final state) cannot
  private val bpeHeldOut = Seq(
    "zebra", "querying", "stream", "tokenizer", "minhash",
    "aardvark", "xylem", "throughput")

  private def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = graft.ops.Bpe.train(s, docs(s, dir), "text", bpeK)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.ops.Bpe.encodeWords(bpeHeldOut.toDF("word"), "word", merges)
      .select($"word", concat_ws("|", $"tokens").as("enc"),
        size($"tokens").as("n_tokens"))
  }

  private def bpeEncodeSql: String = {
    val values = bpeHeldOut.map(w => s"('$w')").mkString(", ")
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""bpe_e0 AS (SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS s
         |  FROM (VALUES $values) AS t(word))""".stripMargin)
    for (r <- 1 to bpeK) {
      ctes += s"""bpe_e$r AS (SELECT word,
                 |  replace(s, '|' || replace((SELECT pr FROM bpe_b$r), ' ', '||') || '|',
                 |             '|' || replace((SELECT pr FROM bpe_b$r), ' ', '') || '|') AS s
                 |  FROM bpe_e${r - 1})""".stripMargin
    }
    s"""WITH ${bpeCtes(bpeK)},
       |${ctes.mkString(",\n")}
       |SELECT word,
       |  array_to_string(list_filter(string_split(s, '|'), x -> x <> ''), '|') AS enc,
       |  CAST(len(list_filter(string_split(s, '|'), x -> x <> '')) AS INT) AS n_tokens
       |FROM bpe_e$bpeK""".stripMargin
  }

  private def bpeCtes(k: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      """bpe_wc AS MATERIALIZED (SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(lower(text),' ')) AS word FROM documents)
        |  WHERE length(word) > 0 AND regexp_matches(word, '^[a-z]+$') GROUP BY word)""".stripMargin,
      """bpe_v0 AS MATERIALIZED (SELECT word, n,
        |  regexp_replace(word, '(.)', '|\1|', 'g') AS s FROM bpe_wc)""".stripMargin)
    for (r <- 1 to k) {
      val prev = s"bpe_v${r - 1}"
      ctes += s"""bpe_p$r AS MATERIALIZED (SELECT pr, CAST(sum(n) AS BIGINT) AS cnt FROM (
                 |  SELECT n, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS pr
                 |  FROM (SELECT n, list_filter(string_split(s, '|'), x -> x <> '') AS l FROM $prev)) GROUP BY pr)""".stripMargin
      ctes += s"bpe_b$r AS MATERIALIZED (SELECT $r AS rank, pr, cnt FROM bpe_p$r ORDER BY cnt DESC, pr ASC LIMIT 1)"
      ctes += s"""bpe_v$r AS MATERIALIZED (SELECT word, n,
                 |  replace(s, '|' || replace((SELECT pr FROM bpe_b$r), ' ', '||') || '|',
                 |             '|' || replace((SELECT pr FROM bpe_b$r), ' ', '') || '|') AS s FROM $prev)""".stripMargin
    }
    ctes.mkString(",\n")
  }

  private def bpeMergesSql: String = {
    val union = (1 to bpeK).map(r =>
      s"SELECT rank, split_part(pr, ' ', 1) AS lft, split_part(pr, ' ', 2) AS rgt, cnt FROM bpe_b$r")
      .mkString(" UNION ALL ")
    s"WITH ${bpeCtes(bpeK)}\nSELECT CAST(rank AS INT) AS rank, lft, rgt, cnt FROM ($union) ORDER BY rank"
  }

  private def bpeVocabSql: String =
    s"""WITH ${bpeCtes(bpeK)}
       |SELECT sym, CAST(sum(n) AS BIGINT) AS total FROM (
       |  SELECT n, unnest(list_filter(string_split(s, '|'), x -> x <> '')) AS sym
       |  FROM bpe_v$bpeK)
       |GROUP BY sym""".stripMargin

  // --- persisted MinHash dedup index (ops.Dedup.writeMinHashIndex /
  //     probeMinHashIndex): the production incremental-dedup shape —
  //     index the standing corpus ONCE, probe every delivery. The
  //     history index of an sf dir is a Fixtures.once fixture: built at
  //     most once per JVM, so every later call (the bench's timed
  //     passes, after its plan pass built it) only probes. The probe
  //     takes the SAME batch split as q_incr_dedup, so the oracle is
  //     identical by construction (the index is the persisted history
  //     side of the same computation).
  private def dedupIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val index = Fixtures.once(s, dir, "dedup_index")(
      Dedup.writeMinHashIndex(
        docs(s, dir).filter($"doc_id" < 400), "doc_id", "text",
        numPerms = 6, bandSize = 3, maxBucket = Some(100), _))
    Dedup.probeMinHashIndex(s, index,
      docs(s, dir).filter($"doc_id" >= 400), "doc_id", "text", threshold = 0.8)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gopher_rules" -> (gopherRules _),
    "q_bigram_xent" -> (bigramXent _),
    "q_topk_tokens" -> (topkTokens _),
    "q_topk_heap" -> (topkHeap _),
    "q_stratified_sample" -> (stratifiedSample _),
    "q_token_stats" -> (tokenStats _),
    "q_tfidf" -> (tfidf _),
    "q_token_quantiles" -> (tokenQuantiles _),
    "q_hll_distinct" -> (hllTokens _),
    "q_hll_merge" -> (hllMerge _),
    "q_quality_score" -> (qualityScore _),
    "q_lang_id" -> (langId _),
    "q_fingerprint_groups" -> (fingerprintGroups _),
    "q_exact_dedup" -> (exactDedup _),
    "q_jaccard_neardup" -> (jaccardDegree _),
    "q_ngram_jaccard" -> (ngramJaccard _),
    "q_winnow_fp" -> (winnowFp _),
    "q_doc_curate" -> (docCurate _),
    "q_minhash_lsh" -> (minhashLsh _),
    "q_incr_dedup" -> (incrDedup _),
    "q_dup_clusters" -> (dupClusters _),
    "q_dup_clusters_star" -> (dupClustersStar _),
    "q_cms_heavy" -> (cmsHeavy _),
    "q_simhash_pairs" -> (simhashPairs _),
    "q_simhash" -> (simhash _),
    "q_bpe_merges" -> (bpeMerges _),
    "q_bpe_local" -> (bpeLocal _),
    "q_bpe_corpus" -> (bpeCorpus _),
    "q_substr_dedup" -> (substrDedup _),
    "q_linear_score" -> (linearScore _),
    "q_bpe_vocab" -> (bpeVocab _),
    "q_bpe_encode" -> (bpeEncode _),
    "q_dedup_index" -> (dedupIndex _))

  val oracles: Map[String, String] = Map(
    "q_gopher_rules" -> gopherRulesSql,
    "q_bigram_xent" -> bigramXentSql,
    "q_topk_tokens" -> topkTokensSql,
    "q_topk_heap" -> topkTokensSql,
    "q_stratified_sample" -> stratifiedSampleSql,
    "q_token_stats" -> tokenStatsSql,
    "q_tfidf" -> tfidfSql,
    "q_token_quantiles" -> tokenQuantilesSql,
    "q_hll_distinct" -> hllTokensSql,
    "q_hll_merge" -> hllMergeSql,
    "q_quality_score" -> qualityScoreSql,
    "q_lang_id" -> langIdSql,
    "q_fingerprint_groups" -> fingerprintGroupsSql,
    "q_exact_dedup" -> exactDedupSql,
    "q_jaccard_neardup" -> jaccardDegreeSql,
    "q_ngram_jaccard" -> ngramJaccardSql,
    "q_winnow_fp" -> winnowFpSql,
    "q_doc_curate" -> docCurateSql,
    "q_minhash_lsh" -> minhashLshSql,
    "q_incr_dedup" -> incrDedupSql,
    "q_dup_clusters" -> dupClustersSql,
    "q_dup_clusters_star" -> dupClustersSql,
    "q_cms_heavy" -> cmsHeavySql,
    "q_simhash_pairs" -> simhashPairsSql,
    "q_simhash" -> simhashSql,
    "q_bpe_merges" -> bpeMergesSql,
    // the local trainer replays the same training, so the same oracle
    "q_bpe_local" -> bpeMergesSql,
    "q_bpe_corpus" -> bpeCorpusSql,
    "q_substr_dedup" -> substrDedupSql,
    "q_linear_score" -> linearScoreSql,
    "q_bpe_vocab" -> bpeVocabSql,
    "q_bpe_encode" -> bpeEncodeSql,
    // identical output to the inline incremental dedup by construction —
    // the index is the PERSISTED history side of the same computation
    "q_dedup_index" -> incrDedupSql)
}
