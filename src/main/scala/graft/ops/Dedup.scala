package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, each designed as
  * shuffle-minimal DataFrame transformations:
  *
  *  - exact: hash-groupBy on a normalized fingerprint (one shuffle);
  *  - token-set Jaccard: inverted-index self-join (blocked by token, no
  *    O(n^2) pairing) + integer intersection counts;
  *  - MinHash-LSH: shingle -> per-permutation min-hash -> banded
  *    signatures -> bucket join for candidates -> exact Jaccard verify;
  *  - SimHash: per-bit majority vote over token hashes.
  *
  * Hashing is md5-based (`hash60`) rather than Spark's murmur `hash()` so
  * results are reproducible in any engine — signatures are part of the
  * declared query surface and get oracle-checked cross-engine.
  */
object Dedup {

  /** Deterministic 60-bit token hash: first 15 hex chars of md5. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Exact-duplicate groups by normalized fingerprint: canonical (min)
    * id, group size. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))

  /** Keep one row per fingerprint (the min id) — the dedup "kept" set. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol)).as("fp")
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    df.select(col(idCol), fp)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** [[exactDedup]] keeping ALL original columns of the kept rows. */
  def exactDedupRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Distinct (id, token) pairs. `array_distinct` dedups within the
    * document BEFORE the explode, so for a unique-id input (every caller
    * here — document tables) the result is already distinct with no
    * shuffle. A global `.distinct()` would re-shuffle the largest
    * intermediate of every text operator for nothing. */
  def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(array_distinct(split(col(textCol), " "))).as("tok"))

  /** Distinct (id, word-n-gram) pairs: contiguous n-token shingles of the
    * whitespace tokenization. Shingle sets, unlike token sets, preserve
    * local word order — the standard unit for n-gram Jaccard dedup.
    * The token array is materialized before the gram lambda (see
    * [[TextAnalysis.ngramArray]] for why that matters). */
  def ngramTokens(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("__toks"))
      .select(col("id"),
        explode(array_distinct(TextAnalysis.ngramArray(col("__toks"), n))).as("tok"))

  /** Document-frequency cut on a distinct (id, tok) posting stream:
    * drops every token appearing in MORE than `maxDocFreq` documents —
    * stop-word-grade tokens — from the token sets entirely (so both the
    * intersection counts and the set sizes of the downstream Jaccard see
    * the filtered sets; the oracle applies the identical cut).
    *
    * This is what bounds the inverted-index self-join at 100 TB: without
    * it, ONE ubiquitous token degenerates `a.tok = b.tok` to ~O(n²)
    * pairs on a single hot key. The hot-token list is tiny by
    * construction (≤ |postings| / maxDocFreq distinct tokens), so it
    * broadcasts and the cut itself is a map-side anti-join — the only
    * added shuffle is the partial-aggregated df count. */
  def dfCutTokens(t: DataFrame, maxDocFreq: Int): DataFrame = {
    val hot = t.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("tok"))
    t.join(broadcast(hot), Seq("tok"), "left_anti")
  }

  /** Per-document near-duplicate degree via token-set Jaccard: for each
    * doc, how many other docs share > `threshold` Jaccard similarity.
    * Inverted-index join: pairs are only formed for docs sharing at
    * least one token. `maxDocFreq` applies [[dfCutTokens]] to the
    * posting lists first — mandatory at scale (see there). */
  def jaccardNearDupDegree(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      maxDocFreq: Option[Int] = None): DataFrame =
    nearDupDegree(df, idCol, tokens(df, idCol, textCol), threshold, maxDocFreq)

  /** Same degree computation over word-n-gram shingle sets. */
  def ngramJaccardDegree(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxDocFreq: Option[Int] = None): DataFrame =
    nearDupDegree(df, idCol, ngramTokens(df, idCol, textCol, n), threshold, maxDocFreq)

  private def nearDupDegree(
      df: DataFrame, idCol: String, t0: DataFrame, threshold: Double,
      maxDocFreq: Option[Int]): DataFrame = {
    // Materialize the posting list ONCE. Every downstream leg (sizes,
    // both self-join sides) re-plans the whole tokenize subtree — and
    // because `pairs` used to feed the degree union TWICE, the plan
    // replicated the corpus scan 34 times (60 Exchanges, measured at
    // r16: plans/r16/q_ngram_jaccard_before.txt). The checkpoint pays
    // one corpus-token-sized materialization; every consumer then reads
    // blocks instead of re-running split+explode+distinct per mention
    // (guide §2.4 "remove shuffles outright" / §3 "materialising an
    // intermediate truncates the plan").
    val t = maxDocFreq.fold(t0)(dfCutTokens(t0, _)).localCheckpoint()
    val sizes = t.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val a = t.as("a"); val b = t.as("b")
    val inter = a.join(b, col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.withColumnRenamed("id", "i").withColumnRenamed("sz", "sz_i"), "i")
      .join(sizes.withColumnRenamed("id", "j").withColumnRenamed("sz", "sz_j"), "j")
      .withColumn("jac",
        col("inter").cast(DoubleType) / (col("sz_i") + col("sz_j") - col("inter")).cast(DoubleType))
      .filter(col("jac") > threshold)
    // symmetric degree per doc (docs with no partner get 0): explode
    // [i, j] per pair — the SAME row multiset the old union of two
    // `pairs` projections produced, without planning `pairs` (and its
    // whole upstream) twice
    val deg = pairs
      .select(explode(array(col("i"), col("j"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("near_dups"))
    df.select(col(idCol).as("id")).distinct()
      .join(deg, Seq("id"), "left")
      .withColumn("near_dups", coalesce(col("near_dups"), lit(0L)))
  }

  /** Benchmark-contamination check (the decontamination primitive of
    * training-data pipelines): for every corpus document, the number of
    * distinct word `n`-gram shingles it shares with ANY benchmark
    * document. Non-zero rows are contamination candidates.
    *
    * Scale shape: the benchmark shingle set is tiny next to the corpus
    * (eval suites are MBs; the corpus is TBs) — it broadcasts, so the
    * corpus side is ONE scan + explode with a map-side hash-join probe
    * and one groupBy(id) shuffle. No corpus-vs-corpus pairing. */
  def ngramContamination(
      corpus: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val benchGrams = ngramTokens(bench, idCol, textCol, n)
      .select(col("tok")).distinct()
    ngramTokens(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), "tok")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Wide MinHash signatures: one row per id, columns mh0..mh{n-1} with
    * the min token hash under permutation `p` (h_p(t) = hash60(p||':'||t)).
    * All permutations aggregate in ONE groupBy(id) pass with map-side
    * partial min — no per-permutation row explosion through the shuffle. */
  def minHashWide(
      df: DataFrame, idCol: String, textCol: String, numPerms: Int): DataFrame = {
    val t = tokens(df, idCol, textCol)
    val aggs = (0 until numPerms).map { p =>
      min(hash60(concat(lit(p.toString), lit(":"), col("tok")))).as(s"mh$p")
    }
    t.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Long-form MinHash signatures: one row per (id, perm) — an unpivot of
    * [[minHashWide]], so still a single shuffle. */
  def minHashSignatures(
      df: DataFrame, idCol: String, textCol: String, numPerms: Int): DataFrame =
    minHashWide(df, idCol, textCol, numPerms)
      .select(col("id"), explode(array((0 until numPerms).map(p =>
        struct(lit(p).as("p"), col(s"mh$p").as("mh"))): _*)).as("s"))
      .select(col("id"), col("s.p").as("p"), col("s.mh").as("mh"))

  /** MinHash-LSH near-duplicate pairs: band the signature (bandSize
    * consecutive perms per band), bucket-join docs sharing any band
    * signature, then verify candidates with exact token-set Jaccard.
    * Returns (i, j, jac) with i < j and jac > threshold. */
  /** (id, band, band_sig) rows for LSH bucketing: banding is a pure
    * projection off the wide signature row — not another aggregation
    * shuffle. Degenerate buckets (near-dup-dense corpora) make
    * candidate joins quadratic AND skewed onto single keys; production
    * LSH drops or subsamples them — a bucket larger than `maxBucket`
    * carries almost no pair information anyway. */
  private def bandSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numPerms: Int, bandSize: Int, maxBucket: Option[Int]): DataFrame = {
    val numBands = numPerms / bandSize
    val bands0 = minHashWide(df, idCol, textCol, numPerms)
      .select(col("id"), explode(array((0 until numBands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("_", (0 until bandSize).map(o =>
            col(s"mh${b * bandSize + o}")): _*).as("band_sig"))
      }: _*)).as("s"))
      .select(col("id"), col("s.band").as("band"), col("s.band_sig").as("band_sig"))
    maxBucket match {
      case Some(cap) =>
        val sizes = bands0.groupBy(col("band"), col("band_sig"))
          .agg(count(lit(1)).as("bucket_n"))
        bands0.join(sizes, Seq("band", "band_sig"))
          .filter(col("bucket_n") <= cap)
          .drop("bucket_n")
      case None => bands0
    }
  }

  def minHashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      numPerms: Int, bandSize: Int, threshold: Double,
      maxBucket: Option[Int] = None): DataFrame = {
    val bands = bandSignatures(df, idCol, textCol, numPerms, bandSize, maxBucket)
    val l = bands.as("l"); val r = bands.as("r")
    val candidates = l.join(r,
        col("l.band") === col("r.band") && col("l.band_sig") === col("r.band_sig") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("i"), col("r.id").as("j"))
      .distinct()
    // exact verify — token equality is part of the second join's key so
    // the intermediate is the intersection itself, not |A| x |B| pairs
    val t = tokens(df, idCol, textCol)
    val sizes = t.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    candidates
      .join(t.withColumnRenamed("id", "i").withColumnRenamed("tok", "tok_c"), "i")
      .join(t.withColumnRenamed("id", "j").withColumnRenamed("tok", "tok_c"), Seq("j", "tok_c"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "i").withColumnRenamed("sz", "sz_i"), "i")
      .join(sizes.withColumnRenamed("id", "j").withColumnRenamed("sz", "sz_j"), "j")
      .withColumn("jac",
        col("inter").cast(DoubleType) / (col("sz_i") + col("sz_j") - col("inter")).cast(DoubleType))
      .filter(col("jac") > threshold)
      .select("i", "j", "jac")
  }

  /** Cross-corpus (incremental) MinHash-LSH dedup: every `batch`
    * document that collides with a `history` document in any LSH band,
    * verified by exact token-set Jaccard. This is the incremental-
    * ingest shape — a day's crawl checked against the standing index —
    * and the batch analog of
    * [[graft.streaming.Streams]]' near-dup-vs-history operator:
    * within-history and within-batch pairs are NEVER generated, so the
    * quadratic self-join term disappears and cost is driven by the
    * (small) batch side. History band signatures are a pure function
    * of the history corpus; in production they are computed once and
    * stored with the index, so each ingest pays only the batch-side
    * signature pass plus the (band, band_sig) equi-join. The
    * degenerate-bucket cap applies to each side independently.
    *
    * @return (hist_id, new_id, jac) with jac > threshold */
  def minHashLshPairsAgainst(
      history: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      numPerms: Int, bandSize: Int, threshold: Double,
      maxBucket: Option[Int] = None): DataFrame = {
    val hb = bandSignatures(history, idCol, textCol, numPerms, bandSize, maxBucket)
    val bb = bandSignatures(batch, idCol, textCol, numPerms, bandSize, maxBucket)
    val candidates = hb.as("l").join(bb.as("r"),
        col("l.band") === col("r.band") && col("l.band_sig") === col("r.band_sig"))
      .select(col("l.id").as("hist_id"), col("r.id").as("new_id"))
      .distinct()
    val ht = tokens(history, idCol, textCol)
    val bt = tokens(batch, idCol, textCol)
    val hSizes = ht.groupBy(col("id")).agg(count(lit(1)).as("sz_h"))
    val bSizes = bt.groupBy(col("id")).agg(count(lit(1)).as("sz_b"))
    candidates
      .join(ht.withColumnRenamed("id", "hist_id").withColumnRenamed("tok", "tok_c"), "hist_id")
      .join(bt.withColumnRenamed("id", "new_id").withColumnRenamed("tok", "tok_c"), Seq("new_id", "tok_c"))
      .groupBy(col("hist_id"), col("new_id"))
      .agg(count(lit(1)).as("inter"))
      .join(hSizes.withColumnRenamed("id", "hist_id"), "hist_id")
      .join(bSizes.withColumnRenamed("id", "new_id"), "new_id")
      .withColumn("jac",
        col("inter").cast(DoubleType) /
          (col("sz_h") + col("sz_b") - col("inter")).cast(DoubleType))
      .filter(col("jac") > threshold)
      .select(col("hist_id"), col("new_id"), col("jac"))
  }

  /** SimHash near-duplicate pairs, production width: ALL pairs at
    * Hamming distance ≤ `maxHamming` on the 64-bit signature, found
    * WITHOUT the O(n²) all-pairs scan (Manku et al., WWW'07). The
    * signature is banded into `maxHamming + 1` contiguous blocks; by
    * pigeonhole, any pair differing in ≤ k bits agrees on at least one
    * whole block, so the band-bucket self-join has EXACT recall and the
    * Hamming filter removes the rest — the result is IDENTICAL to brute
    * force (which is what the oracle runs).
    *
    * Scale shape: with k = 3 each band is 16 bits, so two UNRELATED
    * documents collide on a band with probability ~4·2⁻¹⁶ — candidate
    * volume stays proportional to the true near-dup count instead of
    * n²/buckets (the failure mode of the 16-bit demo this replaced,
    * which had 64 total (band, nibble) buckets and degenerated toward
    * n²/64 at corpus size). Bands are banded as a projection off the
    * one signature aggregation — no extra shuffle before the bucket
    * join. */
  def simHashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simHashCandidates(df, idCol, textCol, maxHamming)
      .withColumn("hamming",
        bit_count(col("si").bitwiseXOR(col("sj"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("i", "j", "hamming")

  /** Banded candidate pairs (pre-Hamming-filter): (i, j, si, sj),
    * i < j, sharing at least one of the `maxHamming + 1` signature
    * blocks. Package-visible so the scale spec can assert the
    * candidate count stays near the true-pair count. */
  private[graft] def simHashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    require(0 <= maxHamming && maxHamming < 32,
      "need bands of >= 2 bits: 0 <= maxHamming < 32")
    val numBands = maxHamming + 1
    // band b covers bits [floor(b·64/nb), floor((b+1)·64/nb)) — widths
    // differ by at most 1 when nb does not divide 64
    val bounds = (0 to numBands).map(i => i * 64 / numBands)
    val sig = simHash64(df, idCol, textCol)
    val banded = sig.select(col("id"), col("simhash"),
      explode(array((0 until numBands).map { b =>
        val lo = bounds(b); val width = bounds(b + 1) - lo
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        // unsigned shift + mask: the sign bit of the 64-bit signature
        // must not smear into narrower bands
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), lo).bitwiseAND(lit(mask)).as("band_sig"))
      }: _*)).as("s"))
      .select(col("id"), col("simhash"),
        col("s.band").as("band"), col("s.band_sig").as("band_sig"))
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r,
        col("l.band") === col("r.band") && col("l.band_sig") === col("r.band_sig") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("i"), col("r.id").as("j"),
        col("l.simhash").as("si"), col("r.simhash").as("sj"))
      .distinct()
  }

  /** 64-bit SimHash over token hashes: bit b is set iff the majority of
    * the document's tokens have bit b set in their hash. Token bits
    * 0..59 come from md5 chars 1–15 ([[hash60]]); bits 60..63 from the
    * low nibble of a second 60-bit value (md5 chars 17–31) — both
    * engine-reproducible, so the signature itself is oracle-checkable. */
  def simHash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(df, idCol, textCol)
      .withColumn("h1", hash60(col("tok")))
      .withColumn("h2",
        conv(substring(md5(col("tok")), 17, 15), 16, 10).cast(LongType))
    val bitVotes = (0 until 64).map { b =>
      val bit = if (b < 60) shiftright(col("h1"), b) else shiftright(col("h2"), b - 60)
      sum(when(bit % 2 === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val voted = t.groupBy(col("id")).agg(bitVotes.head, bitVotes.tail: _*)
    // ascending-bit addition of disjoint powers: partial sums stay
    // ≤ 2⁶³−1 until the (negative) bit-63 term lands — no overflow
    // under ANSI in either engine
    val sim = (0 until 64)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    voted.select(col("id"), sim.as("simhash"))
  }

  /** Fuzzy value matching by edit distance, distinct-first: collapse
    * the column to its vocabulary (with per-value row counts) BEFORE
    * pairing, so the quadratic step is O(vocab²), not O(rows²) — a
    * 100 TB column with a bounded value domain pairs in milliseconds,
    * and the only full-data cost is one partial-aggregated groupBy.
    * The pair join is a broadcast nested-loop with a cheap
    * length-band guard ahead of the levenshtein evaluation; for
    * genuinely unbounded vocabularies swap the guard for a blocking
    * key (prefix/soundex) on both sides of an equi join.
    *
    * @return (name_a, name_b, dist, rows_a, rows_b), name_a < name_b,
    *         dist ≤ maxDist
    */
  def fuzzyVocabPairs(df: DataFrame, colName: String, maxDist: Int): DataFrame = {
    val vocab = df.groupBy(col(colName).as("name"))
      .agg(count(lit(1)).as("n_rows"))
    val a = vocab.select(col("name").as("name_a"), col("n_rows").as("rows_a"))
    val b = vocab.select(col("name").as("name_b"), col("n_rows").as("rows_b"))
    a.join(b,
        col("name_a") < col("name_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= maxDist &&
          levenshtein(col("name_a"), col("name_b")) <= maxDist)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"),
        col("rows_a"), col("rows_b"))
  }

  /** All single-character deletions of `v` (SQL expr text; `i` is the
    * lambda variable name — nested layers need distinct names). */
  private def del1(v: String, i: String): String =
    s"CASE WHEN length($v) = 0 THEN array($v) " +
      s"ELSE transform(sequence(0, length($v) - 1), $i -> concat(left($v, $i), substring($v, $i + 2))) END"

  /** SQL expr for the ≤`maxDist`-deletion neighborhood of a string
    * column: the string itself plus every variant reachable by deleting
    * up to `maxDist` characters (deduplicated). */
  private[graft] def deletionNeighborhoodExpr(colName: String, maxDist: Int): String = {
    require(maxDist >= 1, "maxDist must be >= 1")
    var layers = List(s"array($colName)")
    for (d <- 1 to maxDist)
      layers ::= s"flatten(transform(${layers.head}, v$d -> ${del1(s"v$d", s"i$d")}))"
    s"array_distinct(concat(${layers.reverse.mkString(", ")}))"
  }

  /** [[fuzzyVocabPairs]] for UNBOUNDED vocabularies: same contract
    * ((name_a, name_b, dist, rows_a, rows_b), name_a < name_b,
    * dist ≤ maxDist), but candidates come from an EQUI join on a
    * deletion-neighborhood blocking key instead of a broadcast nested
    * loop over the whole vocabulary.
    *
    * If lev(a, b) ≤ k then an optimal alignment's matched positions are
    * a common string reachable by ≤ k deletions from EACH side (each
    * substitution drops one char from both, each insert/delete drops
    * one from one side) — so a and b share a blocking key and recall is
    * EXACT; the final levenshtein filter restores precision. Cost per
    * name is its C(len, ≤k) deletion variants — the SymSpell trade:
    * rows scale with vocab × len^k, never vocab². The join is a plain
    * shuffled equi-join, so a 10⁹-value vocabulary partitions across
    * the cluster instead of broadcasting. */
  def fuzzyVocabPairsBlocked(df: DataFrame, colName: String, maxDist: Int): DataFrame = {
    val vocab = df.groupBy(col(colName).as("name"))
      .agg(count(lit(1)).as("n_rows"))
    val variants = vocab.select(col("name"), col("n_rows"),
      explode(expr(deletionNeighborhoodExpr("name", maxDist))).as("blk"))
    val a = variants.select(col("name").as("name_a"), col("n_rows").as("rows_a"), col("blk"))
    val b = variants.select(col("name").as("name_b"), col("n_rows").as("rows_b"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"), col("rows_a"), col("rows_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"), col("rows_a"), col("rows_b"))
  }

  // -------------------------------------------------------------------
  // Persisted MinHash dedup index: the standing-corpus side of
  // [[minHashLshPairsAgainst]] as a durable artifact — the production
  // shape of incremental dedup is "index the corpus ONCE, probe every
  // delivery", exactly what [[AnnIndex]] does for ANN. The index holds
  // the history's band signatures AND its distinct token sets (the
  // exact-Jaccard verify needs them), plus a params marker so a probe
  // with mismatched banding fails loudly instead of silently finding
  // nothing.
  // -------------------------------------------------------------------

  /** Build and persist the dedup index for a history corpus. */
  def writeMinHashIndex(
      history: DataFrame, idCol: String, textCol: String,
      numPerms: Int, bandSize: Int, maxBucket: Option[Int],
      path: String): Unit = {
    bandSignatures(history, idCol, textCol, numPerms, bandSize, maxBucket)
      .write.mode("overwrite").parquet(s"$path/bands")
    tokens(history, idCol, textCol)
      .write.mode("overwrite").parquet(s"$path/tokens")
    // through the Fs substrate: the index may live on any scheme
    // Hadoop mounts, and a raw java.io write in the ops layer is the
    // bypass FsSubstrateSpec's source gate forbids
    Fs.writeTextAtomic(Fs.of(path),
      new org.apache.hadoop.fs.Path(s"$path/PARAMS"),
      s"$numPerms:$bandSize:${maxBucket.getOrElse(-1)}")
  }

  /** Probe a persisted index with a new batch: identical semantics to
    * [[minHashLshPairsAgainst]] with the index's corpus as `history` —
    * band-bucket join for candidates, exact token-set Jaccard verify —
    * but the history side is two parquet scans instead of a
    * recomputation. Banding params come FROM the index (probing with
    * different banding would silently miss every candidate). */
  def probeMinHashIndex(
      spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val Array(numPerms, bandSize, cap) =
      Fs.readText(Fs.of(path),
        new org.apache.hadoop.fs.Path(s"$path/PARAMS")).trim.split(':')
    val maxBucket = if (cap.toInt < 0) None else Some(cap.toInt)
    val hb = spark.read.parquet(s"$path/bands")
    val ht = spark.read.parquet(s"$path/tokens")
    val bb = bandSignatures(batch, idCol, textCol,
      numPerms.toInt, bandSize.toInt, maxBucket)
    val candidates = hb.as("l").join(bb.as("r"),
        col("l.band") === col("r.band") && col("l.band_sig") === col("r.band_sig"))
      .select(col("l.id").as("hist_id"), col("r.id").as("new_id"))
      .distinct()
    val bt = tokens(batch, idCol, textCol)
    val hSizes = ht.groupBy(col("id")).agg(count(lit(1)).as("sz_h"))
    val bSizes = bt.groupBy(col("id")).agg(count(lit(1)).as("sz_b"))
    candidates
      .join(ht.withColumnRenamed("id", "hist_id").withColumnRenamed("tok", "tok_c"), "hist_id")
      .join(bt.withColumnRenamed("id", "new_id").withColumnRenamed("tok", "tok_c"), Seq("new_id", "tok_c"))
      .groupBy(col("hist_id"), col("new_id"))
      .agg(count(lit(1)).as("inter"))
      .join(hSizes.withColumnRenamed("id", "hist_id"), "hist_id")
      .join(bSizes.withColumnRenamed("id", "new_id"), "new_id")
      .withColumn("jac",
        col("inter").cast(DoubleType) /
          (col("sz_h") + col("sz_b") - col("inter")).cast(DoubleType))
      .filter(col("jac") > threshold)
      .select(col("hist_id"), col("new_id"), col("jac"))
  }

  /** EXACT-SUBSTRING dedup (the ExactSubstr method of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * remove every token span covered by an `n`-token window that
    * occurs MORE THAN ONCE in the corpus — catching the verbatim
    * boilerplate/quotation duplication that document-level near-dup
    * (MinHash/SimHash) cannot, because the containing documents are
    * otherwise different.
    *
    * The reference method builds a suffix array over the concatenated
    * corpus on one machine; the distributed re-expression uses that
    * duplicated spans of length ≥ n are exactly UNIONS of duplicated
    * n-grams: (1) one projection explodes each doc's n-gram start
    * positions keyed by the 60-bit content hash, (2) one
    * partial-aggregated shuffle finds hashes with global occurrence
    * count > 1, (3) those occurrences mark their n covered token
    * indexes, (4) surviving tokens reassemble in order (fully-covered
    * docs come back as empty text, their removal decision intact).
    * Cost: corpus-token-sized explode + two shuffles (gram count,
    * cover distinct) + the reassembly groupBy — every stage
    * partial-aggregates or joins on a hash key, nothing is pairwise.
    * The token array is materialized ONCE before the n-gram lambda
    * slices it (the HOF re-evaluation rule, PLANS.md round-3).
    *
    * @return (id, dedup_text, n_kept, n_toks) */
  def removeDuplicateSpans(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"span window must be at least 2 tokens, got $n")
    // gram hashing is the heavy fused kernel here; a single-split
    // corpus must not serialize it on one core ([[Spread.toCores]]).
    // Spread the RAW text and tokenize above the exchange: a fired
    // spread then ships the text's own bytes, not per-token arrays
    // with their element offsets, and the split runs on all cores too
    val toks = Spread.toCores(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
    val grams = toks
      .filter(size(col("__toks")) >= n)
      .select(col(idCol), explode(expr(
        s"""transform(sequence(0, size(__toks) - $n),
           |  p -> struct(p AS pos, array_join(slice(__toks, p + 1, $n), ' ') AS g))"""
          .stripMargin)).as("occ"))
      .select(col(idCol), col("occ.pos").as("pos"), hash60(col("occ.g")).as("h"))
    val dupH = grams.groupBy("h").count().filter(col("count") > 1).select("h")
    // Covered indexes aggregate into ONE per-doc set (collect_set
    // dedups like the old `.distinct()`), and the rebuild is a pure
    // array computation over the doc's own token array: kept indexes =
    // array_except(all indexes, covered) — hash-set based, ascending
    // order preserved (exactly the old array_sort(collect_list) order,
    // idx is unique per doc) — each mapped back to its token. This
    // removes the old corpus-TOKEN-scale path entirely: the posexplode
    // of every token, the (id, idx)-keyed distinct + anti-join
    // exchanges, the collect_list(struct) re-assembly shuffle, and the
    // extra full docs scan for n_toks (guide §2.3/§2.4: 9 Exchanges /
    // 4 corpus scans → 7 / 3, counted as plan nodes on both sides of
    // plans/r16/q_substr_dedup_before|after).
    val covSets = grams.join(dupH, Seq("h"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("idx"))
      .groupBy(col(idCol))
      .agg(collect_set(col("idx")).as("__cov"))
    // NULL text keeps nothing under either ANSI setting: with ANSI off
    // size(NULL) is -1, and sequence(0, -2) would "keep" three indexes
    val noIdx = array().cast("array<int>")
    val keptIdx = when(col("__toks").isNotNull, array_except(
      sequence(lit(0), size(col("__toks")) - 1),
      coalesce(col("__cov"), noIdx))).otherwise(noIdx)
    toks.join(covSets, Seq(idCol), "left")
      .select(col(idCol), keptIdx.as("__kept"), col("__toks"))
      .select(col(idCol),
        array_join(transform(col("__kept"),
          i => element_at(col("__toks"), i + 1)), " ").as("dedup_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        size(col("__toks")).as("n_toks"))
  }
}
