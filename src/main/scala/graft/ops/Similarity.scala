package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.AnnEncode

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the exactness baseline: broadcast the
  * (small) query set against the corpus scan — one pass, no corpus
  * shuffle except the per-query top-k reduction. The LSH variant buckets
  * the corpus by random-hyperplane sign bits so each query only probes
  * its own bucket — the 100 TB scale path (candidates shrink by ~2^bits).
  *
  * Dot products are [[graft.functions.FloatVectorDot]]: sequential
  * double accumulation compiled into whole-stage codegen, no UDF. The
  * ANN encode ([[nearestCell]], [[pqEncode]]) is two compiled kernels of
  * the same arithmetic over the collected centroids and the codebook
  * ([[graft.functions.AnnEncode]]).
  */
object Similarity {

  /** Sequential-fold dot product, double accumulation — higher-order
    * function form (works for any numeric array, incl. double-literal
    * hyperplanes). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0),
      (acc, v) => acc + v)

  /** Dot product of two `array<float>` columns via the native codegen'd
    * [[graft.functions.FloatVectorDot]] expression — same accumulation
    * order as [[dotHof]] (bit-identical results), but stays inside
    * whole-stage codegen instead of allocating lambda closures per row. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorDot.floatVectorDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector.
    *
    * @param queries (qid, embedding) — small enough to broadcast
    * @param corpus  (id, embedding)
    * @return (qid, id, rank) — rank 1..k by cosine desc, id asc;
    *         self-matches excluded when ids coincide
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("qid"), col("embedding").as("q_emb"))
    val c = corpus.select(col("id"), col("embedding").as("c_emb"))
    val scored = c.join(broadcast(q), col("qid") =!= col("id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dimension d ->
    * coefficient in [-1, 1), derived from a splitmix-style integer mix
    * so any engine can reproduce them. */
  def hyperplane(numPlanes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dims) { (p, d) =>
      val z = mix64(p.toLong * 1000003L + d.toLong)
      // map to [-1, 1)
      (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
    }

  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Sign-bit LSH bucket id for an embedding column: bit p is set iff
    * dot(embedding, plane_p) >= 0. The float×double dot runs through the
    * codegen'd [[graft.functions.FloatVectorDot]] (per-element widening
    * to double, sequential accumulation — bit-identical to the HOF
    * form but inside whole-stage codegen). */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(lit): _*)
      when(dot(emb, planeCol) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs (the dedup variant): corpus
    * vectors are bucketed by sign-bit LSH and only same-bucket pairs
    * are scored — candidates shrink ~2^numPlanes vs all-pairs, which is
    * what makes this runnable over a 100 TB corpus. Returns (i, j,
    * cos_q) with i < j and cos_q = floor(cosine * 1e4) >= the quantized
    * threshold (quantized so results reproduce across engines).
    *
    * A FIXED plane count is quadratic at scale: pair volume is
    * ~n²/2^numPlanes, so growing the corpus 100× grows the within-bucket
    * join 10,000×/2^p — the one super-linear curve the r12 100× tier
    * exposed (0.67 s → 289 s). `targetBucket` is the production knob:
    * when set, the plane count grows with the corpus so that expected
    * bucket occupancy stays ~`targetBucket` (p = max(numPlanes,
    * ceil(log2(n / target)))), making candidate volume ~n·target —
    * linear in corpus size. Because [[hyperplane]] extends the plane
    * set by PREFIX (plane p's coefficients do not depend on the total
    * count), agreeing on p > numPlanes planes implies agreeing on the
    * first numPlanes, so the adaptive output is always a SUBSET of the
    * fixed-resolution output — monotone refinement, never new pairs.
    * Corpora at or under target·2^numPlanes resolve to exactly
    * `numPlanes` planes, so small-corpus results (and the sf0.01/sf0.1
    * oracle contract) are bit-identical to the fixed form. Recall for
    * true near-dups decays geometrically with p (a cos≈0.95 pair agrees
    * per plane with prob ≈ 1 − θ/π ≈ 0.90) — single-band sign-LSH is
    * recall-lossy by definition; when recall matters more than cost,
    * OR over several independent plane bands (the
    * [[graft.ops.Dedup.minHashLshPairs]] shape) at proportional cost. */
  def cosineNearDupPairs(corpus: DataFrame, thresholdQ: Long, numPlanes: Int,
      targetBucket: Option[Long] = None): DataFrame = {
    val p = targetBucket match {
      case Some(t) =>
        require(t > 0, s"targetBucket must be positive, got $t")
        // column-pruned count — parquet answers from footer metadata
        val n = corpus.select(col("id")).count()
        val grown =
          if (n <= t) numPlanes
          else math.ceil(math.log(n.toDouble / t.toDouble) / math.log(2.0)).toInt
        // 20 planes = 1M buckets — far past any single-table corpus this
        // runs over; keeps the bucket id comfortably inside a long
        math.min(20, math.max(numPlanes, grown))
      case None => numPlanes
    }
    val planes = hyperplane(p, 64)
    pairsForPlanes(corpus, thresholdQ, planes)
  }

  private def pairsForPlanes(
      corpus: DataFrame, thresholdQ: Long,
      planes: Array[Array[Double]]): DataFrame = {
    // norms computed once per vector, not per pair (1 dot/pair, not 3)
    val b = corpus.select(col("id"), col("embedding"))
      .withColumn("bucket", lshBucket(col("embedding"), planes))
      .withColumn("nrm", norm(col("embedding")))
    val l = b.select(col("id").as("i"), col("embedding").as("e_i"), col("nrm").as("n_i"), col("bucket"))
    val r = b.select(col("id").as("j"), col("embedding").as("e_j"), col("nrm").as("n_j"), col("bucket"))
    l.join(r, Seq("bucket"))
      .filter(col("i") < col("j"))
      .withColumn("cos_q",
        floor(dot(col("e_i"), col("e_j")) / (col("n_i") * col("n_j")) * 1e4).cast("long"))
      .filter(col("cos_q") >= thresholdQ)
      .select(col("i"), col("j"), col("cos_q"))
  }

  /** Banded (OR-construction) embedding near-dup: `bands` independent
    * sign-LSH bands of `planesPerBand` planes each — a pair is a
    * candidate when it collides in ANY band (classic LSH OR, the
    * [[graft.ops.Dedup.minHashLshPairs]] shape), then the exact
    * quantized-cosine filter applies. This is the RECALL-restoring
    * scale path: a pair whose per-plane agreement is r survives a
    * single band with probability r^p but ANY of b bands with
    * 1-(1-r^p)^b (r=0.95^⊥, p=5, b=3: 0.77 vs 0.44 single-band), at
    * b× the candidate volume — linear in corpus size when p tracks
    * occupancy, exactly as in [[cosineNearDupPairs]]'s `targetBucket`
    * (same growth formula, applied per band). Bands slice DISJOINT
    * row ranges of one deterministic [[hyperplane]] matrix, so any
    * engine replays the exact candidate set.
    *
    * Dedup WITHOUT a distinct: a pair colliding in several bands is
    * emitted only at its FIRST colliding band (band k's join requires
    * every earlier band's buckets to DIFFER), so candidate pairs
    * stream straight through the cosine filter exactly as in the
    * single-band form — never shuffled, never materialized. The naive
    * union+distinct alternative exchanges the whole candidate set
    * (~n·target·bands rows, tens of GB of spill at the 100x tier on
    * skewed buckets); this shape's only exchanges are of the corpus
    * itself, once per band. */
  def cosineNearDupPairsBanded(
      corpus: DataFrame, thresholdQ: Long, planesPerBand: Int, bands: Int,
      targetBucket: Option[Long] = None): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(planesPerBand >= 1, s"planesPerBand must be >= 1, got $planesPerBand")
    val p = targetBucket match {
      case Some(t) =>
        require(t > 0, s"targetBucket must be positive, got $t")
        val n = corpus.select(col("id")).count()
        val grown =
          if (n <= t) planesPerBand
          else math.ceil(math.log(n.toDouble / t.toDouble) / math.log(2.0)).toInt
        math.min(20, math.max(planesPerBand, grown))
      case None => planesPerBand
    }
    val all = hyperplane(bands * p, 64)
    val b = (0 until bands).foldLeft(
        corpus.select(col("id"), col("embedding"))
          .withColumn("nrm", norm(col("embedding")))) { (df, bi) =>
      df.withColumn(s"b$bi",
        lshBucket(col("embedding"), all.slice(bi * p, (bi + 1) * p)))
    }
    val perBand = (0 until bands).map { k =>
      val l = b.select(Seq(col("id").as("i"), col("embedding").as("e_i"),
        col("nrm").as("n_i")) ++ (0 to k).map(m => col(s"b$m").as(s"l$m")): _*)
      val r = b.select(Seq(col("id").as("j"), col("embedding").as("e_j"),
        col("nrm").as("n_j")) ++ (0 to k).map(m => col(s"b$m").as(s"r$m")): _*)
      val firstCollision = (0 until k)
        .map(m => col(s"l$m") =!= col(s"r$m"))
        .foldLeft(col(s"l$k") === col(s"r$k") && col("i") < col("j"))(_ && _)
      l.join(r, firstCollision)
        .select(col("i"), col("j"), col("e_i"), col("e_j"), col("n_i"), col("n_j"))
    }
    perBand.reduce(_ unionByName _)
      .withColumn("cos_q",
        floor(dot(col("e_i"), col("e_j")) / (col("n_i") * col("n_j")) * 1e4).cast("long"))
      .filter(col("cos_q") >= thresholdQ)
      .select(col("i"), col("j"), col("cos_q"))
  }

  /** Hard cap on driver-collected centroid/"small table" rows. A coarse
    * quantizer is ≤ a few thousand cells; 64 Ki is far above any sane C
    * while still bounding the collect at ~tens of MB — a caller passing a
    * corpus-sized frame gets an actionable error instead of a driver OOM. */
  val MaxCollectedCentroids = 65536

  /** Scan-side nearest-centroid assignment: adds a `cell` column holding
    * the `cid` of the centroid with the highest cosine to `embedding`
    * (ties broken by smallest cid, matching `ORDER BY cos DESC, cid ASC`;
    * NULL for a NULL embedding).
    *
    * The centroid table is collected to the driver (it is broadcast-sized
    * by contract — a coarse quantizer is at most a few thousand vectors,
    * the same data movement a broadcast join would ship) and handed to
    * the compiled [[graft.functions.NearestCentroid]] kernel, so the
    * argmax happens INSIDE the scan projection and its whole-stage
    * codegen: no crossJoin row explosion, no per-id window, and
    * critically no Exchange of the corpus — at 100 TB with C=1024 cells
    * a window formulation shuffles corpus×C rows just to pick each row's
    * nearest centroid.
    *
    * Cosines use [[graft.functions.FloatVectorDot]]'s sequential double
    * accumulation (centroid norms are computed once on the driver by the
    * same fold), so cell assignments are bit-for-bit those of the
    * windowed form. A zero-norm centroid or embedding raises ANSI
    * DIVIDE_BY_ZERO. */
  def nearestCell(df: DataFrame, centroids: DataFrame): DataFrame = {
    // ONE capped job: orderBy+limit plans as TakeOrdered, so at most
    // cap+1 rows ever reach the driver — the same over-sized-frame
    // guard the old separate limit+count probe gave, without paying a
    // second job for it (nearestCell sits on every ANN build/encode
    // path, so the probe job repeated per cycle; guide §1.2: cut
    // driver round-trips before tuning anything else)
    val rows = centroids.select(col("cid"), col("embedding"))
      .orderBy(col("cid")).limit(MaxCollectedCentroids + 1).collect()
    require(rows.length <= MaxCollectedCentroids,
      s"nearestCell collects centroids to the driver for the broadcast argmax; " +
      s"got > $MaxCollectedCentroids rows — that is a corpus, not a coarse " +
      s"quantizer. Pass a k-means/sampled centroid table (C <= a few thousand).")
    require(rows.nonEmpty, "centroids must be non-empty")
    df.withColumn("cell", AnnEncode.nearestCentroid(col("embedding"),
      rows.map(r => CatalystTypeConverters.convertToCatalyst(r.get(0))),
      centroids.schema("cid").dataType,
      rows.map(_.getSeq[Float](1).toArray)))
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their
    * nearest centroid cell (a scan-side argmax over the broadcast
    * centroid array — see [[nearestCell]]); each query probes its
    * `probes` nearest cells and ranks only those cells' members. With C
    * cells and p probes the scored candidates shrink ~p/C vs brute
    * force — the standard coarse-quantizer scale path. Centroids here
    * are caller-provided (e.g. a deterministic corpus sample; in
    * production a k-means fit).
    *
    * @return (qid, id, rank) — rank 1..k by cosine desc, id asc */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, probes: Int, saltBuckets: Int = 8): DataFrame = {
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    // query side keeps the windowed top-n form: queries are small, and
    // probes > 1 needs the n best cells, not just the argmax
    def cells(df: DataFrame, idCol: String, n: Int): DataFrame = {
      val ct = centroids.select(col("cid"), col("embedding").as("ct_emb"))
      val w = Window.partitionBy(col(idCol))
        .orderBy(cosine(col("embedding"), col("ct_emb")).desc, col("cid").asc)
      df.crossJoin(broadcast(ct))
        .withColumn("cell_rn", row_number().over(w))
        .filter(col("cell_rn") <= n)
        .select(col(idCol), col("embedding"), col("cid").as("cell"))
    }
    val corpusCells = nearestCell(corpus.select(col("id"), col("embedding")), centroids)
    val queryCells = cells(queries.select(col("qid"), col("embedding")), "qid", probes)
      .withColumnRenamed("embedding", "q_emb")
    // The raw `cell` join key has at most C distinct values, so when the
    // query side is too big to broadcast the corpus shuffle concentrates a
    // hot cell onto ONE reducer. Salt it: the corpus side scatters each
    // row into one of `saltBuckets` sub-keys (hash(id) — uniform within a
    // cell), the query side replicates each probe row across ALL
    // sub-keys. Every (corpus, query) cell pair still meets exactly once
    // — corpus rows carry one salt, query rows carry all salts — so
    // results are bit-identical; a hot cell now spreads over saltBuckets
    // reducers. Cost: query-side rows ×saltBuckets (queries × probes is
    // the small side by construction). When Spark broadcasts the query
    // side anyway there is no corpus Exchange and the salt is inert.
    val salted = corpusCells
      .withColumn("salt", pmod(hash(col("id")), lit(saltBuckets)))
    val qSalted = queryCells
      .withColumn("salt", explode(array((0 until saltBuckets).map(lit(_)): _*)))
    val scored = salted.join(qSalted, Seq("cell", "salt"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"), cosine(col("q_emb"), col("embedding")).as("cos"))
      .distinct() // a corpus vector reached via two probed cells scores once
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("rank"))
  }

  /** Product-quantization codebook: subspace `mi`'s codes are the
    * `mi`-th `dims/numSub`-dim slices of the `codes` lowest-`idCol`
    * rows (a deterministic stand-in for per-subspace k-means, exactly
    * as [[ivfTopK]]'s gate seeds its coarse quantizer; a production fit
    * composes [[KMeans.fit]] per subspace). Returned as
    * `cb(subspace)(code)(dim)`; code c is the rank of the seed row in
    * `idCol` order. */
  def pqCodebook(src: DataFrame, idCol: String, embCol: String,
      numSub: Int, codes: Int): Array[Array[Array[Float]]] = {
    require(codes <= MaxCollectedCentroids,
      s"pqCodebook collects $codes rows to the driver; cap is $MaxCollectedCentroids")
    val rows = src.orderBy(col(idCol)).limit(codes).select(col(embCol)).collect()
    require(rows.length == codes,
      s"pqCodebook needs $codes seed rows, got ${rows.length}")
    val dims = rows.head.getSeq[Float](0).length
    require(dims % numSub == 0,
      s"dims=$dims must divide evenly into numSub=$numSub subspaces")
    val sub = dims / numSub
    Array.tabulate(numSub) { mi =>
      rows.map(_.getSeq[Float](0).slice(mi * sub, (mi + 1) * sub).toArray)
    }
  }

  /** PQ encode: adds a `codes` array<int> column — per subspace, the
    * code of the nearest codebook entry by squared L2 (smallest code on
    * ties; -1 for a NULL embedding or where every distance is NaN or
    * +Infinity). Like [[nearestCell]], the codebook goes to a compiled
    * kernel ([[graft.functions.PqArgmin]]) in the scan projection: the
    * argmin is scan-side, no join, no shuffle, no UDF. Squared L2 is
    * expanded to `(x·x − 2·x·c) + c·c` with the code norms computed on
    * the driver by [[graft.functions.FloatVectorDot]]'s sequential fold,
    * so an oracle replaying `list_dot_product` arithmetic reproduces
    * the distances bit-for-bit. */
  def pqEncode(df: DataFrame, embCol: String,
      cb: Array[Array[Array[Float]]]): DataFrame =
    df.withColumn("codes", AnnEncode.pqArgmin(col(embCol), cb))

  /** Asymmetric PQ distance: sum over subspaces of the exact squared
    * L2 between the query's subvector and the candidate's reconstructed
    * code vector, as a left-assoc expression chain (oracle-replayable
    * addition order). The codebook rides along as literal arrays.
    *
    * A -1 code (what [[pqEncode]] gives a subspace with a NaN or ±Inf
    * component) is not skipped: `element_at(codebook, -1 + 1)` raises
    * Spark's `INVALID_INDEX_OF_ZERO`, so a probe that scores such a row
    * fails. Such a row's cosines are all NaN, which [[nearestCell]]
    * orders above every double, so it sits in the first centroid's cell
    * and [[ivfPqTopK]] fails exactly when that cell is probed
    * (SimilaritySpec pins both). */
  def adcDistance(qEmb: Column, codes: Column,
      cb: Array[Array[Array[Float]]]): Column = {
    val numSub = cb.length
    val sub = cb(0)(0).length
    (0 until numSub).map { mi =>
      val qsv = slice(qEmb, mi * sub + 1, sub)
      val cbLit = typedLit(cb(mi).map(_.toSeq).toSeq)
      val cv = element_at(cbLit, element_at(codes, mi + 1) + 1)
      (dot(qsv, qsv) - lit(2.0) * dot(qsv, cv)) + dot(cv, cv)
    }.reduce(_ + _)
  }

  /** PQ ANN via asymmetric distance computation (ADC): the corpus is
    * PQ-encoded ONCE and thereafter scanned as `numSub` small ints per
    * vector — at 64-dim float that is a ~32× scan-bandwidth reduction,
    * which is the entire point of PQ at 100 TB: the re-ranking scan
    * reads codes, never raw vectors. Queries stay exact (asymmetric):
    * each candidate's distance is the sum over subspaces of the exact
    * squared L2 between the query's subvector and the candidate's
    * reconstructed code vector. Queries are broadcast; the corpus never
    * shuffles until the per-query top-k reduction. Composes with
    * [[ivfTopK]] (IVF-PQ) by encoding each cell's members.
    *
    * @return (qid, id, rank) — rank 1..k by ADC distance asc, id asc */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
      cb: Array[Array[Array[Float]]], k: Int): DataFrame = {
    val numSub = cb.length
    val sub = cb(0)(0).length
    val enc = pqEncode(corpus.select(col("id"), col("embedding")), "embedding", cb)
      .select(col("id"), col("codes"))
    val q = broadcast(queries.select(col("qid"), col("embedding").as("q_emb")))
    val scored = enc.join(q, col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        adcDistance(col("q_emb"), col("codes"), cb).as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("rank"))
  }

  /** IVF-PQ: the production ANN composition. IVF's coarse quantizer
    * restricts candidates to each query's `probes` nearest cells (the
    * ~p/C candidate cut of [[ivfTopK]], including its salted cell
    * join), and within those cells candidates are ranked by PQ/ADC
    * distance over the encoded corpus — the candidate scan reads codes,
    * not raw vectors. Both the cell assignment and the PQ encode are
    * scan-side kernels over the collected centroids and the codebook, so
    * the corpus sees no Exchange until the candidate join itself.
    *
    * @return (qid, id, rank) — rank 1..k by ADC distance asc, id asc */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      cb: Array[Array[Array[Float]]], k: Int, probes: Int,
      saltBuckets: Int = 8): DataFrame =
    ivfPqTopKEncoded(
      queries,
      pqEncode(
        nearestCell(corpus.select(col("id"), col("embedding")), centroids),
        "embedding", cb)
        .select(col("id"), col("cell"), col("codes")),
      centroids, cb, k, probes, saltBuckets)

  /** [[ivfPqTopK]] from an ALREADY-ENCODED corpus `(id, cell, codes)` —
    * the probe path of a persisted index ([[AnnIndex]]): the production
    * workflow encodes the 100 TB corpus once and serves many query
    * batches from the codes, never touching raw vectors again. The salt
    * is a pure function of `id`, so it is recomputed here rather than
    * persisted. Scoring is the same code path as the inline fit —
    * top-k from a reloaded index is bit-identical by construction
    * (AnnIndexSpec executes that claim). */
  def ivfPqTopKEncoded(
      queries: DataFrame, encoded: DataFrame, centroids: DataFrame,
      cb: Array[Array[Array[Float]]], k: Int, probes: Int,
      saltBuckets: Int = 8): DataFrame = {
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    val enc = encoded
      .select(col("id"), col("cell"), col("codes"),
        pmod(hash(col("id")), lit(saltBuckets)).as("salt"))
    val ct = centroids.select(col("cid"), col("embedding").as("ct_emb"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(cosine(col("q_emb"), col("ct_emb")).desc, col("cid").asc)
    val queryCells = queries.select(col("qid"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(ct))
      .withColumn("cell_rn", row_number().over(w))
      .filter(col("cell_rn") <= probes)
      .select(col("qid"), col("q_emb"), col("cid").as("cell"))
      .withColumn("salt", explode(array((0 until saltBuckets).map(lit(_)): _*)))
    val scored = enc.join(queryCells, Seq("cell", "salt"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        adcDistance(col("q_emb"), col("codes"), cb).as("adc"))
      .distinct() // a corpus vector reached via two probed cells scores once
    val wr = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("rank"))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with a
    * coarse quantizer (scan-side nearest-centroid assignment, see
    * [[nearestCell]]), score cosine similarity only WITHIN each cell,
    * connect pairs at or above the quantized threshold into duplicate
    * components, and elect each component's minimum id as the
    * representative.
    *
    * Output: (id, rep, kept) — one row per corpus vector. `rep` is the
    * component representative (the vector's own id when it has no
    * above-threshold neighbor); `kept = (rep == id)` is the dedup
    * decision a curation pipeline filters on. Cosines are quantized to
    * `floor(cos × 1e4)` before the threshold compare, so the pair set
    * reproduces exactly across engines.
    *
    * Scale shape: clustering-first is the whole point of the SemDeDup
    * recipe — all-pairs cosine is impossible at corpus scale, so
    * k-means the corpus into C cells and go pairwise only within a
    * cell. In production C grows with the corpus (C ≈ n / targetCell),
    * so the within-cell join's key cardinality far exceeds the reducer
    * count and per-cell candidate volume stays bounded — no salting
    * needed, unlike [[ivfTopK]]'s fixed-C probe join. Components come
    * from [[Graph.connectedComponents]] (edge list materialized once,
    * so the pair join does not replay per propagation round); the
    * label attach is one join back on id.
    *
    * Hot-cell bound: a near-duplicate-heavy corpus (the EXPECTED input
    * to a dedup pass) can concentrate one embedding neighborhood into a
    * single cell and make its pair join quadratic. A cheap per-cell
    * count (C rows, one aggregate) probes for this; if every cell is
    * ≤ `maxCell` the exact path runs with an unchanged plan. Oversize
    * cells are RE-SPLIT into `ceil(n/maxCell)` subcells keyed by a hash
    * of the coarsely-quantized embedding (`round(x, 1)` per component),
    * so near-identical vectors — the pairs dedup exists to find — land
    * in the same subcell by construction and only borderline cross-
    * quantum pairs are forfeited (documented approximation, split cells
    * only). A flood of quantization-identical vectors cannot be split
    * by ANY content hash; past `4 × maxCell` in one subcell the
    * operator throws with remediation options rather than run a
    * quadratic join that would never finish at scale. */
  /** The pair-search grouping for [[semanticDedup]]: (id, embedding,
    * nrm, grp) where `grp` is the cell — or, for cells past `maxCell`,
    * a hash-split subcell. Package-visible so the hot-cell bound is
    * directly testable. */
  private[graft] def semanticGroups(
      corpus: DataFrame, centroids: DataFrame, maxCell: Int): DataFrame = {
    require(maxCell > 0, "maxCell must be positive")
    // materialize the cell assignment ONCE: the argmax-over-centroids
    // projection otherwise re-executes for the hot-cell probe AND the
    // pair join's sides (at production C the per-row argmax costs C
    // dot products — re-running it is far dearer than storing
    // (id, embedding, nrm, cell) blocks once; guide §1.2/§5)
    val cells = nearestCell(corpus.select(col("id"), col("embedding")), centroids)
      .withColumn("nrm", norm(col("embedding")))
      .localCheckpoint()
    val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    val hottest = Option(counts.agg(max(col("cell_n"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (hottest <= maxCell) cells.withColumn("grp", col("cell"))
    else {
      val split = cells.join(broadcast(counts), Seq("cell"))
        .withColumn("splits",
          ceil(col("cell_n").cast(DoubleType) / maxCell).cast(LongType))
        .withColumn("sub", when(col("splits") <= 1L, lit(0L))
          .otherwise(pmod(
            xxhash64(transform(col("embedding"), x => round(x.cast(DoubleType), 1))),
            col("splits"))))
        .withColumn("grp", concat_ws("#", col("cell"), col("sub")))
        .drop("cell_n", "splits", "sub")
      val worst = Option(split.groupBy(col("grp")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      require(worst <= 4L * maxCell,
        s"semanticDedup: a re-split cell still holds $worst vectors " +
        s"(> 4×maxCell=${maxCell}) — the cell is a flood of quantization-" +
        "identical embeddings no content hash can separate. Raise maxCell, " +
        "fit more centroids, or exact-dedup identical embeddings upstream.")
      split
    }
  }

  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
      thresholdQ: Long, maxCell: Int = 1 << 14): DataFrame = {
    val keyed = semanticGroups(corpus, centroids, maxCell)
    val l = keyed.select(col("id").as("i"), col("embedding").as("e_i"),
      col("nrm").as("n_i"), col("grp"))
    val r = keyed.select(col("id").as("j"), col("embedding").as("e_j"),
      col("nrm").as("n_j"), col("grp"))
    val pairs = l.join(r, Seq("grp"))
      .filter(col("i") < col("j"))
      .filter(floor(dot(col("e_i"), col("e_j")) / (col("n_i") * col("n_j")) * 1e4)
        .cast(LongType) >= thresholdQ)
      .select(col("i"), col("j"))
    val labels = Graph.connectedComponents(pairs, "i", "j")
    corpus.select(col("id"))
      .join(labels, col("id") === col("node"), "left")
      .select(col("id"),
        coalesce(col("lab"), col("id")).as("rep"),
        (coalesce(col("lab"), col("id")) === col("id")).as("kept"))
  }

  /** Deterministic Rademacher (±1) projection matrix via splitmix64 —
    * the Johnson-Lindenstrauss guarantee holds for ±1 entries (Achlioptas
    * 2003), and integer entries make the projection reproducible across
    * engines bit-for-bit when the input components are integer-valued. */
  def rademacherMatrix(outDims: Int, inDims: Int, seed: Long): Array[Array[Double]] = {
    def splitmix64(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.tabulate(outDims, inDims) { (i, j) =>
      if ((java.lang.Long.bitCount(splitmix64(seed + i.toLong * inDims + j)) & 1) == 0)
        1.0 else -1.0
    }
  }

  /** Johnson-Lindenstrauss random projection: reduce `embCol`
    * (array<numeric>, `inDims` components) to `outDims` dimensions with
    * a seeded Rademacher matrix — the standard pre-ANN step at corpus
    * scale (project 768-dim embeddings to 64 before IVF/PQ and the
    * distance ranking survives within (1±ε)).
    *
    * Plan shape: the matrix rows are literal arrays dotted in the scan
    * projection ([[dotHof]] per output dim, an interpreted
    * `aggregate` fold) — a pure narrow projection with zero Exchange,
    * like [[nearestCell]]'s scan-side argmax, though not compiled as
    * that kernel is. The conventional 1/sqrt(k)
    * scale factor is omitted (it is rank-irrelevant downstream and
    * keeping integer-valued inputs integer-valued keeps sums exact). */
  def randomProject(df: DataFrame, embCol: String,
      outDims: Int, inDims: Int, seed: Long): DataFrame = {
    val mat = rademacherMatrix(outDims, inDims, seed)
    val proj = array((0 until outDims).map { i =>
      dotHof(col(embCol), array(mat(i).map(lit(_)): _*))
    }: _*)
    df.withColumn("proj", proj)
  }

  /** Bucketed ANN: queries only probe corpus vectors in the same LSH
    * bucket. Trades recall for a ~2^numPlanes candidate reduction; the
    * exactness contract is "exact top-k within the shared bucket". */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, numPlanes: Int): DataFrame = {
    val dims = 64
    val planes = hyperplane(numPlanes, dims)
    val q = queries.select(col("qid"), col("embedding").as("q_emb"))
      .withColumn("bucket", lshBucket(col("q_emb"), planes))
    val c = corpus.select(col("id"), col("embedding").as("c_emb"))
      .withColumn("bucket", lshBucket(col("c_emb"), planes))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("rank"))
  }
}
