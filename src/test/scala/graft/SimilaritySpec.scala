package graft

import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Similarity

/** IVF cell assignment: scan-side argmax semantics and — the 100 TB
  * property — no Exchange of the corpus to pick each row's nearest
  * centroid. */
class SimilaritySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = GraftSession.local(4)

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("nearestCell assigns by max cosine with smallest-cid tie-break") {
    import spark.implicits._
    val centroids = Seq(
      (0L, vec(1, 0, 0, 0)),
      (1L, vec(0, 1, 0, 0)),
      (2L, vec(0, 0, 1, 0))).toDF("cid", "embedding")
    val corpus = Seq(
      (10L, vec(0.9, 0.1, 0, 0)),  // -> cell 0
      (11L, vec(0.1, 0.9, 0, 0)),  // -> cell 1
      (12L, vec(0, 0.2, 0.9, 0)),  // -> cell 2
      (13L, vec(0, 1, 1, 0))       // tie cos(c1)=cos(c2) -> smallest cid 1
    ).toDF("id", "embedding")
    val cells = Similarity.nearestCell(corpus, centroids)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells == Map(10L -> 0L, 11L -> 1L, 12L -> 2L, 13L -> 1L))
  }

  test("nearestCell plan has no Exchange — assignment happens in the scan projection") {
    import spark.implicits._
    val centroids = Seq((0L, vec(1, 0)), (1L, vec(0, 1))).toDF("cid", "embedding")
    val corpus = Seq((10L, vec(1, 0)), (11L, vec(0, 1))).toDF("id", "embedding")
    val plan = Similarity.nearestCell(corpus, centroids)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")

    // the encode compiles: no lambda fold and no codegen fallback in the
    // projections of nearestCell, pqEncode and AnnIndex.write's encode,
    // and each kernel runs inside a whole-stage codegen stage (over a
    // scanned corpus: a local one is projected while optimizing)
    val scanned = spark.range(10, 14).select($"id",
      array($"id".cast("float"), lit(1f), ($"id" % 3).cast("float")).as("embedding"))
    val cents3 = Seq((0L, vec(1, 0, 0)), (1L, vec(0, 1, 1))).toDF("cid", "embedding")
    val cb = Similarity.pqCodebook(scanned, "id", "embedding", numSub = 3, codes = 2)
    assertCompiled(Seq(Similarity.nearestCell(scanned, cents3)
      .queryExecution.executedPlan), kernels = 1)
    assertCompiled(Seq(Similarity.pqEncode(scanned, "embedding", cb)
      .queryExecution.executedPlan), kernels = 1)
    val dir = java.nio.file.Files.createTempDirectory("ann_compiled").toString
    assertCompiled(executedPlans(graft.ops.AnnIndex.write(scanned, cents3, cb, s"$dir/idx")),
      kernels = 2)
  }

  /** The physical plans of the actions `f` runs: a listener, and a
    * marker action that drains the listener bus. */
  private def executedPlans(f: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[Option[SparkPlan]]()
    val marker = "graft.spec.compiledMarker"
    val l = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        seen.put(if (qe.logical.toString.contains(marker)) None else Some(qe.executedPlan))
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      f
      spark.range(1).select(lit(marker)).collect()
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(p => p != null && p.isDefined).map(_.get).toList
    } finally spark.listenerManager.unregister(l)
  }

  /** No projection of `plans` holds a higher-order function or a
    * `CodegenFallback` expression, and at least `kernels` ANN encode
    * kernels sit in projections inside whole-stage codegen stages. */
  private def assertCompiled(plans: Seq[SparkPlan], kernels: Int): Unit = {
    val projects = plans.flatMap(collectWithSubqueries(_) { case p: ProjectExec => p })
    val interpreted = projects.flatMap(_.projectList.flatMap(_.collect {
      case e: HigherOrderFunction => e
      case e: CodegenFallback => e
    }))
    assert(interpreted.isEmpty, s"interpreted expressions in the encode: $interpreted")
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case o => o +: o.children.flatMap(stage)
    }
    val compiled = plans.flatMap(collectWithSubqueries(_) { case w: WholeStageCodegenExec => w })
      .flatMap(w => stage(w.child)).collect { case p: ProjectExec => p }
      .flatMap(_.projectList.flatMap(_.collect {
        case k: graft.functions.NearestCentroid => k
        case k: graft.functions.PqArgmin => k
      }))
    assert(compiled.size >= kernels, s"kernels outside whole-stage codegen in:\n${plans.mkString("\n")}")
  }

  test("nearestCell refuses a corpus-sized centroid frame instead of OOMing the driver") {
    import spark.implicits._
    val corpus = Seq((10L, vec(1, 0))).toDF("id", "embedding")
    val huge = spark.range(Similarity.MaxCollectedCentroids + 1L)
      .select($"id".as("cid"), array(lit(1f), lit(0f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.nearestCell(corpus, huge)
    }
    assert(e.getMessage.contains("coarse"))
  }

  test("ivfTopK salted cell join: identical results, salt in the shuffle join keys") {
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run(salt: Int) = Similarity.ivfTopK(
      e.filter($"vec_id" >= 10 && $"vec_id" < 20).select($"vec_id".as("qid"), $"embedding"),
      e.select($"vec_id".as("id"), $"embedding"),
      e.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"embedding"),
      k = 3, probes = 2, saltBuckets = salt)
    // bit-identical output with and without salting
    assert(run(8).orderBy("qid", "rank").collect().toSeq ==
           run(1).orderBy("qid", "rank").collect().toSeq)
    // with broadcast off (the at-scale shape: query side too big to
    // broadcast), the corpus shuffle join must key on (cell, salt) — a
    // hot cell spreads over saltBuckets reducers instead of one
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = run(8).queryExecution.executedPlan.toString
      val joinLine = plan.linesIterator.find(l =>
        l.contains("Join") && l.contains("cell")).getOrElse(plan)
      assert(joinLine.contains("salt"), s"salt missing from join keys:\n$joinLine")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("ivfTopK matches the windowed brute-force assignment on the fixture table") {
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.ivfTopK(
        e.filter($"vec_id" >= 10 && $"vec_id" < 20).select($"vec_id".as("qid"), $"embedding"),
        e.select($"vec_id".as("id"), $"embedding"),
        e.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"embedding"),
        k = 3, probes = 2)
    // reference formulation: windowed row_number over the crossJoin
    val ct = e.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"embedding".as("ct_emb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"id")
      .orderBy(Similarity.cosine($"embedding", $"ct_emb").desc, $"cid".asc)
    val refCells = e.select($"vec_id".as("id"), $"embedding")
      .crossJoin(broadcast(ct))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"id", $"cid".as("cell"))
    val newCells = Similarity.nearestCell(
      e.select($"vec_id".as("id"), $"embedding"),
      e.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"embedding"))
      .select($"id", $"cell")
    assert(newCells.except(refCells).isEmpty && refCells.except(newCells).isEmpty)
    assert(got.count() > 0)
  }

  test("pqEncode: seeds round-trip to their own codes; argmin ties take smallest code") {
    import spark.implicits._
    val corpus = Seq(
      (0L, vec(1, 0, 0, 1)),     // seed -> code 0 in both subspaces
      (1L, vec(0, 1, 1, 0)),     // seed -> code 1 in both subspaces
      (10L, vec(0.9, 0.1, 1, 0)), // sub0 near seed0, sub1 near seed1
      (11L, vec(0.5, 0.5, 0.5, 0.5)) // equidistant in both -> codes (0, 0)
    ).toDF("id", "embedding")
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 2, codes = 2)
    assert(cb.length == 2 && cb(0).length == 2 && cb(0)(0).length == 2)
    val enc = Similarity.pqEncode(corpus, "embedding", cb)
      .select($"id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc(0L) == Seq(0, 0))
    assert(enc(1L) == Seq(1, 1))
    assert(enc(10L) == Seq(0, 1))
    assert(enc(11L) == Seq(0, 0))
  }

  test("pqTopK: exact self-match ranks first; corpus scans codes, no corpus Exchange before top-k") {
    import spark.implicits._
    val corpus = Seq(
      (0L, vec(1, 0, 0, 1)),
      (1L, vec(0, 1, 1, 0)),
      (10L, vec(0.95, 0.05, 0.05, 0.95)),
      (11L, vec(0.05, 0.95, 0.95, 0.05))
    ).toDF("id", "embedding")
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 2, codes = 2)
    val queries = Seq((100L, vec(1, 0, 0, 1))).toDF("qid", "embedding")
    val out = Similarity.pqTopK(queries, corpus, cb, k = 4)
      .orderBy($"rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    // ADC dist to the query's own codes is 0 for ids 0 and 10 (same
    // codes); id asc breaks the tie
    assert(out.take(2).toSeq == Seq((0L, 1), (10L, 2)))
    assert(out.length == 4)
    // scale shape: the only Exchange is the per-query top-k window;
    // encoding and ADC scoring ride the scan (broadcast NL join)
    val plan = Similarity.pqTopK(queries, corpus, cb, k = 4)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 2,
      s"expected at most the top-k window Exchange(s), got:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "queries should broadcast against the encoded corpus scan")
  }

  test("a -1 PQ code reaching the ADC probe raises INVALID_INDEX_OF_ZERO") {
    import spark.implicits._
    val clean = Seq(
      (0L, vec(1, 0, 0, 1)),
      (1L, vec(0, 1, 1, 0)),
      (10L, vec(0.95, 0.05, 0.05, 0.95)),
      (11L, vec(0.05, 0.95, 0.95, 0.05))
    ).toDF("id", "embedding")
    // a NaN in subspace 0 only: code -1 there, a real code in subspace 1
    val corpus = clean.union(Seq((20L, vec(Double.NaN, 0, 0, 1))).toDF("id", "embedding"))
    val cb = Similarity.pqCodebook(clean, "id", "embedding", numSub = 2, codes = 2)
    assert(Similarity.pqEncode(corpus, "embedding", cb).filter($"id" === 20L)
      .select($"codes").head().getSeq[Int](0) == Seq(-1, 0))
    val centroids = clean.filter($"id" < 2).select($"id".as("cid"), $"embedding")
    // every cosine of the row is NaN, and NaN orders above any double:
    // the first centroid by cid wins, so the row lands in cell 0
    assert(Similarity.nearestCell(corpus, centroids).filter($"id" === 20L)
      .select($"cell").head().getLong(0) == 0L)
    def probe(q: Array[Float], probes: Int) = Similarity.ivfPqTopK(
      Seq((100L, q)).toDF("qid", "embedding"), corpus, centroids, cb, k = 5, probes = probes)
    // adcDistance reads element_at(codebook, -1 + 1): Spark's index-zero error
    for (df <- Seq(probe(vec(1, 0, 0, 1), 1), probe(vec(0, 1, 1, 0), 2),
        Similarity.pqTopK(Seq((100L, vec(1, 0, 0, 1))).toDF("qid", "embedding"), corpus, cb, k = 5))) {
      val err = intercept[org.apache.spark.SparkThrowable](df.collect())
      assert(err.getCondition == "INVALID_INDEX_OF_ZERO", err.getCondition)
    }
    // a probe that skips cell 0 never scores the row
    assert(probe(vec(0, 1, 1, 0), 1).collect().map(_.getLong(1)).toSet == Set(1L, 11L))
  }

  test("ivfPqTopK equals full-PQ ranking restricted to the probed cells; salt is inert") {
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = e.select($"vec_id".as("id"), $"embedding")
    val centroids = e.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"embedding")
    val queries = e.filter($"vec_id" >= 10 && $"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding")
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    def run(salt: Int) =
      Similarity.ivfPqTopK(queries, corpus, centroids, cb, k = 3, probes = 2,
        saltBuckets = salt)
    val got = run(8).orderBy("qid", "rank").collect().toSeq
    assert(got == run(1).orderBy("qid", "rank").collect().toSeq)

    // reference: PQ/ADC rank over only the candidates the probed cells
    // admit, built from the independently-tested pieces
    val cells = Similarity.nearestCell(corpus, centroids).select($"id", $"cell")
    val enc = Similarity.pqEncode(corpus, "embedding", cb).select($"id", $"codes")
    val ct = centroids.select($"cid", $"embedding".as("ct_emb"))
    val wq = org.apache.spark.sql.expressions.Window.partitionBy($"qid")
      .orderBy(Similarity.cosine($"q_emb", $"ct_emb").desc, $"cid".asc)
    val qCells = queries.withColumnRenamed("embedding", "q_emb")
      .crossJoin(broadcast(ct))
      .withColumn("rn", row_number().over(wq)).filter($"rn" <= 2)
      .select($"qid", $"q_emb", $"cid".as("cell"))
    val wr = org.apache.spark.sql.expressions.Window.partitionBy($"qid")
      .orderBy($"adc".asc, $"id".asc)
    val ref = qCells.join(cells, Seq("cell")).join(enc, Seq("id"))
      .filter($"qid" =!= $"id")
      .select($"qid", $"id",
        Similarity.adcDistance($"q_emb", $"codes", cb).as("adc"))
      .distinct()
      .withColumn("rank", row_number().over(wr)).filter($"rank" <= 3)
      .select($"qid", $"id", $"rank")
      .orderBy("qid", "rank").collect().toSeq
    assert(got == ref)
  }

  test("filtered probe with a SELECTIVE predicate: k fills from the filtered corpus") {
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = e.select($"vec_id".as("id"), $"embedding")
    val centroids = e.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"embedding")
    val queries = e.filter($"vec_id" >= 10 && $"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding")
    val cb = Similarity.pqCodebook(corpus, "id", "embedding", numSub = 8, codes = 8)
    val dir = java.nio.file.Files.createTempDirectory("sim_filtered").toString
    graft.ops.AnnIndex.write(corpus, centroids, cb, dir)
    // ~10% survive the metadata predicate — selective enough that an
    // unfiltered top-3 post-filtered keeps almost nothing
    val keep = corpus.filter($"id" % 10 === 0).select($"id")
    val got = graft.ops.AnnIndex.topK(queries,
        graft.ops.AnnIndex.read(spark, dir), k = 3, probes = 2,
        keepIds = Some(keep))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // every result satisfies the predicate, and k fills wherever the
    // probed cells hold >= 3 allow-listed candidates — the inline fit
    // over the pre-filtered corpus is the exact expectation
    val want = Similarity.ivfPqTopK(queries,
        corpus.filter($"id" % 10 === 0), centroids, cb, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == want && got.nonEmpty)
    assert(got.forall(_._2 % 10 == 0))
    // post-filtering the unfiltered ranking under-fills k — the failure
    // mode the pushed predicate closes
    val post = graft.ops.AnnIndex.topK(queries,
        graft.ops.AnnIndex.read(spark, dir), k = 3, probes = 2)
      .filter($"id" % 10 === 0).count()
    assert(post < got.size,
      s"precondition: post-filter must under-fill (post=$post, pushed=${got.size})")
  }

  test("semanticDedup: within-cell pairs merge transitively; min id is the representative") {
    import spark.implicits._
    val t = 0.1
    val corpus = Seq(
      // cell 0: a 3-chain — 1~2 (cos .995) and 2~3 (cos .995) clear the
      // 0.99 threshold, 1~3 (cos .980) does NOT; the component must
      // still merge all three via transitivity
      (1L, vec(1.0, 0.0)),
      (2L, vec(math.cos(t), math.sin(t))),
      (3L, vec(math.cos(2 * t), math.sin(2 * t))),
      // cell 1: one tight pair and one loner
      (4L, vec(0.0, 1.0)),
      (5L, vec(0.01, 1.0)),
      (6L, vec(0.7, 0.72))).toDF("id", "embedding")
    val cents = Seq((0L, vec(1.0, 0.0)), (1L, vec(0.0, 1.0))).toDF("cid", "embedding")
    val out = Similarity.semanticDedup(corpus, cents, thresholdQ = 9900L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 4L, false), (6L, 6L, true)))
  }

  test("semanticDedup with no above-threshold pair keeps every vector") {
    import spark.implicits._
    val corpus = Seq(
      (1L, vec(1.0, 0.0)), (2L, vec(0.8, 0.6)), (3L, vec(0.0, 1.0)))
      .toDF("id", "embedding")
    val cents = Seq((0L, vec(1.0, 0.0)), (1L, vec(0.0, 1.0))).toDF("cid", "embedding")
    // max within-cell cosine is 0.8 — nothing clears 0.99
    val out = Similarity.semanticDedup(corpus, cents, thresholdQ = 9900L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, true), (2L, 2L, true), (3L, 3L, true)))
  }

  // one spread-out vector per index; components avoid the .x5 rounding
  // boundary so a 1e-4 perturbation never changes round(x, 1)
  private def spreadVec(i: Int): Array[Float] =
    vec(0.1 * (i % 7) + 0.03, 0.1 * (i % 11) + 0.03, 0.1 * (i % 13) + 0.03, 1.0)

  test("semanticGroups re-splits a hot cell: candidate volume bounded, not quadratic") {
    import spark.implicits._
    val n = 240; val maxCell = 40
    val corpus = (0 until n).map(i => (i.toLong, spreadVec(i))).toDF("id", "embedding")
    val cents = Seq((0L, vec(0, 0, 0, 1))).toDF("cid", "embedding") // ONE cell: all 240 land in it
    val sizes = Similarity.semanticGroups(corpus, cents, maxCell)
      .groupBy("grp").count().collect().map(_.getLong(1))
    assert(sizes.sum == n)
    assert(sizes.length >= 2, "hot cell was not split")
    assert(sizes.max <= 4L * maxCell, s"subcell of ${sizes.max} exceeds the bound")
    val candidates = sizes.map(s => s * (s - 1) / 2).sum
    val allPairs = n.toLong * (n - 1) / 2
    assert(candidates < allPairs / 2,
      s"split saved too little: $candidates of $allPairs pairs")
  }

  test("semanticDedup under re-split still collapses quantization-local near-dup pairs") {
    import spark.implicits._
    // 120 near-dup PAIRS (2i, 2i+1): the 1e-4 perturbation keeps the
    // quantized embedding identical, so re-splitting must co-locate them
    val n = 120
    val corpus = (0 until n).flatMap { i =>
      val b = spreadVec(i)
      Seq((2L * i, b), (2L * i + 1, b.map(x => (x + 1e-4).toFloat)))
    }.toDF("id", "embedding")
    val cents = Seq((0L, vec(0, 0, 0, 1))).toDF("cid", "embedding")
    val out = Similarity.semanticDedup(corpus, cents, thresholdQ = 9990L, maxCell = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until n).foreach { i =>
      assert(out(2L * i) == out(2L * i + 1),
        s"near-dup pair ($i) was severed by the re-split")
    }
  }

  test("semanticDedup throws on a flood of quantization-identical vectors") {
    import spark.implicits._
    val corpus = (0 until 500).map(i => (i.toLong, vec(0.5, 0.5, 0.5, 1.0)))
      .toDF("id", "embedding")
    val cents = Seq((0L, vec(0, 0, 0, 1))).toDF("cid", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(corpus, cents, thresholdQ = 9990L, maxCell = 100)
    }
    assert(e.getMessage.contains("quantization-identical"))
  }

  test("randomProject: pure scan projection, deterministic, distance-preserving") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 200; val inDims = 64; val outDims = 16
    val data = (0 until n).map(i =>
      (i.toLong, Array.fill(inDims)(rnd.nextGaussian().toFloat)))
    val df = data.toDF("id", "embedding")
    val out = Similarity.randomProject(df, "embedding", outDims, inDims, seed = 42L)
    // plan: matrix folds into the scan projection — no Exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    // deterministic: same seed twice -> identical projections
    val p1 = out.select("id", "proj").collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1)).toMap
    val p2 = Similarity.randomProject(df, "embedding", outDims, inDims, seed = 42L)
      .select("id", "proj").collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(p1 == p2)
    assert(p1.values.forall(_.length == outDims))
    // JL property (Achlioptas 2003): E[||Rx||^2] = k * ||x||^2 for ±1
    // entries. Check the distance ratio distribution over sample pairs:
    // median within a loose (1 ± 0.5) band after the 1/k normalization.
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val orig = data.map { case (id, e) => id -> e.map(_.toDouble).toSeq }.toMap
    val ratios = (0 until 100).map { i =>
      val (a, b) = (i.toLong, (i + 100).toLong)
      d2(p1(a), p1(b)) / outDims / d2(orig(a), orig(b))
    }.sorted
    val median = ratios(ratios.length / 2)
    assert(median > 0.5 && median < 1.5,
      s"JL median distance ratio $median outside (0.5, 1.5)")
  }

  test("semanticDedup cap leaves the gate-scale result untouched (no oversize cell)") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = e.select($"vec_id".as("id"), $"embedding")
    val cents = e.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"embedding")
    def run(cap: Int) = Similarity.semanticDedup(corpus, cents, 3500L, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(run(1 << 14) == run(Int.MaxValue))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("cosineNearDupPairs targetBucket: at-or-under-target corpora are bit-identical to fixed resolution") {
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".as("id"), $"embedding")
    // 500 vectors, target 512 -> n <= t -> plane count stays at the floor
    val fixed = pairSet(Similarity.cosineNearDupPairs(corpus, 3000L, 4))
    val adaptive = pairSet(Similarity.cosineNearDupPairs(corpus, 3000L, 4, Some(512L)))
    assert(adaptive == fixed)
    assert(fixed.nonEmpty, "fixture should produce near-dup pairs")
  }

  test("cosineNearDupPairs targetBucket: grown resolution is the fixed output refined by the extra prefix planes") {
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".as("id"), $"embedding")
    // 500 vectors, target 16 -> p = max(4, ceil(log2(500/16))) = 5
    val fixed = Similarity.cosineNearDupPairs(corpus, 3000L, 4)
    val adaptive = pairSet(Similarity.cosineNearDupPairs(corpus, 3000L, 4, Some(16L)))
    // hyperplane(p, d) extends by prefix, so the 5-plane bucket equals the
    // 4-plane bucket plus one more sign bit: the adaptive output must be
    // EXACTLY the fixed pairs whose two vectors also agree on plane 4
    val b5 = corpus.select($"id", Similarity.lshBucket($"embedding",
      Similarity.hyperplane(5, 64)).as("b5"))
    val expected = pairSet(fixed
      .join(b5.select($"id".as("i"), $"b5".as("bi")), "i")
      .join(b5.select($"id".as("j"), $"b5".as("bj")), "j")
      .filter($"bi" === $"bj")
      .select($"i", $"j", $"cos_q"))
    assert(adaptive == expected)
    assert(adaptive.subsetOf(pairSet(fixed)), "refinement must never add pairs")
    assert(adaptive.size < pairSet(fixed).size,
      "5-plane refinement should split at least one 4-plane bucket on this fixture")
  }

  test("cosineNearDupPairsBanded: keeps exactly the any-band collisions that clear the threshold") {
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".as("id"), $"embedding")
    val banded = pairSet(Similarity.cosineNearDupPairsBanded(
      corpus, 3000L, planesPerBand = 5, bands = 3))
    // brute-force replay: all i<j pairs, any of the three 5-plane
    // band buckets equal, quantized cosine over the threshold
    val all = Similarity.hyperplane(15, 64)
    val withB = corpus
      .withColumn("b0", Similarity.lshBucket($"embedding", all.slice(0, 5)))
      .withColumn("b1", Similarity.lshBucket($"embedding", all.slice(5, 10)))
      .withColumn("b2", Similarity.lshBucket($"embedding", all.slice(10, 15)))
      .withColumn("nrm", Similarity.norm($"embedding"))
    val l = withB.select($"id".as("i"), $"embedding".as("e_i"), $"nrm".as("n_i"),
      $"b0".as("l0"), $"b1".as("l1"), $"b2".as("l2"))
    val r = withB.select($"id".as("j"), $"embedding".as("e_j"), $"nrm".as("n_j"),
      $"b0".as("r0"), $"b1".as("r1"), $"b2".as("r2"))
    val brute = pairSet(l.crossJoin(r).filter($"i" < $"j")
      .filter($"l0" === $"r0" || $"l1" === $"r1" || $"l2" === $"r2")
      .withColumn("cos_q", floor(
        Similarity.dot($"e_i", $"e_j") / ($"n_i" * $"n_j") * 1e4).cast("long"))
      .filter($"cos_q" >= 3000L)
      .select($"i", $"j", $"cos_q"))
    assert(banded == brute)
    // the OR-construction's reason to exist: more true pairs survive
    // than the single 4-plane band finds on the same fixture
    val single = pairSet(Similarity.cosineNearDupPairs(corpus, 3000L, 4))
    assert(banded.size > single.size,
      s"banded ${banded.size} should out-recall single-band ${single.size}")
  }
}
