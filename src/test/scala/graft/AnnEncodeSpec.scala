package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Similarity

/** ScalaCheck parity of the compiled ANN encode kernels
  * (`Similarity.nearestCell`, `Similarity.pqEncode`) with the
  * literal-array `aggregate` folds they replaced, kept here as the
  * reference. Generated cases cover `array<float>` and `array<double>`
  * embeddings, NULL arrays, NaN, ±Infinity and -0.0 components,
  * embeddings shorter or longer than the centroids or codebook,
  * duplicate centroids and codewords, zero norms and `int`/`long` cids.
  * Both sides must give the same rows and the same schema (nullability
  * and `containsNull` included), or the same error condition; each runs
  * compiled (a scan of an RDD) and interpreted (a local relation, which
  * the optimizer folds with `eval`). */
class AnnEncodeSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(2)

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(40)

  // ---- the reference: the folds the kernels replaced ----

  private def refNearestCell(df: DataFrame, centroids: DataFrame): DataFrame = {
    val rows = centroids.select(col("cid"), col("embedding")).orderBy(col("cid")).collect()
    val cidType = centroids.schema("cid").dataType
    val ctArr = array(rows.map { r =>
      val e = r.getSeq[Float](1).toArray
      var acc = 0.0
      e.foreach(f => acc += f.toDouble * f.toDouble)
      struct(
        lit(r.get(0)).cast(cidType).as("cid"),
        array(e.map(lit(_)): _*).as("ct"),
        lit(math.sqrt(acc)).as("nrm"))
    }: _*)
    val nrm = Similarity.norm(col("embedding"))
    val best = aggregate(
      ctArr,
      struct(lit(null).cast(cidType).as("cid"), lit(Double.NegativeInfinity).as("cos")),
      (acc, c) => {
        val cos = Similarity.dot(col("embedding"), c.getField("ct")) / (nrm * c.getField("nrm"))
        when(cos > acc.getField("cos"),
          struct(c.getField("cid").as("cid"), cos.as("cos"))).otherwise(acc)
      })
    df.withColumn("cell", best.getField("cid"))
  }

  private def refPqEncode(df: DataFrame, embCol: String,
      cb: Array[Array[Array[Float]]]): DataFrame = {
    val sub = cb(0)(0).length
    val codeCols = cb.indices.map { mi =>
      val sv = slice(col(embCol), mi * sub + 1, sub)
      val codesArr = array(cb(mi).zipWithIndex.map { case (cv, c) =>
        var n2 = 0.0
        cv.foreach(f => n2 += f.toDouble * f.toDouble)
        struct(lit(c).as("code"), array(cv.map(lit(_)): _*).as("cv"), lit(n2).as("n2"))
      }: _*)
      aggregate(
        codesArr,
        struct(lit(-1).as("code"), lit(Double.PositiveInfinity).as("dist")),
        (acc, cc) => {
          val d = (Similarity.dot(sv, sv) - lit(2.0) * Similarity.dot(sv, cc.getField("cv"))) +
            cc.getField("n2")
          when(d < acc.getField("dist"),
            struct(cc.getField("code").as("code"), d.as("dist"))).otherwise(acc)
        }).getField("code")
    }
    df.withColumn("codes", array(codeCols: _*))
  }

  // ---- generated inputs ----

  private val special = Seq(Float.NaN, 0f, -0f, Float.PositiveInfinity,
    Float.NegativeInfinity, 1f, -1f, 0.5f, Float.MinPositiveValue, Float.MaxValue)
  private val component: Gen[Float] = Gen.frequency(
    1 -> Gen.oneOf(special),
    3 -> Gen.choose(-4, 4).map(_ / 2f), // a coarse grid makes ties
    4 -> Gen.choose(-1f, 1f))
  private def vector(n: Int): Gen[Array[Float]] = Gen.listOfN(n, component).map(_.toArray)
  /** `n` vectors of length `dims`, some copies of an earlier one. */
  private def vectors(n: Int, dims: Int): Gen[Seq[Array[Float]]] = for {
    vs <- Gen.listOfN(n, vector(dims))
    from <- Gen.listOfN(n, Gen.frequency(3 -> Gen.const(n), 1 -> Gen.choose(0, n - 1)))
  } yield vs.indices.map(i => vs(if (from(i) < i) from(i) else i))
  /** Embeddings of `minLen` to `dims + 2` components, some NULL. */
  private def embeddings(dims: Int, minLen: Int): Gen[Seq[Option[Array[Float]]]] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.frequency(
      1 -> Gen.const(None),
      6 -> Gen.choose(minLen, dims + 2).flatMap(vector).map(Some(_)))))

  case class Corpus(double: Boolean, rows: Seq[Option[Array[Float]]]) {
    private def schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("embedding", ArrayType(if (double) DoubleType else FloatType))))
    private def data = rows.zipWithIndex.map { case (e, i) =>
      Row(i.toLong, e.map(v => if (double) v.map(_.toDouble).toSeq else v.toSeq).orNull)
    }
    def compiled: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
    def local: DataFrame = spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
    override def toString: String =
      s"Corpus(double=$double, ${rows.map(_.map(_.mkString("[", ",", "]")).getOrElse("NULL"))})"
  }
  private def corpus(dims: Int, minLen: Int): Gen[Corpus] =
    for (d <- Gen.oneOf(false, true); rows <- embeddings(dims, minLen)) yield Corpus(d, rows)

  case class Centroids(cids: Seq[Long], long: Boolean, vecs: Seq[Array[Float]]) {
    def frame: DataFrame = {
      val t = if (long) LongType else IntegerType
      spark.createDataFrame(java.util.Arrays.asList(cids.zip(vecs).map { case (c, v) =>
          Row(if (long) c else c.toInt, v.toSeq) }: _*),
        StructType(Seq(StructField("cid", t, nullable = false),
          StructField("embedding", ArrayType(FloatType)))))
    }
    override def toString: String =
      s"Centroids(long=$long, ${cids.zip(vecs.map(_.mkString("[", ",", "]")))})"
  }
  private val centroids: Gen[Centroids] = for {
    n <- Gen.choose(1, 5); dims <- Gen.choose(1, 5)
    cids <- Gen.pick(n, -20L to 20L); long <- Gen.oneOf(false, true)
    vecs <- vectors(n, dims)
  } yield Centroids(cids.toSeq, long, vecs)

  case class Codebook(cb: Array[Array[Array[Float]]]) {
    override def toString: String = cb.map(_.map(_.mkString("[", ",", "]")).mkString(" ")).mkString(" | ")
  }
  private val codebook: Gen[Codebook] = for {
    numSub <- Gen.choose(1, 3); codes <- Gen.choose(1, 5); sub <- Gen.choose(1, 3)
    cb <- Gen.listOfN(numSub, vectors(codes, sub))
  } yield Codebook(cb.map(_.toArray).toArray)

  // ---- comparison ----

  /** The innermost Spark error condition of `t`, else its class. */
  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.toSeq.lastOption.getOrElse(t.getClass.getName)

  /** The error condition, or the schema and the rows by `id`. */
  private def outcome(df: => DataFrame): Either[String, (StructType, Seq[Row])] =
    try {
      val d = df
      Right(d.schema -> d.orderBy("id").collect().toSeq)
    } catch { case t: Throwable => Left(condition(t)) }

  /** Comparisons of rows (not of an error) so far: the random cases
    * must not all end in DIVIDE_BY_ZERO. */
  private val comparedRows = new java.util.concurrent.atomic.AtomicInteger

  private def same(kernel: DataFrame => DataFrame, ref: DataFrame => DataFrame, c: Corpus): Prop =
    Seq("compiled" -> (() => c.compiled), "interpreted" -> (() => c.local)).map { case (how, in) =>
      val (k, r) = (outcome(kernel(in())), outcome(ref(in())))
      if (k.isRight) comparedRows.incrementAndGet()
      Prop(k == r) :| s"$how: kernel $k, fold $r"
    }.reduce(_ && _)

  private def check(name: String, p: Prop): Unit = {
    val before = comparedRows.get
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name: ${r.status}")
    assert(comparedRows.get - before >= params.minSuccessfulTests, s"$name: too few row comparisons")
  }

  private def holds(p: Prop): Unit = {
    val r = p(Gen.Parameters.default)
    assert(r.success, r.labels.mkString("; "))
  }

  private def cells(c: Corpus, ct: Centroids): Prop = same(
    Similarity.nearestCell(_, ct.frame).select("id", "cell"),
    refNearestCell(_, ct.frame).select("id", "cell"), c)

  private def codes(c: Corpus, cb: Codebook): Prop = same(
    Similarity.pqEncode(_, "embedding", cb.cb).select("id", "codes"),
    refPqEncode(_, "embedding", cb.cb).select("id", "codes"), c)

  // an empty embedding has norm 0 and fails the whole frame, so the
  // random cases keep at least one component; the all-zero test below
  // covers the error
  test("nearestCell matches the aggregate fold") {
    check("nearestCell", Prop.forAll(centroids.flatMap(ct =>
        corpus(ct.vecs.head.length, minLen = 1).map(ct -> _))) { case (ct, c) => cells(c, ct) })
  }

  test("pqEncode matches the aggregate fold") {
    check("pqEncode", Prop.forAll(codebook.flatMap(cb =>
        corpus(cb.cb.length * cb.cb(0)(0).length, minLen = 0).map(cb -> _))) { case (cb, c) => codes(c, cb) })
  }

  test("NULL embedding: cell NULL, every code -1, on both sides") {
    val c = Corpus(double = false, Seq(None, Some(Array(1f, 0f))))
    val ct = Centroids(Seq(3L, 7L), long = true, Seq(Array(0f, 1f), Array(1f, 0f)))
    val cb = Codebook(Array(Array(Array(1f)), Array(Array(0f), Array(2f))))
    holds(cells(c, ct))
    holds(codes(c, cb))
    val got = Similarity.pqEncode(Similarity.nearestCell(c.compiled, ct.frame), "embedding", cb.cb)
      .orderBy("id").collect()
    assert(got(0).isNullAt(got(0).fieldIndex("cell")) && got(0).getSeq[Int](got(0).fieldIndex("codes")) == Seq(-1, -1))
    assert(got(1).getAs[Long]("cell") == 7L && got(1).getSeq[Int](got(1).fieldIndex("codes")) == Seq(0, 0))
  }

  test("an all-zero embedding raises the same DIVIDE_BY_ZERO; without ANSI it gets no cell") {
    val c = Corpus(double = true, Seq(Some(Array(0f, -0f)), Some(Array(1f, 1f))))
    val ct = Centroids(Seq(1L, 2L), long = false, Seq(Array(1f, 0f), Array(0f, 1f)))
    assert(outcome(Similarity.nearestCell(c.compiled, ct.frame)).left.toOption.contains("DIVIDE_BY_ZERO"))
    holds(cells(c, ct))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      holds(cells(c, ct))
      val got = Similarity.nearestCell(c.compiled, ct.frame).orderBy("id").collect()
      assert(got(0).isNullAt(got(0).fieldIndex("cell")) && got(1).getAs[Int]("cell") == 1)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
