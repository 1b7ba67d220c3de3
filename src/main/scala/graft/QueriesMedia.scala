package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Similarity}

/** `q_media_neardup` — end-to-end media near-dup gate (round-5 verdict
  * item #7): REAL codec decode (javax.sound WAV + javax.imageio PNG) →
  * deterministic feature extraction → parquet → LSH-bucketed cosine
  * near-dup pairs, with the similarity stage oracle-checked by DuckDB
  * over the SAME features parquet. The decode step itself stays
  * spec-gated (MultimodalSpec) — binary codecs are not SQL-expressible —
  * but its OUTPUT now flows through an oracle-checked retrieval stage,
  * so a regression anywhere in decode → features → pairing flips this
  * gate.
  *
  * The corpus is synthesized in-query (deterministic sine WAVs and
  * gradient PNGs, real encoders, clone pairs planted in each modality),
  * so the gate needs no media files in testdata.
  */
object QueriesMedia {

  // --- deterministic payload synthesis (real encoders) -----------------

  /** PCM-16 mono WAV through the JDK encoder. */
  private def wavBytes(samples: Array[Short], sampleRate: Float): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val data = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      data(2 * i) = (samples(i) & 0xff).toByte
      data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** `freq`-Hz sine at 8 kHz, 2000 samples, fixed amplitude. */
  private def tone(freq: Double): Array[Byte] =
    wavBytes(Array.tabulate(2000) { i =>
      (math.sin(2 * math.Pi * freq * i / 8000.0) * 0.8 * 32767).toShort
    }, 8000f)

  /** Deterministic gradient PNG through the JDK encoder; `phase` shifts
    * the pattern so distinct ids get distinct pixels. */
  private def gradientPng(phase: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      48, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 48) {
      var x = 0
      while (x < 48) {
        val v = ((x * 5 + y * 3 + phase * 17) % 256 + 256) % 256
        img.setRGB(x, y, (v << 16) | (((v + phase) % 256) << 8) | ((x * y) % 256))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 20 audio + 20 image payloads; ids `i` and `i + 10` are exact clones
    * for i in 0..4 within each modality (5 planted dup pairs each). */
  private def corpus(s: SparkSession): DataFrame = {
    import s.implicits._
    val audio = (0 until 20).map { i =>
      val base = if (i >= 10 && i < 15) i - 10 else i
      (i.toLong, tone(220.0 + 37.0 * base))
    }
    val images = (0 until 20).map { i =>
      val base = if (i >= 10 && i < 15) i - 10 else i
      (100L + i, gradientPng(base))
    }
    (audio ++ images).toDF("doc_id", "content")
  }

  /** Decode both modalities with the REAL codec paths, 64-dim features
    * each, write to a fresh fixture, and read back — the oracle consumes
    * the same parquet. */
  private def materializeFeatures(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s)
    val audio = Multimodal.extractAudioFeatures(
      c.filter(col("doc_id") < 100), "doc_id", "content", dims = 64)
      .select(col("doc_id").as("id"), col("features").as("embedding"))
    val image = Multimodal.extractFeatures(
      c.filter(col("doc_id") >= 100), "doc_id", "content", dims = 64)
      .select(col("doc_id").as("id"), col("features").as("embedding"))
    val features = Fixtures.fresh(s, dir, "media_features")
    audio.unionByName(image).coalesce(1).write.parquet(features)
    s.read.parquet(features)
  }

  private def mediaNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(
      materializeFeatures(s, dir), thresholdQ = 9500L, numPlanes = 4)

  // a def: the SQL names the features fixture the gate staged
  private def mediaNearDupSql: String = {
    val planes = Similarity.hyperplane(4, 64)
    val bucketExpr = (v: String) =>
      planes.zipWithIndex.map { case (plane, p) =>
        val lst = plane.map(_.toString).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(CAST($v AS DOUBLE[]), CAST($lst AS DOUBLE[])) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT id, embedding, ${bucketExpr("embedding")} AS bucket,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM read_parquet('${Fixtures.staged("media_features")}/*.parquet')),
       |p AS (
       |  SELECT l.id AS i, r.id AS j,
       |    CAST(floor(
       |      list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])) /
       |        (l.nrm * r.nrm) * 10000.0) AS BIGINT) AS cos_q
       |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id)
       |SELECT i, j, cos_q FROM p WHERE cos_q >= 9500""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_neardup" -> (mediaNearDup _))

  def oracles: Map[String, String] = Map(
    "q_media_neardup" -> mediaNearDupSql)
}
