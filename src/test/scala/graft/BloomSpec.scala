package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, Bloom, Layout}

/** `ops.Bloom`: the per-file filters Parquet stores inside each data
  * file, probed by the one per-file footer pass. */
class BloomSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("table and ANN probes give identical verdicts; a held key is never pruned") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("bloom_parity").toString
    val dir = s"$idx/codes.parquet"
    // unclustered: every file spans the whole id domain
    Bloom.write(spark.range(4000).select($"id", ($"id" * 3).as("v"))
      .repartition(8).write, Seq("id")).parquet(dir)
    val files = Layout.listDataFiles(spark, dir)
    def base(f: String) = f.substring(f.lastIndexOf('/') + 1)
    val holder = spark.read.parquet(files: _*)
      .select($"id", $"_metadata.file_name".as("f")).as[(Long, String)].collect().toMap
    for (keys <- Seq(Seq(7L), Seq(123L, 2999L), Seq(5000000L), Seq(5000001L, 42L))) {
      val (data, nFiles, nHit) = Bloom.readPruned(spark, dir, "id", keys)
      val tableHits = if (nHit == 0) Set.empty[String] else data.inputFiles.map(base).toSet
      val annHits = AnnIndex.candidateCodes(spark, dir, files, keys.toDF("id")).map(base).toSet
      assert(nFiles == files.size && nHit == tableHits.size)
      assert(tableHits == annHits, s"keys $keys: table $tableHits vs ANN $annHits")
      assert(keys.flatMap(holder.get).toSet.subsetOf(annHits),
        s"keys $keys: a file holding a probed key was pruned")
      assert(data.select($"id").as[Long].collect().sorted.toSeq ==
        keys.filter(holder.contains).sorted)
    }
  }

  test("files of 16.7k+ keys each: the filter is sized to the file, a miss prunes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bloom_big").toString + "/t"
    // round-robin even keys: min/max prune nothing, only the filter can
    Bloom.write(spark.range(3 * 17000).select(($"id" * 2).as("k"), ($"id" % 7).as("v"))
      .repartition(3).write, Seq("k")).parquet(dir)
    // 20 odd keys: inside every file's [min, max], held by none
    val (miss, nFiles, nHit) =
      Bloom.readPruned(spark, dir, "k", (0 until 20).map(i => 40001L + 2 * i))
    assert(nFiles == 3)
    assert(nHit < nFiles, s"a miss must prune: read $nHit of $nFiles")
    assert(miss.count() == 0)
    val (hit, _, _) = Bloom.readPruned(spark, dir, "k", Seq(40000L))
    assert(hit.select($"v").as[Long].collect().toSeq == Seq(20000L % 7))
  }

  test("a file written without a filter is a candidate; no filter anywhere refuses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bloom_mixed").toString + "/t"
    Bloom.write(spark.range(2000).select(($"id" * 2).as("id")).repartition(3).write, Seq("id"))
      .parquet(dir)
    // one bare file of odd ids 1, 41, ..., 3961: its bounds span the domain
    spark.range(0, 4000, 40).select(($"id" + 1).as("id")).coalesce(1)
      .write.mode("append").parquet(dir)
    val files = Layout.listDataFiles(spark, dir)
    val bare = files.filter(f => !Bloom.columnsOf(spark, f).contains("id"))
    assert(bare.size == 1 && files.size == 4)
    // 1500 is held by a filtered file, 41 only by the bare one, 1501 by none
    for ((keys, want) <- Seq(Seq(1500L) -> Seq(1500L), Seq(41L) -> Seq(41L), Seq(1501L) -> Nil)) {
      val (data, _, nHit) = Bloom.readPruned(spark, dir, "id", keys)
      val kept = AnnIndex.candidateCodes(spark, dir, files, keys.toDF("id"))
      assert(bare.forall(kept.contains), s"keys $keys: the file without a filter was pruned")
      assert(nHit == kept.size)
      assert(data.select($"id").as[Long].collect().toSeq == want)
    }
    val plain = java.nio.file.Files.createTempDirectory("bloom_none").toString + "/t"
    spark.range(100).select($"id").repartition(2).write.parquet(plain)
    val e = intercept[IllegalArgumentException](Bloom.readPruned(spark, plain, "id", Seq(7L)))
    assert(e.getMessage.contains("no data file"), e.getMessage)
  }

  test("source gate: parquet.bloom options and filter reads in ops/Bloom.scala only") {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                finally st.close()
    assert(files.exists(_.toString.replace('\\', '/').endsWith("ops/Bloom.scala")),
      "the gate found no ops/Bloom.scala")
    val inBloom = Seq(
      "parquet.bloom.filter option key" -> """parquet\.bloom\.filter""".r,
      "Bloom filter read" -> """getBloomFilterDataReader""".r)
    val nowhere = Seq(
      "_bloom dir name" -> """"_bloom"""".r,
      "codes_bloom sidecar" -> """codes_bloom""".r)
    val bad = for {
      f <- files
      own = f.toString.replace('\\', '/').endsWith("ops/Bloom.scala")
      (l, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      (what, re) <- (if (own) Nil else inBloom) ++ nowhere if re.findFirstIn(l).isDefined
    } yield s"$f:${i + 1}: $what"
    assert(bad.isEmpty, s"Bloom code outside ops/Bloom.scala:\n${bad.mkString("\n")}")
  }
}
