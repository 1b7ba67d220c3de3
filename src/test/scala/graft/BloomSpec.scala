package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Bloom, Layout}

/** `ops.Bloom`: one per-file filter behind the table `_bloom` sidecar
  * and the ANN `codes_bloom` sidecar. */
class BloomSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("table and ANN probes give identical verdicts; a held key is never pruned") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("bloom_parity").toString
    val dir = s"$idx/codes.parquet"
    // unclustered: every file spans the whole id domain
    spark.range(4000).select($"id", ($"id" * 3).as("v"))
      .repartition(8).write.parquet(dir)
    val files = Layout.listDataFiles(spark, dir)
    Bloom.writeCodes(spark, idx, since = None)
    Bloom.writeSidecar(spark, dir, "id", Bloom.CodesBits, Bloom.CodesHashes)
    def base(f: String) = f.substring(f.lastIndexOf('/') + 1)
    val holder = spark.read.parquet(files: _*)
      .select($"id", $"_metadata.file_name".as("f")).as[(Long, String)].collect().toMap
    for (keys <- Seq(Seq(7L), Seq(123L, 2999L), Seq(5000000L), Seq(5000001L, 42L))) {
      val (data, nFiles, nHit) = Bloom.readPruned(spark, dir, "id", keys)
      val tableHits = if (nHit == 0) Set.empty[String] else data.inputFiles.map(base).toSet
      val annHits = Bloom.pruneCodes(spark, idx, files,
        Bloom.collectProbe(keys.toDF("id"), "id")).map(base).toSet
      assert(nFiles == files.size && nHit == tableHits.size)
      assert(tableHits == annHits, s"keys $keys: table $tableHits vs ANN $annHits")
      assert(keys.flatMap(holder.get).toSet.subsetOf(annHits),
        s"keys $keys: a file holding a probed key was pruned")
      assert(data.select($"id").as[Long].collect().sorted.toSeq ==
        keys.filter(holder.contains).sorted)
    }
  }

  test("an unreadable sidecar: the ANN prune keeps every file, the table read refuses") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("bloom_truncated").toString
    val dir = s"$idx/codes.parquet"
    spark.range(2000).select($"id").repartition(4).write.parquet(dir)
    val files = Layout.listDataFiles(spark, dir)
    Bloom.writeCodes(spark, idx, since = None)
    Bloom.writeSidecar(spark, dir, "id")
    // truncate every sidecar part file: the known row shape lets the
    // read analyse, so the failure only surfaces when the filters load
    for (sidecar <- Seq(s"$idx/codes_bloom.parquet", s"$dir/_bloom");
         f <- Layout.listDataFiles(spark, sidecar)) {
      val p = java.nio.file.Paths.get(new java.net.URI(f).getPath)
      java.nio.file.Files.write(p, java.nio.file.Files.readAllBytes(p).take(64))
      java.nio.file.Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    val probe = Bloom.collectProbe(Seq(7L, 999999L).toDF("id"), "id")
    assert(Bloom.pruneCodes(spark, idx, files, probe) == files)
    val e = intercept[IllegalArgumentException](Bloom.readPruned(spark, dir, "id", Seq(7L)))
    assert(e.getMessage.contains("no Bloom sidecar rows"), e.getMessage)
  }

  test("source gate: the hash, the bit-position formula and the _bloom dir name live in ops/Bloom.scala only") {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                finally st.close()
    assert(files.exists(_.toString.replace('\\', '/').endsWith("ops/Bloom.scala")),
      "the gate found no ops/Bloom.scala")
    val patterns = Seq(
      "double hash" -> """"b2:"""".r,
      "bit-position formula" -> """(?:floorMod|pmod)\((?:col\("h2"\)|h2)\b""".r,
      "_bloom dir name" -> """"_bloom"""".r)
    val bad = for {
      f <- files if !f.toString.replace('\\', '/').endsWith("ops/Bloom.scala")
      (l, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      (what, re) <- patterns if re.findFirstIn(l).isDefined
    } yield s"$f:${i + 1}: $what"
    assert(bad.isEmpty, s"Bloom code outside ops/Bloom.scala:\n${bad.mkString("\n")}")
  }
}
