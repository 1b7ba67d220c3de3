package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.NioLocalFileSystem

/** The session's `file:` filesystem sets Hadoop's modes without a
  * `chmod` fork: the same modes as Hadoop's own `RawLocalFileSystem`,
  * on data files, their checksum shadows and directories. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(2)

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("a GraftSession's file: filesystem is NioLocalFileSystem, with Hadoop's modes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(new java.net.URI("file:///"), conf)
    val base = Files.createTempDirectory("nio_local_fs").toString
    for ((side, sideFs) <- Seq("nio" -> fs, "hadoop" -> hadoop)) {
      assert(sideFs.mkdirs(new Path(s"$base/$side/a/b")))
      val out = sideFs.create(new Path(s"$base/$side/a/b/part-0"))
      out.write(Array[Byte](1, 2, 3)); out.close()
    }
    for (rel <- Seq("a", "a/b", "a/b/part-0"))
      assert(mode(s"$base/nio/$rel") == mode(s"$base/hadoop/$rel"), rel)
    assert(mode(s"$base/nio/a/b") == "rwxr-xr-x")
    assert(mode(s"$base/nio/a/b/part-0") == "rw-r--r--")
    assert(mode(s"$base/nio/a/b/.part-0.crc") == "rw-r--r--")
    // a Spark write goes through it as well
    spark.range(3).write.parquet(s"$base/spark")
    assert(mode(s"$base/spark") == "rwxr-xr-x")
    assert(Files.list(Paths.get(s"$base/spark")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).forall(mode(_) == "rw-r--r--"))
  }
}
