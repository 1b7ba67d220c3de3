package graft.perfbench

import java.nio.file.{Files, Path, Paths}

/** Local-directory accounting for write amplification: which inodes
  * exist under a set of directories, and their sizes. A hard link made
  * by a commit shares its inode with the linked file, so only bytes
  * actually written show up as new inodes. */
object DirScan {
  def inodes(dirs: Seq[String]): Map[AnyRef, Long] = {
    import scala.jdk.CollectionConverters._
    dirs.map(d => Paths.get(d)).filter(Files.exists(_)).flatMap { root =>
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        Files.getAttribute(p, "unix:ino") -> Files.size(p)
      }.toList
      finally s.close()
    }.toMap
  }

  /** Bytes of files that appeared under `dirs` since `before`. */
  def newBytes(before: Map[AnyRef, Long], dirs: Seq[String]): Long =
    inodes(dirs).collect { case (ino, n) if !before.contains(ino) => n }.sum

  /** Total bytes of the regular files under `dir`. */
  def bytes(dir: String): Long = inodes(Seq(dir)).values.sum

  /** Parquet data files directly or in partition dirs under `dir`,
    * relative to it (sidecars start with `_` or `.` and are skipped). */
  def dataFiles(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet") &&
      !root.relativize(p).iterator().asScala.exists { seg =>
        val n = seg.toString; n.startsWith("_") || n.startsWith(".")
      }).map(p => root.relativize(p).toString).toSet
    finally s.close()
  }

  /** Row count of a parquet file, from its footer. */
  def rows(file: Path): Long = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri),
        new org.apache.hadoop.conf.Configuration()))
    try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum finally r.close()
  }
}
