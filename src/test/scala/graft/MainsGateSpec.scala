package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate: the program's entry points are the driver contract
  * (`Bench`, `Verify`), the FIADB tools (`fia.Download`, `fia.Publish`)
  * and the maintained tools under `graft.tools`. A measurement belongs
  * in Bench's per-query layer profile, not in a one-off main. */
class MainsGateSpec extends AnyFunSuite {

  test("source gate: every main is Bench, Verify, fia.Download, fia.Publish or graft.tools.*") {
    import scala.jdk.CollectionConverters._
    val allowed = Set("graft.Bench", "graft.Verify", "graft.fia.Download", "graft.fia.Publish")
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                finally st.close()
    val mains = files.flatMap { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val pkg = """(?m)^package\s+([\w.]+)""".r.findAllMatchIn(txt).map(_.group(1)).mkString(".")
      val objects = """(?m)^\s*(?:private\S*\s+|final\s+|case\s+)*object\s+(\w+)""".r
        .findAllMatchIn(txt).toSeq
      // the object enclosing each entry point: the nearest one declared before it
      """def main\s*\(|\bextends\s+App\b""".r.findAllMatchIn(txt).map { m =>
        val obj = objects.takeWhile(_.start < m.start).lastOption.fold("?")(_.group(1))
        s"$pkg.$obj"
      }
    }
    assert(mains.contains("graft.Bench"), s"the gate found no Bench main: $mains")
    val stray = mains.filterNot(m => allowed(m) || m.startsWith("graft.tools."))
    assert(stray.isEmpty, s"mains outside the allowed set: ${stray.mkString(", ")}")
  }
}
