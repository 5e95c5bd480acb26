package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** File-only guard, no Spark session: every main under `graft.tools`
  * is named in `tools/README.md`, so one-off probes cannot build up in
  * `src/main` unlisted. */
class ToolsReadmeSpec extends AnyFunSuite {

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  test("tools/README.md names every main under src/main/scala/graft/tools") {
    val defMain = """\bdef\s+main\s*\(""".r
    val files = Files.list(Paths.get("src/main/scala/graft/tools"))
    val mains =
      try files.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          defMain.findFirstIn(read(p)).isDefined)
        .map(_.getFileName.toString.stripSuffix(".scala")).toList.sorted
      finally files.close()
    assert(mains.contains("Profile"), s"mains found: $mains")
    val readme = read(Paths.get("tools/README.md"))
    val unnamed = mains.filterNot(m => readme.contains(s"graft.tools.$m"))
    assert(unnamed.isEmpty, s"tools/README.md does not name: $unnamed")
  }
}
