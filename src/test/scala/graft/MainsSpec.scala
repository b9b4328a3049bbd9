package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The program's entry points are a reviewed set: the driver's
  * surfaces (`Bench`, `Verify`, `EntrySmoke`), the server and the
  * testdata smoke, and the kept tools (plan evidence, the scale-replica
  * and scale-curve mains, the recall curve, and the forked-JVM writers
  * of the commit crash and race specs). Measurements belong in
  * perfbench and assertions in specs, so a new one-off diagnostic main
  * fails here until this list is edited, and a deleted one cannot come
  * back unnoticed.
  */
class MainsSpec extends AnyFunSuite {

  private val Kept = Set(
    "graft.Bench", "graft.Verify", "graft.EntrySmoke", "graft.Smoke",
    "graft.serve.ServeMain",
    "graft.tools.CrashWriter", "graft.tools.PlanDump",
    "graft.tools.RaceWriter", "graft.tools.RecallCurve",
    "graft.tools.ScaleBench", "graft.tools.ScaleUp")

  /** `package.Object` for every object under `root` whose body defines
    * `def main`: the main belongs to the nearest `object` declared above
    * it in its file.
    */
  private def mains(root: java.nio.file.Path): Set[String] = {
    val Pkg = """^package\s+([\w.]+)""".r.unanchored
    val Obj = """^\s*object\s+(\w+)""".r.unanchored
    val Main = """^\s*def\s+main\s*\(""".r.unanchored
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        var pkg = ""
        var obj = ""
        java.nio.file.Files.readAllLines(f).asScala.flatMap {
          case Pkg(p) => pkg = p; None
          case Obj(o) => obj = o; None
          case Main() => Some(s"$pkg.$obj")
          case _ => None
        }
      }.toSet
    finally files.close()
  }

  test("the objects defining a main are exactly the kept entry points") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val found = mains(root)
    assert(found -- Kept === Set.empty[String], "new main: add it to Kept, or measure in perfbench")
    assert(Kept -- found === Set.empty[String], "kept main is gone: drop it from Kept")
  }
}
