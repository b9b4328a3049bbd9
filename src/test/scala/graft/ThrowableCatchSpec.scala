package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** A failure fails loudly: no code under `src/main` catches `Throwable`,
  * which would swallow fatal errors (out of memory, linkage, interrupts)
  * along with ordinary ones; `NonFatal` or a narrower type is the rule.
  * The one reviewed exception is `DashboardServer.computeAndCache`,
  * which must settle its single-flight future on ANY failure, and
  * rethrows what it caught.
  */
class ThrowableCatchSpec extends AnyFunSuite {

  private val Allowed = Map("graft/serve/DashboardServer.scala" -> 1)

  /** `case <name>: Throwable` patterns per source file under `root`. */
  private def catches(root: java.nio.file.Path): Map[String, Int] = {
    val Pattern = """\bcase\s+\w+\s*:\s*(?:java\.lang\.)?Throwable\b""".r
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString ->
        Pattern.findAllIn(java.nio.file.Files.readString(f)).size)
      .filter(_._2 > 0).toMap
    finally files.close()
  }

  test("no source under src/main catches Throwable outside the reviewed site") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    assert(catches(root) === Allowed,
      "catch NonFatal (or a narrower type) instead of Throwable")
  }
}
