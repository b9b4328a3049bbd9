package graft

import graft.tools.ScaleBench
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Where `ScaleBench` writes its curve artifact: a name resolved in the
  * directory the run starts in (so a clone or an exported checkout
  * writes into itself), the `_partial` file for a filtered run.
  */
class ScaleBenchSpec extends AnyFunSuite {

  test("a full sweep writes SCALING_CURVE.json in the given directory") {
    val d = Files.createTempDirectory("scale-curve")
    assert(ScaleBench.curvePath(d, filtered = false) === d.resolve("SCALING_CURVE.json"))
  }

  test("a filtered run writes the partial artifact in the given directory") {
    val d = Files.createTempDirectory("scale-curve")
    assert(ScaleBench.curvePath(d, filtered = true) ===
      d.resolve("SCALING_CURVE_partial.json"))
  }
}
