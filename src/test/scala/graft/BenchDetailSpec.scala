package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Where `Bench` writes its detail artifact: a name resolved in the
  * directory the run starts in (so a clone or an exported checkout
  * writes into itself), diverted away from a committed quiet artifact
  * by a contended or off-reference-SF run.
  */
class BenchDetailSpec extends AnyFunSuite {

  private def dir(existing: Option[String]): Path = {
    val d = Files.createTempDirectory("bench-detail")
    existing.foreach(body => Files.writeString(d.resolve("BENCH_DETAIL.json"), body))
    d
  }

  private def name(d: Path, filtered: Boolean = false, contended: Boolean = false,
      sfIsRef: Boolean = true, sfTag: String = "sf0.1", force: Boolean = false) =
    Bench.detailName(d, filtered, contended, sfIsRef, sfTag, force)

  test("a quiet reference run writes BENCH_DETAIL.json in the given directory") {
    assert(name(dir(None)) === "BENCH_DETAIL.json")
    assert(name(dir(Some("""{"contended":false}"""))) === "BENCH_DETAIL.json")
  }

  test("a filtered run writes the partial artifact") {
    assert(name(dir(Some("""{"contended":false}""")), filtered = true,
      contended = true) === "BENCH_DETAIL_partial.json")
  }

  test("contended and off-reference runs divert from a quiet artifact") {
    val quiet = dir(Some("""{"contended":false}"""))
    assert(name(quiet, contended = true) === "BENCH_DETAIL_contended.json")
    assert(name(quiet, sfIsRef = false, sfTag = "sf0.01") === "BENCH_DETAIL_sf0.01.json")
    assert(name(quiet, sfIsRef = false, sfTag = "scaled/sf1") === "BENCH_DETAIL_scaled_sf1.json")
    assert(name(quiet, contended = true, force = true) === "BENCH_DETAIL.json")
    // nothing quiet to protect: the run takes the main name
    assert(name(dir(None), contended = true) === "BENCH_DETAIL.json")
    assert(name(dir(Some("""{"contended":true}""")), sfIsRef = false,
      sfTag = "sf0.01") === "BENCH_DETAIL.json")
  }

  test("the quiet check reads the given directory, not another checkout") {
    val quiet = dir(Some("""{"contended":false}"""))
    val other = dir(None)
    assert(name(quiet, contended = true) === "BENCH_DETAIL_contended.json")
    assert(name(other, contended = true) === "BENCH_DETAIL.json")
  }
}
