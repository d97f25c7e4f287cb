package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Scratch

/** `Scratch.staged`, the one fixture-staging policy: an operator's input
  * files are written once per (JVM, sf), and a failed write is retried. */
class ScratchSpec extends AnyFunSuite {

  test("build runs once per (prefix, sf) in one JVM") {
    var builds = 0
    def stage() = Scratch.staged("spec_once", "/data/sf1") { dir =>
      builds += 1
      Files.write(Paths.get(dir, "input.bin"), Array[Byte](1, 2, 3))
    }
    val first = stage()
    val second = stage()
    assert(builds == 1)
    assert(first == second)
    assert(Files.readAllBytes(Paths.get(first, "input.bin")).toSeq == Seq[Byte](1, 2, 3))
  }

  test("a second sf gets its own directory and a fresh build") {
    var built = Seq.empty[String]
    val a = Scratch.staged("spec_two_sf", "/data/sf0.001")(dir => built :+= dir)
    val b = Scratch.staged("spec_two_sf", "/data/sf0.01")(dir => built :+= dir)
    assert(a != b)
    assert(built == Seq(a, b))
    Scratch.staged("spec_two_sf", "/data/sf0.001")(dir => built :+= dir)
    assert(built == Seq(a, b), "the first sf was rebuilt")
  }

  test("a build that throws leaves no marker and is rerun") {
    var calls = 0
    val boom = intercept[IllegalStateException] {
      Scratch.staged("spec_retry", "/data/sf1") { _ =>
        calls += 1
        throw new IllegalStateException("disk full")
      }
    }
    assert(boom.getMessage == "disk full")
    val dir = Scratch.opDir("spec_retry", "/data/sf1")
    assert(!Files.exists(Paths.get(dir, "_STAGED")))
    Scratch.staged("spec_retry", "/data/sf1")(_ => calls += 1)
    assert(calls == 2)
    assert(Files.exists(Paths.get(dir, "_STAGED")))
    Scratch.staged("spec_retry", "/data/sf1")(_ => calls += 1)
    assert(calls == 2)
  }

  test("the staged directory is opDir(prefix, sf), created before build runs") {
    val dir = Scratch.staged("spec_path", "/data/tpch/sf0.01") { d =>
      assert(Files.isDirectory(Paths.get(d)))
    }
    assert(dir == Scratch.opDir("spec_path", "/data/tpch/sf0.01"))
    assert(dir.startsWith(Scratch.dir))
  }
}
