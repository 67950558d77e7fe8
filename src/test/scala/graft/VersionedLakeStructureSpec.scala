package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `VersionedLake` keeps one read path and one append-feed walk: the
  * DV-scoping rule and the append-only contract each have a single
  * definition. */
class VersionedLakeStructureSpec extends AnyFunSuite {

  private val src = Files.readString(Paths.get(sys.props("user.dir"),
    "src/main/scala/graft/sources/VersionedLake.scala"))

  private def count(s: String): Int =
    src.split(java.util.regex.Pattern.quote(s), -1).length - 1

  test("mappedRead and emptyOf each have one call site") {
    for (f <- Seq("mappedRead(", "emptyOf(")) {
      val defs = count(s"def $f")
      assert(defs == 1, s"$f defined $defs times")
      // the definition plus one call
      assert(count(f) == 2, s"$f appears ${count(f) - 1} time(s) besides its def")
    }
  }

  test("the per-version manifest step of the append feed appears once") {
    assert(count("manifestEntries(spark, path, next)") == 1)
  }
}
