package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Similarity` keeps one definition of each repeated ANN step: every
  * per-key rank goes through one window, and the LSH tables are sized
  * and drawn in one place. */
class SimilarityStructureSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))
  private val src = Files.readString(
    root.resolve("src/main/scala/graft/operators/Similarity.scala"))

  private def count(s: String): Int =
    src.split(java.util.regex.Pattern.quote(s), -1).length - 1

  test("every ranking shares one window") {
    assert(count("row_number(") == 1)
    // a second window of any kind (rank(), dense_rank(), ...) needs a
    // Window spec and an .over(
    assert(count("Window.") == 1)
    assert(count(".over(") == 1)
  }

  test("tuneSignLsh has one call site besides its definition") {
    assert(count("def tuneSignLsh(") == 1)
    assert(count("tuneSignLsh(") == 2)
  }

  test("hyperplanes is called only by jlDistortionPairs and nearDupTables") {
    // the definition, the JL projection's plane matrix, the LSH tables
    assert(count("def hyperplanes(") == 1)
    assert(count("hyperplanes(") == 3)
    assert(count("val planes = hyperplanes(nDims, dim, seed)") == 1)
    assert(count("(0 until nT).map(t => hyperplanes(nP, dim, seed + t))") == 1)
  }

  test("projectedTopK is gone from the main sources") {
    val walk = Files.walk(root.resolve("src/main"))
    val mentions =
      try walk.iterator().asScala.filter((p: Path) =>
        p.toString.endsWith(".scala") &&
          Files.readString(p).contains("projectedTopK")).toList
      finally walk.close()
    assert(mentions.isEmpty, mentions.mkString(", "))
  }
}
