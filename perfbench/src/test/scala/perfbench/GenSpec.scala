package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def tmp(): File = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target"), "gen").toFile
  }

  private def bytes(dir: File): Seq[(String, Seq[Byte])] =
    dir.listFiles.toSeq.sortBy(_.getName)
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)

  private def write(dir: File, seed: Long) =
    Gen.writeCorpus(dir, seed, distinct = 500, total = 5000, files = 3, rareEvery = 50)

  test("the same seed writes a byte-identical corpus, another seed a different one") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    write(a, 7); write(b, 7); write(c, 8)
    assert(bytes(a).map(_._1) == Seq("part-00000.txt", "part-00001.txt", "part-00002.txt"))
    assert(bytes(a) == bytes(b))
    assert(bytes(a) != bytes(c))
  }

  test("the corpus the generator reports is the corpus it wrote") {
    val dir = tmp()
    val corpus = write(dir, 3)
    val lines = dir.listFiles.toSeq.flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    assert(lines.size == 5000 && corpus.totalLines == 5000)
    val counted = lines.groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
    assert(corpus.matching(_ => true).toMap == counted)
    val rare = corpus.matching(_.contains(Gen.RareToken)).toMap
    assert(rare.nonEmpty && rare == counted.filter(_._1.contains(Gen.RareToken)))
    assert(corpus.expected(_.contains(Gen.RareToken)) == Digest.ofCounts(rare.iterator))
  }

  test("two corpora merge into one whose shared lines count the sum") {
    val a = Corpus(Array("x", "y"), Array(2L, 1L))
    val b = Corpus(Array("y", "z"), Array(4L, 3L))
    assert((a ++ b).matching(_ => true).toMap == Map("x" -> 2L, "y" -> 5L, "z" -> 3L))
  }

  test("a digest ignores row order and sees a changed, missing or extra row") {
    val rows = Seq(Seq("a", 1L), Seq("b", 2L), Seq("c", 2L))
    val d = Digest.of(rows.iterator)
    assert(Digest.of(rows.reverseIterator) == d)
    assert(Digest.of(rows.updated(1, Seq("b", 3L)).iterator) != d)
    assert(Digest.of(rows.tail.iterator) != d)
    assert(Digest.of((rows :+ Seq("d", 1L)).iterator) != d)
  }

  test("table generators are seed-determined") {
    assert(Gen.documents(1, 200) == Gen.documents(1, 200))
    assert(Gen.documents(1, 200) != Gen.documents(2, 200))
    assert(Gen.lineitem(1, 100, 50) == Gen.lineitem(1, 100, 50))
  }
}
