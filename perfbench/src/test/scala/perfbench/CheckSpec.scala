package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GrepEngine

class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val off = new Tracer(null, on = false)

  test("an op whose check rejects its output is counted as failed") {
    assert(!Main.runOp(Op("wrong", _ => () => false), off).ok)
    assert(!Main.runOp(Op("throws", _ => throw new IllegalStateException("boom")), off).ok)
    assert(!Main.runOp(Op("check throws", _ => () => sys.error("boom")), off).ok)
    assert(Main.runOp(Op("right", _ => () => true), off).ok)
  }

  test("a grep result is checked line by line and count by count") {
    Files.createDirectories(Paths.get("target"))
    val dir = Files.createTempDirectory(Paths.get("target"), "check").toFile
    val corpus = Gen.writeCorpus(new File(dir, "c"), 5, 300, 3000, 2, rareEvery = 30)
    val path = new File(dir, "c").getPath
    val rare = corpus.matching(_.contains(Gen.RareToken)).toMap
    def grep = GrepEngine.distGrep(spark, path, Gen.RareToken)
    def op(name: String, answer: Map[String, Long]) =
      Main.runOp(Workloads.grepOp(name, Digest.ofCounts(answer.iterator))(grep), off)
    assert(op("right", rare).ok)
    val (line, n) = rare.head
    assert(!op("count off", rare + (line -> (n + 1))).ok)
    assert(!op("line missing", rare - line).ok)
    assert(!op("line added", rare + ("not in the corpus" -> 1L)).ok)
    def nothing = GrepEngine.distGrep(spark, path, "no line has this")
    assert(!Main.runOp(Workloads.grepOp("empty", Digest.ofCounts(Iterator.empty))(nothing), off).ok)
  }
}
