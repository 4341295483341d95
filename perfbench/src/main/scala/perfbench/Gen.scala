package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** A text corpus as the generator knows it: the distinct lines and how
  * many times each was written. The expected answer of any grep is a
  * filter over `lines` carrying `counts`, so the benchmark can check the
  * engine without a second engine.
  */
final case class Corpus(lines: Array[String], counts: Array[Long]) {
  def totalLines: Long = counts.sum

  /** Each distinct written line matching `pred`, with its count. */
  def matching(pred: String => Boolean): Iterator[(String, Long)] =
    lines.indices.iterator.filter(i => counts(i) > 0 && pred(lines(i)))
      .map(i => lines(i) -> counts(i))

  /** The digest of the grep answer for `pred`: its matching lines and counts. */
  def expected(pred: String => Boolean): Digest = Digest.ofCounts(matching(pred))

  /** Both corpora as one: a line written by both counts the sum. */
  def ++(o: Corpus): Corpus = {
    val m = mutable.LinkedHashMap[String, Long]()
    (lines.indices.map(i => lines(i) -> counts(i)) ++
      o.lines.indices.map(i => o.lines(i) -> o.counts(i)))
      .foreach { case (l, n) => m(l) = m.getOrElse(l, 0L) + n }
    Corpus(m.keys.toArray, m.values.toArray)
  }
}

/** Seeded input generators. Everything is drawn from one
  * `SplittableRandom` per call in a fixed order, so a seed fixes every
  * byte the benchmark writes.
  */
object Gen {

  /** A token no generated word contains ("zy" never occurs: every
    * syllable is consonant + vowel), planted in a few distinct lines.
    */
  val RareToken = "zyxq"

  private val Consonants = "bdfghjklmnprstvwz"
  private val Vowels = "aeiou"

  /** `n` distinct pseudo-words of two or three syllables. */
  def vocabulary(rng: SplittableRandom, n: Int): Array[String] = {
    val words = new java.util.LinkedHashSet[String]()
    while (words.size < n) {
      val sb = new StringBuilder
      (0 until 2 + rng.nextInt(2)).foreach { _ =>
        sb += Consonants(rng.nextInt(Consonants.length))
        sb += Vowels(rng.nextInt(Vowels.length))
      }
      words.add(sb.toString)
    }
    words.toArray(new Array[String](0))
  }

  /** Cumulative Zipf(s) weights over ranks 0 until n, normalised to 1. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); cdf(i) = acc; i += 1 }
    i = 0
    while (i < n) { cdf(i) /= acc; i += 1 }
    cdf
  }

  /** The rank `u` (uniform in [0, 1)) falls on under `cdf`. */
  def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    val r = if (i >= 0) i else -i - 1
    math.min(r, cdf.length - 1)
  }

  /** `distinct` unique lines of 4 to 12 Zipf-drawn words. About a third
    * start with a capitalised word, and one line in `rareEvery` carries
    * [[RareToken]].
    */
  def linePool(rng: SplittableRandom, vocab: Array[String], distinct: Int,
               rareEvery: Int): Array[String] = {
    val wordCdf = zipfCdf(vocab.length, 1.0)
    val pool = new java.util.LinkedHashSet[String]()
    while (pool.size < distinct) {
      val n = 4 + rng.nextInt(9)
      val words = Array.fill(n)(vocab(draw(wordCdf, rng.nextDouble())))
      if (rng.nextInt(3) == 0) words(0) = words(0).capitalize
      if (rng.nextInt(rareEvery) == 0) words(rng.nextInt(n)) = RareToken
      pool.add(words.mkString(" "))
    }
    pool.toArray(new Array[String](0))
  }

  /** The words every corpus draws from, by falling frequency. Fixed, so a
    * pattern naming a word of a given rank selects alike under every seed;
    * the seed decides the lines and their duplication.
    */
  val Vocabulary: Array[String] = vocabulary(new SplittableRandom(0x5eedL), 2000)

  /** Write `total` lines drawn Zipf(1.05) from a fresh pool of
    * `distinct` lines into `files` text files under `dir`, and return
    * what was written.
    */
  def writeCorpus(dir: File, seed: Long, distinct: Int, total: Int, files: Int,
                  rareEvery: Int = 4000): Corpus = {
    val rng = new SplittableRandom(seed)
    val lines = linePool(rng, Vocabulary, distinct, rareEvery)
    val bytes = lines.map(l => (l + "\n").getBytes(UTF_8))
    val cdf = zipfCdf(distinct, 1.05)
    val counts = new Array[Long](distinct)
    dir.mkdirs()
    val perFile = (total + files - 1) / files
    var written = 0
    (0 until files).foreach { f =>
      val out = new BufferedOutputStream(
        new FileOutputStream(new File(dir, f"part-$f%05d.txt")), 1 << 20)
      try {
        var i = 0
        while (i < perFile && written < total) {
          val r = draw(cdf, rng.nextDouble())
          counts(r) += 1
          out.write(bytes(r))
          i += 1
          written += 1
        }
      } finally out.close()
    }
    Corpus(lines, counts)
  }

  // -- a seed-generated table directory laid out like the repository's test tables
  // (`<table>.parquet`, same column names and types) --

  private val DocWords = Array("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "a", "the", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "big", "query", "customer", "group", "filter", "stream", "vector", "dup")
  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")
  private val ReturnFlags = Array("R", "A", "N")

  /** (doc_id, text, lang, source, n_chars) rows. One document in five is a
    * near copy (one word changed) of an earlier original and one in twenty
    * an exact copy, so the dedup operators find clusters.
    */
  def documents(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val rng = new SplittableRandom(seed)
    // copies are only ever made of originals, so every cluster is a star
    // and the dedup loops converge in the same number of rounds for every seed
    val originals = mutable.ArrayBuffer[String]()
    (0 until n).map { i =>
      val roll = rng.nextInt(20)
      val text =
        if (originals.size > 10 && roll < 4) {
          val words = originals(rng.nextInt(originals.size)).split(' ')
          words(rng.nextInt(words.length)) = DocWords(rng.nextInt(DocWords.length))
          words.mkString(" ")
        } else if (originals.size > 10 && roll == 4) originals(rng.nextInt(originals.size))
        else {
          val t = Array.fill(10 + rng.nextInt(80))(DocWords(rng.nextInt(DocWords.length)))
            .mkString(" ")
          originals += t
          t
        }
      (i.toLong, text, Langs(rng.nextInt(Langs.length)), s"src${i % 20}",
        text.length.toLong)
    }
  }

  /** TPC-H-shaped lineitem rows: `orders` baskets of one to seven lines
    * whose parts are drawn Zipf(0.8) from `parts`, so co-purchase edges
    * repeat.
    */
  def lineitem(seed: Long, orders: Int, parts: Int)
      : Seq[(Long, Long, Long, Int, Double, Double, Double, Double, String, String, java.sql.Timestamp)] = {
    val rng = new SplittableRandom(seed)
    val cdf = zipfCdf(parts, 0.8)
    val base = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    (0 until orders).flatMap { o =>
      (1 to 1 + rng.nextInt(7)).map { ln =>
        val qty = (1 + rng.nextInt(50)).toDouble
        (o.toLong, draw(cdf, rng.nextDouble()).toLong, rng.nextInt(100).toLong, ln,
          qty, qty * (900 + rng.nextInt(1000)), rng.nextInt(11) / 100.0,
          rng.nextInt(9) / 100.0, ReturnFlags(rng.nextInt(ReturnFlags.length)),
          if (rng.nextBoolean()) "O" else "F",
          new java.sql.Timestamp(base + rng.nextInt(2500) * 86400000L))
      }
    }
  }
}
