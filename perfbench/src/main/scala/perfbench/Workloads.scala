package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.engine.GrepEngine
import graft.sources.TextIndexes

/** One op of a workload's fixed list. `exec` does the timed work through
  * the library's public entry points and returns the check of its output,
  * which runs after the clock stops.
  */
final case class Op(name: String, exec: Tracer => (() => Boolean))

/** An order-free digest of a multiset of rows: the row count and two sums
  * of differently seeded row hashes. A missing, extra or changed row
  * changes it (but for a chance of about 2^-64), and it holds no row, so
  * an op keeps its expected answer in three numbers.
  */
final case class Digest(rows: Long, a: Long, b: Long)

object Digest {
  def of(rows: Iterator[Seq[Any]]): Digest = {
    var (n, a, b) = (0L, 0L, 0L)
    rows.foreach { r =>
      n += 1
      a += MurmurHash3.orderedHash(r, 0x3c074a61)
      b += MurmurHash3.orderedHash(r, 0x2f1d5b83)
    }
    Digest(n, a, b)
  }

  def ofRows(rows: Array[Row]): Digest = of(rows.iterator.map(_.toSeq))

  /** The digest of a grep answer: (line, count) rows. */
  def ofCounts(counts: Iterator[(String, Long)]): Digest =
    of(counts.map { case (l, n) => Seq(l, n) })
}

/** A workload: seeded inputs plus the fixed op list of one pass. */
trait Workload {
  /** What the ops need to know about the inputs. */
  type In

  /** Write the inputs under `root` (already empty), then run a cheap
    * warm-up query over them in the fresh session.
    */
  def prepare(spark: SparkSession, root: File, seed: Long): In

  /** The op list. Ops keep what their checks need, not the inputs. */
  def ops(spark: SparkSession, in: In): Seq[Op]
}

object Workloads {
  val all: Map[String, Workload] =
    Map("grep_scan" -> GrepScan, "curate_loops" -> CurateLoops, "index_cycle" -> IndexCycle)

  /** A grep op (GrepEngine call built under an `engine.build_s` span)
    * whose result must be non-empty and equal `expected`. The op's own
    * span, if any, covers the build and the collect.
    */
  def grepOp(name: String, expected: Digest, span: Option[String] = None)
            (build: => DataFrame): Op =
    Op(name, tr => {
      def run() = tr.collect(tr.build("engine.build_s")(build))
      val rows = span.fold(run())(tr.span(_)(run()))
      () => { val got = Digest.ofRows(rows); got.rows > 0 && got == expected }
    })

  def predicate(pattern: String, mode: GrepEngine.Mode): String => Boolean = mode match {
    case GrepEngine.Substring => _.contains(pattern)
    case GrepEngine.SubstringIgnoreCase =>
      val p = pattern.toLowerCase
      _.toLowerCase.contains(p)
    case GrepEngine.Regex =>
      val re = java.util.regex.Pattern.compile(pattern)
      re.matcher(_).find()
    case GrepEngine.WholeWord =>
      val re = java.util.regex.Pattern.compile(
        "\\b" + java.util.regex.Pattern.quote(pattern) + "\\b")
      re.matcher(_).find()
  }
}

/** The paper's query: distinct matching lines with their counts, over a
  * corpus large enough that scan, filter and aggregation work shows.
  */
object GrepScan extends Workload {
  val Distinct = 200000
  val Lines = 2000000
  val Files = 8

  final case class In(dir: String, corpus: Corpus)

  def prepare(spark: SparkSession, root: File, seed: Long): In = {
    val dir = new File(root, "corpus")
    val corpus = Gen.writeCorpus(dir, seed, Distinct, Lines, Files)
    spark.read.text(dir.getPath).count()
    In(dir.getPath, corpus)
  }

  /** (op name, patterns, mode); the one multi-pattern op is multiGrep.
    * Words are named by frequency rank.
    */
  val Queries: Seq[(String, Seq[String], GrepEngine.Mode)] = {
    val w = Gen.Vocabulary
    Seq(
      ("grep_rare", Seq(Gen.RareToken), GrepEngine.Substring),
      ("grep_common", Seq(w(3)), GrepEngine.Substring),
      ("grep_regex", Seq(s"^[A-Z][a-z]+ ${w(0)} "), GrepEngine.Regex),
      ("grep_ignore_case", Seq(w(5).capitalize), GrepEngine.SubstringIgnoreCase),
      ("grep_whole_word", Seq(w(2)), GrepEngine.WholeWord),
      ("grep_multi", Seq(Gen.RareToken, w(20), w(50)), GrepEngine.Substring))
  }

  def ops(spark: SparkSession, in: In): Seq[Op] = {
    val dir = in.dir
    Queries.map { case (name, patterns, mode) =>
      val preds = patterns.map(Workloads.predicate(_, mode))
      val expected = in.corpus.expected(l => preds.exists(_(l)))
      Workloads.grepOp(name, expected) {
        if (patterns.size == 1) GrepEngine.distGrep(spark, dir, patterns.head, mode)
        else GrepEngine.multiGrep(spark.read.text(dir), "value", patterns, mode)
      }
    }
  }
}

/** Registered operator queries whose DataFrame construction runs many
  * sequential Spark jobs (convergence loops, checkpoints, probes).
  */
object CurateLoops extends Workload {
  /** One query per construction-time mechanism: the MinHash + connected
    * components loop (Dedup), the same loop over the co-purchase graph and
    * fixed-iteration PageRank with a checkpoint per step (Graph), the staged
    * fuzzy curation pipeline (Pipeline) and the bigram LM's bucketing with
    * its exchanges (Lm). Keep-best and cluster-safe dedup and classifier
    * curation repeat these mechanisms.
    */
  val Queries = Seq("q_dedup_clusters", "q_graph_components", "q_graph_pagerank",
    "q_pipeline_curate_fuzzy", "q_lm_bigram_buckets")
  /** The repository's 5 000-document fixture, and sf0.1's 20 000 parts
    * bought by a fifth of its orders (about 120 k lineitem rows). Per-query
    * job counts then equal sf0.1's except the components loop's (25
    * against 27); a pass takes about 6.5 s instead of 9.5 s on 4 vCPUs,
    * and at sf0.1's lineitem q_graph_pagerank's broadcast overflows the
    * benchmark's 3 GB heap.
    */
  val Documents = 5000
  val Orders = 30000
  val Parts = 20000

  /** The table directory. */
  type In = String

  def prepare(spark: SparkSession, root: File, seed: Long): In = {
    val dir = new File(root, "tables").getPath
    Tables.write(spark, s"$dir/documents.parquet", Tables.Documents,
      Gen.documents(seed, Documents))
    Tables.write(spark, s"$dir/lineitem.parquet", Tables.Lineitem,
      Gen.lineitem(seed + 1, Orders, Parts))
    graft.Tables.documents(spark, dir).count()
    dir
  }

  def ops(spark: SparkSession, dir: In): Seq[Op] = {
    // each op's first result is its reference; later passes must repeat it
    val reference = mutable.Map[String, Digest]()
    Queries.map { q =>
      val fn = graft.SparkEntry.queries(q)
      Op(q, tr => {
        val df = tr.build("operators.build_s")(fn(spark, dir))
        val rows = tr.collect(df)
        () => {
          val d = Digest.ofRows(rows)
          d.rows > 0 && reference.getOrElseUpdate(q, d) == d
        }
      })
    }
  }
}

/** Writes beside reads through the stored trigram index of `sources/`:
  * every pass builds an index over the corpus on fresh paths, appends a
  * 10% delivery, compacts it into a new path, and probes the compacted
  * index. The same patterns are also grepped by scanning the text, so the
  * probe's useful-work ratio against a scan shows, and every probe must
  * equal the scan answer the generator knows.
  */
object IndexCycle extends Workload {
  val Distinct = 20000
  val Lines = 200000
  val Files = 4
  val DeltaDistinct = 2000
  val DeltaLines = 20000
  val RareEvery = 1000

  /** (op suffix, pattern, mode) probed through the index and by scan. */
  val Patterns: Seq[(String, String, GrepEngine.Mode)] = Seq(
    ("rare", Gen.RareToken, GrepEngine.Substring),
    ("common", Gen.Vocabulary(30), GrepEngine.Substring),
    ("ignore_case", Gen.Vocabulary(8).capitalize, GrepEngine.SubstringIgnoreCase))

  /** `indexes` is where this run's cycles write their indexes. */
  final case class In(indexes: File, text: Seq[String], inputBytes: Long, corpus: Corpus)

  def prepare(spark: SparkSession, root: File, seed: Long): In = {
    val base = new File(root, "base")
    val delta = new File(root, "delta")
    val corpus = Gen.writeCorpus(base, seed, Distinct, Lines, Files, RareEvery) ++
      Gen.writeCorpus(delta, seed ^ 0x6a09e667L, DeltaDistinct, DeltaLines, 1, RareEvery)
    spark.read.text(base.getPath).count()
    // Each cycle leaves about 1 200 small files, and unlinking them can
    // stall a disk for seconds (about 9 ms a file on an ext4 volume
    // mounted with `discard`). So the indexes go to a directory of this
    // run's own beside the scratch root, which the next run's wipe of the
    // root does not delete; `rm -rf perfbench/.work` reclaims them.
    val indexes = new File(root.getParentFile, s"index_cycles/${java.util.UUID.randomUUID}")
    In(indexes, Seq(base.getPath, delta.getPath), treeBytes(base) + treeBytes(delta), corpus)
  }

  def ops(spark: SparkSession, in: In): Seq[Op] = {
    val Seq(base, delta) = in.text
    val (indexes, inputBytes) = (in.indexes, in.inputBytes)
    // every cycle writes fresh paths, and nothing is deleted while the run
    // measures
    var cycle = 0
    def built = new File(indexes, s"cycle-$cycle/built").getPath
    def compacted = new File(indexes, s"cycle-$cycle/compacted").getPath
    val label = "delta1"
    // an index stage is correct when its manifest, written last, is there
    def stored(dir: String) = () => treeBytes(new File(dir, "manifest")) > 0
    val stages = Seq(
      Op("index_write", tr => {
        cycle += 1
        tr.span("sources.write_s")(
          TextIndexes.writeGrepIndex(spark.read.text(base), "value", built))
        stored(built)
      }),
      Op("index_append", tr => {
        tr.span("sources.append_s")(
          TextIndexes.appendGrep(spark.read.text(delta), "value", built, label))
        stored(built)
      }),
      Op("index_compact", tr => {
        tr.span("sources.compact_s")(TextIndexes.compactGrepTo(spark, built, compacted))
        () => {
          val (b, c) = (treeBytes(new File(built)), treeBytes(new File(compacted)))
          tr.add("sources.bytes_written", b + c)
          tr.add("sources.files_written",
            fileCount(new File(built)) + fileCount(new File(compacted)))
          tr.add("sources.space_amp", c.toDouble / inputBytes)
          stored(compacted)()
        }
      }))
    val greps = Patterns.flatMap { case (name, pattern, mode) =>
      val expected = in.corpus.expected(Workloads.predicate(pattern, mode))
      Seq(
        Workloads.grepOp(s"probe_$name", expected, Some("sources.probe_s")) {
          val (lines, postings, gramdf) = TextIndexes.readGrepIndex(spark, compacted)
          GrepEngine.grepFreqFromIndex(lines, postings, gramdf, pattern, mode)
        },
        Workloads.grepOp(s"scan_$name", expected, Some("sources.scan_s")) {
          GrepEngine.grepFreq(spark.read.text(base, delta), "value", pattern, mode)
        })
    }
    stages ++ greps
  }

  /** Bytes of the regular files under `f`. */
  def treeBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).fold(0L)(_.map(treeBytes).sum)

  /** The regular files under `f`. */
  def fileCount(f: File): Long =
    if (f.isFile) 1 else Option(f.listFiles).fold(0L)(_.map(fileCount).sum)
}

/** Generated rows written as one-file parquet tables with the schemas of
  * the repository's test tables (FIXTURES.md).
  */
object Tables {
  import org.apache.spark.sql.types._

  private def schema(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  val Documents: StructType = schema("doc_id" -> LongType, "text" -> StringType,
    "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
  val Lineitem: StructType = schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> TimestampType)

  def write(spark: SparkSession, path: String, schema: StructType, rows: Seq[Product]): Unit = {
    val javaRows = new java.util.ArrayList[Row](rows.size)
    rows.foreach(r => javaRows.add(Row.fromTuple(r)))
    spark.createDataFrame(javaRows, schema).coalesce(1).write.parquet(path)
  }
}
