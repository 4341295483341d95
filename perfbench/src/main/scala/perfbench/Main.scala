package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.{BenchContract, Sessions}

/** Runs one workload from one closed-loop client thread and prints its
  * metrics. The last stdout line is the result object:
  * `{"correct", "attempted", "failed", "metrics"}`, with the end-to-end
  * metrics when tracing is off and the per-layer metrics when it is on.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  */
object Main {
  val WarmPasses = 2

  /** Per-layer metrics in output order, with units. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "engine.build_s" -> "s", "engine.build_jobs" -> "count",
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "plans.plan_s" -> "s") ++ PlanShape.Keys.map(_ -> "count") ++ Seq(
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.jobs_per_op" -> "count", "scheduler.idle_core_share" -> "ratio",
    "scheduler.per_job_s" -> "s",
    "tasks.run_s" -> "s", "tasks.cpu_s" -> "s", "tasks.gc_s" -> "s", "tasks.max_s" -> "s",
    "shuffle.write_bytes" -> "bytes", "shuffle.spill_bytes" -> "bytes",
    "scan.rows" -> "count", "scan.bytes" -> "bytes", "scan.rows_per_cpu_s" -> "1/s",
    "sources.write_s" -> "s", "sources.append_s" -> "s", "sources.compact_s" -> "s",
    "sources.probe_s" -> "s", "sources.bytes_written" -> "bytes",
    "sources.files_written" -> "count", "sources.space_amp" -> "ratio",
    "sources.probe_vs_scan" -> "ratio",
    "trace.overhead" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1",
      new File(need("work")).getAbsoluteFile)
  }

  final case class OpRun(name: String, seconds: Double, ok: Boolean)
  /** One pass over the op list; traced passes carry the pass's layer
    * metrics and one ledger row per op.
    */
  final case class Pass(wall: Double, ops: Seq[OpRun], layers: Map[String, Double],
                        rows: Seq[(OpRun, Map[String, Double])])

  /** Time one op; it fails when it throws or its check rejects the output. */
  def runOp(op: Op, tr: Tracer): OpRun = {
    val s = System.nanoTime()
    val check = try Some(op.exec(tr)) catch {
      case e: Exception => System.err.println(s"[perfbench] ${op.name} threw: $e"); None
    }
    val dt = seconds(s)
    val ok = check.exists(c => try c() catch { case _: Exception => false })
    if (!ok) System.err.println(s"[perfbench] ${op.name} FAILED")
    OpRun(op.name, dt, ok)
  }

  def session(slots: Int, work: File): SparkSession = {
    val spark = Sessions.builder(s"local[$slots]", slots)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Generate the inputs and build the op list. Only the ops outlive this
    * call, so the inputs the generator kept are garbage by the time the
    * heap is sampled.
    */
  private def setUp(wl: Workload, spark: SparkSession, dir: File, seed: Long): Seq[Op] =
    wl.ops(spark, wl.prepare(spark, dir, seed))

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workloads.all.getOrElse(args.workload, throw new IllegalArgumentException(
      s"unknown workload ${args.workload}; known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
    val cores = Runtime.getRuntime.availableProcessors
    // task slots leave one core to the driver thread, whose job scheduling
    // would otherwise queue behind running tasks, as it does not on a
    // cluster whose driver has its own machine
    val slots = math.max(1, cores - 1)
    val canaryStart = (BenchContract.canarySeconds(), BenchContract.canaryMtSeconds(cores))

    // the benchmark's own scratch root, wiped at start
    val inDir = new File(args.work, args.workload)
    deleteTree(inDir)
    inDir.mkdirs()

    // set-up, once and cold: session start (with Spark's class loading),
    // input generation and a warm-up query
    val t0 = System.nanoTime()
    val spark = session(slots, args.work)
    val ops = setUp(wl, spark, inDir, args.seed)
    val setupS = seconds(t0)
    val ledger = new Ledger

    def pass(traced: Boolean): Pass = {
      val tr = new Tracer(spark, traced)
      if (traced) spark.sparkContext.addSparkListener(ledger)
      // each traced op leaves one ledger row: its spans, plan shape and Spark counters
      val runs = ops.map { op =>
        val run = runOp(op, tr)
        (run, if (traced) tr.take() ++ ledger.take(spark) else Map.empty[String, Double])
      }
      // the client's wait: untimed work between ops (checks, ledger reads)
      // is the benchmark's, not the program's
      val wall = runs.map(_._1.seconds).sum
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          spark.sparkContext.removeSparkListener(ledger)
          val all = Ledger.merge(runs.map(_._2))
          def v(k: String) = all.getOrElse(k, 0.0)
          val jobs = v("scheduler.jobs")
          all ++ Map(
            "scheduler.jobs_per_op" -> jobs / ops.size,
            "scheduler.idle_core_share" -> (1 - v("tasks.run_s") / (wall * slots)),
            "scheduler.per_job_s" ->
              (if (jobs > 0) (wall - v("tasks.run_s") / slots) / jobs else 0.0),
            "scan.rows_per_cpu_s" ->
              (if (v("tasks.cpu_s") > 0) v("scan.rows") / v("tasks.cpu_s") else 0.0),
            "sources.probe_vs_scan" ->
              (if (v("sources.scan_s") > 0) v("sources.probe_s") / v("sources.scan_s") else 0.0))
        }
      // operators hand cache ownership to the caller: no pass reads
      // another's, and every pass starts from a collected heap
      spark.catalog.clearCache()
      System.gc()
      Pass(wall, runs.map(_._1), layers, runs.collect { case (r, row) if traced => r -> row })
    }

    // warm passes (JIT, codegen cache, memoized state) are checked but
    // neither timed as set-up nor as a pass
    val warmPasses = Seq.fill(WarmPasses)(pass(traced = false))
    val timed = Seq.newBuilder[Pass]
    val start = System.nanoTime()
    // whole passes while the next one is expected to end inside the window,
    // and at least two, so no median rests on one pass. Traced runs
    // measure the tracing overhead on at least two plain and two traced
    // passes, in the order plain, traced, traced, plain, so that passes
    // still speeding up favour neither side
    var i = 0
    var last = 0.0
    var liveHeapMb = 0.0
    while (i < (if (args.trace) 4 else 2) || seconds(start) + last <= args.seconds) {
      val t = System.nanoTime()
      timed += pass(traced = args.trace && (i % 4 == 1 || i % 4 == 2))
      last = seconds(t)
      if (i == 0) liveHeapMb = settledHeapMb()
      i += 1
    }
    val passes = timed.result()
    val canaryEnd = (BenchContract.canarySeconds(), BenchContract.canaryMtSeconds(cores))
    spark.stop()

    val all = (warmPasses ++ passes).flatMap(_.ops)
    val failed = all.count(!_.ok)
    val okTimed = passes.flatMap(_.ops).filter(_.ok).map(_.seconds)
    val plain = passes.filter(_.layers.isEmpty)
    val traced = passes.filter(_.layers.nonEmpty)
    def fmt(x: Double) = java.lang.Double.toString(x)

    println(f"canary start single=${canaryStart._1}%.4f mt=${canaryStart._2}%.4f threads=$cores")
    println(f"canary end   single=${canaryEnd._1}%.4f mt=${canaryEnd._2}%.4f threads=$cores")
    println(s"setup_s=${fmt(setupS)} warm_passes_s=${warmPasses.map(p => fmt(p.wall)).mkString(",")}")
    println(s"passes timed=${passes.size} traced=${traced.size} slots=$slots ops_per_pass=${ops.size}" +
      s" op_samples=${okTimed.size} walls_s=${passes.map(p => f"${p.wall}%.3f").mkString(",")}")
    println(s"fail_ratio ${fmt(Stats.failRatio(failed, all.size))} ($failed of ${all.size} ops)")
    all.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      println(f"op $n%-28s median_s=${Stats.median(rs.map(_.seconds))}%.4f runs=${rs.size}" +
        s" failed=${rs.count(!_.ok)}")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) {
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", Stats.median(plain.map(_.wall)), "s"),
          ("op_p50_s", if (okTimed.isEmpty) 0.0 else Stats.quantile(okTimed, 0.5), "s"),
          ("op_p90_s", if (okTimed.isEmpty) 0.0 else Stats.quantile(okTimed, 0.9), "s"),
          ("live_heap_mb", liveHeapMb, "MB"))
      } else {
        traced.last.rows.foreach { case (run, row) =>
          println(f"ledger ${run.name}%-24s wall_s=${run.seconds}%.3f " + Ledger.RowKeys.map(k =>
            s"$k=${BigDecimal(row.getOrElse(k, 0.0)).setScale(3, BigDecimal.RoundingMode.HALF_UP)}")
            .mkString(" "))
        }
        val overhead = Stats.median(traced.map(_.wall)) / Stats.median(plain.map(_.wall)) - 1
        LayerUnits.map { case (k, unit) =>
          val v = if (k == "trace.overhead") overhead
            else Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))
          (k, v, unit)
        }
      }
    metrics.foreach { case (k, v, u) => println(s"metric $k ${fmt(v)} $u") }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, """ +
      s""""metrics": {$body}}""")
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Heap in use once unreferenced Spark state is gone. Each round
    * collects, then gives the context cleaner time to drop the blocks and
    * shuffles the collection released. The lowest of four readings
    * counts: one reading after two collections found twice the settled
    * heap in one run of ten.
    */
  private def settledHeapMb(): Double =
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}
