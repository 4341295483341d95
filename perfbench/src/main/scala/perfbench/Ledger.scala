package perfbench

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Spark runtime counters for the jobs the benchmark triggers. Jobs
  * submitted while a layer (`engine`, `operators`) builds its DataFrame
  * carry the layer's name in the [[Ledger.PhaseKey]] local property, so
  * construction-time jobs are told apart from the jobs of the final
  * action and counted as `<layer>.build_jobs`.
  */
final class Ledger extends SparkListener {
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("scheduler.jobs") += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.PhaseKey)))
      .foreach(layer => c(s"$layer.build_jobs") += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c("scheduler.stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("scheduler.tasks") += 1
    c("tasks.max_s") = math.max(c("tasks.max_s"), e.taskInfo.duration / 1e3)
    val m = e.taskMetrics
    if (m != null) {
      c("tasks.run_s") += m.executorRunTime / 1e3
      c("tasks.cpu_s") += m.executorCpuTime / 1e9
      c("tasks.gc_s") += m.jvmGCTime / 1e3
      c("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("scan.rows") += m.inputMetrics.recordsRead
      c("scan.bytes") += m.inputMetrics.bytesRead
    }
  }

  /** The counters since the last call, after every pending event landed. */
  def take(spark: SparkSession): Map[String, Double] = {
    ListenerBusAccess.drain(spark.sparkContext)
    synchronized { val out = c.toMap; c.clear(); out }
  }
}

object Ledger {
  val PhaseKey = "perfbench.building"

  /** The columns of a per-op ledger row, as printed. */
  val RowKeys: Seq[String] = Seq("engine.build_s", "engine.build_jobs", "operators.build_s",
    "operators.build_jobs", "plans.plan_s", "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "tasks.run_s",
    "tasks.cpu_s") ++ PlanShape.Keys

  /** Rows summed key by key; the slowest task is a maximum, not a sum. */
  def merge(rows: Seq[Map[String, Double]]): Map[String, Double] =
    rows.flatMap(_.keys).distinct.map { k =>
      val vs = rows.flatMap(_.get(k))
      k -> (if (k == "tasks.max_s") vs.max else vs.sum)
    }.toMap
}

/** Counts of the plan nodes an optimisation is most likely to move, read
  * from a query's executed plan. Adaptive plans are walked through their
  * query stages and subqueries, so after execution the counts describe
  * the final plan that ran.
  */
object PlanShape extends AdaptiveSparkPlanHelper {
  val Keys: Seq[String] = Seq("plans.exchanges", "plans.broadcasts",
    "plans.codegen_stages", "plans.cartesians", "functions.lambda_nodes")

  def of(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def n(f: PartialFunction[SparkPlan, Boolean]) =
      nodes.count(p => f.applyOrElse(p, (_: SparkPlan) => false)).toDouble
    Map(
      "plans.exchanges" -> n { case _: ShuffleExchangeLike => true },
      "plans.broadcasts" -> n { case _: BroadcastExchangeLike => true },
      "plans.codegen_stages" -> n { case _: WholeStageCodegenExec => true },
      "plans.cartesians" -> n { case _: CartesianProductExec => true },
      "functions.lambda_nodes" -> nodes.map(_.expressions
        .map(_.collect { case l: LambdaFunction => l }.size).sum).sum.toDouble)
  }
}

/** Spans around the benchmark's calls into each layer, and each collected
  * op's plan shape. With tracing off every method is a bare call: no
  * timing, no plan walk.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)

  def span[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally sums(layer) += (System.nanoTime() - t0) / 1e9
    }

  /** A span (`<layer>.build_s`) whose Spark jobs count as the layer's
    * construction-time jobs.
    */
  def build[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(Ledger.PhaseKey, layer.takeWhile(_ != '.'))
      try span(layer)(body) finally sc.setLocalProperty(Ledger.PhaseKey, null)
    }

  /** Add `v` to a recorded quantity that is not a time. */
  def add(key: String, v: Double): Unit = if (on) sums(key) += v

  /** Run `df` to the client: plan it (a `plans.plan_s` span), collect it,
    * then count its plan shape.
    */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] =
    if (!on) df.collect()
    else {
      span("plans.plan_s")(df.queryExecution.executedPlan)
      val rows = df.collect()
      PlanShape.of(df.queryExecution.executedPlan).foreach { case (k, v) => sums(k) += v }
      rows
    }

  /** Everything recorded since the last call. */
  def take(): Map[String, Double] = { val out = sums.toMap; sums.clear(); out }
}
