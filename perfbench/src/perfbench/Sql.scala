package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Runs one dashboard-style SQL query and, when traced, keeps what is
  * needed to split its latency into planning, execution and driver gap.
  */
object Sql extends AdaptiveSparkPlanHelper {

  final case class Stat(query: Long, wallMs: Double, planMs: Double, files: Long)

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-query layer figures, once the listener has seen the query's jobs. */
  final case class Done(planMs: Double, execMs: Double, gapMs: Double,
      jobs: Long, tasks: Long, files: Long, bytes: Long)

  def run(spark: SparkSession, q: String, traced: Boolean): (Array[Row], Double, Option[Stat]) = {
    val sc   = spark.sparkContext
    val id   = ids.incrementAndGet()
    if (traced) sc.setLocalProperty(Trace.QueryProp, id.toString)
    val t0   = System.nanoTime()
    val (df, rows) =
      try { val d = spark.sql(q); (d, d.collect()) }
      finally if (traced) sc.setLocalProperty(Trace.QueryProp, null)
    val ms   = (System.nanoTime() - t0) / 1e6
    val stat =
      if (!traced) None
      else {
        val qe = df.queryExecution
        val plan = qe.tracker.phases.valuesIterator.map(_.durationMs).sum.toDouble
        Some(Stat(id, ms, plan, scanFiles(qe.executedPlan)))
      }
    (rows, ms, stat)
  }

  private def scanFiles(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum

  /** Join a traced query with the listener's record of its execution.
    * Call after [[Trace.drain]].
    */
  def finish(s: Stat): Done = {
    val rec = Trace.takeQuery(s.query).getOrElse(new Trace.ExecRec)
    Done(s.planMs, rec.execMs.toDouble, math.max(0.0, s.wallMs - rec.jobMs), rec.jobs, rec.tasks,
      s.files, rec.bytesRead)
  }

  /** The sql.* per-layer metrics over a set of traced queries. */
  def layerMetrics(ds: Seq[Done]): Map[String, Double] =
    if (ds.isEmpty) Map(
      "sql.plan_ms_p50" -> 0.0, "sql.exec_ms_p50" -> 0.0, "sql.driver_gap_ms_p50" -> 0.0,
      "sql.jobs_per_query" -> 0.0, "sql.tasks_per_query" -> 0.0, "sql.files_per_query" -> 0.0,
      "sql.bytes_scanned_per_query" -> 0.0)
    else {
      def mean(f: Done => Double) = ds.map(f).sum / ds.size
      Map(
        "sql.plan_ms_p50"             -> Stats.median(ds.map(_.planMs)),
        "sql.exec_ms_p50"             -> Stats.median(ds.map(_.execMs)),
        "sql.driver_gap_ms_p50"       -> Stats.median(ds.map(_.gapMs)),
        "sql.jobs_per_query"          -> mean(_.jobs.toDouble),
        "sql.tasks_per_query"         -> mean(_.tasks.toDouble),
        "sql.files_per_query"         -> mean(_.files.toDouble),
        "sql.bytes_scanned_per_query" -> mean(_.bytes.toDouble))
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s   = xs.sorted
    val pos = q * (s.size - 1)
    val lo  = pos.toInt
    val hi  = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples needed before the `q` quantile has at least `beyond` samples above it. */
  def samplesFor(q: Double, beyond: Int = 10): Int = math.ceil(beyond / (1.0 - q) - 1e-9).toInt

  /** Whether `n` samples leave at least `beyond` of them above the `q` quantile. */
  def tailSupported(n: Int, q: Double, beyond: Int = 10): Boolean = n - math.ceil(q * n - 1e-9).toInt >= beyond
}
