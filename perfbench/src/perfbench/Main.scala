package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--cores C]`.
  *
  * Prints `# `-prefixed report lines, then one JSON line with
  * `correct`, `attempted`, `failed` and every metric of the mode:
  * the end-to-end metrics untraced, the per-layer metrics traced.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms", "rss_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.extract_s" -> "s", "sources.extractor_busy_ms" -> "ms", "sources.pdf_bytes" -> "bytes",
    "sources.pages" -> "count", "sources.paragraphs" -> "count",
    "scorer.relevance_calls" -> "count", "scorer.relevance_busy_ms" -> "ms",
    "scorer.qa_calls" -> "count", "scorer.qa_busy_ms" -> "ms",
    "relevance.s" -> "s", "relevance.pairs_in" -> "count", "relevance.pairs_kept" -> "count",
    "relevance.keep_ratio" -> "ratio", "relevance.plumbing_ms" -> "ms",
    "kpipost.s" -> "s", "kpipost.points_in" -> "count", "kpipost.rows_out" -> "count",
    "kpipost.shuffle_bytes" -> "bytes", "kpipost.cache_entries_left" -> "count",
    "pipeline.publish_s" -> "s", "pipeline.catalog_s" -> "s", "pipeline.files_written" -> "count",
    "pipeline.bytes_written" -> "bytes", "pipeline.table_files" -> "count", "pipeline.skip_s" -> "s",
    "pipeline.rows_skipped" -> "count",
    "sql.plan_ms_p50" -> "ms", "sql.exec_ms_p50" -> "ms", "sql.driver_gap_ms_p50" -> "ms",
    "sql.jobs_per_query" -> "count", "sql.tasks_per_query" -> "count", "sql.files_per_query" -> "count",
    "sql.bytes_scanned_per_query" -> "bytes",
    "spark.session_start_s" -> "s", "spark.sql_execs" -> "count", "spark.jobs" -> "count",
    "spark.tasks" -> "count", "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.busy_frac" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.failed_tasks" -> "count", "spark.cached_blocks_left" -> "count",
    "trace.overhead_frac" -> "ratio", "trace.layer_sum_frac" -> "ratio", "error_rate" -> "ratio")

  val Workloads: Seq[String] = Seq("pdf_batch", "dashboard", "ingest_inc")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File, cores: Int)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", new File(need("work")),
      kv.getOrElse("cores", "4").toInt)
  }

  /** GraftSession.local's settings, with every path inside `work`. */
  def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ") + "}}"

  def main(args: Array[String]): Unit = {
    val o        = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark    = session(o.work, o.cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    try {
      Trace.init(spark, s"${o.workload}-${o.seed}-${if (o.trace) 1 else 0}")
      val ctx = new Ctx(spark, o.work, o.seed, Trace.counters(spark.sparkContext))
      val wl: Workload = o.workload match {
        case "pdf_batch"  => new PdfBatch(ctx)
        case "dashboard"  => new Dashboard(ctx)
        case "ingest_inc" => new IngestInc(ctx)
      }
      // set-up runs once: a process pays it once, and a second in-process
      // round would be warm and cost 3-8 s of every run's budget
      val t0     = System.nanoTime()
      wl.setup()
      val setupS = sessionS + (System.nanoTime() - t0) / 1e9
      println(s"# setup session_s=$sessionS " + ctx.steps.map { case (k, v) => s"${k}_s=$v" }.mkString(" "))

      Trace.window = o.trace
      val w0      = System.nanoTime()
      val m       = wl.measure(o.seconds, o.trace)
      val windowS = (System.nanoTime() - w0) / 1e9
      Trace.drain()
      Trace.window = false
      val rss     = rssPeakMb()
      val blocks  = ctx.cachedBlocks
      wl.check()

      val e2e = m.e2e ++ Map("setup_s" -> setupS, "rss_peak_mb" -> rss)
      val layers: Map[String, Double] =
        if (!o.trace) Map.empty
        else {
          val wh = Trace.whole
          PerLayer.map(_._1 -> 0.0).toMap ++ m.layers ++ Map(
            "spark.session_start_s"     -> sessionS,
            "spark.sql_execs"           -> wh.sqlExecs.toDouble,
            "spark.jobs"                -> wh.jobs.toDouble,
            "spark.tasks"               -> wh.tasks.toDouble,
            "spark.executor_run_ms"     -> wh.runMs.toDouble,
            "spark.executor_cpu_ms"     -> wh.cpuNs / 1e6,
            "spark.gc_ms"               -> wh.gcMs.toDouble,
            "spark.busy_frac"           -> wh.runMs / (windowS * 1000 * o.cores),
            "spark.shuffle_write_bytes" -> wh.shuffleWrite.toDouble,
            "spark.spill_bytes"         -> wh.spill.toDouble,
            "spark.failed_tasks"        -> wh.failedTasks.toDouble,
            "spark.cached_blocks_left"  -> blocks.toDouble,
            "trace.overhead_frac"       -> m.overheadFrac,
            "error_rate"                -> (if (ctx.attempted > 0) ctx.failed.toDouble / ctx.attempted else 0.0))
        }
      val chosen = if (o.trace) PerLayer else EndToEnd
      val values = chosen.map { case (n, u) => (n, (if (o.trace) layers else e2e).getOrElse(n, Double.NaN), u) }
      values.filterNot(_._2.isFinite).foreach { case (n, _, _) => ctx.check(ok = false, s"metric $n was not measured") }

      m.report.foreach { case (n, v, u) => println(s"# ${o.workload} $n = $v $u") }
      println(s"# ${o.workload} error_rate = ${if (ctx.attempted > 0) ctx.failed.toDouble / ctx.attempted else 0.0} " +
        s"(${ctx.failed} of ${ctx.attempted})")
      ctx.notes.foreach(n => println(s"# FAILED $n"))
      if (o.trace) Trace.writeSpans(new File(o.work.getParentFile, s"spans-${o.workload}-${o.seed}.jsonl"))
      println(json(ctx.failed == 0, math.max(ctx.attempted, 1L), ctx.failed,
        values.map { case (n, v, u) => (n, if (v.isFinite) v else 0.0, u) }))
    } finally spark.stop()
  }
}
