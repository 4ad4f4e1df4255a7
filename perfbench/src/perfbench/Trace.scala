package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.scorer.{QaCandidate, QaScorer, RelevanceScorer}
import graft.sources.PdfSource.PdfTextExtractor

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.LongAccumulator

/** Spans and counters recorded by the benchmark around its calls into
  * graft's layers. Nothing is recorded while [[on]] is false, so the
  * timed runs pay only a volatile read per event. A span's layer is the
  * part of its name before the first dot; jobs started inside a span
  * carry that layer as a local property, so the listener can charge
  * executor time, shuffle and spill to it.
  */
object Trace {
  val LayerProp = "perfbench.layer"

  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long, run: String) {
    def layer: String = name.takeWhile(_ != '.')
    def ns: Long      = endNs - startNs
  }

  /** Per-operation recording: spans and per-layer task metrics. */
  @volatile var on = false
  /** Whole-window recording: the spark.* totals of the traced run. Jobs
    * of a traced query (see [[QueryProp]]) are recorded in either mode.
    */
  @volatile var window = false

  private var runId = ""
  private var sc: SparkContext = _
  private val ids      = new AtomicLong(0)
  private val pending  = new ConcurrentLinkedQueue[Span]()
  private val written  = new ConcurrentLinkedQueue[Span]()
  private val parents  = ThreadLocal.withInitial[List[Long]](() => Nil)

  def init(spark: SparkSession, run: String): Unit = {
    sc = spark.sparkContext
    runId = run
    sc.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id     = ids.incrementAndGet()
      val up     = parents.get
      val before = sc.getLocalProperty(LayerProp)
      parents.set(id :: up)
      sc.setLocalProperty(LayerProp, name.takeWhile(_ != '.'))
      val t0 = System.nanoTime()
      try body
      finally {
        val s = Span(id, up.headOption.getOrElse(0L), name, t0, System.nanoTime(), runId)
        pending.add(s); written.add(s)
        parents.set(up)
        sc.setLocalProperty(LayerProp, before)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.sql.perfbench.Bus.drain(sc)

  /** Spans recorded since the last call. */
  def takeSpans(): Vector[Span] = {
    val b = Vector.newBuilder[Span]
    var s = pending.poll()
    while (s != null) { b += s; s = pending.poll() }
    b.result()
  }

  /** Self time per span id: its duration minus the part of it that its
    * children cover.
    */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach   = Long.MinValue
      cs.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.id -> (s.ns - covered)
    }.toMap
  }

  /** Self seconds per layer over `spans`. */
  def layerSelfS(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  /** Self seconds per span name over `spans`. */
  def nameSelfS(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  /** Write every span as one JSON object per line. */
  def writeSpans(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try written.asScala.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"run":"${s.run}"}""")
    } finally w.close()
  }

  // ---- task metrics -----------------------------------------------------

  final class Agg {
    var jobs, tasks, failedTasks, runMs, cpuNs, gcMs, shuffleWrite, spill, bytesRead, bytesWritten, rowsWritten = 0L
    var sqlExecs = 0L
    def add(m: org.apache.spark.executor.TaskMetrics, failed: Boolean): Unit = {
      tasks += 1
      if (failed) failedTasks += 1
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        bytesRead += m.inputMetrics.bytesRead
        bytesWritten += m.outputMetrics.bytesWritten
        rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** The SQL executions of one traced query: their jobs' [start, end]
    * (epoch ms), tasks, bytes read and execution time.
    */
  final class ExecRec {
    var jobs, tasks, bytesRead, execMs = 0L
    val intervals              = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    /** Milliseconds covered by the union of the job intervals. */
    def jobMs: Long = {
      var total = 0L
      var reach = Long.MinValue
      intervals.filter(_._2 >= 0).sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { total += b - from; reach = b }
      }
      total
    }
  }

  /** Local property naming the traced query a job runs for. */
  val QueryProp = "perfbench.query"

  private val lock       = new Object
  private val layers     = scala.collection.mutable.Map.empty[String, Agg]
  private val queries    = scala.collection.mutable.Map.empty[Long, ExecRec]
  private val execQuery  = scala.collection.mutable.Map.empty[Long, Long]
  private val execStart  = scala.collection.mutable.Map.empty[Long, Long]
  val whole              = new Agg
  private val stageKey   = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobQuery   = new ConcurrentHashMap[Int, (Long, Int)]()

  /** Per-layer aggregates since the last call, then reset. */
  def takeLayers(): Map[String, Agg] = lock.synchronized {
    val m = layers.toMap; layers.clear(); m
  }

  /** The record of traced query `id`, removed. */
  def takeQuery(id: Long): Option[ExecRec] = lock.synchronized(queries.remove(id))

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on || window) lock.synchronized {
      val layer = prop(e.properties, LayerProp).getOrElse("other")
      val query = prop(e.properties, QueryProp).map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageKey.put(s, (layer, query)))
      if (window) whole.jobs += 1
      if (on) layers.getOrElseUpdate(layer, new Agg).jobs += 1
      if (query >= 0) {
        val r = queries.getOrElseUpdate(query, new ExecRec)
        r.jobs += 1
        jobQuery.put(e.jobId, (query, r.intervals.size))
        r.intervals += ((e.time, -1L))
        prop(e.properties, "spark.sql.execution.id").foreach(x => execQuery(x.toLong) = query)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on || window) lock.synchronized {
      Option(jobQuery.remove(e.jobId)).foreach { case (query, i) =>
        queries.get(query).foreach { r =>
          if (i < r.intervals.size) r.intervals(i) = (r.intervals(i)._1, e.time)
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on || window) lock.synchronized {
      val failed         = e.reason != Success
      val (layer, query) = Option(stageKey.get(e.stageId)).getOrElse(("other", -1L))
      if (window) whole.add(e.taskMetrics, failed)
      if (on) layers.getOrElseUpdate(layer, new Agg).add(e.taskMetrics, failed)
      if (query >= 0) {
        val r = queries.getOrElseUpdate(query, new ExecRec)
        r.tasks += 1
        if (e.taskMetrics != null) r.bytesRead += e.taskMetrics.inputMetrics.bytesRead
      }
    }

    // an execution's jobs run between its start and end events, so the
    // start is kept until the end shows which traced query it served
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (on || window) e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized(execStart(s.executionId) = s.time)
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        val start = execStart.remove(s.executionId)
        for (q <- execQuery.remove(s.executionId); t0 <- start; r <- queries.get(q)) r.execMs += s.time - t0
      }
      case _ =>
    }
  }

  /** Counts the window's SQL actions (top-level executions). */
  object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (window) lock.synchronized(whole.sqlExecs += 1)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (window) lock.synchronized(whole.sqlExecs += 1)
  }

  // ---- timing delegates around graft's public seams ----------------------

  /** Accumulators the delegates add to on the executors. */
  final case class Counters(
      extractCalls: LongAccumulator, extractNs: LongAccumulator, pdfBytes: LongAccumulator,
      pages: LongAccumulator, relCalls: LongAccumulator, relNs: LongAccumulator,
      relRows: LongAccumulator, qaCalls: LongAccumulator, qaNs: LongAccumulator,
      qaRows: LongAccumulator) {
    private def all = productIterator.map(_.asInstanceOf[LongAccumulator])
    def reset(): Unit = all.foreach(_.reset())
  }

  def counters(sc: SparkContext): Counters = {
    def acc(n: String) = sc.longAccumulator("perfbench." + n)
    Counters(acc("extract_calls"), acc("extract_ns"), acc("pdf_bytes"), acc("pages"),
      acc("rel_calls"), acc("rel_ns"), acc("rel_rows"), acc("qa_calls"), acc("qa_ns"), acc("qa_rows"))
  }

  final class TimedExtractor(inner: PdfTextExtractor, c: Counters) extends PdfTextExtractor {
    def extractPages(fileName: String, bytes: Array[Byte]): Seq[String] = {
      val t0  = System.nanoTime()
      val out = inner.extractPages(fileName, bytes)
      c.extractNs.add(System.nanoTime() - t0)
      c.extractCalls.add(1)
      c.pdfBytes.add(if (bytes == null) 0 else bytes.length)
      c.pages.add(out.size)
      out
    }
  }

  final class TimedRelevance(inner: RelevanceScorer, c: Counters) extends RelevanceScorer {
    def scoreBatch(batch: Iterator[(Long, String, String)]): Iterator[(Long, Double)] = {
      val t0  = System.nanoTime()
      val out = inner.scoreBatch(batch).toArray
      c.relNs.add(System.nanoTime() - t0)
      c.relCalls.add(1)
      c.relRows.add(out.length)
      out.iterator
    }
  }

  final class TimedQa(inner: QaScorer, c: Counters) extends QaScorer {
    def scoreBatch(batch: Iterator[(Long, String, String)]): Iterator[(Long, Seq[QaCandidate])] = {
      val t0  = System.nanoTime()
      val out = inner.scoreBatch(batch).toArray
      c.qaNs.add(System.nanoTime() - t0)
      c.qaCalls.add(1)
      c.qaRows.add(out.length)
      out.iterator
    }
  }
}
