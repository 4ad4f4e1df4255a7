package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.ops.{Pipeline, Relevance}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, xxhash64}

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val counters: Trace.Counters) {
  var attempted = 0L
  var failed    = 0L
  val notes     = ArrayBuffer.empty[String]

  /** Count one operation; a wrong or failed one counts toward error_rate. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (notes.size < 20) notes += what }
  }

  /** Run `body` as one checked operation; an exception counts as failed. */
  def attempt(what: String)(body: => Boolean): Unit =
    check(try body catch { case NonFatal(e) => notes += s"$what: $e"; false }, what)

  def cacheEntries: Long =
    org.apache.spark.sql.perfbench.Bus.cacheEntries(spark).toLong

  def cachedBlocks: Long = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  /** Seconds spent in each named set-up step. */
  val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally steps(name) = steps.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** What one measurement window produced. `e2e` are the end-to-end
  * metrics, `report` the paper-unit figures printed beside them, and
  * `layers` the per-layer metrics of the traced operations.
  */
final case class Measured(e2e: Map[String, Double], report: Seq[(String, Double, String)],
    layers: Map[String, Double], overheadFrac: Double)

trait Workload {
  /** Everything before the timed window: inputs, training, published tables. */
  def setup(): Unit
  /** Run for `seconds`. When `traced`, alternate traced and untraced operations. */
  def measure(seconds: Double, traced: Boolean): Measured
  /** Output checks that run outside the timed window. */
  def check(): Unit
}

object Workload {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
    f.delete(): Unit
  }

  /** Data files (not checksums or markers) under `dir`. */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else Files.walk(dir.toPath).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  /** S8 publish as `Pipeline.runInference` does it: drop, clear the managed location, write ORC. */
  def publishOrc(spark: SparkSession, df: DataFrame, table: String): Unit = {
    Trace.span("pipeline.catalog") {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      rm(tableDir(spark, table))
    }
    Trace.span("pipeline.publish")(df.write.format("orc").mode("overwrite").saveAsTable(table))
  }

  def tableDir(spark: SparkSession, table: String): File =
    new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, table.toLowerCase)

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Median per key over per-operation metric maps. */
  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.flatMap(_.get(k)))).toMap

  def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0 else median(traced) / median(untraced) - 1.0

  /** Per-layer figures of one traced pipeline operation, read after a drain. */
  def pipelineLayers(c: Ctx, spans: Seq[Trace.Span], counts: Map[String, Long],
      tableFiles: Seq[File], filesBefore: Set[String], queries: Seq[Sql.Done]): Map[String, Double] = {
    val layers = Trace.takeLayers()
    val self   = Trace.layerSelfS(spans)
    val byName = Trace.nameSelfS(spans)
    val k      = c.counters
    def agg(l: String) = layers.getOrElse(l, new Trace.Agg)
    val root   = spans.filter(_.parent == 0L)
    val wall   = root.map(_.ns).sum / 1e9
    val inLayers = Seq("sources", "relevance", "kpipost", "pipeline").map(self.getOrElse(_, 0.0)).sum
    val pairsIn = k.relRows.value.toDouble
    val kept    = counts.get("relevance").map(_.toDouble).getOrElse(k.qaRows.value.toDouble)
    Map(
      "sources.extract_s"            -> self.getOrElse("sources", 0.0),
      "sources.extractor_busy_ms"    -> k.extractNs.value / 1e6,
      "sources.pdf_bytes"            -> k.pdfBytes.value.toDouble,
      "sources.pages"                -> k.pages.value.toDouble,
      "sources.paragraphs"           -> counts.getOrElse("sources", pairsIn.toLong / Corpus.Kpis.size).toDouble,
      "scorer.relevance_calls"       -> k.relCalls.value.toDouble,
      "scorer.relevance_busy_ms"     -> k.relNs.value / 1e6,
      "scorer.qa_calls"              -> k.qaCalls.value.toDouble,
      "scorer.qa_busy_ms"            -> k.qaNs.value / 1e6,
      "relevance.s"                  -> self.getOrElse("relevance", 0.0),
      "relevance.pairs_in"           -> pairsIn,
      "relevance.pairs_kept"         -> kept,
      "relevance.keep_ratio"         -> (if (pairsIn > 0) kept / pairsIn else 0.0),
      "relevance.plumbing_ms"        -> math.max(0.0, agg("relevance").runMs - k.relNs.value / 1e6),
      "kpipost.s"                    -> self.getOrElse("kpipost", 0.0),
      "kpipost.points_in"            -> k.qaRows.value.toDouble,
      "kpipost.rows_out"             -> counts.get("kpipost").map(_.toDouble).getOrElse(agg("pipeline").rowsWritten.toDouble),
      "kpipost.shuffle_bytes"        -> (agg("kpipost").shuffleWrite + agg("pipeline").shuffleWrite).toDouble,
      "kpipost.cache_entries_left"   -> c.cacheEntries.toDouble,
      "pipeline.publish_s"           -> byName.getOrElse("pipeline.publish", 0.0),
      "pipeline.catalog_s"           -> byName.getOrElse("pipeline.catalog", 0.0),
      "pipeline.skip_s"              -> byName.getOrElse("pipeline.skip", 0.0),
      "pipeline.files_written"       -> tableFiles.count(f => !filesBefore.contains(f.getPath)).toDouble,
      "pipeline.bytes_written"       -> agg("pipeline").bytesWritten.toDouble,
      "pipeline.table_files"         -> tableFiles.size.toDouble,
      "trace.layer_sum_frac"         -> (if (wall > 0) inLayers / wall else 0.0)
    ) ++ Sql.layerMetrics(queries)
  }
}

import Workload._

/** The paper's own job: the whole corpus through one pass per
  * operation, PDFs to the demo2 answer distribution.
  */
final class PdfBatch(c: Ctx) extends Workload {
  val NDocs     = 48
  val MinTimed  = 3
  /** Untimed passes in set-up: a batch service is warm before its work arrives. */
  val WarmPasses = 2
  private val spark = c.spark
  private val dir   = new File(c.work, "pdf_batch/pdfs")
  private val table = "kpi_answers_batch"
  private var docs: Vector[Corpus.Doc] = Vector.empty
  private var heads: Heads             = _
  private var pipe: Pipe               = _
  private val answers = ArrayBuffer.empty[Map[String, Long]]

  def setup(): Unit = {
    rm(dir)
    docs = c.step("generate")(Corpus.writeDocs(c.seed, 0, NDocs, dir))
    heads = c.step("train")(Heads.train(spark, c.seed))
    pipe = new Pipe(spark, heads, c.counters)
    c.step("warm")((1 to WarmPasses).foreach(_ => answers += pass(traced = false)._1))
  }

  private def pass(traced: Boolean): (Map[String, Long], Double, Option[Sql.Stat]) = {
    val kpi = pipe.chain(dir, "*.pdf", traced, materialize = traced)
    publishOrc(spark, kpi, table)
    val (rows, ms, stat) = Trace.span("pipeline.read") {
      Sql.run(spark, s"SELECT answer, COUNT(*) AS n FROM $table GROUP BY answer ORDER BY answer", traced)
    }
    (rows.map(r => r.getString(0) -> r.getLong(1)).toMap, ms, stat)
  }

  def measure(seconds: Double, traced: Boolean): Measured = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val walls, tracedWalls, queryMs = ArrayBuffer.empty[Double]
    val snaps = ArrayBuffer.empty[Map[String, Double]]
    var i = 0
    while (i < MinTimed || System.nanoTime() < deadline) {
      val tr = traced && i % 2 == 1
      if (tr) { Trace.drain(); Trace.takeSpans(); Trace.takeLayers(); c.counters.reset(); Trace.on = true }
      val t0 = System.nanoTime()
      try {
        val (agg, ms, stat) = Trace.span("pdf_batch.pass")(pass(tr))
        val wall = (System.nanoTime() - t0) / 1e9
        answers += agg
        (if (tr) tracedWalls else walls) += wall
        queryMs += ms
        if (tr) {
          Trace.drain(); Trace.on = false
          val counts = pipe.counts.toMap
          pipe.release()
          snaps += pipelineLayers(c, Trace.takeSpans(), counts,
            dataFiles(tableDir(spark, table)), Set.empty, stat.map(Sql.finish).toSeq)
        }
      } catch {
        case NonFatal(e) => c.check(ok = false, s"pdf_batch pass $i: $e"); Trace.on = false; pipe.release()
      }
      i += 1
    }
    val w      = median(walls.toSeq)
    val points = docs.map(_.paras.size).sum.toDouble * Corpus.Kpis.size
    println(s"# pdf_batch pass_s=${walls.map(x => f"$x%.3f").mkString(",")}")
    Measured(
      e2e = Map("throughput_per_s" -> points / w, "latency_p50_ms" -> w * 1000),
      report = Seq(
        ("pdfs_per_s", docs.size / w, "1/s"),
        ("points_per_s", points / w, "1/s"),
        ("fresh_p50_s", w, "s"),
        ("query_p50_ms", median(queryMs.toSeq), "ms"),
        ("passes", walls.size.toDouble, "count")),
      layers = medians(snaps.toSeq),
      overheadFrac = overhead(tracedWalls.toSeq, walls.toSeq))
  }

  def check(): Unit = {
    val expected = Oracle.answerCounts(Oracle.kpiRows(docs, heads.rel, heads.qa, pipe.Threshold, pipe.TopK).values.flatten)
    answers.zipWithIndex.foreach { case (a, i) =>
      c.check(a == expected, s"pdf_batch pass $i: answer distribution differs from the plain-Scala pipeline")
    }
    c.attempt("pdf_batch extraction") {
      Oracle.collectParagraphs(pipe.paragraphs(dir, "*.pdf", traced = false, materialize = false)) ==
        Oracle.paragraphs(docs)
    }
    c.attempt("pdf_batch relevance vs MLlib")(Oracle.relevanceMatchesMllib(spark, docs, heads.relModel, heads.rel, c.seed))
  }
}

/** Superset-style charts: a closed loop of [[Clients]] clients, each
  * waiting for its reply before sending the next query, over the
  * published KPI answers, the larger scored-pairs table and a company
  * dim. Each client cycles through the chart templates; their
  * parameters are Zipf-skewed, so some queries repeat and some are
  * unique. The window runs until it has the 200 samples a p95 with ten
  * samples beyond it needs.
  */
final class Dashboard(c: Ctx) extends Workload {
  val NDocs   = 48
  val Clients = 2
  val Zipf    = 1.1
  private val spark = c.spark
  private val dir   = new File(c.work, "dashboard/pdfs")
  private var docs: Vector[Corpus.Doc] = Vector.empty
  private var heads: Heads             = _
  private var kpiRows: Seq[Oracle.KpiRow] = Nil
  private var pairRows: Seq[(String, Int, Int, Double)] = Nil

  final case class Sample(sql: String, oracle: () => Seq[Seq[Any]], ms: Double,
      rows: Seq[Seq[Any]], stat: Option[Sql.Stat])
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()

  def setup(): Unit = {
    rm(dir)
    docs = c.step("generate")(Corpus.writeDocs(c.seed, 0, NDocs, dir))
    heads = c.step("train")(Heads.train(spark, c.seed))
    val pipe = new Pipe(spark, heads, c.counters)
    c.step("pipeline")(publishOrc(spark, pipe.chain(dir, "*.pdf", traced = false, materialize = false), "kpi_answers"))
    c.step("publish")(publishTables(pipe))
    c.step("collect")(collectRows())
  }

  private def publishTables(pipe: Pipe): Unit = {
    import spark.implicits._
    val pairs = Relevance.questionParagraphPairs(pipe.paragraphs(dir, "*.pdf", false, false), pipe.questions)
      .withColumn("key", xxhash64(col("pdf_name"), col("page"), col("text"), col("text_b")))
    val scored = Relevance.scoreRelevance(pairs, heads.rel, "key")
      .join(broadcast(pipe.questions.withColumnRenamed("question", "text")), "text")
      .select("pdf_name", "page", "kpi_id", "prob")
    publishParquet(scored.repartition(8), "scored_pairs")
    publishParquet(docs.map(d => (d.name, d.company, d.sector, d.country))
      .toDF("pdf_name", "company", "sector", "country"), "company_dim")
  }

  private def collectRows(): Unit = {
    kpiRows = spark.table("kpi_answers").select("pdf_name", "kpi_id", "answer", "score", "page").collect()
      .map(r => Oracle.KpiRow(r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3), r.getInt(4))).toSeq
    pairRows = spark.table("scored_pairs").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
  }

  private def publishParquet(df: DataFrame, table: String): Unit = {
    val path = new File(c.work, s"dashboard/tables/$table").getAbsolutePath
    df.write.mode("overwrite").parquet(path)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table USING PARQUET LOCATION '$path'")
  }

  // ---- query templates with their plain-Scala recomputations -----------

  private lazy val pdfOrder     = shuffled(docs.map(_.name), 1)
  private lazy val kpiOrder     = shuffled(Corpus.Kpis.map(_.id), 2)
  private lazy val countryOrder = shuffled(Corpus.Countries, 3)
  private def shuffled[T](xs: Seq[T], salt: Int): Vector[T] = {
    val l = new java.util.ArrayList[T](xs.size); xs.foreach(l.add)
    java.util.Collections.shuffle(l, new java.util.Random(c.seed * 7 + salt))
    (0 until l.size).map(l.get).toVector
  }
  private def zipf[T](r: java.util.Random, xs: Vector[T]): T = {
    val w = xs.indices.map(i => 1.0 / math.pow(i + 1, Zipf))
    var u = r.nextDouble() * w.sum
    xs.indices.find { i => u -= w(i); u < 0 }.map(xs).getOrElse(xs.last)
  }

  private def sector(pdf: String): String = docs.find(_.name == pdf).get.sector
  private def avg(xs: Seq[Double]): Any = if (xs.isEmpty) null else xs.sum / xs.size

  private val Templates: Vector[java.util.Random => (String, () => Seq[Seq[Any]])] = Vector(
    _ => ("SELECT answer, COUNT(*) AS n FROM kpi_answers GROUP BY answer ORDER BY answer",
      () => kpiRows.groupBy(_.answer).toSeq.sortBy(_._1).map { case (a, rs) => Seq(a, rs.size.toLong) }),
    r => {
      val p = zipf(r, pdfOrder)
      (s"SELECT kpi_id, COUNT(*) AS n, SUM(score) AS s, AVG(score) AS a FROM kpi_answers " +
        s"WHERE pdf_name = '$p' GROUP BY kpi_id ORDER BY kpi_id",
        () => kpiRows.filter(_.pdf == p).groupBy(_.kpiId).toSeq.sortBy(_._1).map { case (k, rs) =>
          Seq(k.toLong, rs.size.toLong, rs.map(_.score).sum, rs.map(_.score).sum / rs.size) })
    },
    r => {
      val k = zipf(r, kpiOrder); val ctry = zipf(r, countryOrder)
      (s"SELECT d.sector, COUNT(k.answer) AS n, AVG(k.score) AS a FROM company_dim d LEFT JOIN " +
        s"(SELECT * FROM kpi_answers WHERE kpi_id = $k) k ON d.pdf_name = k.pdf_name " +
        s"WHERE d.country = '$ctry' GROUP BY d.sector ORDER BY d.sector",
        () => docs.filter(_.country == ctry).groupBy(_.sector).toSeq.sortBy(_._1).map { case (s, ds) =>
          val names = ds.map(_.name).toSet
          val rs    = kpiRows.filter(x => x.kpiId == k && names(x.pdf))
          Seq(s, rs.size.toLong, avg(rs.map(_.score)))
        })
    },
    r => {
      val k = zipf(r, kpiOrder); val n = Vector(5, 10, 20)(r.nextInt(3))
      (s"SELECT pdf_name, answer, score, page FROM kpi_answers WHERE kpi_id = $k " +
        s"ORDER BY score DESC, pdf_name, answer, page LIMIT $n",
        () => kpiRows.filter(_.kpiId == k)
          .sortBy(x => (-x.score, x.pdf, x.answer, x.page)).take(n)
          .map(x => Seq(x.pdf, x.answer, x.score, x.page.toLong)))
    },
    r => {
      val p = zipf(r, pdfOrder)
      (s"SELECT kpi_id, COUNT(*) AS n, AVG(prob) AS a, SUM(CASE WHEN prob >= 0.7 THEN 1 ELSE 0 END) AS kept " +
        s"FROM scored_pairs WHERE pdf_name = '$p' GROUP BY kpi_id ORDER BY kpi_id",
        () => pairRows.filter(_._1 == p).groupBy(_._3).toSeq.sortBy(_._1).map { case (k, rs) =>
          Seq(k.toLong, rs.size.toLong, rs.map(_._4).sum / rs.size, rs.count(_._4 >= 0.7).toLong) })
    },
    r => {
      val k = zipf(r, kpiOrder); val t = Vector(0.5, 0.7, 0.9)(r.nextInt(3))
      (s"SELECT d.sector, COUNT(*) AS n, AVG(s.prob) AS a FROM scored_pairs s JOIN company_dim d " +
        s"ON s.pdf_name = d.pdf_name WHERE s.kpi_id = $k AND s.prob >= $t GROUP BY d.sector ORDER BY d.sector",
        () => pairRows.filter(x => x._3 == k && x._4 >= t).groupBy(x => sector(x._1)).toSeq.sortBy(_._1)
          .map { case (s, rs) => Seq(s, rs.size.toLong, rs.map(_._4).sum / rs.size) })
    }
  )

  private def query(t: Int, r: java.util.Random) = Templates(t)(r)

  def measure(seconds: Double, traced: Boolean): Measured = {
    val minN     = Stats.samplesFor(0.95)
    val t0       = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val done     = new java.util.concurrent.atomic.AtomicInteger(0)
    if (traced) { Trace.drain(); Trace.takeLayers(); Trace.on = true }
    val threads = (0 until Clients).map { id =>
      new Thread(() => {
        val r = new java.util.Random(c.seed * 31 + id)
        var n = 0
        while (System.nanoTime() < deadline || done.get < minN) {
          // traced runs trace every other query, so both kinds see the same warm-up
          val tr = traced && n % 2 == 1
          // templates in turn, so every run has the same chart mix; parameters are Zipf draws
          val (sql, oracle) = query((n + id * Templates.size / Clients) % Templates.size, r)
          n += 1
          try {
            val (rows, ms, stat) = Trace.span("sql.query")(Sql.run(spark, sql, tr))
            samples.add(Sample(sql, oracle, ms, rows.toSeq.map(Oracle.norm), stat))
          } catch { case NonFatal(e) => c.synchronized(c.check(ok = false, s"dashboard query failed: $e")) }
          done.incrementAndGet()
        }
      }, s"perfbench-client-$id")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    Trace.drain(); Trace.on = false
    Trace.takeSpans(); Trace.takeLayers()
    val all  = samples.asScala.toSeq
    val ms   = all.map(_.ms)
    val (tr, untr) = all.partition(_.stat.isDefined)
    Measured(
      e2e = Map("throughput_per_s" -> all.size / wall, "latency_p50_ms" -> median(ms)),
      report = Seq(
        ("queries_per_s", all.size / wall, "1/s"),
        ("query_p50_ms", median(ms), "ms"),
        ("query_p95_ms", if (Stats.tailSupported(ms.size, 0.95)) Stats.quantile(ms, 0.95) else Double.NaN, "ms"),
        ("queries", ms.size.toDouble, "count")),
      layers = Sql.layerMetrics(tr.flatMap(_.stat).map(Sql.finish)) ++ Map("kpipost.cache_entries_left" -> c.cacheEntries.toDouble),
      overheadFrac = overhead(tr.map(_.ms), untr.map(_.ms)))
  }

  def check(): Unit = {
    val expected = scala.collection.mutable.Map.empty[String, Seq[Seq[Any]]]
    samples.asScala.foreach { s =>
      val want = expected.getOrElseUpdate(s.sql, s.oracle())
      c.check(Oracle.sameRows(s.rows, want), s"dashboard result differs from the published rows: ${s.sql}")
    }
    c.attempt("dashboard extraction") {
      Oracle.collectParagraphs(new Pipe(spark, heads, c.counters).paragraphs(dir, "*.pdf", false, false)) ==
        Oracle.paragraphs(docs)
    }
    c.attempt("dashboard relevance vs MLlib")(Oracle.relevanceMatchesMllib(spark, docs, heads.relModel, heads.rel, c.seed))
  }
}

/** One long-lived session over a sequence of small PDF batches. Each
  * batch lands in an inbox, goes through `Pipeline.skipProcessed`, the
  * chain, an append to a partitioned published table with a catalog
  * sync, and one dashboard read that must see it. One PDF per batch
  * after the first is delivered again and must be skipped. Nothing is
  * uncached or collected between batches.
  *
  * Set-up ingests batches 0 to 2 (batch 0 creates the table, the others
  * warm the session); the window times the appends after them. Every batch carries three new PDFs whose page
  * counts are the page-count distribution's tercile midpoints, so
  * batches differ in content and in how large the table has grown, not
  * in size.
  */
final class IngestInc(c: Ctx) extends Workload {
  val PoolDocs    = 96
  val NewPerBatch = 3
  val MinBatches  = 4
  /** Batches ingested in set-up: the first creates the table, the rest warm the session. */
  val SetupBatches = 3
  val BatchPages  = Vector(1.0, 3.0, 5.0).map(k => Corpus.pagesAt(k / 6))
  private val spark   = c.spark
  private val base    = new File(c.work, "ingest_inc")
  private val pool    = new File(base, "pool")
  private val inbox   = new File(base, "inbox")
  private val path    = new File(base, "tables/kpi_answers_inc")
  private val table   = "kpi_answers_inc"
  private var docs: Vector[Corpus.Doc] = Vector.empty
  private var heads: Heads             = _
  private var pipe: Pipe               = _
  private var batches: Vector[Vector[Int]] = Vector.empty

  final case class Batch(names: Seq[String], news: Int, fresh: Double, points: Long,
      seen: Map[String, Long], cacheEntries: Long, cachedBlocks: Long)
  private val done = ArrayBuffer.empty[Batch]

  def setup(): Unit = {
    Seq(pool, inbox, path).foreach(rm)
    docs = c.step("generate")(Corpus.writeDocs(c.seed, 0, PoolDocs, pool, i => BatchPages(i % NewPerBatch)))
    heads = c.step("train")(Heads.train(spark, c.seed))
    pipe = new Pipe(spark, heads, c.counters)
    val r = new java.util.Random(c.seed + 11)
    batches = (0 until PoolDocs / NewPerBatch).map { b =>
      val fresh = (b * NewPerBatch until (b + 1) * NewPerBatch).toVector
      if (b == 0) fresh else fresh :+ r.nextInt(b * NewPerBatch)
    }.toVector
    c.step("first_batches")((0 until SetupBatches).foreach(runBatch(_, traced = false)))
  }

  /** Land batch `b` and ingest it; returns the ingest's query stat. */
  private def runBatch(b: Int, traced: Boolean): Option[Sql.Stat] = {
    val land = new File(inbox, s"batch_$b")
    land.mkdirs()
    batches(b).foreach { i =>
      val f = docs(i).name + ".pdf"
      Files.copy(new File(pool, f).toPath, new File(land, f).toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    val landed = System.nanoTime()
    val (news, seen, stat) = Trace.span("ingest_inc.batch")(ingest(b, traced))
    val fresh  = (System.nanoTime() - landed) / 1e9
    val points = news.map(n => docs.find(_.name == n).get.paras.size.toLong).sum * Corpus.Kpis.size
    done += Batch(batches(b).map(docs(_).name), news.size, fresh, points, seen, c.cacheEntries, c.cachedBlocks)
    stat
  }

  private def ingest(b: Int, traced: Boolean): (Seq[String], Map[String, Long], Option[Sql.Stat]) = {
    val names = batches(b).map(docs(_).name)
    val land  = new File(inbox, s"batch_$b")
    val news = Trace.span("pipeline.skip") {
      val listing = spark.createDataFrame(names.map(Tuple1(_))).toDF("pdf_name")
      Pipeline.skipProcessed(listing, path.getAbsolutePath, "pdf_name").collect().map(_.getString(0)).toSeq
    }
    if (news.nonEmpty) {
      val kpi = pipe.chain(land, news.map(_ + ".pdf").mkString("{", ",", "}"), traced, materialize = false)
      if (!path.exists())
        Trace.span("pipeline.publish") {
          Pipeline.publishParquetPartitionedExternal(spark, kpi, path.getAbsolutePath, table, Seq("pdf_name"))
        }
      else {
        Trace.span("pipeline.publish")(kpi.write.mode("append").partitionBy("pdf_name").parquet(path.getAbsolutePath))
        Trace.span("pipeline.catalog")(spark.sql(s"MSCK REPAIR TABLE $table"))
      }
    }
    val (rows, _, stat) = Trace.span("pipeline.read") {
      Sql.run(spark, s"SELECT pdf_name, COUNT(*) AS n FROM $table WHERE pdf_name IN " +
        names.map(n => s"'$n'").mkString("(", ",", ")") + " GROUP BY pdf_name ORDER BY pdf_name", traced)
    }
    (news, rows.map(r => r.getString(0) -> r.getLong(1)).toMap, stat)
  }

  def measure(seconds: Double, traced: Boolean): Measured = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val snaps    = ArrayBuffer.empty[Map[String, Double]]
    val untracedFresh, tracedFresh = ArrayBuffer.empty[Double]
    var b       = SetupBatches
    val t0      = System.nanoTime()
    while ((b < SetupBatches + MinBatches || System.nanoTime() < deadline) && b < batches.size) {
      val tr     = traced && b % 2 == 0
      val before = dataFiles(path).map(_.getPath).toSet
      if (tr) { Trace.drain(); Trace.takeSpans(); Trace.takeLayers(); c.counters.reset(); Trace.on = true }
      try {
        val stat = runBatch(b, tr)
        (if (tr) tracedFresh else untracedFresh) += done.last.fresh
        if (tr) {
          Trace.drain(); Trace.on = false
          snaps += pipelineLayers(c, Trace.takeSpans(), Map.empty, dataFiles(path), before,
            stat.map(Sql.finish).toSeq) ++ Map("pipeline.rows_skipped" -> (batches(b).size - done.last.news).toDouble)
        }
      } catch { case NonFatal(e) => c.check(ok = false, s"ingest_inc batch $b: $e"); Trace.on = false }
      b += 1
    }
    val wall   = (System.nanoTime() - t0) / 1e9
    val timed  = done.drop(SetupBatches)
    val busy   = timed.map(_.fresh).sum
    val points = timed.map(_.points).sum.toDouble
    val pdfs   = timed.map(_.news).sum.toDouble
    val fresh  = median(untracedFresh.toSeq)
    println(s"# ingest_inc batches=${done.size} window_s=$wall fresh_s=${done.map(b => f"${b.fresh}%.3f").mkString(",")} " +
      s"points=${done.map(_.points).mkString(",")} cache_entries_after_each=" +
      done.map(_.cacheEntries).mkString(",") + " cached_blocks_after_each=" + done.map(_.cachedBlocks).mkString(","))
    Measured(
      e2e = Map("throughput_per_s" -> points / busy, "latency_p50_ms" -> fresh * 1000),
      report = Seq(
        ("pdfs_per_s", pdfs / busy, "1/s"),
        ("points_per_s", points / busy, "1/s"),
        ("fresh_p50_s", fresh, "s"),
        ("batches", done.size.toDouble, "count")),
      layers = medians(snaps.toSeq) ++ Map(
        "pipeline.table_files"       -> dataFiles(path).size.toDouble,
        "kpipost.cache_entries_left" -> c.cacheEntries.toDouble),
      overheadFrac = overhead(tracedFresh.toSeq, untracedFresh.toSeq))
  }

  def check(): Unit = {
    val processed = done.flatMap(_.names).distinct.map(n => docs.find(_.name == n).get).toVector
    val oracle    = Oracle.kpiRows(processed, heads.rel, heads.qa, pipe.Threshold, pipe.TopK)
    done.zipWithIndex.foreach { case (bt, i) =>
      val want = bt.names.map(n => n -> oracle(n).size.toLong).filter(_._2 > 0).toMap
      c.check(bt.seen == want, s"ingest_inc batch $i: the read after the batch saw ${bt.seen}, expected $want")
    }
    // the same PDFs in one shot, outside the timed window
    val once = new File(base, "oneshot")
    rm(once)
    once.mkdirs()
    processed.foreach(d => Files.copy(new File(pool, d.name + ".pdf").toPath, new File(once, d.name + ".pdf").toPath))
    c.attempt("ingest_inc final table vs one-shot run") {
      val oneShot = pipe.chain(once, "*.pdf", traced = false, materialize = false)
      Oracle.digest(spark.table(table), KpiCols.All) == Oracle.digest(oneShot, KpiCols.All)
    }
    c.attempt("ingest_inc extraction") {
      Oracle.collectParagraphs(pipe.paragraphs(once, "*.pdf", false, false)) == Oracle.paragraphs(processed)
    }
    c.attempt("ingest_inc relevance vs MLlib")(Oracle.relevanceMatchesMllib(spark, docs, heads.relModel, heads.rel, c.seed))
  }
}
