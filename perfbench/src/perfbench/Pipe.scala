package perfbench

import java.io.File

import graft.ops.{KpiPost, MlPipelines, Relevance}
import graft.scorer.{LogisticQaScorer, LogisticRelevanceScorer}
import graft.sources.{PdfSource, SimplePdfExtractor}

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The trained heads every workload scores with. */
final case class Heads(relModel: PipelineModel, rel: LogisticRelevanceScorer, qa: LogisticQaScorer)

object Heads {
  val MaxIter = 5

  def train(spark: SparkSession, seed: Long): Heads = {
    import spark.implicits._
    val relModel = MlPipelines.trainRelevanceClassifier(
      Corpus.relevanceTraining(seed).toDF("text", "label"), maxIter = MaxIter)
    val qaModel = MlPipelines.trainRelevanceClassifier(
      Corpus.qaTraining(seed).toDF("text", "label"), maxIter = MaxIter)
    Heads(relModel, LogisticRelevanceScorer.fromModel(relModel),
      new LogisticQaScorer(LogisticRelevanceScorer.fromModel(qaModel)))
  }
}

/** The paper's inference chain over graft's public functions:
  * PDF scan → question×paragraph pairs → relevance filter → KPI chain.
  * Untraced, each call only builds a lazy plan and the whole chain runs
  * inside the consumer's action. Traced with `materialize`, each stage
  * is persisted and counted inside its own span so its wall time can be
  * attributed; the harness releases those persists itself.
  */
final class Pipe(spark: SparkSession, heads: Heads, counters: Trace.Counters) {
  val Threshold = 0.7
  val TopK      = 4

  lazy val questions: DataFrame = {
    import spark.implicits._
    Corpus.Kpis.map(k => (k.question, k.id)).toDF("question", "kpi_id")
  }

  private val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Rows out of each materialized stage, by layer. */
  val counts = scala.collection.mutable.Map.empty[String, Long]

  private def stage(layer: String, df: DataFrame, materialize: Boolean): DataFrame =
    if (!materialize) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      counts(layer) = p.count()
      owned += p
      p
    }

  /** Unpersist what [[stage]] persisted (never the library's own caches). */
  def release(): Unit = { owned.foreach(_.unpersist(blocking = true)); owned.clear(); counts.clear() }

  def paragraphs(dir: File, glob: String, traced: Boolean, materialize: Boolean): DataFrame =
    Trace.span("sources.extract") {
      val ext = if (traced) new Trace.TimedExtractor(new SimplePdfExtractor, counters) else new SimplePdfExtractor
      stage("sources", PdfSource.readPdfParagraphs(spark, dir.getAbsolutePath, ext, glob = glob), materialize)
    }

  def relevant(paras: DataFrame, traced: Boolean, materialize: Boolean): DataFrame =
    Trace.span("relevance.filter") {
      val scorer = if (traced) new Trace.TimedRelevance(heads.rel, counters) else heads.rel
      val pairs = Relevance.questionParagraphPairs(paras, questions)
        .withColumn("key", xxhash64(col("pdf_name"), col("page"), col("text"), col("text_b")))
      stage("relevance", Relevance.relevantPairs(pairs, scorer, "key", Threshold), materialize)
    }

  def kpi(relevant: DataFrame, traced: Boolean, materialize: Boolean): DataFrame =
    Trace.span("kpipost.chain") {
      val scorer = if (traced) new Trace.TimedQa(heads.qa, counters) else heads.qa
      stage("kpipost", KpiPost.kpiChain(relevant, scorer, questions, "key", TopK), materialize)
    }

  /** All three stages over the PDFs in `dir` matching `glob`. */
  def chain(dir: File, glob: String, traced: Boolean, materialize: Boolean): DataFrame =
    kpi(relevant(paragraphs(dir, glob, traced, materialize), traced, materialize), traced, materialize)
}

/** Published KPI-answer columns in a fixed order, for digests. */
object KpiCols {
  val All: Seq[String] = Seq("pdf_name", "kpi", "kpi_id", "answer", "page", "paragraph", "source",
    "score", "no_ans_score", "no_answer_score_plus_boost")
}
