package perfbench

import scala.collection.parallel.CollectionConverters._

import graft.ops.Relevance
import graft.scorer.{LogisticQaScorer, LogisticRelevanceScorer}

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._

/** Plain-Scala recomputations the benchmark checks Spark's outputs
  * against. They call the same trained scorers row by row, so a
  * mismatch points at the Spark plumbing (pairing, filtering, melt,
  * top-k, publish, SQL), not at the model.
  */
object Oracle {

  final case class KpiRow(pdf: String, kpiId: Int, answer: String, score: Double, page: Int)

  /** The pair key the pipeline feeds its scorers: Spark's xxhash64 of
    * (pdf_name, page, question, paragraph), evaluated without a job.
    */
  def pairKey(pdf: String, page: Int, q: String, p: String): Long =
    new XxHash64(Seq(Literal(pdf), Literal(page), Literal(q), Literal(p))).eval().asInstanceOf[Long]

  /** KPI rows `kpiChain` must publish for `docs`: relevance filter at
    * `threshold`, n-best spans, the no-answer branch, then the top `topK`
    * per (pdf, question) ordered by score desc, rank asc, key asc.
    */
  def kpiRows(docs: Seq[Corpus.Doc], rel: LogisticRelevanceScorer, qa: LogisticQaScorer,
      threshold: Double, topK: Int): Map[String, Seq[KpiRow]] =
    docs.par.map { d =>
      val rows = Corpus.Kpis.flatMap { k =>
        val scored = d.paras.filter(p => rel.score(k.question, p.text) >= threshold).map { p =>
          val key = pairKey(d.name, p.page, k.question, p.text)
          (key, p, qa.scoreBatch(Iterator((key, k.question, p.text))).next()._2)
        }
        // (answer, score, rank, key, page); the no-answer row has no rank or key
        val spans = scored.flatMap { case (key, p, cands) =>
          cands.filter(_.answer != "no_answer").map(c => (c.answer, c.score, Option(c.rank), Option(key), p.page))
        }
        val rank1 = scored.flatMap(_._3.find(_.rank == 1))
        val noAns =
          if (rank1.nonEmpty && rank1.forall(_.answer == "no_answer"))
            Seq(("no_answer", rank1.map(_.score).max, None, None, -1))
          else Nil
        (spans ++ noAns)
          .sortBy { case (_, s, r, key, _) => (-s, r.getOrElse(Int.MinValue), key.getOrElse(Long.MinValue)) }
          .take(topK)
          .map { case (a, s, _, _, page) => KpiRow(d.name, k.id, a, s, page) }
      }
      d.name -> rows
    }.seq.toMap

  def answerCounts(rows: Iterable[KpiRow]): Map[String, Long] =
    rows.groupBy(_.answer).map { case (a, rs) => a -> rs.size.toLong }

  /** Extracted paragraphs as (pdf, page, para_idx, text). */
  def paragraphs(docs: Seq[Corpus.Doc]): Set[(String, Int, Int, String)] =
    docs.flatMap(d => d.paras.map(p => (d.name, p.page, p.idx, p.text))).toSet

  def collectParagraphs(df: DataFrame): Set[(String, Int, Int, String)] =
    df.select("pdf_name", "page", "para_idx", "paragraph").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet

  /** Whether the relevance stage's probabilities equal MLlib's
    * `model.transform` on a seeded sample of `n` pairs.
    */
  def relevanceMatchesMllib(spark: SparkSession, docs: Seq[Corpus.Doc], model: PipelineModel,
      rel: LogisticRelevanceScorer, seed: Long, n: Int = 64): Boolean = {
    import spark.implicits._
    val r     = new java.util.Random(seed)
    val paras = docs.flatMap(_.paras).toVector
    val sample = (0 until n).map { i =>
      (i.toLong, Corpus.Kpis(r.nextInt(Corpus.Kpis.size)).question, paras(r.nextInt(paras.size)).text)
    }
    val pairs  = sample.toDF("key", "text", "text_b")
    val ours   = Relevance.scoreRelevance(pairs, rel, "key").select("key", "prob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mllib  = model.transform(pairs.select(col("key"), concat_ws(" ", col("text"), col("text_b")).as("text")))
      .select("key", "probability").collect()
      .map(r => r.getLong(0) -> r.getAs[Vector](1)(1)).toMap
    ours.size == n && ours.forall { case (k, p) => math.abs(p - mllib(k)) <= 1e-9 }
  }

  /** Order-independent digest of a table's rows: (count, sum of row hashes mod p). */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.select(pmod(xxhash64(cols.map(col): _*), lit(1000000007L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Values compare equal when doubles agree to 1e-9 relative. */
  def sameRows(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        case (u: Double, v: Double) => math.abs(u - v) <= 1e-9 * math.max(1.0, math.max(math.abs(u), math.abs(v)))
        case (u, v)                 => u == v
      }
    }

  /** A Spark row with integral values widened to Long. */
  def norm(r: Row): Seq[Any] = r.toSeq.map {
    case i: Int => i.toLong
    case x      => x
  }
}
