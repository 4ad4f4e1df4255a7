package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files
import java.util.Random
import java.util.zip.Deflater

/** Seeded input generator: ESG-report-shaped PDFs, the KPI question
  * dim, a company dim, and the labeled pairs that train both logistic
  * heads. The same seed gives byte-identical outputs; every document
  * draws from its own `Random(seed, index)`, so a pool of `n` documents
  * is a prefix of a pool of `n + k`.
  *
  * Shape, scaled down from the reference's 144 reports (median 127.5
  * pages, mean 157, max 653): page counts are lognormal with the same
  * median/mean ratio (sigma 0.645), divided by [[PageScale]]. A quarter
  * of the paragraphs are planted KPI paragraphs, the same share of
  * relevance points that survive into KPI points in the reference
  * (14,612 of 60,704 per PDF).
  *
  * Sizes are stratified, contents are seeded: document `i` has the
  * lognormal quantile at the golden-ratio point `i·φ mod 1` as its page
  * count, a fixed number of paragraphs per page and a fixed planted
  * count, for every seed; the seed picks the words, the KPIs, their
  * values and where the planted paragraphs sit. Any run of consecutive
  * documents then spans the whole page-count distribution, and two seeds
  * give inputs of the same size, so runs on different seeds compare.
  */
object Corpus {

  final case class Kpi(id: Int, question: String, topic: String, unit: String)

  val Kpis: Vector[Kpi] = Vector(
    Kpi(0, "What are the total scope 1 greenhouse gas emissions", "scope 1 emissions", "tCO2e"),
    Kpi(1, "What are the total scope 2 greenhouse gas emissions", "scope 2 emissions", "tCO2e"),
    Kpi(2, "What are the total scope 3 greenhouse gas emissions", "scope 3 emissions", "tCO2e"),
    Kpi(3, "What is the total energy consumption", "energy consumption", "MWh"),
    Kpi(4, "What share of the energy used is renewable", "renewable energy share", "percent"),
    Kpi(5, "How much water was withdrawn", "water withdrawal", "megalitres"),
    Kpi(6, "How much waste was generated", "waste generated", "tonnes"),
    Kpi(7, "What is the waste recycling rate", "recycling rate", "percent"),
    Kpi(8, "How many employees does the company have", "total workforce", "employees"),
    Kpi(9, "What share of the workforce is female", "female workforce share", "percent"),
    Kpi(10, "What is the lost time injury frequency rate", "lost time injury rate", "per-million-hours"),
    Kpi(11, "What share of the board is independent", "board independence", "percent"),
    Kpi(12, "How much capital was spent on low carbon projects", "low carbon capex", "EURm"),
    Kpi(13, "What are the methane emissions", "methane emissions", "tCH4"),
    Kpi(14, "What volume of gas was flared", "flared gas volume", "mmscf"),
    Kpi(15, "What is the oil production", "oil production", "kboe/d"),
    Kpi(16, "What is the gas production", "gas production", "mmcf/d"),
    Kpi(17, "What is the refining throughput", "refining throughput", "kbbl/d"),
    Kpi(18, "What is the carbon intensity of the products sold", "carbon intensity", "gCO2e/MJ"),
    Kpi(19, "In which year does the company target net zero emissions", "net zero target", "year")
  )

  private val Words: Vector[String] = (
    "the company group our business report year strategy growth market customers " +
      "value risk management board governance shareholders performance operations " +
      "sustainability climate transition policy framework approach objectives plan " +
      "investment portfolio assets capital financial results revenue costs efficiency " +
      "people community safety health culture values engagement stakeholders dialogue " +
      "regulation compliance standards disclosure reporting assurance audit review " +
      "innovation technology digital research development partners suppliers supply " +
      "chain products services quality process improvement programme initiative " +
      "across within during through while further continued focus commitment progress " +
      "long term short medium period future outlook expected impact opportunities " +
      "global regional local sites countries teams leadership responsibility oversight"
  ).split(' ').toVector

  val Sectors: Vector[String]   = Vector("energy", "utilities", "materials", "industrials", "chemicals", "transport")
  val Countries: Vector[String] = Vector("DE", "FR", "GB", "NL", "US")

  /** Reference median page count divided by this is the generated median. */
  val PageScale = 64.0
  private val MaxPages     = math.ceil(653 / PageScale).toInt
  private val PlantedShare = 0.25
  private val WordsPerLine = 9

  /** One paragraph as the pipeline must see it after extraction and
    * cleaning: `kpiId` is the planted KPI, or -1 for filler.
    */
  final case class Para(page: Int, idx: Int, text: String, kpiId: Int)

  final case class Doc(name: String, company: String, sector: String, country: String,
      paras: Vector[Para], pages: Int)

  def docName(i: Int): String = f"report_$i%04d"

  private def rng(seed: Long, salt: Long): Random = new Random(seed * 0x9E3779B97F4A7C15L + salt)

  private def pick[T](r: Random, xs: Vector[T]): T = xs(r.nextInt(xs.size))

  private def filler(r: Random, n: Int): Vector[String] = Vector.fill(n)(pick(r, Words))

  private def value(r: Random, k: Kpi): String =
    if (k.unit == "year") (2030 + r.nextInt(21)).toString
    else if (k.unit == "percent") f"${r.nextInt(1000) / 10.0}%.1f"
    else (100 + r.nextInt(99900)).toString

  /** A planted KPI paragraph's words and its value span ("value unit"). */
  private def planted(r: Random, k: Kpi): (Vector[String], String) = {
    val v    = value(r, k)
    val span = s"$v ${k.unit}"
    val body = Vector("in", (2015 + r.nextInt(8)).toString, "the", "company", "reported") ++
      k.topic.split(' ') ++ Vector("of") ++ span.split(' ')
    (filler(r, 2 + r.nextInt(6)) ++ body ++ filler(r, 4 + r.nextInt(14)), span)
  }

  private sealed trait Kind
  private case object Planted    extends Kind
  private case object Distractor extends Kind
  private case object Filler     extends Kind

  /** Paragraph words of one kind: planted (with its KPI id), a
    * distractor that names a topic without a value, or plain filler.
    */
  private def paragraph(r: Random, kind: Kind): (Vector[String], Int) = kind match {
    case Planted    => val k = pick(r, Kpis); (planted(r, k)._1, k.id)
    case Distractor =>
      (filler(r, 6 + r.nextInt(8)) ++ pick(r, Kpis).topic.split(' ') ++ filler(r, 6 + r.nextInt(10)), -1)
    case Filler     => (filler(r, 14 + r.nextInt(22)), -1)
  }

  /** A seeded paragraph of seeded kind, for training data. */
  private def paragraph(r: Random): (Vector[String], Int) = {
    val u = r.nextDouble()
    paragraph(r, if (u < PlantedShare) Planted else if (u < PlantedShare + 0.1) Distractor else Filler)
  }

  private val Phi = (math.sqrt(5) - 1) / 2

  /** Page count of document `i`: the lognormal quantile (median
    * 127.5 / PageScale, sigma 0.645) at the golden-ratio point `i·φ mod 1`.
    */
  def pageCount(i: Int): Int = pagesAt((0.5 + i * Phi) % 1.0)

  /** The page-count distribution's quantile at `u`. */
  def pagesAt(u: Double): Int =
    math.max(1, math.min(MaxPages, math.round(127.5 / PageScale * math.exp(0.645 * normalQuantile(u))).toInt))

  /** Paragraphs on page `p`: 3 to 6, 4.5 on average. */
  private def parasOnPage(p: Int): Int = 3 + p % 4

  /** Standard normal quantile (Acklam's rational approximation, |error| < 1.2e-9). */
  def normalQuantile(u: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00, 3.754408661907416e+00)
    def tail(q: Double) =
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    if (u < 0.02425) tail(math.sqrt(-2 * math.log(u)))
    else if (u > 1 - 0.02425) -tail(math.sqrt(-2 * math.log(1 - u)))
    else {
      val q = u - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    }
  }

  /** Generate documents `from until until` into `dir` (one
    * FlateDecode PDF each, `pages(i)` pages) and return what extraction
    * must yield.
    */
  def writeDocs(seed: Long, from: Int, until: Int, dir: File, pages: Int => Int = pageCount): Vector[Doc] = {
    dir.mkdirs()
    (from until until).map { i =>
      val r     = rng(seed, i)
      val slots = (0 until pages(i)).map(parasOnPage)
      val total = slots.sum
      val nPlanted = math.round(total * PlantedShare).toInt
      val nDistractor = math.round(total * 0.1).toInt
      val kinds = new java.util.ArrayList[Kind](total)
      (0 until total).foreach(j => kinds.add(if (j < nPlanted) Planted else if (j < nPlanted + nDistractor) Distractor else Filler))
      java.util.Collections.shuffle(kinds, r)
      val it = kinds.iterator()
      val paraWords = slots.map(n => (0 until n).map(_ => paragraph(r, it.next())).toVector)
      val bytes = pdf(paraWords.map(_.map(p => p._1.grouped(WordsPerLine).map(_.mkString(" ")).toVector)))
      Files.write(new File(dir, docName(i) + ".pdf").toPath, bytes)
      val paras = for {
        (ps, page)         <- paraWords.zipWithIndex.toVector
        ((ws, kpi), idx)   <- ps.zipWithIndex
      } yield Para(page, idx, ws.mkString(" "), kpi)
      Doc(docName(i), s"company_$i", pick(r, Sectors), pick(r, Countries), paras, pages(i))
    }.toVector
  }

  /** Relevance-head training pairs `(question + " " + paragraph, label)`:
    * a planted paragraph with its own question is positive, filler and
    * distractors with any question are negative.
    */
  def relevanceTraining(seed: Long, n: Int = 800): Seq[(String, Double)] = {
    val r = rng(seed, -1)
    (0 until n).map { _ =>
      val k = pick(r, Kpis)
      if (r.nextBoolean()) (k.question + " " + planted(r, k)._1.mkString(" "), 1.0)
      else {
        val (ws, kpi) = paragraph(r)
        (k.question + " " + ws.mkString(" "), if (kpi >= 0) 1.0 else 0.0)
      }
    }
  }

  /** QA-head training pairs `(question + " " + span, label)`: the value
    * span of a planted paragraph is positive, other 1-3 token spans of
    * the same paragraph are negative.
    */
  def qaTraining(seed: Long, n: Int = 200): Seq[(String, Double)] = {
    val r = rng(seed, -2)
    (0 until n).flatMap { _ =>
      val k          = pick(r, Kpis)
      val (ws, span) = planted(r, k)
      val negs = (0 until 3).map { _ =>
        val len = 1 + r.nextInt(3)
        val s   = r.nextInt(ws.size - len + 1)
        ws.slice(s, s + len).mkString(" ")
      }.filter(_ != span)
      (k.question + " " + span, 1.0) +: negs.map(s => (k.question + " " + s, 0.0))
    }
  }

  // ---- PDF writer -------------------------------------------------------

  private def deflate(s: String): Array[Byte] = {
    val d = new Deflater()
    d.setInput(s.getBytes(ISO_8859_1)); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** A minimal PDF: one FlateDecode content stream per page. Lines of a
    * paragraph are one `Td` apart; paragraphs are two `Td` apart, which
    * the extractor turns into the blank line the paragraph split keys on.
    */
  private def pdf(pages: Seq[Vector[Vector[String]]]): Array[Byte] = {
    val n     = pages.size
    val out   = new ByteArrayOutputStream()
    def emit(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    emit("%PDF-1.4\n")
    emit("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    emit(s"2 0 obj << /Type /Pages /Kids [${(0 until n).map(p => s"${3 + p} 0 R").mkString(" ")}] /Count $n >> endobj\n")
    (0 until n).foreach { p =>
      emit(s"${3 + p} 0 obj << /Type /Page /Parent 2 0 R /Contents ${3 + n + p} 0 R >> endobj\n")
    }
    pages.zipWithIndex.foreach { case (paras, p) =>
      val text = paras.map(_.map(l => s"($l) Tj").mkString(" 0 -12 Td ")).mkString(" 0 -12 Td 0 -12 Td ")
      val z    = deflate(s"BT /F1 10 Tf 72 760 Td $text ET")
      emit(s"${3 + n + p} 0 obj << /Length ${z.length} /Filter /FlateDecode >> stream\n")
      out.write(z)
      emit("\nendstream endobj\n")
    }
    emit("%%EOF\n")
    out.toByteArray
  }
}
