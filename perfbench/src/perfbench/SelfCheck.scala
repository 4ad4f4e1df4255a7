package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sources.SimplePdfExtractor

/** The benchmark's own checks, no Spark session needed:
  * `perfbench.SelfCheck <BENCHMARK.json> <scratch dir>`. Exits 1 on any failure.
  */
object SelfCheck {

  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case scala.util.control.NonFatal(e) => println(s"  error: $e"); false }
    if (!pass) failures += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  private def bytes(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  def main(args: Array[String]): Unit = {
    val spec    = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(args(0)))
    val scratch = new File(args(1))
    Workload.rm(scratch)

    // generator determinism per seed
    val a = Corpus.writeDocs(7, 0, 6, new File(scratch, "a"))
    val b = Corpus.writeDocs(7, 0, 6, new File(scratch, "b"))
    val c = Corpus.writeDocs(8, 0, 6, new File(scratch, "c"))
    val p = Corpus.writeDocs(7, 0, 3, new File(scratch, "p"))
    check("same seed writes byte-identical PDFs")(bytes(new File(scratch, "a")) == bytes(new File(scratch, "b")))
    check("same seed yields the same expected paragraphs")(a == b)
    check("another seed yields other PDFs")(bytes(new File(scratch, "a")) != bytes(new File(scratch, "c")))
    check("a smaller pool is a prefix of a larger one")(p == a.take(3))
    check("training pairs are a function of the seed")(
      Corpus.relevanceTraining(7) == Corpus.relevanceTraining(7) && Corpus.qaTraining(7) == Corpus.qaTraining(7) &&
        Corpus.relevanceTraining(7) != Corpus.relevanceTraining(8))
    check("about a quarter of paragraphs are planted KPI paragraphs") {
      val ps = Corpus.writeDocs(7, 0, 40, new File(scratch, "q")).flatMap(_.paras)
      val share = ps.count(_.kpiId >= 0).toDouble / ps.size
      share > 0.18 && share < 0.32
    }
    check("page counts are heavy-tailed like the reference's, and the same for every seed") {
      val pages = (0 until 144).map(Corpus.pageCount).map(_.toDouble)
      val med   = Stats.median(pages)
      val ratio = pages.sum / pages.size / med
      med == math.round(127.5 / Corpus.PageScale).toDouble && ratio > 1.1 && ratio < 1.4 &&
        pages.max >= 4 * med && a.map(_.pages) == c.map(_.pages)
    }
    check("the PDF codec reads back the generated paragraphs") {
      val ext = new SimplePdfExtractor
      a.forall { d =>
        val pages = ext.extractPages(d.name, Files.readAllBytes(new File(scratch, s"a/${d.name}.pdf").toPath))
        val got = pages.zipWithIndex.flatMap { case (t, pg) =>
          t.split("\n\n").zipWithIndex.map { case (s, i) => (pg, i, s.replace('\n', ' ').trim) }
        }
        got == d.paras.map(q => (q.page, q.idx, q.text))
      }
    }

    // metric names and units against BENCHMARK.json
    def named(key: String) = spec.get(key).elements().asScala.map(n =>
      n.get("name").asText() -> Option(n.get("unit")).map(_.asText()).orNull).toSeq
    check("end_to_end metrics match what the benchmark prints")(named("end_to_end") == Main.EndToEnd)
    check("per_layer metrics match what the benchmark prints")(named("per_layer") == Main.PerLayer)
    check("workloads match")(named("workloads").map(_._1) == Main.Workloads)
    check("metric names are valid and unique") {
      val names = (Main.EndToEnd ++ Main.PerLayer).map(_._1) ++ Main.Workloads
      names.distinct.size == names.size && names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.]{0,63}")) &&
        (Main.EndToEnd ++ Main.PerLayer).forall(_._2.matches("[A-Za-z0-9_/%.\\-]{1,16}"))
    }

    // the percentile sample-count rule: a tail needs 10 samples beyond it
    check("p95 needs 200 samples")(Stats.samplesFor(0.95) == 200)
    check("200 samples support p95, 199 do not")(Stats.tailSupported(200, 0.95) && !Stats.tailSupported(199, 0.95))
    check("p50 needs 20 samples")(Stats.samplesFor(0.5) == 20 && !Stats.tailSupported(19, 0.5))
    check("quantiles interpolate linearly")(
      Stats.quantile(Seq(1.0, 2, 3, 4, 5), 0.25) == 2.0 && Stats.median(Seq(4.0, 1, 3, 2)) == 2.5)

    // span self time
    check("self time subtracts the union of child spans") {
      val sp = Seq(Trace.Span(1, 0, "op", 0, 100, "t"), Trace.Span(2, 1, "a.x", 10, 30, "t"),
        Trace.Span(3, 1, "b.y", 20, 50, "t"), Trace.Span(4, 1, "c.z", 60, 70, "t"))
      Trace.selfNs(sp) == Map(1L -> 50L, 2L -> 20L, 3L -> 30L, 4L -> 10L)
    }

    Workload.rm(scratch)
    println(if (failures == 0) "selfcheck passed" else s"selfcheck: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
