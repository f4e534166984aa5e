package perfbench

import graft.model.{Doc, Kind, PageResult}
import graft.parse.{DocParser, MainContent, PageParser, Typo}
import java.util.concurrent.atomic.AtomicInteger

/** The parse layer alone: the kernels called on plain Scala values, with no
  * Spark, over the same generated input the Spark workloads read. Every
  * pass but the thread-scaling one runs on the calling thread.
  */
object KernelHarness {
  /** Metrics as (name, value, unit), and the pages that failed to parse. */
  final case class Result(metrics: Seq[(String, Double, String)], failedPages: Long)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall seconds of `parseDoc` over every doc, split over `threads`. */
  private def parseAll(docs: Vector[Doc], threads: Int): Double = {
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val ws = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < docs.size) { DocParser.parseDoc(docs(i)); i = next.getAndIncrement() }
      })
      t.start(); t
    }
    ws.foreach(_.join())
    secs(t0)
  }

  def run(docs: Vector[Doc], pages: Vector[String], tr: Trace, parent: Long): Result = {
    // instrumented single-thread pass: split, per-page parse, assemble
    val pageUs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var splitNs, parseNs, assembleNs = 0L
    var spans, failed = 0L
    val a0 = Proc.threadAllocBytes
    tr.span(parent, "call", "kernel.pdf") { kid =>
      docs.foreach { d =>
        tr.span(kid, "doc", d.doc_id) { did =>
          var t = System.nanoTime()
          val split = DocParser.splitPages(d.spans)
          splitNs += System.nanoTime() - t
          val results = split.map { case (n, s) =>
            tr.span(did, "page", s"${d.doc_id}#$n") { _ =>
              val p0 = System.nanoTime()
              val r: PageResult = PageParser.parse(n, s)
              val dt = System.nanoTime() - p0
              parseNs += dt
              pageUs += dt / 1e3
              if (r.parseFailed) failed += 1
              r
            }
          }
          t = System.nanoTime()
          spans += DocParser.assemble(d.doc_id, results).spans.size
          assembleNs += System.nanoTime() - t
        }
      }
    }
    val alloc = Proc.threadAllocBytes - a0
    val nPages = pageUs.size.toDouble

    val lines = docs.flatMap(_.spans.collect {
      case s if s.kind == Kind.PdfLine => s.text.split("\\|", 8).last
    })
    val t1 = System.nanoTime()
    lines.foreach(Typo.fixTypos)
    val typoUs = secs(t1) * 1e6 / math.max(1, lines.size)

    val mega = docs.maxBy(_.spans.size)
    val megaS = Stats.median((1 to 3).map { _ =>
      val t = System.nanoTime(); DocParser.parseDoc(mega); secs(t)
    })
    val one = parseAll(docs, 1)
    val four = parseAll(docs, 4)

    val w0 = Proc.threadAllocBytes
    val t2 = System.nanoTime()
    tr.span(parent, "call", "kernel.web") { _ => pages.foreach(MainContent.extract) }
    val webS = secs(t2)
    val webAlloc = Proc.threadAllocBytes - w0
    val t3 = System.nanoTime()
    pages.foreach(MainContent.blocks)
    val blocksS = secs(t3)

    Result(Seq(
      ("parse.us_per_page", parseNs / 1e3 / nPages, "us"),
      ("parse.page_us_p50", Stats.quantile(pageUs.toSeq, 0.5), "us"),
      ("parse.page_us_p99", Stats.quantile(pageUs.toSeq, 0.99), "us"),
      ("parse.split_us_per_page", splitNs / 1e3 / nPages, "us"),
      ("parse.assemble_us_per_page", assembleNs / 1e3 / nPages, "us"),
      ("parse.typo_us_per_line", typoUs, "us"),
      ("parse.mega_doc_s", megaS, "s"),
      ("parse.alloc_bytes_per_page", alloc / nPages, "B"),
      ("parse.speedup_4t", one / four, "ratio"),
      ("parse.pages", nPages, "count"),
      ("parse.spans", spans.toDouble, "count"),
      ("parse.failed_pages", failed.toDouble, "count"),
      ("parse.web_us_per_page", webS * 1e6 / pages.size, "us"),
      ("parse.web_blocks_us_per_page", blocksS * 1e6 / pages.size, "us"),
      ("parse.web_alloc_bytes_per_page", webAlloc.toDouble / pages.size, "B")), failed)
  }
}
