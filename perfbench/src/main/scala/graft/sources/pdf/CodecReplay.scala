package graft.sources.pdf

import java.nio.file.{Files, Path}

import graft.ops.Normalize
import graft.perfbench.Tracer
import graft.split.{RecursiveCharacterSplitter, SplitConfig}

/** Single-thread replay of the codec, splitter and normalizer over a
  * PDF tree, one span per call, for the traced run's per-layer rates.
  * It sits in the codec's package only because `PdfFonts.forPage` is
  * package-private; it calls the same functions the pipeline does.
  */
object CodecReplay {

  final case class Totals(
      files: Long, filesWithoutPages: Long, pages: Long, chunks: Long,
      inputBytes: Long, contentBytes: Long, textChars: Long, chunkChars: Long)

  /** Replays every `*.pdf` under `root`. The file's writer shape is
    * the last `-`-separated token of its name, as the tree generator
    * writes it; `open` spans are named `pdf.open.<shape>`.
    */
  def run(root: Path, tr: Tracer): Totals = {
    val files = {
      val s = Files.walk(root)
      try s.filter(p => p.toString.endsWith(".pdf")).toArray.map(_.asInstanceOf[Path]).sorted
      finally s.close()
    }
    var noPages, pages, chunks, inBytes, contentBytes, textChars, chunkChars = 0L
    files.foreach { f =>
      val bytes = Files.readAllBytes(f)
      inBytes += bytes.length
      val shape = f.getFileName.toString.stripSuffix(".pdf").split('-').last
      val (doc, pageList) = tr.span(s"pdf.open.$shape") {
        val d = new PdfDocument(bytes)
        (d, d.pagesWithResources)
      }
      pageList.foreach { case (page, res) =>
        contentBytes += tr.span("pdf.decode")(doc.pageContent(page)).length
        tr.span("pdf.fonts")(PdfFonts.forPage(doc, res))
      }
      val extracted = tr.span("pdf.extract")(PdfTextExtractor.extractDetailed(f.toString, bytes))
      if (extracted.isEmpty) noPages += 1
      pages += extracted.length
      extracted.foreach { p =>
        textChars += p.text.length
        val cs = tr.span("split")(RecursiveCharacterSplitter.splitWithStartIndex(p.text, SplitConfig()))
        chunks += cs.length
        cs.foreach { case (c, _) =>
          chunkChars += c.length
          tr.span("ops.normalize")(Normalize.normalize(c))
        }
      }
    }
    Totals(files.length, noPages, pages, chunks, inBytes, contentBytes, textChars, chunkChars)
  }
}
