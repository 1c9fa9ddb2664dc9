package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.ops.Normalize
import graft.sources.pdf.PdfFixtures
import graft.split.{RecursiveCharacterSplitter, SplitConfig}

/** The seeded PDF tree of the `pdf_mixed` workload, written through
  * the public [[PdfFixtures]] writers, plus the figures the pipeline
  * must report for it.
  *
  * One root holds many small files of all six writer shapes (per-file
  * costs: opens, key derivation, task plumbing) and a few large Flate
  * files (per-byte costs: inflate, content walk, split, normalize), in
  * nested directories. The expectation is computed from the source page
  * strings (split and normalized exactly as the pipeline does), never
  * from extracted text, so a codec that drops or mangles text fails the
  * gate. The expectation file lists per-root totals, as `graft.Main`
  * reports one table per root.
  */
object PdfTrees {

  /** The six writer shapes `PdfCorpus.synthesize` cycles. */
  val Shapes: Vector[String] = Vector("classic", "flate", "objstm", "rc4", "aes128", "aes256")

  final case class Totals(files: Long, pages: Long, chunks: Long, textSize: Long, fileSize: Long) {
    def +(o: Totals): Totals = Totals(files + o.files, pages + o.pages,
      chunks + o.chunks, textSize + o.textSize, fileSize + o.fileSize)
    def toMap: Map[String, Long] = Map("files" -> files, "pages" -> pages,
      "chunks" -> chunks, "text_size" -> textSize, "file_size" -> fileSize)
  }

  private val Vocab: Vector[String] = (
    "the of and to in is for on with as by data file page chunk text vector " +
    "index spark query table join group sort merge scan filter window stream " +
    "batch token shard parquet schema column row value key hash split offset " +
    "corpus document embedding model train eval score filter dedup sample").split(' ').toVector

  private def line(rnd: SplittableRandom, maxChars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < maxChars - 12) {
      if (sb.nonEmpty) sb += ' '
      sb ++= Vocab(rnd.nextInt(Vocab.length))
    }
    // a capital, a digit and a parenthesis keep the writer's escaping
    // and the normalizer's lower-casing on the path
    sb.setCharAt(0, sb.charAt(0).toUpper)
    sb ++= s" (${rnd.nextInt(1000)})."
    sb.toString
  }

  /** One page: lines of about 70 chars, paragraphs every few lines. */
  private def page(rnd: SplittableRandom, chars: Int): String = {
    val sb = new StringBuilder
    var n = 0
    while (sb.length < chars - 80) {
      if (n > 0) sb ++= (if (n % 6 == 0) "\n\n" else "\n")
      sb ++= line(rnd, 50 + rnd.nextInt(40))
      n += 1
    }
    sb.toString
  }

  private def writeShape(shape: Int, pages: Seq[String]): Array[Byte] = shape match {
    case 0 => PdfFixtures.classicPdf(pages)
    case 1 => PdfFixtures.classicPdf(pages, compress = true)
    case 2 => PdfFixtures.xrefStreamPdf(pages)
    case 3 => PdfFixtures.encryptedPdf(pages, PdfFixtures.EncRc4_128)
    case 4 => PdfFixtures.encryptedPdf(pages, PdfFixtures.EncAes128, compress = true)
    case _ => PdfFixtures.encryptedPdf(pages, PdfFixtures.EncAes256, compress = true)
  }

  /** Expected (chunks, text_size) of a file's pages, from the source strings. */
  private def expectFromPages(pages: Seq[String]): (Long, Long) = {
    var chunks = 0L
    var textSize = 0L
    pages.foreach { p =>
      RecursiveCharacterSplitter.splitWithStartIndex(p, SplitConfig()).foreach { case (c, _) =>
        chunks += 1
        val n = Normalize.normalize(c)
        textSize += n.codePointCount(0, n.length)
      }
    }
    (chunks, textSize)
  }

  /** One file of a tree: its path under the root, writer shape and pages. */
  private final case class Spec(rel: String, shape: Int, pages: Seq[String])

  /** Small files: 1-3 pages below the chunk size, the six shapes in turn. */
  val SmallFiles = 400
  /** Large files: unencrypted Flate, a few hundred pages of ~3,000 chars. */
  val LargeFiles = 8
  val LargePages = 300

  /** File `i` draws from its own stream, so files can be made in parallel. */
  private def rng(seed: Long, i: Int) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)

  private def spec(seed: Long, i: Int): Spec = {
    val rnd = rng(seed, i)
    if (i < SmallFiles) {
      // page counts follow the index, so every seed makes the same amount of work
      val pages = (0 until 1 + (i / Shapes.length) % 3).map(_ => page(rnd, 300 + rnd.nextInt(850)))
      val shape = i % Shapes.length
      Spec(f"d${rnd.nextInt(6)}/e${rnd.nextInt(4)}/doc-$i%05d-${Shapes(shape)}.pdf", shape, pages)
    } else {
      val nPages = LargePages / 2 + (i - SmallFiles) * LargePages / LargeFiles
      val pages = (0 until nPages).map(_ => page(rnd, 2700 + rnd.nextInt(600)))
      Spec(f"d${rnd.nextInt(6)}/big-$i%05d-flate.pdf", 1, pages)
    }
  }

  /** Writes the tree for `seed` under `out` (root `out/r0`) and
    * `out/expected.json`; returns the per-root expectations.
    */
  def generate(seed: Long, out: Path): Vector[Totals] = {
    val made = java.util.stream.IntStream.range(0, SmallFiles + LargeFiles).parallel().mapToObj { i =>
      val s = spec(seed, i)
      val bytes = writeShape(s.shape, s.pages)
      val f = out.resolve("r0").resolve(s.rel)
      Files.createDirectories(f.getParent)
      Files.write(f, bytes)
      val (chunks, textSize) = expectFromPages(s.pages)
      Totals(1, s.pages.length, chunks, textSize, bytes.length)
    }.toArray.map(_.asInstanceOf[Totals])
    val perRoot = Vector(made.reduce(_ + _))
    val expected = Map(
      "seed" -> seed,
      "roots" -> perRoot.zipWithIndex.map { case (t, i) => Map("root" -> s"r$i") ++ t.toMap },
      "total" -> perRoot.reduce(_ + _).toMap)
    Files.writeString(out.resolve("expected.json"), BenchMain.toJson(expected) + "\n")
    perRoot
  }

  /** Reads the per-root expectations back from `expected.json`. */
  def readExpected(out: Path): Vector[Totals] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val fmt: Formats = DefaultFormats
    val js = parse(Files.readString(out.resolve("expected.json")))
    (js \ "roots").children.map { r =>
      def l(k: String) = (r \ k).extract[Long]
      Totals(l("files"), l("pages"), l("chunks"), l("text_size"), l("file_size"))
    }.toVector
  }
}
