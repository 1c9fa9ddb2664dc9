package graft.sources

import java.net.URI

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.SerializableConfiguration

import graft.Page

/** Document -> pages decode boundary (SURVEY.md §2.1 S3).
  *
  * The reference delegates to `PyPDFLoader(file).load()` — one
  * langchain `Document` per PDF page
  * (`/root/reference/pdf_reader.py:442-443`). The trait isolates the
  * codec: [[graft.sources.pdf.PdfTextExtractor]] is a minimal
  * pure-JVM PDF codec (classic xref + xref/object streams,
  * FlateDecode via `java.util.zip.Inflater`, text operators), and
  * [[PlainTextExtractor]] handles plain-text exports (1 file = 1
  * page, UTF-8, form-feed page breaks). A pdfbox/tika-backed
  * implementation would likewise drop in without touching the
  * pipeline.
  */
/** One decoded page plus decode telemetry. `unmappedFonts` counts
  * the distinct font resources whose shown text was dropped as
  * opaque (see [[graft.Page.unmappedFonts]]); non-font-aware
  * extractors leave it 0.
  */
final case class ExtractedPage(
    page: Int, text: String, unmappedFonts: Long = 0L)

trait PageExtractor extends Serializable {

  /** Decode one file's payload into (0-based page, raw page text). */
  def extract(path: String, bytes: Array[Byte]): Seq[(Int, String)]

  /** Decode with per-page telemetry. Default: wrap [[extract]] with
    * zero counts; codec-backed extractors override to report what
    * they dropped.
    */
  def extractDetailed(path: String, bytes: Array[Byte]): Seq[ExtractedPage] =
    extract(path, bytes).map { case (p, t) => ExtractedPage(p, t) }
}

/** UTF-8 plain text: whole payload is a single page 0. Page breaks on
  * form-feed (\f), the convention plain-text exports of PDFs use —
  * so multi-page semantics stay exercisable without a codec.
  */
object PlainTextExtractor extends PageExtractor {
  def extract(path: String, bytes: Array[Byte]): Seq[(Int, String)] = {
    val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    text.split("\f", -1).toSeq.zipWithIndex.map { case (t, i) => (i, t) }
  }
}

object FileSources {

  /** S1 + S2: recursive directory scan with extension filter pushed to
    * the listing (the reference's `os.walk` + lowercase-endswith,
    * `/root/reference/pdf_reader.py:327-359`), file size for free.
    * [[scan]] takes its listing from this relation's file index (glob,
    * recursion, hidden-file and zero-byte rules), not its reader.
    */
  def binaryFiles(spark: SparkSession, root: String, glob: String = "*.txt"): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(root)

  /** O1: the reference's LPT heuristic (`pdf_reader.py:361-388`) —
    * files largest first, each onto the currently lightest of
    * `min(files, k)` bins. No bin ends heavier than total/k plus the
    * heaviest single item. Ties break by key, then by bin index, so
    * the packing is deterministic.
    */
  private[graft] def lptBins[T](items: Seq[T], k: Int)(
      weight: T => Long, key: T => String): Seq[Seq[T]] = {
    val n = math.min(items.size, k)
    val bins = Array.fill(n)(Vector.newBuilder[T])
    val lightest = mutable.PriorityQueue.empty[(Long, Int)](Ordering[(Long, Int)].reverse)
    (0 until n).foreach(i => lightest.enqueue((0L, i)))
    items.sortBy(t => (-weight(t), key(t))).foreach { t =>
      val (load, i) = lightest.dequeue()
      bins(i) += t
      lightest.enqueue((load + weight(t), i))
    }
    bins.toSeq.map(_.result())
  }

  /** One listed file: the `path` string `binaryFile` emits and the URI
    * it is opened by. */
  private final case class Listed(path: String, uri: String, length: Long)

  /** Files -> `f(path, length, bytes)` rows, one read per file on a
    * size-balanced scan. The [[binaryFiles]] listing is LPT-packed
    * ([[lptBins]]) onto `defaultParallelism` tasks, weighting each file
    * by its length plus `spark.sql.files.openCostInBytes`; each task
    * reads its own files through the session's Hadoop conf, broadcast
    * once. (`binaryFile`'s own packing fills partitions largest file
    * first up to `maxPartitionBytes`, which put every large file of a
    * mixed tree into the first task.) A file never spans tasks, so `f`
    * sees one whole file.
    */
  def scan[T: Encoder](spark: SparkSession, root: String, glob: String)(
      f: (String, Long, Array[Byte]) => Iterator[T]): Dataset[T] = {
    val conf = spark.sessionState.conf
    val files = binaryFiles(spark, root, glob).queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation =>
      r.location.listFiles(Nil, Nil).flatMap(_.files)
    }.flatten.map(s => Listed(s.getPath.toString, s.getPath.toUri.toString, s.getLen))
    if (files.isEmpty) return spark.emptyDataset[T]
    // binaryFile's read-time guard, same conf
    val maxLength = conf.getConf(SQLConf.SOURCES_BINARY_FILE_MAX_LENGTH)
    val maxKey = SQLConf.SOURCES_BINARY_FILE_MAX_LENGTH.key
    val openCost = conf.filesOpenCostInBytes
    val bins = lptBins(files, spark.sparkContext.defaultParallelism)(
      _.length + openCost, _.path)
    val hadoopConf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    implicit val tag: ClassTag[T] = implicitly[Encoder[T]].clsTag
    spark.createDataset(
      spark.sparkContext.parallelize(bins, bins.size).flatMap { bin =>
        bin.iterator.flatMap { l =>
          if (l.length > maxLength) throw new SparkException(
            s"${l.path} is ${l.length} bytes, over $maxKey = $maxLength")
          val p = new Path(new URI(l.uri))
          val in = p.getFileSystem(hadoopConf.value.value).open(p)
          val bytes = try in.readAllBytes() finally in.close()
          f(l.path, l.length, bytes)
        }
      })
  }

  /** Files -> typed pages through a [[PageExtractor]], on the [[scan]]
    * (streams per file and collects nothing; a 10 GB file's
    * pages iterate through the task, unlike the reference which holds
    * the whole file's pages+chunks in worker memory, SURVEY.md §4).
    */
  def pages(
      spark: SparkSession,
      root: String,
      glob: String,
      extractor: PageExtractor = PlainTextExtractor): Dataset[Page] = {
    import spark.implicits._
    scan(spark, root, glob) { (path, length, bytes) =>
      extractor.extractDetailed(path, bytes).iterator.map { p =>
        Page(path, p.page, p.text, length, p.unmappedFonts)
      }
    }
  }
}
