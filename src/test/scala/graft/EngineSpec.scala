package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.ops.ChunkPipeline
import graft.sources.{FileSources, PlainTextExtractor}
import graft.split.SplitConfig

/** End-to-end over the binaryFile source: real files on disk ->
  * extension-filtered recursive listing -> pages -> chunks -> stats ->
  * report -> CSV, mirroring the reference CLI flow (SURVEY.md §3.1).
  */
class EngineSpec extends AnyFunSuite with SparkTestBase {

  private lazy val root: String = {
    val tmp = Files.createTempDirectory("enginesrc")
    Files.createDirectories(tmp.resolve("sub"))
    Files.writeString(tmp.resolve("a.txt"), "alpha beta gamma delta epsilon zeta")
    Files.writeString(tmp.resolve("sub/b.txt"), "one two three\ffour five six seven")
    Files.writeString(tmp.resolve("skip.dat"), "must not be read")
    // NOTE: zero-byte files are invisible to the binaryFile listing
    // — whitespace-only exercises the no-chunks path instead
    Files.writeString(tmp.resolve("blank.txt"), "   ")
    Files.writeString(tmp.resolve("tail.txt"), "tail page\f")
    // fused-vs-Catalyst parity cases: astral code points, case
    // mappings that change length or depend on context, the literal
    // 6-char escape text Normalize deletes, blank-line runs, a space
    // in the file name, and a zero-byte file (invisible to both)
    Files.writeString(tmp.resolve("emoji.txt"),
      "thumbs \ud83d\udc4d up \ud83d\ude00 twice \ud835\udd38 math")
    Files.writeString(tmp.resolve("cases.txt"), "\u0130STANBUL ΟΔΟΣ ΣΟΦΟΣ end")
    Files.writeString(tmp.resolve("escape.txt"), "caf\\u00e9 au lait \\u00E9\\u00e9")
    Files.writeString(tmp.resolve("sub/newlines.txt"),
      "line one\n\n\nline two\nline three\n\n\n\nend")
    Files.writeString(tmp.resolve("with space.txt"), "spaced name file")
    Files.write(tmp.resolve("empty.txt"), Array.emptyByteArray)
    tmp.toString
  }

  /** Files the listing sees: every `.txt` above but the zero-byte one. */
  private val nFiles = 9

  private val opts = Engine.Options(split = SplitConfig(chunkSize = 20, chunkOverlap = 0))

  test("recursive listing honors the extension glob (S1/P1)") {
    val paths = Engine.fileStats(spark, root, opts).collect().map(_.path)
    assert(paths.exists(_.endsWith("a.txt")))
    assert(paths.exists(_.endsWith("b.txt"))) // recursive into sub/
    assert(!paths.exists(_.endsWith("skip.dat")))
  }

  test("form-feed page breaks yield multiple pages; sizes from the listing (S2/S3)") {
    val stats = Engine.fileStats(spark, root, opts)
      .collect().map(s => s.path.split('/').last -> s).toMap
    assert(stats("b.txt").pages == 2)
    assert(stats("a.txt").fileSize == 35) // byte length from binaryFile
    assert(stats("a.txt").ratio.get == 35.0 / stats("a.txt").textSize)
    // a chunkless file still gets a row: pages from the page source,
    // zero chunks, null ratio (reference would ZeroDivisionError)
    assert(stats("blank.txt").pages == 1)
    assert(stats("blank.txt").chunks == 0)
    assert(stats("blank.txt").ratio.isEmpty)
    // trailing form-feed: the empty trailing page still counts
    assert(stats("tail.txt").pages == 2)
    assert(stats("tail.txt").chunks == 1)
  }

  test("chunks retain content; column pruning replaces b_get_content (P12)") {
    val ds = Engine.chunks(spark, root, opts)
    assert(ds.collect().forall(_.rawText.nonEmpty))
    // plan that never touches rawText must not read it
    val pruned = ds.toDF().select("path", "page").queryExecution.optimizedPlan
    assert(!pruned.toString.contains("rawText") ||
      !pruned.output.map(_.name).contains("rawText"))
  }

  test("multi-root loop writes one sanitized CSV per root (S4/S5/S8)") {
    val out = Files.createTempDirectory("enginecsv").toString
    val written = Engine.processRoots(spark, Seq(root), out, opts)
    val dir = written(root)
    assert(dir.startsWith(s"$out/"))
    val csv = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
    assert(csv.length == 1)
    val lines = Files.readAllLines(Paths.get(csv.head))
    // the 7th column is the engine's deliberate extension beyond the
    // reference's six (unmapped-font honest telemetry, VERDICT r6/r7)
    assert(lines.get(0) ==
      "Filename,Pages,Chunks,File Size,Text Size,Ratio,Unmapped Fonts")
    assert(lines.get(lines.size - 1).startsWith("SUM TOTAL"))
  }

  test("path sanitization matches the reference docstring cases (P10)") {
    assert(Engine.sanitizeFolderPath("/home/user/docs") == "home_user_docs")
    assert(Engine.sanitizeFolderPath("C:\\Users\\docs") == "C__Users_docs")
    assert(Engine.sanitizeFolderPath("./rel/path") == "rel_path")
    assert(Engine.sanitizeFolderPath("---") == "folder")
    assert(Engine.sanitizeFolderPath("") == "folder")
  }

  test("JSON metadata sink round-trips file stats (S7)") {
    val out = java.nio.file.Files.createTempDirectory("enginejson").toString
    val stats = Engine.fileStats(spark, root, opts)
    graft.ops.ChunkPipeline.writeJson(stats, s"$out/meta")
    val back = spark.read.json(s"$out/meta")
    assert(back.count() == stats.count())
    assert(back.columns.sorted.toSeq ==
      Seq("chunks", "fileSize", "pages", "path", "ratio", "textSize", "unmappedFonts"))
  }

  test("report shows basenames, not full paths (P2)") {
    val names = Engine.report(spark, root, opts)
      .collect().map(_.getString(0))
    assert(names.contains("a.txt") && names.contains("b.txt"))
    assert(!names.exists(_.contains("/")))
    assert(names.last == "SUM TOTAL")
  }

  test("unicode: Spark length() counts code points like Python len (documented)") {
    // SURVEY.md §7.4 flagged a possible Python-len vs JVM-length
    // mismatch for astral-plane chars. Measured: Spark's length() on
    // UTF8String counts CODE POINTS — identical to Python len — so
    // chunk_len/text_size match the reference even for emoji. The only
    // UTF-16 surface is the pure-Scala splitter's chunkSize budget
    // (String.length), where an astral char costs 2 budget units —
    // a conservative, documented deviation (never over-fills a chunk).
    import spark.implicits._
    import org.apache.spark.sql.functions.{length => sqlLength, col}
    val emoji = "\ud83d\udc4d" // U+1F44D
    assert(emoji.length == 2) // JVM: UTF-16 units
    val got = Seq(emoji).toDF("s").select(sqlLength(col("s"))).collect()(0).getInt(0)
    assert(got == 1) // Spark: code points, same as Python len
    assert(emoji.codePointCount(0, emoji.length) == 1)
  }

  test("fused fileStats equals the Catalyst chunk path and the binaryFile source") {
    import spark.implicits._
    val fused = Engine.fileStats(spark, root, opts).collect().map(s => s.path -> s).toMap
    // the reference chunk path: chunks -> chunkMetrics -> per-path count/sum
    val ref = ChunkPipeline.chunkMetrics(Engine.chunks(spark, root, opts))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("chunks"), sum(col("chunk_len")).as("textSize"))
      .as[(String, Long, Long)].collect()
      .map { case (p, c, t) => p -> (c, t) }.toMap
    // paths, sizes and page counts as binaryFile itself reads them
    val direct = FileSources.binaryFiles(spark, root, opts.glob)
      .select("path", "length", "content").as[(String, Long, Array[Byte])].collect()
      .map { case (p, n, bytes) =>
        p -> (n, PlainTextExtractor.extract(p, bytes).map(_._1).max + 1L)
      }.toMap
    assert(fused.size == nFiles)
    assert(fused.keySet == direct.keySet)
    assert(ref.keySet.subsetOf(fused.keySet))
    assert(fused.keys.exists(_.endsWith("/with space.txt")))
    assert(!fused.keys.exists(_.endsWith("empty.txt")))
    for ((path, s) <- fused) {
      assert((s.chunks, s.textSize) == ref.getOrElse(path, (0L, 0L)), path)
      assert((s.fileSize, s.pages) == direct(path), path)
      assert(s.ratio == (if (s.textSize == 0) None else Some(s.fileSize.toDouble / s.textSize)))
    }
    // Normalize deleted the escape text the splitter kept
    val escape = fused.collectFirst { case (p, s) if p.endsWith("/escape.txt") => s }.get
    assert(escape.textSize == "caf au lait".length)
  }

  test("LPT packing: min(files, k) bins, load within total/k + max weight, " +
    "large files spread, deterministic") {
    val rnd = new scala.util.Random(7)
    val openCost = 4L << 20
    val large = (0 until 8).map(i => (f"large$i%02d.pdf", 500000L + rnd.nextInt(100000)))
    val small = (0 until 400).map(i => (f"small$i%03d.pdf", 1000L + rnd.nextInt(9000)))
    val files = rnd.shuffle(large ++ small)
    val total = files.map(_._2 + openCost).sum
    val maxWeight = files.map(_._2 + openCost).max
    for (k <- Seq(1, 3, 4, 8, 16, 1000)) {
      val bins = FileSources.lptBins(files, k)(_._2 + openCost, _._1)
      assert(bins.size == math.min(files.size, k))
      assert(bins.flatten.sorted == files.sorted)
      bins.foreach(b => assert(b.map(_._2 + openCost).sum <= total / bins.size + maxWeight))
      val largePerBin = bins.map(_.count(_._1.startsWith("large")))
      assert(largePerBin.max <= (8 + bins.size - 1) / bins.size, largePerBin)
      assert(FileSources.lptBins(files.reverse, k)(_._2 + openCost, _._1) == bins)
    }
    // equal weights: ties break by path, then by bin index
    assert(FileSources.lptBins(Seq(("b", 5L), ("c", 5L), ("a", 5L)), 2)(_._2, _._1) ==
      Seq(Seq(("a", 5L), ("c", 5L)), Seq(("b", 5L))))
    assert(FileSources.lptBins(Seq.empty[(String, Long)], 4)(_._2, _._1).isEmpty)
  }

  test("Engine.report over an uncached root scans once, on min(files, k) tasks") {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val marker = "enginespec-drain-marker"
    @volatile var markerJob = -1
    @volatile var drained = false
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (markerJob < 0) stages.add(e.stageInfo)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained = true
    }
    sc.addSparkListener(listener)
    try {
      val rows = Engine.report(spark, root, opts).collect()
      assert(rows.length == nFiles + 1 && rows.last.getString(0) == "SUM TOTAL")
      // events arrive in order: once the marker job has ended, every
      // stage of the report has been delivered
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained)
    } finally sc.removeSparkListener(listener)
    val scans = stages.asScala.toSeq.filter(_.rddInfos.exists(_.name == "ParallelCollectionRDD"))
    val k = math.min(nFiles, sc.defaultParallelism)
    assert(scans.map(_.numTasks) == Seq(k), stages.asScala.map(s => s.name -> s.numTasks))
  }
}
