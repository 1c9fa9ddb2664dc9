package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Engine, SparkEntry}
import graft.ops.ChunkPipeline
import graft.sources.pdf.{CodecReplay, PdfTextExtractor}
import graft.split.SplitConfig

/** The benchmark's JVM side. `perfbench/run.py` builds it, makes the
  * inputs and calls
  *
  * {{{
  * BenchMain gen --seed N --out DIR
  * BenchMain run --workload W --seed N --seconds S --trace 0|1 --work DIR
  *               [--tree DIR] [--corpus DIR] [--spans FILE]
  * }}}
  *
  * `run` measures set-up (session creation plus one warm-up pass,
  * `SetupRepeats` times), then runs timed passes back to back — one
  * client, closed loop — until `--seconds` have passed, and prints one
  * `PERFBENCH {json}` line. With `--trace 1` every other pass is
  * traced and the result holds the per-layer metrics instead.
  */
object BenchMain {

  /** The query mix, in run order: the ROADMAP carry-over targets. */
  val Queries: Vector[String] = Vector(
    "dedup_containment", "graph_jaccard", "graph_walks", "stream_sessionize", "layout_bucket")

  val SetupRepeats = 2
  /** Timed passes run even past --seconds: at least one traced and one
    * untraced in a traced run. A query_mix pass is several seconds long.
    */
  def minPasses(isPdf: Boolean): Int = if (isPdf) 3 else 2
  /** Fixed tail percentile of per-operation latency. */
  val TailPercentile = 90
  val ArtifactDirKey = "spark.graft.artifactDir"

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    val opts = argv.drop(1).grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    mode match {
      case "gen" =>
        PdfTrees.generate(opt("seed").toLong, Paths.get(opt("out")))
      case "run" =>
        val result = new Run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
          opt("trace") == "1", Paths.get(opt("work")), opts.get("tree").map(Paths.get(_)),
          opts.get("corpus"), opts.get("spans").map(Paths.get(_))).apply()
        println("PERFBENCH " + toJson(result))
      case other =>
        System.err.println(s"unknown mode '$other' (expected gen or run)")
        sys.exit(2)
    }
  }

  /** JSON text of maps, sequences, strings and numbers (maps keep their order). */
  def toJson(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  def treeBytes(root: Path, suffix: String): Long = {
    val s = Files.walk(root)
    try s.filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  /** What one pass did: each operation's name and latency, and the
    * problems found, keyed by operation name.
    */
  final case class Pass(wallS: Double, opNames: Seq[String], opS: Seq[Double],
      problems: Seq[(String, String)])
}

final class Run(
    workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
    givenTree: Option[Path], corpus: Option[String], spansOut: Option[Path]) {
  import BenchMain._

  private val isPdf = workload match {
    case "pdf_mixed" => true
    case "query_mix" => false
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  private val tracer = new Tracer
  private val listener = new RuntimeListener
  private val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  /** (pass, operation) of every operation that failed or returned a wrong result. */
  private val failedOps = mutable.Set.empty[(Int, String)]

  // ---- inputs (made before any timing; excluded from setup_s) ----

  private var genS = 0.0
  private lazy val tree: Path = givenTree.getOrElse {
    val t = work.resolve("tree")
    val g0 = System.nanoTime()
    PdfTrees.generate(seed, t)
    genS = (System.nanoTime() - g0) / 1e9
    t
  }
  private lazy val expected = PdfTrees.readExpected(tree)
  private lazy val corpusDir: String =
    corpus.getOrElse(throw new IllegalArgumentException("query workloads need --corpus"))
  private val mixArtifacts = work.resolve("artifacts")
  private val verifyDir = work.resolve("verify")
  private val expectedRows = mutable.Map.empty[String, Long]

  private lazy val inputBytes: Long =
    if (isPdf) treeBytes(tree, ".pdf") else treeBytes(Paths.get(corpusDir), ".parquet")

  private def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // graft.Main's settings for the PDF pipeline, graft.Bench's for queries
    if (!isPdf) b
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(ArtifactDirKey, mixArtifacts.toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- the PDF pipeline: graft.Main.run's calls, per root ----

  private val pdfOpts = Engine.Options(glob = "*.pdf", split = SplitConfig(),
    extractor = PdfTextExtractor)

  private def pdfPass(spark: SparkSession, passId: Int, probe: Boolean): Pass = {
    val t0 = System.nanoTime()
    val outs = expected.indices.map { r =>
      val root = tree.resolve(s"r$r").toString
      val out = work.resolve("csv").resolve(s"r$r").toString
      val o0 = System.nanoTime()
      val rows: Either[String, Seq[Seq[String]]] = try {
        val (stats, _) = tracer.span("ops.filestats") {
          val st = Engine.fileStats(spark, root, pdfOpts).cache()
          (st, st.count())
        }
        val (report, rows) = tracer.span("ops.report") {
          val rep = ChunkPipeline.report(ChunkPipeline.statsWithTotal(stats))
          (rep, rep.collect())
        }
        tracer.span("ops.csv")(ChunkPipeline.writeCsv(report, out))
        if (probe) heapProbeMb = math.max(heapProbeMb, liveHeapMb())
        tracer.span("ops.unpersist")(stats.unpersist())
        Right(rows.toSeq.map(_.toSeq.map(String.valueOf)))
      } catch {
        case NonFatal(e) => Left(e.toString)
      }
      ((System.nanoTime() - o0) / 1e9, rows, out)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Pass(wall, expected.indices.map(r => s"r$r"), outs.map(_._1),
      outs.zipWithIndex.flatMap { case ((_, rows, out), r) =>
        rows.fold(Seq(_), checkRoot(r, _, out)).map(s"r$r" -> _)
      })
  }

  private def num(s: String): Long = s.replace(",", "").toLong

  /** The gate for one root: SUM TOTAL row, per-file rows and CSV rows
    * against the generator's expectation.
    */
  private def checkRoot(r: Int, rows: Seq[Seq[String]], csvDir: String): Seq[String] = {
    val want = expected(r)
    val bad = mutable.ArrayBuffer.empty[String]
    if (rows.isEmpty || rows.last.head != "SUM TOTAL") bad += "no SUM TOTAL row last"
    else {
      val t = rows.last
      val got = (num(t(1)), num(t(2)), num(t(3)), num(t(4)))
      val exp = (want.pages, want.chunks, want.fileSize, want.textSize)
      if (got != exp) bad += s"SUM TOTAL (pages, chunks, file_size, text_size) = $got, expected $exp"
    }
    if (rows.length - 1 != want.files) bad += s"${rows.length - 1} file rows, expected ${want.files}"
    val csv = Option(new java.io.File(csvDir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    val csvRows = csv.map(f => Files.readAllLines(f.toPath).size - 1L).sum
    if (csvRows != want.files + 1) bad += s"CSV has $csvRows rows, expected ${want.files + 1}"
    bad.toSeq
  }

  // ---- the query mix ----

  private def artifactState(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        var published, bytes = 0L
        s.filter(Files.isRegularFile(_)).forEach { p =>
          bytes += Files.size(p)
          if (p.getFileName.toString == "_SUCCESS") published += 1
        }
        (published, bytes)
      } finally s.close()
    }

  /** Untimed, after the set-up passes: the row count of each saved
    * result, which every later run of the query must reproduce.
    */
  private def readSavedCounts(spark: SparkSession, passId: Int): Unit =
    Queries.foreach { q =>
      val n = try spark.read.parquet(verifyDir.resolve(q).toString).count() catch {
        case NonFatal(_) => -1L
      }
      expectedRows(q) = n
      rowCounts += ((passId, q, n))
    }

  /** Counts whose query returned another number of rows than its
    * saved (oracle-checked) result; called once, after the timed passes.
    */
  private def checkCounts(): Unit = {
    rowCounts.foreach { case (passId, q, n) =>
      if (expectedRows.get(q).forall(_ != n)) fail(passId, q,
        s"$n rows, the saved result has ${expectedRows.getOrElse(q, -1L)}")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    Files.writeString(verifyDir.resolve("oracle_sql.json"), toJson(oracle))
  }

  /** (pass, query, rows) of every run of a query. */
  private val rowCounts = mutable.ArrayBuffer.empty[(Int, String, Long)]

  private val artifactBuilds = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))

  /** One pass over the mix in a fresh session. A set-up pass saves each
    * result as parquet (the output the oracle check reads); a timed pass
    * counts it, as graft.Bench does.
    */
  private def queryPass(base: SparkSession, passId: Int, save: Boolean, probe: Boolean): Pass = {
    val t0 = System.nanoTime()
    val s = base.newSession()
    val bad = mutable.ArrayBuffer.empty[(String, String)]
    val lat = Queries.map { q =>
      val before = if (tracer.on) artifactState(mixArtifacts) else (0L, 0L)
      val q0 = System.nanoTime()
      try tracer.span(s"query.$q") {
        val df = SparkEntry.queries(q)(s, corpusDir)
        if (save) df.coalesce(1).write.mode("overwrite").parquet(verifyDir.resolve(q).toString)
        else rowCounts += ((passId, q, df.count()))
      } catch {
        case NonFatal(e) => bad += (q -> e.toString)
      }
      val dt = (System.nanoTime() - q0) / 1e9
      if (tracer.on) {
        val after = artifactState(mixArtifacts)
        artifactBuilds(q) = (after._1 - before._1, after._2 - before._2)
      }
      dt
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // the session `s` and every session-keyed engine cache are still live here
    if (probe) heapProbeMb = liveHeapMb()
    Pass(wall, Queries, lat, bad.toSeq)
  }

  // ---- set-up, timed loop, result ----

  private def onePass(spark: SparkSession, passId: Int, setup: Boolean = false,
      probe: Boolean = false): Pass = {
    val p = if (isPdf) pdfPass(spark, passId, probe)
      else queryPass(spark, passId, save = setup, probe = probe)
    attempted += p.opS.length
    p.problems.foreach { case (op, msg) => fail(passId, op, msg) }
    p
  }

  private def fail(passId: Int, op: String, msg: String): Unit = {
    failedOps += ((passId, op))
    problems += s"pass $passId: $op: $msg"
  }

  private val heapMx = java.lang.management.ManagementFactory.getMemoryMXBean
  /** Live heap at the high-water point of the probe pass. */
  private var heapProbeMb = 0.0

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * shuffle, broadcast and RDD state only after a collection has
    * cleared their weak references, and takes up to a second to do it,
    * so collect, let it run, and collect again.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    (0 until 2).foreach { _ => Thread.sleep(400); System.gc() }
    heapMx.getHeapMemoryUsage.getUsed / 1e6
  }

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def apply(): Map[String, Any] = {
    Files.createDirectories(work)
    if (isPdf) { tree; expected } else Files.createDirectories(verifyDir)
    var spark: SparkSession = null
    var passId = 0
    val createS = mutable.ArrayBuffer.empty[Double]
    val setupS = (0 until SetupRepeats).map { i =>
      if (spark != null) spark.stop()
      val c0 = System.nanoTime()
      spark = session()
      val create = (System.nanoTime() - c0) / 1e9
      createS += create
      // query_mix's heap probe: the last set-up pass, read after its wall time
      val p = onePass(spark, passId, setup = true, probe = !isPdf && i == SetupRepeats - 1)
      if (!isPdf) readSavedCounts(spark, passId)
      passId += 1
      create + p.wallS
    }
    val setupArtifacts = artifactState(mixArtifacts)
    if (trace) tracer.onCurrent = id =>
      spark.sparkContext.setLocalProperty(RuntimeListener.SpanProperty, id.toString)

    val untraced = mutable.ArrayBuffer.empty[Pass]
    val traced = mutable.ArrayBuffer.empty[(Int, Pass, Map[String, Double])]
    // PDF passes keep speeding up for several passes while the JIT
    // compiles the codec and planner paths, so those are run untimed;
    // query passes do not speed up (session state accumulates instead).
    // The heap probe runs at the same pass index in every run, outside
    // any timing (pdf_mixed's first warm-up pass, so the passes after its
    // forced collections are warm again before timing starts; query_mix's
    // last set-up pass, once its wall time is taken), and reads the live
    // heap at the pass's high-water point: a root's stats still cached,
    // or a session's queries all run. So the reading does not depend on
    // how many timed passes fit in --seconds.
    val warmPasses = if (isPdf) 4 else 0
    (0 until warmPasses).foreach { i =>
      onePass(spark, passId, probe = i == 0)
      passId += 1
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < minPasses(isPdf) || System.nanoTime() < deadline) {
      val traceThis = trace && n % 2 == 1
      if (traceThis) {
        listener.reset()
        spark.sparkContext.addSparkListener(listener)
        tracer.pass = passId
      }
      tracer.on = traceThis
      val gc0 = gcSeconds
      val p = tracer.span("pass")(onePass(spark, passId))
      val gcS = gcSeconds - gc0
      tracer.on = false
      if (traceThis) {
        org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        traced += ((passId, p, passCounters(passId, p, gcS)))
      } else untraced += p
      passId += 1
      n += 1
    }

    val all = (untraced ++ traced.map(_._2)).toSeq
    val ops = all.flatMap(_.opS)
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "input_mb" -> inputBytes / 1e6, "passes" -> all.length,
      "setup_samples" -> setupS.length, "setup_samples_s" -> setupS, "create_s" -> createS.toSeq, "gen_s" -> genS,
      "pass_samples_s" -> all.map(_.wallS), "heap_samples" -> 1,
      "op_samples_s" -> all.flatMap(p => p.opNames.zip(p.opS).map { case (n, v) => Seq(n, v) }), "op_samples" -> ops.length,
      "tail_percentile" -> TailPercentile,
      "ops_beyond_tail" -> ops.count(_ > percentile(ops, TailPercentile)))
    val metrics: Map[String, Double] =
      if (!trace) {
        val passS = median(all.map(_.wallS))
        Map(
          "setup_s" -> median(setupS),
          "pass_s" -> passS,
          "input_mb_per_s" -> inputBytes / 1e6 / passS,
          "op_s_p50" -> median(ops),
          "op_s_tail" -> percentile(ops, TailPercentile),
          "heap_live_mb_peak" -> heapProbeMb)
      } else layerMetrics(spark, untraced.toSeq, traced.toSeq) ++ Map(
        "sources.setup_artifact_builds" -> setupArtifacts._1.toDouble,
        "sources.setup_artifact_mb" -> setupArtifacts._2 / 1e6)
    metrics.foreach { case (k, v) => require(!v.isNaN && !v.isInfinite, s"$k = $v") }
    spansOut.foreach(p => tracer.write(p, listener.jobs.toSeq))
    if (!isPdf) checkCounts()
    spark.stop()
    Map("attempted" -> attempted, "failed" -> failedOps.size, "problems" -> problems.take(20).toSeq,
      "metrics" -> metrics, "info" -> info,
      "verify_dir" -> (if (isPdf) "" else verifyDir.toString))
  }

  // ---- traced run: per-layer metrics ----

  /** Per-pass counters of one traced pass (read once the bus drained). */
  private def passCounters(passId: Int, p: Pass, gcS: Double): Map[String, Double] = {
    val spans = tracer.spans.filter(_.pass == passId)
    val jobs = listener.jobs.toSeq
    val passSpan = spans.find(_.name == "pass").get
    val calls = spans.filter(_.parent == passSpan.id)
    // union of the Spark job intervals inside each public call
    def covered(s: Tracer.Span): Double = {
      val iv = jobs.filter(j => j.endMs >= s.startMs && j.startMs <= s.endMs)
        .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))).sortBy(_._1)
      var total = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
      total / 1e3
    }
    val jobsS = calls.map(c => math.min(covered(c), c.seconds)).sum
    val byQuery = Queries.flatMap { q =>
      val ids = spans.filter(_.name == s"query.$q").map(_.id).toSet
      Seq(s"query.${q}_s" -> tracer.total(passId, s"query.$q"),
        s"query.${q}_jobs" -> jobs.count(j => ids.contains(j.span)).toDouble)
    }
    val (builds, artBytes) = artifactBuilds.values.foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
    artifactBuilds.clear()
    Map(
      "trace.pass_s" -> p.wallS,
      "trace.self.harness_s" -> (passSpan.seconds - calls.map(_.seconds).sum),
      "trace.self.driver_s" -> (calls.map(_.seconds).sum - jobsS),
      "trace.self.jobs_s" -> jobsS,
      "ops.filestats_s" -> tracer.total(passId, "ops.filestats"),
      "ops.report_s" -> tracer.total(passId, "ops.report"),
      "ops.csv_s" -> tracer.total(passId, "ops.csv"),
      "sources.artifact_builds" -> builds.toDouble,
      "sources.artifact_mb" -> artBytes / 1e6,
      "spark.jobs" -> jobs.length.toDouble,
      "spark.stages" -> listener.stages.toDouble,
      "spark.tasks" -> listener.tasks.toDouble,
      "spark.task_s" -> listener.taskMs / 1e3,
      "spark.busy_frac" -> listener.taskMs / 1e3 / (p.wallS * cores),
      "spark.shuffle_mb" -> listener.shuffleBytes / 1e6,
      "spark.spill_mb" -> listener.spillBytes / 1e6,
      "spark.gc_s" -> gcS) ++ byQuery
  }

  private def layerMetrics(
      spark: SparkSession, untraced: Seq[Pass],
      traced: Seq[(Int, Pass, Map[String, Double])]): Map[String, Double] = {
    val perPass = traced.map(_._3)
    val med = perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap
    val overhead = med("trace.pass_s") - median(untraced.map(_.wallS))
    tracer.on = true
    tracer.pass = -2
    val listS =
      if (!isPdf) 0.0
      else median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        expected.indices.foreach { r =>
          tracer.span("sources.list") {
            graft.sources.FileSources.binaryFiles(spark, tree.resolve(s"r$r").toString, "*.pdf")
              .select("path", "length").count()
          }
        }
        (System.nanoTime() - t0) / 1e9
      })
    val replay = if (isPdf) Some(CodecReplay.run(tree, tracer)) else None
    tracer.on = false
    def spanS(prefix: String): Double =
      tracer.spans.iterator.filter(s => s.pass == -2 && s.name.startsWith(prefix)).map(_.seconds).sum
    def spanN(prefix: String): Long =
      tracer.spans.count(s => s.pass == -2 && s.name.startsWith(prefix)).toLong
    def rate(bytes: Long, s: Double): Double = if (s > 0) bytes / 1e6 / s else 0.0
    val open = PdfTrees.Shapes.map { sh =>
      val n = spanN(s"pdf.open.$sh")
      s"pdf.open_ms_per_file.$sh" -> (if (n > 0) spanS(s"pdf.open.$sh") * 1e3 / n else 0.0)
    }
    val codec: Map[String, Double] = replay match {
      case Some(r) =>
        val decodeS = spanS("pdf.decode")
        val fontsS = spanS("pdf.fonts")
        val extractS = spanS("pdf.extract")
        val walkS = extractS - spanS("pdf.open") - decodeS - fontsS
        Map(
          "pdf.decode_mb_per_s" -> rate(r.contentBytes, decodeS),
          "pdf.fonts_ms_per_page" -> (if (r.pages > 0) fontsS * 1e3 / r.pages else 0.0),
          "pdf.extract_mb_per_s" -> rate(r.inputBytes, extractS),
          "pdf.walk_mb_per_s" -> rate(r.contentBytes, walkS),
          "pdf.pages" -> r.pages.toDouble,
          "pdf.files_without_pages" -> r.filesWithoutPages.toDouble,
          "split.mb_per_s" -> rate(r.textChars, spanS("split")),
          "split.chunks" -> r.chunks.toDouble,
          "ops.normalize_mb_per_s" -> rate(r.chunkChars, spanS("ops.normalize")))
      case None => Map(
          "pdf.decode_mb_per_s" -> 0.0, "pdf.fonts_ms_per_page" -> 0.0,
          "pdf.extract_mb_per_s" -> 0.0, "pdf.walk_mb_per_s" -> 0.0,
          "pdf.pages" -> 0.0, "pdf.files_without_pages" -> 0.0,
          "split.mb_per_s" -> 0.0, "split.chunks" -> 0.0, "ops.normalize_mb_per_s" -> 0.0)
    }
    val files = if (isPdf) expected.map(_.files).sum
      else Option(new java.io.File(corpusDir).listFiles()).map(_.count(_.getName.endsWith(".parquet")))
        .getOrElse(0).toLong
    med ++ open ++ codec ++ Map(
      "trace.untraced_pass_s" -> median(untraced.map(_.wallS)),
      "trace.overhead_s" -> overhead,
      "sources.list_s" -> listS,
      "sources.files" -> files.toDouble,
      "sources.input_mb" -> inputBytes / 1e6)
  }
}
