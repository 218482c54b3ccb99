package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.eval.SpanF1
import graft.fixtures.Fixtures
import graft.io.TableIO
import graft.langid.FastLangId
import graft.model.ScanResult
import graft.pipeline.{Partitioning, QualityFilter}
import graft.ppl.NgramLM

/** The pipeline workload over the seeded fixture corpus.
  *
  * `scan_fixture` times `QualityFilter.run` into the `noop` sink: the
  * analysis kernels do the work, with no shuffle and no write. Its traced
  * run also drives Main's commit + resume path over the same corpus for the
  * `io` layer.
  */
object Pipelines {

  /** Corpus rows, and parquet files it is stored in. */
  val Rows = 16000L
  val Files = 32
  /** Corpus files a set-up's warm call reads. */
  val WarmFiles = 4
  val Buckets = 64
  /** Untimed passes between the set-ups and the timed loop. The JIT keeps
    * compiling over the first 60,000 or so rows; timing them would measure
    * its progress, which varies from one JVM to the next.
    */
  val WarmCalls = 4
  /** Rows of the single-thread per-layer sample. */
  val SampleRows = 1000

  private val Key = Seq("repo", "path", "commit")
  private val Untraced = new Tracer(false)

  private def touchModels(): Unit = { FastLangId.model; NgramLM.model }

  /** Set up `Bench.SetUps` times (session, models, one warm call over the
    * first `WarmFiles` corpus files) and generate the corpus after the first
    * session start; the generation time is reported apart and is not part
    * of any set-up.
    */
  private def setUp(ctx: Ctx, corpus: Corpus, warm: SparkSession => Unit)
      : (SparkSession, Vector[Double], Double) = {
    var spark: SparkSession = null
    var genS = 0.0
    val setups = (1 to Bench.SetUps).map { i =>
      if (spark != null) spark.stop()
      val (s, startS) = Timer.timed(ctx.session())
      spark = s
      spark.sparkContext.setLogLevel("ERROR")
      if (i == 1) genS = Bench.phase("generate corpus")(corpus.materialize(spark))
      startS + Timer.seconds { touchModels(); warm(spark) }
    }.toVector
    (spark, setups, genS)
  }

  private def sample(corpus: Corpus): IndexedSeq[String] =
    (corpus.offset until corpus.offset + SampleRows).map(i => Fixtures.genRow(i)._1.content)

  // ------------------------------------------------------------------
  // correctness
  // ------------------------------------------------------------------
  // computed here rather than with graft.util.Hashing, so the check does
  // not reuse the code it checks
  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest((if (s == null) "" else s).getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Output count equals input count; every row's `sha256` equals
    * sha256(content); span F1 = keep F1 = 1.0 and no scrub mismatch
    * against the gold rows for the same indices.
    */
  def checkResults(spark: SparkSession, results: Dataset[ScanResult], corpus: Corpus,
      r: Report): Boolean = {
    val n = results.count()
    val countOk = r.check(n == corpus.n, s"output rows $n != input rows ${corpus.n}")
    val shaUdf = udf((s: String) => sha256Hex(s))
    val expected = corpus.read(spark).toDF()
      .select(Key.map(col) :+ shaUdf(col("content")).as("expected"): _*)
    val shaBad = expected.join(results.toDF().select(Key.map(col) :+ col("sha256"): _*), Key, "full_outer")
      .filter(col("expected").isNull || col("sha256").isNull || col("expected") =!= col("sha256"))
      .count()
    val shaOk = r.check(shaBad == 0, s"$shaBad rows whose sha256 differs from sha256(content)")
    val gold = corpus.gold(spark).persist()
    val span = SpanF1.spanScores(results, gold)
    val keep = SpanF1.keepScores(results, gold)
    val scrubBad = SpanF1.scrubMismatches(results, gold).count()
    gold.unpersist(blocking = true)
    val spanOk = r.check(span.tp > 0 && span.fp == 0 && span.fn == 0, s"span F1 ${span.f1} ($span)")
    val keepOk = r.check(keep.tp > 0 && keep.fp == 0 && keep.fn == 0, s"keep F1 ${keep.f1} ($keep)")
    val scrubOk = r.check(scrubBad == 0, s"$scrubBad scrub mismatches")
    countOk && shaOk && spanOk && keepOk && scrubOk
  }

  private def traceOverhead(r: Report, untraced: Seq[Double], traced: Seq[Double]): Unit =
    r.put("bench.trace_overhead", Report.median(traced) / Report.median(untraced), "ratio")

  // ------------------------------------------------------------------
  // scan_fixture
  // ------------------------------------------------------------------
  def scanFixture(ctx: Ctx): Report = {
    val r = new Report
    val corpus = Corpus(ctx.seed, Rows, Files, ctx.work)
    def pass(spark: SparkSession): Unit = Bench.force(QualityFilter.run(corpus.read(spark)).toDF())
    val (spark, setups, genS) = Bench.phase("set-ups")(setUp(ctx, corpus, spark =>
      Bench.force(QualityFilter.run(corpus.readFirst(spark, WarmFiles)).toDF())))

    val gc0 = Layers.gcSeconds()
    val calls = Bench.loop(ctx.seconds, WarmCalls)(pass(spark))
    val gcS = Layers.gcSeconds() - gc0
    r.attempted += calls.length
    // a pass's throughput is taken at the median pass, so one pass slowed
    // by the host does not move the run's figure
    val median = Report.median(calls)
    Bench.endToEnd(r, setups, calls, Rows / median, 1 / median)

    if (ctx.trace) {
      val rec = new StageRecorder(spark.sparkContext)
      rec.open()
      val traced = Bench.loop(ctx.seconds / 2) {
        ctx.tracer.span("QualityFilter.run")(_ => pass(spark))
      }
      val totals = rec.close()
      rec.detach()
      val rows = sample(corpus)
      Bench.phase("layers")(Layers.analysis(rows, Layers.longest(rows, 10), r))
      Bench.sparkLayers(r, totals, traced.length, Rows * traced.length, traced.sum, ctx.cores,
        r.value("pipeline.analyze_us_per_row"))
      traceOverhead(r, calls, traced)
      Bench.absent(r, Bench.ServeMetrics: _*)
    }

    r.attempted += 1
    Bench.phase("checks") {
      val results = QualityFilter.run(corpus.read(spark)).persist()
      if (!checkResults(spark, results, corpus, r)) r.failed += 1
      results.unpersist(blocking = true)
    }
    // after the scan's checks: it sets the session's AQE options as Main does
    if (ctx.trace) Bench.phase("io layer")(ioLayer(ctx, spark, corpus, r))
    Bench.finish(ctx, spark, r, gcS, genS)
  }

  // ------------------------------------------------------------------
  // io layer (traced scan_fixture runs)
  // ------------------------------------------------------------------
  /** Main's path over the same corpus: `Partitioning.balanced`, then
    * `TableIO.runResumable` into a fresh table root, as a first invocation
    * capped at half the buckets and a second that resumes from its snapshot.
    * After one warm cycle, one traced cycle gives the `io` metrics.
    * The last cycle's table is then read back with `TableIO.readCommitted`
    * and checked like the scan's output, and its snapshots' lineage against
    * `TableIO.auditMetrics`.
    */
  private def ioLayer(ctx: Ctx, spark: SparkSession, corpus: Corpus, r: Report): Unit = {
    val tables = new File(ctx.work, s"tables-${ProcessHandle.current().pid()}")
    var rootN = 0
    def cycle(tracer: Tracer, parent: Long): String = {
      rootN += 1
      val root = new File(tables, s"t$rootN").getPath
      val input = Partitioning.balanced(corpus.read(spark), ctx.cores * 4)
      tracer.span("TableIO.runResumable.commit", parent)(_ =>
        TableIO.runResumable(input, root, Buckets, maxBucketsPerRun = Buckets / 2))
      tracer.span("TableIO.runResumable.resume", parent)(_ => TableIO.runResumable(input, root, Buckets))
      root
    }

    Partitioning.applyAqe(spark)
    cycle(Untraced, 0L)
    val rec = new StageRecorder(spark.sparkContext)
    rec.open()
    val last = ctx.tracer.span("cycle")(id => cycle(ctx.tracer, id))
    val totals = rec.close()
    rec.detach()
    r.put("io.commit_s", ctx.tracer.seconds("TableIO.runResumable.commit"), "s")
    r.put("io.resume_s", ctx.tracer.seconds("TableIO.runResumable.resume"), "s")
    r.put("io.write_stage_s", totals.writeStageS, "s")
    r.put("io.files_written", parquetFiles(new File(last, "data")).toDouble, "count")
    r.put("io.output_mb_per_input_mb", bytes(new File(last, "data")) / bytes(new File(corpus.path)), "ratio")
    r.put("io.read_committed_s",
      Timer.seconds(ctx.tracer.span("TableIO.readCommitted")(_ => TableIO.readCommitted(spark, last).count())), "s")

    r.attempted += 1
    val committed = TableIO.readCommitted(spark, last)
    val ok = Bench.phase("io checks")(
      checkResults(spark, TableIO.results(committed), corpus, r) & checkLineage(spark, last, r))
    if (!ok) r.failed += 1
    deleteTree(tables)
  }

  /** Two snapshots cover all buckets (half each), and the lineage totals
    * they recorded during the writes equal `TableIO.auditMetrics` over the
    * files on disk.
    */
  private def checkLineage(spark: SparkSession, root: String, r: Report): Boolean = {
    val snaps = TableIO.snapshots(spark, root)
    val shapeOk = r.check(snaps.map(_.committedBuckets.size) == Seq(Buckets / 2, Buckets) &&
      snaps.last.committedBuckets == (0 until Buckets).toSet,
      s"snapshots commit ${snaps.map(_.committedBuckets.size)} buckets, expected ${Seq(Buckets / 2, Buckets)}")
    def totals(ms: Seq[TableIO.BucketMetrics]) = (
      ms.map(_.filesScanned).sum, ms.map(_.filesKept).sum, ms.map(_.filesScrubbed).sum,
      ms.map(_.errors).sum,
      ms.flatMap(_.piiHits.toSeq).groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum })
    val recorded = totals(snaps.last.metrics)
    val audited = totals(TableIO.auditMetrics(spark, root, 0 until Buckets))
    val lineageOk = r.check(recorded == audited, s"snapshot lineage $recorded != audit $audited")
    val scannedOk = r.check(recorded._1 == Rows, s"lineage scanned ${recorded._1} != $Rows")
    shapeOk && lineageOk && scannedOk
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def bytes(f: File): Double =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else if (f.getName.endsWith(".parquet")) f.length.toDouble else 0.0

  private def parquetFiles(dir: File): Int =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum
}
