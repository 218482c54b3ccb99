package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

import graft.langid.FastLangId
import graft.pipeline.QualityFilter
import graft.ppl.NgramLM
import graft.quality.Heuristics
import graft.scrub.Scrubber

/** Per-layer timings taken from outside the engine: single-thread calls into
  * each analysis kernel's public function, on the workload's own texts.
  */
object Layers {

  private val Reps = 5

  /** Results of the timed calls land here, so none of them is dead code. */
  @volatile var blackhole = 0L

  /** Whether `analyzeContent` gets past the scrubber's input validation for
    * this text (langid and perplexity run only then).
    */
  private def analysable(t: String): Boolean =
    t != null && t.trim.nonEmpty && t.length <= Scrubber.MaxChars

  /** Each kernel is fed exactly what `QualityFilter.analyzeContent` feeds
    * it, and every figure is divided by the full row count, so scrub +
    * langid + ppl + quality should add up to `pipeline.analyze_us_per_row`.
    * The kernels are timed in turn within each of `Reps` rounds (after one
    * warm round), and each reports its median round, so a change in host
    * speed during the measurement moves all of them alike.
    */
  def analysis(rows: IndexedSeq[String], longTexts: IndexedSeq[String], r: Report): Unit = {
    val n = rows.length
    val ok = rows.filter(analysable)
    val lang = FastLangId.model
    val lm = NgramLM.model
    val spans = ok.map(t => Scrubber.findSpans(t))
    var sink = 0L
    val kernels: Seq[(String, () => Unit)] = Seq(
      "scrub.us_per_row" -> (() => rows.foreach(t => sink += Scrubber.scrub(t).scrubbed.length)),
      "scrub.find_us_per_row" -> (() => ok.foreach(t => sink += Scrubber.findSpans(t).length)),
      "scrub.redact_us_per_row" -> (() => ok.indices.foreach(i =>
        sink += Scrubber.redact(ok(i), spans(i)).length)),
      "langid.us_per_row" -> (() => ok.foreach(t => sink += FastLangId.predict(t, lang).lang.length)),
      "ppl.us_per_row" -> (() => ok.foreach(t => sink += NgramLM.perplexity(t, lm).toLong)),
      "quality.us_per_row" -> (() => rows.foreach { t =>
        val q = Heuristics.stats(if (t == null) "" else t)
        if (analysable(t) && Heuristics.passes(q)) sink += 1
      }),
      "pipeline.analyze_us_per_row" -> (() => rows.foreach(t =>
        sink += QualityFilter.analyzeContent(t, lang, lm, QualityFilter.Default).scrubbedContent.length)))
    kernels.foreach(_._2())
    val rounds = (1 to Reps).map(_ => kernels.map { case (_, k) => Timer.seconds(k()) })
    kernels.indices.foreach { i =>
      r.put(kernels(i)._1, Report.median(rounds.map(_(i))) * 1e6 / n, "us")
    }
    r.put("scrub.spans_per_row", spans.map(_.length).sum.toDouble / n, "count")

    longTexts.foreach(t => sink += Scrubber.scrub(t).scrubbed.length)
    val longMs = longTexts.map(t => Timer.seconds(sink += Scrubber.scrub(t).scrubbed.length) * 1e3)
    r.put("scrub.longtext_ms_p50", Report.median(longMs), "ms")
    r.put("scrub.longtext_ms_max", longMs.max, "ms")
    blackhole += sink
  }

  /** The longest texts that pass input validation: the long-text sample of
    * a workload that has no planted long texts.
    */
  def longest(rows: IndexedSeq[String], k: Int): IndexedSeq[String] =
    rows.filter(analysable).sortBy(t => -t.length).take(k)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** JVM state at the end of a run: GC seconds spent in the timed region,
    * heap still live after a full collection, and Spark storage left cached.
    */
  def jvm(sc: SparkContext, gcS: Double, r: Report): Unit = {
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    r.put("jvm.gc_s", gcS, "s")
    r.put("jvm.heap_live_mb", heap / 1048576.0, "MB")
    r.put("jvm.cached_mb", cached / 1048576.0, "MB")
  }
}
