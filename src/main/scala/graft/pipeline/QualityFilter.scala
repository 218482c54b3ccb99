package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.langid.{FastLangId, LangCorpus}
import graft.model.{CodeFile, ScanResult}
import graft.ppl.NgramLM
import graft.quality.Heuristics
import graft.scrub.Scrubber

/** The end-to-end quality-filter pipeline (north rule):
  *
  *   Dataset[CodeFile] → langid + perplexity + heuristics + PII scrub →
  *   Dataset[ScanResult] with keep/drop + scrubbed content per file.
  *
  * Execution shape (designed for the 100 TB case):
  *  - one typed `mapPartitions` pass — per row a single analysis computing
  *    every signal; no shuffle anywhere in the scoring stage (narrow
  *    dependency end to end until the metrics agg);
  *  - model weights (`FastLangId.Model`, `NgramLM.Model`) are broadcast once
  *    per executor, mirroring the reference's per-worker model copy
  *    (reference Makefile:97, src/inference.py:94-95);
  *  - per-row errors are captured in `ScanResult.error`, never thrown — the
  *    "never fail the batch" contract (reference src/inference.py:355-421);
  *    output cardinality == input cardinality always;
  *  - `sha256` of the ORIGINAL content is computed before scrubbing and is
  *    the per-row identity invariant (BASELINE.json input_hint).
  */
object QualityFilter {

  // Calibrated on the fixture distribution (graft.tools.Probe, n=3000):
  // clean rows: conf ∈ [0.275, ..], ppl ≤ 14.3; gibberish: ppl ≥ 59.5.
  // Thresholds sit in the wide gaps so the keep/drop gold labels are stable.
  final case class Config(
      minLangConf: Double = 0.22,
      maxPpl: Double = 30.0,
      keepLangs: Set[String] = LangCorpus.KeepLangs,
      heuristics: Heuristics.Config = Heuristics.Default,
      // Toxicity deny-list (north rule "PII/toxicity scrubbing"). Empty (the
      // default) disables the stage and is bitwise identical to PII-only:
      // every golden / digest / F1 gate pins that default.
      toxicTerms: Seq[String] = Nil
  ) extends Serializable {
    // compiled once per JVM that reads the broadcast config (Pattern is not
    // worth shipping; recompiling per executor is cheap and deterministic)
    @transient lazy val denyCompiled: Option[java.util.regex.Pattern] =
      Scrubber.denyPattern(toxicTerms)
  }

  val Default: Config = Config()

  /** Total per-row analysis — pure function of (file, models, config).
    * Scalar form used by tests/tools; `run` executes the same logic
    * columnar-side.
    */
  def analyze(
      f: CodeFile,
      langModel: FastLangId.Model,
      lm: NgramLM.Model,
      cfg: Config
  ): ScanResult = {
    val content = if (f.content == null) "" else f.content
    val a = analyzeContent(f.content, langModel, lm, cfg)
    ScanResult(
      f.repo, f.path, f.commit, graft.util.Hashing.sha256Hex(content), f.lang,
      a.langIdLang, a.langIdConf, a.perplexity, a.quality,
      a.hasPii, a.piiTypes, a.entities, a.scrubbedContent, a.keep, a.error)
  }

  /** Per-content analysis payload (everything except the passthrough keys
    * and the sha, which stay columnar).
    */
  final case class Analysis(
      langIdLang: String, langIdConf: Double, perplexity: Double,
      quality: graft.model.QualityStats, hasPii: Boolean,
      piiTypes: Seq[String], entities: Seq[graft.model.Entity],
      scrubbedContent: String, keep: Boolean, error: String)

  /** Content-only analysis — the scalar core shared by both run paths. */
  def analyzeContent(
      content0: String,
      langModel: FastLangId.Model,
      lm: NgramLM.Model,
      cfg: Config): Analysis = {
    val content = if (content0 == null) "" else content0
    val s = Scrubber.scrub(content0, cfg.denyCompiled)
    if (s.error != null) {
      Analysis("unknown", 0.0, -1.0, Heuristics.stats(content),
        hasPii = false, Vector.empty, Vector.empty, s.scrubbed, keep = false, s.error)
    } else {
      val pred = FastLangId.predict(content, langModel)
      val ppl = NgramLM.perplexity(content, lm)
      val q = Heuristics.stats(content)
      val keep = cfg.keepLangs.contains(pred.lang) &&
        pred.confidence >= cfg.minLangConf &&
        ppl <= cfg.maxPpl &&
        Heuristics.passes(q, cfg.heuristics)
      Analysis(pred.lang, pred.confidence, ppl, q,
        s.hasPii, s.piiTypes, s.entities, s.scrubbed, keep, error = null)
    }
  }

  /** End-to-end run, columnar execution shape: only `content` crosses the
    * JVM boundary into the analysis UDF; the key columns (repo, path,
    * commit, lang) stay as Tungsten UTF8 bytes end to end, and the sha256
    * invariant is the native codegen'd `sha2`. Model weights are broadcast
    * once per executor and read inside the UDF.
    */
  def run(ds: Dataset[CodeFile], cfg: Config = Default): Dataset[ScanResult] = {
    val spark = ds.sparkSession
    val bcLang = spark.sparkContext.broadcast(FastLangId.model)
    val bcLm = spark.sparkContext.broadcast(NgramLM.model)
    val bcCfg = spark.sparkContext.broadcast(cfg)
    val analyzeUdf = udf { (content: String) =>
      analyzeContent(content, bcLang.value, bcLm.value, bcCfg.value)
    }
    ds.toDF()
      .withColumn("a", analyzeUdf(col("content")))
      .select(
        col("repo"), col("path"), col("commit"),
        sha2(coalesce(col("content"), lit("")), 256).as("sha256"),
        col("lang"),
        col("a.langIdLang").as("langIdLang"),
        col("a.langIdConf").as("langIdConf"),
        col("a.perplexity").as("perplexity"),
        col("a.quality").as("quality"),
        col("a.hasPii").as("hasPii"),
        col("a.piiTypes").as("piiTypes"),
        col("a.entities").as("entities"),
        col("a.scrubbedContent").as("scrubbedContent"),
        col("a.keep").as("keep"),
        col("a.error").as("error"))
      .as[ScanResult](org.apache.spark.sql.Encoders.product[ScanResult])
  }

  /** Per-partition lineage metrics (north rule: files scanned / kept /
    * scrubbed, PII hits by category, errors per partition).
    */
  def partitionMetrics(results: Dataset[ScanResult]): DataFrame = {
    val withPid = results.toDF().withColumn("partitionId", spark_partition_id())
    val base = withPid
      .groupBy(col("partitionId"))
      .agg(
        count(lit(1)).as("filesScanned"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("filesKept"),
        sum(when(col("hasPii"), 1L).otherwise(0L)).as("filesScrubbed"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("errors")
      )
    val hits = withPid
      .select(col("partitionId"), explode(col("piiTypes")).as("piiType"))
      .groupBy(col("partitionId"), col("piiType"))
      .agg(count(lit(1)).as("hits"))
      .groupBy(col("partitionId"))
      .agg(map_from_entries(collect_list(struct(col("piiType"), col("hits"))))
        .as("piiHitsByCategory"))
    base.join(hits, Seq("partitionId"), "left")
  }

  /** Whole-job statistics row — the exact `get_pii_statistics` shape
    * (reference src/inference.py:190-205): totals, 4-dp rate, per-type
    * distribution sorted desc by count, error count. Reads the columns
    * `hasPii`, `piiTypes` and `error`, which both [[run]]'s results and
    * [[graft.api.Detect.detectBatch]]'s rows carry.
    */
  def statistics(df: DataFrame): DataFrame = {
    val dist = df
      .select(explode(col("piiTypes")).as("piiType"))
      .groupBy("piiType").agg(count(lit(1)).as("cnt"))
      .agg(sort_array(collect_list(struct(col("cnt"), col("piiType"))), asc = false)
        .as("piiTypeDistribution"))
    df.agg(
      count(lit(1)).as("totalTexts"),
      sum(when(col("hasPii"), 1L).otherwise(0L)).as("textsWithPii"),
      sum(when(!col("hasPii"), 1L).otherwise(0L)).as("textsWithoutPii"),
      round(avg(when(col("hasPii"), 1.0).otherwise(0.0)), 4).as("piiRate"),
      sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("errors")
    ).crossJoin(dist)
  }
}
