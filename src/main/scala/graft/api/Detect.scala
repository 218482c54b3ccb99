package graft.api

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.errors._
import graft.ingest.Uploads
import graft.scrub.Scrubber
import graft.scrub.Scrubber.ScrubResult

/** Serving-surface semantics of the reference detector API
  * (reference src/api.py routes + src/inference.py batch contract): the
  * request-scoped core [[graft.serve.HttpApi]] serves, plus the same results
  * as DataFrames for library callers. Every behavioural guarantee a client
  * of `/detect/batch` relies on is reproduced:
  *  - empty input LIST raises (EmptyInputError("texts list"), api.py:322);
  *  - batch cap 1000 texts raises InvalidFieldError (api.py:53, 323-327);
  *  - per-ITEM problems never fail the batch: captured in `error`,
  *    output length always equals input length (src/inference.py:355-421);
  *  - result shape mirrors `PIIResult.to_dict()` (src/inference.py:66-67);
  *  - every failure is a `graft.errors.GraftError`, whose `toMap`/`toJson`
  *    is the reference's `to_dict()` contract (exceptions.py:38).
  *
  * Request-scoped work (≤ 1000 texts, or one ≤ 50 MB upload) is scrubbed
  * in-process on the calling thread; the corpus-scale path is
  * [[graft.pipeline.QualityFilter]].
  */
object Detect {

  val MaxBatchTexts = 1000 // api.py:53

  /** Batch detect: the caps, then one [[Scrubber.scrub]] per text, in
    * input order.
    */
  def scrubBatch(texts: Seq[String]): Vector[ScrubResult] = {
    if (texts.isEmpty) throw EmptyInputError("texts list") // api.py:321-322
    if (texts.length > MaxBatchTexts)
      throw InvalidFieldError("texts",
        s"list length ${texts.length} exceeds maximum allowed $MaxBatchTexts") // api.py:323-327
    texts.iterator.map(Scrubber.scrub).toVector
  }

  /** [[scrubBatch]] as a local DataFrame: one row per input text, `idx` is
    * its position.
    */
  def detectBatch(spark: SparkSession, texts: Seq[String]): DataFrame =
    resultFrame(spark, "idx", texts.indices, scrubBatch(texts))

  /** File-upload detect facade (reference api.py `/detect/file`,
    * api.py:97-155 + 493-529): [[Uploads.readUpload]], then scrub.
    *  - `.txt`  → one detect row per non-blank line (line grid);
    *  - `.csv` / `.xlsx` → redacted grid, schema preserved, plus the
    *    per-row `_pii_types` aggregate.
    * Upload problems (missing/empty/oversized/unsupported/corrupt file)
    * surface as typed `graft.errors.GraftError`s — the reference's 4xx
    * contract (api.py:473-479 routes exactly these classes to 400).
    */
  def detectUpload(spark: SparkSession, path: String,
      columns: Option[Seq[String]] = None): DataFrame =
    Uploads.readUpload(spark, path) match {
      case Uploads.TxtUpload(lines) => resultFrame(spark, "line", lines, lines.map(Scrubber.scrub))
      case Uploads.GridUpload(grid, kind) =>
        Uploads.scrubGrid(grid, columns, new java.io.File(path).getName, kind)
    }

  /** Results as rows keyed by `key`, in the `PIIResult.to_dict` fields. */
  private def resultFrame[K: TypeTag](spark: SparkSession, key: String, keys: Seq[K],
      results: Seq[ScrubResult]): DataFrame = {
    import spark.implicits._
    keys.zip(results)
      .map { case (k, r) => (k, r.hasPii, r.scrubbed, r.piiTypes, r.entities, r.error) }
      .toDF(key, "hasPii", "redactedText", "piiTypes", "entities", "error")
  }

  /** `/info` payload analogue (api.py:232-236): service/model metadata,
    * field names mirroring the reference's JSON keys. Uninitialised model
    * dir → ModelNotFoundError, the 503 analogue (api.py:226).
    */
  final case class ServiceInfo(
      model_path: String,
      device: String,
      confidence_threshold: Double,
      supported_pii_types: Seq[String],
      num_labels: Int,
      batch_size: Int)

  /** This engine's detector is the regex scrubber: confidence is always
    * 1.0 and the type set is the north-rule four.
    */
  val SupportedPiiTypes: Seq[String] = Seq("EMAIL", "IP_ADDRESS", "PHONE", "SECRET")

  def info(spark: SparkSession, modelDir: String): ServiceInfo = {
    val m = graft.io.ModelArtifacts.loadLabelMapping(spark, modelDir) // validates like api.py:226
    ServiceInfo(modelDir, "cpu", 1.0, SupportedPiiTypes, m.numLabels, MaxBatchTexts)
  }

  /** `/health` analogue (api.py:214-219): (status, model_loaded). */
  def health(spark: SparkSession, modelDir: String): (String, Boolean) = {
    val loaded =
      try { graft.io.ModelArtifacts.validateModelDir(spark, modelDir); true }
      catch { case _: GraftError => false }
    ("healthy", loaded)
  }
}
