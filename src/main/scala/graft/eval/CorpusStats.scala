package graft.eval

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ingest.TaggedRecord

/** Corpus EDA statistics (reference notebooks/EDA.ipynb cells 10, 12, 17,
  * 22, 23, 25, 27, 36 — SURVEY.md A6): totals, PII rate, length
  * percentiles, entities-per-record histogram, O:entity token imbalance,
  * per-source summary pivot.
  */
object CorpusStats {

  /** One-row global summary (EDA cells 10/22/23/27). */
  def global(ds: Dataset[TaggedRecord]): DataFrame = {
    ds.toDF()
      .select(
        size(col("tokens")).as("len"),
        size(filter(col("labels"), l => l.startsWith("B-"))).as("entities"),
        size(filter(col("labels"), l => l =!= "O")).as("entityTokens"))
      .agg(
        count(lit(1)).as("records"),
        sum(col("len")).as("tokens"),
        sum(when(col("entities") > 0, 1L).otherwise(0L)).as("recordsWithPii"),
        round(avg(when(col("entities") > 0, 1.0).otherwise(0.0)), 4).as("piiRate"),
        sum(col("entities")).as("entityMentions"),
        round(expr("percentile(len, 0.5)"), 1).as("lenP50"),
        round(expr("percentile(len, 0.75)"), 1).as("lenP75"),
        round(expr("percentile(len, 0.9)"), 1).as("lenP90"),
        round(expr("percentile(len, 0.95)"), 1).as("lenP95"),
        round(avg(when(col("len") > 512, 1.0).otherwise(0.0)), 6).as("fracOver512"),
        round(
          (sum(col("len")) - sum(col("entityTokens"))).cast("double") /
            greatest(sum(col("entityTokens")), lit(1L)), 1).as("oToEntityRatio"))
  }

  /** Per-source summary table (EDA cell 36 pivot shape). */
  def perSource(ds: Dataset[TaggedRecord]): DataFrame =
    ds.toDF()
      .select(col("source"), size(col("tokens")).as("len"),
        size(filter(col("labels"), l => l.startsWith("B-"))).as("entities"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("records"),
        sum(col("len")).as("tokens"),
        round(avg(col("len")), 2).as("avgLen"),
        sum(col("entities")).as("entityMentions"),
        round(avg(when(col("entities") > 0, 1.0).otherwise(0.0)), 4).as("piiRate"))

  /** Entities-per-record histogram (EDA cell 25). */
  def entitiesHistogram(ds: Dataset[TaggedRecord]): DataFrame =
    ds.toDF()
      .select(size(filter(col("labels"), l => l.startsWith("B-"))).as("nEntities"))
      .groupBy("nEntities").agg(count(lit(1)).as("nRecords"))
}
