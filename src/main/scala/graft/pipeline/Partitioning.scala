package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioning, skew and AQE policy for the 10^12-file case (north rule:
  * "repartition by hash(repo,path), salt skewed mega-repos, AQE-managed
  * shuffles").
  *
  * The scoring stage itself is map-only (no shuffle); these helpers matter
  * where data IS redistributed: balancing input splits before heavy per-row
  * work, and any per-repo grouping where one mega-repo would serialize into
  * a single reducer.
  */
object Partitioning {

  /** Balance rows across `n` partitions by hash(repo, path) — mega-repos
    * spread evenly instead of riding one input split.
    */
  def balanced[T](ds: Dataset[T], n: Int): Dataset[T] =
    ds.repartition(n, xxhash64(col("repo"), col("path")))

  /** Salted repo key: heavy repos split into `salts` sub-keys. Use for any
    * per-repo aggregation; re-aggregate the salted partials afterwards.
    */
  def saltedRepo(salts: Int): Column =
    concat(col("repo"), lit("#"), pmod(xxhash64(col("path")), lit(salts)))

  /** Detect heavy keys: repos holding more than `frac` of all rows.
    * Aggregate-then-broadcast (the reference's two-pass rewrite pattern,
    * reference src/data_preparation.py:72-109).
    */
  def heavyRepos(df: DataFrame, frac: Double): Seq[String] = {
    val total = df.count()
    df.groupBy("repo").count()
      .filter(col("count") > (total * frac).toLong)
      .collect().map(_.getString(0)).toSeq
  }

  /** Two-phase skew-proof per-repo row count: salt → partial agg → final
    * agg. Shape-equal to `groupBy(repo).count` but no reducer ever sees a
    * whole mega-repo.
    */
  def repoCountsSalted(df: DataFrame, salts: Int = 16): DataFrame =
    df.groupBy(saltedRepo(salts).as("repoSalt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(substring_index(col("repoSalt"), "#", 1).as("repo"))
      .agg(sum("partial").as("count"))

  /** Session defaults for adaptive execution — skew-join splitting and
    * post-shuffle coalescing (Spark 4 has AQE on by default; pinned
    * explicitly so spark-submit confs can't regress it).
    */
  def applyAqe(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
  }
}
