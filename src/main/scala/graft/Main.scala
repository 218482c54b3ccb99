package graft

import org.apache.spark.sql.SparkSession

import graft.eval.SpanF1
import graft.fixtures.Fixtures
import graft.io.TableIO
import graft.pipeline.{Partitioning, QualityFilter}

/** spark-submit entry point: scan the corpus → score → scrub → commit to the
  * snapshot-logged table (resumable: rerunning after a kill picks up at the
  * last committed snapshot) → report lineage metrics and the F1 gate vs the
  * planted gold labels.
  *
  * Usage: graft.Main [nRows] [tableRoot] [cores]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 10000L
    val root = if (args.length > 1) args(1) else "/tmp/graft-table"
    val cores = if (args.length > 2) args(2) else "8"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-quality-filter")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Partitioning.applyAqe(spark)

    val corpus = Partitioning.balanced(Fixtures.generate(spark, n), cores.toInt * 4)
    val snap = TableIO.runResumable(corpus, root, nBuckets = 64)
    println(s"snapshot v${snap.version} (parent v${snap.parent}): " +
      s"${snap.committedBuckets.size}/64 buckets committed")
    println(s"lineage: scanned=${snap.metrics.map(_.filesScanned).sum} " +
      s"kept=${snap.metrics.map(_.filesKept).sum} " +
      s"scrubbed=${snap.metrics.map(_.filesScrubbed).sum} " +
      s"errors=${snap.metrics.map(_.errors).sum}")
    val hitTotals = snap.metrics.flatMap(_.piiHits.toSeq)
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
      .toSeq.sortBy(-_._2)
    println(s"lineage piiHitsByCategory: " +
      hitTotals.map { case (c, n) => s"$c=$n" }.mkString(" "))

    val persisted = TableIO.results(TableIO.readCommitted(spark, root))
    QualityFilter.statistics(persisted.toDF()).show(truncate = false)

    val gold = Fixtures.generateGold(spark, n)
    val span = SpanF1.spanScores(persisted, gold)
    val keep = SpanF1.keepScores(persisted, gold)
    val scrubBad = SpanF1.scrubMismatches(persisted, gold).count()
    println(f"rows=$n span F1=${span.f1}%.4f (tp=${span.tp} fp=${span.fp} fn=${span.fn})")
    println(f"keep F1=${keep.f1}%.4f (tp=${keep.tp} fp=${keep.fp} fn=${keep.fn})")
    println(s"scrub mismatches=$scrubBad")
    println(s"table: $root (snapshots: ${TableIO.snapshots(spark, root).map(_.version).mkString(",")})")
    spark.stop()
  }
}
