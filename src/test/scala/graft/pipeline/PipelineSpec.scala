package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.eval.SpanF1
import graft.fixtures.Fixtures
import graft.model.CodeFile

/** End-to-end pipeline behaviour on the synthetic fixture corpus — the
  * F1≥0.99 gate of BASELINE.json plus the reference's batch-semantics
  * contracts (test_detector.py:217-290).
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val N = 5000L
  private lazy val corpus = Fixtures.generate(spark, N).cache()
  private lazy val gold = Fixtures.generateGold(spark, N).cache()
  private lazy val results = QualityFilter.run(corpus).cache()

  test("output cardinality equals input cardinality (length preservation)") {
    assert(results.count() == N)
  }

  test("keep/drop F1 >= 0.99 vs gold labels (north-rule gate)") {
    val s = SpanF1.keepScores(results, gold)
    assert(s.f1 >= 0.99, s"keep F1=${s.f1} tp=${s.tp} fp=${s.fp} fn=${s.fn}")
  }

  test("span-level F1 >= 0.99 vs planted gold spans") {
    val s = SpanF1.spanScores(results, gold)
    assert(s.f1 >= 0.99, s"span F1=${s.f1} tp=${s.tp} fp=${s.fp} fn=${s.fn}")
  }

  test("scrubbed content matches expected exactly for all non-error rows") {
    assert(SpanF1.scrubMismatches(results, gold).count() == 0)
  }

  test("per-row invariant: engine sha256 equals Spark built-in sha2(content,256)") {
    val bad = results.toDF().alias("r")
      .join(corpus.toDF().alias("c"), Seq("repo", "path", "commit"))
      .filter(col("r.sha256") =!= sha2(coalesce(col("c.content"), lit("")), 256))
      .count()
    assert(bad == 0)
  }

  test("error rows are captured per-row, never failing the job (test_detector.py:217-243)") {
    val errs = results.filter(_.error != null)
    assert(errs.count() > 0) // fixture plants empty/whitespace/oversized rows
    errs.collect().foreach { r =>
      assert(!r.keep && !r.hasPii && r.entities.isEmpty)
    }
  }

  test("statistics algebra: with + without == total, rate in [0,1] (test_detector.py:268-290)") {
    val row = QualityFilter.statistics(results.toDF()).head()
    val total = row.getAs[Long]("totalTexts")
    val withPii = row.getAs[Long]("textsWithPii")
    val withoutPii = row.getAs[Long]("textsWithoutPii")
    val rate = row.getAs[Double]("piiRate")
    assert(withPii + withoutPii == total)
    assert(total == N)
    assert(rate >= 0.0 && rate <= 1.0)
    assert(math.abs(rate - withPii.toDouble / total) < 1e-3) // 4-dp rounding
  }

  test("partition metrics sum to the global stats (lineage)") {
    val pm = QualityFilter.partitionMetrics(results)
    val agg = pm.agg(
      sum("filesScanned"), sum("filesKept"), sum("filesScrubbed"), sum("errors")
    ).head()
    assert(agg.getLong(0) == N)
    assert(agg.getLong(1) == results.filter(_.keep).count())
    assert(agg.getLong(2) == results.filter(_.hasPii).count())
    assert(agg.getLong(3) == results.filter(_.error != null).count())
  }

  test("determinism: identical results under different parallelism") {
    val a = QualityFilter.run(Fixtures.generate(spark, 500).repartition(2))
      .select("commit", "sha256", "keep", "scrubbedContent")
    val b = QualityFilter.run(Fixtures.generate(spark, 500).repartition(17))
      .select("commit", "sha256", "keep", "scrubbedContent")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("entity schema invariants hold across the corpus") {
    val bad = results.toDF()
      .select(explode(col("entities")).as("e"), length(col("scrubbedContent")))
      .filter(col("e.start") >= col("e.end") ||
        col("e.confidence") < 0 || col("e.confidence") > 1)
      .count()
    assert(bad == 0)
  }

  test("piiTypes are sorted distinct (src/inference.py:160)") {
    val bad = results.toDF()
      .filter(col("piiTypes") =!= array_sort(array_distinct(col("piiTypes"))))
      .count()
    assert(bad == 0)
  }

  test("mega-repo skew is present in the fixture (salting is exercised)") {
    val byRepo = corpus.groupBy("repo").count()
    val mega = byRepo.filter(col("repo") === Fixtures.MegaRepo).head().getLong(1)
    assert(mega > N / 5, s"mega-repo rows=$mega") // ~30% planted
  }

  test("clean content passes through unchanged (identity when no PII)") {
    val clean = results.filter(r => r.error == null && !r.hasPii)
    val joined = clean.toDF().join(corpus.toDF(), Seq("repo", "path", "commit"))
    assert(joined.filter(col("scrubbedContent") =!= col("content")).count() == 0)
  }

  test("columnar run path equals the scalar analyze path (incl. independent sha256 impls)") {
    // run() computes sha via the codegen'd sha2; analyze() via java.security
    // MessageDigest — equality here pins both the pipeline parity AND the
    // sha256 invariant against an independent implementation.
    val files = Fixtures.generate(spark, 500).collect()
    val viaRun = QualityFilter.run(Fixtures.generate(spark, 500)).collect()
      .map(r => (r.repo, r.path, r.commit) -> r).toMap
    files.foreach { f =>
      val scalar = QualityFilter.analyze(
        f, graft.langid.FastLangId.model, graft.ppl.NgramLM.model, QualityFilter.Default)
      val columnar = viaRun((f.repo, f.path, f.commit))
      assert(scalar.sha256 == columnar.sha256, s"sha mismatch ${f.path}")
      assert(scalar.keep == columnar.keep && scalar.error == columnar.error)
      assert(scalar.scrubbedContent == columnar.scrubbedContent)
      assert(scalar.entities == columnar.entities)
    }
  }

  test("pipeline survives a one-row poisoned dataset (null content)") {
    val ds = Seq(CodeFile("r", "p", "c", "scala", null)).toDS()
    val out = QualityFilter.run(ds).collect()
    assert(out.length == 1 && out.head.error != null && !out.head.keep)
  }
}
