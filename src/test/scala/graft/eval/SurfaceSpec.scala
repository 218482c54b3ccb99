package graft.eval

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.api.Detect
import graft.ingest.{TaggedFixtures, TaggedRecord, Uploads}

/** Specs for the serving/eval surfaces: upload parsers + grid scrub,
  * multi-system harness with taxonomy remap, corpus EDA stats, and the
  * batch-detect facade (reference test_detector.py behaviours).
  */
class SurfaceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------------------------
  // Uploads (S9/P12/F6)
  // ------------------------------------------------------------------
  test("txt upload: trimmed non-blank lines only (api.py:113-114)") {
    val p = Files.createTempFile("up", ".txt")
    Files.writeString(p, "  hello world  \n\n\t\nsecond line\n   \n")
    val got = Uploads.readTxt(spark, p.toString).as[String].collect()
    assert(got.toSeq == Seq("hello world", "second line"))
  }

  test("csv upload: header + every column string-typed, nulls become empty") {
    val p = Files.createTempFile("up", ".csv")
    Files.writeString(p, "name,age,city\nalice,30,\nbob,,paris\n")
    val df = Uploads.readCsv(spark, p.toString)
    assert(df.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
    val rows = df.orderBy("name").collect()
    assert(rows(0).getString(1) == "30" && rows(0).getString(2) == "")
    assert(rows(1).getString(1) == "")
  }

  test("upload guards: typed taxonomy errors (exceptions.py:95-143, api.py:406-423)") {
    val empty = Files.createTempFile("up", ".txt")
    val e1 = intercept[graft.errors.EmptyInputError] { Uploads.readTxt(spark, empty.toString) }
    assert(e1.getMessage.startsWith("Empty uploaded file '"))
    val bad = Files.createTempFile("up", ".pdf")
    Files.writeString(bad, "x")
    val e2 = intercept[graft.errors.UnsupportedFileTypeError] { Uploads.validateUpload(bad.toString) }
    assert(e2.extension == ".pdf" && e2.details.toMap.apply("supported") == Seq(".txt", ".csv", ".xlsx"))
    val e3 = intercept[graft.errors.FileReadError] { Uploads.validateUpload("/no/such/file.txt") }
    assert(e3.errorName == "FileReadError")
  }

  private val res = "src/test/resources"

  test("encoding detection: latin-1 upload decodes like the reference (api.py:97-99)") {
    val got = Uploads.readTxt(spark, s"$res/upload_latin1.txt").as[String].collect()
    assert(got.toSeq == Seq("café au lait", "naïve approach"))
  }

  test("encoding detection: UTF-16LE BOM upload decodes; BOM stripped") {
    val got = Uploads.readTxt(spark, s"$res/upload_utf16.txt").as[String].collect()
    assert(got.toSeq == Seq("hello utf16", "second zeile"))
  }

  test("encoding detection: UTF-8 BOM stripped; invalid UTF-8 decodes as latin-1") {
    val got = Uploads.readTxt(spark, s"$res/upload_utf8bom.txt").as[String].collect()
    assert(got.toSeq == Seq("bom line one"))
    // replace semantics: invalid UTF-8 byte inside otherwise-valid text
    val bytes = "ok ".getBytes("UTF-8") ++ Array(0x80.toByte) ++ " end".getBytes("UTF-8")
    assert(Uploads.detectCharset(bytes)._1 == java.nio.charset.StandardCharsets.ISO_8859_1)
    // latin-1 decodes every byte — 0x80 is U+0080, python's errors path never fires
    assert(Uploads.decodeBytes(bytes) == "ok  end")
  }

  test("readTxt is pyLines(decodeBytes(bytes)) on every txt upload fixture") {
    val fixtures = new java.io.File(res).listFiles().toSeq
      .filter(f => f.getName.startsWith("upload_") && f.getName.endsWith(".txt"))
    assert(fixtures.length >= 4)
    fixtures.foreach { f =>
      val bytes = Files.readAllBytes(f.toPath)
      val got = Uploads.readTxt(spark, f.getPath).as[String].collect().toSeq
      assert(got == Uploads.pyLines(Uploads.decodeBytes(bytes)), f.getName)
    }
  }

  test("xlsx upload: first sheet, header row, all strings, missing cells empty (api.py:141-155)") {
    val df = Uploads.readXlsx(spark, s"$res/upload_fixture.xlsx")
    assert(df.columns.toSeq == Seq("name", "email", "notes"))
    assert(df.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
    val rows = df.orderBy("name").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "alice" &&
      rows(0).getString(1) == "mail alice@example.com now" &&
      rows(0).getString(2) == "rich text run")
    assert(rows(1).getString(0) == "bob" && rows(1).getString(1) == "" &&
      rows(1).getString(2) == "42") // missing cell → "", numeric cell → string
  }

  test("txt upload: unicode whitespace stripped + splitlines parity (api.py:113 str.strip/splitlines)") {
    // fixture bytes: NBSP-padded line, U+2028-separated pair, U+3000 pads,
    // ZWSP (must survive — not python whitespace), NBSP-only blank,
    // FS/GS separators; expected list is CPython's own
    // [l.strip() for l in text.splitlines() if l.strip()]
    val got = Uploads.readTxt(spark, s"$res/upload_unicode_ws.txt").as[String].collect()
    assert(got.toSeq == Seq("padded nbsp", "alpha", "beta", "wide",
      "\u200bzwsp\u200b", "fs-separated", "gs"))
  }

  /** Minimal in-test xlsx builder (zip + the two XML parts readXlsx reads). */
  private def writeXlsx(sheetXml: String): String = {
    val p = Files.createTempFile("built", ".xlsx")
    val zos = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(p))
    def entry(name: String, body: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/worksheets/sheet1.xml", sheetXml)
    zos.close()
    p.toString
  }

  test("xlsx upload: sparse/short header row — width from ALL rows, extras 'Unnamed: N'") {
    // header row has ONE cell; data row has three → pandas-style Unnamed cols
    val path = writeXlsx(
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>only</t></is></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>a</t></is></c><c r="B2" t="inlineStr"><is><t>b</t></is></c><c r="C2" t="inlineStr"><is><t>c</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    val df = Uploads.readXlsx(spark, path)
    assert(df.columns.toSeq == Seq("only", "Unnamed: 1", "Unnamed: 2"))
    val r = df.head()
    assert(r.getString(0) == "a" && r.getString(1) == "b" && r.getString(2) == "c")
    // a first <row> with zero cells must not crash either (typed behaviour)
    val path2 = writeXlsx(
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>x</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    val df2 = Uploads.readXlsx(spark, path2)
    assert(df2.columns.toSeq == Seq("Unnamed: 0") && df2.head().getString(0) == "x")
    // all rows empty → typed EmptyInputError, not UnsupportedOperationException
    val path3 = writeXlsx("""<?xml version="1.0"?><worksheet><sheetData><row r="1"></row></sheetData></worksheet>""")
    intercept[graft.errors.EmptyInputError] { Uploads.readXlsx(spark, path3) }
  }

  test("xlsx upload: DOCTYPE (XXE / billion-laughs vector) is rejected, typed error") {
    // attacker-controlled upload with an external entity — the hardened
    // parser must refuse the DOCTYPE outright, surfaced as ExcelParsingError
    val path = writeXlsx(
      """<?xml version="1.0"?>
        |<!DOCTYPE worksheet [<!ENTITY xxe SYSTEM "file:///etc/hostname">]>
        |<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>&xxe;</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    val e = intercept[graft.errors.ExcelParsingError] {
      graft.api.Detect.detectUpload(spark, path)
    }
    assert(e.getMessage.contains("DOCTYPE"))
  }

  test("xlsx upload round-trips through the grid scrub") {
    val df = Uploads.readXlsx(spark, s"$res/upload_fixture.xlsx")
    val out = Uploads.scrubGrid(df).orderBy("name").collect()
    assert(out(0).getAs[String]("email") == "mail [REDACTED] now")
    assert(out(0).getSeq[String](out(0).fieldIndex("_pii_types")) == Seq("EMAIL"))
    assert(out(1).getAs[String]("notes") == "42")
  }

  test("grid scrub: every string cell redacted in place, schema preserved (api.py:517-520)") {
    val df = Seq(
      ("alice@example.com", "call 555-123-4567", 1),
      ("clean", "also clean", 2)
    ).toDF("colA", "colB", "id")
    val out = Uploads.scrubGrid(df).orderBy("id").collect()
    assert(out(0).getAs[String]("colA") == "[REDACTED]")
    assert(out(0).getAs[String]("colB") == "call [REDACTED]")
    assert(out(0).getSeq[String](out(0).fieldIndex("_pii_types")) == Seq("EMAIL", "PHONE"))
    assert(out(1).getAs[String]("colA") == "clean")
    assert(out(1).getSeq[String](out(1).fieldIndex("_pii_types")).isEmpty)
    assert(out(0).getAs[Int]("id") == 1) // non-string column untouched
  }

  test("grid scrub: a dotted header names a column, not a struct field") {
    val p = Files.createTempFile("dots", ".csv")
    Files.writeString(p, "user.email,id\nbob@x.io,1\n")
    val out = Detect.detectUpload(spark, p.toString).collect()
    assert(out(0).getAs[String]("user.email") == "[REDACTED]")
    assert(out(0).getSeq[String](out(0).fieldIndex("_pii_types")) == Seq("EMAIL"))
  }

  // ------------------------------------------------------------------
  // Harness (A5/J2/P10)
  // ------------------------------------------------------------------
  test("tabular scrub honors the columns selection (api.py:160-180, 425-427)") {
    val p = Files.createTempFile("sel", ".csv")
    Files.writeString(p,
      "colA,colB\nalice@example.com,call 555-123-4567\nclean,also clean\n")
    // scrub ONLY colB: colA's email must survive, _pii_types from colB alone
    val out = Detect.detectUpload(spark, p.toString, Some(Seq("colB")))
      .orderBy("colA").collect()
    assert(out(0).getAs[String]("colA") == "alice@example.com")
    assert(out(0).getAs[String]("colB") == "call [REDACTED]")
    assert(out(0).getSeq[String](out(0).fieldIndex("_pii_types")) == Seq("PHONE"))
    // unknown column → InvalidFieldError listing missing + available (py list style)
    val e = intercept[graft.errors.InvalidFieldError] {
      Detect.detectUpload(spark, p.toString, Some(Seq("colB", "nope")))
    }
    assert(e.getMessage == "Invalid value for field 'columns': Column(s) ['nope'] " +
      s"not found in csv file '${p.getFileName}'. Available columns: ['colA', 'colB']")
    // empty selection behaves like None: all columns scrubbed (api.py:169-170)
    val all = Detect.detectUpload(spark, p.toString, Some(Seq.empty)).orderBy("colA").collect()
    assert(all(0).getAs[String]("colA") == "[REDACTED]")
  }

  test("service info/health analogues (api.py:214-236)") {
    import graft.ingest.Prepare
    val dir = java.nio.file.Files.createTempDirectory("graft-info").toString
    assert(Detect.health(spark, dir) == ("healthy", false)) // dir lacks artifacts
    val m = Prepare.buildLabelMapping(Seq("EMAIL"), Seq.empty)
    graft.io.ModelArtifacts.saveLabelMapping(spark, dir, m)
    assert(Detect.health(spark, dir) == ("healthy", true))
    val i = Detect.info(spark, dir)
    assert(i.model_path == dir && i.device == "cpu" && i.confidence_threshold == 1.0)
    assert(i.supported_pii_types == Seq("EMAIL", "IP_ADDRESS", "PHONE", "SECRET"))
    assert(i.num_labels == m.numLabels && i.batch_size == 1000)
    // uninitialised model → the 503-analogue typed error (api.py:226)
    intercept[graft.errors.ModelNotFoundError] { Detect.info(spark, "/no/such/model") }
  }

  test("per-type scores with taxonomy remap: unmapped external labels discarded") {
    val gold = Seq((1L, 0, 5, "PERSON"), (1L, 10, 15, "LOC"), (2L, 0, 3, "EMAIL"))
      .toDF("docId", "start", "end", "category")
    // an external system speaking spaCy OntoNotes: GPE→LOC, CARDINAL→discard
    val external = Seq((1L, 0, 5, "PERSON"), (1L, 10, 15, "GPE"), (2L, 5, 8, "CARDINAL"))
      .toDF("docId", "start", "end", "category")
    val remapped = Harness.remap(external, graft.ingest.Labels.SpacyOntoNotesMap)
    val (perType, micro) = Harness.score(remapped, gold)
    assert(micro.tp == 2 && micro.fp == 0 && micro.fn == 1) // EMAIL missed
    val person = perType.find(_.category == "PERSON").get
    assert(person.f1 == 1.0)
    assert(perType.find(_.category == "EMAIL").get.recall == 0.0)
  }

  test("report includes micro average row with 4-dp rounding") {
    val gold = Seq((1L, 0, 5, "PERSON")).toDF("docId", "start", "end", "category")
    val pred = Seq((1L, 0, 5, "PERSON"), (1L, 7, 9, "PERSON")).toDF("docId", "start", "end", "category")
    val rep = Harness.report(spark, pred, gold).collect()
    val micro = rep.find(_.getString(0) == "micro_avg").get
    assert(micro.getAs[Double]("precision") == 0.5 && micro.getAs[Double]("recall") == 1.0)
  }

  test("report macro average: unweighted mean of per-type scores (run_benchmarking.py:431-503)") {
    // PERSON: P=1, R=1, F1=1; EMAIL: P=1/2, R=1, F1=2/3; LOC: P=0, R=0, F1=0
    val gold = Seq((1L, 0, 5, "PERSON"), (1L, 8, 12, "EMAIL"), (2L, 0, 3, "LOC"))
      .toDF("docId", "start", "end", "category")
    val pred = Seq((1L, 0, 5, "PERSON"), (1L, 8, 12, "EMAIL"), (1L, 20, 25, "EMAIL"))
      .toDF("docId", "start", "end", "category")
    val rep = Harness.report(spark, pred, gold).collect()
    val macroRow = rep.find(_.getString(0) == "macro_avg").get
    assert(macroRow.getAs[Double]("precision") == 0.5) // (1 + 0.5 + 0)/3
    assert(math.abs(macroRow.getAs[Double]("recall") - 0.6667) < 1e-9) // (1+1+0)/3, 4dp
    assert(math.abs(macroRow.getAs[Double]("f1") - 0.5556) < 1e-9) // (1 + 2/3 + 0)/3, 4dp
  }

  test("report weighted average + support column, hand-computed (run_benchmarking.py:455,502)") {
    // PERSON: tp=2 fn=1 fp=0 → P=1, R=2/3, F1=0.8, support=3
    // EMAIL:  tp=1 fn=0 fp=1 → P=1/2, R=1, F1=2/3, support=1
    val gold = Seq((1L, 0, 5, "PERSON"), (1L, 10, 15, "PERSON"), (2L, 0, 5, "PERSON"),
      (2L, 8, 12, "EMAIL")).toDF("docId", "start", "end", "category")
    val pred = Seq((1L, 0, 5, "PERSON"), (1L, 10, 15, "PERSON"),
      (2L, 8, 12, "EMAIL"), (3L, 0, 4, "EMAIL")).toDF("docId", "start", "end", "category")
    val rep = Harness.report(spark, pred, gold).collect()
    def row(c: String) = rep.find(_.getString(0) == c).get
    assert(row("PERSON").getAs[Long]("support") == 3 && row("EMAIL").getAs[Long]("support") == 1)
    val w = row("weighted_avg")
    // weighted by support (3,1): P=(3·1+1·.5)/4, R=(3·⅔+1·1)/4, F1=(3·.8+1·⅔)/4
    assert(w.getAs[Double]("precision") == 0.875)
    assert(w.getAs[Double]("recall") == 0.75)
    assert(w.getAs[Double]("f1") == 0.7667) // 0.76667 → 4dp
    assert(w.getAs[Long]("support") == 4) // avg rows carry total support
    assert(row("micro_avg").getAs[Long]("support") == 4)
    assert(row("macro_avg").getAs[Long]("support") == 4)
    // macro (unweighted) differs from weighted on this fixture
    assert(row("macro_avg").getAs[Double]("precision") == 0.75)
  }

  test("score preserves duplicate-span multiplicities (inner-join semantics)") {
    // span appears 2× in pred, 3× in gold → 6 TPs, like the previous
    // inner + anti join formulation
    val gold = Seq.fill(3)((1L, 0, 4, "PERSON")).toDF("docId", "start", "end", "category")
    val pred = Seq.fill(2)((1L, 0, 4, "PERSON")).toDF("docId", "start", "end", "category")
    val (perType, micro) = Harness.score(pred, gold)
    assert(perType.head.tp == 6 && micro.fp == 0 && micro.fn == 0)
  }

  // ------------------------------------------------------------------
  // CorpusStats (A6)
  // ------------------------------------------------------------------
  test("EDA global stats: algebra and percentile ordering hold") {
    val ds = TaggedFixtures.consolidated(spark, 300)
    val g = CorpusStats.global(ds).head()
    val records = g.getAs[Long]("records")
    assert(records > 0)
    assert(g.getAs[Long]("recordsWithPii") <= records)
    assert(g.getAs[Double]("lenP50") <= g.getAs[Double]("lenP90"))
    assert(g.getAs[Double]("lenP90") <= g.getAs[Double]("lenP95"))
    assert(g.getAs[Double]("piiRate") >= 0 && g.getAs[Double]("piiRate") <= 1)
    val hist = CorpusStats.entitiesHistogram(ds)
    assert(hist.agg(sum("nRecords")).head().getLong(0) == records)
    val perSrc = CorpusStats.perSource(ds)
    assert(perSrc.agg(sum("records")).head().getLong(0) == records)
  }

  // ------------------------------------------------------------------
  // Detect facade (test_detector.py:217-290)
  // ------------------------------------------------------------------
  test("detectBatch: length preservation, per-item errors, index alignment") {
    val texts = Seq("reach me at a@b.co", "", "x" * 50001, "clean text here")
    val out = Detect.detectBatch(spark, texts).collect()
    assert(out.length == texts.length)
    assert(out(0).getAs[Boolean]("hasPii") && out(0).getAs[String]("redactedText") == "reach me at [REDACTED]")
    assert(out(1).getAs[String]("error") != null)
    assert(out(2).getAs[String]("error") != null)
    assert(!out(3).getAs[Boolean]("hasPii") && out(3).getAs[String]("error") == null)
  }

  test("detectBatch(..).collect() starts no Spark job") {
    val sc = spark.sparkContext
    val group = "detect-batch-jobs"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(String.valueOf(e.properties.getProperty("spark.job.description")))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (started.contains("sentinel")) sentinelDone.countDown()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "detectBatch")
    try {
      val out = Detect.detectBatch(spark, Seq("reach me at a@b.co", "clean", "")).collect()
      assert(out.map(_.getAs[Int]("idx")).toSeq == Seq(0, 1, 2))
      // the listener bus is ordered: once the sentinel's job has ended,
      // every job detectBatch started has been seen
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(started.asScala.toSeq == Seq("sentinel"))
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("detectUpload: per-extension dispatch, typed error on corrupt xlsx") {
    // txt → line grid with per-line scrub
    val rows = Detect.detectUpload(spark, s"$res/upload_latin1.txt").collect()
    assert(rows.length == 2 && rows.forall(_.getAs[String]("error") == null))
    // xlsx → redacted grid
    val grid = Detect.detectUpload(spark, s"$res/upload_fixture.xlsx").orderBy("name").collect()
    assert(grid(0).getAs[String]("email") == "mail [REDACTED] now")
    // corrupt zip → typed ExcelParsingError (api.py:148-150), never a crash
    val junk = Files.createTempFile("bad", ".xlsx")
    Files.writeString(junk, "this is not a zip archive at all, just text")
    val e = intercept[graft.errors.ExcelParsingError] { Detect.detectUpload(spark, junk.toString) }
    assert(e.getMessage.startsWith("Failed to parse Excel file '"))
  }

  test("detectBatch: empty list and oversized batch raise (api.py:321-327)") {
    val e1 = intercept[graft.errors.EmptyInputError] { Detect.detectBatch(spark, Seq.empty) }
    assert(e1.context == "texts list")
    val e2 = intercept[graft.errors.InvalidFieldError] {
      Detect.detectBatch(spark, Seq.fill(1001)("x"))
    }
    assert(e2.getMessage == "Invalid value for field 'texts': list length 1001 exceeds maximum allowed 1000")
  }

  test("detect statistics: with + without == total, distribution desc (test_detector.py:268-290)") {
    val out = Detect.detectBatch(spark, Seq("a@b.co", "c@d.io and 10.0.0.1", "clean", ""))
    val s = graft.pipeline.QualityFilter.statistics(out).head()
    assert(s.getAs[Long]("textsWithPii") + s.getAs[Long]("textsWithoutPii") ==
      s.getAs[Long]("totalTexts"))
    assert(s.getAs[Long]("errors") == 1)
    val dist = s.getSeq[org.apache.spark.sql.Row](s.fieldIndex("piiTypeDistribution"))
    assert(dist.head.getLong(0) >= dist.last.getLong(0)) // sorted desc by count
  }
}
