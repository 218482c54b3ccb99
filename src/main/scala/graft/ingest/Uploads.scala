package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.errors._

/** Upload-file ingestion (reference src/api.py:97-155) + the tabular
  * scrub fan-out / redacted-grid rebuild (api.py:493-529).
  *
  *  - `.txt` → one row per non-blank trimmed line (api.py:102-119);
  *  - `.csv` → header + ALL columns read as strings (schema-on-read,
  *    api.py:122-138: `pd.read_csv(..., dtype=str)`); nulls → "" like the
  *    reference's `fillna("")` (api.py:506);
  *  - `.xlsx` → zip + XML parsed with the JDK only (no POI offline), all
  *    cells as strings, first row = header (api.py:141-155
  *    `pd.read_excel(dtype=str)` + `fillna("")` parity);
  *  - encoding detection (api.py:97-99 `chardet.detect`): BOM sniff, then
  *    strict UTF-8 validation of a 1 MiB prefix, else latin-1 (which never
  *    fails — chardet's own terminal fallback); decode uses REPLACE
  *    semantics like the reference's `errors="replace"`;
  *  - size / extension guards mirror api.py:53-59 (50 MB, allowlist).
  *
  * Grid scrub: the reference turns every (row, column) cell into one text,
  * batch-detects, and writes redacted values back cell-by-cell. Here the
  * scrub UDF is applied to every string column IN PLACE — same result, no
  * fan-out join, one narrow pass.
  */
object Uploads {

  val MaxFileBytes: Long = 50L * 1024 * 1024 // api.py:56
  val AllowedExtensions: Set[String] = Set("txt", "csv", "xlsx") // api.py:59

  private def fileName(path: String): String = new java.io.File(path).getName

  /** Upload guards with the reference's exact error taxonomy
    * (api.py:406-423): empty → EmptyInputError, oversized →
    * InvalidFieldError("file", …), bad extension →
    * UnsupportedFileTypeError; an unreadable path is FileReadError.
    */
  def validateUpload(path: String): Unit = {
    val f = new java.io.File(path)
    val name = f.getName
    if (!f.exists()) throw FileReadError(name, s"file not found: $path")
    if (f.length() == 0) throw EmptyInputError(s"uploaded file '$name'") // api.py:412-413
    if (f.length() > MaxFileBytes)
      throw InvalidFieldError("file",
        f"file size ${f.length() / 1024.0 / 1024.0}%.1f MB exceeds maximum ${MaxFileBytes / 1024 / 1024} MB") // api.py:414-419
    val dot = name.lastIndexOf('.')
    val ext = if (dot < 0) "" else name.substring(dot).toLowerCase
    if (!AllowedExtensions.contains(ext.stripPrefix(".")))
      throw UnsupportedFileTypeError(name, ext) // api.py:421-423
  }

  // ------------------------------------------------------------------
  // Encoding detection (reference src/api.py:97-99)
  // ------------------------------------------------------------------
  import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

  private val SniffBytes = 1 << 20 // detection prefix; chardet also samples

  /** (charset, bomLength). BOM wins; else strict UTF-8 validation of the
    * prefix (truncated trailing multi-byte sequences don't count as
    * invalid); else latin-1, which decodes any byte stream.
    */
  def detectCharset(bytes: Array[Byte]): (Charset, Int) = {
    if (bytes.length >= 3 && bytes(0) == 0xEF.toByte &&
        bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte)
      (StandardCharsets.UTF_8, 3)
    else if (bytes.length >= 2 && bytes(0) == 0xFF.toByte && bytes(1) == 0xFE.toByte)
      (StandardCharsets.UTF_16LE, 2)
    else if (bytes.length >= 2 && bytes(0) == 0xFE.toByte && bytes(1) == 0xFF.toByte)
      (StandardCharsets.UTF_16BE, 2)
    else {
      val n = math.min(bytes.length, SniffBytes)
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val in = java.nio.ByteBuffer.wrap(bytes, 0, n)
      val out = java.nio.CharBuffer.allocate(n + 1)
      // endOfInput=false: an incomplete sequence cut at the sniff boundary
      // is UNDERFLOW, not an error
      val res = dec.decode(in, out, false)
      if (res.isError) (StandardCharsets.ISO_8859_1, 0) else (StandardCharsets.UTF_8, 0)
    }
  }

  /** Decode with python `errors="replace"` semantics (malformed → U+FFFD). */
  def decodeBytes(bytes: Array[Byte]): String = {
    val (cs, bom) = detectCharset(bytes)
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(bytes, bom, bytes.length - bom)).toString
  }

  /** Python-whitespace character class — every char `str.isspace()` is true
    * for (and `str.strip()` removes): Java's `\s` is ASCII-only, so a line
    * padded with U+00A0/U+2028 would be stripped by the reference
    * (api.py:113 `line.strip()`) but not by `\s` — exact parity needs the
    * explicit class (even `(?U)\s` misses U+001C-001F, which Python strips).
    */
  private val PyWhitespaceClass =
    "[\\t\\n\\u000B\\f\\r \\u001C-\\u001F\\u0085\\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]"
  private val PyStripRegex = s"^$PyWhitespaceClass+|$PyWhitespaceClass+$$"

  /** `str.strip()` parity as a pure function (golden-pinned vs CPython). */
  def pyStrip(s: String): String = s.replaceAll(PyStripRegex, "")

  /** `str.splitlines()` parity for a whole decoded string: \n, \r\n, \r and
    * the boundaries Python adds — VT, FF, FS/GS/RS, NEL, LS, PS (api.py:113).
    */
  def pySplitlines(s: String): Seq[String] =
    s.split("\\r\\n|[\\n\\r\\u000B\\f\\u001C\\u001D\\u001E\\u0085\\u2028\\u2029]", -1).toIndexedSeq

  /** The reference's whole txt contract in one pure function
    * (api.py:113-114: `[l.strip() for l in text.splitlines() if l.strip()]`)
    * — golden-pinned bit-for-bit against CPython in graftcheck/selftest.
    */
  def pyLines(s: String): Seq[String] =
    pySplitlines(s).map(pyStrip).filter(_.nonEmpty)

  /** `.txt` upload → its lines: validate, decode (api.py:97-99), then
    * [[pyLines]] (api.py:113-114). The file is read once, driver-side —
    * bounded by the 50 MB cap, like the reference's own in-memory decode.
    */
  def txtLines(path: String): Seq[String] = {
    validateUpload(path)
    pyLines(decodeBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))
  }

  /** `.txt` → DataFrame(line): one row per [[txtLines]] entry, in order. */
  def readTxt(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    txtLines(path).toDF("line")
  }

  /** `.csv` → all-string DataFrame with header (api.py:131), nulls → "".
    * ONE pass: with `inferSchema` off (the default) Spark's csv source
    * already types every column String — the previous header-sniff +
    * schema'd re-read doubled the file I/O for nothing.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    validateUpload(path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val (cs, bom) = detectCharset(bytes)
    val raw =
      if (cs == StandardCharsets.UTF_8 && bom == 0)
        spark.read.option("header", "true").csv(path)
      else {
        // decode driver-side, parse the decoded lines (cap-bounded upload path)
        import spark.implicits._
        spark.read.option("header", "true").csv(spark.createDataset(
          decodeBytes(bytes).split("\r\n|\r|\n", -1).toIndexedSeq))
      }
    raw.na.fill("")
  }

  // ------------------------------------------------------------------
  // .xlsx (reference src/api.py:141-155 `_parse_excel`)
  // ------------------------------------------------------------------
  /** Minimal OOXML spreadsheet reader — JDK ZipFile + DOM only (xlsx IS
    * zip + XML; no Excel connector ships offline). First sheet, first row
    * as header, every cell as a string, missing cells → ""
    * (`pd.read_excel(dtype=str)` + `fillna("")` parity). Bounded by the
    * 50 MB upload cap, so driver-side parse like the reference.
    */
  def readXlsx(spark: SparkSession, path: String): DataFrame = {
    validateUpload(path)
    val zip = new java.util.zip.ZipFile(path)
    try {
      import scala.jdk.CollectionConverters._
      val entries = zip.entries().asScala.map(_.getName).toVector
      def parse(name: String): org.w3c.dom.Document = {
        val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
        f.setNamespaceAware(false)
        // Uploads are attacker-controlled: a DOCTYPE in sheet XML enables
        // XXE (local-file read echoed into redacted cells, SSRF) and
        // billion-laughs entity expansion on the driver. Kill both at the
        // parser: no doctypes at all (OOXML never needs one), no external
        // entities, secure-processing limits on.
        f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
        f.setFeature("http://xml.org/sax/features/external-general-entities", false)
        f.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
        f.setFeature(javax.xml.XMLConstants.FEATURE_SECURE_PROCESSING, true)
        f.setXIncludeAware(false)
        f.setExpandEntityReferences(false)
        f.newDocumentBuilder().parse(zip.getInputStream(zip.getEntry(name)))
      }
      // shared strings are optional
      val shared: Vector[String] =
        if (entries.contains("xl/sharedStrings.xml")) {
          val doc = parse("xl/sharedStrings.xml")
          val sis = doc.getElementsByTagName("si")
          (0 until sis.getLength).map { i =>
            // concatenate all <t> descendants (plain + rich-text runs)
            val ts = sis.item(i).asInstanceOf[org.w3c.dom.Element].getElementsByTagName("t")
            (0 until ts.getLength).map(j => ts.item(j).getTextContent).mkString
          }.toVector
        } else Vector.empty
      val sheetName = entries.filter(_.matches("xl/worksheets/sheet\\d+\\.xml")).sorted
        .headOption.getOrElse(throw ExcelParsingError(fileName(path), "no worksheet found"))
      val doc = parse(sheetName)

      // "A1" → 0-based column index
      def colIndex(ref: String): Int = {
        var idx = 0; var i = 0
        while (i < ref.length && ref.charAt(i).isLetter) {
          idx = idx * 26 + (ref.charAt(i) - 'A' + 1); i += 1
        }
        idx - 1
      }
      def cellText(c: org.w3c.dom.Element): String = {
        val t = c.getAttribute("t")
        if (t == "inlineStr") {
          val ts = c.getElementsByTagName("t")
          (0 until ts.getLength).map(j => ts.item(j).getTextContent).mkString
        } else {
          val vs = c.getElementsByTagName("v")
          if (vs.getLength == 0) ""
          else {
            val v = vs.item(0).getTextContent
            t match {
              case "s" => shared.lift(v.trim.toInt).getOrElse("")
              case "b" => if (v.trim == "1") "True" else "False" // py bool str()
              case _ => v
            }
          }
        }
      }
      val rowNodes = doc.getElementsByTagName("row")
      val rows: Vector[Map[Int, String]] = (0 until rowNodes.getLength).map { r =>
        val cells = rowNodes.item(r).asInstanceOf[org.w3c.dom.Element].getElementsByTagName("c")
        (0 until cells.getLength).map { ci =>
          val c = cells.item(ci).asInstanceOf[org.w3c.dom.Element]
          val ref = c.getAttribute("r")
          val idx = if (ref.nonEmpty) colIndex(ref) else ci
          idx -> cellText(c)
        }.toMap
      }.toVector
      if (rows.isEmpty) throw EmptyInputError(s"Excel file '${fileName(path)}'") // api.py:152-153

      // width = max cell index across ALL rows: a sparse/empty header row
      // must not truncate data columns (pandas surfaces the extras as
      // 'Unnamed: N'), and an all-empty grid is a typed error, not a crash
      val nCols = rows.iterator.flatMap(_.keys).foldLeft(-1)(math.max) + 1
      if (nCols == 0) throw EmptyInputError(s"Excel file '${fileName(path)}'")
      val header = (0 until nCols).map { i =>
        val h = rows.head.getOrElse(i, "")
        if (h.isEmpty) s"Unnamed: $i" else h // pandas names blank headers 'Unnamed: N'
      }
      val schema = StructType(header.map(h => StructField(h, StringType, nullable = true)))
      val data = rows.tail.map { m =>
        org.apache.spark.sql.Row.fromSeq((0 until nCols).map(i => m.getOrElse(i, "")))
      }
      spark.createDataFrame(data.asJava, schema)
    } finally zip.close()
  }

  /** A read upload: a `.txt` file's lines, or a csv/xlsx grid with the
    * kind label (`csv` / `excel`) that replies and error messages carry.
    */
  sealed trait Upload
  final case class TxtUpload(lines: Seq[String]) extends Upload
  final case class GridUpload(grid: DataFrame, kind: String) extends Upload

  /** The one upload dispatcher (api.py:97-155): validate, read by
    * extension, and turn a reader failure into its typed parse error
    * (api.py:131-133, 148-150) — a 4xx, never a 500.
    */
  def readUpload(spark: SparkSession, path: String): Upload = {
    validateUpload(path)
    val name = fileName(path)
    def parsed(err: String => GraftError)(read: => DataFrame): DataFrame =
      try read
      catch {
        case e: GraftError => throw e
        case e: Exception => throw err(String.valueOf(e.getMessage))
      }
    name.substring(name.lastIndexOf('.') + 1).toLowerCase match {
      case "txt" => TxtUpload(txtLines(path))
      case "csv" => GridUpload(parsed(CSVParsingError(name, _))(readCsv(spark, path)), "csv")
      case "xlsx" => GridUpload(parsed(ExcelParsingError(name, _))(readXlsx(spark, path)), "excel")
    }
  }

  /** The reference's `_resolve_columns` (api.py:160-180): empty/None
    * selection → all columns; any requested column absent from the grid →
    * InvalidFieldError("columns", …) listing missing + available, python
    * list rendering and all.
    */
  def resolveColumns(df: DataFrame, columns: Option[Seq[String]],
      filename: String, filetype: String): Seq[String] = {
    val all = df.columns.toSeq
    columns.filter(_.nonEmpty) match {
      case None => all
      case Some(want) =>
        val missing = want.filterNot(all.contains)
        if (missing.nonEmpty) {
          def pyList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("[", ", ", "]")
          throw InvalidFieldError("columns",
            s"Column(s) ${pyList(missing)} not found in $filetype file '$filename'. " +
              s"Available columns: ${pyList(all)}")
        }
        want
    }
  }

  /** Scrub every SELECTED string cell in place (default: all); non-string
    * and unselected columns pass through untouched. Output schema == input
    * schema (the reference's redacted-grid rebuild, api.py:517-520), plus
    * one `_pii_types` array column aggregating the distinct types found in
    * the row's scrubbed columns.
    */
  def scrubGrid(df: DataFrame, columns: Option[Seq[String]] = None,
      filename: String = "upload", filetype: String = "tabular"): DataFrame = {
    val selected = resolveColumns(df, columns, filename, filetype).toSet
    val scrubUdf = udf { (s: String) =>
      val r = graft.scrub.Scrubber.scrub(s)
      if (r.error != null) (if (s == null) "" else s, Seq.empty[String])
      else (r.scrubbed, r.piiTypes)
    }
    val stringCols = df.schema.fields
      .filter(f => f.dataType == StringType && selected.contains(f.name)).map(_.name)
    // quoted: an upload header such as `a.b` names a column, not a field
    def ref(c: String) = col("`" + c.replace("`", "``") + "`")
    val out = stringCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"__scrub_$c", scrubUdf(ref(c)))
    }
    val rebuilt = stringCols.foldLeft(out) { (acc, c) =>
      acc.withColumn(c, ref(s"__scrub_$c").getField("_1"))
    }
    val typeCols = stringCols.map(c => ref(s"__scrub_$c").getField("_2"))
    val withTypes =
      if (typeCols.isEmpty) rebuilt.withColumn("_pii_types", array())
      else rebuilt.withColumn("_pii_types",
        array_sort(array_distinct(flatten(array(typeCols: _*)))))
    withTypes.drop(stringCols.map(c => s"__scrub_$c"): _*)
  }
}
