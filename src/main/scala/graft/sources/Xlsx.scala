package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

/** Native `.xlsx` scan (S-1's workbook on-ramp, app.py:282 /
  * server.py:308) with ZERO dependencies: xlsx is a zip of
  * SpreadsheetML XML, and the JDK ships both the zip codec and a StAX
  * pull parser — no third-party reader needed even in this offline
  * environment. Supports the subset a data on-ramp actually meets:
  * shared strings, inline strings (incl. rich-text runs), numbers,
  * booleans, blank-cell gaps, serial/ISO dates (decoded when the
  * schema asks for DateType/TimestampType — cell styles are not
  * inspected, the schema declares intent),
  * and a header row mapped to schema fields by NAME (like
  * `pd.read_excel` + the reference's column validation,
  * server.py:309-313 — missing schema columns fail fast).
  *
  * Distribution posture: xlsx is an unsplittable row-at-a-time format,
  * so parallelism is across FILES, never within one. The scan lists
  * workbooks via Spark's `binaryFile` source and parses each in its
  * own task (`flatMap` on executors — the driver never touches file
  * content). One multi-GB workbook is a single-task bottleneck by
  * format design; INGEST.md still documents convert-at-the-edge as the
  * preferred path for anything large, but small operational workbooks
  * (the reference's `companies.xlsx`) now load directly.
  */
object Xlsx {

  /** Read all `.xlsx` files at `path` into `schema`, locating columns
    * by header-row name. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    files.flatMap { case (p, bytes) =>
      try parseWorkbook(bytes, schema)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"malformed xlsx at $p: ${e.getMessage}", e)
      }
    }(Encoders.row(schema))
  }

  /** Parse one workbook: first sheet, header row → schema-ordered rows.
    *
    * COLUMN PRUNING: the schema doubles as the projection — once the
    * header row resolves field names to column indices, every data-row
    * cell OUTSIDE the projected set is skipped in the StAX pass (no
    * value text read, no shared-string lookup, no buffering), so a
    * 2-column read of a 50-column workbook touches only those cells
    * plus the header. `cellCounter` is the proof seam: when non-null it
    * counts each cell actually MATERIALIZED (XlsxSpec asserts the
    * pruned count). */
  private[sources] def parseWorkbook(bytes: Array[Byte],
      schema: StructType,
      cellCounter: java.util.concurrent.atomic.AtomicLong = null): Iterator[Row] = {
    val shared = zipEntry(bytes, _ == "xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(Vector.empty)
    val sheet = firstSheet(bytes)
      .getOrElse(throw new IllegalArgumentException("no worksheet entry"))
    var colIdx: Array[Int] = null
    val raw = parseSheet(sheet, shared, headerRow => {
      val header = headerRow.map(v => if (v == null) "" else v.trim)
      colIdx = schema.fields.map { f =>
        val i = header.indexOf(f.name)
        require(i >= 0,
          s"xlsx is missing required column '${f.name}' (header: ${header.mkString(", ")})")
        i
      }
      colIdx.toSet
    }, cellCounter)
    if (raw.isEmpty) return Iterator.empty
    raw.iterator.drop(1).zipWithIndex.map { case (cells, rowNo) =>
      // castCell runs LAZILY during downstream consumption, outside
      // read()'s try — attach row context here or a bad cell value
      // fails the task with no hint of which row was malformed (the
      // caller's wrapper then adds the file path)
      try Row.fromSeq(schema.fields.zip(colIdx).toSeq.map { case (f, i) =>
        castCell(if (i < cells.length) cells(i) else null, f.dataType)
      })
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"bad cell value in data row ${rowNo + 1}: ${e.getMessage}", e)
      }
    }
  }

  /** Decompression cap per zip entry: workbooks are untrusted input
    * (the XXE hardening below says so), and unbounded readAllBytes
    * would let a few-KB zip bomb inflate to gigabytes on-heap and OOM
    * the executor. 256 MB is far beyond any operational workbook part;
    * a capped-out entry fails THIS file with a clear message instead
    * of killing the JVM. */
  private val MaxEntryBytes = 256L * 1024 * 1024

  private def readCapped(zin: ZipInputStream, name: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = zin.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      require(out.size() <= MaxEntryBytes,
        s"zip entry $name inflates past $MaxEntryBytes bytes (zip bomb?)")
      n = zin.read(buf)
    }
    out.toByteArray
  }

  /** First zip entry matching `pred`, fully read (capped). */
  private def zipEntry(bytes: Array[Byte],
      pred: String => Boolean): Option[Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
        .collectFirst { case e if pred(e.getName) => readCapped(zin, e.getName) }
    } finally zin.close()
  }

  private val SheetName = """xl/worksheets/sheet(\d+)\.xml""".r

  /** The workbook's FIRST TAB. Tab order lives in xl/workbook.xml (the
    * first <sheet> element's r:id, resolved to a worksheet part through
    * xl/_rels/workbook.xml.rels) — part NAMES never change when a user
    * reorders tabs in Excel, so neither archive order nor the lowest
    * sheetN number identifies the first tab on a reordered workbook.
    * Falls back to the lowest-numbered part when the workbook/rels
    * parts are absent or unparsable (minimal single-sheet writers). */
  private def firstSheet(bytes: Array[Byte]): Option[Array[Byte]] = {
    val viaWorkbook: Option[Array[Byte]] =
      try {
        for {
          wb <- zipEntry(bytes, _ == "xl/workbook.xml")
          rid <- firstSheetRid(wb)
          rels <- zipEntry(bytes, _ == "xl/_rels/workbook.xml.rels")
          target <- relTarget(rels, rid)
          // rels targets are workbook-relative ("worksheets/sheet3.xml")
          part = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
          data <- zipEntry(bytes, _ == part)
        } yield data
      } catch { case _: Exception => None }
    viaWorkbook.orElse {
      val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
      try {
        var best = -1
        var bytesOut: Array[Byte] = null
        Iterator.continually(zin.getNextEntry).takeWhile(_ != null).foreach { e =>
          e.getName match {
            case SheetName(n) =>
              val num = n.toInt
              if (best < 0 || num < best) { best = num; bytesOut = readCapped(zin, e.getName) }
            case _ => ()
          }
        }
        Option(bytesOut)
      } finally zin.close()
    }
  }

  /** r:id of the first <sheet> element in xl/workbook.xml. */
  private def firstSheetRid(wb: Array[Byte]): Option[String] = {
    val r = xmlReader(wb)
    try {
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "sheet" =>
          (0 until r.getAttributeCount).foreach { i =>
            if (r.getAttributeLocalName(i) == "id") // r:id
              return Some(r.getAttributeValue(i))
          }
          return None
        case _ => ()
      }
      None
    } finally r.close()
  }

  /** Target of the relationship with the given Id in workbook.xml.rels. */
  private def relTarget(rels: Array[Byte], rid: String): Option[String] = {
    val r = xmlReader(rels)
    try {
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "Relationship" =>
          var id: String = null; var target: String = null
          (0 until r.getAttributeCount).foreach { i =>
            r.getAttributeLocalName(i) match {
              case "Id" => id = r.getAttributeValue(i)
              case "Target" => target = r.getAttributeValue(i)
              case _ => ()
            }
          }
          if (id == rid && target != null) return Some(target)
        case _ => ()
      }
      None
    } finally r.close()
  }

  /** Hardened StAX reader: no DTDs, no external entities (workbooks are
    * untrusted input). */
  private def xmlReader(bytes: Array[Byte]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  /** `<si>` entries; rich-text runs concatenate their `<t>` pieces.
    * Phonetic runs (`<rPh>`, furigana annotations) are SKIPPED like in
    * [[parseSheet]]: their `<t>` children are reading guides, not cell
    * content — without the guard a Japanese workbook's shared strings
    * come back with the furigana appended. */
  private def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val r = xmlReader(bytes)
    val out = Vector.newBuilder[String]
    var cur: StringBuilder = null
    var inPhonetic = false
    while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" =>
        cur = new StringBuilder; inPhonetic = false
      case XMLStreamConstants.START_ELEMENT if r.getLocalName == "rPh" =>
        inPhonetic = true
      case XMLStreamConstants.END_ELEMENT if r.getLocalName == "rPh" =>
        inPhonetic = false
      case XMLStreamConstants.START_ELEMENT
          if r.getLocalName == "t" && cur != null && !inPhonetic =>
        cur.append(r.getElementText) // advances past </t>
      case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
        out += cur.toString; cur = null
      case _ => ()
    }
    r.close()
    out.result()
  }

  /** Sheet rows as raw string cells, positioned by their `r="BC12"`
    * reference (blank cells are simply absent in the XML → null).
    *
    * The FIRST completed row (the header) is handed to `onHeader`,
    * which returns the set of column indices to materialize for every
    * later row; cells outside that set are skipped without reading
    * their value text or resolving shared strings (column pruning —
    * the XML tokenizer necessarily still walks the bytes, but per-cell
    * work is only spent on projected columns). `cellCounter`, when
    * non-null, counts materialized cells (header + kept data cells). */
  private def parseSheet(bytes: Array[Byte],
      shared: Vector[String],
      onHeader: Array[String] => Set[Int],
      cellCounter: java.util.concurrent.atomic.AtomicLong): Vector[Array[String]] = {
    val r = xmlReader(bytes)
    val rows = Vector.newBuilder[Array[String]]
    var wanted: Set[Int] = null // null until the header row completes
    var row: ArrayBuffer[(Int, String)] = null
    var rowHadCells = false // cells seen in the XML, incl. pruned ones
    var cellCol = -1
    var cellType: String = null
    var cellVal: String = null
    var inPhonetic = false
    while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "row" => row = ArrayBuffer.empty; rowHadCells = false
        case "c" if row != null =>
          rowHadCells = true
          val c = colIndex(Option(r.getAttributeValue(null, "r"))
            .getOrElse(throw new IllegalArgumentException("cell without r= ref")))
          // header row (wanted == null) materializes every cell; data
          // rows only the projected ones — an unprojected cell keeps
          // cellCol = -1 so its <v>/<t> content falls through unread
          cellCol = if (wanted == null || wanted(c)) c else -1
          cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
          cellVal = null
        case "v" if cellCol >= 0 => cellVal = r.getElementText
        case "rPh" => inPhonetic = true // phonetic runs are annotations, not content
        // inlineStr: CONCATENATE rich-text runs' <t> pieces (same rule
        // as parseSharedStrings' <si> handling) — keeping only the last
        // run would silently drop content.
        case "t" if cellCol >= 0 && !inPhonetic =>
          val piece = r.getElementText
          cellVal = if (cellVal == null) piece else cellVal + piece
        case _ => ()
      }
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "rPh" => inPhonetic = false
        case "c" if cellCol >= 0 =>
          val resolved = cellType match {
            case "s" => if (cellVal == null) null else shared(cellVal.toInt)
            case _   => cellVal // n, str, inlineStr, b carry their text
          }
          if (cellCounter != null) cellCounter.incrementAndGet()
          row += ((cellCol, resolved)); cellCol = -1
        case "row" =>
          // a row is EMITTED iff it had cells in the XML — a data row
          // whose projected cells are all blank still yields an all-null
          // row (width 0), exactly as the unpruned parse did after the
          // schema mapping; only truly cell-less <row/> elements drop
          if (rowHadCells) {
            val width = if (row.isEmpty) 0 else row.map(_._1).max + 1
            val arr = new Array[String](width)
            row.foreach { case (i, v) => arr(i) = v }
            if (wanted == null) wanted = onHeader(arr)
            rows += arr
          }
          row = null
        case _ => ()
      }
      case _ => ()
    }
    r.close()
    rows.result()
  }

  /** "BC12" → 54: base-26 letters prefix, 1-indexed digits ignored. */
  private[sources] def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    require(letters.nonEmpty, s"bad cell ref '$ref'")
    letters.foldLeft(0)((acc, c) => acc * 26 + (c.toUpper - 'A' + 1)) - 1
  }

  /** Cell text → schema type; numerics go through BigDecimal because
    * SpreadsheetML stores every number as decimal text ("3" or "3.0"). */
  private def castCell(v: String, dt: DataType): Any =
    if (v == null || v.isEmpty) null
    else dt match {
      case StringType  => v
      case LongType    => new java.math.BigDecimal(v).longValue()
      case IntegerType => new java.math.BigDecimal(v).intValue()
      case DoubleType  => v.toDouble
      case FloatType   => v.toFloat
      case BooleanType => v == "1" || v.equalsIgnoreCase("true")
      case DateType =>
        java.sql.Date.valueOf(toDateTime(v).toLocalDate)
      case TimestampType =>
        java.sql.Timestamp.valueOf(toDateTime(v))
      case other =>
        throw new IllegalArgumentException(s"unsupported xlsx schema type $other")
    }

  /** Excel date decoding, schema-driven: a DateType/TimestampType field
    * accepts either the serial-number form every real workbook stores
    * (days since 1899-12-30 — the epoch convention that absorbs Lotus's
    * phantom 1900-02-29 — with the day fraction as time, rounded to the
    * nearest second) or ISO-8601 text (`t="d"` cells). Cell styles are
    * deliberately NOT inspected: numFmt heuristics misfire both ways,
    * while the schema states exactly which columns are dates. */
  private def toDateTime(v: String): java.time.LocalDateTime = {
    val t = v.trim
    val looksIso = t.exists(_.isLetter) || t.count(_ == '-') >= 2
    if (looksIso)
      try java.time.LocalDateTime.parse(t)
      catch { case _: java.time.format.DateTimeParseException =>
        java.time.LocalDate.parse(t).atStartOfDay()
      }
    else {
      val serial = new java.math.BigDecimal(t)
      val days = serial.setScale(0, java.math.RoundingMode.FLOOR).longValueExact()
      val frac = serial.subtract(new java.math.BigDecimal(days)).doubleValue()
      java.time.LocalDate.of(1899, 12, 30).plusDays(days)
        .atStartOfDay().plusSeconds(math.round(frac * 86400.0))
    }
  }
}
