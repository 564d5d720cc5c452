package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import graft.geo.CrsDetect
import graft.sources.{ShpWriter, TiffWriter}

/** Seeded input generator. Every upload kind the healthflow chain accepts
  * (lab CSV + XLSX, HMIS wide XLSX, weather CSV, boundary shapefile ZIP in
  * EPSG:32735, slope GeoTIFF) and the curation corpus are produced as
  * bytes from the seed alone, so the same
  * seed always yields the same files. The expected outputs the checks need
  * (row totals, per-polygon pixel statistics, admin tags) are computed here,
  * from the construction, never from the engine under test.
  */
object Gen {

  // input sizes, the same for every seed
  private val LabCsvRows = 20000
  private val LabXlsxRows = 2000
  private val Years: Seq[Int] = 2019 to 2023
  private val GridCols = 16
  private val GridRows = 12
  private val CellPx = 12
  private val MarginPx = 3
  private val BlockCells = 4
  private val CorpusDocs = 1200

  // ---- deterministic randomness -------------------------------------------

  private def stream(seed: Long, id: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L)

  /** Zipf(s) over ranks 0 until n, by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- the lab domain -----------------------------------------------------

  val Districts: IndexedSeq[(String, String)] = {
    val byProvince = Seq(
      "Kigali" -> Seq("Nyarugenge", "Gasabo", "Kicukiro"),
      "South" -> Seq("Nyanza", "Gisagara", "Nyaruguru", "Huye", "Nyamagabe", "Ruhango",
        "Muhanga", "Kamonyi"),
      "West" -> Seq("Karongi", "Rutsiro", "Rubavu", "Nyabihu", "Ngororero", "Rusizi",
        "Nyamasheke"),
      "North" -> Seq("Rulindo", "Gakenke", "Musanze", "Burera", "Gicumbi"),
      "East" -> Seq("Rwamagana", "Nyagatare", "Gatsibo", "Kayonza", "Kirehe", "Ngoma",
        "Bugesera"))
    byProvince.flatMap { case (p, ds) => ds.map(_ -> p) }.toIndexedSeq
  }
  val SectorsPerDistrict = 4
  val VillagesPerSector = 16

  val LabHeader: Seq[String] = Seq("Year", "Month", "District", "Sector", "Health Center",
    "Cell", "Village", "Age", "Gender", "Slide Status", "Case Origin", "Province")

  private val monthSpellings = Seq("Jan", "February", "3", "April", "May", "6", "July",
    "Aug", "9", "October", "Nov", "12")
  private val genders = Seq("M", "F", "Male", "female", "WOMAN", "")
  // (spelling, class): the engine's keyword classifier maps these to
  // Positive / Negative / Inconclusive / Unknown
  private val slides = Seq(
    "Positive" -> 'P', "POS" -> 'P', "P.falciparum" -> 'P',
    "Negative" -> 'N', "NEG" -> 'N', "neg" -> 'N', "Negative" -> 'N', "Negative" -> 'N',
    "Inconclusive" -> 'I', "" -> 'U')
  private val districtZipf = new Zipf(Districts.size, 1.1)
  private val villageZipf = new Zipf(VillagesPerSector, 1.2)

  def sectorName(d: Int, s: Int): String = s"${Districts(d)._1}-S${s + 1}"

  /** Totals the checks compare lab outputs against. */
  final case class LabTotals(rows: Long, positive: Long, negative: Long) {
    def +(o: LabTotals): LabTotals =
      LabTotals(rows + o.rows, positive + o.positive, negative + o.negative)
  }

  private def labRows(r: SplittableRandom, n: Int, years: Seq[Int])
      : (IndexedSeq[Seq[String]], LabTotals) = {
    var pos = 0L; var neg = 0L
    val rows = (0 until n).map { _ =>
      val d = districtZipf.draw(r)
      val s = r.nextInt(SectorsPerDistrict)
      val v = villageZipf.draw(r)
      val (slide, cls) = slides(r.nextInt(slides.size))
      if (cls == 'P') pos += 1 else if (cls == 'N') neg += 1
      val age = if (r.nextInt(40) == 0) "N/A" else r.nextInt(90).toString
      Seq(years(r.nextInt(years.size)).toString, monthSpellings(r.nextInt(12)),
        Districts(d)._1, sectorName(d, s), s"HC ${sectorName(d, s)}",
        s"Cell ${r.nextInt(3) + 1}", s"${sectorName(d, s)}-V${v + 1}", age,
        genders(r.nextInt(genders.size)), slide, if (r.nextInt(5) == 0) "Imported" else "Local",
        Districts(d)._2)
    }
    (rows, LabTotals(n, pos, neg))
  }

  private def csv(header: Seq[String], rows: Seq[Seq[String]]): Array[Byte] = {
    val sb = new StringBuilder
    (header +: rows).foreach(r => sb.append(r.mkString(",")).append('\n'))
    sb.toString.getBytes(UTF_8)
  }

  // ---- archives -----------------------------------------------------------

  /** A zip archive with fixed entry times, so equal entries give equal bytes. */
  def zip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(315532800000L) // 1980-01-01, the DOS epoch
      z.putNextEntry(e); z.write(bytes); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  /** A minimal one-sheet workbook: text cells through the shared-string
    * table, numeric cells inline.
    */
  def xlsx(header: Seq[String], rows: Seq[Seq[String]]): Array[Byte] = {
    val shared = scala.collection.mutable.LinkedHashMap[String, Int]()
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def colRef(i: Int): String =
      if (i < 26) ('A' + i).toChar.toString else colRef(i / 26 - 1) + ('A' + i % 26).toChar
    val sheet = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    (header +: rows).zipWithIndex.foreach { case (row, ri) =>
      sheet.append(s"""<row r="${ri + 1}">""")
      row.zipWithIndex.foreach { case (v, ci) =>
        val ref = s"${colRef(ci)}${ri + 1}"
        if (v.nonEmpty && v.forall(c => c.isDigit || c == '.') && v.head.isDigit)
          sheet.append(s"""<c r="$ref"><v>$v</v></c>""")
        else if (v.nonEmpty) {
          val k = shared.getOrElseUpdate(v, shared.size)
          sheet.append(s"""<c r="$ref" t="s"><v>$k</v></c>""")
        }
      }
      sheet.append("</row>")
    }
    sheet.append("</sheetData></worksheet>")
    val sst = shared.keys.map(s => s"<si><t>${esc(s)}</t></si>")
      .mkString("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">""",
        "", "</sst>")
    val ns = "http://schemas.openxmlformats.org"
    zip(Seq(
      "[Content_Types].xml" -> (s"""<?xml version="1.0" encoding="UTF-8"?><Types xmlns="$ns/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
        "</Types>").getBytes(UTF_8),
      "_rels/.rels" -> (s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="$ns/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        "</Relationships>").getBytes(UTF_8),
      "xl/workbook.xml" -> (s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""").getBytes(UTF_8),
      "xl/_rels/workbook.xml.rels" -> (s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="$ns/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        s"""<Relationship Id="rId2" Type="$ns/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""" +
        "</Relationships>").getBytes(UTF_8),
      "xl/worksheets/sheet1.xml" -> sheet.toString.getBytes(UTF_8),
      "xl/sharedStrings.xml" -> sst.getBytes(UTF_8)))
  }

  // ---- geo layout ---------------------------------------------------------

  /** Village polygons are a grid of cells aligned to the slope raster's
    * pixel edges (so every pixel centre lies strictly inside one cell or in
    * the margin outside all of them); admin units are square blocks of
    * cells. Coordinates are WGS84 degrees; the shapefile carries them
    * projected to UTM 35S.
    */
  final case class GeoLayout(cols: Int, rows: Int, cellPx: Int, marginPx: Int,
      blockCells: Int, lon0: Double, lat0: Double, pixelDeg: Double) {
    val widthPx: Int = cols * cellPx + 2 * marginPx
    val heightPx: Int = rows * cellPx + 2 * marginPx
    def cellId(cx: Int, cy: Int): String = f"V$cy%03d$cx%03d"
    /** Cell corners (west, south, east, north) in degrees. */
    def cellBox(cx: Int, cy: Int): (Double, Double, Double, Double) = {
      val w = lon0 + (marginPx + cx * cellPx) * pixelDeg
      val n = lat0 - (marginPx + cy * cellPx) * pixelDeg
      (w, n - cellPx * pixelDeg, w + cellPx * pixelDeg, n)
    }
    def adminOf(cx: Int, cy: Int): (String, String) = {
      val b = (cy / blockCells) * ((cols + blockCells - 1) / blockCells) + cx / blockCells
      (Districts(b % Districts.size)._1, s"Block${b + 1}")
    }
    /** Admin units as (district, sector, WGS84 polygon). */
    def adminPolygons: Seq[(String, String, Seq[Seq[Seq[Double]]])] =
      (0 until rows by blockCells).flatMap { by =>
        (0 until cols by blockCells).map { bx =>
          val (w, _, _, n) = cellBox(bx, by)
          val (_, s, e, _) = cellBox(math.min(cols, bx + blockCells) - 1,
            math.min(rows, by + blockCells) - 1)
          val (d, sec) = adminOf(bx, by)
          (d, sec, Seq(Seq(Seq(w, n), Seq(e, n), Seq(e, s), Seq(w, s), Seq(w, n))))
        }
      }
  }

  /** Expected zonal statistics of one village cell. */
  final case class Zone(count: Long, mean: Double, max: Double, min: Double)

  private val Nodata = -9999.0

  /** Slope value of a pixel: multiples of 0.25 in [0, 60), exact in float32,
    * so sums and means do not depend on summation order; some pixels are
    * nodata.
    */
  private def pixel(seed: Long, px: Int, py: Int): Double = {
    val h = new SplittableRandom(seed ^ (px.toLong << 32) ^ py.toLong).nextLong()
    if (java.lang.Long.remainderUnsigned(h, 23) == 0) Nodata
    else java.lang.Long.remainderUnsigned(h >>> 8, 240) * 0.25
  }

  val UtmPrj: String =
    """PROJCS["WGS_1984_UTM_Zone_35S",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",""" +
      """SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],""" +
      """UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],""" +
      """PARAMETER["False_Easting",500000.0],PARAMETER["False_Northing",10000000.0],""" +
      """PARAMETER["Central_Meridian",27.0],PARAMETER["Scale_Factor",0.9996],""" +
      """PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]"""

  // ---- curation corpus ----------------------------------------------------

  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch").toIndexedSeq
  private val langs = Seq("en", "en", "zh", "es", "en", "fr", "de", "en")

  /** Corpus rows (doc_id, text, lang, source). Some odd-id docs repeat a
    * 12-token span of an earlier doc (near-duplicate spans for span
    * removal); some carry exactly one 8-token span from a benchmark doc
    * (doc_id % 50 == 0) with neighbours that break any longer match, so
    * decontamination, not span removal, is what drops them.
    */
  type Doc = (Long, String, String, String)

  def corpus(seed: Long): IndexedSeq[Doc] = corpus(stream(seed, 6), CorpusDocs)

  private def corpus(r: SplittableRandom, n: Int): IndexedSeq[Doc] = {
    val toks = ArrayBuffer[IndexedSeq[String]]()
    (0 until n).map { id =>
      var t = IndexedSeq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.size)))
      if (id % 2 == 1 && id > 100 && r.nextInt(8) == 0) {
        val src = toks(r.nextInt(id))
        if (src.size >= 12) {
          val at = r.nextInt(src.size - 11)
          val pos = r.nextInt(math.max(1, t.size - 12))
          t = t.take(pos) ++ src.slice(at, at + 12) ++ t.drop(pos + 12)
        }
      } else if (id % 2 == 1 && id > 100 && r.nextInt(10) == 0) {
        val b = toks(r.nextInt(id / 50) * 50)
        if (b.size >= 12) {
          val at = 2 + r.nextInt(b.size - 10) // stays inside tokens[2..]
          val span = b.slice(at, at + 8)
          if (span.size == 8) {
            val pos = 1 + r.nextInt(math.max(1, t.size - 10))
            def other(x: Option[String]) = vocab.find(v => !x.contains(v)).get
            val before = other(b.lift(at - 1))
            val after = other(b.lift(at + 8))
            t = t.take(pos - 1) ++ (before +: span :+ after) ++ t.drop(pos + 9)
          }
        }
      }
      toks += t
      (id.toLong, t.mkString(" "), langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}")
    }
  }

  // ---- the generated set --------------------------------------------------

  final case class Entry(name: String, bytes: Array[Byte], rows: Long)

  final case class Inputs(
      files: Seq[Entry],
      lab: LabTotals,
      hmisSectors: Int,
      hmisCases: Long,
      weatherYears: Seq[Int],
      geo: GeoLayout,
      zones: Map[String, Zone],
      admin: Map[String, (String, String)]) {
    def digests: Map[String, String] = files.map(e => e.name -> sha256(e.bytes)).toMap
  }

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** The corpus hashed from its rows (it is written as parquet, whose bytes
    * carry file names Spark makes up).
    */
  def corpusDigest(docs: Seq[Doc]): Map[String, String] =
    Map("documents" -> sha256(docs.map(_.productIterator.mkString("\t")).mkString("\n")
      .getBytes(UTF_8)))

  /** The healthflow uploads and what the checks expect of them. */
  def healthflow(seed: Long): Inputs = {
    val (csvRows, csvTot) = labRows(stream(seed, 1), LabCsvRows, Years)
    val (xlsxRows, xlsxTot) = labRows(stream(seed, 2), LabXlsxRows, Years)

    // HMIS wide sheet: one row per sector, three columns per year
    val hr = stream(seed, 3)
    val hmisHeader = Seq("Province", "District", "Sector") ++
      Years.flatMap(y => Seq(s"Total Cases_$y", s"Pop$y", s"Incidence_$y"))
    var hmisCases = 0L
    val hmisRows = for (d <- Districts.indices; s <- 0 until SectorsPerDistrict) yield {
      Seq(Districts(d)._2, Districts(d)._1, sectorName(d, s)) ++ Years.flatMap { _ =>
        val cases = hr.nextInt(5000); val pop = 10000 + hr.nextInt(90000)
        hmisCases += cases
        Seq(cases.toString, pop.toString, f"${cases * 1000.0 / pop}%.2f")
      }
    }

    // weather: daily observations over every year
    val wr = stream(seed, 4)
    val weatherRows = for {
      y <- Years; m <- 1 to 12
      d <- 1 to java.time.YearMonth.of(y, m).lengthOfMonth()
    } yield Seq(f"$y-$m%02d-$d%02d", y.toString, m.toString,
      f"${wr.nextInt(400) / 10.0}%.1f", f"${15 + wr.nextInt(150) / 10.0}%.1f")

    // geo: cells in degrees, projected to UTM 35S for the shapefile
    // the origin moves with the seed (lat0 alone differs between neighbouring seeds)
    val geo = GeoLayout(GridCols, GridRows, CellPx, MarginPx, BlockCells,
      lon0 = 29.40 + stream(seed, 5).nextInt(1000) * 0.0001,
      lat0 = -1.70 - java.lang.Math.floorMod(seed, 97L) * 0.001, pixelDeg = 0.0025)
    val cells = for (cy <- 0 until geo.rows; cx <- 0 until geo.cols) yield (cx, cy)
    val utm = CrsDetect.candidates.find(_.epsg == 32735).get
    val polys = cells.map { case (cx, cy) =>
      val (w, s, e, n) = geo.cellBox(cx, cy)
      // clockwise outer ring, closed
      val ring = Seq((w, n), (e, n), (e, s), (w, s), (w, n))
        .map { case (lon, lat) => CrsDetect.utmForward(lon, lat, utm.lon0Deg, utm.ell) }
      ShpWriter.PolyRec(Seq(ring))
    }
    val dbfRows = cells.map { case (cx, cy) =>
      val (d, sec) = geo.adminOf(cx, cy)
      Seq(geo.cellId(cx, cy), s"Village ${geo.cellId(cx, cy)}", d, sec)
    }
    val shpZip = zip(Seq(
      "boundaries/villages.shp" -> ShpWriter.encode(polys),
      "boundaries/villages.dbf" -> ShpWriter.dbf(
        Seq("VILLAGE_ID" -> 10, "VILLAGE" -> 24, "DISTRICT" -> 16, "SECTOR" -> 12), dbfRows),
      "boundaries/villages.prj" -> UtmPrj.getBytes(UTF_8)))

    val values = Array.tabulate(geo.widthPx * geo.heightPx) { i =>
      pixel(seed, i % geo.widthPx, i / geo.widthPx)
    }
    val tiff = TiffWriter.encode(geo.widthPx, geo.heightPx, values,
      TiffWriter.Layout(compression = 5, rowsPerStrip = 16),
      pixelScaleX = geo.pixelDeg, pixelScaleY = geo.pixelDeg,
      originX = geo.lon0, originY = geo.lat0, nodata = Some(Nodata))
    val zones = cells.map { case (cx, cy) =>
      val vs = for {
        py <- geo.marginPx + cy * geo.cellPx until geo.marginPx + (cy + 1) * geo.cellPx
        px <- geo.marginPx + cx * geo.cellPx until geo.marginPx + (cx + 1) * geo.cellPx
        v = values(py * geo.widthPx + px) if v != Nodata
      } yield v
      geo.cellId(cx, cy) -> Zone(vs.size, BigDecimal(vs.sum / vs.size)
        .setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble, vs.max, vs.min)
    }.toMap
    val admin = cells.map { case (cx, cy) => geo.cellId(cx, cy) -> geo.adminOf(cx, cy) }.toMap

    val files = Seq(
      Entry("lab_upload.csv", csv(LabHeader, csvRows), csvTot.rows),
      Entry("lab_upload.xlsx", xlsx(LabHeader, xlsxRows), xlsxTot.rows),
      Entry("hmis_wide.xlsx", xlsx(hmisHeader, hmisRows), hmisRows.size),
      Entry("weather.csv", csv(Seq("Date", "Year", "Month", "PRECIP", "TMPMAX"), weatherRows),
        weatherRows.size),
      Entry("boundaries.zip", shpZip, cells.size),
      Entry("slope.tif", tiff, values.count(_ != Nodata).toLong))
    Inputs(files, csvTot + xlsxTot, hmisRows.size, hmisCases, Years, geo, zones, admin)
  }

  /** Same seed → identical bytes for every input; another seed → different
    * bytes for every input. `digests` is what `gen` gave for `seed`; returns
    * the failures (empty when both hold).
    */
  def selfCheck(seed: Long, digests: Map[String, String],
      gen: Long => Map[String, String]): Seq[String] = {
    val again = gen(seed)
    val other = gen(seed + 1)
    digests.keys.toSeq.sorted.flatMap { k =>
      (if (again(k) != digests(k)) Seq(s"$k: same seed gave different bytes") else Nil) ++
        (if (other(k) == digests(k)) Seq(s"$k: seed ${seed + 1} gave identical bytes") else Nil)
    }
  }

  /** Write every file input under `dir` plus a manifest of rows and bytes. */
  def writeFiles(in: Inputs, dir: Path): Unit = {
    Files.createDirectories(dir)
    in.files.foreach(e => Files.write(dir.resolve(e.name), e.bytes))
    writeManifest(dir, in.files.map(e => (e.name, e.rows, e.bytes.length.toLong)))
  }

  /** `manifest.json`: rows and bytes per input, the base of every ratio. */
  def writeManifest(dir: Path, entries: Seq[(String, Long, Long)]): Unit =
    Files.write(dir.resolve("manifest.json"), Json.pretty(ListMap(entries.map {
      case (n, rows, bytes) => n -> ListMap("rows" -> rows, "bytes" -> bytes) }: _*))
      .getBytes(UTF_8))
}
