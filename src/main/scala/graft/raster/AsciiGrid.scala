package graft.raster

/** ESRI ASCII grid raster (the reference's input format, scanned at
  * ETL.py:198–200): a 6-line header followed by whitespace-separated
  * cell values, row-major with row 0 the NORTHERNMOST row.
  *
  * {{{
  * ncols         4
  * nrows         4
  * xllcorner     1600000.0
  * yllcorner     5400000.0
  * cellsize      500.0
  * NODATA_value  -9999
  * 12.1 13.0 -9999 14.2
  * ...
  * }}}
  *
  * The reference never touches pixels in-language (arcpy streams
  * file→file); here the grid is a first-class typed record so clipping
  * and statistics are native columnar operations. At scale a grid
  * travels as one row (the asciigrid source parses each file once into
  * header columns plus a `values` array) — a 500 m NZ-wide grid is
  * ~5 MB of text, far under per-row limits, and per-file parallelism is
  * the natural partitioning.
  */
case class AsciiGrid(
    ncols: Int,
    nrows: Int,
    xllcorner: Double,
    yllcorner: Double,
    cellsize: Double,
    nodata: Double,
    values: Array[Double]) {

  require(values.length == ncols * nrows,
    s"expected ${ncols * nrows} values, got ${values.length}")

  def value(row: Int, col: Int): Double = values(row * ncols + col)

  /** Cell-center X of a column. */
  def centerX(col: Int): Double = xllcorner + (col + 0.5) * cellsize

  /** Cell-center Y of a row (row 0 = top/northernmost). */
  def centerY(row: Int): Double = yllcorner + (nrows - row - 0.5) * cellsize

  def xmax: Double = xllcorner + ncols * cellsize
  def ymax: Double = yllcorner + nrows * cellsize
}

object AsciiGrid {

  /** Parse the textual format. Header keys are case-insensitive and
    * order-tolerant (matching common producers); values may span lines.
    */
  def parse(text: String): AsciiGrid = {
    val tokens = tokenize(text)
    val (ncols, nrows, xll, yll, cell, nodata, start) = header(tokens)
    val values = new Array[Double](tokens.length - start)
    var i = 0
    while (i < values.length) { values(i) = tokens(start + i).toDouble; i += 1 }
    AsciiGrid(ncols, nrows, xll, yll, cell, nodata, values)
  }

  /** The whitespace-separated tokens of the textual format. */
  def tokenize(text: String): Array[String] = text.split("\\s+").filter(_.nonEmpty)

  private val HeaderKeys = Set("ncols", "nrows", "xllcorner", "yllcorner",
    "xllcenter", "yllcenter", "cellsize", "nodata_value")

  /** The one header routine, shared by `parse` and the asciigrid source's
    * header-only reads (which tokenize just a file's first 4 KiB): reads
    * the key/value pairs at the front of `tokens` and stops at the first
    * token that is not a header key, so a cut-off cell line is never
    * misread as a header. Returns (ncols, nrows, xllcorner, yllcorner,
    * cellsize, nodata, index of the first cell token).
    *
    * Throws IllegalArgumentException naming the key when ncols, nrows,
    * x, y or cellsize is missing, cellsize is not finite and positive,
    * or ncols/nrows is negative. A 0×0 grid (an empty clip) is legal.
    */
  def header(tokens: Array[String]): (Int, Int, Double, Double, Double, Double, Int) = {
    var ncols, nrows = 0
    var xll, yll, cell = 0.0
    var nodata = -9999.0
    var xCenter, yCenter = false
    var seen = Set.empty[String]
    var i = 0
    while (i + 1 < tokens.length && HeaderKeys.contains(tokens(i).toLowerCase)) {
      val key = tokens(i).toLowerCase
      val v = tokens(i + 1)
      key match {
        case "ncols"        => ncols = v.toInt
        case "nrows"        => nrows = v.toInt
        case "xllcorner"    => xll = v.toDouble; xCenter = false
        case "xllcenter"    => xll = v.toDouble; xCenter = true
        case "yllcorner"    => yll = v.toDouble; yCenter = false
        case "yllcenter"    => yll = v.toDouble; yCenter = true
        case "cellsize"     => cell = v.toDouble
        case "nodata_value" => nodata = v.toDouble
      }
      seen += key.replace("center", "corner")
      i += 2
    }
    for (k <- Seq("ncols", "nrows", "xllcorner", "yllcorner", "cellsize"))
      require(seen(k), s"ASCII grid header has no $k" +
        (if (k.endsWith("corner")) s" or ${k.replace("corner", "center")}" else ""))
    require(cell > 0 && !cell.isInfinite, s"ASCII grid cellsize must be finite and > 0, got $cell")
    require(ncols >= 0, s"ASCII grid ncols must be >= 0, got $ncols")
    require(nrows >= 0, s"ASCII grid nrows must be >= 0, got $nrows")
    // center→corner offsets resolved AFTER the loop: cellsize legally
    // follows the xllcenter/yllcenter lines in standard ESRI headers
    if (xCenter) xll -= 0.5 * cell
    if (yCenter) yll -= 0.5 * cell
    (ncols, nrows, xll, yll, cell, nodata, i)
  }

  /** Render back to the textual format (row-major, one row per line).
    * parse ∘ write == identity (property-tested).
    */
  def write(g: AsciiGrid): String = {
    val sb = new StringBuilder
    sb.append(s"ncols ${g.ncols}\n")
    sb.append(s"nrows ${g.nrows}\n")
    sb.append(s"xllcorner ${fmt(g.xllcorner)}\n")
    sb.append(s"yllcorner ${fmt(g.yllcorner)}\n")
    sb.append(s"cellsize ${fmt(g.cellsize)}\n")
    sb.append(s"NODATA_value ${fmt(g.nodata)}\n")
    var r = 0
    while (r < g.nrows) {
      var c = 0
      while (c < g.ncols) {
        if (c > 0) sb.append(' ')
        sb.append(fmt(g.value(r, c)))
        c += 1
      }
      sb.append('\n')
      r += 1
    }
    sb.toString
  }

  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
}
