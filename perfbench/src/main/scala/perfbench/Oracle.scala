package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.ZipFile

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** An independent reference clip: brute-force point-in-polygon with
  * exact integer arithmetic and no JTS. A cell is kept when its value is
  * not NODATA and its centre lies strictly inside the region (a centre on
  * an edge or vertex is dropped). The output is cropped to the columns
  * and rows whose centres lie strictly inside the region's envelope.
  */
object Oracle {

  final case class Expect(name: String, ncols: Int, nrows: Int,
      nValid: Long, nNodata: Long, sum: Double)

  /** 1 inside, 0 outside, -1 on the boundary. */
  def locate(r: Region, px: Long, py: Long): Int = {
    val xs = r.xs; val ys = r.ys
    var inside = false
    var k = 0
    while (k < xs.length - 1) {
      val ax = xs(k); val ay = ys(k); val bx = xs(k + 1); val by = ys(k + 1)
      // coordinates are < 2^23 m, so these products are exact in a Long
      val cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
      if (cross == 0 && px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
          py >= math.min(ay, by) && py <= math.max(ay, by)) return -1
      if ((ay > py) != (by > py)) {
        // the edge crosses the horizontal line through p; count it when
        // the crossing lies to the right of p
        if (if (by > ay) cross > 0 else cross < 0) inside = !inside
      }
      k += 1
    }
    if (inside) 1 else 0
  }

  /** The expected catalog row, and how many cell centres in the crop
    * lie exactly on the region's boundary (the cases the strict-interior
    * rule decides).
    */
  def clip(g: GridSpec, values: Array[Double], nodata: Double, r: Region): (Expect, Int) = {
    val name = g.clippedName(r)
    val (minX, maxX, minY, maxY) = (r.minX, r.maxX, r.minY, r.maxY)
    val cols = (0 until g.ncols).filter { c => val x = g.centerX(c); x > minX && x < maxX }
    val rows = (0 until g.nrows).filter { j => val y = g.centerY(j); y > minY && y < maxY }
    if (cols.isEmpty || rows.isEmpty) return (Expect(name, 0, 0, 0, 0, 0.0), 0)
    var nValid = 0L
    var onBoundary = 0
    var sum = 0.0
    for (row <- rows.min to rows.max; c <- cols.min to cols.max) {
      val where = locate(r, g.centerX(c), g.centerY(row))
      if (where < 0) onBoundary += 1
      val v = values(row * g.ncols + c)
      if (v != nodata && where == 1) { nValid += 1; sum += v }
    }
    val ncols = cols.max - cols.min + 1
    val nrows = rows.max - rows.min + 1
    (Expect(name, ncols, nrows, nValid, ncols.toLong * nrows - nValid, sum), onBoundary)
  }

  /** Products whose catalog row disagrees with `expected`, plus expected
    * names missing from the catalog and catalog names not expected.
    * `rows` holds every catalog row; only names in `expected` are
    * compared field by field, while the name set is always compared in full.
    */
  def catalogFailures(rows: Seq[Expect], allNames: Set[String],
      expected: Map[String, Expect]): Set[String] = {
    val byName = rows.groupBy(_.name)
    val dupes = byName.collect { case (n, rs) if rs.size > 1 => n }
    val missing = allNames -- byName.keySet
    val extra = byName.keySet -- allNames
    val wrong = expected.collect {
      case (n, e) if byName.get(n).exists(rs => !same(rs.head, e)) => n
    }
    dupes.toSet ++ missing ++ extra ++ wrong
  }

  private def same(a: Expect, e: Expect): Boolean =
    a.ncols == e.ncols && a.nrows == e.nrows && a.nValid == e.nValid &&
      a.nNodata == e.nNodata && math.abs(a.sum - e.sum) <= 1e-6 * math.max(1.0, math.abs(e.sum))

  private val mapper = new ObjectMapper()

  /** Products without exactly one zip holding the four expected entries
    * and one parseable metadata json.
    */
  def sinkFailures(zipped: Path, stems: Set[String]): Set[String] = {
    val files = Files.list(zipped).iterator().asScala.map(_.getFileName.toString).toSet
    val bad = Set.newBuilder[String]
    stems.foreach { stem =>
      val okZip = files(s"$stem.zip") && {
        val z = new ZipFile(zipped.resolve(s"$stem.zip").toFile)
        try z.entries().asScala.map(_.getName).toList.sorted ==
          List(".asc", ".stats.txt", ".tif", ".wld").map(stem + _)
        finally z.close()
      }
      val okJson = files(s"$stem.json") && util.Try(mapper.readTree(
        new String(Files.readAllBytes(zipped.resolve(s"$stem.json")), StandardCharsets.UTF_8))
        .path("metadata").path("title").isTextual).getOrElse(false)
      if (!okZip || !okJson) bad += stem
    }
    val extra = files.map(f => f.stripSuffix(".zip").stripSuffix(".json")) -- stems
    bad.result() ++ extra
  }
}
