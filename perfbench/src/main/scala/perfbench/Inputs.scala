package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.util.Random

import graft.etl.Lookups

/** One generated `.asc` grid. Every coordinate is an integer number of
  * metres (NZTM2000), so the oracle's point-in-polygon test is exact.
  */
final case class GridSpec(paramIdx: Int, periodIdx: Int, statIdx: Int,
    dir: String, ncols: Int, nrows: Int, xll: Long, yll: Long, cs: Long) {
  def param: String = Lookups.parameters(paramIdx)._1
  def period: String = Lookups.periods(periodIdx)._1
  def stat: String = Lookups.statistics(statIdx)
  def fileName: String = s"grid_${param}_NZ_norm_${stat}_1991-2020_$period.asc"
  def cells: Long = ncols.toLong * nrows
  def centerX(c: Int): Long = xll + cs / 2 + c * cs
  /** Row 0 is the northernmost row, as in the ESRI format. */
  def centerY(r: Int): Long = yll + (nrows - r) * cs - cs / 2
  /** The product name the pipeline must give this grid clipped by `region`. */
  def clippedName(region: Region): String =
    s"${Lookups.parameters(paramIdx)._2}_${stat}_1991-2020_" +
      s"${Lookups.periods(periodIdx)._2}_${region.name}.tif"
}

/** A region polygon: a closed exterior ring of integer vertices. */
final case class Region(code: String, name: String, xs: Array[Long], ys: Array[Long]) {
  def title: String = name.replace("-", " ") + " Region"
  def minX: Long = xs.min
  def maxX: Long = xs.max
  def minY: Long = ys.min
  def maxY: Long = ys.max
}

/** The generated input tree of one workload. */
final case class Inputs(gridDir: Path, regionsPath: Path, grids: IndexedSeq[GridSpec],
    regions: IndexedSeq[Region], field: Field, digest: String) {
  def sourceCells: Long = grids.map(_.cells).sum
  def products: Long = grids.size.toLong * regions.size
}

/** The smooth climate-like value field, NODATA over the sea. Values are
  * whole tenths, written with one decimal, so a parsed value equals
  * `tenths / 10.0` exactly. The field does not depend on the seed (the
  * geometry does), so output sizes stay comparable across seeds.
  */
final class Field(x0: Long, y0: Long, w: Long, h: Long) {
  private val fx = Array.tabulate(16)(p => 1.0 + p % 3)
  private val fy = Array.tabulate(17)(t => 1.0 + (t * 2) % 3)
  private val phase = Array(0.1, 0.45, 0.8)

  /** Two rotated ellipses, roughly where the North and South Islands sit. */
  def land(x: Double, y: Double): Boolean = {
    val u = (x - x0) / w; val v = (y - y0) / h
    def ellipse(cu: Double, cv: Double, a: Double, b: Double, deg: Double): Boolean = {
      val t = math.toRadians(deg)
      val du = u - cu; val dv = v - cv
      val p = du * math.cos(t) + dv * math.sin(t)
      val q = -du * math.sin(t) + dv * math.cos(t)
      (p * p) / (a * a) + (q * q) / (b * b) <= 1.0
    }
    ellipse(0.70, 0.72, 0.30, 0.14, 55) || ellipse(0.36, 0.30, 0.36, 0.15, 50)
  }

  def tenths(g: GridSpec, x: Long, y: Long): Int = {
    val u = (x - x0).toDouble / w; val v = (y - y0).toDouble / h
    val base = 50 + 70 * g.paramIdx + 15 * g.statIdx
    val amp = 40 + 20 * (g.periodIdx % 5)
    val s = math.sin(2 * math.Pi * (u * fx(g.paramIdx) + phase(g.statIdx))) *
      math.cos(2 * math.Pi * (v * fy(g.periodIdx) + phase((g.statIdx + 1) % 3)))
    math.round(base + amp * s + 60 * v).toInt
  }

  val Nodata: Double = -9999.0

  /** Row-major cell values of a grid, row 0 northernmost. */
  def values(g: GridSpec): Array[Double] = {
    val out = new Array[Double](g.ncols * g.nrows)
    var r = 0
    while (r < g.nrows) {
      var c = 0
      val y = g.centerY(r)
      while (c < g.ncols) {
        val x = g.centerX(c)
        out(r * g.ncols + c) =
          if (land(x.toDouble, y.toDouble)) tenths(g, x, y) / 10.0 else Nodata
        c += 1
      }
      r += 1
    }
    out
  }
}

/** Seeded, deterministic input generator for the pipeline workloads.
  *
  * Regions: a 4 × 4 mesh over the NZ extent whose interior edges are
  * long monotone staircases (a few hundred vertices per region). Each
  * edge is generated once and shared by its two regions, so the regions
  * tile the extent exactly. Vertices sit on a lattice of a quarter cell
  * whose every fourth point is a cell centre, and many staircase runs lie
  * on cell-centre rows and columns: cell centres land exactly on region
  * vertices and edges, where the clip's strict-interior rule decides.
  */
object Inputs {
  val X0 = 1056000L
  val Y0 = 4736000L
  val W = 1056000L
  val H = 1472000L

  /** Which grids a workload has: cell size, the parameter, period and
    * statistic indices (into `Lookups`), and whether grids are small and
    * scattered or cover the whole extent.
    */
  final case class Shape(cs: Long, params: Range, periods: Range, stats: Range,
      smallGrids: Boolean)

  def shape(workload: String): Shape = workload match {
    case "paper_catalog" => Shape(cs = 4000, params = 0 until 1, periods = 0 until 17,
      stats = 0 until 1, smallGrids = false)
    case "small_products" => Shape(cs = 4000, params = 0 until 8, periods = 16 until 17,
      stats = 0 until 3, smallGrids = true)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def regions(seed: Long, cs: Long): IndexedSeq[Region] = {
    val u = cs / 4
    val rnd = new Random(seed * 31 + 7)
    def snap(v: Double): Long = math.round(v / u) * u
    val sx = W / 4.0; val sy = H / 4.0
    // control points: outer ones slide only along the border
    val px = Array.tabulate(5, 5) { (i, _) =>
      if (i == 0 || i == 4) X0 + i * W / 4
      else snap(X0 + i * sx + (rnd.nextDouble() - 0.5) * 0.1 * sx)
    }
    val py = Array.tabulate(5, 5) { (i, j) =>
      if (j == 0 || j == 4) Y0 + j * H / 4
      else snap(Y0 + j * sy + (rnd.nextDouble() - 0.5) * 0.1 * sy)
    }
    // edge (from P(a) to P(b)) as a staircase monotone along its main axis
    def edge(ax: Long, ay: Long, bx: Long, by: Long, vertical: Boolean,
        straight: Boolean, er: Random): Seq[(Long, Long)] = {
      val (m0, m1, c0, c1) = if (vertical) (ay, by, ax, bx) else (ax, bx, ay, by)
      val len = (m1 - m0).toDouble
      val amp = if (straight) 0.0 else 0.06 * len
      val f1 = 1 + er.nextInt(2); val f2 = 3 + er.nextInt(4)
      val p1 = er.nextDouble(); val p2 = er.nextDouble()
      def cross(m: Long): Long = {
        val t = (m - m0) / len
        val wiggle = 0.6 * math.sin(2 * math.Pi * (f1 * t + p1)) +
          0.4 * math.sin(2 * math.Pi * (f2 * t + p2))
        snap(c0 + (c1 - c0) * t + amp * math.sin(math.Pi * t) * wiggle)
      }
      val mains = Iterator.iterate(m0)(m => m + u * (2 + er.nextInt(5)))
        .takeWhile(_ < m1 - 2 * u).toVector :+ m1
      val pts = Vector.newBuilder[(Long, Long)]
      var prevC = c0
      mains.zipWithIndex.foreach { case (m, k) =>
        val c = if (k == 0) c0 else if (k == mains.size - 1) c1 else cross(m)
        // a staircase corner holds the cross coordinate along the main axis
        if (k > 0 && k < mains.size - 1 && er.nextBoolean()) pts += (if (vertical) (prevC, m) else (m, prevC))
        pts += (if (vertical) (c, m) else (m, c))
        prevC = c
      }
      dedup(pts.result())
    }
    val vEdges = Array.tabulate(5, 4)((i, j) =>
      edge(px(i)(j), py(i)(j), px(i)(j + 1), py(i)(j + 1), vertical = true,
        straight = i == 0 || i == 4, new Random(seed * 1009 + i * 7 + j)))
    val hEdges = Array.tabulate(4, 5)((i, j) =>
      edge(px(i)(j), py(i)(j), px(i + 1)(j), py(i + 1)(j), vertical = false,
        straight = j == 0 || j == 4, new Random(seed * 2003 + i * 11 + j)))
    val named = Lookups.regions.filterNot(_._1 == "99")
    require(named.size == 16)
    for (j <- 0 until 4; i <- 0 until 4) yield {
      // counter-clockwise: bottom, right, top reversed, left reversed
      val ring = dedup(hEdges(i)(j) ++ vEdges(i + 1)(j).tail ++
        hEdges(i)(j + 1).reverse.tail ++ vEdges(i)(j).reverse.tail)
      val (code, name) = named(j * 4 + i)
      Region(code, name, ring.map(_._1).toArray, ring.map(_._2).toArray)
    }
  }

  private def dedup(pts: Seq[(Long, Long)]): Vector[(Long, Long)] =
    pts.foldLeft(Vector.empty[(Long, Long)]) { (acc, p) =>
      if (acc.nonEmpty && acc.last == p) acc else acc :+ p
    }

  def grids(seed: Long, shape: Shape, regions: IndexedSeq[Region]): IndexedSeq[GridSpec] = {
    val cs = shape.cs
    if (!shape.smallGrids)
      for (p <- shape.params; t <- shape.periods; s <- shape.stats)
        yield GridSpec(p, t, s, "nz", (W / cs).toInt, (H / cs).toInt, X0, Y0, cs)
    else {
      val rnd = new Random(seed * 131 + 3)
      // interior region vertices that are cell centres of the shared lattice
      val pinned = regions.flatMap(r => r.xs.indices.map(k => (r.xs(k), r.ys(k)))).distinct
        .filter { case (x, y) =>
          (x - X0 - cs / 2) % cs == 0 && (y - Y0 - cs / 2) % cs == 0 &&
            x > X0 + 8 * cs && x < X0 + W - 8 * cs && y > Y0 + 8 * cs && y < Y0 + H - 8 * cs
        }.sorted
      for (((p, t, s), k) <- (for (p <- shape.params; t <- shape.periods; s <- shape.stats)
          yield (p, t, s)).zipWithIndex) yield {
        // sizes by index, so every seed has the same number of source cells
        val nc = 5 + k % 4; val nr = 5 + k / 4 % 4
        val (xll, yll) =
          if (k % 3 == 0 && pinned.nonEmpty) {
            // every third grid has a cell centre on a region vertex
            val (vx, vy) = pinned(rnd.nextInt(pinned.size))
            (vx - cs / 2 - cs * rnd.nextInt(nc), vy - cs / 2 - cs * rnd.nextInt(nr))
          } else
            (X0 + cs * rnd.nextInt((W / cs).toInt - nc), Y0 + cs * rnd.nextInt((H / cs).toInt - nr))
        // region-code folders, as in the reference tree
        val code = regions((((yll - Y0) * 4 / H) * 4 + (xll - X0) * 4 / W).toInt).code
        GridSpec(p, t, s, code, nc, nr, xll, yll, cs)
      }
    }
  }

  /** Writes the grid tree and the regions FeatureCollection under `root`
    * and returns them with a SHA-256 digest of every byte written.
    */
  def generate(workload: String, seed: Long, root: Path): Inputs = {
    val sh = shape(workload)
    val regs = regions(seed, sh.cs)
    val gs = grids(seed, sh, regs)
    val field = new Field(X0, Y0, W, H)
    val md = MessageDigest.getInstance("SHA-256")
    val gridDir = root.resolve("grids")
    gs.foreach { g =>
      val text = gridText(g, field.values(g), field.Nodata)
      val rel = s"${g.dir}/${g.fileName}"
      val f = gridDir.resolve(rel)
      Files.createDirectories(f.getParent)
      val bytes = text.getBytes(StandardCharsets.US_ASCII)
      Files.write(f, bytes)
      md.update(rel.getBytes(StandardCharsets.UTF_8)); md.update(bytes)
    }
    val regionsPath = root.resolve("regions.geojson")
    val doc = featureCollection(regs).getBytes(StandardCharsets.UTF_8)
    Files.write(regionsPath, doc)
    md.update(doc)
    Inputs(gridDir, regionsPath, gs, regs, field,
      md.digest().map("%02x".format(_)).mkString)
  }

  def gridText(g: GridSpec, values: Array[Double], nodata: Double): String = {
    val sb = new java.lang.StringBuilder(g.ncols * g.nrows * 6 + 128)
    sb.append("ncols ").append(g.ncols).append('\n')
      .append("nrows ").append(g.nrows).append('\n')
      .append("xllcorner ").append(g.xll).append('\n')
      .append("yllcorner ").append(g.yll).append('\n')
      .append("cellsize ").append(g.cs).append('\n')
      .append("NODATA_value -9999\n")
    var i = 0
    while (i < values.length) {
      val v = values(i)
      if (v == nodata) sb.append("-9999")
      else {
        val t = math.round(v * 10)
        if (t < 0) sb.append('-')
        sb.append(math.abs(t) / 10).append('.').append(math.abs(t) % 10)
      }
      sb.append(if ((i + 1) % g.ncols == 0) '\n' else ' ')
      i += 1
    }
    sb.toString
  }

  /** The feature-service response shape `GeoJsonSource` reads, plus a
    * Chatham Islands feature that the pipeline must leave out.
    */
  def featureCollection(regs: Seq[Region]): String = {
    def feature(code: String, title: String, xs: Array[Long], ys: Array[Long]): String = {
      val ring = xs.indices.map(k => s"[${xs(k)},${ys(k)}]").mkString(",")
      s"""{"type":"Feature","properties":{"REGC_code":"$code","REGC_name_ascii":"$title"},""" +
        s""""geometry":{"type":"Polygon","coordinates":[[$ring]]}}"""
    }
    val chatham = feature("99", "Area Outside Region",
      Array(2400000L, 2500000L, 2500000L, 2400000L, 2400000L),
      Array(5100000L, 5100000L, 5200000L, 5200000L, 5100000L))
    (regs.map(r => feature(r.code, r.title, r.xs, r.ys)) :+ chatham)
      .mkString("""{"type":"FeatureCollection","features":[""", ",\n", "]}\n")
  }
}
