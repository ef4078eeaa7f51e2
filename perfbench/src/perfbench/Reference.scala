package perfbench

/** Plain-Scala answers computed straight from the generated granules — no
  * Spark, no engine code — that every timed op's output is checked
  * against. Where the engine and the reference use different geometry
  * (ellipsoidal vs spherical distance, even-odd vs winding containment)
  * rows inside a thin band around the boundary may go either way, so
  * those checks bound the answer between `lo` and `hi`.
  */
object Reference {

  sealed trait Shape
  final case class Box(xmin: Double, xmax: Double, ymin: Double, ymax: Double) extends Shape
  final case class Radius(lon: Double, lat: Double, meters: Double) extends Shape
  final case class Poly(xs: Array[Double], ys: Array[Double]) extends Shape

  /** time >= fromUs and time < toUs and value > valueAbove. */
  final case class RowFilter(fromUs: Long = Long.MinValue, toUs: Long = Long.MaxValue,
                             valueAbove: Double = Double.NegativeInfinity,
                             granule: Int = -1) {
    def keeps(g: Granule, i: Int): Boolean =
      g.timeUs(i) >= fromUs && g.timeUs(i) < toUs && g.value(i) > valueAbove &&
        (granule < 0 || g.id == granule)
  }

  val SphereRadiusM = 6371008.8
  /** Sphere vs WGS84 distances differ by < 0.6 %. */
  val RadiusBand = 0.007
  /** Degrees: points this close to a polygon edge are undecided. */
  val EdgeBand = 1e-9

  def haversineM(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dp = p2 - p1; val dl = math.toRadians(lon2 - lon1)
    val h = math.pow(math.sin(dp / 2), 2) +
      math.cos(p1) * math.cos(p2) * math.pow(math.sin(dl / 2), 2)
    2 * SphereRadiusM * math.asin(math.min(1.0, math.sqrt(h)))
  }

  /** Winding number of a simple polygon around (x, y); non-zero = inside. */
  def winding(xs: Array[Double], ys: Array[Double], x: Double, y: Double): Int = {
    var w = 0
    var i = 0
    while (i < xs.length) {
      val j = (i + 1) % xs.length
      val cross = (xs(j) - xs(i)) * (y - ys(i)) - (x - xs(i)) * (ys(j) - ys(i))
      if (ys(i) <= y) { if (ys(j) > y && cross > 0) w += 1 }
      else if (ys(j) <= y && cross < 0) w -= 1
      i += 1
    }
    w
  }

  def nearEdge(xs: Array[Double], ys: Array[Double], x: Double, y: Double): Boolean =
    xs.indices.exists { i =>
      val j = (i + 1) % xs.length
      val (dx, dy) = (xs(j) - xs(i), ys(j) - ys(i))
      val t = math.max(0.0, math.min(1.0,
        ((x - xs(i)) * dx + (y - ys(i)) * dy) / (dx * dx + dy * dy)))
      math.hypot(x - xs(i) - t * dx, y - ys(i) - t * dy) < EdgeBand
    }

  /** 1 = surely selected, 0 = surely not, -1 = inside the boundary band. */
  def classify(shape: Shape, lon: Double, lat: Double): Int = shape match {
    case Box(x0, x1, y0, y1) =>
      if (lon >= x0 && lon <= x1 && lat >= y0 && lat <= y1) 1 else 0
    case Radius(clon, clat, m) =>
      val d = haversineM(clon, clat, lon, lat)
      if (d <= m * (1 - RadiusBand)) 1 else if (d > m * (1 + RadiusBand)) 0 else -1
    case Poly(xs, ys) =>
      if (nearEdge(xs, ys, lon, lat)) -1 else if (winding(xs, ys, lon, lat) != 0) 1 else 0
  }

  /** (lo, hi) bounds on the number of rows a read returns. */
  def countBounds(archive: Seq[Granule], shape: Shape, f: RowFilter): (Long, Long) = {
    var lo = 0L; var band = 0L
    archive.foreach { g =>
      var i = 0
      while (i < g.size) {
        if (f.keeps(g, i)) classify(shape, g.lon(i), g.lat(i)) match {
          case 1 => lo += 1
          case -1 => band += 1
          case _ => ()
        }
        i += 1
      }
    }
    (lo, lo + band)
  }

  /** Right-closed 10°-style cell index, first bin closed (the bucket's
    * binning convention), for a whole-Earth grid of `sizeDeg` cells. */
  def cellOf(lon: Double, lat: Double, sizeDeg: Double): (Int, Int) = {
    def idx(v: Double, vmin: Double, n: Int) =
      math.min(math.max(math.ceil((v - vmin) / sizeDeg).toInt - 1, 0), n - 1)
    (idx(lon, -180, math.round(360 / sizeDeg).toInt),
      idx(lat, -90, math.round(180 / sizeDeg).toInt))
  }

  private def foreachIn(archive: Seq[Granule], box: Box, f: RowFilter)(
      body: (Granule, Int) => Unit): Unit =
    archive.foreach { g =>
      var i = 0
      while (i < g.size) {
        if (f.keeps(g, i) && classify(box, g.lon(i), g.lat(i)) == 1) body(g, i)
        i += 1
      }
    }

  /** Per cell: sessions of distinct timestamps split where the gap exceeds
    * `gapUs`, as (start, end) in microseconds, sorted. */
  def overpassSessions(archive: Seq[Granule], box: Box, f: RowFilter, gapUs: Long,
                       sizeDeg: Double): Map[(Int, Int), Vector[(Long, Long)]] = {
    val times = scala.collection.mutable.HashMap.empty[(Int, Int), scala.collection.mutable.Set[Long]]
    foreachIn(archive, box, f) { (g, i) =>
      times.getOrElseUpdate(cellOf(g.lon(i), g.lat(i), sizeDeg),
        scala.collection.mutable.HashSet.empty[Long]) += g.timeUs(i)
    }
    times.map { case (cell, ts) =>
      val sorted = ts.toArray.sorted
      val out = Vector.newBuilder[(Long, Long)]
      var start = sorted(0)
      var i = 1
      while (i < sorted.length) {
        if (sorted(i) - sorted(i - 1) > gapUs) { out += ((start, sorted(i - 1))); start = sorted(i) }
        i += 1
      }
      out += ((start, sorted.last))
      cell -> out.result()
    }.toMap
  }

  /** The dense swath grid of one granule inside a box: (grid rows, rows
    * that carry a footprint). */
  def swathGrid(archive: Seq[Granule], box: Box, f: RowFilter): (Long, Long) = {
    var (a0, a1, c0, c1, n) = (Int.MaxValue, Int.MinValue, Int.MaxValue, Int.MinValue, 0L)
    foreachIn(archive, box, f) { (g, i) =>
      a0 = math.min(a0, g.along(i)); a1 = math.max(a1, g.along(i))
      c0 = math.min(c0, g.cross(i)); c1 = math.max(c1, g.cross(i))
      n += 1
    }
    if (n == 0) (0L, 0L) else ((a1 - a0 + 1).toLong * (c1 - c0 + 1), n)
  }

  /** Per cell: (row count, value sum) for the data-cube mean. */
  def cellSums(archive: Seq[Granule], box: Box, f: RowFilter,
               sizeDeg: Double): Map[(Int, Int), (Long, Double)] = {
    val acc = scala.collection.mutable.HashMap.empty[(Int, Int), (Long, Double)]
    foreachIn(archive, box, f) { (g, i) =>
      val c = cellOf(g.lon(i), g.lat(i), sizeDeg)
      val (n, s) = acc.getOrElse(c, (0L, 0.0))
      acc(c) = (n + 1, s + g.value(i))
    }
    acc.toMap
  }
}
