package perfbench

import java.time.{LocalDate, ZoneOffset}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Deterministic synthetic polar-orbit granules.
  *
  * A granule is a `segment` fraction of one orbit of a circular
  * sun-synchronous-like orbit (inclination 98°, period 90 min), starting
  * at a seeded orbit phase: `nAlong` scans, each with `nCross` footprints
  * spread across a `SwathKm`-wide swath perpendicular to the orbit plane. Footprint positions come from rotating the inertial
  * sub-satellite vector toward the orbit normal, then turning the Earth
  * under it; everything uses `StrictMath`, so a row is a pure function of
  * (seed, cycle, granule index) on every JVM.
  *
  * Rows follow the reference fixture shape: lon, lat, time, value,
  * gpm_granule_id, gpm_cross_track_id, gpm_along_track_id, gpm_id.
  * Cycle `c` is calendar month `c` after January 2020; the granules of a
  * cycle are spread evenly across that month.
  */
final case class SwathShape(nAlong: Int, nCross: Int, granulesPerCycle: Int,
                            segment: Double) {
  def rowsPerGranule: Int = nAlong * nCross
}

/** One granule's rows, column-major: the reference checks scan these
  * arrays directly, and `rows` turns them into Spark rows. */
final class Granule(val id: Int, val lon: Array[Double], val lat: Array[Double],
                    val timeUs: Array[Long], val value: Array[Double],
                    val cross: Array[Int], val along: Array[Int]) {
  def size: Int = lon.length

  def rows: java.util.List[Row] = {
    val out = new java.util.ArrayList[Row](size)
    var i = 0
    while (i < size) {
      out.add(Row(lon(i), lat(i), OrbitSwath.timestamp(timeUs(i)), value(i),
        id, cross(i), along(i), s"$id-${along(i)}"))
      i += 1
    }
    out
  }
}

object OrbitSwath {
  val schema: StructType = StructType(Seq(
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("time", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("gpm_granule_id", IntegerType, nullable = false),
    StructField("gpm_cross_track_id", IntegerType, nullable = false),
    StructField("gpm_along_track_id", IntegerType, nullable = false),
    StructField("gpm_id", StringType, nullable = false)))

  val InclinationDeg = 98.0
  val PeriodS = 5400L
  val SwathKm = 900.0
  val EarthRadiusKm = 6371.0088
  private val EarthRotRadPerS = 2 * StrictMath.PI / 86164.0905
  /** Unique across cycles while granulesPerCycle < 1000. */
  def granuleId(cycle: Int, g: Int): Int = cycle * 1000 + g

  def monthStartUs(cycle: Int): Long =
    LocalDate.of(2020, 1, 1).plusMonths(cycle.toLong)
      .atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000000L

  def timestamp(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** splitmix64 finaliser: the only source of randomness. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  def key(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))

  def granule(seed: Long, cycle: Int, g: Int, shape: SwathShape): Granule = {
    require(g >= 0 && g < shape.granulesPerCycle && shape.granulesPerCycle < 1000,
      s"granule index $g out of range for ${shape.granulesPerCycle} per cycle")
    val n = shape.rowsPerGranule
    val lon = new Array[Double](n); val lat = new Array[Double](n)
    val timeUs = new Array[Long](n); val value = new Array[Double](n)
    val cross = new Array[Int](n); val along = new Array[Int](n)
    val id = granuleId(cycle, g)
    val gKey = key(seed, cycle.toLong, g.toLong)
    // regular geometry, as a real sun-synchronous orbit has: the cycle's
    // granules take evenly spaced ascending nodes (right ascension) and
    // evenly spaced orbit phases, both shifted by a seeded offset, so the
    // cells a cycle touches vary little between seeds
    val cKey = key(seed, cycle.toLong)
    def frac(x: Double) = x - StrictMath.floor(x)
    val raan = 2 * StrictMath.PI * frac(unit(cKey) + g.toDouble / shape.granulesPerCycle)
    val u0 = 2 * StrictMath.PI * frac(unit(mix(cKey)) + g * shape.segment)
    val inc = StrictMath.toRadians(InclinationDeg)
    val (sinO, cosO) = (StrictMath.sin(raan), StrictMath.cos(raan))
    val (sinI, cosI) = (StrictMath.sin(inc), StrictMath.cos(inc))
    // orbit normal (cross-track direction)
    val hx = sinO * sinI; val hy = -cosO * sinI; val hz = cosI
    // granules evenly spaced through the month, each ending inside it
    val m0 = monthStartUs(cycle)
    val monthUs = monthStartUs(cycle + 1) - m0
    val spanUs = (PeriodS * 1000000L * shape.segment).toLong
    val spacing = (monthUs - spanUs) / shape.granulesPerCycle
    val start = m0 + g * spacing
    val stepUs = spanUs / shape.nAlong
    val halfSwath = SwathKm / 2 / EarthRadiusKm
    var a = 0; var i = 0
    while (a < shape.nAlong) {
      val tUs = a * stepUs
      val u = u0 + 2 * StrictMath.PI * shape.segment * a / shape.nAlong
      val (sinU, cosU) = (StrictMath.sin(u), StrictMath.cos(u))
      val px = cosO * cosU - sinO * sinU * cosI
      val py = sinO * cosU + cosO * sinU * cosI
      val pz = sinU * sinI
      // Earth rotation since the granule start (plus a per-granule phase
      // folded into the RAAN draw above)
      val rot = -EarthRotRadPerS * (tUs / 1e6)
      val (sinR, cosR) = (StrictMath.sin(rot), StrictMath.cos(rot))
      var c = 0
      while (c < shape.nCross) {
        val d = if (shape.nCross == 1) 0.0
                else (2.0 * c / (shape.nCross - 1) - 1.0) * halfSwath
        val (sd, cd) = (StrictMath.sin(d), StrictMath.cos(d))
        val fx = px * cd + hx * sd
        val fy = py * cd + hy * sd
        val fz = pz * cd + hz * sd
        val ex = fx * cosR - fy * sinR
        val ey = fx * sinR + fy * cosR
        lat(i) = StrictMath.toDegrees(StrictMath.asin(math.max(-1.0, math.min(1.0, fz))))
        val l = StrictMath.toDegrees(StrictMath.atan2(ey, ex))
        lon(i) = if (l >= 180.0) l - 360.0 else l
        timeUs(i) = start + tUs
        value(i) = 100.0 * unit(mix(gKey ^ (a.toLong << 20) ^ c.toLong))
        cross(i) = c
        along(i) = a
        c += 1; i += 1
      }
      a += 1
    }
    new Granule(id, lon, lat, timeUs, value, cross, along)
  }

  def cycle(seed: Long, c: Int, shape: SwathShape): IndexedSeq[Granule] =
    (0 until shape.granulesPerCycle).map(g => granule(seed, c, g, shape))
}
