package perfbench

/** Checks of the granule generator and the reference helpers. Run by
  * perfbench/run.py after every build; a failure fails the build.
  *
  * Usage: perfbench.GeneratorTest
  */
object GeneratorTest {
  private var failures = 0

  private def check(what: String)(ok: => Boolean): Unit =
    if (!ok) { failures += 1; System.err.println(s"[generator-test] FAIL: $what") }

  def main(args: Array[String]): Unit = {
    val shape = SwathShape(nAlong = 120, nCross = 9, granulesPerCycle = 3, segment = 1.0)
    def same(a: Granule, b: Granule) =
      a.id == b.id && a.lon.sameElements(b.lon) && a.lat.sameElements(b.lat) &&
        a.timeUs.sameElements(b.timeUs) && a.value.sameElements(b.value) &&
        a.cross.sameElements(b.cross) && a.along.sameElements(b.along)

    for (seed <- Seq(0L, 1L, 42L); c <- Seq(0, 1, 13); g <- 0 until shape.granulesPerCycle) {
      val a = OrbitSwath.granule(seed, c, g, shape)
      val b = OrbitSwath.granule(seed, c, g, shape)
      check(s"seed $seed cycle $c granule $g: same inputs give identical rows")(same(a, b))
      check(s"seed $seed cycle $c granule $g: row count")(a.size == shape.rowsPerGranule)
      check(s"seed $seed cycle $c granule $g: time is monotone along track")(
        a.timeUs.indices.drop(1).forall { i =>
          if (a.along(i) == a.along(i - 1)) a.timeUs(i) == a.timeUs(i - 1)
          else a.timeUs(i) > a.timeUs(i - 1)
        })
      check(s"seed $seed cycle $c granule $g: time inside its month")(
        a.timeUs.min >= OrbitSwath.monthStartUs(c) && a.timeUs.max < OrbitSwath.monthStartUs(c + 1))
      check(s"seed $seed cycle $c granule $g: lon in [-180, 180)")(
        a.lon.forall(x => x >= -180 && x < 180))
      check(s"seed $seed cycle $c granule $g: lat in [-90, 90]")(
        a.lat.forall(y => y >= -90 && y <= 90))
      check(s"seed $seed cycle $c granule $g: value in [0, 100)")(
        a.value.forall(v => v >= 0 && v < 100))
      check(s"seed $seed cycle $c granule $g: polar orbit reaches high latitudes")(
        a.lat.max > 80 && a.lat.min < -80)
      check(s"seed $seed cycle $c granule $g: along/cross ids cover the swath")(
        a.along.toSet == (0 until shape.nAlong).toSet && a.cross.toSet == (0 until shape.nCross).toSet)
      check(s"seed $seed cycle $c granule $g: gpm_id is granule-along")(
        a.rows.get(5).getString(7) == s"${a.id}-${a.along(5)}")
    }
    val quarter = SwathShape(nAlong = 50, nCross = 5, granulesPerCycle = 7, segment = 0.25)
    val qs = (0 until 7).map(g => OrbitSwath.granule(3, 2, g, quarter))
    check("orbit segments stay inside their month and in range")(qs.forall(q =>
      q.timeUs.min >= OrbitSwath.monthStartUs(2) && q.timeUs.max < OrbitSwath.monthStartUs(3) &&
        q.lat.forall(y => y >= -90 && y <= 90) && q.lon.forall(x => x >= -180 && x < 180)))
    check("a quarter orbit spans at most ~100° of latitude")(
      qs.forall(q => q.lat.max - q.lat.min < 100))
    check("a read bucket month has data in all 36 longitude bins")(
      (1L to 20L).forall { seed =>
        val month = OrbitSwath.cycle(seed, 0, Main.ArchiveShape)
        month.flatMap(_.lon.map(x => math.floor((x + 180) / 10).toInt)).toSet.size == 36
      })
    check("different seeds give different granules")(
      !same(OrbitSwath.granule(1, 0, 0, shape), OrbitSwath.granule(2, 0, 0, shape)))
    check("different cycles give different granules")(
      !OrbitSwath.granule(1, 0, 0, shape).lon.sameElements(OrbitSwath.granule(1, 1, 0, shape).lon))
    check("granule ids are unique across cycles")(
      (0 until 20).flatMap(c => (0 until 3).map(g => OrbitSwath.granuleId(c, g))).distinct.size == 60)

    // reference helpers
    val sq = Reference.Poly(Array(0.0, 10, 10, 0), Array(0.0, 0, 10, 10))
    check("winding: inside")(Reference.winding(sq.xs, sq.ys, 5, 5) != 0)
    check("winding: outside")(Reference.winding(sq.xs, sq.ys, 15, 5) == 0)
    check("edge band is undecided")(Reference.classify(sq, 10, 5) == -1)
    check("haversine: one degree of the equator")(
      math.abs(Reference.haversineM(0, 0, 1, 0) - 111195.08) < 1)
    check("cell of 10° grid, right-closed")(
      Reference.cellOf(-180, -90, 10) == (0, 0) && Reference.cellOf(-170, -80, 10) == (0, 0) &&
        Reference.cellOf(-169.9, 90, 10) == (1, 17))
    check("tail needs ten samples beyond it")(
      Stats.tail((1 to 100).map(_.toDouble)) == ((90, 90.0)) &&
        Stats.tail((1 to 5).map(_.toDouble)) == ((100, 5.0)))
    check("interval union")(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)

    if (failures > 0) {
      System.err.println(s"[generator-test] $failures check(s) failed")
      System.exit(1)
    }
    println("[generator-test] all checks passed")
  }
}
