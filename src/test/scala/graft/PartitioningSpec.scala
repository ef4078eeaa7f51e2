package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.partitioning._

/** Golden-value contracts from the reference's own tests
  * (satbucket/tests/test_partitioning.py) — these literals define on-disk
  * compatibility (labels = directory names).
  */
class PartitioningSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def binIdx(values: Seq[java.lang.Double], vmin: Double, vmax: Double,
                     size: Double, n: Int): Seq[Option[Int]] = {
    val df = values.toDF("v")
      .withColumn("idx", Binning.binIndex(col("v"),
        Binning.bounds(vmin, vmax, size), vmin, vmax, size))
    df.select("idx").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
  }

  test("digitize semantics: bounds [0,2,4] (test_partitioning.py:74-132)") {
    // 0→0 (include_lowest), 0.5→0, 2.0→0 (right-closed), 2.5→1, 4.0→1,
    // -1/5/NaN/null → null
    val got = binIdx(
      Seq[java.lang.Double](0.0, 0.5, 2.0, 2.5, 4.0, -1.0, 5.0, Double.NaN, null),
      vmin = 0, vmax = 4, size = 2, n = 2)
    assert(got == Seq(Some(0), Some(0), Some(0), Some(1), Some(1),
      None, None, None, None))
  }

  test("bounds/centroids: arange + forced final edge, short last bin") {
    val b = Binning.bounds(0, 10, 3)
    assert(b.toSeq == Seq(0.0, 3.0, 6.0, 9.0, 10.0))
    assert(Binning.centroids(b).toSeq == Seq(1.5, 4.5, 7.5, 9.5))
    // divisible case: arange excludes the stop, then vmax is appended
    assert(Binning.bounds(0, 10, 1).length == 11)
  }

  test("short last bin index + centroid") {
    val got = binIdx(Seq[java.lang.Double](9.0, 9.5, 10.0), 0, 10, 3, 4)
    assert(got == Seq(Some(2), Some(3), Some(3)))
    val b = Binning.bounds(0, 10, 3)
    val df = Seq(9.5).toDF("v").withColumn("c",
      Binning.centroidOfIndex(Binning.binIndex(col("v"), b, 0, 10, 3),
        Binning.centroids(b)))
    assert(df.select("c").as[Double].head() == 9.5)
  }

  test("XYPartitioning shape and labels (test_partitioning.py:138-153)") {
    val p = XYPartitioning(size = (1, 2), extent = Extent(0, 10, 0, 10))
    assert(p.shape == (5, 10))
    assert(p.xLabels.toSeq == (0 until 10).map(i => s"$i.5"))
    assert(p.yLabels.toSeq == Seq("1.0", "3.0", "5.0", "7.0", "9.0"))
    assert(p.levels == Seq("xbin", "ybin"))
  }

  test("cell vertices by indices + WKT export (partitioning.py:545-570)") {
    val p = XYPartitioning(size = (1, 2), extent = Extent(0, 10, 0, 10))
    // reference ccw order: top_left, bottom_left, bottom_right, top_right
    val v = p.queryVerticesByIndices(Seq(0, 2), Seq(0, 1))
    assert(v.length == 2)
    assert(v(0).map(_.toSeq).toSeq ==
      Seq(Seq(0.0, 2.0), Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(1.0, 2.0)))
    assert(v(1).map(_.toSeq).toSeq ==
      Seq(Seq(2.0, 4.0), Seq(2.0, 2.0), Seq(3.0, 2.0), Seq(3.0, 4.0)))
    val cw = p.queryVerticesByIndices(Seq(0), Seq(0), ccw = false)
    assert(cw(0).map(_.toSeq).toSeq ==
      Seq(Seq(0.0, 2.0), Seq(1.0, 2.0), Seq(1.0, 0.0), Seq(0.0, 0.0)))
    intercept[IllegalArgumentException](p.queryVerticesByIndices(Seq(99), Seq(0)))

    // WKT: one closed ccw polygon per cell, row-major from the SW cell
    val wkt = p.toWkt()
    assert(wkt.length == 50)
    assert(wkt(0) == "POLYGON ((0.0 0.0, 1.0 0.0, 1.0 2.0, 0.0 2.0, 0.0 0.0))")
  }

  test("XY labels on data incl. invalid rows (test_partitioning.py:225-260)") {
    val p = XYPartitioning(size = (0.5, 0.25), extent = Extent(0, 2, 0, 2))
    val vals = Seq[java.lang.Double](-0.001, -0.0, 0.0, 0.5, 1.0, 1.5, 2.0, 2.1,
      Double.NaN)
    val df = vals.zip(vals).toDF("x", "y")
    val labeled = p.addLabels(df, "x", "y")
    val xs = labeled.select("xbin").as[String].collect().toSeq
    val ys = labeled.select("ybin").as[String].collect().toSeq
    assert(xs == Seq("0.25", "0.25", "0.25", "0.75", "1.25", "1.75"))
    assert(ys == Seq("0.125", "0.125", "0.375", "0.875", "1.375", "1.875"))
    // strict mode rejects
    intercept[IllegalArgumentException] {
      p.addLabels(df, "x", "y", removeInvalidRows = false)
    }
  }

  test("XY centroids columns match label values as floats") {
    val p = XYPartitioning(size = (0.5, 0.25), extent = Extent(0, 2, 0, 2))
    val df = Seq((0.6, 0.6)).toDF("x", "y")
    val c = p.addCentroids(df, "x", "y")
    val row = c.select("x_c", "y_c").as[(Double, Double)].head()
    assert(row == ((0.75, 0.625)))
  }

  test("LonLat partitioning: GMI-style labels and hive dirs") {
    val p = LonLatPartitioning(size = (10, 10))
    assert(p.levels == Seq("lon_bin", "lat_bin"))
    assert(p.flavor.contains("hive"))
    val df = Seq((5.0, 5.0)).toDF("lon", "lat")
    val lab = p.addLabels(df, "lon", "lat")
      .select("lon_bin", "lat_bin").as[(String, String)].head()
    assert(lab == (("5.0", "5.0")))
    // labels_decimals=0 → integer-string labels (GMI production config)
    val p0 = LonLatPartitioning(size = (4, 4), labelsDecimals = Some((0, 0)))
    val lab0 = p0.addLabels(df, "lon", "lat")
      .select("lon_bin", "lat_bin").as[(String, String)].head()
    // lon bins start at -180 (5 ∈ (4,8] → 6); lat bins start at -90
    // (5 ∈ (2,6] → 4)
    assert(lab0 == (("6", "4")))
  }

  test("Tile xy labels origin bottom/top (test_partitioning.py:1105-1189)") {
    val ext = Extent(-180, 180, -90, 90)
    val bottom = TilePartitioning(size = (120, 90), extent = ext, nLevels = 2)
    assert(bottom.nPartitions == 6 && bottom.shape == ((2, 3)))
    assert(bottom.levels == Seq("x", "y"))
    def labels(p: TilePartitioning, lon: Double, lat: Double): Seq[String] = {
      val df = Seq((lon, lat)).toDF("lon", "lat")
      val cols = p.labelCols(col("lon"), col("lat"))
      df.select(cols.map { case (n, c) => c.as(n) }: _*)
        .collect().head.toSeq.map(_.asInstanceOf[String])
    }
    assert(labels(bottom, -150, 90) == Seq("0", "0"))
    assert(labels(bottom, 150, 90) == Seq("2", "0"))
    assert(labels(bottom, 150, -90) == Seq("2", "1"))
    val top = TilePartitioning(size = (120, 90), extent = ext, nLevels = 2,
      origin = "top")
    assert(labels(top, -150, 90) == Seq("0", "1"))
    assert(labels(top, 150, -90) == Seq("2", "0"))
  }

  test("Tile 1-level ids, C and F order (test_partitioning.py:1192-1255)") {
    val ext = Extent(-180, 180, -90, 90)
    // labels grid expected (origin=bottom, direction=x):
    // [["3","4","5"],["0","1","2"]] over (row j=1 is bottom)
    val px = TilePartitioning(size = (120, 90), extent = ext, nLevels = 1)
    assert(px.levels == Seq("tile"))
    val gridX = for (j <- 0 until 2) yield
      (0 until 3).map(i => px.labelsOfIndices(i, j).head)
    // j=0 is top row in reference labels array (meshgrid row 0 = y index 0)
    assert(gridX(0) == Seq("3", "4", "5") || gridX(1) == Seq("3", "4", "5"))
    // exact contract: y index 0 + origin bottom → flipped row 1 → ids 3,4,5
    assert(gridX(0) == Seq("3", "4", "5"))
    assert(gridX(1) == Seq("0", "1", "2"))
    val py = TilePartitioning(size = (120, 90), extent = ext, nLevels = 1,
      direction = "y")
    val gridY = for (j <- 0 until 2) yield
      (0 until 3).map(i => py.labelsOfIndices(i, j).head)
    assert(gridY(0) == Seq("1", "3", "5"))
    assert(gridY(1) == Seq("0", "2", "4"))
  }

  test("Tile justify (test_partitioning.py:1257-1296)") {
    val ext = Extent(-180, 180, -90, 90)
    val p2 = TilePartitioning(size = (10, 10), extent = ext, nLevels = 2,
      justify = true)
    assert(p2.nX == 36)
    val df = Seq((-180.0, 90.0)).toDF("lon", "lat")
    val cols = p2.labelCols(col("lon"), col("lat"))
    val r = df.select(cols.map { case (n, c) => c.as(n) }: _*).collect().head
    assert(r.getString(0) == "00" && r.getString(1) == "00")
    val p1 = TilePartitioning(size = (10, 10), extent = ext, nLevels = 1,
      justify = true)
    assert(p1.nPartitions == 648)
    val cols1 = p1.labelCols(col("lon"), col("lat"))
    val r1 = df.select(cols1.map { case (n, c) => c.as(n) }: _*).collect().head
    assert(r1.getString(0) == "000")
  }

  test("partitionsByExtent pruning labels (B12)") {
    val p = LonLatPartitioning(size = (10, 10))
    val dict = p.partitionsByExtent(Extent(3, 17, -5, 5))
    assert(dict("lon_bin") == Seq("5.0", "15.0"))
    assert(dict("lat_bin") == Seq("-5.0", "5.0"))
    // directories, hive flavor
    val dirs = p.directoriesByExtent(Extent(3, 7, 3, 7))
    assert(dirs == Seq("lon_bin=5.0/lat_bin=5.0"))
  }

  test("partitionsAroundPoint: a sizeDeg box across ±180° keeps both sides") {
    val p = LonLatPartitioning(size = (10, 10))
    // the 6° box around (179, 10) spans lon 176..180 and -180..-178
    val dict = p.partitionsAroundPoint(179.0, 10.0, sizeDeg = 6.0)
    assert(dict("lon_bin").toSet == Set("175.0", "-175.0"))
    assert(dict("lat_bin").toSet == Set("5.0", "15.0"))
    assert(p.partitionsAroundPoint(5.0, 10.0, sizeDeg = 6.0)("lon_bin") == Seq("5.0"))
    // the single covering extent widens a split box to every longitude
    assert(GeoExtent.aroundPoint(179.0, 10.0, sizeDeg = 6.0) == Extent(-180, 180, 7, 13))
    assert(GeoExtent.aroundPoint(5.0, 10.0, sizeDeg = 6.0) == Extent(2, 8, 7, 13))
  }

  test("boxesAroundPoint: a radius box across ±180° splits in two, kept cells near ±180°") {
    val p = LonLatPartitioning(size = (10, 10))
    val boxes = GeoExtent.boxesAroundPoint(179.0, 10.0, distance = 500e3)
    assert(boxes.size == 2, boxes)
    assert(boxes.exists(_.xmax == 180.0) && boxes.exists(_.xmin == -180.0))
    val lons = boxes.flatMap(p.cellsByExtent).map { case (i, _) => p.xCentroids(i) }.toSet
    assert(lons == Set(175.0, -175.0), lons)
    // a polar cap still spans every longitude
    assert(GeoExtent.boxesAroundPoint(0.0, 85.0, distance = 1000e3)
      .map(b => (b.xmin, b.xmax)) == Seq((-180.0, 180.0)))
  }

  test("manifest to_dict round trip") {
    val p = LonLatPartitioning(size = (4, 4), labelsDecimals = Some((0, 0)))
    val d = p.toDict
    val p2 = Partitioning2D.fromDict(d)
    assert(p2.toDict == d)
    val t = TilePartitioning(size = (120, 90), extent = Extent(-180, 180, -90, 90),
      nLevels = 1, origin = "top", direction = "y", justify = true)
    assert(Partitioning2D.fromDict(t.toDict).toDict == t.toDict)
  }
}
