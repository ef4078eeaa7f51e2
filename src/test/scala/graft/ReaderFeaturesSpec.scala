package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.geo.NamedExtents
import graft.partitioning.{Extent, LonLatPartitioning, XYPartitioning}
import graft.sources.{BucketReader, BucketWriter}
import graft.sources.BucketReader._

class ReaderFeaturesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(n: String) = {
    val p = Files.createTempDirectory(s"graft_rf_$n"); p.toFile.deleteOnExit(); p.toString
  }

  test("directory-flavor bucket: bare label dirs, labels from paths, pruned reads") {
    val dir = tmp("dirflavor")
    val p = LonLatPartitioning(size = (10, 10), flavor = Some("directory"))
    val df = OrbitFixture.standard(spark)
    BucketWriter.writeBucket(df, dir, p, mode = "overwrite")

    // layout: bare labels, no `lon_bin=` prefix (test_routines.py:105-150)
    val top = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(top.nonEmpty && top.forall(!_.contains("=")), top.toSeq)

    val back = BucketReader.read(spark, dir)
    assert(back.count() == 150)
    assert(back.columns.contains("lon_bin") && back.columns.contains("lat_bin"))
    // labels identical to the hive flavor's values
    val labels = back.select("lon_bin").distinct().as[String].collect().toSet
    assert(labels.forall(_.matches("-?\\d+\\.\\d+")))

    // pruned read returns exactly the in-extent rows
    val ext = Extent(-1, 3, -1, 5)
    val sub = BucketReader.read(spark, dir, BucketReader.ByExtent(ext))
    val expected = df.where($"lon".between(ext.xmin, ext.xmax) &&
      $"lat".between(ext.ymin, ext.ymax)).count()
    assert(sub.count() == expected && expected > 0)
  }

  test("filepathsByPartition groups data files by partition path (io.py:110-126)") {
    val dir = tmp("bypart")
    BucketWriter.writeBucket(OrbitFixture.standard(spark), dir,
      LonLatPartitioning(size = (10, 10)), mode = "overwrite")
    val byPart = BucketReader.filepathsByPartition(dir, fileExtension = ".parquet")
    assert(byPart.nonEmpty)
    // keys are the 2-level relative partition paths
    assert(byPart.keys.forall(_.matches("lon_bin=[^/]+/lat_bin=[^/]+")), byPart.keys)
    // every file accounted for, each under its own key's directory
    val all = BucketReader.listFiles(dir, fileExtension = ".parquet")
    assert(byPart.values.flatten.toSet == all.toSet)
    byPart.foreach { case (k, files) =>
      assert(files.nonEmpty && files.forall(_.contains(s"/$k/")))
    }
  }

  test("filename filters: extension, glob, regex (P11)") {
    val dir = tmp("namefilters")
    val p = LonLatPartitioning(size = (10, 10))
    val reader = new BucketWriter.GranuleReader {
      def read(s: org.apache.spark.sql.SparkSession, path: String) =
        Some(OrbitFixture.granule(s, path.stripSuffix(".HDF5").takeRight(1).toInt))
    }
    BucketWriter.writeGranulesBucket(spark,
      Seq("GRAN.V07A.1.HDF5", "GRAN.V07B.2.HDF5"), dir, p, reader, parallelism = 1)

    assert(BucketReader.read(spark, dir).count() == 100)
    val onlyB = BucketReader.read(spark, dir, globPattern = "*V07B*")
    assert(onlyB.count() == 50)
    val regexed = BucketReader.read(spark, dir, regexPattern = "GRAN\\.V07A.*")
    assert(regexed.count() == 50)
    val ext = BucketReader.read(spark, dir, fileExtension = ".parquet")
    assert(ext.count() == 100)
    intercept[IllegalArgumentException] {
      BucketReader.read(spark, dir, globPattern = "*NOPE*").count()
    }
  }

  test("country/continent queries resolve to extents and refine rows") {
    val dir = tmp("country")
    val p = LonLatPartitioning(size = (10, 10))
    // band crosses the Kenya box (34..42E, -5..5N)
    val df = OrbitFixture.granule(spark, 0, startLonLat = (30.0, -10.0),
      endLonLat = (45.0, 10.0))
    BucketWriter.writeBucket(df, dir, p, mode = "overwrite")
    val kenya = BucketReader.read(spark, dir, BucketReader.ByCountry("Kenya"))
    assert(kenya.count() > 0)
    val africa = BucketReader.read(spark, dir, BucketReader.ByContinent("Africa"))
    assert(africa.count() >= kenya.count())
    intercept[IllegalArgumentException] {
      BucketReader.read(spark, dir, BucketReader.ByCountry("Atlantis")).count()
    }
  }

  test("quadmesh corners / vertices / datasetGrid (B16/B18)") {
    val p = XYPartitioning(size = (1, 2), extent = Extent(0, 2, 0, 4))
    val (xc, yc) = p.quadmeshCorners()
    assert(xc.length == p.nY + 1 && xc.head.length == p.nX + 1)
    assert(yc.head.head == 0.0 && yc.last.head == 4.0)
    val (_, ycTop) = p.quadmeshCorners("top")
    assert(ycTop.head.head == 4.0)
    val v = p.vertices()
    assert(v.length == p.nPartitions && v.head.length == 4)
    assert(v.head.head.toSeq == Seq(0.0, 0.0))
    val grid = p.datasetGrid(spark)
    assert(grid.count() == p.nPartitions)
    assert(grid.columns.toSet == Set("x_c", "y_c", "data"))
  }

  // ---- the one pruned read path ----

  private val flavors = Seq("hive", "directory")

  // three granules of seeded points, lat within ±60° only, so reads near
  // the poles and the cells the points miss hit no directory
  private val granuleNames = Seq("GRAN.A.1.HDF5", "GRAN.B.2.HDF5", "GRAN.A.3.HDF5")
  private def granulePoints(name: String): Seq[(Int, String, Double, Double)] = {
    val g = granuleNames.indexOf(name)
    val rng = new scala.util.Random(17 + g)
    (0 until 150).map(k =>
      (g * 1000 + k, name, rng.nextDouble() * 360 - 180, rng.nextDouble() * 120 - 60))
  }
  private lazy val points = granuleNames.flatMap(granulePoints)

  private lazy val granuleBuckets: Map[String, String] = flavors.map { fl =>
    val dir = tmp(s"single_$fl")
    val reader = new BucketWriter.GranuleReader {
      def read(s: org.apache.spark.sql.SparkSession, path: String) =
        Some(granulePoints(path).toDF("id", "granule", "lon", "lat"))
    }
    val errs = BucketWriter.writeGranulesBucket(spark, granuleNames, dir,
      LonLatPartitioning(size = (20, 20), flavor = Some(fl)), reader, parallelism = 1)
    assert(errs.isEmpty, errs)
    fl -> dir
  }.toMap

  private def ids(df: DataFrame): Seq[Int] =
    df.select("id").as[Int].collect().toSeq.sorted

  private def inBox(e: Extent)(x: Double, y: Double) =
    x >= e.xmin && x <= e.xmax && y >= e.ymin && y <= e.ymax

  private val concave = Seq((-50.0, -35.0), (10.0, 5.0), (70.0, -35.0),
    (70.0, 45.0), (-50.0, 45.0))

  // a box inside one 20° cell that holds A points but no B point: the
  // cell's directory exists, yet no file in it matches the B filters
  private lazy val aOnlyBox: Extent = {
    def cellOf(x: Double, y: Double) =
      (math.floor((x + 180) / 20).toInt, math.floor((y + 90) / 20).toInt)
    def inner(c: (Int, Int)) =
      Extent(-180 + 20 * c._1 + 1, -180 + 20 * c._1 + 19, -90 + 20 * c._2 + 1, -90 + 20 * c._2 + 19)
    val bCells = points.collect { case (_, g, x, y) if g.contains(".B.") => cellOf(x, y) }.toSet
    points.collect { case (_, _, x, y) if !bCells(cellOf(x, y)) && inBox(inner(cellOf(x, y)))(x, y) =>
      inner(cellOf(x, y)) }.minBy(e => (e.xmin, e.ymin))
  }

  // (name, query, driver-side membership of a point)
  private val readCases: Seq[(String, SpatialQuery, (Double, Double) => Boolean)] = Seq(
    ("everything", Everything, (_, _) => true),
    ("box", ByExtent(Extent(-35, 48, -22, 37)), inBox(Extent(-35, 48, -22, 37))),
    ("box over empty cells", ByExtent(Extent(-40, 40, 72, 88)), (_, _) => false),
    ("box in a cell with no B file", ByExtent(aOnlyBox), inBox(aOnlyBox)),
    ("country", ByCountry("Brazil"), inBox(NamedExtents.country("Brazil"))),
    ("continent", ByContinent("Africa"), inBox(NamedExtents.continent("Africa"))),
    ("polygon", ByPolygon(concave), (x, y) =>
      graft.functions.Polygon.contains(concave.map(_._1).toArray, concave.map(_._2).toArray, x, y)),
    ("polygon over empty cells", ByPolygon(Seq((0.0, 72.0), (30.0, 72.0), (15.0, 85.0))),
      (_, _) => false),
    ("distance", AroundPoint(12.5, 41.9, distance = 1500e3), (x, y) =>
      graft.functions.Geodesic.inverse(x, y, 12.5, 41.9) <= 1500e3),
    ("distance across ±180°", AroundPoint(179.0, 10.0, distance = 1500e3), (x, y) =>
      graft.functions.Geodesic.inverse(x, y, 179.0, 10.0) <= 1500e3),
    ("sizeDeg", AroundPoint(-60.0, 20.0, sizeDeg = 30.0), inBox(Extent(-75, -45, 5, 35))),
    ("sizeDeg across ±180°", AroundPoint(-175.0, -10.0, sizeDeg = 30.0), (x, y) =>
      (x <= -160 || x >= 170) && y >= -25 && y <= 5),
    ("sizeDeg over empty cells", AroundPoint(100.0, 80.0, sizeDeg = 10.0), (_, _) => false))

  // (name, extension, glob, regex, granules kept)
  private val nameFilters: Seq[(String, String, String, String, Set[String])] = Seq(
    ("no filter", null, null, null, granuleNames.toSet),
    ("extension", ".parquet", null, null, granuleNames.toSet),
    ("glob", null, "*.B.*", null, Set("GRAN.B.2.HDF5")),
    ("regex", null, null, "GRAN\\.A\\.", Set("GRAN.A.1.HDF5", "GRAN.A.3.HDF5")))

  test("every query kind x flavor x filename filter equals a brute-force filter") {
    for {
      fl <- flavors
      (qn, q, member) <- readCases
      (fn, ext, glob, regex, kept) <- nameFilters
    } {
      val expected = points.collect {
        case (id, g, x, y) if kept(g) && member(x, y) => id
      }.sorted
      val got = ids(BucketReader.read(spark, granuleBuckets(fl), q,
        fileExtension = ext, globPattern = glob, regexPattern = regex))
      assert(got == expected, s"$fl / $qn / $fn: missing ${expected.diff(got)}, " +
        s"extra ${got.diff(expected)}")
    }
    // the seeded data must leave the non-empty cases something to return
    assert(readCases.filterNot(_._1.contains("empty")).forall { case (_, _, m) =>
      points.exists { case (_, _, x, y) => m(x, y) } })
  }

  private def rootPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation =>
      r.location.rootPaths.map(_.toUri.getPath.stripSuffix("/"))
    }.flatten.toSet

  test("plan: a hive box read lists exactly the existing kept cells, Everything the root") {
    val dir = granuleBuckets("hive")
    val p = LonLatPartitioning(size = (20, 20))
    // the lat 70..90 row of cells holds no point
    val ext = Extent(-35, 48, 30, 80)
    val kept = p.directoriesByExtent(ext).map(rel => s"$dir/$rel")
      .filter(d => new java.io.File(d).isDirectory).toSet
    assert(kept.nonEmpty && kept.size < p.directoriesByExtent(ext).size)
    assert(rootPaths(BucketReader.read(spark, dir, ByExtent(ext))) == kept)
    assert(rootPaths(BucketReader.read(spark, dir)) == Set(dir))
  }

  test("a read with no kept cell is empty with the bucket's columns, both flavors") {
    for (fl <- flavors) {
      val dir = granuleBuckets(fl)
      val cols = BucketReader.read(spark, dir).columns.toSeq
      for (q <- Seq(ByExtent(Extent(-40, 40, 72, 88)), AroundPoint(100.0, 80.0, sizeDeg = 10.0),
                    ByPolygon(Seq((0.0, 72.0), (30.0, 72.0), (15.0, 85.0))))) {
        for (glob <- Seq(null, "*.B.*")) {
          val df = BucketReader.read(spark, dir, q, globPattern = glob)
          assert(df.columns.toSeq == cols && df.count() == 0, s"$fl / $q / $glob")
        }
      }
    }
  }

  test("an extension no bucket file has fails a region read as it fails Everything, both flavors") {
    for (fl <- flavors; q <- Seq(Everything, ByExtent(Extent(-35, 48, -22, 37)),
                                 ByExtent(Extent(-40, 40, 72, 88)))) {
      val e = intercept[IllegalArgumentException] {
        BucketReader.read(spark, granuleBuckets(fl), q, fileExtension = ".nc")
      }
      assert(e.getMessage.contains("no files match the filename filters"), s"$fl / $q")
    }
  }

  test("a glob or regex filter alone takes the files it matches, whatever the extension") {
    for (fl <- flavors) {
      val dir = tmp(s"pq_$fl")
      val pts = Seq((1, 178.0, 10.0), (2, -179.0, 10.0), (3, 5.0, -40.0))
      BucketWriter.writeBucket(pts.toDF("id", "lon", "lat"), dir,
        LonLatPartitioning(size = (10, 10), flavor = Some(fl)), mode = "overwrite")
      BucketReader.listFiles(dir, ".parquet").foreach { f =>
        Files.move(Paths.get(f), Paths.get(f.stripSuffix(".parquet") + ".pq"))
      }
      for ((ext, glob, regex) <- Seq((null, "*.pq", null), (null, null, "part-"), (".pq", null, null)))
        assert(ids(BucketReader.read(spark, dir, ByExtent(Extent(-180, 180, -90, 90)),
          fileExtension = ext, globPattern = glob, regexPattern = regex)) == Seq(1, 2, 3),
          s"$fl / $ext / $glob / $regex")
    }
  }

  test("staging debris under _staging* stays out of listed reads, both flavors") {
    for (fl <- flavors) {
      val dir = tmp(s"debris_$fl")
      val pts = Seq((1, 178.0, 10.0), (2, -179.0, 10.0), (3, 5.0, -40.0))
      BucketWriter.writeBucket(pts.toDF("id", "lon", "lat"), dir,
        LonLatPartitioning(size = (10, 10), flavor = Some(fl)), mode = "overwrite")
      // a crashed writer's staging tree: one cell copied under _staging_x/
      val cell = BucketReader.filepathsByPartition(dir).keys.min
      val src = Paths.get(dir, cell)
      val dst = Paths.get(dir, "_staging_x", cell)
      Files.createDirectories(dst)
      Files.list(src).forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
      assert(new java.io.File(dst.toString).list().exists(_.endsWith(".parquet")))

      for (ext <- Seq(null, ".parquet"))
        assert(ids(BucketReader.read(spark, dir, fileExtension = ext)) == Seq(1, 2, 3),
          s"$fl / $ext")
      assert(BucketReader.listFiles(dir).forall(!_.contains("_staging")))
      assert(BucketReader.filepathsByPartition(dir).values.flatten.forall(!_.contains("_staging")))
    }
  }
}
