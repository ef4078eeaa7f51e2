package graft

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import graft.partitioning.{Extent, LonLatPartitioning}
import graft.sources.{BucketReader, BucketWriter, Merge}

/** The on-disk layout of every bucket writer, for both flavors and both
  * level orders (reference test_routines.py:82-272): exact relative
  * directories (`level=label` for hive, bare `label` for the directory
  * flavor), `{granule}_{i}` / `{period}_{i}` file names, label values
  * free of `level=` text, no staging debris, and reads that equal a
  * driver-side brute-force filter row for row. Expected directories come
  * from a driver-side 10° binning written out here, not from the engine. */
class WriterLayoutSpec extends AnyFunSuite {
  import WriterLayoutSpec._
  lazy val spark = SparkTestBase.spark

  private def tmpDir(name: String): String = {
    val p = Files.createTempDirectory(s"graft_layout_$name")
    p.toFile.deleteOnExit()
    p.toString
  }

  // three granules: g0 and g2 in July 2021 over the same cells, g1 in
  // August 2021 elsewhere (negative and positive labels on both axes)
  private def granule(g: Int): DataFrame = g match {
    case 0 => OrbitFixture.granule(spark, 0, (-108.3, 1.7), (-93.1, 16.2),
      startTime = LocalDateTime.of(2021, 7, 5, 1, 39))
    case 1 => OrbitFixture.granule(spark, 1, (21.4, -28.6), (36.2, -9.3),
      startTime = LocalDateTime.of(2021, 8, 5, 1, 39))
    case 2 => OrbitFixture.granule(spark, 2, (-104.6, 3.3), (-96.2, 14.9),
      startTime = LocalDateTime.of(2021, 7, 20, 3, 0))
  }
  private def granules(gs: Int*): DataFrame = gs.map(granule).reduce(_ unionByName _)

  private val granuleReader = new BucketWriter.GranuleReader {
    def read(s: org.apache.spark.sql.SparkSession, path: String) =
      Some(granule(path.stripPrefix("g").toInt))
  }

  /** Row-typed twin of `granuleReader` for the distributed ingest. */
  private lazy val rowReader = new MapRowReader(
    (0 to 2).map(g => s"g$g" -> granule(g).collect().toSeq).toMap)

  // ---- driver-side references ----

  private def obs(df: DataFrame): Seq[Obs] =
    df.select("gpm_granule_id", "gpm_cross_track_id", "gpm_along_track_id",
        "lon", "lat", "dummy_var", "time").collect().toSeq
      .map(r => Obs(r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getTimestamp(6)))
      .sortBy(o => (o.g, o.cross, o.along))

  private def insidePolygon(x: Double, y: Double, vs: Seq[(Double, Double)]): Boolean = {
    var inside = false
    for (i <- vs.indices) {
      val (xi, yi) = vs(i)
      val (xj, yj) = vs((i + vs.size - 1) % vs.size)
      if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi)
        inside = !inside
    }
    inside
  }

  // ---- the writer matrix ----

  private type Writer = LonLatPartitioning => Written

  private val writers: Seq[(String, Writer)] = Seq(
    ("writeBucket overwrite then append", (p: LonLatPartitioning) => {
      val dir = tmpDir("wb")
      // the first write's rows must be gone after the overwrite
      BucketWriter.writeBucket(granules(1), dir, p, mode = "overwrite")
      BucketWriter.writeBucket(granules(0, 1), dir, p, mode = "overwrite")
      BucketWriter.writeBucket(granules(2), dir, p, mode = "append")
      Written(dir, obs(granules(0, 1, 2)), None)
    }),
    ("writeGranulesBucket", (p: LonLatPartitioning) => {
      val dir = tmpDir("wgb")
      val errs = BucketWriter.writeGranulesBucket(spark, Seq("g0", "g1", "g2"),
        dir, p, granuleReader, parallelism = 2)
      assert(errs.isEmpty, errs)
      Written(dir, obs(granules(0, 1, 2)), Some(o => s"g${o.g}"))
    }),
    ("writeGranulesBucketDistributed twice", (p: LonLatPartitioning) => {
      val dir = tmpDir("wgbd")
      val schema = granule(0).schema
      for (paths <- Seq(Seq("g0", "g1"), Seq("g2"))) {
        val errs = BucketWriter.writeGranulesBucketDistributed(spark, paths, dir,
          p, rowReader, schema)
        assert(errs.isEmpty, errs)
      }
      Written(dir, obs(granules(0, 1, 2)), None)
    }),
    ("merge fresh then update", (p: LonLatPartitioning) => {
      val src = tmpDir("msrc")
      val dst = tmpDir("mdst")
      BucketWriter.writeGranulesBucket(spark, Seq("g0", "g1"), src, p, granuleReader)
      Merge.mergeGranuleBuckets(spark, src, dst, temporalPartitioning = "month")
      BucketWriter.writeGranulesBucket(spark, Seq("g2"), src, p, granuleReader)
      // re-merge July only: its old files are replaced, August's stay
      Merge.mergeGranuleBuckets(spark, src, dst, temporalPartitioning = "month",
        startTime = Some(LocalDateTime.of(2021, 7, 1, 0, 0)),
        endTime = Some(LocalDateTime.of(2021, 8, 1, 0, 0)), update = true)
      Written(dst, obs(granules(0, 1, 2)), Some(_.period))
    }))

  private val orders = Seq(Seq("lon_bin", "lat_bin"), Seq("lat_bin", "lon_bin"))

  for {
    flavor <- Seq("hive", "directory")
    order <- orders
    (writerName, write) <- writers
  } test(s"$writerName: $flavor flavor, order ${order.mkString("/")}") {
    val p = LonLatPartitioning(size = (10, 10), order = order, flavor = Some(flavor))
    val w = write(p)
    val root = Paths.get(w.dir)

    def relDir(o: Obs): String = order.map { lvl =>
      if (flavor == "hive") s"$lvl=${o.labels(lvl)}" else o.labels(lvl)
    }.mkString("/")

    val files: Seq[Path] = Files.walk(root).iterator().asScala.toSeq
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
    // no staging debris anywhere in the tree
    val staging = Files.walk(root).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("_staging"))
    assert(staging.isEmpty, staging)

    // exact relative paths: every file sits in the cell directory of its
    // rows, and every occupied cell has files
    val byDir = files.groupBy(f => root.relativize(f.getParent).toString)
    assert(byDir.keySet == w.rows.map(relDir).toSet,
      s"directories: extra ${byDir.keySet -- w.rows.map(relDir)}, " +
        s"missing ${w.rows.map(relDir).toSet -- byDir.keySet}")
    w.nameOf match {
      case None =>
        assert(files.forall(_.getFileName.toString.matches("part-\\d+-.*\\.parquet")),
          files.take(3))
      case Some(groupOf) =>
        // `{group}_{i}.parquet` with i = 0..k-1 per (directory, group), and
        // exactly the groups whose rows fall in that cell
        byDir.foreach { case (rel, fs) =>
          val names = fs.map(_.getFileName.toString)
          val byGroup = names.groupBy(_.replaceAll("_\\d+\\.parquet$", ""))
          assert(byGroup.keySet == w.rows.filter(relDir(_) == rel).map(groupOf).toSet,
            s"$rel: $names")
          byGroup.foreach { case (g, ns) =>
            assert(ns.toSet == ns.indices.map(i => s"${g}_$i.parquet").toSet, s"$rel: $ns")
          }
        }
    }

    // labels read back bare, equal to the reference label of each row
    val back = BucketReader.read(spark, w.dir)
    val labelled = back.select("gpm_granule_id", "gpm_cross_track_id",
        "gpm_along_track_id", "lon_bin", "lat_bin").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getString(3), r.getString(4)))
    assert(labelled.forall { case (_, (a, b)) => !a.contains("=") && !b.contains("=") })
    assert(labelled.toMap == w.rows.map(o =>
      (o.g, o.cross, o.along) -> (o.labels("lon_bin"), o.labels("lat_bin"))).toMap)
    assert(labelled.length == w.rows.size)

    // reads equal the driver-side brute force, row for row
    val box = Extent(-103.5, -97.0, 4.0, 12.5)
    val tri = Seq((-108.0, 2.0), (-94.0, 4.0), (-101.0, 15.0))
    val cases: Seq[(BucketReader.SpatialQuery, Obs => Boolean)] = Seq(
      BucketReader.Everything -> (_ => true),
      BucketReader.ByExtent(box) -> (o => o.lon >= box.xmin && o.lon <= box.xmax &&
        o.lat >= box.ymin && o.lat <= box.ymax),
      BucketReader.ByPolygon(tri) -> (o => insidePolygon(o.lon, o.lat, tri)))
    cases.foreach { case (q, keep) =>
      val expect = w.rows.filter(keep)
      assert(expect.nonEmpty, s"$q selects no rows")
      assert(obs(BucketReader.read(spark, w.dir, q)) == expect, q)
    }
  }
}

object WriterLayoutSpec {
  /** 10° cell label: right-closed bins, first bin closed (pd.cut). */
  def label(v: Double, vmin: Double): String = {
    val idx = math.max(math.ceil((v - vmin) / 10).toInt - 1, 0)
    java.lang.String.format(java.util.Locale.ROOT, "%.1f",
      Double.box(vmin + 10 * idx + 5))
  }

  final case class Obs(g: Int, cross: Int, along: Int, lon: Double,
                       lat: Double, v: Double, time: java.sql.Timestamp) {
    def labels: Map[String, String] =
      Map("lon_bin" -> label(lon, -180), "lat_bin" -> label(lat, -90))
    def period: String = {
      val t = time.toLocalDateTime; s"${t.getYear}_${t.getMonthValue}"
    }
  }

  /** A written bucket: its dir, every row it must hold, and the file-name
    * pattern group (granule or period) each directory's files follow. */
  final case class Written(dir: String, rows: Seq[Obs],
                           nameOf: Option[Obs => String])
}

/** Serializable row reader over fixed rows per path: the distributed
  * ingest ships it to executors. */
final class MapRowReader(byPath: Map[String, Seq[Row]])
    extends BucketWriter.RowGranuleReader {
  def rows(path: String): Iterator[Row] = byPath(path).iterator
}
