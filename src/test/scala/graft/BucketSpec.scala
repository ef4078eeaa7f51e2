package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.partitioning.{Extent, LonLatPartitioning}
import graft.sources.{BucketFs, BucketInfo, BucketReader, BucketWriter, Merge}

/** Pipeline round trips (reference test_routines.py:82-462 +
  * test_readers.py:88-257): write granules → layout → read back → merge →
  * period-named files → update mode. */
class BucketSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val p = Files.createTempDirectory(s"graft_$name")
    p.toFile.deleteOnExit()
    p.toString
  }

  test("write/read round trip with layout check (S11+S1)") {
    val dir = tmpDir("bucket")
    val df = OrbitFixture.standard(spark)
    val p = LonLatPartitioning(size = (10, 10))
    BucketWriter.writeBucket(df, dir, p, mode = "overwrite")

    // layout: hive dirs lon_bin=<label>/lat_bin=<label>
    assert(Files.exists(Paths.get(dir, "_bucket_info.json")))
    val topDirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(topDirs.nonEmpty && topDirs.forall(_.startsWith("lon_bin=")))

    // full read: 150 rows, 8 original + 2 label columns
    val back = BucketReader.read(spark, dir)
    assert(back.count() == 150)
    assert(back.columns.toSet.contains("lon_bin"))

    // projection + limit
    val proj = BucketReader.read(spark, dir, columns = Seq("lon", "lat"), nRows = 2)
    assert(proj.columns.toSeq == Seq("lon", "lat") && proj.count() == 2)

    // extent query returns only in-region rows
    val ext = Extent(-1, 3, -1, 5)
    val sub = BucketReader.read(spark, dir, BucketReader.ByExtent(ext))
    val all = df.where($"lon".between(ext.xmin, ext.xmax) &&
      $"lat".between(ext.ymin, ext.ymax)).count()
    assert(sub.count() == all && sub.count() > 0)

    // point radius adds distance column, all within radius
    val pr = BucketReader.read(spark, dir,
      BucketReader.AroundPoint(5.0, 10.0, distance = 500e3))
    assert(pr.columns.contains("distance"))
    assert(pr.agg(max($"distance")).as[Double].head() <= 500e3)
  }

  // a 2° point grid over the whole globe in 30° cells, for radius reads
  // checked against a brute-force geodesic filter over every row
  private lazy val globe: (String, Array[(Int, Double, Double)]) = {
    val dir = tmpDir("bucket_globe")
    val grid = (for { i <- 0 until 180; j <- 0 until 90 }
      yield (i * 90 + j, -179.0 + 2 * i, -89.0 + 2 * j)).toDF("id", "lon", "lat")
    BucketWriter.writeBucket(grid, dir, LonLatPartitioning(size = (30, 30)),
      mode = "overwrite")
    (dir, grid.as[(Int, Double, Double)].collect())
  }

  private def assertRadiusExact(lon: Double, lat: Double, d: Double): Unit = {
    val (dir, pts) = globe
    val expect = pts.collect {
      case (id, x, y) if graft.functions.Geodesic.inverse(x, y, lon, lat) <= d => id
    }.toSet
    val got = BucketReader.read(spark, dir,
        BucketReader.AroundPoint(lon, lat, distance = d))
      .select("id").as[Int].collect().toSet
    assert(expect.nonEmpty && got == expect,
      s"($lon, $lat, $d m): missing ${expect -- got}, extra ${got -- expect}")
  }

  test("radius read across the antimeridian returns the brute-force rows") {
    // reaches lon -176 on the far side
    assertRadiusExact(179.0, 10.0, 500e3)
  }

  test("radius read over a pole returns the brute-force rows") {
    // 1,000 km from (0, 85) reaches (179, 89), 667 km away over the pole
    assertRadiusExact(0.0, 85.0, 1000e3)
  }

  test("sizeDeg box read across the antimeridian returns the rows on both sides") {
    val dir = tmpDir("bucket_sizedeg")
    val pts = Seq((1, 178.0, 10.0), (2, -179.0, 10.0), (3, -170.0, 10.0))
    BucketWriter.writeBucket(pts.toDF("id", "lon", "lat"), dir,
      LonLatPartitioning(size = (10, 10)), mode = "overwrite")
    // the 6° box around (179, 10) spans lon 176..180 and -180..-178
    val got = BucketReader.read(spark, dir,
        BucketReader.AroundPoint(179.0, 10.0, sizeDeg = 6.0))
      .select("id").as[Int].collect().toSet
    assert(got == Set(1, 2))
  }

  test("merge: period-named consolidated files + update mode (S12/T8)") {
    val src = tmpDir("src")
    val dst = tmpDir("dst")
    val p = LonLatPartitioning(size = (10, 10))
    BucketWriter.writeBucket(OrbitFixture.standard(spark), src, p, mode = "overwrite")

    Merge.mergeGranuleBuckets(spark, src, dst, temporalPartitioning = "month")

    // consolidated files are named {year}_{month}_{i}.parquet inside the
    // spatial partition dirs
    val files = Files.walk(Paths.get(dst)).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .filter(f => f.toString.endsWith(".parquet")).map(_.getFileName.toString).toSeq
    assert(names.nonEmpty)
    assert(names.forall(n => n.matches("\\d{4}_\\d{1,2}_\\d+\\.parquet")), names.take(5))
    assert(names.exists(_.startsWith("2021_7_")))
    assert(names.exists(_.startsWith("2021_8_")))
    assert(names.exists(_.startsWith("2023_7_")))

    // dst readable as a bucket, same row count
    assert(BucketReader.read(spark, dst).count() == 150)
    assert(BucketInfo.readTemporalPartitioning(dst).contains("month"))

    // update mode: re-merge only July 2021 — replaces exactly that period
    Merge.mergeGranuleBuckets(spark, src, dst, temporalPartitioning = "month",
      startTime = Some(LocalDateTime.of(2021, 7, 1, 0, 0)),
      endTime = Some(LocalDateTime.of(2021, 8, 1, 0, 0)),
      update = true)
    assert(BucketReader.read(spark, dst).count() == 150)

    // update into a non-bucket dst fails
    intercept[IllegalArgumentException] {
      Merge.mergeGranuleBuckets(spark, src, tmpDir("nodst"), update = true)
    }

    // single-writer contract, enforced: a LIVE claim held by another
    // merge session refuses this one LOUDLY before any staging write —
    // two update merges interleaving per-period delete/rename passes
    // would leave periods holding a mix of both runs' files
    val claimFile = s"$dst/_writer_claim"
    BucketFs.writeString(claimFile, "")
    val eClaim = intercept[IllegalStateException] {
      Merge.mergeGranuleBuckets(spark, src, dst,
        temporalPartitioning = "month", update = true)
    }
    assert(eClaim.getMessage.contains("another session is writing"))
    assert(BucketReader.read(spark, dst).count() == 150,
      "refused merge disturbed the destination")
    // a STALE claim (dead merge) is swept, the merge proceeds, and the
    // claim is released afterwards
    Merge.mergeGranuleBuckets(spark, src, dst, temporalPartitioning = "month",
      update = true, claimStaleness = 0L)
    assert(BucketReader.read(spark, dst).count() == 150)
    assert(!BucketFs.exists(claimFile), "claim not released after merge")
  }

  test("writeGranulesBucket: per-granule fan-out with error capture (S9/S10)") {
    val dir = tmpDir("granules")
    val p = LonLatPartitioning(size = (10, 10))
    val reader = new BucketWriter.GranuleReader {
      def read(s: org.apache.spark.sql.SparkSession, path: String) = path match {
        case "bad" => throw new RuntimeException("check_this_error_captured")
        case "skip" => None
        case _ => Some(OrbitFixture.granule(s, path.toInt))
      }
    }
    val errors = BucketWriter.writeGranulesBucket(spark,
      Seq("0", "1", "bad", "skip"), dir, p, reader, parallelism = 2)
    assert(errors.map(_._1) == Seq("bad"))
    assert(errors.head._2.contains("check_this_error_captured"))
    assert(BucketReader.read(spark, dir).count() == 100) // 2 granules × 50
    // reference naming contract: files prefixed by the granule name
    // (test_routines.py:98: <granule>_0.parquet) and no staging leftovers
    val names = Files.walk(Paths.get(dir)).iterator()
    val parquets = scala.jdk.CollectionConverters.IteratorHasAsScala(names).asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
    assert(parquets.nonEmpty && parquets.forall(n =>
      n.startsWith("0_") || n.startsWith("1_")))
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_staging")))
  }

  test("distributed row-typed ingest: one job, error capture (S9 scale path)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmpDir("distributed")
    val p = LonLatPartitioning(size = (10, 10))
    val schema = StructType(Seq(
      StructField("lon", DoubleType), StructField("lat", DoubleType),
      StructField("v", LongType)))
    val reader = new BucketWriter.RowGranuleReader {
      def rows(path: String): Iterator[Row] = path match {
        case "bad" => throw new RuntimeException("broken_granule")
        case _ =>
          val g = path.toInt
          (0 until 50).iterator.map(i =>
            Row((g * 3 + i % 10).toDouble, (i / 10).toDouble, i.toLong))
      }
    }
    val errors = BucketWriter.writeGranulesBucketDistributed(spark,
      Seq("0", "1", "bad", "2"), dir, p, reader, schema)
    assert(errors.map(_._1) == Seq("bad"))
    assert(errors.head._2.contains("broken_granule"))
    assert(BucketReader.read(spark, dir).count() == 150)
  }

  test("size-string parsing (S6/U7, test_writers.py)") {
    assert(BucketWriter.parseSize("200MB") == 200L * 1024 * 1024)
    assert(BucketWriter.parseSize("2GB") == 2L * 1024 * 1024 * 1024)
    assert(BucketWriter.parseSize("512") == 512L)
    assert(BucketWriter.parseSize("1.5KB") == 1536L)
    intercept[IllegalArgumentException](BucketWriter.parseSize("nonsense"))
  }
}
