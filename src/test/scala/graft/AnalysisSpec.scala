package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Analysis
import graft.partitioning.{Extent, XYPartitioning}

class AnalysisSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("addOverpassId: gap-based session ids (W3)") {
    val df = Seq(
      ts("2021-01-01 00:00:00"), ts("2021-01-01 00:01:00"),
      ts("2021-01-01 00:02:30"), ts("2021-01-01 02:00:00"),
      ts("2021-01-01 02:01:00"), ts("2021-01-02 00:00:00")
    ).toDF("time")
    val got = Analysis.addOverpassId(df, gapSeconds = 120)
      .orderBy("time").select("overpass_id").as[Long].collect().toSeq
    assert(got == Seq(0, 0, 0, 1, 1, 2))
  }

  test("listOverpassTimes: distinct sessionized periods (W1)") {
    val df = Seq(
      ts("2021-01-01 00:00:00"), ts("2021-01-01 00:30:00"),
      ts("2021-01-01 00:30:00"), // duplicate timestep
      ts("2021-01-01 05:00:00")
    ).toDF("time")
    val got = Analysis.listOverpassTimes(df, gapSeconds = 3600)
      .orderBy("start_time")
      .select("start_time", "end_time").as[(Timestamp, Timestamp)].collect().toSeq
    assert(got == Seq(
      (ts("2021-01-01 00:00:00"), ts("2021-01-01 00:30:00")),
      (ts("2021-01-01 05:00:00"), ts("2021-01-01 05:00:00"))))
  }

  test("countOverpassOccurrence: per-session count as window (W4/J2)") {
    val df = Seq(
      ts("2021-01-01 00:00:00"), ts("2021-01-01 00:01:00"),
      ts("2021-01-01 03:00:00")).toDF("time")
    val got = Analysis.countOverpassOccurrence(df, gapSeconds = 120)
      .orderBy("time").select("count_overpass_occurence").as[Long].collect().toSeq
    assert(got == Seq(2, 2, 1))
  }

  test("swathIndices: contiguous re-index across granules (W5)") {
    // granule 7: along 3..5 (width 3); granule 9: along 0..1 (width 2)
    val df = Seq(
      ("7-3", 0), ("7-4", 0), ("7-5", 1), ("9-0", 0), ("9-1", 1)
    ).toDF("gpm_id", "gpm_cross_track_id")
    val got = Analysis.swathIndices(df)
      .orderBy("gpm_id")
      .select("gpm_id", "x_index").as[(String, Long)].collect().toMap
    assert(got == Map("7-3" -> 0L, "7-4" -> 1L, "7-5" -> 2L,
      "9-0" -> 3L, "9-1" -> 4L))
  }

  test("overpassToGrid: dense grid with null holes (W6/J1/J3)") {
    val df = Seq(
      ("0-0", 0, 1.5), ("0-1", 1, 2.5) // 2 footprints only
    ).toDF("gpm_id", "gpm_cross_track_id", "v")
    val grid = Analysis.overpassToGrid(spark, df)
    // x_index 0..1 × y_index 0..1 = 4 cells, 2 filled
    assert(grid.count() == 4)
    assert(grid.where($"v".isNotNull).count() == 2)
  }

  test("overpassToGrid: an empty overpass gives an empty grid with the input's columns") {
    val df = Seq.empty[(String, Int, Double)].toDF("gpm_id", "gpm_cross_track_id", "v")
    val grid = Analysis.overpassToGrid(spark, df)
    assert(grid.columns.toSeq == Seq("x_index", "y_index", "gpm_id", "gpm_cross_track_id", "v"))
    assert(grid.count() == 0)
  }

  test("regularizeTime: uniform axis + typed fills (W8)") {
    val df = Seq(
      (ts("2021-01-01 00:00:00"), 1.0),
      (ts("2021-01-01 00:03:00"), 4.0)
    ).toDF("time", "v")
    val got = Analysis.regularizeTime(df, freqSeconds = 60,
        fillValues = Map("v" -> 0.0))
      .orderBy("time").select("v").as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0, 0.0, 4.0))
  }

  test("interpolateLinear: inside-only, limited gaps (W7)") {
    val df = Seq[(Int, java.lang.Double)](
      (1, 1.0), (2, null), (3, null), (4, 4.0), (5, null)
    ).toDF("i", "v")
    val got = Analysis.interpolateLinear(df, "v", "i")
      .orderBy("i").select("v").as[Option[Double]].collect().toSeq
    assert(got == Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), None))
    val limited = Analysis.interpolateLinear(df, "v", "i", limit = 1)
      .orderBy("i").select("v").as[Option[Double]].collect().toSeq
    assert(limited == Seq(Some(1.0), None, None, Some(4.0), None))
  }

  test("as-of backward join: latest prior right row per key") {
    import graft.operators.AsOfJoin
    val left = Seq(
      (1L, ts("2021-01-01 00:00:00")), (1L, ts("2021-01-01 01:00:00")),
      (1L, ts("2021-01-01 02:00:00")), (2L, ts("2021-01-01 00:30:00"))
    ).toDF("k", "time")
    val right = Seq(
      (1L, ts("2021-01-01 00:30:00"), 10.0),
      (1L, ts("2021-01-01 02:00:00"), 20.0), // equal time → matches
      (2L, ts("2021-01-01 01:00:00"), 30.0)  // after left → no match
    ).toDF("k", "time", "v")
    val got = AsOfJoin.backward(left, right, Seq("k"), "time", Seq("v"))
      .orderBy("k", "time").select("v").as[Option[Double]].collect().toSeq
    assert(got == Seq(None, Some(10.0), Some(20.0), None))
    // tolerance: only matches within 45 minutes
    val tol = AsOfJoin.backward(left, right, Seq("k"), "time", Seq("v"),
        toleranceSeconds = 45 * 60)
      .orderBy("k", "time").select("v").as[Option[Double]].collect().toSeq
    assert(tol == Seq(None, Some(10.0), Some(20.0), None))
  }

  test("as-of join is row-atomic: a null-valued right row is the match, " +
       "never skipped for an older non-null one") {
    import graft.operators.AsOfJoin
    // right rows for k=1: (00:30, v=10, w=1) then (01:00, v=null, w=2).
    // A per-column ignoreNulls fill would give the 01:30 left row
    // v=10 (from the OLDER row) while w=2 (from the newer) — a mix of
    // two right rows that neither pandas merge_asof nor DuckDB ASOF
    // JOIN (the q43 oracle) would ever emit. Row-atomic: v=null, w=2.
    val left = Seq((1L, ts("2021-01-01 01:30:00"))).toDF("k", "time")
    val right = Seq(
      (1L, ts("2021-01-01 00:30:00"), Option(10.0), Option(1L)),
      (1L, ts("2021-01-01 01:00:00"), Option.empty[Double], Option(2L))
    ).toDF("k", "time", "v", "w")
    val got = AsOfJoin.backward(left, right, Seq("k"), "time", Seq("v", "w"))
      .select("v", "w").as[(Option[Double], Option[Long])].collect().toSeq
    assert(got == Seq((None, Some(2L))),
      s"null-valued right row was not attached atomically: $got")
  }

  test("IVF assign + topK: identical vectors share a cell and rank first") {
    import graft.operators.Similarity
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)), // centroids (nList=2)
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f)), (4L, Array(0.95f, 0.05f))
    ).toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(vecs, "vec_id", "embedding",
        vecs.where($"vec_id" < 2))
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(assigned(2L) == 0L && assigned(4L) == 0L && assigned(3L) == 1L)
    val nn = Similarity.ivfTopK(vecs.where($"vec_id" === 2), vecs,
        "vec_id", "embedding", k = 1, nList = 2)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(nn == Seq(4L)) // nearest within the cell (0 and 4 share it)
  }

  test("ensureMinInterval pads symmetrically (W10)") {
    import java.time.LocalDateTime
    val s0 = LocalDateTime.of(2021, 1, 1, 12, 0)
    val e0 = LocalDateTime.of(2021, 1, 1, 12, 10)
    assert(graft.sources.Temporal.ensureMinInterval(s0, e0, 600) == ((s0, e0)))
    val (s1, e1) = graft.sources.Temporal.ensureMinInterval(s0, e0, 3600)
    assert(s1 == s0.minusMinutes(30) && e1 == e0.plusMinutes(30))
  }

  test("collectGrid2D: driver-side dense matrix with NaN holes") {
    val df = Seq((0L, 0L, 1.0), (1L, 1L, 2.0)).toDF("x_index", "y_index", "v")
    val grid = Analysis.collectGrid2D(df, "x_index", "y_index", "v")
    assert(grid.length == 2 && grid(0).length == 2)
    assert(grid(0)(0) == 1.0 && grid(1)(1) == 2.0)
    assert(grid(0)(1).isNaN && grid(1)(0).isNaN)
    intercept[IllegalArgumentException] {
      Analysis.collectGrid2D(
        Seq((0L, 0L, 1.0), (100000L, 100000L, 2.0)).toDF("x_index", "y_index", "v"),
        "x_index", "y_index", "v", maxCells = 1000)
    }
  }

  test("toGridCube: full centroid grid with NaN holes (A1/J1)") {
    val p = XYPartitioning(size = (0.5, 0.25), extent = Extent(0, 2, 0, 2))
    val df = Seq((0.6, 0.6, 10.0), (0.7, 0.55, 20.0)).toDF("x", "y", "v")
    val agg = p.addCentroids(df, "x", "y")
      .groupBy("x_c", "y_c").agg(avg($"v").as("v"))
    val cube = Analysis.toGridCube(spark, agg, p, "x_c", "y_c")
    assert(cube.count() == p.nPartitions)
    assert(cube.where($"v".isNotNull).count() == 1)
    assert(cube.where($"v" === 15.0).count() == 1)
  }
}
