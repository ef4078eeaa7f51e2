package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.geo.NamedExtents
import graft.operators.Analysis
import graft.partitioning.{Extent, GeoExtent, LonLatPartitioning, Partitioning2D}
import graft.sources.{BucketInfo, BucketReader, BucketWriter, Merge}
import Reference._

/** What one op took, what it delivered, what was wrong with its output,
  * and (traced ops only) its per-layer measurements. */
final case class OpOut(kind: String, wallMs: Double, rows: Long,
                       errors: Seq[String], layers: Map[String, Double])

final class Ctx(val spark: SparkSession, val seed: Long, val work: File,
                val tracer: Tracer, val listener: Option[WorkListener]) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val p: LonLatPartitioning = LonLatPartitioning(size = (Ctx.CellDeg, Ctx.CellDeg))
  def path(name: String): String = new File(work, name).getPath
  def traced: Boolean = tracer.active
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Runs an op as span `op.<kind>`. Its wall is what the body brackets
    * with `timer.start()`/`timer.stop()`; in traced ops the Spark work of
    * the whole span is added as the `spark.*` layers. */
  def op(kind: String)(body: Timer => OpOut): OpOut = {
    listener.filter(_ => traced).foreach(_.clear())
    val timer = new Timer
    val out = span(s"op.$kind")(body(timer))
    val sparkLayers = listener.filter(_ => traced).map { l =>
      val s = tracer.last(s"op.$kind")
      val w = l.work(s.startMs, s.endMs)
      Map("spark.jobs" -> w.jobs.toDouble, "spark.tasks" -> w.tasks.toDouble,
        "spark.busy_core_s" -> w.busyCoreS, "spark.max_task_ms" -> w.maxTaskMs,
        "spark.driver_gap_s" -> w.driverGapMs(s.startMs, s.endMs) / 1e3,
        "spark.shuffle_bytes" -> w.shuffleBytes.toDouble)
    }.getOrElse(Map.empty)
    out.copy(kind = kind, wallMs = timer.ms, layers = out.layers ++ sparkLayers)
  }

  /** Spark work between the start of span `from` and the end of `to`. */
  def work(from: String, to: String): SparkWork =
    listener.get.work(tracer.last(from).startMs, tracer.last(to).endMs)
}

final class Timer {
  private var t0 = 0L
  private var t1 = 0L
  def start(): Unit = t0 = System.nanoTime()
  def stop(): Unit = t1 = System.nanoTime()
  def ms: Double = (t1 - t0) / 1e6
}

object Ctx {
  val CellDeg = 10.0
  val OverpassGapS = 3600L
}

/** Parquet files of a bucket (staging excluded) with size and mtime. */
object Disk {
  final case class Stat(size: Long, mtime: Long)

  def files(dir: String): Map[String, Stat] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(_.getName.startsWith("_staging")).flatMap(walk)
      else Seq(f)
    walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> Stat(f.length(), f.lastModified())).toMap
  }

  def bytes(fs: Map[String, Stat]): Long = fs.values.map(_.size).sum

  def crc(path: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(java.nio.file.Files.readAllBytes(new File(path).toPath))
    c.getValue
  }

  def delete(dir: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(dir))
  }
}

/** Scan counters of an executed read, from the physical plan's metrics. */
object Scans extends AdaptiveSparkPlanHelper {
  def apply(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def sum(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    (sum("numFiles"), sum("filesSize"), sum("numOutputRows"))
  }
}

/** Generated rows into Spark, and the set-up bucket build. */
object Pipeline {
  /** One generated granule as a distributed frame, the way a file scan
    * delivers it: the task generates the rows itself (the generator is a
    * pure function), so no rows are shipped from the driver. A local-list
    * frame would also let the optimizer evaluate the bucket labelling on
    * the driver (ConvertToLocalRelation), a path no file-based ingest
    * takes. */
  def frame(spark: SparkSession, seed: Long, shape: SwathShape, cycle: Int, g: Int) =
    spark.createDataFrame(spark.sparkContext.parallelize(Seq((cycle, g)), 1).flatMap {
      case (c, i) =>
        scala.jdk.CollectionConverters.ListHasAsScala(
          OrbitSwath.granule(seed, c, i, shape).rows).asScala
    }, OrbitSwath.schema)

  /** `writeGranulesBucket` of granules `(cycle, index)` into a fresh
    * per-granule bucket, fan-out `nproc`. Each granule is a file whose
    * reader generates its rows. Returns the granules that failed. */
  def writeGranules(ctx: Ctx, shape: SwathShape, ids: Seq[(Int, Int)],
                    dst: String): Seq[(String, String)] = {
    val paths = ids.map { case (c, g) => s"swath_${OrbitSwath.granuleId(c, g)}.orbit" -> (c, g) }
      .toMap
    val reader = new BucketWriter.GranuleReader {
      def read(spark: SparkSession, path: String) = {
        val (c, g) = paths(path)
        Some(frame(spark, ctx.seed, shape, c, g))
      }
    }
    BucketWriter.writeGranulesBucket(ctx.spark, paths.keys.toSeq.sorted, dst, ctx.p, reader,
      parallelism = ctx.cores)
  }

  /** Set-up: a consolidated bucket holding the granules of cycle 0,
    * ingested the way the cycles of `ingest_merge` are (per-granule
    * bucket, then a merge into monthly files). Returns the granules and
    * the wall in seconds. */
  def build(ctx: Ctx, shape: SwathShape, dst: String): (Seq[Granule], Double) = {
    val t0 = System.nanoTime()
    val granules = OrbitSwath.cycle(ctx.seed, 0, shape)
    val src = dst + "_granules"
    val failed = writeGranules(ctx, shape, granules.indices.map(g => (0, g)), src)
    require(failed.isEmpty, s"set-up granules failed: ${failed.mkString("; ")}")
    Merge.mergeGranuleBuckets(ctx.spark, src, dst, temporalPartitioning = "month")
    Disk.delete(src)
    (granules, (System.nanoTime() - t0) / 1e9)
  }
}

/** `ingest_merge`: each op is one cycle — a new month of granules written
  * as a per-granule bucket, then update-merged into the consolidated
  * bucket, which grows every cycle. */
final class IngestMerge(ctx: Ctx, shape: SwathShape, val bucket: String, base: Seq[Granule]) {
  val archive = mutable.ArrayBuffer.empty[Granule] ++= base
  private var cycle = base.map(_.id / 1000).max + 1
  private val crcs = mutable.HashMap.empty[String, Long]

  def op(): OpOut = ctx.op("ingest") { timer =>
    val c = cycle; cycle += 1
    val granules = OrbitSwath.cycle(ctx.seed, c, shape)
    val src = ctx.path(s"granules_c$c")
    val earlier = Disk.files(bucket)
    if (crcs.isEmpty) earlier.keys.foreach(f => crcs(f) = Disk.crc(f))
    timer.start()
    val failed = ctx.span("writer.writeGranulesBucket") {
      Pipeline.writeGranules(ctx, shape, granules.indices.map(g => (c, g)), src)
    }
    ctx.span("merge.mergeGranuleBuckets") {
      Merge.mergeGranuleBuckets(ctx.spark, src, bucket, temporalPartitioning = "month",
        update = true)
    }
    timer.stop()
    archive ++= granules
    val now = Disk.files(bucket)
    val written = now.filter { case (f, st) => !earlier.get(f).contains(st) }
    written.keys.filterNot(earlier.contains).foreach(f => crcs(f) = Disk.crc(f))
    val changed = earlier.filter { case (f, st) => !now.get(f).contains(st) }.keys
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val n = granules.size.toDouble
        val srcFiles = Disk.files(src)
        val w = ctx.work("writer.writeGranulesBucket", "writer.writeGranulesBucket")
        val m = ctx.work("merge.mergeGranuleBuckets", "merge.mergeGranuleBuckets")
        Map(
          "writer.granule_ms" -> ctx.tracer.last("writer.writeGranulesBucket").ms / n,
          "writer.jobs_per_granule" -> w.jobs / n,
          "writer.files_per_granule" -> srcFiles.size / n,
          "writer.bytes_written_per_row" -> Disk.bytes(srcFiles).toDouble / granules.map(_.size).sum,
          "merge.s" -> ctx.tracer.last("merge.mergeGranuleBuckets").ms / 1e3,
          "merge.jobs" -> m.jobs.toDouble,
          "merge.files_in" -> srcFiles.size.toDouble,
          "merge.files_out" -> written.size.toDouble,
          "merge.bytes_rewritten_per_input_byte" ->
            Disk.bytes(written).toDouble / Disk.bytes(srcFiles))
      }
    Disk.delete(src)
    OpOut("", 0, granules.map(_.size.toLong).sum,
      failed.map { case (path, e) => s"granule $path failed: $e" } ++
        changed.map(f => s"cycle $c changed earlier file $f"), layers)
  }

  /** End of run: each month (read with plain Spark, not the reader under
    * test) holds exactly the rows generated for it, and every file any
    * cycle wrote is still byte-identical. */
  def finalCheck(): Seq[String] = {
    // a private clone lists the explicit files on the driver instead of
    // running one listing task per file
    val checker = ctx.spark.newSession()
    checker.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
    val got = checker.read.parquet(Disk.files(bucket).keys.toSeq: _*)
      .groupBy(year(col("time")), month(col("time")))
      .agg(count(lit(1)), sum("gpm_granule_id"), sum("gpm_along_track_id"),
        sum("gpm_cross_track_id"), min(unix_micros(col("time"))), max(unix_micros(col("time"))))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (2 until 8).map(r.getLong)).toMap
    val want = archive.groupBy(_.id / 1000).map { case (c, gs) =>
      val m = java.time.LocalDateTime.ofEpochSecond(OrbitSwath.monthStartUs(c) / 1000000, 0,
        java.time.ZoneOffset.UTC)
      (m.getYear, m.getMonthValue) -> Seq(gs.map(_.size.toLong).sum,
        gs.map(g => g.id.toLong * g.size).sum, gs.map(_.along.map(_.toLong).sum).sum,
        gs.map(_.cross.map(_.toLong).sum).sum, gs.map(_.timeUs.min).min, gs.map(_.timeUs.max).max)
    }
    (got.keySet ++ want.keySet).toSeq.sorted.collect {
      case m if got.get(m) != want.get(m) =>
        s"month $m holds ${got.get(m)}, generated ${want.get(m)} (rows, id sums, time range)"
    } ++ crcs.toSeq.sortBy(_._1).collect {
      case (f, _) if !new File(f).exists() => s"file vanished: $f"
      case (f, crc) if Disk.crc(f) != crc => s"file bytes changed: $f"
    }
  }
}

/** One seeded spatial read: the engine query, the same region for the
  * reference, the projection and the extra row filters. */
final case class Query(kind: String, query: BucketReader.SpatialQuery, shape: Shape,
                       columns: Seq[String], filters: Seq[Column], f: RowFilter) {
  /** Cells the partitioning keeps for this query (benchmark-side probe). */
  def cellsKept(p: Partitioning2D): Int = query match {
    case BucketReader.ByPolygon(vs, pad) => p.partitionIndicesByPolygon(vs, pad).size
    case q =>
      val e = q match {
        case BucketReader.ByExtent(e, _) => e
        case BucketReader.ByCountry(n, pad) => NamedExtents.country(n, pad)
        case BucketReader.ByContinent(n, pad) => NamedExtents.continent(n, pad)
        case BucketReader.AroundPoint(lon, lat, d, s) => GeoExtent.aroundPoint(lon, lat, d, s)
        case other => throw new IllegalArgumentException(s"no extent for $other")
      }
      val (xs, ys) = p.partitionIndicesByExtent(e)
      xs.length * ys.length
  }
}

/** `spatial_reads`: a seeded mix of point-radius, box, country, continent
  * and polygon reads with projection and sometimes a time or value
  * filter, each collected and checked row by row. */
final class SpatialReads(ctx: Ctx, val bucket: String, archive: Seq[Granule]) {
  private val t0Us = archive.map(_.timeUs.min).min
  private val t1Us = archive.map(_.timeUs.max).max
  private val countries = NamedExtents.countries.keys.toSeq.sorted
  private val continents = NamedExtents.continents.keys.toSeq.sorted
  private val optional = Seq("time", "value", "gpm_id", "gpm_granule_id",
    "gpm_cross_track_id", "gpm_along_track_id")

  /** The mix of query kinds, the same for every seed (point 30 %, box
    * 27 %, country 20 %, continent 10 %, polygon 13 %) in a seeded order:
    * query `i` has kind `kinds(i mod 30)`, so a pool of 30 reads always
    * holds this mix and seeds differ only in where and how much. */
  private val kinds = {
    val slots = Seq.fill(9)("point") ++ Seq.fill(8)("box") ++ Seq.fill(6)("country") ++
      Seq.fill(3)("continent") ++ Seq.fill(4)("polygon")
    val r = new java.util.SplittableRandom(OrbitSwath.key(ctx.seed, 5L))
    slots.map(k => (r.nextDouble(), k)).sortBy(_._1).map(_._2).toIndexedSeq
  }

  def query(i: Int): Query = {
    val r = new java.util.SplittableRandom(OrbitSwath.key(ctx.seed, 7L, i.toLong))
    def u(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
    def box(e: Extent) = Box(e.xmin, e.xmax, e.ymin, e.ymax)
    val (kind, q, shape) = kinds(Math.floorMod(i, kinds.size)) match {
      case "point" =>
        val lat = u(-70, 70); val m = u(50e3, 1000e3)
        // the circle stays clear of the antimeridian, where the engine
        // misses rows (see antimeridianProbe)
        val w = capHalfWidthDeg(lat, m * (1 + RadiusBand))
        val lon = u(-180 + w, 180 - w)
        ("point", BucketReader.AroundPoint(lon, lat, distance = m), Radius(lon, lat, m))
      case "box" =>
        val (w, h) = (u(2, 30), u(2, 20))
        val (cx, cy) = (u(-180 + w / 2, 180 - w / 2), u(-88 + h / 2, 88 - h / 2))
        val e = Extent(cx - w / 2, cx + w / 2, cy - h / 2, cy + h / 2)
        ("box", BucketReader.ByExtent(e), box(e))
      case "country" =>
        val n = countries(r.nextInt(countries.size))
        ("country", BucketReader.ByCountry(n), box(NamedExtents.country(n)))
      case "continent" =>
        val n = continents(r.nextInt(continents.size))
        ("continent", BucketReader.ByContinent(n), box(NamedExtents.continent(n)))
      case "polygon" =>
        // star-shaped, hence simple: sorted angles, random radii
        val (cx, cy) = (u(-160, 160), u(-65, 65))
        val k = 5 + r.nextInt(5)
        val angles = Seq.fill(k)(u(0, 2 * math.Pi)).sorted
        val vs = angles.map { a =>
          val rad = u(3, 15)
          (cx + rad * math.cos(a), cy + rad * math.sin(a))
        }
        ("polygon", BucketReader.ByPolygon(vs), Poly(vs.map(_._1).toArray, vs.map(_._2).toArray))
    }
    val cols = Seq("lon", "lat") ++ optional.filter(_ => r.nextDouble() < 0.4)
    var f = RowFilter()
    var filters = Seq.empty[Column]
    if (r.nextDouble() < 0.3) {
      val from = t0Us + (r.nextDouble() * (t1Us - t0Us)).toLong
      val to = from + (u(5, 60) * 86400e6).toLong
      f = f.copy(fromUs = from, toUs = to)
      filters :+= (col("time") >= lit(OrbitSwath.timestamp(from)) &&
        col("time") < lit(OrbitSwath.timestamp(to)))
    }
    if (r.nextDouble() < 0.2) {
      val v = u(20, 90)
      f = f.copy(valueAbove = v)
      filters :+= col("value") > v
    }
    Query(kind, q, shape, cols, filters, f)
  }

  /** Longitude half-width in degrees of the spherical cap of `meters`
    * around a centre at `lat`; 180 when the cap holds a pole. */
  private def capHalfWidthDeg(lat: Double, meters: Double): Double = {
    val a = meters / SphereRadiusM
    val phi = math.toRadians(math.abs(lat))
    if (a >= math.Pi / 2 - phi) 180.0
    else math.toDegrees(math.asin(math.min(1.0, math.sin(a) / math.cos(phi))))
  }

  /** A radius read whose circle crosses the antimeridian, outside the
    * timed mix and its counts: the circle is centred 0.5° across the
    * antimeridian from the archive footprint nearest to it, and reaches
    * that footprint. The engine prunes radius reads with a lon/lat box
    * clamped at ±180° (`GeoExtent.aroundPoint`), so while that defect
    * stands the read misses the rows beyond the antimeridian. Returns the
    * circle, the rows read and the reference bounds. */
  def antimeridianProbe(): (Radius, Long, (Long, Long)) = {
    val (g, k) = archive.flatMap(g => g.lon.indices.map(k => (g, k)))
      .maxBy { case (g, k) => math.abs(g.lon(k)) }
    val (plon, plat) = (g.lon(k), g.lat(k))
    val clon = -math.signum(plon) * 179.5
    val meters = 1.5 * haversineM(clon, plat, plon, plat) + 20e3
    val rows = BucketReader.read(ctx.spark, bucket,
      BucketReader.AroundPoint(clon, plat, distance = meters), columns = Seq("lon", "lat"))
      .collect().length.toLong
    val shape = Radius(clon, plat, meters)
    (shape, rows, countBounds(archive, shape, RowFilter()))
  }

  def op(i: Int): OpOut = {
    val q = query(i)
    ctx.op(q.kind) { timer =>
      val probe = mutable.Map.empty[String, Double]
      if (ctx.traced) {
        // the partitioning and manifest steps the reader takes, called
        // directly so their cost shows; outside the op's timed wall
        val p = ctx.span("bucketinfo.readPartitioning")(BucketInfo.readPartitioning(bucket))
        probe("bucketinfo.read_ms") = ctx.tracer.last("bucketinfo.readPartitioning").ms
        val kept = ctx.span("partitioning.prune")(q.cellsKept(p))
        probe("partitioning.prune_ms") = ctx.tracer.last("partitioning.prune").ms
        probe("partitioning.cells_kept_ratio") = kept.toDouble / p.nPartitions
      }
      timer.start()
      val df = ctx.span("reader.read") {
        BucketReader.read(ctx.spark, bucket, q.query, columns = q.columns, filters = q.filters)
      }
      val rows = ctx.span("reader.collect")(df.collect())
      timer.stop()
      if (ctx.traced) {
        val (files, bytes, scanned) = Scans(df)
        val (read, collect) = (ctx.tracer.last("reader.read"), ctx.tracer.last("reader.collect"))
        val w = ctx.work("reader.read", "reader.collect")
        probe ++= Map(
          "reader.plan_ms" -> read.ms,
          "reader.exec_ms" -> collect.ms,
          "reader.jobs_per_query" -> w.jobs.toDouble,
          "reader.driver_gap_ms" -> w.driverGapMs(read.startMs, collect.endMs),
          "reader.files_scanned_per_query" -> files.toDouble,
          "reader.bytes_scanned_per_query" -> bytes.toDouble,
          "reader.rows_scanned_per_row_returned" -> scanned.toDouble / math.max(rows.length, 1))
      }
      OpOut("", 0, rows.length, check(i, q, rows), probe.toMap)
    }
  }

  private def check(i: Int, q: Query, rows: Array[Row]): Seq[String] = {
    val (lo, hi) = countBounds(archive, q.shape, q.f)
    val outside = rows.count(r => classify(q.shape, r.getDouble(0), r.getDouble(1)) == 0)
    val badCols = rows.headOption.exists(_.schema.fieldNames.toSeq != q.columns)
    Seq(
      if (rows.length < lo || rows.length > hi)
        Some(s"read $i (${q.kind} ${q.shape}) returned ${rows.length} rows, reference says [$lo, $hi]")
      else None,
      if (outside > 0) Some(s"read $i (${q.kind}) returned $outside rows outside the region")
      else None,
      if (badCols) Some(s"read $i (${q.kind}) projected ${rows.head.schema.fieldNames.toSeq}")
      else None).flatten
  }
}

/** `overpass_grid`: a regional read followed, in turn, by per-cell
  * overpass listing, one granule's swath grid, or a data cube of per-cell
  * means. */
final class OverpassGrid(ctx: Ctx, val bucket: String, archive: Seq[Granule], shape: SwathShape) {
  private val kinds = Seq("overpass", "grid", "cube")

  def op(i: Int): OpOut = {
    val r = new java.util.SplittableRandom(OrbitSwath.key(ctx.seed, 11L, i.toLong))
    def u(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
    def boxAround(cx: Double, cy: Double, w: Double, h: Double) =
      Box(math.max(cx - w / 2, -180), math.min(cx + w / 2, 180),
        math.max(cy - h / 2, -90), math.min(cy + h / 2, 90))
    def extent(b: Box) = Extent(b.xmin, b.xmax, b.ymin, b.ymax)
    val kind = kinds(Math.floorMod(i, kinds.size))
    ctx.op(kind) { timer =>
      val (rows, errors) = kind match {
        case "overpass" =>
          val b = boxAround(u(-180, 180), u(-80, 80), u(20, 40), u(15, 30))
          timer.start()
          val df = read(extent(b), Seq("lon_bin", "lat_bin", "time"), Nil)
          val out = ctx.span("analysis.overpass") {
            Analysis.listOverpassTimes(df, Ctx.OverpassGapS, "time", Seq("lon_bin", "lat_bin"))
              .collect()
          }
          timer.stop()
          (out.length.toLong, checkOverpass(i, b, out))
        case "grid" =>
          val g = archive(r.nextInt(archive.size))
          val k = r.nextInt(shape.nAlong) * shape.nCross + shape.nCross / 2
          val b = boxAround(g.lon(k), g.lat(k), u(12, 24), u(12, 24))
          timer.start()
          val df = read(extent(b), Seq("gpm_id", "gpm_cross_track_id", "value"),
            Seq(col("gpm_granule_id") === g.id))
          val out = ctx.span("analysis.grid")(Analysis.overpassToGrid(ctx.spark, df).collect())
          timer.stop()
          val (cells, filled) = swathGrid(archive, b, RowFilter(granule = g.id))
          val gotFilled = out.count(row => !row.isNullAt(row.fieldIndex("value")))
          (out.length.toLong,
            if (out.length != cells || gotFilled != filled)
              Seq(s"grid $i: ${out.length} cells / $gotFilled filled, reference $cells / $filled")
            else Nil)
        case "cube" =>
          val b = boxAround(u(-180, 180), u(-70, 70), u(30, 60), u(20, 40))
          timer.start()
          val df = read(extent(b), Seq("lon", "lat", "value"), Nil)
          val out = ctx.span("analysis.cube") {
            val agg = ctx.p.addCentroids(df, "lon", "lat").groupBy("lon_c", "lat_c")
              .agg(avg("value").as("mean"), count(lit(1)).as("n"))
            Analysis.toGridCube(ctx.spark, agg, ctx.p).collect()
          }
          timer.stop()
          (out.length.toLong, checkCube(i, b, out))
      }
      val layers =
        if (!ctx.traced) Map.empty[String, Double]
        else Map(s"analysis.${kind}_ms" -> ctx.tracer.last(s"analysis.$kind").ms,
          "analysis.shuffle_bytes" -> ctx.work("reader.read", s"analysis.$kind").shuffleBytes.toDouble,
          "reader.plan_ms" -> ctx.tracer.last("reader.read").ms)
      OpOut("", 0, rows, errors, layers)
    }
  }

  private def read(e: Extent, columns: Seq[String], filters: Seq[Column]) =
    ctx.span("reader.read") {
      BucketReader.read(ctx.spark, bucket, BucketReader.ByExtent(e), columns = columns,
        filters = filters)
    }

  private def cellOfLabels(x: String, y: String): (Int, Int) =
    (math.floor((x.toDouble + 180) / Ctx.CellDeg).toInt,
      math.floor((y.toDouble + 90) / Ctx.CellDeg).toInt)

  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private def checkOverpass(i: Int, b: Box, out: Array[Row]): Seq[String] = {
    val want = overpassSessions(archive, b, RowFilter(), Ctx.OverpassGapS * 1000000L, Ctx.CellDeg)
    val got = out.toSeq.groupBy(row => cellOfLabels(row.getAs[String]("lon_bin"),
      row.getAs[String]("lat_bin"))).map { case (cell, rs) =>
      cell -> rs.map(row => (micros(row.getAs[java.sql.Timestamp]("start_time")),
        micros(row.getAs[java.sql.Timestamp]("end_time")))).sorted.toVector
    }
    if (got == want) Nil
    else Seq(s"overpass $i: ${got.values.map(_.size).sum} sessions in ${got.size} cells, " +
      s"reference ${want.values.map(_.size).sum} in ${want.size}; first differing cell " +
      (got.keySet ++ want.keySet).find(c => got.get(c) != want.get(c)).getOrElse("-"))
  }

  private def checkCube(i: Int, b: Box, out: Array[Row]): Seq[String] = {
    val want = cellSums(archive, b, RowFilter(), Ctx.CellDeg)
    val filled = out.filterNot(_.isNullAt(out.head.fieldIndex("n")))
    val wrong = filled.filterNot { row =>
      val cell = (math.floor((row.getAs[Double]("lon_c") + 180) / Ctx.CellDeg).toInt,
        math.floor((row.getAs[Double]("lat_c") + 90) / Ctx.CellDeg).toInt)
      want.get(cell).exists { case (n, s) =>
        n == row.getAs[Long]("n") && math.abs(s / n - row.getAs[Double]("mean")) <= 1e-9 * (1 + math.abs(s / n))
      }
    }
    val size = ctx.p.nPartitions
    Seq(
      if (out.length != size) Some(s"cube $i has ${out.length} cells, grid has $size") else None,
      if (filled.length != want.size || wrong.nonEmpty)
        Some(s"cube $i: ${filled.length} filled cells (${wrong.length} wrong), reference ${want.size}")
      else None).flatten
  }
}
