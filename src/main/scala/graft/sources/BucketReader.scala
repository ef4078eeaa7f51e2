package graft.sources

import java.nio.file.{FileSystems, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.partitioning.{Extent, GeoExtent, LonLatPartitioning, Partitioning2D}
import graft.geo.NamedExtents
import graft.operators.SpatialFilters

/** The read query path (reference read_bucket / satbucket.read,
  * satbucket/readers.py:162-303).
  *
  * One Catalyst plan does everything the reference stages by hand:
  * manifest → label-predicate partition pruning (directory-level, via
  * `PartitioningAwareFileIndex`) → vectorized parquet scan with projection
  * + predicate pushdown → spatial refinement → optional limit.
  *
  * Directory-flavor buckets (bare `label/` dirs) have no hive metadata, so
  * pruning happens driver-side (explicit pruned paths) and the label
  * columns are reconstructed from the file path segments.
  */
object BucketReader {

  sealed trait SpatialQuery
  case object Everything extends SpatialQuery
  final case class ByExtent(extent: Extent, padding: Double = 0.0) extends SpatialQuery
  final case class ByCountry(name: String, padding: Double = 0.0) extends SpatialQuery
  final case class ByContinent(name: String, padding: Double = 0.0) extends SpatialQuery
  /** Geodesic radius (meters) or a sizeDeg-wide box around a point; appends
    * a `distance` column like the reference (readers.py:147-148). */
  final case class AroundPoint(lon: Double, lat: Double,
                               distance: Double = Double.NaN,
                               sizeDeg: Double = Double.NaN) extends SpatialQuery
  /** Exact polygon containment (beyond the reference's box/country
    * queries): directories prune to the cells whose rectangle actually
    * intersects the (padded) polygon — tighter than the bounding box for
    * concave shapes — then rows refine through the PNPOLY codegen
    * expression. */
  final case class ByPolygon(vertices: Seq[(Double, Double)],
                             padding: Double = 0.0) extends SpatialQuery

  def read(spark: SparkSession, bucketDir: String,
           query: SpatialQuery = Everything,
           columns: Seq[String] = Nil,
           filters: Seq[Column] = Nil,
           nRows: Long = -1L,
           fileExtension: String = null,
           globPattern: String = null,
           regexPattern: String = null,
           x: String = "lon", y: String = "lat",
           timeColumns: Seq[String] = Seq("time")): DataFrame = {
    val p = BucketInfo.readPartitioning(bucketDir)
    val isHive = !p.flavor.contains("directory")

    // Partition-label strings must come back as strings (no hive partition
    // value type inference), and reference buckets written by pandas/pyarrow
    // carry NANOSECOND timestamps that must be read as long nanos. Both
    // flags live in a cloned reader session (graft.core.ReaderSession) so
    // the caller's session conf is untouched by this read.
    val rs = graft.core.ReaderSession(spark)

    // the query's boxes: pruning keeps the union of their cells. A
    // sizeDeg box crossing ±180° is two boxes, one on each side.
    val extents: Seq[Extent] = query match {
      case Everything | ByPolygon(_, _) => Nil
      case ByExtent(e, pad) => Seq(pad2(e, pad))
      case ByCountry(n, pad) => Seq(NamedExtents.country(n, pad))
      case ByContinent(n, pad) => Seq(NamedExtents.continent(n, pad))
      case AroundPoint(lon, lat, d, s) => GeoExtent.boxesAroundPoint(lon, lat, d, s)
    }
    lazy val prune = extents.map(p.prunePredicate).reduceOption(_ || _)
    // polygons prune per-cell (rect/polygon intersection), not by bbox —
    // a concave query skips the bbox cells it never touches
    val polyCells: Option[Seq[(Int, Int)]] = query match {
      case ByPolygon(vs, pad) =>
        require(vs.length >= 3, "ByPolygon needs >= 3 vertices")
        Some(p.partitionIndicesByPolygon(vs, pad))
      case _ => None
    }

    val hasNameFilter = fileExtension != null || globPattern != null || regexPattern != null

    var df =
      if (isHive && !hasNameFilter) {
        // hive flavor: Catalyst prunes dirs from the label predicate.
        // pathGlobFilter keeps non-parquet bucket files (e.g. the
        // reference's bucket_info.yaml) out of the scan.
        var d = rs.read.option("pathGlobFilter", "*.parquet").parquet(bucketDir)
        prune.foreach(c => d = d.where(c))
        polyCells.foreach(c => d = d.where(p.prunePredicateForCells(c)))
        d
      } else if (isHive) {
        // explicit file list (P11 filename filters) + basePath keeps the
        // hive partition columns resolvable
        val files = listFiles(bucketDir, fileExtension, globPattern, regexPattern)
        require(files.nonEmpty, s"no files match the filename filters in $bucketDir")
        var d = rs.read.option("basePath", bucketDir).parquet(files: _*)
        prune.foreach(c => d = d.where(c))
        polyCells.foreach(c => d = d.where(p.prunePredicateForCells(c)))
        d
      } else {
        // directory flavor: prune driver-side, rebuild labels from the path
        val roots = (extents, polyCells) match {
          case (es, _) if es.nonEmpty =>
            // parallel exists() — pruned candidates number in the hundreds
            // and sequential RPCs dominate on remote stores
            BucketFs.filterExisting(
              es.flatMap(p.directoriesByExtent).distinct.map(rel => s"$bucketDir/$rel"))
          case (_, Some(cells)) =>
            BucketFs.filterExisting(
              p.directoriesForCells(cells).map(rel => s"$bucketDir/$rel"))
          case _ => Seq(bucketDir)
        }
        require(roots.nonEmpty, "no partitions intersect the query extent")
        val dataExt = if (fileExtension == null) ".parquet" else fileExtension
        val all = roots.flatMap(r => listFiles(r, dataExt, globPattern, regexPattern))
        require(all.nonEmpty, s"no files to read in $bucketDir")
        val d = rs.read.parquet(all: _*)
        val parts = split(input_file_name(), "/")
        val n = p.order.length
        p.order.zipWithIndex.foldLeft(d) { case (acc, (level, i)) =>
          acc.withColumn(level, element_at(parts, -(n - i + 1)))
        }
      }

    // nanos→timestamp conversion for declared time columns (see above)
    timeColumns.foreach { tc =>
      if (df.schema.exists(f => f.name == tc &&
          f.dataType == org.apache.spark.sql.types.LongType)) {
        df = df.withColumn(tc, expr(s"timestamp_micros($tc div 1000)"))
      }
    }

    // row-level spatial refinement
    query match {
      case Everything => ()
      case AroundPoint(lon, lat, d, _) if !d.isNaN =>
        df = SpatialFilters.filterAroundPoint(spark, df, lon, lat, d, x, y)
      case ByPolygon(vs, _) =>
        df = SpatialFilters.filterByPolygon(df, vs, x, y)
      case _ => // boxes: extent, country, continent, sizeDeg
        df = df.where(extents.map(SpatialFilters.extentPredicate(col(x), col(y), _))
          .reduce(_ || _))
    }

    // user predicates (P3) then projection (P1) then limit (P2)
    filters.foreach { f => df = df.where(f) }
    if (columns.nonEmpty) df = df.select(columns.map(col): _*)
    if (nRows >= 0) {
      // limit() takes an Int; a silent .toInt would wrap a >2^31 request
      // into a small (or negative) limit — refuse loudly instead
      require(nRows <= Int.MaxValue,
        s"nRows must be <= ${Int.MaxValue} (got $nRows); drop the limit to read all rows")
      df = df.limit(nRows.toInt)
    }
    df
  }

  /** Recursive file listing with extension / glob / regex basename filters
    * (reference satbucket/utils/directories.py:75-121). Hadoop-FS based:
    * ONE recursive listing call — a flat LIST on object stores, RPC-batched
    * on HDFS — instead of a sequential driver walk (the reference
    * thread-pools its os.walk, directories.py:124-170; Hadoop's recursive
    * listing is the Spark-native equivalent). Local paths come back as
    * plain paths, remote ones as full URIs. */
  def listFiles(root: String, fileExtension: String = null,
                globPattern: String = null, regexPattern: String = null): Seq[String] = {
    val matcher = Option(globPattern).map(g =>
      FileSystems.getDefault.getPathMatcher(s"glob:$g"))
    val regex = Option(regexPattern).map(_.r)
    val (fs, rootPath) = BucketFs.resolve(root)
    BucketFs.listFileStatuses(fs, rootPath).iterator
      .filter(_.isFile)
      .map(_.getPath)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .filter { f =>
        val name = f.getName
        Option(fileExtension).forall(ext => name.endsWith(ext)) &&
        matcher.forall(_.matches(Paths.get(name))) &&
        regex.forall(_.pattern.matcher(name).lookingAt()) // re.match semantics
      }
      .map(f => if (f.toUri.getScheme == "file") f.toUri.getPath else f.toString)
      .toSeq.sorted
  }

  /** Filepaths grouped by partition (reference get_filepaths_by_partition,
    * satbucket/io.py:110-126): keys are the last n-level relative partition
    * paths (`lon_bin=a/lat_bin=b` for hive flavor, `a/b` for directory
    * flavor), values the matching data files. One recursive listing. */
  def filepathsByPartition(bucketDir: String, fileExtension: String = null,
                           globPattern: String = null,
                           regexPattern: String = null): Map[String, Seq[String]] = {
    val p = BucketInfo.readPartitioning(bucketDir)
    val n = p.order.length
    listFiles(bucketDir, fileExtension, globPattern, regexPattern)
      .groupBy(f => f.split('/').dropRight(1).takeRight(n).mkString("/"))
  }

  private def pad2(e: Extent, pad: Double): Extent =
    if (pad == 0.0) e
    else Extent(e.xmin - pad, e.xmax + pad, e.ymin - pad, e.ymax + pad)
}
