package graft.sources

import java.nio.file.{FileSystems, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.partitioning.{Extent, GeoExtent}
import graft.geo.NamedExtents
import graft.operators.SpatialFilters

/** The read query path (reference read_bucket / satbucket.read,
  * satbucket/readers.py:162-303).
  *
  * One pruned path for both flavors and every query kind, as the
  * reference's `get_filepaths_by_partition` (satbucket/io.py:110-126):
  * the query resolves on the driver to its kept (i, j) cells; their
  * existing directories (or, under filename filters, the matching files
  * below them) are the only paths Spark lists; `Everything` reads the
  * bucket root. One parquet scan follows, with projection + predicate
  * pushdown, then spatial refinement and an optional limit.
  *
  * The flavor decides only where the label columns come from: hive
  * partition columns under `basePath`, or, for directory-flavor buckets
  * (bare `label/` dirs, no hive metadata), the file path segments. Spark
  * sees only the kept cells' files, so no label predicate guards the
  * scan; a query whose cells hold no matching file reads the root and
  * selects nothing, so an empty read keeps the bucket's columns.
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

    // Partition-label strings must come back as strings (no hive partition
    // value type inference), and reference buckets written by pandas/pyarrow
    // carry NANOSECOND timestamps that must be read as long nanos. Both
    // flags live in a cloned reader session (graft.core.ReaderSession) so
    // the caller's session conf is untouched by this read.
    val rs = graft.core.ReaderSession(spark)

    // the query's boxes: a sizeDeg or radius box crossing ±180° is two
    // boxes, one on each side
    val extents: Seq[Extent] = query match {
      case Everything | ByPolygon(_, _) => Nil
      case ByExtent(e, pad) => Seq(pad2(e, pad))
      case ByCountry(n, pad) => Seq(NamedExtents.country(n, pad))
      case ByContinent(n, pad) => Seq(NamedExtents.continent(n, pad))
      case AroundPoint(lon, lat, d, s) => GeoExtent.boxesAroundPoint(lon, lat, d, s)
    }
    // the kept cells: the union of the boxes' cells, or per-cell polygon
    // pruning (rect/polygon intersection — a concave query skips the bbox
    // cells it never touches); Everything keeps the bucket root
    val cells: Option[Seq[(Int, Int)]] = query match {
      case Everything => None
      case ByPolygon(vs, pad) => Some(p.partitionIndicesByPolygon(vs, pad))
      case _ => Some(extents.flatMap(p.cellsByExtent).distinct)
    }
    val dirs = cells.fold(Seq(bucketDir))(cs =>
      BucketFs.existingDirs(bucketDir, p.directoriesForCells(cs)).map(rel => s"$bucketDir/$rel"))
    // P11 filename filters list the files under those directories; without
    // them Spark lists the directories itself
    val hasNameFilter = fileExtension != null || globPattern != null || regexPattern != null
    val listed =
      if (hasNameFilter) dirs.flatMap(listFiles(_, fileExtension, globPattern, regexPattern))
      else dirs
    // no kept cell holds a matching file: read the root (it must hold a file
    // of the filter's extension) and select nothing, keeping its columns
    val empty = listed.isEmpty
    require(!empty || (cells.isDefined &&
        (fileExtension == null || listFiles(bucketDir, fileExtension).nonEmpty)),
      s"no files match the filename filters in $bucketDir")
    // where Spark lists directories, pathGlobFilter keeps non-data bucket
    // files (e.g. the reference's bucket_info.yaml) out of the scan
    val dirScan =
      if (hasNameFilter && !empty) Map.empty[String, String]
      else Map("pathGlobFilter" -> s"*${Option(fileExtension).getOrElse(".parquet")}")

    // the flavor decides only where the labels come from: hive partition
    // columns under basePath, or the bare directory-flavor path segments
    val isHive = !p.flavor.contains("directory")
    val labelSource =
      if (isHive) Map("basePath" -> bucketDir) else Map("recursiveFileLookup" -> "true")
    var df = rs.read.options(dirScan).options(labelSource)
      .parquet((if (empty) Seq(bucketDir) else listed): _*)
    if (!isHive) {
      val parts = split(input_file_name(), "/")
      val n = p.order.length
      df = p.order.zipWithIndex.foldLeft(df) { case (acc, (level, i)) =>
        acc.withColumn(level, element_at(parts, -(n - i + 1)))
      }
    }
    if (empty) df = df.where(lit(false))

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
    * plain paths, remote ones as full URIs.
    *
    * Hidden entries are skipped as Spark's file index skips them: files
    * named `_*` or `.*`, and every file below a directory named `.*`, or
    * `_*` without a `=` (a crashed or in-flight `_staging*` tree). */
  def listFiles(root: String, fileExtension: String = null,
                globPattern: String = null, regexPattern: String = null): Seq[String] = {
    val matcher = Option(globPattern).map(g =>
      FileSystems.getDefault.getPathMatcher(s"glob:$g"))
    val regex = Option(regexPattern).map(_.r)
    val (fs, rootPath) = BucketFs.resolve(root)
    val rootDepth = fs.makeQualified(rootPath).depth
    def hiddenDir(d: Path) =
      d.getName.startsWith(".") || (d.getName.startsWith("_") && !d.getName.contains("="))
    BucketFs.listFileStatuses(fs, rootPath).iterator
      .filter(_.isFile)
      .map(_.getPath)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .filter(f => !Iterator.iterate(f.getParent)(_.getParent)
        .takeWhile(_.depth > rootDepth).exists(hiddenDir))
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
