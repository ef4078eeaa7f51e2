package graft.partitioning

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rectangular extent [xmin, xmax, ymin, ymax]. */
final case class Extent(xmin: Double, xmax: Double, ymin: Double, ymax: Double) {
  require(xmin < xmax, s"xmin must be < xmax: $this")
  require(ymin < ymax, s"ymin must be < ymax: $this")
  def asSeq: Seq[Double] = Seq(xmin, xmax, ymin, ymax)
  def clampTo(other: Extent): Extent = Extent(
    math.max(xmin, other.xmin), math.min(xmax, other.xmax),
    math.max(ymin, other.ymin), math.min(ymax, other.ymax))
}

object Extent {
  def apply(s: Seq[Double]): Extent = Extent(s(0), s(1), s(2), s(3))
}

/** Core 1-D binning math shared by all partitionings.
  *
  * Semantics contract (reference: satbucket/partitioning.py:237-296,
  * satbucket/dataframe.py:37-58): bin edges are `arange(vmin, vmax, size)`
  * with a forced final edge at `vmax` (the last bin may be narrower);
  * value→index uses right-closed intervals `(b_i, b_{i+1}]` with the first
  * bin closed on both sides (pd.cut `right=True, include_lowest=True`);
  * NaN / null / out-of-extent values map to null.
  */
object Binning {

  /** Bin edges: `arange(vmin, vmax, size)` + forced final `vmax` edge.
    *
    * Replicates numpy's arange fill EXACTLY (validated bitwise against
    * np.arange over 500 random configs): buf[0]=start, buf[1]=start+step,
    * then buf[i] = start + i*delta with delta = buf[1]-buf[0]. Neither the
    * closed form start+i*step nor pure cumulative addition matches numpy
    * in general — and these doubles become label strings become directory
    * names, so a 1-ulp divergence breaks on-disk compatibility. */
  def bounds(vmin: Double, vmax: Double, size: Double): Array[Double] = {
    // numpy arange length = ceil((stop-start)/step) evaluated in doubles
    val n = math.ceil((vmax - vmin) / size).toInt
    val base = new Array[Double](n)
    if (n > 0) base(0) = vmin
    if (n > 1) base(1) = vmin + size
    if (n > 2) {
      val delta = base(1) - base(0)
      var i = 2
      while (i < n) { base(i) = vmin + i * delta; i += 1 }
    }
    if (base.nonEmpty && base.last == vmax) base else base :+ vmax
  }

  /** Driver-side value→index with the same semantics as [[binIndex]]:
    * division guess + ±1 correction against the exact bounds. */
  def indexOf(v: Double, bounds: Array[Double], vmin: Double, vmax: Double,
              size: Double): Int = {
    val n = bounds.length - 1
    if (v.isNaN || v < vmin || v > vmax) return -1
    val raw = math.ceil((v - vmin) / size).toInt - 1
    val k0 = math.min(math.max(raw, 0), n - 1)
    if (k0 > 0 && v <= bounds(k0)) k0 - 1
    else if (k0 < n - 1 && v > bounds(k0 + 1)) k0 + 1
    else k0
  }

  /** Centroids = midpoints of consecutive bounds (add-then-halve, matching
    * the reference's `(bounds[:-1]+bounds[1:])/2` float arithmetic). */
  def centroids(bounds: Array[Double]): Array[Double] =
    Array.tabulate(bounds.length - 1)(i => (bounds(i) + bounds(i + 1)) / 2.0)

  /** Executor-side value→bin-index Column with pd.cut semantics.
    *
    * O(1) uniform-bin division guess plus a ±1 comparison correction
    * against the EXACT bounds (element_at on the literal bounds array —
    * the numpy-arange doubles, see [[bounds]]), so results match pd.cut's
    * edge comparisons bit-for-bit. The guess can only be off by ±1: the
    * arange drift is ulp-scale, a vanishing fraction of a bin. Codegen-
    * friendly (builtins only, no UDF; the array literal is a plan constant).
    */
  def binIndex(value: Column, boundsArr: Array[Double],
               vmin: Double, vmax: Double, size: Double): Column = {
    val n = boundsArr.length - 1
    val b = typedLit(boundsArr.toSeq)
    val v = value.cast("double")
    val raw = (ceil((v - lit(vmin)) / lit(size)) - 1).cast("int")
    val k0 = least(greatest(raw, lit(0)), lit(n - 1))
    val adjusted =
      when(k0 > 0 && v <= element_at(b, k0 + 1), k0 - 1)
        .when(k0 < n - 1 && v > element_at(b, k0 + 2), k0 + 1)
        .otherwise(k0)
    when(v.isNull || isnan(v) || v < vmin || v > vmax, lit(null).cast("int"))
      .otherwise(adjusted)
  }

  /** Centroid of bin `k` as a Column: exact lookup in the centroid array. */
  def centroidOfIndex(k: Column, centroidsArr: Array[Double]): Column = {
    val c = typedLit(centroidsArr.toSeq)
    when(k.isNull, lit(null).cast("double"))
      .otherwise(element_at(c, k + 1))
  }

  /** Number of decimals in the shortest decimal representation of `size`
    * (reference get_n_decimals, satbucket/partitioning.py:279-288). */
  def nDecimals(size: Double): Int = {
    val s = size.toString // shortest round-trip repr, same as Python str()
    val i = s.indexOf('.')
    if (i < 0) 0
    else if (s.endsWith(".0")) 1 // "1.0" has one decimal char
    else s.length - i - 1
  }
}

/** Base of the three partitioning schemes. Pure driver-side metadata (small
  * arrays) exposing executor-side Column builders; the Spark analogue of
  * the reference's Base2DPartitioning (satbucket/partitioning.py:366-823).
  *
  * `flavor`: "directory" → bare `label/` directory names; "hive" or unset
  * → `level=label/` names (Spark-native partitionBy layout). The
  * reference's null flavor maps to "directory" when its manifest is read
  * (BucketInfo).
  */
sealed trait Partitioning2D extends Serializable {
  def extent: Extent
  def levels: Seq[String]
  def order: Seq[String]
  def flavor: Option[String]
  def xBounds: Array[Double]
  def yBounds: Array[Double]

  /** Called from concrete-class constructors (trait body runs before
    * subclass vals are initialized, so the checks can't live here). */
  protected def validateBase(): Unit = {
    require(order.sorted == levels.sorted,
      s"order $order must be a permutation of levels $levels")
    require(flavor.forall(f => f == "hive" || f == "directory"),
      s"invalid flavor $flavor")
  }

  lazy val xCentroids: Array[Double] = Binning.centroids(xBounds)
  lazy val yCentroids: Array[Double] = Binning.centroids(yBounds)
  def nX: Int = xCentroids.length
  def nY: Int = yCentroids.length
  /** (n_y, n_x) like the reference's `shape`. */
  def shape: (Int, Int) = (nY, nX)
  def nPartitions: Int = nX * nY
  def nLevels: Int = levels.length

  /** Default centroid column names for addCentroids. */
  def xCoord: String = "x_c"
  def yCoord: String = "y_c"

  /** Coordinate reference system carried on every grid product and bucket
    * manifest (reference attaches EPSG:4326 CRS to each xarray output,
    * satbucket/analysis.py:253-254, partitioning.py:947-956,1189).
    * Geographic partitionings (LonLat, Tile) are WGS84; plain XY grids
    * override to "cartesian" — stamping abstract x/y units as lon/lat
    * degrees would silently mis-georeference them. */
  def crs: String = "EPSG:4326"

  /** Spark column metadata tagging a coordinate column with [[crs]] —
    * GIS consumers read it off the schema after any select/join chain. */
  def crsMetadata: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putString("crs", crs).build()

  def xSize: Double
  def ySize: Double

  def xIndexCol(x: Column): Column =
    Binning.binIndex(x, xBounds, extent.xmin, extent.xmax, xSize)
  def yIndexCol(y: Column): Column =
    Binning.binIndex(y, yBounds, extent.ymin, extent.ymax, ySize)

  def xCentroidCol(x: Column): Column =
    Binning.centroidOfIndex(xIndexCol(x), xCentroids)
  def yCentroidCol(y: Column): Column =
    Binning.centroidOfIndex(yIndexCol(y), yCentroids)

  /** Per-level label Columns for coordinates (x, y) — null for invalid rows. */
  def labelCols(x: Column, y: Column): Seq[(String, Column)] =
    labelsByIndices(xIndexCol(x), yIndexCol(y))

  /** Per-level label Columns from precomputed bin indices. */
  def labelsByIndices(xIdx: Column, yIdx: Column): Seq[(String, Column)]

  /** Label strings of partition (i, j) — driver-side, for pruning. */
  def labelsOfIndices(i: Int, j: Int): Seq[String]

  /** Rows with a valid (in-extent, non-null, non-NaN) coordinate pair —
    * exactly the rows whose labels/centroids are non-null. Filtering on
    * THIS instead of `label IS NOT NULL` matters twice over: the predicate
    * pushes to parquet as simple range filters (row-group skipping), and it
    * keeps `PushDownPredicates` from substituting the whole label
    * expression tree into the filter (which blows generated code past JIT
    * limits — observed 5-20× slowdowns). */
  def validCoords(x: Column, y: Column): Column = {
    def ok(v: Column, lo: Double, hi: Double) = {
      val d = v.cast("double")
      d.isNotNull && !isnan(d) && d >= lo && d <= hi
    }
    ok(x, extent.xmin, extent.xmax) && ok(y, extent.ymin, extent.ymax)
  }

  /** Append one column per level; drop (default) or reject invalid rows
    * (reference add_labels, satbucket/partitioning.py:637-679).
    *
    * The bin index is STAGED as a real column before centroids/labels
    * reference it: inlining it everywhere re-expands the (already nested)
    * when/ceil tree combinatorially — staging keeps codegen small and each
    * index computed once.
    */
  def addLabels(df: DataFrame, x: String, y: String,
                removeInvalidRows: Boolean = true): DataFrame = {
    if (!removeInvalidRows) {
      val nBad = df.where(!validCoords(col(x), col(y))).count()
      if (nBad > 0) throw new IllegalArgumentException(
        s"$nBad rows have coordinates outside the partitioning extent")
    }
    val staged = df.where(validCoords(col(x), col(y)))
      .withColumn("__xi", xIndexCol(col(x)))
      .withColumn("__yi", yIndexCol(col(y)))
    labelsByIndices(col("__xi"), col("__yi")).foldLeft(staged) {
      case (d, (name, c)) => d.withColumn(name, c)
    }.drop("__xi", "__yi")
  }

  /** Append centroid columns (reference add_centroids, :681-732). */
  def addCentroids(df: DataFrame, x: String, y: String,
                   xCoordName: String = null, yCoordName: String = null,
                   removeInvalidRows: Boolean = true): DataFrame = {
    val xc = Option(xCoordName).getOrElse(xCoord)
    val yc = Option(yCoordName).getOrElse(yCoord)
    if (!removeInvalidRows) {
      val nBad = df.where(!validCoords(col(x), col(y))).count()
      if (nBad > 0) throw new IllegalArgumentException(
        s"$nBad rows have coordinates outside the partitioning extent")
    }
    df.where(validCoords(col(x), col(y)))
      .withColumn("__xi", xIndexCol(col(x)))
      .withColumn("__yi", yIndexCol(col(y)))
      .withColumn(xc, Binning.centroidOfIndex(col("__xi"), xCentroids))
      .withColumn(yc, Binning.centroidOfIndex(col("__yi"), yCentroids))
      .drop("__xi", "__yi")
  }

  /** (x indices, y indices) of partitions intersecting `queryExtent`
    * (reference get_partitions_by_extent, :599-620: clamp the extent, map
    * its corners to centroids, take every centroid in that closed range). */
  def partitionIndicesByExtent(queryExtent: Extent): (Array[Int], Array[Int]) = {
    val q = queryExtent.clampTo(extent)
    val cxMin = xCentroids(Binning.indexOf(q.xmin, xBounds, extent.xmin, extent.xmax, xSize))
    val cxMax = xCentroids(Binning.indexOf(q.xmax, xBounds, extent.xmin, extent.xmax, xSize))
    val cyMin = yCentroids(Binning.indexOf(q.ymin, yBounds, extent.ymin, extent.ymax, ySize))
    val cyMax = yCentroids(Binning.indexOf(q.ymax, yBounds, extent.ymin, extent.ymax, ySize))
    val xs = xCentroids.indices.filter(i => xCentroids(i) >= cxMin && xCentroids(i) <= cxMax)
    val ys = yCentroids.indices.filter(j => yCentroids(j) >= cyMin && yCentroids(j) <= cyMax)
    (xs.toArray, ys.toArray)
  }

  /** level → distinct labels intersecting the extent. For 2-level schemes
    * this is the per-axis label sets whose cross-product covers the query;
    * for 1-level tile ids it is the exact id list. */
  def partitionsByExtent(queryExtent: Extent): Map[String, Seq[String]]

  /** (i, j) cells intersecting `queryExtent`: the cross product of
    * [[partitionIndicesByExtent]]. */
  def cellsByExtent(queryExtent: Extent): Seq[(Int, Int)] = {
    val (xs, ys) = partitionIndicesByExtent(queryExtent)
    for { j <- ys.toSeq; i <- xs.toSeq } yield (i, j)
  }

  /** Directory trees (relative) for the labels dict, obeying order+flavor
    * (reference _directories / get_directories, :253-272). */
  def directoriesByExtent(queryExtent: Extent): Seq[String] =
    directoriesForCells(cellsByExtent(queryExtent))

  /** Exact (i, j) cell list whose rectangle intersects the polygon: the
    * bbox candidate set refined by a per-cell rectangle/polygon
    * intersection test (graft.functions.Polygon.rectIntersects). For a
    * concave query this prunes the cells the bounding box over-selects —
    * e.g. a C-shape touches ~2/3 of its bbox cells, and at 100 TB the
    * skipped third is entire directory trees never listed or scanned.
    * `padding` dilates each cell rectangle (conservative: superset of
    * padding the polygon itself). */
  def partitionIndicesByPolygon(vertices: Seq[(Double, Double)],
                                padding: Double = 0.0): Seq[(Int, Int)] = {
    require(vertices.length >= 3, "polygon needs >= 3 vertices")
    require(padding >= 0.0, s"padding must be >= 0, got $padding")
    val pxs = vertices.map(_._1).toArray
    val pys = vertices.map(_._2).toArray
    val bbox = Extent(pxs.min - padding, pxs.max + padding,
      pys.min - padding, pys.max + padding)
    val (cxs, cys) = partitionIndicesByExtent(bbox)
    for {
      j <- cys.toSeq
      i <- cxs.toSeq
      if graft.functions.Polygon.rectIntersects(pxs, pys,
        xBounds(i) - padding, xBounds(i + 1) + padding,
        yBounds(j) - padding, yBounds(j + 1) + padding)
    } yield (i, j)
  }

  /** Label predicate selecting EXACTLY the given cells — unlike a per-axis
    * `isin` cross product, non-rectangular cell sets (polygon queries,
    * boxes split at ±180°) stay non-rectangular. Grouped by first-level
    * label so the predicate is O(distinct x-labels) OR terms, each with
    * one `isin`; on hive partition columns Catalyst evaluates it against
    * partition values only. */
  def prunePredicateForCells(cells: Seq[(Int, Int)]): Column = {
    require(cells.nonEmpty, "no partitions intersect the query polygon")
    if (nLevels == 1) {
      val labs = cells.map { case (i, j) => labelsOfIndices(i, j).head }.distinct
      col(levels.head).isin(labs: _*)
    } else {
      cells.map { case (i, j) => labelsOfIndices(i, j) match {
        case Seq(xl, yl) => (xl, yl)
        case other => throw new IllegalStateException(s"expected 2 labels, got $other")
      }}.groupBy(_._1).toSeq.sortBy(_._1).map { case (xl, pairs) =>
        col(levels(0)) === xl && col(levels(1)).isin(pairs.map(_._2).distinct: _*)
      }.reduce(_ || _)
    }
  }

  /** Directory trees (relative) for an explicit cell list. */
  def directoriesForCells(cells: Seq[(Int, Int)]): Seq[String] =
    cells.map { case (i, j) => directoryOf(i, j) }

  def directoryOf(i: Int, j: Int): String =
    directoryOfLabels(levels.zip(labelsOfIndices(i, j)).toMap)

  /** Relative directory of the cell whose level → label values are
    * given, in `order`: `level=label` components (label escaped as Spark's
    * `partitionBy` escapes it) unless the flavor is "directory", then bare
    * `label` components. The one place the on-disk cell layout is decided:
    * readers prune with it and every bucket writer lifts its staged output
    * through it. */
  def directoryOfLabels(labels: Map[String, String]): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val bare = flavor.contains("directory")
    order.map { lvl =>
      if (bare) labels(lvl) else s"$lvl=${escapePathName(labels(lvl))}"
    }.mkString("/")
  }

  /** Serializable settings (reference to_dict) for the bucket manifest. */
  def toDict: Map[String, Any]

  // ---- grid geometry (B16/B18, reference partitioning.py:494-570, 947) ----

  /** Quadmesh corner grids of shape (nY+1, nX+1) — the vertex lattice a
    * pcolormesh-style plot consumes. origin "bottom" lists rows south→north
    * (bounds order); "top" flips. */
  def quadmeshCorners(origin: String = "bottom"): (Array[Array[Double]], Array[Array[Double]]) = {
    require(origin == "bottom" || origin == "top", s"invalid origin $origin")
    val ys = if (origin == "bottom") yBounds else yBounds.reverse
    val xc = ys.map(_ => xBounds.clone())
    val yc = ys.map(yv => Array.fill(xBounds.length)(yv))
    (xc, yc)
  }

  /** Per-cell quadrilateral vertices, shape (nY*nX, 4, 2); ccw starting at
    * the (xmin, ymin) corner (ccw=false gives cw). */
  def vertices(ccw: Boolean = true): Array[Array[Array[Double]]] = {
    val cells = for {
      j <- 0 until nY
      i <- 0 until nX
    } yield {
      val (x0, x1) = (xBounds(i), xBounds(i + 1))
      val (y0, y1) = (yBounds(j), yBounds(j + 1))
      val ring = Array(Array(x0, y0), Array(x1, y0), Array(x1, y1), Array(x0, y1))
      if (ccw) ring else ring.reverse
    }
    cells.toArray
  }

  /** Per-index cell vertices (reference query_vertices_by_indices,
    * partitioning.py:549-565): for each (xi, yi) pair the 4 corners in
    * reference order — ccw: top_left, bottom_left, bottom_right, top_right;
    * cw: top_left, top_right, bottom_right, bottom_left. */
  def queryVerticesByIndices(xIndices: Seq[Int], yIndices: Seq[Int],
                             ccw: Boolean = true): Array[Array[Array[Double]]] = {
    require(xIndices.length == yIndices.length, "index arrays must align")
    xIndices.zip(yIndices).map { case (i, j) =>
      require(i >= 0 && i < nX && j >= 0 && j < nY, s"index ($i,$j) out of grid")
      val (x0, x1) = (xBounds(i), xBounds(i + 1))
      val (y0, y1) = (yBounds(j), yBounds(j + 1))
      val tl = Array(x0, y1); val tr = Array(x1, y1)
      val br = Array(x1, y0); val bl = Array(x0, y0)
      if (ccw) Array(tl, bl, br, tr) else Array(tl, tr, br, bl)
    }.toArray
  }

  /** WKT polygons for every cell (row-major from the south-west cell) —
    * the engine-portable equivalent of the reference's to_shapely
    * (partitioning.py:545-547): consumers rebuild geometry from WKT with
    * any GIS library, no shapely binding required. */
  def toWkt(): Array[String] =
    vertices(ccw = true).map { ring =>
      val pts = (ring :+ ring.head)
        .map(p => s"${p(0)} ${p(1)}").mkString(", ")
      s"POLYGON (($pts))"
    }

  /** Dense template grid as a DataFrame: every (x centroid, y centroid)
    * cell with a zero value column (reference dataset_grid — the remap
    * target for gridded cubes). */
  def datasetGrid(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val xs = xCentroids.toSeq.toDF(xCoord)
    val ys = yCentroids.toSeq.toDF(yCoord)
    xs.crossJoin(ys).withColumn("data", lit(0.0))
      .withColumn(xCoord, col(xCoord).as(xCoord, crsMetadata))
      .withColumn(yCoord, col(yCoord).as(yCoord, crsMetadata))
  }
}

object Partitioning2D {
  /** Reflective-factory analogue of the reference's manifest round-trip
    * (satbucket/io.py:42-49) — rebuild from `toDict` output. */
  def fromDict(d: Map[String, Any]): Partitioning2D = {
    def seqD(k: String): Seq[Double] =
      d(k).asInstanceOf[Seq[Any]].map(v => v.toString.toDouble)
    def seqS(k: String): Seq[String] =
      d(k).asInstanceOf[Seq[Any]].map(_.toString)
    def optS(k: String): Option[String] =
      d.get(k).flatMap(v => Option(v)).map(_.toString).filter(_ != "null")
    val size = seqD("size")
    val extent = Extent(seqD("extent"))
    d("class").toString match {
      case "XYPartitioning" =>
        XYPartitioning(size = (size(0), size(1)), extent = extent,
          levels = seqS("levels"), order = seqS("order"), flavor = optS("flavor"),
          labelsDecimals = d.get("labels_decimals").map(_.asInstanceOf[Seq[Any]]
            .map(_.toString.toDouble.toInt)).map(s => (s(0), s(1))))
      case "LonLatPartitioning" =>
        LonLatPartitioning(size = (size(0), size(1)), extent = extent,
          levels = seqS("levels"), order = seqS("order"), flavor = optS("flavor"),
          labelsDecimals = d.get("labels_decimals").map(_.asInstanceOf[Seq[Any]]
            .map(_.toString.toDouble.toInt)).map(s => (s(0), s(1))))
      case "TilePartitioning" =>
        TilePartitioning(size = (size(0), size(1)), extent = extent,
          nLevels = d("n_levels").toString.toDouble.toInt,
          levels = seqS("levels"), order = seqS("order"), flavor = optS("flavor"),
          origin = d("origin").toString, direction = d("direction").toString,
          justify = d("justify").toString.toBoolean)
      case other => throw new IllegalArgumentException(s"unknown partitioning class $other")
    }
  }
}

/** Regular x/y binning with centroid-string labels
  * (reference XYPartitioning, satbucket/partitioning.py:825-957).
  *
  * Label contract (B5): label = str(round(centroid, labels_decimals)),
  * with int cast first when decimals == 0 — byte-identical to the
  * reference so directory names (and on-disk layout) match.
  */
class XYPartitioning(
    val size: (Double, Double),
    val extent: Extent,
    val levels: Seq[String],
    orderOpt: Option[Seq[String]],
    val flavor: Option[String],
    labelsDecimalsOpt: Option[(Int, Int)]
) extends Partitioning2D {

  val order: Seq[String] = orderOpt.getOrElse(levels)
  val labelsDecimals: (Int, Int) = labelsDecimalsOpt.getOrElse(
    (Binning.nDecimals(size._1) + 1, Binning.nDecimals(size._2) + 1))

  def xSize: Double = size._1
  def ySize: Double = size._2
  val xBounds: Array[Double] = Binning.bounds(extent.xmin, extent.xmax, size._1)
  val yBounds: Array[Double] = Binning.bounds(extent.ymin, extent.ymax, size._2)
  validateBase()

  def labelsByIndices(xIdx: Column, yIdx: Column): Seq[(String, Column)] = {
    val xc = Binning.centroidOfIndex(xIdx, xCentroids)
    val yc = Binning.centroidOfIndex(yIdx, yCentroids)
    Seq(
      levels(0) -> centroidLabelCol(xc, labelsDecimals._1),
      levels(1) -> centroidLabelCol(yc, labelsDecimals._2))
  }

  /** Column version of the label formatting (see labelString).
    * np.round is scaled-rint (half-even on the scaled double); double→string
    * uses the shortest-round-trip repr in both the JVM and Python. */
  private def centroidLabelCol(centroid: Column, decimals: Int): Column =
    if (decimals == 0) {
      // np.round(c, 0) (half-even) then astype(int) (truncate) then str —
      // after rint the value is integral so the truncation is exact.
      val r = rintCol(centroid)
      when(centroid.isNull, lit(null).cast("string"))
        .otherwise(r.cast("long").cast("string"))
    } else {
      val scale = math.pow(10.0, decimals)
      val r = rintCol(centroid * lit(scale)) / lit(scale)
      when(centroid.isNull, lit(null).cast("string"))
        .otherwise(r.cast("string"))
    }

  /** Math.rint as a Column (round-half-even, matches np.rint). */
  private def rintCol(c: Column): Column = {
    // bround on doubles goes through decimal repr; rint must stay in float
    // space to match numpy. floor(x+0.5) with half-even correction:
    val f = floor(c + lit(0.5))
    when((c + lit(0.5)) === f && (f % 2.0) =!= 0.0, f - 1.0).otherwise(f)
  }

  /** Driver-side label of centroid value (exactly the executor formula). */
  def labelString(centroid: Double, decimals: Int): String =
    if (decimals == 0) math.rint(centroid).toLong.toString
    else {
      val scale = math.pow(10.0, decimals)
      (math.rint(centroid * scale) / scale).toString
    }

  def labelsOfIndices(i: Int, j: Int): Seq[String] = Seq(
    labelString(xCentroids(i), labelsDecimals._1),
    labelString(yCentroids(j), labelsDecimals._2))

  def xLabels: Array[String] =
    xCentroids.map(c => labelString(c, labelsDecimals._1))
  def yLabels: Array[String] =
    yCentroids.map(c => labelString(c, labelsDecimals._2))

  def partitionsByExtent(queryExtent: Extent): Map[String, Seq[String]] = {
    val (xs, ys) = partitionIndicesByExtent(queryExtent)
    Map(
      levels(0) -> xs.map(i => labelString(xCentroids(i), labelsDecimals._1)).toSeq,
      levels(1) -> ys.map(j => labelString(yCentroids(j), labelsDecimals._2)).toSeq)
  }

  def toDict: Map[String, Any] = Map(
    "class" -> className,
    "extent" -> extent.asSeq,
    "size" -> Seq(size._1, size._2),
    "levels" -> levels,
    "order" -> order,
    "flavor" -> flavor.orNull,
    "labels_decimals" -> Seq(labelsDecimals._1, labelsDecimals._2))

  protected def className: String = "XYPartitioning"

  /** Abstract cartesian axes — NOT geographic (LonLatPartitioning
    * restores the WGS84 tag). */
  override def crs: String = "cartesian"
}

object XYPartitioning {
  def apply(size: (Double, Double), extent: Extent,
            levels: Seq[String] = Seq("xbin", "ybin"),
            order: Seq[String] = null, flavor: Option[String] = None,
            labelsDecimals: Option[(Int, Int)] = None): XYPartitioning =
    new XYPartitioning(size, extent, levels, Option(order), flavor, labelsDecimals)
}

/** Geographic partitioning over lon/lat (reference LonLatPartitioning,
  * satbucket/partitioning.py:1089-1190). Default hive flavor and
  * whole-Earth extent; centroid columns named lon_c/lat_c. */
class LonLatPartitioning(
    size: (Double, Double), extent: Extent, levels: Seq[String],
    orderOpt: Option[Seq[String]], flavor: Option[String],
    labelsDecimalsOpt: Option[(Int, Int)]
) extends XYPartitioning(size, extent, levels, orderOpt, flavor, labelsDecimalsOpt) {
  override def xCoord: String = "lon_c"
  override def yCoord: String = "lat_c"
  override protected def className: String = "LonLatPartitioning"
  override def crs: String = "EPSG:4326"

  /** Partitions within `distance` meters (or a `sizeDeg`-wide box) of a
    * point — geographic extent math, then extent pruning; the labels of a
    * box split at ±180° are the union over its two sides, which share one
    * latitude span. */
  def partitionsAroundPoint(lon: Double, lat: Double,
                            distance: Double = Double.NaN,
                            sizeDeg: Double = Double.NaN): Map[String, Seq[String]] =
    GeoExtent.boxesAroundPoint(lon, lat, distance, sizeDeg).map(partitionsByExtent)
      .reduce((a, b) => a.map { case (lvl, labs) => lvl -> (labs ++ b(lvl)).distinct })
}

object LonLatPartitioning {
  def apply(size: (Double, Double),
            extent: Extent = Extent(-180, 180, -90, 90),
            levels: Seq[String] = Seq("lon_bin", "lat_bin"),
            order: Seq[String] = null, flavor: Option[String] = Some("hive"),
            labelsDecimals: Option[(Int, Int)] = None): LonLatPartitioning =
    new LonLatPartitioning(size, extent, levels, Option(order), flavor, labelsDecimals)
}

/** Tile partitioning: integer tile labels, 1-level (flat id) or 2-level
  * (x,y), with origin flip and optional zero-justify (reference
  * TilePartitioning, satbucket/partitioning.py:960-1086 and
  * get_tile_*_labels :310-348). */
class TilePartitioning(
    val size: (Double, Double),
    val extent: Extent,
    val nLevelsParam: Int,
    val levels: Seq[String],
    orderOpt: Option[Seq[String]],
    val flavor: Option[String],
    val origin: String,
    val direction: String,
    val justify: Boolean
) extends Partitioning2D {
  require(nLevelsParam == 1 || nLevelsParam == 2, "n_levels must be 1 or 2")
  require(levels.length == nLevelsParam,
    s"$nLevelsParam levels expected, got ${levels.length}")
  require(origin == "top" || origin == "bottom", s"invalid origin $origin")
  require(direction == "x" || direction == "y", s"invalid direction $direction")

  val order: Seq[String] = orderOpt.getOrElse(levels)
  def xSize: Double = size._1
  def ySize: Double = size._2
  val xBounds: Array[Double] = Binning.bounds(extent.xmin, extent.xmax, size._1)
  val yBounds: Array[Double] = Binning.bounds(extent.ymin, extent.ymax, size._2)
  validateBase()

  private def justifyCol(c: Column, width: Int): Column =
    if (justify) lpad(c, width, "0") else c

  private def flipY(yIdx: Column): Column =
    if (origin == "top") yIdx else lit(nY - 1) - yIdx

  private def flipY(j: Int): Int = if (origin == "top") j else nY - 1 - j

  def labelsByIndices(xIdx: Column, yIdx: Column): Seq[(String, Column)] = {
    if (nLevelsParam == 2) {
      val xLab = justifyCol(xIdx.cast("string"), nX.toString.length)
      val yLab = justifyCol(flipY(yIdx).cast("string"), nY.toString.length)
      Seq(levels(0) -> xLab, levels(1) -> yLab)
    } else {
      // ravel_multi_index((yFlipped, x), (nY, nX), order = C for
      // direction "x" (row-major), F for "y" (column-major))
      val flat =
        if (direction == "x") flipY(yIdx) * nX + xIdx
        else xIdx * nY + flipY(yIdx)
      val lab = justifyCol(flat.cast("string"), (nX.toLong * nY).toString.length)
      Seq(levels(0) -> lab)
    }
  }

  def labelsOfIndices(i: Int, j: Int): Seq[String] = {
    if (nLevelsParam == 2) {
      val x = i.toString
      val y = flipY(j).toString
      if (justify) Seq(
        ("0" * (nX.toString.length - x.length)) + x,
        ("0" * (nY.toString.length - y.length)) + y)
      else Seq(x, y)
    } else {
      val flat =
        if (direction == "x") flipY(j).toLong * nX + i
        else i.toLong * nY + flipY(j)
      val s = flat.toString
      val w = (nX.toLong * nY).toString.length
      Seq(if (justify) ("0" * math.max(0, w - s.length)) + s else s)
    }
  }

  def partitionsByExtent(queryExtent: Extent): Map[String, Seq[String]] = {
    val (xs, ys) = partitionIndicesByExtent(queryExtent)
    if (nLevelsParam == 2) Map(
      levels(0) -> xs.map(i => labelsOfIndices(i, 0).head).toSeq.distinct,
      levels(1) -> ys.map(j => labelsOfIndices(0, j)(1)).toSeq.distinct)
    else Map(
      levels(0) -> (for { j <- ys.toSeq; i <- xs.toSeq }
        yield labelsOfIndices(i, j).head))
  }

  def toDict: Map[String, Any] = Map(
    "class" -> "TilePartitioning",
    "extent" -> extent.asSeq,
    "size" -> Seq(size._1, size._2),
    "n_levels" -> nLevelsParam,
    "levels" -> levels,
    "origin" -> origin,
    "direction" -> direction,
    "justify" -> justify,
    "order" -> order,
    "flavor" -> flavor.orNull)
}

object TilePartitioning {
  def apply(size: (Double, Double), extent: Extent, nLevels: Int,
            levels: Seq[String] = null, order: Seq[String] = null,
            flavor: Option[String] = None, origin: String = "bottom",
            direction: String = "x", justify: Boolean = false): TilePartitioning = {
    val lv = Option(levels).getOrElse(
      if (nLevels == 1) Seq("tile") else Seq("x", "y"))
    new TilePartitioning(size, extent, nLevels, lv, Option(order), flavor,
      origin, direction, justify)
  }
}

/** Geographic extent helpers (reference gpm-api extent-around-point math,
  * used by LonLatPartitioning.get_partitions_around_point). Spherical
  * approximation, slightly inflated so pruning stays a superset — final
  * row-level filters decide exact membership. */
object GeoExtent {
  private val EarthRadiusM = 6371008.8

  /** The boxes within `distance` meters, or the `sizeDeg`-wide box,
    * around a point. One Extent cannot wrap: a box crossing ±180° comes
    * back as two extents, one on each side; a box 360° wide (a `sizeDeg`
    * from 360°, or a radius cap reaching a pole) is one full-longitude
    * box. */
  def boxesAroundPoint(lon: Double, lat: Double,
                       distance: Double = Double.NaN,
                       sizeDeg: Double = Double.NaN): Seq[Extent] = {
    val (dLon, dLat) =
      if (!distance.isNaN) {
        // exact bounding box of the spherical cap of angular radius δ: a
        // cap reaching a pole spans every longitude, otherwise its
        // half-width is asin(sin δ / cos lat)
        val delta = distance / EarthRadiusM
        val dLat = math.toDegrees(delta) * 1.02
        val dLon =
          if (math.abs(lat) + dLat >= 90) 180.0
          else math.toDegrees(math.asin(
            math.sin(delta) / math.cos(math.toRadians(lat)))) * 1.02
        (dLon, dLat)
      } else {
        require(!sizeDeg.isNaN, "provide distance (m) or sizeDeg (degrees)")
        (sizeDeg / 2, sizeDeg / 2)
      }
    val (ymin, ymax) = (math.max(lat - dLat, -90.0), math.min(lat + dLat, 90.0))
    if (dLon >= 180) Seq(Extent(-180, 180, ymin, ymax))
    else if (lon - dLon < -180)
      Seq(Extent(-180, lon + dLon, ymin, ymax), Extent(lon - dLon + 360, 180, ymin, ymax))
    else if (lon + dLon > 180)
      Seq(Extent(lon - dLon, 180, ymin, ymax), Extent(-180, lon + dLon - 360, ymin, ymax))
    else Seq(Extent(lon - dLon, lon + dLon, ymin, ymax))
  }

  /** One extent covering [[boxesAroundPoint]]: a box split at ±180°
    * widens to the full longitude span. */
  def aroundPoint(lon: Double, lat: Double,
                  distance: Double = Double.NaN,
                  sizeDeg: Double = Double.NaN): Extent = {
    val bs = boxesAroundPoint(lon, lat, distance, sizeDeg)
    Extent(bs.map(_.xmin).min, bs.map(_.xmax).max, bs.map(_.ymin).min, bs.map(_.ymax).max)
  }
}
