package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.parallel.CollectionConverters._
import scala.util.{Try, Failure, Success}
import graft.partitioning.Partitioning2D

/** Bucket ETL writers (reference write_bucket / write_granule_bucket /
  * write_granules_bucket, satbucket/routines.py:66-318, and the sink core
  * satbucket/writers.py).
  *
  * Layout: every writer writes both flavors, hive (`level=label/` dirs)
  * and directory (bare `label/` dirs), in any level order. A hive
  * `writeBucket` is one direct `partitionBy(order)` write. Every other
  * write — per-granule ingest, merge, and directory-flavor `writeBucket` —
  * stages Spark's hive-style `partitionBy` output and moves it into the
  * bucket with [[liftStaged]], the one mapping from staged output to
  * bucket layout. File sizing maps the reference's "500MB"-style
  * row-group targets onto `maxRecordsPerFile` + `parquet.block.size`
  * estimated from sampled bytes/row (writers.py:95-112).
  */
object BucketWriter {

  /** Above this many staged (directory, period) units a [[liftStaged]]
    * pass runs as a Spark job on executors instead of the driver thread
    * pool. */
  private[sources] val DistributeRenamesAbove = 1024

  /** Staged partition level carrying merge's temporal period. */
  private[sources] val PeriodLevel = "__period"

  /** Move a staged `partitionBy(p.order [:+ PeriodLevel])` tree into the
    * bucket layout — the one staging-to-layout mapping of every writer.
    *
    * ONE recursive listing finds the staged parquet files; each staged
    * `level=value[/__period=P]` directory is one unit of work, mapped to
    * its destination through `p.directoryOfLabels`. A unit creates its
    * destination directory, then moves its files rename-first to
    * `name(period, i, stagedName)`: `i` counts the unit's files in path
    * order, and the period is "" when none was staged. With `update`, a
    * unit first lists its directory and deletes the old files of its
    * period, `{period}_*` (reference routines.py:791-810). Past
    * `distributeAbove` units the work runs as one Spark job instead of on
    * the driver pool, so at 10^5-10^6 staged files rename throughput
    * scales with the cluster instead of one driver's metadata RPC budget.
    * Deletes the staging tree; returns the number of files moved. */
  private[sources] def liftStaged(spark: SparkSession, staging: String,
                                  bucketDir: String, p: Partitioning2D,
                                  name: (String, Int, String) => String,
                                  update: Boolean = false,
                                  distributeAbove: Int = DistributeRenamesAbove): Int = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    val (fs, stagingPath) = BucketFs.resolve(staging)
    val staged = BucketFs.listFileStatuses(fs, stagingPath).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    // (destination dir, period, staged file → new name) per staged dir
    val work = staged.groupBy(_.getParent).toSeq.map { case (dir, files) =>
      val rel = BucketFs.relativize(fs, stagingPath, dir)
      val kv = rel.split('/').toSeq.map { c =>
        val i = c.indexOf('=')
        require(i > 0, s"staged directory '$rel' is not hive-style")
        c.take(i) -> unescapePathName(c.drop(i + 1))
      }
      require(kv.map(_._1).filter(_ != PeriodLevel) == p.order,
        s"staged directory '$rel' does not follow the levels ${p.order}")
      val labels = kv.toMap
      val period = labels.getOrElse(PeriodLevel, "")
      val moves = files.sortBy(_.toString).zipWithIndex.map { case (f, i) =>
        f.toString -> name(period, i, f.getName)
      }
      (new Path(bucketDir, p.directoryOfLabels(labels)).toString, period, moves)
    }
    // function VALUE over serializable locals only, so the executor
    // closure below serializes
    val doUpdate = update
    val handle: (FileSystem, (String, String, Seq[(String, String)])) => Unit = {
      case (fsx, (dir, period, moves)) =>
        val dst = new Path(dir)
        BucketFs.mkdirs(fsx, dst)
        if (doUpdate) fsx.listStatus(dst).iterator
          .filter(_.getPath.getName.startsWith(s"${period}_"))
          .foreach(st => fsx.delete(st.getPath, false))
        moves.foreach { case (src, n) => BucketFs.move(fsx, new Path(src), new Path(dst, n)) }
    }
    if (work.size <= distributeAbove) {
      val par = work.par
      par.tasksupport = BucketFs.fsTaskSupport
      par.foreach(handle(fs, _))
    } else {
      val confSer = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val root = stagingPath.toString
      spark.sparkContext
        .parallelize(work, math.min(work.size, spark.sparkContext.defaultParallelism * 4))
        .foreachPartition { it =>
          val fsx = new Path(root).getFileSystem(confSer.value)
          it.foreach(handle(fsx, _))
        }
    }
    BucketFs.deleteRecursive(staging)
    staged.size
  }

  /** Dynamic-partition write parallelism: 4× cores (see writeBucket). */
  private[sources] def writeTasks(df: DataFrame): Int =
    math.max(df.sparkSession.sparkContext.defaultParallelism * 4,
      df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Repartition for a dynamic-partition write, auto-salting hot cells.
    *
    * Plain `repartition(keys)` lands ALL rows of one spatial cell on one
    * task — and satellite data is exactly this skewed (polar orbits revisit
    * high latitudes every pass), so at scale a hot cell serializes the
    * write. A cheap skew probe first: ONE aggregate over the key columns
    * (column-pruned scan — for a parquet source it reads only the x/y/time
    * columns, a few percent of the write's bytes). Cells whose row count
    * exceeds `maxRecords` (the per-file row target — more rows than that
    * must split into multiple files anyway) get a deterministic salt
    * `pmod(xxhash64(row), ceil(cellRows/maxRecords))` via a broadcast join
    * of the (tiny) hot-cell set, fanning the cell over that many tasks.
    * Cells at or under the target keep salt 0 — exactly one file, the
    * compaction contract — and when no cell is hot the plan degenerates to
    * the plain repartition.
    *
    * Callers whose input is NOT re-scannable side-effect-free (e.g. the
    * distributed granule ingest, whose probe would re-run every granule
    * reader and double-fire its error accumulator) pass
    * `autoSaltSkew = false`. */
  /** Safety factor for the stats-based probe skip: for FILE-source inputs
    * Catalyst's sizeInBytes is the on-disk COMPRESSED byte count
    * (fileCompressionFactor defaults to 1.0), so the estimate can
    * undershoot decoded size by the compression ratio. 8x covers
    * zstd/gzip on typical telemetry; inputs past maxFileBytes/8 take the
    * real probe. */
  private val StatsSkipCompressionAllowance = 8L

  private[sources] def skewAwareRepartition(labeled: DataFrame, keys: Seq[String],
                                            maxRecords: Long,
                                            autoSaltSkew: Boolean,
                                            maxFileBytes: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val tasks = writeTasks(labeled)
    val keyCols = keys.map(col)
    if (!autoSaltSkew)
      return labeled.repartition(tasks, keyCols: _*)
    // free fast path: when Catalyst's size estimate says the WHOLE input
    // (with a decompression allowance, see above) fits in one output
    // file, no single cell can exceed it — skip the probe without running
    // any job. Unknown sizes surface as huge defaults and fall through to
    // the real probe.
    val estBytes = labeled.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes.isValidLong &&
        estBytes.toLong <= maxFileBytes / StatsSkipCompressionAllowance)
      return labeled.repartition(tasks, keyCols: _*)
    val hot = labeled.groupBy(keyCols: _*).agg(count(lit(1)).as("__cell_n"))
      .where(col("__cell_n") > maxRecords)
      .withColumn("__n_salts",
        least(ceil(col("__cell_n").cast("double") / maxRecords), lit(tasks.toLong))
          .cast("int"))
      .select((keyCols :+ col("__n_salts")): _*)
    // the hot set is structurally bounded by totalRows/maxRecords cells
    // (each needs > maxRecords rows), i.e. by the total FILE count of the
    // write — collect once (avoids recomputing the agg for an isEmpty
    // probe) and broadcast the local set
    val hotRows = hot.collect()
    if (hotRows.isEmpty) return labeled.repartition(tasks, keyCols: _*)
    val hotDf = labeled.sparkSession.createDataFrame(
      java.util.Arrays.asList(hotRows: _*), hot.schema)
    val rowHash = xxhash64(struct(labeled.columns.map(col): _*))
    labeled.join(broadcast(hotDf), keys, "left")
      .withColumn("__salt",
        when(col("__n_salts").isNull, lit(0L))
          .otherwise(pmod(rowHash, col("__n_salts").cast("long"))))
      .repartition(tasks, (keyCols :+ col("__salt")): _*)
      .drop("__n_salts", "__salt")
  }

  /** Per-codec compression-level writer options (reference
    * compression_level, routines.py:544-545,613-616 and writers.py:192-200,
    * where pyarrow receives it). parquet-mr exposes levels per codec:
    * zstd reads `parquet.compression.codec.zstd.level` (default 3), gzip
    * maps onto Hadoop's zlib level conf (which only distinguishes
    * fastest/best/default). Codecs without a level knob reject a level —
    * matching pyarrow, which errors rather than silently ignoring it. */
  private[graft] def compressionLevelOptions(codec: String,
                                             level: Option[Int]): Map[String, String] =
    level match {
      case None => Map.empty
      case Some(l) => codec.toLowerCase match {
        case "zstd" => Map("parquet.compression.codec.zstd.level" -> l.toString)
        case "gzip" =>
          val zl = l match {
            case x if x <= 1 => "BEST_SPEED"
            case x if x >= 9 => "BEST_COMPRESSION"
            case _ => "DEFAULT_COMPRESSION"
          }
          Map("zlib.compress.level" -> zl)
        case other => throw new IllegalArgumentException(
          s"compression codec '$other' does not take a compression level")
      }
    }

  /** "200MB"/"2GB"-style size string → bytes (writers.py:39-92). */
  def parseSize(s: String): Long = {
    val m = "(?i)^\\s*([0-9]+(?:\\.[0-9]+)?)\\s*(B|KB|MB|GB|TB)?\\s*$".r
    s match {
      case m(num, unit) =>
        val mult = Option(unit).map(_.toUpperCase) match {
          case None | Some("B") => 1L
          case Some("KB") => 1L << 10
          case Some("MB") => 1L << 20
          case Some("GB") => 1L << 30
          case Some("TB") => 1L << 40
        }
        (num.toDouble * mult).toLong
      case _ => throw new IllegalArgumentException(s"cannot parse size '$s'")
    }
  }

  /** Estimate rows that fit in `sizeBytes` from a sample's in-memory size
    * (reference estimate_row_group_size, writers.py:95-112): fixed widths
    * for primitives plus measured average lengths for string/binary
    * columns over a bounded sample. */
  def estimateRowsForSize(df: DataFrame, sizeBytes: Long,
                          sampleRows: Int = 10000): Long = {
    import org.apache.spark.sql.functions.{avg, length, lit, coalesce}
    import org.apache.spark.sql.types.{StringType, BinaryType}
    val varCols = df.schema.fields.collect {
      case f if f.dataType == StringType || f.dataType == BinaryType => f.name
    }
    val fixed = df.schema.fields.collect {
      case f if f.dataType != StringType && f.dataType != BinaryType =>
        f.dataType.defaultSize.toDouble
    }.sum
    val varBytes =
      if (varCols.isEmpty) 0.0
      else {
        val sample = df.limit(sampleRows)
        val aggs = varCols.map(c => coalesce(avg(length(org.apache.spark.sql.functions.col(c))), lit(0.0)).as(c))
        val row = sample.agg(aggs.head, aggs.tail: _*).head()
        varCols.indices.map(i => row.getDouble(i)).sum
      }
    val bytesPerRow = math.max(fixed + varBytes, 8.0)
    math.max((sizeBytes / bytesPerRow).toLong, 1L)
  }

  /** Write a single dataframe as a spatially partitioned bucket
    * (reference write_bucket, routines.py:255-318). */
  def writeBucket(df: DataFrame, bucketDir: String, p: Partitioning2D,
                  x: String = "lon", y: String = "lat",
                  rowGroupSize: String = "500MB",
                  maxFileSize: String = "2GB",
                  compression: String = "snappy",
                  compressionLevel: Option[Int] = None,
                  mode: String = "append",
                  removeInvalidRows: Boolean = true,
                  writeMetadata: Boolean = false,
                  autoSaltSkew: Boolean = true,
                  zorderWithinFiles: Boolean = false,
                  layoutCurve: String = "zorder"): Unit = {
    // validate unconditionally: a misspelled curve, or a non-default
    // curve with the layout sort left off, must not silently write an
    // unsorted bucket the caller believes is curve-ordered
    require(layoutCurve == "zorder" || layoutCurve == "hilbert",
      s"unknown layoutCurve '$layoutCurve' (use 'zorder' or 'hilbert')")
    require(layoutCurve == "zorder" || zorderWithinFiles,
      s"layoutCurve = '$layoutCurve' requires zorderWithinFiles = true " +
        "(the in-file layout sort is what applies the curve)")
    val labeled0 = p.addLabels(df, x, y, removeInvalidRows)
    // co-locate each spatial partition in one task: one output file per
    // directory instead of (tasks × dirs) small files — at scale this is
    // the difference between nDirs files and nDirs × nTasks files. Hot
    // cells (> one file's rows) are auto-salted over multiple tasks — see
    // skewAwareRepartition. Oversubscribe the write tasks (4× cores):
    // parquet writer init is the per-file cost and each directory's file
    // opens serially within its task — 2.4× faster on a 253-dir write than
    // cores-many tasks.
    val maxRecords = estimateRowsForSize(df, parseSize(maxFileSize))
    val repartitioned = skewAwareRepartition(labeled0, p.order, maxRecords,
      autoSaltSkew, maxFileBytes = parseSize(maxFileSize))
    // optional Z-order INSIDE each cell's files: sort tasks by (labels, z)
    // — labels lead so the dynamic-partition writer's required ordering is
    // already satisfied (it would otherwise insert its own, NOT stable,
    // sort on the partition columns and scramble z). Rows then land in
    // Morton order, so parquet page/row-group min-max stats stay tight on
    // BOTH coordinates and sub-cell extent reads prune within big files.
    // No extra shuffle: this is a per-task sort after the repartition.
    val labeled =
      if (!zorderWithinFiles) repartitioned
      else {
        import org.apache.spark.sql.functions.col
        import graft.operators.Layout
        val e = p.extent
        val bits = 15 // 2^15 per axis: finer than any realistic cell split
        val xi = Layout.gridIdx(col(x), e.xmin, e.xmax, bits)
        val yi = Layout.gridIdx(col(y), e.ymin, e.ymax, bits)
        // "hilbert" trades a per-row walk for seam-free key ranges —
        // tighter per-file bboxes at the same sort cost (Layout scaladoc)
        val key = layoutCurve match {
          case "zorder" => Layout.zValue(Seq(xi, yi), bits)
          case "hilbert" => Layout.hilbertValue(xi, yi, bits)
          case other => throw new IllegalArgumentException(
            s"unknown layoutCurve '$other' (use 'zorder' or 'hilbert')")
        }
        repartitioned.sortWithinPartitions((p.order.map(col) :+ key): _*)
      }
    // hive flavor: one direct write. Directory flavor (bare `label/` dirs,
    // reference partitioning.py:253-257): Spark only writes hive-style, so
    // the save mode applies to the bucket here and the rows stage under a
    // name of their own — concurrent appends and merges never share it
    val dirFlavor = p.flavor.contains("directory")
    if (dirFlavor) {
      val exists = BucketFs.exists(bucketDir)
      mode.toLowerCase(java.util.Locale.ROOT) match {
        case "overwrite" => BucketFs.deleteRecursive(bucketDir)
        case "append" => ()
        case "ignore" => if (exists) return
        case "error" | "errorifexists" | "default" =>
          require(!exists, s"path $bucketDir already exists")
        case other => throw new IllegalArgumentException(s"unknown save mode '$other'")
      }
    }
    val target = if (dirFlavor) s"$bucketDir/_staging_${java.util.UUID.randomUUID}" else bucketDir
    labeled.write
      .mode(if (dirFlavor) "overwrite" else mode)
      .partitionBy(p.order: _*)
      .option("compression", compression)
      .options(compressionLevelOptions(compression, compressionLevel))
      .option("maxRecordsPerFile", maxRecords)
      .option("parquet.block.size", parseSize(rowGroupSize))
      .parquet(target)
    if (dirFlavor)
      liftStaged(df.sparkSession, target, bucketDir, p, (_, _, staged) => staged)
    // after the data: "overwrite" clears the directory first, which would
    // delete a manifest written up front
    BucketInfo.write(bucketDir, p)
    // optional _metadata/_common_metadata sidecars (reference default off:
    // "can take much longer", routines.py:588-599)
    if (writeMetadata) DatasetMetadata.write(bucketDir)
  }

  /** User extension point: filepath → rows (reference granule_to_df_func,
    * routines.py:66-125). Return None to skip (e.g. no AOI intersection). */
  trait GranuleReader extends Serializable {
    def read(spark: SparkSession, path: String): Option[DataFrame]
  }

  /** Row-typed converter for the distributed ingest path: runs on
    * EXECUTORS, so it must not touch the SparkSession. */
  trait RowGranuleReader extends Serializable {
    def rows(path: String): Iterator[org.apache.spark.sql.Row]
  }

  /** Distributed single-job ingest (SURVEY §3.2's scale path): the file
    * list becomes a Dataset, each executor task converts its granules to
    * rows, and ONE write lands the whole batch — no per-granule driver
    * jobs, so 10^5 granules cost one job instead of 10^5. Per-file errors
    * are captured in an accumulator (skipped, not fatal), matching the
    * reference's error-capture contract.
    *
    * Use this when the converter is row-typed (plain file parsing);
    * [[writeGranulesBucket]] remains for converters that need a
    * SparkSession (e.g. reading each granule with spark.read).
    *
    * Returns the failed (path, error) pairs.
    */
  def writeGranulesBucketDistributed(spark: SparkSession,
                                     filepaths: Seq[String],
                                     bucketDir: String, p: Partitioning2D,
                                     reader: RowGranuleReader,
                                     schema: org.apache.spark.sql.types.StructType,
                                     x: String = "lon", y: String = "lat",
                                     rowGroupSize: String = "500MB",
                                     maxFileSize: String = "2GB"): Seq[(String, String)] = {
    import spark.implicits._
    val errors = spark.sparkContext.collectionAccumulator[(String, String)]("granule_errors")
    val paths = spark.createDataset(filepaths)
      .repartition(math.min(filepaths.size,
        spark.sparkContext.defaultParallelism * 2))
    val rows = paths.flatMap { path =>
      try reader.rows(path)
      catch { case e: Throwable =>
        errors.add(path -> String.valueOf(e.getMessage)); Iterator.empty
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    // autoSaltSkew=false: the skew probe would re-run every granule reader
    // (the input is a flatMap over files, not a re-scannable source) and
    // double-fire the error accumulator
    writeBucket(rows.toDF(), bucketDir, p, x, y, rowGroupSize, maxFileSize,
      mode = "append", autoSaltSkew = false)
    scala.jdk.CollectionConverters.ListHasAsScala(errors.value).asScala.toSeq
  }

  /** Per-granule fan-out ETL (reference write_granules_bucket,
    * routines.py:143-250): driver-parallel loop, per-file error capture,
    * collision-free append via per-granule filename prefixes — each granule
    * writes to its own staging dir, then [[liftStaged]] moves its files
    * into the bucket as `{granule}_{i}.parquet` (concurrent Spark jobs
    * appending to one path share committer staging and can clobber each
    * other, so direct append is NOT safe here; distinct staging dirs +
    * atomic moves are).
    *
    * Returns (path, error) for each failed granule — failures don't abort
    * the run, matching the reference's error-capture contract.
    */
  def writeGranulesBucket(spark: SparkSession, filepaths: Seq[String],
                          bucketDir: String, p: Partitioning2D,
                          reader: GranuleReader,
                          x: String = "lon", y: String = "lat",
                          parallelism: Int = 4,
                          rowGroupSize: String = "500MB"): Seq[(String, String)] = {
    BucketInfo.write(bucketDir, p)
    val pool = new java.util.concurrent.ForkJoinPool(parallelism)
    try {
      val par = filepaths.par
      par.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
      par.flatMap { path =>
        Try {
          reader.read(spark, path).foreach { df =>
            val granuleBase = path.split('/').last.replaceAll("[^A-Za-z0-9._-]", "_")
            val staging = s"$bucketDir/_staging_$granuleBase"
            p.addLabels(df, x, y, removeInvalidRows = true).write
              .mode("overwrite")
              .partitionBy(p.order: _*)
              .option("compression", "snappy")
              .option("parquet.block.size", parseSize(rowGroupSize))
              .parquet(staging)
            // on the driver pool whatever the cell count: one granule's
            // moves are too few to repay a Spark job each
            liftStaged(spark, staging, bucketDir, p, (_, i, _) => s"${granuleBase}_$i.parquet",
              distributeAbove = Int.MaxValue)
          }
        } match {
          case Success(_) => None
          case Failure(e) => Some(path -> String.valueOf(e.getMessage))
        }
      }.seq.toSeq
    } finally pool.shutdown()
  }
}
