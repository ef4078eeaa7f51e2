package graft.sources

import java.time.LocalDateTime
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import BucketWriter.PeriodLevel

/** Bucket compaction (reference merge_granule_buckets,
  * satbucket/routines.py:529-852): consolidate the many small per-granule
  * files of each spatial partition into few large files grouped by temporal
  * period and named `{period_prefix}_{i}.parquet`, with incremental
  * `update=true` replacing exactly the files of affected periods.
  *
  * Spark-native design (SURVEY §7 decision 4): ONE distributed job writes
  * the whole archive — `read(src) → filter(time) → write dst partitioned by
  * (spatial levels, __period)` into a staging dir — then the shared
  * staged-file lift (`BucketWriter.liftStaged`, both flavors) renames
  * `__period=P/part-*.parquet` up into the spatial directory as
  * `P_{i}.parquet`. No per-partition driver loop (the reference iterates
  * spatial partitions sequentially, :751); at 100 TB this is the difference
  * between one shuffle-free scan and 10⁴ sequential jobs.
  */
object Merge {

  def mergeGranuleBuckets(spark: SparkSession,
                          srcBucketDir: String, dstBucketDir: String,
                          temporalPartitioning: String = "month",
                          startTime: Option[LocalDateTime] = None,
                          endTime: Option[LocalDateTime] = None,
                          update: Boolean = false,
                          rowGroupSize: String = "200MB",
                          maxFileSize: String = "2GB",
                          compression: String = "snappy",
                          compressionLevel: Option[Int] = None,
                          timeColumn: String = "time",
                          writeMetadata: Boolean = false,
                          distributeRenamesAbove: Int = BucketWriter.DistributeRenamesAbove,
                          claimStaleness: Long =
                            GenerationLock.DefaultStalenessMs): Unit = {
    Temporal.check(temporalPartitioning)
    val p = BucketInfo.readPartitioning(srcBucketDir)
    if (update) {
      require(BucketFs.exists(s"$dstBucketDir/${BucketInfo.FileName}"),
        "update=true requires an existing destination bucket")
      val dstTp = BucketInfo.readTemporalPartitioning(dstBucketDir)
      require(dstTp.contains(temporalPartitioning),
        s"destination bucket uses temporal partitioning $dstTp, not $temporalPartitioning")
    }
    // single-writer contract on the destination, enforced (shared
    // [[GenerationLock]] protocol, whole-dir slot): two concurrent merges
    // over one destination share `_staging` AND — under update=true —
    // interleave per-period delete-then-rename passes, each deleting
    // files the other just renamed in. The claim makes the second merge
    // fail LOUDLY instead; a crashed merge's claim goes stale after the
    // window and is swept by the next writer (its `_staging` debris is
    // overwritten by the staging write below).
    val claim = GenerationLock.claimDir(dstBucketDir, claimStaleness)
    try {

    // BOTH flavors route through BucketReader.read: it reads in a cloned
    // session (label partition values stay strings, the bucket_info.yaml
    // interop manifest stays out of the scan via pathGlobFilter), rebuilds
    // directory-flavor label columns from file paths, and — decisive for
    // REFERENCE-written source buckets (pandas/pyarrow) — converts their
    // NANOSECOND time column to a proper timestamp, without which the
    // period-prefix expression and the update-window filters below would
    // run against raw long nanos and fail (caught by the
    // reference-granule-fixture interop case).
    var df = BucketReader.read(spark, srcBucketDir,
      timeColumns = Seq(timeColumn))
    startTime.foreach(s => df = df.where(col(timeColumn) >= lit(java.sql.Timestamp.valueOf(s))))
    endTime.foreach(e => df = df.where(col(timeColumn) < lit(java.sql.Timestamp.valueOf(e))))

    val withPeriod = df.withColumn(PeriodLevel,
      Temporal.timePrefixCol(col(timeColumn), temporalPartitioning))

    val maxRecords = BucketWriter.estimateRowsForSize(df, BucketWriter.parseSize(maxFileSize))
    val staging = s"$dstBucketDir/_staging"
    // co-locate each (spatial partition, period) in one task → exactly the
    // few large files per directory the compaction exists to produce;
    // oversubscribed tasks parallelize the per-file writer-init cost. Hot
    // (cell, period) groups — the polar-orbit revisit hot spot — are
    // auto-salted over ceil(rows/maxRecords) tasks (the probe prunes to
    // the partition-label + time columns; see skewAwareRepartition)
    val repartitioned = BucketWriter.skewAwareRepartition(
      withPeriod, p.order :+ PeriodLevel, maxRecords, autoSaltSkew = true,
      maxFileBytes = BucketWriter.parseSize(maxFileSize))
    repartitioned.write
      .mode("overwrite")
      .partitionBy((p.order :+ PeriodLevel): _*)
      .option("compression", compression)
      .options(BucketWriter.compressionLevelOptions(compression, compressionLevel))
      .option("maxRecordsPerFile", maxRecords)
      .option("parquet.block.size", BucketWriter.parseSize(rowGroupSize))
      .parquet(staging)

    // ownership re-assert before the destructive pass (update deletes +
    // renames into live period dirs): a falsely stale-swept claim aborts
    // here, with only the staging dir written — nothing destroyed
    GenerationLock.verify(claim)
    // lift __period=P/part-*.parquet → <spatial dir>/P_{i}.parquet, both
    // flavors (BucketWriter.liftStaged)
    val moved = BucketWriter.liftStaged(spark, staging, dstBucketDir, p,
      (period, i, _) => s"${period}_$i.parquet", update, distributeRenamesAbove)
    if (!update || !BucketFs.exists(s"$dstBucketDir/${BucketInfo.FileName}")) {
      BucketInfo.write(dstBucketDir, p, Some(temporalPartitioning))
    }
    if (writeMetadata) DatasetMetadata.write(dstBucketDir)
    require(moved > 0 || startTime.nonEmpty || endTime.nonEmpty,
      "merge produced no output files — is the source bucket empty?")
    } finally GenerationLock.release(claim)
  }
}
