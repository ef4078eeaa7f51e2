package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / swath analysis operators (reference satbucket/analysis.py
  * and satbucket/utils/time.py), re-expressed as window/join plans. The
  * swath grid takes its per-granule bounds from one aggregate collected
  * to the driver (a single overpass holds a handful of granules).
  *
  * Scale note: the reference's operators sort *all* timesteps on one
  * machine. Every window here takes optional partition keys (e.g. spatial
  * cell, user id) so the plan shuffles by key instead of collapsing to a
  * single-task global sort; with no keys given we match the reference's
  * global semantics (fine for a regional subset, the documented use).
  */
object Analysis {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val warnedOps =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A keyless `Window.orderBy` collapses the whole input onto ONE task —
    * matching the reference's global semantics and fine for a regional
    * subset, but a scale trap on a full archive. Warn once per operator
    * (not per call — a keyless call inside a per-batch loop must not bury
    * real warnings) rather than require keys: the global form IS the
    * documented reference behavior. */
  private def warnGlobalWindow(op: String): Unit =
    if (warnedOps.add(op))
      log.warn(s"Analysis.$op called without partition keys: the global sort " +
        "runs on a single task. Pass partitionBy (e.g. spatial cell, user id) " +
        "for distributed execution at scale.")

  /** W3: gap-based session id per row (add_overpass_id, analysis.py:258-280;
    * default gap 2 min). The reference's Python loop over `diff` becomes a
    * lag + running-sum window. */
  def addOverpassId(df: DataFrame, gapSeconds: Long = 120,
                    time: String = "time",
                    partitionBy: Seq[String] = Nil,
                    idCol: String = "overpass_id"): DataFrame = {
    if (partitionBy.isEmpty) warnGlobalWindow("addOverpassId")
    val w = if (partitionBy.isEmpty) Window.orderBy(col(time))
            else Window.partitionBy(partitionBy.map(col): _*).orderBy(col(time))
    val gapUs = gapSeconds * 1000000L
    df.withColumn("__ts_us", unix_micros(col(time)))
      .withColumn("__prev", lag("__ts_us", 1).over(w))
      .withColumn(idCol,
        sum(when(col("__prev").isNull || col("__ts_us") - col("__prev") > gapUs, 1L)
          .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
      .drop("__ts_us", "__prev")
  }

  /** W1: distinct-timestep sessionization → (overpass_id, start, end)
    * (get_list_overpass_time, analysis.py:41-94; default gap 60 min). */
  def listOverpassTimes(df: DataFrame, gapSeconds: Long = 3600,
                        time: String = "time",
                        partitionBy: Seq[String] = Nil): DataFrame = {
    val distinct = df.select((partitionBy :+ time).map(col): _*).distinct()
    addOverpassId(distinct, gapSeconds, time, partitionBy)
      .groupBy((partitionBy :+ "overpass_id").map(col): _*)
      .agg(min(col(time)).as("start_time"), max(col(time)).as("end_time"))
  }

  /** W4: per-session row count joined back — expressed as a count-over-
    * partition window, no join (count_overpass_occurence, analysis.py:283-288). */
  def countOverpassOccurrence(df: DataFrame, gapSeconds: Long = 120,
                              time: String = "time",
                              partitionBy: Seq[String] = Nil): DataFrame = {
    val withId = addOverpassId(df, gapSeconds, time, partitionBy)
    withId.withColumn("count_overpass_occurence",
      count(lit(1)).over(
        Window.partitionBy((partitionBy :+ "overpass_id").map(col): _*)))
  }

  /** A swath re-indexed by [[swathIndices]] and the extent of its dense
    * grid: `nx` along-track by `ny` cross-track cells, the latter from `y0`. */
  private final case class Swath(indexed: DataFrame, nx: Long, y0: Long, ny: Long)

  /** One per-granule aggregate (min/max along, min/max cross) collected to
    * the driver; the granule count is small (orbit segments in one
    * overpass). The driver walks the bounds in granule-id order: a
    * granule's shift is the summed widths of the granules before it minus
    * its min along; a granule with no along value adds no width. */
  private def indexSwath(df: DataFrame, xIndex: String, yIndex: String): Swath = {
    val parts = split(col(xIndex), "-")
    val granule = parts.getItem(0).cast("long")
    val along = parts.getItem(1).cast("long")
    val cross = col(yIndex).cast("long")
    val rows = df.where(granule.isNotNull)
    val bounds = rows.groupBy(granule).agg(min(along), max(along), min(cross), max(cross))
      .collect().sortBy(_.getLong(0))
    val spans = bounds.filterNot(_.isNullAt(1))
    val offsets = spans.scanLeft(0L)((o, b) => o + b.getLong(2) - b.getLong(1) + 1)
    val shift = spans.zip(offsets).map { case (b, o) => b.getLong(0) -> (o - b.getLong(1)) }.toMap
    val ys = bounds.filterNot(_.isNullAt(3))
    val (y0, y1) =
      if (ys.isEmpty) (0L, -1L) else (ys.map(_.getLong(3)).min, ys.map(_.getLong(4)).max)
    Swath(rows.withColumn("x_index", along + element_at(typedLit(shift), granule))
      .withColumn("y_index", cross), offsets.last, y0, y1 - y0 + 1)
  }

  /** W5: contiguous along-track re-indexing across granules
    * (get_swath_indices, analysis.py:113-182). `gpm_id` = "granule-along";
    * each granule's along-track block is shifted so blocks are contiguous
    * in granule-id order: x_index = along - min_along(g) + Σ widths of the
    * granules before g. The bounds come from one driver-side aggregate;
    * rows with no granule are dropped. */
  def swathIndices(df: DataFrame, xIndex: String = "gpm_id",
                   yIndex: String = "gpm_cross_track_id"): DataFrame =
    indexSwath(df, xIndex, yIndex).indexed

  /** W6/J1/J3/O4: dense 2-D swath grid — re-index, dedup, and left-join onto
    * the full (x_index × y_index) mesh, one `spark.range` sized from the
    * re-index's collected bounds, so missing footprints appear as null rows
    * (overpass_to_dataset, analysis.py:185-255). An empty overpass gives an
    * empty grid. */
  def overpassToGrid(spark: SparkSession, dfOverpass: DataFrame,
                     xIndex: String = "gpm_id",
                     yIndex: String = "gpm_cross_track_id"): DataFrame = {
    val sw = indexSwath(dfOverpass, xIndex, yIndex)
    spark.range(sw.nx * sw.ny)
      .select(expr(s"id div ${sw.ny}").as("x_index"),
        expr(s"id % ${sw.ny} + ${sw.y0}").as("y_index"))
      .join(sw.indexed.dropDuplicates("x_index", "y_index"), Seq("x_index", "y_index"), "left")
  }

  /** A5: first non-null value per group (xr_first analogue). */
  def firstNonNull(c: Column): Column = first(c, ignoreNulls = true)

  /** W8: snap an (already aggregated) time series onto a uniform time grid,
    * filling holes (regularize_dataset, utils/time.py:279-332). Generates
    * the full axis with sequence+explode, left-joins the data onto it, and
    * coalesces fill values per column. */
  def regularizeTime(df: DataFrame, freqSeconds: Long,
                     time: String = "time",
                     fillValues: Map[String, Any] = Map.empty): DataFrame = {
    val r = df.agg(min(col(time)), max(col(time))).head()
    val (t0, t1) = (r.getTimestamp(0), r.getTimestamp(1))
    val axis = df.sparkSession.range(1).select(
      explode(sequence(
        lit(t0), lit(t1),
        expr(s"INTERVAL $freqSeconds SECONDS"))).as(time))
    val joined = axis.join(df, Seq(time), "left")
    fillValues.foldLeft(joined) { case (d, (c, v)) =>
      d.withColumn(c, coalesce(col(c), lit(v)))
    }
  }

  /** W7: linearly interpolate missing values in an ordered series, inside
    * gaps of at most `limit` consecutive nulls (interpolate_nat /
    * infill_timesteps, utils/time.py:132-201). Window-based: previous and
    * next non-null anchor + linear blend on row offsets. */
  def interpolateLinear(df: DataFrame, valueCol: String, orderCol: String,
                        limit: Int = Int.MaxValue,
                        partitionBy: Seq[String] = Nil): DataFrame = {
    if (partitionBy.isEmpty) warnGlobalWindow("interpolateLinear")
    val base = if (partitionBy.isEmpty) Window.orderBy(col(orderCol))
               else Window.partitionBy(partitionBy.map(col): _*).orderBy(col(orderCol))
    val back = base.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = base.rowsBetween(0, Window.unboundedFollowing)
    val rn = row_number().over(base)
    val v = col(valueCol).cast("double")
    val df1 = df
      .withColumn("__rn", rn)
      .withColumn("__pv", last(when(v.isNotNull, v), ignoreNulls = true).over(back))
      .withColumn("__pr", last(when(v.isNotNull, col("__rn")), ignoreNulls = true).over(back))
      .withColumn("__nv", first(when(v.isNotNull, v), ignoreNulls = true).over(fwd))
      .withColumn("__nr", first(when(v.isNotNull, col("__rn")), ignoreNulls = true).over(fwd))
    val gap = col("__nr") - col("__pr") - 1
    val interp = col("__pv") +
      (col("__nv") - col("__pv")) *
        (col("__rn") - col("__pr")).cast("double") / (col("__nr") - col("__pr")).cast("double")
    df1.withColumn(valueCol,
        when(v.isNotNull, v)
          .when(col("__pv").isNotNull && col("__nv").isNotNull && gap <= limit, interp)
          .otherwise(lit(null).cast("double")))
      .drop("__rn", "__pv", "__pr", "__nv", "__nr")
  }

  /** Driver-side dense 2-D materialization of a grid DataFrame (the final
    * to_xarray step): rows (xIdx, yIdx, value) → value(yIdx)(xIdx), NaN
    * holes. Guarded — dense grids are for plotting/export, not pipelines. */
  def collectGrid2D(grid: DataFrame, xIdx: String, yIdx: String,
                    valueCol: String, maxCells: Long = 10000000L): Array[Array[Double]] = {
    val b = grid.agg(min(col(xIdx)), max(col(xIdx)),
      min(col(yIdx)), max(col(yIdx))).head()
    val (x0, x1, y0, y1) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val (nx, ny) = ((x1 - x0 + 1).toInt, (y1 - y0 + 1).toInt)
    require(nx.toLong * ny <= maxCells,
      s"dense grid $nx x $ny exceeds maxCells=$maxCells — keep it distributed")
    val out = Array.fill(ny, nx)(Double.NaN)
    grid.select(col(xIdx), col(yIdx), col(valueCol).cast("double"))
      .collect().foreach { r =>
        if (!r.isNullAt(2))
          out((r.getLong(1) - y0).toInt)((r.getLong(0) - x0).toInt) = r.getDouble(2)
      }
    out
  }

  /** A1+J1: the data-cube pivot (to_xarray analogue, partitioning.py:734-813):
    * left-join an aggregated dataframe onto the full centroid grid so every
    * cell exists, with nulls where no data fell. Returns the dense long-form
    * grid; callers needing a 2-D array collect it driver-side (grids are
    * ≤64,800 cells at 1°). */
  def toGridCube(spark: SparkSession, agg: DataFrame,
                 p: graft.partitioning.Partitioning2D,
                 xCoord: String = null, yCoord: String = null): DataFrame = {
    val xc = Option(xCoord).getOrElse(p.xCoord)
    val yc = Option(yCoord).getOrElse(p.yCoord)
    import spark.implicits._
    val xs = p.xCentroids.toSeq.toDF(xc)
    val ys = p.yCentroids.toSeq.toDF(yc)
    xs.crossJoin(ys).join(agg, Seq(xc, yc), "left")
      // CRS column metadata (reference attaches EPSG:4326 to every grid
      // product, analysis.py:253-254) — survives selects/joins by name
      .withColumn(xc, col(xc).as(xc, p.crsMetadata))
      .withColumn(yc, col(yc).as(yc, p.crsMetadata))
  }

  /** Temporal stack concat (J5): stack per-overpass / per-period frames
    * along the time dimension — the reference's
    * `xr.concat(list_ds, dim="time")` over remapped overpasses
    * (examples/GMI/example_creation_imagery_temporal_stack.py:56-59).
    * Column resolution is BY NAME (frames from different periods often
    * disagree on column order), and columns missing from some frames are
    * null-filled — xarray's outer-join alignment. A plain multi-way union
    * is shuffle-free: each input's partitions are concatenated into the
    * output scan, so this costs nothing beyond the inputs themselves. */
  def temporalConcat(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "temporalConcat of zero frames")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // --------------------------------------------- event-funnel analytics

  /** Ordered-step funnel over an event stream: a user completes step k
    * at the EARLIEST event of step k's type strictly after their
    * step-(k−1) completion, with every step landing within
    * `withinSeconds` of their step-1 time. Returns one row per step:
    * (step, step_name, n_users).
    *
    * Scale shape: step k is one filtered scan + one shuffle hash join on
    * the user key against the (shrinking) step-(k−1) frame + a min
    * aggregation — k steps, k bounded joins, no windows over the full
    * stream and nothing driver-side. Timestamps compare as unix micros
    * so the arithmetic is integer-exact and oracle-replayable. */
  def funnelSteps(events: DataFrame, userCol: String, typeCol: String,
                  timeCol: String, steps: Seq[String],
                  withinSeconds: Long): DataFrame =
    funnelChain(events, userCol, typeCol, timeCol, steps, withinSeconds)
      .zip(steps).zipWithIndex.map { case ((f, name), i) =>
        f.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("step"), lit(name).as("step_name"), col("n_users"))
      }.reduce(_ unionByName _)

  /** The step chain of [[funnelSteps]] and [[funnelCompletions]]: the k-th
    * frame holds (u, t1, tk) for every user who completed steps 1..k, with
    * t1 the step-1 time and tk the step-k time. */
  private def funnelChain(events: DataFrame, userCol: String, typeCol: String,
                          timeCol: String, steps: Seq[String],
                          withinSeconds: Long): Seq[DataFrame] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(withinSeconds > 0, "withinSeconds must be positive")
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("t"),
      unix_micros(col(timeCol)).as("us"))
    val withinUs = withinSeconds * 1000000L
    val first = ev.where(col("t") === steps.head)
      .groupBy("u").agg(min("us").as("t1"))
      .withColumn("tk", col("t1"))
    steps.drop(1).scanLeft(first) { (cur, step) =>
      ev.where(col("t") === step)
        .join(cur.select("u", "t1", "tk"), "u")
        .where(col("us") > col("tk") && col("us") <= col("t1") + withinUs)
        .groupBy("u", "t1").agg(min("us").as("tk"))
    }
  }

  /** Per-group k-sigma outlier flags in EXACT integer arithmetic — no
    * float mean or stddev anywhere, so the flags are bit-reproducible
    * and oracle-replayable. The test (x − S/N)² > k²·(Q/N − (S/N)²)
    * cross-multiplies to (N·x − S)² > k²·(N·Q − S²), all integers for
    * integer-cents values. Caller must keep magnitudes inside 64 bits:
    * N·max|x| must stay below ~3·10⁹ (both sides are its square) —
    * bucket groups by time (as q189 does) to bound N.
    *
    * Scale shape: one hash aggregation for the per-group (N, S, Q)
    * moments (map-side combined), then one join back on the group key —
    * AQE broadcasts the moments frame when it is small. */
  def outlierFlags(df: DataFrame, keyCols: Seq[String], valueCents: Column,
                   kSigma: Int): DataFrame = {
    require(keyCols.nonEmpty, "need at least one group key")
    require(kSigma >= 1, "kSigma must be >= 1")
    val base = df.withColumn("__c", valueCents)
    val stats = base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__c")).as("__s"),
        sum(col("__c") * col("__c")).as("__q"))
    val dev = col("__c") * col("__n") - col("__s")
    base.join(stats, keyCols)
      .withColumn("is_outlier",
        dev * dev > lit(kSigma.toLong * kSigma) *
          (col("__n") * col("__q") - col("__s") * col("__s")))
  }

  /** Per-user funnel COMPLETIONS: the same chain as [[funnelSteps]] but
    * returning one row per user who completed EVERY step — (u, t1, tk)
    * with t1 the step-1 time and tk the final-step time, so downstream
    * can compute time-to-convert distributions. Same scale shape (k
    * bounded joins on the user key). */
  def funnelCompletions(events: DataFrame, userCol: String, typeCol: String,
                        timeCol: String, steps: Seq[String],
                        withinSeconds: Long): DataFrame =
    funnelChain(events, userCol, typeCol, timeCol, steps, withinSeconds)
      .last.select(col("u"), col("t1"), col("tk"))

  /** Cohort retention: users bucketed by the time bucket of their FIRST
    * event; for every (cohort bucket, buckets-since-cohort) cell, the
    * count of distinct users active in that cell. The classic retention
    * triangle as two aggregations and one join — first-touch frame joins
    * back on the user key, bucket arithmetic is integer floor division
    * on unix micros (oracle-replayable).  */
  def cohortRetention(events: DataFrame, userCol: String, timeCol: String,
                      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val b = bucketSeconds * 1000000L
    val ev = events.select(col(userCol).as("u"),
      unix_micros(col(timeCol)).as("us"))
    val first = ev.groupBy("u").agg(min("us").as("f"))
    ev.join(first, "u")
      .select(col("u"), expr(s"f div ${b}L").as("cohort_bucket"),
        (expr(s"us div ${b}L") - expr(s"f div ${b}L")).as("periods_since"))
      .groupBy("cohort_bucket", "periods_since")
      .agg(countDistinct(col("u")).as("n_users"))
  }

  /** Item co-occurrence counts for PMI-style association mining: for
    * every unordered item pair {a < b} sharing at least one key, the
    * number of keys holding both, alongside each item's key count and
    * the total key count — the four EXACT integers PMI
    * log(n·c_ab/(c_a·c_b)) needs, emitted as integers so the (float)
    * log stays in the consumer and the result is oracle-replayable.
    *
    * Scale shape: one distinct (key, item) pass, then the pair join runs
    * WITHIN key only — fan-out bounded by items-per-key² with
    * items-per-key ≤ the (small) item vocabulary, never corpus².
    * Item/total counts join back on the (tiny) item dimension — AQE
    * broadcasts them. */
  def cooccurrenceCounts(df: DataFrame, keyCol: String,
                         itemCol: String): DataFrame = {
    val ki = df.where(col(keyCol).isNotNull && col(itemCol).isNotNull)
      .select(col(keyCol).as("k"), col(itemCol).as("item")).distinct()
    val itemCounts = ki.groupBy("item").agg(count(lit(1)).as("n_item"))
    val total = ki.select(countDistinct(col("k")).as("n_keys"))
    val pairs = ki.toDF("k", "a")
      .join(ki.toDF("k", "b"), "k")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(itemCounts.select(col("item").as("a"), col("n_item").as("n_a")), "a")
      .join(itemCounts.select(col("item").as("b"), col("n_item").as("n_b")), "b")
      .crossJoin(total)
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_keys"))
  }

  /** Path analysis: each user's first `k` event types in time order
    * (ties toward the earlier event id) joined with '>', counted across
    * users — the "what do journeys look like" primitive behind funnel
    * DISCOVERY (funnelSteps checks a known path; this surfaces the
    * paths worth checking). Ranking is one window pass; the per-user
    * path builds from a size-≤k collect_list sorted in-row by rank (the
    * list is bounded by k, never by the user's event volume). */
  def eventPaths(events: DataFrame, userCol: String, typeCol: String,
                 timeCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("t"),
      unix_micros(col(timeCol)).as("us"), col(idCol).as("id"))
    val w = Window.partitionBy(col("u")).orderBy(col("us"), col("id"))
    ev.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .groupBy(col("u"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__rn"), col("t")))),
          x => x.getField("t")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
  }

  /** Marketing-style touch attribution: for every conversion event, the
    * FIRST and LAST preceding touch (an event whose type is in
    * `touchTypes`) by the same user at-or-before the conversion time —
    * ties on time break toward the earlier event id, so the result is
    * deterministic under concurrent events. One window pass per user
    * timeline, no self-join.
    *
    * Emits (user, conversion id, conversion us, first/last touch type +
    * us), conversions with no prior touch keep nulls (the unattributed
    * bucket every real report carries). */
  def touchAttribution(events: DataFrame, userCol: String, typeCol: String,
                       timeCol: String, idCol: String,
                       conversionType: String,
                       touchTypes: Seq[String]): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("t"),
      unix_micros(col(timeCol)).as("us"), col(idCol).as("id"))
    val w = Window.partitionBy(col("u"))
      .orderBy(col("us"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touch = when(col("t").isin(touchTypes: _*),
      struct(col("us"), col("id"), col("t")))
    ev.withColumn("__first", first(touch, ignoreNulls = true).over(w))
      .withColumn("__last", last(touch, ignoreNulls = true).over(w))
      .where(col("t") === conversionType)
      .select(col("u"), col("id").as("conversion_id"),
        col("us").as("conversion_us"),
        col("__first.t").as("first_touch_type"),
        col("__first.us").as("first_touch_us"),
        col("__last.t").as("last_touch_type"),
        col("__last.us").as("last_touch_us"))
  }
}
