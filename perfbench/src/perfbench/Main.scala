package perfbench

import java.io.File
import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.core.{GraftSession, ReaderSession}

/** Paper-pipeline benchmark: drives ingest → merge, spatial reads and
  * overpass/grid analyses through the engine's public API on generated
  * polar-orbit granules, checks every op against [[Reference]], and writes
  * one result file. See perfbench/README.md.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --out FILE --info FILE --trace-out FILE
  */
object Main {
  /** Granules are half orbits of 1,000 scans × 25 footprints: 25,000
    * rows, half the 50,000-row granules of this engine's measured ingest
    * sizing. Rows per file stay the same, since a granule's footprints per
    * cell do not depend on its length. An ingest cycle writes `nproc`
    * granules (one per writer slot, 100,000 rows on 4 cores: 1/12 of the
    * 24-granule month the sizing used) into a bucket set up with a
    * one-granule month. The read and analysis bucket is one month of 4
    * granules (100,000 rows: 1/20 of the 2M-row sizing bucket) with data
    * in all 36 longitude bins. These sizes let both set-ups be built twice
    * per run within the run-time budget. */
  def ingestShape(cores: Int) = SwathShape(nAlong = 1000, nCross = 25, granulesPerCycle = cores,
    segment = 0.5)
  val ArchiveShape = SwathShape(nAlong = 1000, nCross = 25, granulesPerCycle = 4, segment = 0.5)
  /** `setup_s` takes the median (here: the mean) of this many set-up
    * builds: the first is JIT-cold, the second warm. */
  val SetupReps = 2
  /** Reads and analyses cycle through this many seeded ops; every metric
    * weighs each of them once, so a faster engine runs the same mix. A
    * pool of 30 reads holds the fixed kind mix of [[SpatialReads]]. */
  val PoolSize = 30
  /** Ingest warms up with this many cycles. In trials the cycle time kept
    * falling slowly for 15 cycles (about 5.4 s to 2.6–3.2 s on 4 cores)
    * without levelling off; it fell fastest over the first 3 to 4, after
    * the set-up builds. A fixed count puts both commits at the same point
    * of that curve, and 3 is what the run-time budget allows. */
  val IngestWarmUps = 3
  /** Ingest times a fixed number of cycles set by `--seconds` (one per 3 s,
    * about a cycle's time on 4 cores, at least 3), not by the clock: both
    * commits ingest the same months into the same growing bucket. */
  def ingestCycles(seconds: Int): Int = math.max(3, seconds / 3)
  val Workloads = Seq("ingest_merge", "spatial_reads", "overpass_grid")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, info: String, traceOut: String)

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] FAILED: $e")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("work"), get("out"), get("info"), get("trace-out"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  /** Memory this JVM holds live, in MB: heap in use right after a full
    * collection, plus non-heap (metaspace, code cache) and NIO buffers,
    * minus the benchmark's own reference copy of `referenceRows` generated
    * rows (40 bytes each). Unlike the resident set of a fixed heap, it
    * grows when the program keeps more data or caches between ops. */
  private def liveMemMb(referenceRows: Long): Double = {
    System.gc()
    val mx = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    (mx.getHeapMemoryUsage.getUsed + mx.getNonHeapMemoryUsage.getUsed + buffers -
      40L * referenceRows) / 1048576.0
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def writeAtomic(path: String, s: String): Unit = {
    val f = new File(path)
    val tmp = new File(path + ".tmp")
    Files.write(tmp.toPath, s.getBytes(UTF_8))
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(a.work)
    val cores = Runtime.getRuntime.availableProcessors
    val tracer = new Tracer
    var nextOp = 0
    def traced[T](on: Boolean)(body: => T): T = {
      if (on) tracer.beginOp(nextOp)
      nextOp += 1
      try body finally tracer.endOp()
    }

    // ---- set-up: session, bucket builds, warm-up
    val spark = traced(a.trace) {
      tracer.span("core.session") {
        // graft.Bench's session: local[nproc], nproc shuffle
        // partitions, NIO local file system
        GraftSession.builder(cores.toString, cores.toString, rawLocalFs = true)
          .config("spark.local.dir", new File(work, "spark-local").getPath)
          .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
          .getOrCreate()
      }
    }
    val sessionS = tracer.spans.headOption.map(_.ms / 1e3)
    tracer.span("core.readerSession")(ReaderSession(spark))
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(f"session ready ${sessionReadyS}%.2fs after JVM start")
    val listener = if (a.trace) Some(new WorkListener(spark.sparkContext)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, a.seed, work, tracer, listener)

    val ops = mutable.ArrayBuffer.empty[OpOut]       // timed
    val keys = mutable.ArrayBuffer.empty[Int]        // each timed op's pool index
    val checked = mutable.ArrayBuffer.empty[OpOut]   // warm-up and probes
    val buildS = mutable.ArrayBuffer.empty[Double]
    val setupShape =
      if (a.workload == "ingest_merge") ArchiveShape.copy(granulesPerCycle = 1) else ArchiveShape
    var archive = Seq.empty[Granule]
    var bucket = ""
    for (rep <- 0 until SetupReps) {
      val dir = ctx.path(s"bucket_$rep")
      val (granules, s) = Pipeline.build(ctx, setupShape, dir)
      buildS += s
      log(f"set-up build $rep: $s%.2fs, ${granules.map(_.size).sum} rows")
      if (bucket.nonEmpty) Disk.delete(bucket)
      archive = granules; bucket = dir
    }
    val warmT0 = System.nanoTime()
    lazy val ingest = new IngestMerge(ctx, ingestShape(cores), bucket, archive)
    lazy val reads = new SpatialReads(ctx, bucket, ingest.archive.toSeq)
    lazy val analyses = new OverpassGrid(ctx, bucket, ingest.archive.toSeq, ArchiveShape)
    def timedOp(i: Int): OpOut = a.workload match {
      case "ingest_merge" => ingest.op()
      case "spatial_reads" => reads.op(i)
      case "overpass_grid" => analyses.op(i)
    }
    val warmUps = a.workload match {
      case "ingest_merge" =>
        (1 to IngestWarmUps).foreach(_ => checked += traced(false)(ingest.op())); IngestWarmUps
      case "spatial_reads" => (1 to 5).foreach(k => checked += traced(false)(reads.op(-k))); 5
      case "overpass_grid" => (1 to 6).foreach(k => checked += traced(false)(analyses.op(-k))); 6
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    log(f"warm-up: $warmUps ops in ${warmS}%.2fs; " +
      checked.takeRight(warmUps).map(o => f"${o.kind} ${o.wallMs}%.0f").mkString(", "))
    val setupS = sessionReadyS + Stats.median(buildS.toSeq) + warmS
    val memMb = mutable.ArrayBuffer(liveMemMb(ingest.archive.map(_.size.toLong).sum))

    // ---- timed closed loop: one client, next op after the previous one.
    // Reads and analyses cycle through a seeded pool of PoolSize ops for
    // --seconds and at least one full pass; ingest runs ingestCycles cycles.
    val ingesting = a.workload == "ingest_merge"
    val pool = if (ingesting) ingestCycles(a.seconds) else PoolSize
    val loopT0 = System.nanoTime()
    var i = 0
    while (i < pool || (!ingesting && System.nanoTime() - loopT0 < a.seconds * 1000000000L)) {
      // traced runs alternate traced and untraced ops, and a pool op
      // alternates between passes: the difference is the tracing overhead
      ops += traced(a.trace && (i + i / pool) % 2 == 1)(timedOp(i % pool))
      keys += i % pool
      i += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    memMb += liveMemMb(ingest.archive.map(_.size.toLong).sum)
    log(f"timed: ${ops.size} ops in ${loopS}%.2fs; " +
      ops.map(o => f"${o.kind} ${o.wallMs}%.0f").mkString(", "))

    // ---- the known engine defect the read mix steers clear of: reported
    // on every reads run, not counted in the result
    val knownDefects = if (a.workload != "spatial_reads") Map.empty[String, Any] else {
      val (c, rows, (lo, hi)) = reads.antimeridianProbe()
      val present = rows < lo || rows > hi
      log(f"known engine defect, radius read across the antimeridian around " +
        f"(${c.lon}%.2f, ${c.lat}%.2f), ${c.meters / 1e3}%.0f km: $rows rows, reference " +
        s"[$lo, $hi]: " + (if (present) "still present" else "fixed"))
      Map("antimeridian_radius_read" -> Map("lon" -> c.lon, "lat" -> c.lat,
        "meters" -> c.meters, "rows" -> rows, "reference_lo" -> lo, "reference_hi" -> hi,
        "present" -> present))
    }

    // ---- traced runs: calls into each layer the timed ops never reach,
    // the ingest cycle last since it grows the bucket
    if (a.trace) {
      val have = ops.flatMap(_.layers.keys).toSet
      if (!have.contains("reader.exec_ms"))
        (1 to 5).foreach(k => checked += traced(true)(reads.op(-1000 - k)))
      if (!have.contains("analysis.grid_ms"))
        (0 until 3).foreach(k => checked += traced(true)(analyses.op(-999 + k)))
      if (!have.contains("writer.granule_ms")) checked += traced(true)(ingest.op())
    }
    // bytes per stored row before any probe cycle: the bucket as measured
    val storedRows = ingest.archive.map(_.size.toLong).sum
    val bytesPerRow = Disk.bytes(Disk.files(bucket)).toDouble / storedRows
    val endT0 = System.nanoTime()
    val finalErrors = ingest.finalCheck()
    log(f"final check ${(System.nanoTime() - endT0) / 1e9}%.2fs")

    // ---- results
    val all = ops ++ checked
    val failures = all.filter(_.errors.nonEmpty)
    val failed = failures.size + (if (finalErrors.nonEmpty) 1 else 0)
    (failures.flatMap(_.errors) ++ finalErrors).take(20)
      .foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))

    // one latency per pool op: the median of its untraced runs
    val untraced = ops.indices.filter(k => ops(k).layers.isEmpty)
    val walls = untraced.groupBy(keys(_)).toSeq.sortBy(_._1)
      .map { case (_, ks) => Stats.median(ks.map(ops(_).wallMs)) }
    val wallS = untraced.map(ops(_).wallMs).sum / 1e3
    val (tailPct, tailMs) = Stats.tail(walls)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", Stats.median(walls), "ms"),
      ("op_tail_ms", tailMs, "ms"),
      ("ops_per_s", walls.size / (walls.sum / 1e3), "1/s"),
      ("bytes_per_row", bytesPerRow, "B"),
      ("live_mem_mb", memMb.max, "MB"))
    val perLayer = if (!a.trace) Nil else layerMetrics(ops.toSeq, checked.toSeq, sessionS.get)
    val metrics = if (a.trace) perLayer else endToEnd
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)

    val info = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "host" -> Map("nproc" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}"),
      "setup" -> Map("jvm_to_session_s" -> sessionReadyS, "build_s" -> buildS.toSeq,
        "warmup_s" -> warmS, "warmup_ops" -> warmUps),
      "timed" -> Map("ops" -> ops.size, "untraced_ops" -> untraced.size, "loop_s" -> loopS,
        "rows_per_s" -> untraced.map(ops(_).rows).sum / wallS,
        "op_wall_s" -> wallS, "tail_percentile" -> tailPct, "tail_samples" -> walls.size,
        "live_mem_mb" -> memMb.toSeq,
        "by_kind" -> ops.groupBy(_.kind).map { case (k, os) =>
          k -> Map("n" -> os.size, "p50_ms" -> Stats.median(os.map(_.wallMs).toSeq)) }),
      "stored_rows" -> storedRows,
      "known_defects" -> knownDefects,
      "end_to_end" -> endToEnd.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> perLayer.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "self_ms_by_layer" -> tracer.selfMsByLayer)
    writeAtomic(a.info, Stats.json(info))
    if (a.trace)
      writeAtomic(a.traceOut, Stats.json(Map("spans" -> tracer.spans.toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
        "self_ms_by_layer" -> tracer.selfMsByLayer)))
    val stopT0 = System.nanoTime()
    spark.stop()
    log(f"session stopped in ${(System.nanoTime() - stopT0) / 1e9}%.2fs")
    if (failed > 0) {
      System.err.println(s"[perfbench] ${Stats.json(result)}")
      1
    } else {
      writeAtomic(a.out, Stats.json(result))
      0
    }
  }

  /** Per-layer metrics: medians over the traced timed ops that measured
    * them, else over the traced set-up builds and probes. */
  private def layerMetrics(ops: Seq[OpOut], checked: Seq[OpOut],
                           sessionS: Double): Seq[(String, Double, String)] = {
    def pool(os: Seq[OpOut]) = os.flatMap(_.layers.toSeq).groupMap(_._1)(_._2)
    val (timed, other) = (pool(ops), pool(checked.filter(_.layers.nonEmpty)))
    def m(name: String): Double = Stats.median(timed.getOrElse(name,
      other.getOrElse(name, throw new IllegalStateException(s"no measurement of $name"))))
    val tracedW = ops.filter(_.layers.nonEmpty).map(_.wallMs)
    val plainW = ops.filter(_.layers.isEmpty).map(_.wallMs)
    val overheadMs =
      if (tracedW.isEmpty) 0.0 else Stats.median(tracedW) - Stats.median(plainW)
    Seq(
      ("core.session_s", sessionS, "s"),
      ("writer.granule_ms", m("writer.granule_ms"), "ms"),
      ("writer.jobs_per_granule", m("writer.jobs_per_granule"), "count"),
      ("writer.files_per_granule", m("writer.files_per_granule"), "count"),
      ("writer.bytes_written_per_row", m("writer.bytes_written_per_row"), "B"),
      ("merge.s", m("merge.s"), "s"),
      ("merge.jobs", m("merge.jobs"), "count"),
      ("merge.files_in", m("merge.files_in"), "count"),
      ("merge.files_out", m("merge.files_out"), "count"),
      ("merge.bytes_rewritten_per_input_byte", m("merge.bytes_rewritten_per_input_byte"), "ratio"),
      ("reader.plan_ms", m("reader.plan_ms"), "ms"),
      ("reader.exec_ms", m("reader.exec_ms"), "ms"),
      ("reader.jobs_per_query", m("reader.jobs_per_query"), "count"),
      ("reader.driver_gap_ms", m("reader.driver_gap_ms"), "ms"),
      ("reader.files_scanned_per_query", m("reader.files_scanned_per_query"), "count"),
      ("reader.bytes_scanned_per_query", m("reader.bytes_scanned_per_query"), "B"),
      ("reader.rows_scanned_per_row_returned", m("reader.rows_scanned_per_row_returned"), "ratio"),
      ("bucketinfo.read_ms", m("bucketinfo.read_ms"), "ms"),
      ("partitioning.prune_ms", m("partitioning.prune_ms"), "ms"),
      ("partitioning.cells_kept_ratio", m("partitioning.cells_kept_ratio"), "ratio"),
      ("analysis.overpass_ms", m("analysis.overpass_ms"), "ms"),
      ("analysis.grid_ms", m("analysis.grid_ms"), "ms"),
      ("analysis.cube_ms", m("analysis.cube_ms"), "ms"),
      ("analysis.shuffle_bytes", m("analysis.shuffle_bytes"), "B"),
      ("spark.jobs", m("spark.jobs"), "count"),
      ("spark.tasks", m("spark.tasks"), "count"),
      ("spark.busy_core_s", m("spark.busy_core_s"), "s"),
      ("spark.max_task_ms", m("spark.max_task_ms"), "ms"),
      ("spark.driver_gap_s", m("spark.driver_gap_s"), "s"),
      ("spark.shuffle_bytes", m("spark.shuffle_bytes"), "B"),
      ("trace.overhead_ms", overheadMs, "ms"),
      ("trace.overhead_ratio", if (plainW.isEmpty) 0.0 else overheadMs / Stats.median(plainW), "ratio"))
  }
}
