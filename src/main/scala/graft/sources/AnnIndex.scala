package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._

import graft.operators.Similarity

/** Persisted ANN index lifecycle: build an IVF-PQ index once (the
  * expensive corpus-side pass), write it to storage, and serve every
  * subsequent search from the reloaded frames — the production shape
  * `Similarity.ivfPqTopK`'s scaladoc promises ("persist the (cell, codes)
  * frame — it IS the index"). The reference's analogue is its bucket
  * manifest round trip (satbucket/io.py:35-73), which [[BucketInfo]]
  * mirrors for spatial buckets; this module applies the same pattern —
  * parquet payload + an underscore-prefixed JSON manifest carrying the
  * parameters a reader needs — to the ANN index.
  *
  * Layout under `indexDir`:
  *  - `_ann_index.json` — manifest: index type + (dims, m, k, nList,
  *    quantizeScale, idCol, n_gens). Underscore prefix so Spark's file
  *    index treats it as metadata, like `_bucket_info.json`.
  *  - `centroids/` — nList rows (cell, centroid array<double>).
  *  - `codebook/`  — m·k rows (subspace, code_id, centroid array<double>).
  *  - `codes/gen=N/cell=C/` — one row per corpus vector (id, pq_code
  *    array<long>), partitioned by generation and cell: an nProbe search
  *    reads only the committed generations of the probed cells'
  *    directories (Catalyst partition pruning), the on-disk equivalent of
  *    an inverted list. At 100 TB the codes frame is the only large one
  *    (~m bytes-ish per vector), and a probe touches nProbe/nList of it.
  *
  * Batch appends, compaction and as-of loads follow the generation-
  * commit protocol of [[GenerationalStore]] (a `gen=N` directory per
  * append, one atomic manifest rename per commit); every batch mutator
  * here takes the whole-dir claim, since [[IvfPqIndex.delete]] mutates
  * in place. STREAM-managed codes (see [[streamingCodesWriter]]) use
  * the file-sink `_spark_metadata` log as their transaction mechanism
  * instead — flat `cell=C` layout, no generations; [[compactCodes]]
  * converts to the generational batch layout.
  *
  * Exactness: every persisted value is a long or an integer-valued double
  * (the quantized grid), so the parquet round trip is bit-exact and a
  * reloaded search returns EXACTLY what `ivfPqTopK` computes inline —
  * gated by q100_pq_persist against the same DuckDB oracle as q96. */
object AnnIndex {

  val ManifestFile = "_ann_index.json"

  private val Store = GenerationalStore(ManifestFile, "index_type", "ivf_pq",
    Seq("codes"), "an ANN index")

  /** Liveness marker a running [[IvfPqIndex.delete]] holds through its
    * swap loop. Underscore prefix keeps it out of Spark's file index. */
  val DeleteMarkerFile = "_delete_inprogress"

  /** Default for how old delete-swap debris must be before a LOADING
    * reader repairs it (ms, judged by [[DeleteMarkerFile]]'s mtime) —
    * the family-wide writer-liveness constant,
    * [[GenerationLock.DefaultStalenessMs]].
    * Younger debris means a live delete() may still be mid-swap in
    * another process — racing its directory moves would corrupt the
    * index — so the load refuses loudly instead. Operators who KNOW the
    * writer is dead pass force = true to [[repairDeleteAsides]] (or wait
    * out the window). A PARAMETER of [[loadIvfPq]]/[[repairDeleteAsides]],
    * not mutable global state: crash specs pass 0 at the call site (their
    * simulated writer is dead by construction) without bleeding a zeroed
    * guard into every other suite sharing the JVM. */
  val DefaultRepairStalenessMs: Long = GenerationLock.DefaultStalenessMs

  /** A reloaded IVF-PQ index: parameters from the manifest plus the three
    * lazy frames. `search` never touches the original corpus. */
  final case class IvfPqIndex(dims: Int, m: Int, k: Int, nList: Int,
                              quantizeScale: Option[Double], idCol: String,
                              residual: Boolean, trainUpdates: Int,
                              nGens: Int, indexDir: String,
                              centroids: DataFrame, codebook: DataFrame,
                              codes: DataFrame, asOf: Boolean = false,
                              baseGen: Int = 0, asOfFence: Int = 0,
                              codesSchema: Option[StructType] = None) {

    /** The handle-local preconditions of the batch mutation verbs (the
      * head re-check runs under the writer claim). */
    private def requireBatchManagedLocal(verb: String): Unit = {
      // a stream-managed codes dir (file-sink _spark_metadata) reads ONLY
      // the files in the sink log — a batch write here would add rows
      // that are silently invisible; route new data through
      // streamingCodesWriter (or compact first)
      require(!BucketFs.exists(s"$indexDir/codes/_spark_metadata"),
        s"codes under $indexDir are stream-managed; $verb")
      GenerationalStore.requireMutable(indexDir, asOf, nGens, "mutate")
    }

    private def meta = Meta(dims, m, k, nList, quantizeScale, idCol,
      residual, trainUpdates, nGens, baseGen, asOfFence, codesSchema)

    /** A batch mutation under the whole-dir claim ([[GenerationalStore
      * .update]]): append-vs-delete must exclude too — their manifest
      * writes would race last-writer-wins otherwise (an interleaved
      * delete's as-of fence silently overwritten, un-fencing mutated
      * history). */
    private def update(spark: SparkSession, claimStaleness: Long,
                       vacuum: Boolean = false)(stage: => Meta): IvfPqIndex =
      Store.update(indexDir, nGens, claimStaleness,
          _.requireHead(nGens, baseGen), wholeDir = true, vacuum = vacuum) {
        _ => fields(stage)
      }(loadIvfPq(spark, indexDir))

    /** Incremental ingest: encode `newCorpus` against the PERSISTED
      * centroids and codebook — nothing retrains, existing codes are
      * untouched — and append the new (id, cell, pq_code) rows as a new
      * generation of the cell-partitioned codes, committed by one atomic
      * manifest rename (see the commit protocol in the object doc: a
      * crashed append is invisible and swept on retry, never
      * double-posted). Ids must be new (no dedup against existing codes
      * is attempted). Returns a freshly loaded index. Continuous ingest
      * should use [[streamingCodesWriter]], whose file-sink log gives
      * exactly-once batches. */
    def append(newCorpus: DataFrame, vecCol: String,
               claimStaleness: Long =
                 GenerationLock.DefaultStalenessMs): IvfPqIndex = {
      requireBatchManagedLocal("use streamingCodesWriter")
      update(newCorpus.sparkSession, claimStaleness) {
        val exploded = Similarity.encodeAgainstIndex(newCorpus, idCol, vecCol,
          centroids.select(col("cell").as("centroid_id"),
            col("centroid").as("__c")),
          codebook.select(col("subspace").as("__s"), col("code_id").as("__cid"),
            col("centroid").as("__c")),
          dims, m, k, nList, residual, quantizeScale,
          integerCb = trainUpdates == 0)
        meta.copy(nGens = nGens + 1, codesSchema =
          Some(writeCodes(exploded, idCol, indexDir, gen = nGens)))
      }
    }

    /** Fold every committed code generation into ONE replacement
      * generation — the batch-layout analogue of [[compactCodes]] and the
      * compaction of [[GenerationalStore]]. Search results are unchanged
      * — code rows union verbatim; the frozen centroids/codebook don't
      * move. `vacuum = false` keeps the old generations for reader grace;
      * retire them with [[vacuumOldGens]]. */
    def compactGens(claimStaleness: Long =
                      GenerationLock.DefaultStalenessMs,
                    vacuum: Boolean = true): IvfPqIndex = {
      requireBatchManagedLocal("compact the stream layout with compactCodes")
      update(codes.sparkSession, claimStaleness, vacuum) {
        val folded = codes.withColumn("gen", lit(nGens))
        folded.write.mode("append").partitionBy("gen", "cell")
          .parquet(s"$indexDir/codes")
        // schema recomputed from the frame just written — identical for
        // an r21 handle, and upgrades a pre-r21 manifest on compaction
        meta.copy(nGens = nGens + 1, baseGen = nGens, codesSchema =
          Some(ReadBackSchema.of(folded.schema, Seq("gen", "cell"))))
      }
    }

    /** Retire generations a `compactGens(vacuum = false)` superseded
      * ([[GenerationalStore.vacuum]]). */
    def vacuumOldGens(): IvfPqIndex =
      Store.vacuum(indexDir, asOf)(loadIvfPq(codes.sparkSession, indexDir))

    /** Delete vectors by id — the remaining lifecycle verb after
      * save/load/search/append/stream-ingest. Rewrites ONLY the cell
      * directories that actually hold a deleted id (found by one pruned
      * scan; the rewrite stages kept rows to a temp dir and swaps
      * directories — the inverted-list analogue of the temporal update
      * mode, [[Merge]] T8 / satbucket/routines.py:791-810). Every other
      * cell's files are untouched, so the cost scales with the tombstone
      * batch's cell footprint, not index size. Centroids and codebook
      * stay frozen (deletes never retrain — standard IVF semantics).
      * Unknown ids are ignored; a fully-emptied cell's directory is
      * removed. Returns a freshly loaded index.
      *
      * `markerHeartbeatMs` is how often the liveness marker's mtime is
      * refreshed while the delete runs (a daemon timer beside the
      * arbitrarily-long tmp rewrite job and swap loop) — it must stay
      * well under the staleness window readers adjudicate with
      * ([[DefaultRepairStalenessMs]]), or a delete that outlives the
      * window would be judged crashed and its tmp dir swept mid-write.
      * The default (window / 4) keeps a live writer's marker under
      * ~2.5 min old for default-staleness readers regardless of how long
      * the rewrite takes. */
    def delete(ids: Seq[Long],
               markerHeartbeatMs: Long =
                 GenerationLock.DefaultStalenessMs / 4,
               claimStaleness: Long =
                 GenerationLock.DefaultStalenessMs): IvfPqIndex = {
      requireBatchManagedLocal("stop the stream and compact before deleting")
      require(markerHeartbeatMs > 0, "markerHeartbeatMs must be positive")
      require(ids.nonEmpty, "delete needs at least one id")
      require(ids.length <= 1000000,
        "literal tombstone sets are bounded at 1M ids — stage larger " +
          "deletes as a frame and anti-join a rebuild")
      // the SAME whole-dir writer claim as append/compactGens: delete
      // mutates IN PLACE (shared codes_rewrite_tmp, per-cell directory
      // swaps, a manifest rewrite carrying the as-of fence), so two
      // concurrent deletes would interleave swap loops over one tmp dir,
      // and a delete racing an append would lose one side's manifest
      // fields last-writer-wins. The delete MARKER below stays distinct:
      // the claim is writer-vs-writer mutual exclusion, the marker is
      // writer-vs-READER liveness (repair guards adjudicate on it).
      Store.claimed(indexDir, None, claimStaleness) { claim =>
      Store.read(indexDir).requireHead(nGens, baseGen)
      val spark = codes.sparkSession
      // the raw read keeps `gen`: deleted ids may live in any committed
      // generation, and the rewrite must land back in the SAME one.
      // Both partition columns get their types pinned — read-back type
      // depends on session inference settings
      val raw = codesSchema.map(spark.read.schema(_)).getOrElse(spark.read)
        .parquet(s"$indexDir/codes")
        .withColumn("gen", col("gen").cast("int"))
        .where(col("gen") >= lit(baseGen) && col("gen") < lit(nGens))
        .withColumn("cell", col("cell").cast("long"))
      val affected = raw.where(col(idCol).isin(ids: _*))
        .select(col("gen"), col("cell")).distinct()
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      if (affected.nonEmpty) {
        val tmp = s"$indexDir/codes_rewrite_tmp"
        // liveness marker for readers — FIRST, before any mutation
        // (including the tmp rewrite below): repairDeleteAsides treats
        // tmp-only debris as repair evidence, so a reader racing this
        // writer during the tmp-write window would otherwise sweep
        // codes_rewrite_tmp out from under us — the swap loop then finds
        // tmp/$sub absent, reads each affected cell as "emptied
        // entirely", and drops the asides, losing every surviving row in
        // those cells. With the marker down first AND heartbeat-refreshed
        // below, the staleness guard covers the ENTIRE mutation window —
        // including a tmp rewrite job that runs LONGER than the window. A
        // crashed delete() stops heartbeating, leaves the marker behind,
        // and once it is older than the staleness window the repair
        // proceeds. Written with a fresh mtime on purpose (aside dirs
        // keep their original mtime through rename, so THEY can't carry
        // the freshness signal).
        val markerPath = s"$indexDir/$DeleteMarkerFile"
        val markerMsg =
          s"delete in progress: ${affected.length} (gen, cell) dirs"
        BucketFs.writeStringAtomic(markerPath, markerMsg)
        // HEARTBEAT: a daemon timer refreshes the marker's mtime every
        // markerHeartbeatMs for as long as the delete runs, so a
        // reader's staleness clock measures time-since-last-beat, not
        // time-since-delete-start. Without it, a tmp rewrite outliving
        // the staleness window (plausible for large affected-cell sets)
        // would let a default-staleness reader adjudicate this STILL-LIVE
        // writer as crashed and sweep codes_rewrite_tmp mid-write — the
        // data-loss race the marker exists to close. The refresh is
        // fs.setTimes IN PLACE, not a rewrite: writeStringAtomic commits
        // by rename, whose replace-existing fallback is delete-dst-then-
        // rename on HDFS-semantics stores (Hadoop rename refuses an
        // existing destination there), so every beat after the first
        // would open a brief marker-ABSENT window in which a reader
        // listing the root sees tmp debris with NO marker and sweeps the
        // live writer's rewrite — the exact race the beat exists to
        // close (the local FS rename overwrites in place, so only
        // non-local stores see the gap; repairDeleteAsides additionally
        // re-stats the marker before acting on marker-less debris as
        // belt-and-braces). Stores without setTimes fall back to the
        // rewrite — their rename is copy+delete anyway, so the re-stat
        // guard is what covers them. Other beat failures are swallowed:
        // a transient FS hiccup must not kill the beat (the next tick
        // retries), and the delete itself surfaces real FS errors
        // through its own operations.
        val heartbeat = java.util.concurrent.Executors
          .newSingleThreadScheduledExecutor { r =>
            val t = new Thread(r, "ann-delete-marker-heartbeat")
            t.setDaemon(true); t
          }
        heartbeat.scheduleAtFixedRate(
          () => try {
            val (mfs, mp) = BucketFs.resolve(markerPath)
            try mfs.setTimes(mp, System.currentTimeMillis(), -1)
            catch {
              case _: UnsupportedOperationException =>
                BucketFs.writeStringAtomic(markerPath, markerMsg)
            }
          } catch { case scala.util.control.NonFatal(_) => () },
          markerHeartbeatMs, markerHeartbeatMs,
          java.util.concurrent.TimeUnit.MILLISECONDS)
        try {
          // the as-of FENCE commits BEFORE the first in-place mutation
          // (the tmp write is mutation-adjacent debris a crash leaves
          // behind): fencing early is safe (it only restricts time-travel
          // reads) and idempotent, and it closes the crash window where
          // the last aside was dropped but the post-loop manifest write
          // never ran — history would then have been served silently
          // mutated. From here on, any crash leaves the fence already on
          // disk before ANY debris can exist. Ownership re-assert first:
          // a falsely stale-swept claim aborts before the first in-place
          // mutation, with only the marker written (harmless: it goes
          // stale and readers resume).
          Store.commit(claim, indexDir, fields(meta.copy(asOfFence = nGens)))
          BucketFs.deleteRecursive(tmp)
          val pairs = affected.map { case (g, c) =>
            col("gen") === g && col("cell") === c }.reduce(_ || _)
          raw.where(pairs && !col(idCol).isin(ids: _*))
            .write.mode("overwrite").partitionBy("gen", "cell").parquet(tmp)
          deleteSwapHook("afterTmpWrite", -1, -1L)
          // crash-safe swap per (gen, cell) dir: move the LIVE directory
          // aside first, then the rewrite in, then drop the old copy — a
          // crash anywhere in the window leaves at least one complete copy
          // (deleting live-then-move would strand the data in tmp)
          affected.foreach { case (g, c) =>
            val sub = s"gen=$g/cell=$c"
            val old = s"$indexDir/codes_old_gen=${g}_cell=$c"
            BucketFs.deleteRecursive(old)
            deleteSwapHook("beforeAside", g, c)
            val (lfs, live) = BucketFs.resolve(s"$indexDir/codes/$sub")
            if (lfs.exists(live)) {
              val (_, oldP) = BucketFs.resolve(old)
              BucketFs.move(lfs, live, oldP)
            }
            deleteSwapHook("afterAside", g, c)
            val (fs, src) = BucketFs.resolve(s"$tmp/$sub")
            if (fs.exists(src)) { // absent = the cell emptied entirely
              val (_, dst) = BucketFs.resolve(s"$indexDir/codes/$sub")
              BucketFs.move(fs, src, dst)
            }
            deleteSwapHook("afterMoveIn", g, c)
            BucketFs.deleteRecursive(old)
          }
          BucketFs.deleteRecursive(tmp)
        } finally {
          // stop the beat BEFORE retiring the marker: a tick racing the
          // delete below would resurrect the marker and wedge every
          // future reader behind a phantom writer until it goes stale
          heartbeat.shutdownNow()
          heartbeat.awaitTermination(
            30, java.util.concurrent.TimeUnit.SECONDS)
        }
        // fence already committed (before the swap loop); finishing the
        // cleanup just retires the liveness marker. On FAILURE the marker
        // stays (finally only stops the beat): the debris is real and the
        // staleness window is what arbitrates its repair.
        BucketFs.deleteRecursive(markerPath)
      }
      loadIvfPq(spark, indexDir)
      }
    }

    /** Top-k ADC search against the persisted index; identical results to
      * `Similarity.ivfPqTopK(queries, corpus, ...)` with the build
      * parameters (including `residual`).
      *
      * `pruneCells` (default on) makes the cell-partitioned layout pay:
      * the query batch's probe-cell SET (distinct cells — bounded by
      * nList, NOT by query count) is collected and pushed as a STATIC
      * `cell IN (...)` partition filter on the codes scan, so only the
      * probed cells' directories are listed and read — deterministic
      * pruning instead of hoping runtime DPP fires. Cost: one extra tiny
      * job (the query-side assignment against nList broadcast
      * centroids). Results are identical either way — the join's cell
      * equality already restricts; the filter only prunes I/O. */
    def search(queries: DataFrame, vecCol: String, topK: Int,
               nProbe: Int = 1, pruneCells: Boolean = true): DataFrame = {
      val cents = centroids.select(col("cell").as("centroid_id"),
        col("centroid").as("__c"))
      val cb = codebook.select(col("subspace").as("__s"),
        col("code_id").as("__cid"), col("centroid").as("__c"))
      val prunedCodes =
        if (!pruneCells) codes
        else {
          val cells = Similarity.probeCells(queries, idCol, vecCol,
            cents, nList, nProbe, quantizeScale)
          codes.where(col("cell").isin(cells: _*))
        }
      val exploded = prunedCodes.select(col(idCol).as("neighbor_id"),
        col("cell").as("centroid_id"),
        posexplode(col("pq_code")).as(Seq("__s", "__code")))
      if (residual)
        Similarity.ivfPqResidualSearchIndex(queries, idCol, vecCol,
          cents, cb, exploded, dims, m, k, nList, topK, nProbe, quantizeScale)
      else
        Similarity.ivfPqSearchIndex(queries, idCol, vecCol,
          cents, cb, exploded, dims, m, k, nList, topK, nProbe, quantizeScale)
    }
  }

  /** Build and persist an IVF-PQ index over `corpus`. `trainUpdates` > 0
    * Lloyd-refines the PQ codebook before encoding; `residual` quantizes
    * v − c(cell) instead of raw vectors. Codebook and codes persist, so
    * searches never retrain or re-encode. `includeCodes = false` writes
    * only the manifest + centroids + codebook — the codebook-only shape
    * whose codes arrive later via [[streamingCodesWriter]] (the corpus
    * then only trains the quantizers, it is never encoded here). */
  def saveIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                indexDir: String, dims: Int, m: Int, k: Int, nList: Int,
                quantizeScale: Option[Double] = Some(1000.0),
                trainUpdates: Int = 0, residual: Boolean = false,
                includeCodes: Boolean = true,
                claimStaleness: Long =
                  GenerationLock.DefaultStalenessMs): Unit = {
    // PROVISIONING is a mutation too (round 17): two schedulers retrying
    // one build would interleave their overwrite-mode rewrites of
    // centroids/codebook/codes and the surviving manifest could serve a
    // MIX of both runs' files. Saves take the SAME whole-dir slot as
    // this index's append/delete/compact/repair, so a save also excludes
    // every in-flight mutation (and vice versa) — on this artifact the
    // exclusion is total, not just save-vs-save.
    Store.save(indexDir, claimStaleness) {
      val (centroids, codebook, codesExploded) =
        if (residual) Similarity.ivfPqResidualIndexExploded(
          corpus, idCol, vecCol, dims, m, k, nList, quantizeScale, trainUpdates)
        else Similarity.ivfPqIndexExploded(
          corpus, idCol, vecCol, dims, m, k, nList, quantizeScale, trainUpdates)
      // tiny frames: one file each, not 32 shards of a few rows
      centroids.select(col("centroid_id").as("cell"), col("__c").as("centroid"))
        .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
      codebook.select(col("__s").as("subspace"), col("__cid").as("code_id"),
          col("__c").as("centroid"))
        .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebook")
      // codes pack to one array row per vector (position = subspace) and
      // land in generation 0 of the gen/cell layout searches prune on;
      // n_gens = 0 marks a codes-free build (stream-managed codes never
      // use generations — their sink log is the transaction mechanism)
      fields(Meta(dims, m, k, nList, quantizeScale, idCol, residual,
        trainUpdates, if (includeCodes) 1 else 0, 0, 0,
        if (includeCodes) Some(writeCodes(codesExploded, idCol, indexDir, gen = 0))
        else None))
    }
  }

  /** Manifest fields of `mt` (key order as the map iterates — the
    * on-disk format since the first ANN manifest). */
  private def fields(mt: Meta): List[(String, JValue)] =
    (Map[String, JValue](
      "index_type" -> JString("ivf_pq"), "residual" -> JBool(mt.residual),
      "dims" -> JInt(mt.dims), "m" -> JInt(mt.m), "k" -> JInt(mt.k),
      "n_list" -> JInt(mt.nList), "train_updates" -> JInt(mt.trainUpdates),
      "quantize_scale" -> mt.scale.fold[JValue](JNull)(JDouble(_)),
      "id_col" -> JString(mt.idCol), "n_gens" -> JInt(mt.nGens),
      "base_gen" -> JInt(mt.baseGen), "as_of_fence" -> JInt(mt.asOfFence)) ++
      // read-back schema of the batch-managed generational codes layout
      // (r21): loads pass it instead of paying listing+footer inference
      // per resolution; absent on pre-r21 manifests and stream-managed
      // codes (their sink-log read keeps inference)
      mt.codesSchema.map(s =>
        "codes_schema" -> JString(ReadBackSchema.toJsonString(s)))).toList

  /** STREAMING codes ingest: a file-source stream of corpus rows is PQ-
    * encoded map-only against the index's persisted centroids + codebook
    * (collected to driver literals — nList×dims + m·k×(dims/m), the usual
    * bounded trust) and appended cell-partitioned into `indexDir/codes`
    * through Spark's file sink — checkpointed, exactly-once, the
    * continuous version of [[IvfPqIndex.append]]. The encode plan is pure
    * projection (no joins/aggregations), so it runs in append mode with
    * no state store and no watermark. Codes written here are BYTE-
    * identical to a batch encode of the same rows (the in-row argmin
    * matches the batch argmin winner-for-winner; q113 gates it).
    *
    * Ownership rule: the file sink's `_spark_metadata` log makes batch
    * reads of the directory see ONLY sink-written files — so an index's
    * codes are EITHER batch-managed (save/append) or stream-managed
    * (this writer); both sides refuse to write into the other's
    * directory. Build the index with `saveIvfPq(includeCodes = false)`
    * for a stream-managed one. Residual indexes work too: the winning
    * cell's centroid vector rides in the in-row argmin struct, so the
    * residual subtraction stays a projection. Caller starts the returned
    * writer. */
  def streamingCodesWriter(spark: SparkSession, indexDir: String,
                           sourceDir: String,
                           schema: org.apache.spark.sql.types.StructType,
                           vecCol: String,
                           checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val mt = readMeta(indexDir)
    require(!BucketFs.exists(s"$indexDir/codes") ||
        BucketFs.exists(s"$indexDir/codes/_spark_metadata"),
      s"codes under $indexDir are batch-managed; use IvfPqIndex.append")
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .select(col("cell").cast("long"), col("centroid"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val cb = spark.read.parquet(s"$indexDir/codebook")
      .select(col("subspace"), col("code_id"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).map { case (s, rows) =>
        s -> rows.map(t => t._2 -> t._3) }
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    Similarity.encodeRowsAgainstCollected(stream, mt.idCol, vecCol,
        cents, cb, mt.dims, mt.m, mt.scale, mt.residual)
      .writeStream
      .format("parquet")
      .option("path", s"$indexDir/codes")
      .option("checkpointLocation", checkpointDir)
      .partitionBy("cell")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
  }

  /** Convert STREAM-managed codes (file-sink `_spark_metadata` log) to
    * batch-managed: materialize exactly the committed files' rows — the
    * read goes through the sink log, so uncommitted/orphaned files are
    * dropped, which is the point — rewrite them cell-partitioned, and
    * swap directories. The stream→batch handoff: run after stopping an
    * ingest stream to unlock the batch verbs ([[IvfPqIndex.append]],
    * [[IvfPqIndex.delete]]); restarting the old stream afterwards is
    * refused by its own guard (no sink log any more). */
  def compactCodes(spark: SparkSession, indexDir: String): Unit = {
    val codesDir = s"$indexDir/codes"
    require(BucketFs.exists(s"$codesDir/_spark_metadata"),
      s"codes under $indexDir are already batch-managed")
    val tmp = s"$indexDir/codes_compact_tmp"
    BucketFs.deleteRecursive(tmp)
    val handedOff = spark.read.parquet(codesDir)
      .withColumn("cell", col("cell").cast("long"))
      .withColumn("gen", lit(0))
    handedOff.write.mode("overwrite").partitionBy("gen", "cell").parquet(tmp)
    // crash-safe swap: live moves ASIDE (not deleted) before tmp moves in,
    // so a crash in the window always leaves one complete copy on disk
    val old = s"$indexDir/codes_old"
    BucketFs.deleteRecursive(old)
    val (fs, live) = BucketFs.resolve(codesDir)
    val (_, oldP) = BucketFs.resolve(old)
    BucketFs.move(fs, live, oldP)
    val (_, src) = BucketFs.resolve(tmp)
    val (_, dst) = BucketFs.resolve(codesDir)
    BucketFs.move(fs, src, dst)
    BucketFs.deleteRecursive(old)
    // the handoff commit: codes are now generation 0 of the batch layout
    Store.write(indexDir, fields(readMeta(indexDir).copy(nGens = 1,
      baseGen = 0, asOfFence = 0, codesSchema =
        Some(ReadBackSchema.of(handedOff.schema, Seq("gen", "cell"))))))
  }

  /** Pack exploded codes to one array row per vector (position =
    * subspace) and write them into one generation of the gen/cell
    * layout — shared by the initial save (gen 0) and incremental
    * appends (gen = nGens). Returns the directory's READ-BACK schema
    * (manifest-persisted so loads skip footer inference — r21, see
    * [[ReadBackSchema]]). */
  private def writeCodes(codesExploded: DataFrame, idCol: String,
                         indexDir: String, gen: Int)
      : org.apache.spark.sql.types.StructType = {
    val g = codesExploded
      .groupBy(col("neighbor_id"), col("centroid_id"))
      .agg(transform(array_sort(collect_list(struct(col("__s"), col("__code")))),
        s => s.getField("__code")).as("pq_code"))
      .select(col("neighbor_id").as(idCol), col("centroid_id").as("cell"),
        col("pq_code"))
      .withColumn("gen", lit(gen))
    g.write.mode("append").partitionBy("gen", "cell")
      .parquet(s"$indexDir/codes")
    ReadBackSchema.of(g.schema, Seq("gen", "cell"))
  }

  /** Manifest fields, parsed once — shared by the full load and the
    * codes-free paths (streamingCodesWriter runs before codes exist). */
  private final case class Meta(dims: Int, m: Int, k: Int, nList: Int,
                                scale: Option[Double], idCol: String,
                                residual: Boolean, trainUpdates: Int,
                                nGens: Int, baseGen: Int, asOfFence: Int,
                                codesSchema: Option[StructType])

  private def metaOf(m: GenerationalStore.Manifest): Meta =
    Meta(m.int("dims"), m.int("m"), m.int("k"), m.int("n_list"),
      m.orElse("quantize_scale", Option.empty[Double]) {
        case JDouble(x) => Some(x)
        case JInt(x) => Some(x.toDouble)
      }, m.str("id_col"),
      m.orElse("residual", false) { case JBool(b) => b }, // pre-residual
      m.intOr("train_updates", 0), m.nGens, m.baseGen,
      m.intOr("as_of_fence", 0), // no in-place mutation recorded
      // absent on pre-r21 manifests → loads fall back to footer inference
      m.schema("codes_schema"))

  private def readMeta(indexDir: String): Meta = metaOf(Store.read(indexDir))

  /** Reload a persisted IVF-PQ index (manifest + lazy parquet frames).
    *
    * `asOfGen >= 0` is a TIME-TRAVEL read: the codes frame is pinned to
    * generations `< asOfGen` — the exact index state after the asOfGen-th
    * committed batch — and the handle is read-only (mutation verbs refuse,
    * since appending to a historical prefix would fork history). Exact by
    * construction: centroids and codebook are frozen at save time and
    * appends only add code generations, so a search as-of gen G returns
    * byte-identical results to a search run when gen G was the head —
    * guarded: states older than a compaction base or an in-place
    * [[IvfPqIndex.delete]] (which rewrites rows inside historical
    * generations; tracked via the manifest `as_of_fence`) are REFUSED
    * rather than served subtly wrong. The
    * generation filter is a partition-directory predicate — Catalyst
    * prunes the newer `gen=N` directories, so an as-of read never even
    * lists the data it excludes. Requires the generational layout (not
    * stream-managed / pre-generational codes). */
  /** Test-only crash injection for delete()'s swap window: invoked at
    * the named point for each affected (gen, cell); specs throw from it
    * to simulate a process kill at that exact step, then assert
    * [[repairDeleteAsides]] restores a loadable, either-copy-complete
    * index. Production never sets it. */
  private[graft] var deleteSwapHook: (String, Int, Long) => Unit =
    (_, _, _) => ()

  /** Test-only interleave hook for [[repairDeleteAsides]]: invoked after
    * the root listing found repair evidence, BEFORE the marker re-stat —
    * specs plant a fresh marker here to pin the listing-vs-beat race
    * guard deterministically. Production never sets it. */
  private[graft] var repairListHook: () => Unit = () => ()

  /** Roll FORWARD any interrupted delete() swap debris before serving the
    * index. The swap window per affected (gen, cell) is: live moves
    * ASIDE (`codes_old_gen=G_cell=C`) → rewrite moves in from
    * `codes_rewrite_tmp` → aside dropped. A crash anywhere leaves at
    * least one complete copy on disk; recovery is pure forward
    * completion:
    *   - aside + live present  → crash after move-in: drop the aside;
    *   - aside, no live, tmp/sub present → crash between aside and
    *     move-in: complete the move-in, then drop the aside;
    *   - aside, no live, no tmp/sub → the rewrite emptied the cell (the
    *     intended end state has no live dir): drop the aside.
    * Roll-forward (never back) keeps the index consistent even when the
    * crash split cells into swapped and unswapped halves — a retried
    * delete(ids) is idempotent over both. A leftover `codes_rewrite_tmp`
    * or `_delete_inprogress` marker WITHOUT asides is repair evidence
    * too (the crash fell outside the aside window): both are swept. The
    * fence itself commits BEFORE the tmp rewrite in delete() (the
    * earliest thing a crash can leave behind is the marker, written just
    * before the fence), so by the time any debris can exist the manifest
    * already refuses pre-delete as-of reads; it is re-asserted here for
    * belt-and-braces.
    *
    * Concurrency contract (single WRITER, many readers): a repair that
    * races a LIVE delete()'s swap loop would double-move directories, so
    * when the debris is FRESH (the writer's `_delete_inprogress` marker
    * is younger than `stalenessMs`, default
    * [[DefaultRepairStalenessMs]]) this throws
    * IllegalStateException instead of acting — a concurrent reader's
    * load fails loudly rather than corrupting the index. Repair runs
    * only once the marker has gone stale (crashed writer) or with
    * `force = true` (operator knows the writer is dead). Because repair
    * MUTATES (directory moves, a manifest rewrite), it then runs as a
    * WRITER: it takes the same whole-dir [[GenerationLock]] claim every
    * batch mutator holds and re-adjudicates the debris under it — so a
    * NEW delete that claims between the repair's listing and its sweep
    * refuses the repair loudly (instead of having its fresh rewrite
    * swept out from under it), no mutator can start mid-repair, and two
    * racing repairers serialize on the claim instead of double-moving
    * directories (the old "one repairing process at a time" assumption,
    * now enforced). `force = true` waives the claim staleness too — the
    * same the-writer-is-dead assertion the marker waiver carries.
    * Cost: ONE non-recursive listing of the index root when clean (the
    * overwhelmingly common case — no claim traffic on the read path). */
  def repairDeleteAsides(indexDir: String, force: Boolean = false,
                         stalenessMs: Long = DefaultRepairStalenessMs): Unit = {
    val (fs, root) = BucketFs.resolve(indexDir)
    if (!fs.exists(root)) return
    final case class Debris(asides: Array[org.apache.hadoop.fs.FileStatus],
                            tmpExists: Boolean,
                            marker: Option[org.apache.hadoop.fs.FileStatus]) {
      def clean: Boolean = asides.isEmpty && !tmpExists && marker.isEmpty
    }
    def scan(): Debris = {
      val entries = fs.listStatus(root)
      val listed = entries.find(_.getPath.getName == DeleteMarkerFile)
      Debris(
        entries.filter(_.getPath.getName.startsWith("codes_old_gen=")),
        entries.exists(_.getPath.getName == "codes_rewrite_tmp"),
        // marker-absent-but-debris-present gets ONE direct re-stat
        // before being adjudicated as a crashed writer: the root listing
        // and a live writer's beat can interleave, and on stores where
        // the beat falls back to rewriting the marker (setTimes
        // unsupported) the marker is briefly ABSENT mid-beat. One extra
        // getFileStatus only on the already-rare debris path.
        listed.orElse {
          if (entries.exists(st => st.getPath.getName == "codes_rewrite_tmp"
              || st.getPath.getName.startsWith("codes_old_gen=")))
            try Some(fs.getFileStatus(
              new org.apache.hadoop.fs.Path(root, DeleteMarkerFile)))
            catch { case _: java.io.FileNotFoundException => None }
          else None
        })
    }
    def markerGuard(d: Debris): Unit = if (!force) d.marker.foreach { st =>
      val age = System.currentTimeMillis() - st.getModificationTime
      if (age < stalenessMs)
        throw new IllegalStateException(
          s"a delete() may be in progress on $indexDir (marker " +
            s"$DeleteMarkerFile is ${age} ms old < $stalenessMs): " +
            "refusing to repair concurrently with a live writer — retry " +
            "after the writer finishes, or repairDeleteAsides(force = " +
            "true) if it is known dead")
    }
    // claimless fast path: ONE listing on a clean root — the
    // overwhelmingly common case pays no claim traffic
    val first = scan()
    if (first.clean) return
    repairListHook()
    markerGuard(first)
    // Debris from a dead writer: repair MUTATES (directory moves, a
    // manifest rewrite), so it runs as a WRITER — under the same
    // whole-dir claim every batch mutator holds. The marker guard alone
    // left a window: a NEW delete claiming after our listing lands its
    // fresh marker and tmp rewrite while our sweep is mid-flight, and we
    // would sweep the LIVE writer's tmp (the corruption the guard
    // exists to stop). Under the claim that cannot start — a live
    // mutator holds the claim (our claimDir fails loudly), and no
    // mutator can begin while we hold it. This also discharges the old
    // "repair assumes one repairing process at a time" contract: two
    // racing repairers now serialize on the claim instead of
    // double-moving directories. force = true waives the claim
    // staleness too (operator asserts the writer is dead — same
    // contract the marker-guard waiver always carried).
    Store.claimed(indexDir, None, if (force) 0L else stalenessMs) { claim =>
      // re-scan UNDER the claim: the world may have moved between the
      // first listing and the claim (a writer may have completed and
      // cleaned up, or crashed leaving different debris)
      val d = scan()
      if (!d.clean) {
        markerGuard(d)
        d.asides.foreach { st =>
          val sub = st.getPath.getName.stripPrefix("codes_old_")
            .replaceFirst("_cell=", "/cell=") // gen=G/cell=C
          val live = new org.apache.hadoop.fs.Path(root, s"codes/$sub")
          val tmp = new org.apache.hadoop.fs.Path(root, s"codes_rewrite_tmp/$sub")
          if (!fs.exists(live) && fs.exists(tmp)) {
            BucketFs.mkdirs(fs, live.getParent)
            BucketFs.move(fs, tmp, live)
          }
          fs.delete(st.getPath, true)
        }
        BucketFs.deleteRecursive(s"$indexDir/codes_rewrite_tmp")
        BucketFs.deleteRecursive(s"$indexDir/$DeleteMarkerFile")
        val mt = readMeta(indexDir)
        Store.commit(claim, indexDir, fields(mt.copy(asOfFence = mt.nGens)))
      }
    }
  }

  def loadIvfPq(spark: SparkSession, indexDir: String,
                asOfGen: Int = -1,
                repairStaleness: Long = DefaultRepairStalenessMs): IvfPqIndex = {
    repairDeleteAsides(indexDir, stalenessMs = repairStaleness)
    val manifest = Store.read(indexDir)
    val mt = metaOf(manifest)
    val streamManaged = BucketFs.exists(s"$indexDir/codes/_spark_metadata")
    // delete() rewrites code rows INSIDE historical generations, so
    // every state older than the delete point would read back subtly
    // wrong (missing the tombstoned ids) — the fence refuses them
    val effGens = manifest.asOf(asOfGen, generational = !streamManaged,
      fence = mt.asOfFence)
    // cell is a directory-partition column: its read-back type depends on
    // session inference settings (string with inference off), so pin it.
    // Stream-managed codes read through the sink log (flat layout, the
    // log IS the commit filter); batch codes filter committed generations
    // with the manifest-persisted schema (r21)
    val schemaFastPath =
      if (mt.nGens >= 0 && !streamManaged) mt.codesSchema else None
    val codes = GenerationalStore.committed(spark, indexDir, "codes",
        if (streamManaged) -1 else effGens, mt.baseGen, schemaFastPath)
      .withColumn("cell", col("cell").cast("long"))
    IvfPqIndex(mt.dims, mt.m, mt.k, mt.nList, mt.scale, mt.idCol,
      mt.residual, mt.trainUpdates, effGens, indexDir,
      spark.read.parquet(s"$indexDir/centroids"),
      spark.read.parquet(s"$indexDir/codebook"), codes,
      asOf = asOfGen >= 0, baseGen = mt.baseGen, asOfFence = mt.asOfFence,
      codesSchema = schemaFastPath)
  }
}
