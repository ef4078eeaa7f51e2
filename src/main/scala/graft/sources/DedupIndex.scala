package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._

import graft.operators.Dedup

/** Persisted MinHash/LSH dedup index — incremental near-dup detection of a
  * NEW batch against an already-archived corpus, without recomputing (or
  * even reading) the corpus text.
  *
  * The production shape of text dedup is not "dedup this batch against
  * itself" (`Dedup.lshCandidatePairs`) but "dedup today's crawl against the
  * 100 TB we already kept" — which needs the corpus's MinHash band
  * signatures saved once and joinable forever (the same incremental
  * re-archival premise as the reference's update mode,
  * satbucket/routines.py:791-810, transplanted to dedup). Layout mirrors
  * [[AnnIndex]]:
  *
  * {{{
  * indexDir/
  *   _dedup_index.json      manifest: shingle_k / num_hashes / bands / id_col
  *   bands/band=<b>/        (band_sig, id): LSH band postings, band-partitioned
  *   signatures/            (id, sig[numHashes]): full MinHash signatures
  *   bucket_stats/          (band, band_sig, n, rep_id): per-bucket count + min id
  * }}}
  *
  * 100 TB posture: a query scans ONLY signature-scale data — the corpus
  * text never loads. The new batch (typically ≪ corpus) broadcasts to both
  * joins, so the corpus-side `bands` and `signatures` scans never shuffle.
  * Over-populated buckets (boilerplate signatures — the LSH scale-killer)
  * are pre-aggregated into `bucket_stats` at WRITE time, so the query can
  * route an over-cap bucket to its stored representative id in O(1) per new
  * doc without ever materializing the bucket; under-cap buckets produce
  * exact all-pairs candidates. Appends are incremental: batch-sized band /
  * signature appends plus a bucket-count-sized stats merge — nothing
  * corpus-sized is rewritten or rescanned.
  */
object DedupIndex {

  val ManifestFile = "_dedup_index.json"

  private val Store = GenerationalStore(ManifestFile, "index_type",
    "minhash_lsh", Seq("bands", "signatures", "bucket_stats"), "a dedup index")

  /** Pack mh0..mh{n-1} signature columns into one array column. */
  private def packedSig(numHashes: Int) =
    array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig")

  /** Write one generation of band postings + signatures; returns the
    * READ-BACK schemas of the two directories (manifest-persisted so
    * loaders skip per-resolution footer inference — see
    * [[ReadBackSchema]], r21). */
  private def writeGen(sigs: DataFrame, banded: DataFrame, idCol: String,
                       numHashes: Int, indexDir: String, gen: Int)
      : (StructType, StructType) = {
    val b = banded.withColumn("gen", lit(gen))
    b.write.mode("append").partitionBy("gen", "band")
      .parquet(s"$indexDir/bands")
    val sg = sigs.select(col(idCol), packedSig(numHashes))
      .withColumn("gen", lit(gen))
    sg.write.mode("append").partitionBy("gen")
      .parquet(s"$indexDir/signatures")
    (ReadBackSchema.of(b.schema, Seq("gen", "band")),
      ReadBackSchema.of(sg.schema, Seq("gen")))
  }

  private def manifest(shingleK: Int, numHashes: Int, bands: Int,
                       nGens: Int, idCol: String, baseGen: Int,
                       schemas: Map[String, StructType])
      : List[(String, JValue)] = List(
    "index_type" -> JString("minhash_lsh"), "shingle_k" -> JInt(shingleK),
    "num_hashes" -> JInt(numHashes), "bands" -> JInt(bands),
    "n_gens" -> JInt(nGens), "base_gen" -> JInt(baseGen),
    "id_col" -> JString(idCol)) ++ GenerationalStore.schemasField(schemas)

  /** Build and persist the index over `corpus`. Overwrites `indexDir`:
    * all three datasets land in generation 0 under the provisioning
    * save of [[GenerationalStore]] (whole-dir claim, so two schedulers
    * retrying one build cannot co-write generation 0; save-vs-APPEND
    * stays an operator-coordinated destructive rebuild). */
  def save(corpus: DataFrame, textCol: String, idCol: String, indexDir: String,
           shingleK: Int = 3, numHashes: Int = 8, bands: Int = 4,
           claimStaleness: Long = GenerationLock.DefaultStalenessMs): Unit = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    Store.save(indexDir, claimStaleness) {
      val sigs = Dedup.minHashSignature(corpus, textCol, idCol, shingleK, numHashes)
      val banded = Dedup.lshBands(sigs, idCol, numHashes, bands)
      val (bandsSchema, sigsSchema) =
        writeGen(sigs, banded, idCol, numHashes, indexDir, gen = 0)
      // stats from the WRITTEN postings (not a recompute) — guarantees the
      // counts and the band files can never disagree
      val stats = bandsOf(corpus.sparkSession, indexDir, nGens = 1,
        schema = Some(bandsSchema))
        .groupBy("band", "band_sig")
        .agg(count(lit(1)).as("n"), min(col(idCol)).as("rep_id"))
        .withColumn("gen", lit(0))
      stats.write.mode("append").partitionBy("gen")
        .parquet(s"$indexDir/bucket_stats")
      manifest(shingleK, numHashes, bands, 1, idCol, 0, Map(
        "bands" -> bandsSchema, "signatures" -> sigsSchema,
        "bucket_stats" -> ReadBackSchema.of(stats.schema, Seq("gen"))))
    }
  }

  // band is a directory-partition column: pin its read-back type
  private def bandsOf(spark: SparkSession, indexDir: String,
                      nGens: Int, baseGen: Int = 0,
                      schema: Option[StructType]): DataFrame =
    GenerationalStore.committed(spark, indexDir, "bands", nGens, baseGen,
      schema).withColumn("band", col("band").cast("int"))

  /** Reload a persisted dedup index (manifest + lazy parquet frames).
    *
    * `asOfGen >= 0` is a TIME-TRAVEL read: bands/signatures pin to
    * generations `< asOfGen` and bucket_stats to the stats snapshot that
    * generation committed — the exact index state after the asOfGen-th
    * batch (see [[GenerationalStore]]). As-of handles are read-only. */
  def load(spark: SparkSession, indexDir: String,
           asOfGen: Int = -1): MinHashIndex = {
    val m = Store.read(indexDir)
    MinHashIndex(spark, indexDir, m.int("shingle_k"), m.int("num_hashes"),
      m.int("bands"), m.asOf(asOfGen), m.str("id_col"), asOf = asOfGen >= 0,
      baseGen = m.baseGen, schemas = m.schemas)
  }

  final case class MinHashIndex(spark: SparkSession, indexDir: String,
                                shingleK: Int, numHashes: Int, bands: Int,
                                nGens: Int, idCol: String,
                                asOf: Boolean = false, baseGen: Int = 0,
                                schemas: Map[String, StructType] = Map.empty) {

    // explicit-schema reads skip the eager listing+footer inference that
    // spark.read.parquet pays per RESOLUTION (~100 ms vs ~18 ms on the
    // bench host, ResolveBench) — the ingest path re-loads this index
    // every micro-batch, so the tax compounded (r21)
    private def committed(sub: String): DataFrame =
      GenerationalStore.committed(spark, indexDir, sub, nGens, baseGen,
        schemas.get(sub))

    def bandPostings: DataFrame =
      bandsOf(spark, indexDir, nGens, baseGen, schema = schemas.get("bands"))
    def signatures: DataFrame = committed("signatures")
    /** Bucket stats are a REPLACEMENT dataset: each committed append
      * writes the full merged copy into its generation, and only the
      * NEWEST committed generation is live. */
    def bucketStats: DataFrame =
      GenerationalStore.committed(spark, indexDir, "bucket_stats", nGens,
        nGens - 1, schemas.get("bucket_stats"))

    private def fields(nGens: Int, baseGen: Int,
                       schemas: Map[String, StructType]) =
      manifest(shingleK, numHashes, bands, nGens, idCol, baseGen, schemas)

    /** Fold every committed generation into ONE replacement generation —
      * the compaction of [[GenerationalStore]]: bands, signatures and the
      * live bucket-stats snapshot are unioned verbatim into `gen =
      * nGens`, so candidates are unchanged. Stop any attached ingest
      * stream first (its pinned generation base would dangle; stream
      * sidecars live with the stream's output, so this cannot be
      * detected index-side). `vacuum = false` keeps the old generations
      * for reader grace; retire them with [[vacuumOldGens]]. */
    def compact(claimStaleness: Long =
                  GenerationLock.DefaultStalenessMs,
                vacuum: Boolean = true): MinHashIndex = {
      GenerationalStore.requireMutable(indexDir, asOf, nGens, "compact", 1)
      Store.update(indexDir, nGens, claimStaleness,
          _.requireHead(nGens, baseGen), vacuum = vacuum) { _ =>
        def fold(df: DataFrame, sub: String, parts: String*) = {
          val w = df.withColumn("gen", lit(nGens))
          w.write.mode("append").partitionBy(parts: _*)
            .parquet(s"$indexDir/$sub")
          sub -> ReadBackSchema.of(w.schema, parts)
        }
        // schemas recomputed from the frames just written (not carried):
        // identical for an r21 handle, and UPGRADES a pre-r21 index's
        // manifest on its first compaction
        fields(nGens + 1, nGens, Map(
          fold(bandPostings, "bands", "gen", "band"),
          fold(signatures, "signatures", "gen"),
          fold(bucketStats, "bucket_stats", "gen")))
      }(load(spark, indexDir))
    }

    /** Retire generations a `compact(vacuum = false)` superseded
      * ([[GenerationalStore.vacuum]]). */
    def vacuumOldGens(): MinHashIndex =
      Store.vacuum(indexDir, asOf)(load(spark, indexDir))

    /** Index `batch` incrementally: batch-sized appends to the band
      * postings and signatures, plus a stats merge that touches only
      * bucket-count rows — the whole corpus side is never rescanned.
      * All three writes land in one new generation committed by the
      * manifest ([[GenerationalStore]]), so a crashed-then-retried
      * append never double-posts signatures. Appending rows whose ids
      * are already indexed still double-posts them (same contract as
      * [[AnnIndex.IvfPqIndex.append]]: ids are keys, the caller dedups
      * ingest batches). Returns the refreshed index. */
    def append(batch: DataFrame, textCol: String,
               claimStaleness: Long =
                 GenerationLock.DefaultStalenessMs): MinHashIndex =
      appendSigs(
        Dedup.minHashSignature(batch, textCol, idCol, shingleK, numHashes),
        claimStaleness)

    /** [[append]] from already-computed signature rows (id, mh0..mh{n-1})
      * — the fused-ingest path reuses the batch's signatures instead of
      * hashing the kept rows a second time. */
    private[graft] def appendSigs(sigsRaw: DataFrame,
                                  claimStaleness: Long =
                                    GenerationLock.DefaultStalenessMs)
        : MinHashIndex = {
      GenerationalStore.requireMutable(indexDir, asOf, nGens, "append")
      Store.update(indexDir, nGens, claimStaleness,
          _.requireHead(nGens, baseGen)) { _ =>
        val sigs = sigsRaw
          .localCheckpoint(true) // feeds bands + signatures writes: hash once
        val banded = Dedup.lshBands(sigs, idCol, numHashes, bands)
        val (bandsSchema, sigsSchema) =
          writeGen(sigs, banded, idCol, numHashes, indexDir, gen = nGens)
        // incremental stats merge: old stats ∪ batch stats → sum n, min
        // rep. The batch side re-derives from `banded` (batch-sized
        // recompute) rather than rescanning the appended files.
        val batchStats = banded.groupBy("band", "band_sig")
          .agg(count(lit(1)).as("n"), min(col(idCol)).as("rep_id"))
        val mergedStats = bucketStats.unionByName(batchStats)
          .groupBy("band", "band_sig")
          .agg(sum(col("n")).as("n"), min(col("rep_id")).as("rep_id"))
          .withColumn("gen", lit(nGens))
        mergedStats.write.mode("append").partitionBy("gen")
          .parquet(s"$indexDir/bucket_stats")
        fields(nGens + 1, baseGen, Map(
          "bands" -> bandsSchema, "signatures" -> sigsSchema,
          "bucket_stats" -> ReadBackSchema.of(mergedStats.schema, Seq("gen"))))
      }(load(spark, indexDir))
    }

    /** Near-duplicate candidates of `batch` against the INDEXED corpus:
      * (new_id, corpus_id, n_match) where n_match counts agreeing MinHash
      * components out of `numHashes` — the standard unbiased Jaccard
      * estimate (n_match/numHashes), computed purely from stored
      * signatures; corpus text is never touched. Self-pairs (a batch id
      * already present in the corpus) are dropped.
      *
      * `maxBucketSize`: buckets whose STORED population exceeds the cap
      * pair each matching new doc with the bucket's representative id only
      * (min id, from bucket_stats) instead of the whole bucket — O(1) per
      * new doc instead of O(bucket), the cross-corpus analogue of
      * [[Dedup.lshCandidatePairs]]'s chain degrade. Duplicate detection is
      * preserved (any hit still surfaces A corpus witness); exhaustive
      * witness ENUMERATION inside mass-duplicated buckets is what's traded
      * away. `Int.MaxValue` disables the cap (exact all-pairs — what the
      * DuckDB oracle gates). */
    def candidates(batch: DataFrame, textCol: String,
                   maxBucketSize: Int = 1024): DataFrame =
      candidatesFromSigs(
        Dedup.minHashSignature(batch, textCol, idCol, shingleK, numHashes),
        maxBucketSize)

    private def candidatesFromSigs(sigs: DataFrame,
                                   maxBucketSize: Int): DataFrame = {
      val newSigs = sigs.select(col(idCol).as("new_id"),
        packedSig(numHashes).as("new_sig"))
      val newBands = Dedup.lshBands(sigs, idCol, numHashes, bands)
        .select(col(idCol).as("new_id"), col("band"), col("band_sig"))
      // bucket_stats is bounded by distinct (band, band_sig) — broadcast
      // the (small) new side so the stats join never shuffles stored data
      val matched = bucketStats.join(broadcast(newBands), Seq("band", "band_sig"))
      val under = matched.where(col("n") <= maxBucketSize)
      val underPairs = bandPostings
        .join(broadcast(under.select("band", "band_sig", "new_id")),
          Seq("band", "band_sig"))
        .select(col("new_id"), col(idCol).as("corpus_id"))
      val overPairs = matched.where(col("n") > maxBucketSize)
        .select(col("new_id"), col("rep_id").as("corpus_id"))
      val pairs = underPairs.unionByName(overPairs)
        .where(col("new_id") =!= col("corpus_id")).distinct()
      // candidate set is new-batch-bounded: broadcast it against the
      // corpus signatures scan (again no corpus-side shuffle), then count
      // agreeing components in-row
      pairs.join(broadcast(newSigs), Seq("new_id"))
        .join(signatures, col("corpus_id") === col(idCol))
        .select(col("new_id"), col("corpus_id"),
          size(filter(zip_with(col("new_sig"), col("sig"),
            (a, b) => a === b), x => x)).as("n_match"))
    }

    /** Batch rows that do NOT near-duplicate the indexed corpus: the keep
      * side of incremental ingest. A row is dropped when any candidate
      * agrees on ≥ `minMatch` of the `numHashes` signature components. */
    def newDocsToKeep(batch: DataFrame, textCol: String, minMatch: Int,
                      maxBucketSize: Int = 1024): DataFrame = {
      val dup = candidates(batch, textCol, maxBucketSize)
        .where(col("n_match") >= minMatch)
        .select(col("new_id")).distinct()
      batch.join(dup, batch(idCol) === dup("new_id"), "left_anti")
    }

    /** Fused dedup-then-grow for one ingest batch: the batch is hashed
      * ONCE — its signatures drive both the candidate lookup and the
      * append, instead of re-hashing the kept rows (at corpus scale the
      * minhash pass IS the batch-side cost, so the naive
      * newDocsToKeep-then-append sequence doubles it). Kept rows (no
      * banded candidate agreeing on ≥ `minMatch` components) go to
      * `commitKept` — e.g. the ingest sink write — BEFORE the index
      * append commits, preserving the crash ordering [[graft.streaming
      * .StreamingOps.dedupIngest]] relies on (sink overwrite is
      * idempotent, append is generation-guarded). Returns the refreshed
      * index. */
    def ingest(batch: DataFrame, textCol: String, minMatch: Int,
               maxBucketSize: Int = 1024)
              (commitKept: DataFrame => Unit): MinHashIndex = {
      val sigs = Dedup
        .minHashSignature(batch, textCol, idCol, shingleK, numHashes)
        .localCheckpoint(true) // feeds lookup AND append: hash once
      val dup = candidatesFromSigs(sigs, maxBucketSize)
        .where(col("n_match") >= minMatch)
        .select(col("new_id")).distinct()
        .localCheckpoint(true) // feeds both anti-joins below
      commitKept(batch.join(dup, batch(idCol) === dup("new_id"), "left_anti"))
      appendSigs(sigs.join(dup, sigs(idCol) === dup("new_id"), "left_anti"))
    }
  }
}
