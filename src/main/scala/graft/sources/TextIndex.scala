package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._

import graft.operators.Dedup

/** Persisted sparse (BM25) text index — the lexical half of hybrid
  * retrieval, with the same on-disk lifecycle discipline as the dense
  * [[AnnIndex]]: save / load / search / append, a JSON manifest, and a
  * layout whose partitioning IS the query plan.
  *
  * Layout under `indexDir/`:
  *  - `postings/gen=N/bucket=B/…` — (term, id, tf, dl) rows, hash-
  *    partitioned by `bucket = pmod(xxhash64(term), nBuckets)` inside a
  *    generation directory (see commit protocol below). A query's terms
  *    map to a bounded bucket set, pushed as a static partition filter:
  *    the search lists and reads ONLY those directories — the inverted-
  *    list pruning that makes a 100 TB corpus searchable without touching
  *    its postings. Document length rides denormalized on each posting
  *    so scoring never joins a corpus-sized side.
  *  - `termstats/gen=N/bucket=B/…` — (term, df) DELTA rows, same
  *    bucketing. Appends add delta rows instead of rewriting; readers
  *    aggregate (sum of deltas = document frequency), so append is
  *    O(batch).
  *  - `_text_index.json` — n_docs, sum_dl (corpus-level BM25 constants,
  *    additive under append), n_buckets, n_gens, id column, id range.
  *
  * Commit protocol: [[GenerationalStore]] — each append writes its
  * postings/termstats into a new generation committed by one manifest
  * rename. Batch ids must be new: a cheap manifest id-range check
  * screens the batch, and only on range overlap does a precise
  * postings-id semi-join (id column only, committed gens) run.
  *
  * Scores are emitted as `bm25_q4` = Σ_term floor(10⁴·termScore) — the
  * same quantize-before-sum trick as charLmScore: per-term IEEE doubles
  * from exact integer inputs are bit-identical across engines, and the
  * integer sum is order-independent, so results hash-match an oracle
  * (a raw double sum would depend on shuffle arrival order). Documents
  * containing none of the query terms are not returned (their BM25 is
  * exactly 0). */
object TextIndex {

  private val ManifestFile = "_text_index.json"

  private val Store = GenerationalStore(ManifestFile, "index_type", "bm25",
    Seq("postings", "termstats"), "a text index")

  private def tokensOf(text: org.apache.spark.sql.Column) =
    split(Dedup.normalizedText(coalesce(text, lit(""))), " ")

  private def tokens(textCol: String) = tokensOf(col(textCol))

  /** (id, term, tf, dl) for every term occurrence. Normalized-EMPTY
    * documents keep their single `""` row (split("", " ") = [""]) so the
    * frame carries one row per corpus document — [[corpusStats]] derives
    * nDocs/sumDl/idRange from it in one cached aggregation instead of a
    * second corpus tokenize pass (r21). [[writeGen]] filters the ""
    * sentinel rows before anything lands on disk, so the persisted
    * postings/termstats are byte-identical to the pre-r21 layout. */
  private def postingsOf(corpus: DataFrame, textCol: String,
                         idCol: String): DataFrame =
    Dedup.fanOut(corpus)
      .select(col(idCol).cast("long").as("id"), tokens(textCol).as("__toks"))
      .select(col("id"), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  private def withBucket(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))

  /** Corpus-level constants: (n_docs, sum_dl, id range), derived from
    * the already-materialized postings frame in ONE cached aggregation —
    * no second corpus pass (r21: the old form re-ran the normalize+split
    * regexp over every document just to sum dl, doubling the corpus-side
    * CPU of every save/append; at index-build scale the tokenize IS the
    * cost). [[postingsOf]] keeps one `""` row per normalized-empty
    * document precisely so this frame sees EVERY corpus doc (dl = 1 for
    * those, same as the old size(split) arithmetic — spec-pinned in
    * TextIndexSpec incl. null/whitespace texts). Ids are keys (the
    * family-wide contract append enforces); duplicated ids already
    * corrupt the postings themselves, so stats make no attempt to mirror
    * that corruption. */
  private def corpusStats(posts: DataFrame): (Long, Long, Option[(Long, Long)]) = {
    val r = posts
      .groupBy(col("id")).agg(first(col("dl")).as("__dl"))
      .agg(count(lit(1)), sum(col("__dl")), min(col("id")), max(col("id")))
      .head()
    val n = r.getLong(0)
    (n,
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (n == 0 || r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3))))
  }

  /** Write one generation of postings + termstats delta rows. The ""
    * sentinel rows [[postingsOf]] keeps for empty documents (corpus
    * stats bookkeeping) are dropped HERE, so the on-disk layout is
    * unchanged from pre-r21 indexes. */
  private def writeGen(posts: DataFrame, indexDir: String, gen: Int): Unit = {
    val g = posts.where(col("term") =!= "").withColumn("gen", lit(gen))
    g.select(col("gen"), col("bucket"), col("term"), col("id"),
        col("tf"), col("dl"))
      .write.mode("append").partitionBy("gen", "bucket")
      .parquet(s"$indexDir/postings")
    g.groupBy(col("gen"), col("bucket"), col("term"))
      .agg(count(lit(1)).as("df"))
      .write.mode("append").partitionBy("gen", "bucket")
      .parquet(s"$indexDir/termstats")
  }

  /** Read-back schemas of the two generational sub-datasets — static by
    * layout ([[writeGen]]'s explicit select; ids cast long at write), in
    * parquet read-back order: data columns in file order, then the
    * `gen`/`bucket` partition columns as directory-inferred ints, all
    * nullable (parquet reads force nullability). Passing these skips the
    * per-resolution footer-inference pass; parity with a fresh inference
    * is spec-pinned. */
  private[graft] def readBackSchema(sub: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def f(n: String, t: DataType) = StructField(n, t, nullable = true)
    sub match {
      case "postings" => StructType(Seq(
        f("term", StringType), f("id", LongType), f("tf", LongType),
        f("dl", LongType), f("gen", IntegerType), f("bucket", IntegerType)))
      case "termstats" => StructType(Seq(
        f("term", StringType), f("df", LongType),
        f("gen", IntegerType), f("bucket", IntegerType)))
      case other => throw new IllegalArgumentException(
        s"no static read-back schema for sub-dataset '$other'")
    }
  }

  /** Stream-ingest sidecars ([[graft.streaming.StreamingOps
    * .textIndexIngest]]) attached to `indexDir`. */
  private def streamSidecars(indexDir: String): Seq[String] = {
    val (fs, root) = BucketFs.resolve(indexDir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("_stream_base_gens")).map(_.toString)
  }

  /** Build the index. One pass over the corpus: tokenize → per-(doc,
    * term) tf with dl denormalized → bucket-partitioned postings and
    * per-term df rows in generation 0; corpus constants land in the
    * manifest. A provisioning save of [[GenerationalStore]]; it also
    * drops any stream-ingest sidecars (their pinned generation base died
    * with the old index). */
  def save(corpus: DataFrame, textCol: String, idCol: String,
           indexDir: String, nBuckets: Int = 64,
           claimStaleness: Long = GenerationLock.DefaultStalenessMs): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    Store.save(indexDir, claimStaleness) {
      streamSidecars(indexDir).foreach(BucketFs.deleteRecursive)
      val posts = withBucket(postingsOf(corpus, textCol, idCol), nBuckets)
        .localCheckpoint(true) // postings feed both writes; tokenize once
      writeGen(posts, indexDir, gen = 0)
      val (nDocs, sumDl, idRange) = corpusStats(posts)
      manifest(nDocs, sumDl, nBuckets, 1, idCol, idRange, Seq((nDocs, sumDl)))
    }
  }

  private def manifest(nDocs: Long, sumDl: Long, nBuckets: Int, nGens: Int,
                       idCol: String, idRange: Option[(Long, Long)],
                       genStats: Seq[(Long, Long)], baseGen: Int = 0)
      : List[(String, JValue)] = {
    val range: List[(String, JValue)] = idRange.toList.flatMap {
      case (lo, hi) => List("min_id" -> JInt(lo), "max_id" -> JInt(hi))
    }
    // per-generation (n_docs, sum_dl) deltas: the BM25 constants of any
    // HISTORICAL prefix are prefix sums over this list, which is what
    // makes as-of (time-travel) loads exact. Empty for indexes whose
    // history predates this field (as-of refused there).
    val stats: List[(String, JValue)] =
      if (genStats.isEmpty) Nil
      else List("gen_stats" -> JArray(genStats.toList.map { case (n, dl) =>
        JArray(List(JInt(n), JInt(dl)))
      }))
    List[(String, JValue)](
      "index_type" -> JString("bm25"), "n_docs" -> JInt(nDocs),
      "sum_dl" -> JInt(sumDl), "n_buckets" -> JInt(nBuckets),
      "n_gens" -> JInt(nGens), "base_gen" -> JInt(baseGen),
      "id_col" -> JString(idCol)) ++ range ++ stats
  }

  final case class Bm25Index(spark: SparkSession, indexDir: String,
                             nDocs: Long, sumDl: Long, nBuckets: Int,
                             nGens: Int, idCol: String,
                             idRange: Option[(Long, Long)],
                             genStats: Seq[(Long, Long)] = Nil,
                             asOf: Boolean = false, baseGen: Int = 0) {

    /** Committed rows of `postings` or `termstats`
      * ([[GenerationalStore.committed]]). A pre-generational index
      * (nGens < 0, flat layout) reads as-is — searchable, but append is
      * refused. Generational reads pass the layout's STATIC schema (r21):
      * every column's type is fixed by [[TextIndex.writeGen]]'s explicit
      * select, so footer inference buys nothing — and the streaming
      * ingest re-resolves these per micro-batch. Read-back parity is
      * spec-pinned (TextIndexSpec). */
    private def committed(sub: String): DataFrame =
      GenerationalStore.committed(spark, indexDir, sub, nGens, baseGen,
        if (nGens < 0) None else Some(TextIndex.readBackSchema(sub)))

    /** Fold every committed generation into ONE replacement generation
      * (the compaction of [[GenerationalStore]]; `vacuum = false` keeps
      * the old generations for reader grace, retire them with
      * [[vacuumOldGens]]). Scores are unchanged by construction:
      * postings rows are unioned verbatim and termstats deltas re-derive
      * from them, while the corpus constants don't move. Refused while a
      * stream-ingest sidecar is attached (its pinned generation base
      * would dangle). */
    def compact(claimStaleness: Long = GenerationLock.DefaultStalenessMs,
                vacuum: Boolean = true): Bm25Index = {
      GenerationalStore.requireMutable(indexDir, asOf, nGens, "compact", 1)
      Store.update(indexDir, nGens, claimStaleness, { live =>
          live.requireHead(nGens, baseGen)
          require(streamSidecars(indexDir).isEmpty,
            s"a stream ingest is attached to $indexDir (sidecar present) — " +
              "stop it before compacting")
        }, vacuum = vacuum) { _ =>
        val merged = committed("postings")
          .select(col("bucket"), col("term"), col("id"), col("tf"), col("dl"))
          .localCheckpoint(true) // feeds postings + termstats writes: one read
        writeGen(merged, indexDir, gen = nGens)
        manifest(nDocs, sumDl, nBuckets, nGens + 1, idCol, idRange,
          Seq((nDocs, sumDl)), baseGen = nGens)
      }(load(spark, indexDir))
    }

    /** Retire generations a `compact(vacuum = false)` superseded
      * ([[GenerationalStore.vacuum]]). */
    def vacuumOldGens(): Bm25Index =
      Store.vacuum(indexDir, asOf)(load(spark, indexDir))

    /** Grow the index: the batch's postings and df-delta rows land in a
      * new generation committed together with the added constants
      * ([[GenerationalStore]]). Ids must be new; the manifest id-range
      * screens the batch and a precise postings semi-join settles range
      * overlaps. Returns a fresh load. */
    def append(batch: DataFrame, textCol: String,
               claimStaleness: Long =
                 GenerationLock.DefaultStalenessMs): Bm25Index = {
      GenerationalStore.requireMutable(indexDir, asOf, nGens, "append")
      Store.update(indexDir, nGens, claimStaleness,
          _.requireHead(nGens, baseGen)) { _ =>
        val posts = withBucket(postingsOf(batch, textCol, idCol), nBuckets)
          .localCheckpoint(true)
        val (bN, bDl, bRange) = corpusStats(posts)
        val overlaps = (idRange, bRange) match {
          case (Some((lo, hi)), Some((bLo, bHi))) => bLo <= hi && bHi >= lo
          case _ => false
        }
        if (overlaps) {
          // range overlap: precise check — committed postings pruned to
          // the id column, semi-joined against the batch's distinct ids
          val dup = committed("postings").select(col("id"))
            .join(posts.select(col("id")).distinct(), Seq("id"), "left_semi")
            .limit(1).count()
          require(dup == 0,
            s"append batch contains ids already in the index at $indexDir " +
              "— re-indexing an id would double-count it")
        }
        writeGen(posts, indexDir, gen = nGens)
        val newRange = (idRange, bRange) match {
          case (Some((lo, hi)), Some((bLo, bHi))) =>
            Some((math.min(lo, bLo), math.max(hi, bHi)))
          case (r, None) => r
          case (None, r) => r
        }
        // only extend per-gen stats when the full (post-base) history is
        // present — claiming a partial history would make as-of reads
        // silently wrong
        val newStats =
          if (genStats.length == nGens - baseGen) genStats :+ ((bN, bDl))
          else Nil
        manifest(nDocs + bN, sumDl + bDl, nBuckets, nGens + 1, idCol,
          newRange, newStats, baseGen)
      }(load(spark, indexDir))
    }

    /** BM25 top-k for a term set. Query terms go through the SAME
      * normalization as the indexed text (lowercase, whitespace-collapse,
      * multi-word strings splitting into tokens), so `search(Seq("Table"))`
      * ≡ `search(Seq("table"))` — raw terms would silently miss every
      * posting. Reads ONLY the committed generations of the normalized
      * terms' bucket directories (static partition filter computed from
      * the terms — one LocalTableScan job, no file I/O), aggregates df
      * deltas for those terms, scores postings row-local against the
      * manifest constants, and ranks. Output: (id, rk, bm25_q4),
      * bm25_q4 desc / id asc, only documents containing ≥ 1 term. */
    def search(terms: Seq[String], topK: Int,
               k1: Double = 1.25, b: Double = 0.75): DataFrame = {
      require(terms.nonEmpty, "search needs at least one term")
      require(topK >= 1, s"topK must be >= 1, got $topK")
      import spark.implicits._
      // build-time transform, applied via the identical Column expression
      // so index and query tokenization can never drift
      val normTerms = terms.toDF("t")
        .select(explode(tokensOf(col("t"))).as("term"))
        .where(col("term") =!= "").distinct()
        .collect().map(_.getString(0)).toSeq
      if (normTerms.isEmpty)
        return Seq.empty[(Long, Int, Long)].toDF(idCol, "rk", "bm25_q4")
      val buckets = normTerms.toDF("term")
        .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
        .collect().map(_.getLong(0)).distinct.toSeq
      def pruned(sub: String): DataFrame =
        committed(sub)
          .where(col("bucket").isin(buckets: _*) &&
            col("term").isin(normTerms: _*))
      val dfOf = pruned("termstats")
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
      val avgdl = lit(sumDl.toDouble) / lit(nDocs.toDouble)
      val idf = ((lit(nDocs.toDouble) - col("df").cast("double")) + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val tf = col("tf").cast("double")
      val termScore = idf * ((tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * (col("dl").cast("double") / avgdl))))
      // orderBy+limit plans as TakeOrderedAndProject (per-partition
      // heads merged on the driver) — no global sort; the row_number
      // window then ranks only the topK survivors
      pruned("postings")
        .join(broadcast(dfOf), Seq("term"))
        .withColumn("__q4", floor(lit(1e4) * termScore).cast("long"))
        .groupBy(col("id"))
        .agg(sum(col("__q4")).as("bm25_q4"))
        .orderBy(col("bm25_q4").desc, col("id").asc)
        .limit(topK)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("bm25_q4").desc, col("id").asc)))
        .select(col("id").as(idCol), col("rk"), col("bm25_q4"))
    }
  }

  /** Reload a persisted BM25 index. `asOfGen >= 0` is a TIME-TRAVEL
    * read: postings/termstats pin to generations `< asOfGen` and the
    * BM25 constants (n_docs, sum_dl) are recomputed as prefix sums over
    * the per-generation deltas the manifest records — so a historical
    * search scores EXACTLY as it did when that generation was head. The
    * handle is read-only. Requires the full per-gen history in the
    * manifest (indexes whose history predates `gen_stats` refuse). */
  def load(spark: SparkSession, indexDir: String,
           asOfGen: Int = -1): Bm25Index = {
    val m = Store.read(indexDir)
    val idRange = (m.optLong("min_id"), m.optLong("max_id")) match {
      case (Some(lo), Some(hi)) => Some((lo, hi))
      case _ => None
    }
    val genStats: Seq[(Long, Long)] = m.json \ "gen_stats" match {
      case JArray(xs) => xs.map {
        case JArray(List(JInt(n), JInt(dl))) => (n.toLong, dl.toLong)
        case other => throw new IllegalArgumentException(
          s"bad gen_stats entry in manifest: $other")
      }
      case _ => Nil
    }
    val gens = m.asOf(asOfGen)
    val (nDocs, sumDl) =
      if (asOfGen < 0) (m.long("n_docs"), m.long("sum_dl"))
      else {
        require(genStats.length == m.nGens - m.baseGen,
          s"index at $indexDir has no full per-generation history " +
            "(gen_stats) — its lineage predates as-of support; rebuild")
        val hist = genStats.take(asOfGen - m.baseGen)
        (hist.map(_._1).sum, hist.map(_._2).sum)
      }
    Bm25Index(spark, indexDir, nDocs, sumDl, m.int("n_buckets"), gens,
      m.str("id_col"), idRange, genStats, asOf = asOfGen >= 0,
      baseGen = m.baseGen)
  }
}
