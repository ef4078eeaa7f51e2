package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The generation-commit protocol of the persisted artifacts
  * ([[DedupIndex]], [[TextIndex]], [[AnnIndex]], [[TextModelStore]]) —
  * stated once here; each artifact declares only its manifest file and
  * type tag, its sub-datasets, how it builds their frames and its extra
  * manifest fields. The same incremental re-archival premise as the
  * reference's update mode (satbucket/routines.py:791-810): new data
  * lands BESIDE the committed state, never over it.
  *
  * Layout under an artifact dir:
  * {{{
  * dir/
  *   <manifest>.json     the single commit point (type tag, n_gens,
  *                       base_gen, read-back schemas, artifact fields)
  *   <sub>/gen=N/...     one directory per generation of each sub-dataset
  * }}}
  *
  * Commit protocol:
  *  - A mutation stages its writes in a NEW generation (`gen = n_gens`)
  *    of every sub-dataset it touches, then atomically replaces the
  *    manifest (temp + rename, [[BucketFs.writeStringAtomic]]) with
  *    `n_gens + 1`. Readers filter `base_gen <= gen < n_gens`
  *    ([[committed]]), so a crash anywhere before the rename leaves an
  *    artifact that answers exactly as before, and the next mutation
  *    sweeps the debris ([[BucketFs.dropGensAtOrAbove]]) before staging
  *    — a retried batch can never double-post.
  *  - Writers serialize on a [[GenerationLock]] claim (per staged
  *    generation, or the whole-dir slot for artifacts with in-place
  *    mutators and for every provisioning save). The claim is taken
  *    FIRST and the head re-checked under it (the check is
  *    check-then-act): a handle loaded before someone else's commit is
  *    refused loudly ("stale index handle") instead of sweeping THEIR
  *    generation as debris. Ownership is re-asserted
  *    ([[GenerationLock.verify]]) right before the manifest rename, so a
  *    falsely stale-swept claim aborts instead of co-committing. The
  *    claim is released in `finally` even on failure — the thrower is
  *    this live process, so no partial write can still be racing; a
  *    KILLED process leaves the claim for the staleness sweep.
  *  - A provisioning save deletes the OLD manifest first, then every
  *    sub-dataset: a crash mid-save leaves a directory that fails to
  *    load loudly ("no <manifest> in"), never a stale manifest over new
  *    data.
  *  - Compaction folds every committed generation into ONE replacement
  *    generation at `gen = n_gens` and commits `base_gen = n_gens,
  *    n_gens + 1` with one rename — there is no unreadable window. The
  *    superseded generations are vacuumed after the commit (a crash
  *    that skips the vacuum leaves invisible directories the next
  *    compaction re-sweeps). `vacuum = false` keeps them for READER
  *    GRACE: handles loaded before the commit keep answering from the
  *    old files instead of failing mid-scan (FILE_NOT_EXIST — loudly,
  *    never silently wrong). Retire them later with [[vacuum]] —
  *    claimless and idempotent, since the set below the LIVE `base_gen`
  *    is referenced by no mutator and no current-head reader and a
  *    racing compaction only moves `base_gen` up — but only AFTER every
  *    reader holding a pre-compaction handle has drained, an operator
  *    contract the engine cannot enforce.
  *  - As-of (time-travel) loads pin `gen < G` ([[Manifest.asOf]]): exact
  *    by construction, since appends only add generations. Points ahead
  *    of the head, at or before a compaction base (that history is
  *    folded away) or before an in-place-mutation fence are refused, and
  *    as-of handles are read-only ([[requireMutable]]).
  *  - A manifest without `n_gens` is a pre-generational (flat) layout:
  *    loadable read-only, every mutation refused; a present but
  *    malformed `n_gens`/`base_gen` is corruption and fails loudly.
  *  - Manifests persist each sub-dataset's READ-BACK schema
  *    ([[ReadBackSchema]]) so loads skip footer inference; manifests
  *    without one fall back to inference.
  */
private[sources] final case class GenerationalStore(
    manifestFile: String, typeField: String, typeTag: String,
    subs: Seq[String], kind: String) {
  import GenerationalStore.Manifest

  /** Parse `dir`'s manifest; a missing manifest or a foreign type tag
    * fails loudly. */
  def read(dir: String): Manifest = {
    val p = s"$dir/$manifestFile"
    if (!BucketFs.exists(p))
      throw new IllegalArgumentException(s"no $manifestFile in $dir — not $kind?")
    val m = Manifest(dir, JsonMethods.parse(BucketFs.readString(p)))
    val tag = m.json \ typeField match { case JString(s) => s; case _ => "?" }
    require(tag == typeTag,
      s"unsupported $typeField '$tag' in $dir (expected '$typeTag')")
    m
  }

  /** Atomic manifest replace: the commit point. */
  def write(dir: String, fields: List[(String, JValue)]): Unit =
    BucketFs.writeStringAtomic(s"$dir/$manifestFile",
      JsonMethods.pretty(JsonMethods.render(JObject(fields))))

  /** Ownership re-assert, then the manifest commit. */
  def commit(claim: GenerationLock.Claim, dir: String,
             fields: List[(String, JValue)]): Unit = {
    GenerationLock.verify(claim)
    write(dir, fields)
  }

  /** Run `body` under the writer claim on generation `slot` of `dir`
    * (None: the whole-dir slot), released in `finally`. */
  def claimed[T](dir: String, slot: Option[Int], claimStaleness: Long)
                (body: GenerationLock.Claim => T): T = {
    val claim = slot.fold(GenerationLock.claimDir(dir, claimStaleness))(
      GenerationLock.claim(dir, _, claimStaleness))
    try body(claim) finally GenerationLock.release(claim)
  }

  /** Provisioning save: whole-dir claim → old manifest and every
    * sub-dataset deleted → `stage` writes the data and returns the
    * manifest fields → verify → commit. */
  def save(dir: String, claimStaleness: Long)
          (stage: => List[(String, JValue)]): Unit =
    claimed(dir, None, claimStaleness) { claim =>
      BucketFs.deleteRecursive(s"$dir/$manifestFile")
      subs.foreach(sub => BucketFs.deleteRecursive(s"$dir/$sub"))
      commit(claim, dir, stage)
    }

  /** One staged mutation: claim (generation `stageGen`, or the whole-dir
    * slot) → `head` re-checks the live manifest → uncommitted generations
    * `>= stageGen` dropped → `stage` writes generation `stageGen` and
    * returns the manifest fields → verify → commit → (compaction) vacuum
    * below `stageGen` → `reload`, all before the release. */
  def update[T](dir: String, stageGen: Int, claimStaleness: Long,
                head: Manifest => Unit, wholeDir: Boolean = false,
                vacuum: Boolean = false)
               (stage: Manifest => List[(String, JValue)])
               (reload: => T): T =
    claimed(dir, if (wholeDir) None else Some(stageGen), claimStaleness) {
      claim =>
        val live = read(dir)
        head(live)
        subs.foreach(sub => BucketFs.dropGensAtOrAbove(s"$dir/$sub", stageGen))
        commit(claim, dir, stage(live))
        if (vacuum)
          subs.foreach(sub => BucketFs.dropGensBelow(s"$dir/$sub", stageGen))
        reload
    }

  /** Retire the generations a `compact(vacuum = false)` superseded:
    * everything below the LIVE manifest's `base_gen` (see the class doc
    * for why this needs no claim). */
  def vacuum[T](dir: String, asOf: Boolean)(reload: => T): T = {
    GenerationalStore.requireMutable(dir, asOf, 0, "vacuum")
    val base = read(dir).baseGen
    subs.foreach(sub => BucketFs.dropGensBelow(s"$dir/$sub", base))
    reload
  }
}

private[sources] object GenerationalStore {

  /** A parsed manifest with typed field reads. */
  final case class Manifest(dir: String, json: JValue) {
    def long(field: String): Long = json \ field match {
      case JInt(x) => x.toLong
      case other => throw new IllegalArgumentException(
        s"manifest field '$field' missing or non-integer: $other")
    }
    def int(field: String): Int = long(field).toInt
    def str(field: String): String = json \ field match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException(s"manifest missing $field")
    }
    def optLong(field: String): Option[Long] = json \ field match {
      case JInt(x) => Some(x.toLong)
      case _ => None
    }
    /** A field older manifests lack: absent/null reads as `default`;
      * present but malformed is corruption, never legacy. */
    def orElse[T](field: String, default: T)(read: PartialFunction[JValue, T]): T =
      json \ field match {
        case JNothing | JNull => default
        case v => read.applyOrElse(v, (o: JValue) =>
          throw new IllegalArgumentException(s"bad $field in manifest: $o"))
      }
    def intOr(field: String, default: Int): Int =
      orElse(field, default) { case JInt(x) => x.toInt }
    /** -1 = a pre-generational (flat) layout. */
    def nGens: Int = intOr("n_gens", -1)
    def baseGen: Int = intOr("base_gen", 0)
    /** A read-back schema stored as one JSON string field. */
    def schema(field: String): Option[StructType] = json \ field match {
      case JString(s) => Some(ReadBackSchema.fromJsonString(s))
      case _ => None
    }
    /** The per-sub-dataset `schemas` map (empty on older manifests). */
    def schemas: Map[String, StructType] = json \ "schemas" match {
      case JObject(fields) => fields.collect {
        case (k, JString(v)) => k -> ReadBackSchema.fromJsonString(v)
      }.toMap
      case _ => Map.empty
    }

    /** The committed-generation bound a load reads at: the head for
      * `asOfGen < 0`, else `asOfGen` once the point is servable.
      * `generational = false` marks a layout without generations;
      * `fence` is the oldest point an in-place mutation left exact. */
    def asOf(asOfGen: Int, generational: Boolean = true, fence: Int = 0): Int =
      if (asOfGen < 0) nGens
      else {
        require(nGens >= 0 && generational,
          s"as-of reads need the generational layout: $dir")
        require(asOfGen <= nGens,
          s"as-of generation $asOfGen is ahead of the $nGens committed " +
            s"generations in $dir")
        // strict: the physical gen at `baseGen` holds the FOLDED prefix
        // (earliest reachable state is baseGen + 1 = the pre-compaction
        // head; older points renumber +1 per compaction)
        require(asOfGen > baseGen,
          s"as-of generation $asOfGen is at or before the compaction " +
            s"base $baseGen in $dir — that history has been folded away")
        require(asOfGen >= fence,
          s"as-of generation $asOfGen predates an in-place delete " +
            s"(fence $fence) in $dir — that history was mutated and is " +
            "no longer exact")
        asOfGen
      }

    /** Head re-check for a handle loaded at `[baseGen, nGens)`. */
    def requireHead(nGens: Int, baseGen: Int): Unit =
      require(this.nGens == nGens && this.baseGen == baseGen,
        s"stale index handle: $dir moved to gens [${this.baseGen}, " +
          s"${this.nGens}), this handle was loaded at [$baseGen, $nGens) " +
          "— chain the handle the last mutation returned, or reload")
  }

  /** Mutations need a head handle (not as-of) on the generational layout
    * with at least `minGens` committed generations. */
  def requireMutable(dir: String, asOf: Boolean, nGens: Int,
                     verb: String, minGens: Int = 0): Unit = {
    require(!asOf,
      s"as-of (time-travel) handles are read-only; reload $dir at head " +
        s"to $verb")
    require(nGens >= minGens,
      s"$dir uses the pre-generational flat layout — rebuild it (save) " +
        s"to $verb")
  }

  /** The `schemas` manifest field (sorted; omitted when empty). */
  def schemasField(schemas: Map[String, StructType]): List[(String, JValue)] =
    if (schemas.isEmpty) Nil
    else List("schemas" -> JObject(schemas.toList.sortBy(_._1).map {
      case (k, v) => k -> (JString(ReadBackSchema.toJsonString(v)): JValue)
    }))

  /** Committed rows of `dir/sub`: `baseGen <= gen < nGens`, `gen`
    * dropped; a pre-generational layout (`nGens < 0`) reads as-is.
    * `schema` is the read-back schema (None: footer inference). */
  def committed(spark: SparkSession, dir: String, sub: String, nGens: Int,
                baseGen: Int, schema: Option[StructType]): DataFrame = {
    val raw = schema.fold(spark.read)(spark.read.schema(_)).parquet(s"$dir/$sub")
    if (nGens < 0) raw
    else raw.where(col("gen") >= lit(baseGen) && col("gen") < lit(nGens))
      .drop("gen")
  }
}
