package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._

import graft.operators.TextAnalysis
import graft.operators.TextAnalysis.{DsirWeights, NaiveBayesCounts, NaiveBayesModel}

/** Persisted lifecycle for trained text-scoring models — the fourth
  * persisted artifact next to [[AnnIndex]]/[[DedupIndex]]/[[TextIndex]]:
  * a quality classifier or DSIR weight table is trained ONCE (on labeled
  * seed data or a target/raw distribution pair) and then scores every
  * future corpus batch, so it must round-trip disk exactly and load
  * without the training data.
  *
  * The classifier persists in its ADDITIVE form — per-token class
  * COUNTS plus document priors, not likelihood ratios — because counts
  * are what new labeled batches can merge into ([[appendNaiveBayes]]);
  * the scoring weights are a pure derived function of the counts
  * (quantized integer arithmetic), so counts → model → score is
  * bit-reproducible whether the counts came from fresh training, a disk
  * round trip, or k incremental appends. Saves and appends follow the
  * generation-commit protocol of [[GenerationalStore]]: merged counts
  * land in `counts/gen=N+1`, then one atomic manifest rename moves the
  * single live generation (`gen`). DSIR weights persist in weight form
  * (one frozen estimation pass; re-estimation is retraining, not
  * appending).
  */
object TextModelStore {

  val ManifestFile = "model_manifest.json"

  private def store(modelType: String, subs: String*) =
    GenerationalStore(ManifestFile, "model_type", modelType, subs,
      "a saved model (or a crashed save)")
  private val NbStore = store("naive_bayes", "counts")
  private val CharLmStore = store("char_lm", "ngrams", "contexts")
  private val DsirStore = store("dsir", "weights")

  private def nbFields(c: NaiveBayesCounts, gen: Long)
      : List[(String, JValue)] = List(
    "model_type" -> JString("naive_bayes"),
    "nd_pos" -> JInt(c.ndPos), "nd" -> JInt(c.nd), "gen" -> JInt(gen))

  private def charLmFields(n: Int, gen: Long): List[(String, JValue)] = List(
    "model_type" -> JString("char_lm"), "n" -> JInt(n), "gen" -> JInt(gen))

  /** Append to the single live generation `gen` of `dir`: the claim
    * covers the staged generation `gen + 1`, and a head that moved
    * before the claim is refused (two sessions racing one head would
    * otherwise commit merged counts containing BOTH batches against ONE
    * prior — double counting). */
  private def appendGen(store: GenerationalStore, dir: String,
                        claimStaleness: Long)
                       (stage: (GenerationalStore.Manifest, Long) =>
                          List[(String, JValue)]): Unit = {
    val gen = store.read(dir).long("gen")
    store.update(dir, (gen + 1).toInt, claimStaleness, { mf =>
      require(mf.long("gen") == gen,
        s"stale model head: $dir moved to generation ${mf.long("gen")} " +
          s"while this append targeted $gen — retry against the new head")
    })(stage(_, gen))(())
  }

  /** Train-and-persist: aggregate the labeled batch into counts,
    * validate it derives a scorable model, write generation 0, commit. */
  def saveNaiveBayes(labeled: org.apache.spark.sql.DataFrame,
                     textCol: String, labelCol: String, dir: String,
                     claimStaleness: Long =
                       GenerationLock.DefaultStalenessMs): Unit = {
    val c = TextAnalysis.naiveBayesCounts(labeled, textCol, labelCol)
    TextAnalysis.naiveBayesFromCounts(c) // class-balance guard pre-commit
    NbStore.save(dir, claimStaleness) {
      c.tokenCounts.write.mode("overwrite").parquet(s"$dir/counts/gen=0")
      nbFields(c, gen = 0)
    }
  }

  /** Merge a NEW labeled batch into the persisted counts (counts are
    * additive; the batch must be disjoint from earlier training data —
    * re-appending the same documents double-counts, exactly as it would
    * in any count-based model). Generation-committed: merged counts land
    * in `gen=N+1`, the atomic manifest rename is the commit, and debris
    * of a crashed earlier append is swept before writing. */
  def appendNaiveBayes(spark: SparkSession,
                       newLabeled: org.apache.spark.sql.DataFrame,
                       textCol: String, labelCol: String, dir: String,
                       claimStaleness: Long =
                         GenerationLock.DefaultStalenessMs): Unit = {
    appendGen(NbStore, dir, claimStaleness) { (mf, gen) =>
      val prior = NaiveBayesCounts(
        spark.read.parquet(s"$dir/counts/gen=$gen"),
        mf.long("nd_pos"), mf.long("nd"))
      val merged = TextAnalysis.naiveBayesMerge(prior,
        TextAnalysis.naiveBayesCounts(newLabeled, textCol, labelCol))
      TextAnalysis.naiveBayesFromCounts(merged) // guard before committing
      merged.tokenCounts.write.mode("overwrite")
        .parquet(s"$dir/counts/gen=${gen + 1}")
      nbFields(merged, gen + 1)
    }
  }

  /** Load the committed counts (the additive form). */
  def loadNaiveBayesCounts(spark: SparkSession, dir: String): NaiveBayesCounts = {
    val mf = NbStore.read(dir)
    NaiveBayesCounts(
      spark.read.parquet(s"$dir/counts/gen=${mf.long("gen")}"),
      mf.long("nd_pos"), mf.long("nd"))
  }

  /** Load the scoring-form model; scores bit-identically to a model
    * trained in memory on the same (merged) labeled data. */
  def loadNaiveBayes(spark: SparkSession, dir: String): NaiveBayesModel =
    TextAnalysis.naiveBayesFromCounts(loadNaiveBayesCounts(spark, dir))

  /** Persist a char-n-gram LM in its ADDITIVE counts form (per-gram
    * occurrence counts at order n and n−1) — same lifecycle discipline
    * as the Naive Bayes artifact: counts merge by plain addition, so
    * [[appendCharLm]] folds a new corpus batch in under the
    * generation-commit protocol and `counts → score` stays
    * bit-reproducible after any number of appends. */
  def saveCharLm(corpus: org.apache.spark.sql.DataFrame, textCol: String,
                 dir: String, n: Int = 3,
                 claimStaleness: Long =
                   GenerationLock.DefaultStalenessMs): Unit = {
    val c = TextAnalysis.charLmTrain(corpus, textCol, n)
    CharLmStore.save(dir, claimStaleness) {
      c.ngrams.write.mode("overwrite").parquet(s"$dir/ngrams/gen=0")
      c.contexts.write.mode("overwrite").parquet(s"$dir/contexts/gen=0")
      charLmFields(n, gen = 0)
    }
  }

  /** Merge a NEW corpus batch into the persisted gram counts (additive;
    * the batch must be disjoint from earlier training text — re-appending
    * double-counts, as in any count-based model). Generation-committed:
    * merged counts land in `gen=N+1`, the atomic manifest rename is the
    * commit, crashed-append debris is swept before writing. */
  def appendCharLm(spark: SparkSession,
                   corpus: org.apache.spark.sql.DataFrame, textCol: String,
                   dir: String,
                   claimStaleness: Long =
                     GenerationLock.DefaultStalenessMs): Unit = {
    appendGen(CharLmStore, dir, claimStaleness) { (mf, gen) =>
      val n = mf.int("n")
      val batch = TextAnalysis.charLmTrain(corpus, textCol, n)
      def merge(sub: String, add: org.apache.spark.sql.DataFrame): Unit =
        spark.read.parquet(s"$dir/$sub/gen=$gen")
          .unionByName(add)
          .groupBy(col("gram")).agg(sum(col("cnt")).as("cnt"))
          .write.mode("overwrite").parquet(s"$dir/$sub/gen=${gen + 1}")
      merge("ngrams", batch.ngrams)
      merge("contexts", batch.contexts)
      charLmFields(n, gen + 1)
    }
  }

  /** Load the committed gram counts; scoring through
    * [[TextAnalysis.charLmScore]] is bit-identical to a model trained in
    * memory on the same (merged) corpus. */
  def loadCharLm(spark: SparkSession, dir: String): TextAnalysis.CharLmCounts = {
    val mf = CharLmStore.read(dir)
    val gen = mf.long("gen")
    TextAnalysis.CharLmCounts(
      spark.read.parquet(s"$dir/ngrams/gen=$gen"),
      spark.read.parquet(s"$dir/contexts/gen=$gen"),
      mf.int("n"))
  }

  /** Persist DSIR importance weights with their bucket-space size. */
  def saveDsir(model: DsirWeights, dir: String,
               claimStaleness: Long =
                 GenerationLock.DefaultStalenessMs): Unit = {
    DsirStore.save(dir, claimStaleness) {
      model.weights.select(col("bucket"), col("wq_q4"))
        .write.mode("overwrite").parquet(s"$dir/weights")
      List("model_type" -> JString("dsir"), "buckets" -> JInt(model.buckets))
    }
  }

  /** Load DSIR weights; the bucket modulus rides in the manifest so
    * scoring can never hash with a different bucket space. */
  def loadDsir(spark: SparkSession, dir: String): DsirWeights = {
    DsirWeights(spark.read.parquet(s"$dir/weights"),
      DsirStore.read(dir).int("buckets"))
  }
}
