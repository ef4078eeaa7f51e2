package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.sources.{AnnIndex, BucketFs, DedupIndex, TextIndex, TextModelStore}

/** The manifest handling every persisted artifact shares
  * ([[graft.sources.GenerationalStore]]), pinned once per artifact: a
  * malformed generation field is corruption (never legacy), a missing
  * `n_gens` is a read-only pre-generational layout, a foreign type tag
  * and a missing manifest fail loudly. */
class ManifestSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docs = Seq(
    1L -> "the quick brown fox jumps over the lazy dog again and again",
    2L -> "entirely different content describing spark execution engines",
    3L -> "another unrelated row of words that shares nothing with others")
    .toDF("id", "text")
  private def vecs = {
    val rnd = new scala.util.Random(7)
    (0L until 24L).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2f - 1f))
      .toDF("vec_id", "embedding")
  }

  /** `genFields`: the integer generation fields the loader parses;
    * `nGens`/`append` are defined for the generational indexes only. */
  private final case class Artifact(
      name: String, manifest: String, typeField: String,
      genFields: Seq[String], save: String => Unit, load: String => Unit,
      nGens: Option[String => Int], append: String => Unit)

  private val artifacts = Seq(
    Artifact("DedupIndex", DedupIndex.ManifestFile, "index_type",
      Seq("n_gens", "base_gen"),
      DedupIndex.save(docs, "text", "id", _, numHashes = 4, bands = 2),
      DedupIndex.load(spark, _),
      Some(DedupIndex.load(spark, _).nGens),
      DedupIndex.load(spark, _).append(Seq(9L -> "new words").toDF("id", "text"),
        "text")),
    Artifact("TextIndex", "_text_index.json", "index_type",
      Seq("n_gens", "base_gen"),
      TextIndex.save(docs, "text", "id", _, nBuckets = 4),
      TextIndex.load(spark, _),
      Some(TextIndex.load(spark, _).nGens),
      TextIndex.load(spark, _).append(Seq(9L -> "new words").toDF("id", "text"),
        "text")),
    Artifact("AnnIndex", AnnIndex.ManifestFile, "index_type",
      Seq("n_gens", "base_gen"),
      AnnIndex.saveIvfPq(vecs.where($"vec_id" < 16), "vec_id", "embedding", _,
        dims = 8, m = 2, k = 4, nList = 2),
      AnnIndex.loadIvfPq(spark, _),
      Some(AnnIndex.loadIvfPq(spark, _).nGens),
      AnnIndex.loadIvfPq(spark, _).append(vecs.where($"vec_id" >= 16),
        "embedding")),
    Artifact("TextModelStore", TextModelStore.ManifestFile, "model_type",
      Seq("gen"),
      TextModelStore.saveNaiveBayes(
        Seq((true, "good great"), (false, "bad awful")).toDF("y", "text"),
        "text", "y", _),
      TextModelStore.loadNaiveBayes(spark, _),
      None, _ => ()))

  /** Rewrite `dir`'s manifest through `edit`, run `body`, restore it. */
  private def withManifest(a: Artifact, dir: String)
                          (edit: List[(String, JValue)] => List[(String, JValue)])
                          (body: => Unit): Unit = {
    val path = s"$dir/${a.manifest}"
    val original = BucketFs.readString(path)
    val fields = JsonMethods.parse(original) match {
      case JObject(fs) => fs
      case other => fail(s"manifest is not a JSON object: $other")
    }
    BucketFs.writeString(path,
      JsonMethods.compact(JsonMethods.render(JObject(edit(fields)))))
    try body finally BucketFs.writeString(path, original)
  }

  private def set(field: String, v: JValue)(fs: List[(String, JValue)]) =
    fs.map { case (k, old) => k -> (if (k == field) v else old) }

  for (a <- artifacts)
    test(s"${a.name}: manifest parser — malformed generation fields, " +
         "legacy layout, foreign type tag, missing manifest") {
      val dir = java.nio.file.Files.createTempDirectory("manifest").toString
      try {
        a.save(dir)
        a.load(dir)
        // present but malformed: corruption, never the legacy fallback
        for (f <- a.genFields)
          withManifest(a, dir)(set(f, JString("x"))) {
            val e = intercept[IllegalArgumentException](a.load(dir))
            assert(e.getMessage.contains(f) && e.getMessage.contains("JString(x)"),
              e.getMessage)
          }
        // absent n_gens: a pre-generational handle, loadable read-only
        a.nGens.foreach { nGens =>
          withManifest(a, dir)(_.filterNot(_._1 == "n_gens")) {
            assert(nGens(dir) == -1)
            val e = intercept[IllegalArgumentException](a.append(dir))
            assert(e.getMessage.contains("pre-generational"), e.getMessage)
          }
        }
        withManifest(a, dir)(set(a.typeField, JString("other_type"))) {
          val e = intercept[IllegalArgumentException](a.load(dir))
          assert(e.getMessage.contains("other_type"), e.getMessage)
        }
        // the untouched manifest still loads after every restore
        a.load(dir)
        BucketFs.deleteRecursive(s"$dir/${a.manifest}")
        val e = intercept[IllegalArgumentException](a.load(dir))
        assert(e.getMessage.contains(s"no ${a.manifest} in"), e.getMessage)
      } finally BucketFs.deleteRecursive(dir)
    }
}
