package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.partitioning.{Extent, LonLatPartitioning}
import graft.sources.{BucketFs, BucketInfo, BucketReader, BucketWriter, Merge}

/** The bucket file plumbing must speak the Hadoop FileSystem API — not
  * java.nio — so merge/ingest/listing run against hdfs:// and s3a:// as
  * well as local disk. These tests drive the full write → read → merge
  * cycle through a non-`file` scheme (`mock:/`, registered in
  * SparkTestBase as RawLocalFileSystem): any remaining java.nio shortcut
  * would fail on the scheme-prefixed paths.
  */
class HadoopFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def mockDir(name: String): String = {
    val p = Files.createTempDirectory(s"graft_$name")
    p.toFile.deleteOnExit()
    s"mock:$p"
  }

  test("bucket write/read round trip through a non-local scheme") {
    val dir = mockDir("hfs_bucket")
    val df = OrbitFixture.standard(spark)
    BucketWriter.writeBucket(df, dir, LonLatPartitioning(size = (10, 10)),
      mode = "overwrite")
    assert(BucketFs.exists(s"$dir/${BucketInfo.FileName}"))
    val back = BucketReader.read(spark, dir,
      query = BucketReader.ByExtent(Extent(-180, 180, -90, 90)))
    assert(back.count() == 150)
  }

  test("bucket_info.yaml interop manifest round-trips (reference nested format)") {
    val dir = mockDir("hfs_yaml")
    val p = LonLatPartitioning(size = (10, 10))
    BucketWriter.writeBucket(OrbitFixture.standard(spark), dir, p,
      mode = "overwrite")
    // both manifests written
    assert(BucketFs.exists(s"$dir/${BucketInfo.FileName}"))
    assert(BucketFs.exists(s"$dir/${BucketInfo.ReferenceFileName}"))
    // force the yaml path (what the reference stack reads) and check the
    // partitioning reconstructs identically through the NESTED format
    val (fs, _) = BucketFs.resolve(dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir, BucketInfo.FileName), false)
    val viaYaml = BucketInfo.readPartitioning(dir)
    assert(viaYaml.toDict == p.toDict)
    // and the bucket still reads (yaml must not pollute the parquet scan)
    assert(BucketReader.read(spark, dir).count() == 150)
  }

  test("directory-flavor bucket survives the yaml-only manifest path") {
    val dir = mockDir("hfs_yaml_dirflavor")
    val p = LonLatPartitioning(size = (10, 10), flavor = Some("directory"))
    BucketWriter.writeBucket(OrbitFixture.standard(spark), dir, p,
      mode = "overwrite")
    val (fs, _) = BucketFs.resolve(dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir, BucketInfo.FileName), false)
    // reference yaml writes flavor as null for bare dirs — the reader must
    // map that back to the directory flavor, not default to hive
    val viaYaml = BucketInfo.readPartitioning(dir)
    assert(viaYaml.flavor.contains("directory"))
    assert(BucketReader.read(spark, dir).count() == 150)
  }

  test("merge renames staged periods through a non-local scheme") {
    val src = mockDir("hfs_src")
    val dst = mockDir("hfs_dst")
    val df = OrbitFixture.standard(spark)
    BucketWriter.writeBucket(df, src, LonLatPartitioning(size = (10, 10)),
      mode = "overwrite")
    // distributeRenamesAbove=0 forces the EXECUTOR-side rename job (the
    // 10^5-file scale path) — through the non-local scheme too
    Merge.mergeGranuleBuckets(spark, src, dst, temporalPartitioning = "month",
      distributeRenamesAbove = 0)
    // period-named files landed inside the spatial dirs, staging removed
    val files = BucketReader.listFiles(dst, fileExtension = ".parquet")
    assert(files.nonEmpty)
    assert(files.forall(_.matches(".*/\\d{4}_\\d{1,2}_\\d+\\.parquet")))
    assert(!BucketFs.exists(s"$dst/_staging"))
    val back = BucketReader.read(spark, dst)
    assert(back.count() == 150)
  }

  test("existingDirs keeps exactly the existing candidate directories, in order") {
    val dir = mockDir("hfs_existing")
    val local = dir.stripPrefix("mock:")
    for (d <- Seq("a=1/b=1", "a=1/b=2", "a=2/b=1")) Files.createDirectories(java.nio.file.Paths.get(local, d))
    Files.createFile(java.nio.file.Paths.get(local, "a=2", "b=2"))  // a file, not a cell
    val rels = Seq("a=2/b=1", "a=3/b=1", "a=1/b=3", "a=2/b=2", "a=1/b=1", "a=1/b=2")
    assert(BucketFs.existingDirs(dir, rels) == Seq("a=2/b=1", "a=1/b=1", "a=1/b=2"))
    assert(BucketFs.existingDirs(dir, Seq("a=1", "c=1")) == Seq("a=1"))
    assert(BucketFs.existingDirs(dir, Nil).isEmpty)
  }
}
