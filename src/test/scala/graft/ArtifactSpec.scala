package graft

import graft.Regen.{bag, tempDir, writeDocs, writeLineitem, writeVecs}
import graft.analytics.Queries
import graft.dedup.Dedup
import graft.rag.Search
import graft.sources.{Artifact, Warehouse}

/** The artifact layer's own contract: names keep the committed shape, any
  * Hadoop-FS dir form re-keys on an in-place regeneration, a missing source
  * fails naming its path, and one version per (artifact, dir) survives.
  */
class ArtifactSpec extends SparkSpec {

  test("path hash keeps the committed 16-hex form; file: URIs name the same artifacts") {
    val abs = "/data/corpus/sf0.1"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    assert(Artifact.pathHash(abs) === md5)
    assert(Artifact.pathHash(s"file:$abs") === md5)
    assert(Artifact.pathHash(s"$abs/") === md5)
    assert(Artifact.pathHash("hdfs://nn:8020/data/sf0.1") !== md5)
  }

  test("in-place lineitem regeneration rebuilds the q23 materialized view (q1mv)") {
    val dir = tempDir("graft_q1mv")
    writeLineitem(spark, dir, version = 1)
    val v1 = bag(Queries.q23IncrementalAgg(spark, dir))
    writeLineitem(spark, dir, version = 2)
    val fresh = tempDir("graft_q1mv_f")
    writeLineitem(spark, fresh, version = 2)
    val inPlace = bag(Queries.q23IncrementalAgg(spark, dir))
    assert(inPlace === bag(Queries.q23IncrementalAgg(spark, fresh)),
      "q23 merged v2 deltas into a stale v1 partial-state table")
    assert(inPlace !== v1)
  }

  test("a file: URI dir re-keys on in-place regeneration like a plain path") {
    val local = tempDir("graft_uri")
    val dir = s"file:$local"
    writeDocs(spark, dir, version = 1)
    val v1 = bag(Dedup.d11DupTextFraction(spark, dir))
    writeDocs(spark, dir, version = 2)
    val fresh = tempDir("graft_uri_f")
    writeDocs(spark, fresh, version = 2)
    val inPlace = bag(Dedup.d11DupTextFraction(spark, dir))
    assert(inPlace === bag(Dedup.d11DupTextFraction(spark, fresh)),
      "a URI-form dir served stale artifacts: its signature did not see the files")
    assert(inPlace !== v1)
  }

  test("a missing source fails with the filesystem's not-found error naming it") {
    val dir = tempDir("graft_missing")
    val err = intercept[java.io.FileNotFoundException](
      Artifact.signature(spark, dir, Seq("embeddings.parquet")))
    assert(err.getMessage.contains(s"$dir/embeddings.parquet"))
  }

  test("a new signature supersedes: one table per artifact and dir, old dirs dropped") {
    val dir = tempDir("graft_supersede")
    val prefix = s"graft_knn101_${Artifact.pathHash(dir)}_"
    def live = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix)).toSeq
    def onDisk(t: String) = {
      val loc = Warehouse.tableLocation(spark, t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(loc)
    }
    def regen(seed: Long, at: String = dir): Unit =
      writeVecs(spark, at, seed = seed, dim = 32, n = 300)

    regen(41L)
    val r1 = bag(Search.knnShortlist101(spark, dir))
    val Seq(t1) = live
    regen(42L)
    val r2 = bag(Search.knnShortlist101(spark, dir))
    val Seq(t2) = live
    assert(t2 !== t1)
    assert(!onDisk(t1), s"superseded version $t1 kept its warehouse directory")
    assert(r2 !== r1)

    // back to v1's content: a fresh build (new files, new signature), not
    // the resurrection of anything dropped
    regen(41L)
    val r3 = bag(Search.knnShortlist101(spark, dir))
    val Seq(t3) = live
    assert(!onDisk(t2), s"superseded version $t2 kept its warehouse directory")
    assert(Set(t1, t2)(t3) === false)
    val twin = tempDir("graft_supersede_f")
    regen(41L, twin)
    assert(r3 === bag(Search.knnShortlist101(spark, twin)))
    assert(r3 === r1)
  }
}
