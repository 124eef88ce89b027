package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.Regen.{bag, tempDir}
import graft.ann.{IvfPqR, KmeansIvf, Pq, Sq}
import graft.sources.Artifact

/** In-place regeneration freshness for the PQ artifact caches (r17,
  * verdict r16 #2): codesTable (pqcodes), the default-nlists ivfPqTable,
  * and the trained-codebook paths cache by (path, DATA SIGNATURE) — a
  * corpus regenerated IN PLACE at a different dimension within one live
  * session re-derives subDimOf from the new data, and before 7d1ef78 the
  * path-keyed tables then joined fresh-width LUTs against stale-width
  * codes with no schema error: silently wrong ADC scores. This spec is
  * the missing executable proof: generate at dim 32, serve, regenerate
  * the SAME path at dim 64, and pin the in-place result row-identical to
  * a never-cached fresh-directory compute of the identical corpus.
  */
class PqSigSpec extends SparkSpec {

  /** RouterDimSpec's deterministic clustered-corpus construction: seeded
    * by dim only, so two writes of the same dim are content-identical —
    * which is exactly what lets the fresh-dir twin act as the oracle. */
  private def writeCorpus(dir: String, dim: Int, n: Int): Unit =
    Regen.writeVecs(spark, dir, seed = 20260816L + dim, dim = dim, n = n)

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("in-place dim regeneration serves fresh PQ artifacts, not cached-width tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqsig").toString
    writeCorpus(dir, dim = 32, n = 600)
    def sig = Artifact.signature(spark, dir, Seq("embeddings.parquet"))
    val sig32 = sig
    assert(Pq.subDimOf(spark, dir) === 32 / Pq.M)
    // build + serve every cached artifact flavor at dim 32: pqcodes (a5),
    // default-nlists ivfPqTable (a13), and the composed a22 serving shape
    val r32 = rowsOf(Pq.a5PqTopK(spark, dir))
    assert(r32.nonEmpty)
    rowsOf(Pq.a13IvfPqTopK(spark, dir)): Unit

    // regenerate the SAME path at dim 64 within the SAME session
    writeCorpus(dir, dim = 64, n = 600)
    assert(sig !== sig32,
      "regeneration must move the data signature or every cache aliases")
    assert(Pq.subDimOf(spark, dir) === 64 / Pq.M)

    // oracle: the identical dim-64 corpus in a NEVER-CACHED fresh dir
    val fresh = java.nio.file.Files.createTempDirectory("graft_pqsig_fresh").toString
    writeCorpus(fresh, dim = 64, n = 600)

    // a5: pqcodes codesTable freshness — a stale dim-32 code table joined
    // against dim-64 LUTs changes ADC scores silently; row-identity to the
    // fresh-dir compute is the whole claim
    val inPlace5 = rowsOf(Pq.a5PqTopK(spark, dir))
    val fresh5 = rowsOf(Pq.a5PqTopK(spark, fresh))
    assert(inPlace5 === fresh5, "a5 served a stale-signature pqcodes table")
    assert(inPlace5 !== r32,
      "dim-64 regeneration produced the dim-32 answer — cache not keyed by data")

    // a13: the default-nlists ivfPqTable branch (the one branch that was
    // path-keyed before 7d1ef78)
    assert(rowsOf(Pq.a13IvfPqTopK(spark, dir)) ===
      rowsOf(Pq.a13IvfPqTopK(spark, fresh)),
      "a13 served a stale-signature default-nlists ivfPq table")

    // a22: the production two-stage serving shape composes codes + exact
    // rerank over the regenerated corpus
    assert(rowsOf(Pq.a22IvfPqRerank(spark, dir)) ===
      rowsOf(Pq.a22IvfPqRerank(spark, fresh)),
      "a22 composed a stale cached artifact after in-place regeneration")
  }

  test("k-means-trained codebook cache (pqkcb/pqkcodes) is signature-keyed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqsig_km").toString
    writeCorpus(dir, dim = 32, n = 400)
    rowsOf(Pq.a9PqKmeansTopK(spark, dir)): Unit
    writeCorpus(dir, dim = 64, n = 400)
    val fresh = java.nio.file.Files.createTempDirectory("graft_pqsig_kmf").toString
    writeCorpus(fresh, dim = 64, n = 400)
    // deterministic seeded training on identical bytes: in-place == fresh
    assert(rowsOf(Pq.a9PqKmeansTopK(spark, dir)) ===
      rowsOf(Pq.a9PqKmeansTopK(spark, fresh)),
      "a9 served a stale-signature trained codebook or code table")
  }

  test("in-place regeneration rebuilds the SQ, residual-IVFPQ and k-means IVF tables") {
    // sqstats/sqcodes (a12), ivfpqr (a16), ivfk/ivfkc + ivfpqrk (a4, a18)
    // were keyed by path only: a regenerated corpus was probed through v1
    // codes, statistics and centroids. v2 differs in seed AND size, so the
    // query set itself moves and no result can coincide with v1's.
    val serve = Seq[(String, String => DataFrame)](
      "a12" -> (d => Sq.a12SqRecall(spark, d)),
      "a16" -> (d => IvfPqR.a16IvfPqResidualTopK(spark, d)),
      "a18" -> (d => IvfPqR.a18IvfPqrKmeansTopK(spark, d)),
      "a4" -> (d => KmeansIvf.a4KnnIvfKmeans(spark, d)))
    val dir = tempDir("graft_pqsig_sq")
    Regen.writeVecs(spark, dir, seed = 31L, dim = 32, n = 600)
    val v1 = serve.map { case (q, f) => q -> bag(f(dir)) }.toMap
    Regen.writeVecs(spark, dir, seed = 32L, dim = 32, n = 505)
    val fresh = tempDir("graft_pqsig_sqf")
    Regen.writeVecs(spark, fresh, seed = 32L, dim = 32, n = 505)
    serve.foreach { case (q, f) =>
      val inPlace = bag(f(dir))
      assert(inPlace === bag(f(fresh)), s"$q served a stale artifact after in-place regeneration")
      assert(inPlace !== v1(q), s"$q: v2 regeneration produced the v1 answer")
    }
  }
}
