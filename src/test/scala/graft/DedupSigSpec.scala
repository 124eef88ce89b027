package graft

import graft.Regen.{bag, tempDir, writeDocs, writeVecs}
import graft.dedup.Dedup

/** In-place regeneration freshness for the DOCUMENTS- and EMBEDDINGS-
  * derived artifact tables (r18, verdict r17 #1 — the staleness-key gap):
  * the dedup shingle/signature/truth/candidate/dup-key tables, the RAG
  * postings/shortlist artifacts and the knn101 eval-truth table cached by
  * (path) only, so a corpus regenerated IN PLACE within one live session
  * would serve stale dedup keys / stale recall truth with no error —
  * exactly the wrong-answer class PqSigSpec closed for the PQ tables in
  * r17. Every artifact table is now an Artifact.table keyed on the data
  * signature of its sources; this spec is the executable proof: build +
  * serve at corpus v1, regenerate the SAME path with different content,
  * and pin the in-place result row-identical (as an order-free multiset)
  * to a never-cached fresh-directory compute of the identical v2 corpus.
  */
class DedupSigSpec extends SparkSpec {

  test("in-place documents regeneration rebuilds the dedup artifact chain") {
    val dir = tempDir("graft_dsig")
    writeDocs(spark, dir, version = 1)
    // build + serve the chain at v1: d11 consumes sh3 + dup3; d7 consumes
    // mhsig -> rare3 -> truth3 + cand3 — between them the full
    // shingle/signature/truth/candidate artifact stack
    val d11v1 = bag(Dedup.d11DupTextFraction(spark, dir))
    val d7v1 = bag(Dedup.d7LshRecall(spark, dir))
    assert(d11v1.nonEmpty && d7v1.nonEmpty)

    // regenerate the SAME path with different duplicate structure
    writeDocs(spark, dir, version = 2)
    val fresh = tempDir("graft_dsig_f")
    writeDocs(spark, fresh, version = 2)

    val d11in = bag(Dedup.d11DupTextFraction(spark, dir))
    assert(d11in === bag(Dedup.d11DupTextFraction(spark, fresh)),
      "d11 served a stale sh3/dup3 artifact after in-place regeneration")
    assert(d11in !== d11v1,
      "v2 regeneration produced the v1 answer — dup-key table not data-keyed")
    assert(bag(Dedup.d7LshRecall(spark, dir)) ===
      bag(Dedup.d7LshRecall(spark, fresh)),
      "d7 served stale candidate/truth artifacts after in-place regeneration")
  }

  test("in-place embeddings regeneration rebuilds the knn101 eval shortlist") {
    val dir = tempDir("graft_ksig")
    writeVecs(spark, dir, seed = 20260819L, dim = 32, n = 300)
    val v1 = bag(graft.rag.Search.knnShortlist101(spark, dir))
    assert(v1.nonEmpty)
    writeVecs(spark, dir, seed = 20260820L, dim = 32, n = 300)
    val fresh = tempDir("graft_ksig_f")
    writeVecs(spark, fresh, seed = 20260820L, dim = 32, n = 300)
    val inPlace = bag(graft.rag.Search.knnShortlist101(spark, dir))
    assert(inPlace === bag(graft.rag.Search.knnShortlist101(spark, fresh)),
      "knn101 served a stale shortlist after in-place regeneration — the " +
        "recall queries' stored ground truth would silently grade v1 truth")
    assert(inPlace !== v1,
      "v2 regeneration produced the v1 shortlist — table not data-keyed")
  }
}
