package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Corpus writers and result comparison shared by the in-place-regeneration
  * specs (PqSigSpec, DedupSigSpec, ArtifactSpec). Every writer is seeded, so
  * two writes of the same version are content-identical — which is what
  * lets a never-cached fresh-directory twin act as the oracle for an
  * in-place regeneration.
  */
object Regen {

  /** A new, empty directory private to one test. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Order-free view of a result: a sorted multiset of rendered rows.
    * Shuffle fetch order makes `collect()` order vary between runs of
    * the same plan, so equality must not depend on it. */
  def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Tiny deterministic documents corpus; `version` changes which docs are
    * near-duplicates, so every dedup artifact's content changes with it. */
  def writeDocs(spark: SparkSession, dir: String, version: Int): Unit = {
    import spark.implicits._
    // per-doc-unique vocabulary: no cross-doc shingles except the copied
    // doc below, so the dup structure IS the version's distinguishing fact
    val base = (0 until 24).map { i =>
      val words = (0 until 12).map(j => s"v${version}d${i}w$j")
      (i.toLong, words.mkString(" "), "en", s"src${i % 3}", 60L)
    }
    // duplicate pairs shift with the version: v1 copies doc 0 -> 1,
    // v2 copies doc 2 -> 3 (different dup groups, different truth sets)
    val rows = base.map { case (id, text, lang, src, n) =>
      if (version == 1 && id == 1L) (id, base(0)._2, lang, src, n)
      else if (version == 2 && id == 3L) (id, base(2)._2, lang, src, n)
      else (id, text, lang, src, n)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Clustered embeddings corpus (k unit-vector centers plus noise), one
    * file — a single input split keeps the seeded k-means builds
    * independent of file-listing order. */
  def writeVecs(spark: SparkSession, dir: String, seed: Long, dim: Int, n: Int,
                k: Int = 16): Unit = {
    val rnd = new java.util.Random(seed)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / nrm)
    }
    val centers = Array.fill(k)(unit())
    val rows = (0 until n).map { i =>
      val c = centers(i % k)
      val v = c.map(x =>
        x + 0.35f * rnd.nextGaussian().toFloat / math.sqrt(dim).toFloat)
      Row(i.toLong, v.toSeq, i % k % 10)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** lineitem in the pinned schema (Tables.Pinned); `version` moves
    * quantities and prices, so every q1 aggregate changes with it. */
  def writeLineitem(spark: SparkSession, dir: String, version: Int): Unit = {
    val ship = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val rows = (0 until 200).map { i =>
      Row(i.toLong / 4, i.toLong % 7, i.toLong % 5, i % 4,
        (i % 50 + version).toDouble, 100.0 * (i % 13 + version), 0.01 * (i % 10),
        0.01 * (i % 8), Seq("A", "N", "R")(i % 3), Seq("F", "O")(i % 2), ship)
    }
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }
}
