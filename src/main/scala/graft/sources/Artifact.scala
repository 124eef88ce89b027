package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one build-once artifact layer: every warehouse table and driver-side
  * value derived from a corpus (index tables, codebooks, eval truth, index
  * statistics) is built, keyed and evicted here and nowhere else.
  *
  *  - Key = (artifact name, corpus dir, DATA SIGNATURE of the named source
  *    datasets). The signature is md5 over (relative name, length, mtime)
  *    of every file under each source, listed through the Hadoop
  *    FileSystem of the source's own path — so `file:` URIs, `hdfs://`
  *    and `s3a://` dirs re-key on an in-place regeneration exactly like a
  *    local path, and a missing source fails with the filesystem's own
  *    not-found error naming it. Reuse across a session is only safe when
  *    it is keyed on the data version, not the path.
  *  - Table names keep the `graft_<name>_<16-hex path hash>_<8-hex sig>`
  *    shape (`Bench.scrubPlan` normalizes the sig out of fingerprints), so
  *    `name` must be `[a-z0-9]+`: no underscores, or the supersede glob
  *    and the scrub rule would cross artifact boundaries.
  *  - Builds run under ONE reentrant lock (this object's monitor), so an
  *    artifact whose build reads another artifact (Sq codes -> stats, BM25
  *    candidates -> postings) nests freely.
  *  - Retention is one version per (name, dir): the first build of a new
  *    signature drops the superseded tables and their warehouse
  *    directories, and a new memo value replaces the superseded entry.
  */
object Artifact {

  /** Physical layout of a table artifact — the [[Warehouse]] write paths. */
  sealed trait Layout
  case object Plain extends Layout
  final case class Bucketed(keyCol: String) extends Layout
  final case class Partitioned(partCol: String) extends Layout

  /** The warehouse table `graft_<name>_<pathHash>_<sig>`, written with
    * `layout` from `build` the first time this signature is seen. */
  def table(spark: SparkSession, name: String, dir: String, sources: String*)
           (layout: Layout)(build: => DataFrame): DataFrame = {
    require(name.matches("[a-z0-9]+"), s"artifact name '$name' must match [a-z0-9]+")
    val prefix = s"graft_${name}_${pathHash(dir)}_"
    val t = prefix + signature(spark, dir, sources)
    if (!spark.catalog.tableExists(t)) synchronized {
      if (!spark.catalog.tableExists(t)) {
        dropSuperseded(spark, prefix, t)
        val df = build
        layout match {
          case Plain => Warehouse.writeTable(df, t)
          case Bucketed(k) => Warehouse.writeBucketed(df, t, k)
          case Partitioned(p) => Warehouse.writePartitionedTable(df, t, p)
        }
      }
    }
    spark.table(t)
  }

  private val memos =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, Any)]

  /** A driver-side value computed once per (name, dir, signature); a new
    * signature recomputes and replaces the superseded entry. */
  def memo[T](name: String, dir: String, sources: String*)(compute: => T): T = {
    val key = (name, pathHash(dir))
    val sig = signature(SparkSession.active, dir, sources)
    def hit = memos.get(key).collect { case (`sig`, v) => v.asInstanceOf[T] }
    hit.getOrElse(synchronized {
      hit.getOrElse {
        val v = compute
        memos.put(key, (sig, v))
        v
      }
    })
  }

  /** 8-hex data signature of `sources` under `dir` (see the object doc). */
  private[graft] def signature(spark: SparkSession, dir: String,
                               sources: Seq[String]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    def add(fs: FileSystem, p: Path, rel: String): Unit =
      fs.listStatus(p).sortBy(_.getPath.getName).foreach { s =>
        val name = rel + s.getPath.getName
        if (s.isDirectory) add(fs, s.getPath, name + "/")
        else d.update(s"$name:${s.getLen}:${s.getModificationTime};".getBytes("UTF-8"))
      }
    sources.foreach { src =>
      val p = new Path(dir, src)
      add(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, src + "/")
    }
    hex(d.digest(), 4)
  }

  /** 16-hex corpus-dir hash (64 bits of md5: a 32-bit hash collided at
    * ~2^16 dirs, and a collision silently serves the wrong index). A local
    * dir — plain or `file:` URI — hashes its absolute path, so both forms
    * name the same artifacts; any other scheme hashes the full URI. */
  private[graft] def pathHash(dir: String): String = {
    val uri = new Path(dir).toUri
    val key =
      if (uri.getScheme == null || uri.getScheme == "file")
        new java.io.File(uri.getPath).getAbsolutePath
      else uri.toString
    hex(java.security.MessageDigest.getInstance("MD5").digest(key.getBytes("UTF-8")), 8)
  }

  private def hex(b: Array[Byte], n: Int): String = b.take(n).map(x => f"$x%02x").mkString

  /** Drop every other version of this (name, dir). Every version owns a
    * warehouse directory (managed table, or a previous JVM's leftover), so
    * the directory listing finds them all; dropStale removes the catalog
    * entry with the directory. */
  private def dropSuperseded(spark: SparkSession, prefix: String, keep: String): Unit = {
    val root = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(root, prefix + "*"))).toSeq.flatten
      .map(_.getPath.getName).filter(_ != keep)
      .foreach(Warehouse.dropStale(spark, _))
  }
}
