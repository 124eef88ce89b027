package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.analytics.EventOps
import graft.ann.{Ann, GraphProbe, IvfPqR, KmeansIvf, Pq, Router, Sq}
import graft.dedup.Dedup
import graft.memory.MemoryOps
import graft.multimodal.Binary
import graft.pipeline.Pipeline
import graft.rag.{Chunking, CrossEncoder, Embed, Lexical, Mmr, RagOps, Search}
import graft.text.TextOps

/** Closed-loop benchmark client for graft.
  *
  * Reads a request plan written by `gen.py`, sets the library up cold (a
  * fresh session and warehouse over a private copy of the corpus) and
  * makes one warm pass, then replays the plan's calls one at a time, in
  * whole rounds, for at least a given busy time. Every request is one call
  * of a registered query function whose full result is written to the
  * `noop` sink.
  *
  * Everything it measures goes to one JSON file; `run.py` turns it into
  * metrics. With tracing on it also records spans and per-layer counters
  * around the calls it makes, through Spark's public listener APIs.
  */
object Harness {

  final case class Opts(plan: Path, corpus: Path, work: Path, seconds: Double, trace: Boolean)

  /** One JVM at local[4], the host's core count. */
  val Cpus = 4

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(Paths.get(need("plan")), Paths.get(need("corpus")), Paths.get(need("work")),
      need("seconds").toDouble, need("trace") == "1")
  }

  /** Module name -> that module's registered queries. A query registered
    * directly in `SparkEntry` belongs to `analytics` (analytics.Queries). */
  val modules: Seq[(String, Set[String])] = Seq(
    "memory" -> MemoryOps.queries.keySet,
    "rag" -> (RagOps.queries ++ Search.queries ++ Embed.queries ++ Lexical.queries ++
      Mmr.queries ++ Chunking.queries ++ CrossEncoder.queries).keySet,
    "ann" -> (Ann.queries ++ Pq.queries ++ Router.queries ++ KmeansIvf.queries ++
      Sq.queries ++ IvfPqR.queries ++ GraphProbe.queries).keySet,
    "dedup" -> Dedup.queries.keySet,
    "text" -> TextOps.queries.keySet,
    "pipeline" -> Pipeline.queries.keySet,
    "multimodal" -> Binary.queries.keySet,
    "analytics" -> EventOps.queries.keySet)

  def moduleOf(query: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(query) => m }.getOrElse("analytics")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val plan = Plan.read(o.plan)
    val run = new Run(o, plan)
    val code =
      try { run.all(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally run.close()
    System.exit(code)
  }
}

/** The request plan: the workload's query set, one query per module for
  * the traced run's coverage calls, and the seeded stream of calls and
  * source refreshes, in rounds. */
final case class Plan(workload: String, cover: Seq[String], queries: Seq[String],
                      stream: IndexedSeq[Plan.Step])

object Plan {
  sealed trait Step
  /** The start of a round: the window may only end here. */
  case object Round extends Step
  final case class Call(query: String) extends Step
  final case class Refresh(table: String, version: Int, staged: String) extends Step

  def read(path: Path): Plan = {
    var workload = ""
    val cover, queries = mutable.ArrayBuffer.empty[String]
    val stream = mutable.ArrayBuffer.empty[Step]
    Files.readAllLines(path).asScala.map(_.trim).filter(_.nonEmpty).foreach { line =>
      line.split(" ").toList match {
        case "workload" :: w :: Nil => workload = w
        case "cover" :: q :: Nil => cover += q
        case "query" :: q :: Nil => queries += q
        case "round" :: Nil => stream += Round
        case "call" :: q :: Nil => stream += Call(q)
        case "refresh" :: t :: v :: f :: Nil => stream += Refresh(t, v.toInt, f)
        case _ => throw new IllegalArgumentException(s"bad plan line: $line")
      }
    }
    Plan(workload, cover.toSeq, queries.toSeq, stream.toIndexedSeq)
  }
}

final class Run(o: Harness.Opts, plan: Plan) {
  import Harness.moduleOf

  private val fns = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql
  /** The source tables each query reads: those its oracle SQL reads from. */
  private val deps: Map[String, Seq[String]] = plan.queries.map { q =>
    q -> Tables.loaders.keys.toSeq.sorted.filter { t =>
      oracle.get(q).exists(s"(?i)\\b(from|join)\\s+$t\\b".r.findFirstIn(_).isDefined)
    }
  }.toMap
  private val tracer = new Tracer(o.trace)
  private val corpus = o.work.resolve("serving")
  private val warehouse = o.work.resolve("warehouse")
  private var spark: SparkSession = _
  private var taps: Taps = _
  private var nextReq = 0L

  /** Current version of each source table, and the (query, version) pairs
    * whose warm result has been dumped for the output check. */
  private val versions = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val dumped = mutable.Set.empty[String]

  private val requests = mutable.ArrayBuffer.empty[Json.Obj]
  private val refreshes = mutable.ArrayBuffer.empty[Json.Obj]
  private val dumps = mutable.ArrayBuffer.empty[Json.Obj]
  private val artifacts = mutable.ArrayBuffer.empty[Json.Obj]
  private var setupRec, window, loads, stored = Json.Obj()

  private def versionKey(q: String): String =
    deps.getOrElse(q, Nil).map(t => s"$t=${versions(t)}").mkString(",")

  def all(): Unit = {
    setup()
    measure()
    stored = Json.Obj("warehouse_bytes" -> Artifacts.bytes(warehouse),
      "tables_live" -> Artifacts.tables(spark).size, "peak_rss_mb" -> peakRssMb(),
      "live_heap_mb" -> liveHeapMb())
    if (o.trace) {
      cover()
      loadSources()
    }
    write()
  }

  def close(): Unit = if (spark != null) spark.stop()

  // ---------------------------------------------------------------- setup

  private def session(): SparkSession = {
    val local = o.work.resolve("local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[${Harness.Cpus}]")
      .appName(s"perfbench-${plan.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Harness.Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.warehouse.dir", warehouse.toAbsolutePath.toString)
      .config("spark.local.dir", local.toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The set-up: session; one cold call of each of the workload's queries,
    * which builds its artifacts; then one warm pass over the same queries,
    * so that the window does not measure JIT settling. Both passes dump
    * their results for the output check: the warm pass takes the path of
    * the timed requests (stored artifacts, in-JVM memos), the cold one the
    * path that builds them. */
  private def setup(): Unit = {
    copyTree(o.corpus, corpus)
    val sp = tracer.open("setup", None)
    val t0 = System.nanoTime()
    val ss = tracer.open("session", Some(sp))
    spark = session()
    if (o.trace) taps = Taps.install(spark)
    tracer.close(ss)
    val t1 = System.nanoTime()
    val bs = tracer.open("build", Some(sp))
    plan.queries.foreach(q => request("build", q, Some(bs), cold = true, dump = Some("cold")))
    tracer.close(bs)
    val t2 = System.nanoTime()
    val ws = tracer.open("warmup", Some(sp))
    plan.queries.foreach(q => request("warm", q, Some(ws), dump = Some("warm")))
    tracer.close(ws)
    val t3 = System.nanoTime()
    tracer.close(sp)
    setupRec = Json.Obj("session_ms" -> ms(t1 - t0), "build_ms" -> ms(t2 - t1),
      "warmup_ms" -> ms(t3 - t2), "total_ms" -> ms(t3 - t0),
      "jvm_start_ms" -> (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
        - ms(System.nanoTime() - t0)))
  }

  // -------------------------------------------------------------- window

  /** The measured window: replay the stream, round by round, until a
    * round boundary after `seconds` of busy time. Dumps of results on a
    * new data version (for the output check) pause the window clock. */
  private def measure(): Unit = {
    val budgetNs = (o.seconds * 1e9).toLong
    var busy = 0L
    var i = 0
    var rounds = 0
    var changed = Set.empty[String]
    val wall0 = System.nanoTime()
    while (i < plan.stream.size && !(plan.stream(i) == Plan.Round && busy >= budgetNs)) {
      plan.stream(i) match {
        case Plan.Round => rounds += 1
        case Plan.Call(q) =>
          val first = changed.contains(q)
          val t0 = System.nanoTime()
          val rec = request("call", q, None, cold = first)
          busy += System.nanoTime() - t0
          requests += (rec + ("first_after_change" -> first) + ("round" -> rounds))
          changed -= q
          if (!dumped.contains(s"$q@${versionKey(q)}")) dump(q)
        case Plan.Refresh(t, v, staged) =>
          val t0 = System.nanoTime()
          val span = tracer.open("refresh", None, Map("table" -> t, "version" -> v))
          val tmp = corpus.resolve(s".$t.parquet.tmp")
          Files.copy(Paths.get(staged), tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, corpus.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
          tracer.close(span)
          val dt = System.nanoTime() - t0
          busy += dt
          versions(t) = v
          changed ++= plan.queries.filter(q => deps.getOrElse(q, Nil).contains(t))
          refreshes += Json.Obj("table" -> t, "version" -> v, "ms" -> ms(dt), "round" -> rounds)
      }
      i += 1
    }
    window = Json.Obj("busy_ms" -> ms(busy), "wall_ms" -> ms(System.nanoTime() - wall0),
      "rounds" -> rounds,
      "stream_exhausted" -> (i >= plan.stream.size))
  }

  /** Write one query's warm result at the current data version to
    * parquet, for the output check. Not timed as a request. */
  private def dump(q: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Taps.Phase, "dump")
    val dir = dumpDir(q, "warm")
    try writeDump(fns(q)(spark, corpus.toString), dir)
    catch { case e: Throwable => dumpFailed(Json.err(e)) }
    finally sc.setLocalProperty(Taps.Phase, null)
  }

  private def dumpDir(q: String, pass: String): Path = {
    val key = versionKey(q)
    if (pass == "warm") dumped += s"$q@$key"
    val dir = o.work.resolve("dumps").resolve(s"${q}__${dumps.size}")
    dumps += Json.Obj("query" -> q, "version" -> key, "pass" -> pass,
      "dir" -> dir.toAbsolutePath.toString, "ok" -> true)
    dir
  }

  private def writeDump(df: DataFrame, dir: Path): Unit =
    df.write.mode("overwrite").parquet(dir.toString)

  private def dumpFailed(err: String): Unit =
    dumps(dumps.size - 1) = dumps.last + ("ok" -> false) + ("error" -> err)

  // ------------------------------------------------------------- requests

  /** One request: call the query function (construct), then write its full
    * result to the noop sink (plan + exec); with a `dump` pass, to the
    * parquet dump the output check reads instead. */
  private def request(kind: String, q: String, parent: Option[Long],
                      cold: Boolean = false, dump: Option[String] = None): Json.Obj = {
    val id = nextReq; nextReq += 1
    val sc = spark.sparkContext
    val module = moduleOf(q)
    val before = if (o.trace && cold) Some(Artifacts.snapshot(spark, warehouse)) else None
    val rs = tracer.open("request", parent, Map("query" -> q, "module" -> module, "kind" -> kind, "req" -> id))
    val cs = tracer.open("construct", Some(rs))
    val es = tracer.reserve()
    sc.setLocalProperty(Taps.Req, id.toString)
    sc.setLocalProperty(Taps.Phase, "construct")
    sc.setLocalProperty(Taps.Span, cs.toString)
    val dir = dump.map(dumpDir(q, _))
    val gc0 = if (o.trace) Gc.ms() else 0L
    val t0 = System.nanoTime()
    var t1 = 0L
    var analysisMs = 0L
    var err: Option[String] = None
    try {
      val df = fns(q)(spark, corpus.toString)
      t1 = System.nanoTime()
      // the query is analyzed when its DataFrame is built, inside construct
      if (o.trace) analysisMs = df.queryExecution.tracker.phases.get("analysis").fold(0L)(_.durationMs)
      sc.setLocalProperty(Taps.Phase, "exec")
      sc.setLocalProperty(Taps.Span, es.toString)
      if (o.trace) taps.clearWritePlans()
      dir match {
        case Some(d) => writeDump(df, d)
        case None => df.write.format("noop").mode("overwrite").save()
      }
    } catch {
      case e: Throwable =>
        if (t1 == 0L) t1 = System.nanoTime()
        err = Some(Json.err(e))
        if (dir.isDefined) dumpFailed(err.get)
    } finally {
      sc.setLocalProperty(Taps.Req, null)
      sc.setLocalProperty(Taps.Phase, null)
      sc.setLocalProperty(Taps.Span, null)
    }
    val t2 = System.nanoTime()
    var rec = Json.Obj("req" -> id, "kind" -> kind, "query" -> q, "module" -> module,
      "version" -> versionKey(q), "ms" -> ms(t2 - t0), "construct_ms" -> ms(t1 - t0),
      "write_ms" -> ms(t2 - t1), "ok" -> err.isEmpty)
    err.foreach(e => rec += ("error" -> e))
    if (o.trace) {
      // the noop write's planning phases (epoch ms); a dump is a parquet
      // write, which the tap does not time
      val phases = if (err.isEmpty && dir.isEmpty) taps.awaitWritePlan() else Map.empty[String, (Long, Long)]
      rec += ("gc_ms" -> (Gc.ms() - gc0))
      rec += ("plan_ms" -> phases.values.map { case (a, b) => (b - a).toDouble }.sum)
      phases.foreach { case (p, (a, b)) => rec += (s"plan_${p}_ms" -> (b - a).toDouble) }
      rec += ("query_analysis_ms" -> analysisMs.toDouble)
      tracer.closeAt(cs, t1)
      // plan then exec inside the write call
      val planEnd = if (phases.isEmpty) t1
        else math.min(t2, math.max(t1, tracer.fromEpochMs(phases.values.map(_._2).max)))
      if (phases.nonEmpty) {
        val start = math.min(planEnd, math.max(t1, tracer.fromEpochMs(phases.values.map(_._1).min)))
        tracer.closeAt(tracer.open("plan", Some(rs), at = start), planEnd)
      }
      tracer.openReserved(es, "exec", Some(rs), planEnd)
      tracer.closeAt(es, t2)
      tracer.closeAt(rs, t2)
      before.foreach { b =>
        artifacts += (Artifacts.diff(spark, warehouse, b) + ("req" -> id) + ("query" -> q) +
          ("kind" -> kind) + ("ms" -> ms(t2 - t0)))
      }
    }
    if (kind != "call") requests += rec
    rec
  }

  /** Traced runs only, after the window: one call for each module the
    * workload's queries do not use, so that every module's counters are
    * live. */
  private def cover(): Unit = {
    val used = plan.queries.map(moduleOf).toSet
    plan.cover.filterNot(q => used(moduleOf(q))).foreach(q => request("cover", q, None, cold = true))
  }

  /** One direct call of every `Tables` loader (each one a schema read). */
  private def loadSources(): Unit = {
    val sc = spark.sparkContext
    val per = Tables.loaders.toSeq.sortBy(_._1).map { case (t, load) =>
      val span = tracer.open("load", None, Map("table" -> t))
      sc.setLocalProperty(Taps.Req, s"load:$t")
      sc.setLocalProperty(Taps.Phase, "load")
      sc.setLocalProperty(Taps.Span, span.toString)
      val t0 = System.nanoTime()
      load(spark, corpus.toString)
      val dt = System.nanoTime() - t0
      sc.setLocalProperty(Taps.Req, null)
      sc.setLocalProperty(Taps.Phase, null)
      sc.setLocalProperty(Taps.Span, null)
      tracer.close(span)
      t -> ms(dt)
    }
    loads = Json.Obj("ms" -> per.map(_._2).sum, "tables" -> Json.Obj(per: _*))
  }

  // --------------------------------------------------------------- output

  private def write(): Unit = {
    var out = Json.Obj(
      "workload" -> plan.workload,
      "seconds" -> o.seconds,
      "trace" -> o.trace,
      "setup" -> setupRec,
      "requests" -> requests.toSeq,
      "refreshes" -> refreshes.toSeq,
      "dumps" -> dumps.toSeq,
      "window" -> window,
      "loads" -> loads,
      "oracle" -> Json.Obj(plan.queries.flatMap(q => oracle.get(q).map(q -> _)): _*),
      "deps" -> deps,
      "stored" -> stored,
    )
    if (o.trace) {
      taps.fence(spark)
      out += ("jobs" -> taps.jobs())
      out += ("artifacts" -> artifacts.toSeq)
      tracer.addJobs(taps)
      tracer.write(o.work.resolve("spans.jsonl"))
    }
    Files.writeString(o.work.resolve("harness.json"), Json.render(out))
  }

  private def ms(ns: Long): Double = ns / 1e6

  /** High-water resident set of this JVM (Linux /proc). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Heap still held after a full collection: what the session keeps
    * (catalog, broadcasts, in-JVM memos), apart from transient garbage. */
  private def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

object Gc {
  def ms(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
}
