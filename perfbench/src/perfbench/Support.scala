package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the harness's result file. */
object Json {
  final class Obj private (val fields: Vector[(String, Any)]) {
    def +(kv: (String, Any)): Obj = new Obj(fields.filterNot(_._1 == kv._1) :+ kv)
  }
  object Obj {
    def apply(kvs: (String, Any)*): Obj = new Obj(kvs.toVector)
  }

  def err(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  def render(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: Any): Unit = v match {
      case null | None => sb ++= "null"
      case Some(x) => go(x)
      case o: Obj =>
        sb += '{'
        o.fields.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb += ','
          str(k); sb += ':'; go(x)
        }
        sb += '}'
      case m: scala.collection.Map[_, _] => go(Obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*))
      case s: Iterable[_] =>
        sb += '['
        s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case x => str(x.toString)
    }
    go(v)
    sb.toString
  }
}

/** In-memory spans, written out once at the end of a traced run. Span
  * times are `System.nanoTime` values; Spark's epoch-millisecond times are
  * mapped onto the same clock. With tracing off every call is a no-op. */
final class Tracer(on: Boolean) {
  final class Span(val id: Long, val name: String) {
    var parent: Long = 0L
    var start: Long = 0L
    var end: Long = 0L
    var attrs: Map[String, Any] = Map.empty
  }
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val origin = System.nanoTime()
  private val spans = mutable.LongMap.empty[Span]
  private var next = 1L

  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def reserve(): Long = if (!on) 0L else { next += 1; next - 1 }

  def openReserved(id: Long, name: String, parent: Option[Long], at: Long,
                   attrs: Map[String, Any] = Map.empty): Unit = if (on) {
    val s = new Span(id, name)
    s.parent = parent.getOrElse(0L); s.start = at; s.attrs = attrs
    spans(id) = s
  }

  def open(name: String, parent: Option[Long], attrs: Map[String, Any] = Map.empty,
           at: Long = System.nanoTime()): Long = {
    val id = reserve()
    openReserved(id, name, parent, at, attrs)
    id
  }

  def close(id: Long): Unit = closeAt(id, System.nanoTime())

  def closeAt(id: Long, at: Long): Unit = if (on) spans.get(id).foreach(_.end = at)

  /** Spark jobs become children of the phase span that was open when they
    * were submitted (the span id travels as a job local property). */
  def addJobs(taps: Taps): Unit = if (on) taps.all.foreach { j =>
    j.span.toLongOption.filter(spans.contains).foreach { parent =>
      val s = new Span(reserve(), "job")
      s.parent = parent
      s.start = fromEpochMs(j.start)
      s.end = fromEpochMs(math.max(j.end, j.start))
      s.attrs = Map("job" -> j.jobId, "req" -> j.req, "tasks" -> j.tasks)
      spans(s.id) = s
    }
  }

  def write(path: Path): Unit = if (on) {
    val lines = spans.values.toSeq.sortBy(_.id).map { s =>
      Json.render(Json.Obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> (s.start - origin) / 1000L, "end_us" -> (s.end - origin) / 1000L,
        "attrs" -> s.attrs))
    }
    Files.write(path, lines.asJava)
  }
}

/** Spark listener taps for a traced run: per-job counters keyed by the
  * request / phase / span local properties the harness sets, and the
  * planning-phase tracker of every noop write. */
object Taps {
  val Req = "perfbench.req"
  val Phase = "perfbench.phase"
  val Span = "perfbench.span"

  def install(spark: SparkSession): Taps = {
    val t = new Taps
    spark.sparkContext.addSparkListener(t.jobTap)
    spark.listenerManager.register(t.qeTap)
    t
  }
}

final class Taps {
  final class JobRec(val jobId: Int, val req: String, val phase: String, val span: String,
                     val start: Long) {
    var end = -1L
    val stages = mutable.Set.empty[Int]
    var tasks, cpuNs, scan, shuffleWrite, shuffleRead, spill = 0L
  }

  private val jobsById = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]
  private val fenced = new CountDownLatch(1)
  private val writes = new LinkedBlockingQueue[Map[String, (Long, Long)]]

  val jobTap: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val r = new JobRec(e.jobId, prop(Taps.Req), prop(Taps.Phase), prop(Taps.Span), e.time)
      jobsById.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.put(s, r))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobsById.get(e.jobId)).foreach { r =>
        r.end = e.time
        if (r.req == "fence") fenced.countDown()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { r =>
        r.tasks += 1
        r.stages += e.stageId
        Option(e.taskMetrics).foreach { m =>
          r.cpuNs += m.executorCpuTime
          r.scan += m.inputMetrics.bytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  val qeTap: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = qe.logical match {
      case _: V2WriteCommand =>
        writes.put(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) })
      case _ =>
    }
  }

  /** Drop write callbacks still queued from earlier requests. */
  def clearWritePlans(): Unit = writes.clear()

  /** Planning phases (epoch ms) of the noop write just issued. */
  def awaitWritePlan(): Map[String, (Long, Long)] =
    Option(writes.poll(10, TimeUnit.SECONDS)).getOrElse(Map.empty)

  /** Run a marker job and wait until the listener has seen it end: every
    * earlier event has been delivered by then. */
  def fence(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Taps.Req, "fence")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Taps.Req, null)
    fenced.await(60, TimeUnit.SECONDS)
  }

  def all: Seq[JobRec] = jobsById.values.asScala.toSeq.filter(_.req != "fence").sortBy(_.jobId)

  def jobs(): Seq[Json.Obj] = all.map { j =>
    Json.Obj("job" -> j.jobId, "req" -> j.req, "phase" -> j.phase, "start" -> j.start,
      "end" -> j.end, "stages" -> j.stages.size, "tasks" -> j.tasks, "cpu_ms" -> j.cpuNs / 1e6,
      "scan_bytes" -> j.scan, "shuffle_write_bytes" -> j.shuffleWrite,
      "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill)
  }
}

/** Catalog and warehouse-directory views of the stored artifacts. */
object Artifacts {
  final case class Snap(tables: Set[String], files: Map[String, Long])

  def tables(spark: SparkSession): Set[String] =
    spark.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name).toSet

  def files(root: Path): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def bytes(root: Path): Long = files(root).values.sum

  def snapshot(spark: SparkSession, root: Path): Snap = Snap(tables(spark), files(root))

  def diff(spark: SparkSession, root: Path, before: Snap): Json.Obj = {
    val after = snapshot(spark, root)
    val built = (after.tables -- before.tables).toSeq.sorted
    val added = after.files.filter { case (p, n) => !before.files.get(p).contains(n) }
    Json.Obj("built" -> built.size, "tables" -> built, "files" -> added.size,
      "bytes" -> added.values.sum)
  }
}
