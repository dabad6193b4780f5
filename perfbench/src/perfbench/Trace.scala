package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around calls into the program's layers, recorded from the
  * benchmark's own code. A span sets the Spark local property
  * [[Trace.SpanProperty]] to its instance id for the duration of the call;
  * every job submitted from the driver thread meanwhile carries it, and
  * [[StageListener]] maps job → stages → tasks back to the span. The
  * program's own `setJobDescription(null)` calls leave that property alone.
  *
  * Sub-spans are not timed by the benchmark: they are the jobs inside a span
  * whose `spark.job.description` matches one of [[Trace.subSpans]] — the
  * phase labels IngestPipeline and GraphBundle already set. A sub-span's
  * interval runs from its first job's start to its last job's end.
  */
object Trace {
  val SpanProperty = "perfbench.span"

  /** (parent span, job-description pattern, sub-span suffix). */
  val subSpans: Seq[(String, scala.util.matching.Regex, String)] = Seq(
    ("ingest", "^ingest .*: parse \\+ count$".r, "parse"),
    ("ingest", "^ingest .*: normalize$".r, "normalize"),
    ("ingest", "^ingest .*: versioned parquet$".r, "persist"),
    ("finalize", "^bundle: nodes\\.jsonl$".r, "nodes_jsonl"),
    ("finalize", "^bundle: edges\\.jsonl$".r, "edges_jsonl"),
    ("finalize", "^bundle: qc$".r, "qc"),
    ("finalize", "^bundle: schema\\.json$".r, "schema"))

  /** A metric name as the result line accepts it. */
  val MetricName = "[A-Za-z0-9_.-]+".r

  final case class Interval(start: Long, end: Long) {
    def length: Long = math.max(0L, end - start)
  }

  /** Length of the union of `xs`, each clipped to `within`. */
  def covered(within: Interval, xs: Seq[Interval]): Long = {
    val clipped = xs
      .map(i => Interval(math.max(i.start, within.start), math.min(i.end, within.end)))
      .filter(_.length > 0).sortBy(_.start)
    var total = 0L
    var cur: Option[Interval] = None
    clipped.foreach { i =>
      cur match {
        case Some(c) if i.start <= c.end => cur = Some(Interval(c.start, math.max(c.end, i.end)))
        case Some(c) => total += c.length; cur = Some(i)
        case None => cur = Some(i)
      }
    }
    total + cur.map(_.length).getOrElse(0L)
  }

  /** Self time of a span: its duration minus the part its children cover. */
  def selfTime(span: Interval, children: Seq[Interval]): Long =
    span.length - covered(span, children)

  /** One finished span instance. Times in ms since the epoch, the clock
    * listener events use. */
  final case class SpanRec(id: Int, name: String, interval: Interval, gcMs: Long)

  /** Task totals of one job. */
  final class JobRec(val jobId: Int, val spanId: Option[Int], val description: Option[String],
                     val start: Long) {
    var end: Long = start
    var cpuNs = 0L
    var runMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  /** Per-span-name metrics of one traced iteration: `<span>.wall_s` (self),
    * `.cpu_s`, `.jobs`, `.shuffle_mb`, `.spill_mb` for spans and sub-spans
    * (jobs of a sub-span are not counted in its parent), plus `.gc_s` and
    * `.idle_share` over the whole interval of top-level spans. Instances of
    * one name are summed. */
  def report(spans: Seq[SpanRec], jobs: Seq[JobRec], cores: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    def addJobs(prefix: String, js: Seq[JobRec]): Unit = {
      add(s"$prefix.cpu_s", js.map(_.cpuNs).sum / 1e9)
      add(s"$prefix.jobs", js.size.toDouble)
      add(s"$prefix.shuffle_mb", js.map(_.shuffleWriteBytes).sum / 1e6)
      add(s"$prefix.spill_mb", js.map(_.spillBytes).sum / 1e6)
    }
    val busy = mutable.Map[String, (Long, Long)]() // name → (task busy ms, span ms)
    spans.foreach { s =>
      val mine = jobs.filter(_.spanId.contains(s.id))
      val bySub = mine.groupBy { j =>
        subSpans.collectFirst {
          case (parent, re, sub) if parent == s.name && j.description.exists(d => re.matches(d)) => sub
        }
      }
      val subIntervals = bySub.collect { case (Some(sub), js) =>
        val iv = Interval(js.map(_.start).min, js.map(_.end).max)
        add(s"${s.name}.$sub.wall_s", covered(s.interval, Seq(iv)) / 1e3)
        addJobs(s"${s.name}.$sub", js)
        iv
      }.toSeq
      add(s"${s.name}.wall_s", selfTime(s.interval, subIntervals) / 1e3)
      addJobs(s.name, bySub.getOrElse(None, Nil))
      add(s"${s.name}.gc_s", s.gcMs / 1e3)
      val (b, d) = busy.getOrElse(s.name, (0L, 0L))
      busy(s.name) = (b + mine.map(_.runMs).sum, d + s.interval.length)
    }
    busy.foreach { case (name, (b, d)) =>
      out(s"$name.idle_share") = if (d == 0) 0.0 else 1.0 - b.toDouble / (d.toDouble * cores)
    }
    out.toMap
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Maps jobs, stages and tasks to the span active when the job was
  * submitted. Registered only for traced iterations. */
final class StageListener extends SparkListener {
  import Trace._
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = mutable.Map[Int, JobRec]()
  private val sqlStarts = mutable.ArrayBuffer[(Long, Boolean)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
    val rec = new JobRec(e.jobId, span, desc, e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageToJob.contains(s)) stageToJob(s) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageToJob.get(e.stageId).foreach { j =>
      j.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      j.runMs += m.executorRunTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // Components' contraction rounds each run one bit_xor convergence check
    case s: SparkListenerSQLExecutionStart =>
      synchronized { sqlStarts += ((s.time, s.physicalPlanDescription.contains("bit_xor("))) }
    case _ =>
  }

  /** Jobs and SQL execution starts (time, is a contraction-round check)
    * seen so far; clears the buffers. */
  def drain(): (Seq[JobRec], Seq[(Long, Boolean)]) = synchronized {
    val out = (jobs.values.toSeq, sqlStarts.toSeq)
    jobs.clear(); stageToJob.clear(); sqlStarts.clear()
    out
  }
}

/** Opens spans. The untraced instance only runs the body, so end-to-end
  * iterations carry no tracing. */
class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer[Trace.SpanRec]()
  private var next = 0
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()

  def enabled: Boolean = true

  def span[T](name: String)(body: => T): T = {
    val id = next; next += 1
    val prev = sc.getLocalProperty(Trace.SpanProperty)
    sc.setLocalProperty(Trace.SpanProperty, id.toString)
    val gc0 = Trace.gcMillis()
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      done += Trace.SpanRec(id, name, Trace.Interval(t0, t1), Trace.gcMillis() - gc0)
      sc.setLocalProperty(Trace.SpanProperty, prev)
    }
  }

  def count(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v

  def spans: Seq[Trace.SpanRec] = done.toSeq
}

object Tracer {
  def off(sc: SparkContext): Tracer = new Tracer(sc) {
    override def enabled: Boolean = false
    override def span[T](name: String)(body: => T): T = body
    override def count(name: String, v: Double): Unit = ()
  }
}
