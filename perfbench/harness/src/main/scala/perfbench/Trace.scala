package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder shared by the benchmark's harness and the
  * listeners it attaches to a program JVM through configuration.
  *
  * A span is (name, start, end, parent, request) plus numeric attributes.
  * Spans stay in memory until the run ends; [[dump]] writes them as JSON
  * lines. In a JVM the harness does not drive (an `App` process), the first
  * listener to load registers a shutdown hook that dumps to the file named by
  * the `perfbench.trace.out` system property.
  */
object Trace {
  final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
      parent: String, request: String, attrs: Map[String, Double])

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Wall-clock milliseconds with nanoTime resolution. */
  def nowMs: Double = (System.nanoTime() + epochOffsetNs) / 1e6

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, startMs: Double, endMs: Double, parent: String = "",
      request: String = "", attrs: Map[String, Double] = Map.empty,
      id: Long = nextId()): Span = {
    val s = Span(id, name, startMs, endMs, parent, request, attrs)
    spans.add(s)
    s
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def toJson(s: Span): String = {
    val attrs = s.attrs.map { case (k, v) => s""""${esc(k)}":${num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"name":"${esc(s.name)}","start":${num(s.startMs)},""" +
      s""""end":${num(s.endMs)},"parent":"${esc(s.parent)}","request":"${esc(s.request)}",""" +
      s""""attrs":{$attrs}}"""
  }

  def dump(path: String): Unit = {
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.write(tmp, all.map(toJson).asJava)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  @volatile private var hooked = false

  /** Dump on JVM exit when `perfbench.trace.out` is set (listener JVMs). */
  def dumpAtExit(): Unit = synchronized {
    if (!hooked) {
      hooked = true
      sys.props.get("perfbench.trace.out").foreach { out =>
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          Codegen.record()
          dump(out)
        }))
      }
    }
  }
}

/** Codegen compile totals from Spark's `CodegenMetrics` histogram. The
  * histogram keeps a sample reservoir, so compile time is its mean times the
  * compile count. */
object Codegen {
  private def hist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  def snapshot(): (Long, Double) = {
    val h = hist
    (h.getCount, h.getSnapshot.getMean)
  }

  def record(): Unit = {
    val (n, mean) = snapshot()
    Trace.record("codegen", Trace.nowMs, Trace.nowMs,
      attrs = Map("compile_count" -> n.toDouble, "compile_ms" -> n * mean))
  }
}

/** Job spans with their task totals. A job's parent is the harness span
  * named in the `perfbench.span` local property, or the streaming batch
  * (`<queryId>/<batchId>`) that submitted it. */
class JobTrace extends SparkListener {
  Trace.dumpAtExit()

  private case class Open(startMs: Double, parent: String, request: String,
      acc: scala.collection.mutable.Map[String, Double])
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val parent = prop("perfbench.span").orElse(
      for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
        yield s"$q/$b").getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    open.put(e.jobId, Open(Trace.nowMs, parent, prop("perfbench.request").getOrElse(""),
      scala.collection.mutable.Map("tasks" -> 0.0)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).flatMap(j => Option(open.get(j))).foreach { o =>
      o.acc.synchronized {
        def add(k: String, v: Double): Unit = o.acc(k) = o.acc.getOrElse(k, 0.0) + v
        add("tasks", 1)
        if (m != null) {
          add("task_cpu_ms", m.executorCpuTime / 1e6)
          add("task_run_ms", m.executorRunTime.toDouble)
          add("gc_ms", m.jvmGCTime.toDouble)
          add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { o =>
      Trace.record("job", o.startMs, Trace.nowMs, o.parent, o.request,
        o.acc.synchronized(o.acc.toMap))
    }
}

/** Every batch query execution: its scan sizes, and its catalyst phases
  * (from `QueryExecution.tracker`) as spans of their own. */
class QueryTrace extends QueryExecutionListener {
  Trace.dumpAtExit()

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val start = qe.tracker.phases.values.map(_.startTimeMs).minOption.map(_.toDouble)
      .getOrElse(Trace.nowMs)
    val scans = nodes(qe.executedPlan).collect { case f: FileSourceScanExec => f }
    def metric(f: FileSourceScanExec, k: String) = f.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    Trace.record("query", start, start + durationNs / 1e6, attrs = Map(
      "scan_files" -> scans.map(metric(_, "numFiles")).sum,
      "scan_bytes" -> scans.map(metric(_, "filesSize")).sum))
    qe.tracker.phases.foreach { case (phase, p) =>
      Trace.record(s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One span per micro-batch, with its progress phases as attributes. */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  Trace.dumpAtExit()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val phases = p.durationMs.asScala.map { case (k, v) => s"$k" -> v.doubleValue() }
    Trace.record("batch", start, start + p.batchDuration, parent = p.id.toString,
      request = s"${p.id}/${p.batchId}",
      attrs = phases.toMap ++ Map(
        "batch_id" -> p.batchId.toDouble,
        "input_rows" -> p.numInputRows.toDouble,
        // the source this batch read: 1 = the program's own sink, else the feed
        "reads_sink" -> (if (p.sources.exists(_.description.contains("/positions]"))) 1.0 else 0.0)))
  }
}
