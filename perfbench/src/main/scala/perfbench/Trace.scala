package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: spans of one op share `op`; `parent` names the
  * span that caused it ("" for the op itself). Times are System.nanoTime. */
final case class Span(op: Long, name: String, parent: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** The traced run's recorder. Everything lives in memory until the run
  * ends. `attach` registers a SparkListener and a QueryExecutionListener
  * on the session; `detach` removes both, so untraced rounds of the same
  * process run with no listener installed.
  *
  * Listener events arrive asynchronously, so they are kept with the
  * engine's own timestamps and charged to the op whose span covers them
  * when the run ends (`perOp`). Traced rounds run one client, so op spans
  * never overlap. */
final class Trace(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var current: Long = -1L
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  /** (epoch ms, counter, amount) as the engine reported them. */
  private val events = new ConcurrentLinkedQueue[(Long, String, Long)]()
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def add(name: String, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(v)
  def count(name: String): Long = Option(counters.get(name)).map(_.get).getOrElse(0L)
  private def at(ms: Long, name: String, v: Long): Unit = events.add((ms, name, v))

  /** Time `f` as a span named `name` under `parent` in the current op. */
  def span[T](name: String, parent: String = "op")(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally spans.add(Span(current, name, parent, t0, System.nanoTime()))
  }

  private val sparkListener = new SparkListener {
    override def onJobEnd(e: SparkListenerJobEnd): Unit = at(e.time, "exec.jobs_end", e.jobId)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      at(e.time, "exec.jobs", 1); at(e.time, "exec.stages", e.stageInfos.size)
      at(e.time, "exec.job_start", e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = e.taskInfo.finishTime
      val m = e.taskMetrics
      at(t, "exec.tasks", 1)
      if (m != null) {
        at(t, "exec.task_ms", m.executorRunTime)
        at(t, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        at(t, "exec.shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        at(t, "exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val t = phases.get("planning").orElse(phases.values.headOption)
        .map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      at(t, "plan.queries", 1)
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => at(t, s"plan.${p}_us", s.durationMs * 1000))
      }
      qe.executedPlan.foreach {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").foreach(m => at(t, "store.files_scanned", m.value))
        case _ =>
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    // events reach listeners asynchronously; let the bus deliver the last
    // op's before the listeners go
    Thread.sleep(250)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  private def ops: Seq[Span] = spans.asScala.filter(_.name == "op").toSeq.sortBy(_.start)

  /** Engine counters summed over the traced ops' spans. */
  def perOp: Map[String, Double] = {
    val windows = ops.map(o => (epochMs(o.start) - 1, epochMs(o.end) + 1))
    def inOp(ms: Long) = windows.exists { case (a, b) => ms >= a && ms <= b }
    val evs = events.asScala.toSeq.filter(e => inOp(e._1))
    val sums = evs.filterNot(e => e._2 == "exec.job_start" || e._2 == "exec.jobs_end")
      .groupMapReduce(_._2)(_._3.toDouble)(_ + _)
    // job intervals from matched start/end events
    val starts = events.asScala.collect { case (t, "exec.job_start", id) => id -> t }.toMap
    val jobs = events.asScala.collect { case (t, "exec.jobs_end", id) if starts.contains(id) =>
      (starts(id).toDouble, t.toDouble) }.toSeq.filter(j => inOp(j._1.toLong))
    val jobMs = jobs.map(j => j._2 - j._1).sum
    // time inside op spans that no job covers: the driver's own work
    val gap = ops.map { o =>
      val (s, e) = (epochMs(o.start), epochMs(o.end))
      var covered = 0.0; var upTo = s
      jobs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(j => j._2 > j._1)
        .sortBy(_._1).foreach { case (a, b) =>
          val from = math.max(a, upTo)
          if (b > from) { covered += b - from; upTo = b }
        }
      (e - s) - covered
    }.sum
    sums ++ Map("exec.job_ms" -> jobMs, "exec.driver_gap_ms" -> gap, "ops" -> ops.size.toDouble)
  }

  /** Summed span time by name. */
  def total(name: String): Double = spans.asScala.filter(_.name == name).map(_.ms).sum
  def n(name: String): Int = spans.asScala.count(_.name == name)
  def mean(name: String): Double = if (n(name) == 0) 0.0 else total(name) / n(name)
}

/** Process counters read from the JVM's MXBeans. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
