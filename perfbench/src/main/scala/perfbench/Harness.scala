package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JVM side of the benchmark. `run.py` generates the inputs, then starts
  * this main once per run:
  *
  * {{{
  *   perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <inputs dir>
  *                     <work dir> <cores>
  * }}}
  *
  * It sets the workload up, warms it, measures whole rounds of ops for at
  * least `seconds`, and writes `result.json` into the work dir: each op's
  * time, the ops that failed and why, set-up time, peak RSS, the answers
  * `run.py` checks against DuckDB, and in a traced run the per-layer
  * metrics and the spans. */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      inputs: Path, work: Path, cores: Int)

  /** What one workload's measured phase produced. */
  final class Outcome {
    val opMs = ArrayBuffer.empty[Double]          // untraced measured ops, failed ones included
    var attempted = 0                             // every measured op, traced ones included
    val failures = ArrayBuffer.empty[String]      // one line per failed op
    var firstOpEpochMs = 0L
    var wallS = 0.0
    val extra = ArrayBuffer.empty[JField]         // workload-specific payload for run.py
    val layers = ArrayBuffer.empty[(String, Double)]
    def fail(why: String): Unit = synchronized { failures += why }
    def op(ms: Double, traced: Boolean): Unit = synchronized {
      attempted += 1
      if (!traced) opMs += ms
    }
  }

  def main(argv: Array[String]): Unit = {
    if (argv(0) == "oracle-sql") {             // the query subset's oracle SQL, for checks.py refs
      Files.write(Paths.get(argv(1)), QuerySurface.oracleJson.getBytes("UTF-8"))
      return
    }
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)), Paths.get(argv(5)), argv(6).toInt)
    val spark = graft.Sessions.local(a.cores.toString, s"perfbench-${a.workload}")
    val out = new Outcome
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val code = try {
      a.workload match {
        case "api-read" => new ApiRead(spark, a, out, trace).run()
        case "ingest-hourly" => new IngestHourly(spark, a, out, trace).run()
        case "query-surface" => new QuerySurface(spark, a, out, trace).run()
        case w => sys.error(s"unknown workload $w")
      }
      write(a, out, trace)
      0
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    finally spark.stop()
    // exit explicitly: ApiServer.stop leaves its request pool's threads
    // alive, which would keep the JVM from ending on its own
    System.exit(code)
  }

  /** Marks a failure as a wrong answer (the run's `correct` turns false),
    * as opposed to an error or a non-2xx status. */
  val WrongAnswer = "wrong answer:"

  private val born = System.nanoTime()
  /** Progress line in the run's jvm.log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Warm-up rounds, each timed (the warm-up evidence in result.json). */
  def warm(rounds: Int)(round: => Unit): Seq[Double] =
    (1 to rounds).map { _ =>
      val t0 = System.nanoTime(); round
      (System.nanoTime() - t0) / 1e9
    }

  private def write(a: Args, out: Outcome, trace: Option[Trace]): Unit = {
    val fields = ArrayBuffer[JField](
      "workload" -> JString(a.workload),
      "op_ms" -> JArray(out.opMs.toList.map(JDouble(_))),
      "attempted" -> JInt(out.attempted),
      "failures" -> JArray(out.failures.toList.map(JString(_))),
      "first_op_epoch_ms" -> JLong(out.firstOpEpochMs),
      "wall_s" -> JDouble(out.wallS),
      "peak_rss_mb" -> JDouble(Proc.peakRssMb),
      "layers" -> JObject(out.layers.toList.map { case (k, v) => k -> JDouble(v) }))
    fields ++= out.extra
    trace.foreach { t =>
      fields += "spans" -> JArray(t.spans.asScala.toList.sortBy(_.start).map(s => JObject(
        "op" -> JLong(s.op), "name" -> JString(s.name), "parent" -> JString(s.parent),
        "start_ns" -> JLong(s.start), "end_ns" -> JLong(s.end))))
    }
    Files.write(a.work.resolve("result.json"),
      JsonMethods.compact(JsonMethods.render(JObject(fields.toList))).getBytes("UTF-8"))
  }

  /** Measured phase shared by all workloads: whole rounds (one call of
    * `round` each) until `seconds` have passed, so every run attempts the
    * same ops in the same proportions. In a traced run rounds alternate
    * untraced / traced, so the same process gives both op medians. */
  def measure(a: Args, out: Outcome, trace: Option[Trace])(round: Boolean => Unit): Unit = {
    val t0 = System.nanoTime()
    out.firstOpEpochMs = System.currentTimeMillis()
    val cpu0 = Proc.cpuNs; val gc0 = Proc.gcMs
    var i = 0
    // a traced run needs at least one untraced and one traced round
    while (i < (if (trace.isDefined) 2 else 1) || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val traced = trace.isDefined && i % 2 == 1
      if (traced) trace.get.attach()
      try round(traced) finally if (traced) trace.get.detach()
      i += 1
    }
    out.wallS = (System.nanoTime() - t0) / 1e9
    trace.foreach { _ =>
      out.layers += "proc.cpu_s" -> (Proc.cpuNs - cpu0) / 1e9
      out.layers += "proc.wall_s" -> out.wallS
      out.layers += "proc.gc_ms" -> (Proc.gcMs - gc0).toDouble
    }
  }

  /** Per-op layer aggregates every workload's traced run reports: plan
    * phases, Spark execution counters and driver gaps, over the traced
    * ops (`opSpans`), plus the traced-vs-untraced op medians. */
  def commonLayers(out: Outcome, t: Trace, untracedMs: Seq[Double]): Unit = {
    val m = t.perOp
    val n = math.max(m("ops"), 1.0)
    def per(c: String, scale: Double = 1.0) = m.getOrElse(c, 0.0) * scale / n
    out.layers ++= Seq(
      "plan.analysis_ms_per_op" -> per("plan.analysis_us", 1e-3),
      "plan.optimization_ms_per_op" -> per("plan.optimization_us", 1e-3),
      "plan.planning_ms_per_op" -> per("plan.planning_us", 1e-3),
      "plan.queries_per_op" -> per("plan.queries"),
      "exec.jobs_per_op" -> per("exec.jobs"),
      "exec.stages_per_op" -> per("exec.stages"),
      "exec.tasks_per_op" -> per("exec.tasks"),
      "exec.task_ms_per_op" -> per("exec.task_ms"),
      "exec.job_ms_per_op" -> per("exec.job_ms"),
      "exec.driver_gap_ms_per_op" -> per("exec.driver_gap_ms"),
      "exec.shuffle_write_bytes_per_op" -> per("exec.shuffle_write_bytes"),
      "exec.shuffle_read_bytes_per_op" -> per("exec.shuffle_read_bytes"),
      "exec.spill_bytes_per_op" -> per("exec.spill_bytes"),
      "store.files_scanned_per_op" -> per("store.files_scanned"))
    val traced = quantile(t.spans.asScala.filter(_.name == "op").map(_.ms).toSeq, 0.5)
    val untraced = quantile(untracedMs, 0.5)
    out.layers ++= Seq("trace.op_p50_ms" -> traced, "trace.untraced_op_p50_ms" -> untraced,
      "trace.overhead_ms" -> (traced - untraced))
  }

  /** Data files (not dot/underscore side files) under `root`. */
  def dataFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        root.relativize(p).iterator().asScala.forall { c =>
          val n = c.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toList finally s.close()
    }

  def bytesUnder(root: Path): Long = dataFiles(root).map(Files.size).sum
}
