package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** query-surface: oracle-gated queries of `SparkEntry.queries`, one at a
  * time, each into the `noop` sink after `clearCache()`. One op is one
  * query run; a round is every query of the subset once, in an order the
  * seed sets. The tables are the generator's fixed sf0.01 set.
  *
  * The first run of each query writes its answer as parquet instead, for
  * `run.py` to compare with DuckDB running the query's oracle SQL on the
  * same generated tables. Warm rounds follow until a round stops getting
  * faster. */
final class QuerySurface(spark: SparkSession, a: Harness.Args, out: Harness.Outcome,
    trace: Option[Trace]) {

  private val dir = a.inputs.toString

  def run(): Unit = {
    // the seed sets the order the queries run in, the same in every round
    val names = new scala.util.Random(a.seed).shuffle(QuerySurface.Subset)
    val answers = a.work.resolve("answers")
    Files.createDirectories(answers)
    Files.write(answers.resolve("oracle_sql.json"), QuerySurface.oracleJson.getBytes("UTF-8"))

    val broken = scala.collection.mutable.Set.empty[String]
    names.foreach { n =>
      spark.catalog.clearCache()
      try graft.SparkEntry.queries(n)(spark, dir).write.parquet(answers.resolve(n).toString)
      catch { case e: Exception => broken += n; out.fail(s"$n warm-in: ${e.getMessage}") }
    }

    def once(n: String, traced: Boolean, opId: Long): Unit = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Exception => out.fail(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val t1 = System.nanoTime()
      out.op((t1 - t0) / 1e6, traced)
      if (traced) trace.get.spans.add(Span(opId, "op", "", t0, t1))
    }

    Harness.log("first runs done, answers written")
    val warmS = Harness.warm(1)(names.foreach(n => once(n, traced = false, -1)))
    Harness.log(s"warm rounds ${warmS.map(x => f"$x%.2f").mkString(" ")}")
    out.opMs.clear(); out.attempted = 0
    out.failures.clear(); broken.foreach(n => out.fail(s"$n warm-in failed"))
    out.extra += "warmup_s" -> JArray(warmS.toList.map(JDouble(_)))
    out.extra += "queries" -> JArray(names.toList.map(JString(_)))

    var opId = 0L
    Harness.measure(a, out, trace) { traced =>
      names.foreach { n =>
        opId += 1
        if (traced) trace.get.current = opId
        once(n, traced, opId)
      }
      if (traced) trace.get.current = -1L
    }
    trace.foreach(t => Harness.commonLayers(out, t, out.opMs.toSeq))
  }
}

object QuerySurface {
  def oracleJson: String = {
    val oracle = graft.SparkEntry.oracleSql
    val missing = Subset.filterNot(oracle.contains)
    require(missing.isEmpty, s"queries without oracle SQL: ${missing.mkString(", ")}")
    JsonMethods.compact(JsonMethods.render(JObject(Subset.toList.map(n => n -> JString(oracle(n))))))
  }

  /** The z-order, percentile and connected-components queries the planned
    * partition-sizing and single-implementation work changes, the fastest
    * query of the relational, text and vector families, one weather gate,
    * the ad-hoc SQL gate and one streaming gate. Cut to what one run's time
    * allows; the README lists what was left out and why. */
  val Subset: Seq[String] = Seq(
    "q16_sort_limit", "t5_profile", "v3_vector_norms",
    "q42_zorder", "q52_percentile_auto", "d13b_cc_hash_chain",
    "w2_forecast_daily", "q21_adhoc_sql", "w12b_interval_join_stream")
}
