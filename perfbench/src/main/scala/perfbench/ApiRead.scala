package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.api.OracleApi
import graft.oracle.{EntryRow, EventFilter, EventRow, EventStore, Oracle, Schnorr}
import graft.sql.AdHoc
import graft.store.WeatherStore
import graft.store.WeatherStore.Kinds

/** api-read: participant journeys against a read-only store.
  *
  * The generator writes the snapshot store in the layout the service leaves
  * (each closed day one maintained file per kind, today one file per
  * hourly snapshot). Set-up inserts the events and their entries and runs
  * one ETL pass at the store's clock, so the events whose signing date has
  * passed are signed. `Main.boot` then serves it.
  *
  * One op is a journey: list events, get one event, its stations'
  * forecasts and observations over its observation day, one `POST /query`.
  * Journeys cycle over the events; a round is one journey per event. */
final class ApiRead(spark: SparkSession, a: Harness.Args, out: Harness.Outcome,
    trace: Option[Trace]) {

  private val Routes = Seq("events_list", "event_get", "forecasts", "observations", "query")
  private val root = a.work.resolve("api")
  private val weatherDir = a.inputs.resolve("store").toString
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def sqlTs(iso: String) = iso.replace("T", " ").stripSuffix("Z")

  private case class Journey(eventId: String, locations: Seq[String], start: String, end: String) {
    def stations: String = locations.mkString(",")
    def sql: String =
      "SELECT station_id, count(*) AS n, min(temperature_value) AS temp_low, " +
        "max(temperature_value) AS temp_high, max(wind_speed) AS wind_speed " +
        s"FROM observations WHERE station_id IN (${locations.map(s => s"'$s'").mkString(", ")}) " +
        s"AND generated_at >= TIMESTAMP '${sqlTs(start)}' AND generated_at < TIMESTAMP '${sqlTs(end)}' " +
        "GROUP BY station_id ORDER BY station_id"
    /** (route, path, POST body) in `Routes` order. */
    def requests: Seq[(String, String, Option[String])] = Routes.zip(Seq(
      ("/oracle/events", None),
      (s"/oracle/events/$eventId", None),
      (s"/stations/forecasts?start=$start&end=$end&station_ids=$stations", None),
      (s"/stations/observations?start=$start&end=$end&station_ids=$stations", None),
      ("/query", Some(JsonMethods.compact(JsonMethods.render(
        JObject("sql" -> JString(sql), "limit" -> JInt(1000)))))))).map {
      case (route, (path, body)) => (route, path, body) }
  }

  def run(): Unit = {
    val spec = JsonMethods.parse(new String(
      Files.readAllBytes(a.inputs.resolve("events.json")), "UTF-8"))
    val now = Timestamp.from(Instant.parse((spec \ "now").asInstanceOf[JString].s))
    val events = (spec \ "events").asInstanceOf[JArray].arr
    val key = Keys.write(a.work.resolve("api-key.hex"), a.seed)
    build(now, events, key)
    Harness.log("store built")

    val cfg = graft.Main.Config(port = 0, weatherDir = weatherDir,
      eventDir = s"$root/events", keyFile = a.work.resolve("api-key.hex").toString)
    val (server, port, _) = graft.Main.boot(spark, cfg, clock = () => now)
    val direct = new OracleApi(spark, new WeatherStore(spark, cfg.weatherDir),
      new EventStore(spark, cfg.eventDir), key, now = () => now)
    try {
      val journeys = events.map { e =>
        val day = Instant.parse((e \ "observation_date").asInstanceOf[JString].s)
        Journey((e \ "id").asInstanceOf[JString].s,
          (e \ "locations").asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s),
          day.toString, day.plusSeconds(86400).toString)
      }.toVector
      val first = new java.util.concurrent.ConcurrentHashMap[String, String]()

      def journey(j: Int, traced: Boolean): Unit = {
        val jn = journeys(j)
        val t0 = System.nanoTime()
        val problems = mutable.ArrayBuffer.empty[String]
        jn.requests.foreach { case (route, path, body) =>
          val r0 = System.nanoTime()
          try {
            val rsp = send(port, path, body)
            if (traced) trace.get.spans.add(Span(trace.get.current, s"api.$route", "op", r0, System.nanoTime()))
            if (rsp.statusCode() / 100 != 2) problems += s"$route HTTP ${rsp.statusCode()}: ${rsp.body().take(200)}"
            else {
              val prev = first.putIfAbsent(s"$j/$route", rsp.body())
              if (prev != null && prev != rsp.body()) problems += s"${Harness.WrongAnswer} $route answer changed between repeats"
            }
          } catch { case e: Exception => problems += s"$route ${e.getClass.getSimpleName}: ${e.getMessage}" }
        }
        val t1 = System.nanoTime()
        out.op((t1 - t0) / 1e6, traced)
        if (problems.nonEmpty) out.fail(s"journey $j: ${problems.mkString("; ")}")
        if (traced) {
          trace.get.spans.add(Span(trace.get.current, "op", "", t0, t1))
          layers(jn, direct, trace.get)
        }
      }

      // warm-up: one client, one round
      Harness.log("warming")
      val warmS = Harness.warm(1) { journeys.indices.foreach(j => journey(j, traced = false)) }
      out.opMs.clear(); out.failures.clear(); out.attempted = 0
      out.extra += "warmup_s" -> JArray(warmS.toList.map(JDouble(_)))
      Harness.log(s"warm rounds ${warmS.map(x => f"$x%.2f").mkString(" ")}")

      val clients = if (trace.isDefined) 1 else math.max(1, math.min(a.cores, 2))
      out.extra += "clients" -> JInt(clients)
      val opId = new java.util.concurrent.atomic.AtomicLong()
      Harness.measure(a, out, trace) { traced =>
        val next = new java.util.concurrent.atomic.AtomicInteger()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
        try {
          (0 until clients).map { _ =>
            pool.submit(new Runnable {
              def run(): Unit = {
                var j = next.getAndIncrement()
                while (j < journeys.size) {
                  if (traced) trace.get.current = opId.incrementAndGet()
                  journey(j, traced)
                  j = next.getAndIncrement()
                }
              }
            })
          }.foreach(_.get())
        } finally pool.shutdown()
        if (traced) trace.get.current = -1L
      }
      out.extra += "answers" -> JObject(first.asScala.toList.sortBy(_._1).map {
        case (k, v) => k -> JsonMethods.parse(v) })
      out.extra += "journeys" -> JArray(journeys.toList.map(j => JObject(
        "event_id" -> JString(j.eventId), "start" -> JString(j.start), "end" -> JString(j.end),
        "stations" -> JArray(j.locations.toList.map(JString(_))), "sql" -> JString(j.sql))))
      trace.foreach { t =>
        Harness.commonLayers(out, t, out.opMs.toSeq)
        Routes.foreach(r => out.layers += s"api.${r}_ms" -> t.mean(s"api.$r"))
        val httpMs = Routes.map(r => t.total(s"api.$r")).sum
        val directMs = Routes.map(r => t.total(s"direct.$r")).sum
        out.layers += "api.transport_ms" ->
          (httpMs - directMs) / math.max(1, t.n("direct.query") * Routes.size)
        out.layers += "sql.views_ms" -> t.mean("sql.views")
        out.layers += "sql.guard_ms" -> t.mean("sql.guard")
        out.layers += "store.read_ms" -> t.mean("store.read")
        out.layers += "oracle.event_read_ms" -> t.mean("oracle.event_read")
      }
      out.layers += "store.files" -> Harness.dataFiles(a.inputs.resolve("store")).size
      out.layers += "oracle.files" -> Harness.dataFiles(root.resolve("events")).size
    } finally server.stop()
  }

  /** The same requests as direct OracleApi calls, plus the calls into the
    * store and SQL layers those routes make, each as its own span. Run
    * after the op, outside its time. */
  private def layers(jn: Journey, api: OracleApi, t: Trace): Unit = {
    val s = Some(Timestamp.from(Instant.parse(jn.start)))
    val e = Some(Timestamp.from(Instant.parse(jn.end)))
    t.span("direct.events_list")(api.listEvents(None, None))
    t.span("direct.event_get")(api.getEvent(jn.eventId))
    t.span("direct.forecasts")(api.forecastsJson(s, e, jn.locations))
    t.span("direct.observations")(api.observationsJson(s, e, jn.locations))
    t.span("direct.query")(api.queryJson(jn.sql, Some(1000)))
    t.span("store.read") {
      api.weatherStore.read(Kinds.Forecasts, s.get, e.get)
      api.weatherStore.read(Kinds.Observations, s.get, e.get)
    }
    val views = t.span("sql.views") {
      Seq(Kinds.Observations, Kinds.Forecasts).flatMap(k => api.weatherStore.readAll(k).map(k -> _)).toMap
    }
    AdHoc.registerViews(spark, views)
    t.span("sql.guard")(AdHoc.run(spark, jn.sql))
    t.span("oracle.event_read")(api.eventStore.listEvents(EventFilter()).collect())
  }

  private def send(port: Int, path: String, body: Option[String]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    http.send(body.fold(b.GET())(s => b.header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(s))).build(), HttpResponse.BodyHandlers.ofString())
  }

  /** Insert the generator's events and entries and sign the due ones. The
    * snapshots are already in the store layout the generator wrote. Events
    * go in as one batch, with the nonce and announcement `createEvent`
    * derives, so set-up pays one write instead of one create per event. */
  private def build(now: Timestamp, events: List[JValue], key: Array[Byte]): Unit = {
    val store = new WeatherStore(spark, weatherDir)
    val eventStore = new EventStore(spark, s"$root/events")
    val npub = graft.api.NostrAuth.npubOf(Keys.coordinator(a.seed))
    def ts(v: JValue) = Timestamp.from(Instant.parse(v.asInstanceOf[JString].s))
    val choices = mutable.ArrayBuffer.empty[(String, String, Option[String], Option[String], Option[String])]
    val entries = mutable.ArrayBuffer.empty[EntryRow]
    val rows = events.map { e =>
      val id = (e \ "id").asInstanceOf[JString].s
      (e \ "entries").asInstanceOf[JArray].arr.foreach { en =>
        val entryId = (en \ "id").asInstanceOf[JString].s
        entries += EntryRow(entryId, id, 0L, now, now)
        (en \ "choices").asInstanceOf[JArray].arr.foreach { c =>
          def opt(f: String) = c \ f match { case JString(s) => Some(s); case _ => None }
          choices += ((entryId, (c \ "stations").asInstanceOf[JString].s,
            opt("temp_low"), opt("temp_high"), opt("wind_speed")))
        }
      }
      val nonce = Schnorr.taggedHash("graft/oracle/event-nonce", key ++ id.getBytes("UTF-8"))
      EventRow(id = id, total_allowed_entries = 5, number_of_places_win = 1,
        number_of_values_per_entry = 6, signing_date = ts(e \ "signing_date"),
        observation_date = ts(e \ "observation_date"),
        locations = (e \ "locations").asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s),
        coordinator_pubkey = npub, nonce = Some(nonce),
        event_announcement = Some(OracleApi.announcementBytes(key, nonce, 5, 1)),
        attestation_signature = None, created_at = now, updated_at = now)
    }
    eventStore.insertEvents(rows)
    eventStore.insertEntriesAutoIds(entries.toSeq, choices.toSeq)
    Harness.log("events created")
    val etl = Oracle.runEtl(spark, store, eventStore, key, now)
    out.extra += "setup_signed" -> JInt(etl.signedEventIds.size)
  }
}
