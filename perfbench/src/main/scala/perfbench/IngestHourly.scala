package perfbench

import java.io.ByteArrayOutputStream
import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.api.NostrAuth
import graft.ingest.{DwmlFlatten, Dwml, Fetch, XmlSources}
import graft.ingest.Fetch.{HttpFetcher, StationCoord, TokenBucket}
import graft.oracle.{EventStore, Oracle}
import graft.store.WeatherStore
import graft.store.WeatherStore.Kinds

/** ingest-hourly: one op is one logical hour of the service's write side.
  *
  * Each op first sends the hour's coordinator writes (one event signed
  * half an hour later, one entry) through the NIP-98-authenticated
  * routes, then runs `run(1)` of `Main.boot` — one ingest tick against
  * stub NOAA upstreams served from this process, at the clock this
  * workload sets. The clock starts at 22:00 UTC (the warm-up op) and
  * advances one hour per op; the second measured op is the first of a new
  * UTC day, so the store maintains the closed day inside that tick. A
  * round is three ops. */
final class IngestHourly(spark: SparkSession, a: Harness.Args, out: Harness.Outcome,
    trace: Option[Trace]) {

  val Stations = 30
  val SlotsPerStation = 57                       // 3-hour slots over a week, inclusive
  val Chunks = (Stations + 49) / 50
  private val t0 = Instant.parse("2024-08-12T22:00:00Z")
  @volatile private var clock: Timestamp = Timestamp.from(t0)
  private val served = new AtomicInteger()
  private val root = a.work.resolve("ingest")
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** `PERFBENCH_WRONG` names a check to hand a deliberately wrong answer. */
  private val Wrong = sys.env.getOrElse("PERFBENCH_WRONG", "")
  private val WrongAnswer = Harness.WrongAnswer

  private case class St(id: String, lat: Double, lon: Double, state: String)
  private val states = Seq("MN", "WI", "IA", "IL", "OH", "TX", "CA", "WA", "NY", "CO")
  private val stations: Vector[St] = {
    val r = new java.util.Random(a.seed)
    (0 until Stations).map { i =>
      St(f"K$i%03d", 25 + i * 0.37 + r.nextInt(30) / 100.0,
        -120 + i * 0.61 + r.nextInt(50) / 100.0, states(i % states.size))
    }.toVector
  }

  private def hourOf(ts: Timestamp): Long = (ts.getTime - t0.toEpochMilli) / 3600000L
  private def rnd(hour: Long, i: Int, k: Int): java.util.Random =
    new java.util.Random(((a.seed * 31 + hour) * 1009 + i) * 131 + k)

  // ------------------------------------------------------- stub upstreams

  private def gzip(s: String): Array[Byte] = {
    val raw = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(raw)
    gz.write(s.getBytes("UTF-8")); gz.close()
    raw.toByteArray
  }

  private def f2(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", d: java.lang.Double)

  private lazy val stationsXml = gzip(stations.map { s =>
    s"<Station><station_id>${s.id}</station_id><site>Site ${s.id}</site>" +
      s"<latitude>${f2(s.lat)}</latitude><longitude>${f2(s.lon)}</longitude>" +
      s"<country>US</country><state>${s.state}</state></Station>"
  }.mkString("<response><data>", "\n", "</data></response>"))

  private def metarsXml(now: Timestamp): Array[Byte] = {
    val h = hourOf(now)
    val obs = graft.api.OracleApi.fmt(new Timestamp(now.getTime - 10 * 60000L))
    gzip(stations.zipWithIndex.map { case (s, i) =>
      val r = rnd(h, i, 0)
      s"<METAR><station_id>${s.id}</station_id><observation_time>$obs</observation_time>" +
        s"<latitude>${f2(s.lat)}</latitude><longitude>${f2(s.lon)}</longitude>" +
        s"<temp_c>${r.nextInt(300) / 10.0}</temp_c><wind_speed_kt>${r.nextInt(30)}</wind_speed_kt></METAR>"
    }.mkString("<response><data>", "\n", "</data></response>"))
  }

  /** The DWML list-point answer for the coordinates in the request. */
  private def dwml(rawQuery: String): Array[Byte] = {
    val q = rawQuery.split("&").map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val begin = Instant.parse(q("begin") + "Z")
    val h = hourOf(Timestamp.from(begin))
    val coords = java.net.URLDecoder.decode(q("listLatLon"), "UTF-8").split(" ").toSeq
    val day0 = begin.atZone(ZoneOffset.UTC).toLocalDate.atStartOfDay(ZoneOffset.UTC).toInstant
    val daily = (0 until 8).map(d => day0.plusSeconds(d * 86400L))
    val threeHourly = (0 until SlotsPerStation).map(k => begin.plusSeconds(k * 10800L))
    def layout(key: String, starts: Seq[Instant]) =
      s"<time-layout><layout-key>$key</layout-key>" +
        starts.map(t => s"<start-valid-time>$t</start-valid-time>").mkString + "</time-layout>"
    val body = coords.zipWithIndex.map { case (c, i) =>
      val Array(lat, lon) = c.split(",")
      val idx = stations.indexWhere(s => f2(s.lat) == lat && f2(s.lon) == lon)
      val r = rnd(h, idx, 1)
      val hi = (0 until 8).map(_ => 60 + r.nextInt(30))
      def values(xs: Seq[Int]) = xs.map(v => s"<value>$v</value>").mkString
      s"<location><location-key>point${i + 1}</location-key>" +
        s"""<point latitude="$lat" longitude="$lon"/></location>""" +
        s"""<parameters applicable-location="point${i + 1}">""" +
        s"""<temperature type="maximum" units="Fahrenheit" time-layout="k-p24h-n8-1">${values(hi)}</temperature>""" +
        s"""<temperature type="minimum" units="Fahrenheit" time-layout="k-p24h-n8-1">${values(hi.map(_ - 20))}</temperature>""" +
        s"""<wind-speed type="sustained" units="knots" time-layout="k-p3h-n57-2">${values(threeHourly.map(_ => r.nextInt(25)))}</wind-speed>""" +
        "</parameters>"
    }
    (s"<dwml><head><product><creation-date>$begin</creation-date></product></head><data>" +
      layout("k-p24h-n8-1", daily) + layout("k-p3h-n57-2", threeHourly) +
      body.mkString + "</data></dwml>").getBytes("UTF-8")
  }

  private def startUpstream(): HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, body: => Array[Byte]): Unit = {
      served.incrementAndGet()
      val b = body
      ex.sendResponseHeaders(200, b.length.toLong); ex.getResponseBody.write(b); ex.close()
    }
    s.createContext("/stations.xml.gz", (ex: HttpExchange) => reply(ex, stationsXml))
    s.createContext("/metars.xml.gz", (ex: HttpExchange) => reply(ex, metarsXml(clock)))
    s.createContext("/forecast", (ex: HttpExchange) => reply(ex, dwml(ex.getRequestURI.getRawQuery)))
    s.setExecutor(upstreamPool)
    s.start()
    s
  }
  private val upstreamPool = java.util.concurrent.Executors.newFixedThreadPool(4)

  // ------------------------------------------------------------------ run

  def run(): Unit = {
    val upstream = startUpstream()
    val base = s"http://127.0.0.1:${upstream.getAddress.getPort}"
    val key = Keys.write(a.work.resolve("ingest-key.hex"), a.seed)
    val coordinator = Keys.coordinator(a.seed)
    val cfg = graft.Main.Config(port = 0, weatherDir = s"$root/weather",
      eventDir = s"$root/events", keyFile = a.work.resolve("ingest-key.hex").toString,
      stationsUrl = s"$base/stations.xml.gz", metarsUrl = s"$base/metars.xml.gz",
      forecastBase = s"$base/forecast", tokenCapacity = 1000000, refillRateSeconds = 1.0,
      cores = a.cores)
    val (server, port, tick) = graft.Main.boot(spark, cfg, clock = () => clock)
    val store = new WeatherStore(spark, cfg.weatherDir)
    val events = new EventStore(spark, cfg.eventDir)
    val created = mutable.ArrayBuffer.empty[(String, Timestamp)]     // (event id, signing date)
    val ticksPerDay = mutable.Map.empty[java.time.LocalDate, Int].withDefaultValue(0)
    var k = 0L
    var signed = 0L

    def post(path: String, body: JValue): HttpResponse[String] = {
      val url = s"http://127.0.0.1:$port$path"
      val auth = NostrAuth.authHeader(coordinator, "POST", url, System.currentTimeMillis() / 1000)
      http.send(HttpRequest.newBuilder(URI.create(url)).header("Authorization", auth)
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(JsonMethods.compact(JsonMethods.render(body))))
        .build(), HttpResponse.BodyHandlers.ofString())
    }

    def op(traced: Boolean): Unit = {
      val now = Timestamp.from(t0.plusSeconds(k * 3600))
      clock = now
      val today = WeatherStore.toUtcDate(now)
      val midnight = ticksPerDay.nonEmpty && !ticksPerDay.contains(today)
      val t = trace.filter(_ => traced)
      if (midnight && trace.isDefined) {
        // traced runs time the closed day's maintenance on its own, so
        // the tick after it finds nothing left to maintain
        trace.get.span("store.maintain", "")(
          store.datesNeedingMaintenance(today).foreach(d => store.maintain(d)))
      }
      val r = new java.util.Random(a.seed * 7919 + k)
      val locations = r.ints(0, Stations).distinct().limit(4).toArray.toSeq.map(stations(_).id).sorted
      val eventId = Keys.uuid7(now.toInstant, a.seed, k * 3)
      val signing = new Timestamp(now.getTime + 30 * 60000L)
      val dayStart = today.atStartOfDay(ZoneOffset.UTC).toInstant
      val event = JObject("id" -> JString(eventId),
        "signing_date" -> JString(graft.api.OracleApi.fmt(signing)),
        "observation_date" -> JString(dayStart.toString),
        "locations" -> JArray(locations.toList.map(JString(_))),
        "number_of_values_per_entry" -> JInt(6), "total_allowed_entries" -> JInt(5),
        "number_of_places_win" -> JInt(1))
      val entry = JObject("id" -> JString(Keys.uuid7(now.toInstant.plusMillis(1), a.seed, k * 3 + 1)),
        "event_id" -> JString(eventId),
        "expected_observations" -> JArray(locations.take(2).toList.map { st =>
          JObject("stations" -> JString(st),
            "temp_low" -> JString(Seq("over", "par", "under")(r.nextInt(3))),
            "temp_high" -> JString(Seq("over", "par", "under")(r.nextInt(3))))
        }))
      val problems = mutable.ArrayBuffer.empty[String]
      val bytes0 = if (traced) Harness.bytesUnder(root) else 0L
      val start = System.nanoTime()
      try {
        val r0 = System.nanoTime()
        val ev = post("/oracle/events", event)
        t.foreach(_.spans.add(Span(k, "api.event_post", "op", r0, System.nanoTime())))
        if (ev.statusCode() != 200) problems += s"event POST ${ev.statusCode()}: ${ev.body().take(200)}"
        val e0 = System.nanoTime()
        val rsp = post(s"/oracle/events/$eventId/entry", entry)
        t.foreach(_.spans.add(Span(k, "api.entry_post", "op", e0, System.nanoTime())))
        if (rsp.statusCode() != 200) problems += s"entry POST ${rsp.statusCode()}: ${rsp.body().take(200)}"
        val s0 = served.get()
        val tk0 = System.nanoTime()
        val reports = tick(1)
        t.foreach(_.spans.add(Span(k, "ingest.tick", "op", tk0, System.nanoTime())))
        val end = System.nanoTime()
        out.op((end - start) / 1e6, traced)
        t.foreach(_.spans.add(Span(k, "op", "", start, end)))
        t.foreach(_.add("ingest.fetch_requests", served.get() - s0))
        reports match {
          case Seq(rep) =>
            signed += rep.etlEventsSigned
            t.foreach(_.add("ingest.rows", rep.forecastRows + rep.observationRows))
            val want = (Stations, Chunks, 0, SlotsPerStation.toLong * Stations, Stations.toLong)
            val got = (rep.stations, rep.forecastChunksOk, rep.forecastChunksFailed,
              rep.forecastRows + (if (Wrong == "ingest.report") 1 else 0), rep.observationRows)
            if (got != want) problems += s"$WrongAnswer tick report $got, generator served $want"
            if (served.get() - s0 != 2 + Chunks) problems += s"tick made ${served.get() - s0} upstream requests, want ${2 + Chunks}"
          case other => problems += s"tick left ${other.size} reports (a failed cycle is logged and swallowed)"
        }
      } catch { case e: Exception =>
        out.op((System.nanoTime() - start) / 1e6, traced)
        problems += s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      created += eventId -> signing
      ticksPerDay(today) += 1
      if (traced) {
        trace.get.add("store.bytes_written", Harness.bytesUnder(root) - bytes0)
        layers(now, base, store, events, key, trace.get)
      }
      problems ++= checkSigned(events, now, created.toSeq).map(p => s"$WrongAnswer $p")
      if (midnight) problems ++= checkClosedDays(today, ticksPerDay).map(p => s"$WrongAnswer $p")
      if (problems.nonEmpty) out.fail(s"hour ${now.toInstant}: ${problems.mkString("; ")}")
      k += 1
    }

    try {
      Harness.log("warming")
      val warmS = Harness.warm(1)(op(traced = false))
      Harness.log(s"warm ops ${warmS.map(x => f"$x%.2f").mkString(" ")}")
      out.opMs.clear(); out.failures.clear(); out.attempted = 0; signed = 0
      out.extra += "warmup_s" -> JArray(warmS.toList.map(JDouble(_)))
      Harness.measure(a, out, trace) { traced =>
        (0 until 3).foreach { _ =>
          if (traced) trace.get.current = k
          op(traced)
        }
        if (traced) trace.get.current = -1L
      }
      out.extra += "hours" -> JInt(k)
      trace.foreach { t =>
        Harness.commonLayers(out, t, out.opMs.toSeq)
        val n = math.max(1, t.n("op")).toDouble
        out.layers ++= Seq(
          "api.event_post_ms" -> t.mean("api.event_post"),
          "api.entry_post_ms" -> t.mean("api.entry_post"),
          "ingest.fetch_ms" -> t.mean("ingest.fetch"),
          "ingest.fetch_requests_per_op" -> t.count("ingest.fetch_requests") / n,
          "ingest.decode_ms" -> t.mean("ingest.decode"),
          "ingest.flatten_ms" -> t.mean("ingest.flatten"),
          "ingest.rows_per_op" -> t.count("ingest.rows") / n,
          "store.write_ms" -> t.mean("store.write"),
          "store.maintain_ms" -> t.mean("store.maintain"),
          "store.bytes_written_per_op" -> t.count("store.bytes_written") / n,
          "oracle.etl_ms" -> t.mean("oracle.etl"),
          "oracle.entries_scored_per_op" -> t.count("oracle.entries_scored") / n,
          "oracle.events_signed" -> signed.toDouble)
      }
      out.layers += "store.files" -> Harness.dataFiles(root.resolve("weather")).size
      out.layers += "oracle.files" -> Harness.dataFiles(root.resolve("events")).size
    } finally { server.stop(); upstream.stop(0); upstreamPool.shutdown() }
  }

  /** The tick's layers, called one at a time on the tick's own inputs
    * (after the op, outside its time): fetch, decode, flatten, a snapshot
    * write into a side store, and the oracle ETL pass. */
  private def layers(now: Timestamp, base: String, store: WeatherStore,
      events: EventStore, key: Array[Byte], t: Trace): Unit = {
    import spark.implicits._
    val fetcher = new HttpFetcher(bucket = new TokenBucket(1000000, 1.0))
    val forecastUrl = graft.Main.forecastUrl(s"$base/forecast", () => now) _
    val (stXml, docs, metXml) = t.span("ingest.fetch") {
      val st = fetcher.fetchXmlGzip(s"$base/stations.xml.gz")
      val coords = XmlSources.parseStations(st).map(s => StationCoord(s.station_id, s.latitude, s.longitude))
      val urls = Fetch.chunkCoordinates(coords, 50).map(forecastUrl)
      (st, Fetch.fetchAll(fetcher, urls, 4)._1, fetcher.fetchXmlGzip(s"$base/metars.xml.gz"))
    }
    val parsed = t.span("ingest.decode") {
      docs.foreach { case (_, xml) => Dwml.parse(xml, now) }
      XmlSources.parseMetars(metXml)
      XmlSources.parseStations(stXml)
    }
    val flat = t.span("ingest.flatten") {
      val idx = spark.createDataset(parsed).toDF()
      val f = DwmlFlatten.matchStations(DwmlFlatten.flattenAll(spark,
        spark.createDataset(docs), now, stationIndex = Some(idx)).drop("doc_id"), idx)
      f.count(); f
    }
    val side = new WeatherStore(spark, a.work.resolve("ingest-side").toString)
    t.span("store.write")(side.write(flat, Kinds.Forecasts, now))
    val etl = t.span("oracle.etl")(Oracle.runEtl(spark, store, events, key, now))
    t.add("oracle.entries_scored", etl.entriesScored)
  }

  /** Exactly the events whose signing date has passed are signed. */
  private def checkSigned(events: EventStore, now: Timestamp,
      created: Seq[(String, Timestamp)]): Seq[String] = {
    val stored = events.events.toDF().select(col("id"), col("attestation_signature").isNotNull)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val attested = if (Wrong != "ingest.signed") stored
      else stored.updated(created.head._1, !stored(created.head._1))
    created.collect {
      case (id, _) if !attested.contains(id) => s"event $id missing"
      case (id, signing) if attested(id) != signing.before(now) =>
        s"event $id signed=${attested(id)} but signing date ${signing.toInstant} vs clock ${now.toInstant}"
    }
  }

  /** Every closed day keeps its rows and is down to one file per kind. */
  private def checkClosedDays(today: java.time.LocalDate,
      ticks: collection.Map[java.time.LocalDate, Int]): Seq[String] =
    ticks.keys.filter(_.isBefore(today)).toSeq.flatMap { d =>
      Seq(Kinds.Forecasts -> SlotsPerStation.toLong * Stations, Kinds.Observations -> Stations.toLong)
        .flatMap { case (kind, perTick) =>
          val dir = root.resolve(s"weather/kind=$kind/date=$d")
          val files = Harness.dataFiles(dir)
          val rows = spark.read.parquet(dir.toString).count() + (if (Wrong == "ingest.closed_day") 1 else 0)
          val want = perTick * ticks(d)
          (if (files.size != 1) Seq(s"$kind $d has ${files.size} files after maintenance, want 1") else Nil) ++
            (if (rows != want) Seq(s"$kind $d has $rows rows after maintenance, want $want") else Nil)
        }
    }
}
