package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.core.{MqttEntry, SensorMeta}
import graft.sources.broker.Broker
import graft.streaming.{ProducerSim, Serving}

/** Thin HTTP serving shim — the engine-scope remainder of the
  * reference's endpoint layer (SURVEY §2.11: everything else of
  * analyzer/Endpoint.scala and lib/HttpClient.scala is distribution
  * substrate that Spark subsumes). Routes mirror the reference:
  *
  *  - `GET /`        → on-demand full analysis (Endpoint.scala:54-66)
  *  - `GET /stress`  → cached snapshot, no recompute (Analyzer.scala:117-121)
  *  - `GET /history` → recent analysis rows (dashboard history view)
  *  - `POST /mqtt`   → publish a reading to the broker topic
  *                     (`sensor=<s>&value=<v>&anomaly=<0|1>` query form)
  *  - `POST /update` → flip a sensor's anomaly episode state on the
  *                     producer (`sensor=<s>&anomaly=<0|1>`, the
  *                     reference's control route, Producer.scala:85-92)
  *
  * Analysis/history come in as functions so the shim stays a pure
  * transport layer: the Spark pipelines behind them are tested on their
  * own; swap in anything. The executor is a SMALL BOUNDED pool of 8
  * threads (the reference endpoint is an actor system — concurrent by
  * construction):
  * round-7's ServeSoak showed a single-threaded dispatcher serializing
  * sub-millisecond `/stress` snapshot reads behind multi-second `/`
  * full recomputes (stress p99 13.3 s vs its own 0.9 ms p50), which
  * inverts the whole point of stress mode — the cached route must stay
  * fast precisely when the recompute route is busy. */
final class HttpShim(
    fullAnalyze: () => Seq[SensorMeta],
    history: Int => Seq[SensorMeta],
    port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] = {
    def dec(s: String) = java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); dec(k) -> dec(v) }
      .toMap
  }

  server.createContext("/", (ex: HttpExchange) =>
    try {
      ex.getRequestURI.getPath match {
        case "/" => respond(ex, 200, Serving.allMetaJson(fullAnalyze()))
        case "/stress" => respond(ex, 200, Serving.serveSnapshot())
        case "/history" =>
          val n = queryParams(ex).get("n").map(_.toInt).getOrElse(10)
          respond(ex, 200, Serving.allMetaJson(history(n)))
        case "/mqtt" if ex.getRequestMethod == "POST" =>
          val p = queryParams(ex)
          (p.get("sensor"), p.get("value")) match {
            case (Some(s), Some(v)) =>
              Broker.publish(MqttEntry(s, v.toDouble, p.get("anomaly").map(_.toInt).getOrElse(0)))
              respond(ex, 200, s"""{"published":1,"topic_size":${Broker.size}}""")
            case _ => respond(ex, 400, """{"error":"sensor and value required"}""")
          }
        case "/update" if ex.getRequestMethod == "POST" =>
          // the reference producer's state flip (mqtt/Producer.scala:85-92).
          // Divergence, on purpose: the reference REPLACES the whole
          // sensor-state map from the submitted form fields; this route
          // sets exactly one sensor and leaves the rest untouched (the
          // engine has no form-encoded full-map surface). Both params
          // are required — an omitted `anomaly` is a 400, never an
          // implicit flip-ON (round-2 advisory: a stray
          // `POST /update?sensor=s1` must not start an episode).
          val p = queryParams(ex)
          (p.get("sensor"), p.get("anomaly")) match {
            case (Some(s), Some(a)) =>
              val on = a.toInt != 0
              ProducerSim.setAnomalous(s, on)
              respond(ex, 200, s"""{"sensor":"${Serving.esc(s)}","anomaly":${if (on) 1 else 0}}""")
            case _ => respond(ex, 400, """{"error":"sensor and anomaly required"}""")
          }
        case _ => respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      // malformed numbers etc. must yield a 400, not a dropped connection;
      // the message is escaped — exception text may contain quotes
      case e: IllegalArgumentException =>
        respond(ex, 400, s"""{"error":"${Serving.esc(e.getMessage)}"}""")
    })

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)

  def start(): Int = {
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = { server.stop(0); pool.shutdown() }
}
