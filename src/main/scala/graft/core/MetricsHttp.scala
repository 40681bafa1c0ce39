package graft.core

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Minimal Prometheus text-format `/metrics` endpoint over [[Metrics]] —
  * the Spark re-expression of the reference's scrape surface
  * (REDSHIFTSINK.md:115–181; pkg/redshift/redshift_exporter.go:25–34
  * builds its FQ names the same way: `namespace_subsystem_name`).
  *
  * The reference runs full Prometheus client histograms; the engine's
  * registry keeps the histogram essentials (sum / count / max) per
  * (table, metric), so the endpoint exports each stream as the
  * `_sum` / `_count` series Prometheus histogram consumers aggregate
  * anyway (REDSHIFTSINK.md's alert examples only ever use `_sum` and
  * `_count`), plus a `_max` gauge the reference lacks. Labels: the
  * engine's unit of routing is the table (SURVEY §2.7), standing in for
  * the reference's {consumergroup, topic, sinkGroup} triple.
  *
  * Zero dependencies: `com.sun.net.httpserver` ships with the JDK. The
  * server runs on a single daemon thread — a scrape every 15 s costs
  * nothing measurable next to a Spark driver's work; no executor is ever
  * involved (the registry is driver-side by construction).
  */
object MetricsHttp {

  final val Prefix = "rsk" // reference namespace (redshift sink)

  final class Server private[MetricsHttp] (http: HttpServer) {
    def port: Int = http.getAddress.getPort
    def url: String = s"http://127.0.0.1:$port/metrics"
    def stop(): Unit = http.stop(0)
  }

  /** Start serving `/metrics` on `port` (0 = ephemeral, returned via
    * [[Server.port]]). */
  def start(port: Int = 0): Server = {
    val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    http.createContext("/metrics", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val body = render(Metrics.snapshot()).getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add(
          "Content-Type", "text/plain; version=0.0.4; charset=utf-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        val os = ex.getResponseBody
        try os.write(body) finally os.close()
      }
    })
    http.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-metrics-http")
        t.setDaemon(true)
        t
      }))
    http.start()
    new Server(http)
  }

  private def esc(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** Prometheus text format of a registry snapshot (exposed for specs —
    * the HTTP layer adds nothing but transport). Bucketed streams
    * ([[Metrics.bucketBoundsFor]]: 0.1–900 s bounds, the reference's
    * 10–900 s among them, for `*_seconds`, Prometheus DefBuckets for the
    * batcher/loader byte/message observations) render as TYPE histogram with full
    * `_bucket{le=...}` series (`+Inf` included), so reference
    * dashboards' `histogram_quantile` panels port unchanged; other
    * streams stay `summary` (`_sum`/`_count`).
    *
    * The max of each stream — an extension the reference lacks — is its
    * OWN gauge family `<name>_max`, rendered after the main family:
    * `_max` is not a legal sample suffix inside a histogram/summary
    * family group, and emitting it mid-group broke strict OpenMetrics
    * parsers (and the text-format grouping rule) before r11. */
  def render(snap: Map[(String, String), Metrics.Stat]): String = {
    val sb = new StringBuilder
    val byMetric = snap.groupBy(_._1._2).toSeq.sortBy(_._1)
    for ((metric, series) <- byMetric) {
      val fq = s"${Prefix}_$metric"
      val bounds = Metrics.bucketBoundsFor(metric)
      val isHist = bounds.nonEmpty &&
        series.values.exists(_.buckets.nonEmpty)
      val sorted = series.toSeq.sortBy(_._1._1)
      sb.append(s"# TYPE ${fq} ${if (isHist) "histogram" else "summary"}\n")
      for (((table, _), st) <- sorted) {
        val lbl = s"""{table="${esc(table)}"}"""
        if (isHist) {
          val bs = bounds.get
          bs.lazyZip(st.buckets.padTo(bs.length, 0L))
            .foreach { (le, n) =>
              sb.append(s"""${fq}_bucket{table="${esc(table)}",""" +
                s"""le="${fmt(le)}"} $n\n""")
            }
          sb.append(s"""${fq}_bucket{table="${esc(table)}",le="+Inf"} """ +
            s"${st.count}\n")
        }
        sb.append(s"${fq}_sum$lbl ${fmt(st.sum)}\n")
        sb.append(s"${fq}_count$lbl ${st.count}\n")
      }
      sb.append(s"# TYPE ${fq}_max gauge\n")
      for (((table, _), st) <- sorted)
        sb.append(s"""${fq}_max{table="${esc(table)}"} ${fmt(st.max)}\n""")
    }
    sb.toString
  }

  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
